package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: deterministic
  * splits, benchmark decontamination, and distribution profiling.
  */
object Curation {

  /** Deterministic hash split: bucket = first 8 hex chars of md5(key) mod
    * `buckets`. Reproducible across engines, runs, partitionings — the
    * train/val/test assignment survives re-shuffles and appends (each row's
    * split depends only on its key). md5 (not xxhash64) so the DuckDB
    * oracle computes the identical assignment.
    */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong)).cast("int")

  def hashBucketSql(keyExpr: String, buckets: Int): String =
    s"CAST(CAST('0x' || substring(md5(CAST($keyExpr AS VARCHAR)), 1, 8) AS BIGINT) % $buckets AS INT)"

  /** Split assignment: e.g. splits = Seq(("train", 98), ("val", 1),
    * ("test", 1)) assigns buckets 0-97 → train, 98 → val, 99 → test.
    */
  def splitAssign(key: Column, splits: Seq[(String, Int)]): Column = {
    val total = splits.map(_._2).sum
    val b = hashBucket(key, total)
    val (ladder, _) = splits.foldLeft((lit(null).cast("string"), 0)) {
      case ((acc, off), (name, width)) =>
        (when(b >= off && b < off + width, lit(name)).otherwise(acc), off + width)
    }
    ladder
  }

  /** Benchmark-contamination detector: test documents sharing ≥
    * `minCommon` word `n`-grams with any train document. Inverted-index
    * join on shingle hashes (df-capped against stop-shingle blowup) — the
    * standard decontamination stage of a training-data pipeline,
    * cross-table variant of [[Dedup.ngramJaccardNearDups]].
    *
    * Scale shape: in real decontamination the benchmark side is tiny
    * relative to the corpus, so the train postings are PRUNED with a
    * semi-join on the distinct TEST shingle keys BEFORE the per-shingle
    * aggregation — the corpus-side shuffle carries only shingles that can
    * possibly contaminate, instead of the full corpus shingle space. The
    * prune is a broadcast semi-join inside the corpus scan: zero extra
    * shuffle of train data. Results are identical to the unpruned plan:
    * for every surviving shingle the train-side document set (and
    * therefore the df cap) is computed over the FULL train side.
    *
    * Returns (test_id, train_id, common) pairs.
    */
  def contamination(
      train: DataFrame, trainId: String, trainText: String,
      test: DataFrame, testId: String, testText: String,
      n: Int = 8, minCommon: Int = 2, maxDocFreq: Int = 1024): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    Dedup.requireIntegralId(train, trainId)
    Dedup.requireIntegralId(test, testId)
    def post(df: DataFrame, id: String, text: String, side: String) = df
      .select(col(id).cast("long").as("id"), col(text).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (i, t) =>
        Dedup.shinglesArray(Option(t).getOrElse(""), n).iterator.map(s => (s, i))
      })
      .toDF("s", s"${side}_id")

    // test postings are consumed twice (key prune + final join) but the
    // benchmark side is tiny BY DESIGN (that's why the prune direction
    // works) — recomputing the narrow shingle pass is cheaper than pinning
    // a cache no caller can release in a long-lived session
    val testPost = post(test, testId, testText, "test")
    val testKeys = broadcast(testPost.select(col("s")).distinct())

    val trainPost = post(train, trainId, trainText, "train")
      .join(testKeys, Seq("s"), "left_semi")
      .groupBy(col("s")).agg(collect_set(col("train_id")).as("train_ids"))
      .where(size(col("train_ids")) <= maxDocFreq)

    testPost
      .join(trainPost, "s")
      .select(col("test_id"), explode(col("train_ids")).as("train_id"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
  }

  /** Deterministic STRATIFIED sampling: per-stratum permille rates (e.g.
    * downsample the dominant language, keep the long tail whole) — the
    * curation move for rebalancing a training mix. Strata not listed keep
    * `defaultPermille`.
    *
    * A row is kept iff its key hashes into the first `rate` of 1000 md5
    * buckets. Unlike Bernoulli `df.sample`, the decision is a pure
    * function of the KEY — reproducible across runs, engines,
    * partitionings and appends (a row's fate never changes when the
    * corpus grows), and exactly mirrorable in the DuckDB oracle. Samples
    * nest: a 10‰ sample is a strict subset of a 100‰ sample.
    */
  def stratifiedSample(
      df: DataFrame, strataCol: Column, keyCol: Column,
      rates: Map[String, Int], defaultPermille: Int = 1000): DataFrame = {
    // an out-of-range rate (e.g. 1500 intending oversampling) would
    // otherwise silently clamp to keep-everything and ship a
    // mis-specified mix unnoticed
    (rates.values.toSeq :+ defaultPermille).foreach(p =>
      require(p >= 0 && p <= 1000, s"permille rates must be in [0, 1000], got $p"))
    val rate = rates.foldLeft(lit(defaultPermille)) { case (acc, (stratum, p)) =>
      when(strataCol === stratum, lit(p)).otherwise(acc)
    }
    df.where(hashBucket(keyCol, 1000) < rate)
  }

  /** Exact length-distribution profile per group — `percentile` is exact
    * linear interpolation in both Spark and DuckDB (oracle-parity).
    */
  def lengthProfile(df: DataFrame, groupCol: String, lenCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        expr(s"percentile($lenCol, 0.25)").as("p25"),
        expr(s"percentile($lenCol, 0.5)").as("p50"),
        expr(s"percentile($lenCol, 0.75)").as("p75"),
        min(col(lenCol)).as("min_len"),
        max(col(lenCol)).as("max_len"))
      .orderBy(col(groupCol))
}
