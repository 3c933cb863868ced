package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.Fs
import graft.pipeline.TranscriptGen.sm64

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  *   - [[cosineWithConst]]: brute-force scan — dot products via
  *     `zip_with` + `aggregate` column expressions (whole-stage codegen,
  *     no UDF); with an orderBy/limit it is one pass + a TakeOrdered (q16).
  *   - hyperplane-LSH bucketing (deterministic planes): the scale path —
  *     candidates restricted to the query's bucket (+ multiprobe flips).
  *
  * Sums fold left-to-right in element order in both Spark `aggregate` and
  * the DuckDB oracle formulation, so orderings agree across engines.
  */
object Similarity {

  /** left-fold dot product of an ArrayType(Float) column with a constant
    * query vector, computed in double.
    */
  def dotWithConst(vec: Column, q: Array[Float]): Column = {
    val qCol = array(q.toIndexedSeq.map(x => lit(x.toDouble)): _*)
    aggregate(
      zip_with(vec, qCol, (a, b) => a.cast("double") * b),
      lit(0.0), (acc, x) => acc + x)
  }

  def norm(vec: Column): Column =
    sqrt(aggregate(vec, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosineWithConst(vec: Column, q: Array[Float]): Column = {
    val qNorm = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    dotWithConst(vec, q) / (norm(vec) * lit(qNorm))
  }

  /** plain scala cosine (verification / UDF use) */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic pseudo-random hyperplanes (unit-free; sign test only). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(numPlanes) { p =>
      Array.tabulate(dim) { d =>
        // map splitmix64 to (-1, 1)
        val h = sm64(seed + p * 1000003L + d)
        (h.toDouble / Long.MaxValue.toDouble)
      }
    }

  def bucketOf(v: Array[Float], planes: Array[Array[Double]]): Int = {
    var b = 0
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      val plane = planes(p)
      val n = math.min(v.length, plane.length)
      var i = 0
      while (i < n) { dot += v(i) * plane(i); i += 1 }
      if (dot >= 0) b |= (1 << p)
      p += 1
    }
    b
  }

  // ---------- IVF (inverted-file) ANN ----------

  /** Deterministic IVF SEED centroids: pick `nList` vectors by smallest
    * xxhash64(id) — an id-hash sample, stable across runs and partition
    * layouts, computed by the native codegen hash (the ordering only needs
    * to be a fixed pseudo-random permutation of ids, so any deterministic
    * 64-bit hash serves; no UDF). Used as k-means initialization by
    * [[trainIvfCentroids]]; alone it is a sample, not a trained quantizer.
    */
  def ivfCentroids(
      df: DataFrame, idCol: String, vecCol: String, nList: Int): Array[(Int, Array[Float])] = {
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nList)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
  }

  /** TRAINED IVF coarse quantizer: deterministic id-hash seeding + `iters`
    * Lloyd iterations with cosine assignment. Each iteration is one narrow
    * pass — per-partition partial (sum, count) per list (≤ nList tuples per
    * task), merged on the driver (bounded: partitions × nList — the same
    * tiny-partials shape as the heavy-hitters sketch). Lists that capture
    * no points keep their previous centroid. At 100 TB you'd train on a
    * sample and broadcast the result — exactly this shape: a few broadcast
    * iterations, tiny collect, no shuffle of the data.
    */
  def trainIvfCentroids(
      df: DataFrame, idCol: String, vecCol: String, nList: Int,
      iters: Int = 3): Array[(Int, Array[Float])] = {
    val spark = df.sparkSession
    import spark.implicits._
    var cents = ivfCentroids(df, idCol, vecCol, nList)
    // Array[Float] encoder: primitive-array deserialization, no per-element
    // boxing through a Seq wrapper on the training passes
    val data = df.select(col(vecCol)).as[Array[Float]]
    var round = 0
    while (round < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val partials = data.mapPartitions { rows =>
        val cs = bc.value
        val acc = scala.collection.mutable.Map.empty[Int, (Array[Double], Long)]
        rows.foreach { v =>
          val a = v
          val l = nearestCentroid(a, cs)
          val (s, n) = acc.getOrElse(l, (new Array[Double](a.length), 0L))
          var i = 0
          val m = math.min(a.length, s.length)
          while (i < m) { s(i) += a(i); i += 1 }
          acc.update(l, (s, n + 1L))
        }
        acc.iterator.map { case (l, (s, n)) => (l, s, n) }
      }.collect()
      val merged: Map[Int, (Array[Double], Long)] =
        partials.groupBy(_._1).map { case (l, xs) =>
          val dim = xs.head._2.length
          val s = new Array[Double](dim)
          var n = 0L
          xs.foreach { case (_, ps, pn) =>
            var i = 0
            while (i < dim) { s(i) += ps(i); i += 1 }
            n += pn
          }
          l -> ((s, n))
        }
      cents = cents.map { case (l, old) =>
        merged.get(l) match {
          case Some((s, n)) if n > 0 => (l, s.map(x => (x / n).toFloat))
          case _ => (l, old)
        }
      }
      bc.unpersist()
      round += 1
    }
    cents
  }

  def nearestCentroid(v: Array[Float], cents: Array[(Int, Array[Float])]): Int = {
    var best = -1; var bestCos = -2.0
    var i = 0
    while (i < cents.length) {
      val c = cosine(v, cents(i)._2)
      if (c > bestCos || (c == bestCos && cents(i)._1 < best)) {
        bestCos = c; best = cents(i)._1
      }
      i += 1
    }
    best
  }

  /** Assign every vector to its `nAssign` nearest centroid lists — the IVF
    * index build. `nAssign > 1` is soft/multi-assignment (each vector is
    * REPLICATED into its top-a lists): storage ×a buys recall on weakly
    * clustered data, where single-assignment IVF splits a query's true
    * neighbors across many lists. At scale this is written
    * `partitionBy("ivf_list")` so a search scans only probed lists
    * (partition pruning); returned here as a DataFrame (id, ivf_list, v)
    * so callers choose the sink.
    */
  def ivfIndex(
      df: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Float])], nAssign: Int = 1): DataFrame =
    // assignment is the native codegen expression graft_ivf_assign (no row
    // UDF); the centroid table rides along as an expression reference
    // object — a task-serialized constant, nList × dim floats
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("ivf_list",
        explode(graft.functions.VectorFunctions.ivfAssign(col("v"), cents, nAssign)))

  /** IVF approximate top-k: probe the `nProbe` centroid lists nearest to
    * the query, brute-force cosine only within them (a multi-assigned
    * point appearing in several probed lists is deduplicated by id).
    * Candidate fraction ≈ nAssign·nProbe/nList; recall measured vs
    * the exact top-k in tests (recall@10 >= 0.9 gate at nList=16/nProbe=8).
    * Centroids are k-means-trained ([[trainIvfCentroids]]), not sampled.
    */
  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      nList: Int = 16, nProbe: Int = 4, trainIters: Int = 2,
      nAssign: Int = 4): DataFrame = {
    val cents = trainIvfCentroids(df, idCol, vecCol, nList, trainIters)
    val probed = cents.map { case (i, c) => (i, cosine(query, c)) }
      .sortBy { case (i, c) => (-c, i) }.take(nProbe).map(_._1).toSeq
    ivfIndex(df, idCol, vecCol, cents, nAssign)
      .where(col("ivf_list").isin(probed: _*))
      .dropDuplicates("id")
      .select(col("id"),
        graft.functions.VectorFunctions.cosineConst(col("v"), query).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Multi-table hyperplane LSH approximate top-k: L independent tables of
    * `planesPerTable` hyperplanes each; a row is a candidate if it shares
    * the query's bucket in ANY table (standard OR-of-ANDs construction).
    * Recall/candidate-fraction trades off via (L, planesPerTable): for
    * near-dup targets (cos ≥ 0.9) a few planes retrieve with tiny candidate
    * sets; for mid-similarity top-k use more tables. Measured vs
    * the exact top-k in tests.
    *
    * This form re-hashes every vector per query (one full scan) — the
    * correctness baseline for ad-hoc, index-less search. For repeated
    * queries at scale use [[buildLshIndex]] + [[lshTopKIndexed]]: the
    * signatures are computed ONCE and persisted partitioned by
    * (table, bucket), so each query reads only its ≤ `tables` buckets
    * (partition pruning) instead of scanning the corpus.
    */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int,
      tables: Int = 8, planesPerTable: Int = 4, seed: Long = 42L): DataFrame = {
    val allPlanes: Array[Array[Array[Double]]] =
      Array.tabulate(tables)(t =>
        randomPlanes(planesPerTable, query.length, seed + t * 7919L))
    val qBuckets: Array[Int] = allPlanes.map(bucketOf(query, _))
    // candidate test = OR over tables of (graft_lsh_bucket(v) == query's
    // bucket) — native codegen expressions; Or short-circuits per row in
    // the generated code exactly as the former UDF's early-exit loop did
    val cand = allPlanes.indices
      .map(t => graft.functions.VectorFunctions
        .lshBucket(col("v"), allPlanes(t)) === lit(qBuckets(t)))
      .reduce(_ || _)
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .where(cand)
      .select(col("id"),
        graft.functions.VectorFunctions.cosineConst(col("v"), query).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Cluster rows on the partition columns before a `partitionBy` write
    * (guide §6 file layout / §2.5 deterministic keys): without it every
    * upstream task holds a writer per partition VALUE it sees, emitting
    * tasks × values small files — and the dynamic-partition sort that
    * avoids concurrent writers serializes each task through ALL its
    * values. Hash-clustering with an EXPLICIT count (REPARTITION_BY_NUM,
    * AQE-coalesce-immune, same reasoning as ExtractionJob's salted
    * shuffle) gives each reducer a few whole partition values, so the
    * index lands as ~one well-sized file per partition value and the
    * file writing parallelizes across the cluster instead of through
    * one scan task. The shuffle moves the index exactly once — strictly
    * less I/O than the many-small-file commit it replaces.
    */
  private def clusterForWrite(index: DataFrame, cols: Seq[String]): DataFrame = {
    val par = index.sparkSession.sparkContext.defaultParallelism
    index.repartition(math.max(par, 1), cols.map(col): _*)
  }

  /** Persist an [[ivfIndex]] partitioned by list id — the physical layout
    * where a probe is partition pruning (reads nProbe of nList
    * directories). Centroids are a tiny driver-side array (nList × dim);
    * persist them next to the index (e.g. as JSON) and pass to
    * [[ivfTopKIndexed]] at query time.
    */
  def writeIvfIndex(index: DataFrame, path: String): Unit =
    clusterForWrite(index, Seq("ivf_list"))
      .write.options(Fs.writeOptions).mode("overwrite").partitionBy("ivf_list").parquet(path)

  /** Incrementally extend a materialized IVF index with NEW vectors using
    * the index's ORIGINAL trained centroids (retraining would silently
    * re-shape every list — the classic IVF drift trade documented here:
    * assignments stay consistent with the stored lists; retrain + rebuild
    * explicitly when the corpus distribution moves). Same append/idempotency
    * contract as [[appendToLshIndex]]. Returns rows appended.
    */
  def appendToIvfIndex(
      newDf: DataFrame, idCol: String, vecCol: String, path: String,
      cents: Array[(Int, Array[Float])], nAssign: Int = 4,
      skipExisting: Boolean = true): Long = {
    val spark = newDf.sparkSession
    val base = newDf.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val fresh =
      if (skipExisting)
        base.join(spark.read.parquet(path).select("id").distinct(), Seq("id"), "left_anti")
      else base
    // no pre-count: the anti-join executes exactly once, inside the
    // write job; an all-duplicate batch writes no files and observes 0
    val add = ivfIndex(fresh, "id", "v", cents, nAssign)
    val obs = org.apache.spark.sql.Observation()
    // observe ABOVE the clustering shuffle (row count is repartition-
    // invariant; an observe below it is not reliably collected)
    clusterForWrite(add, Seq("ivf_list"))
      .observe(obs, coalesce(count(lit(1)), lit(0L)).as("n"))
      .write.options(Fs.writeOptions).mode("append").partitionBy("ivf_list").parquet(path)
    obs.get.apply("n") match {
      case n: Long => n; case n: Number => n.longValue(); case _ => 0L
    }
  }

  /** IVF top-k over a MATERIALIZED index (from [[ivfIndex]], typically
    * read back from [[writeIvfIndex]]'s layout): probe membership is an
    * `isin` over the PARTITION column, so only the probed list
    * directories are scanned. Identical semantics to [[ivfTopK]] given
    * the same centroids/nAssign (same candidates, scoring, tie-break) —
    * minus the per-query training/assignment cost, which is the point.
    */
  def ivfTopKIndexed(
      index: DataFrame, cents: Array[(Int, Array[Float])],
      query: Array[Float], k: Int, nProbe: Int = 4): DataFrame = {
    val probed = cents.map { case (i, c) => (i, cosine(query, c)) }
      .sortBy { case (i, c) => (-c, i) }.take(nProbe).map(_._1).toSeq
    index
      .where(col("ivf_list").isin(probed: _*))
      .dropDuplicates("id")
      .select(col("id"),
        graft.functions.VectorFunctions.cosineConst(col("v"), query).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  // ---------- materialized LSH index (the 100-TB query path) ----------

  /** Build the MATERIALIZED multi-table LSH index: one membership row per
    * (vector, table) — columns (id, table, bucket, v). One narrow
    * whole-stage-codegen pass (`graft_lsh_bucket` projection + explode —
    * no mapPartitions, no shuffle; the planes ride as expression
    * reference objects); storage is ×`tables`, the standard multi-table
    * LSH trade. Mirrors the reference's persisted
    * embedding index (semantic_search.py:137-170: embeddings computed once
    * into search_manager tables, not per query).
    *
    * Write it with [[writeLshIndex]] (partitioned by table/bucket); a
    * query then reads ≤ `tables` bucket directories instead of the corpus.
    * Plane construction is identical to [[lshTopK]] (same seed schedule),
    * so indexed and scan results match exactly.
    *
    * `dim` (vector dimension) is probed from the data when negative;
    * pass it explicitly when `df`'s lineage is expensive or possibly
    * empty (the append path does).
    */
  def buildLshIndex(
      df: DataFrame, idCol: String, vecCol: String,
      tables: Int = 8, planesPerTable: Int = 4, seed: Long = 42L,
      dim: Int = -1): DataFrame = {
    // head(1) not first(): an empty corpus builds an empty index (dim 1
    // placeholder planes — nothing is hashed) instead of crashing; probe
    // only NON-NULL vectors so a null first row cannot NPE the getInt
    val d =
      if (dim > 0) dim
      else df.where(col(vecCol).isNotNull).select(size(col(vecCol)))
        .head(1).headOption.map(_.getInt(0)).getOrElse(1)
    val allPlanes: Array[Array[Array[Double]]] =
      Array.tabulate(tables)(t => randomPlanes(planesPerTable, d, seed + t * 7919L))
    // one membership struct per table, all buckets computed by the native
    // codegen expression in a single projection, then exploded — no
    // mapPartitions, no broadcast closure, stays in whole-stage codegen
    val memberships = array(allPlanes.indices.map(t =>
      struct(
        lit(t).as("table"),
        graft.functions.VectorFunctions
          .lshBucket(col("v"), allPlanes(t)).as("bucket"))): _*)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"), explode(memberships).as("tb"))
      .select(col("id"), col("tb.table").as("table"),
        col("tb.bucket").as("bucket"), col("v"))
  }

  /** Persist the index partitioned by (table, bucket): the physical layout
    * that turns a query's bucket list into partition pruning. Clustered on
    * the partition columns first — see [[clusterForWrite]].
    */
  def writeLshIndex(index: DataFrame, path: String): Unit =
    clusterForWrite(index, Seq("table", "bucket"))
      .write.options(Fs.writeOptions).mode("overwrite").partitionBy("table", "bucket").parquet(path)

  /** Incrementally extend a materialized LSH index with NEW vectors — the
    * engine analog of the reference's incremental cache upsert
    * (/root/reference/src/mcp/search_manager.py:151-268: new documents are
    * indexed on arrival, not by rebuilding the store). Signatures for the
    * new ids are computed with the SAME plane schedule and APPENDED as new
    * parquet files under their (table, bucket) partitions — existing files
    * are never rewritten, so the append cost is O(new vectors), not
    * O(index). With `skipExisting` (default) ids already present are
    * anti-joined out, making a replayed append idempotent (the id column
    * is a narrow columnar read of the index; at 100 TB you'd keep a
    * bloom-filter sidecar instead — same seam). The idempotency contract
    * assumes JOB-atomic commit visibility (Spark's default committer): a
    * committer that exposes task output mid-job (e.g. v2 on some object
    * stores) could leave a crashed append's id half-indexed, and the
    * anti-join would then skip it on replay — rebuild the index to
    * repair. Returns rows appended.
    */
  def appendToLshIndex(
      newDf: DataFrame, idCol: String, vecCol: String, path: String,
      tables: Int = 8, planesPerTable: Int = 4, seed: Long = 42L,
      skipExisting: Boolean = true): Long = {
    val spark = newDf.sparkSession
    val base = newDf.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // probe the dimension from the NEW batch (cheap narrow take(1) —
    // never from the anti-joined lineage, which must execute exactly
    // once, inside the write job)
    val probe = base.select(size(col("v"))).take(1)
    if (probe.isEmpty) return 0L
    val fresh =
      if (skipExisting)
        base.join(spark.read.parquet(path).select("id").distinct(), Seq("id"), "left_anti")
      else base
    val add = buildLshIndex(fresh, "id", "v", tables, planesPerTable, seed,
      dim = probe.head.getInt(0))
    val obs = org.apache.spark.sql.Observation()
    // observe ABOVE the clustering shuffle (row count is repartition-
    // invariant; an observe below it is not reliably collected)
    clusterForWrite(add, Seq("table", "bucket"))
      .observe(obs, coalesce(count(lit(1)), lit(0L)).as("n"))
      .write.options(Fs.writeOptions).mode("append").partitionBy("table", "bucket").parquet(path)
    obs.get.apply("n") match {
      case n: Long => n; case n: Number => n.longValue(); case _ => 0L
    }
  }

  /** Approximate top-k over a materialized index (from [[buildLshIndex]],
    * typically read back from [[writeLshIndex]]'s layout): the candidate
    * test is a constant predicate over the PARTITION columns — an
    * OR-of-(table=t AND bucket=b_t) with one conjunct per table — so a
    * parquet-backed index scans only the query's ≤ `tables` bucket
    * directories (partition pruning; plan-guarded in tests), replacing
    * [[lshTopK]]'s per-query full-scan rehash. Results are IDENTICAL to
    * `lshTopK` with the same (tables, planesPerTable, seed): same
    * candidate membership, same scoring expression, same tie-break.
    */
  def lshTopKIndexed(
      index: DataFrame, query: Array[Float], k: Int,
      tables: Int = 8, planesPerTable: Int = 4, seed: Long = 42L): DataFrame = {
    val qBuckets = Array.tabulate(tables) { t =>
      bucketOf(query, randomPlanes(planesPerTable, query.length, seed + t * 7919L))
    }
    val pred = qBuckets.zipWithIndex
      .map { case (b, t) => col("table") === t && col("bucket") === b }
      .reduce(_ || _)
    index
      .where(pred)
      .dropDuplicates("id") // a vector can share the query's bucket in several tables
      .select(col("id"),
        graft.functions.VectorFunctions.cosineConst(col("v"), query).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }
}
