package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quality-routed fallback as an EXECUTED two-pass stage — the reference's
  * sequential engine fallback (multi_engine.py:161-220) and local→cloud
  * hybrid routing (OCR_Enhanced_Hybrid_v1.py:999-1022): run the cheap
  * engine over everything; rows whose quality clears the threshold keep
  * that result; only the low-quality remainder is reprocessed with the
  * expensive engine, and per row the reference's winner rule applies
  * (multi_engine.py:183-191): the later attempt wins if it clears the
  * threshold OR beats the best-so-far, else the earlier result stands.
  *
  * Scale shape: the expensive second engine runs ONLY on the routed slice
  * (the whole point at 100 TB: the expensive engine sees the ~tail, not
  * the corpus). [[twoPass]] splits the first pass into complementary
  * kept/fallback FILTERS and unions them; the routing predicate (computed
  * quality) is not pushable, so the source is scanned twice.
  *
  * Output schema adds `result_text`, `quality`, `engine`, `route`.
  */
object Fallback {

  /** An engine = a column transform producing its result text from the
    * input text, plus a quality scorer over the produced text (the
    * reference's `_calculate_result_quality`).
    */
  final case class Engine(
      name: String,
      result: Column => Column,
      quality: Column => Column)

  /** DETERMINISM REQUIREMENT: the kept and fallback branches are two
    * independent scans that each re-evaluate `first` and the routing
    * predicate — with a non-deterministic engine/quality expression (or a
    * source mutating between scans) a row near the threshold can land in
    * BOTH branches or in neither, so engines must be deterministic and the
    * source stable.
    */
  def twoPass(
      df: DataFrame, textCol: String,
      first: Engine, second: Engine,
      qualityThreshold: Double = 0.7): DataFrame = {
    val pass1 = df
      .withColumn("__t1", first.result(col(textCol)))
      .withColumn("__q1", coalesce(first.quality(col("__t1")), lit(0.0)))

    // quality acceptable: keep the first engine's result, second engine
    // never runs for these rows (multi_engine.py:185-188 `break`)
    val kept = pass1
      .where(col("__q1") >= qualityThreshold)
      .withColumn("result_text", col("__t1"))
      .withColumn("quality", col("__q1"))
      .withColumn("engine", lit(first.name))
      .withColumn("route", lit("kept"))

    // below threshold: reprocess with the second engine, keep the winner
    val fallback = pass1
      .where(col("__q1") < qualityThreshold)
      .withColumn("__t2", second.result(col(textCol)))
      .withColumn("__q2", coalesce(second.quality(col("__t2")), lit(0.0)))
      .withColumn("__use2",
        col("__q2") >= qualityThreshold || col("__q2") > col("__q1"))
      .withColumn("result_text", when(col("__use2"), col("__t2")).otherwise(col("__t1")))
      .withColumn("quality", when(col("__use2"), col("__q2")).otherwise(col("__q1")))
      .withColumn("engine",
        when(col("__use2"), lit(second.name)).otherwise(lit(first.name)))
      .withColumn("route", lit("fallback"))
      .drop("__t2", "__q2", "__use2")

    kept.unionByName(fallback).drop("__t1", "__q1")
  }

  /** Parallel multi-engine best-of-N (multi_engine.py:222-280): the
    * reference runs ≤3 engines concurrently in a thread pool and argmaxes
    * quality over the results (`_select_best_result`, :308-326). The
    * columnar analog evaluates EVERY engine in one projection over one
    * scan — "parallel" is the executor's SIMD/pipeline parallelism, not
    * threads — and selects per row with a greatest-of-structs fold.
    *
    * Tie-break: EARLIEST engine in list order wins ties — the
    * deterministic form of the reference's stable sort over its results
    * dict (:325-326: `sort(reverse=True)` keeps insertion order among
    * equal scores and takes the first). Implemented as `greatest` over
    * (quality, -listIndex, …) structs: struct comparison is
    * lexicographic, so equal qualities fall through to the negated index
    * and the smaller index wins. One expression LINEAR in the number of
    * engines — the naive when-chain fold references its accumulator twice
    * per step, doubling the tree per engine.
    *
    * Output adds `result_text`, `quality`, `engine` (same contract as
    * [[twoPass]], minus `route`, which is a fallback concept).
    */
  def bestOfN(df: DataFrame, textCol: String, engines: Seq[Engine]): DataFrame = {
    require(engines.nonEmpty, "bestOfN needs at least one engine")
    val entries = engines.zipWithIndex.map { case (e, i) =>
      val t = e.result(col(textCol))
      struct(
        coalesce(e.quality(t), lit(0.0)).as("q"),
        lit(-i).as("neg_idx"),
        lit(e.name).as("engine"),
        t.as("text"))
    }
    val best = if (entries.sizeIs == 1) entries.head else greatest(entries: _*)
    // withColumn (not select(col("*"), ...)): REPLACES pre-existing
    // result_text/quality/engine columns like twoPass does — the
    // select form appended duplicates and made every downstream
    // col("quality") an AMBIGUOUS_REFERENCE when chained after them
    df.withColumn("__best", best)
      .withColumn("result_text", col("__best.text"))
      .withColumn("quality", col("__best.q"))
      .withColumn("engine", col("__best.engine"))
      .drop("__best")
  }

  /** The reference's content-quality component (multi_engine.py:44-50):
    * min(1, (words + chars/10) / 100) — a pure function of the produced
    * text, used as the default engine quality scorer.
    */
  def contentScore(t: Column): Column =
    least(lit(1.0),
      (TextAnalysis.tokenCount(t) + length(t) / lit(10.0)) / lit(100.0))

  def contentScoreSql(expr: String): String =
    s"least(1.0, (len(regexp_split_to_array(trim(lower($expr)), '\\s+')) + length($expr)/10.0)/100.0)"
}
