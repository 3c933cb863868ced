package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.pipeline.{ExtractionJob, TranscriptGen}

/** Driver contract: named queries + DuckDB oracle SQL (SURVEY.md §2
  * operator inventory). Numeric outputs avoid order-sensitive float
  * accumulation (counts, integer-valued sums, decimal-exact sums cast to
  * double) so Spark and DuckDB results hash-match exactly.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** exact decimal sum rendered as double — engine-agnostic */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** `all` ∪ two mutated generations of `seeds` (transitive near-dup
    * chains: tail-append at +1000000, prefix+longer-tail at +2000000).
    * The mutation literals are load-bearing: the q35 oracle SQL mirrors
    * them verbatim — change them together or the oracle silently
    * compares a different universe. Shared by x18 and q35.
    */
  private def withMutantGenerations(all: DataFrame, seeds: DataFrame): DataFrame = {
    val gen1 = seeds
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" extra tail token")).as("text"))
    val gen2 = seeds
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(lit("prefix bit "), col("text"), lit(" extra tail token more")).as("text"))
    all.union(gen1).union(gen2)
  }

  /** Flagship: the extraction pipeline end-to-end on a synthesized
    * transcript table (north rule). Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val turns = TranscriptGen.dataset(spark, nConvs = 50)
    ExtractionJob.extract(turns)
      .select($"conv_id", $"turn_idx", $"role", $"text_clean", $"doc_type",
        $"conf_delta", $"patterns_detected", $"success")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans/aggregations (A1-A10): TPC-H Q1-style pricing summary ----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(4, 2))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- multiway join w/ broadcast dims (J1): region->nation->cust->orders
    "q02_region_revenue" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(nation, customer("c_nationkey") === nation("n_nationkey"))
        .join(region, nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("r_name"), col("o_orderstatus"))
    }),

    // ---- join + agg + top-k (W3/W4 sort-limit): top orders by revenue ----
    "q03_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      orders
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .join(li, orders("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ---- left semi join (J2 shape): orders with any heavy lineitem ----
    "q04_priority_semi" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val heavy = t(s, dir, "lineitem").where(col("l_quantity") >= 48)
      orders
        .join(heavy, orders("o_orderkey") === heavy("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- left anti join (J2: the checkpoint/cache-miss shape) ----
    "q05_cust_no_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val big = t(s, dir, "orders").where(col("o_totalprice") > 400000)
      cust
        .join(big, cust("c_custkey") === big("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- selective filter + narrow projection (P1-P3 pushdown) ----
    "q06_filtered_sum" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
          && col("l_discount").between(0.02, 0.04)
          && col("l_quantity") < 24)
        .agg(
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            col("l_discount").cast(DecimalType(4, 2))).cast("double").as("promo_revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- window function (W1/W4): top-3 orders per customer ----
    "q07_top_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .where(col("o_custkey") <= 200) // bounded output for the compare
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- sessionization (W2 lag + streaming-analytic shape) ----
    "q08_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800000000L, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(
          sum(col("new_session")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // ---- event-time daily rollup (streaming batch analog, A4/A6) ----
    "q09_events_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("value")).as("total_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    // ---- distinct / dedup-lite (set ops §2.7) ----
    "q10_distinct_users" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // ---- text stats: token counting (training-data ops) ----
    "q11_doc_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          col("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"))
    }),

    // ---- language-ID heuristic ----
    "q12_langid" -> ((s, dir) => {
      // the tokenize-and-count aggregate is projected ONCE; the argmax
      // fold then references cheap struct-field extractions instead of
      // 2^|langs| inlined copies of the aggregate subtree
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.markerCounts(col("text")).as("mc"))
        .select(col("lang"), TextAnalysis.langIdFromCounts(col("mc")).as("detected"))
        .groupBy(col("lang"), col("detected"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("detected"))
    }),

    // ---- quality scoring ----
    "q13_quality" -> ((s, dir) => {
      // quality bucket: tokenize once, derive the three integer
      // features, then the ladder (which references each feature several
      // times) reads cheap attributes instead of re-splitting the text
      t(s, dir, "documents")
        .select(length(col("text")).as("nc"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("nc"), size(col("tk")).as("nt"),
          size(array_distinct(col("tk"))).as("nd"))
        .select(TextAnalysis.qualityBucketOf(col("nc"), col("nt"), col("nd")).as("quality"))
        .groupBy(col("quality"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("quality"))
    }),

    // ---- document fingerprinting (F15 content hash) ----
    "q14_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),

    // ---- exact dedup ----
    "q15_dedup_exact" -> ((s, dir) => {
      val d = Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      d.agg(
        count(lit(1)).as("n_groups"),
        sum(col("dup_count")).cast("long").as("n_docs"),
        sum(when(col("dup_count") > 1, 1).otherwise(0)).cast("long").as("n_dup_groups"))
    }),

    // ---- brute-force cosine top-k (similarity baseline) ----
    // scoring kept on the HOF formulation (dot/(sqrt(na)*sqrt(nb))) whose
    // accumulation order is value-identical to DuckDB's
    // list_cosine_similarity — the native graft_cosine path (x05/x08)
    // differs in the last ulp, which could flip a rank on a near-tie
    "q16_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0).toArray
      val top = emb.select(
        col("vec_id").as("id"),
        Similarity.cosineWithConst(col("embedding"), q).as("cosine"))
        .orderBy(col("cosine").desc, col("id"))
        .limit(10)
      // rank over the 10-row result: constant partition key keeps the
      // window single-partition EXPLICITLY (10 rows post-TakeOrdered) and
      // silences the global-window warning that was masking real ones
      top.withColumn("rank",
        row_number().over(Window.partitionBy(lit(0)).orderBy(col("cosine").desc, col("id"))))
        .select(col("rank"), col("id").as("vec_id"))
        .orderBy(col("rank"))
    }),

    // ---- rule engine (P5/P6): priority when-ladder, pure Column exprs ----
    "q17_rules" -> ((s, dir) => {
      import graft.operators.Rules
      import graft.operators.Rules.Op
      val rules = Seq(
        Rules.Rule("huge", 30, Seq(Rules.Condition("n_chars", Op.GreaterThan, 2000))),
        Rules.Rule("english_long", 20, Seq(
          Rules.Condition("lang", Op.Equals, "en"),
          Rules.Condition("n_chars", Op.Between, 500, 2000))),
        Rules.Rule("tiny", 10, Seq(Rules.Condition("n_chars", Op.LessThan, 100))))
      Rules.applyRules(t(s, dir, "documents"), rules)
        .groupBy(col("rule"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("rule"))
    }),

    // ---- text search w/ occurrence score + excerpt (S10/W4/F13) ----
    "q18_search" -> ((s, dir) => {
      graft.operators.Search.search(t(s, dir, "documents"), "doc_id", "text", "data", 20)
        .select(col("id").as("doc_id"), col("score"), col("excerpt"))
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // ---- multimodal binary metadata (payload plumbing, oracle-checkable)
    "q19_binary_meta" -> ((s, dir) => {
      graft.operators.Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("meta.n_bytes").as("n_bytes"),
          md5(col("payload")).as("content_md5"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),

    // ---- engine-quality composite (A5) + alnum-confidence fallback (F16)
    "q20_engine_quality" -> ((s, dir) => {
      val conf = TextAnalysis.alnumConfidence(col("text"))
      val score = TextAnalysis.engineQualityScore(
        conf, col("n_chars") / lit(1000.0), lit(1.0),
        TextAnalysis.tokenCount(col("text")), col("n_chars"))
      t(s, dir, "documents")
        .select(col("doc_id"), round(score, 4).as("quality_score"))
        .orderBy(col("doc_id"))
        .limit(100)
    }),

    // ---- exact length-distribution profile (oracle: quantile_cont) ----
    "q21_length_profile" -> ((s, dir) => {
      graft.operators.Curation.lengthProfile(t(s, dir, "documents"), "lang", "n_chars")
    }),

    // ---- deterministic hash split (reproducible train/val/test) ----
    "q22_split_counts" -> ((s, dir) => {
      val split = graft.operators.Curation.splitAssign(
        col("doc_id"), Seq(("train", 80), ("val", 10), ("test", 10)))
      t(s, dir, "documents")
        .select(split.as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"))
    }),

    // ---- rule ACTIONS (P6): priority-ordered context mutation ladder ----
    "q23_rule_actions" -> ((s, dir) => {
      import graft.operators.Rules
      import graft.operators.Rules.{ActionRule, Op, SetConfidence, SetLanguage, SetMode, StopProcessing}
      val rules = Seq(
        ActionRule("cloud_boost", 30,
          Seq(Rules.Condition("n_chars", Op.GreaterThan, 2000)),
          Seq(SetMode("cloud"), SetConfidence(0.9), StopProcessing)),
        ActionRule("german_docs", 20,
          Seq(Rules.Condition("lang", Op.Equals, "de")),
          Seq(SetLanguage("deu"), SetMode("local"))),
        ActionRule("fast_small", 10,
          Seq(Rules.Condition("n_chars", Op.LessThan, 100)),
          Seq(SetMode("fast"), StopProcessing)))
      Rules.applyActions(t(s, dir, "documents"), rules)
        .groupBy(col("ocr_mode"), col("ocr_language"),
          col("confidence_threshold"),
          col("stop_processing").cast("int").as("stopped"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("ocr_mode"), col("ocr_language"),
          col("confidence_threshold"), col("stopped"))
    }),

    // ---- quality-routed fallback as an EXECUTED two-pass stage ----
    "q24_fallback_route" -> ((s, dir) => {
      import graft.operators.Fallback
      // first engine: raw text; second: a deterministic "cloud" stand-in
      // with the reference's claimed confidence uplift (capped 1.3x,
      // image_processor.py:513-517) — quality = content score both times
      val local = Fallback.Engine("local", identity, Fallback.contentScore)
      val cloud = Fallback.Engine("cloud", identity,
        t => least(lit(1.0), Fallback.contentScore(t) * lit(1.3)))
      Fallback.twoPass(t(s, dir, "documents"), "text", local, cloud, 0.7)
        .groupBy(col("route"), col("engine"))
        .agg(count(lit(1)).as("n"),
          round(min(col("quality")), 4).as("min_q"),
          round(max(col("quality")), 4).as("max_q"))
        .orderBy(col("route"), col("engine"))
    }),

    // ---- deterministic stratified sampling (curation rebalancing) ----
    "q25_det_sample" -> ((s, dir) => {
      import graft.operators.Curation
      Curation.stratifiedSample(t(s, dir, "documents"),
        col("lang"), col("doc_id"),
        rates = Map("en" -> 200, "zh" -> 500), defaultPermille = 800)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    }),

    // ---- Gopher-style repetition filters (training-data curation) ----
    // the synthetic docs are single-line, so line/paragraph structure is
    // derived in-query from word boundaries (the metric itself is what's
    // under test; 426/500 docs exceed the 0.30 gate at sf0.01)
    "q26_repetition" -> ((s, dir) => {
      // factored form, results identical: replace() for the literal
      // single-space substitutions (regexp_replace with a literal pattern
      // computes the same string through the regex engine), each derived
      // text projected once, each unit array split once, each fraction
      // computed once — `keep` is the conjunction repetitionGate(lineText)
      // expands to: dupLineFraction(lineText) <= 0.30 &&
      // dupParagraphFraction(lineText) <= 0.30
      val lineText = replace(col("text"), lit(" "), lit("\n"))
      val paraText = replace(col("text"), lit(" "), lit("\n\n"))
      t(s, dir, "documents")
        .select(lineText.as("lt"), paraText.as("pt"))
        .select(
          TextAnalysis.dupUnits(col("lt"), "\n").as("lu"),
          TextAnalysis.dupUnits(col("pt"), "\n\n").as("pu"),
          TextAnalysis.dupUnits(col("lt"), "\n\n").as("lpu"))
        .select(
          TextAnalysis.dupFractionOfUnits(col("lu")).as("dlf"),
          TextAnalysis.dupFractionOfUnits(col("pu")).as("dpf"),
          TextAnalysis.dupFractionOfUnits(col("lpu")).as("dplf"))
        .select(
          col("dlf"), col("dpf"),
          (col("dlf") <= 0.30 && col("dplf") <= 0.30).as("keep"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("dlf") > 0.30, 1).otherwise(0)).cast("long").as("n_high_dup_lines"),
          sum(when(col("dpf") > 0.30, 1).otherwise(0)).cast("long").as("n_high_dup_paras"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          round(max(col("dlf")), 4).as("max_dlf"),
          round(max(col("dpf")), 4).as("max_dpf"))
    }),

    // ---- session_window sessionization (batch form of the streaming op)
    // same 30-min gap rule as q08 but via the native session_window
    // operator; per-user session/event counts, oracle = gaps-and-islands
    "q31_session_window" -> ((s, dir) => {
      graft.streaming.StreamingExtract.sessions(
        t(s, dir, "events"), "user_id", "ts", "30 minutes")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("n_rows")).cast("long").as("n_events"))
        .orderBy(col("user_id"))
    }),

    // ---- MinHash+LSH near-dup, high-recall banding — ORACLE-checked ----
    // 16 bands × 2 rows/band: a pair at the verify threshold s=0.6 misses
    // every band with probability (1-0.6²)^16 ≈ 8e-4 (falling fast in s),
    // and on this corpus recall is exactly 1.0 — so the exact n-gram
    // Jaccard self-join IS a true oracle for the emitted (id_a, id_b,
    // jaccard) pairs. Verify guarantees precision 1.0 by construction, so
    // this green row checks the whole LSH pipeline end-to-end (x03 keeps
    // the production 8×4 banding, whose two sub-0.8 misses here are the
    // expected recall curve, not a bug).
    "q32_minhash_verified" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra tail token")).as("text"))
      Dedup.minHashNearDups(docs.union(copies), "doc_id", "text",
        Dedup.MinHashParams(numHashes = 32, bands = 16))
    }),

    // ---- full curation chain over the documents table (rows-only: the
    // gates stage's top-n-gram rule is kernel-tier, not SQL) — runs the
    // ACTUAL resumable CurationJob, then reports the per-stage row-count
    // lineage a downstream consumer reads
    "x22_curation_chain" -> ((s, dir) => {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft-x22").toString
      // the flat synthetic text gets line/sentence structure derived
      // in-query (same deterministic trick as q26/q29), so the C4 line
      // gates have real lines to judge
      val docs = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "table", "table."), "\\. ", ".\n").as("text"))
      val lineage = graft.pipeline.CurationJob
        .run(s, docs, out, "x22", inputId = s"x22:$dir")
      // the lineage is computed eagerly, so the staged parquet can go
      // before returning (repeated bench/verify runs must not fill /tmp)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
      lineage.map(r => (r.stage, r.rows)).toDF("stage", "rows")
    }),

    // ---- oracle-checkable curation lineage (x22's three-check mirror):
    // the REAL CurationJob at the PRODUCTION gate config — C4 clean,
    // dup-line/para gates AND the top-n-gram repetition gate at its real
    // 0.20/0.18/0.16 thresholds (mirrored via the shared
    // TextAnalysis.topNgramFractionsSqlCtes CTE chain, same one the x19
    // oracle uses) — with ONE knob neutralized: the MinHash near-dup
    // stage (threshold > 1 admits no candidate pair; banding is seeded-
    // hash kernel tier, not SQL-expressible). Every surviving stage
    // (C4 clean → full Gopher gates → exact fingerprint dedup → hash
    // split) has an exact DuckDB mirror. x22 keeps the full production
    // config; this pins the chain's plumbing (stage composition,
    // manifest lineage, split assignment) to an independent engine.
    "q33_curation_lineage" -> ((s, dir) => {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft-q33").toString
      val docs = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "table", "table."), "\\. ", ".\n").as("text"))
      // 80/10/10 split (vs the 98/1/1 production default) so all three
      // split partitions are non-empty at oracle SF — a stronger check
      val cfg = graft.pipeline.CurationJob.Config(
        minhash = Dedup.MinHashParams(threshold = 1.1),
        splits = Seq(("train", 80), ("val", 10), ("test", 10)))
      val lineage = graft.pipeline.CurationJob
        .run(s, docs, out, "q33", cfg, inputId = s"q33:$dir")
      val rows = lineage.map(r => r.stage -> r.rows).toMap
      assert(rows("neardup") == rows("exact"),
        "threshold > 1 must make the near-dup stage a no-op")
      val splitCounts = s.read
        .parquet(graft.pipeline.CurationJob.stageDataDir(out, "split"))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .collect().map(r => s"split_${r.getString(0)}" -> r.getLong(1))
      graft.pipeline.Fs.deleteTree(out)
      (Seq("clean", "gates", "exact").map(st => st -> rows(st)) ++ splitCounts)
        .toDF("stage", "n_docs").orderBy(col("stage"))
    }),

    // ---- order-preserving concat (A7/A8), oracle-checked ----
    // the SAME orderedConcat kernel assemble() uses (one hash aggregation,
    // sort_array over struct — map-side combinable, no window), pointed at
    // the events parquet where DuckDB's string_agg(… ORDER BY …) is an
    // exact mirror: per-user event-type chains ordered by (ts, event_id).
    // (ts, event_id) is a total order by construction (event_id unique),
    // so both engines produce byte-identical chains; compared via md5
    "q34_ordered_concat" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          md5(graft.pipeline.ExtractionJob.orderedConcat(
            col("event_type"), "|", col("ts"), col("event_id"))).as("chain_md5"))
    }),

    // ---- near-dup CLUSTER resolution, oracle-checked ----
    // x18's semantics over a 500-doc universe (+ two mutated generations,
    // transitive chains) small enough for DuckDB to brute-force: exact
    // 3-shingle Jaccard pairs at the SAME 0.7 verify threshold, then a
    // recursive-CTE reachability closure computing min-id-per-component —
    // the contract resolveClusters implements (union-find under the gate,
    // distributed min-label propagation above it). threshold=0.7 (not the
    // 0.6 default) keeps the lowest must-find pair's per-band-miss
    // probability at (1-0.49)^16 ≈ 2e-5 (28 boundary pairs ⇒ expected
    // misses ~6e-4) — the high-recall-banding trick q32 established,
    // applied one operator downstream so the CLUSTER stage gets its own
    // independent-engine check
    "q35_cluster_resolve" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 500)
        .select(col("doc_id"), col("text"))
      val pairs = Dedup.minHashNearDups(withMutantGenerations(docs, docs),
        "doc_id", "text",
        Dedup.MinHashParams(numHashes = 32, bands = 16, threshold = 0.7))
      Dedup.resolveClusters(pairs)
    }),

    // ---- C4 three-sentence-span corpus dedup (Raffel et al. §2.2) ----
    // the exact cross-corpus span REWRITE the paper specifies (distinct
    // from document-level near-dup): spans duplicated anywhere in the
    // corpus survive only at their globally-minimal (id, position)
    // occurrence. Universe: structured docs (the q33/q29 line-derivation
    // trick gives the flat synthetic text real units) ∪ whole-doc copies
    // at +3000000 — a copy's every span is a non-keeper duplicate, so
    // copies with ≥3 units come back EMPTY (shorter ones have no spans
    // and pass through) while originals keep their keeper spans; natural
    // cross-doc duplicate spans are adjudicated by the same rule on both
    // engines. Oracled by a window-function DuckDB mirror
    "q36_c4_span_dedup" -> ((s, dir) => {
      val structured = t(s, dir, "documents").where(col("doc_id") < 2000)
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "table", "table."), "\\. ", ".\n").as("text"))
      val copies = structured.where(col("doc_id") < 100)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      graft.operators.C4.spanDedup(structured.union(copies), "doc_id", "text")
        .select(col("id").as("doc_id"),
          col("n_units").cast("long").as("n_units"),
          col("n_units_kept").cast("long").as("n_units_kept"),
          md5(col("text_dedup")).as("text_md5"))
    }),

    // ---- Gopher document-quality gates (Rae et al. 2021 §A1.1, the
    // non-repetition rules: word-count bounds, mean word length,
    // symbol-to-word ratio, bullet/ellipsis line fractions, alpha-word
    // fraction, stop-word presence). The corpus is flat single-line text
    // with none of the gated characters, so the query decorates it
    // deterministically (literal replaces, identical in the SQL mirror):
    // symbols, non-alpha words, stop words, then line structure, bullets
    // and trailing ellipses. Bullet/ellipsis thresholds are tightened
    // from the paper's 0.90/0.30 to 0.10 so those gates discriminate on
    // this corpus (the operator defaults stay the paper's values); the
    // mean-word-length gate fires only at sf0.1 (min mwl 2.92 there vs
    // 3.455 at sf0.01), counted but zero at the gate SF.
    "q37_gopher_quality" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val deco = Seq(
        "hash" -> "#", "dup" -> "...", "value" -> "12345", "key" -> "of",
        "row" -> "and", " " -> "\n", "merge" -> "• merge", "slow" -> "slow...")
        .foldLeft(col("text")) { case (c, (from, to)) =>
          regexp_replace(c, java.util.regex.Pattern.quote(from),
            java.util.regex.Matcher.quoteReplacement(to))
        }
      // factored form (results identical to calling the text-taking signal
      // functions directly, which delegate to these ...Of forms): the
      // decorated text, the words array, and the lines array are each
      // projected ONCE and every signal derives from them — the inlined
      // form re-ran the 8-regex decoration and the split per signal (and
      // again per gate conjunct), ~17 decorations/row. `keep` is the same
      // conjunction gopherQualityGate(deco, maxBulletFrac=0.10,
      // maxEllipsisFrac=0.10) expands to, over the projected signals.
      t(s, dir, "documents")
        .select(deco.as("deco"))
        .withColumn("ws", TextAnalysis.gopherWords(col("deco")))
        .withColumn("ls", TextAnalysis.gopherLines(col("deco")))
        .select(
          size(col("ws")).as("wc"),
          TextAnalysis.meanWordLengthOfWords(col("ws")).as("mwl"),
          TextAnalysis.symbolToWordRatioOfWords(col("deco"), col("ws")).as("sym"),
          TextAnalysis.bulletLineFractionOfLines(col("ls")).as("bullet"),
          TextAnalysis.ellipsisLineFractionOfLines(col("ls")).as("ell"),
          TextAnalysis.alphaWordFractionOfWords(col("ws")).as("alpha"),
          TextAnalysis.stopWordCountOfWords(col("ws")).as("stops"))
        .withColumn("keep",
          col("wc").between(50, 100000) && col("mwl").between(3.0, 10.0) &&
            col("sym") <= 0.1 && col("bullet") <= 0.1 && col("ell") <= 0.1 &&
            col("alpha") >= 0.8 && col("stops") >= 2)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(!col("wc").between(50, 100000), 1).otherwise(0))
            .cast("long").as("n_wc_fail"),
          sum(when(!col("mwl").between(3.0, 10.0), 1).otherwise(0))
            .cast("long").as("n_mwl_fail"),
          sum(when(col("sym") > 0.1, 1).otherwise(0)).cast("long").as("n_sym_fail"),
          sum(when(col("bullet") > 0.1, 1).otherwise(0)).cast("long").as("n_bullet_fail"),
          sum(when(col("ell") > 0.1, 1).otherwise(0)).cast("long").as("n_ell_fail"),
          sum(when(col("alpha") < 0.8, 1).otherwise(0)).cast("long").as("n_alpha_fail"),
          sum(when(col("stops") < 2, 1).otherwise(0)).cast("long").as("n_stop_fail"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          round(min(col("mwl")), 4).as("min_mwl"),
          round(max(col("mwl")), 4).as("max_mwl"),
          round(max(col("sym")), 4).as("max_sym"),
          round(min(col("alpha")), 4).as("min_alpha"))
    }),

    // ---- composed multi-step workflow with conditional branching ----
    // process -> extract_fields -> validate_data -> conditional routing
    // (workflows.py:139-208 dispatch; nested conditional in the false arm)
    "q27_workflow" -> ((s, dir) => {
      import org.apache.spark.sql.Column
      import graft.operators.{Fallback, Workflow}
      val wf = Seq(
        Workflow.Process("ocr",
          Fallback.Engine("local", identity, Fallback.contentScore), "text"),
        Workflow.ExtractFields("extract", "text", Seq(
          "customer_word" -> ((t: Column) => regexp_extract(t, "customer ([a-z]+)", 1)),
          "spark_word" -> ((t: Column) => regexp_extract(t, "spark ([a-z]+)", 1)))),
        Workflow.ValidateData("validate", Seq("customer_word", "spark_word")),
        Workflow.Conditional("route", col("validation_ok"),
          ifTrue = Seq(Workflow.SetOutput("to_processed", "destination",
            concat(lit("processed/"), col("lang")))),
          ifFalse = Seq(Workflow.Conditional("retry", col("ocr_quality") >= 1.0,
            ifTrue = Seq(Workflow.SetOutput("to_retry", "destination", lit("retry_cloud"))),
            ifFalse = Seq(Workflow.SetOutput("to_failed", "destination", lit("failed")))))))
      Workflow.run(t(s, dir, "documents"), wf)
        .groupBy(col("destination"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("ocr_quality")), 4).as("min_q"),
          sum(when(col("validation_ok"), 1).otherwise(0)).cast("long").as("n_valid"))
        .orderBy(col("destination"))
    }),

    // ---- parallel multi-engine best-of-N (argmax-quality selection) ----
    "q28_best_of_n" -> ((s, dir) => {
      import graft.operators.{Fallback, TextAnalysis => TA}
      val engines = Seq(
        Fallback.Engine("local", identity, Fallback.contentScore),
        Fallback.Engine("cloud", identity,
          t => least(lit(1.0), Fallback.contentScore(t) * lit(1.3))),
        Fallback.Engine("azure", identity,
          t => least(lit(1.0), TA.tokenCount(t) / lit(50.0))))
      Fallback.bestOfN(t(s, dir, "documents"), "text", engines)
        .groupBy(col("engine"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("quality")), 4).as("min_q"),
          round(max(col("quality")), 4).as("max_q"))
        .orderBy(col("engine"))
    }),

    // ---- C4-style corpus cleaning (Raffel et al. 2020 §2.2) ----
    // the synthetic docs are flat word soup, so sentence/line structure is
    // derived in-query deterministically (same trick as q26): every
    // "table" token becomes a sentence end, sentence ends become lines
    "q29_c4_clean" -> ((s, dir) => {
      import graft.operators.C4
      val structured = regexp_replace(
        regexp_replace(col("text"), "table", "table."), "\\. ", ".\n")
      t(s, dir, "documents")
        .select(
          C4.keepDocument(structured).as("keep"),
          size(C4.cleanLines(structured)).as("n_clean_lines"),
          size(split(structured, "\n")).as("n_lines"),
          C4.sentenceCount(structured).as("n_sentences"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept_docs"),
          sum(col("n_clean_lines")).cast("long").as("total_clean_lines"),
          sum(col("n_lines")).cast("long").as("total_lines"),
          sum(col("n_sentences")).cast("long").as("total_sentences"))
    }),

    // ---- BPE-style pre-tokenization counts (vs whitespace tokens) ----
    "q30_bpeish_tokens" -> ((s, dir) => {
      val structured = regexp_replace(col("text"), "table", "table.")
      t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.bpeishTokenCount(structured).as("n_bpe"),
          TextAnalysis.tokenCount(structured).as("n_ws"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).cast("long").as("total_bpe_tokens"),
          sum(col("n_ws")).cast("long").as("total_ws_tokens"))
        .orderBy(col("lang"))
    }),

    // ================= rows-only checks (not SQL-expressible) ============
    // extraction pipeline per-turn output (verified vs reference goldens in
    // sbt test; DuckDB cannot replicate the CPython-semantics kernel)
    "x01_extract_turns" -> ((s, dir) => {
      val scale = if (dir.contains("0.1")) 400 else 120
      ExtractionJob.extract(TranscriptGen.dataset(s, scale))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text_clean"),
          col("doc_type"), col("conf_delta"), col("patterns_detected"), col("success"))
    }),
    // conversation assembly under stable turn ordering (A7/A8/W1)
    "x02_assemble" -> ((s, dir) => {
      val scale = if (dir.contains("0.1")) 400 else 120
      ExtractionJob.classifyConversations(
        ExtractionJob.assemble(
          ExtractionJob.extract(TranscriptGen.dataset(s, scale))))
        .select(col("conv_id"), col("n_turns"), md5(col("full_text")).as("text_md5"),
          col("doc_type"), col("first_turn"), col("last_turn"))
    }),
    // MinHash+LSH near-dup over documents ∪ mutated copies (guaranteed dups)
    "x03_minhash_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra tail token")).as("text"))
      Dedup.minHashNearDups(docs.union(copies), "doc_id", "text")
    }),
    // SimHash near-dup, same construction
    "x04_simhash_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" tailword")).as("text"))
      Dedup.simHashNearDups(docs.union(copies), "doc_id", "text")
    }),
    // LSH-bucketed approximate top-k (scale path of q16)
    "x05_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0).toArray
      Similarity.lshTopK(emb, "vec_id", "embedding", q, 10)
    }),
    // MATERIALIZED LSH index path: build once, query via the partition-
    // prunable (table, bucket) predicate — result-identical to x05
    "x20_lsh_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0).toArray
      val idx = Similarity.buildLshIndex(emb, "vec_id", "embedding")
      Similarity.lshTopKIndexed(idx, q, 10)
    }),
    // embedding-cosine near-dup via hyperplane LSH — ORACLE-checked:
    // planted copies are bit-identical vectors (always same bucket ⇒
    // recall 1.0 by construction) and the max NATURAL pair cosine in the
    // uniform synthetic table is ~0.51, so the ≥0.99 emitted set is
    // exactly the brute-force set; cosine rounded to 4dp on both sides
    // (identical-vector cosine is 1.0±ulp in either engine)
    "x06_embed_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.where(col("vec_id") < 50)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDups(emb.union(copies), "vec_id", "embedding", minCosine = 0.99)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }),
    // exact n-gram Jaccard near-dup (inverted-index postings join)
    "x07_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" jaccard tail")).as("text"))
      Dedup.ngramJaccardNearDups(docs.union(copies), "doc_id", "text")
    }),
    // IVF approximate top-k (partition-prunable ANN index path)
    "x08_ivf_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0).toArray
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10, nList = 16, nProbe = 8)
    }),
    // MATERIALIZED IVF index path: train + assign once, probe via the
    // partition-prunable ivf_list isin — result-identical to x08's recipe
    "x21_ivf_indexed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0).toArray
      val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        nList = 16, iters = 2)
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", cents, nAssign = 4)
      Similarity.ivfTopKIndexed(idx, cents, q, 10, nProbe = 8)
    }),
    // chunking w/ overlap (F14) — reference word-packing semantics;
    // mapPartitions (the codebase's pooled-kernel pattern), not a row UDF.
    // ORACLE-CHECKED: a DuckDB recursive CTE replays the greedy recursion
    // over word-length prefix sums (see oracleSql) — boundaries, overlap
    // carry, and chunk text all verified hash-exact
    "x09_chunks" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          graft.kernel.Chunker.semantic(Option(text).getOrElse(""))
            .iterator.zipWithIndex.map { case (c, i) => (id, i, c) }
        })
        .toDF("doc_id", "chunk_idx", "chunk")
        .select(col("doc_id"), col("chunk_idx"), length(col("chunk")).as("n_chars"),
          md5(col("chunk")).as("chunk_md5"))
    }),
    // markdown render sink (S6): deterministic per-conversation document
    "x10_render_markdown" -> ((s, dir) => {
      val scale = if (dir.contains("0.1")) 200 else 60
      graft.pipeline.Render.markdown(
        ExtractionJob.extract(TranscriptGen.dataset(s, scale)))
        .select(col("conv_id"), length(col("markdown")).as("n_chars"),
          md5(col("markdown")).as("md"))
    }),
    // XML sink (S8): template-DISPATCHED structured documents (doc-type
    // scoring -> per-type sections/fields/creditor tables), plus the
    // per-turn span render folded into the same check
    "x11_render_xml" -> ((s, dir) => {
      val scale = if (dir.contains("0.1")) 200 else 60
      val extracted = ExtractionJob.extract(TranscriptGen.dataset(s, scale))
      val dispatched = graft.pipeline.Render.xmlDocuments(extracted)
        .select(col("conv_id"), col("doc_type"),
          length(col("xml")).as("n_chars"), md5(col("xml")).as("md"))
      val spans = graft.pipeline.Render.xml(extracted)
        .select(col("conv_id"), lit("turn_spans").as("doc_type"),
          length(col("xml")).as("n_chars"), md5(col("xml")).as("md"))
      dispatched.unionByName(spans)
    }),
    // searchable-PDF sink (S7): per-conversation binary PDF with the
    // extracted text as an invisible layer (kernel-tier byte assembly —
    // structure validity + text round-trip pinned by PdfSpec; DuckDB has
    // no PDF form)
    "x23_searchable_pdf" -> ((s, dir) => {
      val scale = if (dir.contains("0.1")) 200 else 60
      graft.pipeline.Render.searchablePdf(
        ExtractionJob.extract(TranscriptGen.dataset(s, scale)))
        .select(col("conv_id"), col("num_pages"), col("pdf_bytes"),
          md5(col("pdf")).as("pdf_md5"))
    }),
    // search-index derived tables (S10): conversations -> turns -> chunks
    "x13_search_index" -> ((s, dir) => {
      val scale = if (dir.contains("0.1")) 200 else 60
      val extracted = ExtractionJob.extract(TranscriptGen.dataset(s, scale))
      val idx = graft.pipeline.SearchIndex.build(extracted)
      idx.chunks
        .groupBy(col("conv_id"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_hash")).as("n_distinct_chunks"))
        .join(idx.conversations.select(col("conv_id"), col("n_turns"), col("content_hash")),
          Seq("conv_id"))
    }),
    // benchmark decontamination: planted contaminated "test" docs must pair
    // with their train source via shared n-grams
    "x15_contamination" -> ((s, dir) => {
      val train = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val test = train.where(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(lit("prefix noise "), col("text")).as("text"))
      graft.operators.Curation.contamination(
        train, "doc_id", "text", test, "doc_id", "text", n = 8, minCommon = 2)
    }),
    // validation-aware PII redaction (invalid checksums left intact)
    "x16_redact" -> ((s, dir) => {
      graft.operators.Redact.redact(t(s, dir, "documents"), "doc_id", "text")
        .toDF()
        .select(col("id").as("doc_id"), md5(col("text_redacted")).as("red_md5"),
          size(map_keys(col("redactions"))).as("n_types"))
        .orderBy(col("doc_id"))
        .limit(200)
    }),
    // approximate heavy hitters (space-saving sketch) over document tokens
    "x14_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .where(col("tok") =!= "")
      graft.operators.HeavyHitters.heavyHitters(toks, col("tok"), 100)
    }),
    // near-dup CLUSTER resolution + removal: two generations of mutated
    // copies form transitive chains; connected-component keepers survive
    "x18_dedup_resolve" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val kept = Dedup.dedupeNear(
        withMutantGenerations(docs, docs.where(col("doc_id") < 50)), "doc_id", "text")
      kept.agg(
        count(lit(1)).as("n_kept"),
        sum(when(col("doc_id") >= 1000000, 1).otherwise(0)).cast("long").as("mutant_ids_kept"))
    }),
    // top word-n-gram repetition rule (kernel tier: per-row frequency map)
    // ORACLE-CHECKED: DuckDB recomputes the top-n-gram fractions from
    // first principles (windowed GROUP BY + QUALIFY tie rule, identical
    // integer-ratio arithmetic; see oracleSql)
    "x19_ngram_repetition" -> ((s, dir) => {
      TextAnalysis.ngramRepetition(t(s, dir, "documents"), "doc_id", "text")
        .toDF()
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          round(max(col("top2")), 4).as("max_top2"),
          round(max(col("top4")), 4).as("max_top4"))
    }),
    // chunk-level semantic search: chunks -> embed -> cosine rank (the
    // reference's semantic_search.py chunk-embedding path, end-to-end)
    "x17_semantic_chunks" -> ((s, dir) => {
      graft.operators.SemanticSearch.searchChunks(
        t(s, dir, "documents"), "doc_id", "text", "data processing pipeline", 20)
        .select(col("doc_id"), col("chunk_idx"),
          round(col("score"), 4).as("score"), md5(col("chunk")).as("chunk_md5"))
    }),
    // multimodal feature extraction: batched pooled decode (stubbed codec)
    "x12_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val media = graft.operators.Multimodal
        .attachPayload(t(s, dir, "documents"), "doc_id", "text")
        .as[graft.operators.Multimodal.MediaRow]
      graft.operators.Multimodal.extractFeatures(media)
        .toDF()
        .select(col("id"), col("n_bytes"),
          round(element_at(col("features"), 1), 4).as("byte_mean"),
          round(element_at(col("features"), 2), 4).as("byte_std"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_region_revenue" ->
      """SELECT r_name, o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, o_orderstatus
        |ORDER BY r_name, o_orderstatus""".stripMargin,

    "q03_top_orders" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q04_priority_semi" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q05_cust_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q06_filtered_sum" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS promo_revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,

    "q07_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 AND o_custkey <= 200
        |ORDER BY o_custkey, rn""".stripMargin,

    "q08_sessionize" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q09_events_daily" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q10_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q11_doc_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS total_tokens,
        |  max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q12_langid" ->
      s"""SELECT lang, ${TextAnalysis.langIdSql("text")} AS detected, count(*) AS n
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q13_quality" ->
      s"""SELECT ${TextAnalysis.qualityBucketSql("text")} AS quality, count(*) AS n
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_fingerprint" ->
      s"""SELECT doc_id, ${TextAnalysis.fingerprintSql("text")} AS fp
         |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin,

    "q15_dedup_exact" ->
      s"""WITH g AS (
         |  SELECT ${TextAnalysis.fingerprintSql("text")} AS fp,
         |         min(doc_id) AS keep_id, count(*) AS dup_count
         |  FROM documents GROUP BY 1)
         |SELECT count(*) AS n_groups, CAST(sum(dup_count) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN dup_count > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
         |FROM g""".stripMargin,

    "q17_rules" ->
      """SELECT CASE
        |  WHEN n_chars IS NOT NULL AND n_chars > 2000 THEN 'huge'
        |  WHEN lang IS NOT NULL AND lang = 'en'
        |       AND n_chars IS NOT NULL AND n_chars BETWEEN 500 AND 2000 THEN 'english_long'
        |  WHEN n_chars IS NOT NULL AND n_chars < 100 THEN 'tiny'
        |  ELSE 'none' END AS rule, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_search" ->
      s"""SELECT doc_id, ${graft.operators.Search.occurrencesSql("text", "data")} AS score,
         |  ${graft.operators.Search.excerptSql("text", "data")} AS excerpt
         |FROM documents
         |WHERE ${graft.operators.Search.occurrencesSql("text", "data")} > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q19_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin,

    "q20_engine_quality" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 0.0
        |         WHEN length(replace(text, ' ', '')) = 0 THEN 0.0
        |         ELSE least(CAST(length(regexp_replace(replace(text, ' ', ''), '[^\p{L}\p{N}]', '', 'g')) AS DOUBLE)
        |                    / CAST(length(replace(text, ' ', '')) AS DOUBLE), 1.0) END AS conf,
        |    greatest(0.0, 1.0 - (n_chars / 1000.0) / 30.0) AS speed_score,
        |    least(1.0, (len(regexp_split_to_array(trim(lower(text)), '\s+')) + n_chars / 10.0) / 100.0) AS content_score
        |  FROM documents)
        |SELECT doc_id,
        |  round(greatest(0.0, least(1.0, conf * 0.4 + speed_score * 0.2 + 1.0 * 0.3 + content_score * 0.1)), 4) AS quality_score
        |FROM s ORDER BY doc_id LIMIT 100""".stripMargin,

    "q21_length_profile" ->
      """SELECT lang, count(*) AS n,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  min(n_chars) AS min_len, max(n_chars) AS max_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q22_split_counts" ->
      s"""WITH b AS (
         |  SELECT ${graft.operators.Curation.hashBucketSql("doc_id", 100)} AS bucket
         |  FROM documents)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25_det_sample" ->
      s"""SELECT lang, count(*) AS n_sampled
         |FROM documents
         |WHERE ${graft.operators.Curation.hashBucketSql("doc_id", 1000)} <
         |  (CASE WHEN lang = 'zh' THEN 500 WHEN lang = 'en' THEN 200 ELSE 800 END)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q26_repetition" -> {
      val lineT = "regexp_replace(text, ' ', chr(10), 'g')"
      val paraT = "regexp_replace(text, ' ', chr(10) || chr(10), 'g')"
      val dlf = TextAnalysis.dupLineFractionSql(lineT)
      val dpf = TextAnalysis.dupParagraphFractionSql(paraT)
      // keep mirrors repetitionGate(lineText) SEMANTICALLY: BOTH the
      // dup-line and the dup-paragraph fraction of lineText gated at 0.30
      // (lineText has no blank lines on current data, so its paragraph
      // fraction is 0 — but the mirror must not depend on that)
      val dpfOfLineT = TextAnalysis.dupParagraphFractionSql(lineT)
      s"""WITH s AS (
         |  SELECT $dlf AS dlf, $dpf AS dpf,
         |         ($dlf <= 0.30 AND $dpfOfLineT <= 0.30) AS keep
         |  FROM documents)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN dlf > 0.30 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_dup_lines,
         |  CAST(sum(CASE WHEN dpf > 0.30 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_dup_paras,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(max(dlf), 4) AS max_dlf, round(max(dpf), 4) AS max_dpf
         |FROM s""".stripMargin
    },

    "q23_rule_actions" ->
      """WITH ctx AS (
        |  SELECT lang, n_chars, 'hybrid' AS ocr_mode, 'eng' AS ocr_language,
        |         CAST(0.75 AS DOUBLE) AS confidence_threshold, false AS stop_processing
        |  FROM documents),
        |m1 AS (SELECT *, (NOT stop_processing AND n_chars IS NOT NULL AND n_chars > 2000) AS m FROM ctx),
        |s1 AS (SELECT lang, n_chars,
        |         CASE WHEN m THEN 'cloud' ELSE ocr_mode END AS ocr_mode,
        |         ocr_language,
        |         CASE WHEN m THEN CAST(0.9 AS DOUBLE) ELSE confidence_threshold END AS confidence_threshold,
        |         (stop_processing OR m) AS stop_processing FROM m1),
        |m2 AS (SELECT *, (NOT stop_processing AND lang IS NOT NULL AND lang = 'de') AS m FROM s1),
        |s2 AS (SELECT lang, n_chars,
        |         CASE WHEN m THEN 'local' ELSE ocr_mode END AS ocr_mode,
        |         CASE WHEN m THEN 'deu' ELSE ocr_language END AS ocr_language,
        |         confidence_threshold, stop_processing FROM m2),
        |m3 AS (SELECT *, (NOT stop_processing AND n_chars IS NOT NULL AND n_chars < 100) AS m FROM s2),
        |s3 AS (SELECT
        |         CASE WHEN m THEN 'fast' ELSE ocr_mode END AS ocr_mode,
        |         ocr_language, confidence_threshold,
        |         (stop_processing OR m) AS stop_processing FROM m3)
        |SELECT ocr_mode, ocr_language, confidence_threshold,
        |       CAST(stop_processing AS INT) AS stopped, count(*) AS n
        |FROM s3 GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,

    "q24_fallback_route" -> {
      val cs = graft.operators.Fallback.contentScoreSql("text")
      s"""WITH p1 AS (
         |  SELECT text, coalesce($cs, 0.0) AS q1 FROM documents),
         |kept AS (
         |  SELECT 'kept' AS route, 'local' AS engine, q1 AS quality
         |  FROM p1 WHERE q1 >= 0.7),
         |fb AS (
         |  SELECT q1, coalesce(least(1.0, $cs * 1.3), 0.0) AS q2
         |  FROM p1 WHERE q1 < 0.7),
         |fbres AS (
         |  SELECT 'fallback' AS route,
         |    CASE WHEN q2 >= 0.7 OR q2 > q1 THEN 'cloud' ELSE 'local' END AS engine,
         |    CASE WHEN q2 >= 0.7 OR q2 > q1 THEN q2 ELSE q1 END AS quality
         |  FROM fb),
         |u AS (SELECT * FROM kept UNION ALL SELECT * FROM fbres)
         |SELECT route, engine, count(*) AS n,
         |  round(min(quality), 4) AS min_q, round(max(quality), 4) AS max_q
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q31_session_window" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q27_workflow" -> {
      val cs = graft.operators.Fallback.contentScoreSql("text")
      s"""WITH s AS (
         |  SELECT lang, coalesce($cs, 0.0) AS ocr_quality,
         |    regexp_extract(text, 'customer ([a-z]+)', 1) AS customer_word,
         |    regexp_extract(text, 'spark ([a-z]+)', 1) AS spark_word
         |  FROM documents),
         |v AS (
         |  SELECT lang, ocr_quality,
         |    (customer_word IS NOT NULL AND customer_word <> ''
         |     AND spark_word IS NOT NULL AND spark_word <> '') AS validation_ok
         |  FROM s),
         |r AS (
         |  SELECT ocr_quality, validation_ok,
         |    CASE WHEN validation_ok THEN 'processed/' || lang
         |         WHEN ocr_quality >= 1.0 THEN 'retry_cloud'
         |         ELSE 'failed' END AS destination
         |  FROM v)
         |SELECT destination, count(*) AS n, round(min(ocr_quality), 4) AS min_q,
         |  CAST(sum(CASE WHEN validation_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q28_best_of_n" -> {
      val cs = graft.operators.Fallback.contentScoreSql("text")
      val ql = s"coalesce($cs, 0.0)"
      val qc = s"coalesce(least(1.0, $cs * 1.3), 0.0)"
      val qa = "coalesce(least(1.0, len(regexp_split_to_array(trim(lower(text)), '\\s+')) / 50.0), 0.0)"
      s"""WITH s AS (
         |  SELECT $ql AS q_local, $qc AS q_cloud, $qa AS q_azure FROM documents),
         |w AS (
         |  SELECT
         |    CASE WHEN q_azure > greatest(q_local, q_cloud) THEN 'azure'
         |         WHEN q_cloud > q_local THEN 'cloud'
         |         ELSE 'local' END AS engine,
         |    greatest(q_local, q_cloud, q_azure) AS quality
         |  FROM s)
         |SELECT engine, count(*) AS n,
         |  round(min(quality), 4) AS min_q, round(max(quality), 4) AS max_q
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q29_c4_clean" -> {
      val st = "regexp_replace(regexp_replace(text, 'table', 'table.', 'g'), " +
        "'\\. ', '.' || chr(10), 'g')"
      import graft.operators.C4
      s"""WITH s AS (
         |  SELECT ${C4.keepDocumentSql(st)} AS keep,
         |    len(${C4.cleanLinesSql(st)}) AS n_clean_lines,
         |    len(regexp_split_to_array($st, chr(10))) AS n_lines,
         |    ${C4.sentenceCountSql(st)} AS n_sentences
         |  FROM documents)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
         |  CAST(sum(n_clean_lines) AS BIGINT) AS total_clean_lines,
         |  CAST(sum(n_lines) AS BIGINT) AS total_lines,
         |  CAST(sum(n_sentences) AS BIGINT) AS total_sentences
         |FROM s""".stripMargin
    },

    "q30_bpeish_tokens" -> {
      val st = "regexp_replace(text, 'table', 'table.', 'g')"
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(${TextAnalysis.bpeishTokenCountSql(st)}) AS BIGINT) AS total_bpe_tokens,
         |  CAST(sum(len(regexp_split_to_array(trim(lower($st)), '\\s+'))) AS BIGINT) AS total_ws_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
    },

    "q16_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT e.vec_id,
        |    list_cosine_similarity(e.embedding, q.qe) AS sim
        |  FROM embeddings e, q)
        |SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank, vec_id
        |FROM s ORDER BY rank LIMIT 10""".stripMargin,

    // exact word-3-shingle Jaccard over documents ∪ planted near-dups:
    // DuckDB recomputes the shingle SETS as strings (the Spark side hashes
    // them to 64-bit — collision-free at any realistic shingle count, so
    // distinct-set sizes agree) and brute-forces the upper-triangle join.
    // Oracle for BOTH the exact postings-join operator (x07) and the
    // high-recall LSH pipeline (q32) — same SQL, different planted tail.
    "x07_ngram_jaccard" -> exactJaccardOracle("jaccard tail"),
    "q32_minhash_verified" -> exactJaccardOracle("extra tail token"),

    // ordered concat: string_agg with an explicit ORDER BY is DuckDB's
    // native order-preserving aggregate — an exact mirror of the
    // orderedConcat kernel because (ts, event_id) is tie-free
    "q34_ordered_concat" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       md5(string_agg(event_type, '|' ORDER BY ts, event_id)) AS chain_md5
        |FROM events GROUP BY user_id""".stripMargin,

    // Gopher top-n-gram repetition (x19): the packed-key kernel's
    // fractions are pure integer ratios — most-frequent consecutive
    // n-gram (ties to the lexicographically smallest joined string,
    // matching the kernel's `s < bestStr`), chars = count × gram length,
    // total = Σ token lengths + (n_tokens − 1) — so DuckDB recomputes
    // them exactly from first principles via the shared
    // TextAnalysis.topNgramFractionsSqlCtes CTE chain (windowed GROUP BY
    // + QUALIFY tie rule, identical IEEE division; q33's gates mirror
    // uses the same generator). Pre-flighted by
    // tools/validate_ngram_oracle.py against a Python replica of
    // topNgramCharFractions234 at sf0.001/0.01/0.1 (exact match) and
    // against the Spark parquet output at sf0.01.
    "x19_ngram_repetition" ->
      s"""WITH ${TextAnalysis.topNgramFractionsSqlCtes(
             "documents", "CAST(doc_id AS BIGINT)", "text", "ng")}
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN top2 <= 0.20 AND top3 <= 0.18 AND top4 <= 0.16
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       round(max(top2), 4) AS max_top2,
         |       round(max(top4), 4) AS max_top4
         |FROM ng""".stripMargin,

    // greedy word-packing chunker (F14, x09): chunk boundaries are a
    // deterministic function of word-length prefix sums, so a recursive
    // CTE replays the exact reference recursion (semantic_search.py:
    // 137-170) — state (i, chunk_start, current_len) advances one word
    // per iteration (documents cap at 99 words), a boundary emits the
    // [cs, i) range and restarts from the 50-word overlap tail, and the
    // final chunk flushes at i = n. Chunk text is rebuilt by string_agg
    // over the emitted ranges. Pre-flighted by
    // tools/validate_chunk_oracle.py against a Python replica of the
    // kernel at sf0.001/0.01/0.1 (539/529/5322 chunks, exact match).
    // The '\s+' split mirrors Py.splitWs because the corpus is ASCII
    // with no VT/FS..US whitespace (asserted by the validator's charset
    // check at all three SFs).
    "x09_chunks" ->
      """WITH RECURSIVE
        |doc AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
        |                     w -> w <> '') AS ws
        |  FROM documents
        |  WHERE length(trim(coalesce(text, ''),
        |        ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))) >= 10
        |),
        |w AS (
        |  SELECT doc_id, word, idx, CAST(length(word) AS BIGINT) AS len
        |  FROM (
        |    SELECT doc_id, unnest(ws) AS word,
        |           CAST(unnest(range(len(ws))) AS BIGINT) AS idx
        |    FROM doc
        |  )
        |),
        |cum AS (
        |  SELECT doc_id, idx, len,
        |         coalesce(sum(len) OVER (PARTITION BY doc_id ORDER BY idx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS plen
        |  FROM w
        |),
        |nw AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |st AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS cs,
        |         CAST(0 AS BIGINT) AS cur_len,
        |         CAST(NULL AS BIGINT) AS e_start, CAST(NULL AS BIGINT) AS e_end
        |  FROM doc
        |  UNION ALL
        |  SELECT st.doc_id,
        |         st.i + 1,
        |         CASE WHEN c.len + st.cur_len + 1 > 512 AND st.i > st.cs
        |                THEN greatest(st.cs, st.i - 50)
        |              ELSE st.cs END,
        |         CASE WHEN c.len + st.cur_len + 1 > 512 AND st.i > st.cs
        |                THEN (c.plen - o.plen) + c.len
        |                     + (st.i - greatest(st.cs, st.i - 50)) + 1
        |              WHEN c.len + st.cur_len + 1 > 512
        |                THEN c.len
        |              ELSE st.cur_len + c.len + 1 END,
        |         CASE WHEN c.len + st.cur_len + 1 > 512 AND st.i > st.cs
        |                THEN st.cs ELSE NULL END,
        |         CASE WHEN c.len + st.cur_len + 1 > 512 AND st.i > st.cs
        |                THEN st.i ELSE NULL END
        |  FROM st
        |  JOIN cum c ON c.doc_id = st.doc_id AND c.idx = st.i
        |  JOIN cum o ON o.doc_id = st.doc_id
        |            AND o.idx = greatest(st.cs, st.i - 50)
        |),
        |bounds AS (
        |  SELECT doc_id, e_start AS s, e_end AS e, e_end AS ord
        |  FROM st WHERE e_start IS NOT NULL
        |  UNION ALL
        |  SELECT st.doc_id, st.cs, nw.n, nw.n + 1
        |  FROM st JOIN nw ON nw.doc_id = st.doc_id
        |  WHERE st.i = nw.n AND nw.n > st.cs
        |),
        |chunks AS (
        |  SELECT b.doc_id, b.ord,
        |         string_agg(w.word, ' ' ORDER BY w.idx) AS chunk
        |  FROM bounds b
        |  JOIN w ON w.doc_id = b.doc_id AND w.idx >= b.s AND w.idx < b.e
        |  GROUP BY b.doc_id, b.ord
        |)
        |SELECT doc_id,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
        |            AS INT) AS chunk_idx,
        |       CAST(length(chunk) AS INT) AS n_chars,
        |       md5(chunk) AS chunk_md5
        |FROM chunks""".stripMargin,

    // cluster resolution: brute-force exact-Jaccard pairs at the query's
    // 0.7 threshold over the SAME 1500-doc universe, then a recursive
    // reachability closure — keep_id = min id reachable from each node,
    // exactly the min-id-root contract of resolveClusters. The recursive
    // CTE enumerates (node, reachable-node) pairs: fine here because
    // components are generation chains (3-10 docs), never the full corpus
    "q35_cluster_resolve" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 500
        |),
        |docs AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' extra tail token' FROM base
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'prefix bit ' || text || ' extra tail token more'
        |  FROM base
        |),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts FROM docs
        |),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
        |                             for i in generate_series(1, len(ts) - 2)])
        |    END AS shingles
        |  FROM toks
        |),
        |jp AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |        / (len(a.shingles) + len(b.shingles)
        |           - len(list_intersect(a.shingles, b.shingles))) >= 0.7
        |),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL
        |  SELECT id_b AS src, id_a AS dst FROM jp
        |),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
        |)
        |SELECT id, CAST(min(r) AS BIGINT) AS keep_id FROM reach GROUP BY id""".stripMargin,

    // C4 span dedup: the same structured-text derivation as the q33
    // oracle, then the shared window-function CTE mirror of spanDedup
    "q36_c4_span_dedup" -> {
      import graft.operators.C4
      val st = "regexp_replace(regexp_replace(text, 'table', 'table.', 'g'), " +
        "'\\. ', '.' || chr(10), 'g')"
      s"""WITH rel AS (
         |  SELECT doc_id, $st AS text FROM documents WHERE doc_id < 2000
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, $st AS text
         |  FROM documents WHERE doc_id < 100
         |),
         |${C4.spanDedupSql("rel")}
         |SELECT doc_id, n_units, n_units_kept, md5(text_dedup) AS text_md5
         |FROM span_dedup""".stripMargin
    },

    // Gopher §A1.1 quality gates over the same deterministic decoration;
    // every signal and the combined gate come from the shared *Sql
    // generators in TextAnalysis, so Spark and oracle cannot drift
    "q37_gopher_quality" -> {
      import graft.operators.TextAnalysis
      val deco = Seq(
        "hash" -> "#", "dup" -> "...", "value" -> "12345", "key" -> "of",
        "row" -> "and", " " -> "chr(10)", "merge" -> "• merge",
        "slow" -> "slow...")
        .foldLeft("text") { case (e, (from, to)) =>
          val toSql = if (to == "chr(10)") to else s"'$to'"
          s"replace($e, '$from', $toSql)"
        }
      s"""WITH d AS (SELECT $deco AS t FROM documents),
         |s AS (
         |  SELECT ${TextAnalysis.gopherWordCountSql("t")} AS wc,
         |         ${TextAnalysis.meanWordLengthSql("t")} AS mwl,
         |         ${TextAnalysis.symbolToWordRatioSql("t")} AS sym,
         |         ${TextAnalysis.bulletLineFractionSql("t")} AS bullet,
         |         ${TextAnalysis.ellipsisLineFractionSql("t")} AS ell,
         |         ${TextAnalysis.alphaWordFractionSql("t")} AS alpha,
         |         ${TextAnalysis.stopWordCountSql("t")} AS stops,
         |         ${TextAnalysis.gopherQualityGateSql(
              "t", maxBulletFrac = 0.10, maxEllipsisFrac = 0.10)} AS keep
         |  FROM d)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN NOT (wc BETWEEN 50 AND 100000) THEN 1 ELSE 0 END) AS BIGINT) AS n_wc_fail,
         |  CAST(sum(CASE WHEN NOT (mwl BETWEEN 3.0 AND 10.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_mwl_fail,
         |  CAST(sum(CASE WHEN sym > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sym_fail,
         |  CAST(sum(CASE WHEN bullet > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet_fail,
         |  CAST(sum(CASE WHEN ell > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ell_fail,
         |  CAST(sum(CASE WHEN alpha < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_fail,
         |  CAST(sum(CASE WHEN stops < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_fail,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  round(min(mwl), 4) AS min_mwl, round(max(mwl), 4) AS max_mwl,
         |  round(max(sym), 4) AS max_sym, round(min(alpha), 4) AS min_alpha
         |FROM s""".stripMargin
    },

    // heavy hitters in the sketch's EXACT regime: the documents vocabulary
    // is 31 distinct tokens (< capacity 100 — verified at sf0.01 AND
    // sf0.1), so no space-saving eviction ever fires anywhere in the merge
    // tree: every tracked count is the true count and every error is 0.
    // GROUP BY is therefore a true oracle for the whole distributed
    // sketch path (per-partition buffers + fixed binary merge tree)
    "x14_heavy_hitters" ->
      """SELECT tok AS item, CAST(count(*) AS BIGINT) AS "count",
        |       CAST(0 AS BIGINT) AS "error"
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |      FROM documents)
        |WHERE tok <> ''
        |GROUP BY tok""".stripMargin,

    // brute-force cosine pairs over embeddings ∪ identical planted copies:
    // at the 0.99 threshold only the planted identical pairs qualify
    // (max natural cosine ≈ 0.51), which the hyperplane-LSH operator
    // finds with recall 1.0 by construction (identical vector ⇒ identical
    // bucket) — a true oracle for the whole bucketed pipeline
    // benchmark decontamination, brute-forced: distinct word-8-shingle
    // sets per doc (strings — the Spark side hashes them, collision-free)
    // intersected across every (test, train) pair; pairs sharing >= 2
    // shingles are contaminated. Exact because the df cap (1024) exceeds
    // any possible document frequency at gate SF
    "q33_curation_lineage" -> {
      import graft.operators.{C4, Curation}
      val st = "regexp_replace(regexp_replace(text, 'table', 'table.', 'g'), " +
        "'\\. ', '.' || chr(10), 'g')"
      val cleanT = s"array_to_string(${C4.cleanLinesSql("t0", 3)}, chr(10))"
      s"""WITH structured AS (
         |  SELECT doc_id, $st AS t0 FROM documents),
         |cleaned AS (
         |  SELECT doc_id, $cleanT AS t FROM structured),
         |clean_kept AS (
         |  SELECT doc_id, t FROM cleaned WHERE ${C4.keepDocumentSql("t", 5)}),
         |${TextAnalysis.topNgramFractionsSqlCtes("clean_kept", "doc_id", "t", "ng")},
         |gates AS (
         |  SELECT c.doc_id, c.t FROM clean_kept c JOIN ng ON ng.id = c.doc_id
         |  WHERE ${TextAnalysis.dupLineFractionSql("c.t")} <= 0.30
         |    AND ${TextAnalysis.dupParagraphFractionSql("c.t")} <= 0.30
         |    AND ng.top2 <= 0.20 AND ng.top3 <= 0.18 AND ng.top4 <= 0.16),
         |exact AS (
         |  SELECT min(doc_id) AS doc_id FROM gates
         |  GROUP BY ${TextAnalysis.fingerprintSql("t")}),
         |splits AS (
         |  SELECT 'split_' || CASE WHEN b < 80 THEN 'train'
         |                          WHEN b < 90 THEN 'val' ELSE 'test' END AS stage,
         |         count(*) AS n_docs
         |  FROM (SELECT ${Curation.hashBucketSql("doc_id", 100)} AS b FROM exact)
         |  GROUP BY 1)
         |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs FROM (
         |  SELECT 'clean' AS stage, count(*) AS n_docs FROM clean_kept
         |  UNION ALL SELECT 'gates', count(*) FROM gates
         |  UNION ALL SELECT 'exact', count(*) FROM exact
         |  UNION ALL SELECT stage, n_docs FROM splits)
         |ORDER BY stage""".stripMargin
    },

    "x15_contamination" ->
      """WITH te0 AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |         regexp_split_to_array(trim(lower('prefix noise ' || text)), '\s+') AS ts
        |  FROM documents WHERE doc_id % 37 = 0
        |),
        |tr0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts FROM documents
        |),
        |te AS (
        |  SELECT doc_id, CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |    ELSE list_distinct([array_to_string(ts[i:i+7], ' ')
        |                        for i in generate_series(1, len(ts) - 7)]) END AS sh
        |  FROM te0
        |),
        |tr AS (
        |  SELECT doc_id, CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
        |    ELSE list_distinct([array_to_string(ts[i:i+7], ' ')
        |                        for i in generate_series(1, len(ts) - 7)]) END AS sh
        |  FROM tr0
        |)
        |SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
        |       CAST(len(list_intersect(te.sh, tr.sh)) AS BIGINT) AS common
        |FROM te JOIN tr ON len(list_intersect(te.sh, tr.sh)) >= 2""".stripMargin,

    "x06_embed_neardup" ->
      """WITH vecs AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 50
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
        |FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99""".stripMargin)

  private def exactJaccardOracle(tail: String): String =
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || ' $tail' AS text
       |  FROM documents WHERE doc_id < 50
       |),
       |toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts FROM docs
       |),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
       |         ELSE list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
       |                             for i in generate_series(1, len(ts) - 2)])
       |    END AS shingles
       |  FROM toks
       |),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         len(list_intersect(a.shingles, b.shingles)) AS common,
       |         len(a.shingles) AS na, len(b.shingles) AS nb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
       |FROM pairs
       |WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.6""".stripMargin
}
