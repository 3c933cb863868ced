package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.{DocType, Py, SpanTemplates, TextKernel}
import graft.schema.{ExtractedTurn, Span, Turn}

/** The core extraction pipeline:
  *
  *   scan(transcripts) → [salted repartition] → mapPartitions(kernel pooled
  *   per partition) → per-turn ExtractedTurn rows → (optionally) windowed
  *   conversation assembly.
  *
  * Spark-first design notes (SURVEY.md §4.3):
  *   - the kernel is per-turn and stateless across rows, so the map stage is
  *     narrow; pooled `TextKernel`/template instances per partition replace
  *     the reference's per-instance compiled-regex caching
  *     (templates.py:60-67) — the north rule's "pooled parser instances".
  *   - skew (giant conversations) only matters for per-conversation
  *     aggregation; `assemble` uses a single hash aggregation with
  *     `sort_array(collect_list(struct(...)))` — partial (map-side) merge
  *     works, so a 1M-turn conversation contributes partial buffers from
  *     many tasks rather than serializing through one. For pathological
  *     cases `saltBuckets` pre-spreads rows.
  *   - everything except the kernel stays in whole-stage codegen.
  */
object ExtractionJob {

  /** Per-turn extraction. `saltBuckets > 1` adds an explicit salted
    * repartition on (conv_id, salt) — used when the input layout clusters a
    * giant conversation into few input splits (the analog of the
    * reference's 50-page PDF split, REAL.py:709-774).
    *
    * The salted shuffle carries an EXPLICIT partition count (4× the
    * cluster parallelism, the same heavy-tail sizing the bench pins):
    * a bare `repartition(cols…)` is a REPARTITION_BY_COL shuffle that
    * AQE's partition coalescing may legally collapse — and coalescing is
    * BYTE-based, blind to the per-row kernel CPU cost, so a giant
    * conversation salted into several byte-small partitions gets merged
    * straight back into one task (observed at test scale: 8 salts
    * coalesced to 1 partition). REPARTITION_BY_NUM is coalesce-immune.
    *
    * This is the only place the salted spread and the pooled kernel loop
    * live: [[Checkpoint.run]] runs each bucket group through it.
    */
  def extract(turns: Dataset[Turn], saltBuckets: Int = 0): Dataset[ExtractedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val pre =
      if (saltBuckets > 1)
        turns.repartition(spark.sparkContext.defaultParallelism * 4,
          col("conv_id"), pmod(hash(col("turn_idx")), lit(saltBuckets)))
      else turns
    pre.mapPartitions { it =>
      // pooled per-partition instances (compile regexes once per task)
      val kernel = new TextKernel
      it.map(processTurn(kernel, _))
    }
  }

  /** Pure per-row transform — exposed for oracle tests. A turn the kernel
    * cannot process becomes one `success = false` row instead of a failed
    * task: empty or null text; a text that grows past the kernel's output
    * limit ([[TextKernel.outputLimit]]), with `error_message`
    * "amplification"; or any other non-fatal exception, whose class name
    * is the `error_message` (the reference's `OCRResult.success` /
    * `error_message` contract).
    */
  def processTurn(kernel: TextKernel, t: Turn): ExtractedTurn =
    try {
      kernel.processSafe(t.text) match {
        case Some(res) =>
          val lowered = Py.lower(res.text)
          val tpl = SpanTemplates.identify(res.text, lowered)
          val spans = tpl.map(_.extractFields(res.text, lowered)).getOrElse(Seq.empty)
            .map(f => Span(f.name, f.value, f.confidence, f.start, f.end, f.raw))
          ExtractedTurn(
            conv_id = t.conv_id, turn_idx = t.turn_idx, role = t.role,
            tool = t.tool,
            text_clean = res.text,
            doc_type = DocType.classifyLowered(lowered),
            template = tpl.map(_.name),
            spans = spans,
            patterns = res.metrics.patternsFound.map { case (k, v) => k -> v },
            conf_delta = res.metrics.confidenceImprovement,
            original_length = res.metrics.originalLength,
            processed_length = res.metrics.processedLength,
            words_corrected = res.metrics.wordsCorrected,
            patterns_detected = res.metrics.patternsDetected,
            success = true, error_message = None)
        case None => failedTurn(t, "empty or null text")
      }
    } catch {
      case _: TextKernel.Amplification => failedTurn(t, "amplification")
      case NonFatal(e) => failedTurn(t, e.getClass.getName)
    }

  private def failedTurn(t: Turn, error: String): ExtractedTurn =
    ExtractedTurn(
      conv_id = t.conv_id, turn_idx = t.turn_idx, role = t.role,
      tool = t.tool,
      text_clean = "", doc_type = DocType.Generic, template = None,
      spans = Seq.empty, patterns = Map.empty,
      conf_delta = 0.0,
      original_length = if (t.text == null) 0 else Py.pyLen(t.text),
      processed_length = 0, words_corrected = 0, patterns_detected = 0,
      success = false,
      error_message = Some(error))

  /** Extraction with job metrics attached via `Observation` — the Spark
    * form of the reference's running stats (SURVEY.md A4/A6;
    * text_processor.py:643-663 incremental means,
    * parallel_processor.py:63-119 ProcessingStats): turn counts,
    * success/error counts, corrections, patterns, mean confidence uplift.
    * Metrics are collected DURING the action that consumes the returned
    * Dataset (zero extra passes); read them from the Observation afterward.
    */
  def extractObserved(
      turns: Dataset[Turn],
      saltBuckets: Int = 0): (Dataset[ExtractedTurn], org.apache.spark.sql.Observation) = {
    val spark = turns.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation("extraction_metrics")
    val observed = extract(turns, saltBuckets).toDF()
      .observe(obs,
        count(lit(1)).as("turns"),
        sum(when(col("success"), 1L).otherwise(0L)).as("succeeded"),
        sum(when(!col("success"), 1L).otherwise(0L)).as("failed"),
        sum(col("words_corrected").cast("long")).as("words_corrected"),
        sum(col("patterns_detected").cast("long")).as("patterns_detected"),
        avg(col("conf_delta")).as("avg_conf_delta"))
      .as[ExtractedTurn]
    (observed, obs)
  }

  /** Order-preserving concat kernel (A7/A8): an AGGREGATE column that
    * joins `value` in ascending (`orderBy`, value) order with `sep` —
    * order restored by sort_array over struct(orderBy…, value), NOT a
    * window, so map-side partial aggregation applies and giant groups
    * don't serialize through one task. Shared by [[assemble]] and the
    * oracle-checked q34 (DuckDB `string_agg(… ORDER BY …)` mirror).
    * Struct field names never affect sort order, so every field is given
    * a fresh positional name (k0…kn, v) — callers can pass columns with
    * any name, including "v", without field-reference ambiguity.
    */
  def orderedConcat(value: Column, sep: String, orderBy: Column*): Column = {
    val keyed = orderBy.zipWithIndex.map { case (c, i) => c.as(s"k$i") }
    array_join(
      transform(
        array_sort(collect_list(struct(keyed :+ value.as("v"): _*))),
        x => x.getField("v")),
      sep)
  }

  /** Conversation-level assembly: the reference's `'\n\n'.join(pages)` in
    * stable page order (tesseract_engine.py:253, multi_engine.py:588) →
    * one hash aggregation via the [[orderedConcat]] kernel.
    */
  def assemble(extracted: Dataset[ExtractedTurn]): DataFrame = {
    extracted
      .where(col("success"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        orderedConcat(col("text_clean"), "\n\n", col("turn_idx")).as("full_text"),
        avg(col("conf_delta")).as("avg_conf_delta"),
        sum(col("patterns_detected")).as("total_patterns"),
        min(col("turn_idx")).as("first_turn"),
        max(col("turn_idx")).as("last_turn"))
  }

  /** Doc-level classification over the assembled text (the reference
    * classifies whole documents: xml_output_generator.py:66-119).
    * mapPartitions over Rows (schema-generic) instead of a per-row UDF —
    * the classifier's compiled patterns are JVM-static, the iterator form
    * keeps the field-index lookup out of the per-row path.
    */
  def classifyConversations(assembled: DataFrame): DataFrame = {
    val outSchema = assembled.schema
      .add("doc_type", org.apache.spark.sql.types.StringType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val textIdx = assembled.schema.fieldIndex("full_text")
    assembled.mapPartitions { it =>
      it.map { r =>
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ DocType.classify(r.getString(textIdx)))
      }
    }(enc)
  }
}
