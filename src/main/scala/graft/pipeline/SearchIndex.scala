package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.ExtractedTurn

/** Search-index derived tables — the reference's SQLite index
  * (SURVEY.md S10; search_manager.py:96-268: documents → pages → chunks)
  * re-expressed as three DataFrames written after extraction.
  *
  *   - conversations: one row per conv (doc level) with assembled text,
  *     content hash (md5, the reference's index key,
  *     search_manager.py:147-149), counts
  *   - turns: one row per (conv_id, turn_idx) (page level)
  *   - chunks: word-packed index chunks (F14 no-overlap variant,
  *     search_manager.py:326-346) via posexplode
  *
  * All derive from one pass over the extracted dataset; chunking is a
  * narrow map (no shuffle beyond the doc-level aggregation).
  */
object SearchIndex {

  final case class IndexTables(
      conversations: DataFrame, turns: DataFrame, chunks: DataFrame,
      private val cached: DataFrame) {
    /** release the shared cached extraction once all three are written */
    def unpersist(): Unit = { cached.unpersist(); () }
  }

  /** `persistSource = true` (the sink-writing production shape) caches the
    * shared extraction projection so each table's write doesn't re-run the
    * kernel lineage — the caller MUST call [[IndexTables.unpersist]] after
    * the sinks are materialized. Pass `false` when no one can release the
    * cache after the consuming action (e.g. a query harness that only
    * returns a lazy DataFrame): the tables then recompute the narrow
    * extraction per consumer instead of pinning executor storage.
    */
  def build(
      extracted: Dataset[ExtractedTurn], chunkMaxLen: Int = 500,
      persistSource: Boolean = true): IndexTables = {
    val ok0 = extracted.where(col("success"))
    val ok = if (persistSource) ok0.persist() else ok0

    val conversations = ExtractionJob.assemble(ok) // reuses the cache
      .withColumn("content_hash", md5(col("full_text")))
      .select("conv_id", "n_turns", "full_text", "content_hash",
        "avg_conf_delta", "total_patterns")

    val turns = ok.toDF().select(
      col("conv_id"), col("turn_idx"), col("role"), col("text_clean"),
      md5(col("text_clean")).as("turn_hash"),
      col("doc_type"), col("patterns_detected"))

    val chunks = {
      val sp = ok.sparkSession
      import sp.implicits._
      ok.mapPartitions(_.flatMap { e =>
        graft.kernel.Chunker.index(e.text_clean, chunkMaxLen)
          .iterator.zipWithIndex.map { case (c, i) => (e.conv_id, e.turn_idx, i, c) }
      }).toDF("conv_id", "turn_idx", "chunk_idx", "chunk_text")
        .withColumn("chunk_hash", md5(col("chunk_text")))
    }

    IndexTables(conversations, turns, chunks, ok.toDF())
  }
}
