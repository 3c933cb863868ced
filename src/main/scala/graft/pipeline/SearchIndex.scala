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
  * All derive from the extracted dataset uncached: each table a consumer
  * reads recomputes the narrow extraction, so nothing stays pinned in
  * executor storage for a caller to release. Chunking is a narrow map (no
  * shuffle beyond the doc-level aggregation).
  */
object SearchIndex {

  final case class IndexTables(conversations: DataFrame, turns: DataFrame, chunks: DataFrame)

  def build(extracted: Dataset[ExtractedTurn], chunkMaxLen: Int = 500): IndexTables = {
    val ok = extracted.where(col("success"))

    val conversations = ExtractionJob.assemble(ok)
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

    IndexTables(conversations, turns, chunks)
  }
}
