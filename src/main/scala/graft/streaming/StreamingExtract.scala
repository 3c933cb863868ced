package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.pipeline.{ExtractionJob, Fs}
import graft.schema.Turn

/** Structured-Streaming surface of the extraction engine — the reference's
  * automation/watch layer re-expressed (SURVEY.md S4/§2.11,
  * folder_watcher.py:59-186,299-393):
  *
  *   - watchdog file events + stability polling → Spark file source (files
  *     are atomic in object stores; no stability check needed)
  *   - batch_size=5 / batch_timeout=30 s micro-batching →
  *     `maxFilesPerTrigger` + `Trigger.ProcessingTime` / `AvailableNow`
  *   - the per-batch work IS the batch pipeline (`foreachBatch` →
  *     ExtractionJob), so batch and streaming share one code path.
  */
object StreamingExtract {

  val turnSchema: StructType = Encoders.product[Turn].schema

  /** File-source stream of transcript turns (parquet drops into `inDir`). */
  def readTurns(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int = 5): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(turnSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
      .as[Turn]
  }

  /** The idempotent per-batch writer `runAvailableNow` uses: a replayed
    * (batchId, batch) overwrites exactly its own `batch_id` partition.
    * Exposed so tests can drive the crash-replay path directly.
    */
  def writeBatch(batch: Dataset[Turn], batchId: Long, outDir: String): Unit = {
    ExtractionJob.extract(batch)
      .withColumn("batch_id", lit(batchId))
      .write
      .options(Fs.writeOptions)
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
  }

  /** Drain everything currently in `inDir` through the extraction pipeline
    * into `outDir`; returns after the backlog is processed (the reference's
    * "process the folder now" batch trigger).
    *
    * Delivery: `foreachBatch` is at-least-once (a crash between the batch
    * write and the checkpoint commit replays the batch on restart), so the
    * write is made IDEMPOTENT — output is partitioned by `batch_id` with
    * dynamic partition overwrite, and a replayed batch overwrites its own
    * partition instead of appending duplicates. At-least-once replay +
    * idempotent per-batch overwrite = effectively-once output.
    */
  def runAvailableNow(
      spark: SparkSession, inDir: String, outDir: String, checkpointDir: String): Unit = {
    val q = readTurns(spark, inDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        writeBatch(batch, batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Gap-based sessionization via the built-in `session_window` — one
    * definition serving BATCH (events table, q31 oracle) and STREAMING
    * (watermark bounds state; closed sessions emit in append mode once
    * the watermark passes session end). A new session starts when the gap
    * since the previous row is ≥ `gap`; `session_end` = last ts + gap.
    */
  def sessions(
      df: DataFrame, keyCol: String, tsCol: String,
      gap: String = "30 minutes",
      watermark: Option[String] = None): DataFrame = {
    // cast BEFORE the watermark: a cast inside session_window would be a
    // different expression than the watermarked column and streaming
    // append mode would reject the aggregation as unwatermarked
    val cast = df.withColumn(tsCol, col(tsCol).cast("timestamp"))
    val wm = watermark.fold(cast)(w => cast.withWatermark(tsCol, w))
    wm.groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_rows"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_rows"))
  }
}
