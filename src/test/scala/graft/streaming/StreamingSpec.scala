package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ExtractionJob, TranscriptGen}
import graft.schema.Turn

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) {
    // unload the state-store providers first: left loaded, their
    // maintenance thread outlives the session and fails against its
    // stopped coordinator while the next suite runs
    StateStore.stop()
    spark.stop()
  }

  test("batch replay is idempotent: re-writing the same batchId leaves no duplicates") {
    val sp = spark; import sp.implicits._
    val outDir = Files.createTempDirectory("graft-replay-out").toString + "/out"
    val all = TranscriptGen.dataset(spark, 6).collect().toSeq
    val (b0, b1) = all.splitAt(all.size / 2)

    StreamingExtract.writeBatch(b0.toDS(), 0L, outDir)
    // crash between write and checkpoint commit -> the stream REPLAYS
    // batch 0 on restart; the dynamic partition overwrite must absorb it
    StreamingExtract.writeBatch(b0.toDS(), 0L, outDir)
    StreamingExtract.writeBatch(b1.toDS(), 1L, outDir)

    val got = spark.read.parquet(outDir)
      .select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).sorted.toSeq
    val expected = all.map(t => (t.conv_id, t.turn_idx)).sorted
    assert(got == expected, s"replay duplicated or lost rows: got ${got.size}, expected ${expected.size}")
  }

  test("file-source AvailableNow stream equals batch extraction, exactly-once across restarts") {
    val sp = spark; import sp.implicits._
    val inDir = Files.createTempDirectory("graft-stream-in").toString
    val outDir = Files.createTempDirectory("graft-stream-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    val all = TranscriptGen.dataset(spark, 20).collect().toSeq
    val (first, second) = all.splitAt(all.size / 2)

    // drop 1: first half arrives
    first.toDS().write.mode("append").parquet(inDir)
    StreamingExtract.runAvailableNow(spark, inDir, outDir, ckpt)

    // drop 2: second half arrives; restart drains ONLY the new files
    second.toDS().write.mode("append").parquet(inDir)
    StreamingExtract.runAvailableNow(spark, inDir, outDir, ckpt)

    val streamed = spark.read.parquet(outDir)
      .select("conv_id", "turn_idx", "text_clean")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val batch = ExtractionJob.extract(all.toDS())
      .select("conv_id", "turn_idx", "text_clean")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.size == all.size)
  }

  test("maxFilesPerTrigger bounds micro-batches (the reference's batch_size=5 watcher semantics)") {
    val sp = spark; import sp.implicits._
    val inDir = Files.createTempDirectory("graft-mb-in").toString
    val ckpt = Files.createTempDirectory("graft-mb-ckpt").toString
    val turns = TranscriptGen.dataset(spark, 6).collect().toSeq
    // 12 separate files
    turns.grouped(math.max(turns.size / 12, 1)).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDS().coalesce(1).write.mode("append").parquet(inDir)
    }
    val nFiles = new java.io.File(inDir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 10)

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingExtract.readTurns(spark, inDir, maxFilesPerTrigger = 5)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Turn], _: Long) =>
        batchSizes.synchronized { batchSizes += batch.count() }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batchSizes.size >= 3, s"expected >=3 micro-batches for $nFiles files at 5/trigger, got $batchSizes")
    assert(batchSizes.sum == turns.size.toLong)
  }

  test("session_window sessionization closes sessions in streaming append mode") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.sessions(
      input.toDS().toDF(), "conv_id", "ts", "30 minutes", watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    def turn(c: String, i: Int, ms: Long) =
      Turn(c, i, "user", s"text $i", "", new java.sql.Timestamp(ms))
    val t0 = 1700000000000L
    val H = 3600 * 1000L
    // c1: two turns 5 min apart (one session), a third 2h later (second session)
    input.addData(Seq(turn("c1", 0, t0), turn("c1", 1, t0 + 5 * 60 * 1000L),
      turn("c1", 2, t0 + 2 * H)))
    q.processAllAvailable()
    input.addData(Seq(turn("c2", 0, t0 + 10 * H))) // advances the watermark
    q.processAllAvailable()
    input.addData(Seq(turn("c3", 0, t0 + 20 * H))) // advances it further
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT conv_id, n_rows FROM sessions_stream")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // closed: c1's 2-turn and 1-turn sessions, c2's single; c3 still open
    assert(got == Seq(("c1", 1L), ("c1", 2L), ("c2", 1L)), s"got $got")
  }
}
