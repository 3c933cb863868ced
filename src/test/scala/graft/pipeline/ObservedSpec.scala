package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ObservedSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-observed-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("checkpoint with saltBuckets: salted run output identical to unsalted (regression: salt was a no-op)") {
    val sp = spark; import sp.implicits._
    val turns = TranscriptGen.dataset(spark, 30)
    val d1 = java.nio.file.Files.createTempDirectory("ckpt-nosalt").toString
    val d2 = java.nio.file.Files.createTempDirectory("ckpt-salt").toString
    Checkpoint.run(turns, d1, numBuckets = 8, runId = "a", saltBuckets = 0)
    Checkpoint.run(turns, d2, numBuckets = 8, runId = "b", saltBuckets = 8)
    def snap(dir: String) = Checkpoint.readResult(spark, dir, 8)
      .select("conv_id", "turn_idx", "text_clean")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val a = snap(d1); val b = snap(d2)
    assert(a == b && a.nonEmpty)
  }

  test("extractObserved: metrics collected during the consuming action match ground truth") {
    val sp = spark; import sp.implicits._
    val turns = TranscriptGen.dataset(spark, 12)
    val (ds, obs) = ExtractionJob.extractObserved(turns)
    val rows = ds.collect() // the action that populates the observation
    val m = obs.get

    assert(m("turns") == rows.length.toLong)
    assert(m("succeeded") == rows.count(_.success).toLong)
    assert(m("failed") == rows.count(!_.success).toLong)
    assert(m("words_corrected") == rows.map(_.words_corrected.toLong).sum)
    assert(m("patterns_detected") == rows.map(_.patterns_detected.toLong).sum)
    val expectedAvg = rows.map(_.conf_delta).sum / rows.length
    assert(math.abs(m("avg_conf_delta").asInstanceOf[Double] - expectedAvg) < 1e-9)
  }
}
