package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: seeded inputs, the timed pass, its checks and its layers. */
trait Workload {
  /** Writes the seeded inputs (parquet) under the work directory. */
  def generate(): Unit
  def inputPath: String
  def inputRows: Long
  /** A full run into a fresh output; returns its wall seconds. A `checked`
    * pass then resumes after a fixed manifest deletion (timed as
    * [[resumeS]]) and keeps what [[checks]] needs; `t` traces both calls.
    */
  def pass(id: String, checked: Boolean, t: Option[Tracer]): Double
  /** Wall seconds of the checked pass's resume. */
  def resumeS: Double
  /** Committed output bytes of the last pass. */
  def outputBytes: Long
  /** Output rows of the checked pass written with `success = false`. */
  def failedRows: Long
  /** Named correctness checks over the checked pass. */
  def checks(rows: Long): Seq[(String, Boolean)]
  /** Per-layer metrics from the traced passes and direct layer calls. */
  def layers(t: Tracer): Map[String, Double]
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --traces DIR --launched-ms EPOCH_MS --metrics NAME:UNIT,…`
  *
  * One client, closed loop: passes run back to back in one JVM on
  * local[nproc]. Set-up (session, inputs, warm-up passes) is timed apart
  * from the timed passes, which run until `--seconds` is used up (at least
  * [[MinPasses]]); the fastest timed pass gives `rows_per_s`. `--metrics`
  * names the metrics to print (the end-to-end ones, or with `--trace 1` the
  * per-layer ones), as `BENCHMARK.json` lists them.
  */
object Main {
  val MinPasses = 4
  val WarmPasses = 1

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** The session `RunExtraction` / `RunCuration` build, on local[nproc]. */
  private def session(workload: String, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
    if (workload == "curate-chain") b.config("spark.sql.files.maxPartitionBytes", "16m")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The workloads and their input sizes. */
  private def workload(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "extract-durable" =>
        new Extract(spark, work, Inputs.writeTranscripts(spark, seed, DurableTurns, _),
          buckets = 16, groupSize = 4, dropEvery = 8, sampleTurns = 1000)
      case "extract-longturn" =>
        new Extract(spark, work, Inputs.writeLongTurns(spark, seed, LongTurns, _),
          buckets = 16, groupSize = 16, dropEvery = 4, sampleTurns = LongTurns / 10)
      case "curate-chain" => new Curate(spark, work, seed, CurateDocs)
    }

  val DurableTurns = 20000L
  val LongTurns = 320
  val CurateDocs = 5000L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"--$k required"))
    val launchedMs = opt("launched-ms").toLong
    val spark = session(opt("workload"), opt("work"))
    val code =
      try bench(spark, opt, launchedMs)
      catch { case e: Throwable => e.printStackTrace(); 2 }
      finally spark.stop()
    sys.exit(code)
  }

  /** `--metrics name:unit,name:unit,…`: the metrics to print, in order. */
  private def metricList(arg: String): Seq[(String, String)] =
    arg.split(",").toSeq.map { m =>
      val Array(n, u) = m.split(":", 2)
      n -> u
    }

  /** One run; returns the exit code. */
  private def bench(spark: SparkSession, opt: String => String, launchedMs: Long): Int = {
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val jobs = new JobLog(detail = false)
    spark.sparkContext.addSparkListener(jobs)
    val wl = workload(name, spark, opt("work"), seed)

    val genS = time(wl.generate())._2
    val rows = wl.inputRows
    val inBytes = Inputs.parquetBytes(wl.inputPath)
    // an untimed full pass: the first pass in a JVM is the slowest (JIT, and
    // codegen for each job's plan)
    val warm = (1 to WarmPasses).map(i => wl.pass(s"warm$i", false, None))
    // set-up: from the launch of the JVM to the first timed pass
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3
    System.err.println(s"perfbench: setup ${setupS}s gen ${genS}s warm ${warm.mkString("s ")}s")

    val spans = new Spans
    val detail = new JobLog(detail = true)
    val root = spans.newId()
    val tracer = if (trace) Some(new Tracer(detail, spans, root,
      Runtime.getRuntime.availableProcessors)) else None

    // a traced run alternates untraced and traced passes, so the tracing
    // overhead is measured in the same JVM
    val gc0 = gcMs
    heapPools.foreach(_.resetPeakUsage())
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val t0 = System.nanoTime()
    var est = 0.0
    var done = false
    while (!done) {
      val elapsed = (System.nanoTime() - t0) / 1e9
      done = passes.size + 1 >= MinPasses && elapsed + est >= seconds &&
        (!trace || passes.size % 2 == 1)
      val traced = trace && passes.size % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(detail)
      val p = wl.pass(s"p${passes.size}", done, tracer.filter(_ => traced))
      if (traced) { detail.settle(); spark.sparkContext.removeSparkListener(detail) }
      passes += ((p, traced))
      est = median(passes.map(_._1).toSeq)
      System.err.println(s"perfbench: pass ${passes.size} run ${p}s")
    }
    val gcS = (gcMs - gc0) / 1e3
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val ((outBytes, failedRows, checks), checkS) =
      time((wl.outputBytes, wl.failedRows, wl.checks(rows)))
    System.err.println(s"perfbench: checks ${checkS}s")
    checks.foreach { case (n, ok) => System.err.println(s"perfbench: check $n ${if (ok) "ok" else "FAILED"}") }

    val layers = tracer.map { t =>
      spark.sparkContext.addSparkListener(detail)
      val ls = wl.layers(t)
      detail.settle()
      val rps = (traced: Boolean) => rows / passes.filter(_._2 == traced).map(_._1).min
      ls ++ Map("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapMb,
        "trace.overhead_share" -> (1.0 - rps(true) / rps(false)))
    }
    jobs.settle()

    // a failed row or job lowers success_share; a failed check fails the run
    val timed = passes.map(_._1).toSeq
    val failedChecks = checks.count(!_._2)
    val attempted = rows + jobs.jobs.size + checks.size
    val failed = failedRows + jobs.failedJobs + failedChecks
    val endToEnd = Map(
      "setup_s" -> setupS,
      // the fastest pass: a pass slowed by other tenants of the host
      // (P12 in NOTES.md) is left out as long as one pass of the run is not
      "rows_per_s" -> rows / timed.min,
      "output_bytes_per_input_byte" -> outBytes.toDouble / inBytes,
      "success_share" -> (attempted - failed).toDouble / attempted)
    println(s"""{"seed":$seed,"workload":"$name","input_rows":$rows,"input_bytes":$inBytes,""" +
      s""""passes":${timed.size},"failed_share":${failed.toDouble / attempted},""" +
      s""""run_s":[${timed.mkString(",")}],"resume_s":${wl.resumeS}}""")
    if (trace) {
      spans.close(root, 0, name, 0)
      spans.write(Paths.get(opt("traces"), s"$name-seed$seed.jsonl"))
    }
    // a metric of a layer the workload does not run reads 0
    val values = layers.getOrElse(endToEnd)
    val metrics = metricList(opt("metrics")).map { case (n, unit) =>
      val v = values.getOrElse(n, 0.0)
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$unit"}"""
    }.mkString(",")
    val correct = failedChecks == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$metrics}}""")
    if (correct) 0 else 1
  }
}
