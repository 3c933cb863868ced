package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel.{DocType, FieldSpan, SpanTemplate, SpanTemplates, TextKernel}
import graft.pipeline.{Checkpoint, ExtractionJob, Fs}
import graft.schema.{ExtractedTurn, Turn}

/** `RunExtraction` over a parquet input, with no salt: a full
  * `Checkpoint.run` into a fresh store, then the resume after the manifests
  * of every `dropEvery`-th bucket are deleted (at most one group, so the
  * resume takes the direct single-group path).
  */
final class Extract(
    spark: SparkSession, work: String, gen: String => Unit,
    buckets: Int, groupSize: Int, dropEvery: Int, sampleTurns: Int) extends Workload {
  require(buckets / dropEvery <= groupSize)
  import Extract._
  import spark.implicits._

  private val input = s"$work/input"
  private val store = s"$work/store"
  private var summaryAfterRun = Summary(0L, 0, 0, 0L)
  private var resumeRows = 0L

  def generate(): Unit = gen(input)

  def inputPath: String = input

  private def turns: Dataset[Turn] = spark.read.parquet(input).as[Turn]

  def inputRows: Long = spark.read.parquet(input).count()

  private def run(id: String): Seq[Checkpoint.Manifest] =
    Checkpoint.run(turns, store, buckets, id, lineage = s"input=$input",
      groupSize = groupSize, configHash = Checkpoint.KernelConfigVersion)

  private def resume(id: String): Seq[Checkpoint.Manifest] = {
    (0 until buckets by dropEvery).foreach(k => Fs.deleteIfExists(s"$store/manifests/part-$k.json"))
    run(id)
  }

  def pass(id: String, checked: Boolean, t: Option[Tracer]): Double = {
    Fs.deleteTree(store)
    val (committed, runS) = Tracer.timed(t, "run")(run(s"$id-run"))
    if (t.isDefined) {
      filesWritten = Inputs.files(store).size
      manifestsCommitted = committed.size
    }
    if (checked) {
      summaryAfterRun = summary(result)
      val (resumed, s) = Tracer.timed(t, "resume")(resume(s"$id-resume"))
      resumeRows = resumed.map(_.rows).sum
      resumeS = s
    }
    runS
  }

  var resumeS = 0.0

  private var filesWritten = 0
  private var manifestsCommitted = 0

  def outputBytes: Long =
    (0 until buckets).flatMap(Checkpoint.readManifest(store, _)).map(_.bytes).sum

  private def result: DataFrame = Checkpoint.readResult(spark, store, buckets)

  /** One scan's order-independent summary of turn rows: the row count, the
    * sum of key hashes, the sum of whole-row hashes (the store digest) and
    * the rows written with `success = false` (when the frame has the column).
    */
  private def summary(df: DataFrame): Summary = {
    val cols = df.columns.filter(_ != "part_id").map(col).toIndexedSeq
    def hashSum(c: org.apache.spark.sql.Column) = coalesce(sum(c.cast("decimal(38,0)")), lit(0))
    val failed =
      if (df.columns.contains("success")) sum(when(col("success"), 0L).otherwise(1L)) else lit(0L)
    val r = df.agg(count(lit(1)), hashSum(xxhash64(col("conv_id"), col("turn_idx"))),
      hashSum(xxhash64(to_json(struct(cols: _*)))), coalesce(failed, lit(0L))).head()
    Summary(r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)), r.getLong(3))
  }

  /** The input's turns by length (ties by key), cut into `sampleTurns`
    * strata of equal turn counts: each stratum's middle turn, and the
    * stratum's input chars.
    */
  private lazy val strata: Seq[(Turn, Long)] = {
    val all = turns.collect().sortBy(t => (t.text.length, t.conv_id, t.turn_idx))
    val k = math.min(sampleTurns, all.length)
    (0 until k).map { j =>
      val s = all.slice(j * all.length / k, (j + 1) * all.length / k)
      (s(s.length / 2), s.map(_.text.length.toLong).sum)
    }
  }

  /** The fixed sample: one turn per length stratum, so it has the input's
    * length profile.
    */
  lazy val sample: Seq[Turn] = strata.map(_._1)

  private lazy val stored = summary(result)

  def failedRows: Long = stored.failed

  def checks(rows: Long): Seq[(String, Boolean)] = {
    val keys = Seq("conv_id", "turn_idx")
    // the input's keys are distinct, so equal counts and equal key-hash sums
    // mean the same key set
    val in = summary(spark.read.parquet(input))
    val keysEqual = stored.rows == rows && in.rows == rows && stored.keyHash == in.keyHash
    val manifestRows = (0 until buckets)
      .flatMap(Checkpoint.readManifest(store, _)).map(_.rows).sum
    val kernel = new TextKernel
    val expected = sampleDigest(sample.map(ExtractionJob.processTurn(kernel, _)))
    val actual = sampleDigest(result.drop("part_id")
      .join(sample.map(t => (t.conv_id, t.turn_idx)).toDF(keys: _*), keys)
      .as[ExtractedTurn].collect().toSeq)
    Seq(
      "read_result_keys_equal_input" -> keysEqual,
      "manifest_rows_sum_to_input" -> (manifestRows == rows),
      "sample_matches_process_turn" -> (expected == actual && sample.nonEmpty),
      "store_unchanged_by_resume" -> (stored == summaryAfterRun))
  }

  def layers(t: Tracer): Map[String, Double] = {
    val (kernel, kernelNs) = kernelLayer(t)
    kernel ++ jobLayer(t, kernelNs) ++ checkpointLayer(t) + ("checkpoint.resume_s" -> resumeS)
  }

  /** Every kernel stage called single-threaded on [[sample]], in `process`
    * order, in ns per input char of the sample. Also the kernel time of the
    * whole input, estimated from `processTurn` on the sample: each sample
    * turn's ns per char × its stratum's chars. A stage's cost per char may
    * grow with turn length (`correctAbbreviations` is quadratic), and the
    * strata keep the estimate to the input's own lengths.
    */
  private def kernelLayer(t: Tracer): (Map[String, Double], Double) = {
    val k = new TextKernel
    val ns = mutable.LinkedHashMap(KernelStages.map(_ -> 0L): _*)
    val inChars = sample.map(_.text.length.toLong).sum
    var outChars = 0L
    t.spans.timed(t.root, "kernel.stages") { parent =>
      sample.foreach { turn =>
        def stage[A](name: String, count: A => Long)(f: => A): A = {
          val id = t.spans.newId()
          val s0 = t.spans.nowUs
          val n0 = System.nanoTime()
          val r = f
          ns(name) += System.nanoTime() - n0
          t.spans.close(id, parent, s"kernel.$name", s0, count(r))
          r
        }
        type Fixed = (String, Int)
        val len = (s: String) => s.length.toLong
        val fixes = (r: Fixed) => r._2.toLong
        val s1 = stage("clean", len)(k.cleanText(turn.text))
        val s2 = stage("confused", fixes)(k.correctConfusedCharacters(s1))._1
        val s3 = stage("spelling", fixes)(k.correctSpelling(s2))._1
        val s4 = stage[(String, mutable.LinkedHashMap[String, mutable.ListBuffer[String]])](
          "patterns", _._2.valuesIterator.map(_.size.toLong).sum)(k.detectAndFormatPatterns(s3))._1
        val s5 = stage("abbrev", fixes)(k.correctAbbreviations(s4))._1
        val s6 = stage("format", len)(k.formatText(s5))
        val s7 = stage("validate", len)(k.validateConsistency(s6))
        val tpl = stage[Option[SpanTemplate]]("identify", _.size.toLong)(SpanTemplates.identify(s7))
        stage[Seq[FieldSpan]]("fields", _.size.toLong)(
          tpl.map(_.extractFields(s7)).getOrElse(Seq.empty))
        stage[String]("doctype", _ => 1L)(DocType.classify(s7))
        outChars += s7.length
      }
    }
    val turnNs = t.spans.timed(t.root, "kernel.process_turn") { parent =>
      sample.map { turn =>
        val id = t.spans.newId()
        val s0 = t.spans.nowUs
        val n0 = System.nanoTime()
        ExtractionJob.processTurn(k, turn)
        val d = System.nanoTime() - n0
        t.spans.close(id, parent, "kernel.processTurn", s0, turn.text.length)
        d
      }
    }
    val inputNs = strata.zip(turnNs).map { case ((turn, chars), d) =>
      d.toDouble / math.max(1, turn.text.length) * chars
    }.sum
    (ns.map { case (n, v) => s"kernel.${n}_ns_per_char" -> v.toDouble / inChars }.toMap ++ Map(
      "kernel.process_turn_us" -> turnNs.sum / 1e3 / sample.size,
      "kernel.max_turn_ms" -> turnNs.max / 1e6,
      "kernel.out_chars_per_in_char" -> outChars.toDouble / inChars),
      inputNs)
  }

  /** Parquet scan → noop and `ExtractionJob.extract` → noop; the kernel's
    * share of the job's core time is `kernelNs`, the estimate of
    * [[kernelLayer]].
    */
  private def jobLayer(t: Tracer, kernelNs: Double): Map[String, Double] = {
    val scanS = t.phase("extraction_job.scan") {
      spark.read.parquet(input).write.format("noop").mode("overwrite").save()
    }._2
    val ((_, jobs), extractS) = t.phase("extraction_job.extract_noop") {
      ExtractionJob.extract(turns).write.format("noop").mode("overwrite").save()
    }
    val tasks = t.log.tasksOf(jobs)
    val coreMs = tasks.map(_.runMs).sum.toDouble
    Map(
      "extraction_job.scan_s" -> scanS,
      "extraction_job.extract_noop_s" -> extractS,
      "extraction_job.glue_share" -> (1.0 - kernelNs / 1e6 / coreMs),
      "extraction_job.task_skew" -> Tracer.skew(tasks))
  }

  /** Jobs of the last traced full run and resume. */
  private def checkpointLayer(t: Tracer): Map[String, Double] = {
    val (run, resume) = (t.phases("run"), t.phases("resume"))
    val groups = math.ceil(buckets.toDouble / groupSize).toInt
    val writes = run.jobs.filter(j => t.log.tasksOf(Seq(j)).exists(_.recordsWritten > 0))
    val groupJobs = writes.takeRight(groups)
    val other = run.jobs.filterNot(groupJobs.contains)
    val tasks = t.log.tasksOf(run.jobs)
    val (_, vbS) = Main.time((1 to 5).foreach(_ =>
      Checkpoint.validBuckets(store, buckets, Checkpoint.KernelConfigVersion)))
    val scanned = t.log.tasksOf(resume.jobs).map(_.recordsRead).sum
    Map(
      "checkpoint.staging_s" -> Tracer.sec(other),
      "checkpoint.group_jobs_s" -> Tracer.sec(groupJobs),
      "checkpoint.driver_gap_s" -> run.gapS,
      "checkpoint.jobs" -> run.jobs.size.toDouble,
      "checkpoint.slot_util" -> t.slotUtil(run.jobs),
      "checkpoint.task_skew" -> groupJobs.map(j => Tracer.skew(t.log.tasksOf(Seq(j))))
        .sum / math.max(1, groupJobs.size),
      "checkpoint.files_written" -> filesWritten.toDouble,
      "checkpoint.bytes_written" -> tasks.map(_.bytesWritten).sum.toDouble,
      "checkpoint.manifests_committed" -> manifestsCommitted.toDouble,
      "checkpoint.valid_buckets_ms" -> vbS * 1e3 / 5,
      "checkpoint.resume_useful_ratio" -> resumeRows.toDouble / math.max(1L, scanned))
  }
}

object Extract {
  final case class Summary(rows: Long, keyHash: BigDecimal, rowHash: BigDecimal, failed: Long)

  val KernelStages = Seq("clean", "confused", "spelling", "patterns", "abbrev",
    "format", "validate", "identify", "fields", "doctype")

  /** Order-independent digest of extracted rows (sorted canonical text). */
  def sampleDigest(rows: Seq[ExtractedTurn]): String = {
    val lines = rows.map { e =>
      val spans = e.spans.map(s => s"${s.name}=${s.value}@${s.start}-${s.end}:${s.confidence}:${s.raw}")
      val pats = e.patterns.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.mkString(",")}" }
      Seq(e.conv_id, e.turn_idx, e.role, e.tool, e.text_clean, e.doc_type,
        e.template.getOrElse(""), spans.mkString(";"), pats.mkString(";"),
        e.conf_delta, e.original_length, e.processed_length, e.words_corrected,
        e.patterns_detected, e.success, e.error_message.getOrElse("")).mkString("\u0001")
    }.sorted
    Main.md5(lines.mkString("\u0002"))
  }
}
