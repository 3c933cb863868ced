package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.pipeline.{CurationJob, Fs}

/** `RunCuration` at its defaults with a decontamination test set: a full
  * `CurationJob.run` into a fresh output, then the resume after the
  * [[Curate.ResumeFrom]] stage's manifest is deleted (that stage and every
  * stage after it recompute).
  */
final class Curate(
    spark: SparkSession, work: String, seed: Long, nDocs: Long) extends Workload {
  import Curate._

  private val docs = s"$work/docs"
  private val bench = s"$work/bench"
  private val out = s"$work/out"
  private var fullRun = Seq.empty[CurationJob.StageResult]

  def generate(): Unit = {
    Inputs.writeDocs(spark, seed, nDocs, BenchDocs, docs)
    Inputs.writeBenchmark(spark, seed, BenchDocs, bench)
  }

  def inputRows: Long = spark.read.parquet(docs).count()

  def inputPath: String = docs

  private def run(id: String): Seq[CurationJob.StageResult] =
    CurationJob.run(spark, spark.read.parquet(docs), out, id,
      inputId = CurationJob.inputIdentity(spark, docs),
      test = Some(spark.read.parquet(bench)),
      testId = CurationJob.inputIdentity(spark, bench))

  def pass(id: String, checked: Boolean, t: Option[Tracer]): Double = {
    Fs.deleteTree(out)
    val (stages, runS) = Tracer.timed(t, "run")(run(s"$id-run"))
    fullRun = stages
    if (checked) {
      Fs.deleteIfExists(s"$out/stages/$ResumeFrom/manifest.json")
      resumeS = Tracer.timed(t, "resume")(run(s"$id-resume"))._2
    }
    runS
  }

  var resumeS = 0.0

  def outputBytes: Long =
    Stages.flatMap(CurationJob.readStageManifest(out, _)).map(_.bytes).sum

  def failedRows: Long = 0L

  def checks(rows: Long): Seq[(String, Boolean)] = {
    val byStage = fullRun.map(r => r.stage -> r.rows).toMap
    val kept = spark.read.parquet(CurationJob.stageDataDir(out, "split"))
    val input = spark.read.parquet(docs)
    // id ≡ 0 (mod 37) copies id - 1 when that id is in the corpus (not the
    // first id); contamination is planted afterwards (ids ≡ 13 mod 97), so
    // a copy is exact only when neither id is planted
    val exactDup = col("doc_id") % 37 === 0 && col("doc_id") > Inputs.docBase(seed) &&
      !(col("doc_id") % 97).isin(13, 14)
    val planted = col("text").rlike("(^|\\s)bm[0-9a-f]{8}")
    Seq(
      "split_rows_equal_upstream" ->
        (fullRun.map(_.stage) == Stages && byStage("split") == byStage("decontam") &&
          kept.count() == byStage("split")),
      "no_kept_fingerprint_twice" ->
        kept.groupBy(TextAnalysis.fingerprint(col("text"))).count()
          .where(col("count") > 1).isEmpty,
      "planted_exact_duplicates_gone" ->
        (!input.where(exactDup).isEmpty && kept.where(exactDup).isEmpty),
      "planted_contamination_gone" ->
        (!input.where(planted).isEmpty && kept.where(planted).isEmpty))
  }

  def layers(t: Tracer): Map[String, Double] = {
    val run = t.phases("run")
    val tasks = t.log.tasksOf(run.jobs)
    fullRun.flatMap(r => Seq(
      s"curation_job.${r.stage}_s" -> r.sec,
      s"curation_job.${r.stage}_rows" -> r.rows.toDouble)).toMap ++ Map(
      "curation_job.resume_s" -> resumeS,
      "curation_job.shuffle_mb" -> tasks.map(_.shuffleWriteBytes).sum / 1e6,
      "curation_job.slot_util" -> t.slotUtil(run.jobs))
  }
}

object Curate {
  val Stages = Seq("clean", "gates", "exact", "neardup", "decontam", "split")
  /** Deleting this stage's manifest makes the resume recompute it and the
    * stages after it.
    */
  val ResumeFrom = "decontam"
  val BenchDocs = 500L
}
