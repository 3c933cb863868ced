package graft

import graft.pipeline.{CurationJob, DocGen}

/** The curation-chain `spark-submit` entry point — the one-command
  * artifact a real user runs over a documents corpus (the curation mirror
  * of [[RunExtraction]]):
  *
  *   spark-submit --class graft.RunCuration <jar> \
  *     --input <parquet dir | synth:NDOCS> --output <dir> \
  *     [--test <benchmark parquet>] [--run-id rc1] \
  *     [--id-col doc_id] [--text-col text] [--version-tag <tag>] \
  *     [--max-partition-bytes 16m] [--span-dedup true] [--span-n 3] \
  *     [--gopher-quality true] [--gopher-min-words 50]
  *     [--gopher-max-words 100000] [--gopher-min-mwl 3.0]
  *     [--gopher-max-mwl 10.0] [--gopher-max-symbol 0.1]
  *     [--gopher-max-bullet 0.90] [--gopher-max-ellipsis 0.30]
  *     [--gopher-min-alpha 0.80] [--gopher-min-stop-words 2]
  *
  * Re-running with the same --output RESUMES: stages whose config hash
  * and upstream identity match their committed manifest are skipped;
  * changing a stage's parameters (or its upstream's output) recomputes it
  * and everything downstream. Prints one JSON line with the per-stage
  * row-count lineage.
  *
  * Heap sizing: always pin `-Xms` = `-Xmx` (add `-XX:+AlwaysPreTouch`
  * in local mode). A lazy heap ceiling lets G1 grow/shrink committed
  * memory under the Gopher kernel's allocation churn, and every
  * executor thread then page-faults into freshly committed zeroed
  * pages — measured 30× slower on that stage at `-Xmx24g` without
  * `-Xms` (BASELINE.md round-5 heap-sizing note).
  */
object RunCuration {

  def main(args: Array[String]): Unit = {
    val opts = Submit.parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input required"))
    val output = opts.getOrElse("output", sys.error("--output required"))
    val runId = opts.getOrElse("run-id",
      s"rc-${java.util.UUID.randomUUID().toString.take(8)}")
    val idCol = opts.getOrElse("id-col", "doc_id")
    val textCol = opts.getOrElse("text-col", "text")
    val spanDedup = opts.getOrElse("span-dedup", "false") match {
      case "true" => true
      case "false" => false
      case other => sys.error(s"--span-dedup must be true or false, got '$other'")
    }
    val gopherQuality = opts.getOrElse("gopher-quality", "false") match {
      case "true" =>
        val d = graft.operators.TextAnalysis.GopherQualityParams()
        Some(d.copy(
          minWords = opts.get("gopher-min-words").map(_.toInt).getOrElse(d.minWords),
          maxWords = opts.get("gopher-max-words").map(_.toInt).getOrElse(d.maxWords),
          minMeanWordLen = opts.get("gopher-min-mwl").map(_.toDouble)
            .getOrElse(d.minMeanWordLen),
          maxMeanWordLen = opts.get("gopher-max-mwl").map(_.toDouble)
            .getOrElse(d.maxMeanWordLen),
          maxSymbolRatio = opts.get("gopher-max-symbol").map(_.toDouble)
            .getOrElse(d.maxSymbolRatio),
          maxBulletFrac = opts.get("gopher-max-bullet").map(_.toDouble)
            .getOrElse(d.maxBulletFrac),
          maxEllipsisFrac = opts.get("gopher-max-ellipsis").map(_.toDouble)
            .getOrElse(d.maxEllipsisFrac),
          minAlphaFrac = opts.get("gopher-min-alpha").map(_.toDouble)
            .getOrElse(d.minAlphaFrac),
          minStopWords = opts.get("gopher-min-stop-words").map(_.toInt)
            .getOrElse(d.minStopWords)))
      case "false" =>
        val strays = opts.keys.filter(k => k.startsWith("gopher-") && k != "gopher-quality")
        require(strays.isEmpty,
          s"${strays.mkString(", ")} given without --gopher-quality true")
        None
      case other => sys.error(s"--gopher-quality must be true or false, got '$other'")
    }
    val cfg = CurationJob.Config(
      spanDedup = spanDedup,
      spanN = opts.get("span-n").map(_.toInt).getOrElse(3),
      gopherQuality = gopherQuality,
      version = opts.getOrElse("version-tag", CurationJob.Version))

    // stage handoffs are compact snappy text parquet with HEAVY per-row
    // CPU downstream (shingling, n-gram counting): the 128 MB default
    // split would hand a 2M-doc corpus to ~a dozen tasks and starve the
    // session (measured: 26 of 32 cores parked in the neardup stage).
    // Small splits keep every core fed; the scheduler amortizes the
    // extra task overhead. Tunable at the CLI: a corpus with a
    // different bytes-per-row/CPU shape can need a larger split
    // without an 8x task-count tax
    val spark = Submit.session("graft-curation",
      "spark.sql.files.maxPartitionBytes" -> opts.getOrElse("max-partition-bytes", "16m"))

    val docs =
      if (input.startsWith("synth:"))
        DocGen.dataset(spark, input.stripPrefix("synth:").toLong)
      else spark.read.parquet(input)
    val test = opts.get("test").map(spark.read.parquet(_))

    val t0 = System.nanoTime()
    // resume identity = path + file-listing fingerprint, so new/changed
    // files under the same --input invalidate the chain instead of
    // silently resuming over stale stage outputs
    val stages = CurationJob.run(
      spark, docs, output, runId, cfg,
      idCol = idCol, textCol = textCol,
      inputId = CurationJob.inputIdentity(spark, input),
      test = test,
      testId = CurationJob.inputIdentity(spark, opts.getOrElse("test", "")))
    val sec = (System.nanoTime() - t0) / 1e9

    println(Submit.summary(
      "job" -> "graft-curation", "runId" -> runId, "input" -> input,
      "stages" -> stages.map(s => s.copy(sec = Submit.seconds(s.sec))),
      "sec" -> Submit.seconds(sec)))
    spark.stop()
  }
}
