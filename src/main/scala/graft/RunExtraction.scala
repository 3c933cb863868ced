package graft

import graft.pipeline.{Checkpoint, TranscriptGen}
import graft.schema.Turn

/** The production `spark-submit` entry point (north rule: "run via
  * spark-submit on multi-executor clusters, resumable from checkpoint").
  *
  *   spark-submit --class graft.RunExtraction <jar> \
  *     --input <parquet dir | synth:NCONVS> --output <dir> \
  *     [--buckets 64] [--run-id r1] [--group-size 8] [--salt 0]
  *
  * Master/executors come from spark-submit (no hardcoded master). Re-running
  * with the same --output resumes: completed buckets (committed manifests)
  * are never recomputed. Prints one JSON summary line on stdout.
  */
object RunExtraction {

  def main(args: Array[String]): Unit = {
    val opts = Submit.parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input required"))
    val output = opts.getOrElse("output", sys.error("--output required"))
    val buckets = opts.getOrElse("buckets", "64").toInt
    val runId = opts.getOrElse("run-id", s"run-${java.util.UUID.randomUUID().toString.take(8)}")
    val groupSize = opts.getOrElse("group-size", "8").toInt
    val salt = opts.getOrElse("salt", "0").toInt
    // cache-key component (reference: SHA-256(content) + normalized
    // options, 30-day TTL): buckets committed under a DIFFERENT config
    // hash — e.g. after a kernel upgrade — are stale and recomputed
    val configHash = opts.getOrElse("config-hash", Checkpoint.KernelConfigVersion)
    val ttlMs = opts.get("ttl-days")
      .map(_.toDouble * 24 * 3600 * 1000).map(_.toLong).getOrElse(Long.MaxValue)

    val spark = Submit.session("graft-extraction")
    import spark.implicits._

    val turns =
      if (input.startsWith("synth:"))
        TranscriptGen.dataset(spark, input.stripPrefix("synth:").toLong)
      else spark.read.parquet(input).as[Turn]

    val preDone = Checkpoint.validBuckets(output, buckets, configHash, ttlMs).size
    val t0 = System.nanoTime()
    val committed = Checkpoint.run(
      turns, output, buckets, runId,
      lineage = s"input=$input;buckets=$buckets;salt=$salt",
      groupSize = groupSize, saltBuckets = salt,
      configHash = configHash, ttlMs = ttlMs)
    val sec = (System.nanoTime() - t0) / 1e9

    println(Submit.summary(
      "job" -> "graft-extraction", "runId" -> runId, "input" -> input,
      "buckets" -> buckets, "resumed_buckets" -> preDone,
      "committed_buckets" -> committed.size, "rows" -> committed.map(_.rows).sum,
      "bytes" -> committed.map(_.bytes).sum, "sec" -> Submit.seconds(sec)))
    spark.stop()
  }
}
