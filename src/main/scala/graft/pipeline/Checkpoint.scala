package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Turn

/** Checkpointed, resumable extraction — the Iceberg-snapshot stand-in
  * (SURVEY.md §7.0: no Iceberg jars in the sandbox).
  *
  * Semantics mirror the reference's content-hash result cache
  * (cache_manager.py:119-277): work already committed is never recomputed.
  * Layout:
  *
  *   outDir/data/part_id=K/ (parquet)  -- bucket K's extracted rows
  *   outDir/manifests/part-K.json      -- atomic commit marker + lineage
  *
  * A bucket is `pmod(hash(conv_id), numBuckets)` so every conversation
  * lands wholly in one bucket (resume never splits a conversation).
  * Each bucket group's turns run through [[ExtractionJob.extract]] — the
  * one extraction path, salted spread included — and the output's
  * `part_id` is derived again from `conv_id`. Manifests are committed via
  * tmp-file + atomic rename AFTER the bucket group's data is fully
  * written; a crash mid-group leaves no manifest and the group is
  * recomputed on resume. Completed buckets are skipped by a
  * bucket-level predicate (cheaper than the row-level left_anti join for
  * partition-granularity resume; the join form is only needed for row-level
  * caching, which the reference does per document = per conversation =
  * contained in one bucket).
  */
object Checkpoint {

  /** Version tag of the extraction kernel + config semantics — the
    * normalized-options component of the reference's cache key
    * (cache_manager.py:119-170). Bump on any kernel/config change that
    * alters output: buckets committed under an older tag are invalidated
    * on resume instead of silently kept stale.
    */
  val KernelConfigVersion: String = "graft-kernel-r3"

  final case class Manifest(
      partId: Int,
      rows: Long,
      bytes: Long,
      runId: String,
      committedAtEpochMs: Long,
      lineage: String,
      configHash: String = "",
      // the store's bucket count at commit time: conversations are placed
      // mod numBuckets, so a resume under a DIFFERENT count would silently
      // drop (smaller) or duplicate (larger) conversations — recorded so
      // validBuckets/readResult can fail loudly instead
      numBuckets: Int = 0)

  // manifest I/O rides the Hadoop FileSystem seam ([[Fs]]) so the store
  // works on HDFS/object storage, not just a local disk
  private[pipeline] def manifestPath(outDir: String, partId: Int): String =
    s"$outDir/manifests/part-$partId.json"

  private def dataDir(outDir: String): String = s"$outDir/data"

  private[pipeline] def bucketDir(outDir: String, partId: Int): String =
    s"${dataDir(outDir)}/part_id=$partId"

  /** The bucket a conversation lands in. Staging, the group filter and the
    * output's `part_id` all place rows by this one expression.
    */
  private def bucketOf(numBuckets: Int): Column =
    pmod(hash(col("conv_id")), lit(numBuckets))

  def writeManifest(outDir: String, m: Manifest): Unit =
    Fs.writeJson(manifestPath(outDir, m.partId), m)

  def readManifest(outDir: String, partId: Int): Option[Manifest] =
    Fs.readJson[Manifest](manifestPath(outDir, partId))

  /** Fail loudly when a committed manifest was written under a different
    * bucket count: the placement mod changed, so "resume" would silently
    * DROP conversations (smaller count: buckets ≥ numBuckets are never
    * read) or DUPLICATE them (larger: old mod-N data unioned with new
    * mod-M recomputes). A store is bound to its bucket count for life —
    * use a fresh outDir to rebucket. numBuckets==0 manifests predate the
    * field and are accepted (legacy stores).
    */
  private def requireSameBucketCount(m: Manifest, numBuckets: Int): Unit =
    if (m.numBuckets != 0 && m.numBuckets != numBuckets)
      throw new IllegalStateException(
        s"checkpoint store was committed with numBuckets=${m.numBuckets} " +
          s"(bucket ${m.partId}) but this run uses numBuckets=$numBuckets — " +
          "resuming would drop or duplicate conversations; rebucket into a " +
          "fresh outDir instead")

  /** Buckets whose manifest is VALID for this run: committed, config hash
    * matches, and (if a TTL is set) not expired — the reference cache's
    * staleness semantics (cache_manager.py:119-170: key = content hash +
    * normalized options; :237-244: 30-day expiry). A bucket committed under
    * a different kernel/config version is treated as absent and recomputed;
    * its data is replaced by the dynamic partition overwrite.
    */
  def validBuckets(
      outDir: String, numBuckets: Int, configHash: String,
      ttlMs: Long = Long.MaxValue, nowMs: Long = System.currentTimeMillis()): Seq[Int] =
    (0 until numBuckets).filter { k =>
      readManifest(outDir, k).exists { m =>
        requireSameBucketCount(m, numBuckets)
        m.configHash == configHash && (nowMs - m.committedAtEpochMs) <= ttlMs
      }
    }

  /** Run the extraction resumably. Returns the manifests committed in THIS
    * run (buckets already committed under the SAME `configHash` and within
    * `ttlMs` are skipped entirely — their input rows are never read thanks
    * to the bucket predicate; buckets committed under a different config
    * hash are treated as stale and recomputed, cache_manager.py:119-170).
    *
    * `groupSize` buckets are processed per Spark job: small enough that a
    * crash loses bounded work, large enough to amortize job overhead. At
    * cluster scale numBuckets ≈ thousands and groupSize ≈ executors*4.
    *
    * Per-bucket row counts come from an `Observation` on the SAME job that
    * writes the data (one aggregate per bucket in the group) — no
    * post-write count() jobs, which at cluster scale (thousands of
    * buckets) would be thousands of sequential driver-launched jobs.
    */
  def run(
      turns: Dataset[Turn],
      outDir: String,
      numBuckets: Int,
      runId: String,
      lineage: String = "",
      groupSize: Int = 8,
      saltBuckets: Int = 0,
      configHash: String = "",
      ttlMs: Long = Long.MaxValue): Seq[Manifest] = {
    val spark = turns.sparkSession
    val done = validBuckets(outDir, numBuckets, configHash, ttlMs).toSet
    val todo = (0 until numBuckets).filterNot(done)
    val committed = scala.collection.mutable.ListBuffer.empty[Manifest]
    val groups = todo.grouped(groupSize).toSeq

    // with more than one group to run, stage the bucketed TODO subset
    // once: the direct form re-scans the FULL input per group (at cluster
    // scale, numBuckets/groupSize corpus scans), while the staged form
    // costs one scan + one filtered write, after which every group is a
    // partition-PRUNED read of only its own buckets. Transient (deleted on
    // completion and at the start of the next run); a crash mid-run leaves
    // only this scratch, never corrupt store state. Single-group runs —
    // the common incremental resume — keep the direct zero-copy path.
    // The name is plain: Spark's file listing skips and warns about
    // `.`/`_`-prefixed paths, and it sits outside `data/`.
    val staging = s"$outDir/staged-input"
    Fs.deleteTree(staging)
    val staged: Option[DataFrame] =
      if (groups.length <= 1) None
      else {
        val all = turns.withColumn("part_id", bucketOf(numBuckets))
        val subset =
          if (todo.size == numBuckets) all
          else all.where(col("part_id").isin(todo: _*))
        subset.write.options(Fs.writeOptions).partitionBy("part_id").parquet(staging)
        Some(spark.read.option("basePath", staging).parquet(staging))
      }

    import spark.implicits._
    groups.foreach { group =>
      val groupTurns: Dataset[Turn] = staged match {
        case Some(src) =>
          src.where(col("part_id").isin(group: _*)).drop("part_id").as[Turn]
        case None => turns.where(bucketOf(numBuckets).isin(group: _*))
      }
      // one parquet dir per bucket via dynamic partition write, observing
      // per-bucket row counts during the write itself
      val obs = org.apache.spark.sql.Observation(s"ckpt-$runId-${group.head}")
      val extracted = ExtractionJob.extract(groupTurns, saltBuckets)
        .withColumn("part_id", bucketOf(numBuckets))
      val rowCountAggs = group.map(k =>
        coalesce(sum(when(col("part_id") === k, 1L).otherwise(0L)), lit(0L))
          .as(s"rows_$k"))
      extracted.observe(obs, rowCountAggs.head, rowCountAggs.tail: _*)
        .write
        .options(Fs.writeOptions)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id")
        .parquet(dataDir(outDir))
      val rowCounts = obs.get // blocks until the write (the action) finishes
      // data for the whole group is durable; now commit each bucket
      group.foreach { k =>
        val dir = bucketDir(outDir, k)
        val rows = rowCounts.get(s"rows_$k") match {
          case Some(n: Long) => n
          case Some(n: Number) => n.longValue()
          case _ => 0L
        }
        // dynamic partition overwrite only touches partitions THIS job
        // emitted rows for: a recomputed (stale/crashed) bucket whose new
        // result is 0 rows would otherwise keep its old parquet on disk
        // while the manifest records rows=0 — readResult would serve data
        // the manifest says doesn't exist. Delete the directory explicitly —
        // but retract the STALE manifest first: a crash between dir-delete
        // and the new manifest write must never leave a manifest (rows>0,
        // old configHash) pointing at a deleted directory, which readResult
        // would treat as committed-but-empty.
        if (rows == 0L && Fs.exists(dir)) {
          Fs.deleteIfExists(manifestPath(outDir, k))
          Fs.deleteTree(dir)
        }
        val m = Manifest(k, rows, Fs.dirBytes(dir), runId,
          System.currentTimeMillis(), lineage, configHash, numBuckets)
        writeManifest(outDir, m)
        committed += m
      }
    }
    Fs.deleteTree(staging)
    committed.toSeq
  }

  /** Read back only committed buckets. Fails loudly on a bucket-count
    * mismatch and on a committed manifest (rows > 0) whose data directory
    * is missing — the manifest-present/data-missing state the commit
    * discipline guarantees can never exist, so serving around it would
    * hide corruption. Pass `configHash` to read only buckets valid for
    * that config (the validBuckets filter); the default reads every
    * committed bucket regardless of config generation — callers mixing
    * config generations mid-migration must opt in to that explicitly.
    */
  def readResult(
      spark: SparkSession, outDir: String, numBuckets: Int,
      configHash: Option[String] = None): DataFrame = {
    val done = (0 until numBuckets).flatMap(k =>
      readManifest(outDir, k).map { m =>
        requireSameBucketCount(m, numBuckets)
        m
      })
      .filter(m => configHash.forall(_ == m.configHash))
    val dirs = done.flatMap { m =>
      val dir = bucketDir(outDir, m.partId)
      if (Fs.exists(dir)) Some(dir)
      else if (m.rows == 0L) None // 0-row buckets legitimately have no dir
      else throw new IllegalStateException(
        s"bucket ${m.partId}: manifest records ${m.rows} rows but $dir is " +
          "missing — the store is corrupt (manifests are committed only " +
          "after data is durable); restore from backup or recompute")
    }
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.option("basePath", dataDir(outDir)).parquet(dirs: _*)
  }
}
