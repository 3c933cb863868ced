package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions, SparkSession}
import org.json4s._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.TextKernel
import graft.schema.{ExtractedTurn, Turn}

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-pipeline-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A scheme-qualified (`file://`) Hadoop path for a fresh temp dir: the
    * checkpoint/curation/backup suites drive the pipeline through the
    * Hadoop FileSystem surface (the one HDFS/object-store deployments
    * use), not through `java.nio`-only local paths.
    */
  private def fsTmp(prefix: String): String =
    "file://" + Files.createTempDirectory(prefix)

  private lazy val goldenTexts: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/golden_kernel.json")
    val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val json = org.json4s.jackson.JsonMethods.parse(s)
    (json \ "rows").asInstanceOf[JArray].arr.map { r =>
      (r \ "text") match { case JString(t) => t; case _ => "" }
    }.toSet
  }

  test("generator parity with the python fixture generator (bit-identical)") {
    // tools/gen_goldens.py generated texts for conv<40, turn<min(turns,30);
    // every Scala-generated text for the same coordinates must be in the
    // golden corpus (proving splitmix64 + fragment parity).
    var checked = 0
    (0L until 40L).foreach { conv =>
      (0 until math.min(TranscriptGen.convTurns(conv), 30)).foreach { turn =>
        val t = TranscriptGen.turnText(conv, turn)
        assert(goldenTexts.contains(t), s"conv=$conv turn=$turn text not in goldens: ${t.take(60)}")
        checked += 1
      }
    }
    info(s"$checked generated texts matched python generator output")
    assert(checked > 600)
  }

  test("generator dataset: schema, counts, ordering keys, heavy tail") {
    val n = 120
    val ds = TranscriptGen.dataset(spark, n)
    val rows = ds.collect()
    val expectedTotal = TranscriptGen.totalTurns(n)
    assert(rows.length == expectedTotal)
    val byConv = rows.groupBy(_.conv_id)
    assert(byConv.size == n)
    // turn_idx dense 0..k-1 per conversation
    byConv.foreach { case (c, ts) =>
      assert(ts.map(_.turn_idx).sorted.sameElements(0 until ts.length), c)
    }
    // heavy tail: conv 0 and conv 97 are 50x
    assert(byConv("conv00000000").length >= 200)
    assert(byConv("conv00000097").length >= 200)
    // ts monotone within conversation
    byConv.foreach { case (c, ts) =>
      val sorted = ts.sortBy(_.turn_idx)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(!b.ts.before(a.ts), c)
        case _           =>
      }
    }
  }

  test("extraction matches the kernel applied per turn (distributed = local)") {
    val sp = spark; import sp.implicits._
    val ds = TranscriptGen.dataset(spark, 30)
    val out = ExtractionJob.extract(ds).collect()
    val kernel = new TextKernel
    val inputs = ds.collect().map(t => (t.conv_id, t.turn_idx) -> t).toMap
    assert(out.length == inputs.size)
    out.foreach { e =>
      val t = inputs((e.conv_id, e.turn_idx))
      val expected = kernel.process(t.text)
      assert(e.text_clean == expected.text,
        s"distributed != local for ${e.conv_id}/${e.turn_idx}")
      assert(e.conf_delta == expected.metrics.confidenceImprovement)
      assert(e.success)
    }
  }

  test("error rows: empty text becomes success=false row, not an exception") {
    val sp = spark; import sp.implicits._
    val ts = java.sql.Timestamp.from(java.time.Instant.EPOCH)
    val ds = spark.createDataset(Seq(
      Turn("c1", 0, "user", "texto normal valido aqui", "", ts),
      Turn("c1", 1, "assistant", "", "", ts),
      Turn("c1", 2, "tool", null, "search", ts)))
    val out = ExtractionJob.extract(ds).collect().sortBy(_.turn_idx)
    assert(out.length == 3)
    assert(out(0).success)
    assert(!out(1).success && out(1).error_message.isDefined)
    assert(!out(2).success)
  }

  test("error rows: a turn whose processing throws becomes one success=false row") {
    val ts = java.sql.Timestamp.from(java.time.Instant.EPOCH)
    val turn = Turn("c9", 3, "user", "texto \uD83D\uDE42 valido aqui", "", ts)
    // a null kernel makes the per-turn transform throw
    val row = ExtractionJob.processTurn(null, turn)
    assert(!row.success)
    assert(row.error_message.contains(classOf[NullPointerException].getName))
    assert(row.conv_id == "c9" && row.turn_idx == 3 && row.text_clean == "")
    // lengths are code points (19 here, 20 UTF-16 units), as on a success row
    assert(row.original_length == 19 && row.spans.isEmpty)
    assert(ExtractionJob.processTurn(new TextKernel, turn).original_length == 19)
  }

  test("salting invariance: output independent of salt bucket count") {
    val sp = spark; import sp.implicits._
    val ds = TranscriptGen.dataset(spark, 25)
    def norm(rows: Array[ExtractedTurn]) =
      rows.map(e => (e.conv_id, e.turn_idx, e.text_clean, e.conf_delta))
        .sortBy(r => (r._1, r._2)).toSeq
    val base = norm(ExtractionJob.extract(ds, saltBuckets = 0).collect())
    val salted = norm(ExtractionJob.extract(ds, saltBuckets = 8).collect())
    val salted64 = norm(ExtractionJob.extract(ds, saltBuckets = 64).collect())
    assert(base == salted)
    assert(base == salted64)
  }

  test("salting spread: a giant conversation's turns land on MULTIPLE tasks, not one") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    // conv 0 is the heavy-tail 50x conversation (every 97th); without salt
    // a conv_id repartition serializes all its turns through ONE task —
    // the salt must spread it across partitions (the north rule's skew story)
    // one-partition input: the generator's range layout puts all of
    // conv0's turns in one split, the exact "clustered input" shape
    // salting exists for
    val ds = TranscriptGen.dataset(spark, 25, partitions = 1)
    val giant = TranscriptGen.convTurns(0)
    assert(giant >= 200, s"conv0 must be the 50x tail, got $giant turns")
    // measured through the REAL operator: spark_partition_id after the
    // kernel map reflects the salted shuffle's partitions (narrow map).
    // This is also the AQE regression guard: a bare repartition(cols...)
    // was byte-coalesced back to ONE partition at this scale, silently
    // un-spreading the giant conversation
    def partsOfConv0(saltBuckets: Int): Long =
      ExtractionJob.extract(ds, saltBuckets).toDF()
        .withColumn("pid", spark_partition_id())
        .where(col("conv_id") === "conv00000000")
        .select(countDistinct(col("pid"))).first().getLong(0)
    assert(partsOfConv0(0) == 1L, "unsalted clustered input = one task (the skew)")
    assert(partsOfConv0(8) > 1L, "salted extraction must spread the giant conversation")
  }

  test("assembly: stable turn ordering regardless of input row order") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    val ds = TranscriptGen.dataset(spark, 12)
    // shuffle input rows deliberately
    val shuffled = ds.orderBy(hash(col("turn_idx"), col("conv_id"))).as[Turn]
    val extracted = ExtractionJob.extract(shuffled)
    val assembled = ExtractionJob.assemble(extracted).collect()
      .map(r => r.getAs[String]("conv_id") -> r).toMap

    val kernel = new TextKernel
    val expected = ds.collect().groupBy(_.conv_id).map { case (c, ts) =>
      c -> ts.sortBy(_.turn_idx).map(t => kernel.process(t.text).text).mkString("\n\n")
    }
    expected.foreach { case (c, fullText) =>
      val row = assembled(c)
      assert(row.getAs[String]("full_text") == fullText, s"conv $c assembly mismatch")
      assert(row.getAs[Long]("n_turns") == TranscriptGen.convTurns(c.stripPrefix("conv").toLong))
    }
    assert(assembled.size == 12)
  }

  test("checkpoint: resume skips completed buckets, final result identical") {
    val sp = spark; import sp.implicits._
    val outDir = fsTmp("graft-ckpt")
    val ds = TranscriptGen.dataset(spark, 40)
    val numBuckets = 8

    // full run
    val run1 = Checkpoint.run(ds, outDir, numBuckets, runId = "run-1", groupSize = 3)
    assert(run1.map(_.partId).sorted == (0 until numBuckets))
    val full = Checkpoint.readResult(spark, outDir, numBuckets)
    val fullCount = full.count()
    assert(fullCount == TranscriptGen.totalTurns(40))

    // simulate crash: delete 2 manifests (data may or may not survive)
    Seq(2, 5).foreach { k =>
      Fs.deleteIfExists(s"$outDir/manifests/part-$k.json")
    }

    // resume run: only buckets 2 and 5 recomputed
    val run2 = Checkpoint.run(ds, outDir, numBuckets, runId = "run-2", groupSize = 3)
    assert(run2.map(_.partId).sorted == Seq(2, 5))
    // untouched manifests keep run-1
    (0 until numBuckets).filterNot(Seq(2, 5).contains).foreach { k =>
      assert(Checkpoint.readManifest(outDir, k).get.runId == "run-1", s"bucket $k recomputed")
    }
    assert(Checkpoint.readManifest(outDir, 2).get.runId == "run-2")

    val resumed = Checkpoint.readResult(spark, outDir, numBuckets)
    assert(resumed.count() == fullCount)
    // content identical to a direct extraction
    val direct = ExtractionJob.extract(ds).collect()
      .map(e => (e.conv_id, e.turn_idx, e.text_clean)).sortBy(r => (r._1, r._2)).toSeq
    val fromCkpt = resumed.select("conv_id", "turn_idx", "text_clean").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(r => (r._1, r._2)).toSeq
    assert(fromCkpt == direct)

    // manifests carry row counts that add up
    val manifestRows = (0 until numBuckets)
      .flatMap(Checkpoint.readManifest(outDir, _)).map(_.rows).sum
    assert(manifestRows == fullCount)
  }

  test("checkpoint invalidation: changed config hash recomputes, unchanged skips, TTL expires") {
    val outDir = fsTmp("graft-ckpt-inv")
    val ds = TranscriptGen.dataset(spark, 20)
    val numBuckets = 4

    val run1 = Checkpoint.run(ds, outDir, numBuckets, runId = "r1",
      groupSize = 4, configHash = "kernel-v1")
    assert(run1.map(_.partId).sorted == (0 until numBuckets))

    // unchanged config: zero recompute
    val run2 = Checkpoint.run(ds, outDir, numBuckets, runId = "r2",
      groupSize = 4, configHash = "kernel-v1")
    assert(run2.isEmpty)
    (0 until numBuckets).foreach(k =>
      assert(Checkpoint.readManifest(outDir, k).get.runId == "r1"))

    // changed config (kernel/config version bump): every bucket is stale
    val run3 = Checkpoint.run(ds, outDir, numBuckets, runId = "r3",
      groupSize = 4, configHash = "kernel-v2")
    assert(run3.map(_.partId).sorted == (0 until numBuckets))
    (0 until numBuckets).foreach { k =>
      val m = Checkpoint.readManifest(outDir, k).get
      assert(m.runId == "r3" && m.configHash == "kernel-v2")
    }

    // data still complete and correct after the invalidation-driven rewrite
    assert(Checkpoint.readResult(spark, outDir, numBuckets).count() ==
      TranscriptGen.totalTurns(20))

    // manifest row counts (from the write-time Observation) add up exactly
    val manifestRows = (0 until numBuckets)
      .flatMap(Checkpoint.readManifest(outDir, _)).map(_.rows).sum
    assert(manifestRows == TranscriptGen.totalTurns(20))

    // TTL: an expired manifest is stale even with a matching config hash
    val now = System.currentTimeMillis()
    assert(Checkpoint.validBuckets(outDir, numBuckets, "kernel-v2",
      ttlMs = Long.MaxValue, nowMs = now).size == numBuckets)
    assert(Checkpoint.validBuckets(outDir, numBuckets, "kernel-v2",
      ttlMs = 0L, nowMs = now + 10000).isEmpty)
    Thread.sleep(10)
    val run4 = Checkpoint.run(ds, outDir, numBuckets, runId = "r4",
      groupSize = 4, configHash = "kernel-v2", ttlMs = 1L)
    assert(run4.map(_.partId).sorted == (0 until numBuckets))
  }

  test("checkpoint: stale bucket recomputed to ZERO rows deletes its old data dir") {
    import org.apache.spark.sql.functions.{col, hash, pmod, lit}
    val outDir = fsTmp("graft-ckpt-zero")
    val ds = TranscriptGen.dataset(spark, 20)
    val numBuckets = 4

    val run1 = Checkpoint.run(ds, outDir, numBuckets, runId = "r1",
      groupSize = 4, configHash = "v1")
    assert(run1.map(_.partId).sorted == (0 until numBuckets))

    // find a bucket and drop every conversation that lands in it, then
    // recompute under a new config hash: the bucket's new result is 0 rows
    val victim = 1
    import spark.implicits._
    val filtered = ds.where(
      pmod(hash(col("conv_id")), lit(numBuckets)) =!= victim).as[Turn]
    assert(filtered.count() < ds.count(), "victim bucket must be non-empty")

    val run2 = Checkpoint.run(filtered, outDir, numBuckets, runId = "r2",
      groupSize = 4, configHash = "v2")
    assert(run2.map(_.partId).sorted == (0 until numBuckets))
    val m = Checkpoint.readManifest(outDir, victim).get
    assert(m.rows == 0L && m.runId == "r2")
    // the stale parquet from r1 must be GONE — dynamic partition overwrite
    // never touches a partition the new job wrote no rows for
    assert(!Fs.exists(s"$outDir/data/part_id=$victim"),
      "zero-row recomputed bucket must have its old data directory deleted")
    assert(m.bytes == 0L)
    // readResult serves exactly the filtered input, no stale rows
    assert(Checkpoint.readResult(spark, outDir, numBuckets).count() == filtered.count())
  }

  test("checkpoint: bucket-count mismatch fails loudly instead of dropping/duplicating") {
    val outDir = fsTmp("graft-ckpt-nb")
    val ds = TranscriptGen.dataset(spark, 10)
    Checkpoint.run(ds, outDir, 8, runId = "nb-1", groupSize = 3)
    // placement is mod numBuckets: a "resume" under a different count
    // would silently lose (smaller) or duplicate (larger) conversations
    intercept[IllegalStateException] { Checkpoint.run(ds, outDir, 4, runId = "nb-2") }
    intercept[IllegalStateException] { Checkpoint.run(ds, outDir, 16, runId = "nb-3") }
    intercept[IllegalStateException] { Checkpoint.readResult(spark, outDir, 4) }
    assert(Checkpoint.readResult(spark, outDir, 8).count() ==
      TranscriptGen.totalTurns(10))
    // the multi-group run's input staging scratch never outlives the run
    assert(!Fs.exists(s"$outDir/staged-input"))
  }

  test("checkpoint: committed manifest over a missing data dir fails readResult loudly") {
    val outDir = fsTmp("graft-ckpt-miss")
    val ds = TranscriptGen.dataset(spark, 10)
    val run1 = Checkpoint.run(ds, outDir, 4, runId = "m-1")
    val k = run1.filter(_.rows > 0).head.partId
    Fs.deleteTree(s"$outDir/data/part_id=$k")
    // manifest-present/data-missing violates the commit discipline —
    // surfacing corruption beats silently serving a partial store
    intercept[IllegalStateException] { Checkpoint.readResult(spark, outDir, 4) }
  }

  test("manifests round-trip control characters, quotes and backslashes") {
    val outDir = fsTmp("graft-manifest-codec")
    val odd = "a\nb\tc \"q\" back\\slash \u0001"
    val m = Checkpoint.Manifest(3, 10L, 2048L, s"run-$odd", 1234L, s"input=$odd",
      configHash = odd, numBuckets = 8)
    Checkpoint.writeManifest(outDir, m)
    assert(Checkpoint.readManifest(outDir, 3).contains(m))
    // resume reads every manifest: one odd lineage must not make the
    // store unreadable
    assert(Checkpoint.validBuckets(outDir, 8, odd) == Seq(3))
    val s = CurationJob.StageManifest("gates", 7L, 99L, s"rc-$odd", 5678L,
      configHash = odd, upstreamId = s"clean@$odd", lineage = s"lineage $odd")
    CurationJob.writeStageManifest(outDir, s)
    assert(CurationJob.readStageManifest(outDir, "gates").contains(s))
  }

  test("manifests and backup.json in the string-built format still read back") {
    val outDir = fsTmp("graft-manifest-legacy")
    // a checkpoint manifest from before configHash/numBuckets existed
    Fs.writeAtomic(s"$outDir/manifests/part-2.json",
      """{"partId":2,"rows":41,"bytes":5120,"runId":"r1",""" +
        """"committedAtEpochMs":1700000000000,"lineage":"input=synth:40"}""")
    assert(Checkpoint.readManifest(outDir, 2).contains(Checkpoint.Manifest(
      2, 41L, 5120L, "r1", 1700000000000L, "input=synth:40", "", 0)))
    Fs.writeAtomic(s"$outDir/manifests/part-3.json",
      """{"partId":3,"rows":7,"bytes":900,"runId":"r\"2","committedAtEpochMs":1700000000001,""" +
        """"lineage":"input=a\\b","configHash":"graft-kernel-r2","numBuckets":4}""")
    assert(Checkpoint.readManifest(outDir, 3).contains(Checkpoint.Manifest(
      3, 7L, 900L, "r\"2", 1700000000001L, "input=a\\b", "graft-kernel-r2", 4)))
    Fs.writeAtomic(s"$outDir/stages/exact/manifest.json",
      """{"stage":"exact","rows":12,"bytes":3456,"runId":"rc1",""" +
        """"committedAtEpochMs":1700000000002,"configHash":"9f1c",""" +
        """"upstreamId":"gates@rc1@1700000000001@15","lineage":"exact fingerprint dedup"}""")
    assert(CurationJob.readStageManifest(outDir, "exact").contains(CurationJob.StageManifest(
      "exact", 12L, 3456L, "rc1", 1700000000002L, "9f1c",
      "gates@rc1@1700000000001@15", "exact fingerprint dedup")))

    val backupDir = fsTmp("graft-backup-legacy")
    Fs.writeAtomic(s"$backupDir/b1/backup.json",
      """{"backupId":"b1","sourceDir":"file:/tmp/store","mode":"incremental",""" +
        """"createdAtEpochMs":1700000000500,"watermarkEpochMs":1700000000001,""" +
        """"buckets":[2,3],"bucketIdentities":[{"k":2,"id":"r1@1700000000000@41@5120"},""" +
        """{"k":3,"id":"r\"2@1700000000001@7@900"}],"files":[""" +
        """{"relPath":"manifests/part-2.json","md5":"0123456789abcdef0123456789abcdef","bytes":180},""" +
        """{"relPath":"data/part_id=2/part-00000.snappy.parquet",""" +
        """"md5":"fedcba9876543210fedcba9876543210","bytes":5120}]}""")
    assert(Backup.readBackupManifest(backupDir, "b1").contains(Backup.BackupManifest(
      "b1", "file:/tmp/store", "incremental", 1700000000500L, 1700000000001L, Seq(2, 3),
      Seq(
        Backup.BackupFile("manifests/part-2.json", "0123456789abcdef0123456789abcdef", 180L),
        Backup.BackupFile("data/part_id=2/part-00000.snappy.parquet",
          "fedcba9876543210fedcba9876543210", 5120L)),
      Seq(Backup.BucketIdentity(2, "r1@1700000000000@41@5120"),
        Backup.BucketIdentity(3, "r\"2@1700000000001@7@900")))))
  }

  /** The files `fs.listFiles(s, true)` yields: the listing `Fs` and
    * `CurationJob.inputIdentity` made before they walked `listStatus`.
    */
  private def listFilesReference(s: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val p = Fs.hpath(s)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val buf = scala.collection.mutable.ListBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  /** `CurationJob.inputIdentity` as computed from the `listFiles` loop. */
  private def inputIdentityReference(input: String): String = {
    var acc = 0L
    val files = listFilesReference(input)
    files.foreach { f =>
      acc ^= TranscriptGen.sm64(f.getPath.toString.hashCode.toLong ^
        (f.getLen * 0x9E3779B97F4A7C15L) ^ f.getModificationTime)
    }
    s"$input@n=${files.size},h=${java.lang.Long.toHexString(acc)}"
  }

  test("Fs listings equal the listFiles walk on a nested partitioned store") {
    val dir = fsTmp("graft-fs-list") + "/store"
    spark.range(60).selectExpr("id", "id % 3 AS a", "id % 2 AS b")
      .write.partitionBy("a", "b").parquet(dir)
    val onDisk = {
      val s = Files.walk(Paths.get(dir.stripPrefix("file://")))
      try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    }
    assert(onDisk.contains("b=1") && onDisk.contains("_SUCCESS") &&
      onDisk.exists(_.endsWith(".crc")), s"store lacks nested dirs or sidecars: $onDisk")

    val ref = listFilesReference(dir)
    assert(ref.exists(_.getPath.getName == "_SUCCESS"))
    assert(!ref.exists(_.getPath.getName.endsWith(".crc")))
    assert(Fs.dirBytes(dir) == ref.map(_.getLen).sum)
    val listed = Fs.listFilesRecursive(dir)
    assert(listed.size == ref.size && listed.toSet == ref.map(_.getPath.toString).toSet)
    assert(CurationJob.inputIdentity(spark, dir) == inputIdentityReference(dir))

    // a single file: its own bytes, itself, and the listFiles identity
    val file = listed.find(_.endsWith(".parquet")).get
    assert(Fs.dirBytes(file) == listFilesReference(file).map(_.getLen).sum)
    assert(Fs.listFilesRecursive(file) == Seq(file))
    assert(CurationJob.inputIdentity(spark, file) == inputIdentityReference(file))

    // a missing path: 0 bytes, no files, and an identity that fails loudly
    val missing = s"$dir/absent"
    assert(Fs.dirBytes(missing) == 0L)
    assert(Fs.listFilesRecursive(missing) == Seq.empty)
    intercept[java.io.IOException] { CurationJob.inputIdentity(spark, missing) }
  }

  test("Fs deletes, reads and lists an absent path without failing") {
    val root = fsTmp("graft-fs-absent")
    val missing = s"$root/absent"
    Fs.deleteIfExists(missing)
    Fs.deleteTree(missing)
    assert(Fs.readString(missing).isEmpty)
    assert(Fs.listDirNames(missing).isEmpty)
    assert(!Fs.exists(missing))

    // and present ones as before
    val file = s"$root/d/sub/f.json"
    Fs.writeAtomic(file, "x")
    assert(Fs.readString(file).contains("x"))
    assert(Fs.listDirNames(s"$root/d") == Seq("sub"))
    Fs.deleteIfExists(file)
    assert(!Fs.exists(file) && Fs.exists(s"$root/d/sub"))
    Fs.deleteTree(s"$root/d")
    assert(!Fs.exists(s"$root/d"))
  }

  test("writeAtomic commits into absent paths and over existing files") {
    val root = fsTmp("graft-fs-commit")
    def names(dir: String): Set[String] =
      Option(new java.io.File(Fs.hpath(dir).toUri.getPath).list()).map(_.toSet).getOrElse(Set.empty)

    // into an absent path whose parent is absent too
    val fresh = s"$root/new/deeper/m.json"
    Fs.writeAtomic(fresh, """{"v":1}""")
    assert(Fs.readString(fresh).contains("""{"v":1}"""))
    assert(names(s"$root/new/deeper") == Set("m.json", ".m.json.crc"))

    // over an existing file: the new, longer content reads back through
    // the checksummed filesystem (a stale .crc would fail the read); on
    // file:// the commit is Fs.Local's rename, rename(2) for the data file
    // and then for its .crc
    assert(Fs.fsOf(Fs.hpath(fresh)).isInstanceOf[Fs.Local])
    val content = """{"v":2,"pad":"""" + "x" * 600 + "\"}"
    Fs.writeAtomic(fresh, content)
    assert(Fs.readString(fresh).contains(content))
    assert(!Fs.md5(fresh).startsWith("unreadable:"))
    assert(names(s"$root/new/deeper") == Set("m.json", ".m.json.crc"))

    // re-committing every bucket of a store under a new configHash
    // replaces each existing manifest
    val outDir = s"$root/store"
    val ds = TranscriptGen.dataset(spark, 8)
    Checkpoint.run(ds, outDir, 2, runId = "c-1", groupSize = 2, configHash = "v1")
    val run2 = Checkpoint.run(ds, outDir, 2, runId = "c-2", groupSize = 2, configHash = "v2")
    assert(run2.map(_.partId).sorted == Seq(0, 1))
    run2.foreach(m => assert(Checkpoint.readManifest(outDir, m.partId).contains(m)))
    assert(names(s"$outDir/manifests") ==
      Set("part-0.json", ".part-0.json.crc", "part-1.json", ".part-1.json.crc"))
  }

  /** Mode bits (permissions, sticky, setuid/setgid) of a local path. */
  private def modeOf(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  /** Every path under `root` (not `root` itself), by kind. */
  private def treeModes(root: String): Seq[(String, Boolean, Int)] = {
    val r = Paths.get(Fs.hpath(root).toUri.getPath)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(_ != r)
      .map(p => (r.relativize(p).toString, Files.isDirectory(p), modeOf(p))).toList
    finally s.close()
  }

  test("Fs.Local gives files, dirs and .crc the stock LocalFileSystem's permissions") {
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
    val hc = spark.sparkContext.hadoopConfiguration
    val saved = hc.get("fs.permissions.umask-mode")
    try Seq("022", "077").foreach { umask =>
      hc.set("fs.permissions.umask-mode", umask)
      val root = fsTmp(s"graft-fs-perm-$umask")
      // the stock filesystem (forks chmod) writes the reference tree
      val stock = FileSystem.newInstance(new java.net.URI("file:///"), hc)
      assert(stock.isInstanceOf[LocalFileSystem] && !stock.isInstanceOf[Fs.Local])
      stock.mkdirs(Fs.hpath(s"$root/stock/d/e"))
      val out = stock.create(Fs.hpath(s"$root/stock/d/e/f.json"))
      try out.write('x') finally out.close()
      stock.close()
      val ref = treeModes(s"$root/stock").map { case (rel, _, mode) => rel -> mode }.toMap
      val dirMode = ref("d"); val fileMode = ref("d/e/f.json")
      assert(ref("d/e/.f.json.crc") == fileMode)
      assert(dirMode == (0x1FF & ~Integer.parseInt(umask, 8)), s"umask $umask: dir ${dirMode.toOctalString}")
      // the same tree through Fs: mkdirs, a fresh and an overwriting
      // writeAtomic, copyFile
      Fs.mkdirs(s"$root/fs/d/e")
      Fs.writeAtomic(s"$root/fs/d/e/f.json", "x")
      Fs.writeAtomic(s"$root/fs/d/e/f.json", "xy")
      Fs.copyFile(s"$root/fs/d/e/f.json", s"$root/fs/d/g/f.json")
      val viaFs = treeModes(s"$root/fs")
      assert(viaFs.map(_._1).toSet ==
        Set("d", "d/e", "d/g", "d/e/f.json", "d/e/.f.json.crc", "d/g/f.json", "d/g/.f.json.crc"))
      viaFs.foreach { case (rel, isDir, mode) =>
        assert(mode == (if (isDir) dirMode else fileMode), s"umask $umask: $rel ${mode.toOctalString}")
      }
      // a Checkpoint.run: staging, dynamic-overwrite parquet, _SUCCESS,
      // manifests; its write tasks go through Fs.Raw
      val written = org.apache.hadoop.fs.FileSystem.getStatistics("file", classOf[Fs.Raw])
      val before = written.getBytesWritten
      val store = s"$root/store"
      Checkpoint.run(TranscriptGen.dataset(spark, 6), store, 2, runId = s"p-$umask", groupSize = 1)
      assert(written.getBytesWritten - before >= Fs.dirBytes(s"$store/data"))
      val inStore = treeModes(store)
      assert(inStore.exists(_._1.endsWith(".parquet")) && inStore.exists(_._1.endsWith(".crc")) &&
        inStore.exists(_._1.endsWith("part-0.json")))
      inStore.foreach { case (rel, isDir, mode) =>
        assert(mode == (if (isDir) dirMode else fileMode), s"umask $umask: $rel ${mode.toOctalString}")
      }
    } finally {
      if (saved == null) hc.unset("fs.permissions.umask-mode")
      else hc.set("fs.permissions.umask-mode", saved)
    }
  }

  test("Fs.Raw leaves a sticky bit and a setgid directory to the stock chmod") {
    import org.apache.hadoop.fs.RawLocalFileSystem
    import org.apache.hadoop.fs.permission.FsPermission
    def raw(fs: RawLocalFileSystem) = { fs.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration); fs }
    val ours = raw(new Fs.Raw); val stock = raw(new RawLocalFileSystem)
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    def dir(mode: String) = {
      val d = Files.createTempDirectory("graft-fs-mode")
      assert(new ProcessBuilder("chmod", mode, d.toString).start().waitFor() == 0)
      d
    }
    // a sticky bit: java.nio cannot set it, the fallback does
    val sticky = dir("0755")
    ours.setPermission(Fs.hpath(sticky.toUri.toString), perm("1750"))
    assert(modeOf(sticky) == Integer.parseInt("1750", 8), modeOf(sticky).toOctalString)
    // chmod keeps a directory's setgid; so does the fallback
    Seq(ours, stock).foreach { fs =>
      val setgid = dir("2755")
      fs.setPermission(Fs.hpath(setgid.toUri.toString), perm("0700"))
      assert(modeOf(setgid) == Integer.parseInt("2700", 8), s"$fs: ${modeOf(setgid).toOctalString}")
    }
    // plain bits in-process, equal to the stock chmod
    Seq("0600", "0644", "0751", "0000").foreach { p =>
      val a = dir("0777"); val b = dir("0777")
      ours.setPermission(Fs.hpath(a.toUri.toString), perm(p))
      stock.setPermission(Fs.hpath(b.toUri.toString), perm(p))
      assert(modeOf(a) == modeOf(b) && modeOf(a) == Integer.parseInt(p, 8))
    }
  }

  test("Fs.writeOptions resolve file:// to Fs.Local in a write job's configuration") {
    import org.apache.hadoop.fs.FileSystem
    val uri = new java.net.URI("file:///")
    // what Spark's newHadoopConfWithOptions builds for a writer's options
    val jobConf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    Fs.writeOptions.foreach { case (k, v) => jobConf.set(k, v) }
    assert(FileSystem.get(uri, jobConf).isInstanceOf[Fs.Local])
    assert(FileSystem.get(uri, jobConf) ne FileSystem.get(uri, jobConf), "cache bypassed")
    // and the session's own cached filesystem stays the stock one
    assert(!FileSystem.get(uri, spark.sparkContext.hadoopConfiguration).isInstanceOf[Fs.Local])
    assert(Fs.writeOptions.keySet.forall(_.startsWith("fs.file.")))
  }

  test("dynamic partition overwrites through Fs.Local leave no staging or _temporary") {
    val outDir = fsTmp("graft-dyn-clean")
    val ds = TranscriptGen.dataset(spark, 8)
    Checkpoint.run(ds, s"$outDir/store", 4, runId = "d-1", groupSize = 2)
    Checkpoint.run(ds, s"$outDir/store", 4, runId = "d-2", groupSize = 2, configHash = "v2")
    val sp = spark; import sp.implicits._
    val batch = ds.limit(20).as[Turn]
    graft.streaming.StreamingExtract.writeBatch(batch, 0L, s"$outDir/stream")
    graft.streaming.StreamingExtract.writeBatch(batch, 0L, s"$outDir/stream")
    graft.streaming.StreamingExtract.writeBatch(batch, 1L, s"$outDir/stream")
    val names = treeModes(outDir).map(_._1)
    assert(names.exists(_.contains("part_id=")) && names.exists(_.contains("batch_id=1")))
    val left = names.filter(n => n.split('/').exists(c => c.startsWith(".spark-staging") || c == "_temporary"))
    assert(left.isEmpty, s"left behind: $left")
    assert(spark.read.parquet(s"$outDir/stream").count() == 40)
  }

  test("readResult reads a store mixing all-nullable and required-column buckets") {
    import org.apache.spark.sql.functions.{col, hash, pmod, lit}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.Type.Repetition
    val sp = spark; import sp.implicits._
    val outDir = fsTmp("graft-ckpt-mixed")
    val ds = TranscriptGen.dataset(spark, 20)
    val numBuckets = 4
    val committed = Checkpoint.run(ds, outDir, numBuckets, runId = "new")
    val k = committed.filter(_.rows > 0).head.partId
    // rewrite bucket k the way the struct-flattening writer did: every
    // top-level column nullable, so primitives land as `optional`
    ds.where(pmod(hash(col("conv_id")), lit(numBuckets)) === k).as[Turn]
      .mapPartitions { it =>
        val kernel = new TextKernel
        it.map(t => PipelineSpec.WithBucket(ExtractionJob.processTurn(kernel, t), k))
      }
      .select(col("e.*"), col("part_id"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_id").parquet(s"$outDir/data")
    def turnIdxRepetition(bucket: Int): Repetition = {
      val file = Fs.listFilesRecursive(s"$outDir/data/part_id=$bucket")
        .find(_.endsWith(".parquet")).get
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        Fs.hpath(file), spark.sparkContext.hadoopConfiguration))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("turn_idx")).getRepetition
      } finally reader.close()
    }
    val other = committed.filter(m => m.rows > 0 && m.partId != k).head.partId
    assert(turnIdxRepetition(k) == Repetition.OPTIONAL)
    assert(turnIdxRepetition(other) == Repetition.REQUIRED)

    def norm(rows: Seq[ExtractedTurn]) = rows.sortBy(e => (e.conv_id, e.turn_idx))
    val read = Checkpoint.readResult(spark, outDir, numBuckets)
      .drop("part_id").as[ExtractedTurn].collect().toSeq
    assert(read.size == TranscriptGen.totalTurns(20))
    assert(norm(read) == norm(ExtractionJob.extract(ds).collect().toSeq))
  }

  test("backup: corrupt/id-mismatched manifests are skipped, stale staging reaped") {
    val outDir = fsTmp("graft-bk-guard")
    val backupDir = fsTmp("graft-bk-guard-dst")
    val ds = TranscriptGen.dataset(spark, 10)
    Checkpoint.run(ds, outDir, 4, runId = "b-1")
    Backup.backup(outDir, 4, backupDir, "b1")
    // a truncated backup.json must not brick the listing for the whole dir
    Fs.mkdirs(s"$backupDir/bad")
    Fs.writeAtomic(s"$backupDir/bad/backup.json", "{truncated")
    // a hand-copied dir whose manifest still declares the original id
    // must not alias two directories under one id
    Fs.mkdirs(s"$backupDir/b1-old")
    Fs.copyFile(s"$backupDir/b1/backup.json", s"$backupDir/b1-old/backup.json")
    assert(Backup.listBackups(backupDir).map(_.backupId) == Seq("b1"))
    // a crashed backup's .tmp staging dir is invisible to the listing and
    // reaped when its id is retried
    Fs.mkdirs(s"$backupDir/.b2.tmp/files/stale")
    assert(Backup.listBackups(backupDir).map(_.backupId) == Seq("b1"))
    Backup.backup(outDir, 4, backupDir, "b2")
    assert(!Fs.exists(s"$backupDir/.b2.tmp"))
    assert(Backup.listBackups(backupDir).map(_.backupId) == Seq("b1", "b2"))
  }

  test("backup/restore: full + incremental watermarks, hash validation, id reuse") {
    val outDir = fsTmp("graft-bk-src")
    val backupDir = fsTmp("graft-bk-dst")
    val ds = TranscriptGen.dataset(spark, 30)
    val numBuckets = 8
    Checkpoint.run(ds, outDir, numBuckets, runId = "r1", groupSize = 4)
    val total = TranscriptGen.totalTurns(30)

    // full backup captures every bucket
    val b1 = Backup.backup(outDir, numBuckets, backupDir, "b1")
    assert(b1.mode == "full" && b1.buckets.sorted == (0 until numBuckets))
    assert(b1.files.nonEmpty && Backup.readBackupManifest(backupDir, "b1").isDefined)

    // nothing changed: incremental is empty and commits NO backup dir
    val b2 = Backup.backup(outDir, numBuckets, backupDir, "b2", incremental = true)
    assert(b2.buckets.isEmpty && Backup.readBackupManifest(backupDir, "b2").isEmpty)

    // recommit two buckets, then incremental picks up exactly those — no
    // sleep: selection is per-bucket IDENTITY (runId@commit@rows@bytes),
    // so a recommit within the same millisecond is still detected
    Seq(2, 5).foreach(k => Fs.deleteIfExists(s"$outDir/manifests/part-$k.json"))
    Checkpoint.run(ds, outDir, numBuckets, runId = "r2", groupSize = 4)
    val b3 = Backup.backup(outDir, numBuckets, backupDir, "b3", incremental = true)
    assert(b3.mode == "incremental" && b3.buckets.sorted == Seq(2, 5))

    // restore full, then layer the incremental: bucket dirs are REPLACED,
    // and the restored store reads back complete and exact
    val restoreDir = fsTmp("graft-bk-restore")
    val r1 = Backup.restore(backupDir, "b1", restoreDir)
    assert(r1.ok && r1.filesRestored == b1.files.size)
    val r3 = Backup.restore(backupDir, "b3", restoreDir)
    assert(r3.ok)
    assert(Checkpoint.readResult(spark, restoreDir, numBuckets).count() == total)
    assert(Checkpoint.readManifest(restoreDir, 2).get.runId == "r2")
    assert(Checkpoint.readManifest(restoreDir, 0).get.runId == "r1")

    // corruption: flip a byte in a backed-up data file -> restore refuses
    // to write ANYTHING
    // flip a byte UNDERNEATH the filesystem (raw java.nio on the local
    // file) — simulates bit rot; Hadoop's local FS then fails its .crc
    // check on read, which Fs.md5 reports as corruption, not a crash
    val victim = Paths.get(backupDir.stripPrefix("file://"), "b1", "files",
      b1.files.find(_.relPath.contains("part_id=")).get.relPath)
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x7f).toByte
    Files.write(victim, bytes)
    val badDir = fsTmp("graft-bk-bad")
    val rBad = Backup.restore(backupDir, "b1", badDir)
    assert(!rBad.ok && rBad.corruptFiles.nonEmpty && rBad.filesRestored == 0)
    assert(!Fs.exists(s"$badDir/data"), "corrupt restore must write nothing")

    val b4 = Backup.backup(outDir, numBuckets, backupDir, "b4")
    assert(b4.mode == "full" && b4.buckets.sorted == (0 until numBuckets))

    // reusing an id must FAIL, not silently replace a chain link; explicit
    // overwrite is the escape hatch
    intercept[IllegalStateException] {
      Backup.backup(outDir, numBuckets, backupDir, "b4")
    }
    assert(Backup.backup(outDir, numBuckets, backupDir, "b4",
      overwrite = true).mode == "full")

  }

  test("curation chain: stage lineage counts, resume, downstream-only invalidation, decontam") {
    val outDir = fsTmp("graft-curation")
    val docs = DocGen.dataset(spark, 800, partitions = 8)

    // ---- cold run: every stage computes, counts chain monotonically
    val r1 = CurationJob.run(spark, docs, outDir, "c1", inputId = "synth:800")
    assert(r1.map(_.stage) == Seq("clean", "gates", "exact", "neardup", "split"))
    assert(r1.forall(!_.resumed))
    val rows = r1.map(s => s.stage -> s.rows).toMap
    assert(rows("clean") > 0 && rows("clean") < 800,
      s"C4 must drop some adversarial docs: ${rows("clean")}")
    assert(rows("gates") < rows("clean"), "repetition gates must drop documents")
    assert(rows("exact") < rows("gates"), "planted exact duplicates must be removed")
    assert(rows("neardup") < rows("exact"), "planted near duplicates must be removed")
    assert(rows("split") == rows("neardup"))
    // manifest rows == actual parquet rows for every stage (the lineage a
    // downstream consumer trusts)
    r1.foreach { s =>
      assert(spark.read.parquet(CurationJob.stageDataDir(outDir, s.stage)).count() == s.rows,
        s"manifest/parquet row mismatch at ${s.stage}")
    }
    // dedup output has no two docs with equal fingerprint
    val dd = spark.read.parquet(CurationJob.stageDataDir(outDir, "exact"))
    assert(dd.groupBy(graft.operators.TextAnalysis.fingerprint(functions.col("text")))
      .count().where(functions.col("count") > 1).count() == 0,
      "exact duplicates must be gone after the exact stage")
    // split partitions cover the output exactly
    val split = spark.read.parquet(CurationJob.stageDataDir(outDir, "split"))
    assert(split.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    assert(split.count() == rows("split"))

    // ---- resume: identical config skips every stage
    val r2 = CurationJob.run(spark, docs, outDir, "c2", inputId = "synth:800")
    assert(r2.forall(_.resumed), s"full resume expected, got $r2")

    // ---- invalidation: a gates-stage parameter change recomputes gates
    // and everything downstream but leaves clean untouched
    val cfg3 = CurationJob.Config(maxDupLineFrac = 0.25)
    val r3 = CurationJob.run(spark, docs, outDir, "c3", cfg3, inputId = "synth:800")
    val resumed3 = r3.map(s => s.stage -> s.resumed).toMap
    assert(resumed3("clean") && !resumed3("gates") && !resumed3("exact") &&
      !resumed3("neardup") && !resumed3("split"), s"got $r3")
    val rows3 = r3.map(s => s.stage -> s.rows).toMap

    // ---- decontamination: plant a benchmark of 3 curated docs — each
    // shares all its 8-gram shingles with its train source, so those
    // (plus any other train doc sharing >= 2 such 8-grams) are removed;
    // split recomputes on the new upstream (same cfg3 so clean..dedup
    // resume; the dedup parquet is RE-read because r3 overwrote it)
    val bench = spark.read.parquet(CurationJob.stageDataDir(outDir, "neardup"))
      .orderBy(functions.col("doc_id")).limit(3)
    val r4 = CurationJob.run(spark, docs, outDir, "c4", cfg3,
      inputId = "synth:800", test = Some(bench), testId = "bench-3")
    assert(r4.map(_.stage) == Seq("clean", "gates", "exact", "neardup", "decontam", "split"))
    val resumed4 = r4.map(s => s.stage -> s.resumed).toMap
    assert(resumed4("clean") && resumed4("gates") && resumed4("exact") &&
      resumed4("neardup") && !resumed4("decontam") && !resumed4("split"), s"got $r4")
    val decontamRows = r4.find(_.stage == "decontam").get.rows
    assert(decontamRows <= rows3("neardup") - 3 && decontamRows > 0,
      s"decontam must remove at least the 3 planted benchmark docs: " +
        s"$decontamRows of ${rows3("neardup")}")

    // the whole chain obeys the cache-lifecycle invariant: four full runs
    // (incl. minhash dedup and decontamination) left nothing persisted
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "curation chain must leave no persisted RDDs behind")
  }

  test("curation chain: optional C4 span-dedup stage — lineage, resume, toggle invalidation") {
    val outDir = fsTmp("graft-curation-spans")
    val docs = DocGen.dataset(spark, 600, partitions = 8)
    val cfgS = CurationJob.Config(spanDedup = true)

    // cold: the spans stage sits between clean and gates and must drop
    // documents — DocGen's planted exact duplicates are 6..19-line docs
    // whose every span is a non-keeper duplicate, so they come back empty
    val r1 = CurationJob.run(spark, docs, outDir, "s1", cfgS, inputId = "synth:600")
    assert(r1.map(_.stage) ==
      Seq("clean", "spans", "gates", "exact", "neardup", "split"))
    val rows = r1.map(s => s.stage -> s.rows).toMap
    assert(rows("spans") < rows("clean"),
      s"planted whole-doc duplicates must be emptied by span dedup: $rows")
    assert(rows("gates") <= rows("spans"))
    // whole-doc exact duplicates vanish at the spans stage, but near-dup
    // plants COLLAPSE there instead: all spans shared with the original
    // are removed, leaving only the distinctive tail line — and those
    // identical remainders become fresh exact duplicates the exact stage
    // then removes. Downstream stages still monotonically shrink
    assert(rows("exact") <= rows("gates"), s"got $rows")
    // the surviving corpus has no duplicated 3-line span anywhere
    val spansOut = spark.read.parquet(CurationJob.stageDataDir(outDir, "spans"))
    val unitCol = functions.split(functions.col("text"), "\n")
    val dupSpans = spansOut
      .where(functions.size(unitCol) >= 3)
      .select(functions.explode(functions.transform(
        functions.sequence(functions.lit(0), functions.size(unitCol) - 3),
        i => functions.md5(functions.concat_ws("\n",
          functions.slice(unitCol, i + 1, functions.lit(3)))))).as("k"))
      .groupBy("k").count().where(functions.col("count") > 1).count()
    assert(dupSpans == 0, "no 3-unit span may occur twice after the spans stage")

    // resume: identical config skips everything including spans
    val r2 = CurationJob.run(spark, docs, outDir, "s2", cfgS, inputId = "synth:600")
    assert(r2.forall(_.resumed), s"full resume expected, got $r2")

    // toggling the flag off removes the stage and invalidates gates and
    // downstream (upstream identity flips back to clean) — never clean
    val r3 = CurationJob.run(spark, docs, outDir, "s3", inputId = "synth:600")
    assert(r3.map(_.stage) == Seq("clean", "gates", "exact", "neardup", "split"))
    val resumed3 = r3.map(s => s.stage -> s.resumed).toMap
    assert(resumed3("clean") && !resumed3("gates"), s"got $r3")
    // ...and RETRACTS the now-inactive spans stage: its corpus-sized
    // parquet and its manifest (which no downstream stage pins any more)
    // must not linger as a stale, current-looking stage dir
    assert(!Fs.exists(s"$outDir/stages/spans"),
      "toggling span-dedup off must retract the orphaned spans stage")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("curation chain: optional Gopher quality gate — equivalence, resume, invalidation") {
    import graft.operators.TextAnalysis
    val outA = fsTmp("graft-curation-gq-base")
    val outB = fsTmp("graft-curation-gq")
    val docs = DocGen.dataset(spark, 600, partitions = 8)
    // the synthetic vocabulary contains no English stop words, so the
    // corpus-appropriate configuration turns that one rule off (the
    // documented knob); every other threshold stays at the paper default
    val p = TextAnalysis.GopherQualityParams(minStopWords = 0)
    val cfgQ = CurationJob.Config(gopherQuality = Some(p))

    val rA = CurationJob.run(spark, docs, outA, "a1", inputId = "synth:600")
    val rB = CurationJob.run(spark, docs, outB, "b1", cfgQ, inputId = "synth:600")
    // the gate composes INTO the gates stage — no new stage, no new scan
    assert(rB.map(_.stage) == Seq("clean", "gates", "exact", "neardup", "split"))
    val gA = rA.find(_.stage == "gates").get.rows
    val gB = rB.find(_.stage == "gates").get.rows
    assert(gB > 0 && gB < gA,
      s"quality gate must drop short documents but not all: $gB of $gA")
    // pushable predicates commute: the gated chain's stage output equals
    // the baseline gates output filtered by the standalone predicate
    val baseOut = spark.read.parquet(CurationJob.stageDataDir(outA, "gates"))
    val expected = baseOut
      .where(TextAnalysis.gopherQualityGate(functions.col("text"), p)).count()
    assert(gB == expected, s"gated rows $gB != standalone-filtered $expected")
    val qOut = spark.read.parquet(CurationJob.stageDataDir(outB, "gates"))
    assert(qOut.where(!TextAnalysis.gopherQualityGate(functions.col("text"), p))
      .count() == 0, "every survivor must satisfy the gate")

    // resume: identical params skip every stage
    val rB2 = CurationJob.run(spark, docs, outB, "b2", cfgQ, inputId = "synth:600")
    assert(rB2.forall(_.resumed), s"full resume expected, got $rB2")
    // a threshold change recomputes gates + downstream, never clean
    val cfgQ2 = CurationJob.Config(gopherQuality = Some(p.copy(minWords = 40)))
    val rB3 = CurationJob.run(spark, docs, outB, "b3", cfgQ2, inputId = "synth:600")
    val resumed3 = rB3.map(s => s.stage -> s.resumed).toMap
    assert(resumed3("clean") && !resumed3("gates") && !resumed3("exact") &&
      !resumed3("split"), s"got $rB3")
    assert(rB3.find(_.stage == "gates").get.rows > gB,
      "relaxing minWords must keep more documents")
    // turning the gate off restores the pre-existing hash: gates rows
    // return to baseline (and old chains' manifests stay valid — outA's
    // second run resumes everything)
    val rB4 = CurationJob.run(spark, docs, outB, "b4", inputId = "synth:600")
    assert(rB4.find(_.stage == "gates").get.rows == gA)
    val rA2 = CurationJob.run(spark, docs, outA, "a2", inputId = "synth:600")
    assert(rA2.forall(_.resumed), "no-gate config hash must be unchanged")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("inputIdentity fingerprints the file listing: appends under the same path invalidate") {
    val dir = Files.createTempDirectory("graft-inpid").toString + "/d"
    DocGen.dataset(spark, 10).write.parquet(dir)
    val id1 = CurationJob.inputIdentity(spark, dir)
    assert(id1.startsWith(dir + "@n="), s"path inputs must carry a listing fingerprint: $id1")
    DocGen.dataset(spark, 5).write.mode("append").parquet(dir)
    val id2 = CurationJob.inputIdentity(spark, dir)
    assert(id1 != id2, "appending files must change the identity (stage 1 invalidates)")
    // synthetic descriptors fully determine content — identity is the descriptor
    assert(CurationJob.inputIdentity(spark, "synth:800") == "synth:800")
    // an unlistable path FAILS LOUDLY instead of degrading to a path-only
    // identity (two failed listings would share an identity across file
    // changes — the stale resume the fingerprint exists to prevent)
    intercept[java.io.IOException] {
      CurationJob.inputIdentity(spark, "/graft-definitely-missing/nope")
    }
  }

  test("planted contamination: decontam removes EXACTLY the contaminated survivors") {
    val outDir = fsTmp("graft-curation-plant")
    val nBench = 50L
    // the reserved bm-token space cannot collide with the corpus vocab,
    // so contaminated == planted — the expected removal count is exact
    val docs = DocGen.plantContamination(
      DocGen.dataset(spark, 800, partitions = 8), nBench)
    val bench = DocGen.benchmarkDocs(spark, nBench)
    val r = CurationJob.run(spark, docs, outDir, "p1",
      inputId = "synth:800:planted", test = Some(bench), testId = s"bench:$nBench")
    val rows = r.map(s => s.stage -> s.rows).toMap
    // count planted text that SURVIVED to the decontam stage's input (a
    // content predicate, not id arithmetic: dedup can copy planted text
    // onto unplanted ids and remove planted originals)
    val plantedSurvivors = spark.read
      .parquet(CurationJob.stageDataDir(outDir, "neardup"))
      .where(functions.col("text").rlike("bm[0-9a-f]{8}")).count()
    val removed = rows("neardup") - rows("decontam")
    assert(plantedSurvivors > 0, "some planted docs must survive cleaning+dedup")
    assert(removed == plantedSurvivors,
      s"decontam removed $removed, planted survivors $plantedSurvivors")
    // and nothing planted survives decontamination
    assert(spark.read.parquet(CurationJob.stageDataDir(outDir, "decontam"))
      .where(functions.col("text").rlike("bm[0-9a-f]{8}")).count() == 0L)
  }

  test("curation run refuses a test benchmark without a testId (resume-identity trap)") {
    val outDir = fsTmp("graft-curation-tid")
    val docs = DocGen.dataset(spark, 50, partitions = 2)
    val ex = intercept[IllegalArgumentException] {
      CurationJob.run(spark, docs, outDir, "t1", inputId = "synth:50",
        test = Some(docs.limit(2)))
    }
    assert(ex.getMessage.contains("testId"))
  }

  test("partition-count invariance: same output at 2 and 16 input partitions") {
    val a = ExtractionJob.extract(TranscriptGen.dataset(spark, 15, partitions = 2)).collect()
    val b = ExtractionJob.extract(TranscriptGen.dataset(spark, 15, partitions = 16)).collect()
    def norm(rows: Array[ExtractedTurn]) =
      rows.map(e => (e.conv_id, e.turn_idx, e.text_clean)).sortBy(r => (r._1, r._2)).toSeq
    assert(norm(a) == norm(b))
  }
}

object PipelineSpec {
  /** A bucket row in the shape the struct-flattening checkpoint writer used. */
  final case class WithBucket(e: ExtractedTurn, part_id: Int)
}
