package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 tests: cache-lifecycle gates (no operator leaves persisted RDDs
  * behind), reference-faithful set_value no-op on non-struct paths,
  * deterministic heavy-hitter merges, de-UDF'd expression parity, and the
  * materialized LSH index.
  */
class Operators3Spec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-operators3-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse3").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus: Seq[(Long, String)] = {
    val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    def doc(seed: Long, n: Int): String =
      (0 until n).map { i =>
        vocab(((graft.pipeline.TranscriptGen.sm64(seed * 131 + i) >>> 33) % vocab.length).toInt)
      }.mkString(" ")
    val base = (0L until 40L).map(i => i -> doc(i, 60))
    val dups = (0L until 8L).map(i => (100L + i) -> (base(i.toInt)._2 + " tailword extra"))
    base ++ dups
  }

  private def vecs: Seq[(Long, Array[Float])] = (0L until 200L).map { i =>
    i -> Array.tabulate(16) { d =>
      val h = graft.pipeline.TranscriptGen.sm64(i * 7919L + d)
      (h.toDouble / Long.MaxValue.toDouble).toFloat
    }
  }

  // ---------- cache lifecycle ----------

  test("no operator leaves persisted RDDs behind after its consuming action") {
    val sp = spark; import sp.implicits._
    // start from a clean slate (other suites may run in the same context)
    sp.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val df = corpus.toDF("doc_id", "text")
    val emb = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")

    def checked(tag: String)(action: => Unit): Unit = {
      action
      val left = sp.sparkContext.getPersistentRDDs
      assert(left.isEmpty, s"$tag left ${left.size} persisted RDD(s) behind")
    }

    checked("minHashNearDups") {
      assert(Dedup.minHashNearDups(df, "doc_id", "text").count() > 0) }
    checked("simHashNearDups") {
      Dedup.simHashNearDups(df, "doc_id", "text").count() }
    checked("ngramJaccardNearDups") {
      assert(Dedup.ngramJaccardNearDups(df, "doc_id", "text",
        threshold = 0.5).count() > 0) }
    checked("embeddingNearDups") {
      Dedup.embeddingNearDups(
        emb.unionByName(emb.where(col("vec_id") < 5)
          .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))),
        "vec_id", "embedding", minCosine = 0.99).count() }
    checked("contamination") {
      assert(Curation.contamination(
        df, "doc_id", "text",
        df.where(col("doc_id") < 5)
          .select((col("doc_id") + 900).as("doc_id"), col("text")),
        "doc_id", "text", n = 3, minCommon = 2).count() > 0) }
    checked("dedupeNear (driver union-find path)") {
      assert(Dedup.dedupeNear(df, "doc_id", "text").count() > 0) }
    checked("resolveClusters (distributed label-propagation path)") {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
      assert(Dedup.resolveClusters(pairs, driverMaxPairs = 0L).count() == 6) }
    checked("SearchIndex.build") {
      val extracted = graft.pipeline.ExtractionJob.extract(
        graft.pipeline.TranscriptGen.dataset(sp, 5))
      val idx = graft.pipeline.SearchIndex.build(extracted)
      assert(idx.chunks.count() > 0 && idx.conversations.count() > 0) }
  }

  test("minhash without persist: shingle recompute is bounded, no cartesian, no cache") {
    val sp = spark
    import sp.implicits._
    val df = corpus.toDF("doc_id", "text")

    // ---- small-corpus shape (the size-adaptive default on this input):
    // verify reads whole-corpus shingles directly — sigs pass + one
    // shingle node per verify side = <=3 kernel nodes, no semi-join stages
    val qSmall = Dedup.minHashNearDups(df, "doc_id", "text")
    val planSmall = qSmall.queryExecution.executedPlan.toString
    val smallScans = "MapPartitions graft\\.operators\\.Dedup".r
      .findAllMatchIn(planSmall).size
    assert(smallScans <= 3 && !planSmall.contains("LeftSemi"),
      s"small-corpus shape: expected <=3 Dedup mapPartitions, no prune:\n$planSmall")
    assert(!planSmall.contains("CartesianProduct") && !planSmall.contains("InMemoryTableScan"),
      s"no cartesian, no cached relation:\n$planSmall")

    // ---- forced at-scale shape: the same corpus read back from parquet
    // with Spark's file-size estimate factor raised, so the optimizer's
    // size estimate crosses the prune gate. The verify step re-shingles
    // CANDIDATE ids only, behind a semi-join prune. In the static plan the
    // pairs subtree (holding the fused shingle→signature pass) appears
    // three times — the two candidate sides and the pair join — and the
    // candidate re-shingle twice, so <=5 Dedup mapPartitions NODES; at
    // runtime AQE stage reuse collapses the three pairs copies onto one
    // materialized shuffle (asserted below), so the corpus kernel still
    // executes exactly once.
    val path = java.nio.file.Files.createTempDirectory("minhash-pruned").resolve("corpus").toString
    df.write.parquet(path)
    val factorKey = "spark.sql.sources.fileCompressionFactor"
    val factor = sp.conf.get(factorKey)
    sp.conf.set(factorKey, "1000000")
    val rowsPruned = try {
      val q = Dedup.minHashNearDups(sp.read.parquet(path), "doc_id", "text")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("LeftSemi"), s"expected the candidate semi-join prune:\n$plan")
      val shingleScans = "MapPartitions graft\\.operators\\.Dedup".r
        .findAllMatchIn(plan).size
      assert(shingleScans <= 5,
        s"expected <=5 Dedup mapPartitions in the plan, got $shingleScans:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("InMemoryTableScan"),
        s"no cartesian, no cached relation:\n$plan")
      val rows = q.collect() // drive AQE to the final plan
      val finalPlan = q.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      // the banding shuffle feeding all three pairs references must be
      // materialized once and reused, not recomputed per reference
      assert(finalPlan.contains("ReusedExchange") ||
        "MapPartitions graft\\.operators\\.Dedup".r.findAllMatchIn(finalPlan).size <= 3,
        s"banding subtree must be shared across its three consumers:\n$finalPlan")
      rows
    } finally sp.conf.set(factorKey, factor)

    // ---- the two shapes are RESULT-identical (the adaptive switch only
    // moves where the kernel runs, never what is computed)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e12))
    assert(qSmall.collect().map(key).toSet == rowsPruned.map(key).toSet,
      "size-adaptive verify shapes must produce identical pairs")
  }

  // ---------- set_value non-struct path: reference TypeError => no-op ----------

  test("set_value through an existing non-struct column is a whole-action no-op") {
    val sp = spark; import sp.implicits._
    import Rules._
    val df = Seq(
      ("a", 10, ("x", 1.0)),
      ("b", 20, ("y", 2.0))).toDF("lang", "n", "meta")
      .withColumn("meta", struct(col("meta._1").as("tag"), col("meta._2").as("w")))

    // head of the path is an existing STRING column: rules.py would hit
    // TypeError inside _set_nested_value, swallow it, and mutate nothing
    val r1 = ActionRule("bad-head", 10,
      Seq(Condition("n", Op.GreaterThan, 15)),
      Seq(SetValue("lang.sub", "XX")))
    val out1 = applyActions(df, Seq(r1))
    assert(out1.select("lang", "n").collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("a", 10), ("b", 20)),
      "non-struct head must leave EVERY row's value intact (matched and unmatched)")

    // intermediate level inside a struct is an existing DOUBLE field
    val r2 = ActionRule("bad-mid", 10,
      Seq(Condition("n", Op.GreaterThan, 15)),
      Seq(SetValue("meta.w.deep", 9.9)))
    val out2 = applyActions(df, Seq(r2))
    assert(out2.select("meta.tag", "meta.w").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet == Set(("x", 1.0), ("y", 2.0)),
      "non-struct intermediate must leave the struct intact for every row")

    // sanity: a VALID dot-path still mutates matched rows only
    val r3 = ActionRule("good", 10,
      Seq(Condition("n", Op.GreaterThan, 15)),
      Seq(SetValue("meta.tag", "hit")))
    val out3 = applyActions(df, Seq(r3))
      .select("n", "meta.tag").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out3 == Set((10, "x"), (20, "hit")))
  }

  test("add_preprocessing appends across rules in priority order; unmatched rows untouched") {
    val sp = spark; import sp.implicits._
    import Rules._
    val df = Seq(("a", 10), ("b", 20), ("a", 30)).toDF("lang", "n")
    val rules = Seq(
      ActionRule("big", 20, Seq(Condition("n", Op.GreaterThan, 15)),
        Seq(AddPreprocessing(Seq("denoise")))),
      ActionRule("lang-a", 10, Seq(Condition("lang", Op.Equals, "a")),
        Seq(AddPreprocessing(Seq("binarize", "sharpen")))))
    val got = applyActions(df, rules)
      .select("lang", "n", "preprocessing_steps")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[String](2))).toSet
    assert(got == Set(
      ("a", 10, Seq("binarize", "sharpen")),          // only lang rule
      ("b", 20, Seq("denoise")),                      // only big rule
      ("a", 30, Seq("denoise", "binarize", "sharpen")))) // both, priority order
  }

  // ---------- heavy hitters: deterministic merge tree ----------

  test("heavy hitters: identical output across repeated runs (fixed merge tree)") {
    val sp = spark; import sp.implicits._
    // skewed stream with many borderline items and a capacity far below
    // the key count, spread over several partitions: the regime where
    // merge-order-dependent truncation would show
    val rows = (0 until 8000).map { i =>
      val z = (math.pow(i % 997 + 1, 0.7)).toInt
      s"item_${z % 313}"
    }
    val df = rows.toDF("tok").repartition(16)
    val a = HeavyHitters.heavyHitters(df, col("tok"), 24)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val b = HeavyHitters.heavyHitters(df, col("tok"), 24)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b, "same input + partitioning must give bit-identical sketches")
    assert(a.nonEmpty && a.size <= 24)
  }

  // ---------- materialized LSH index ----------

  test("materialized LSH index: results identical to the scan form; queries prune partitions") {
    val sp = spark; import sp.implicits._
    val emb = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val q = vecs(7)._2

    val viaScan = Similarity.lshTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val idx = Similarity.buildLshIndex(emb, "vec_id", "embedding")
    val viaIndex = Similarity.lshTopKIndexed(idx, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == viaScan,
      "same planes/seed => identical candidates, scores and tie-breaks")

    // persisted layout: one file per (table, bucket) dir, then prove the
    // query reads ONLY its bucket directories
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
    Similarity.writeLshIndex(idx.repartition(1), dir)
    val disk = sp.read.parquet(dir)
    val viaDisk = Similarity.lshTopKIndexed(disk, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaDisk == viaScan)

    val tables = 8
    val qBuckets = Array.tabulate(tables) { t =>
      Similarity.bucketOf(q, Similarity.randomPlanes(4, q.length, 42L + t * 7919L))
    }
    val pred = qBuckets.zipWithIndex
      .map { case (b, t) => col("table") === t && col("bucket") === b }
      .reduce(_ || _)
    val filtered = disk.where(pred)
    filtered.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case other => other.collect { case f: FileSourceScanExec => f }.toSeq
    }
    val scan = scans(filtered.queryExecution.executedPlan).head
    val numFilesRead = scan.metrics("numFiles").value
    val totalDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("bucket="))
      .count()
    assert(totalDirs > tables.toLong,
      s"index must span more bucket dirs ($totalDirs) than one query touches")
    assert(numFilesRead <= tables.toLong,
      s"query must read <= $tables bucket files, read $numFilesRead of $totalDirs")
    assert(scan.toString.contains("PartitionFilters: [") &&
      !scan.toString.matches("(?s).*PartitionFilters: \\[\\].*"),
      "the bucket predicate must be a partition filter, not a post-scan filter")
  }

  // ---------- workflow action chains ----------

  test("workflow: process -> extract -> validate -> conditional routing, per-row branches") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.Column
    val df = Seq(
      (1L, "invoice customer acme total 100"), // both fields present -> valid
      (2L, "customer zeta only"),              // missing 'total' field -> invalid
      (3L, "no markers at all here"),          // nothing extracts -> invalid
      (4L, "total 55 customer beta")).toDF("id", "text")

    val wf = Seq(
      Workflow.Process("ocr",
        Fallback.Engine("local", identity, Fallback.contentScore), "text"),
      Workflow.ExtractFields("extract", "text", Seq(
        "customer" -> ((t: Column) => regexp_extract(t, "customer ([a-z]+)", 1)),
        "total" -> ((t: Column) => regexp_extract(t, "total ([0-9]+)", 1)))),
      Workflow.ValidateData("validate", Seq("customer", "total")),
      Workflow.Conditional("route", col("validation_ok"),
        ifTrue = Seq(Workflow.SetOutput("ok", "destination", lit("processed"))),
        ifFalse = Seq(Workflow.Conditional("salvage",
          col("extracted_fields.customer") =!= "",
          ifTrue = Seq(Workflow.SetOutput("partial", "destination", lit("review"))),
          ifFalse = Seq(Workflow.SetOutput("dead", "destination", lit("failed")))))))

    val out = Workflow.run(df, wf, auditCol = Some("steps"))
      .select("id", "extracted_fields.customer", "extracted_fields.total",
        "validation_ok", "destination", "steps")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getString(4), r.getSeq[String](5))).sortBy(_._1)

    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq == Seq(
      (1L, "acme", "100", true, "processed"),
      (2L, "zeta", "", false, "review"),
      (3L, "", "", false, "failed"),
      (4L, "beta", "55", true, "processed")))
    // audit: every row ran the shared prefix; branch steps only where taken
    assert(out(0)._6 == Seq("ocr", "extract", "validate", "route", "ok"))
    assert(out(1)._6 == Seq("ocr", "extract", "validate", "route", "salvage", "partial"))
    assert(out(2)._6 == Seq("ocr", "extract", "validate", "route", "salvage", "dead"))
    // a later step reads an EARLIER step's output: validate consumed the
    // extract struct, route consumed validate — already proven by routing
  }

  test("workflow plan: whole chain is one scan, zero exchanges before the sink") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.Column
    val df = Seq((1L, "customer a total 2")).toDF("id", "text")
    val wf = Seq(
      Workflow.ExtractFields("e", "text", Seq(
        "c" -> ((t: Column) => regexp_extract(t, "customer ([a-z]+)", 1)))),
      Workflow.ValidateData("v", Seq("c"), in = "extracted_fields"),
      Workflow.Conditional("r", col("validation_ok"),
        Seq(Workflow.SetOutput("s1", "destination", lit("ok"))),
        Seq(Workflow.SetOutput("s2", "destination", lit("no")))))
    val plan = Workflow.run(df, wf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"workflow must compile to one narrow projection, got:\n$plan")
  }

  test("workflow: nested conditional REUSING the outer conditional's name still branches correctly") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, 5), (2L, 15), (3L, 25)).toDF("id", "n")
    val wf = Seq(
      Workflow.Conditional("route", col("n") > 10,
        ifTrue = Seq(Workflow.Conditional("route", col("n") > 20, // same name!
          ifTrue = Seq(Workflow.SetOutput("hi", "dest", lit("high"))),
          ifFalse = Seq(Workflow.SetOutput("mid", "dest", lit("mid"))))),
        ifFalse = Seq(Workflow.SetOutput("lo", "dest", lit("low")))))
    val got = Workflow.run(df, wf).select("id", "dest")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "low"), (2L, "mid"), (3L, "high")))
  }

  // ---------- multi-engine best-of-N ----------

  test("bestOfN: argmax quality with first-in-order tie-break (reference _select_best_result)") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.Column
    // qualities are driven by the text so each row exercises a different winner
    val df = Seq(
      (1L, "short"),                        // a=0.2, b=0.5, c=0.9 -> c
      (2L, "tie"),                          // a=0.7, b=0.7 (tie) -> a (earlier)
      (3L, "blank")).toDF("id", "text")     // all equal 0.1 -> a
    def engine(name: String, f: Column => Column) =
      Fallback.Engine(name, identity, f)
    val a = engine("a", t => when(t === "short", 0.2).when(t === "tie", 0.7).otherwise(0.1))
    val b = engine("b", t => when(t === "short", 0.5).when(t === "tie", 0.7).otherwise(0.1))
    val c = engine("c", t => when(t === "short", 0.9).otherwise(0.1))
    val got = Fallback.bestOfN(df, "text", Seq(a, b, c))
      .select("id", "engine", "quality")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "c", 0.9), (2L, "a", 0.7), (3L, "a", 0.1)))
  }

  // ---------- x19 fast path equality ----------

  test("topNgramCharFractions234 is output-identical to the per-n general path") {
    val rnd = new scala.util.Random(11)
    val vocab = Array("the", "cat", "sat", "on", "mat", "a", "big", "dog",
      "ran", "très", "日本", "x")
    val docs = Seq(
      "", " ", "one", "a a", "a a a a a a", "the cat the cat the cat",
      "tie tie kip kip", // two bigrams with equal counts -> lexicographic min
      "日本 日本 日本 cat", "a  b\t c \n a  b") ++
      (0 until 200).map { _ =>
        (0 until rnd.nextInt(120)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      } ++
      // fallback path: more than 2^16 distinct tokens
      Seq((0 until 70000).map(i => s"w$i").mkString(" ") + " w0 w1 w0 w1")
    docs.foreach { d =>
      val (f2, f3, f4) = TextAnalysis.topNgramCharFractions234(d)
      assert(f2 == TextAnalysis.topNgramCharFraction(d, 2), s"n=2 for ${d.take(40)}")
      assert(f3 == TextAnalysis.topNgramCharFraction(d, 3), s"n=3 for ${d.take(40)}")
      assert(f4 == TextAnalysis.topNgramCharFraction(d, 4), s"n=4 for ${d.take(40)}")
    }
  }

  // ---------- C4 cleaning + BPE-ish tokens ----------

  test("C4 line/document gates: hand-computed") {
    val sp = spark; import sp.implicits._
    val docA = "This is a good line.\nshort.\nno terminal punct here\n" +
      "Another proper sentence here!\nw w w?"
    val docCode = "Valid sentence one. Two here. Three now. Four more. Five yes. { code }"
    val docLorem = "Lorem Ipsum dolor sit amet. B c. D e. F g. H i."
    val docFewSent = "Only one sentence here."
    val docKeep = "One two three. Four five six! Seven eight nine? Ten eleven twelve. Last full stop."
    val df = Seq(docA, docCode, docLorem, docFewSent, docKeep).toDF("text")
    val got = df.select(
      size(C4.cleanLines(col("text"))).as("nl"),
      C4.sentenceCount(col("text")).as("ns"),
      C4.keepDocument(col("text")).as("keep")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2))).toSeq
    // docA: lines kept = good line (5w '.'), Another...(4w '!'), w w w? (3w '?');
    // 4 sentences (two unpunctuated lines merge into one segment) -> drops
    assert(got(0) == ((3, 4, false)))
    assert(got(1)._3 == false, "curly brace page must drop")
    assert(got(2)._3 == false, "lorem ipsum page must drop (case-insensitive)")
    assert(got(3) == ((1, 1, false)), "fewer than 5 sentences drops")
    assert(got(4) == ((1, 5, true)))
  }

  test("bpeish token count: punctuation and digit runs split like a pre-tokenizer") {
    val sp = spark; import sp.implicits._
    val cases = Seq(
      ("hello world.", 3), // "hello", " world", "."
      ("a1b2", 4),
      ("don't stop", 4),   // "don", "'", "t", " stop"
      ("x  y", 2),         // runs of spaces attach to following token
      ("42 cats, 7 dogs!", 6))
    val got = cases.map(_._1).toDF("text")
      .select(TextAnalysis.bpeishTokenCount(col("text"))).collect().map(_.getInt(0)).toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("materialized IVF index: identical to in-memory probe; partition-pruned reads") {
    val sp = spark; import sp.implicits._
    val emb = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val q = vecs(3)._2
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", nList = 16, iters = 2)
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", cents, nAssign = 4)
    val inMem = Similarity.ivfTopKIndexed(idx, cents, q, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    Similarity.writeIvfIndex(idx.repartition(1), dir)
    val disk = sp.read.parquet(dir)
    val viaDisk = Similarity.ivfTopKIndexed(disk, cents, q, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaDisk == inMem)

    // equal to the self-training ivfTopK given the same training recipe
    val direct = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10,
      nList = 16, nProbe = 8, trainIters = 2, nAssign = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inMem == direct)

    // pruning proof: the probe reads 8 of 16 list directories
    val probed = cents.map { case (i, c) => (i, Similarity.cosine(q, c)) }
      .sortBy { case (i, c) => (-c, i) }.take(8).map(_._1).toSeq
    val filtered = disk.where(col("ivf_list").isin(probed: _*))
    filtered.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case other => other.collect { case f: FileSourceScanExec => f }.toSeq
    }
    val numFiles = scans(filtered.queryExecution.executedPlan).head.metrics("numFiles").value
    assert(numFiles <= 8L, s"probe must read <=8 list dirs, read $numFiles")
  }

  // ---------- de-UDF parity ----------

  test("native hamming/jaccard expressions match the scala definitions") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val sigPairs = Seq.fill(200)((rnd.nextLong(), rnd.nextLong()))
    val gotH = sigPairs.toDF("a", "b")
      .select(bit_count(col("a").bitwiseXOR(col("b"))).cast("int"))
      .collect().map(_.getInt(0)).toSeq
    assert(gotH == sigPairs.map { case (a, b) => Dedup.hamming(a, b) })

    val setPairs = Seq.fill(100) {
      val a = Set.fill(rnd.nextInt(20) + 1)(rnd.nextLong() % 50)
      val b = Set.fill(rnd.nextInt(20) + 1)(rnd.nextLong() % 50)
      (a.toArray, b.toArray)
    }
    val common = size(array_intersect(col("a"), col("b")))
    val union = size(col("a")) + size(col("b")) - common
    val gotJ = setPairs.toDF("a", "b")
      .select(when(union === 0, lit(1.0))
        .otherwise(common.cast("double") / union.cast("double")))
      .collect().map(_.getDouble(0)).toSeq
    val expJ = setPairs.map { case (a, b) => DedupOracle.jaccard(a.toSet, b.toSet) }
    gotJ.zip(expJ).foreach { case (g, e) => assert(math.abs(g - e) < 1e-15) }
  }
}
