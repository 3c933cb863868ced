package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.Chunker

/** Tests for round-1 widening: n-gram Jaccard dedup, IVF ANN, rule engine,
  * search, chunking, multimodal plumbing, render sinks.
  */
class Operators2Spec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-operators2-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
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

  // ---------- n-gram Jaccard ----------

  test("ngram-jaccard postings join equals brute force exactly (df cap above max)") {
    val sp = spark; import sp.implicits._
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardNearDups(df, "doc_id", "text",
      shingleSize = 3, threshold = 0.5, maxDocFreq = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val expected = DedupOracle.bruteForceJaccardPairs(corpus, 3, 0.5)
      .sortBy(x => (x._1, x._2))
    assert(got.map(x => (x._1, x._2)) == expected.map(x => (x._1, x._2)))
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g._3 - e._3) < 1e-12) }
  }

  // ---------- IVF ----------

  private def vecs: Seq[(Long, Array[Float])] = (0L until 200L).map { i =>
    val v = Array.tabulate(16) { d =>
      val h = graft.pipeline.TranscriptGen.sm64(i * 127 + d)
      (h.toDouble / Long.MaxValue.toDouble).toFloat
    }
    (i, v)
  }

  test("IVF with nProbe == nList is exact; fewer probes reach high recall") {
    val sp = spark; import sp.implicits._
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val q = vecs.head._2
    val exact = SimilarityOracle.cosineTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10, nList = 8, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(full == exact, "all-probe IVF must equal brute force")
    val approx = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10, nList = 8, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@10 too low: $recall")
  }

  test("IVF k-means centroids: recall@10 >= 0.9 vs brute force on the embeddings table") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = df.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).toArray
    val exact = SimilarityOracle.cosineTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val approx = Similarity
      .ivfTopK(df, "vec_id", "embedding", q, 10, nList = 16, nProbe = 8, trainIters = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.9, s"trained-IVF recall@10 below gate: $recall")

    // training is deterministic: repeated runs -> identical centroids
    // (bitwise layout-invariance is NOT claimed: double partial sums
    // associate differently under different partitionings)
    val c1 = Similarity.trainIvfCentroids(df, "vec_id", "embedding", 8, iters = 2)
    val c2 = Similarity.trainIvfCentroids(df, "vec_id", "embedding", 8, iters = 2)
    assert(c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq,
      "k-means training must be deterministic across runs")
  }

  test("cluster resolution: transitive chains collapse to min-id keepers; dedupeNear matches union-find") {
    val sp = spark; import sp.implicits._
    // chain 1-2-3-4 (no direct 1-4 pair), plus two separate components
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find path (small pair graph)
    val gotDriver = Dedup.resolveClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDriver == expected)
    // distributed min-label-propagation path (forced)
    val gotDist = Dedup.resolveClusters(pairs, driverMaxPairs = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expected)
    // empty pair graph: no clusters, no NPE (both paths)
    assert(Dedup.resolveClusters(pairs.where(col("id_a") < 0)).count() == 0)
    assert(Dedup.resolveClusters(pairs.where(col("id_a") < 0), driverMaxPairs = 0L).count() == 0)

    // end-to-end vs an INDEPENDENT driver-side union-find over the pairs
    val base = corpus.toDF("doc_id", "text")
    val lshPairs = Dedup.minHashNearDups(base, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lshPairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    lshPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = (lshPairs.flatMap(p => Seq(p._1, p._2)).distinct
      .filter(id => find(id) != id)).toSet
    val expectedKept = corpus.map(_._1).toSet -- losers

    val kept = Dedup.dedupeNear(base, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expectedKept,
      s"dedupeNear kept ${kept.size}, union-find expected ${expectedKept.size}")
  }

  // ---------- rules ----------

  test("rule engine: operators + priority ladder") {
    val sp = spark; import sp.implicits._
    import Rules._
    val df = Seq(
      (1L, "Alpha report", 2500L, "en"),
      (2L, "beta data", 800L, "en"),
      (3L, "tiny", 50L, "pt"),
      (4L, "nulltext", 300L, null.asInstanceOf[String]))
      .toDF("id", "text", "n_chars", "lang")
    val rules = Seq(
      Rule("huge", 30, Seq(Condition("n_chars", Op.GreaterThan, 2000L))),
      Rule("english_long", 20, Seq(
        Condition("lang", Op.Equals, "en"),
        Condition("n_chars", Op.Between, 500L, 2000L))),
      Rule("tiny", 10, Seq(Condition("n_chars", Op.LessThan, 100L))))
    val got = applyRules(df, rules).select("id", "rule")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "huge", 2L -> "english_long", 3L -> "tiny", 4L -> "none"))

    // operator sanity: string + list + emptiness + regex, case-insensitivity
    val d2 = Seq(("Hello World", "x"), ("", "y"), (null.asInstanceOf[String], "z"))
      .toDF("s", "k")
    def n(c: Condition): Long = d2.where(compile(c)).count()
    assert(n(Condition("s", Op.Contains, "world", caseSensitive = false)) == 1)
    assert(n(Condition("s", Op.Contains, "world")) == 0)
    assert(n(Condition("s", Op.StartsWith, "Hello")) == 1)
    assert(n(Condition("s", Op.EndsWith, "World")) == 1)
    assert(n(Condition("s", Op.RegexMatch, "^H.*d$")) == 1)
    assert(n(Condition("s", Op.InList, Seq("Hello World", "nope"))) == 1)
    assert(n(Condition("s", Op.NotInList, Seq("Hello World"))) == 1) // "" only; null fails non-empty ops
    assert(n(Condition("s", Op.IsEmpty)) == 2) // "" and null
    assert(n(Condition("s", Op.IsNotEmpty)) == 1)
    assert(n(Condition("s", Op.NotEquals, "Hello World")) == 1)
  }

  test("rule actions: dot-path set_value, evolving context, stop_processing short-circuit") {
    val sp = spark; import sp.implicits._
    import Rules._
    import org.apache.spark.sql.Row
    val df = Seq(
      (1L, "invoice", 500),   // stop-rule fires; later matching rules must be skipped
      (2L, "note", 50),       // chain: small_docs -> rename_notes -> sees_mutation
      (3L, "report", 5000))   // matches nothing
      .toDF("id", "kind", "size")
    val rules = Seq(
      ActionRule("flag_invoices", 30, Seq(Condition("kind", Op.Equals, "invoice")),
        Seq(SetValue("meta.flagged", true), SetMode("cloud"), StopProcessing)),
      ActionRule("small_docs", 20, Seq(Condition("size", Op.LessThan, 1000)),
        Seq(SetMode("local"), SetValue("meta.small", true))),
      ActionRule("rename_notes", 10, Seq(Condition("kind", Op.Equals, "note")),
        Seq(SetValue("kind", "memo"))),
      // evaluates against the context AFTER rename_notes mutated `kind`
      ActionRule("sees_mutation", 5, Seq(Condition("kind", Op.Equals, "memo")),
        Seq(SetValue("renamed", 1))))
    val out = applyActions(df, rules, appliedCol = Some("applied"))
      .orderBy("id").collect()

    def meta(r: Row): Row = r.getAs[Row]("meta")
    def applied(r: Row): Seq[String] = r.getAs[scala.collection.Seq[String]]("applied").toSeq

    val r1 = out(0) // invoice, size 500
    assert(r1.getAs[String]("ocr_mode") == "cloud")
    assert(r1.getAs[Boolean]("stop_processing"))
    assert(meta(r1).getAs[Boolean]("flagged"))
    // small_docs WOULD match (500 < 1000) but stop_processing blocks it
    assert(meta(r1).isNullAt(meta(r1).fieldIndex("small")))
    assert(applied(r1) == Seq("flag_invoices"))

    val r2 = out(1) // note, size 50
    assert(r2.getAs[String]("ocr_mode") == "local")
    assert(!r2.getAs[Boolean]("stop_processing"))
    assert(meta(r2).getAs[Boolean]("small"))
    assert(r2.getAs[String]("kind") == "memo") // mutated by rename_notes
    assert(r2.getAs[Int]("renamed") == 1) // sees_mutation saw the mutation
    assert(applied(r2) == Seq("small_docs", "rename_notes", "sees_mutation"))

    val r3 = out(2) // report: untouched context defaults
    assert(r3.getAs[String]("ocr_mode") == "hybrid")
    assert(r3.getAs[String]("ocr_language") == "eng")
    assert(r3.getAs[Double]("confidence_threshold") == 0.75)
    assert(!r3.getAs[Boolean]("stop_processing"))
    assert(r3.isNullAt(r3.fieldIndex("renamed")))
    assert(applied(r3).isEmpty)
  }

  test("rule actions: a later rule can condition on a column CREATED by an earlier rule") {
    val sp = spark; import sp.implicits._
    import Rules._
    val df = Seq((1L, "invoice"), (2L, "memo")).toDF("id", "kind")
    val rules = Seq(
      ActionRule("tagger", 20, Seq(Condition("kind", Op.Equals, "invoice")),
        Seq(SetValue("flag", 1))),
      // `flag` does not exist in the input schema; it is created by the
      // rule above (null where unmatched) — the evolving-context contract
      ActionRule("reactor", 10, Seq(Condition("flag", Op.Equals, 1)),
        Seq(SetValue("reacted", true))))
    val out = applyActions(df, rules).orderBy("id").collect()
    assert(out(0).getAs[Boolean]("reacted"))
    assert(out(1).isNullAt(out(1).fieldIndex("reacted")))
    assert(out(1).isNullAt(out(1).fieldIndex("flag")))
  }

  // ---------- quality-routed fallback ----------

  test("fallback: threshold enforcement routes low-quality rows to the second engine") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.Column
    // mirror of test_workflow.py:183-213: a low-quality engine below the
    // threshold must trigger the second engine; the winner is whichever
    // clears the threshold or scores higher
    val df = Seq(
      (1L, "good", 0.9, 0.1),  // first engine accepted; second never consulted
      (2L, "low", 0.5, 0.95),  // fallback; second clears threshold -> wins
      (3L, "bad", 0.3, 0.5),   // fallback; second below threshold but HIGHER -> wins
      (4L, "worse", 0.6, 0.2)) // fallback; second strictly worse -> first kept
      .toDF("id", "text", "qa", "qb")
    // engine quality driven by the row's planted scores (transform carries
    // the text; quality reads the planted column through a join-free trick:
    // encode the score in the produced text)
    val e1 = Fallback.Engine("low_quality",
      t => concat(t, lit("|"), col("qa").cast("string")),
      t => element_at(split(t, "\\|"), -1).cast("double"))
    val e2 = Fallback.Engine("high_quality",
      t => concat(t, lit("|"), col("qb").cast("string")),
      t => element_at(split(t, "\\|"), -1).cast("double"))
    val out = Fallback.twoPass(df, "text", e1, e2, qualityThreshold = 0.8)
      .select("id", "route", "engine", "quality")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == (("kept", "low_quality", 0.9)))
    assert(out(2L) == (("fallback", "high_quality", 0.95)))
    assert(out(3L) == (("fallback", "high_quality", 0.5))) // 0.5 > 0.3: better-so-far wins
    assert(out(4L) == (("fallback", "low_quality", 0.6)))
  }

  // ---------- search ----------

  test("search: occurrence score and excerpt match reference semantics") {
    val sp = spark; import sp.implicits._
    val text = ("x" * 80) + "needle" + ("y" * 80)
    val df = Seq(
      (1L, "needle at start " + ("z" * 100)),
      (2L, text),
      (3L, "no match here"),
      (4L, "needle needle needle")).toDF("doc_id", "text")
    val got = Search.search(df, "doc_id", "text", "needle", 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.map(x => (x._1, x._2)).toSeq == Seq((4L, 3), (1L, 1), (2L, 1)))
    val ex2 = got.find(_._1 == 2L).get._3
    // python: start = max(0, pos-50), end = min(len, pos+len(q)+50) with ellipses
    assert(ex2 == "..." + ("x" * 50) + "needle" + ("y" * 50) + "...")
    val ex1 = got.find(_._1 == 1L).get._3
    assert(ex1.startsWith("needle at start") && ex1.endsWith("..."))
  }

  // ---------- chunker ----------

  test("chunker: packing invariants + overlap semantics") {
    val words = (0 until 500).map(i => s"w${i}word")
    val text = words.mkString(" ")
    val sem = Chunker.semantic(text, chunkSize = 100, overlapWords = 5)
    assert(sem.nonEmpty)
    // every chunk respects the size bound (single words shorter than bound)
    sem.foreach(c => assert(c.length <= 100, s"chunk too long: ${c.length}"))
    // consecutive chunks share exactly the 5-word overlap prefix
    sem.sliding(2).foreach {
      case Seq(a, b) =>
        val tailWords = a.split(" ").takeRight(5).toSeq
        assert(b.split(" ").take(5).toSeq == tailWords)
      case _ =>
    }
    // no-overlap variant partitions the word sequence exactly
    val idx = Chunker.index(text, maxLength = 100)
    assert(idx.flatMap(_.split(" ")).toSeq == words)
    // reference guards
    assert(Chunker.semantic("  short  ") == Seq.empty)
    assert(Chunker.semantic(null) == Seq.empty)
    assert(Chunker.index(null) == Seq.empty)
  }

  test("chunker: oversized single word (the empty-current branch the corpus never hits)") {
    // a word LONGER than the chunk size with current empty starts its own
    // chunk (no emit, currentLen = len without the +1) — hand-traced
    // against the reference recursion (semantic_search.py:137-170)
    val big = "a" * 15
    val text = s"$big bb cc"
    val sem = Chunker.semantic(text, chunkSize = 10, overlapWords = 2)
    // the oversized word rides in every overlap window thereafter —
    // faithful to the reference's takeRight carry, pinned not "fixed"
    assert(sem == Seq(big, s"$big bb", s"$big bb cc"), sem.toString)
    val idx = Chunker.index(text, maxLength = 10)
    assert(idx == Seq(big, "bb cc"), idx.toString)
  }

  // ---------- multimodal ----------

  test("multimodal: payload schema, batched pooled decode, partition invariance") {
    val sp = spark; import sp.implicits._
    val docs = (0L until 100L).map(i => (i, s"document body $i " + ("pad" * (i % 7).toInt)))
      .toDF("doc_id", "text")
    val media = Multimodal.attachPayload(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val metaT = media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaT.fieldNames.toSeq == Seq("width", "height", "n_bytes", "mime"))

    val ds = media.as[Multimodal.MediaRow]
    val f1 = Multimodal.extractFeatures(ds, batchSize = 7).collect()
      .map(f => f.id -> f.features.toSeq).toMap
    val f2 = Multimodal.extractFeatures(ds.repartition(13), batchSize = 64).collect()
      .map(f => f.id -> f.features.toSeq).toMap
    assert(f1 == f2, "features must be independent of partitioning and batch size")
    // stub decode is deterministic byte stats: check one row by hand
    val payload = "document body 0 ".getBytes("UTF-8")
    val exp = new Multimodal.StubDecoder().decodeBatch(Seq(payload)).head.toSeq
    assert(f1(0L) == exp)
  }

  test("multimodal: real javax.imageio decode — luminance features from actual pixels") {
    val sp = spark
    // deterministic 8x6 gradient image, PNG-encoded (lossless round-trip)
    val img = new java.awt.image.BufferedImage(8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8)
      img.setRGB(x, y, ((x * 30) << 16) | ((y * 40) << 8) | 17)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    // independent expected stats straight from the source pixels
    var sum = 0.0; var sq = 0.0
    for (y <- 0 until 6; x <- 0 until 8) {
      val rgb = img.getRGB(x, y)
      val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
      sum += lum; sq += lum * lum
    }
    val n = 48.0
    val mean = sum / n
    val std = math.sqrt(sq / n - mean * mean)

    val rows = Seq(
      Multimodal.MediaRow(1L, png, Multimodal.MediaMeta(8, 6, png.length.toLong, "image/png")),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3), Multimodal.MediaMeta(0, 0, 3L, "application/octet-stream")))
    val got = Multimodal
      .extractFeatures(sp.createDataset(rows)(org.apache.spark.sql.Encoders.product),
        mkDecoder = () => new Multimodal.ImageIODecoder)
      .collect().map(f => f.id -> f.features).toMap

    val f1 = got(1L)
    assert(math.abs(f1(0) - mean) < 1e-3, s"mean ${f1(0)} vs $mean")
    assert(math.abs(f1(1) - std) < 1e-3, s"std ${f1(1)} vs $std")
    assert(f1(4) == 8.0f && f1(5) == 6.0f)
    assert(math.abs(f1(6) - 8.0f / 6.0f) < 1e-6)
    assert(f1(7) == png.length.toFloat)
    // non-image payloads fall back to the deterministic byte-stats stub
    val stub = new Multimodal.StubDecoder().decodeBatch(Seq(Array[Byte](1, 2, 3))).head
    assert(got(2L).toSeq == stub.toSeq)
  }

  test("semantic chunk search: self-retrieval ranks the source chunk first") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta " * 30),
      (2L, "rare unique needle tokens about distributed query engines " * 20),
      (3L, "omicron pi rho sigma tau " * 30)).toDF("doc_id", "text")
    // the query IS a chunk's vocabulary -> that doc's chunks must win
    val top = SemanticSearch.searchChunks(
      docs, "doc_id", "text", "rare unique needle tokens about distributed query engines", 3)
      .collect()
    assert(top.nonEmpty && top.forall(_.getLong(0) == 2L),
      s"expected doc 2 chunks on top, got ${top.map(_.getLong(0)).toSeq}")
    assert(top.head.getDouble(3) > 0.95) // near-identical token distribution
    // embeddings are unit-norm and deterministic
    val e1 = SemanticSearch.embed("alpha beta gamma")
    val e2 = SemanticSearch.embed("alpha beta gamma")
    assert(e1.toSeq == e2.toSeq)
    assert(math.abs(e1.map(x => x.toDouble * x).sum - 1.0) < 1e-6)
  }

  // ---------- engine quality (A5) + alnum confidence (F16) ----------

  test("engine quality score matches the reference formula by hand") {
    val sp = spark; import sp.implicits._
    // (conf, time_s, success, words, chars)
    val rows = Seq(
      (0.9, 3.0, 1.0, 100, 500),
      (0.5, 45.0, 0.5, 10, 50),
      (0.0, 0.0, 0.0, 0, 0))
    def ref(c: Double, t: Double, s: Double, w: Int, ch: Int): Double = {
      val speed = math.max(0.0, 1.0 - t / 30.0)
      val content = math.min(1.0, (w + ch / 10.0) / 100.0)
      math.max(0.0, math.min(1.0, c * 0.4 + speed * 0.2 + s * 0.3 + content * 0.1))
    }
    val df = rows.toDF("conf", "t", "s", "w", "ch")
    val got = df.select(TextAnalysis.engineQualityScore(
      col("conf"), col("t"), col("s"), col("w"), col("ch")).as("q"))
      .collect().map(_.getDouble(0)).toSeq
    val expected = rows.map(r => ref(r._1, r._2, r._3, r._4, r._5))
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("alnum-confidence fallback matches python semantics") {
    val sp = spark; import sp.implicits._
    def ref(texto: String): Double = {
      if (texto == null || graft.kernel.Py.strip(texto).isEmpty) 0.0
      else {
        val noSpace = texto.replace(" ", "")
        if (noSpace.isEmpty) 0.0
        else {
          val alnum = noSpace.count(_.isLetterOrDigit)
          math.min(alnum.toDouble / noSpace.length, 1.0)
        }
      }
    }
    val texts = Seq("hello world 123", "...!!!", "", "   ", "ação São 42", "a-b_c d")
    val df = texts.toDF("text")
    val got = df.select(TextAnalysis.alnumConfidence(col("text")).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    texts.zip(got).foreach { case (t, g) =>
      assert(math.abs(g - ref(t)) < 1e-12, s"text='$t' got=$g expected=${ref(t)}")
    }
  }

  // ---------- search index (S10) ----------

  test("search index derived tables: counts, hashes, chunk coverage, join-back") {
    val sp = spark; import sp.implicits._
    import graft.pipeline.{ExtractionJob, SearchIndex, TranscriptGen}
    val turns = TranscriptGen.dataset(spark, 8)
    val extracted = ExtractionJob.extract(turns)
    val idx = SearchIndex.build(extracted, chunkMaxLen = 80)

    val nTurnsIn = extracted.where(col("success")).count()
    assert(idx.turns.count() == nTurnsIn)
    val convCounts = idx.conversations.select("conv_id", "n_turns")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(convCounts.values.sum == nTurnsIn)

    // chunks reassemble to the original per-turn text (no-overlap variant
    // partitions words exactly)
    val sample = idx.turns.select("conv_id", "turn_idx", "text_clean")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val chunksBy = idx.chunks
      .select("conv_id", "turn_idx", "chunk_idx", "chunk_text")
      .collect().groupBy(r => (r.getString(0), r.getInt(1)))
    chunksBy.foreach { case (key, rows) =>
      val joined = rows.sortBy(_.getInt(2)).map(_.getString(3)).flatMap(_.split(" "))
      assert(joined.toSeq == graft.kernel.Py.splitWs(sample(key)).toSeq)
    }

    // join-back (S7/J1): every source row finds its extracted row, and
    // only failed turns carry no text
    val jb = turns.toDF().join(
      extracted.toDF().select("conv_id", "turn_idx", "text_clean"),
      Seq("conv_id", "turn_idx"), "left")
    assert(jb.count() == turns.count())
    assert(jb.where(col("text_clean").isNull).count() ==
      extracted.where(!col("success")).count())
  }

  // ---------- heavy hitters (space-saving sketch) ----------

  test("space-saving heavy hitters: exact when capacity covers keys; capture + overcount bound when not") {
    val sp = spark; import sp.implicits._
    // skewed multiset: itemK appears ~3000/k times, plus a rare tail
    val skewed = (1 to 40).flatMap(k => Seq.fill(3000 / k)(s"item$k"))
    val rares = (0 until 4000).map(i => s"rare$i")
    val all = (skewed ++ rares)
      .sortBy(s => graft.pipeline.TranscriptGen.sm64(s.hashCode.toLong)) // deterministic shuffle
    val df = all.toDF("s").repartition(8)
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap

    // capacity >= distinct keys: no evictions anywhere -> counts are exact
    val big = HeavyHitters.heavyHitters(df, col("s"), capacity = 5000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(big == exact)

    // small capacity: every item with freq > 2N/capacity captured; every
    // reported count obeys count <= exact + error
    val cap = 64
    val got = HeavyHitters.heavyHitters(df, col("s"), cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length <= cap)
    val n = all.size.toLong
    val mustCapture = exact.filter(_._2 > 2 * n / cap).keySet
    val captured = got.map(_._1).toSet
    assert(mustCapture.subsetOf(captured),
      s"missed heavy items: ${mustCapture -- captured}")
    got.foreach { case (item, count, error) =>
      assert(count <= exact(item) + error,
        s"overcount bound violated for $item: $count > ${exact(item)} + $error")
    }
  }

  // ---------- curation: splits, contamination, profiling ----------

  test("hash split: deterministic, partition-invariant, correct proportions") {
    val sp = spark; import sp.implicits._
    def bucketRef(key: String, buckets: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(8), 16) % buckets).toInt
    }
    val ids = (0L until 5000L)
    val df = ids.toDF("id")
    val got = df.select(col("id"), Curation.hashBucket(col("id"), 100).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ids.foreach(i => assert(got(i) == bucketRef(i.toString, 100)))

    val split = Curation.splitAssign(col("id"), Seq(("train", 80), ("val", 10), ("test", 10)))
    val counts = df.repartition(7).select(split.as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 5000L)
    assert(math.abs(counts("train") - 4000L) < 200, s"train=$counts")
    assert(counts("val") > 300 && counts("test") > 300)
    // appending rows never changes existing assignments (hash of key only)
    val counts2 = (0L until 7000L).toDF("id").select(split.as("s"))
      .where(col("id") < 5000).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts2 == counts)
  }

  test("contamination: planted test docs pair with their train source; clean docs don't") {
    val sp = spark; import sp.implicits._
    val train = corpus.toDF("doc_id", "text") // 48 word-salad docs
    // contaminated: copies of train docs 0-9 with a prefix; clean: fresh text
    val contaminated = (0L until 10L).map(i =>
      (1000L + i, "xx yy " + corpus.find(_._1 == i).get._2))
    val clean = (0L until 5L).map(i =>
      (2000L + i, s"completely fresh unseen sentence number $i with no overlap at all"))
    val test = (contaminated ++ clean).toDF("doc_id", "text")
    val got = Curation.contamination(train, "doc_id", "text",
      test, "doc_id", "text", n = 5, minCommon = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach { i =>
      assert(got.contains((1000L + i, i)), s"missed planted pair ${1000 + i} -> $i")
    }
    assert(!got.exists(_._1 >= 2000L), s"false positives: ${got.filter(_._1 >= 2000L)}")
  }

  test("length profile: exact linear-interpolated percentiles") {
    val sp = spark; import sp.implicits._
    val lens = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)
    val df = lens.map(("g", _)).toDF("g", "len")
    val r = Curation.lengthProfile(df, "g", "len").collect().head
    // type-7 linear interpolation: p25 of 8 sorted values = v[1.75]
    assert(r.getAs[Double]("p25") == 27.5)
    assert(r.getAs[Double]("p50") == 45.0)
    assert(r.getAs[Double]("p75") == 62.5)
    assert(r.getAs[Long]("min_len") == 10L && r.getAs[Long]("max_len") == 80L)
  }

  // ---------- PII redaction ----------

  test("redaction: validated patterns masked, invalid ones left intact") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "CPF: 123.456.789-09 e email user@domain.com"), // valid cpf + email
      (2L, "CPF invalido 123.456.789-00 fica"), // checksum fails -> kept
      (3L, "tel (11) 99999-9999 em 09/07/2025 por R$ 1.500,00"),
      (4L, "texto sem pii nenhum")).toDF("doc_id", "text")
    val got = Redact.redact(df, "doc_id", "text")
      .collect().map(r => r.id -> (r.text_redacted, r.redactions)).toMap
    assert(got(1L)._1 == "CPF: [CPF] e email [EMAIL]")
    assert(got(1L)._2 == Map("cpf" -> 1, "email" -> 1))
    assert(got(2L)._1.contains("123.456.789-00"), "invalid CPF must remain")
    assert(!got(2L)._2.contains("cpf"))
    val r3 = got(3L)._1
    assert(r3.contains("[PHONE]") && r3.contains("[DATE]") && r3.contains("[CURRENCY]"), r3)
    assert(got(4L)._1 == "texto sem pii nenhum" && got(4L)._2.isEmpty)
  }

  test("redaction: a text the kernel's output limit stops is nulled, not passed through") {
    val sp = spark; import sp.implicits._
    // each repeat re-grows every earlier phone (`"(((("`): 16.1M chars
    // from these 80k without the limit
    val df = Seq(
      (1L, "tel (11) 99999-9999 " * 4000),
      (2L, "tel (11) 99999-9999 " * 3)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val got = Redact.redact(df, "doc_id", "text").collect().map(r => r.id -> r).toMap
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    assert(got(1L).text_redacted == null && got(1L).redactions.isEmpty)
    assert(got(2L).text_redacted.contains("[PHONE]"))
  }

  test("redaction is boundary-anchored: a match embedded in a longer token stays intact") {
    val sp = spark; import sp.implicits._
    // the standalone valid CPF is detected; the SAME digits embedded in
    // A...B never matched the \b-anchored detector, so replacement must
    // not touch them (ADVICE r1: plain substring replace over-redacted)
    val df = Seq(
      (1L, "CPF 123.456.789-09 e token A123.456.789-09B juntos")).toDF("doc_id", "text")
    val got = Redact.redact(df, "doc_id", "text").collect().head
    assert(got.text_redacted.contains("[CPF]"))
    assert(got.text_redacted.contains("A123.456.789-09B"),
      s"embedded token was wrongly redacted: ${got.text_redacted}")
    assert(got.redactions == Map("cpf" -> 1))
    // a URL ending in a combining mark or a letter number ends in a word
    // char of the engine's \w, so its replacement is \b-anchored and
    // does not eat the prefix of a longer URL
    val urls = Seq(
      (2L, "ver http://x.com/e\u0301 e http://x.com/e\u0301z fim"),
      (3L, "ver http://x.com/e\u2160 e http://x.com/e\u2160z fim")).toDF("doc_id", "text")
    Redact.redact(urls, "doc_id", "text").collect().foreach { r =>
      assert(r.text_redacted == "ver [URL] e [URL] fim", s"doc ${r.id}")
    }
  }

  // ---------- plan-shape regression guards ----------

  test("plan guards: filter pushdown reaches the scan; dim joins broadcast; topk avoids full sort") {
    val s = spark
    def plan(q: String): String =
      graft.SparkEntry.queries(q)(s, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString()
    val p06 = plan("q06_filtered_sum")
    assert(p06.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"q06 lost scan pushdown:\n${p06.take(800)}")
    val p02 = plan("q02_region_revenue")
    assert(p02.contains("BroadcastHashJoin"), "q02 lost broadcast joins")
    assert(!p02.contains("SortMergeJoin"), "q02 dim join degraded to SMJ")
    val p03 = plan("q03_top_orders")
    assert(p03.contains("TakeOrderedAndProject"), "q03 limit lost TakeOrdered")
  }

  test("repetition signals: duplicate line/paragraph fractions by hand") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "a\nb\na\n\na"),          // lines [a,b,a,a]: 1-2/4 = 0.5; paras [a\nb\na, a]: 0.0
      (2L, "x\ny\nz"),               // all distinct: 0.0
      (3L, "p\n\np\n\np"),           // paras [p,p,p]: 1-1/3; lines [p,p,p]: same
      (4L, ""),                      // no units: 0.0
      (5L, "solo")).toDF("id", "text")
    val got = df.select(col("id"),
      TextAnalysis.dupLineFraction(col("text")).as("dlf"),
      TextAnalysis.dupParagraphFraction(col("text")).as("dpf"),
      TextAnalysis.repetitionGate(col("text")).as("keep"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(got(1L)._1 == 0.5 && got(1L)._2 == 0.0 && !got(1L)._3) // dlf 0.5 > 0.3
    assert(got(2L) == ((0.0, 0.0, true)))
    assert(math.abs(got(3L)._2 - (1.0 - 1.0 / 3)) < 1e-12 && !got(3L)._3)
    assert(got(4L) == ((0.0, 0.0, true)))
    assert(got(5L) == ((0.0, 0.0, true)))
  }

  test("top n-gram char fraction: hand-computed, deterministic tie-break") {
    // toks [a,b,a,b,a,b]: "a b" x3 of 5 bigrams; joined length 11
    assert(math.abs(TextAnalysis.topNgramCharFraction("a b a b a b", 2) - 9.0 / 11) < 1e-12)
    // all bigrams distinct: nothing REPEATS -> 0.0 (a count-1 "top" n-gram
    // is not repetition and must not gate short documents)
    assert(TextAnalysis.topNgramCharFraction("w x y z", 2) == 0.0)
    // shorter than n
    assert(TextAnalysis.topNgramCharFraction("solo", 2) == 0.0)
    assert(TextAnalysis.topNgramCharFraction("", 3) == 0.0)
    // tie-break: equal counts (2 each) -> lexicographically smallest wins
    assert(TextAnalysis.topNgramCharFraction("aa bb aa bb cc dd cc dd", 2) == 10.0 / 23)

    val sp = spark; import sp.implicits._
    val df = Seq((1L, "spam spam spam spam"), (2L, "all words differ here ok")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramRepetition(df, "doc_id", "text")
      .collect().map(r => r.id -> r.keep).toMap
    assert(!got(1L) && got(2L))
  }

  test("deterministic sampling: nested subsets, append invariance, stratified rates") {
    val sp = spark; import sp.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 3 == 0) "en" else "zh")).toDF("id", "lang")
    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select("id").collect().map(_.getLong(0)).toSet
    def sample(d: org.apache.spark.sql.DataFrame, permille: Int) =
      Curation.stratifiedSample(d, col("lang"), col("id"), Map.empty, permille)
    val s100 = ids(sample(df, 100))
    val s500 = ids(sample(df, 500))
    assert(s100.subsetOf(s500), "smaller rate must be a strict subset (nested samples)")
    assert(math.abs(s500.size / 2000.0 - 0.5) < 0.05, s"rate off: ${s500.size}/2000")
    // append invariance: a row's fate is a pure function of its key
    val sPrefix = ids(sample(df.where(col("id") < 1000), 500))
    assert(sPrefix == s500.filter(_ < 1000))
    // stratified: per-stratum rates applied exactly
    val strat = Curation.stratifiedSample(df, col("lang"), col("id"), Map("en" -> 0), 1000)
    assert(strat.where(col("lang") === "en").count() == 0)
    assert(strat.where(col("lang") === "zh").count() ==
      df.where(col("lang") === "zh").count())
    // null stratum falls to the default rate
    val withNull = df.withColumn("lang",
      when(col("id") < 100, lit(null).cast("string")).otherwise(col("lang")))
    val stratNull = Curation.stratifiedSample(
      withNull, col("lang"), col("id"), Map("en" -> 0), defaultPermille = 1000)
    assert(stratNull.where(col("lang").isNull).count() == 100)
  }

  test("fallback plan: predicate split from one scan, no shuffle") {
    // parquet-backed input: a local relation would be constant-folded by
    // ConvertToLocalRelation and the plan shape would vanish
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val e1 = Fallback.Engine("a", identity, t => length(t).cast("double") / 100.0)
    val e2 = Fallback.Engine("b", identity, t => length(t).cast("double") / 50.0)
    val p = Fallback.twoPass(df, "text", e1, e2, 0.5)
      .queryExecution.executedPlan.toString()
    assert(p.contains("Union"), s"two-pass must union kept+fallback branches:\n${p.take(800)}")
    assert(!p.contains("Exchange"), s"fallback two-pass must be shuffle-free:\n${p.take(800)}")
  }

  test("bucketed join-back: co-located join without a shuffle (100-TB story)") {
    val sp = spark; import sp.implicits._
    val turns = graft.pipeline.TranscriptGen.dataset(spark, 10)
    val extracted = graft.pipeline.ExtractionJob.extract(turns)
    turns.toDF().write.bucketBy(4, "conv_id").sortBy("conv_id")
      .mode("overwrite").saveAsTable("graft_src_bucketed")
    extracted.toDF().select("conv_id", "turn_idx", "text_clean")
      .write.bucketBy(4, "conv_id").sortBy("conv_id")
      .mode("overwrite").saveAsTable("graft_ext_bucketed")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path: the point is that BUCKETING (not a
      // broadcast) removes the shuffle, as it would at 100 TB where
      // neither side broadcasts
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_src_bucketed")
        .join(spark.table("graft_ext_bucketed"), Seq("conv_id"))
      val p = joined.queryExecution.executedPlan.toString()
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n${p.take(1000)}")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed-by-conv_id join must not shuffle:\n${p.take(1000)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_src_bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_ext_bucketed")
    }
  }

  test("contamination plan: train postings pruned by broadcast semi-join pre-aggregation") {
    val sp = spark; import sp.implicits._
    val train = corpus.toDF("doc_id", "text")
    val testDf = corpus.take(3).toDF("doc_id", "text")
    val p = Curation.contamination(train, "doc_id", "text", testDf, "doc_id", "text",
      n = 3, minCommon = 1)
      .queryExecution.executedPlan.toString()
    // the train-side inverted index must NOT aggregate the full corpus
    // shingle space: a broadcast LeftSemi on test shingle keys sits below
    // the per-shingle aggregation (the 100-TB guard — VERDICT r1 fix #2)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"contamination lost the broadcast semi-join prune:\n${p.take(1200)}")
  }

  // ---------- render ----------

  test("render: markdown and xml are deterministic and order-stable") {
    val sp = spark; import sp.implicits._
    import graft.pipeline.{ExtractionJob, Render, TranscriptGen}
    val turns = TranscriptGen.dataset(spark, 5)
    val md1 = Render.markdown(ExtractionJob.extract(turns))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // shuffled input order must not change the render
    val shuffled = turns.orderBy(rand(7))
    val md2 = Render.markdown(ExtractionJob.extract(shuffled.as[graft.schema.Turn]))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(md1 == md2)
    assert(md1.nonEmpty)
    md1.foreach { case (cid, m) =>
      assert(m.startsWith(s"# Conversation $cid\n\n## Turn 0 ("))
    }
    val xml = Render.xml(ExtractionJob.extract(turns))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    xml.foreach { case (cid, x) =>
      assert(x.startsWith(s"""<conversation id="$cid"><turn idx="0""""))
      assert(x.endsWith("</conversation>"))
      // after removing well-formed tags, no raw angle brackets remain
      // (span values are xml-escaped)
      val residue = x.replaceAll("<[^<>]+>", "")
      assert(!residue.contains("<") && !residue.contains(">"), s"unescaped: $residue")
    }
  }
}
