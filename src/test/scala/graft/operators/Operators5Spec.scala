package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Fs

/** Round-5 tests: materialized-index duplicate tolerance, ordered concat,
  * C4 span dedup, heavy hitters, and eager argument checks.
  */
class Operators5Spec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-operators5-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse5").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def vecs(from: Long, until: Long, dim: Int = 16): Seq[(Long, Seq[Float])] =
    (from until until).map { i =>
      i -> (0 until dim).map { d =>
        val h = graft.pipeline.TranscriptGen.sm64(i * 7919L + d)
        (h.toDouble / Long.MaxValue.toDouble).toFloat
      }
    }

  private def isData(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  private def dataFiles(dir: String): Seq[String] =
    Fs.listFilesRecursive(dir).filter(f => isData(f.split('/').last))

  private def leafDirs(dir: String, depth: Int): Seq[String] =
    if (depth == 0) Seq(dir)
    else Fs.listDirNames(dir).filter(_.contains("="))
      .flatMap(x => leafDirs(s"$dir/$x", depth - 1))

  test("duplicated rows in an index partition do not change query results") {
    val sp = spark; import sp.implicits._
    val dir = Files.createTempDirectory("graft-lsh-dup").toString + "/idx"
    val all = vecs(0L, 150L)
    Similarity.writeLshIndex(
      Similarity.buildLshIndex(all.toDF("vec_id", "embedding"), "vec_id", "embedding"), dir)
    val query = all(11)._2.toArray
    def topk(): Seq[(Long, Double)] =
      Similarity.lshTopKIndexed(spark.read.parquet(dir), query, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = topk()

    // duplicate a partition's data file, as a replayed append can leave
    // it (rows now appear twice in that partition)
    val somePart = leafDirs(dir, 2).find(d => dataFiles(d).nonEmpty).get
    val rowsBefore = spark.read.parquet(somePart).count()
    val f = dataFiles(somePart).head
    val fileRows = spark.read.parquet(f).count()
    Fs.copyFile(f, s"$somePart/dup-${f.split('/').last}")
    assert(spark.read.parquet(somePart).count() == rowsBefore + fileRows)

    // duplicates are invisible to the query path (dropDuplicates on id)
    assert(topk() == before, "duplicate rows must not change results")
  }

  test("orderedConcat: exact order restoration under shuffled multi-partition input") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    // rows deliberately scrambled and spread over partitions: order must
    // come from the sort keys, never from arrival order
    val rows = scala.util.Random.shuffle(
      for { g <- 1 to 5; i <- 1 to 40 } yield (g, i, s"v${g}_$i"))
    val df = rows.toDF("g", "i", "v").repartition(8)
    val got = df.groupBy(col("g"))
      .agg(graft.pipeline.ExtractionJob
        .orderedConcat(col("v"), "|", col("i")).as("chain"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val want = (1 to 5).map(g => g -> (1 to 40).map(i => s"v${g}_$i").mkString("|")).toMap
    assert(got == want)
  }

  test("C4.spanDedup: hand-computed keeper/removal/overlap semantics") {
    val sp = spark; import sp.implicits._
    // n=3 newline units. Duplicated spans: (a,b,c) keeper (1,0);
    // (b,c,d) keeper (1,1); (q,r,s) keeper (0,1); (m,n,o) keeper (7,0)
    val docs = Seq(
      (0L, "p\nq\nr\ns"),           // holds a keeper only — untouched
      (1L, "a\nb\nc\nd"),           // both its spans are keepers — untouched
      (2L, "a\nb\nc"),              // one non-keeper span covering all units — emptied
      (3L, "x\ny"),                 // under n units — untouched
      (4L, ""),                     // single empty unit — untouched
      (5L, "b\nc\nd\nz"),           // non-keeper (b,c,d) deletes 0..2, z survives
      (6L, "q\nr\ns\nt"),           // non-keeper (q,r,s) deletes 0..2, t survives
      (7L, "m\nn\no\np2\nq2\nr2"),  // keeper of (m,n,o) — untouched
      (8L, "m\nn\no"),              // non-keeper of (m,n,o) — emptied
      (9L, "b\nc\nd\na\nb\nc")      // two non-keeper spans cover 0..5 — emptied
    ).toDF("doc_id", "text").repartition(4)
    val got = C4.spanDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val want = Map(
      0L -> ((4, 4, "p\nq\nr\ns")),
      1L -> ((4, 4, "a\nb\nc\nd")),
      2L -> ((3, 0, "")),
      3L -> ((2, 2, "x\ny")),
      4L -> ((1, 1, "")),
      5L -> ((4, 1, "z")),
      6L -> ((4, 1, "t")),
      7L -> ((6, 6, "m\nn\no\np2\nq2\nr2")),
      8L -> ((3, 0, "")),
      9L -> ((6, 0, "")))
    assert(got == want)
  }

  test("C4.spanDedup n=1: degenerates to corpus-level exact line dedup") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "a\nb"), // both lines are keepers
      (2L, "b\nc"), // b duplicates (1,1) -> removed; c survives
      (3L, "a")     // a duplicates (1,0) -> removed entirely
    ).toDF("doc_id", "text")
    val got = C4.spanDedup(docs, "doc_id", "text", n = 1)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got == Map(
      1L -> ((2, 2, "a\nb")),
      2L -> ((2, 1, "c")),
      3L -> ((1, 0, ""))))
  }

  test("heavyHitters exact regime: vocabulary under capacity => true counts, zero error") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    // 23 distinct items < capacity 50: no eviction fires in any partition
    // buffer or merge-tree node, so the sketch IS a GROUP BY — the claim
    // the x14 DuckDB oracle rests on (documents vocabulary 31 < 100)
    val items = (0 until 20000).map(i => s"tok${i % 23}")
    val df = items.toDF("tok").repartition(16)
    val got = HeavyHitters.heavyHitters(df, col("tok"), 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.length == 23)
    assert(got.forall(_._3 == 0L), "exact regime must report zero error")
    assert(got.map(t => t._1 -> t._2).toMap == want)
  }

  test("search: empty term is rejected eagerly, not as an executor-side divide-by-zero") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "some text")).toDF("id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Search.search(df, "id", "text", "", 5)
    }
    assert(e1.getMessage.contains("non-empty"))
    intercept[IllegalArgumentException](Search.occurrencesSql("text", ""))
    intercept[IllegalArgumentException](Search.excerptSql("text", ""))
  }

  test("dimension probes tolerate a null first embedding (size(null) must not NPE the probe)") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, null.asInstanceOf[Seq[Float]]),
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val pairs = Dedup.embeddingNearDups(df, "id", "vec", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((2L, 3L)), pairs.toSeq.toString)
    val dir = Files.createTempDirectory("lsh-nullprobe").toString
    Similarity.buildLshIndex(df, "id", "vec", tables = 2, planesPerTable = 2)
      .write.mode("overwrite").parquet(dir)
    assert(sp.read.parquet(dir).count() > 0)
    Fs.deleteTree(dir)
  }

  test("redact/chunkEmbeddings/spanDedup: non-integral id columns are rejected eagerly (the dedup null-cast trap)") {
    val sp = spark; import sp.implicits._
    val df = Seq(("uuid-a", "text with foo@bar.com")).toDF("id", "text")
    val e = intercept[IllegalArgumentException](Redact.redact(df, "id", "text"))
    assert(e.getMessage.contains("integral"))
    intercept[IllegalArgumentException](
      SemanticSearch.chunkEmbeddings(df, "id", "text"))
    intercept[IllegalArgumentException](C4.spanDedup(df, "id", "text"))
  }

  test("gopherQualityGate: hand-computed truth table, one failing gate per document") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col

    val good = (Seq.fill(48)("data") ++ Seq("the", "and")).mkString(" ")
    val fewWords = "the and data"
    val shortWords = (Seq.fill(48)("a") ++ Seq("the", "and")).mkString(" ")
    val symbols =
      (Seq.fill(42)("data") ++ Seq.fill(6)("#") ++ Seq("the", "and")).mkString(" ")
    val bullets =
      (Seq.fill(9)("• data data data data data") :+ "• the and data data")
        .mkString("\n")
    val ellipsis =
      (Seq.fill(4)("data data data data data ...") ++
        Seq.fill(5)("data data data data data data") :+
        "data data data data the and").mkString("\n")
    val nonAlpha =
      (Seq.fill(37)("data") ++ Seq.fill(11)("12345") ++ Seq("the", "and"))
        .mkString(" ")
    val oneStop = (Seq.fill(49)("data") :+ "the").mkString(" ")

    val rows = Seq(
      ("good", good, true), ("few", fewWords, false),
      ("short", shortWords, false), ("sym", symbols, false),
      ("bullet", bullets, false), ("ell", ellipsis, false),
      ("alpha", nonAlpha, false), ("stop", oneStop, false),
      ("null", null.asInstanceOf[String], false), ("empty", "", false),
      ("ws", "  \n ", false))
    val df = rows.toDF("name", "text", "expect")

    val got = df.select(
      col("name"), col("expect"),
      TextAnalysis.gopherQualityGate(col("text")).as("keep"),
      TextAnalysis.gopherWordCount(col("text")).as("wc"),
      TextAnalysis.meanWordLength(col("text")).as("mwl"),
      TextAnalysis.symbolToWordRatio(col("text")).as("sym"),
      TextAnalysis.bulletLineFraction(col("text")).as("bullet"),
      TextAnalysis.ellipsisLineFraction(col("text")).as("ell"),
      TextAnalysis.alphaWordFraction(col("text")).as("alpha"),
      TextAnalysis.stopWordCount(col("text")).as("stops"))
      .collect().map(r => r.getString(0) -> r).toMap

    rows.foreach { case (name, _, expect) =>
      assert(got(name).getBoolean(2) === expect, s"gate($name)")
    }
    // exact signal arithmetic, hand-computed
    val g = got("good")
    assert(g.getInt(3) === 50 && math.abs(g.getDouble(4) - 3.96) < 1e-12)
    assert(got("sym").getDouble(5) === 0.12)           // 6 hashes / 50 words
    assert(got("bullet").getDouble(6) === 1.0)         // 10 of 10 lines
    assert(got("ell").getDouble(7) === 0.4)            // 4 of 10 lines
    assert(got("alpha").getDouble(8) === 39.0 / 50.0)  // 11 numeric words
    assert(got("stop").getInt(9) === 1 && got("good").getInt(9) === 2)
    // every failing document fails EXACTLY its intended gate: flipping the
    // one threshold rescues it (paper defaults otherwise)
    def keep(name: String, c: org.apache.spark.sql.Column): Boolean =
      df.where(col("name") === name).select(c).head().getBoolean(0)
    assert(keep("few", TextAnalysis.gopherQualityGate(col("text"), minWords = 3)))
    assert(keep("short", TextAnalysis.gopherQualityGate(col("text"), minMeanWordLen = 1.0)))
    assert(keep("sym", TextAnalysis.gopherQualityGate(col("text"), maxSymbolRatio = 0.2)))
    assert(keep("bullet", TextAnalysis.gopherQualityGate(col("text"), maxBulletFrac = 1.0)))
    assert(keep("ell", TextAnalysis.gopherQualityGate(col("text"), maxEllipsisFrac = 0.5)))
    assert(keep("alpha", TextAnalysis.gopherQualityGate(col("text"), minAlphaFrac = 0.7)))
    assert(keep("stop", TextAnalysis.gopherQualityGate(col("text"), minStopWords = 1)))
    // dash bullets and the one-char ellipsis variant count too
    val variants = Seq(("v", "- item one\n- item two\nplain tail…")).toDF("n", "text")
    val v = variants.select(
      TextAnalysis.bulletLineFraction(col("text")),
      TextAnalysis.ellipsisLineFraction(col("text"))).head()
    assert(v.getDouble(0) === 2.0 / 3.0 && v.getDouble(1) === 1.0 / 3.0)
    // tightened maxWords parameter drops an otherwise-good long document
    val long = Seq(("l", (Seq.fill(68)("data") ++ Seq("the", "and")).mkString(" ")))
      .toDF("n", "text")
    assert(!long.select(TextAnalysis.gopherQualityGate(col("text"), maxWords = 60))
      .head().getBoolean(0))
  }
}
