package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-operators-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** deterministic word-salad docs + planted near-duplicates */
  private def corpus: Seq[(Long, String)] = {
    val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon").split(" ")
    def doc(seed: Long, n: Int): String =
      (0 until n).map { i =>
        vocab(((graft.pipeline.TranscriptGen.sm64(seed * 131 + i) >>> 33) % vocab.length).toInt)
      }.mkString(" ")
    val base = (0L until 40L).map(i => i -> doc(i, 60))
    // planted near-dups: docs 100+i = doc i with a small tail edit
    val dups = (0L until 8L).map(i => (100L + i) -> (base(i.toInt)._2 + " tailword extra"))
    base ++ dups
  }

  test("minhash near-dups match brute-force jaccard pairs (no false negatives at high sim)") {
    val sp = spark; import sp.implicits._
    val p = Dedup.MinHashParams(numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.6)
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.minHashNearDups(df, "doc_id", "text", p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    val expected = DedupOracle.bruteForceJaccardPairs(corpus, p.shingleSize, p.threshold)
      .sortBy(x => (x._1, x._2))
    // LSH at 16 bands x 4 rows has >99.9% recall at jaccard>=0.9;
    // planted pairs are ~0.93 — all must be found, and every reported pair
    // must be exact-verified (no false positives by construction)
    val expectedHigh = expected.filter(_._3 >= 0.9).map(x => (x._1, x._2)).toSet
    val gotPairs = got.map(x => (x._1, x._2)).toSet
    assert(expectedHigh.subsetOf(gotPairs),
      s"missing high-sim pairs: ${expectedHigh -- gotPairs}")
    got.foreach { case (a, b, j) =>
      val bf = DedupOracle.jaccard(
        DedupOracle.shingles(corpus.find(_._1 == a).get._2, p.shingleSize),
        DedupOracle.shingles(corpus.find(_._1 == b).get._2, p.shingleSize))
      assert(math.abs(bf - j) < 1e-12)
      assert(j >= p.threshold)
    }
    assert(got.size >= 8, s"planted dups not found: $got")
  }

  test("simhash near-dups find planted duplicates with exact hamming verify") {
    val sp = spark; import sp.implicits._
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.simHashNearDups(df, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every reported pair verified
    got.foreach { case (a, b, h) =>
      val sa = Dedup.simHash(corpus.find(_._1 == a).get._2)
      val sb = Dedup.simHash(corpus.find(_._1 == b).get._2)
      assert(Dedup.hamming(sa, sb) == h)
      assert(h <= 8)
    }
    // planted pairs are tiny edits -> low hamming; most should be found
    val planted = (0L until 8L).map(i => (i, 100L + i)).toSet
    val found = got.map(x => (x._1, x._2)).toSet
    assert((planted intersect found).size >= 6,
      s"too few planted simhash dups found: ${planted intersect found}")
  }

  test("exact dedup groups identical normalized texts") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "HELLO  WORLD "),
      (4L, "different text")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length == 2)
    val big = out.find(_.getAs[Long]("dup_count") == 3).get
    assert(big.getAs[Long]("keep_id") == 1L)
  }

  test("brute-force cosine topk is exact; LSH topk has high recall") {
    val sp = spark; import sp.implicits._
    val dim = 32
    def vec(seed: Long): Array[Float] = Array.tabulate(dim) { d =>
      ((graft.pipeline.TranscriptGen.sm64(seed * 997 + d).toDouble / Long.MaxValue)).toFloat
    }
    val vecs = (0L until 500L).map(i => (i, vec(i).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vec(0L)

    val top = SimilarityOracle.cosineTopK(df, "vec_id", "embedding", q, 10).collect()
    // exact check vs local computation
    val localTop = vecs.map { case (id, v) =>
      (id, Similarity.cosine(v.toArray, q))
    }.sortBy { case (id, c) => (-c, id) }.take(10)
    assert(top.map(_.getLong(0)).toSeq == localTop.map(_._1))
    top.zip(localTop).foreach { case (r, (_, c)) =>
      assert(math.abs(r.getDouble(1) - c) < 1e-9)
    }

    val lsh = Similarity.lshTopK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (lsh intersect localTop.map(_._1).toSet).size / 10.0
    assert(recall >= 0.5, s"LSH recall too low: $recall")
    info(f"LSH 8x4 recall vs exact top-10: $recall%.2f")
  }

  test("embedding near-dups find planted perturbed copies") {
    val sp = spark; import sp.implicits._
    val dim = 32
    def vec(seed: Long): Array[Float] = Array.tabulate(dim) { d =>
      ((graft.pipeline.TranscriptGen.sm64(seed * 997 + d).toDouble / Long.MaxValue)).toFloat
    }
    val base = (0L until 200L).map(i => (i, vec(i)))
    val copies = (0L until 10L).map { i =>
      val v = vec(i).clone(); v(0) = v(0) + 0.001f
      (1000L + i, v)
    }
    val df = (base ++ copies).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(df, "vec_id", "embedding", minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = (0L until 10L).map(i => (i, 1000L + i)).toSet
    val found = got.toSet
    assert((planted intersect found).size >= 8,
      s"found only ${(planted intersect found).size} of 10 planted embedding dups")
    got.foreach { case (a, b) =>
      val all = (base ++ copies).toMap
      assert(Similarity.cosine(all(a), all(b)) >= 0.999)
    }
  }

  test("langId picks marker-heavy language with evidence threshold") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house is in it"),
      (2L, "el la los las una pero como más palabras"),
      (3L, "xyzzy plugh quux")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.markerCounts(col("text")).as("mc"))
      .select(col("id"), TextAnalysis.langIdFromCounts(col("mc")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }
}
