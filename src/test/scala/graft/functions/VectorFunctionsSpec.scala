package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, SimilarityOracle}

class VectorFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-functions-spec")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def vecs(n: Int, dim: Int): Seq[(Long, Seq[Float])] = (0L until n.toLong).map { i =>
    (i, (0 until dim).map { d =>
      val h = graft.pipeline.TranscriptGen.sm64(i * 131 + d)
      (h.toDouble / Long.MaxValue.toDouble).toFloat
    })
  }

  test("native cosine/dot equal the scala reference and the zip_with formulation bit-for-bit") {
    val sp = spark; import sp.implicits._
    val data = vecs(500, 24)
    val q = data.head._2.toArray
    val df = data.toDF("id", "v")

    val rows = df.select(
      col("id"),
      VectorFunctions.cosineConst(col("v"), q).as("c_native"),
      Similarity.cosineWithConst(col("v"), q).as("c_hof"),
      VectorFunctions.dot(col("v"), lit(q)).as("d_native"),
      Similarity.dotWithConst(col("v"), q).as("d_hof"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val expect = Similarity.cosine(data(id.toInt)._2.toArray, q)
      // native == scala reference BIT-FOR-BIT (identical op sequence:
      // dot/sqrt(na*nb)); the hof form divides by sqrt(na)*sqrt(nb) so it
      // may differ in the last ulp
      assert(r.getDouble(1) == expect, s"cosine native != scala ref at $id")
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12, s"native vs hof at $id")
      assert(r.getDouble(3) == r.getDouble(4), s"dot native != hof at $id")
    }

    // pairwise-column form (the near-dup verify path)
    val pair = df.as("a").join(df.as("b"), col("a.id") =!= col("b.id"))
      .limit(50)
      .select(VectorFunctions.cosine(col("a.v"), col("b.v")).as("c"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .collect()
    pair.foreach { r =>
      val e = Similarity.cosine(
        r.getSeq[Float](1).toArray, r.getSeq[Float](2).toArray)
      assert(math.abs(r.getDouble(0) - e) < 1e-12)
    }
  }

  test("SQL registration via SparkSessionExtensions + codegen (no fallback) + null semantics") {
    val sp = spark; import sp.implicits._
    vecs(100, 8).toDF("id", "v").createOrReplaceTempView("vv")
    val viaSql = spark.sql(
      "SELECT id, graft_cosine(v, v) AS self_cos, graft_dot(v, v) AS self_dot FROM vv")
    val plan = viaSql.queryExecution.executedPlan.toString()
    assert(!plan.contains("CodegenFallback"), s"expression fell back to interpreted path:\n$plan")
    viaSql.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9) // self-cosine = 1
      assert(r.getDouble(2) > 0.0)
    }
    // null array -> null; zero vector -> 0.0
    val edge = Seq(
      (1L, Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 2.0f))),
      (2L, None, Some(Seq(1.0f, 2.0f))))
      .toDF("id", "a", "b")
      .select(col("id"), VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(edge(1L).contains(0.0))
    assert(edge(2L).isEmpty)
  }

  test("lshBucket / ivfAssign native expressions: scala-reference parity + codegen, no fallback") {
    val sp = spark; import sp.implicits._
    val data = vecs(300, 16)
    val df = data.toDF("id", "v")
    val planes = Similarity.randomPlanes(8, 16, seed = 99L)
    val cents: Array[(Int, Array[Float])] =
      data.take(6).zipWithIndex.map { case ((_, v), i) => (i, v.toArray) }.toArray
    val q = df.select(col("id"),
      VectorFunctions.lshBucket(col("v"), planes).as("b"),
      VectorFunctions.ivfAssign(col("v"), cents, 3).as("ls"))
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("CodegenFallback"),
      s"lshBucket/ivfAssign fell back to interpreted path:\n$plan")
    q.collect().foreach { r =>
      val arr = data(r.getLong(0).toInt)._2.toArray
      assert(r.getInt(1) == Similarity.bucketOf(arr, planes),
        s"lshBucket mismatch at id ${r.getLong(0)}")
      assert(r.getSeq[Int](2) == SimilarityOracle.nearestCentroids(arr, cents, 3),
        s"ivfAssign mismatch at id ${r.getLong(0)}")
    }
    // zero vector: every plane dot = 0 >= 0 -> all bits set; assignment
    // falls back to the id tie-break (all cosines 0.0)
    val z = Seq((0L, Seq.fill(16)(0.0f))).toDF("id", "v")
      .select(VectorFunctions.lshBucket(col("v"), planes).as("b"),
        VectorFunctions.ivfAssign(col("v"), cents, 2).as("ls"))
      .first()
    assert(z.getInt(0) == 255 && z.getSeq[Int](1) == Seq(0, 1))
  }

  test("no row UDFs anywhere in src/main (all custom logic is native expressions or mapPartitions)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assume(java.nio.file.Files.exists(root))
    val stream = java.nio.file.Files.walk(root)
    val offenders = try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          src.contains("udf(") || src.contains("udf {")
        }
        .map(_.toString).toList
    } finally stream.close()
    assert(offenders.isEmpty, s"row UDFs found in: $offenders")
  }
}
