package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.pipeline.{DocGen, TranscriptGen}
import graft.pipeline.TranscriptGen.sm64

/** Seeded inputs, written as parquet during set-up. The seed only offsets
  * the ids fed to the program's public generators, so every seed keeps the
  * generators' planted structure: the 1-in-97 heavy conversations of
  * [[TranscriptGen]], and the exact (every 37th id) and near (every 41st)
  * duplicates of [[DocGen]]. Offsets are multiples of those periods.
  */
object Inputs {

  /** First conversation id of `seed`: a multiple of 97, so each seed has
    * the same heavy-conversation positions. Seeds wrap at 2^14: a larger id
    * would put `makeTurn`'s timestamp (3600 s per conversation id) beyond
    * what Spark's microsecond timestamps hold.
    */
  def convBase(seed: Long): Long = 97L * 1000L * (1L + Math.floorMod(seed, 1L << 14))

  /** First document id of `seed`: a multiple of 37 · 41 · 97. */
  def docBase(seed: Long): Long = 37L * 41L * 97L * 1009L * (1L + Math.floorMod(seed, 1L << 20))

  /** First benchmark-document id of `seed` (the decontamination test set). */
  def benchBase(seed: Long): Long = 1000003L * (1L + Math.floorMod(seed, 1L << 20))

  /** `TranscriptGen` conversations from `convBase(seed)` on, as many as
    * reach `minTurns` turns: every seed has about the same row count.
    */
  def writeTranscripts(spark: SparkSession, seed: Long, minTurns: Long, out: String): Unit = {
    import spark.implicits._
    val base = convBase(seed)
    var nConvs = 0L
    var turns = 0L
    while (turns < minTurns) { turns += TranscriptGen.convTurns(base + nConvs); nConvs += 1 }
    spark.range(0L, nConvs, 1L, spark.sparkContext.defaultParallelism)
      .flatMap { i =>
        val c = base + i
        (0 until TranscriptGen.convTurns(c)).iterator.map(t => TranscriptGen.makeTurn(c, t))
      }
      .write.mode("overwrite").parquet(out)
  }

  /** Length of long turn `j` of `n`: log-uniform over [1k, 100k) chars,
    * stratified (one draw per 1/n quantile) so every seed has the same
    * length profile and only the text and the bucket placement differ.
    * Input file k holds turns [k·n/p, (k+1)·n/p) and gets quantiles
    * k, k + p, k + 2p, …: every file has the same length profile, so no
    * input split is a straggler by construction.
    */
  def longTurnLength(seed: Long, j: Int, n: Int, p: Int): Int = {
    require(n % p == 0, s"$n long turns do not split evenly into $p files")
    val q = (j % (n / p)) * p + j / (n / p)
    val u = (sm64(convBase(seed) + j) >>> 11).toDouble / (1L << 53).toDouble
    (1000.0 * math.pow(100.0, (q + u) / n)).toInt
  }

  /** One long turn per conversation `convBase(seed) + j`: the conversation's
    * generator turns joined by newlines, cut to [[longTurnLength]].
    */
  def writeLongTurns(spark: SparkSession, seed: Long, n: Int, out: String): Unit = {
    import spark.implicits._
    val base = convBase(seed)
    // one file per task slot when they divide the turns evenly
    val slots = spark.sparkContext.defaultParallelism
    val p = if (n % slots == 0) slots else 1
    spark.range(0L, n.toLong, 1L, p)
      .map { j =>
        val c = base + j
        val len = longTurnLength(seed, j.toInt, n, p)
        val sb = new java.lang.StringBuilder
        var t = 0
        while (sb.length < len) {
          if (t > 0) sb.append('\n')
          sb.append(TranscriptGen.turnText(c, t))
          t += 1
        }
        val cut = if (Character.isHighSurrogate(sb.charAt(len - 1))) len - 1 else len
        TranscriptGen.makeTurn(c, 0).copy(text = sb.substring(0, cut))
      }
      .write.mode("overwrite").parquet(out)
  }

  /** `DocGen` documents `docBase(seed) + [0, nDocs)`; every id ≡ 13 (mod 97)
    * also carries a planted line of one of the `nBench` benchmark documents
    * (the same rule as `DocGen.plantContamination`, over this seed's
    * benchmark ids).
    */
  def writeDocs(spark: SparkSession, seed: Long, nDocs: Long, nBench: Long, out: String): Unit = {
    import spark.implicits._
    val base = docBase(seed)
    val bBase = benchBase(seed)
    spark.range(0L, nDocs, 1L, spark.sparkContext.defaultParallelism)
      .map { i =>
        val id = base + i
        val text = DocGen.docText(id)
        if (Math.floorMod(id, 97L) != 13L) (id, text)
        else (id, text + "\n" + DocGen.plantLine(
          bBase + Math.floorMod(sm64(id * 0x9E3779B97F4A7C15L + 11L), nBench)))
      }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(out)
  }

  /** This seed's benchmark documents for decontamination. */
  def writeBenchmark(spark: SparkSession, seed: Long, nBench: Long, out: String): Unit = {
    import spark.implicits._
    val bBase = benchBase(seed)
    spark.range(0L, nBench, 1L, 1)
      .map(b => (bBase + b, DocGen.benchmarkText(bBase + b)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(out)
  }

  /** Bytes of the parquet data files under `dir`. */
  def parquetBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(p => p.toString.endsWith(".parquet"))
      .map(p => Files.size(p)).sum
    finally s.close()
  }

  /** Regular files under `dir`, not counting Hadoop checksum files. */
  def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toSeq
    finally s.close()
  }
}
