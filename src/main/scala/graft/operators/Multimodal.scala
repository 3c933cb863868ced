package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: image/audio/video as
  * opaque `binary` columns with typed metadata, plus a decode /
  * feature-extract stage.
  *
  * The Spark-side plumbing — schema, partition-preserving narrow maps,
  * pooled per-partition decoder instances, batched decode shape — is real
  * and tested. IMAGE decode is real too: [[ImageIODecoder]] wraps the
  * JDK's `javax.imageio` codecs (PNG/JPEG/GIF/BMP) and computes luminance
  * statistics from decoded pixels. Formats the JDK lacks (audio/video)
  * fall back to [[StubDecoder]]'s deterministic byte statistics — swap
  * one class to productionize; every schema/partitioning/batching
  * decision stands.
  *
  * Mirrors the reference's image stages (SURVEY.md Q1-Q7,
  * image_processor.py / quality_detector.py) re-shaped for columnar media.
  */
object Multimodal {

  /** Typed metadata carried beside the opaque payload. */
  final case class MediaMeta(width: Int, height: Int, n_bytes: Long, mime: String)

  final case class MediaRow(id: Long, payload: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(
      id: Long, width: Int, height: Int, n_bytes: Long,
      features: Array[Float])

  /** Attach a deterministic binary payload + metadata to a text table —
    * the sandbox stand-in for reading real media files
    * (`spark.read.format("binaryFile")` in production).
    */
  def attachPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      col(textCol).cast("binary").as("payload"))
      .withColumn("meta", struct(
        // fake-but-deterministic dims derived from content
        (pmod(xxhash64(col("payload")), lit(1024)) + 64).cast("int").as("width"),
        (pmod(xxhash64(col("payload"), lit(1)), lit(768)) + 64).cast("int").as("height"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        lit("application/octet-stream").as("mime")))

  /** The decoder seam. A real implementation wraps an image/audio codec;
    * instances are pooled per partition and fed BATCHES (the shape real
    * codecs want — amortized model/codec setup, vectorized decode).
    */
  trait Decoder {
    /** decode a batch of payloads into fixed-width feature vectors */
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Array[Float]]
  }

  /** STUB — deterministic byte-statistics "features" (8 dims): mean, std,
    * min, max of unsigned bytes, length-derived dims. Replace with a real
    * codec to productionize; semantics of the pipeline do not change.
    */
  final class StubDecoder extends Decoder {
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Array[Float]] = batch.map { b =>
      if (b == null || b.isEmpty) Array.fill(8)(0.0f)
      else {
        var sum = 0.0; var sq = 0.0; var mn = 255.0; var mx = 0.0
        var i = 0
        while (i < b.length) {
          val v = (b(i) & 0xff).toDouble
          sum += v; sq += v * v
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        val n = b.length.toDouble
        val mean = sum / n
        val std = math.sqrt(math.max(0.0, sq / n - mean * mean))
        Array(mean.toFloat, std.toFloat, mn.toFloat, mx.toFloat,
          n.toFloat, (b(0) & 0xff).toFloat, (b(b.length - 1) & 0xff).toFloat,
          ((b.length % 251)).toFloat)
      }
    }
  }

  /** REAL image decoder on the pure-JVM codec (`javax.imageio` — PNG,
    * JPEG, GIF, BMP ship with the JDK; no external libs). Produces 8
    * features: luminance mean/std/min/max, width, height, aspect ratio,
    * payload bytes. Payloads the codec cannot parse fall back to the
    * deterministic byte-statistics stub, so mixed-media columns never
    * fail the batch (the seam `extractFeatures` relies on).
    */
  final class ImageIODecoder(fallback: Decoder = new StubDecoder) extends Decoder {
    def decodeBatch(batch: Seq[Array[Byte]]): Seq[Array[Float]] = batch.map { b =>
      val img =
        try {
          if (b == null || b.isEmpty) null
          else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        } catch { case _: Throwable => null }
      if (img == null) fallback.decodeBatch(Seq(b)).head
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0.0; var sq = 0.0; var mn = 255.0; var mx = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            sum += lum; sq += lum * lum
            if (lum < mn) mn = lum
            if (lum > mx) mx = lum
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toDouble
        val mean = sum / n
        val std = math.sqrt(math.max(0.0, sq / n - mean * mean))
        Array(mean.toFloat, std.toFloat, mn.toFloat, mx.toFloat,
          w.toFloat, h.toFloat, w.toFloat / h.toFloat, b.length.toFloat)
      }
    }
  }

  /** Batched feature extraction: narrow mapPartitions (no shuffle), one
    * pooled decoder per partition, `batchSize` payloads per decode call.
    */
  def extractFeatures(
      media: Dataset[MediaRow], batchSize: Int = 64,
      mkDecoder: () => Decoder = () => new StubDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val decoder = mkDecoder() // pooled per partition
      it.grouped(batchSize).flatMap { batch =>
        val feats = decoder.decodeBatch(batch.map(_.payload))
        batch.lazyZip(feats).map { (row, f) =>
          MediaFeatures(row.id, row.meta.width, row.meta.height,
            row.meta.n_bytes, f)
        }
      }
    }
  }
}
