package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact references the approximate-nearest-neighbour operators and the
  * native vector expressions are checked against.
  */
object SimilarityOracle {

  /** Brute-force cosine top-k: full scan + TakeOrderedAndProject, scored
    * by the native fused-loop expression — the exact answer the ANN
    * recall tests compare against.
    */
  def cosineTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      graft.functions.VectorFunctions.cosineConst(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)

  /** Top-`a` nearest centroid list ids (ties by list id) — the scalar
    * reference for the native `ivfAssign` expression.
    */
  def nearestCentroids(
      v: Array[Float], cents: Array[(Int, Array[Float])], a: Int): Seq[Int] =
    cents.map { case (l, c) => (l, Similarity.cosine(v, c)) }
      .sortBy { case (l, c) => (-c, l) }
      .take(a).map(_._1).toSeq
}
