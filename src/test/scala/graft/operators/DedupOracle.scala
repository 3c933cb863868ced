package graft.operators

/** Set-based exact-Jaccard reference the dedup operators are checked
  * against (O(n²) — small inputs only).
  */
object DedupOracle {

  /** word k-shingles as a set — the hash values of [[Dedup.shinglesArray]] */
  def shingles(text: String, k: Int): Set[Long] = Dedup.shinglesArray(text, k).toSet

  def jaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  /** every pair at or above `threshold`, as (smaller id, larger id, jaccard) */
  def bruteForceJaccardPairs(
      docs: Seq[(Long, String)], shingleSize: Int, threshold: Double): Seq[(Long, Long, Double)] = {
    val sh = docs.map { case (id, t) => id -> shingles(t, shingleSize) }
    for {
      i <- sh.indices
      j <- (i + 1) until sh.size
      ja = jaccard(sh(i)._2, sh(j)._2)
      if ja >= threshold
    } yield {
      val (a, b) = (math.min(sh(i)._1, sh(j)._1), math.max(sh(i)._1, sh(j)._1))
      (a, b, ja)
    }
  }
}
