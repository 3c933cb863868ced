package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}

/** Approximate heavy hitters via the Space-Saving sketch (Metwally et al.,
  * "Efficient Computation of Frequent and Top-k Elements in Data Streams",
  * ICDT 2005): one mutable sketch per partition, merged in a fixed tree.
  *
  * Guarantees: a SINGLE sketch with `capacity` counters captures any item
  * with true frequency > N/capacity, overestimating each count by at most
  * its recorded `error`. The MERGED per-partition path (union + truncate,
  * mergeable-summaries form) weakens capture to frequency > 2N/capacity —
  * mass an item loses to evictions inside partials is gone before the
  * merge. Size `capacity` for the merged bound; tests assert it.
  *
  * Scale shape: the sketch is a bounded (capacity ≤ a few thousand)
  * mergeable buffer, so the aggregation is one shuffle of tiny partial
  * sketches (map-side combine does the heavy lifting) — frequency mining
  * over 10^12 tokens without a groupBy over the full key space.
  */
object HeavyHitters extends Serializable {

  /** counter: item → (count, error), as parallel sequences — the form a
    * partition's sketch travels in between merge rounds.
    */
  final case class Sketch(items: Seq[String], counts: Seq[Long], errors: Seq[Long])

  final case class HeavyHitter(item: String, count: Long, error: Long)

  private final class Buffer(val capacity: Int) {
    require(capacity > 0, s"sketch capacity must be positive, got $capacity")
    val map: mutable.LinkedHashMap[String, (Long, Long)] = mutable.LinkedHashMap.empty

    // NOTE eviction cost: the min-count scan below is O(capacity) per
    // evicting row — fine at the capacities this engine uses (<= a few
    // hundred); a 4096+-capacity deployment over a Zipfian stream should
    // upgrade to a count-indexed structure (Stream-Summary / TreeMap) for
    // O(log k) eviction. Same mergeable-summaries bounds either way.
    def add(item: String, weight: Long = 1L): Unit = {
      map.get(item) match {
        case Some((c, e)) => map.update(item, (c + weight, e))
        case None =>
          if (map.size < capacity) map.update(item, (weight, 0L))
          else {
            // evict the min-count item; inherit its count as error
            val (minItem, (minC, _)) = map.minBy(_._2._1)
            map.remove(minItem)
            map.update(item, (minC + weight, minC))
          }
      }
    }

    def mergeIn(other: Buffer): Unit = {
      // mergeable-summaries form (Agarwal et al., PODS'12): union with
      // counts/errors summed for shared items, then truncate to the
      // `capacity` largest counts. Preserves the overcount bound
      // (count ≤ true + error) and the heavy-item capture guarantee.
      other.map.foreach { case (item, (c, e)) =>
        map.get(item) match {
          case Some((c0, e0)) => map.update(item, (c0 + c, e0 + e))
          case None           => map.update(item, (c, e))
        }
      }
      if (map.size > capacity) {
        val keep = map.toSeq.sortBy { case (i, (c, _)) => (-c, i) }.take(capacity)
        map.clear()
        keep.foreach { case (i, ce) => map.update(i, ce) }
      }
    }

    def toSketch: Sketch = {
      val s = map.toSeq.sortBy { case (i, (c, _)) => (-c, i) }
      Sketch(s.map(_._1), s.map(_._2._1), s.map(_._2._2))
    }
  }

  private def fromSketch(s: Sketch, capacity: Int): Buffer = {
    val b = new Buffer(capacity)
    s.items.indices.foreach(i => b.map.update(s.items(i), (s.counts(i), s.errors(i))))
    b
  }

  /** One mutable sketch per partition (narrow pass), then a
    * LOGARITHMIC merge of the ≤numPartitions tiny sketches in a FIXED
    * binary tree over partition indices — the shape that scales to 10^12
    * rows: at 10^5 tasks a driver-side linear merge would serialize 10^5
    * sketch unions through one thread; the tree form merges them on
    * executors in O(log n) rounds (the mergeable-summaries bound holds for
    * arbitrary merge trees).
    *
    * DETERMINISM: `treeAggregate` merges partials in task-arrival order,
    * and `mergeIn` truncates to capacity at every node — borderline items
    * could differ run-to-run. Here the tree SHAPE and merge ORDER are a
    * pure function of the partition index (round r merges sketch 2i with
    * 2i+1, left-to-right), so for a fixed partitioning the output is
    * bit-stable across runs and schedulers (the bench harness compares
    * hashed outputs). All rounds chain lazily into one job.
    * Returns (item, count, error) count-descending.
    */
  def heavyHitters(df: DataFrame, column: Column, capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cap = capacity
    val partials = df.select(column.cast("string")).as[String]
      .rdd.mapPartitionsWithIndex { (idx, it) =>
        val b = new Buffer(cap)
        it.foreach(s => if (s != null) b.add(s))
        Iterator.single((idx, b.toSketch))
      }
    val mergeS: (Sketch, Sketch) => Sketch = (a, b) => {
      val ba = fromSketch(a, cap)
      ba.mergeIn(fromSketch(b, cap))
      ba.toSketch
    }
    var cur = partials
    var width = math.max(partials.getNumPartitions, 1)
    while (width > 1) {
      val half = (width + 1) / 2
      cur = cur.map { case (i, s) => (i / 2, (i, s)) }
        .groupByKey(math.min(half, cur.getNumPartitions))
        .map { case (k, xs) =>
          // ≤2 children per node, folded in ascending child order
          (k, xs.toSeq.sortBy(_._1).map(_._2).reduce(mergeS))
        }
      width = half
    }
    val s = cur.values.collect().headOption
      .getOrElse(Sketch(Seq.empty, Seq.empty, Seq.empty))
    val rows = s.items.indices.map(i => HeavyHitter(s.items(i), s.counts(i), s.errors(i)))
    spark.createDataset(rows).toDF()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("item"))
  }
}
