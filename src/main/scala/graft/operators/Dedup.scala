package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.TranscriptGen.sm64

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH
  * (shingle → minhash → band → bucket self-join → exact-Jaccard verify),
  * SimHash (hamming-band join), and embedding-cosine near-dup.
  *
  * Scale notes: all near-dup paths are LSH-bucketed — candidate generation
  * is a shuffle on band keys (bounded bucket width), never an O(n²)
  * cross-join. Verification joins only candidate pairs back to features.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup on normalized-text fingerprint: keeper = min(id) per
    * fingerprint; one shuffle (hash agg with map-side partials).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_count"))

  // ---------- shared hashing (pure, deterministic) ----------

  /** FNV-1a 64-bit over UTF-8 bytes, finalized with splitmix64 — stable
    * across JVMs and partitions (no String.hashCode reliance).
    */
  def hash64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001B3L
      i += 1
    }
    sm64(h)
  }

  /** word k-shingles of lowercased whitespace-tokenized text, as a
    * DISTINCT, sorted primitive array — the hot form for the dedup
    * operators' mapPartitions passes. Hash values are IDENTICAL to
    * [[hash64]] of each space-joined window (FNV-1a over its UTF-8 bytes,
    * finalized with splitmix64) but computed
    * incrementally from per-token byte arrays: no per-window String,
    * no per-window UTF-8 encoder run over already-encoded tokens, no boxed
    * Set[Long] — the three dominant allocations of the old sliding/mkString
    * form (guide §1.2 step 2: per-task work on the hottest dedup path).
    * Every consumer treats the result as a set (minhash min-fold,
    * array_intersect, postings explode), so the sorted order is free
    * determinism, not a semantic change.
    */
  def shinglesArray(text: String, k: Int): Array[Long] = {
    val toks = graft.kernel.Py.splitWs(text.toLowerCase(java.util.Locale.ROOT))
    val n = toks.length
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    // FNV-1a fold of one token's bytes into h
    @inline def fnv(h0: Long, b: Array[Byte]): Long = {
      var h = h0
      var j = 0
      while (j < b.length) { h ^= (b(j) & 0xffL); h *= 0x100000001B3L; j += 1 }
      h
    }
    @inline def windowHash(from: Int, until: Int): Long = {
      var h = 0xCBF29CE484222325L
      var j = from
      while (j < until) {
        if (j > from) { h ^= 0x20L; h *= 0x100000001B3L } // the joining space
        h = fnv(h, bytes(j))
        j += 1
      }
      sm64(h)
    }
    if (n < k) return Array(windowHash(0, n)) // hash64(toks.mkString(" "))
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i + k <= n) { out(i) = windowHash(i, i + k); i += 1 }
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  // ---------- MinHash + LSH ----------

  final case class MinHashParams(
      numHashes: Int = 32, bands: Int = 8, shingleSize: Int = 3,
      threshold: Double = 0.6, maxBucket: Int = 64)

  /** The verify step's candidate semi-join prune is SIZE-ADAPTIVE (see
    * [[minHashNearDups]]): corpora whose optimizer-estimated input size is
    * under this many bytes skip the prune.
    */
  private val VerifyPruneMinBytes = 64L << 20

  /** MinHash signature over a distinct shingle array (order never
    * matters: the fold is a per-hash min).
    */
  def minHashSignature(sh: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    // per-hash seeds depend only on the index — hoist them out of the
    // per-shingle loop (|shingles| × numHashes redundant mixes otherwise,
    // on the hottest dedup path)
    val seeds = Array.tabulate(numHashes)(i => sm64(0x5DEECE66DL + i))
    var s = 0
    while (s < sh.length) {
      val h = sh(s)
      var i = 0
      while (i < numHashes) {
        val v = sm64(h ^ seeds(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    sig
  }

  final case class DocSig(id: Long, sig: Array[Long])

  /** The batch dedup operators key on a LONG id (the pair lists, cluster
    * maps, and oracle rows are long-typed). A non-numeric id column would
    * cast to null — silently collapsing every document into one null
    * group (ANSI off) or crashing mid-job (ANSI on) — so reject it
    * eagerly with advice instead. UUID-keyed corpora: derive a surrogate
    * (e.g. `xxhash64(id)`) first.
    */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _: DecimalType => true
      case _ => false
    }
    require(ok, s"id column '$idCol' must be integral (got $dt): a long " +
      "cast would null non-numeric ids and silently corrupt dedup — " +
      "derive a numeric surrogate (e.g. xxhash64(id)) first")
  }

  /** Candidate pairs inside each group of `keys`: the group's `elem`
    * values are collected and sorted once, groups outside [2, `maxGroup`]
    * are dropped (the skew guard), and UPPER-TRIANGLE expansion pairs
    * element i only with the elements after it — half the intermediate
    * structs of the n² emit-then-filter form, and `pr.a < pr.b` holds by
    * construction. One shuffle on `keys`; returns the struct column `pr`.
    */
  private def groupPairs(
      df: DataFrame, keys: Seq[Column], elem: Column, maxGroup: Int): DataFrame =
    df.groupBy(keys: _*)
      .agg(sort_array(collect_list(elem)).as("xs"))
      .where(size(col("xs")).between(2, maxGroup))
      .select(explode(expr(
        "flatten(transform(xs, (a, i) -> transform(slice(xs, i + 2, size(xs)), " +
          "b -> named_struct('a', a, 'b', b))))")).as("pr"))

  /** LSH band keys: FNV-seed fold of each band's signature rows. */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rowsPerBand = sig.length / bands
    Array.tabulate(bands) { b =>
      var key = 0xCBF29CE484222325L
      var i = b * rowsPerBand
      val end = i + rowsPerBand
      while (i < end) { key = sm64(key ^ sig(i)); i += 1 }
      key
    }
  }

  /** Candidate pairs via LSH banding + exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    */
  def minHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(p.numHashes % p.bands == 0, "bands must divide numHashes")
    requireIntegralId(df, idCol)

    // planner-style constant fold: jaccard ∈ [0, 1] by construction, so a
    // threshold above 1 provably admits no pair — return the empty pair
    // relation without materializing the banding DAG (the q33 chain runs
    // with exactly this neutralized knob; an optimizer that executes a
    // provably-empty filter's subtree is leaving the win on the table)
    if (p.threshold > 1.0) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
          StructField("jaccard", DoubleType))))
    }

    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]

    // ONE fused shingle→signature kernel pass over the corpus (guide §1.2
    // step 1: don't run the expensive per-row kernel more often than the
    // algorithm requires). The shingle ARRAYS are not carried through the
    // banding shuffle (that would multiply shuffle bytes ×bands, guide
    // §2.3) and are not persisted (an un-released persist() pins executor
    // storage for the session, and at 100 TB the shingle table is LARGER
    // than the corpus). Instead the verify step below re-derives shingles
    // for CANDIDATE ids only — see the semi-join note.
    val sigs = docs.mapPartitions(_.map { case (id, text) =>
      DocSig(id, minHashSignature(
        shinglesArray(Option(text).getOrElse(""), p.shingleSize), p.numHashes))
    })

    // band exploding: (band, bandKey) -> id
    val banded = sigs.flatMap { d =>
      val ks = bandKeys(d.sig, p.bands)
      ks.indices.iterator.map(b => (b, ks(b), d.id))
    }.toDF("band", "key", "id")

    // bucket self-pairing with a width cap (protects against degenerate
    // buckets — the skew guard)
    val pairs = groupPairs(banded, Seq(col("band"), col("key")), col("id"), p.maxBucket)
      .select(col("pr.a").as("id_a"), col("pr.b").as("id_b"))
      .distinct() // a pair can collide in several bands

    // Verify candidates with exact jaccard over the shingle sets. The plan
    // shape is SIZE-ADAPTIVE (the resolveClusters philosophy; results are
    // identical either way — the shape only decides where the kernel runs):
    //
    //   - At scale (estimated input >= VerifyPruneMinBytes) the shingle
    //     kernel runs again ONLY for ids that appear in a candidate pair:
    //     a semi-join of the corpus against the exploded pair-id list
    //     prunes the scan BEFORE the kernel (near-dup candidate sets are
    //     tiny relative to the corpus — guide §8: decide with small rows
    //     first, touch heavy rows once), and a trailing repartition
    //     materializes the candidate shingles behind ONE exchange so both
    //     verify sides share it via AQE stage reuse (without the boundary
    //     each side re-runs the semi-join scan + kernel — a second
    //     near-full pass on duplicate-dense corpora). The references to
    //     `pairs` share its materialized distinct() shuffle
    //     (ReusedExchange), so the banding DAG still executes exactly once.
    //   - Small corpora skip the prune: the semi-join + repartition cost
    //     ~3 fixed plan stages, while the whole-corpus shingle pass they
    //     avoid is PROPORTIONAL to corpus size — under the threshold the
    //     fixed stages dominate (measured at sf0.1, best-of-5: 1.5k-doc
    //     duplicate-dense corpus 0.83 s unpruned vs 1.07 s pruned; the
    //     sparse 5k-doc corpora within noise either way). Both verify
    //     sides then recompute the narrow corpus kernel — bounded by the
    //     same size gate that chose this branch.
    val pruneVerify =
      df.queryExecution.optimizedPlan.stats.sizeInBytes >= VerifyPruneMinBytes
    val candSh =
      if (pruneVerify) {
        // no distinct(): left_semi deduplicates the build side, and
        // dropping the extra exchange keeps the prune at one stage
        val candIds = pairs
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        docs.toDF("id", "text")
          .join(candIds, Seq("id"), "left_semi")
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            (id, shinglesArray(Option(text).getOrElse(""), p.shingleSize))
          })
          .toDF("id", "sh")
          .repartition(col("id"))
      } else
        docs.mapPartitions(_.map { case (id, text) =>
          (id, shinglesArray(Option(text).getOrElse(""), p.shingleSize))
        }).toDF("id", "sh")

    // the arrays are distinct-element, so |A∩B| = size(array_intersect) and
    // |A∪B| = |A|+|B|-|A∩B| — pure built-in expressions (codegen), no UDF
    val common = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - common
    pairs
      .join(candSh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(candSh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        when(union === 0, lit(1.0))
          .otherwise(common.cast("double") / union.cast("double")))
      .where(col("jaccard") >= p.threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over word-unigram hashes (weight = occurrence count). */
  def simHash(text: String): Long = {
    val toks = graft.kernel.Py.splitWs(
      Option(text).getOrElse("").toLowerCase(java.util.Locale.ROOT))
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = hash64(t)
      var i = 0
      while (i < 64) {
        // branchless ±1: hash bits are uniform, so a per-bit branch
        // mispredicts half the time — same arithmetic, no branch
        acc(i) += ((((h >>> i) & 1L).toInt) << 1) - 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash near-dups: 4×16-bit chunk banding (any pair within hamming
    * distance ≤ 3 shares at least one exact chunk by pigeonhole), verified
    * by exact hamming distance.
    */
  def simHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // RECALL CONTRACT of the fixed 4 × 16-bit chunk banding: candidate
    // generation is GUARANTEED complete for maxHamming <= 3 (pigeonhole:
    // <= 3 differing bits leave >= 1 chunk identical). Radii above 3 are
    // BEST-EFFORT — a pair whose differing bits straddle all four chunks
    // is never a candidate (full recall would need maxHamming+1 chunks,
    // whose narrower keys explode bucket sizes); the verify filter keeps
    // precision exact either way.
    require(maxHamming >= 0 && maxHamming <= 64,
      s"maxHamming must be in [0, 64], got $maxHamming")
    requireIntegralId(df, idCol)
    // sigs has exactly ONE consumer (the band explode carries both id and
    // sig through), so there is nothing to reuse — no persist
    val sigs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, simHash(t)) })
      .toDF("id", "sig")

    val banded = sigs.as[(Long, Long)].flatMap { case (id, sig) =>
      (0 until 4).iterator.map(c => (c, (sig >>> (c * 16)) & 0xffffL, id, sig))
    }.toDF("chunk", "key", "id", "sig")

    // ids are unique, so the struct sort orders by id and id_a < id_b
    val pairs = groupPairs(banded, Seq(col("chunk"), col("key")),
        struct(col("id"), col("sig")), maxBucket)
      .select(
        col("pr.a.id").as("id_a"), col("pr.a.sig").as("sig_a"),
        col("pr.b.id").as("id_b"), col("pr.b.sig").as("sig_b"))
      .distinct() // a pair can collide in several chunks

    // hamming distance = bit_count(a XOR b): a codegen built-in, no UDF
    pairs
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---------- n-gram Jaccard (exact, postings join) ----------

  /** Exact n-gram Jaccard near-dup via an inverted-index (postings)
    * self-join — no signatures, no false negatives:
    *
    *   doc → distinct shingle hashes → postings (shingle, id) →
    *   per-shingle pair expansion (a < b) → groupBy(pair).count = |A∩B| →
    *   jaccard = common / (|A| + |B| - common).
    *
    * Scale guard: shingles with document frequency > `maxDocFreq` are
    * dropped from pair GENERATION (stop-shingle skew guard — a shingle in
    * 10^6 docs would emit 10^12 pairs). Intersection counts still use only
    * surviving shingles, so reported jaccard is a lower bound for pairs
    * held together solely by ubiquitous shingles; with maxDocFreq above the
    * true max df the result is exact (tests verify vs brute force).
    */
  def ngramJaccardNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.6,
      maxDocFreq: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireIntegralId(df, idCol)

    // Postings carry ONLY (id, shingle) — set sizes are NOT threaded
    // through the pair expansion (guide §2.3 shuffle fewer bytes: the
    // postings exchange and the per-pair aggregate are the two dominant
    // flows of this operator, and the old shape widened BOTH with a size
    // column that is a pure function of id). The explicit-count
    // repartition is load-bearing twice over: it is the ONE exchange both
    // consumers below share via ReusedExchange (without it each consumer
    // re-runs scan + shingle kernel + explode), and the explicit count
    // makes it AQE-coalesce-immune (the round-5 lesson: byte-based
    // coalescing would serialize the CPU-heavy pair expansion that runs
    // on this exchange's output).
    val postings = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        shinglesArray(Option(t).getOrElse(""), shingleSize).iterator
          .map(s => (id, s))
      })
      .toDF("id", "s")
      .repartition(spark.sessionState.conf.numShufflePartitions, col("s"))

    // |sh| per doc, recovered as the per-id posting count (shinglesArray
    // is distinct, so count == size(sh) exactly; the pre-cap postings are
    // counted, preserving the old full-set denominator semantics). One
    // map-combinable agg over the shared exchange — one narrow row per doc.
    val sizes = postings.groupBy(col("id")).agg(count(lit(1)).as("n"))

    // one shuffle on shingle hash; df-capped pair expansion (bare-long
    // bucket elements sort and pair without per-element struct allocation)
    val pairCommon = groupPairs(postings, Seq(col("s")), col("id"), maxDocFreq)
      .groupBy(col("pr.a").as("id_a"), col("pr.b").as("id_b"))
      .agg(count(lit(1)).as("common"))

    // Re-attach sizes to the surviving pairs. No broadcast hint: the size
    // table is one row per document, so AQE broadcasts it at benchmark /
    // moderate corpus sizes (measured locally: both joins run as
    // BroadcastHashJoin over a ReusedExchange'd single size aggregate) and
    // falls back to a shuffled join of the much-smaller-than-postings pair
    // table when a giant corpus makes the size table unbroadcastable.
    pairCommon
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------- pair-graph resolution (connected components) ----------

  /** Resolve near-dup PAIRS into duplicate clusters: every id appearing
    * in a pair gets `keep_id` = the minimum id of its connected component
    * (the standard keeper policy), so `A~B, B~C ⇒ {A,B,C}` dedupes to A
    * even though (A,C) was never emitted as a pair.
    *
    * SIZE-ADAPTIVE execution (the AQE philosophy applied to an iterative
    * op): near-dup pair graphs are SPARSE relative to the corpus, so when
    * the pair count fits under `driverMaxPairs` (default 4M ≈ 64 MB) the
    * component resolution is a single collect + path-compressed
    * union-find — one job instead of diameter-many iterative jobs. Above
    * the threshold it switches to distributed min-label propagation:
    * each round is one join + one aggregation on the edge list (map-side
    * combinable); rounds = graph diameter (tiny for near-dup clusters);
    * lineage is cut per round; the monotone label-sum detects
    * convergence; `maxIter` guards pathological chains.
    */
  def resolveClusters(
      pairs: DataFrame, maxIter: Int = 10,
      driverMaxPairs: Long = 4000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val pr = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)]
    // SINGLE gated fetch instead of count()-then-collect(): take(N+1)
    // returns every row when fewer than N+1 exist, so one action both
    // sizes the graph and (under the gate) delivers it. Halves the job
    // count of the hot path; the limit bounds driver memory exactly as
    // the count-gate did. Above the gate the fetched prefix is discarded
    // and the distributed path recomputes from `pairs` — whose expensive
    // stages are materialized shuffle outputs the scheduler reuses.
    val gate = math.min(driverMaxPairs, Int.MaxValue.toLong - 1L).toInt
    val arr = pr.take(gate + 1)
    if (arr.length <= gate) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrDefault(x, x) != x) {
          val p = parent.getOrDefault(x, x)
          parent.put(x, parent.getOrDefault(p, p)) // path halving
          x = parent.getOrDefault(x, x)
        }
        x
      }
      arr.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb)) // min-id root
      }
      val rows = arr.iterator.flatMap(p => Iterator(p._1, p._2))
        .toSet[Long].iterator.map(id => (id, find(id))).toSeq
      return spark.createDataset(rows).toDF("id", "keep_id")
    }

    val edges = pr.toDF("id_a", "id_b")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pr.toDF("id_a", "id_b").select(col("id_b").as("src"), col("id_a").as("dst")))
    edges.persist() // consumed once per propagation round; released below
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    labels.persist()
    // min-propagation is MONOTONE (labels only decrease), so convergence
    // is detected by the total label sum going flat — one cheap aggregate
    // per round instead of a labels⋈labels change-count join
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).first().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty pair graph
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy("id").agg(min(col("label")).as("label"))
      next.persist()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    // exhausting maxIter WITHOUT the label sum going flat means some
    // component's min label has not reached every member (propagation
    // moves it one hop per round, so a chain longer than maxIter hops is
    // still split) — returning those labels would silently resolve one
    // duplicate cluster into several keepers. Fail with advice instead.
    if (!converged)
      throw new IllegalStateException(
        s"cluster resolution did not converge within maxIter=$maxIter " +
          "rounds — the pair graph has a component with a longer diameter " +
          "(e.g. a chain of successive revisions); raise maxIter")
    // Release the final round's cache too: every round already ran an
    // aggregate action over `labels`, so its upstream join/agg stages are
    // materialized shuffle outputs — the caller's action recomputes only
    // the final reduce from those files, not the iteration. No operator
    // output pins executor storage after its consuming action.
    val out = labels.select(col("id"), col("label").as("keep_id"))
    labels.unpersist()
    out
  }

  /** End-to-end near-duplicate removal: MinHash+LSH pairs → connected-
    * component resolution → anti-join the non-keeper ids out. Returns the
    * deduplicated rows (cluster keepers + everything unpaired).
    */
  def dedupeNear(
      df: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame = {
    val pairs = minHashNearDups(df, idCol, textCol, p)
    val losers = resolveClusters(pairs)
      .where(col("id") =!= col("keep_id"))
      .select(col("id"))
    // no broadcast hint: the loser set's size is data-dependent (tiny for
    // clean corpora, huge for crawl snapshots) — AQE picks the join side
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  // ---------- embedding cosine near-dup ----------

  /** Near-duplicate embeddings via hyperplane-LSH candidates + exact cosine
    * verify; see Similarity.hyperplaneBuckets for the bucketing.
    */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, numPlanes: Int = 16, maxBucket: Int = 512): DataFrame = {
    requireIntegralId(df, idCol)
    // dimension probe over NON-NULL vectors: an empty (or all-null)
    // corpus has no pairs — return the empty result instead of crashing;
    // a null FIRST row must not NPE the probe either (size(null) is null)
    val dimRow = df.where(col(vecCol).isNotNull).select(size(col(vecCol))).head(1)
    if (dimRow.isEmpty) {
      val spark0 = df.sparkSession
      import org.apache.spark.sql.types._
      return spark0.createDataFrame(
        spark0.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
          StructField("cosine", DoubleType))))
    }
    val dim = dimRow.head.getInt(0)
    val planes = Similarity.randomPlanes(numPlanes, dim, seed = 42L)

    // bucket via the native codegen expression (no row UDF, no broadcast
    // closure — the plane table rides as an expression reference object)
    val sigs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket",
        graft.functions.VectorFunctions.lshBucket(col("v"), planes))
      .select("id", "bucket", "v")

    // unique ids decide the struct order, so id_a < id_b
    val pairs = groupPairs(sigs, Seq(col("bucket")), struct(col("id"), col("v")), maxBucket)
      .select(
        col("pr.a.id").as("id_a"), col("pr.a.v").as("v_a"),
        col("pr.b.id").as("id_b"), col("pr.b.v").as("v_b"))

    pairs
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }
}
