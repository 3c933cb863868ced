package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language-ID (stopword n-gram heuristic), quality
  * scoring, and document fingerprinting.
  *
  * All are pure `Column` expressions (whole-stage codegen; no UDFs), each
  * with an exactly-equivalent ANSI-SQL form used by the DuckDB oracle —
  * outputs avoid order-sensitive float accumulation so results hash-match
  * across engines.
  */
object TextAnalysis {

  /** whitespace tokens of lowercased text. NOTE the exact edge semantics
    * (mirrored verbatim by every DuckDB oracle): trim strips only ASCII
    * spaces and split keeps edge empties, so text bounded by non-space
    * whitespace (e.g. a trailing newline) carries one "" edge token and
    * empty text is a single "" token. Consumers that must not count
    * phantom tokens filter `tok != ''` (x14 does); either way counts stay
    * engine-parity because both engines implement the same rule.
    */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  // Small marker-word inventories per language. Counting OCCURRENCES (not
  // set-intersect) keeps Spark and DuckDB's `list_filter` in exact
  // agreement.
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that"),
    "pt" -> Seq("de", "que", "não", "uma", "para", "com", "por", "mais"),
    "es" -> Seq("el", "la", "los", "las", "una", "pero", "como", "más"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ein", "ist", "mit"))

  /** ONE `aggregate` over the token array accumulating all marker counts
    * into a struct (a per-language fold would re-split the text
    * 2×|langs| times). Project this into a column once and feed it to
    * [[langIdFromCounts]]: the argmax fold below references its input
    * 2^|langs| times (each fold step doubles the accumulator tree), so
    * inlining the aggregate there would replicate the expensive
    * tokenize-and-count subtree exponentially — factored, the ladder
    * duplicates only cheap struct-field extractions.
    */
  def markerCounts(text: Column): Column = {
    val names = markers.map(_._1)
    val zero = struct(names.map(n => lit(0).as(n)): _*)
    aggregate(tokens(text), zero, (acc, t) =>
      struct(markers.map { case (lang, ws) =>
        (acc.getField(lang) + when(t.isin(ws: _*), 1).otherwise(0)).as(lang)
      }: _*))
  }

  /** n-gram/stopword language-ID heuristic over a pre-projected
    * [[markerCounts]] struct: argmax of marker hits with a
    * minimum-evidence threshold of 2, ties broken by inventory order;
    * otherwise "und". Mirrors the reference's language handling being a
    * lookup/heuristic, not a model (tesseract_engine.py:351-375). A scalar
    * when-ladder with identical tie semantics to the oracle SQL:
    * strictly-greater keeps earlier languages, minimum evidence 2 via the
    * (und, 1) seed.
    */
  def langIdFromCounts(counts: Column): Column = {
    val hits = markers.map { case (lang, _) => lang -> counts.getField(lang) }
    val best = hits.foldLeft((lit("und"), lit(1))) {
      case ((bestLang, bestHits), (lang, h)) =>
        // strictly-greater keeps earlier languages on ties (priority order)
        (when(h > bestHits, lit(lang)).otherwise(bestLang),
          when(h > bestHits, h).otherwise(bestHits))
    }
    best._1
  }

  /** The same heuristic as ANSI SQL for the oracle. */
  def langIdSql(textExpr: String): String = {
    def hitsSql(ws: Seq[String]): String = {
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(regexp_split_to_array(trim(lower($textExpr)), '\\s+'), t -> t IN ($inList)))"
    }
    // same fold: start (und, 1), strictly-greater updates
    val steps = markers.map { case (lang, ws) => (lang, hitsSql(ws)) }
    val (finalLang, _) = steps.foldLeft(("'und'", "1")) {
      case ((bl, bh), (lang, h)) =>
        (s"CASE WHEN $h > $bh THEN '$lang' ELSE $bl END",
          s"CASE WHEN $h > $bh THEN $h ELSE $bh END")
    }
    finalLang
  }

  /** Heuristic quality bucket over exact integer features — the text-domain
    * analog of the reference's image-quality ladder
    * (quality_detector.py:331-380: score thresholds 0.8/0.6/0.4/0.2 →
    * excellent/good/fair/poor/very_poor). Project the features (length,
    * token count, distinct token count) once and feed them here: the
    * ladder references each feature several times, so inlined text
    * features would re-split per reference.
    */
  def qualityBucketOf(nChars: Column, nTokens: Column, nDistinct: Column): Column = {
    // integer-arithmetic score: 0..10, exact in any engine
    val score =
      when(nChars >= 400, lit(4)).when(nChars >= 150, lit(3))
        .when(nChars >= 50, lit(2)).when(nChars >= 10, lit(1)).otherwise(lit(0)) +
      when(nTokens >= 60, lit(3)).when(nTokens >= 20, lit(2))
        .when(nTokens >= 5, lit(1)).otherwise(lit(0)) +
      when(nDistinct * 2 >= nTokens, lit(3))
        .when(nDistinct * 3 >= nTokens, lit(2)).otherwise(lit(1))
    when(score >= 8, "excellent").when(score >= 6, "good")
      .when(score >= 4, "fair").when(score >= 2, "poor").otherwise("very_poor")
  }

  def qualityBucketSql(t: String): String = {
    val nChars = s"length($t)"
    val nTokens = s"len(regexp_split_to_array(trim(lower($t)), '\\s+'))"
    val nDistinct = s"len(list_distinct(regexp_split_to_array(trim(lower($t)), '\\s+')))"
    val score =
      s"(CASE WHEN $nChars >= 400 THEN 4 WHEN $nChars >= 150 THEN 3 WHEN $nChars >= 50 THEN 2 WHEN $nChars >= 10 THEN 1 ELSE 0 END" +
        s" + CASE WHEN $nTokens >= 60 THEN 3 WHEN $nTokens >= 20 THEN 2 WHEN $nTokens >= 5 THEN 1 ELSE 0 END" +
        s" + CASE WHEN $nDistinct * 2 >= $nTokens THEN 3 WHEN $nDistinct * 3 >= $nTokens THEN 2 ELSE 1 END)"
    s"CASE WHEN $score >= 8 THEN 'excellent' WHEN $score >= 6 THEN 'good' " +
      s"WHEN $score >= 4 THEN 'fair' WHEN $score >= 2 THEN 'poor' ELSE 'very_poor' END"
  }

  /** Engine-quality composite (SURVEY.md A5; multi_engine.py:32-53):
    * 0.4·confidence + 0.2·speed + 0.3·success_rate + 0.1·content, with
    * speed_score = max(0, 1 − time/30) and
    * content_score = min(1, (words + chars/10)/100), clamped to [0,1].
    * Pure arithmetic Column expression — per-engine averages are then just
    * `groupBy(engine).agg(avg(...))`.
    */
  def engineQualityScore(
      confidence: Column, processingTimeSec: Column,
      successRate: Column, wordCount: Column, charCount: Column): Column = {
    val speedScore = greatest(lit(0.0), lit(1.0) - processingTimeSec / 30.0)
    val contentScore = least(lit(1.0), (wordCount + charCount / 10.0) / 100.0)
    val total = confidence * 0.4 + speedScore * 0.2 + successRate * 0.3 + contentScore * 0.1
    // null inputs must NOT become a perfect score: Spark's least/greatest
    // SKIP nulls, so least(1.0, null_total) = 1.0 and the clamp would
    // hand a failed engine (null confidence) the maximum quality. Score
    // 0.0 instead — a row with missing signals never wins a ranking.
    when(confidence.isNull || processingTimeSec.isNull || successRate.isNull ||
      wordCount.isNull || charCount.isNull, lit(0.0))
      .otherwise(greatest(lit(0.0), least(lit(1.0), total)))
  }

  /** Heuristic confidence fallback (SURVEY.md F16; REAL.py:974-998): the
    * alphanumeric-character ratio of the text ignoring spaces, clamped to
    * ≤1; empty/blank → 0. Used when no per-word confidences exist.
    */
  def alnumConfidence(text: Column): Column = {
    val noSpace = replace(text, lit(" "), lit(""))
    val alnum = length(regexp_replace(noSpace, "[^\\p{L}\\p{N}]", ""))
    when(text.isNull || trim(text) === "", 0.0)
      .when(length(noSpace) === 0, 0.0)
      .otherwise(least(alnum.cast("double") / length(noSpace).cast("double"), lit(1.0)))
  }

  /** BPE-style pre-tokenization count — the GPT-2 pre-tokenizer's regex
    * family (Radford et al. 2019; simplified to the lookahead-free core so
    * Java regex and RE2 agree): a token is an optional leading space plus
    * a run of letters, digits, or other non-space symbols. The standard
    * "token count" a training-data pipeline budgets by, closer to real
    * tokenizer counts than whitespace splitting (punctuation separates).
    */
  val bpeishPattern: String = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(bpeishPattern), lit(0))

  def bpeishTokenCount(text: Column): Column = size(bpeishTokens(text))

  def bpeishTokenCountSql(t: String): String =
    s"len(regexp_extract_all($t, ' ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+'))"

  /** Content fingerprint: md5 of whitespace-normalized lowercased text —
    * the reference's index key (search_manager.py:147-149 md5; cache key
    * sha-256 cache_manager.py:119-170).
    */
  /** Normalized content fingerprint: lowercase, collapse ALL whitespace
    * runs to single spaces, THEN trim — collapse-first so edge newlines/
    * tabs become the spaces trim can strip (trim alone handles only
    * ASCII spaces in both engines); whitespace-equivalent texts therefore
    * share a fingerprint. SQL mirror below stays in lockstep.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  def fingerprintSql(t: String): String =
    s"md5(trim(regexp_replace(lower($t), '\\s+', ' ', 'g')))"

  // ---- repetition signals (Gopher-style curation filters, Rae et al.
  // 2021 §A1.1: documents dominated by repeated lines/paragraphs are
  // boilerplate/spam and are dropped before training) ----

  /** non-empty units of `text` split on `sep` — the dupUnitFraction
    * tokenization, exposed so consumers that need several fractions of the
    * same text can project the units array ONCE and derive each fraction
    * from it ([[dupFractionOfUnits]]) instead of re-splitting per signal.
    */
  def dupUnits(text: Column, sep: String): Column =
    filter(split(text, sep), u => trim(u) =!= "")

  /** duplicate fraction over a pre-projected [[dupUnits]] array. */
  def dupFractionOfUnits(units: Column): Column =
    when(size(units) <= 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(units)).cast("double") / size(units).cast("double"))

  /** fraction of non-empty units (split on `sep`) that are duplicates:
    * 1 - distinct/total; 0.0 for unit-less text. Pure column expr.
    */
  private def dupUnitFraction(text: Column, sep: String): Column =
    dupFractionOfUnits(dupUnits(text, sep))

  /** DuckDB mirror; `sepSql` is a SQL expression for the split regex
    * (e.g. `chr(10)`), `t` any SQL text expression.
    */
  def dupFractionSql(t: String, sepSql: String): String = {
    val units = s"list_filter(regexp_split_to_array($t, $sepSql), u -> trim(u) <> '')"
    s"CASE WHEN len($units) <= 0 THEN 0.0 ELSE " +
      s"1.0 - CAST(len(list_distinct($units)) AS DOUBLE) / CAST(len($units) AS DOUBLE) END"
  }

  def dupLineFraction(text: Column): Column = dupUnitFraction(text, "\n")
  def dupLineFractionSql(t: String): String = dupFractionSql(t, "chr(10)")

  def dupParagraphFraction(text: Column): Column = dupUnitFraction(text, "\n\n")
  def dupParagraphFractionSql(t: String): String =
    dupFractionSql(t, "chr(10) || chr(10)")

  /** Gopher repetition gate: keep documents whose duplicate-line and
    * duplicate-paragraph fractions are under the thresholds (the paper's
    * 0.30/0.30 defaults). A predicate, so it pushes into scans.
    */
  def repetitionGate(
      text: Column,
      maxDupLineFrac: Double = 0.30,
      maxDupParaFrac: Double = 0.30): Column =
    dupLineFraction(text) <= maxDupLineFrac &&
      dupParagraphFraction(text) <= maxDupParaFrac

  /** The remaining published repetition rule: fraction of the (whitespace-
    * normalized) text's characters covered by the most frequent word
    * n-gram — Rae et al. 2021 gate at 0.20/0.18/0.16 for n = 2/3/4. Ties
    * break to the lexicographically smallest n-gram (deterministic). A
    * per-row frequency map, so this is the kernel-Scala tier (used via
    * `mapPartitions`), not a Column expression.
    */
  def topNgramCharFraction(text: String, n: Int): Double = {
    val toks = graft.kernel.Py.splitWs(
      graft.kernel.Py.lower(Option(text).getOrElse("")))
    if (toks.length < n || n < 1) return 0.0
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    toks.sliding(n).foreach { w =>
      val k = w.mkString(" ")
      counts.update(k, counts.getOrElse(k, 0) + 1)
    }
    val (bestK, bestC) = counts.iterator.maxBy { case (k, c) => (c, k) }(
      Ordering.Tuple2(Ordering.Int, Ordering.String.reverse))
    // an n-gram occurring once is not repetition: gating on it would drop
    // short documents whose single longest n-gram covers much of the text
    if (bestC <= 1) return 0.0
    val total = toks.iterator.map(_.length).sum + (toks.length - 1) // joined length
    if (total <= 0) 0.0 else (bestC.toLong * bestK.length).toDouble / total
  }

  /** All three gate fractions (n = 2/3/4) in ONE pass — output-identical
    * to calling [[topNgramCharFraction]] three times (property-tested),
    * ~3× cheaper: the text is tokenized/lowercased once, tokens are
    * interned to int ids, and each n-gram key is the ids packed into one
    * Long (16 bits per token) counted in a primitive-keyed map — no
    * per-window string building. Joined strings are only materialized for
    * the (few) max-count tie candidates. Two exact short-circuits: fewer
    * than 2 tokens, and all-distinct tokens (every n-gram then occurs
    * once, which the ≤1-occurrence rule maps to 0.0). Documents with
    * ≥ 2^16 DISTINCT tokens fall back to the general path (same outputs).
    */
  def topNgramCharFractions234(text: String): (Double, Double, Double) = {
    val toks = graft.kernel.Py.splitWs(
      graft.kernel.Py.lower(Option(text).getOrElse("")))
    val nT = toks.length
    if (nT < 2) return (0.0, 0.0, 0.0)
    val idOf = new java.util.HashMap[String, Integer](nT * 2)
    val ids = new Array[Int](nT)
    var distinct = 0
    var i = 0
    while (i < nT) {
      val t = toks(i)
      var id = idOf.get(t)
      if (id == null) { id = Integer.valueOf(distinct); idOf.put(t, id); distinct += 1 }
      ids(i) = id.intValue
      i += 1
    }
    if (distinct == nT) return (0.0, 0.0, 0.0)
    if (distinct > 0xFFFF)
      return (topNgramCharFraction(text, 2),
        topNgramCharFraction(text, 3), topNgramCharFraction(text, 4))
    val tokOfId = new Array[String](distinct)
    idOf.forEach((k, v) => tokOfId(v.intValue) = k)
    var totalL = 0L
    i = 0
    while (i < nT) { totalL += tokOfId(ids(i)).length; i += 1 }
    val total = totalL + (nT - 1)

    def forN(n: Int): Double = {
      if (nT < n) return 0.0
      val counts = scala.collection.mutable.LongMap.empty[Int]
      var j = 0
      while (j + n <= nT) {
        var key = 0L
        var k = 0
        while (k < n) { key = (key << 16) | ids(j + k).toLong; k += 1 }
        counts.update(key, counts.getOrElse(key, 0) + 1)
        j += 1
      }
      var bestC = 0
      counts.foreachValue(c => if (c > bestC) bestC = c)
      if (bestC <= 1) return 0.0
      var bestStr: String = null
      counts.foreach { case (key, c) =>
        if (c == bestC) {
          val ws = new Array[String](n)
          var kk = 0
          while (kk < n) {
            ws(n - 1 - kk) = tokOfId(((key >>> (16 * kk)) & 0xFFFFL).toInt)
            kk += 1
          }
          val s = ws.mkString(" ")
          if (bestStr == null || s < bestStr) bestStr = s
        }
      }
      if (total <= 0L) 0.0
      else (bestC.toLong * bestStr.length).toDouble / total
    }
    (forN(2), forN(3), forN(4))
  }

  /** Distributed form: (id, top-2/3/4-gram char fractions, gate). */
  final case class NgramRepetition(
      id: Long, top2: Double, top3: Double, top4: Double, keep: Boolean)

  def ngramRepetition(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      max2: Double = 0.20, max3: Double = 0.18, max4: Double = 0.16)
      : org.apache.spark.sql.Dataset[NgramRepetition] = {
    val spark = df.sparkSession
    import spark.implicits._
    Dedup.requireIntegralId(df, idCol)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (f2, f3, f4) = topNgramCharFractions234(t)
        NgramRepetition(id, f2, f3, f4, f2 <= max2 && f3 <= max3 && f4 <= max4)
      })
  }

  /** DuckDB mirror of [[topNgramCharFractions234]] as a CTE chain: emits
    * `<prefix>_base … <prefix>` where the final `<prefix>` relation is
    * (id, top2, top3, top4) — one row per row of `src`. The fractions are
    * pure integer ratios (most-frequent consecutive n-gram, ties to the
    * lexicographically smallest joined string, chars = count × gram
    * length, total = Σ token lengths + n_tokens − 1), so the SQL computes
    * them exactly: same operands, same IEEE division. Tokenization is
    * lower + '\s+' split (mirrors Py.splitWs on corpora with no VT/FS..US
    * whitespace — asserted for the testdata by
    * tools/validate_ngram_oracle.py). Callers splice the returned text
    * inside a WITH list; `src` must be a relation/CTE with columns
    * addressable by `idExpr`/`textExpr`. Shared by the x19 oracle and the
    * q33 curation-lineage gates mirror, so the two cannot drift.
    */
  def topNgramFractionsSqlCtes(
      src: String, idExpr: String, textExpr: String, prefix: String): String =
    s"""${prefix}_base AS (
       |  SELECT $idExpr AS id,
       |         list_filter(regexp_split_to_array(lower(coalesce($textExpr, '')), '\\s+'),
       |                     w -> w <> '') AS ws
       |  FROM $src
       |),
       |${prefix}_sized AS (
       |  SELECT id, ws, len(ws) AS nt,
       |         list_sum(list_transform(ws, w -> length(w))) + (len(ws) - 1) AS total
       |  FROM ${prefix}_base
       |),
       |${prefix}_grams AS (
       |  SELECT s.id, n.n, s.total,
       |         unnest(list_transform(range(1, s.nt - n.n + 2),
       |                j -> array_to_string(s.ws[j:j + n.n - 1], ' '))) AS gram
       |  FROM ${prefix}_sized s, (VALUES (2), (3), (4)) n(n)
       |  WHERE s.nt >= 2 AND s.nt >= n.n
       |),
       |${prefix}_counts AS (
       |  SELECT id, n, total, gram, count(*) AS c
       |  FROM ${prefix}_grams GROUP BY id, n, total, gram
       |),
       |${prefix}_best AS (
       |  SELECT id, n,
       |         CASE WHEN c <= 1 THEN 0.0
       |              ELSE CAST(c * length(gram) AS DOUBLE) / CAST(total AS DOUBLE)
       |         END AS f
       |  FROM ${prefix}_counts
       |  QUALIFY row_number() OVER (PARTITION BY id, n ORDER BY c DESC, gram) = 1
       |),
       |$prefix AS (
       |  SELECT b.id,
       |         coalesce(max(CASE WHEN t.n = 2 THEN t.f END), 0.0) AS top2,
       |         coalesce(max(CASE WHEN t.n = 3 THEN t.f END), 0.0) AS top3,
       |         coalesce(max(CASE WHEN t.n = 4 THEN t.f END), 0.0) AS top4
       |  FROM ${prefix}_base b LEFT JOIN ${prefix}_best t ON t.id = b.id
       |  GROUP BY b.id
       |)""".stripMargin

  // ---- Gopher document-quality gates (Rae et al. 2021 §A1.1, the
  // non-repetition rules): word-count bounds, mean word length,
  // symbol-to-word ratio ("#" and "..."), bullet-start / ellipsis-end
  // line fractions, alphabetic-word fraction, and the stop-word filter.
  // All pure Column expressions (predicates push into scans) with exact
  // DuckDB mirrors. Null text behaves as empty; signals over a unit-less
  // text are 0.0 (such documents are dropped by the word-count gate, so
  // the convention never rescues a degenerate document).

  /** non-empty whitespace words of lowercased text (gate tokenization:
    * unlike [[tokens]], edge empties are filtered — Gopher's rules count
    * words, not split artifacts).
    */
  def gopherWords(text: Column): Column =
    filter(split(trim(lower(coalesce(text, lit("")))), "\\s+"), w => w =!= "")

  private def gopherWordsSql(t: String): String =
    s"list_filter(regexp_split_to_array(trim(lower(coalesce($t, ''))), '\\s+'), w -> w <> '')"

  /** non-empty (after trim) newline-split lines of the raw text. */
  def gopherLines(text: Column): Column =
    filter(split(coalesce(text, lit("")), "\n"), l => trim(l) =!= "")

  private def gopherLinesSql(t: String): String =
    s"list_filter(regexp_split_to_array(coalesce($t, ''), chr(10)), l -> trim(l) <> '')"

  def gopherWordCount(text: Column): Column = size(gopherWords(text))
  def gopherWordCountSql(t: String): String = s"len(${gopherWordsSql(t)})"

  // ---- pre-projected ("…Of…") forms of the Gopher signals: compute
  // gopherWords / gopherLines ONCE into columns and derive every signal
  // from the arrays. The text-taking forms below delegate here, so the
  // two can never drift; consumers that need several signals of the same
  // text (q37, the chain's gates stage) should project the arrays first —
  // factored common-subexpression elimination the optimizer is not
  // guaranteed to perform across a when-ladder of higher-order functions.

  /** [[meanWordLength]] over a pre-projected [[gopherWords]] array. */
  def meanWordLengthOfWords(ws: Column): Column =
    when(size(ws) <= 0, lit(0.0)).otherwise(
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        size(ws).cast("double"))

  /** [[symbolToWordRatio]] with a pre-projected words array. */
  def symbolToWordRatioOfWords(text: Column, ws: Column): Column = {
    val t = coalesce(text, lit(""))
    val hashes = length(t) - length(replace(t, lit("#"), lit("")))
    val ellipses = size(split(t, "\\.\\.\\.", -1)) - lit(1)
    when(size(ws) <= 0, lit(0.0)).otherwise(
      (hashes + ellipses).cast("double") / size(ws).cast("double"))
  }

  /** [[bulletLineFraction]] over a pre-projected [[gopherLines]] array. */
  def bulletLineFractionOfLines(ls: Column): Column = {
    val bullets = filter(ls, l => {
      val lt = ltrim(l)
      lt.startsWith("•") || lt.startsWith("- ")
    })
    when(size(ls) <= 0, lit(0.0)).otherwise(
      size(bullets).cast("double") / size(ls).cast("double"))
  }

  /** [[ellipsisLineFraction]] over a pre-projected [[gopherLines]] array. */
  def ellipsisLineFractionOfLines(ls: Column): Column = {
    val ell = filter(ls, l => {
      val rt = rtrim(l)
      rt.endsWith("...") || rt.endsWith("…")
    })
    when(size(ls) <= 0, lit(0.0)).otherwise(
      size(ell).cast("double") / size(ls).cast("double"))
  }

  /** [[alphaWordFraction]] over a pre-projected words array. */
  def alphaWordFractionOfWords(ws: Column): Column = {
    val alpha = filter(ws, w => w.rlike("\\p{L}"))
    when(size(ws) <= 0, lit(0.0)).otherwise(
      size(alpha).cast("double") / size(ws).cast("double"))
  }

  /** [[stopWordCount]] over a pre-projected words array. */
  def stopWordCountOfWords(ws: Column): Column =
    size(array_intersect(
      array_distinct(ws),
      array(GopherStopWords.map(w => lit(w)): _*)))

  /** mean word length in characters; 0.0 for a word-less text. */
  def meanWordLength(text: Column): Column =
    meanWordLengthOfWords(gopherWords(text))

  def meanWordLengthSql(t: String): String = {
    val ws = gopherWordsSql(t)
    s"CASE WHEN len($ws) <= 0 THEN 0.0 ELSE " +
      s"CAST(list_sum(list_transform($ws, w -> CAST(length(w) AS BIGINT))) AS DOUBLE)" +
      s" / CAST(len($ws) AS DOUBLE) END"
  }

  /** (count of "#" chars + non-overlapping "..." occurrences) / words;
    * 0.0 for a word-less text. Gopher's symbol set is exactly {#, ...}.
    */
  def symbolToWordRatio(text: Column): Column =
    symbolToWordRatioOfWords(text, gopherWords(text))

  def symbolToWordRatioSql(t: String): String = {
    val ws = gopherWordsSql(t)
    val ct = s"coalesce($t, '')"
    s"CASE WHEN len($ws) <= 0 THEN 0.0 ELSE " +
      s"CAST(length($ct) - length(replace($ct, '#', '')) + " +
      s"(len(regexp_split_to_array($ct, '\\.\\.\\.')) - 1) AS DOUBLE)" +
      s" / CAST(len($ws) AS DOUBLE) END"
  }

  /** fraction of lines whose trimmed form starts with a bullet ("•" or
    * "- "); 0.0 for a line-less text.
    */
  def bulletLineFraction(text: Column): Column =
    bulletLineFractionOfLines(gopherLines(text))

  def bulletLineFractionSql(t: String): String = {
    val ls = gopherLinesSql(t)
    val bullets =
      s"list_filter($ls, l -> starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '- '))"
    s"CASE WHEN len($ls) <= 0 THEN 0.0 ELSE " +
      s"CAST(len($bullets) AS DOUBLE) / CAST(len($ls) AS DOUBLE) END"
  }

  /** fraction of lines whose trimmed form ends with an ellipsis ("..."
    * or "…"); 0.0 for a line-less text.
    */
  def ellipsisLineFraction(text: Column): Column =
    ellipsisLineFractionOfLines(gopherLines(text))

  def ellipsisLineFractionSql(t: String): String = {
    val ls = gopherLinesSql(t)
    val ell =
      s"list_filter($ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))"
    s"CASE WHEN len($ls) <= 0 THEN 0.0 ELSE " +
      s"CAST(len($ell) AS DOUBLE) / CAST(len($ls) AS DOUBLE) END"
  }

  /** fraction of words containing at least one Unicode letter; 0.0 for a
    * word-less text.
    */
  def alphaWordFraction(text: Column): Column =
    alphaWordFractionOfWords(gopherWords(text))

  def alphaWordFractionSql(t: String): String = {
    val ws = gopherWordsSql(t)
    val alpha = s"list_filter($ws, w -> regexp_matches(w, '\\p{L}'))"
    s"CASE WHEN len($ws) <= 0 THEN 0.0 ELSE " +
      s"CAST(len($alpha) AS DOUBLE) / CAST(len($ws) AS DOUBLE) END"
  }

  /** Gopher's stop-word list (the paper's eight English function words). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** number of DISTINCT stop words present as whole words. */
  def stopWordCount(text: Column): Column =
    stopWordCountOfWords(gopherWords(text))

  def stopWordCountSql(t: String): String = {
    val list = GopherStopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_intersect(list_distinct(${gopherWordsSql(t)}), $list))"
  }

  /** Gopher document-quality gate (the paper's §A1.1 defaults): keep a
    * document iff word count ∈ [minWords, maxWords], mean word length ∈
    * [minMeanWordLen, maxMeanWordLen], symbol-to-word ratio ≤
    * maxSymbolRatio, bullet-start lines ≤ maxBulletFrac, ellipsis-end
    * lines ≤ maxEllipsisFrac, alphabetic-word fraction ≥ minAlphaFrac,
    * and ≥ minStopWords distinct stop words occur. A pure predicate, so
    * it pushes into scans; composes with [[repetitionGate]] and the
    * top-n-gram rule for the paper's full filter.
    */
  def gopherQualityGate(
      text: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.90,
      maxEllipsisFrac: Double = 0.30,
      minAlphaFrac: Double = 0.80,
      minStopWords: Int = 2): Column =
    gopherWordCount(text).between(minWords, maxWords) &&
      meanWordLength(text).between(minMeanWordLen, maxMeanWordLen) &&
      symbolToWordRatio(text) <= maxSymbolRatio &&
      bulletLineFraction(text) <= maxBulletFrac &&
      ellipsisLineFraction(text) <= maxEllipsisFrac &&
      alphaWordFraction(text) >= minAlphaFrac &&
      stopWordCount(text) >= minStopWords

  /** DuckDB mirror of [[gopherQualityGate]] with the same parameters. */
  def gopherQualityGateSql(
      t: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.90,
      maxEllipsisFrac: Double = 0.30,
      minAlphaFrac: Double = 0.80,
      minStopWords: Int = 2): String =
    s"(${gopherWordCountSql(t)} BETWEEN $minWords AND $maxWords" +
      s" AND ${meanWordLengthSql(t)} BETWEEN $minMeanWordLen AND $maxMeanWordLen" +
      s" AND ${symbolToWordRatioSql(t)} <= $maxSymbolRatio" +
      s" AND ${bulletLineFractionSql(t)} <= $maxBulletFrac" +
      s" AND ${ellipsisLineFractionSql(t)} <= $maxEllipsisFrac" +
      s" AND ${alphaWordFractionSql(t)} >= $minAlphaFrac" +
      s" AND ${stopWordCountSql(t)} >= $minStopWords)"

  /** [[gopherQualityGate]] thresholds as a value — the configuration
    * surface for composing the gate into pipelines (e.g. the curation
    * chain's gates stage). Defaults are the paper's §A1.1 values; the
    * English-specific stop-word rule is the knob a non-English (or
    * synthetic) corpus turns off with `minStopWords = 0`.
    */
  final case class GopherQualityParams(
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.90,
      maxEllipsisFrac: Double = 0.30,
      minAlphaFrac: Double = 0.80,
      minStopWords: Int = 2) {
    /** Stable identity string for resume/config hashing. */
    def identity: String =
      s"gq|$minWords|$maxWords|$minMeanWordLen|$maxMeanWordLen|" +
        s"$maxSymbolRatio|$maxBulletFrac|$maxEllipsisFrac|" +
        s"$minAlphaFrac|$minStopWords"
  }

  /** [[gopherQualityGate]] driven by a [[GopherQualityParams]] value. */
  def gopherQualityGate(text: Column, p: GopherQualityParams): Column =
    gopherQualityGate(text, p.minWords, p.maxWords, p.minMeanWordLen,
      p.maxMeanWordLen, p.maxSymbolRatio, p.maxBulletFrac,
      p.maxEllipsisFrac, p.minAlphaFrac, p.minStopWords)
}
