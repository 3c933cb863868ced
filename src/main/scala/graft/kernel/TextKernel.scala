package graft.kernel

import java.util.regex.Pattern
import scala.collection.immutable.ListMap
import scala.collection.mutable.{LinkedHashMap, ListBuffer}

/** Per-turn text-processing metrics.
  * Mirrors TextProcessingMetrics (reference src/utils/text_processor.py:20-45).
  */
final case class KernelMetrics(
    originalLength: Int,
    processedLength: Int,
    wordsCorrected: Int,
    patternsDetected: Int,
    confidenceImprovement: Double,
    correctionsApplied: Seq[String],
    patternsFound: ListMap[String, Seq[String]])

final case class KernelResult(text: String, metrics: KernelMetrics)

/** The deterministic 7-stage OCR-output cleanup kernel.
  *
  * Semantics ported 1:1 from the reference's `TextProcessor.process_text`
  * (src/utils/text_processor.py:233-313) — including its canonical quirks
  * (e.g. stage-1 collapses *all* whitespace incl. newlines; stage-4 pattern
  * reformatting uses replace-all side effects; stage-6 inserts a space after
  * every punctuation char, reshaping numbers like `R$ 1.500,00`). Golden
  * fixtures generated by running the reference pin these behaviors;
  * "fixing" any of them breaks per-turn text equality.
  *
  * Pure Scala, no Spark dependency: one instance per mapPartitions call
  * (pooled parser instances per the north rule); all Patterns are
  * precompiled per instance, matching the reference's `re.compile` caching
  * (templates.py:60-67).
  */
final class TextKernel {
  import Py._
  import TextKernel._

  // ---- ordered correction tables (text_processor.py:100-165) ----
  // Python dicts are insertion-ordered; order is semantically significant.
  private val ocrCorrections: Seq[(String, String)] = Seq(
    "rn" -> "m", "cl" -> "d", "li" -> "h", "nn" -> "n", "oo" -> "o",
    "ii" -> "i",
    "0" -> "o", "O" -> "0", "l" -> "1", "I" -> "1", "S" -> "5", "G" -> "6",
    "B" -> "8", "g" -> "9",
    "voce" -> "você", "nao" -> "não", "estao" -> "estão", "entao" -> "então",
    "coracao" -> "coração", "posicao" -> "posição",
    "informacao" -> "informação", "atencao" -> "atenção",
    "funcao" -> "função", "decisao" -> "decisão", "opcao" -> "opção",
    "situacao" -> "situação", "condicao" -> "condição")
  private val ocrCorrectionsMap: Map[String, String] = ocrCorrections.toMap
  // the table's pairs by key length, for comparing a folded word in place
  private val spellMaxKeyLen: Int = ocrCorrections.map(_._1.length).max
  private val spellByLen: Array[Array[(String, String)]] = {
    val byLen = ocrCorrections.groupBy(_._1.length)
    Array.tabulate(spellMaxKeyLen + 1)(l => byLen.getOrElse(l, Seq.empty).toArray)
  }

  private val abbreviations: Seq[(String, String)] = Seq(
    "dr" -> "Dr.", "dra" -> "Dra.", "sr" -> "Sr.", "sra" -> "Sra.",
    "ltda" -> "Ltda.", "sa" -> "S.A.", "cia" -> "Cia.", "prof" -> "Prof.",
    "profa" -> "Profa.", "av" -> "Av.", "r" -> "R.", "al" -> "Al.",
    "tv" -> "Tv.", "pca" -> "Pça.", "est" -> "Est.", "rod" -> "Rod.",
    "km" -> "Km.", "n" -> "Nº", "art" -> "Art.", "inc" -> "Inc.",
    "par" -> "Par.", "cf" -> "Cf.", "fl" -> "Fl.", "fls" -> "Fls.",
    "p" -> "P.", "pp" -> "Pp.", "obs" -> "Obs.", "ref" -> "Ref.",
    "anexo" -> "Anexo", "apendice" -> "Apêndice")

  // ---- pattern table (text_processor.py:167-231); order matters ----
  // Each pattern's necessary conditions, which skip its findall when the
  // text falls short: `minRun`, the longest run of consecutive digits a
  // match holds (a mandatory contiguous \d{n} group); `minDigits`, the
  // digits a match holds; `literal`, a string every match contains.
  // `starts`: where a match can start — at a digit run's first digit or
  // the '(' before it ([[findAllDigitAnchored]]), at the local part before
  // an '@' ([[findAllEmails]]), or at `literal`, which every match opens
  // with ([[findAllAtLiteral]]).
  private[kernel] final class PatternCfg(
      val name: String,
      val regex: Pattern,
      val format: Option[Pattern],
      val formatter: Option[Seq[Tpl]],
      val validator: Option[String => Boolean],
      val minRun: Int = 0,
      val minDigits: Int = 0,
      val literal: String = "",
      val starts: TextKernel.Starts) {
    val lead: Int = TextKernel.leadDigits(regex.pattern)

    /** `re.findall` of `regex` over `index.text`, tried only where a match
      * can start.
      */
    def matches(index: DigitIndex): List[String] = starts match {
      case DigitRuns => findAllDigitAnchored(regex, index, lead)
      case AtSigns => findAllEmails(regex, index.text)
      case AtLiteral => findAllAtLiteral(regex, index.text, literal)
    }
  }

  private[kernel] val patternTable: Seq[PatternCfg] = Seq(
    new PatternCfg("cpf",
      compile("""\b\d{3}\.?\d{3}\.?\d{3}-?\d{2}\b"""),
      Some(compile("""(\d{3})\.?(\d{3})\.?(\d{3})-?(\d{2})""")),
      Some(tpl("""\1.\2.\3-\4""")),
      Some(Validators.cpf),
      minRun = 3, minDigits = 11, starts = TextKernel.DigitRuns),
    new PatternCfg("cnpj",
      compile("""\b\d{2}\.?\d{3}\.?\d{3}/?\d{4}-?\d{2}\b"""),
      Some(compile("""(\d{2})\.?(\d{3})\.?(\d{3})/(\d{4})-?(\d{2})""")),
      Some(tpl("""\1.\2.\3/\4-\5""")),
      Some(Validators.cnpj),
      minRun = 4, minDigits = 14, starts = TextKernel.DigitRuns),
    new PatternCfg("cep",
      compile("""\b\d{5}-?\d{3}\b"""),
      Some(compile("""(\d{5})-?(\d{3})""")),
      Some(tpl("""\1-\2""")),
      None,
      minRun = 5, minDigits = 8, starts = TextKernel.DigitRuns),
    new PatternCfg("phone",
      compile("""\b\(?\d{2}\)?\s?\d{4,5}-?\d{4}\b"""),
      Some(compile("""\(?(\d{2})\)?\s?(\d{4,5})-?(\d{4})""")),
      Some(tpl("""(\1) \2-\3""")),
      None,
      minRun = 4, minDigits = 10, starts = TextKernel.DigitRuns),
    new PatternCfg("date",
      compile("""\b\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4}\b"""),
      Some(compile("""(\d{1,2})[\/\-\.](\d{1,2})[\/\-\.](\d{2,4})""")),
      Some(tpl("""\1/\2/\3""")),
      Some(Validators.date),
      minDigits = 4, starts = TextKernel.DigitRuns),
    new PatternCfg("time",
      compile("""\b\d{1,2}:\d{2}(:\d{2})?\b"""),
      Some(compile("""(\d{1,2}):(\d{2})(:\d{2})?""")),
      Some(tpl("""\1:\2\3""")),
      Some(Validators.time),
      minDigits = 3, literal = ":", starts = TextKernel.DigitRuns),
    new PatternCfg("currency",
      compile("""R\$\s?\d{1,3}(?:\.\d{3})*(?:,\d{2})?"""),
      Some(compile("""R\$\s?(\d{1,3}(?:\.\d{3})*)(?:,(\d{2}))?""")),
      Some(tpl("""R$ \1,\2""")),
      None,
      minDigits = 1, literal = "R$", starts = TextKernel.AtLiteral),
    new PatternCfg("email",
      compile("""\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"""),
      None, None, Some(Validators.email),
      literal = "@", starts = TextKernel.AtSigns),
    new PatternCfg("url",
      compile("""https?://[^\s<>"{}|\\^`\[\]]+"""),
      None, None, None,
      literal = "http", starts = TextKernel.AtLiteral),
    new PatternCfg("processo_judicial",
      compile("""\b\d{7}-?\d{2}\.\d{4}\.\d{1}\.\d{2}\.\d{4}\b"""),
      Some(compile("""(\d{7})-?(\d{2})\.(\d{4})\.(\d{1})\.(\d{2})\.(\d{4})""")),
      Some(tpl("""\1-\2.\3.\4.\5.\6""")),
      None,
      minRun = 7, minDigits = 20, starts = TextKernel.DigitRuns))

  // precompiled patterns for the cleanup stages
  private val pNonWord = compile("""[^\w]""")
  private val pStartPunct = compile("""^[^\w]*""")
  private val pEndPunct = compile("""[^\w]*$""")

  /** A single-char pair of the table as the reference probes it: `w` → `c`
    * over every match of `\b\w*W\w*\b` (digit→alpha) or `\b\d*W\d*\b`
    * (alpha→digit). `\b` never falls inside a maximal `\w` run, so a match
    * is always a whole run: one holding W for the first shape, one of
    * digits and exactly one W for the second. Pairs in neither direction
    * are skipped, as in the reference.
    */
  private final class Probe(val w: Char, val c: Char, val digitToAlpha: Boolean) {
    /** Whether the whole `\w` run `run` is a match the reference corrects
      * (its `isdigit`/`isalpha` filter included).
      */
    def corrects(run: String): Boolean =
      if (digitToAlpha) run.indexOf(w) >= 0 && !isDigitStr(run)
      else {
        var ws = 0
        var digits = true
        var i = 0
        while (digits && i < run.length) {
          val cp = run.codePointAt(i)
          if (cp == w) ws += 1 else digits = Character.isDigit(cp)
          i += Character.charCount(cp)
        }
        digits && ws == 1 && !isAlphaStr(run)
      }

    /** `ch` with `c` read as `w`: the view of a run that the probe's own
      * rewrites cannot change.
      */
    def fold(ch: Char): Char = if (ch == c) w else ch
  }

  // the table split around its single-char pairs, which are consecutive
  private val (pairsBefore, probes, pairsAfter) = {
    val single = (p: (String, String)) => p._1.length == 1 && p._2.length == 1
    val (before, rest) = ocrCorrections.span(!single(_))
    val (singles, after) = rest.span(single)
    require(!after.exists(single), "the single-char pairs must be consecutive")
    val ps = singles.flatMap { case (wrong, correct) =>
      val (w, c) = (wrong.charAt(0), correct.charAt(0))
      if (Character.isDigit(w) && Character.isLetter(c)) Some(new Probe(w, c, digitToAlpha = true))
      else if (Character.isLetter(w) && Character.isDigit(c)) Some(new Probe(w, c, digitToAlpha = false))
      else None
    }
    (before, ps.toArray, after)
  }
  private val probeChars: Array[Boolean] = {
    val a = new Array[Boolean](128)
    probes.foreach(p => a(p.w) = true)
    a
  }

  /** The premise of [[correctProbes]]'s one walk: every probe maps an
    * ASCII `\w` char to a `\w` char, so a rewrite never moves a run
    * boundary, and no probe writes a later probe's char, so the runs a
    * probe can touch are the input runs that hold its char. Asserted by
    * KernelPropertySpec.
    */
  private[kernel] def probePremise: Boolean =
    probes.indices.forall { k =>
      val p = probes(k)
      p.w < 128 && isUWordCp(p.w) && isUWordCp(p.c) &&
        probes.drop(k + 1).forall(_.w != p.c)
    }

  /** process_text (text_processor.py:233-313). Throws on empty input like
    * the reference (ZeroDivisionError analog); callers map that to an
    * error row. Use [[processSafe]] in pipelines.
    *
    * Throws [[TextKernel.Amplification]] when the pattern or abbreviation
    * stage would make its text longer than [[TextKernel.outputLimit]] of
    * that stage's input (each checks before it builds the longer text), or
    * when the processed text is longer than the limit of the turn's input.
    */
  def process(text0: String): KernelResult = {
    val originalText = text0
    val originalLength = pyLen(text0)
    val limit = outputLimit(text0.length)
    val corrections = ListBuffer.empty[String]

    var text = cleanText(text0)
    if (text != originalText) corrections += "limpeza_basica"

    val (t2, charCorr) = correctConfusedCharacters(text)
    text = t2
    if (charCorr > 0) corrections += s"caracteres_confusos_$charCorr"

    val (t3, wordCorr) = correctSpelling(text)
    text = t3
    if (wordCorr > 0) corrections += s"correcao_ortografica_$wordCorr"

    val (t4, patternsFound) = detectAndFormatPatterns(text)
    text = t4

    val (t5, abbrevCorr) = correctAbbreviations(text)
    text = t5
    if (abbrevCorr > 0) corrections += s"abreviacoes_$abbrevCorr"

    text = formatText(text)
    if (text.length > limit) throw new Amplification(limit)
    corrections += "formatacao_final"

    text = validateConsistency(text)
    corrections += "validacao_consistencia"

    val processedLength = pyLen(text)
    val totalCorrections = charCorr + wordCorr + abbrevCorr
    val patternsDetected = patternsFound.valuesIterator.map(_.size).sum
    val confImprovement = estimateConfidenceImprovement(
      originalText, text, totalCorrections, patternsDetected)

    KernelResult(text, KernelMetrics(
      originalLength, processedLength, totalCorrections, patternsDetected,
      confImprovement, corrections.toSeq,
      ListMap.from(patternsFound.iterator.map { case (k, v) => k -> v.toSeq })))
  }

  /** Error-row variant: empty input (which crashes the reference with a
    * ZeroDivisionError) yields None instead of throwing.
    */
  def processSafe(text: String): Option[KernelResult] =
    if (text == null || text.isEmpty) None else Some(process(text))

  /** _clean_text (text_processor.py:315-330), as one exact pass.
    *
    * The reference drops every Unicode category-C code point except `\n`
    * and `\t`, collapses `\s+` to " ", strips, and then runs
    * `\n\s*\n` → "\n\n" and `([a-z])\n([a-z])` → `\1 \2`. The collapse
    * has already turned every `\n` into a space, so those two subs never
    * match. What is left: drop the category-C code points (walking by code
    * point, so a lone surrogate goes and an astral character stays), turn
    * each whitespace run between two kept characters into one " ", and drop
    * edge whitespace. A dropped control character does not split a run:
    * "a \u0001 b" becomes "a b". Whitespace is Python's `str.isspace`; Java
    * `\s` lacks U+001C-U+001F, but those are category C and never reach the
    * collapse. The copy starts at the first character that changes, so
    * clean input comes back as the same instance. Pinned against the
    * verbatim sub chain by KernelPropertySpec.
    */
  def cleanText(text: String): String = {
    val out = new Rewrite(text)
    var started = false
    var space = false // a whitespace run follows the last kept character
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      var next = i + 1
      var keep = true
      if (c < 0x80) {
        // below U+0080 category C is the C0 controls and DEL, and the only
        // whitespace that survives the filter is ' ', '\t' and '\n'
        if (c == ' ' || c == '\t' || c == '\n') { keep = false; space = started }
        else if (c < 0x20 || c == 0x7F) keep = false
      } else {
        val cp = text.codePointAt(i)
        next = i + Character.charCount(cp)
        val t = Character.getType(cp)
        if (t == Character.CONTROL || t == Character.FORMAT ||
          t == Character.SURROGATE || t == Character.PRIVATE_USE ||
          t == Character.UNASSIGNED) keep = false
        else if (isPySpace(c)) { keep = false; space = started }
      }
      if (keep) {
        out.keep(i, next, space)
        started = true
        space = false
      }
      i = next
    }
    out.result
  }

  /** _correct_confused_characters (text_processor.py:332-365): each pair
    * of the table in order; a multi-char pair is one whole-text replace,
    * counted on the replaced text as the reference does, and the
    * single-char pairs are [[correctProbes]].
    */
  def correctConfusedCharacters(text0: String): (String, Int) = {
    var text = text0
    var corrections = 0
    def replaceWords(pairs: Seq[(String, String)]): Unit =
      pairs.foreach { case (wrong, correct) =>
        if (text.contains(wrong)) {
          text = text.replace(wrong, correct)
          // reference counts on the *already replaced* text
          corrections += count(text, correct) - count(text, wrong)
        }
      }
    replaceWords(pairsBefore)
    val (t, probed) = correctProbes(text)
    text = t
    corrections += probed
    replaceWords(pairsAfter)
    (text, corrections)
  }

  /** The single-char pairs, in order. For each, the reference takes the
    * probe's matches over the current text, in text order with duplicates,
    * and for each match `m` replaces every occurrence of `m` in the whole
    * text with `m.replace(w, c)`. The same bytes from one walk:
    *
    *   - a match is a whole `\w` run and the rewrites map `\w` chars to
    *     `\w` chars ([[probePremise]]), so the runs keep their places and
    *     every occurrence of a match lies inside one run: a replace acts on
    *     each run alone, and runs with equal text end equal;
    *   - a run can only change in a probe if it holds the probe's char
    *     `w`, and only the input runs holding some probe char can (no probe
    *     writes a later probe's char);
    *   - a probe corrects only runs holding both a digit and a non-digit
    *     (a digit `w` in a run not all digits, or a letter `w` among
    *     digits), and only a corrected run changes, so only the input runs
    *     holding both can;
    *   - under [[Probe.fold]], which the probe's rewrites leave unchanged,
    *     a match that ever occurs in a run occurs in the run's fold at the
    *     probe's start, so the whole match list replayed on the run equals
    *     the list of those matches replayed ([[ProbeReplay]]).
    *
    * The text is rebuilt once, after the last probe.
    */
  private def correctProbes(text: String): (String, Int) = {
    final class Run(val input: String) {
      var text: String = input
      var probe = -1 // the probe `corrects` was last decided for
      var corrects = false
    }
    val starts = Array.newBuilder[Int]
    val runs = ListBuffer.empty[Run]
    val distinct = new java.util.HashMap[String, Run]()
    val wr = new WordRuns(text)
    while (wr.next()) {
      var probe = false
      var digit = false
      var other = false
      var i = wr.start
      while (i < wr.end && !(probe && digit && other)) {
        val c = text.charAt(i)
        if (c < 128) {
          if (probeChars(c)) probe = true
          if (c >= '0' && c <= '9') digit = true else other = true
        } else if (Character.isSurrogate(c)) { digit = true; other = true } // astral: either
        else if (Character.isDigit(c)) digit = true
        else other = true
        i += 1
      }
      if (probe && digit && other) {
        val s = text.substring(wr.start, wr.end)
        var r = distinct.get(s)
        if (r == null) { r = new Run(s); distinct.put(s, r) }
        starts += wr.start
        runs += r
      }
    }
    if (runs.isEmpty) return (text, 0)
    var corrections = 0
    var k = 0
    while (k < probes.length) {
      val p = probes(k)
      val ids = new java.util.HashMap[String, Integer]()
      val order = Array.newBuilder[Int]
      runs.foreach { r =>
        if (r.probe != k) { r.probe = k; r.corrects = p.corrects(r.text) }
        if (r.corrects) {
          var id = ids.get(r.text)
          if (id == null) { id = ids.size; ids.put(r.text, id) }
          order += id
        }
      }
      val list = order.result()
      if (list.nonEmpty) {
        corrections += list.length
        val matches = new Array[String](ids.size)
        ids.forEach((m, id) => matches(id) = m)
        val replay = new ProbeReplay(p, matches, list)
        distinct.values.forEach { r =>
          if (r.text.indexOf(p.w) >= 0) r.text = replay(r.text)
        }
      }
      k += 1
    }
    val out = text.toCharArray
    var changed = false
    val at = starts.result()
    var j = 0
    runs.foreach { r =>
      if (r.text ne r.input) { r.text.getChars(0, r.text.length, out, at(j)); changed = true }
      j += 1
    }
    (if (changed) new String(out) else text, corrections)
  }

  /** One probe's match list (`list`, ids into the distinct `matches`),
    * replayed on one run at a time: `apply(run)` is the run after
    * `run = run.replace(m, m.replace(w, c))` for every `m` of the list in
    * order. Only the matches whose fold occurs in the run's fold can ever
    * occur in it; they are found by hashing the run's windows of each match
    * length. A match found absent stays absent until the run changes, so
    * the replay jumps over its later places until then: the work is bounded
    * by the run's changes, not by the list's duplicates.
    */
  private final class ProbeReplay(p: Probe, matches: Array[String], list: Array[Int]) {
    private val fixed = matches.map(_.replace(p.w, p.c))
    // each distinct match's places in the list, ascending
    private val places = indicesById(list, matches.length)
    private val lengths: Array[Int] = matches.map(_.length).distinct.sorted
    private val pows: Array[Long] = Array.iterate(1L, lengths.last + 1)(_ * HashBase)
    private val byHash = new scala.collection.mutable.LongMap[List[Int]]()
    matches.indices.foreach { id =>
      val m = matches(id)
      val key = hashKey(m.length, foldHash(m, 0, m.length))
      byHash(key) = id :: byHash.getOrElse(key, Nil)
    }

    private def hashKey(len: Int, h: Long): Long = h * 31 + len

    private def foldHash(s: String, from: Int, to: Int): Long = {
      var h = 0L
      var i = from
      while (i < to) { h = h * HashBase + p.fold(s.charAt(i)); i += 1 }
      h
    }

    def apply(run: String): String = {
      val cands = candidates(run)
      if (cands.isEmpty) run else replay(run, cands)
    }

    /** The distinct matches whose fold occurs in `run`'s fold. */
    private def candidates(run: String): Array[Int] = {
      val n = run.length
      val prefix = new Array[Long](n + 1)
      var i = 0
      while (i < n) { prefix(i + 1) = prefix(i) * HashBase + p.fold(run.charAt(i)); i += 1 }
      var found = List.empty[Int]
      lengths.foreach { len =>
        var s = 0
        while (s + len <= n) {
          val ids = byHash.getOrNull(hashKey(len, prefix(s + len) - prefix(s) * pows(len)))
          if (ids != null) ids.foreach { id =>
            if (!found.contains(id) && foldEquals(run, s, matches(id))) found = id :: found
          }
          s += 1
        }
      }
      found.toArray
    }

    private def foldEquals(run: String, at: Int, m: String): Boolean = {
      var i = 0
      while (i < m.length && p.fold(run.charAt(at + i)) == p.fold(m.charAt(i))) i += 1
      i == m.length
    }

    private def replay(run0: String, cands: Array[Int]): String = {
      var run = run0
      val live = Array.fill(cands.length)(true)
      val next = new Array[Int](cands.length) // each candidate's next place
      var pos = -1 // the place replayed last
      var done = false
      while (!done) {
        // the earliest place after `pos` of a live candidate
        var best = -1
        var bestPlace = Int.MaxValue
        var j = 0
        while (j < cands.length) {
          if (live(j)) {
            val pl = places(cands(j))
            var q = next(j)
            if (q < pl.length && pl(q) <= pos) {
              q = java.util.Arrays.binarySearch(pl, q, pl.length, pos + 1)
              if (q < 0) q = -q - 1
              next(j) = q
            }
            if (q < pl.length && pl(q) < bestPlace) { best = j; bestPlace = pl(q) }
          }
          j += 1
        }
        if (best < 0) done = true
        else {
          pos = bestPlace
          next(best) += 1
          val id = cands(best)
          if (run.indexOf(matches(id)) < 0) live(best) = false
          else {
            run = run.replace(matches(id), fixed(id))
            java.util.Arrays.fill(live, true)
          }
        }
      }
      run
    }
  }

  /** _correct_spelling (text_processor.py:367-384): `' '.join` of the
    * `split()` words, each word whose `sub([^\w], "", lower(word))` is a
    * table key replaced by [[preserveWordFormat]]'s correction. One walk
    * over the words; the copy starts at the first character that changes,
    * so a turn that changes nothing comes back as the same instance.
    *
    * A word is decided without allocating: its ASCII word chars, folded to
    * lowercase, are compared in place with the keys of their count. A
    * non-ASCII code point lowers as `Character.toLowerCase` does (what
    * `lower` does per code point, but for İ and the final sigma); if that
    * is a word char it survives the strip, and no key (all ASCII) can
    * equal the word. Only a lowercase in ASCII (K U+212A → k, İ U+0130 →
    * i + U+0307) sends the word to the reference's own strip and lookup.
    * Pinned against the split-join reference by KernelPropertySpec.
    */
  def correctSpelling(text: String): (String, Int) = {
    val out = new Rewrite(text)
    val folded = new Array[Char](spellMaxKeyLen)
    var corrections = 0
    var space = false // a word precedes
    var i = 0
    while (i < text.length) {
      if (isPySpace(text.charAt(i))) i += 1
      else {
        val start = i
        var len = 0 // folded ASCII word chars; over spellMaxKeyLen: no key
        var exact = false
        while (i < text.length && !isPySpace(text.charAt(i))) {
          val c = text.charAt(i)
          if (c < 0x80) {
            if (isUWordCp(c)) {
              if (len < spellMaxKeyLen) folded(len) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
              len += 1
            }
            i += 1
          } else {
            val cp = text.codePointAt(i)
            val lc = Character.toLowerCase(cp)
            if (lc < 0x80) exact = true
            else if (isUWordCp(lc)) len = spellMaxKeyLen + 1
            i += Character.charCount(cp)
          }
        }
        val correction =
          if (exact)
            ocrCorrectionsMap.getOrElse(subLiteral(pNonWord, "", lower(text.substring(start, i))), null)
          else spellCorrection(folded, len)
        val corrected =
          if (correction == null) null
          else {
            val word = text.substring(start, i)
            val c = preserveWordFormat(word, correction)
            if (c != word) c else null
          }
        if (corrected == null) out.keep(start, i, space)
        else { out.put(corrected, space); corrections += 1 }
        space = true
      }
    }
    (out.result, corrections)
  }

  /** The correction of the key equal to `folded[0, len)`, or null. */
  private def spellCorrection(folded: Array[Char], len: Int): String = {
    if (len > spellMaxKeyLen) return null
    val pairs = spellByLen(len)
    var k = 0
    while (k < pairs.length) {
      val key = pairs(k)._1
      var j = 0
      while (j < len && folded(j) == key.charAt(j)) j += 1
      if (j == len) return pairs(k)._2
      k += 1
    }
    null
  }

  /** _preserve_word_format (text_processor.py:386-403). */
  def preserveWordFormat(original: String, correction: String): String = {
    val startPunct = reMatch(pStartPunct, original).map(_.group()).getOrElse("")
    val endPunct = search(pEndPunct, original).map(_.group()).getOrElse("")
    val endIdx =
      if (endPunct.nonEmpty) original.length - endPunct.length
      else original.length
    val cleanOriginal = original.substring(startPunct.length, endIdx)
    val formatted =
      if (isUpperStr(cleanOriginal)) upper(correction)
      else if (isTitleStr(cleanOriginal)) capitalize(correction)
      else correction
    startPunct + formatted + endPunct
  }

  /** _detect_and_format_patterns (text_processor.py:405-436): for each
    * pattern in order, `findall` over the current text; each valid match
    * goes to the pattern's list in its formatted form, and for each whose
    * form differs the whole text has every occurrence of the match replaced
    * by the form. Those replaces are replayed in one rebuild per pattern
    * ([[FormatReplay]]), which throws [[TextKernel.Amplification]] before
    * the text grows past [[TextKernel.outputLimit]] of the stage's input.
    *
    * The input is walked once, into its [[DigitIndex]]. A formatter only
    * reinserts its match's digit groups around separators, never adding a
    * digit or joining two runs, so every later text has the same digits and
    * only their gaps change: each replay returns the index of the text it
    * builds. The table's digit conditions are counted on the input's index
    * (every later run is a piece of an input run), and the digit-anchored
    * scans take their run starts from the current one. The validators and
    * formatters are pure, so each is run once per distinct match.
    */
  def detectAndFormatPatterns(text0: String): (String, LinkedHashMap[String, ListBuffer[String]]) = {
    val limit = outputLimit(text0.length)
    var index = DigitIndex(text0)
    val maxRun = index.maxRun
    val patternsFound = LinkedHashMap.empty[String, ListBuffer[String]]
    patternTable.foreach { cfg =>
      val feasible = maxRun >= cfg.minRun && index.count >= cfg.minDigits &&
        index.text.contains(cfg.literal)
      val matches = if (feasible) cfg.matches(index) else Nil
      if (matches.nonEmpty) {
        val bucket = ListBuffer.empty[String]
        patternsFound(cfg.name) = bucket
        val edits = ListBuffer.empty[(String, String)]
        val forms = new java.util.HashMap[String, Option[String]]() // None: invalid
        matches.foreach { matchStr =>
          val form = forms.computeIfAbsent(matchStr, formOf(cfg, _))
          form.foreach { formatted =>
            if (formatted != matchStr) edits += matchStr -> formatted
            bucket += formatted
          }
        }
        if (edits.nonEmpty) index = new FormatReplay(index, edits.toList, limit).result
      }
    }
    (index.text, patternsFound)
  }

  /** `m`'s entry in its pattern's list, or None when the validator rejects it. */
  private def formOf(cfg: PatternCfg, m: String): Option[String] =
    if (!cfg.validator.forall(v => v(m))) None
    else (cfg.formatter, cfg.format) match {
      case (Some(fmt), Some(fmtPat)) => Some(sub(fmtPat, fmt, m))
      case _ => Some(m)
    }

  /** `re.findall` for a pattern whose every match opens with `lit`, tried
    * only at the occurrences of `lit`: the engine's next match is the one at
    * the first occurrence, at or after the previous match's end, where
    * `lookingAt` succeeds. Transparent bounds let a lookaround read the true
    * neighbours. Equality with the generic engine is pinned by
    * KernelPropertySpec.
    */
  private[kernel] def findAllAtLiteral(p: Pattern, text: String, lit: String): List[String] = {
    val out = ListBuffer.empty[String]
    val m = p.matcher(text)
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    var at = text.indexOf(lit)
    while (at >= 0) {
      m.region(at, text.length)
      if (m.lookingAt()) {
        out += findallItem(m)
        at = text.indexOf(lit, math.max(m.end(), at + 1))
      } else at = text.indexOf(lit, at + 1)
    }
    out.toList
  }

  /** `re.findall` for the e-mail pattern, tried only where a match can
    * start. Its local part `[A-Za-z0-9._%+-]+` runs to the first '@' after
    * the start, since '@' is not in that class, and the engine backtracks
    * that run only to retry the '@', which fails. So whether a start
    * matches depends only on the `\b` there and on what follows the '@':
    * the engine's leftmost match with a given '@' starts at the first `\b`
    * in the class run that ends at the '@', at or after the previous
    * match's end, or there is none. `lookingAt` there decides. Transparent
    * bounds let `\b` read the true left neighbour. Equality with the
    * generic engine is pinned by KernelPropertySpec.
    */
  private[kernel] def findAllEmails(p: Pattern, text: String): List[String] = {
    @inline def local(c: Char) =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
        c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
    def boundary(i: Int) =
      (i > 0 && isUWordCp(text.codePointBefore(i))) !=
        (i < text.length && isUWordCp(text.codePointAt(i)))
    val out = ListBuffer.empty[String]
    val m = p.matcher(text)
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    var lastEnd = 0
    var at = text.indexOf('@')
    while (at >= 0) {
      var s = at
      while (s > lastEnd && local(text.charAt(s - 1))) s -= 1
      while (s < at && !boundary(s)) s += 1
      if (s < at) {
        m.region(s, text.length)
        if (m.lookingAt()) { out += m.group(); lastEnd = m.end() }
      }
      at = text.indexOf('@', math.max(at + 1, lastEnd))
    }
    out.toList
  }

  /** `re.findall` for a pattern whose every match starts at a digit-run
    * start or at the '(' before one — true for all seven digit-opening
    * table patterns (`\b\d...` / phone's `\b\(?\d...`):
    *
    *   - a match's first consumed char is a digit (or '(' for phone);
    *   - `\b` before a digit requires a non-word — hence non-digit —
    *     predecessor, so that digit begins a maximal digit run;
    *   - for phone's '(' start, `\(?` consumes the paren and the digit
    *     after it likewise begins a run, so the start is runStart - 1;
    *   - every OTHER position the generic scan-loop would attempt either
    *     fails `\b` instantly (mid-run: digits on both sides) or fails
    *     the first `\d` (non-digit, non-'(' char). A pattern that cannot
    *     open with '(' fails at the paren too, as the generic scan does.
    *
    * The SAME matcher is therefore driven with region(anchor)+lookingAt at
    * each run start (and the '(' before it, earlier position first), in
    * order, resuming past each match — identical match list, none of the
    * per-position attempt scanning between runs. Transparent bounds make
    * region-edge `\b` read the true neighbors; anchoring bounds are off so
    * a region start is not treated as `^` (the table patterns use neither
    * `^` nor `$`, but correctness must not depend on that).
    *
    * A pattern that opens `\b\(?\d{n}` ([[TextKernel.leadDigits]] `lead`
    * = n > 0) needs n digits in the run it starts at, and its `\b` needs a
    * non-word char before a digit start and a word char before a '('
    * start: the other starts are skipped untried. Equality with the
    * generic engine is pinned by KernelPropertySpec.
    */
  private[kernel] def findAllDigitAnchored(p: Pattern, index: DigitIndex, lead: Int): List[String] = {
    val out = ListBuffer.empty[String]
    val text = index.text
    val runStarts = index.runStarts
    val runLengths = index.runLengths
    val m = p.matcher(text)
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    val n = text.length
    def wordBefore(i: Int) = i > 0 && isUWordCp(text.codePointBefore(i))
    // re.findall group semantics ([[Py.findallItem]]: the
    // time pattern's optional (:\d{2})? group makes findall return the
    // CAPTURE, not the whole match — a reference quirk both drivers must
    // share)
    def emit(): Unit = out += findallItem(m)
    var lastEnd = 0
    var r = 0
    while (r < runStarts.length) {
      val rs = runStarts(r)
      if (rs >= lastEnd && runLengths(r) >= lead) {
        var matched = false
        if (rs - 1 >= lastEnd && text.charAt(rs - 1) == '(' && (lead == 0 || wordBefore(rs - 1))) {
          m.region(rs - 1, n)
          if (m.lookingAt()) { emit(); lastEnd = m.end(); matched = true }
        }
        if (!matched && (lead == 0 || !wordBefore(rs))) {
          m.region(rs, n)
          if (m.lookingAt()) { emit(); lastEnd = m.end() }
        }
      }
      r += 1
    }
    out.toList
  }

  /** _correct_abbreviations (text_processor.py:438-459): for each table
    * key in order, `findall(\bKEY\b, re.I)` over the current text, then one
    * whole-text `sub(\bm\b, repl(m))` per match. The same bytes from one
    * walk over the input, one replay per distinct match and one rebuild:
    *
    *   - a `\b`-bounded occurrence of an all-word-char key is exactly a
    *     maximal `\w` run, and the engine's case-insensitive literal test
    *     is toLowerCase(toUpperCase(cp)) per code point — so a run whose
    *     fold ([[foreachFoldedRun]]) is a key is a match of that key,
    *     anomalous folds (K U+212A, ſ U+017F, İ U+0130, ı U+0131) included;
    *   - a substitution rewrites only runs equal to its match, and the
    *     non-word chars between input runs never change, so every run of
    *     the evolving text lies inside the rewrite of one input run. No
    *     expansion holds a run folding to a LATER key
    *     ([[abbreviationPrefilterSafe]]), so each key's findall over the
    *     evolving text is exactly that key's runs in the input;
    *   - every occurrence of a run therefore goes through its key's whole
    *     match list, in order, on its own: replaying the list on the run
    *     alone gives its final text, including self-re-matching
    *     expansions (`"dr dr"` → `"dr.. dr.."`).
    *
    * `corrections` is the number of runs matched, like the reference's
    * one increment per findall match. Pinned against the verbatim
    * findall/sub loop by KernelPropertySpec. Throws
    * [[TextKernel.Amplification]] before the text grows past
    * [[TextKernel.outputLimit]] of the input.
    */
  def correctAbbreviations(text: String): (String, Int) = {
    val limit = outputLimit(text.length)
    final class Hit(val run: String, val repl: String, val key: Int) {
      var out: String = run
      var count = 0L // occurrences in the text
    }
    val occurrences = ListBuffer.empty[(Int, Hit)]
    val distinct = new java.util.HashMap[String, Hit]()
    val byKey = new Array[ListBuffer[Hit]](abbreviations.length) // match lists
    foreachFoldedRun(text, abbrevMaxKeyLen) { (start, end, fold) =>
      val key = abbrevKeyIndex.getOrDefault(fold, -1)
      if (key >= 0) {
        val run = text.substring(start, end)
        var h = distinct.get(run)
        if (h == null) {
          val fullForm = abbreviations(key)._2
          val repl =
            if (isUpperStr(run)) upper(fullForm)
            else if (isTitleStr(run)) fullForm
            else lower(fullForm)
          h = new Hit(run, repl, key)
          distinct.put(run, h)
        }
        occurrences += start -> h
        h.count += 1
        if (byKey(key) == null) byKey(key) = ListBuffer.empty
        byKey(key) += h
      }
    }
    if (occurrences.isEmpty) return (text, 0)
    distinct.values.forEach { h =>
      byKey(h.key).foreach { m =>
        h.out = replaceWordBounded(h.out, m.run, m.repl)
        // an expansion never shortens a run, so every occurrence ends at
        // least this long
        if (h.out.length * h.count > limit) throw new Amplification(limit)
      }
    }
    val length = occurrences.foldLeft(text.length.toLong) { case (l, (_, h)) =>
      l + h.out.length - h.run.length
    }
    if (length > limit) throw new Amplification(limit)
    val sb = new java.lang.StringBuilder(length.toInt)
    var from = 0
    occurrences.foreach { case (start, h) =>
      sb.append(text, from, start).append(h.out)
      from = start + h.run.length
    }
    sb.append(text, from, text.length)
    (sb.toString, occurrences.size)
  }

  /** Calls `f(start, end, fold)` for each maximal `\w` run of `s` whose
    * fold is at most `maxFold` chars long, in text order. The fold maps
    * every code point to toLowerCase(toUpperCase(cp)), the regex engine's
    * CASE_INSENSITIVE|UNICODE_CASE literal comparison.
    */
  private def foreachFoldedRun(s: String, maxFold: Int)(f: (Int, Int, String) => Unit): Unit = {
    val fold = new java.lang.StringBuilder
    val runs = new WordRuns(s)
    while (runs.next()) {
      fold.setLength(0)
      var i = runs.start
      while (i < runs.end && fold.length <= maxFold) {
        val cp = s.codePointAt(i)
        fold.appendCodePoint(Character.toLowerCase(Character.toUpperCase(cp)))
        i += Character.charCount(cp)
      }
      if (fold.length <= maxFold) f(runs.start, runs.end, fold.toString)
    }
  }

  /** `subLiteral(compile("\b" + quote(m) + "\b"), repl, text)` for an
    * all-word-char literal `m` (an abbreviation match is always a whole
    * `\w` run), without the regex engine: indexOf occurrences guarded by
    * word-boundary checks on the true neighbors, replaced left-to-right
    * non-overlapping exactly as the engine does.
    */
  private[kernel] def replaceWordBounded(text: String, m: String, repl: String): String = {
    var idx = text.indexOf(m)
    if (idx < 0) return text
    val sb = new java.lang.StringBuilder(text.length + 16)
    var from = 0
    while (idx >= 0) {
      val end = idx + m.length
      val beforeOk = idx == 0 || !isUWordCp(text.codePointBefore(idx))
      val afterOk = end >= text.length || !isUWordCp(text.codePointAt(end))
      if (beforeOk && afterOk) {
        sb.append(text, from, idx).append(repl)
        from = end
        idx = text.indexOf(m, end)
      } else idx = text.indexOf(m, idx + 1)
    }
    sb.append(text, from, text.length)
    sb.toString
  }

  private val abbrevKeyIndex: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    abbreviations.zipWithIndex.foreach { case ((a, _), i) => m.put(a, i) }
    m
  }
  private val abbrevMaxKeyLen: Int = abbreviations.map(_._1.length).max

  /** The premise of [[correctAbbreviations]]'s one walk: no expansion, in
    * any of the three case forms the stage writes, holds a `\w` run whose
    * fold (the walk's own, [[foreachFoldedRun]]) is a key LATER in the
    * table. Asserted by KernelPropertySpec.
    */
  private[kernel] def abbreviationPrefilterSafe: Boolean =
    abbreviations.zipWithIndex.forall { case ((_, fullForm), i) =>
      val folds = scala.collection.mutable.Set.empty[String]
      Seq(upper(fullForm), fullForm, lower(fullForm)).foreach { form =>
        foreachFoldedRun(form, Int.MaxValue)((_, _, fold) => folds += fold)
      }
      abbreviations.drop(i + 1).forall { case (later, _) => !folds.contains(later) }
    }

  /** _format_text (text_processor.py:461-483), as one exact pass.
    *
    * The reference runs `\s+([.,;:!?])` → `\1`, `([.,;:!?])\s*` → `\1 `,
    * six quote/paren subs, `\s+` → " ", `\n\s*\n\s*\n` → "\n\n" and a
    * strip. The last sub never matches: the collapse before it has turned
    * every `\n` into a space. The collapse also absorbs `\s+"`, `"\s+`,
    * `\s+\(` and `\)\s+`, which only map a non-empty run to " ". What is
    * left decides, for two consecutive non-whitespace characters `a` and
    * `b` with a whitespace run `r` (maybe empty) between them, whether one
    * " " goes between: iff `a` is punctuation or (`r` is non-empty and `b`
    * is not punctuation), and `a` is not '(' and `b` is not ')'. Edge
    * whitespace goes. Whitespace is Python's `str.isspace`, as in the
    * reference. Pinned against the verbatim sub chain by KernelPropertySpec.
    */
  def formatText(text: String): String = {
    @inline def isPunct(c: Char) =
      c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?'
    val out = new Rewrite(text)
    var prev = -1 // index of the last non-whitespace character
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (!isPySpace(c)) {
        val space = prev >= 0 && {
          val a = text.charAt(prev)
          (isPunct(a) || (i > prev + 1 && !isPunct(c))) && a != '(' && c != ')'
        }
        out.keep(i, i + 1, space)
        prev = i
      }
      i += 1
    }
    out.result
  }

  private val keepShortSet = Set(".", "!", "?", ":", ";")

  /** _validate_consistency (text_processor.py:485-496). */
  def validateConsistency(text: String): String =
    splitOn(text, '\n')
      .map(strip)
      .filter(l => pyLen(l) > 2 || keepShortSet.contains(l))
      .mkString("\n")

  /** _estimate_confidence_improvement (text_processor.py:498-511). */
  def estimateConfidenceImprovement(
      original: String, processed: String,
      corrections: Int, patterns: Int): Double = {
    val correctionFactor = math.min(0.15, corrections * 0.02)
    val patternFactor = math.min(0.10, patterns * 0.05)
    val origLen = pyLen(original)
    // the reference's ZeroDivisionError on empty input, made explicit:
    // Scala's 0.0/0 is NaN, which would otherwise flow out silently as
    // the confidence of an empty-input process() call
    if (origLen == 0)
      throw new ArithmeticException(
        "division by zero: empty original text (reference " +
          "_estimate_confidence_improvement raises ZeroDivisionError; " +
          "use processSafe for error-row handling)")
    var lengthFactor =
      math.min(0.05, math.abs(pyLen(processed) - origLen).toDouble / origLen)
    if (pyLen(processed) < origLen * 0.8) lengthFactor = -lengthFactor
    val total = correctionFactor + patternFactor + lengthFactor
    math.max(0.0, math.min(0.30, total))
  }
}

object TextKernel {

  /** The longest text a stage or a turn may grow to: 8 × its input plus
    * 1024 chars. The pattern and abbreviation stages throw
    * [[Amplification]] before their output passes it, and
    * [[TextKernel.process]] when the processed text passes the limit of
    * the turn's input. A repeated match whose formatted form holds it again
    * (phone's `"11) 99999-9999"` → `"(11) 99999-9999"`) or an expansion
    * that holds its key (`r` → `R.`) re-expands every earlier expansion, so
    * the output grows with the square of the repeats; long turns of the
    * benchmark stay under 3 ×.
    */
  def outputLimit(inputChars: Int): Long = 8L * inputChars + 1024

  final class Amplification(limit: Long)
    extends RuntimeException(s"amplification: the text grew past $limit chars")

  /** `n` when every match of the regex `src` opens with `\b`, an optional
    * '(' and `n` ≥ 1 digits (`\b\(?\d{n…}`, `\b\d`), else 0.
    */
  private[kernel] def leadDigits(src: String): Int =
    LeadDigits.findPrefixMatchOf(src).fold(0)(m => Option(m.group(1)).fold(1)(_.toInt))

  private val LeadDigits = """\\b(?:\\\(\?)?\\d(?:\{(\d+)|(?![?*{]))""".r

  /** Where a table pattern's matches can start. */
  private[kernel] sealed trait Starts
  private[kernel] case object DigitRuns extends Starts
  private[kernel] case object AtSigns extends Starts
  private[kernel] case object AtLiteral extends Starts

  /** The base of the kernel's polynomial window hashes (mod 2^64). */
  private[kernel] val HashBase = 1000003L

  /** For each id in `[0, n)`, the indices of `ids` that hold it, ascending. */
  private[kernel] def indicesById(ids: Array[Int], n: Int): Array[Array[Int]] = {
    val counts = new Array[Int](n)
    ids.foreach(id => counts(id) += 1)
    val out = counts.map(c => new Array[Int](c))
    java.util.Arrays.fill(counts, 0)
    var i = 0
    while (i < ids.length) {
      val id = ids(i)
      out(id)(counts(id)) = i
      counts(id) += 1
      i += 1
    }
    out
  }
}

/** Brazilian-document validators (text_processor.py:513-641). */
object Validators {
  import Py._
  private val pNonDigit = compile("""[^\d]""")
  private val pDate = compile("""(\d{1,2})[\/\-\.](\d{1,2})[\/\-\.](\d{2,4})""")
  private val pTime = compile("""(\d{1,2}):(\d{2})(:\d{2})?""")
  private val pDomain = Pattern.compile("""^[a-zA-Z0-9.-]+$""")

  private def checkDigit(digits: String, weights: Seq[Int]): Int = {
    val total = digits.zip(weights).map { case (d, w) => (d - '0') * w }.sum
    val rem = total % 11
    if (rem < 2) 0 else 11 - rem
  }

  /** mod-11 double check-digit (text_processor.py:513-537) */
  val cpf: String => Boolean = { raw =>
    val cpf = subLiteral(pNonDigit, "", raw)
    if (cpf.length != 11 || cpf == cpf.charAt(0).toString * 11) false
    else {
      val d1 = checkDigit(cpf.substring(0, 9), 10 to 2 by -1)
      if (d1 != cpf.charAt(9) - '0') false
      else {
        val d2 = checkDigit(cpf.substring(0, 10), 11 to 2 by -1)
        d2 == cpf.charAt(10) - '0'
      }
    }
  }

  /** weighted mod-11 (text_processor.py:539-565) */
  val cnpj: String => Boolean = { raw =>
    val cnpj = subLiteral(pNonDigit, "", raw)
    if (cnpj.length != 14 || cnpj == cnpj.charAt(0).toString * 14) false
    else {
      val w1 = Seq(5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
      val d1 = checkDigit(cnpj.substring(0, 12), w1)
      if (d1 != cnpj.charAt(12) - '0') false
      else {
        val w2 = Seq(6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
        val d2 = checkDigit(cnpj.substring(0, 13), w2)
        d2 == cnpj.charAt(13) - '0'
      }
    }
  }

  /** lenient dd/mm/yyyy with 2-digit-year pivot at 50 (py:567-599).
    * Deliberately NOT java.time — must replicate the reference exactly.
    */
  val date: String => Boolean = { s =>
    reMatch(pDate, s) match {
      case None => false
      case Some(m) =>
        val day = m.group(1).toInt
        val month = m.group(2).toInt
        var year = m.group(3).toInt
        if (year < 100) year += (if (year < 50) 2000 else 1900)
        if (month < 1 || month > 12) false
        else if (day < 1 || day > 31) false
        else if (year < 1900 || year > 2100) false
        else {
          val dim = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
          if (year % 4 == 0 && (year % 100 != 0 || year % 400 == 0)) dim(1) = 29
          day <= dim(month - 1)
        }
    }
  }

  /** hh:mm(:ss) range check (py:601-620) */
  val time: String => Boolean = { s =>
    reMatch(pTime, s) match {
      case None => false
      case Some(m) =>
        val hour = m.group(1).toInt
        val minute = m.group(2).toInt
        if (hour < 0 || hour > 23) false
        else if (minute < 0 || minute > 59) false
        else Option(m.group(3)) match {
          case Some(sec) =>
            val v = sec.substring(1).toInt
            v >= 0 && v <= 59
          case None => true
        }
    }
  }

  /** local/domain length + charset check (py:622-641) */
  val email: String => Boolean = { s =>
    if (!s.contains('@') || !s.contains('.')) false
    else {
      val at = s.lastIndexOf('@')
      val local = s.substring(0, at)
      val domain = s.substring(at + 1)
      if (local.length < 1 || local.length > 64) false
      else if (domain.length < 1 || domain.length > 255) false
      else pDomain.matcher(domain).lookingAt()
    }
  }
}

/** The maximal `\w` runs of `s` in text order, walking by code point so
  * astral word chars join runs: each `next()` that returns true leaves
  * the next run in `[start, end)`. A cursor rather than a callback, so the
  * kernel's three run scanners each get the walk inlined.
  */
private final class WordRuns(s: String) {
  var start = 0
  var end = 0

  def next(): Boolean = {
    var i = end
    start = -1
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Py.isUWordCp(cp)) { if (start < 0) start = i }
      else if (start >= 0) { end = i; return true }
      i += Character.charCount(cp)
    }
    end = s.length
    start >= 0
  }
}

/** The output of a pass that keeps some of `text`'s characters in order,
  * or puts a replacement in place of some, each piece optionally preceded
  * by one " ". Kept characters that continue the input are held as one
  * pending run and copied with one append when the output departs from the
  * input; no copy is made until then, so a pass that changes nothing
  * returns `text` itself.
  */
private final class Rewrite(text: String) {
  private var sb: java.lang.StringBuilder = null
  // the pending run `text[from, to)` follows sb's content (while sb == null
  // it is the whole output, and from == 0); after a put there is none:
  // from = to = -2, which no piece `i` continues (`to == i`, `to == i - 1`)
  private var from = 0
  private var to = 0

  /** Appends `text[i, next)`, preceded by one " " if `space`. */
  def keep(i: Int, next: Int, space: Boolean): Unit =
    if (if (space) to == i - 1 && text.charAt(to) == ' ' else to == i) to = next
    else {
      flush(space)
      from = i
      to = next
    }

  /** Appends `s`, which replaces input characters, preceded by one " " if
    * `space`.
    */
  def put(s: String, space: Boolean): Unit = {
    flush(space).append(s)
    from = -2
    to = -2
  }

  /** Appends the pending run, then " " if `space`; returns sb. */
  private def flush(space: Boolean): java.lang.StringBuilder = {
    if (sb == null) sb = new java.lang.StringBuilder(text.length + 16)
    if (from < to) sb.append(text, from, to)
    if (space) sb.append(' ')
    sb
  }

  /** `substring(0, length)` is `text` itself. */
  def result: String =
    if (sb == null) text.substring(0, to)
    else flush(space = false).toString
}

/** `text`'s digits (code points: `\d` and `Character.isDigit` are both
  * Unicode Nd, astral digits included), digit `j` at `at(j)`, and the
  * non-digit gap before each one and after the last: gap `j` is
  * `text[gapFrom(j), gapTo(j))`.
  */
private[kernel] final class DigitIndex(val text: String, val digits: Array[Int], val at: Array[Int]) {

  def count: Int = digits.length

  def gapFrom(j: Int): Int = if (j == 0) 0 else at(j - 1) + Character.charCount(digits(j - 1))

  def gapTo(j: Int): Int = if (j == count) text.length else at(j)

  def gap(j: Int): String = text.substring(gapFrom(j), gapTo(j))

  /** Digit `j` continues a run when its gap is empty. */
  private def continues(j: Int): Boolean = j > 0 && gapFrom(j) == at(j)

  /** The length of the longest run of consecutive digits. */
  def maxRun: Int = {
    var best = 0
    var run = 0
    var j = 0
    while (j < count) {
      run = if (continues(j)) run + 1 else 1
      if (run > best) best = run
      j += 1
    }
    best
  }

  /** UTF-16 offset of each maximal digit run's first digit, and the
    * run's digit count.
    */
  lazy val (runStarts, runLengths): (Array[Int], Array[Int]) = {
    var runs = 0
    var j = 0
    while (j < count) { if (!continues(j)) runs += 1; j += 1 }
    val rs = new Array[Int](runs)
    val ls = new Array[Int](runs)
    var r = -1
    j = 0
    while (j < count) {
      if (!continues(j)) { r += 1; rs(r) = at(j) }
      ls(r) += 1
      j += 1
    }
    (rs, ls)
  }
}

private[kernel] object DigitIndex {
  /** One walk of `s` by code point. */
  def apply(s: String): DigitIndex = {
    var digits = new Array[Int](16)
    var at = new Array[Int](16)
    var n = 0
    def add(cp: Int, i: Int): Unit = {
      if (n == digits.length) {
        digits = java.util.Arrays.copyOf(digits, 2 * n)
        at = java.util.Arrays.copyOf(at, 2 * n)
      }
      digits(n) = cp
      at(n) = i
      n += 1
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) { // below U+0080 only '0'-'9' are digits
        if (c >= '0' && c <= '9') add(c, i)
        i += 1
      } else {
        val cp = s.codePointAt(i)
        if (Character.isDigit(cp)) add(cp, i)
        i += Character.charCount(cp)
      }
    }
    new DigitIndex(s, java.util.Arrays.copyOf(digits, n), java.util.Arrays.copyOf(at, n))
  }
}

/** The text after `text = text.replace(m, f)` for each edit `(m, f)` in
  * order — the pattern stage's replaces — built once, as the
  * [[DigitIndex]] of the text built.
  *
  * A formatter keeps its match's digits in order and only changes the
  * non-digits around them, and every match holds a digit, so the text's
  * digits never change: digit `j` of the input is digit `j` of every later
  * text, and only the gaps between digits are edited. An occurrence of `m`
  * whose digits `D` start at digit `d` is then a place where `D` starts at
  * `d` in the input's digits, gap `d` ends with the non-digits before `m`'s
  * first digit, the gaps inside equal `m`'s, and the gap after its last
  * digit starts with the non-digits after it. Those places are found once,
  * by hashing the input's digit windows of each match's digit count, and
  * whether each one holds is kept current: an edit rechecks only the
  * places over the gaps it touched. So a new occurrence — one an earlier
  * replace made, e.g. phone's `"11) 99999-9999"` → `"(11) 99999-9999"`,
  * which holds its match again — is found without a scan of the text, and
  * the replace of a match with no occurrence costs nothing. Only the gaps
  * a place covers can change; they alone get a [[Gap]], and the rest are
  * copied from the input in runs when the text is built.
  *
  * Each replace takes its occurrences left to right without overlap, as
  * `String.replace` does. The text's length is tracked through the edits;
  * past `limit` the replay throws [[TextKernel.Amplification]] before the
  * text is built.
  */
private final class FormatReplay(input: DigitIndex, edits: List[(String, String)], limit: Long) {

  private final class Edit(m: String, f: String) {
    private val (mIndex, fIndex) = (DigitIndex(m), DigitIndex(f))
    require(mIndex.digits.nonEmpty && java.util.Arrays.equals(mIndex.digits, fIndex.digits),
      s"a formatter changed its match's digits: $m -> $f")
    val digits: Array[Int] = mIndex.digits
    val span: Int = digits.length
    val from: Array[String] = Array.tabulate(span + 1)(mIndex.gap) // m's gaps
    val to: Array[String] = Array.tabulate(span + 1)(fIndex.gap) // f's gaps
    val grow: Int = f.length - m.length
  }

  private val text = input.text
  private val digits = input.digits
  private val n = digits.length

  // the distinct edits, and the list as their ids
  private val (distinct, order): (Array[Edit], Array[Int]) = {
    val ids = new java.util.HashMap[String, Integer]()
    val es = Array.newBuilder[Edit]
    val order = edits.map { case (m, f) =>
      var id = ids.get(m)
      if (id == null) { id = ids.size; ids.put(m, id); es += new Edit(m, f) }
      id.intValue
    }
    (es.result(), order.toArray)
  }
  private val maxSpan = distinct.map(_.span).max

  // the places: candidate `c` is edit `placeEdit(c)` with its digits
  // starting at digit `placeAt(c)`, ascending by `placeAt`
  private val (placeEdit, placeAt): (Array[Int], Array[Int]) = {
    val prefix = new Array[Long](n + 1)
    var i = 0
    while (i < n) { prefix(i + 1) = prefix(i) * TextKernel.HashBase + digits(i); i += 1 }
    def window(ds: Array[Int]): Long = ds.foldLeft(0L)(_ * TextKernel.HashBase + _)
    val spans = distinct.map(_.span).distinct.sorted
    val pows = Array.iterate(1L, maxSpan + 1)(_ * TextKernel.HashBase)
    val byHash = new scala.collection.mutable.LongMap[List[Int]]()
    distinct.indices.foreach { id =>
      val key = window(distinct(id).digits) * 31 + distinct(id).span
      byHash(key) = id :: byHash.getOrElse(key, Nil)
    }
    val es = Array.newBuilder[Int]
    val ats = Array.newBuilder[Int]
    var d = 0
    while (d < n) {
      spans.foreach { len =>
        if (d + len <= n) {
          val ids = byHash.getOrNull((prefix(d + len) - prefix(d) * pows(len)) * 31 + len)
          if (ids != null) ids.foreach { id =>
            val ds = distinct(id).digits
            var k = 0
            while (k < len && digits(d + k) == ds(k)) k += 1
            if (k == len) { es += id; ats += d }
          }
        }
      }
      d += 1
    }
    (es.result(), ats.result())
  }
  private val places = placeAt.length
  // each edit's places, ascending
  private val placesOf = TextKernel.indicesById(placeEdit, distinct.length)
  private val holds = new Array[Boolean](places)
  private val holding = new Array[Int](distinct.length) // holding places per edit
  private var length: Long = text.length

  // gaps d .. d + span of each place `c`, the only ones an edit touches;
  // null for every other gap
  private val gaps: Array[Gap] = {
    val g = new Array[Gap](n + 1)
    var c = 0
    while (c < places) {
      val d = placeAt(c)
      var j = d + distinct(placeEdit(c)).span
      while (j >= d && g(j) == null) { g(j) = new Gap(text, input.gapFrom(j), input.gapTo(j)); j -= 1 }
      c += 1
    }
    g
  }

  private def occursAt(c: Int): Boolean = {
    val e = distinct(placeEdit(c))
    val d = placeAt(c)
    val g = e.from
    var ok = gaps(d).endsWith(g(0)) && gaps(d + e.span).startsWith(g(e.span))
    var j = 1
    while (ok && j < e.span) { ok = gaps(d + j).is(g(j)); j += 1 }
    ok
  }

  private def recheck(c: Int): Unit = {
    val h = occursAt(c)
    if (h != holds(c)) {
      holds(c) = h
      holding(placeEdit(c)) += (if (h) 1 else -1)
    }
  }

  private def replaceAt(c: Int): Unit = {
    val e = distinct(placeEdit(c))
    val d = placeAt(c)
    gaps(d).replaceEnd(e.from(0).length, e.to(0))
    var j = 1
    while (j < e.span) { gaps(d + j).replaceStart(gaps(d + j).length, e.to(j)); j += 1 }
    gaps(d + e.span).replaceStart(e.from(e.span).length, e.to(e.span))
    length += e.grow
    if (length > limit) throw new TextKernel.Amplification(limit)
    // the places over gaps d .. d + span
    var p = java.util.Arrays.binarySearch(placeAt, d - maxSpan)
    if (p < 0) p = -p - 1
    while (p > 0 && placeAt(p - 1) >= d - maxSpan) p -= 1
    while (p < places && placeAt(p) <= d + e.span) { recheck(p); p += 1 }
  }

  val result: DigitIndex = {
    var c = 0
    while (c < places) { recheck(c); c += 1 }
    var replaced = false
    order.foreach { id =>
      if (holding(id) > 0) {
        // this replace's occurrences, left to right without overlap
        val e = distinct(id)
        val chosen = Array.newBuilder[Int]
        var endGap = -1 // the last chosen occurrence ends in this gap ...
        var endOff = 0 // ... at this offset
        placesOf(id).foreach { c =>
          if (holds(c)) {
            val d = placeAt(c)
            val startOff = gaps(d).length - e.from(0).length
            if (d > endGap || (d == endGap && startOff >= endOff)) {
              chosen += c
              endGap = d + e.span
              endOff = e.from(e.span).length
            }
          }
        }
        chosen.result().foreach(replaceAt)
        replaced = true
      }
    }
    if (!replaced) input else build()
  }

  /** The edited text and its index. The input between two edited gaps —
    * digits and untouched gaps — is copied with one append, and a digit
    * moves by what was added before it.
    */
  private def build(): DigitIndex = {
    val sb = new java.lang.StringBuilder(length.toInt)
    val at = new Array[Int](n)
    var pending = 0 // input text[pending, …) is still to be copied
    var j = 0
    while (j <= n) {
      val g = gaps(j)
      if (g != null) {
        sb.append(text, pending, input.gapFrom(j))
        g.appendTo(sb)
        pending = input.gapTo(j)
      }
      if (j < n) at(j) = input.at(j) + sb.length - pending
      j += 1
    }
    sb.append(text, pending, text.length)
    new DigitIndex(sb.toString, digits, at)
  }
}

/** The non-digit text between two digits as [[FormatReplay]] edits it:
  * `text[a, b)` with chars put before and after it. An edit only ever
  * replaces a prefix or a suffix, so the added chars sit in two builders,
  * the leading one reversed, and an edit costs what it adds or removes.
  */
private final class Gap(text: String, private var a: Int, private var b: Int) {
  private var lead: java.lang.StringBuilder = null // reversed
  private var trail: java.lang.StringBuilder = null

  private def leadLength = if (lead == null) 0 else lead.length
  private def trailLength = if (trail == null) 0 else trail.length
  def length: Int = leadLength + (b - a) + trailLength

  private def charAt(i: Int): Char = {
    val l = leadLength
    if (i < l) lead.charAt(l - 1 - i)
    else if (i < l + b - a) text.charAt(a + i - l)
    else trail.charAt(i - l - (b - a))
  }

  private def holdsAt(at: Int, s: String): Boolean = {
    var i = 0
    while (i < s.length && charAt(at + i) == s.charAt(i)) i += 1
    i == s.length
  }

  def startsWith(s: String): Boolean = s.length <= length && holdsAt(0, s)
  def endsWith(s: String): Boolean = s.length <= length && holdsAt(length - s.length, s)
  def is(s: String): Boolean = s.length == length && holdsAt(0, s)

  /** Replaces the first `n` chars with `s`. */
  def replaceStart(n: Int, s: String): Unit = {
    var r = n
    val l = math.min(r, leadLength)
    if (l > 0) lead.setLength(lead.length - l)
    r -= l
    val m = math.min(r, b - a)
    a += m
    r -= m
    if (r > 0) trail.delete(0, r)
    if (s.nonEmpty) {
      if (lead == null) lead = new java.lang.StringBuilder
      var j = s.length - 1
      while (j >= 0) { lead.append(s.charAt(j)); j -= 1 }
    }
  }

  /** Replaces the last `n` chars with `s`. */
  def replaceEnd(n: Int, s: String): Unit = {
    var r = n
    val t = math.min(r, trailLength)
    if (t > 0) trail.setLength(trail.length - t)
    r -= t
    val m = math.min(r, b - a)
    b -= m
    r -= m
    if (r > 0) lead.delete(0, r)
    if (s.nonEmpty) {
      if (trail == null) trail = new java.lang.StringBuilder
      trail.append(s)
    }
  }

  def appendTo(sb: java.lang.StringBuilder): Unit = {
    var i = leadLength - 1
    while (i >= 0) { sb.append(lead.charAt(i)); i -= 1 }
    sb.append(text, a, b)
    if (trail != null) sb.append(trail)
  }
}
