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
  // `anchored`: every match starts at a digit run's first digit or at the
  // '(' before it ([[findAllDigitAnchored]]).
  private final case class PatternCfg(
      name: String,
      regex: Pattern,
      format: Option[Pattern],
      formatter: Option[Seq[Tpl]],
      validator: Option[String => Boolean],
      minRun: Int = 0,
      minDigits: Int = 0,
      literal: String = "",
      anchored: Boolean = false)

  private val patternTable: Seq[PatternCfg] = Seq(
    PatternCfg("cpf",
      compile("""\b\d{3}\.?\d{3}\.?\d{3}-?\d{2}\b"""),
      Some(compile("""(\d{3})\.?(\d{3})\.?(\d{3})-?(\d{2})""")),
      Some(tpl("""\1.\2.\3-\4""")),
      Some(Validators.cpf),
      minRun = 3, minDigits = 11, anchored = true),
    PatternCfg("cnpj",
      compile("""\b\d{2}\.?\d{3}\.?\d{3}/?\d{4}-?\d{2}\b"""),
      Some(compile("""(\d{2})\.?(\d{3})\.?(\d{3})/(\d{4})-?(\d{2})""")),
      Some(tpl("""\1.\2.\3/\4-\5""")),
      Some(Validators.cnpj),
      minRun = 4, minDigits = 14, anchored = true),
    PatternCfg("cep",
      compile("""\b\d{5}-?\d{3}\b"""),
      Some(compile("""(\d{5})-?(\d{3})""")),
      Some(tpl("""\1-\2""")),
      None,
      minRun = 5, minDigits = 8, anchored = true),
    PatternCfg("phone",
      compile("""\b\(?\d{2}\)?\s?\d{4,5}-?\d{4}\b"""),
      Some(compile("""\(?(\d{2})\)?\s?(\d{4,5})-?(\d{4})""")),
      Some(tpl("""(\1) \2-\3""")),
      None,
      minRun = 4, minDigits = 10, anchored = true),
    PatternCfg("date",
      compile("""\b\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4}\b"""),
      Some(compile("""(\d{1,2})[\/\-\.](\d{1,2})[\/\-\.](\d{2,4})""")),
      Some(tpl("""\1/\2/\3""")),
      Some(Validators.date),
      minDigits = 4, anchored = true),
    PatternCfg("time",
      compile("""\b\d{1,2}:\d{2}(:\d{2})?\b"""),
      Some(compile("""(\d{1,2}):(\d{2})(:\d{2})?""")),
      Some(tpl("""\1:\2\3""")),
      Some(Validators.time),
      minDigits = 3, literal = ":", anchored = true),
    PatternCfg("currency",
      compile("""R\$\s?\d{1,3}(?:\.\d{3})*(?:,\d{2})?"""),
      Some(compile("""R\$\s?(\d{1,3}(?:\.\d{3})*)(?:,(\d{2}))?""")),
      Some(tpl("""R$ \1,\2""")),
      None,
      minDigits = 1, literal = "R$"),
    PatternCfg("email",
      compile("""\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"""),
      None, None, Some(Validators.email),
      literal = "@"),
    PatternCfg("url",
      compile("""https?://[^\s<>"{}|\\^`\[\]]+"""),
      None, None, None,
      literal = "://"),
    PatternCfg("processo_judicial",
      compile("""\b\d{7}-?\d{2}\.\d{4}\.\d{1}\.\d{2}\.\d{4}\b"""),
      Some(compile("""(\d{7})-?(\d{2})\.(\d{4})\.(\d{1})\.(\d{2})\.(\d{4})""")),
      Some(tpl("""\1-\2.\3.\4.\5.\6""")),
      None,
      minRun = 7, minDigits = 20, anchored = true))

  // precompiled patterns for the cleanup stages
  private val pNonWord = compile("""[^\w]""")
  private val pStartPunct = compile("""^[^\w]*""")
  private val pEndPunct = compile("""[^\w]*$""")
  // Single-char confusion probes. The reference's regexes are
  // `\b\w*X\w*\b` (digit→alpha) and `\b\d*X\d*\b` (alpha→digit); `\b`
  // can never fall INSIDE a maximal `\w` run, so a match is always a
  // COMPLETE token — "every token containing X" for the first shape,
  // "every token that is digits plus exactly one X" for the second.
  // These scanners produce the identical match list (same strings, same
  // order, same duplicates) from one [[WordRuns]] walk per probe;
  // the regex pass they replace was the single largest cost of this stage
  // (measured 0.38 s of 0.49 s per 78k bench turns — the probes run on
  // up to ~90% of turns because 'l'/'0'/'g' are common). Equality with
  // the verbatim reference patterns is pinned by KernelPropertySpec over
  // the adversarial corpus including non-ASCII digits, combining marks,
  // connector punctuation, join controls, and astral letters. `w` is an
  // ASCII char, so a char equal to it is a code point equal to it.
  private[kernel] def scanTokensContaining(text: String, w: Char): List[String] = {
    val out = ListBuffer.empty[String]
    val runs = new WordRuns(text)
    while (runs.next()) {
      var i = runs.start
      while (i < runs.end && text.charAt(i) != w) i += 1
      if (i < runs.end) out += text.substring(runs.start, runs.end)
    }
    out.toList
  }

  private[kernel] def scanDigitRunsWithOne(text: String, w: Char): List[String] = {
    val out = ListBuffer.empty[String]
    val runs = new WordRuns(text)
    while (runs.next()) {
      var ws = 0
      var digits = true
      var i = runs.start
      while (digits && i < runs.end) {
        val cp = text.codePointAt(i)
        if (cp == w) ws += 1 else digits = Character.isDigit(cp)
        i += Character.charCount(cp)
      }
      if (digits && ws == 1) out += text.substring(runs.start, runs.end)
    }
    out.toList
  }

  /** process_text (text_processor.py:233-313). Throws on empty input like
    * the reference (ZeroDivisionError analog); callers map that to an
    * error row. Use [[processSafe]] in pipelines.
    */
  def process(text0: String): KernelResult = {
    val originalText = text0
    val originalLength = pyLen(text0)
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

  /** _correct_confused_characters (text_processor.py:332-365). */
  def correctConfusedCharacters(text0: String): (String, Int) = {
    var text = text0
    var corrections = 0
    ocrCorrections.foreach { case (wrong, correct) =>
      if (wrong.length == 1 && correct.length == 1) {
        // the probe regex \b\w*X\w*\b requires the literal char X — an
        // indexOf miss proves zero matches, skipping the regex scan
        if (text.indexOf(wrong.charAt(0)) < 0) {
          // no occurrence: both probe directions are no-ops
        } else if (Character.isDigit(wrong.charAt(0)) && Character.isLetter(correct.charAt(0))) {
          val matches = scanTokensContaining(text, wrong.charAt(0))
          matches.foreach { m =>
            if (!isDigitStr(m)) {
              val nm = m.replace(wrong, correct)
              text = text.replace(m, nm)
              corrections += 1
            }
          }
        } else if (Character.isLetter(wrong.charAt(0)) && Character.isDigit(correct.charAt(0))) {
          val matches = scanDigitRunsWithOne(text, wrong.charAt(0))
          matches.foreach { m =>
            if (!isAlphaStr(m)) {
              val nm = m.replace(wrong, correct)
              text = text.replace(m, nm)
              corrections += 1
            }
          }
        }
        // NB: single-char pairs not matching either digit/alpha direction
        // are silently skipped, as in the reference.
      } else {
        if (text.contains(wrong)) {
          text = text.replace(wrong, correct)
          // reference counts on the *already replaced* text
          corrections += count(text, correct) - count(text, wrong)
        }
      }
    }
    (text, corrections)
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

  /** _detect_and_format_patterns (text_processor.py:405-436). */
  def detectAndFormatPatterns(text0: String): (String, LinkedHashMap[String, ListBuffer[String]]) = {
    var text = text0
    val patternsFound = LinkedHashMap.empty[String, ListBuffer[String]]
    // The table's digit conditions, counted once on the input by code
    // point (\d and Character.isDigit are both Unicode Nd, astral digits
    // included). They hold for the rewritten text too: formatters only
    // reinsert the matched digit groups around separators, never adding
    // digits or joining two runs, so the digit count is invariant and
    // every later run is a (possibly split) piece of an input run.
    var digitRun = 0
    var maxDigitRun = 0
    var digitCount = 0
    var i = 0
    while (i < text0.length) {
      val cp = text0.codePointAt(i)
      if (Character.isDigit(cp)) {
        digitCount += 1
        digitRun += 1
        if (digitRun > maxDigitRun) maxDigitRun = digitRun
      } else digitRun = 0
      i += Character.charCount(cp)
    }
    // digit-run anchors of the CURRENT text, recomputed lazily after a
    // formatter rewrite, since positions shift
    var runStarts: Array[Int] = null
    patternTable.foreach { cfg =>
      val feasible = maxDigitRun >= cfg.minRun && digitCount >= cfg.minDigits &&
        text.contains(cfg.literal)
      val matches =
        if (!feasible) Nil
        else if (cfg.anchored) {
          if (runStarts == null) runStarts = digitRunStarts(text)
          findAllDigitAnchored(cfg.regex, text, runStarts)
        } else findAll(cfg.regex, text)
      if (matches.nonEmpty) {
        val bucket = ListBuffer.empty[String]
        patternsFound(cfg.name) = bucket
        matches.foreach { matchStr =>
          val valid = cfg.validator.forall(v => v(matchStr))
          if (valid) {
            (cfg.formatter, cfg.format) match {
              case (Some(fmt), Some(fmtPat)) =>
                val formatted = sub(fmtPat, fmt, matchStr)
                // replace(m, m) is the identity — skip the full-text scan +
                // rebuild for already-well-formatted matches (the common
                // case: "123.456.789-09" formats to itself)
                if (formatted != matchStr) {
                  text = text.replace(matchStr, formatted)
                  runStarts = null // positions shifted — re-anchor lazily
                }
                bucket += formatted
              case _ =>
                bucket += matchStr
            }
          }
        }
      }
    }
    (text, patternsFound)
  }

  /** [[Py.findAll]] for a pattern whose every match starts at a digit-run
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
    * Equality with the generic engine is pinned by KernelPropertySpec.
    */
  private[kernel] def findAllDigitAnchored(
      p: Pattern, text: String, runStarts: Array[Int]): List[String] = {
    val out = ListBuffer.empty[String]
    val m = p.matcher(text)
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    val n = text.length
    // re.findall group semantics, exactly as Py.findAll emits them (the
    // time pattern's optional (:\d{2})? group makes findall return the
    // CAPTURE, not the whole match — a reference quirk both drivers must
    // share)
    val g = m.groupCount()
    def emit(): Unit =
      if (g == 0) out += m.group()
      else if (g == 1) out += Option(m.group(1)).getOrElse("")
      else out += (1 to g).map(i => Option(m.group(i)).getOrElse("")).mkString
    var lastEnd = 0
    var r = 0
    while (r < runStarts.length) {
      val rs = runStarts(r)
      if (rs >= lastEnd) {
        var matched = false
        if (rs - 1 >= lastEnd && text.charAt(rs - 1) == '(') {
          m.region(rs - 1, n)
          if (m.lookingAt()) { emit(); lastEnd = m.end(); matched = true }
        }
        if (!matched) {
          m.region(rs, n)
          if (m.lookingAt()) { emit(); lastEnd = m.end() }
        }
      }
      r += 1
    }
    out.toList
  }

  /** UTF-16 offset of each maximal digit run's first digit, walking by
    * code point so astral Nd digits (`\d` matches code points) start and
    * continue runs.
    */
  private[kernel] def digitRunStarts(text: String): Array[Int] = {
    val rs = Array.newBuilder[Int]
    var prevDigit = false
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val d = Character.isDigit(cp)
      if (d && !prevDigit) rs += i
      prevDigit = d
      i += Character.charCount(cp)
    }
    rs.result()
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
    * findall/sub loop by KernelPropertySpec.
    */
  def correctAbbreviations(text: String): (String, Int) = {
    final class Hit(val run: String, val repl: String, val key: Int) {
      var out: String = run
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
        if (byKey(key) == null) byKey(key) = ListBuffer.empty
        byKey(key) += h
      }
    }
    if (occurrences.isEmpty) return (text, 0)
    distinct.values.forEach { h =>
      byKey(h.key).foreach(m => h.out = replaceWordBounded(h.out, m.run, m.repl))
    }
    val sb = new java.lang.StringBuilder(text.length + 4 * occurrences.size)
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
  * by one " ". No copy is made until the output departs from the input,
  * so a pass that changes nothing returns `text` itself.
  */
private final class Rewrite(text: String) {
  private var sb: java.lang.StringBuilder = null
  private var kept = 0 // while sb == null, the output so far is text[0, kept)

  /** Appends `text[i, next)`, preceded by one " " if `space`. */
  def keep(i: Int, next: Int, space: Boolean): Unit =
    if (sb == null && (if (space) kept == i - 1 && text.charAt(kept) == ' ' else kept == i)) kept = next
    else copy(space).append(text, i, next)

  /** Appends `s`, which replaces input characters, preceded by one " " if
    * `space`.
    */
  def put(s: String, space: Boolean): Unit = copy(space).append(s)

  private def copy(space: Boolean): java.lang.StringBuilder = {
    if (sb == null) sb = new java.lang.StringBuilder(text.length + 16).append(text, 0, kept)
    if (space) sb.append(' ')
    sb
  }

  /** `substring(0, length)` is `text` itself. */
  def result: String = if (sb != null) sb.toString else text.substring(0, kept)
}
