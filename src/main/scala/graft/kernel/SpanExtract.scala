package graft.kernel

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable.ListBuffer

/** An extracted field with its character-offset span into the cleaned text.
  * Mirrors FieldExtractor.extract's return shape
  * (reference src/automation/templates.py:69-97): value, confidence,
  * position = match.span(), raw_match.
  */
final case class FieldSpan(
    name: String, value: String, confidence: Double, start: Int, end: Int,
    raw: String)

/** Field types (templates.py:34-44) — only the processing-relevant subset. */
object FieldType extends Enumeration {
  val Text, Number, Currency, Date, Email, Phone = Value
}

/** Port of `FieldExtractor` (templates.py:47-197): first valid match of any
  * pattern wins; type-specific value normalization; confidence = 0.8 with
  * length and ±50-char context-keyword adjustments.
  */
final class FieldExtractor(
    val name: String,
    val fieldType: FieldType.Value,
    patternStrs: Seq[String],
    validationRegex: Option[String] = None) {
  import Py._

  // each pattern with the scan that finds its matches
  private[kernel] val scans: Seq[Scan] =
    patternStrs.map(p => new Scan(Pattern.compile(p, IFLAGS | Pattern.MULTILINE)))
  private val validation: Option[Pattern] =
    validationRegex.map(r => Pattern.compile(r))

  // type-specific helpers (templates.py:99-152)
  private val pNonNumeric = compile("""[^\d.,]""")
  private val pAmount = compile("""[\d.,]+""")
  private val pCurrencySym = compile("""[R$€£¥₹]+|USD|EUR|BRL|GBP""")
  private val pDate1 = compile("""(\d{1,2})[\/\-.](\d{1,2})[\/\-.](\d{2,4})""")
  private val pDate2 = compile("""(\d{2,4})[\/\-.](\d{1,2})[\/\-.](\d{1,2})""")
  private val pEmail = compile("""\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b""")
  private val pPhoneClean = compile("""[^\d+\-\(\)\s]""")

  private val contextKeywords: Seq[String] = fieldType match {
    case FieldType.Currency => Seq("total", "amount", "price", "valor", "preço")
    case FieldType.Date     => Seq("date", "data", "vencimento", "due")
    case FieldType.Email    => Seq("email", "e-mail", "contact", "contato")
    case FieldType.Phone    => Seq("phone", "telefone", "tel", "celular")
    case _                  => Seq.empty
  }

  /** The first valid match. `lowered` is the text's lowered copy that
    * passed [[SpanTemplates.identify]]'s case-fold guard, or null
    * ([[Scan.cursor]]).
    */
  def extract(text: String, lowered: String): Option[FieldSpan] = {
    scans.foreach { scan =>
      val c = scan.cursor(text, lowered)
      while (c.find()) {
        val m = c.m
        processMatch(m).foreach { value =>
          if (value.nonEmpty && validate(value)) {
            return Some(FieldSpan(name, value,
              calculateConfidence(m.group(), m.start(), m.end(), text),
              m.start(), m.end(), m.group()))
          }
        }
      }
    }
    None
  }

  private def processMatch(m: java.util.regex.Matcher): Option[String] = {
    val raw = if (m.groupCount() > 0) Option(m.group(1)).getOrElse(m.group())
              else m.group()
    val value = strip(raw)
    fieldType match {
      case FieldType.Number =>
        val numeric = subLiteral(pNonNumeric, "", value).replace(',', '.')
        if (numeric.nonEmpty) Some(numeric) else None
      case FieldType.Currency =>
        search(pAmount, value) match {
          case Some(am) =>
            val amount = am.group().replace(',', '.')
            val currency = search(pCurrencySym, value).map(_.group()).getOrElse("")
            Some(strip(s"$amount $currency"))
          case None => None
        }
      case FieldType.Date =>
        search(pDate1, value).map(_.group())
          .orElse(search(pDate2, value).map(_.group()))
          .orElse(Some(value))
      case FieldType.Email =>
        search(pEmail, value).map(_.group())
      case FieldType.Phone =>
        val phone = strip(subLiteral(pPhoneClean, "", value))
        if (phone.nonEmpty) Some(phone) else None
      case _ => Some(value)
    }
  }

  private def validate(value: String): Boolean =
    validation.forall(p => p.matcher(value).lookingAt())

  /** templates.py:167-197 */
  private def calculateConfidence(
      group: String, start: Int, end: Int, fullText: String): Double = {
    var conf = 0.8
    val len = pyLen(group)
    if (len > 50) conf += 0.1
    else if (len < 5) conf -= 0.1
    val ctxStart = math.max(0, start - 50)
    val ctxEnd = math.min(fullText.length, end + 50)
    val context = lower(fullText.substring(ctxStart, ctxEnd))
    if (contextKeywords.exists(context.contains)) conf += 0.05
    math.min(1.0, math.max(0.0, conf))
  }
}

object FieldExtractor {

  // a match of a pattern opening with this consumes a run of e-mail
  // local-part chars, then an '@'
  private val LocalPartOpen = "([a-zA-Z0-9._%+-]+@"

  /** Whether every match of `p` starts in the run of [[localChar]]s that
    * ends at an '@', so [[AtSignProbe]] finds what `find()` does: `p` is
    * case-insensitive (which [[localChar]] assumes), opens with
    * `LocalPartOpen` and holds no back-reference, so nothing after the
    * '@' depends on where the run was entered.
    */
  private[kernel] def atSignAnchored(p: Pattern): Boolean =
    (p.flags & Py.IFLAGS) == Py.IFLAGS && p.pattern.startsWith(LocalPartOpen) &&
      !p.pattern.matches("""(?s).*\\[1-9k].*""")

  /** `[a-zA-Z0-9._%+-]` under [[Py.IFLAGS]]: the ASCII members, and the
    * four code points whose case fold is an ASCII letter (İ ı ſ K).
    * KernelPropertySpec checks it against the class on every code point.
    */
  private[kernel] def localChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-' ||
      c == '\u0130' || c == '\u0131' || c == '\u017F' || c == '\u212A'
}

/** One template pattern with the scan its matches are found by: `find()`,
  * unless a probe proves where every match starts and tries `lookingAt`
  * only there —
  *
  *   - an [[FieldExtractor.atSignAnchored]] pattern at the local-part run
  *     before each '@' ([[AtSignProbe]]);
  *   - a pattern with a [[SpanTemplates.anchorCI]] literal at the starts
  *     before each occurrence of it ([[LiteralProbe]]);
  *   - a [[SuffixRuns]] pattern at the first start of each class run that
  *     holds a suffix ([[SuffixRunProbe]]).
  *
  * The last two read the lowered copy that passed
  * [[SpanTemplates.identify]]'s case-fold guard; without one they fall back
  * to `find()`.
  */
private[kernel] final class Scan(val pattern: Pattern) {
  private val caseInsensitive = (pattern.flags & Py.IFLAGS) == Py.IFLAGS
  private val atSigns = FieldExtractor.atSignAnchored(pattern)

  /** `(lit, back)` of [[SpanTemplates.anchorCI]]; ("", 0) for none. */
  val anchor: (String, Int) =
    if (caseInsensitive) SpanTemplates.anchorCI(pattern.pattern) else ("", 0)
  private val suffixRuns: Option[SuffixRuns] =
    if (caseInsensitive) SuffixRuns.of(pattern) else None

  /** Whether `pattern` matches in `text`; `lowered` as for [[cursor]]. */
  def finds(text: String, lowered: String): Boolean = cursor(text, lowered).find()

  /** `pattern`'s matches in `text`, in the order `find()` gives them.
    * `lowered` is `text`'s guarded lowered copy, or null.
    */
  def cursor(text: String, lowered: String): Cursor =
    if (atSigns) new AtSignProbe(pattern, text)
    else if (lowered == null) new FindCursor(pattern, text)
    else if (anchor._1.nonEmpty) new LiteralProbe(pattern, text, lowered, anchor._1, anchor._2)
    else suffixRuns match {
      case Some(sr) => new SuffixRunProbe(pattern, text, lowered, sr)
      case None => new FindCursor(pattern, text)
    }
}

/** A walk over a pattern's matches in a text: each `find()` that returns
  * true leaves the next match in `m`. The matcher is made at the first
  * try, so a probe that finds no place to try makes none. A probe's
  * matcher has transparent bounds, so a region start still sees its true
  * left neighbour, and no anchoring bounds, so a region start is not a
  * `^`.
  */
private[kernel] abstract class Cursor(pattern: Pattern, text: String) {
  private var matcher: Matcher = null

  def m: Matcher = {
    if (matcher == null) {
      matcher = pattern.matcher(text)
      matcher.useTransparentBounds(true)
      matcher.useAnchoringBounds(false)
    }
    matcher
  }

  def find(): Boolean

  /** Whether a match starts at `s`. */
  protected def matchesAt(s: Int): Boolean = {
    m.region(s, text.length)
    m.lookingAt()
  }
}

private[kernel] final class FindCursor(pattern: Pattern, text: String) extends Cursor(pattern, text) {
  def find(): Boolean = m.find()
}

/** `find()` for an [[FieldExtractor.atSignAnchored]] pattern. The
  * local-part run takes every char up to the first '@', since '@' is not
  * in its class, and the engine backtracks it only to retry the '@', which
  * fails; so a start in the run ending at an '@' matches exactly when the
  * first start there does, and a start in no such run never matches. The
  * leftmost match with a given '@' thus starts where that run starts, but
  * not before the previous match's end, or there is none: `lookingAt`
  * there decides. The run ending at a later '@' starts after this one, so
  * the '@'s are visited in the order of their matches; an '@' inside the
  * previous match has no start left. Equality with `find()` is pinned by
  * KernelPropertySpec.
  */
private[kernel] final class AtSignProbe(pattern: Pattern, text: String) extends Cursor(pattern, text) {
  private var lastEnd = 0
  private var at = text.indexOf('@')

  def find(): Boolean = {
    while (at >= 0) {
      val a = at
      var s = a
      while (s > lastEnd && FieldExtractor.localChar(text.charAt(s - 1))) s -= 1
      at = text.indexOf('@', a + 1)
      if (s < a && matchesAt(s)) {
        lastEnd = m.end()
        return true
      }
    }
    false
  }
}

/** `find()` for a case-insensitive pattern whose every match starts at most
  * `back` chars before an occurrence of the ASCII literal `lit`
  * ([[SpanTemplates.anchorCI]]), found in the guarded `lowered` copy: each
  * start in `[q - back, q]` of each occurrence `q`, ascending, once, and
  * none before the previous match's end. Equality with `find()` is pinned
  * by KernelPropertySpec.
  */
private[kernel] final class LiteralProbe(
    pattern: Pattern, text: String, lowered: String, lit: String, back: Int)
  extends Cursor(pattern, text) {
  private var next = 0 // the first start not tried yet
  private var q = lowered.indexOf(lit)

  def find(): Boolean = {
    while (q >= 0) {
      var s = math.max(q - back, next)
      while (s <= q) {
        if (matchesAt(s)) {
          next = math.max(m.end(), s + 1)
          if (q < next) q = lowered.indexOf(lit, next)
          return true
        }
        s += 1
      }
      next = q + 1
      q = lowered.indexOf(lit, q + 1)
    }
    false
  }
}

/** A case-insensitive pattern shaped `([S][C]+(?:A1|A2|…)T)`: a char of
  * class `S`, a run of class `C` (`S` a subset of `C`), one of the literal
  * suffixes `Ai`, and a tail `T` that is empty or `\.?`, as Business
  * Card's `company`. Both classes are read off the pattern's own engine,
  * on every BMP char; astral code points are in neither (pinned by
  * KernelPropertySpec), so a char walk sees the engine's runs.
  */
private[kernel] final class SuffixRuns(start: Array[Boolean], run: Array[Boolean], val suffixes: Array[String]) {
  def starts(c: Char): Boolean = start(c)
  def inRun(c: Char): Boolean = run(c)
}

private[kernel] object SuffixRuns {
  private val Shape = """\(\[([^\]]+)\]\[([^\]]+)\]\+\(\?:([^()]+)\)(\\\.\?)?\)""".r

  /** `p`'s classes and lowered suffixes, when `p` has the shape. */
  def of(p: Pattern): Option[SuffixRuns] = p.pattern match {
    case Shape(s, c, alts, _) =>
      val suffixes = alts.split('|').map(literal)
      if (suffixes.exists(l => l == null || l.isEmpty || !l.forall(_ < 128))) None
      else {
        val (start, run) = (members(s"[$s]", p.flags), members(s"[$c]", p.flags))
        if (start.indices.exists(i => start(i) && !run(i))) None
        else Some(new SuffixRuns(start, run, suffixes.map(Py.lower)))
      }
    case _ => None
  }

  /** `src` with its escaped punctuation unescaped, or null if it holds any
    * other regex syntax.
    */
  private def literal(src: String): String = {
    val (lit, end) = SpanTemplates.literalPrefix(src)
    if (end == src.length) lit else null
  }

  /** The BMP chars the class `cls` matches under `flags`. */
  private def members(cls: String, flags: Int): Array[Boolean] = {
    val m = Pattern.compile(cls, flags).matcher("")
    Array.tabulate(0x10000)(c => m.reset(String.valueOf(c.toChar)).matches())
  }
}

/** `find()` for a [[SuffixRuns]] pattern. From a start `s` the `C` run
  * takes every char up to the end `r` of the maximal `C` run holding `s`
  * (`S` is a subset of `C`), and gives them back one by one looking for a
  * suffix: a match from `s` is there exactly when a suffix occurs at some
  * `k` in `[s + 2, r]`, which holds for every earlier start in the run if
  * it holds for `s`. So the leftmost match in a run, if any, starts at its
  * first `S` char, and a run whose first start fails holds none. A suffix
  * at `k` can only serve the run holding `k - 1`, so the runs tried are
  * those, found from each suffix occurrence in the guarded `lowered` copy,
  * each once. After a match no later suffix sits in its run, since the
  * engine took the last one. Equality with `find()` is pinned by
  * KernelPropertySpec.
  */
private[kernel] final class SuffixRunProbe(pattern: Pattern, text: String, lowered: String, sr: SuffixRuns)
  extends Cursor(pattern, text) {
  private val suffixes = sr.suffixes
  // each suffix's next occurrence at or after `from` (Int.MaxValue: none)
  private val next = Array.fill(suffixes.length)(-1)
  private var from = 0 // no match starts, and no untried run ends, before this

  private def nextOccurrence(): Int = {
    var best = Int.MaxValue
    var i = 0
    while (i < suffixes.length) {
      if (next(i) < from) {
        val q = lowered.indexOf(suffixes(i), from)
        next(i) = if (q < 0) Int.MaxValue else q
      }
      best = math.min(best, next(i))
      i += 1
    }
    best
  }

  def find(): Boolean = {
    while (from <= text.length) {
      val k = nextOccurrence()
      if (k == Int.MaxValue) return false
      // the run [a, r) holding k - 1 (or starting at k, when k - 1 is no
      // member or is before `from`)
      var a = k
      while (a > from && sr.inRun(text.charAt(a - 1))) a -= 1
      var r = k
      while (r < text.length && sr.inRun(text.charAt(r))) r += 1
      var s = a
      while (s < r && !sr.starts(text.charAt(s))) s += 1
      from = r + 1
      if (s < r && matchesAt(s)) {
        from = math.max(from, m.end())
        return true
      }
    }
    false
  }
}

/** A document template: identification patterns + field extractors.
  * Port of `DocumentTemplate` (templates.py:226-298) with the three
  * built-ins from `TemplateManager._load_builtin_templates`
  * (templates.py:376-526).
  */
final class SpanTemplate(
    val name: String,
    identificationPatterns: Seq[String],
    val fields: Seq[FieldExtractor],
    val confidenceThreshold: Double = 0.8) {

  private[kernel] val scans: Array[Scan] =
    identificationPatterns.map(p => new Scan(Pattern.compile(p, Py.IFLAGS | Pattern.MULTILINE))).toArray

  /** Fraction of identification patterns matching (templates.py:266-279).
    * `lowered` is a toLowerCase(ROOT) copy of `text` that
    * [[SpanTemplates.identify]]'s case-fold guard has validated for literal
    * anchoring, or null to run every regex's own scan. With a copy, a
    * pattern is tried with `lookingAt` only at the `back + 1` starts before
    * each occurrence of its literal — every start a match can have — instead
    * of at every position; the answer is the same either way.
    */
  private[kernel] def matchesDocument(text: String, lowered: String): Double =
    if (scans.isEmpty) 0.0
    else scans.count(_.finds(text, lowered)).toDouble / scans.length

  /** The fields found, each its extractor's first valid match. */
  def extractFields(text: String): Seq[FieldSpan] = extractFields(text, Py.lower(text))

  /** [[extractFields]] given `lowered`, `Py.lower(text)`. */
  def extractFields(text: String, lowered: String): Seq[FieldSpan] = {
    val lw = SpanTemplates.guarded(text, lowered)
    fields.flatMap(_.extract(text, lw))
  }
}

object SpanTemplates {
  import FieldType._

  val invoice = new SpanTemplate(
    "Brazilian Invoice",
    Seq("""nota\s+fiscal""", """nfe""", """cnpj""", """valor\s+total""",
      """fatura"""),
    Seq(
      new FieldExtractor("invoice_number", Text, Seq(
        """n[úu]mero\s*:?\s*(\d+)""",
        """nf\s*:?\s*(\d+)""",
        """nota\s+fiscal\s*:?\s*(\d+)""")),
      new FieldExtractor("total_amount", Currency, Seq(
        """total\s*:?\s*(r?\$?\s*[\d.,]+)""",
        """valor\s+total\s*:?\s*(r?\$?\s*[\d.,]+)""")),
      new FieldExtractor("issue_date", Date, Seq(
        """data\s+de\s+emiss[ãa]o\s*:?\s*(\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4})""",
        """emitida\s+em\s*:?\s*(\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4})""")),
      new FieldExtractor("cnpj", Text, Seq(
        """cnpj\s*:?\s*(\d{2}\.?\d{3}\.?\d{3}\/?\d{4}\-?\d{2})"""),
        validationRegex = Some("""\d{2}\.?\d{3}\.?\d{3}\/?\d{4}\-?\d{2}"""))))

  val businessCard = new SpanTemplate(
    "Business Card",
    Seq("""@\w+\.\w+""", """\(\d{2}\)\s*\d{4,5}\-?\d{4}""", """cel\.|celular""",
      """fone|telefone"""),
    Seq(
      new FieldExtractor("name", Text, Seq(
        """^([A-Z][a-z]+\s+[A-Z][a-z]+.*?)$""")),
      new FieldExtractor("email", Email, Seq(
        """([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})""")),
      new FieldExtractor("phone", Phone, Seq(
        """(\(\d{2}\)\s*\d{4,5}\-?\d{4})""",
        """(\d{2}\s*\d{4,5}\-?\d{4})""")),
      new FieldExtractor("company", Text, Seq(
        """([A-Z][a-zA-Z\s&]+(?:Ltda|S\.A\.|Inc|Corp)\.?)"""))))

  val receipt = new SpanTemplate(
    "Receipt",
    Seq("""cupom\s+fiscal""", """recibo""", """comprovante""",
      """total\s+pago"""),
    Seq(
      new FieldExtractor("total_paid", Currency, Seq(
        """total\s*:?\s*(r?\$?\s*[\d.,]+)""",
        """pago\s*:?\s*(r?\$?\s*[\d.,]+)""")),
      new FieldExtractor("establishment", Text, Seq(
        """^([A-Z\s&]+)$""")),
      new FieldExtractor("date_time", Date, Seq(
        """(\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4}\s+\d{1,2}:\d{2})"""))))

  /** registration order matters for tie-breaks (templates.py:521-524) */
  val all: Seq[SpanTemplate] = Seq(invoice, businessCard, receipt)

  /** The literal that the regex source `src` opens with: its plain chars
    * and escaped punctuation, unescaped, up to the first other syntax, and
    * the offset in `src` where that syntax (or the end) is.
    */
  private[kernel] def literalPrefix(src: String): (String, Int) = {
    val out = new StringBuilder
    var i = 0
    while (i < src.length) {
      val c = src.charAt(i)
      if (c == '\\' && i + 1 < src.length && !src.charAt(i + 1).isLetterOrDigit) { out += src.charAt(i + 1); i += 2 }
      else if (c == '\\' || ".^$[](){}|*+?".indexOf(c) >= 0) return (out.toString, i)
      else { out += c; i += 1 }
    }
    (out.toString, i)
  }

  /** `(lit, back)` for a CASE-INSENSITIVE pattern `src`: every match
    * starts at most `back` chars before an occurrence of the lowercase ASCII
    * literal `lit`, or ("", 0) when none can be proven.
    *
    * Each top-level branch contributes its leading literal run: plain
    * chars and escaped punctuation up to the first class escape, `.`,
    * anchor, group, class or alternation, where a char made optional by
    * `?`, `*` or `{0,…}` is left out and one under `+` or `{m≥1,…}` ends the
    * run. `lit` is the longest substring of branch 0's run found in every
    * branch's run, and `back` the largest offset at which it is found
    * (`fone|telefone` → ("fone", 4), `cel\.|celular` → ("cel", 0)).
    *
    * The literal is only trusted over pre-lowered text that passed
    * [[identify]]'s case-fold guard, and only when pure ASCII: for ASCII
    * targets, any char c that CI-matches letter L satisfies
    * toLowerCase(c) == L except the three guarded fold anomalies
    * (İ U+0130 — length changes on lowering; ı U+0131; ſ U+017F).
    */
  private[kernel] def anchorCI(src: String): (String, Int) = {
    // the literal prefix, without its last char when a quantifier makes
    // that char optional
    def leadingRun(b: String): String = {
      val (lit, end) = literalPrefix(b)
      if (end < b.length && (b.charAt(end) == '?' || b.charAt(end) == '*' || b.startsWith("{0", end)))
        lit.dropRight(1)
      else lit
    }
    // top-level branches; a '|' inside a group or class is left to the
    // group's own bail-out in leadingRun
    val branches = ListBuffer.empty[String]
    var depth = 0
    var from = 0
    var i = 0
    while (i < src.length) {
      src.charAt(i) match {
        case '\\' => i += 1
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case '|' if depth == 0 => branches += src.substring(from, i); from = i + 1
        case _ =>
      }
      i += 1
    }
    branches += src.substring(from)
    val runs = branches.map(b => Py.lower(leadingRun(b)))
    val first = runs.head
    val lit = (first.length to 1 by -1).iterator
      .flatMap(len => (0 to first.length - len).iterator.map(s => first.substring(s, s + len)))
      .find(l => runs.forall(_.contains(l)))
      .getOrElse("")
    if (lit.isEmpty || !lit.forall(_ < 128)) ("", 0)
    else (lit, runs.map(_.indexOf(lit)).max)
  }

  /** best template with confidence >= its threshold, strictly improving —
    * TemplateManager.identify_document_type (templates.py:578-595).
    */
  def identify(text: String): Option[SpanTemplate] = identify(text, Py.lower(text))

  /** [[identify]] given `lowered`, `Py.lower(text)`. One lowered copy of
    * the text feeds every template's literal anchors
    * ([[SpanTemplate.matchesDocument]]), and the identified template's
    * field scans ([[SpanTemplate.extractFields]]).
    */
  def identify(text: String, lowered: String): Option[SpanTemplate] = {
    val lw = guarded(text, lowered)
    var best: Option[SpanTemplate] = None
    var bestConf = 0.0
    all.foreach { t =>
      val c = t.matchesDocument(text, lw)
      if (c > bestConf && c >= t.confidenceThreshold) {
        bestConf = c
        best = Some(t)
      }
    }
    best
  }

  /** `lowered` if literal probes may read it in place of `text`, else
    * null. The case-fold guard: the three Unicode chars whose lowering
    * diverges from the regex engine's per-char case folding against ASCII
    * literals (İ, which lowers to two chars, ı and ſ) send every pattern to
    * its own scan.
    */
  private[kernel] def guarded(text: String, lowered: String): String =
    if (lowered.length == text.length &&
      lowered.indexOf('ı') < 0 && lowered.indexOf('ſ') < 0) lowered
    else null
}
