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

  private val patterns: Seq[Pattern] =
    patternStrs.map(p => Pattern.compile(p, IFLAGS | Pattern.MULTILINE))
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

  // each pattern, and whether its scan is the '@'-anchored probe
  private val scans: Seq[(Pattern, Boolean)] =
    patterns.map(p => p -> FieldExtractor.atSignAnchored(p))

  def extract(text: String): Option[FieldSpan] = {
    scans.foreach { case (p, atSigns) =>
      val m = p.matcher(text)
      val find: () => Boolean =
        if (atSigns) { val probe = new FieldExtractor.AtSignProbe(m, text); () => probe.find() }
        else () => m.find()
      while (find()) {
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

  /** `m.find()` for an [[atSignAnchored]] pattern, tried only where a
    * match can start. The local-part run takes every char up to the first
    * '@', since '@' is not in its class, and the engine backtracks it only
    * to retry the '@', which fails; so a start in the run ending at an '@'
    * matches exactly when the first start there does, and a start in no
    * such run never matches. The leftmost match with a given '@' thus
    * starts where that run starts, but not before the previous match's
    * end, or there is none: `lookingAt` there decides. Transparent bounds
    * keep any lookaround reading the true neighbours. The run ending at a
    * later '@' starts after this one, so the '@'s are visited in the order
    * of their matches; an '@' inside the previous match has no start
    * left. Equality with `find()` is pinned by KernelPropertySpec.
    */
  private[kernel] final class AtSignProbe(m: Matcher, text: String) {
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    private var lastEnd = 0
    private var at = text.indexOf('@')

    def find(): Boolean = {
      while (at >= 0) {
        val a = at
        var s = a
        while (s > lastEnd && localChar(text.charAt(s - 1))) s -= 1
        at = text.indexOf('@', a + 1)
        if (s < a) {
          m.region(s, text.length)
          if (m.lookingAt()) {
            lastEnd = m.end()
            return true
          }
        }
      }
      false
    }
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

  private val compiled: Seq[Pattern] =
    identificationPatterns.map(p =>
      Pattern.compile(p, Py.IFLAGS | Pattern.MULTILINE))

  /** Per-pattern anchor `(lit, back)` ([[SpanTemplates.anchorCI]]): every
    * match starts at most `back` chars before an occurrence of `lit` in the
    * lowered text. ("", 0) = none provable.
    */
  private[kernel] val anchors: Array[(String, Int)] =
    identificationPatterns.map(SpanTemplates.anchorCI).toArray

  /** Fraction of identification patterns matching (templates.py:266-279).
    * `lowered` is a toLowerCase(ROOT) copy of `text` that
    * [[SpanTemplates.identify]]'s case-fold guard has validated for literal
    * anchoring, or null to run every regex's own scan. With a copy, a
    * pattern is tried with `lookingAt` only at the `back + 1` starts before
    * each occurrence of its literal — every start a match can have — instead
    * of at every position; the answer is the same either way.
    */
  private[kernel] def matchesDocument(text: String, lowered: String): Double =
    if (compiled.isEmpty) 0.0
    else {
      var hits = 0
      var i = 0
      while (i < compiled.length) {
        if (finds(i, text, lowered)) hits += 1
        i += 1
      }
      hits.toDouble / compiled.size
    }

  private def finds(i: Int, text: String, lowered: String): Boolean = {
    val (lit, back) = anchors(i)
    if (lowered == null || lit.isEmpty) return compiled(i).matcher(text).find()
    var q = lowered.indexOf(lit)
    if (q < 0) return false
    val m = compiled(i).matcher(text)
    // transparent bounds: a region start still sees its true left
    // neighbour; no anchoring bounds: a region start is not a `^`
    m.useTransparentBounds(true)
    m.useAnchoringBounds(false)
    var next = 0 // the first start not tried yet
    while (q >= 0) {
      var p = math.max(q - back, next)
      while (p <= q) {
        m.region(p, text.length)
        if (m.lookingAt()) return true
        p += 1
      }
      next = q + 1
      q = lowered.indexOf(lit, q + 1)
    }
    false
  }

  def extractFields(text: String): Seq[FieldSpan] = {
    val out = ListBuffer.empty[FieldSpan]
    fields.foreach(f => f.extract(text).foreach(out += _))
    out.toSeq
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
    def leadingRun(b: String): String = {
      val run = new StringBuilder
      var i = 0
      while (i < b.length) {
        val c = b.charAt(i)
        val lit =
          if (c == '\\' && i + 1 < b.length && !b.charAt(i + 1).isLetterOrDigit) { i += 2; b.charAt(i - 1) }
          else if (c == '\\' || ".^$[](){}|*+?".indexOf(c) >= 0) return run.toString
          else { i += 1; c }
        if (i < b.length && (b.charAt(i) == '?' || b.charAt(i) == '*' || b.startsWith("{0", i)))
          return run.toString
        run += lit
        if (i < b.length && (b.charAt(i) == '+' || b.charAt(i) == '{')) return run.toString
      }
      run.toString
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
    *
    * One lowered copy of the text feeds every template's literal anchors
    * ([[SpanTemplate.matchesDocument]]). The case-fold guard falls back to
    * each regex's own scan for the three Unicode chars whose lowering
    * diverges from the regex engine's per-char case folding against ASCII
    * literals.
    */
  def identify(text: String): Option[SpanTemplate] = {
    val lowered = Py.lower(text)
    val lw =
      if (lowered.length == text.length &&
        lowered.indexOf('ı') < 0 && lowered.indexOf('ſ') < 0) lowered
      else null
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
}
