package graft.kernel

import java.util.regex.Pattern
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

  def extract(text: String): Option[FieldSpan] = {
    patterns.foreach { p =>
      val m = p.matcher(text)
      while (m.find()) {
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

  /** Per-pattern required lowercase literal ("" = none provable): a
    * case-insensitive regex match implies the lowered text contains this
    * substring, so a `contains` miss on a pre-lowered copy skips the regex
    * scan entirely — the same necessary-condition prefilter DocType's
    * classifier uses, derived automatically by
    * [[SpanTemplates.requiredLiteralCI]].
    */
  private[kernel] val requiredLits: Array[String] =
    identificationPatterns.map(SpanTemplates.requiredLiteralCI).toArray

  /** Fraction of identification patterns matching (templates.py:266-279).
    * `lowered` is a toLowerCase(ROOT) copy of `text` that
    * [[SpanTemplates.identify]]'s case-fold guard has validated for literal
    * prefiltering, or null to run every regex unconditionally. Semantics
    * are identical either way (the literal is a necessary condition of the
    * match); only the number of regex scans changes.
    */
  private[kernel] def matchesDocument(text: String, lowered: String): Double =
    if (compiled.isEmpty) 0.0
    else {
      var hits = 0
      var i = 0
      while (i < compiled.length) {
        val lit = requiredLits(i)
        if ((lowered == null || lit.isEmpty || lowered.contains(lit)) &&
            compiled(i).matcher(text).find()) hits += 1
        i += 1
      }
      hits.toDouble / compiled.size
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

  /** Longest literal substring a CASE-INSENSITIVE match of `src` provably
    * forces into the lowered text, or "" when none can be proven.
    * Conservative single-pass parser over the regex source covering the
    * identification-pattern inventory's shapes:
    *
    *   - plain literal chars and escaped literal punct accumulate runs;
    *   - class/boundary escapes (\w \d \s \b …), '.', '^', '$' break runs;
    *   - a '?' or '*' quantifier drops its (optional) atom; '+' keeps it
    *     (x+y still forces "xy": every match ends …xy); '{m,…}' keeps one
    *     copy when m ≥ 1;
    *   - top-level alternation: the result must be forced by EVERY branch
    *     (longest branch-0 run contained in some run of each other
    *     branch, e.g. fone|telefone → "fone");
    *   - raw groups/classes/anything unrecognized ⇒ bail to "" (regexes
    *     still run, just without the skip).
    *
    * The literal is only trusted over pre-lowered text that passed
    * [[identify]]'s case-fold guard, and only when pure ASCII: for ASCII
    * targets, any char c that CI-matches letter L satisfies
    * toLowerCase(c) == L except the three guarded fold anomalies
    * (İ U+0130 — length changes on lowering; ı U+0131; ſ U+017F).
    */
  private[kernel] def requiredLiteralCI(src: String): String = {
    def branchRuns(b: String): Option[Seq[String]] = {
      val runs = ListBuffer.empty[String]
      val cur = new StringBuilder
      def flush(): Unit = { if (cur.nonEmpty) { runs += cur.toString; cur.clear() } }
      var i = 0
      // consume a quantifier following an atom; returns 0 = none,
      // 1 = keep-one ('+' or {m>=1,…}), 2 = optional ('?', '*', {0,…})
      def quant(): Int = {
        if (i >= b.length) return 0
        b.charAt(i) match {
          case '?' => i += 1; 2
          case '*' => i += 1; 2
          case '+' => i += 1; 1
          case '{' =>
            val close = b.indexOf('}', i)
            if (close < 0) { i = b.length; 2 }
            else {
              val body = b.substring(i + 1, close)
              val m = body.takeWhile(_.isDigit)
              i = close + 1
              if (i < b.length && (b.charAt(i) == '?' || b.charAt(i) == '+')) i += 1
              if (m.nonEmpty && m.toInt >= 1) 1 else 2
            }
          case _ => 0
        }
      }
      while (i < b.length) {
        val c = b.charAt(i)
        if (c == '\\') {
          if (i + 1 >= b.length) return None
          val e = b.charAt(i + 1)
          i += 2
          if ("wWdDsSbBAZzGhHvVR".indexOf(e) >= 0) { flush(); quant(); () }
          else if (e.isDigit) return None // backreference
          else quant() match {
            case 2 => flush()
            case 1 => cur += e; flush() // x+ may repeat before the next atom
            case _ => cur += e
          }
        } else if (c == '(' || c == ')' || c == '[' || c == ']') return None
        else if (c == '.') { i += 1; flush(); quant(); () }
        else if (c == '^' || c == '$') { i += 1; flush() }
        else if (c == '?' || c == '*' || c == '+' || c == '{') return None // orphan
        else {
          i += 1
          quant() match {
            case 2 => flush()
            case 1 => cur += c; flush()
            case _ => cur += c
          }
        }
      }
      flush()
      Some(runs.toSeq)
    }
    // split top-level alternation ('\|' never splits; groups already bail)
    val branches = ListBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < src.length) {
      val c = src.charAt(i)
      if (c == '\\' && i + 1 < src.length) { cur += c; cur += src.charAt(i + 1); i += 2 }
      else if (c == '|') { branches += cur.toString; cur.clear(); i += 1 }
      else { cur += c; i += 1 }
    }
    branches += cur.toString
    val allRuns = branches.map(branchRuns)
    if (allRuns.exists(r => r.isEmpty || r.get.isEmpty)) return ""
    // candidates: every substring of branch-0's runs, longest first — a
    // literal forced by all branches need not be a whole run of any
    // (cel\.|celular forces "cel", a proper substring of both)
    val rest = allRuns.tail.map(_.get)
    val chosen = allRuns.head.get
      .flatMap(r => for {
        s <- 0 until r.length; e <- (s + 1) to r.length
      } yield r.substring(s, e))
      .distinct.sortBy(-_.length)
      .find(lit => rest.forall(_.exists(_.contains(lit))))
      .getOrElse("")
    val lowered = Py.lower(chosen)
    if (lowered.forall(ch => ch < 128)) lowered else ""
  }

  /** best template with confidence >= its threshold, strictly improving —
    * TemplateManager.identify_document_type (templates.py:578-595).
    *
    * One lowered copy of the text feeds every template's literal
    * prefilter (the per-turn profile put the unfiltered 13-regex scan at
    * ~30% of processTurn; DocType's prefiltered 21-regex classify runs
    * 10× faster). The case-fold guard falls back to unfiltered matching
    * for the three Unicode chars whose lowering diverges from the regex
    * engine's per-char case folding against ASCII literals.
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
