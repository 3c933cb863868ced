package graft.kernel

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable.ListBuffer

/** Python-`re`/`str` compatible primitives.
  *
  * The reference kernel (/root/reference/src/utils/text_processor.py) is
  * specified in terms of CPython string/regex semantics; per-turn text
  * equality (the north rule) requires reproducing those semantics exactly on
  * the JVM. Differences papered over here:
  *   - `\w`/`\b`/`\s` are Unicode-aware in Python 3 → compile with
  *     UNICODE_CHARACTER_CLASS (+ UNICODE_CASE for IGNORECASE).
  *   - `re.findall` returns group 1 (or "" when unmatched) when the pattern
  *     has exactly one group, tuples joined by the caller for >1.
  *   - `re.sub` substitutes "" for optional groups that did not participate.
  *   - `str.strip`/`str.split()` use Python's `str.isspace` set (includes
  *     NBSP, FS..US), not `Character.isWhitespace`.
  *   - `str.istitle`/`isupper`/`capitalize` follow CPython definitions.
  */
object Py {

  val UFLAGS: Int = Pattern.UNICODE_CHARACTER_CLASS
  val IFLAGS: Int =
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS

  def compile(regex: String): Pattern = Pattern.compile(regex, UFLAGS)
  def compileI(regex: String): Pattern = Pattern.compile(regex, IFLAGS)

  /** Python str.isspace() — true for Unicode space separators plus the
    * control-ish whitespace CPython recognizes (\t\n\v\f\r FS GS RS US NEL).
    */
  def isPySpace(c: Char): Boolean =
    if (c > ' ' && c < '\u0085') false // printable ASCII and C1 below NEL
    else if (c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r' ||
        (c >= '\u001c' && c <= '\u001f') || c == '\u0085') true
    else {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
      t == Character.PARAGRAPH_SEPARATOR
    }

  /** Python str.strip() */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPySpace(s.charAt(i))) i += 1
    while (j > i && isPySpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** Python str.split() — split on whitespace runs, dropping empties. */
  def splitWs(s: String): Array[String] = {
    val out = ListBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isPySpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isPySpace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** Python str.split(sep) — keeps empty fields. */
  def splitOn(s: String, sep: Char): Array[String] = {
    val out = ListBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == sep) { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    out += s.substring(start)
    out.toArray
  }

  /** Python str.count(sub) — non-overlapping occurrences. */
  def count(s: String, sub: String): Int = {
    if (sub.isEmpty) return s.length + 1
    var c = 0
    var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + sub.length) }
    c
  }

  /** Python str.isdigit() — non-empty, all digit chars. */
  def isDigitStr(s: String): Boolean =
    s.nonEmpty && s.forall(Character.isDigit)

  /** Python str.isalpha() */
  def isAlphaStr(s: String): Boolean =
    s.nonEmpty && s.forall(Character.isLetter)

  private def isCased(c: Char): Boolean =
    Character.isUpperCase(c) || Character.isLowerCase(c) ||
      Character.getType(c) == Character.TITLECASE_LETTER

  /** Python str.isupper() — all cased chars UPPERCASE (a titlecase char
    * like ǅ is cased but not uppercase, so its presence returns false).
    */
  def isUpperStr(s: String): Boolean = {
    var anyCased = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLowerCase(c) ||
        Character.getType(c) == Character.TITLECASE_LETTER) return false
      if (isCased(c)) anyCased = true
      i += 1
    }
    anyCased
  }

  /** Python str.istitle() */
  def isTitleStr(s: String): Boolean = {
    var anyCased = false
    var prevCased = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val upperOrTitle =
        Character.isUpperCase(c) || Character.getType(c) == Character.TITLECASE_LETTER
      if (upperOrTitle) {
        if (prevCased) return false
        anyCased = true
        prevCased = true
      } else if (Character.isLowerCase(c)) {
        if (!prevCased) return false
        anyCased = true
        prevCased = true
      } else {
        prevCased = false
      }
      i += 1
    }
    anyCased
  }

  /** Python str.capitalize() — first char titlecased, rest lowered. */
  def capitalize(s: String): String =
    if (s.isEmpty) s
    else s"${Character.toTitleCase(s.charAt(0))}${s.substring(1).toLowerCase(java.util.Locale.ROOT)}"

  def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
  def upper(s: String): String = s.toUpperCase(java.util.Locale.ROOT)

  /** Java regex `\w` under UNICODE_CHARACTER_CLASS, per code point —
    * [\p{Alpha}\p{gc=Mn}\p{gc=Me}\p{gc=Mc}\p{Digit}\p{gc=Pc}\p{IsJoin_Control}]
    * (Pattern javadoc table). Used by the kernel's hand-rolled token
    * scanners that replace whole-token probe regexes; the property suite
    * pins scanner-vs-regex equality, so a divergence from the engine's
    * `\w` fails loudly there.
    */
  def isUWordCp(cp: Int): Boolean =
    if (cp < 256) uWordLatin1(cp) else uWordFormula(cp)

  private[kernel] def uWordFormula(cp: Int): Boolean =
    Character.isAlphabetic(cp) || Character.isDigit(cp) || {
      val t = Character.getType(cp)
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
      t == Character.COMBINING_SPACING_MARK ||
      t == Character.CONNECTOR_PUNCTUATION
    } || cp == 0x200C || cp == 0x200D // ZWNJ/ZWJ = Join_Control

  // Latin-1 table for the scanners' hot loops (accented letters are common
  // in Portuguese text), derived from the same formula, never transcribed
  private[kernel] val uWordLatin1: Array[Boolean] = Array.tabulate(256)(uWordFormula)

  /** The item `re.findall` returns for `m`'s current match: 0 groups →
    * whole match; 1 group → that group ("" when it did not participate);
    * n groups → all groups concatenated (the reference only ever joins
    * tuples, text_processor.py:419-420).
    */
  private[kernel] def findallItem(m: Matcher): String = {
    val g = m.groupCount()
    if (g == 0) m.group()
    else if (g == 1) Option(m.group(1)).getOrElse("")
    else (1 to g).map(i => Option(m.group(i)).getOrElse("")).mkString
  }

  /** A re.sub replacement template: literal pieces and \N group refs. */
  sealed trait Tpl
  final case class Lit(s: String) extends Tpl
  final case class Grp(i: Int) extends Tpl

  /** Parse a Python replacement template like "\\1.\\2-\\3" (raw string form
    * `\1.\2-\3`). Only `\N` escapes are supported — all the reference uses.
    */
  def tpl(raw: String): Seq[Tpl] = {
    val out = ListBuffer.empty[Tpl]
    val lit = new StringBuilder
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\' && i + 1 < raw.length && raw.charAt(i + 1).isDigit) {
        if (lit.nonEmpty) { out += Lit(lit.toString); lit.clear() }
        out += Grp(raw.charAt(i + 1) - '0')
        i += 2
      } else { lit += c; i += 1 }
    }
    if (lit.nonEmpty) out += Lit(lit.toString)
    out.toSeq
  }

  /** re.sub(pattern, template, s) with Python's unmatched-group→"" rule. */
  def sub(p: Pattern, template: Seq[Tpl], s: String): String = {
    val m = p.matcher(s)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(s, last, m.start())
      template.foreach {
        case Lit(l) => sb.append(l)
        case Grp(i) => sb.append(Option(m.group(i)).getOrElse(""))
      }
      last = m.end()
      // python advances by one on empty matches; none of our patterns can
      // match empty, but guard anyway
      if (m.end() == m.start()) {
        if (last < s.length) { sb.append(s.charAt(last)); last += 1 }
        else return sb.toString
      }
    }
    sb.append(s, last, s.length)
    sb.toString
  }

  def sub(p: Pattern, template: String, s: String): String = sub(p, tpl(template), s)

  /** re.sub with a literal (escape-free) replacement string. */
  def subLiteral(p: Pattern, replacement: String, s: String): String =
    sub(p, Seq(Lit(replacement)), s)

  /** re.match → anchored-at-start find. */
  def reMatch(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.lookingAt()) Some(m) else None
  }

  /** re.search */
  def search(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.find()) Some(m) else None
  }

  /** Python len() — counts code points, not UTF-16 units. */
  def pyLen(s: String): Int = s.codePointCount(0, s.length)
}
