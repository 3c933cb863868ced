package graft.kernel

/** Per-block content classifier.
  *
  * Port of `XMLOutputGenerator._detectar_tipo_documento`
  * (reference src/utils/xml_output_generator.py:66-119): count regex hits
  * per document-type pattern family over the lowercased text; the
  * best-scoring family wins if it has >= 2 hits, else `documento_generico`.
  * Ties break by family order (Python dict insertion order).
  */
object DocType {
  import Py._

  /** Pattern sources per family, verbatim from the reference. */
  private[kernel] val families: Seq[(String, Seq[String])] = Seq(
    "manifestacao_processual" -> Seq(
      """manifestação""",
      """excelentíssimo""",
      """meritíssimo""",
      """processo.*n[uú]mero""",
      """requerente""",
      """requerido""",
      """vara.*cível""",
      """tribunal.*justiça"""),
    "relatorio_administrador" -> Seq(
      """relatório.*administrador""",
      """recuperação.*judicial""",
      """administrador.*judicial""",
      """quadro.*credores""",
      """passivo.*ativo""",
      """oab.*\d+""",
      """irresignação"""),
    "quadro_credores" -> Seq(
      """quadro.*geral.*credores""",
      """classificação.*credor""",
      """garantia.*real""",
      """quirografário""",
      """trabalhista""",
      """valor.*crédito"""))

  val Generic = "documento_generico"

  /** One `.*`-separated piece of a pattern: a set of equal-length literal
    * alternatives (a `[..]` class expands to one literal per member), or
    * `\d+`, which only the last piece may be.
    */
  private final class Segment(val alts: Array[String], val digits: Boolean) {
    val length: Int = if (digits) 1 else alts(0).length

    def occursIn(text: String): Boolean =
      if (digits) text.codePoints.anyMatch(cp => Character.isDigit(cp))
      else alts.exists(text.contains(_))
  }

  private def segment(src: String): Segment =
    if (src == """\d+""") new Segment(Array.empty, digits = true)
    else {
      var alts = Seq("")
      var i = 0
      while (i < src.length) {
        val members =
          if (src.charAt(i) == '[') {
            val close = src.indexOf(']', i)
            val m = src.substring(i + 1, close)
            i = close + 1
            m.toSeq
          } else { i += 1; Seq(src.charAt(i - 1)) }
        require(members.forall(c => Character.isLetter(c) || c == ' '), s"not a literal piece: $src")
        alts = for (a <- alts; c <- members) yield a + c
      }
      new Segment(alts.toArray, digits = false)
    }

  private val familySegments: Seq[(String, Seq[Array[Segment]])] =
    families.map { case (name, srcs) =>
      name -> srcs.map { src =>
        val segs = src.split("""\.\*""", -1).map(segment)
        require(segs.init.forall(!_.digits), s"\\d+ before the last piece in $src")
        segs
      }
    }

  /** Java's `.` stops at these, so `s1.*s2` matches within one line. */
  private def isLineEnd(c: Char): Boolean =
    (c <= '\r' || c >= '\u0085') &&
      (c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029')

  /** The next occurrence of one literal alternative of a segment (`lit`),
    * or of a digit (`lit == null`), at or after a position, remembered: an
    * occurrence found from `from` answers every later query up to itself,
    * and an absent one every later query, so the queries of one text,
    * which only move forward, scan it once.
    */
  private final class Occurrences(text: String, lit: String) {
    private var from = Int.MaxValue
    private var at = -1

    def next(pos: Int): Int = {
      if (pos < from || (at >= 0 && pos > at)) {
        from = pos
        at = if (lit == null) nextDigit(pos) else text.indexOf(lit, pos)
      }
      at
    }

    private def nextDigit(pos: Int): Int = {
      var i = pos
      while (i < text.length) {
        val cp = text.codePointAt(i)
        if (Character.isDigit(cp)) return i
        i += Character.charCount(cp)
      }
      -1
    }
  }

  /** The next occurrence of a segment: the earliest of its alternatives'. */
  private def next(alts: Array[Occurrences], pos: Int): Int = {
    var best = -1
    alts.foreach { o =>
      val j = o.next(pos)
      if (j >= 0 && (best < 0 || j < best)) best = j
    }
    best
  }

  /** Whether `s1.*s2(.*sk)*` finds a match in `text`: some line holds an
    * occurrence of each segment after the previous one. Committing to the
    * earliest occurrence of each segment in turn is exact, because every
    * segment but the last has a fixed length, so an earlier end never rules
    * out a later match. After a first check that every segment occurs,
    * each alternative of each segment is searched once for the whole
    * text, and the line ends are found once, so the search is linear
    * however many lines repeat `s1` without the rest.
    */
  private def found(text: String, segs: Array[Segment], lineEnds: => Array[Int]): Boolean = {
    // most texts miss some segment: found with nothing allocated
    if (!segs.forall(_.occursIn(text))) return false
    if (segs.length == 1) return true
    val occ = segs.map { seg =>
      if (seg.digits) Array(new Occurrences(text, null))
      else seg.alts.map(new Occurrences(text, _))
    }
    var from = 0
    while (true) {
      val i = next(occ(0), from)
      if (i < 0) return false
      // the first line end after `i` (a segment starts at `i`, so no line
      // end sits there and the search returns an insertion point)
      val ends = lineEnds
      val e = -java.util.Arrays.binarySearch(ends, i) - 1
      val end = if (e < ends.length) ends(e) else text.length
      var pos = i + segs(0).length
      var k = 1
      while (k < segs.length) {
        val j = next(occ(k), pos)
        if (j < 0) return false
        if (j >= end) k = segs.length + 1
        else { pos = j + segs(k).length; k += 1 }
      }
      if (k == segs.length) return true
      from = end + 1
    }
    false
  }

  /** Hits per family, in family order. */
  private[kernel] def scores(lowered: String): Seq[(String, Int)] = {
    var ends: Array[Int] = null
    def lineEnds: Array[Int] = {
      if (ends == null) {
        val b = Array.newBuilder[Int]
        var i = 0
        while (i < lowered.length) { if (isLineEnd(lowered.charAt(i))) b += i; i += 1 }
        ends = b.result()
      }
      ends
    }
    familySegments.map { case (name, pats) =>
      name -> pats.count(found(lowered, _, lineEnds))
    }
  }

  def classify(text: String): String = {
    // null degrades to the generic family (the kernel tier's null
    // convention, like Sections/Chunker): a null text row reaching
    // classifyConversations must not kill the task
    if (text == null) Generic else classifyLowered(lower(text))
  }

  /** [[classify]] of a text given its lowered copy, `Py.lower(text)`. */
  private[graft] def classifyLowered(lowered: String): String = {
    val hits = scores(lowered)
    val maxScore = hits.map(_._2).max
    if (maxScore >= 2) hits.find(_._2 == maxScore).get._1
    else Generic
  }
}
