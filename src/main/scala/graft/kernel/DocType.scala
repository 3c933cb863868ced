package graft.kernel

import java.util.regex.Pattern

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

  /** Longest `.*`-separated pure-literal segment of a pattern — a
    * mandatory substring of any match, so a `contains` miss proves the
    * regex cannot match (prefilter; semantics unchanged). "" = no literal
    * segment, always run the regex.
    */
  private def requiredLiteral(src: String): String = {
    // a `.*`-separated literal segment is mandatory ONLY in a pattern with
    // no alternation/optionality at any level — bail out ("" = no
    // prefilter) if such metachars appear anywhere
    if (src.exists(c => c == '|' || c == '?' || c == '(' || c == '{')) return ""
    val lits = src.split("""\.\*""").filter(s =>
      s.nonEmpty && s.forall(c => Character.isLetter(c) || c == ' '))
    if (lits.isEmpty) "" else lits.maxBy(_.length)
  }

  /** `s1.*s2(.*sk)*` as `(?m)^(?>.*?s1)(?>.*?s2)….*sk`: the same lines
    * match, in time linear in the text. The verbatim form retries `.*`
    * from every occurrence of `s1` to the end of its line, which is
    * quadratic when `s1` recurs and the rest never follows. The rewrite
    * tries each line once, from its start, committed to the earliest
    * occurrence of each segment in turn. That is exact because every
    * segment but the last has a fixed length, so an earlier end never
    * rules out a later match. `.` and multiline `^` share Java's line
    * terminators, so a line means the same to both forms.
    */
  private def linear(src: String): String = {
    val segs = src.split("""\.\*""", -1)
    if (segs.length == 1) src
    else {
      require(segs.init.forall(s => !s.exists("*+?{|(".contains(_))),
        s"not a fixed-length middle segment in $src")
      segs.init.map(s => s"(?>.*?$s)").mkString("(?m)^", "", ".*" + segs.last)
    }
  }

  private val familiesWithLits: Seq[(String, Seq[(Pattern, String)])] =
    families.map { case (name, srcs) =>
      name -> srcs.map(src => (compile(linear(src)), requiredLiteral(src)))
    }

  /** Hits per family, in family order. */
  private[kernel] def scores(lowered: String): Seq[(String, Int)] =
    familiesWithLits.map { case (name, pats) =>
      name -> pats.count { case (p, lit) =>
        (lit.isEmpty || lowered.contains(lit)) && p.matcher(lowered).find()
      }
    }

  def classify(text: String): String = {
    // null degrades to the generic family (the kernel tier's null
    // convention, like Sections/Chunker): a null text row reaching
    // classifyConversations must not kill the task
    if (text == null) return Generic
    val hits = scores(lower(text))
    val maxScore = hits.map(_._2).max
    if (maxScore >= 2) hits.find(_._2 == maxScore).get._1
    else Generic
  }
}
