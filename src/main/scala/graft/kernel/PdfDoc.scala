package graft.kernel

/** Minimal deterministic PDF writer for the searchable-PDF sink (SURVEY.md
  * S7) — the binary half of the reference's `gerar_pdf_pesquisavel_func`
  * (OCR_Enhanced_Hybrid_v1.py:1378-1480), which overlays extracted text as
  * an invisible layer onto the original PDF's pages via PyMuPDF.
  *
  * Two stand-ins, both deterministic and documented (the sandbox ships no
  * PDF library, and our source rows are transcript turns, not PDF files):
  *   - there is no "original" page imagery to copy, so pages are
  *     synthesized blank US-Letter (612x792) pages carrying ONLY the
  *     invisible text layer;
  *   - the original's page COUNT (`len(doc_original)`, :1403) is replaced
  *     by `ceil(pyLen(text) / charsPerPage)`.
  *
  * Everything else mirrors the reference's arithmetic exactly:
  *   - `artificial_split` (:1398-1412): floor-division equal CHARACTER
  *     chunks, remainder on the last page, per-page confidence 0.8;
  *   - the insert loop (:1414-1455): `texto.split('\n')` with blank lines
  *     COUNTED but not drawn, only line index j < 50 drawn (lines past 50
  *     are skipped, not a break), `linha[:200]` codepoint truncation, line
  *     height = rect.height / len(linhas) when more than one line else
  *     rect.height, y = j*h + 12 with a break once y > height - 12
  *     (evaluated only for drawable lines, like the reference), x inset 5,
  *     font size 0.1, white fill `1 1 1 rg` ("invisible on white" — the
  *     reference's own invisibility trick), and a page-confidence >= 0.3
  *     gate (:1430) under which the page is still emitted, just with no
  *     text layer (the reference copies the original page regardless).
  *
  * The emitted PDF is version 1.4 with uncompressed content streams and a
  * Helvetica/WinAnsiEncoding Type1 font; the bytes are a pure function of
  * the input (no creation dates, no /ID) so the sink is hash-testable and
  * idempotent under re-runs. ASCII round-trips exactly under WinAnsi;
  * bytes 0x80-0xFF are emitted as octal escapes (extractors decode them
  * per WinAnsi), and codepoints above U+00FF are replaced by '?' — the
  * documented limit of the built-in-font stand-in.
  */
object PdfDoc {

  val PageW = 612.0
  val PageH = 792.0
  /** :1438 `j < 50` — an index bound over ALL lines, blanks included. */
  val MaxLineIdx = 50
  /** :1448 `linha[:200]`. */
  val MaxLineLen = 200
  /** :1430 `confianca_pagina >= 0.3`. */
  val MinConfidence = 0.3
  /** :1450 `fontsize=0.1`. */
  val FontSizePt = 0.1
  /** :1449 `rect.x0 + 5`. */
  val XInset = 5.0
  /** :1440/:1443 the +12 baseline offset and the y1-12 page-bottom guard. */
  val YPad = 12.0
  /** Page-count stand-in: one synthetic "original" page per this many
    * characters of assembled text (the reference reads the count off the
    * original PDF, which a transcript row does not have).
    */
  val DefaultCharsPerPage = 2000

  /** One OCR-result page: text + the confidence the >=0.3 gate reads. */
  final case class Page(text: String, confidence: Double)

  /** One drawn line: top-down y position (PyMuPDF coordinates) + text. */
  final case class Line(yTop: Double, text: String)

  /** Python-style codepoint slice s[from:until] (clamped, never throws). */
  private def cpSlice(s: String, from: Int, until: Int): String = {
    val n = Py.pyLen(s)
    val f = math.max(0, math.min(from, n))
    val u = math.max(f, math.min(until, n))
    s.substring(s.offsetByCodePoints(0, f), s.offsetByCodePoints(0, u))
  }

  def numPages(text: String, charsPerPage: Int = DefaultCharsPerPage): Int = {
    require(charsPerPage > 0, s"charsPerPage must be positive, got $charsPerPage")
    math.max(1, (Py.pyLen(text) + charsPerPage - 1) / charsPerPage)
  }

  /** `artificial_split` (:1398-1412): `len // n` chars per page (floor
    * division — the LAST page takes the remainder), confidence 0.8.
    */
  def artificialSplit(text: String, nPages: Int): Seq[Page] = {
    require(nPages > 0, s"nPages must be positive, got $nPages")
    val len = Py.pyLen(text)
    val per = len / nPages
    (0 until nPages).map { i =>
      val until = if (i < nPages - 1) (i + 1) * per else len
      Page(cpSlice(text, i * per, until), 0.8)
    }
  }

  /** The reference's insert loop (:1414-1455) as a pure layout function:
    * which lines of a page's text are drawn, and where. Applies the
    * confidence gate, the blank/index-50 skip, the 200-char cap, and the
    * bottom-of-page break.
    */
  def layout(page: Page): Seq[Line] = {
    if (page.text == null || Py.strip(page.text).isEmpty) return Seq.empty
    if (page.confidence < MinConfidence) return Seq.empty
    val lines = Py.splitOn(page.text, '\n')
    val h = if (lines.length > 1) PageH / lines.length else PageH
    val out = Seq.newBuilder[Line]
    var j = 0
    var broke = false
    while (j < lines.length && !broke) {
      val linha = lines(j)
      if (Py.strip(linha).nonEmpty && j < MaxLineIdx) {
        val y = j * h + YPad
        if (y > PageH - YPad) broke = true
        else out += Line(y, cpSlice(linha, 0, MaxLineLen))
      }
      j += 1
    }
    out.result()
  }

  /** PDF literal-string escape over one text line. Output chars are all
    * <= 0xFF by construction (the document is emitted as Latin-1 bytes).
    */
  private def pdfEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp > 0xFF) sb.append('?')
      else {
        val c = cp.toChar
        c match {
          case '(' => sb.append("\\(")
          case ')' => sb.append("\\)")
          case '\\' => sb.append("\\\\")
          case _ =>
            if (c < 0x20 || c > 0x7E) sb.append(f"\\${cp}%03o")
            else sb.append(c)
        }
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }

  private def num(d: Double): String = {
    // deterministic, locale-free numeric literal (PDF accepts plain
    // decimals; exponent notation it does not)
    val r = math.rint(d * 100) / 100
    if (r == math.rint(r)) r.toLong.toString
    else String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
  }

  /** One page's uncompressed content stream: absolute text matrix per
    * line, y flipped from PyMuPDF's top-down coords to PDF's y-up space.
    */
  private def contentStream(page: Page): String = {
    val drawn = layout(page)
    if (drawn.isEmpty) ""
    else {
      val sb = new java.lang.StringBuilder(64 + drawn.size * 32)
      sb.append("BT\n/F1 ").append(num(FontSizePt)).append(" Tf\n1 1 1 rg\n")
      drawn.foreach { l =>
        sb.append("1 0 0 1 ").append(num(XInset)).append(' ')
          .append(num(PageH - l.yTop)).append(" Tm\n(")
          .append(pdfEscape(l.text)).append(") Tj\n")
      }
      sb.append("ET\n")
      sb.toString
    }
  }

  /** Assemble a complete single-xref PDF 1.4 document. Object layout:
    * 1 Catalog, 2 Pages, 3 Font, then (Page, Contents) pairs per page.
    */
  def render(pages: Seq[Page]): Array[Byte] = {
    require(pages.nonEmpty, "a PDF needs at least one page")
    val n = pages.size
    val nObjs = 3 + 2 * n
    val sb = new java.lang.StringBuilder(1024 + n * 256)
    val offsets = new Array[Int](nObjs + 1) // offsets(i) = byte offset of obj i

    // every char appended is <= 0xFF (pdfEscape guarantees it for text;
    // the structure is ASCII), so char index == byte offset under Latin-1
    sb.append("%PDF-1.4\n%âãÏÓ\n")

    def beginObj(id: Int): Unit = {
      offsets(id) = sb.length
      sb.append(id).append(" 0 obj\n")
    }
    def endObj(): Unit = sb.append("endobj\n")

    beginObj(1)
    sb.append("<< /Type /Catalog /Pages 2 0 R >>\n"); endObj()

    beginObj(2)
    sb.append("<< /Type /Pages /Kids [")
    (0 until n).foreach { i => if (i > 0) sb.append(' '); sb.append(4 + 2 * i).append(" 0 R") }
    sb.append("] /Count ").append(n).append(" >>\n"); endObj()

    beginObj(3)
    sb.append("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica")
      .append(" /Encoding /WinAnsiEncoding >>\n"); endObj()

    pages.zipWithIndex.foreach { case (page, i) =>
      val pageId = 4 + 2 * i
      val streamId = pageId + 1
      beginObj(pageId)
      sb.append("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 ")
        .append(num(PageW)).append(' ').append(num(PageH))
        .append("] /Resources << /Font << /F1 3 0 R >> >> /Contents ")
        .append(streamId).append(" 0 R >>\n"); endObj()
      val content = contentStream(page)
      beginObj(streamId)
      // spec 7.3.8.1: an EOL before `endstream`, NOT counted in /Length
      sb.append("<< /Length ").append(content.length).append(" >>\nstream\n")
        .append(content).append("\nendstream\n"); endObj()
    }

    val xrefOff = sb.length
    sb.append("xref\n0 ").append(nObjs + 1).append('\n')
    sb.append("0000000000 65535 f \n")
    (1 to nObjs).foreach { i =>
      sb.append(String.format(java.util.Locale.ROOT, "%010d 00000 n \n",
        Integer.valueOf(offsets(i))))
    }
    sb.append("trailer\n<< /Size ").append(nObjs + 1)
      .append(" /Root 1 0 R >>\nstartxref\n").append(xrefOff).append("\n%%EOF\n")

    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** The full S7 stand-in: assembled extracted text -> artificial page
    * split -> searchable (invisible-text-layer) PDF bytes.
    */
  def searchable(text: String, charsPerPage: Int = DefaultCharsPerPage): Array[Byte] = {
    val t = if (text == null) "" else text
    render(artificialSplit(t, numPages(t, charsPerPage)))
  }
}
