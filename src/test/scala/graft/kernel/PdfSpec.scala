package graft.kernel

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** S7 searchable-PDF sink: reference-arithmetic layout semantics
  * (OCR_Enhanced_Hybrid_v1.py:1378-1480), structural validity of the
  * emitted PDF (xref offsets, stream lengths), text-layer round-trip,
  * determinism, and the Spark-level column + per-file sinks.
  */
class PdfSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-pdf-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---------- test-side mini PDF reader (independent of the writer) ----

  private def unescapePdfString(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        val n = s.charAt(i + 1)
        if (n >= '0' && n <= '7') {
          var j = i + 1; var oct = 0
          while (j < s.length && j < i + 4 && s.charAt(j) >= '0' && s.charAt(j) <= '7') {
            oct = oct * 8 + (s.charAt(j) - '0'); j += 1
          }
          sb.append(oct.toChar); i = j
        } else { sb.append(n); i += 2 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Structure checks + (pageCount, per-stream Tj text lines). */
  private def parsePdf(bytes: Array[Byte]): (Int, Seq[Seq[String]]) = {
    val doc = new String(bytes, ISO_8859_1)
    assert(doc.startsWith("%PDF-1.4\n"), "header")
    assert(doc.endsWith("%%EOF\n"), "EOF marker")

    // startxref points at the xref table
    val sxAt = doc.lastIndexOf("startxref\n")
    assert(sxAt >= 0, "startxref present")
    val xrefOff = doc.substring(sxAt + 10, doc.indexOf('\n', sxAt + 10)).trim.toInt
    assert(doc.startsWith("xref\n", xrefOff), "startxref resolves to the xref table")

    // every xref entry offset points at the matching "i 0 obj"
    val header = doc.substring(xrefOff + 5, doc.indexOf('\n', xrefOff + 5))
    val Array(_, countStr) = header.split(" ")
    val nEntries = countStr.toInt
    val entriesAt = doc.indexOf('\n', xrefOff + 5) + 1
    (1 until nEntries).foreach { i =>
      val line = doc.substring(entriesAt + 20 * i, entriesAt + 20 * i + 20)
      assert(line.endsWith(" n \n"), s"entry $i in-use")
      val off = line.substring(0, 10).toInt
      assert(doc.startsWith(s"$i 0 obj\n", off), s"xref offset of obj $i resolves")
    }

    // trailer /Size and /Root
    val trailerAt = doc.indexOf("trailer", entriesAt)
    assert(trailerAt >= 0 && doc.indexOf("/Root 1 0 R", trailerAt) >= 0, "trailer root")
    assert(doc.indexOf(s"/Size $nEntries", trailerAt) >= 0, "trailer size")

    val pageCount = {
      val m = """/Count (\d+)""".r.findFirstMatchIn(doc)
      assert(m.isDefined, "/Count present"); m.get.group(1).toInt
    }

    // content streams: declared /Length equals actual bytes; collect Tj text
    val streamRe = """(?s)<< /Length (\d+) >>\nstream\n(.*?)\nendstream""".r
    val tjRe = """(?s)\(((?:\\.|[^\\()])*)\) Tj""".r
    val streams = streamRe.findAllMatchIn(doc).map { m =>
      assert(m.group(2).length == m.group(1).toInt, "stream /Length exact")
      tjRe.findAllMatchIn(m.group(2)).map(t => unescapePdfString(t.group(1))).toSeq
    }.toSeq
    assert(streams.size == pageCount, "one content stream per page")
    (pageCount, streams)
  }

  // ------------------------- kernel arithmetic -------------------------

  test("artificialSplit: floor-division chunks, remainder on last page, conf 0.8") {
    val text = "abcdefghij" // 10 chars
    val pages = PdfDoc.artificialSplit(text, 3) // 10 // 3 = 3 chars/page
    assert(pages.map(_.text) == Seq("abc", "def", "ghij"))
    assert(pages.forall(_.confidence == 0.8))
    assert(PdfDoc.artificialSplit(text, 1).map(_.text) == Seq(text))
    // reference quirk preserved: more pages than chars -> len//n == 0, all
    // text lands on the LAST page, earlier pages empty
    val sparse = PdfDoc.artificialSplit("ab", 3)
    assert(sparse.map(_.text) == Seq("", "", "ab"))
  }

  test("numPages: ceil(len/charsPerPage), min 1") {
    assert(PdfDoc.numPages("", 2000) == 1)
    assert(PdfDoc.numPages("a" * 2000, 2000) == 1)
    assert(PdfDoc.numPages("a" * 2001, 2000) == 2)
    intercept[IllegalArgumentException](PdfDoc.numPages("x", 0))
  }

  test("layout: blanks counted but not drawn; index >= 50 skipped without break") {
    // 3 lines with a blank middle: j advances over the blank, y uses j
    val p = PdfDoc.Page("first\n   \nthird", 1.0)
    val drawn = PdfDoc.layout(p)
    val h = PdfDoc.PageH / 3
    assert(drawn == Seq(
      PdfDoc.Line(12.0, "first"), PdfDoc.Line(2 * h + 12.0, "third")))

    // 60 short lines, line height small: exactly j<50 drawn, none broken
    val many = PdfDoc.Page((0 until 60).map(i => s"l$i").mkString("\n"), 1.0)
    val d2 = PdfDoc.layout(many)
    assert(d2.size == 50 && d2.last.text == "l49")
  }

  test("layout: bottom-of-page break and the 200-char cap") {
    // 34 lines: h = 792/34, j=33 -> y = 33*h + 12 = 780.7 > 780 -> break
    val lines34 = (0 until 34).map(i => s"line$i")
    val d = PdfDoc.layout(PdfDoc.Page(lines34.mkString("\n"), 1.0))
    assert(d.size == 33 && d.last.text == "line32")

    val long = PdfDoc.layout(PdfDoc.Page("x" * 500, 1.0))
    assert(d.nonEmpty && long.head.text == "x" * 200)

    // single line: altura = full page height, drawn at y=12
    assert(PdfDoc.layout(PdfDoc.Page("only", 1.0)) == Seq(PdfDoc.Line(12.0, "only")))
  }

  test("layout: confidence gate is >= 0.3 inclusive; blank page skipped") {
    assert(PdfDoc.layout(PdfDoc.Page("text", 0.29)).isEmpty)
    assert(PdfDoc.layout(PdfDoc.Page("text", 0.3)).nonEmpty)
    assert(PdfDoc.layout(PdfDoc.Page(" \n ", 1.0)).isEmpty)
    assert(PdfDoc.layout(PdfDoc.Page(null, 1.0)).isEmpty)
  }

  // ------------------------- binary structure --------------------------

  test("render: structurally valid PDF, text layer round-trips, deterministic") {
    val pages = Seq(
      PdfDoc.Page("hello world\nsecond (line) with \\ specials\n\nfourth", 0.9),
      PdfDoc.Page("low-confidence page", 0.1),
      PdfDoc.Page("único café — naïve\ttab", 0.8))
    val bytes = PdfDoc.render(pages)
    val (nPages, streams) = parsePdf(bytes)
    assert(nPages == 3)
    assert(streams(0) == Seq("hello world", "second (line) with \\ specials", "fourth"))
    assert(streams(1).isEmpty) // conf 0.1 < 0.3: page present, no text layer
    // Latin-1 chars survive via octal escapes; the tab rides as octal too
    assert(streams(2) == Seq("único café — naïve\ttab".map(c => if (c > 0xFF) '?' else c)))
    assert(java.util.Arrays.equals(bytes, PdfDoc.render(pages)), "byte-deterministic")
    assert(!new String(bytes, ISO_8859_1).contains(" Tr\n"),
      "Hybrid_v1: white fill only, no text render mode")
  }

  test("render: codepoints above U+00FF degrade to '?' (documented stand-in)") {
    val (_, streams) = parsePdf(PdfDoc.render(Seq(PdfDoc.Page("汉字 ok", 1.0))))
    assert(streams.head == Seq("?? ok"))
  }

  test("searchable: split + render compose; empty text still yields one valid page") {
    val text = (1 to 120).map(i => s"turn text line $i").mkString("\n")
    val (nPages, streams) = parsePdf(PdfDoc.searchable(text, charsPerPage = 400))
    assert(nPages == PdfDoc.numPages(text, 400) && nPages > 1)
    // every drawn line is a substring of the original page slice
    val pages = PdfDoc.artificialSplit(text, nPages)
    streams.zip(pages).foreach { case (drawn, page) =>
      drawn.foreach(l => assert(page.text.contains(l)))
    }
    val (n1, s1) = parsePdf(PdfDoc.searchable("", 2000))
    assert(n1 == 1 && s1 == Seq(Seq.empty))
    val (n2, _) = parsePdf(PdfDoc.searchable(null, 2000))
    assert(n2 == 1)
  }

  // ------------------------- Spark surface -----------------------------

  test("searchablePdf: one valid PDF per conversation, order-stable, deterministic") {
    import graft.pipeline.{ExtractionJob, Render, TranscriptGen}
    val turns = TranscriptGen.dataset(spark, 30)
    val pdfs = Render.searchablePdf(ExtractionJob.extract(turns))
      .select("conv_id", "num_pages", "pdf_bytes", "pdf")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getAs[Array[Byte]](3)))
      .sortBy(_._1)
    assert(pdfs.length == 30)
    pdfs.foreach { case (_, nPages, len, bytes) =>
      assert(len == bytes.length.toLong)
      val (parsedPages, _) = parsePdf(bytes)
      assert(parsedPages == nPages)
    }
    // shuffled input -> identical bytes (stable turn ordering feeds the doc)
    import spark.implicits._
    val shuffled = turns.toDF().orderBy(rand(7)).as[graft.schema.Turn]
    val again = Render.searchablePdf(ExtractionJob.extract(shuffled))
      .select("conv_id", "pdf").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1))).sortBy(_._1)
    pdfs.zip(again).foreach { case ((id1, _, _, b1), (id2, b2)) =>
      assert(id1 == id2 && java.util.Arrays.equals(b1, b2))
    }
  }
}
