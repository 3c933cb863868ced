package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.schema.ExtractedTurn

/** Deterministic string renders of extraction output — the reference's
  * Markdown and XML sinks re-expressed as column projections
  * (SURVEY.md S6: OCR_Enhanced_Hybrid_v1.py:1319-1362 per-page markdown;
  * S8: xml_output_generator.py structured XML).
  *
  * Everything is `concat`/`format_string`/`transform` column expressions —
  * whole-stage codegen, no UDFs — and order is restored with
  * `array_sort(collect_list(struct(turn_idx, ...)))` so map-side partial
  * aggregation applies (giant conversations don't serialize through one
  * task; same shape as ExtractionJob.assemble).
  */
object Render {

  /** escapes &, <, > and " — values are interpolated into double-quoted
    * attributes as well as element text, so the quote must be escaped too
    */
  private[pipeline] def xmlEscape(c: Column): Column =
    replace(replace(replace(replace(c, lit("&"), lit("&amp;")),
      lit("<"), lit("&lt;")), lit(">"), lit("&gt;")),
      lit("\""), lit("&quot;"))

  /** One markdown document per conversation:
    *
    *   # Conversation {conv_id}
    *   ## Turn {idx} ({role})
    *   {text}
    *   ... turns joined with blank-line separators (the reference's
    *   `'\n\n===...'` page separator, Hybrid_v1.py:1356).
    */
  def markdown(extracted: Dataset[ExtractedTurn]): DataFrame =
    extracted
      .where(col("success"))
      .groupBy(col("conv_id"))
      .agg(
        ExtractionJob.orderedConcat(
          format_string("## Turn %d (%s)\n\n%s",
            col("turn_idx"), col("role"), col("text_clean")),
          "\n\n====================\n\n",
          col("turn_idx")).as("body"))
      .select(
        col("conv_id"),
        concat(format_string("# Conversation %s", col("conv_id")),
          lit("\n\n"), col("body")).as("markdown"))

  /** XML render of per-turn spans:
    *
    *   <conversation id="..."><turn idx="..." role="..." doc_type="...">
    *     <span name="..." start="..." end="..." confidence="...">value</span>
    *   </turn></conversation>
    */
  def xml(extracted: Dataset[ExtractedTurn]): DataFrame = {
    val turnXml =
      concat(
        format_string("<turn idx=\"%d\" role=\"%s\" doc_type=\"%s\">",
          col("turn_idx"), xmlEscape(col("role")), xmlEscape(col("doc_type"))),
        array_join(
          transform(col("spans"), s =>
            format_string("<span name=\"%s\" start=\"%d\" end=\"%d\" confidence=\"%.2f\">%s</span>",
              xmlEscape(s.getField("name")), s.getField("start"), s.getField("end"),
              s.getField("confidence"), xmlEscape(s.getField("value")))),
          ""),
        lit("</turn>"))
    extracted
      .where(col("success"))
      .groupBy(col("conv_id"))
      .agg(ExtractionJob.orderedConcat(turnXml, "", col("turn_idx")).as("turns_xml"))
      .select(
        col("conv_id"),
        concat(
          format_string("<conversation id=\"%s\">", xmlEscape(col("conv_id"))),
          col("turns_xml"), lit("</conversation>")).as("xml"))
  }

  /** Template-DISPATCHED structured XML documents (S8, the reference's
    * generate_xml): assemble each conversation in stable turn order, score
    * the assembled text into a document type, then render that type's
    * template — sections for manifestações, histórico/situação/
    * irresignações/pedidos/creditor-annex for relatórios, the creditor
    * table for quadros, per-page elements for generic documents.
    *
    * One hash aggregation (map-side partials via array_sort∘collect_list,
    * same shape as [[markdown]]) + a narrow mapPartitions render. The
    * processing date is a parameter, not wall-clock: renders must be
    * deterministic.
    */
  def xmlDocuments(
      extracted: Dataset[ExtractedTurn],
      processDate: String = "1970-01-01",
      metodo: String = "graft-kernel"): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted
      .where(col("success"))
      .groupBy(col("conv_id"))
      .agg(
        array_sort(collect_list(struct(
          col("turn_idx"), col("text_clean"), col("conf_delta")))).as("turns"),
        avg(col("conf_delta")).as("avg_conf"))
      .as[(String, Seq[(Int, String, Double)], Double)]
      .mapPartitions(_.map { case (cid, turns, avgConf) =>
        val full = turns.map(_._2).mkString("\n\n")
        val pages = turns.zipWithIndex.map { case ((_, t, c), i) =>
          graft.kernel.XmlDoc.Page(i + 1, c, t)
        }
        val (tpl, xml) = graft.kernel.XmlDoc.render(
          full, pages, processDate, metodo, avgConf)
        (cid, tpl, xml)
      })
      .toDF("conv_id", "doc_type", "xml")
  }

  /** Searchable-PDF sink (S7, the reference's gerar_pdf_pesquisavel_func,
    * OCR_Enhanced_Hybrid_v1.py:1378-1480): one PDF per conversation whose
    * pages carry the extracted text as an invisible layer, built by the
    * deterministic pure-Scala writer in [[graft.kernel.PdfDoc]] (see its
    * scaladoc for the two documented stand-ins vs the PyMuPDF original).
    *
    * Same one-hash-aggregation shape as [[markdown]] (map-side partials
    * via the ordered-concat kernel) + a narrow per-row byte assembly.
    * Returns (conv_id, num_pages, pdf_bytes, pdf) — the binary COLUMN is
    * the artifact (parquet of PDFs, like the engine's other multimodal
    * binary columns), not one small file per conversation.
    */
  def searchablePdf(
      extracted: Dataset[ExtractedTurn],
      charsPerPage: Int = graft.kernel.PdfDoc.DefaultCharsPerPage): DataFrame = {
    val spark = extracted.sparkSession
    import spark.implicits._
    extracted
      .where(col("success"))
      .groupBy(col("conv_id"))
      .agg(ExtractionJob.orderedConcat(
        col("text_clean"), "\n\n", col("turn_idx")).as("doc"))
      .as[(String, String)]
      .mapPartitions(_.map { case (cid, doc) =>
        val pdf = graft.kernel.PdfDoc.searchable(doc, charsPerPage)
        (cid, graft.kernel.PdfDoc.numPages(doc, charsPerPage), pdf.length.toLong, pdf)
      })
      .toDF("conv_id", "num_pages", "pdf_bytes", "pdf")
  }
}
