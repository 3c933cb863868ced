package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.kernel.{Py, TextKernel}

/** PII redaction for training-data pipelines: replace every DETECTED AND
  * VALIDATED pattern occurrence (CPF/CNPJ checksums, calendar-valid dates,
  * RFC-ish emails, phones, CEPs, currency, URLs, case numbers — the
  * kernel's F4 table, text_processor.py:405-436) with a typed placeholder
  * `[TYPE]`.
  *
  * Validation-aware redaction is what the regex-only approach gets wrong:
  * an invalid CPF (failed check digit) is NOT PII and is left intact,
  * exactly matching the reference's detection semantics.
  */
object Redact {

  /** Boundary-anchored literal pattern for a validated match: `\b` is added
    * only on sides whose edge character is a word character under the
    * compiled pattern's own `\w` ([[Py.isUWordCp]]; the detector's own
    * `\b`s sit at word-char edges; a `\b` beside a non-word edge char —
    * e.g. the `/` closing a URL — would require an ADJACENT word char and
    * wrongly skip legitimate occurrences).
    */
  private def anchored(m: String): java.util.regex.Pattern = {
    val pre = if (m.nonEmpty && Py.isUWordCp(m.codePointAt(0))) "\\b" else ""
    val suf = if (m.nonEmpty && Py.isUWordCp(m.codePointBefore(m.length))) "\\b" else ""
    java.util.regex.Pattern.compile(
      pre + java.util.regex.Pattern.quote(m) + suf,
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
  }

  /** Pure kernel form: (redacted text, counts per type). Detection runs on
    * the text as-is (canonical formatting applied first, like the
    * reference's in-place reformat). Replacement is boundary-anchored so a
    * validated match embedded in a longer token (which the kernel's
    * `\b`-anchored detector never matched) is left intact. Throws
    * [[TextKernel.Amplification]] when the canonical formatting would grow
    * the text past [[TextKernel.outputLimit]] of its length.
    */
  def redactText(kernel: TextKernel, text: String): (String, Map[String, Int]) = {
    val (formatted, found) = kernel.detectAndFormatPatterns(text)
    var out = formatted
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    found.foreach { case (ptype, matches) =>
      val tag = s"[${ptype.toUpperCase(java.util.Locale.ROOT)}]"
      matches.foreach { m =>
        if (m.nonEmpty) {
          val matcher = anchored(m).matcher(out)
          var c = 0
          val sb = new java.lang.StringBuilder
          while (matcher.find()) {
            c += 1
            matcher.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(tag))
          }
          if (c > 0) {
            matcher.appendTail(sb)
            out = sb.toString
            counts.update(ptype, counts.getOrElse(ptype, 0) + c)
          }
        }
      }
    }
    (out, counts.toMap)
  }

  final case class Redacted(id: Long, text_redacted: String, redactions: Map[String, Int])

  /** Distributed form: pooled kernel per partition (narrow map). A text
    * the kernel's output limit stops ([[TextKernel.Amplification]]) gets a
    * null `text_redacted` and no counts: neither redacted nor passed
    * through unredacted.
    */
  def redact(df: DataFrame, idCol: String, textCol: String): Dataset[Redacted] = {
    Dedup.requireIntegralId(df, idCol) // same silent-null-cast trap as dedup
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val kernel = new TextKernel
        it.map { case (id, text) =>
          try {
            val (red, counts) = redactText(kernel, Option(text).getOrElse(""))
            Redacted(id, red, counts)
          } catch {
            case _: TextKernel.Amplification => Redacted(id, null, Map.empty)
          }
        }
      }
  }
}
