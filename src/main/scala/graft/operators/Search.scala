package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text search over a document table — the reference's search manager
  * re-expressed relationally (SURVEY.md S10/W4/F13;
  * search_manager.py:348-493):
  *
  *   score   = occurrence count of the (lowercased) term
  *   rank    = dedupe by unit keeping max score, global sort desc, limit
  *   excerpt = ±`ctx`-char window around the first hit with ellipses
  *             (search_manager.py:466-493)
  *
  * All pure Column expressions (codegen), each with an exactly-equivalent
  * ANSI-SQL form for the DuckDB oracle (`*Sql` mirrors).
  */
object Search {

  private def requireTerm(term: String): Unit =
    require(term != null && term.nonEmpty,
      "search term must be non-empty: the occurrence count divides by " +
        "its length (an empty term would fail at runtime under ANSI mode, " +
        "mid-job, on the executors)")

  /** occurrence count via length-difference — exact and engine-agnostic */
  def occurrences(text: Column, term: String): Column = {
    requireTerm(term)
    val t = term.toLowerCase
    ((length(lower(text)) - length(replace(lower(text), lit(t), lit("")))) /
      lit(t.length)).cast("int")
  }

  def occurrencesSql(textExpr: String, term: String): String = {
    requireTerm(term)
    val t = term.toLowerCase.replace("'", "''")
    s"CAST((length(lower($textExpr)) - length(replace(lower($textExpr), '$t', ''))) / ${t.length} AS INT)"
  }

  /** ±ctx chars around the first match, ellipsed at clipped edges. */
  def excerpt(text: Column, term: String, ctx: Int = 50): Column = {
    requireTerm(term)
    val t = term.toLowerCase
    val pos = instr(lower(text), t) // 1-based; 0 if absent
    val start = greatest(pos - ctx, lit(1))
    val endEx = least(pos + lit(t.length + ctx), length(text) + 1)
    when(pos === 0, lit(""))
      .otherwise(
        concat(
          when(start > 1, lit("...")).otherwise(lit("")),
          substr(text, start, endEx - start),
          when(endEx <= length(text), lit("...")).otherwise(lit(""))))
  }

  def excerptSql(textExpr: String, term: String, ctx: Int = 50): String = {
    requireTerm(term)
    val t = term.toLowerCase.replace("'", "''")
    val pos = s"strpos(lower($textExpr), '$t')"
    val start = s"greatest($pos - $ctx, 1)"
    val endEx = s"least($pos + ${t.length + ctx}, length($textExpr) + 1)"
    s"CASE WHEN $pos = 0 THEN '' ELSE " +
      s"(CASE WHEN $start > 1 THEN '...' ELSE '' END) || " +
      s"substr($textExpr, $start, $endEx - $start) || " +
      s"(CASE WHEN $endEx <= length($textExpr) THEN '...' ELSE '' END) END"
  }

  /** Top-N search: score > 0, ordered (score desc, id), limited. One scan +
    * TakeOrderedAndProject — no full sort shuffle.
    */
  def search(
      df: DataFrame, idCol: String, textCol: String,
      term: String, topN: Int, ctx: Int = 50): DataFrame =
    df.select(
      col(idCol).as("id"),
      occurrences(col(textCol), term).as("score"),
      excerpt(col(textCol), term, ctx).as("excerpt"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(topN)
}
