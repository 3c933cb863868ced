package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.pipeline.Fs

/** What the two `spark-submit` mains ([[RunExtraction]], [[RunCuration]])
  * share: `--flag value` parsing, the session they run in, and their
  * one-line JSON summary.
  */
private[graft] object Submit {

  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"odd argument count — every --flag needs a value: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
      case Array(k, v) => sys.error(s"malformed pair '$k $v' — expected --flag value")
    }.toMap
  }

  /** The session both mains run in; `extra` adds job-specific settings. */
  def session(appName: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // keep doc-level collect_list aggregations in hash mode (the 128-
      // groups-per-partition default silently degrades to sort-based)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
    extra.foreach { case (k, v) => builder.config(k, v) }
    // spark-submit supplies spark.master via system properties; fall back
    // to local[*] only when launched as a bare JVM (tests, scripts)
    if (!sys.props.contains("spark.master") && !sys.env.contains("MASTER"))
      builder.master("local[*]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One JSON object with the keys in the order given. */
  def summary(fields: (String, Any)*): String = Fs.toJson(ListMap(fields: _*))

  /** Seconds rounded to two decimals, as the summary lines report them. */
  def seconds(sec: Double): Double = math.round(sec * 100) / 100.0
}
