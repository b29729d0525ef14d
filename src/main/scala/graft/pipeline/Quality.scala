package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative, data-driven quality checks — the engine-side equivalent
  * of the reference's Soda Core scans, where checks are configuration
  * rather than code (/root/reference/soda/checks/silver_breweries.yml:2-7,
  * /root/reference/soda/checks/gold_breweries.yml:1-3; SURVEY.md G7).
  *
  * A [[Check]] names a metric over a dataset and a strict lower bound.
  * All checks against one dataset are evaluated in a SINGLE aggregate
  * pass (one job, no per-check scans) — the shape that holds when the
  * dataset is 100 TB.
  */
object Quality {

  /** The metric a check observes. */
  sealed trait Metric { def column(df: DataFrame): Column }
  /** `row_count` in Soda terms. */
  case object RowCount extends Metric {
    def column(df: DataFrame): Column = count(lit(1))
  }
  /** `max(col)` in Soda terms; empty/all-null observes 0. */
  final case class MaxOf(col: String) extends Metric {
    def column(df: DataFrame): Column =
      coalesce(max(df.col(col)).cast("long"), lit(0L))
  }

  /** One declarative expectation: metric must be strictly greater than
    * `gt` (both reference YAMLs only use `> 0`; the bound is a
    * parameter so new expectations are data, not code). */
  final case class Check(name: String, metric: Metric, gt: Long = 0L)

  final case class CheckResult(name: String, passed: Boolean, observed: Long)

  /** Evaluates every check in one aggregate job over the dataset. */
  def evaluate(df: DataFrame, checks: Seq[Check]): Seq[CheckResult] = {
    if (checks.isEmpty) return Nil
    val row = df.agg(
      checks.head.metric.column(df).as(checks.head.name),
      checks.tail.map(c => c.metric.column(df).as(c.name)): _*).head()
    checks.zipWithIndex.map { case (c, i) =>
      val observed = row.getLong(i)
      CheckResult(c.name, observed > c.gt, observed)
    }
  }

  /** The reference's two check suites, replayed as a config literal —
    * the fallback when no check file is configured. */
  val silverSuite: Seq[Check] = Seq(
    Check("silver_row_count_gt_0", RowCount))
  val goldSuite: Seq[Check] = Seq(
    Check("gold_row_count_gt_0", RowCount),
    Check("gold_max_brewery_count_gt_0", MaxOf("brewery_count")))

  /** Names of the two datasets check files address — the reference's
    * YAML header keys (soda/checks/gold_breweries.yml:1,
    * soda/checks/silver_breweries.yml:4-5). */
  val SilverDataset = "silver_breweries"
  val GoldDataset = "gold_breweries_counts"

  /** Parses a check-suite file in the reference's shape
    * (/root/reference/soda/checks/gold_breweries.yml):
    *
    * {{{
    * checks for gold_breweries_counts:
    *   - row_count > 0
    *   - max(brewery_count) > 0
    * }}}
    *
    * Metrics: `row_count` | `max(col)`; the only comparator is the
    * strict `>` both reference suites use. Blank lines and `#`
    * comments skip; an unparseable line FAILS the load (a silently
    * dropped expectation is a check that never runs). Check names
    * derive deterministically (`<layer>_<metric>_gt_<bound>`) and
    * reproduce the in-code suite names for the reference's files. */
  def parseSuites(text: String): Map[String, Seq[Check]] = {
    val header = """checks for\s+([A-Za-z0-9_.]+):""".r
    val rule = """-\s*(?:row_count|max\((\w+)\))\s*>\s*(-?\d+)""".r
    var current: Option[String] = None
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Check]]
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .foreach {
        case header(ds) =>
          current = Some(ds)
          out.getOrElseUpdate(ds, Seq.empty)
        case line @ rule(colName, bound) =>
          val ds = current.getOrElse(
            sys.error(s"check rule before any 'checks for <dataset>:' header: $line"))
          val prefix = ds.takeWhile(_ != '_')
          val (metric, slug) =
            if (colName == null) (RowCount: Metric, "row_count")
            else (MaxOf(colName), s"max_$colName")
          out(ds) = out(ds) :+ Check(s"${prefix}_${slug}_gt_$bound", metric, bound.toLong)
        case other => sys.error(s"unparseable quality check line: $other")
      }
    out.toMap
  }

  /** Loads [[parseSuites]] from a file. */
  def loadSuites(path: String): Map[String, Seq[Check]] =
    parseSuites(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** The reference's NAMED-DATASOURCE indirection
    * (/root/reference/soda/configuration.yml:2-7): `data_source:`
    * selects one of the `data_sources` entries, whose `path` may
    * interpolate `{{ env('VAR', 'default') }}`. The reference's
    * datasource type is `duckdb` (a warehouse file); ours is
    * `parquet` (a warehouse directory root) — the INDIRECTION is the
    * contract, not the engine: checks address a named datasource, and
    * re-pointing the warehouse is a config edit, not a code change. */
  final case class DataSource(name: String, dsType: String, path: String)

  /** Parses a configuration file in the reference's shape. Missing
    * selection, unknown selected name, or a source without type/path
    * FAILS the load — a scan against a half-configured datasource
    * must not silently fall back. */
  def parseConfiguration(text: String,
      env: String => Option[String] = sys.env.get): DataSource = {
    val selPat = """data_source:\s*(\S+)""".r
    val namePat = """([A-Za-z0-9_]+):\s*""".r
    val fieldPat = """(type|path):\s*(.+?)\s*""".r
    val envPat = """\{\{\s*env\(\s*'([^']+)'\s*,\s*'([^']*)'\s*\)\s*\}\}""".r
    def interp(s: String): String =
      envPat.replaceAllIn(s, m =>
        java.util.regex.Matcher.quoteReplacement(
          env(m.group(1)).getOrElse(m.group(2))))
    def unquote(s: String): String =
      if (s.length >= 2 && s.head == '"' && s.last == '"')
        s.substring(1, s.length - 1)
      else s
    var selected: Option[String] = None
    var inSources = false
    var current: Option[String] = None
    val fields = scala.collection.mutable.Map.empty[(String, String), String]
    text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .foreach {
        case selPat(name) => selected = Some(name)
        case "data_sources:" => inSources = true
        case fieldPat(k, v) if inSources && current.isDefined =>
          fields((current.get, k)) = interp(unquote(v))
        case namePat(name) if inSources => current = Some(name)
        case _ => ()
      }
    val name = selected.getOrElse(sys.error("configuration has no data_source selection"))
    DataSource(name,
      fields.getOrElse(name -> "type",
        sys.error(s"datasource '$name' has no type")),
      fields.getOrElse(name -> "path",
        sys.error(s"datasource '$name' has no path")))
  }

  /** Loads [[parseConfiguration]] from a file. */
  def loadConfiguration(path: String,
      env: String => Option[String] = sys.env.get): DataSource =
    parseConfiguration(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8), env)

  /** Runs both layer suites; `settings.qualityChecksPath` (env
    * QUALITY_CHECKS_PATH) switches from the in-code literals to the
    * file-driven suites — checks as configuration, the reference's
    * operational shape. A dataset absent from the file falls back to
    * its in-code default (never silently check-less). When
    * `settings.qualityConfigPath` (env QUALITY_CONFIG_PATH) names a
    * configuration file, the warehouse scan reads through its
    * SELECTED datasource ([[parseConfiguration]]) instead of the
    * settings warehouse root — the reference's soda-scan wiring. */
  def run(spark: SparkSession, settings: Settings,
      ingestionDate: String): Seq[CheckResult] = {
    val suites = settings.qualityChecksPath.map(loadSuites).getOrElse(Map.empty)
    val warehouseDir = settings.qualityConfigPath.map(loadConfiguration(_))
      .map { ds =>
        require(ds.dsType == "parquet",
          s"unsupported quality datasource type '${ds.dsType}'")
        s"${ds.path}/$GoldDataset"
      }
      .getOrElse(settings.warehouseTableDir)
    val silver = spark.read.schema(Schemas.silver)
      .parquet(settings.silverDir(ingestionDate))
    val gold = spark.read.schema(Schemas.goldHistory).parquet(warehouseDir)
      .filter(col("ingestion_date") === to_date(lit(ingestionDate)))
    evaluate(silver, suites.getOrElse(SilverDataset, silverSuite)) ++
      evaluate(gold, suites.getOrElse(GoldDataset, goldSuite))
  }
}
