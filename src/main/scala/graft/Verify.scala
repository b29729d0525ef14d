package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local dev only): comma-separated query-name filter
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(",").toSet)
    val spark = graft.pipeline.SparkSessionFactory.local()
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes `<outDir>/<name>` (one parquet file) for every query `only`
    * admits (all when None), and the admitted queries' oracle SQL as
    * `<outDir>/oracle_sql.json` — the layout tools/check_oracle.py
    * reads. A query that fails is logged and left without a result. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    def admitted(name: String) = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => admitted(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => admitted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
