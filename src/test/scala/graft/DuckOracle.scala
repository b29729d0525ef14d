package graft

import scala.sys.process._

/** tools/check_oracle.py from a spec: python3 + duckdb replay every
  * entry of `<outDir>/oracle_sql.json` over views on `<sfDir>`'s
  * parquet tables and compare them with the Spark results beside it. */
object DuckOracle {

  /** python3 with the duckdb module — specs `assume` it. */
  lazy val available: Boolean =
    try Process(Seq("python3", "-c", "import duckdb")).! == 0
    catch { case _: java.io.IOException => false }

  /** Runs the check: its exit code (the number of failing queries)
    * and its report lines (`OK …`, `FAIL …`, `N failures`). */
  def check(sfDir: String, outDir: String): (Int, Seq[String]) = {
    val lines = Seq.newBuilder[String]
    val rc = Process(Seq("python3", "tools/check_oracle.py", sfDir, outDir))
      .!(ProcessLogger(l => lines += l, l => lines += l))
    (rc, lines.result())
  }
}
