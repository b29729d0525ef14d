package graft.pipeline

import java.io.IOException
import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Sequential medallion orchestration with per-stage retry and timing —
  * bronze → silver → gold → quality
  * (/root/reference/app/pipeline.py:10-29; task retries
  * /root/reference/app/tasks/extract.py:29, silver.py:5, gold.py:44).
  */
object Pipeline {

  final case class RunReport(
      ingestionDate: String,
      pages: Int,
      records: Int,
      silverRows: Long,
      goldBaseDir: String,
      checks: Seq[Quality.CheckResult]) {
    def allChecksPassed: Boolean = checks.forall(_.passed)
  }

  /** Simple retry wrapper (the engine-scope analogue of Prefect task
    * retries: attempts = retries + 1, fixed delay). Only non-fatal
    * failures are retried — fatal JVM errors (OOM, linkage) and
    * interrupts propagate immediately. */
  def retry[A](attempts: Int, delayMs: Long = 5000)(f: => A): A =
    try f catch {
      case scala.util.control.NonFatal(_) if attempts > 1 =>
        Thread.sleep(delayMs)
        retry(attempts - 1, delayMs)(f)
    }

  /** Replaces `dir`, a directory that holds one date alone, with what
    * `write` commits into a fresh hidden sibling (`.<name>.staging`,
    * which Spark's file listing skips). Only after `write` returns is
    * `dir` deleted and the sibling renamed over it. So a re-run drops
    * the leaves it no longer produces, and a re-run that fails leaves the
    * earlier output in place; a leftover sibling is cleared by the next
    * run. A crash between the delete and the rename leaves `dir` missing
    * and its complete replacement beside it. */
  def replaceDir(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(target.getParent, s".${target.getName}.staging")
    fs.delete(staged, true)
    write(staged.toString)
    fs.delete(target, true)
    if (!fs.rename(staged, target))
      throw new IOException(s"could not rename $staged to $target")
  }

  def run(spark: SparkSession, settings: Settings, source: Bronze.PageSource,
      ingestionDate: Option[String] = None,
      retryDelayMs: Long = 5000): RunReport = {
    val d = ingestionDate.getOrElse(LocalDate.now().toString)
    /** Runs one stage under `retry`, then logs `<name>_done` with the
      * stage's fields and its wall seconds (retries included). */
    def stage[A](name: String, attempts: Int)(f: => A)(
        fields: A => Seq[(String, Any)]): A = {
      val t0 = System.nanoTime()
      val out = retry(attempts, retryDelayMs)(f)
      val seconds = (System.nanoTime() - t0) / 1e9
      Log.info(s"${name}_done", ("ingestion_date" -> d) +: fields(out) :+
        ("seconds" -> "%.3f".formatLocal(java.util.Locale.ROOT, seconds)): _*)
      out
    }
    Log.info("pipeline_start", "ingestion_date" -> d)
    val (pages, records) = stage("bronze", 3)(
      Bronze.ingest(spark, settings, source, d)) {
      case (p, r) => Seq("pages" -> p, "records" -> r)
    }
    val silverRows = stage("silver", 3)(
      Silver.transform(spark, settings, d))(n => Seq("rows" -> n))
    val goldBase = stage("gold", 3)(
      Gold.aggregate(spark, settings, d))(dir => Seq("base_dir" -> dir))
    val checks = stage("quality", 1)(Quality.run(spark, settings, d)) { cs =>
      Seq("checks" -> cs.size, "failed" -> cs.count(!_.passed))
    }
    RunReport(d, pages, records, silverRows, goldBase, checks)
  }
}
