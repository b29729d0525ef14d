package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main on Bench's own session (SparkSessionFactory.local),
  * so its timings and plans are the ones Bench runs with.
  *
  * Usage:
  *   runMain graft.Diag <query>...
  *     runs each named query 3× (separates codegen/JIT warm-up from
  *     steady state) with its Spark job count, then prints each
  *     query's `explain("formatted")`.
  *   runMain graft.Diag --plans <outDir> <suffix> <query>...
  *     executes nothing beyond the queries' own eager checkpoints and
  *     writes `<outDir>/<query>_<suffix>.txt` (the formatted plan) plus
  *     `<outDir>/<query>_<suffix>_matN.txt` (the input plan of the Nth
  *     Checkpoints materialization during the build), so plan shapes
  *     can be archived per optimization round.
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.pipeline.SparkSessionFactory.local()
    args.toList match {
      case "--plans" :: outDir :: suffix :: names =>
        dumpPlans(spark, sfDir, outDir, suffix, names)
      case names => timeRuns(spark, sfDir, names)
    }
    spark.stop()
  }

  private def selected(names: Seq[String]): Seq[Q] =
    SparkEntry.allQueries.filter(q => names.contains(q.name))

  private def timeRuns(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    // jobs-per-run counter: the serial job count is the scheduler-
    // overhead dimension of iterative queries (guide §1.2)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      })
    val qs = selected(names)
    for (q <- qs; i <- 1 to 3) {
      jobs.set(0)
      val t0 = System.nanoTime()
      q.build(spark, sfDir).queryExecution.toRdd.count()
      println(f"[diag] ${q.name} run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        s"  jobs=${jobs.get()}")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    qs.foreach(q => q.build(spark, sfDir).explain("formatted"))
  }

  private def dumpPlans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    selected(names).foreach { q =>
      // per-round plans too: every Checkpoints materialization during
      // the build dumps its INPUT plan (the executed tail is truncated
      // at the last checkpoint boundary — the r14 q237 evidence gap)
      Checkpoints.setDumpPrefix(Some(s"$outDir/${q.name}_${suffix}_mat"))
      val df = try q.build(spark, sfDir)
        finally Checkpoints.setDumpPrefix(None)
      Files.write(Paths.get(outDir, s"${q.name}_$suffix.txt"),
        df.queryExecution.explainString(FormattedMode)
          .getBytes(StandardCharsets.UTF_8))
      println(s"[diag] wrote ${q.name}_$suffix.txt")
    }
  }
}
