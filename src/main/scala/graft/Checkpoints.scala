package graft

import org.apache.spark.sql.DataFrame

/** Loop-invariant materialization with a configurable durability level.
  *
  * Iterative and multi-reference queries (q94 PageRank, q104 recursive
  * BFS, q123 triangle census, q89 SemDeDup, q107 covariance, q124
  * index insert) truncate lineage by checkpointing a frame that would
  * otherwise re-execute per reference or per iteration.
  * `localCheckpoint()` stores the blocks on executors only — fast, but
  * LOSSY under executor failure: on a real cluster a lost executor
  * takes its blocks with it and the lineage needed to recompute them
  * is gone, failing the job. Setting [[Checkpoints.DirConf]]
  * (`spark.graft.checkpointDir`) to an HDFS/S3 path switches every
  * such site to a reliable `checkpoint()` into that directory — the
  * GraphX/Pregel deployment posture for 1000-executor runs. Unset
  * (the default) keeps the fast local path, right for local[n] and
  * tests. One config flips every call site.
  */
object Checkpoints {

  /** When set to a directory, [[materialize]] writes reliable
    * checkpoints there instead of executor-local blocks. */
  val DirConf = "spark.graft.checkpointDir"

  /** Evidence hook (`Diag --plans` only): when set, every materialization
    * writes its input's `explain("formatted")` to
    * `<prefix><seq>.txt` BEFORE checkpointing — so iterative queries'
    * per-round plans are archivable even though the executed tail
    * plan is truncated at the last checkpoint boundary (the r14 q237
    * evidence gap). Never set during Bench/Verify. */
  @volatile private var dumpPrefix: Option[String] = None
  private val dumpSeq = new java.util.concurrent.atomic.AtomicInteger()
  def setDumpPrefix(prefix: Option[String]): Unit = {
    dumpPrefix = prefix
    dumpSeq.set(0)
  }
  private def dumpPlan(df: DataFrame): Unit = dumpPrefix.foreach { p =>
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$p${dumpSeq.incrementAndGet()}.txt"),
      plan.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  /** Materializes `df` and truncates its lineage: reliable
    * `checkpoint()` when [[DirConf]] is set, `localCheckpoint()`
    * otherwise. Both paths are eager.
    *
    * Round 15: routed through the graftbridge checkpoint so the
    * stored frame DECLARES the partitioning and ordering the final
    * adaptive plan actually executed with. Under AQE,
    * `Dataset.localCheckpoint` reads back as UnknownPartitioning —
    * the executed plan is an AdaptiveSparkPlanExec leaf that hides
    * the final plan's layout — so every downstream join or aggregate
    * keyed like the stored frame re-exchanged it. At the bench SF the
    * difference is noise (AQE coalesces those exchanges to one task);
    * at scale the avoided re-exchange of checkpointed loop state is a
    * full vertex-table shuffle per round (guide §2.4). Stats,
    * constraints and ordering carry over exactly as
    * Dataset.checkpoint carried them. */
  def materialize(df: DataFrame): DataFrame = checkpoint(df, None)._1

  /** [[materialize]] that ALSO returns an exact aggregate (Σ or max,
    * as BigInteger) of one LONG column, computed inside the
    * checkpoint's own forcing action. Iterative drivers that need one
    * scalar per round — FixpointCC's convergence Σ, HITS' L∞ max —
    * otherwise pay a SECOND job per round just to re-read the stored
    * blocks (guide §1.2: the per-round job count is the serial
    * dimension of a driver-side loop). None ⇔ no non-null rows. */
  def materializeAggLong(df: DataFrame, column: String, isMax: Boolean)
      : (DataFrame, Option[java.math.BigInteger]) =
    checkpoint(df, Some((df.schema.fieldIndex(column), isMax)))

  private def checkpoint(df: DataFrame, agg: Option[(Int, Boolean)])
      : (DataFrame, Option[java.math.BigInteger]) = {
    dumpPlan(df)
    val dir = df.sparkSession.conf.get(DirConf, "")
    if (dir.nonEmpty) {
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir appends a per-app UUID subdir; only (re)set
      // when the configured root changed so repeated materializations
      // share one checkpoint directory
      if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
    }
    org.apache.spark.sql.graftbridge.Bridge.checkpointAggLong(
      df, reliable = dir.nonEmpty, agg)
  }
}
