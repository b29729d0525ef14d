package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the
  * bridging now lives in private[sql] classic.ExpressionUtils. This
  * object re-exports the two conversions for graft's custom expressions
  * (placed under org.apache.spark.sql.* for package-private access —
  * the standard technique for Catalyst extensions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw LogicalPlan (classic.Dataset.ofRows is
    * private[sql]); used to surface custom logical operators. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame (queryExecution is classic-only). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Eager local/reliable checkpoint that declares WHATEVER
    * partitioning the final (adaptive) plan actually executed with —
    * the partitioning `Dataset.localCheckpoint` would have preserved
    * if AQE did not hide it behind the AdaptiveSparkPlanExec leaf.
    * Declaring the executed layout is definitionally sound (no
    * verification needed); attribute references are rewritten onto the
    * analyzed output, and a partitioning that references anything else
    * degrades to UnknownPartitioning — exactly the old behavior.
    *
    * `agg = Some((ordinal, isMax))` additionally folds a LONG column
    * aggregate into the checkpoint's own forcing action — iterative
    * drivers that need one scalar per round (a convergence Σ, an L∞
    * max) otherwise pay a SECOND job per round just to read it back
    * from the stored blocks: exact BigInteger sum of (or max over) the
    * non-null values of that column; empty input and all-null both
    * yield None. `agg = None` forces with a bare count and returns
    * None. */
  def checkpointAggLong(df: org.apache.spark.sql.DataFrame,
      reliable: Boolean, agg: Option[(Int, Boolean)])
      : (org.apache.spark.sql.DataFrame, Option[java.math.BigInteger]) = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    // the forcing action: a bare count when no scalar is needed,
    // otherwise the requested aggregate (either one materializes the
    // checkpoint — every partition is computed exactly once)
    val scalar: Option[java.math.BigInteger] = agg match {
      case None =>
        rdd.count(); None
      case Some((ordinal, isMax)) =>
        Option(rdd.aggregate(null: java.math.BigInteger)(
          (acc, row) => {
            if (row.isNullAt(ordinal)) acc
            else {
              val v = java.math.BigInteger.valueOf(row.getLong(ordinal))
              if (acc == null) v
              else if (isMax) acc.max(v)
              else acc.add(v)
            }
          },
          (a, b) =>
            if (a == null) b else if (b == null) a
            else if (isMax) a.max(b) else a.add(b)))
    }
    val finalPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val out = qe.analyzed.output
    val byId = finalPlan.output.map(_.exprId).zip(out).toMap
    val part = finalPlan.outputPartitioning
    val declared: Partitioning = part match {
      case e: Expression =>
        if (e.references.forall(a => byId.contains(a.exprId)))
          e.transform { case a: AttributeReference => byId(a.exprId) }
            .asInstanceOf[Partitioning]
        else UnknownPartitioning(rdd.getNumPartitions)
      case p => p // attribute-free partitionings carry over unchanged
    }
    // output ordering survives the same rewrite (a stored frame that
    // was sorted within partitions can skip a downstream re-sort)
    val ordering = finalPlan.outputOrdering.flatMap { so =>
      if (so.references.forall(a => byId.contains(a.exprId)))
        Some(so.transform { case a: AttributeReference => byId(a.exprId) }
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder])
      else None
    }
    // stats/constraints exactly as Dataset.checkpoint carries them —
    // without originStats the stored frame loses its size estimate and
    // previously-automatic broadcasts degrade to sort-merge joins
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(qe.analyzed, qe.optimizedPlan)
    (org.apache.spark.sql.classic.Dataset.ofRows(
      session,
      LogicalRDD(out, rdd, declared, ordering)(
        session, stats, constraints)), scalar)
  }
}
