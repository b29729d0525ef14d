package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Cleaning, Curation, Events, Graph, Layout, Matching, Multimodal, Relational, TextOps, Vectors}

/** The query registry `queries`, its DuckDB oracles `oracleSql`, and
  * the flagship `entry` (SURVEY.md §7).
  *
  * The registry is every family's `all` (graft.queries.*), in the
  * order of `allQueries`. Each query is described by its header
  * comment in its family file; OPERATORS.md maps every operator to the
  * queries and specs that exercise it.
  */
object SparkEntry {

  val allQueries: Seq[Q] =
    Relational.all ++ Events.all ++ TextOps.all ++ Vectors.all ++
      Cleaning.all ++ Multimodal.all ++ Curation.all ++ Matching.all ++
      Layout.all ++ Graph.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.find(_.name == "q05_regional_revenue").get
      .build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
