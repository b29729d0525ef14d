package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Every registered query builds and executes on the sf0.001 tables,
  * and the queries that must be non-empty are non-empty. Each query is
  * forced through `queryExecution.toRdd.count()`, as Bench forces it: a
  * bare `df.count()` lets Catalyst prune the projections the count does
  * not read, so kernels that only feed output columns would never run.
  * The exact value-level check is the DuckDB oracle
  * (tools/check_oracle.py). */
class QueriesSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // tiny-SF quirks: at sf0.001 every customer has an order above the
  // anti-join threshold complement, buckets may not collide, etc.
  private val mayBeEmptyAtTinySf = Set("q39_cosine_neardup", "q14_except")

  SparkEntry.allQueries.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      val n = q.build(spark, sfDir).queryExecution.toRdd.count()
      if (!mayBeEmptyAtTinySf(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
