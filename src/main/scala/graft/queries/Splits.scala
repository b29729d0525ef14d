package graft.queries

import graft.operators.LayoutCatalog.Split
import org.apache.spark.sql.functions.col

/** The two LSM splits the query library's text and vector indexes
  * read, each defined once for every family, ingest hook and query
  * that resolves it. `id` names the corpus's id column (`doc_id` for
  * documents, `vec_id` for embeddings). The DuckDB oracles restate
  * the same predicates in SQL on purpose: they are the independent
  * reference. */
object Splits {

  /** One delta: today's batch is `id % 10 = 0`, the archive every
    * other row (q288/q290, q289/q291/q297). */
  def d10(id: String): Split = {
    val today = col(id) % 10 === 0
    Split("d10", !today, Seq(today))
  }

  /** Five daily appends `id % 10 = 5..9` over a stable archive
    * `id % 10 <= 4` — past the fold rung (q295/q298, q296, q312). */
  def c10(id: String): Split =
    Split("c10", col(id) % 10 <= 4, (5 to 9).map(i => col(id) % 10 === i))
}
