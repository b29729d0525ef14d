package graft

import org.apache.spark.sql.SparkSession

/** One-shot ingest: (re)build every durable [[graft.operators.LayoutCatalog]]
  * artifact the registered queries resolve, from the raw parquet inputs.
  *
  * The catalog's contract is "pay the derivation once AT INGEST, then
  * every job reads the published layout" — which means the derivation
  * cost is real but lives outside any single query. Until round 15 the
  * bench never *showed* that cost: artifacts built in an earlier session
  * survived on disk, so artifact-riding queries (q299/q307/q313, the
  * LSM text/vector families, the graph layout) never paid their build in
  * ANY measured run. This entry point makes the cost visible: Bench
  * deletes the catalog root and calls [[buildAll]] under its own timer,
  * reported as `ingest_sec` — query timings stay pure read-path, and
  * the artifact subsidy is now a declared, measured line item.
  *
  * Coverage: each query family owns an `ingestArtifacts` hook that calls
  * the same resolver entry points its queries call, with the same
  * parameters (no constant is duplicated here). The LSM split
  * artifacts are named by one split value per artifact
  * ([[graft.queries.Splits]]: d10 and c10), which the hook and the
  * queries that read it share, so the two cannot drift apart.
  * Completeness is self-audited at run time: Bench records
  * [[graft.operators.LayoutCatalog.buildsPublished]] after ingest and
  * reports any build that happens during warm-up/measured rounds as
  * `late_builds` (expected 0).
  */
object Ingest {

  /** The independent artifact groups, with display names for the job
    * description / timing log. Groups share no artifact except the
    * pair graph (listed in its own group AND resolved by TextOps'
    * hook — [[graft.operators.LayoutCatalog.resolve]]'s once-per-key
    * memo makes the second caller wait for the first build and read
    * its location). */
  private def groups(s: SparkSession, dir: String)
      : Seq[(String, () => Unit)] = Seq(
    // trading-graph bucketed layout (edges_v5: pairs + pairs_s +
    // edges) — the whole graph family rides it
    ("edge_layout", () => { graft.operators.EdgeLayout.pairs(s, dir); () }),
    // exact near-dup pair graph (pairs07_v3) — q299/q307/q313
    ("pair_graph", () =>
      { graft.operators.PairGraph.qualifyingPairs(s, dir); () }),
    // lexical text indexes (lexical_v4), incl. the d10 incremental
    // and c10 LSM splits
    ("lexical_index", () => queries.Matching.ingestArtifacts(s, dir)),
    // positional index LSM split (positional_v2 c10) + the pair graph
    ("positional_index", () => queries.TextOps.ingestArtifacts(s, dir)),
    // IVF centroids + IVF-PQ codes (ivf_v2, ivfpq_v3), including the
    // d10 incremental and c10 LSM splits
    ("vector_index", () => queries.Vectors.ingestArtifacts(s, dir)))

  /** Build every artifact for `dir`. Idempotent: entry points resolve
    * from disk when the fingerprinted artifact already exists.
    *
    * The groups run CONCURRENTLY on a small driver-side thread pool
    * (guide §2.6 — Spark happily schedules several jobs at once, and
    * actions are only sequential because the driver calls them
    * sequentially): each build is a chain of small jobs whose stages
    * never fill the cluster alone (bucketed writes, Lloyd rounds,
    * per-segment index writes), so one group's scheduling gaps and
    * stage tails back-fill with another group's tasks. Every builder
    * funnels through LayoutCatalog.resolve, whose once-per-key memo
    * holds no map lock while a build runs: concurrent resolution of
    * the same artifact waits for one build, distinct artifacts build
    * in parallel into distinct process-tagged temp dirs — in-process
    * concurrency was already the contract (the cross-JVM publish race
    * is handled the same way). */
  def buildAll(s: SparkSession, dir: String): Unit = {
    def timed(name: String, f: () => Unit): Unit = {
      s.sparkContext.setJobDescription(s"ingest: $name")
      val t0 = System.nanoTime()
      f()
      System.err.println(
        f"[ingest] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val gs = groups(s, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(gs.size)
    try {
      // job descriptions/groups are thread-local: set inside each
      // pool thread, so every group's jobs are labelled correctly
      val fs = gs.map { case (n, f) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = timed(n, f)
        })
      }
      // propagate the FIRST failure (get unwraps in submit order —
      // deterministic enough for a build that must simply all pass)
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Standalone ops entry point: wipe the catalog root and rebuild
    * everything, timed. Args: [sfDir]. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val s = graft.pipeline.SparkSessionFactory.local()
    graft.operators.LayoutCatalog.deleteRecursively(
      graft.operators.LayoutCatalog.root)
    val t0 = System.nanoTime()
    buildAll(s, dir)
    val sec = (System.nanoTime() - t0) / 1e9
    val builds = graft.operators.LayoutCatalog.buildsPublished.get()
    s.stop()
    println(f"""{"ingest_sec":$sec%.3f,"ingest_builds":$builds}""")
  }
}
