package graft.operators

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared bucketed layouts of the customer⇄supplier trading graph —
  * the pay-the-shuffle-once-at-ingest move q259 demonstrates,
  * promoted to the layout every graph query consumes (q94's
  * PageRank, q104's BFS, q123's triangle census, q157's label
  * propagation, q228's weighted shortest paths, q259's report).
  *
  * Since round 10 the layout is DURABLE: artifacts live under the
  * [[LayoutCatalog]] root keyed by a content fingerprint of the
  * corpus files they derive from, so a SECOND JVM (the production
  * contract: many jobs, one ingest) resolves them from disk instead
  * of re-paying the fact⋈fact derivation. A changed corpus snapshot
  * fingerprints to a new directory and rebuilds, in the same JVM too
  * ([[LayoutCatalog.resolve]] keys its memo on the fingerprint).
  *
  * Two artifacts, one derivation — both now WEIGHTED (round-9's
  * distinct layout forced q228 to re-run the fact join just for its
  * per-pair line counts; the count column costs 8 bytes/pair and
  * retires that whole join):
  *
  *   - `pairs`  — (c, s, n) with n = order-line count of the pair,
  *     CLUSTERED BY c: the one-mode-projection layout (per-customer
  *     degree caps and the c-keyed self-join run on the bucket
  *     partitioning); unweighted consumers project n away, which
  *     preserves the bucketing.
  *   - `edges`  — both directions (src, dst, n) with suppliers
  *     encoded −(s+1), CLUSTERED BY src: the vertex-program layout
  *     (degree/strength windows and every frontier⋈edges join consume
  *     it with no exchange on the edge side).
  *
  * Each table is one bucketed [[LayoutCatalog.Table]]: one file per
  * bucket, so the scan reports HashPartitioning(key, B) with B the
  * corpus's bucket count (4 at every fixture scale, 32 from 2 GiB of
  * orders + lineitem), and catalog names hashed from the published
  * location, so registration is idempotent if the SparkSession is
  * recreated.
  *
  * Semantics are a layout only: every consumer's oracle derives the
  * identical pair list straight from parquet.
  */
object EdgeLayout {

  /** Bump when the BUILD semantics change (v2 = weighted pairs, v3 =
    * adds the supplier-bucketed pairs copy, v4 = every bucket file
    * sorted by its whole key, v5 = bucket count sized to the corpus),
    * so an upgraded engine never misreads an older artifact as
    * current. */
  val LayoutVersion = 5

  private val Facts = Seq("orders", "lineitem")

  /** The one derivation both tables share: (c, s, n) trading pairs
    * with their order-line counts. Orders and lineitem are BOTH fact
    * tables (each grows with the corpus), so the pair join is a
    * sort-merge join on the order key — never a broadcast, which
    * would collect a corpus-sized projection to the driver at 100×. */
  private def derivePairs(s: SparkSession, dir: String): DataFrame = {
    // input-scaled shuffle width for the fact⋈fact sort-merge join:
    // one partition per ~64 MB of input holds the per-partition sort
    // at n·log(64 MB) instead of n·log(n/32) — the q192 fixed-width
    // cliff, fenced at the ingest join too. At the test SFs this
    // equals the session default, so the build plan there is
    // unchanged; the bucketed writes below take the artifact's own
    // corpus-sized bucket count either way.
    val np = graft.Tables.scaledPartitions(s, dir, Facts)
    val orders = graft.Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .repartition(np, col("o_orderkey"))
      .hint("merge")
    graft.Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .repartition(np, col("l_orderkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .agg(count(lit(1)).as("n"))
  }

  /** The three tables, each bucket file sorted by the table's whole
    * key — (c, s), (s, c), (src, dst), all unique — so the bytes are a
    * function of the row set alone; sorting by the bucket key only
    * left rows that share it in a per-run order. */
  private val Pairs = LayoutCatalog.Table("pairs", "c BIGINT, s BIGINT, n BIGINT",
    Seq("c", "s"), LayoutCatalog.Bucketed)
  private val PairsS = Pairs.copy(leaf = "pairs_s", key = Seq("s", "c"))
  private val Edges = LayoutCatalog.Table("edges",
    "src BIGINT, dst BIGINT, n BIGINT", Seq("src", "dst"), LayoutCatalog.Bucketed)

  /** Build the three tables under the artifact temp dir `tmp`. */
  private def buildInto(s: SparkSession, dir: String, tmp: File): Unit =
    Pairs.write(derivePairs(s, dir), dir, Facts, tmp) { pairs =>
      // v3: the SAME pair rows bucketed by the supplier key — s-keyed
      // consumers (HITS' authority steps, supplier-side joins)
      // otherwise re-shuffle the pair corpus by s on EVERY execution;
      // one more bucketed write at ingest retires that shuffle for
      // all of them (guide §2.4: bucketed tables persist a
      // partitioning across jobs). Built from the pairs read-back — a
      // bucketed scan, not a re-run of the fact⋈fact join.
      PairsS.write(pairs, dir, Facts, tmp)()
      // both edge directions from ONE explode pass over the pairs
      // table read-back (cheap: a bucketed scan, not the fact join)
      Edges.write(
        pairs.select(explode(array(
            struct(col("c").as("src"), (-(col("s") + 1)).as("dst"),
              col("n")),
            struct((-(col("s") + 1)).as("src"), col("c").as("dst"),
              col("n")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.n").as("n")),
        dir, Facts, tmp)()
    }

  /** The published layout of `dir`. */
  private def built(s: SparkSession, dir: String): File =
    LayoutCatalog.resolve(s"edges_v$LayoutVersion", dir, Facts, "")(
      buildInto(s, dir, _))

  /** Distinct (c, s) trading pairs, bucketed by c — exchange-free
    * input for c-keyed aggregates and self-joins. (A projection of
    * the weighted table; pruning n keeps the bucketing.) */
  def pairs(s: SparkSession, dir: String): DataFrame =
    weightedPairs(s, dir).select("c", "s")

  /** The SAME distinct (c, s) pairs bucketed by s — exchange-free
    * input for supplier-keyed aggregates and joins (v3). */
  def pairsBySupplier(s: SparkSession, dir: String): DataFrame =
    PairsS.read(s, built(s, dir)).select("c", "s")

  /** (c, s, n) trading pairs with order-line counts, bucketed by c. */
  def weightedPairs(s: SparkSession, dir: String): DataFrame =
    Pairs.read(s, built(s, dir))

  /** Symmetric (src, dst) edge list (suppliers −(s+1)), bucketed by
    * src — exchange-free edge side for every vertex-program join. */
  def edges(s: SparkSession, dir: String): DataFrame =
    weightedEdges(s, dir).select("src", "dst")

  /** Symmetric (src, dst, n) edge list with per-edge line counts,
    * bucketed by src — the weighted vertex-program layout (q228's
    * friction weights, q284's volume-weighted rank). */
  def weightedEdges(s: SparkSession, dir: String): DataFrame =
    Edges.read(s, built(s, dir))
}
