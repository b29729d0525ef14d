package graft.operators

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components via pointer-jumping min-label, run to a
  * DATA-DRIVEN fixpoint — the convergence-checked twin of q294's
  * fixed four-round unroll.
  *
  * The fixed-round discipline (q66/q94/q294) is exactly replayable by
  * an unrolled oracle, but its round count is a fixture property: on
  * an unknown-diameter production graph a 3-round unroll silently
  * under-converges — nodes beyond the covered propagation distance
  * keep a non-minimal label and NOTHING fails. This operator instead
  * loops the same pointer-jump round (self label ∪ label-of-label ∪
  * neighbor labels → per-node MIN) until a round changes no label,
  * and reports how many EFFECTIVE (label-changing) rounds ran.
  *
  * Convergence detection is FREE of extra jobs: per-node labels are
  * monotonically non-increasing (the MIN always includes the node's
  * own previous label), so Σ lbl strictly decreases exactly when any
  * label changes — an unchanged exact sum IS the fixpoint
  * certificate, and it is computed inside each round's checkpoint
  * forcing action (BigInteger — a BIGINT sum could overflow at 10^12
  * nodes × 10^12 ids; arbitrary precision cannot).
  *
  * Scale shape per round — identical to q294's, PlanSpec-pinned
  * there: two keyed shuffle_hash joins (the label table is
  * VERTEX-sized, never broadcast: a Spark broadcast collects to the
  * driver, the 100× OOM) + one min aggregate; the edge side stays on
  * its bucketed layout, exchange-free. Pointer jumping doubles the
  * propagation distance per round, so rounds = O(log diameter): the
  * driver-side loop issues O(log d) tiny actions, the only serial
  * dimension — the GraphX/Pregel superstep schedule. Every round's
  * state is materialized (the 2^k lineage-re-execution trap), and the
  * loop throws rather than spin past `maxRounds` (64 covers any
  * diameter below 2^64 — hitting it means the recurrence broke, not
  * the data).
  *
  * Oracle replay: labels-with-round-index rows (d, node, lbl) make
  * every round "new" under recursive-CTE UNION dedup, so the working
  * table is the full previous round and DuckDB replays the exact
  * recurrence; an EXISTS(change) guard stops emission at the
  * fixpoint, and MAX(d) is the same effective-round count this loop
  * returns ([[labelsSql]], q309's and q313's oracle).
  */
object FixpointCC {

  /** Failsafe ceiling on pointer-jump rounds (≥ log2 of any diameter
    * that fits in a BIGINT id space). */
  val MaxRounds = 64

  /** One pointer-jump round: per node, MIN over its label's label
    * (the doubling jump — which also covers the node's own label, see
    * below) and its in-neighbors' labels. `edges` must be symmetric
    * for undirected components (the trading layout stores both
    * directions).
    *
    * The recurrence is written with a third branch — the node's own
    * previous label — but that branch is PROVABLY redundant and is
    * not executed (round 15, guide §2.3 shuffle fewer bytes): the
    * label tables this operator produces satisfy the invariants
    * (i) lbl(x) ≤ x (init sets lbl = node; every round's MIN output
    * is ≤ the jump row ≤ the previous label), and (ii) every label
    * VALUE is a node of `l` (labels are mins over node ids and `l`
    * keeps one row per node, the node set never shrinking — the jump
    * branch re-emits every node). So for every node the jump join
    * HITS (its key lbl(x) is a node) and contributes
    * lbl(lbl(x)) ≤ lbl(x) by (i) applied at node lbl(x) — the self
    * row can never be a strict minimum below the jump row, and
    * dropping it scans the stored label table once less and shuffles
    * |V| fewer rows into the min aggregate per round. The per-round
    * RESULT is bit-identical (MIN over a superset that adds only
    * dominated rows); CcFixpointSpec pins this against the 3-branch
    * reference. Callers seeding `l` themselves must preserve (i)+(ii)
    * — q294's least(dst, min src) seed does. */
  def step(edges: DataFrame, l: DataFrame): DataFrame = {
    val jump = l.alias("a")
      .join(l.alias("b").hint("shuffle_hash"), col("a.lbl") === col("b.node"))
      .select(col("a.node").as("node"), col("b.lbl").as("lbl"))
    val nbr = edges.join(l.hint("shuffle_hash"), col("node") === col("src"))
      .select(col("dst").as("node"), col("lbl"))
    jump.unionByName(nbr)
      .groupBy("node").agg(min(col("lbl")).as("lbl"))
  }

  /** The literal 3-branch recurrence (self ∪ jump ∪ neighbor) — the
    * reference [[step]] is proven equal to; kept for the spec pin. */
  private[operators] def stepReference(edges: DataFrame, l: DataFrame)
      : DataFrame = {
    val self = l.select(col("node"), col("lbl"))
    val jump = l.alias("a")
      .join(l.alias("b").hint("shuffle_hash"), col("a.lbl") === col("b.node"))
      .select(col("a.node").as("node"), col("b.lbl").as("lbl"))
    val nbr = edges.join(l.hint("shuffle_hash"), col("node") === col("src"))
      .select(col("dst").as("node"), col("lbl"))
    self.unionByName(jump).unionByName(nbr)
      .groupBy("node").agg(min(col("lbl")).as("lbl"))
  }

  /** Fixed-round unroll of [[step]] from the label table `seed` —
    * q294's discipline, which CcFixpointSpec runs from [[init]] to
    * demonstrate the under-convergence it hides on a long-diameter
    * graph. */
  def bounded(edges: DataFrame, seed: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(Checkpoints.materialize(seed)) { (l, k) =>
      if (k < rounds) Checkpoints.materialize(step(edges, l))
      else step(edges, l)
    }

  /** Runs [[step]] to fixpoint. Returns (labels `(node, lbl)`,
    * effective rounds run — rounds that changed at least one label;
    * the loop executes one extra confirming round that is not
    * counted, matching the oracle's MAX(d)).
    *
    * The convergence certificate (exact Σ lbl — monotone, so an
    * unchanged sum ⇔ fixpoint; BigInteger, so no overflow at any
    * scale) is folded INTO each round's checkpoint forcing action
    * (Checkpoints.materializeAggLong): one Spark job per round where
    * the round-14 shape paid two (materialize, then a separate
    * re-read-and-sum job over the stored blocks). Guide §1.2 — the
    * driver-side job count is the loop's serial dimension. */
  def run(edges: DataFrame, maxRounds: Int = MaxRounds): (DataFrame, Long) = {
    var (cur, curSum) =
      Checkpoints.materializeAggLong(init(edges), "lbl", isMax = false)
    var rounds = 0L
    var converged = false
    while (!converged) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"FixpointCC did not converge within $maxRounds pointer-jump rounds")
      val (nxt, nxtSum) =
        Checkpoints.materializeAggLong(step(edges, cur), "lbl", isMax = false)
      if (nxtSum == curSum) converged = true
      else { cur = nxt; curSum = nxtSum; rounds += 1 }
    }
    (cur, rounds)
  }

  /** The DuckDB replay of [[run]] (see "Oracle replay" above), the
    * oracle of q309 and q313: `edgesCtes` is a WITH-clause body ending
    * in a symmetric `edges(src, dst)`; the query returns the fixpoint
    * labels as (`nodeAs`, `lblAs`) plus `rounds_run`. */
  def labelsSql(edgesCtes: String, nodeAs: String, lblAs: String): String =
    s"""
        WITH RECURSIVE $edgesCtes,
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        lab(d, node, lbl) AS (
          SELECT 0, node, node FROM nodes
          UNION
          SELECT nx.d, nx.node, nx.lbl
          FROM (
            SELECT u.d + 1 AS d, u.node, MIN(u.lbl) AS lbl FROM (
              SELECT d, node, lbl FROM lab
              UNION ALL
              SELECT a.d, a.node, b.lbl FROM lab a JOIN lab b ON b.node = a.lbl
              UNION ALL
              SELECT l.d, e.dst AS node, l.lbl FROM edges e JOIN lab l ON l.node = e.src
            ) u GROUP BY u.d, u.node
          ) nx
          WHERE EXISTS (
            SELECT 1 FROM (
              SELECT u2.node, MIN(u2.lbl) AS lbl FROM (
                SELECT d, node, lbl FROM lab
                UNION ALL
                SELECT a.d, a.node, b.lbl FROM lab a JOIN lab b ON b.node = a.lbl
                UNION ALL
                SELECT l.d, e.dst AS node, l.lbl FROM edges e JOIN lab l ON l.node = e.src
              ) u2 GROUP BY u2.node
            ) n2 JOIN lab pv ON pv.node = n2.node AND pv.lbl <> n2.lbl)
        )
        SELECT node AS $nodeAs, lbl AS $lblAs,
               CAST((SELECT MAX(d) FROM lab) AS BIGINT) AS rounds_run
        FROM lab WHERE d = (SELECT MAX(d) FROM lab)"""

  /** Every node labeled with its own id. Symmetric edges ⇒ the src
    * column alone covers the node set. */
  private[operators] def init(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
}
