package graft.queries

import graft.{Checkpoints, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics expressed as keyed joins + aggregations — the Spark
  * formulation of iterative vertex programs (PageRank here; q66's
  * min-label connected components lives with the dedup operators it
  * serves in operators/MinHashLsh).
  *
  * Scale notes: each PageRank iteration is ONE join of the edge table
  * with the rank table on the source key plus one aggregation on the
  * destination key — the canonical two-shuffle vertex-program step.
  * The rank side is VERTEX-SIZED (it grows with the corpus), so it is
  * never broadcast: a Spark broadcast collects to the driver first,
  * which is an OOM at 100× — the join is pinned to a shuffled hash
  * join (`hint("shuffle_hash")`, PlanSpec-enforced). Edges and ranks
  * hash-partition on the vertex id; nothing is ever collected,
  * broadcast, or materialized driver-side, so the iteration count is
  * the only serial dimension. The materialized edge list keeps its
  * src partitioning across iterations (LogicalRDD preserves
  * outputPartitioning through the checkpoint), exactly how
  * GraphX/Pregel schedule it.
  *
  * Cross-engine determinism: ranks are FIXED-POINT integers (×10⁴).
  * Each step is r' = 1500 + (85 · Σ_in (r div outdeg)) div 100 — all
  * BIGINT floor arithmetic, so both engines produce bit-identical
  * ranks at every iteration (no float summation order, no libm). A
  * fixed iteration count (3) unrolls into plain SQL for the oracle,
  * like q66's label propagation.
  */
object Graph {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Fixed-point scale: rank 1.0 ≡ 10000. Damping 0.85 becomes
    * ·85 div 100; teleport (1−d) becomes +1500. */
  private val rankOne = 10000L

  /** The shared trading-graph edge CTEs (q94 + q104 oracles): distinct
    * (custkey, suppkey) pairs, both directions, suppliers negative. */
  private val pairsEdgesCte = """
        pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        edges AS (
          SELECT c AS src, -(s + 1) AS dst FROM pairs
          UNION ALL
          SELECT -(s + 1) AS src, c AS dst FROM pairs)"""

  /** The Spark side consumes the SHARED BUCKETED LAYOUT
    * (operators/EdgeLayout): the symmetric (src, dst) edge list,
    * derived once per JVM+sf-dir (fact⋈fact sort-merge, one explode
    * pass) and written as a table of B buckets (sized to the corpus
    * by LayoutCatalog.buckets) CLUSTERED BY src — so
    * every graph query's edge side is a bucketed scan that already
    * satisfies src-keyed windows, joins and aggregates with NO
    * exchange and NO per-query re-derivation. Columns: (src, dst). */
  private def tradingEdges(s: SparkSession, dir: String): DataFrame =
    graft.operators.EdgeLayout.edges(s, dir)

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q94
    // Fixed-point PageRank, 3 iterations, over the customer↔supplier
    // trading graph: a distinct (custkey, suppkey) pair exists per
    // order line connecting them; edges run BOTH directions (suppliers
    // encoded as -(s+1): strictly negative ids, so supplier 0 cannot
    // collide with customer 0 — both key domains start at 0 in the
    // fixtures), so the graph is symmetric and every
    // node has out-degree ≥ 1 — no dangling-mass correction needed.
    // Output: every node's integer rank after 3 iterations.
    Q(
      "q94_pagerank",
      Some(s"""
        WITH $pairsEdgesCte,
        deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        ed AS (
          SELECT e.src, e.dst, d.outdeg
          FROM edges e JOIN deg d ON d.src = e.src),
        r0 AS (SELECT src AS node, CAST($rankOne AS BIGINT) AS r FROM deg),
        r1 AS (
          SELECT ed.dst AS node,
                 CAST(1500 + (85 * SUM(r.r // ed.outdeg)) // 100 AS BIGINT) AS r
          FROM ed JOIN r0 r ON r.node = ed.src GROUP BY ed.dst),
        r2 AS (
          SELECT ed.dst AS node,
                 CAST(1500 + (85 * SUM(r.r // ed.outdeg)) // 100 AS BIGINT) AS r
          FROM ed JOIN r1 r ON r.node = ed.src GROUP BY ed.dst),
        r3 AS (
          SELECT ed.dst AS node,
                 CAST(1500 + (85 * SUM(r.r // ed.outdeg)) // 100 AS BIGINT) AS r
          FROM ed JOIN r2 r ON r.node = ed.src GROUP BY ed.dst)
        SELECT node, r AS rank_fp FROM r3""")
    ) { (s, dir) =>
      // Shared bucketed edge layout; out-degree attaches as a window
      // count over the BUCKET partitioning (no degree join, no
      // exchange: the src-bucketed scan already satisfies the
      // window's clustering). The bucketed table IS the materialized
      // loop invariant — rounds 1-7 checkpointed a re-derived edge
      // pipeline here (5.1s → 2.7s at sf0.1); with the layout the
      // per-iteration re-reference costs one bucketed scan + a local
      // window, so the checkpoint (and its lineage-hiding RDD scan)
      // is gone and the plan shows the exchange-free edge side that
      // PlanSpec pins.
      val ed = tradingEdges(s, dir)
        .withColumn("outdeg", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("src")))
      // node set off the materialized edges — never re-derives the base
      val r0 = ed.select(col("src").as("node")).distinct()
        .withColumn("r", lit(rankOne))
      // the rank table is VERTEX-SIZED — it grows with the corpus, so
      // broadcasting it (a driver-side collect) is the 100× OOM. The
      // shuffle_hash hint pins a shuffled hash join: ranks shuffle on
      // node (they just aggregated on it — cheap), the edge side keeps
      // its materialized src partitioning, and the per-partition build
      // is O(vertices/partitions) — the scale-safe vertex step.
      val r3 = (1 to 3).foldLeft(r0) { (r, _) =>
        ed.join(r.hint("shuffle_hash"), col("node") === col("src"))
          .groupBy(col("dst"))
          .agg(sum(expr("r div outdeg")).as("contrib"))
          .select(col("dst").as("node"),
            expr("CAST(1500 + (85 * contrib) div 100 AS BIGINT)").as("r"))
      }
      r3.select(col("node"), col("r").as("rank_fp"))
    },

    // ---------------------------------------------------------------- q104
    // Bounded BFS via WITH RECURSIVE (Spark 4 recursive CTEs ==
    // DuckDB's): all ≤ 2-hop walks from the seed customer through the
    // trading graph, reduced to min-hop distance + walk count per
    // reached node. The depth bound makes the recursion finite and
    // the walk count exact in both engines (UNION ALL recursion —
    // identical multiset semantics); the path volume is Σ
    // deg^depth of the frontier, bounded here by deg(seed)·max-supplier-
    // degree. Each recursive step is one keyed equi-join of the
    // frontier against the edge table — the same two-shuffle vertex
    // step as q94, just driven by the engine's recursion operator
    // instead of an unrolled fold.
    Q(
      "q104_recursive_bfs",
      Some(s"""
        WITH RECURSIVE $pairsEdgesCte,
        reach(node, depth) AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
          UNION ALL
          SELECT e.dst AS node, r.depth + 1 AS depth
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.depth < 2)
        SELECT node, CAST(MIN(depth) AS BIGINT) AS hops, COUNT(*) AS n_walks
        FROM reach GROUP BY node""")
    ) { (s, dir) =>
      // the bucketed edge table replaces the checkpointed view: a CTE
      // inlines into every recursion level, which used to re-derive
      // the orders⋈lineitem distinct per depth — now each level costs
      // one bucketed scan (the layout is the materialization)
      tradingEdges(s, dir).createOrReplaceTempView("g_edges")
      s.sql("""
        WITH RECURSIVE
        reach(node, depth) AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
          UNION ALL
          SELECT e.dst AS node, r.depth + 1 AS depth
          FROM reach r JOIN g_edges e ON e.src = r.node
          WHERE r.depth < 2)
        SELECT node, CAST(MIN(depth) AS BIGINT) AS hops, COUNT(*) AS n_walks
        FROM reach GROUP BY node""")
    },

    // --------------------------------------------------------------- q123
    // Triangle census of the supplier co-trading graph. The bipartite
    // customer↔supplier graph has no triangles, so the classic move is
    // the one-mode PROJECTION: suppliers are adjacent iff they share a
    // customer. Projection cost is Σ_c deg(c)², so customers above a
    // degree cap (20 suppliers) are DROPPED first — the q87 stop-cap
    // contract, which bounds candidate pairs at any corpus size. Edges
    // store only u < v (a total orientation: each triangle counted
    // exactly once as u < v < w). Counting runs the FORWARD algorithm:
    // triangles per edge = |adj⁺(u) ∩ adj⁺(v)| over sorted oriented
    // adjacency arrays — the 10M-row wedge table the naive
    // wedge-join-then-close plan materializes at sf0.1 never exists
    // (2.9s → see BENCHNOTES), and the wedge COUNT comes free from the
    // degree table as Σ_v in⁺(v)·out⁺(v). The adjacency table is
    // VERTEX-SIZED — it grows with the corpus — so the two closure
    // joins are pinned to shuffled hash joins on u / v
    // (hint("shuffle_hash"), PlanSpec-enforced): broadcasting adj
    // collects it to the driver first, the 100× OOM. Adjacency-array
    // width for hub suppliers is bounded in practice by the customer
    // cap (a supplier's projected degree ≤ 20 × its customer count);
    // a corpus where supplier hubs still blow the array out would add
    // a supplier-side cap with the same declared-bound contract as
    // q87's stop-bucket. Only the four ONE-ROW aggregates broadcast.
    // All counts exact BIGINTs; the closure ratio is one final division.
    Q(
      "q123_triangle_census",
      Some("""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        keepc AS (
          SELECT c FROM pairs GROUP BY c HAVING COUNT(*) <= 20),
        kp AS (SELECT p.c, p.s FROM pairs p JOIN keepc USING (c)),
        proj AS (
          SELECT DISTINCT a.s AS u, b.s AS v
          FROM kp a JOIN kp b ON a.c = b.c AND a.s < b.s),
        deg AS (
          SELECT node, CAST(SUM(outc) AS BIGINT) AS outp,
                 CAST(SUM(inc) AS BIGINT) AS inp
          FROM (
            SELECT u AS node, 1 AS outc, 0 AS inc FROM proj
            UNION ALL
            SELECT v AS node, 0 AS outc, 1 AS inc FROM proj) t
          GROUP BY node),
        adj AS (SELECT u, list_sort(list(v)) AS nbrs FROM proj GROUP BY u),
        tri AS (
          SELECT CAST(SUM(coalesce(len(list_intersect(au.nbrs, av.nbrs)), 0)) AS BIGINT)
                   AS n_triangles
          FROM proj e
          JOIN adj au ON au.u = e.u
          LEFT JOIN adj av ON av.u = e.v)
        SELECT CAST((SELECT COUNT(DISTINCT s) FROM kp) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM proj) AS BIGINT) AS n_edges,
               CAST((SELECT SUM(inp * outp) FROM deg) AS BIGINT) AS n_wedges,
               tri.n_triangles,
               CAST(tri.n_triangles AS DOUBLE)
                 / (SELECT SUM(inp * outp) FROM deg) AS closure_ratio
        FROM tri""")
    ) { (s, dir) =>
      // shared bucketed pair layout (CLUSTERED BY c): the degree cap,
      // the cap semi-join and the one-mode self-join all run on the
      // bucket partitioning — no exchange, no per-query fact⋈fact
      // re-derivation (the round-8 shape paid the sort-merge join +
      // distinct here every run)
      val pairs = graft.operators.EdgeLayout.pairs(s, dir)
      // keepc is CUSTOMER-sized (grows with the corpus) — broadcasting
      // it is the vertex-broadcast trap; as an aggregate over the
      // bucketed scan it KEEPS HashPartitioning(c, B), so the pinned
      // shuffled-hash join needs no exchange on either side
      val keepc = pairs.groupBy("c").agg(count(lit(1)).as("dc"))
        .filter(col("dc") <= 20).select("c")
        .hint("shuffle_hash")
      val kp = pairs.join(keepc, "c")
      // kp re-references cost one bucketed scan each (no checkpoint
      // needed); proj is the expensive Σdeg² blow-up consumed FOUR
      // times — materialize once (the q94/q104 loop-invariant lesson)
      val kpM = kp
      val proj = Checkpoints.materialize(kpM.as("a")
        .join(kpM.as("b"),
          col("a.c") === col("b.c") && col("a.s") < col("b.s"))
        .select(col("a.s").as("u"), col("b.s").as("v"))
        .distinct())
      val deg = proj.select(col("u").as("node"), lit(1L).as("outc"), lit(0L).as("inc"))
        .unionAll(proj.select(col("v").as("node"), lit(0L).as("outc"), lit(1L).as("inc")))
        .groupBy("node").agg(sum("outc").as("outp"), sum("inc").as("inp"))
      val adj = proj.groupBy("u").agg(sort_array(collect_list(col("v"))).as("nbrs"))
      // vertex-sized adjacency attaches via shuffled hash joins on the
      // edge endpoints — never broadcast (see the scale note above)
      val tri = proj
        .join(adj.select(col("u").as("au"), col("nbrs").as("nu"))
          .hint("shuffle_hash"), col("au") === col("u"))
        .join(adj.select(col("u").as("av"), col("nbrs").as("nv"))
          .hint("shuffle_hash"), col("av") === col("v"), "left")
        .agg(sum(coalesce(size(array_intersect(col("nu"), col("nv"))), lit(0))
          .cast("long")).as("n_triangles"))
      // four one-row aggregates composed in ONE declarative plan
      // (broadcast cross joins) — no driver-side .count() loops
      kpM.agg(count_distinct(col("s")).as("n_nodes"))
        .crossJoin(broadcast(proj.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(deg.agg(sum(col("inp") * col("outp")).as("n_wedges"))))
        .crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          (col("n_triangles").cast("double") / col("n_wedges")).as("closure_ratio"))
    },

    // --------------------------------------------------------------- q157
    // Synchronous label propagation (2 unrolled rounds) over the
    // trading graph — community DETECTION, distinct from q66's
    // min-label connected components: each round every vertex adopts
    // the MODE of its neighbors' labels (tie → smallest label), so
    // labels coalesce inside densely-connected neighborhoods instead
    // of flooding whole components. Labels init to the vertex id.
    // Each round is the same two-shuffle vertex step as q94 — a keyed
    // join of edges with the vertex-sized label table (shuffled hash
    // join, NEVER broadcast — the q94 scale rule) then a (dst, label)
    // count and a composite argmax (q138's max_by over (c, −label),
    // bit-deterministic because labels are distinct within a group).
    // The oracle unrolls both rounds; mode-with-min-tiebreak is
    // replayed there as max-count join + MIN. Fixed round count keeps
    // the plan finite and cross-engine identical; the edge table is
    // materialized once (q94/q104 loop-invariant lesson).
    Q(
      "q157_label_propagation",
      Some(s"""
        WITH $pairsEdgesCte,
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        c1 AS (
          SELECT e.dst AS node, l.label, COUNT(*) AS c
          FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        m1 AS (SELECT node, MAX(c) AS mc FROM c1 GROUP BY node),
        l1 AS (
          SELECT c.node, CAST(MIN(c.label) AS BIGINT) AS label
          FROM c1 c JOIN m1 m ON m.node = c.node AND c.c = m.mc
          GROUP BY c.node),
        c2 AS (
          SELECT e.dst AS node, l.label, COUNT(*) AS c
          FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        m2 AS (SELECT node, MAX(c) AS mc FROM c2 GROUP BY node),
        l2 AS (
          SELECT c.node, CAST(MIN(c.label) AS BIGINT) AS label
          FROM c2 c JOIN m2 m ON m.node = c.node AND c.c = m.mc
          GROUP BY c.node)
        SELECT node, label AS community FROM l2""")
    ) { (s, dir) =>
      // bucketed layout: per-round re-references cost one exchange-
      // free scan each, so no checkpoint (and the label aggregate
      // consumes the bucket partitioning directly)
      val ed = tradingEdges(s, dir)
      val l0 = ed.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
      val l2 = (1 to 2).foldLeft(l0) { (l, _) =>
        ed.join(l.hint("shuffle_hash"), col("node") === col("src"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
          .groupBy(col("dst"))
          .agg(max_by(col("label"),
            struct(col("c").as("c"), (-col("label")).as("k"))).as("label"))
          .select(col("dst").as("node"), col("label"))
      }
      l2.select(col("node"), col("label").as("community"))
    },

    // --------------------------------------------------------------- q175
    // Bounded k-core peeling (k = 3, 2 rounds) over the trading graph:
    // each round drops every vertex of residual degree < k and the
    // edges touching it, converging toward the 3-core — the dense
    // backbone a graph-sampling or fraud-ring pass keeps. Like q94's 3
    // iterations and q157's 2 rounds, the round count is the declared
    // bound (full k-core runs to fixpoint; every additional round is
    // the same two keyed hops). Every step is vertex- or edge-keyed:
    // degrees are one groupBy over the materialized edge list, the
    // peel is two shuffle-hash semi joins of edges against the
    // surviving vertex set (vertex-sized — NEVER broadcast, the q94
    // lesson), and the status report is vertex-keyed left joins.
    // Output: every vertex with initial degree, post-peel degree, and
    // its peel round ('core' / 'peeled_r2' / 'peeled_r1').
    Q(
      "q175_kcore",
      Some(s"""
        WITH $pairsEdgesCte,
        d0 AS (
          SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM edges GROUP BY 1),
        a1 AS (SELECT node FROM d0 WHERE deg >= 3),
        e1 AS (
          SELECT e.src, e.dst FROM edges e
          JOIN a1 x ON x.node = e.src
          JOIN a1 y ON y.node = e.dst),
        d1 AS (
          SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM e1 GROUP BY 1),
        a2 AS (SELECT node FROM d1 WHERE deg >= 3)
        SELECT d0.node, d0.deg AS deg_initial,
               COALESCE(d1.deg, 0) AS deg_after_peel,
               CASE WHEN a2.node IS NOT NULL THEN 'core'
                    WHEN a1.node IS NOT NULL THEN 'peeled_r2'
                    ELSE 'peeled_r1' END AS status
        FROM d0
        LEFT JOIN a1 ON a1.node = d0.node
        LEFT JOIN d1 ON d1.node = d0.node
        LEFT JOIN a2 ON a2.node = d0.node""")
    ) { (s, dir) =>
      val ed = Checkpoints.materialize(tradingEdges(s, dir))
      val k = 3
      val d0 = ed.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val a1 = d0.filter(col("deg") >= k).select("node")
      val e1 = ed
        .join(a1.hint("shuffle_hash").withColumnRenamed("node", "src"), "src")
        .join(a1.hint("shuffle_hash").withColumnRenamed("node", "dst"), "dst")
        .select("src", "dst")
      val d1 = e1.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val a2 = d1.filter(col("deg") >= k).select("node")
      d0.select(col("node"), col("deg").as("deg_initial"))
        .join(a1.hint("shuffle_hash").withColumn("in_a1", lit(1)),
          Seq("node"), "left")
        .join(d1.hint("shuffle_hash")
          .select(col("node"), col("deg").as("deg_after_peel")),
          Seq("node"), "left")
        .join(a2.hint("shuffle_hash").withColumn("in_a2", lit(1)),
          Seq("node"), "left")
        .select(col("node"), col("deg_initial"),
          coalesce(col("deg_after_peel"), lit(0L)).as("deg_after_peel"),
          when(col("in_a2").isNotNull, "core")
            .when(col("in_a1").isNotNull, "peeled_r2")
            .otherwise("peeled_r1").as("status"))
    },

    // --------------------------------------------------------------- q183
    // Deterministic "random" walks (the node2vec/DeepWalk corpus
    // primitive): from each low-id customer vertex, 3 steps where the
    // next hop is the neighbor MINIMIZING the salted Knuth mix of
    // (start, candidate, step) — every walk is a pure function of the
    // graph and the seed (the engine's no-rand() reproducibility rule:
    // reruns, retries, and the oracle all agree bit-for-bit), while
    // distinct (start, step) pairs decorrelate so the 20 walks spread.
    // Each step is one frontier ⋈ edges keyed join + a per-walk
    // min_by — walk count × degree work per step, never materializing
    // more than the frontier; the edge list is materialized once (the
    // loop-invariant rule). At 100 TB this is exactly the per-step
    // shape of a distributed DeepWalk corpus generator.
    Q(
      "q183_random_walks",
      Some {
        def h(startCol: String, dstCol: String, t: Int): String =
          graft.Knuth.sql(s"($startCol * 97 + $dstCol * 13 + $t * 7919)", 4243L)
        s"""
        WITH $pairsEdgesCte,
        starts AS (
          SELECT DISTINCT src AS start FROM edges WHERE src BETWEEN 1 AND 20),
        s1 AS (
          SELECT start, dst AS n1 FROM (
            SELECT st.start, e.dst,
                   ROW_NUMBER() OVER (PARTITION BY st.start
                     ORDER BY ${h("st.start", "e.dst", 1)}, e.dst) AS rn
            FROM starts st JOIN edges e ON e.src = st.start) t
          WHERE rn = 1),
        s2 AS (
          SELECT start, n1, dst AS n2 FROM (
            SELECT s.start, s.n1, e.dst,
                   ROW_NUMBER() OVER (PARTITION BY s.start
                     ORDER BY ${h("s.start", "e.dst", 2)}, e.dst) AS rn
            FROM s1 s JOIN edges e ON e.src = s.n1) t
          WHERE rn = 1),
        s3 AS (
          SELECT start, n1, n2, dst AS n3 FROM (
            SELECT s.start, s.n1, s.n2, e.dst,
                   ROW_NUMBER() OVER (PARTITION BY s.start
                     ORDER BY ${h("s.start", "e.dst", 3)}, e.dst) AS rn
            FROM s2 s JOIN edges e ON e.src = s.n2) t
          WHERE rn = 1)
        SELECT start, n1, n2, n3 FROM s3"""
      }
    ) { (s, dir) =>
      val ed = Checkpoints.materialize(tradingEdges(s, dir))
      def hCol(t: Int) =
        graft.Knuth.col(col("start") * 97 + col("dst") * 13 + t * 7919, 4243L)
      val starts = ed.filter(col("src").between(1, 20))
        .select(col("src").as("start")).distinct()
        .withColumn("cur", col("start"))
      val walked = (1 to 3).foldLeft(starts) { (frontier, t) =>
        val prior = frontier.columns.filterNot(_ == "cur").map(col)
        frontier.join(ed.hint("shuffle_hash"), col("cur") === col("src"))
          .groupBy(prior: _*)
          .agg(min_by(col("dst"), struct(hCol(t), col("dst"))).as(s"n$t"))
          .withColumn("cur", col(s"n$t"))
      }
      walked.select("start", "n1", "n2", "n3")
    },

    // --------------------------------------------------------------- q219
    // HITS hubs-and-authorities on the bipartite customer→supplier
    // trading graph (Kleinberg's mutual reinforcement): a customer is
    // a good hub when it buys from good-authority suppliers, a
    // supplier a good authority when good hubs buy from it. Two full
    // reinforcement rounds (a¹ = Aᵀh⁰, h¹ = Aa¹, a² = Aᵀh¹, h² = Aa²)
    // in fixed-point BIGINTs; after every step scores renormalize to
    // max = 10⁴ by an integer scaling divide ((x·10⁴) div max — the
    // L∞ norm, chosen over L2 because it needs no sqrt and keeps both
    // engines bit-identical). Each step is ONE edge⋈vertex
    // shuffle-hash join + groupBy — q94's two-shuffle vertex-program
    // shape; the vertex side is corpus-sized so it is never broadcast
    // (only the one-row max is). The distinct pair list materializes
    // once and keeps its partitioning across all four steps. BIGINT
    // headroom: Σ over ≤deg terms of ≤10⁴, then ×10⁴ ≤ deg·10⁸ —
    // safe to deg ~ 10¹⁰.
    Q(
      "q219_hits",
      Some("""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        a1 AS (
          SELECT s, CAST(COUNT(*) AS BIGINT) * 10000 AS x
          FROM pairs GROUP BY s),
        a1n AS (
          SELECT s, (x * 10000) // (SELECT MAX(x) FROM a1) AS x FROM a1),
        h1 AS (
          SELECT c, CAST(SUM(a.x) AS BIGINT) AS x
          FROM pairs p JOIN a1n a ON a.s = p.s GROUP BY c),
        h1n AS (
          SELECT c, (x * 10000) // (SELECT MAX(x) FROM h1) AS x FROM h1),
        a2 AS (
          SELECT s, CAST(SUM(h.x) AS BIGINT) AS x
          FROM pairs p JOIN h1n h ON h.c = p.c GROUP BY s),
        a2n AS (
          SELECT s, (x * 10000) // (SELECT MAX(x) FROM a2) AS x FROM a2),
        h2 AS (
          SELECT c, CAST(SUM(a.x) AS BIGINT) AS x
          FROM pairs p JOIN a2n a ON a.s = p.s GROUP BY c),
        h2n AS (
          SELECT c, (x * 10000) // (SELECT MAX(x) FROM h2) AS x FROM h2)
        SELECT 'auth' AS role, s AS node, x AS score_fp FROM a2n
        UNION ALL
        SELECT 'hub' AS role, c AS node, x AS score_fp FROM h2n""")
    ) { (s, dir) =>
      // shared bucketed pair layout: each reinforcement step's
      // re-reference costs one exchange-free scan. Since round 15 the
      // s-keyed steps (a1's supplier aggregate, both hub→authority
      // joins) read the v3 supplier-bucketed copy of the SAME pair
      // rows, so no step shuffles the pair corpus at all — the s
      // shuffle moved to ingest, once per corpus (guide §2.4)
      val pairs = graft.operators.EdgeLayout.pairs(s, dir)
      val pairsS = graft.operators.EdgeLayout.pairsBySupplier(s, dir)
      // one reinforcement step: edge⋈vertex keyed join, groupBy the
      // other side, L∞ renormalize. Each step's summed table is
      // referenced TWICE (the max and the rescale) and feeds the next
      // step's join — without materialization the lineage re-executes
      // the whole upstream chain per reference (the q94 lesson
      // squared: measured 5→22s across reruns at sf0.1; 0.9s steady
      // after). Since round 15 the L∞ max is computed INSIDE the
      // step's checkpoint forcing action (materializeAggLong) and the
      // rescale divides by it as a literal: one Spark job per step
      // where the broadcast-max shape paid two, and the crossJoin +
      // broadcast exchange drop out of every step's plan. Pulling ONE
      // aggregated scalar to the driver per step is the same O(1)
      // superstep posture as FixpointCC's convergence sum (and the
      // value was driver-held under the broadcast form too).
      def step(v: DataFrame, vKey: String, outKey: String,
          last: Boolean = false): DataFrame = {
        val edgeSide = if (vKey == "s") pairsS else pairs
        val joined = edgeSide
          .join(v.hint("shuffle_hash"), col(vKey) === col(s"v_$vKey"))
          .groupBy(col(outKey)).agg(sum(col("x")).as("x"))
        if (last) {
          // the last step stays un-truncated so the executed plan
          // keeps one representative keyed shuffle join for PlanSpec
          // to pin; the classic broadcast-max shape re-runs only this
          // one join (its input is materialized)
          val m = joined.agg(max(col("x")).as("m"))
          joined.crossJoin(broadcast(m))
            .select(col(outKey).as(s"v_$outKey"),
              expr("(x * 10000) div m").as("x"))
        } else {
          val (summed, m) =
            Checkpoints.materializeAggLong(joined, "x", isMax = true)
          val mv = m.fold(1L)(_.longValueExact())
          summed.select(col(outKey).as(s"v_$outKey"),
            expr(s"(x * 10000) div ${mv}L").as("x"))
        }
      }
      val a1 = {
        val (raw, m) = Checkpoints.materializeAggLong(
          pairsS.groupBy("s").agg((count(lit(1)) * 10000L).as("x")),
          "x", isMax = true)
        val mv = m.fold(1L)(_.longValueExact())
        raw.select(col("s").as("v_s"),
          expr(s"(x * 10000) div ${mv}L").as("x"))
      }
      val h1 = step(a1, "s", "c")
      val a2 = step(h1, "c", "s")
      val h2 = step(a2, "s", "c", last = true)
      a2.select(lit("auth").as("role"), col("v_s").as("node"),
          col("x").as("score_fp"))
        .unionByName(h2.select(lit("hub").as("role"),
          col("v_c").as("node"), col("x").as("score_fp")))
    },

    // --------------------------------------------------------------- q224
    // Newman modularity of the nation partition on the trading graph
    // — does trade cluster along national lines? Communities are
    // GIVEN (each node's nation — customers via customer, suppliers
    // via supplier), so this is the modularity EVALUATION every
    // community detection needs as its objective: Q = Σ_c (e_c/m −
    // (d_c/2m)²) over the undirected distinct-pair edge set, in
    // exact floored ppm per community (quantize-then-sum, the q216
    // contract). e_c needs both endpoints' nations on each edge —
    // two keyed shuffle joins of the edge list with the node⇒nation
    // maps (vertex-sized sides, never broadcast); d_c re-aggregates
    // the same annotated edges, so the corpus is read once. Output
    // rows are |nations|-sized. The 10⁶·d_c² and 4m² terms are BANKED
    // into DECIMAL(38,0) (Spark) / HUGEINT (oracle) — exact integral
    // quotients in both engines — so the ppm algebra holds to
    // d_c, m ~ 10¹⁵ edge-endpoints, not the raw-BIGINT 3e6 bound.
    Q(
      "q224_modularity",
      Some("""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        ann AS (
          SELECT cu.c_nationkey AS cn, su.s_nationkey AS sn
          FROM pairs p
          JOIN customer cu ON cu.c_custkey = p.c
          JOIN supplier su ON su.s_suppkey = p.s),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ann),
        ein AS (
          SELECT cn AS nation, CAST(COUNT(*) AS BIGINT) AS e_in
          FROM ann WHERE cn = sn GROUP BY 1),
        dsum AS (
          SELECT nation, CAST(SUM(d) AS BIGINT) AS d_c FROM (
            SELECT cn AS nation, CAST(COUNT(*) AS BIGINT) AS d
            FROM ann GROUP BY 1
            UNION ALL
            SELECT sn AS nation, CAST(COUNT(*) AS BIGINT) AS d
            FROM ann GROUP BY 1) u
          GROUP BY 1)
        SELECT CAST(d.nation AS BIGINT) AS nation,
               COALESCE(e.e_in, 0) AS e_in, d.d_c,
               (1000000 * COALESCE(e.e_in, 0)) // m.m
                 - CAST((1000000 * CAST(d.d_c AS HUGEINT) * d.d_c)
                        // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT)
                 AS contrib_ppm
        FROM dsum d LEFT JOIN ein e ON e.nation = d.nation
        CROSS JOIN m""")
    ) { (s, dir) =>
      // shared bucketed pair layout (exchange-free on the c side of
      // the nation attach; the s side shuffles as before)
      val pairs = graft.operators.EdgeLayout.pairs(s, dir)
      val cu = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("cn"))
      val su = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("sn"))
      val ann = Checkpoints.materialize(pairs
        .join(cu.hint("shuffle_hash"), col("c_custkey") === col("c"))
        .join(su.hint("shuffle_hash"), col("s_suppkey") === col("s"))
        .select(col("cn"), col("sn")))
      val m = ann.agg(count(lit(1)).as("m"))
      val ein = ann.filter(col("cn") === col("sn"))
        .groupBy(col("cn").as("nation")).agg(count(lit(1)).as("e_in"))
      val dsum = ann.groupBy(col("cn").as("nation"))
        .agg(count(lit(1)).as("d"))
        .unionByName(ann.groupBy(col("sn").as("nation"))
          .agg(count(lit(1)).as("d")))
        .groupBy("nation").agg(sum(col("d")).as("d_c"))
      dsum.join(ein, Seq("nation"), "left")
        .crossJoin(broadcast(m))
        .select(col("nation").cast("long").as("nation"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_c"),
          // d_c² and m² are the 10¹⁰-row overflow terms — banked into
          // DECIMAL(38,0) (Spark `div` on decimals is the exact
          // BigDecimal integral quotient; DuckDB side banks the same
          // terms into HUGEINT — both truncate toward zero)
          (expr("(1000000 * coalesce(e_in, 0)) div m")
            - expr("""(1000000 * cast(d_c as decimal(38,0)) * d_c)
                      div (4 * cast(m as decimal(38,0)) * m)"""))
            .as("contrib_ppm"))
    },

    // --------------------------------------------------------------- q228
    // Bounded weighted shortest paths (3 Bellman-Ford relaxation
    // rounds) from the first five customers over the trading graph,
    // with TRADE-VOLUME weights: an edge costs 1 + 10000 div
    // line-count — heavily-traded links are cheap, so the distance is
    // a supply-chain "friction" metric, not hop count (q104 covers
    // hops). Each round is ONE frontier⋈edges shuffle-hash join +
    // a min aggregation — the q94 vertex-program shape; the distance
    // table is vertex-sized and never broadcasts; edges materialize
    // once with their weights and keep their src partitioning across
    // rounds. All arithmetic is BIGINT (min of sums — no floats);
    // the fixed round count unrolls into plain SQL for the oracle.
    // At 100×: 3 keyed shuffles over the frontier, the only serial
    // dimension is the round count — scales.
    Q(
      "q228_shortest_paths",
      Some("""
        WITH ln AS (
          SELECT o_custkey AS c, l_suppkey AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        edges AS (
          SELECT c AS src, -(s + 1) AS dst, 1 + 10000 // n AS w FROM ln
          UNION ALL
          SELECT -(s + 1) AS src, c AS dst, 1 + 10000 // n AS w FROM ln),
        d0 AS (
          SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS d
          FROM edges WHERE src >= 0 AND src < 5),
        d1 AS (
          SELECT node, MIN(d) AS d FROM (
            SELECT node, d FROM d0
            UNION ALL
            SELECT e.dst AS node, r.d + e.w AS d
            FROM d0 r JOIN edges e ON e.src = r.node) u GROUP BY 1),
        d2 AS (
          SELECT node, MIN(d) AS d FROM (
            SELECT node, d FROM d1
            UNION ALL
            SELECT e.dst AS node, r.d + e.w AS d
            FROM d1 r JOIN edges e ON e.src = r.node) u GROUP BY 1),
        d3 AS (
          SELECT node, MIN(d) AS d FROM (
            SELECT node, d FROM d2
            UNION ALL
            SELECT e.dst AS node, r.d + e.w AS d
            FROM d2 r JOIN edges e ON e.src = r.node) u GROUP BY 1)
        SELECT node, d AS dist FROM d3""")
    ) { (s, dir) =>
      // weighted SHARED LAYOUT: the per-pair line counts ride the
      // bucketed edge table (EdgeLayout v2), so the fact⋈fact join
      // this query re-ran every time through round 9 is gone — the
      // friction weight is a projection over the bucketed scan, and
      // the edge side of every relax join keeps its src bucketing
      val edges = graft.operators.EdgeLayout.weightedEdges(s, dir)
        .select(col("src"), col("dst"), expr("1 + 10000 div n").as("w"))
      val d0 = edges.filter(col("src") >= 0 && col("src") < 5)
        .select(col("src").as("node")).distinct()
        .withColumn("d", lit(0L))
      // each round references the previous distance table TWICE (the
      // relax join and the keep-current union) — materialize per round
      // or the lineage re-executes 2^rounds times (the q219 lesson)
      val d3 = (1 to 3).foldLeft(d0) { (r0, _) =>
        val r = Checkpoints.materialize(r0)
        val relaxed = edges.join(r.hint("shuffle_hash"),
            col("node") === col("src"))
          .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
        r.select("node", "d").unionByName(relaxed)
          .groupBy("node").agg(min(col("d")).as("d"))
      }
      d3.select(col("node"), col("d").as("dist"))
    },

    // --------------------------------------------------------------- q238
    // Degree-mixing association — do high-degree customers trade with
    // high-degree suppliers? The assortativity question, answered
    // WITHOUT Pearson's r (whose n·Σxy cross terms overflow BIGINT at
    // corpus degree scales and whose sqrt breaks integer parity):
    // degrees bucket into exact log₂ classes via length(bin(deg))−1 —
    // bit arithmetic, engine-identical — and the (customer-class ×
    // supplier-class) contingency table yields q195's exact milli-χ²
    // plus Cramér's V² in ppm (V² needs no sqrt; V² → 0 means degree-
    // independent mixing). One edge pass with two degree joins (vertex
    // maps, keyed shuffles); everything after lives in class² space
    // (≲ 15×15). Output: one summary row — m, table shape, χ², V²,
    // and the most over-represented class pair with its lift.
    Q(
      "q238_degree_mixing",
      Some("""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        cd AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS dc
               FROM pairs GROUP BY 1),
        sd AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ds
               FROM pairs GROUP BY 1),
        ed AS (
          SELECT length(bin(cd.dc)) - 1 AS kc, length(bin(sd.ds)) - 1 AS ks
          FROM pairs p
          JOIN cd ON cd.c = p.c JOIN sd ON sd.s = p.s),
        ct AS (
          SELECT kc, ks, CAST(COUNT(*) AS BIGINT) AS o
          FROM ed GROUP BY 1, 2),
        mr AS (SELECT kc, CAST(SUM(o) AS BIGINT) AS rc FROM ct GROUP BY 1),
        mc AS (SELECT ks, CAST(SUM(o) AS BIGINT) AS cc FROM ct GROUP BY 1),
        m AS (SELECT CAST(SUM(o) AS BIGINT) AS m FROM ct),
        grid AS (
          SELECT mr.kc, mc.ks, COALESCE(ct.o, 0) AS o,
                 CAST((1000 * CAST(mr.rc AS HUGEINT) * mc.cc) // m.m
                      AS BIGINT) AS e_milli
          FROM mr CROSS JOIN mc CROSS JOIN m
          LEFT JOIN ct ON ct.kc = mr.kc AND ct.ks = mc.ks),
        chi AS (
          SELECT CAST(SUM(CASE WHEN e_milli > 0
                   THEN ((1000 * o - e_milli) * CAST(1000 * o - e_milli AS HUGEINT))
                        // (1000 * e_milli) ELSE 0 END) AS BIGINT)
                   AS chi2_milli
          FROM grid),
        dims AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mr) AS r,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM mc) AS c),
        lift AS (
          SELECT kc, ks, (1000000 * o) // (e_milli // 1000 + 1) AS lift_ppm
          FROM grid WHERE e_milli > 0 AND o > 0
          ORDER BY (1000000 * o) // (e_milli // 1000 + 1) DESC, kc, ks
          LIMIT 1)
        SELECT m.m, dims.r, dims.c, chi.chi2_milli,
               (1000 * chi.chi2_milli)
                 // (m.m * greatest(least(dims.r - 1, dims.c - 1), 1))
                 AS v2_ppm,
               lift.kc AS top_kc, lift.ks AS top_ks, lift.lift_ppm
        FROM m CROSS JOIN dims CROSS JOIN chi CROSS JOIN lift""")
    ) { (s, dir) =>
      // shared bucketed pair layout: the c-degree aggregate and the
      // c-keyed attach run on the bucket partitioning with no
      // exchange; the s side shuffles the scan (as the checkpointed
      // blob did) — the three references cost three bucketed scans,
      // not three re-derivations
      val pairs = graft.operators.EdgeLayout.pairs(s, dir)
      val cd = pairs.groupBy("c").agg(count(lit(1)).as("dc"))
      val sd = pairs.groupBy("s").agg(count(lit(1)).as("ds"))
      val ed = pairs
        .join(cd.hint("shuffle_hash"), "c")
        .join(sd.hint("shuffle_hash"), "s")
        .select((length(expr("bin(dc)")) - 1).cast("long").as("kc"),
          (length(expr("bin(ds)")) - 1).cast("long").as("ks"))
      val ct = Checkpoints.materialize(
        ed.groupBy("kc", "ks").agg(count(lit(1)).as("o")))
      val mr = ct.groupBy("kc").agg(sum(col("o")).as("rc"))
      val mc = ct.groupBy("ks").agg(sum(col("o")).as("cc"))
      val m = ct.agg(sum(col("o")).as("m"))
      val grid = mr.crossJoin(mc).crossJoin(broadcast(m))
        .join(ct, Seq("kc", "ks"), "left").na.fill(0L, Seq("o"))
        // rc·cc and the squared residual are the 10¹⁰-row overflow
        // terms — banked into DECIMAL(38,0) (oracle: HUGEINT), result
        // cast back to BIGINT (e_milli ≤ 1000·m, χ² ≤ 1000·m·min(r,c)
        // — both far inside BIGINT after the division)
        .withColumn("e_milli",
          expr("cast((1000 * cast(rc as decimal(38,0)) * cc) div m as bigint)"))
      val gridM = Checkpoints.materialize(grid
        .select(col("kc"), col("ks"), col("o"), col("e_milli"), col("m")))
      val chi = gridM.agg(sum(when(col("e_milli") > 0,
        expr("((1000 * o - e_milli) * cast(1000 * o - e_milli as decimal(38,0)))" +
          " div (1000 * e_milli)")).otherwise(0L)).as("chi2_milli"))
      val dims = mr.agg(count(lit(1)).as("r"))
        .crossJoin(mc.agg(count(lit(1)).as("c")))
      val lift = gridM.filter(col("e_milli") > 0 && col("o") > 0)
        .select(col("kc").as("top_kc"), col("ks").as("top_ks"),
          expr("(1000000 * o) div (e_milli div 1000 + 1)").as("lift_ppm"))
        .orderBy(desc("lift_ppm"), col("top_kc"), col("top_ks"))
        .limit(1)
      m.crossJoin(broadcast(dims)).crossJoin(broadcast(chi))
        .crossJoin(broadcast(lift))
        .select(col("m"), col("r"), col("c"), col("chi2_milli"),
          expr("(1000 * chi2_milli)" +
            " div (m * greatest(least(r - 1, c - 1), 1))").as("v2_ppm"),
          col("top_kc"), col("top_ks"), col("lift_ppm"))
    },

    // --------------------------------------------------------------- q259
    // Bucketed shared edge corpus — the 100 TB layout move for the
    // trading graph: the distinct customer⇄supplier pair list is
    // computed ONCE per JVM+sf-dir (operators/EdgeLayout, run-tagged
    // path and table names so concurrent sessions never collide) as a
    // table of B buckets (LayoutCatalog.buckets: sized to the corpus)
    // CLUSTERED BY the customer key, and every graph
    // query in this file consumes it exchange-free (q94/q104/q157
    // read the symmetric src-bucketed edge table, q123 and this
    // report the c-bucketed pair table). Two consumers demonstrate
    // the payoff in one plan: (1) the per-customer degree aggregate
    // runs with NO exchange at all — the bucketed scan's
    // HashPartitioning(c, B) already satisfies the aggregate's
    // clustering, so partial and final collapse into the scan stage;
    // (2) the customer-nation join shuffles ONLY the vertex side into
    // the bucket layout — the (much larger) edge side never moves.
    // At production scale this is the difference between re-shuffling
    // the edge corpus per graph query and paying its shuffle once at
    // ingest (PlanSpec pins zero Exchange above the bucketed scan).
    // Whichever consumer runs FIRST in a session pays the one-time
    // layout write; the bench's warm-up round absorbs it, so measured
    // rounds show the exchange-free steady state every query enjoys.
    // The oracle computes the identical report straight from parquet
    // (bucketing is a layout, not a semantics).
    Q(
      "q259_bucketed_edge_corpus",
      Some("""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        deg AS (
          SELECT c, CAST(COUNT(*) AS BIGINT) AS deg
          FROM pairs GROUP BY 1)
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(deg) AS BIGINT) AS n_edges,
               MAX(deg) AS max_deg
        FROM deg JOIN customer ON c_custkey = deg.c
        GROUP BY 1""")
    ) { (s, dir) =>
      val edges = graft.operators.EdgeLayout.pairs(s, dir)
      // zero-exchange: bucketed-by-c scan already clusters by c
      val deg = edges.groupBy(col("c")).agg(count(lit(1)).as("deg"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      deg.join(cust.hint("shuffle_hash"), col("c_custkey") === col("c"))
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n_customers"), sum(col("deg")).as("n_edges"),
          max(col("deg")).as("max_deg"))
    },

    // --------------------------------------------------------------- q273
    // Degree-distribution profile of the trading graph — the
    // heavy-tail audit a graph pipeline runs BEFORE choosing join
    // strategies (a power-law tail is what makes vertex broadcasts
    // and unsalted joins blow up): customer degrees bin by decimal
    // MAGNITUDE (digit count of the degree — an exact integer log10,
    // no libm), and each bin reports its population, degree range and
    // edge mass, plus exact permille shares. Consumes the SHARED
    // BUCKETED LAYOUT: the per-customer degree aggregate runs on the
    // pair table's bucket partitioning with NO exchange, everything
    // after is bin-space (≤ digits-of-max-degree rows). The oracle
    // derives the identical pairs from raw parquet (layout ≠
    // semantics).
    Q(
      "q273_degree_profile",
      Some("""
        WITH pairs AS (
          SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        deg AS (
          SELECT c, CAST(COUNT(*) AS BIGINT) AS deg FROM pairs GROUP BY 1),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_c,
                 CAST(SUM(deg) AS BIGINT) AS n_e
          FROM deg),
        b AS (
          SELECT CAST(length(CAST(deg AS VARCHAR)) AS BIGINT) AS magnitude,
                 CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(MIN(deg) AS BIGINT) AS min_deg,
                 CAST(MAX(deg) AS BIGINT) AS max_deg,
                 CAST(SUM(deg) AS BIGINT) AS n_edges
          FROM deg GROUP BY 1)
        SELECT b.magnitude, b.n_customers, b.min_deg, b.max_deg, b.n_edges,
               (1000 * b.n_customers) // t.n_c AS customer_share_pm,
               (1000 * b.n_edges) // t.n_e AS edge_share_pm
        FROM b CROSS JOIN tot t""")
    ) { (s, dir) =>
      val deg = graft.operators.EdgeLayout.pairs(s, dir)
        .groupBy(col("c")).agg(count(lit(1)).as("deg"))
      val b = deg
        .groupBy(length(col("deg").cast("string")).cast("long")
          .as("magnitude"))
        .agg(count(lit(1)).as("n_customers"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"), sum(col("deg")).as("n_edges"))
      // totals re-aggregate from the BIN table (never the corpus) and
      // attach broadcast — shares are exact permille floor-divs
      val tot = b.agg(sum(col("n_customers")).as("n_c"),
        sum(col("n_edges")).as("n_e"))
      b.crossJoin(broadcast(tot))
        .select(col("magnitude"), col("n_customers"), col("min_deg"),
          col("max_deg"), col("n_edges"),
          expr("(1000 * n_customers) div n_c").as("customer_share_pm"),
          expr("(1000 * n_edges) div n_e").as("edge_share_pm"))
    },

    // --------------------------------------------------------------- q284
    // VOLUME-WEIGHTED PageRank — q94 with rank mass flowing in
    // proportion to trade volume instead of splitting evenly: each
    // node's strength W = Σ line-counts over its edges, and an edge
    // carries r·n div W of its source's rank. This is the SECOND
    // consumer of the weighted edge layout beyond q228 (the column
    // must earn its 8 bytes/pair): strength attaches as a SUM window
    // over the bucket partitioning (no join, no exchange — q94's
    // degree move), and every relax join keeps the bucketed edge side.
    // Headroom at the declared 10¹⁰-row target: the per-edge quotient
    // r·n div W is ≤ r (n ≤ W by construction), so sums stay at rank-
    // mass scale (~V·10⁴ ≈ 10¹⁴ « 2⁶³) — but the r·n PRODUCT itself
    // is the overflow term (10¹⁴·10⁴ at hub ranks), so it banks into
    // DECIMAL(38,0) / HUGEINT before the divide, the q217 pattern.
    Q(
      "q284_weighted_pagerank",
      Some(s"""
        WITH ln AS (
          SELECT o_custkey AS c, l_suppkey AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        edges AS (
          SELECT c AS src, -(s + 1) AS dst, n FROM ln
          UNION ALL
          SELECT -(s + 1) AS src, c AS dst, n FROM ln),
        st AS (SELECT src, CAST(SUM(n) AS BIGINT) AS w
               FROM edges GROUP BY 1),
        ed AS (
          SELECT e.src, e.dst, e.n, st.w
          FROM edges e JOIN st ON st.src = e.src),
        r0 AS (SELECT src AS node, CAST($rankOne AS BIGINT) AS r FROM st),
        r1 AS (
          SELECT ed.dst AS node,
                 CAST(1500 + (85 * SUM(CAST(
                   (CAST(r.r AS HUGEINT) * ed.n) // ed.w AS BIGINT))) // 100
                   AS BIGINT) AS r
          FROM ed JOIN r0 r ON r.node = ed.src GROUP BY ed.dst),
        r2 AS (
          SELECT ed.dst AS node,
                 CAST(1500 + (85 * SUM(CAST(
                   (CAST(r.r AS HUGEINT) * ed.n) // ed.w AS BIGINT))) // 100
                   AS BIGINT) AS r
          FROM ed JOIN r1 r ON r.node = ed.src GROUP BY ed.dst),
        r3 AS (
          SELECT ed.dst AS node,
                 CAST(1500 + (85 * SUM(CAST(
                   (CAST(r.r AS HUGEINT) * ed.n) // ed.w AS BIGINT))) // 100
                   AS BIGINT) AS r
          FROM ed JOIN r2 r ON r.node = ed.src GROUP BY ed.dst)
        SELECT node, r AS rank_fp FROM r3""")
    ) { (s, dir) =>
      // strength as a window over the bucketed scan — exchange-free,
      // exactly like q94's degree window
      val ed = graft.operators.EdgeLayout.weightedEdges(s, dir)
        .withColumn("w", sum(col("n"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("src")))
      val r0 = ed.select(col("src").as("node")).distinct()
        .withColumn("r", lit(rankOne))
      // ranks shuffle on node (vertex-sized — never broadcast); the
      // edge side keeps its src bucketing across all three rounds
      val r3 = (1 to 3).foldLeft(r0) { (r, _) =>
        ed.join(r.hint("shuffle_hash"), col("node") === col("src"))
          .groupBy(col("dst"))
          .agg(sum(expr("cast(r as decimal(38,0)) * n div w"))
            .as("contrib"))
          .select(col("dst").as("node"),
            expr("CAST(1500 + (85 * contrib) div 100 AS BIGINT)").as("r"))
      }
      r3.select(col("node"), col("r").as("rank_fp"))
    },

    // --------------------------------------------------------------- q294
    // Connected components via POINTER-JUMPING min-label — the
    // O(log d) iteration scheme beside q66's plain O(d) label
    // propagation (the MapReduce-CC family: each round a node takes
    // the min of its own label, its LABEL'S label — the jump that
    // doubles propagation distance per round — and its neighbors'
    // labels). Four fixed rounds, unrolled identically in both
    // engines (the q66/q94 bounded-round discipline: the oracle
    // replays the exact recurrence, so the hash match never depends
    // on a convergence argument — at the fixture diameters four
    // doubling rounds converge, and extra rounds are idempotent at
    // the fixpoint). Each round is two keyed shuffle_hash joins (the
    // label table is VERTEX-sized — never broadcast) + one min
    // aggregate; the edge side is the bucketed layout, exchange-free;
    // rounds 1-3 materialize (triple-referenced loop state — the
    // 2^steps re-execution trap), the last stays un-truncated so the
    // executed plan shows the joins.
    Q(
      "q294_pointer_jump_components",
      Some {
        val rounds = (1 to 4).map { k =>
          s"""l$k AS (
          SELECT node, CAST(MIN(lbl) AS BIGINT) AS lbl FROM (
            SELECT l.node AS node, l.lbl AS lbl FROM l${k - 1} l
            UNION ALL
            SELECT l.node, j.lbl FROM l${k - 1} l
              JOIN l${k - 1} j ON j.node = l.lbl
            UNION ALL
            SELECT e.dst, l.lbl FROM edges e
              JOIN l${k - 1} l ON l.node = e.src
          ) u GROUP BY node)"""
        }.mkString(",\n        ")
        s"""
        WITH $pairsEdgesCte,
        l0 AS (
          SELECT dst AS node,
                 CAST(LEAST(dst, MIN(src)) AS BIGINT) AS lbl
          FROM edges GROUP BY dst),
        $rounds
        SELECT node, lbl AS comp FROM l4"""
      }
    ) { (s, dir) =>
      val ed = tradingEdges(s, dir)
      // the seed preserves FixpointCC.step's invariants — lbl ≤ node
      // (least(dst, …)) and every label value is a node (dst or src of
      // the symmetric edge list) — so the shared step (self branch
      // dropped as provably dominated by the jump row; proof at
      // FixpointCC.step) computes the declared 3-branch recurrence
      // bit-identically
      val l0 = ed.groupBy("dst").agg(min(col("src")).as("mn"))
        .select(col("dst").as("node"), least(col("dst"), col("mn")).as("lbl"))
      graft.operators.FixpointCC.bounded(ed, l0, 4)
        .select(col("node"), col("lbl").as("comp"))
    },

    // --------------------------------------------------------------- q309
    // Connected components to a DATA-DRIVEN fixpoint — q294's
    // pointer-jump recurrence with the fixed four-round unroll
    // replaced by convergence detection (operators/FixpointCC): the
    // driver loops the round until Σ lbl stops decreasing (labels are
    // monotonically non-increasing, so an unchanged exact sum ⇔ no
    // label changed — one one-row aggregate per round, no join) and
    // emits ROUNDS_RUN, the count of label-changing rounds, as an
    // output column. On a fixture the result equals q294's; on an
    // unknown-diameter production graph this is the variant that
    // cannot silently under-converge — a too-shallow unroll keeps
    // non-minimal labels and nothing fails, whereas the fixpoint loop
    // runs O(log diameter) rounds whatever the diameter is
    // (CcFixpointSpec demonstrates the divergence on a long chain).
    // The oracle (FixpointCC.labelsSql) replays the EXACT recurrence,
    // convergence check included, so the hash gate covers the round
    // COUNT, not just the final labels.
    Q(
      "q309_cc_fixpoint",
      Some(graft.operators.FixpointCC.labelsSql(pairsEdgesCte, "node", "comp"))
    ) { (s, dir) =>
      val (labels, rounds) =
        graft.operators.FixpointCC.run(tradingEdges(s, dir))
      labels.select(col("node"), col("lbl").as("comp"))
        .withColumn("rounds_run", lit(rounds))
    },
  )
}
