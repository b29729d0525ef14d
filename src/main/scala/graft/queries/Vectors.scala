package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operators over `embeddings` (array<float>, dim 64).
  *
  * Cross-engine determinism: floats are quantized to BIGINT with
  * floor(x * 1000) before any reduction, so dot products and norms are
  * exact integer arithmetic (order-free); the only float op left is one
  * division by one sqrt on identical operands — bit-identical in both
  * engines.
  *
  * Scale notes: the brute-force top-k broadcasts the (small) query set
  * and never shuffles the candidate side; the LSH variant buckets by
  * sign-random-projection so near-dup search becomes a hash-partitioned
  * groupBy/join on the bucket key instead of a cross join.
  */
object Vectors {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Resolve (building if absent) every durable vector-index artifact
    * this family's queries consume — called by [[graft.Ingest]] so the
    * bench charges the trainings/codings to its timed ingest phase.
    * Parameters mirror the query bodies exactly: the demo-config IVF
    * centroids (q146/q263 etc. via ivfCfg), the √n-ladder centroids +
    * IVF-PQ index (q286/q287), the d10 incremental split
    * (q289/q291/q297) and the c10 five-append LSM split (q296). */
  def ingestArtifacts(s: SparkSession, dir: String): Unit = {
    val base = quantized(s, dir).filter(col("qn") > 0)
      .select("vec_id", "qv", "qn")
    graft.operators.Ivf.persistedCentroidsCosine(base, dir, "vec_id", "qv",
      ivfCfg.nCentroids, ivfTrainRounds)
    val k = pqK(pqN(s, dir))
    val cents = graft.operators.Ivf.persistedCentroidsCosine(base, dir,
      "vec_id", "qv", k, ivfTrainRounds)
    graft.operators.IvfPq.persistedIndex(base, dir, cents, k,
      ivfTrainRounds, ivfReplication)
    pqSplit(base, dir, d10Vecs, k)
    pqSplit(base, dir, c10Vecs, k)
    ()
  }

  /** The IVF-PQ LSM splits of the embeddings corpus (d10: q289/q291/
    * q297; c10: q296), resolved at the demo training config. */
  private val d10Vecs = Splits.d10("vec_id")
  private val c10Vecs = Splits.c10("vec_id")
  private def pqSplit(base: DataFrame, dir: String,
      split: graft.operators.LayoutCatalog.Split, k: Int) =
    graft.operators.IvfPq.splitIndex(base, dir, split, k, ivfTrainRounds,
      ivfReplication)

  /** Quantized embedding, Spark side: the codegen'd
    * functions/VecKernel (one compiled loop; VecMathSpec pins it equal
    * to the HOF `transform(embedding, x -> cast(floor(...)))`
    * formulation the oracle SQL below replays). */
  private def qvCol = graft.functions.VecMath.quantize(col("embedding"))
  private val qvSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** Integer squared-norm of the quantized vector. */
  private def qnormCol = graft.functions.VecMath.qdot(col("qv"), col("qv"))
  private val qnormSql =
    "CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT)"

  /** Integer dot of two quantized columns — the verify-stage hot loop. */
  private[queries] def dotCol(a: String, b: String) =
    graft.functions.VecMath.qdot(col(a), col(b))

  /** Multi-band LSH configuration shared by q38/q39 and their oracles:
    * 3 bands × 6 planes (64 buckets per band). See operators/Lsh.scala
    * for the scale rationale (r grows with log2(n) at production SF). */
  private val lshCfg = graft.operators.Lsh.Config(bands = 3, rowsPerBand = 6)

  /** q54's deliberately coarse (skew-provoking) banding + the
    * refinement knobs shared by its Spark side and oracle: 4 buckets
    * per band always overflow the 60-row cap, forcing
    * Lsh.refineOversized's re-split path at every SF. */
  private val skewCfg = graft.operators.Lsh.Config(bands = 2, rowsPerBand = 2)
  private val skewCap = 60
  private val skewExtra = 2

  /** q60's IVF configuration: 8 cells, 2 probed per query (at
    * production scale nCentroids ~ √n and both knobs trade recall for
    * scored-pair count). */
  private val ivfCfg = graft.operators.Ivf.Config(nCentroids = 8, nProbe = 2)

  /** Lloyd rounds for the q60/q65/q146 centroids: first-N-id seeds
    * REFINED by deterministic integer k-means (Ivf.trainCentroids).
    * Untrained seeds were the round-7 recall gap at cheap nProbe
    * (0.72@2 / 0.85@4); trained centroids track the density modes, so
    * cell membership aligns with cosine neighborhoods. At production
    * scale this is the k-means|| stand-in — same data flow (broadcast
    * centroids, map-side assign, tiny per-round reduce). */
  private val ivfTrainRounds = 2

  /** Candidate replication factor: each vector indexes into its r
    * highest-cosine cells (closure/multi-assignment — the SPANN
    * recipe). r − 1 extra copies buy boundary-neighbor recall at
    * fixed nProbe; pairs dedup before top-k. r = 3 is the round-9
    * operating point: it lifts recall@5 at the CHEAP nProbe=2 probe
    * from 0.84 to 0.90-0.92 (and nProbe=4 to 1.00) across all three
    * SFs, for 1.5× the indexed copies of r = 2 — measured against
    * the two rejected levers (a 3rd Lloyd round: 0.80@2; hash-spread
    * seeding: 0.71@2, both WORSE — see BENCHNOTES r9). q263 publishes
    * the full r ∈ {1,2,3} curve, q146 the nProbe curve at this r. */
  private val ivfReplication = 3

  /** √n centroid LADDER for the IVF-PQ index (q286/q287): nCentroids
    * derives from the corpus row count on a pinned rung table, so the
    * per-cell population — and with it the residual magnitude the PQ
    * codebook must cover and the shortlist/corpus ratio — stays
    * roughly constant as the corpus scales, instead of a fixed k
    * silently degrading recall at every new SF (the round-10 weak
    * mark: fixed k=8 measured recall@5 = 0.87/0.89/0.68 across
    * sf0.001/0.01/0.1). k is the smallest power of two with k² ≥ n
    * (i.e. the pow2-ceiling of √n, floor 8) — integer comparisons
    * only, so both engines land the same rung with no float-log
    * boundary risk. nProbe is 2 for tiny k and saturates at 4, so the
    * probed corpus FRACTION falls as 4/√n while absolute probe work
    * grows only as √n — the production IVF cost model. Sweep-
    * measured at the three SFs (rungs k=32/32/64, p=4): recall@5 =
    * 0.98 / 0.98 / 0.99 at 0.51 / 0.51 / 0.71 s steady — vs the old
    * fixed-8's 0.87 / 0.89 / 0.68, and FASTER at sf0.1 (0.71 s vs
    * 0.83 s) because √n cells shrink both the residuals the codebook
    * must cover and the probed candidate set. The rung input is the
    * RAW embeddings row count (cheap parquet-metadata count, memoized
    * per corpus), which both engines derive identically — the
    * oracle's `nk` CTE replays this exact rung table (its CASE covers
    * n ≤ 4^10 ≈ 1M rows, far above any test corpus; the Scala loop is
    * unbounded for production). The chosen k threads into the
    * [[graft.operators.Ivf]] / [[graft.operators.IvfPq]] artifact
    * fingerprints (`_k$k` in the directory name), so each SF trains
    * and persists its own index. */
  private def pqK(n: Long): Int = {
    var k = 8L
    while (k * k < n && k < (1L << 30)) k <<= 1
    k.toInt
  }
  private def pqProbe(k: Int): Int = math.min(4, math.max(2, k / 8))
  private val pqKSql =
    """nk AS (
          SELECT k, LEAST(4, GREATEST(2, k // 8)) AS p FROM (
            SELECT CASE WHEN COUNT(*) <= 64 THEN 8
                        WHEN COUNT(*) <= 256 THEN 16
                        WHEN COUNT(*) <= 1024 THEN 32
                        WHEN COUNT(*) <= 4096 THEN 64
                        WHEN COUNT(*) <= 16384 THEN 128
                        WHEN COUNT(*) <= 65536 THEN 256
                        WHEN COUNT(*) <= 262144 THEN 512
                        WHEN COUNT(*) <= 1048576 THEN 1024
                        ELSE 2048 END AS k
            FROM embeddings) t)"""
  // keyed on (dir, content fingerprint): a corpus path whose data
  // changes within one JVM (scratch roots in probe harnesses) must
  // re-derive its ladder rung, or Spark would keep a stale k while
  // the DuckDB oracle recomputes COUNT(*) live
  private val pqCorpusN =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def pqN(s: SparkSession, dir: String): Long = {
    val key = dir + "|" +
      graft.operators.LayoutCatalog.fingerprint(dir, Seq("embeddings"))
    pqCorpusN.computeIfAbsent(key,
      _ => t(s, dir, "embeddings").count()).longValue()
  }

  /** Exact cosine of a candidate pair (tables aliased a/b), DuckDB
    * side: one BIGINT dot, one double division by one sqrt — shared by
    * q39 and q54 so both verify steps use the identical formula. */
  private val pairScoreSql =
    """CAST(CAST(list_aggregate(list_transform(range(1, len(a.qv) + 1), i -> a.qv[CAST(i AS INT)] * b.qv[CAST(i AS INT)]), 'sum') AS BIGINT) AS DOUBLE)
                 / sqrt(CAST(a.qn AS DOUBLE) * CAST(b.qn AS DOUBLE))"""

  private[queries] def quantized(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), qvCol.as("qv"))
      .withColumn("qn", qnormCol)

  private[queries] val quantizedSql =
    s"""SELECT vec_id, label, qv, $qnormSql AS qn FROM (
          SELECT vec_id, label, $qvSql AS qv FROM embeddings) q1"""

  /** Brute-force cosine top-5 — the exact answer q36 registers and the
    * ground truth q65 measures IVF recall against. */
  private val bruteTopkSql = s"""
        WITH normed AS ($quantizedSql),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 CAST(CAST(list_aggregate(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i]), 'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(q.qn AS DOUBLE) * CAST(c.qn AS DOUBLE)) AS score
          FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 20 AND q.qn > 0 AND c.qn > 0)
        SELECT query_id, vec_id, score FROM (
          SELECT query_id, vec_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          FROM scored) t
        WHERE rn <= 5"""

  private def bruteTopk(s: SparkSession, dir: String): DataFrame = {
    val normed = quantized(s, dir).filter(col("qn") > 0)
    val q = normed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("qn").as("qqn"))
    val scored = normed.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dot", dotCol("qqv", "qv"))
      .withColumn("score",
        col("dot").cast("double") / sqrt(col("qqn").cast("double") * col("qn").cast("double")))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("query_id", "vec_id", "score")
  }

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q36
    // Brute-force cosine top-k: queries (vec_id < 20) broadcast against
    // all candidates; rank by (score desc, vec_id) — fully deterministic.
    Q("q36_cosine_topk", Some(bruteTopkSql))(bruteTopk),

    // ---------------------------------------------------------------- q40
    // Same top-k semantics as q36, computed with the bounded-heap
    // TopKAggregator (custom typed Aggregator) instead of a
    // row_number window: map-side partial top-k means O(groups × k)
    // shuffle bytes instead of shipping every scored candidate — the
    // plan that survives a 100× candidate-count scale-up.
    Q(
      "q40_cosine_topk_heap",
      Some(bruteTopkSql) // same exact-top-k contract as q36
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
      val q = normed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("qn").as("qqn"))
      val scored = normed.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("dot", dotCol("qqv", "qv"))
        .withColumn("score",
          col("dot").cast("double") / sqrt(col("qqn").cast("double") * col("qn").cast("double")))
      val topk = udaf(new graft.functions.TopKAggregator(5),
        graft.functions.TopK.inputEncoder)
      scored
        .groupBy(col("query_id"))
        .agg(topk(col("vec_id"), col("score")).as("topk"))
        .select(col("query_id"), explode(col("topk")).as("hit"))
        .select(col("query_id"), col("hit.vec_id").as("vec_id"),
          col("hit.score").as("score"))
    },

    // ---------------------------------------------------------------- q37
    // Per-label embedding statistics over the quantized vectors.
    Q(
      "q37_embedding_stats",
      Some(s"""
        WITH normed AS ($quantizedSql)
        SELECT label, COUNT(*) AS n,
               CAST(SUM(qn) AS BIGINT) AS total_qnorm,
               CAST(SUM(qn) AS DOUBLE) / COUNT(*) AS avg_qnorm,
               CAST(MIN(qn) AS BIGINT) AS min_qnorm,
               CAST(MAX(qn) AS BIGINT) AS max_qnorm
        FROM normed GROUP BY label""")
    ) { (s, dir) =>
      quantized(s, dir)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("qn")).as("total_qnorm"),
          (sum(col("qn")).cast("double") / count(lit(1))).as("avg_qnorm"),
          min(col("qn")).as("min_qnorm"),
          max(col("qn")).as("max_qnorm"))
    },

    // ---------------------------------------------------------------- q38
    // Multi-band LSH bucketing by sign-random-projection via the
    // parameterized operators/Lsh operator (3 bands × 6 planes): each
    // vector gets one bucket per band; (band, bucket) is the downstream
    // shuffle/join key — the scale path for ANN.
    Q(
      "q38_lsh_buckets",
      Some {
        val bands = (0 until lshCfg.bands).map { j =>
          val b = graft.operators.Lsh.bandBucketSql("qv", j, lshCfg.rowsPerBand)
          s"SELECT vec_id, label, $j AS band, CAST($b AS BIGINT) AS bucket FROM qd"
        }.mkString("\n        UNION ALL\n        ")
        s"""
        WITH qd AS (SELECT vec_id, label, $qvSql AS qv FROM embeddings)
        $bands"""
      }
    ) { (s, dir) =>
      val qd = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), qvCol.as("qv"))
      graft.operators.Lsh.explodeBands(qd, "qv", lshCfg)
        .select(col("vec_id"), col("label"), col("band"), col("bucket"))
    },

    // ---------------------------------------------------------------- q39
    // Embedding-cosine near-dup pairs, blocked by the parameterized
    // multi-band LSH operator: candidates form only within a
    // (band, bucket) group (hash-partitioned self-join — never a cross
    // join), exact cosine verifies each candidate, and the per-band
    // candidate sets are unioned by a distinct on the verified pairs.
    // At production scale rowsPerBand grows with log2(n), so the
    // within-bucket pair count stays bounded (vs the round-1 fixed
    // 16-bucket O(n²/16) blocking). Deterministic: integer dot + 1 sqrt.
    Q(
      "q39_cosine_neardup",
      Some {
        val scoreSql = pairScoreSql
        val bands = (0 until lshCfg.bands).map { j =>
          val b = graft.operators.Lsh.bandBucketSql("qv", j, lshCfg.rowsPerBand)
          s"SELECT vec_id, qv, qn, $j AS band, CAST($b AS BIGINT) AS bucket FROM withn"
        }.mkString("\n          UNION ALL\n          ")
        s"""
        WITH qd AS (SELECT vec_id, $qvSql AS qv FROM embeddings),
        withn AS (
          SELECT vec_id, qv,
                 CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS qn
          FROM qd WHERE CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) > 0),
        banded AS (
          $bands)
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               $scoreSql AS score
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND b.vec_id > a.vec_id
        WHERE $scoreSql >= 0.30"""
      }
    ) { (s, dir) =>
      val withn = t(s, dir, "embeddings")
        .select(col("vec_id"), qvCol.as("qv"))
        .withColumn("qn", qnormCol)
        .filter(col("qn") > 0)
      val banded = graft.operators.Lsh.explodeBands(withn, "qv", lshCfg)
      graft.operators.Lsh.selfJoinPairs(banded, "vec_id")
        .withColumn("dot", dotCol("qv_a", "qv_b"))
        .withColumn("score",
          col("dot").cast("double") / sqrt(col("qn_a").cast("double") * col("qn_b").cast("double")))
        .filter(col("score") >= 0.30)
        .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("score"))
        .distinct()
    },

    // ---------------------------------------------------------------- q60
    // IVF approximate top-k via operators/Ivf — the centroid-partitioned
    // ANN scale path beside q38/q39's LSH route: 8 deterministic seed
    // centroids (broadcast), map-side nearest-centroid assignment, each
    // query probes its 2 nearest cells, and ONLY candidates in probed
    // cells are cosine-scored (vs q36's all-pairs n·q). The probe side
    // is broadcast too, so everything before the final per-query top-k
    // is shuffle-free. Deterministic: integer squared-L2 with
    // centroid_id tiebreaks; the oracle replays assignment, probing,
    // and scoring exactly.
    Q("q60_ivf_topk", Some(ivfTopkSql))(ivfTopk),

    // ---------------------------------------------------------------- q65
    // ANN quality evaluation: per-query recall of the IVF route (q60)
    // against exact brute force (q36) — the measurement that tunes
    // (nCentroids, nProbe) in production. Both inputs are
    // deterministic, so recall itself is deterministic and
    // oracle-checkable; computation is two subplans + one broadcast-able
    // join on (query_id, vec_id).
    Q(
      "q65_ann_recall",
      Some(s"""
        SELECT bf.query_id,
               CAST(COUNT(iv.vec_id) AS BIGINT) AS n_hits,
               COUNT(*) AS k
        FROM ($bruteTopkSql) bf
        LEFT JOIN ($ivfTopkSql) iv
          ON iv.query_id = bf.query_id AND iv.vec_id = bf.vec_id
        GROUP BY bf.query_id""")
    ) { (s, dir) =>
      val bf = bruteTopk(s, dir).select("query_id", "vec_id")
      val iv = ivfTopk(s, dir).select(col("query_id"), col("vec_id"))
        .withColumn("hit", lit(1))
      bf.join(iv, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
    },

    // --------------------------------------------------------------- q146
    // ANN recall-vs-probe sweep: overall recall@5 of the IVF route at
    // nProbe ∈ {2, 4, 8} against exact brute force — the tuning curve
    // that picks the production probe setting (q65 reports one point;
    // this reports the knob). Recall is provably MONOTONE in nProbe:
    // probed cells are prefix-nested, so the candidate set only grows,
    // and any candidate that displaces a true top-5 hit from the
    // approximate top-5 must out-score it and is therefore itself in
    // the exact top-5 (AnalyticsSpec pins the monotone property). At
    // nProbe = nCentroids the probe is exhaustive and recall is
    // exactly 1.0. With spherical trained cells (2 Lloyd rounds) +
    // r=3 candidate replication the measured curve is 0.90-0.92@2 /
    // 1.00@4 / 1.00@8 across sf0.001-0.1 — even the CHEAPEST probe
    // point clears 0.9 (the round-8 gap), and the centroids read back
    // from the persisted layout artifact so each sweep point is one
    // bucketed IVF search + a 100-row join against the ONCE-
    // materialized exact ground truth.
    Q(
      "q146_recall_sweep",
      Some(Seq(2, 4, 8).map { p =>
        s"""
        SELECT CAST($p AS BIGINT) AS n_probe,
               CAST(COUNT(iv.vec_id) AS BIGINT) AS n_hits,
               COUNT(*) AS k,
               CAST(COUNT(iv.vec_id) AS DOUBLE) / COUNT(*) AS recall
        FROM ($bruteTopkSql) bf
        LEFT JOIN (${ivfTopkSqlAt(p)}) iv
          ON iv.query_id = bf.query_id AND iv.vec_id = bf.vec_id"""
      }.mkString("\n        UNION ALL\n"))
    ) { (s, dir) =>
      val bf = graft.Checkpoints.materialize(
        bruteTopk(s, dir).select("query_id", "vec_id"))
      // train ONCE; the three sweep points share the centroid table
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val cents = graft.operators.Ivf.persistedCentroidsCosine(base, dir,
        "vec_id", "qv", ivfCfg.nCentroids, ivfTrainRounds)
      Seq(2, 4, 8).map { p =>
        val iv = ivfTopkWith(base, cents, p)
          .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
        bf.join(iv, Seq("query_id", "vec_id"), "left")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(lit(p.toLong).as("n_probe"), col("n_hits"), col("k"),
            (col("n_hits").cast("double") / col("k")).as("recall"))
      }.reduce(_ unionAll _)
    },

    // --------------------------------------------------------------- q263
    // ANN replication sweep — q146's sibling for the SECOND recall
    // knob: recall@5 at fixed nProbe=2 (the cheapest operating point,
    // where boundary losses concentrate) for candidate replication
    // r ∈ {1, 2, 3}. r=1 is plain single-cell assignment; r ≥ 2
    // indexes each vector in its r best cells for r× storage/pairs.
    // Together with q146 this publishes the full tuning surface a
    // production deployment sweeps: (nProbe, r) → (recall, cost).
    // Training and exact ground truth are shared across both sweep
    // points (one trained centroid table, one materialized brute
    // top-5); replication recall is monotone in r for the same
    // prefix-nesting reason as nProbe (candidate cells only grow).
    Q(
      "q263_replication_sweep",
      Some(Seq(1, 2, 3).map { r =>
        s"""
        SELECT CAST($r AS BIGINT) AS replication,
               CAST(COUNT(iv.vec_id) AS BIGINT) AS n_hits,
               COUNT(*) AS k,
               CAST(COUNT(iv.vec_id) AS DOUBLE) / COUNT(*) AS recall
        FROM ($bruteTopkSql) bf
        LEFT JOIN (${ivfTopkSqlAtR(2, r)}) iv
          ON iv.query_id = bf.query_id AND iv.vec_id = bf.vec_id"""
      }.mkString("\n        UNION ALL\n"))
    ) { (s, dir) =>
      val bf = graft.Checkpoints.materialize(
        bruteTopk(s, dir).select("query_id", "vec_id"))
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val cents = graft.operators.Ivf.persistedCentroidsCosine(base, dir,
        "vec_id", "qv", ivfCfg.nCentroids, ivfTrainRounds)
      Seq(1, 2, 3).map { r =>
        val iv = ivfTopkWith(base, cents, 2, r)
          .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
        bf.join(iv, Seq("query_id", "vec_id"), "left")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(lit(r.toLong).as("replication"), col("n_hits"), col("k"),
            (col("n_hits").cast("double") / col("k")).as("recall"))
      }.reduce(_ unionAll _)
    },

    // --------------------------------------------------------------- q274
    // Reciprocal-rank fusion of two retrieval routes — the standard
    // hybrid-search combiner (RRF: score = Σ_lists 1/(60 + rank), in
    // exact integer ppm via 10⁶ div (60 + rank)): the EXACT brute
    // cosine top-5 (q36) fuses with the IVF approximate top-5 (q60,
    // persisted centroids), so agreement boosts a candidate (two
    // reciprocal terms) and either route alone can still surface one.
    // Per-query work is 5+5 ranked rows — every window partitions by
    // query_id, the fused table is ≤ 10 rows/query before its own
    // top-5. The production shape: fusing a lexical BM25 list with a
    // dense ANN list is byte-identical machinery — both inputs here
    // are oracle-backed queries, making the fusion value-checkable.
    Q(
      "q274_rank_fusion",
      Some(s"""
        WITH bfr AS (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rank
          FROM ($bruteTopkSql) bf),
        ivr AS (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rank
          FROM ($ivfTopkSql) iv),
        u AS (SELECT * FROM bfr UNION ALL SELECT * FROM ivr),
        f AS (
          SELECT query_id, vec_id,
                 CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm,
                 CAST(COUNT(*) AS BIGINT) AS n_lists
          FROM u GROUP BY 1, 2)
        SELECT query_id, vec_id, rrf_ppm, n_lists, fused_rank FROM (
          SELECT f.*, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rrf_ppm DESC, vec_id) AS fused_rank
          FROM f) t
        WHERE fused_rank <= 5""")
    ) { (s, dir) =>
      val wq = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
      val bfr = bruteTopk(s, dir)
        .withColumn("rank", row_number().over(wq))
        .select("query_id", "vec_id", "rank")
      val ivr = ivfTopk(s, dir)
        .withColumn("rank", row_number().over(wq))
        .select("query_id", "vec_id", "rank")
      val f = bfr.unionByName(ivr)
        .groupBy("query_id", "vec_id")
        .agg(sum(expr("1000000 div (60 + rank)")).as("rrf_ppm"),
          count(lit(1)).as("n_lists"))
      f.withColumn("fused_rank", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("rrf_ppm"), col("vec_id"))))
        .filter(col("fused_rank") <= 5)
        .select(col("query_id"), col("vec_id"), col("rrf_ppm"),
          col("n_lists"), col("fused_rank").cast("long").as("fused_rank"))
    },

    // --------------------------------------------------------------- q280
    // Label-centroid embedding drift — the representation-health check
    // a curation pass runs beside q229's length drift: does each
    // label's embedding CENTROID still point where the corpus points?
    // Per-label mean vectors come from ONE positional aggregate
    // (label×dim cells — the lloydStep shape: map-side combinable,
    // never a collect), element-wise floor means keep every
    // coordinate a bounded exact integer (|m| ≤ quantization scale,
    // independent of corpus size — the reason to compare MEANS, not
    // raw sums, whose dot would pass BIGINT at petascale), and the
    // global centroid RE-AGGREGATES from the same cells (the corpus
    // is read once). Cosine via the codegen'd integer dot + one
    // IEEE sqrt per label — cross-engine bit-stable (q39's contract).
    // Low cosine = the label's region is drifting away from the
    // corpus mean direction — the flag for re-embedding or split.
    Q(
      "q280_label_centroid_drift",
      Some(s"""
        WITH q AS (SELECT vec_id, label, $qvSql AS qv FROM embeddings),
        cells AS (
          SELECT label, i, CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS sv,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM q, (SELECT unnest(range(1, 65)) AS i) p
          GROUP BY 1, 2),
        ms AS (
          SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs,
                 list(sv // n ORDER BY i) AS mv
          FROM cells GROUP BY 1),
        gc AS (
          SELECT i, CAST(SUM(sv) AS BIGINT) AS sv,
                 CAST(SUM(n) AS BIGINT) AS n
          FROM cells GROUP BY 1),
        g AS (SELECT list(sv // n ORDER BY i) AS gv FROM gc)
        SELECT label, n_vecs,
               ${graft.operators.Ivf.dotSql("ms.mv", "g.gv")} AS dot,
               CAST(${graft.operators.Ivf.dotSql("ms.mv", "g.gv")} AS DOUBLE)
                 / sqrt(CAST(${graft.operators.Ivf.dotSql("ms.mv", "ms.mv")}
                         AS DOUBLE)
                      * CAST(${graft.operators.Ivf.dotSql("g.gv", "g.gv")}
                         AS DOUBLE)) AS cos_sim
        FROM ms CROSS JOIN g""")
    ) { (s, dir) =>
      val cells = t(s, dir, "embeddings")
        .select(col("label"), posexplode(qvCol).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      val ms = cells.withColumn("m", expr("sv div n"))
        .groupBy("label")
        .agg(max(col("n")).as("n_vecs"),
          expr("transform(array_sort(collect_list(struct(pos, m)))," +
            " x -> x.m)").as("mv"))
      val g = cells.groupBy("pos")
        .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
        .withColumn("m", expr("sv div n"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
          " x -> x.m)").as("gv"))
      ms.crossJoin(broadcast(g))
        .select(col("label"), col("n_vecs"),
          graft.functions.VecMath.qdot(col("mv"), col("gv")).as("dot"),
          (graft.functions.VecMath.qdot(col("mv"), col("gv")).cast("double")
            / sqrt(graft.functions.VecMath.qdot(col("mv"), col("mv"))
                .cast("double")
              * graft.functions.VecMath.qdot(col("gv"), col("gv"))
                .cast("double"))).as("cos_sim"))
    },

    qSkewcap,

    // ---------------------------------------------------------------- q89
    // Semantic deduplication (the SemDeDup recipe): embeddings
    // partition into IVF cells (broadcast centroids, map-side
    // assignment — operators/Ivf, same 8 deterministic cells as q60),
    // near-duplicate pairs form ONLY within a cell, and each vector's
    // canonical representative is the smallest vec_id that covers it
    // at cosine ≥ 0.30. Cell blocking is what makes semantic dedup
    // scale: candidate pairs are Σ cell² instead of n², and at
    // production SF nCentroids ~ √n keeps expected cell size √n (plus
    // q54's refinement move if a cell skews). Output: every vector
    // with its cell, its canonical dup_of (NULL when it is the
    // canonical), and the keep decision.
    Q(
      "q89_semantic_dedup",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv, qn FROM normed0 WHERE qn > 0),
        cents AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id, qv AS cv
          FROM (SELECT vec_id, qv FROM normed ORDER BY vec_id LIMIT ${ivfCfg.nCentroids}) s),
        assigned AS (
          SELECT vec_id, qv, qn, centroid_id FROM (
            SELECT n.vec_id, n.qv, n.qn, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")}, c.centroid_id) AS rn
            FROM normed n CROSS JOIN cents c) t
          WHERE rn = 1),
        covers AS (
          SELECT b.vec_id AS dup, MIN(a.vec_id) AS dup_of
          FROM assigned a JOIN assigned b
            ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
          WHERE $pairScoreSql >= 0.30
          GROUP BY b.vec_id)
        SELECT s.vec_id, s.centroid_id, c.dup_of,
               c.dup_of IS NULL AS kept
        FROM assigned s LEFT JOIN covers c ON c.dup = s.vec_id""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val cents = graft.operators.Ivf.seedCentroids(base, "vec_id", "qv", ivfCfg.nCentroids)
      // materialized once: Ivf.assign is map-side only (no exchange for
      // ReuseExchange to share), and this frame is referenced three
      // times below — without the checkpoint the scan + quantize +
      // argmin re-execute per reference (the q94 lesson)
      val assigned = graft.Checkpoints.materialize(
        graft.operators.Ivf.assign(base, "qv", cents))
      val a = assigned.select(col("vec_id").as("id_a"), col("qv").as("qv_a"),
        col("qn").as("qn_a"), col("centroid_id"))
      val b = assigned.select(col("vec_id").as("id_b"), col("qv").as("qv_b"),
        col("qn").as("qn_b"), col("centroid_id"))
      val covers = a.join(b, Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dot", dotCol("qv_a", "qv_b"))
        .withColumn("score",
          col("dot").cast("double") / sqrt(col("qn_a").cast("double") * col("qn_b").cast("double")))
        .filter(col("score") >= 0.30)
        .groupBy(col("id_b"))
        .agg(min(col("id_a")).as("dup_of"))
      assigned.join(covers, col("vec_id") === col("id_b"), "left")
        .select(col("vec_id"), col("centroid_id"), col("dup_of"),
          col("dup_of").isNull.as("kept"))
    },

    // ---------------------------------------------------------------- q103
    // Nearest-centroid classification + confusion matrix: per-label
    // centroids are element-wise integer means of the quantized
    // vectors (the Lloyd-step arithmetic, exact floor-div), the tiny
    // centroid table BROADCASTs, and every vector classifies map-side
    // to its nearest centroid (exact squared-L2, label tiebreak) —
    // one projection over the corpus, then one hash aggregate to the
    // labels² confusion matrix. The distributed eval loop of any
    // embedding-space classifier: no shuffle ever touches the corpus
    // except the final matrix aggregate.
    Q(
      "q103_centroid_classify",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, label, qv, qn FROM normed0 WHERE qn > 0),
        pos AS (
          SELECT label, i,
                 CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS sv,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM normed, (SELECT unnest(range(1, 65)) AS i) p
          GROUP BY label, i),
        cents AS (
          SELECT label AS c_label, list(m ORDER BY i) AS cv
          FROM (SELECT label, i, sv // cnt AS m FROM pos) t
          GROUP BY label),
        assigned AS (
          SELECT label, pred FROM (
            SELECT n.label, c.c_label AS pred,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")}, c.c_label) AS rn
            FROM normed n CROSS JOIN cents c) t
          WHERE rn = 1)
        SELECT label, pred, COUNT(*) AS n
        FROM assigned GROUP BY label, pred""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
      // per-label centroids ARE one Lloyd step with label as the
      // cluster key, and classification IS Ivf.assign against them —
      // reusing the operators keeps the floor-div and tiebreak
      // semantics in one place
      val cents = graft.operators.Ivf.lloydStep(
        normed.select(col("label").as("centroid_id"), col("qv")), "qv")
      graft.operators.Ivf.assign(normed.select(col("vec_id"), col("label"), col("qv")),
          "qv", cents)
        .groupBy(col("label"), col("centroid_id").as("pred"))
        .agg(count(lit(1)).as("n"))
    },

    // ---------------------------------------------------------------- q107
    // Embedding covariance sufficient statistics — the q88 move
    // generalized to the 64×64 upper triangle: ONE pass generates the
    // 2080 (i ≤ j) cross products per vector (bounded by dim², not
    // corpus), partial-aggregates exact-integer Σxᵢxⱼ map-side, and
    // the per-dimension sums broadcast back for the centered
    // numerator n·Σxᵢxⱼ − Σxᵢ·Σxⱼ. Whitening / PCA / outlier
    // pipelines consume exactly this matrix, and at 100 TB the plan
    // is one partial-aggregated exchange of dim² cells. cov is one
    // IEEE division of exact integers.
    Q(
      "q107_embedding_covariance",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv FROM normed0),
        cross_sums AS (
          SELECT i, j,
                 CAST(SUM(qv[CAST(i AS INT)] * qv[CAST(j AS INT)]) AS BIGINT) AS sxy,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM normed,
               (SELECT unnest(range(1, 65)) AS i) a,
               (SELECT unnest(range(1, 65)) AS j) b
          WHERE j >= i
          GROUP BY i, j),
        dim_sums AS (
          SELECT i, CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS sx
          FROM normed, (SELECT unnest(range(1, 65)) AS i) a
          GROUP BY i)
        SELECT c.i, c.j, c.n, c.sxy, di.sx AS sx_i, dj.sx AS sx_j,
               CAST(c.n * c.sxy - di.sx * dj.sx AS DOUBLE)
                 / CAST(c.n * c.n AS DOUBLE) AS cov
        FROM cross_sums c
        JOIN dim_sums di ON di.i = c.i
        JOIN dim_sums dj ON dj.i = c.j""")
    ) { (s, dir) =>
      import s.implicits._
      val normed = quantized(s, dir).select(col("vec_id"), col("qv"))
      // the typed CovMatrixAggregator folds all 2080 cross products of
      // a vector into one flat buffer — no 2080-row explode, no
      // per-cell hashing; partials are one array per partition and the
      // shuffle carries O(partitions × dim²) bytes at any corpus size
      val covUdaf = udaf(new graft.functions.CovMatrixAggregator(64),
        graft.functions.CovMatrix.inputEncoder)
      // the cross products AND the per-dim sums come out of the one
      // aggregator pass — the corpus is scanned exactly once, with no
      // explode anywhere; checkpointed so the two unflattens below
      // don't re-run the pass
      val one = graft.Checkpoints.materialize(
        normed.agg(covUdaf(col("qv")).as("st")))
      val cells = one.select(col("st.n").as("n"),
        posexplode(col("st.sums")).as(Seq("k", "sxy")))
      val idx = graft.functions.CovMatrix.pairIndex(64).toDF("k", "i0", "j0")
      val cross = cells.join(broadcast(idx), "k")
        .select(col("i0").cast("long").as("i"), col("j0").cast("long").as("j"),
          col("n"), col("sxy"))
      val dims = one
        .select(posexplode(col("st.dimSums")).as(Seq("pos0", "sx")))
        .select((col("pos0") + 1).cast("long").as("i"), col("sx"))
      cross
        .join(broadcast(dims.select(col("i"), col("sx").as("sx_i"))), "i")
        .join(broadcast(dims.select(col("i").as("j"), col("sx").as("sx_j"))), "j")
        .select(col("i"), col("j"), col("n"), col("sxy"), col("sx_i"), col("sx_j"),
          ((col("n") * col("sxy") - col("sx_i") * col("sx_j")).cast("double") /
            (col("n") * col("n")).cast("double")).as("cov"))
    },

    // ---------------------------------------------------------------- q110
    // Per-dimension z-score outlier flags, ALL-INTEGER: x is beyond
    // 3σ of its dimension iff (x·n − Σx)² > 9·(n·Σx² − (Σx)²) — the
    // inequality cross-multiplied by n² so no division, no sqrt, no
    // float ever occurs (exact BIGINT at this SF; production-scale n
    // recasts the two sides to DECIMAL(38,0)). The 64-row per-dim
    // stats table broadcasts; the corpus is scanned once and each
    // vector reports how many of its dimensions are 3σ-extreme — the
    // embedding-space outlier filter a curation pipeline runs before
    // training. The only shuffles are the tiny stats aggregate and
    // the optional final ordering of flagged rows (none — output is
    // per-vector, unordered).
    Q(
      "q110_outlier_dims",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv FROM normed0),
        dim_stats AS (
          SELECT i,
                 CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS sx,
                 CAST(SUM(qv[CAST(i AS INT)] * qv[CAST(i AS INT)]) AS BIGINT) AS sxx,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM normed, (SELECT unnest(range(1, 65)) AS i) a
          GROUP BY i)
        SELECT v.vec_id,
               CAST(SUM(CASE WHEN
                 (v.qv[CAST(d.i AS INT)] * d.n - d.sx) * (v.qv[CAST(d.i AS INT)] * d.n - d.sx)
                   > 9 * (d.n * d.sxx - d.sx * d.sx)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_dims,
               CAST(SUM(CASE WHEN
                 (v.qv[CAST(d.i AS INT)] * d.n - d.sx) * (v.qv[CAST(d.i AS INT)] * d.n - d.sx)
                   > 9 * (d.n * d.sxx - d.sx * d.sx)
                 THEN 1 ELSE 0 END) AS BIGINT) >= 2 AS is_outlier
        FROM normed v, dim_stats d
        GROUP BY v.vec_id""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).select(col("vec_id"), col("qv"))
      val stats = normed
        .select(posexplode(col("qv")).as(Seq("pos0", "v")))
        .select((col("pos0") + 1).cast("long").as("i"), col("v"))
        .groupBy("i")
        .agg(sum(col("v")).as("sx"), sum(col("v") * col("v")).as("sxx"),
          count(lit(1)).as("n"))
      val statArr = stats
        .agg(collect_list(struct(col("i"), col("sx"), col("sxx"), col("n"))).as("__st"))
      // the whole per-vector test runs inside ONE projection over the
      // broadcast stats array — no explode of the corpus, no join
      normed.crossJoin(broadcast(statArr))
        .withColumn("n_outlier_dims", expr(
          """CAST(aggregate(__st, 0L, (acc, d) ->
               acc + (CASE WHEN
                 (element_at(qv, CAST(d.i AS INT)) * d.n - d.sx)
                   * (element_at(qv, CAST(d.i AS INT)) * d.n - d.sx)
                   > 9 * (d.n * d.sxx - d.sx * d.sx)
               THEN 1L ELSE 0L END)) AS BIGINT)"""))
        .select(col("vec_id"), col("n_outlier_dims"),
          (col("n_outlier_dims") >= 2).as("is_outlier"))
    },

    // --------------------------------------------------------------- q114
    // Two-stage scalar-quantized ANN — the retrieve-then-rerank shape
    // every production vector store runs: stage 1 scans COARSE codes
    // (floor(x·16), 4-bit-ish ints — 1/64th the bytes of the exact
    // grid) and ranks candidates by raw integer dot; stage 2 reranks
    // only the top-50 survivors with the exact 1000-grid cosine. At
    // 100 TB the coarse codes are the only column the candidate scan
    // reads (column pruning keeps the wide embedding out of stage 1's
    // I/O), and the rerank join touches queries × 50 rows regardless
    // of corpus size. All candidate arithmetic is exact BIGINT; the
    // rerank's one division/sqrt runs on identical operands in both
    // engines. Ties at both stages carry a vec_id tiebreak.
    Q(
      "q114_quantized_ann",
      Some(s"""
        WITH base AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv,
                 list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 16) AS BIGINT)) AS cv
          FROM embeddings),
        normed AS (
          SELECT vec_id, qv, cv,
                 CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS qn
          FROM base
          WHERE CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) > 0),
        cand AS (
          SELECT query_id, vec_id, approx, qv, qn, qqv, qqn FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   CAST(list_aggregate(list_transform(range(1, len(q.cv) + 1), i -> q.cv[i] * c.cv[i]), 'sum') AS BIGINT) AS approx,
                   c.qv, c.qn, q.qv AS qqv, q.qn AS qqn,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                     CAST(list_aggregate(list_transform(range(1, len(q.cv) + 1), i -> q.cv[i] * c.cv[i]), 'sum') AS BIGINT) DESC,
                     c.vec_id) AS arn
            FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 20) t
          WHERE arn <= 100),
        rer AS (
          SELECT query_id, vec_id, approx,
                 CAST(CAST(list_aggregate(list_transform(range(1, len(qqv) + 1), i -> qqv[i] * qv[i]), 'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(qqn AS DOUBLE) * CAST(qn AS DOUBLE)) AS score
          FROM cand)
        SELECT query_id, vec_id, approx, score, rnk FROM (
          SELECT query_id, vec_id, approx, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
          FROM rer) t
        WHERE rnk <= 5""")
    ) { (s, dir) =>
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), qvCol.as("qv"),
          graft.functions.VecMath.quantize(col("embedding"), 16L).as("cv"))
      val normed = base.withColumn("qn", qnormCol).filter(col("qn") > 0)
      val q = normed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("cv").as("qcv"),
          col("qv").as("qqv"), col("qn").as("qqn"))
      // stage 1: coarse-code scan; candidates ranked by integer dot
      val wa = Window.partitionBy("query_id").orderBy(desc("approx"), col("vec_id"))
      val cand = normed.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("approx", dotCol("qcv", "cv"))
        .withColumn("arn", row_number().over(wa))
        .filter(col("arn") <= 100)
      // stage 2: exact rerank over <= 100 survivors per query
      val wr = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
      cand
        .withColumn("score",
          dotCol("qqv", "qv").cast("double") /
            sqrt(col("qqn").cast("double") * col("qn").cast("double")))
        .withColumn("rnk", row_number().over(wr).cast("long"))
        .filter(col("rnk") <= 5)
        .select("query_id", "vec_id", "approx", "score", "rnk")
    },

    // --------------------------------------------------------------- q120
    // Contrastive-pair mining for embedding training: per anchor, the
    // hardest positive (top-cosine SAME-label neighbor) and the top-3
    // hard negatives (highest-cosine DIFFERENT-label vectors — the
    // near-miss examples a contrastive loss learns most from). Anchors
    // BROADCAST (the q36 shape); scoring is one map-side pass over the
    // corpus with the shared quantized-dot kernel; ranking is one
    // window keyed (query_id, role), so the wide exchange carries
    // anchors × corpus scored rows — at 100 TB the q40 bounded-heap
    // aggregator drops in for the window, same as the ANN path.
    // Deterministic: exact BIGINT dots, one IEEE division/sqrt,
    // (score desc, vec_id) total order.
    Q(
      "q120_hard_negatives",
      Some(s"""
        WITH normed AS ($quantizedSql),
        live AS (SELECT * FROM normed WHERE qn > 0),
        anch AS (SELECT vec_id AS query_id, label AS qlabel, qv AS aqv, qn AS aqn
                 FROM live WHERE vec_id < 20),
        scored AS (
          SELECT a.query_id, c.vec_id,
                 CASE WHEN c.label = a.qlabel THEN 'pos' ELSE 'neg' END AS role,
                 CAST(CAST(list_aggregate(list_transform(range(1, len(a.aqv) + 1), i -> a.aqv[CAST(i AS INT)] * c.qv[CAST(i AS INT)]), 'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(a.aqn AS DOUBLE) * CAST(c.qn AS DOUBLE)) AS score
          FROM anch a JOIN live c ON c.vec_id <> a.query_id),
        ranked AS (
          SELECT query_id, vec_id, role, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id, role
                                    ORDER BY score DESC, vec_id) AS rnk
          FROM scored)
        SELECT query_id, vec_id, role, CAST(rnk AS BIGINT) AS rnk, score
        FROM ranked
        WHERE (role = 'neg' AND rnk <= 3) OR (role = 'pos' AND rnk = 1)""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
      val anch = normed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("qv").as("aqv"), col("qn").as("aqn"))
      val w = Window.partitionBy("query_id", "role")
        .orderBy(desc("score"), col("vec_id"))
      normed.join(broadcast(anch), col("vec_id") =!= col("query_id"))
        .withColumn("role",
          when(col("label") === col("qlabel"), "pos").otherwise("neg"))
        .withColumn("dot", dotCol("aqv", "qv"))
        .withColumn("score", col("dot").cast("double") /
          sqrt(col("aqn").cast("double") * col("qn").cast("double")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter((col("role") === "neg" && col("rnk") <= 3) ||
          (col("role") === "pos" && col("rnk") === 1))
        .select("query_id", "vec_id", "role", "rnk", "score")
    },

    // --------------------------------------------------------------- q124
    // Incremental vector-index maintenance — q87's incremental-dedup
    // contract on the ANN side: an incoming batch (vec_id % 10 == 0)
    // inserts into the EXISTING IVF index (the other 90%), and each
    // new vector is screened against index members OF ITS OWN CELL
    // only — best cosine match decides reject_dup (≥ 0.30, q89's
    // threshold) vs insert. Centroids seed from the index side, so the
    // batch never changes existing cell geometry (the production
    // invariant: readers keep probing stable cells; re-centering is a
    // separate offline job). Daily work is batch × cell-size — it
    // scales with the batch, never the archive, and in production the
    // index side reads persisted (vec_id, centroid_id) assignments
    // instead of re-deriving them. Deterministic: integer argmin with
    // centroid tiebreak, (score desc, match_id) total order.
    Q(
      "q124_index_insert",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv, qn FROM normed0 WHERE qn > 0),
        idx AS (SELECT * FROM normed WHERE vec_id % 10 <> 0),
        batch AS (SELECT * FROM normed WHERE vec_id % 10 = 0),
        cents AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id, qv AS cv
          FROM (SELECT vec_id, qv FROM idx ORDER BY vec_id LIMIT ${ivfCfg.nCentroids}) s),
        ai AS (
          SELECT vec_id, qv, qn, centroid_id FROM (
            SELECT n.vec_id, n.qv, n.qn, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")}, c.centroid_id) AS rn
            FROM idx n CROSS JOIN cents c) t
          WHERE rn = 1),
        ab AS (
          SELECT vec_id, qv, qn, centroid_id FROM (
            SELECT n.vec_id, n.qv, n.qn, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")}, c.centroid_id) AS rn
            FROM batch n CROSS JOIN cents c) t
          WHERE rn = 1),
        scored AS (
          SELECT b.vec_id AS vec_id, a.vec_id AS match_id, $pairScoreSql AS score
          FROM ab b JOIN ai a ON a.centroid_id = b.centroid_id),
        best AS (
          SELECT vec_id, match_id, score FROM (
            SELECT vec_id, match_id, score,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, match_id) AS rn
            FROM scored) t WHERE rn = 1)
        SELECT b.vec_id, b.centroid_id,
               CASE WHEN best.score >= 0.30 THEN 'reject_dup'
                    ELSE 'insert' END AS action,
               best.match_id, best.score
        FROM ab b LEFT JOIN best ON best.vec_id = b.vec_id""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val idx = normed.filter(col("vec_id") % 10 =!= 0)
      val batch = normed.filter(col("vec_id") % 10 === 0)
      val cents = graft.operators.Ivf.seedCentroids(idx, "vec_id", "qv", ivfCfg.nCentroids)
      val ai = graft.operators.Ivf.assign(idx, "qv", cents)
        .select(col("vec_id").as("id_a"), col("qv").as("qv_a"),
          col("qn").as("qn_a"), col("centroid_id"))
      // referenced twice below (scoring + the final left join) —
      // materialize once (the q89 lesson: map-side assign has no
      // exchange for ReuseExchange to share)
      val ab = graft.Checkpoints.materialize(
        graft.operators.Ivf.assign(batch, "qv", cents)
          .select(col("vec_id"), col("qv").as("qv_b"),
            col("qn").as("qn_b"), col("centroid_id")))
      val w = Window.partitionBy("vec_id").orderBy(desc("score"), col("match_id"))
      val best = ab.join(ai, Seq("centroid_id"))
        .withColumn("dot", dotCol("qv_a", "qv_b"))
        .withColumn("score", col("dot").cast("double") /
          sqrt(col("qn_a").cast("double") * col("qn_b").cast("double")))
        .select(col("vec_id"), col("id_a").as("match_id"), col("score"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .drop("rn")
      ab.select("vec_id", "centroid_id")
        .join(best, Seq("vec_id"), "left")
        .select(col("vec_id"), col("centroid_id"),
          when(col("score") >= 0.30, "reject_dup").otherwise("insert").as("action"),
          col("match_id"), col("score"))
    },

    // --------------------------------------------------------------- q139
    // Embedding whitening (per-dimension standardization): every
    // vector re-expressed as integer z-scores ×1000 against the
    // corpus' per-dimension mean/std — the preprocessing step before
    // cosine/IVF when dimensions have wildly different scales. The
    // z-score is computed in the CROSS-MULTIPLIED form
    // (x·n − Σx)/√(n·Σx² − (Σx)²) so every operand is an exact BIGINT
    // and the one divide + sqrt + round runs on identical values in
    // both engines (q110's integer move, producing values instead of
    // flags); zero-variance dimensions emit 0 (declared). The 64-row
    // stats table broadcasts sorted; the whole transform is ONE
    // projection per vector — no corpus explode, no join shuffle.
    // Output contract: the 64 z-scores serialize to ONE canonical
    // comma-joined string per vector (identical BIGINT rendering in
    // both engines) — scalar columns only, so the oracle harness can
    // sort and hash rows (an array<bigint> column crashed its pandas
    // sort; AnalyticsSpec replays the numeric values).
    Q(
      "q139_whiten",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv FROM normed0),
        dim_stats AS (
          SELECT i,
                 CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS sx,
                 CAST(SUM(qv[CAST(i AS INT)] * qv[CAST(i AS INT)]) AS BIGINT) AS sxx,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM normed, (SELECT unnest(range(1, 65)) AS i) a
          GROUP BY i),
        starr AS (SELECT list_sort(list((i, sx, sxx, n))) AS st FROM dim_stats)
        SELECT v.vec_id,
               array_to_string(list_transform(range(1, 65), i -> CASE
                 WHEN st[CAST(i AS INT)][4] * st[CAST(i AS INT)][3]
                      - st[CAST(i AS INT)][2] * st[CAST(i AS INT)][2] <= 0 THEN 0
                 ELSE CAST(round(
                   CAST(1000 * (v.qv[CAST(i AS INT)] * st[CAST(i AS INT)][4]
                                - st[CAST(i AS INT)][2]) AS DOUBLE)
                   / sqrt(CAST(st[CAST(i AS INT)][4] * st[CAST(i AS INT)][3]
                               - st[CAST(i AS INT)][2] * st[CAST(i AS INT)][2] AS DOUBLE)))
                   AS BIGINT) END), ',') AS zq
        FROM normed v CROSS JOIN starr""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).select(col("vec_id"), col("qv"))
      val stats = normed
        .select(posexplode(col("qv")).as(Seq("pos0", "v")))
        .select((col("pos0") + 1).cast("long").as("i"), col("v"))
        .groupBy("i")
        .agg(sum(col("v")).as("sx"), sum(col("v") * col("v")).as("sxx"),
          count(lit(1)).as("n"))
      val statArr = stats.agg(array_sort(
        collect_list(struct(col("i"), col("sx"), col("sxx"), col("n")))).as("__st"))
      normed.crossJoin(broadcast(statArr))
        .select(col("vec_id"), expr(
          """concat_ws(',', transform(sequence(1, 64), i -> CAST(CASE
               WHEN element_at(__st, i).n * element_at(__st, i).sxx
                    - element_at(__st, i).sx * element_at(__st, i).sx <= 0 THEN 0L
               ELSE CAST(round(
                 CAST(1000 * (element_at(qv, i) * element_at(__st, i).n
                              - element_at(__st, i).sx) AS DOUBLE)
                 / sqrt(CAST(element_at(__st, i).n * element_at(__st, i).sxx
                             - element_at(__st, i).sx * element_at(__st, i).sx AS DOUBLE)))
                 AS BIGINT) END AS STRING)))""").as("zq"))
    },

    // --------------------------------------------------------------- q150
    // Quantization-error audit of the ×1000 integer grid every vector
    // query rides on: per dimension, the mean/max fractional loss of
    // floor(x·1000) in micro-units — the measurement that justifies
    // (or indicts) the grid before trusting quantized cosines (q36+)
    // at a new embedding scale. The error term is EXACT and
    // cross-engine identical: x·1000 is one IEEE multiply, floor is
    // exact, the difference of a double and its own floor is exact
    // (same-binade subtraction), and one more multiply+floor lands in
    // BIGINT micros — order-free integer sums from there. Plan: one
    // posexplode (corpus×64 rows) into one map-side-combined keyed
    // aggregate; 64 rows out, no joins.
    Q(
      "q150_quant_error",
      Some("""
        WITH e AS (
          SELECT i,
                 CAST(floor((CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000
                   - floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000))
                   * 1000000) AS BIGINT) AS em
          FROM embeddings, (SELECT unnest(range(1, 65)) AS i) d),
        g AS (SELECT CAST(i AS BIGINT) AS dim, em FROM e)
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(em) AS BIGINT) AS sum_err_micro,
               CAST(SUM(em) AS DOUBLE) / COUNT(*) AS mean_err_micro,
               CAST(MAX(em) AS BIGINT) AS max_err_micro
        FROM g GROUP BY dim""")
    ) { (s, dir) =>
      val v = col("x").cast("double") * 1000
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos0", "x")))
        .select((col("pos0") + 1).cast("long").as("dim"),
          floor((v - floor(v)) * 1000000).cast("long").as("em"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("em")).as("sum_err_micro"),
          (sum(col("em")).cast("double") / count(lit(1))).as("mean_err_micro"),
          max(col("em")).as("max_err_micro"))
    },

    // --------------------------------------------------------------- q151
    // IVF cell-purity report: per centroid cell, member count, the
    // majority label with its count (argmax, ties to the smaller
    // label — q138's composite contract), majority share, and the
    // distinct-label count — the clustering-quality read that says
    // whether the cells q60/q89 rely on actually separate the data.
    // Two tiny keyed aggregates after the map-side broadcast-centroid
    // assignment (operators/Ivf); output ≤ nCentroids rows; every
    // count exact BIGINT, the share one final division.
    Q(
      "q151_cell_purity",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, label, qv, qn FROM normed0 WHERE qn > 0),
        cents AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id, qv AS cv
          FROM (SELECT vec_id, qv FROM normed ORDER BY vec_id LIMIT ${ivfCfg.nCentroids}) s),
        assigned AS (
          SELECT vec_id, label, centroid_id FROM (
            SELECT n.vec_id, n.label, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")}, c.centroid_id) AS rn
            FROM normed n CROSS JOIN cents c) t
          WHERE rn = 1),
        lc AS (
          SELECT centroid_id, label, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM assigned GROUP BY centroid_id, label),
        top AS (
          SELECT centroid_id, label AS majority_label, cnt AS majority_cnt
          FROM (SELECT centroid_id, label, cnt,
                       ROW_NUMBER() OVER (PARTITION BY centroid_id
                         ORDER BY cnt DESC, label) AS rn
                FROM lc) t WHERE rn = 1)
        SELECT l.centroid_id,
               CAST(SUM(l.cnt) AS BIGINT) AS n_members,
               CAST(COUNT(*) AS BIGINT) AS n_labels,
               MAX(t.majority_label) AS majority_label,
               CAST(MAX(t.majority_cnt) AS BIGINT) AS majority_cnt,
               CAST(MAX(t.majority_cnt) AS DOUBLE) / SUM(l.cnt) AS majority_share
        FROM lc l JOIN top t USING (centroid_id)
        GROUP BY l.centroid_id""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "label", "qv", "qn")
      val cents = graft.operators.Ivf.seedCentroids(base, "vec_id", "qv", ivfCfg.nCentroids)
      val lc = graft.operators.Ivf.assign(base, "qv", cents)
        .groupBy("centroid_id", "label").agg(count(lit(1)).as("cnt"))
      // argmax with the q138 composite: max (cnt, -label) picks the
      // largest count, smaller label on ties — then one re-aggregate
      lc.groupBy("centroid_id")
        .agg(sum(col("cnt")).as("n_members"),
          count(lit(1)).as("n_labels"),
          (-max(struct(col("cnt"), (-col("label")).as("nl")))
            .getField("nl")).as("majority_label"),
          max(struct(col("cnt"), (-col("label")).as("nl")))
            .getField("cnt").as("majority_cnt"),
          (max(struct(col("cnt"), (-col("label")).as("nl"))).getField("cnt")
            .cast("double") / sum(col("cnt")).cast("double")).as("majority_share"))
    },

    // --------------------------------------------------------------- q158
    // Dimension-truncation recall sweep (the Matryoshka audit): top-5
    // cosine computed on only the FIRST d quantized dimensions,
    // d ∈ {16, 32, 64}, scored for recall@5 against the full-width
    // exact top-5 — the measurement behind truncating stored
    // embeddings to cut index bytes (and the retrieval twin of q146's
    // probe sweep: q146 tunes how much of the INDEX is probed, this
    // tunes how much of each VECTOR is kept). Unlike nProbe, truncation
    // recall is NOT provably monotone (projection reorders cosines) —
    // the audit reports the measured curve; at d = 64 the truncated
    // ranking IS the ground truth, so recall is exactly 1.0
    // (`AnalyticsSpec`-pinned). Vectors whose d-prefix is all-zero
    // cannot be cosine-ranked and are dropped from that sweep point in
    // BOTH engines (identical tn > 0 guard). Ground truth materializes
    // once; each sweep point re-scores against broadcast queries and
    // ranks with the same (score desc, vec_id) total order.
    Q(
      "q158_truncation_sweep",
      Some(Seq(16, 32, 64).map { d =>
        s"""
        SELECT CAST($d AS BIGINT) AS dims,
               CAST(COUNT(tv.vec_id) AS BIGINT) AS n_hits,
               COUNT(*) AS k,
               CAST(COUNT(tv.vec_id) AS DOUBLE) / COUNT(*) AS recall
        FROM ($bruteTopkSql) bf
        LEFT JOIN (${truncTopkSqlAt(d)}) tv
          ON tv.query_id = bf.query_id AND tv.vec_id = bf.vec_id"""
      }.mkString("\n        UNION ALL\n"))
    ) { (s, dir) =>
      val bf = graft.Checkpoints.materialize(
        bruteTopk(s, dir).select("query_id", "vec_id"))
      Seq(16, 32, 64).map { d =>
        val tv = truncTopkAt(s, dir, d)
          .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
        bf.join(tv, Seq("query_id", "vec_id"), "left")
          .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("k"))
          .select(lit(d.toLong).as("dims"), col("n_hits"), col("k"),
            (col("n_hits").cast("double") / col("k")).as("recall"))
      }.reduce(_ unionAll _)
    },

    // --------------------------------------------------------------- q178
    // One full k-means training step, audited: seed 8 centroids
    // (Ivf.seedCentroids — the q60/q89 seeding), assign every vector
    // (broadcast-centroid map-side argmin), refine (Ivf.lloydStep),
    // and report per cell the member count, the inertia BEFORE the
    // step (Σ exact squared-L2 to the seed — k-means' objective), and
    // the L1 centroid shift the step produced. shift→0 over repeated
    // steps is Lloyd's convergence; this query IS the loop body a
    // training driver would iterate, with its convergence metrics
    // exposed as columns (q103 classifies against label centroids;
    // q151 audits cell purity; this audits the UPDATE itself). All
    // arithmetic exact BIGINT (truncating div in both engines — the
    // proven lloydStep semantics); the corpus pays one map-side assign
    // + the (cell, dim)-keyed mean reduction, everything else is
    // 8-row tables.
    Q(
      "q178_lloyd_step",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv FROM normed0 WHERE qn > 0),
        seed AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                   AS centroid_id, qv AS cv
          FROM (SELECT vec_id, qv FROM normed ORDER BY vec_id LIMIT 8) t),
        asg AS (
          SELECT vec_id, qv, centroid_id, dist FROM (
            SELECT n.vec_id, n.qv, s.centroid_id,
                   ${graft.operators.Ivf.sqDistSql("n.qv", "s.cv")} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "s.cv")},
                              s.centroid_id) AS rn
            FROM normed n CROSS JOIN seed s) t
          WHERE rn = 1),
        pos AS (
          SELECT centroid_id, i,
                 CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT)
                   // CAST(COUNT(*) AS BIGINT) AS m
          FROM asg, (SELECT unnest(range(1, 65)) AS i) p
          GROUP BY centroid_id, i),
        newc AS (
          SELECT centroid_id, list(m ORDER BY i) AS cv1
          FROM pos GROUP BY centroid_id),
        stats AS (
          SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
                 CAST(SUM(dist) AS BIGINT) AS inertia_before
          FROM asg GROUP BY centroid_id)
        SELECT CAST(st.centroid_id AS BIGINT) AS centroid_id,
               st.n_members, st.inertia_before,
               CAST(list_aggregate(list_transform(range(1, 65),
                 i -> abs(n.cv1[CAST(i AS INT)] - s.cv[CAST(i AS INT)])),
                 'sum') AS BIGINT) AS shift_l1
        FROM stats st
        JOIN newc n USING (centroid_id)
        JOIN seed s USING (centroid_id)""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv")
      val cents0 = graft.operators.Ivf.seedCentroids(normed, "vec_id", "qv", 8)
      val asg = graft.operators.Ivf.assign(normed, "qv", cents0)
      val withD = asg.join(broadcast(cents0), "centroid_id")
        .withColumn("dist",
          expr(graft.operators.Ivf.sqDistExpr("qv", "cv")))
      val cents1 = graft.operators.Ivf.lloydStep(
        asg.select("centroid_id", "qv"), "qv")
      withD.groupBy("centroid_id")
        .agg(count(lit(1)).as("n_members"),
          sum(col("dist")).as("inertia_before"))
        .join(broadcast(cents1.withColumnRenamed("cv", "cv1")), "centroid_id")
        .join(broadcast(cents0), "centroid_id")
        .withColumn("shift_l1", expr(
          "aggregate(zip_with(cv1, cv, (a, b) -> abs(a - b)), 0L, (acc, x) -> acc + x)"))
        .select(col("centroid_id").cast("long").as("centroid_id"),
          col("n_members"), col("inertia_before"), col("shift_l1"))
    },

    // --------------------------------------------------------------- q191
    // Retrieval-quality eval: nDCG@10 of the brute-force cosine
    // ranking against label relevance (candidate relevant ⇔ shares
    // the query's label) — the graded companion to q65's recall@k and
    // q163's precision/recall: position-aware, so a ranker that buries
    // its hits at rank 9–10 scores below one that leads with them.
    // The log2 discount enters as a FIXED integer table
    // (round(10⁶/log₂(r+1)), r = 1..10) — exact, engine-free integer
    // sums instead of per-row libm calls (the q78/q90 idf dodge);
    // ideal-DCG is the prefix-sum table indexed at min(n_rel, 10).
    // Plan: the q36 shape (broadcast 20-query side, one pass over
    // candidates), one per-query window for ranks, two tiny keyed
    // aggregates — the candidate corpus is scanned once, never
    // reshuffled.
    Q(
      "q191_ndcg_eval",
      Some {
        val disc = "[1000000, 630930, 500000, 430677, 386853, " +
          "356207, 333333, 315465, 301030, 289065]"
        val cum = "[1000000, 1630930, 2130930, 2561607, 2948460, " +
          "3304667, 3638000, 3953465, 4254495, 4543560]"
        s"""
        WITH normed AS ($quantizedSql),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
                 CAST(CAST(list_aggregate(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i]), 'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(q.qn AS DOUBLE) * CAST(c.qn AS DOUBLE)) AS score
          FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 20 AND q.qn > 0 AND c.qn > 0),
        ranked AS (
          SELECT query_id, rel,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rn
          FROM scored),
        top AS (
          SELECT query_id,
                 CAST(SUM(rel) AS BIGINT) AS n_rel_top10,
                 CAST(SUM(rel * $disc[CAST(rn AS INT)]) AS BIGINT)
                   AS dcg_micro
          FROM ranked WHERE rn <= 10 GROUP BY 1),
        tot AS (
          SELECT query_id, CAST(SUM(rel) AS BIGINT) AS n_rel_total
          FROM scored GROUP BY 1)
        SELECT t.query_id, o.n_rel_total, t.n_rel_top10, t.dcg_micro,
               CAST($cum[CAST(least(greatest(o.n_rel_total, 1), 10) AS INT)]
                 AS BIGINT) AS idcg_micro,
               (1000 * t.dcg_micro)
                 // $cum[CAST(least(greatest(o.n_rel_total, 1), 10) AS INT)]
                 AS ndcg_pm
        FROM top t JOIN tot o ON o.query_id = t.query_id"""
      }
    ) { (s, dir) =>
      val discArr = "array(1000000L, 630930L, 500000L, 430677L, 386853L, " +
        "356207L, 333333L, 315465L, 301030L, 289065L)"
      val cumArr = "array(1000000L, 1630930L, 2130930L, 2561607L, 2948460L, " +
        "3304667L, 3638000L, 3953465L, 4254495L, 4543560L)"
      val normed = quantized(s, dir).filter(col("qn") > 0)
      val q = normed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("qv").as("qqv"), col("qn").as("qqn"))
      val scored = normed.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("rel",
          when(col("label") === col("qlabel"), 1L).otherwise(0L))
        .withColumn("dot", dotCol("qqv", "qv"))
        .withColumn("score",
          col("dot").cast("double") /
            sqrt(col("qqn").cast("double") * col("qn").cast("double")))
        .select("query_id", "vec_id", "rel", "score")
      val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
      val ranked = scored.withColumn("rn", row_number().over(w))
      val top = ranked.filter(col("rn") <= 10)
        .groupBy("query_id")
        .agg(sum(col("rel")).as("n_rel_top10"),
          sum(col("rel") * expr(s"element_at($discArr, cast(rn as int))"))
            .as("dcg_micro"))
      val tot = scored.groupBy("query_id")
        .agg(sum(col("rel")).as("n_rel_total"))
      top.join(tot, "query_id")
        .withColumn("idcg_micro", expr(
          s"element_at($cumArr, cast(least(greatest(n_rel_total, 1), 10) as int))"))
        .select(col("query_id"), col("n_rel_total"), col("n_rel_top10"),
          col("dcg_micro"), col("idcg_micro"),
          expr("(1000 * dcg_micro) div idcg_micro").as("ndcg_pm"))
    },

    // --------------------------------------------------------------- q198
    // Maximal-marginal-relevance diversified retrieval (λ = 0.5, 3
    // picks from a top-6 relevance pool): the greedy re-rank a RAG
    // retriever runs so the context window isn't three near-copies of
    // the same passage. Greedy MMR is inherently sequential, so the 3
    // rounds unroll as dataflow — each round is a query_id-keyed join
    // of the surviving pool against the previous pick (pool- and
    // pick-sized frames, NEVER the corpus: the corpus-sized work is
    // the one broadcast-candidate scoring pass q36 already pins) and
    // a per-query argmax window over ≤6 rows. All similarities are
    // the house integer-dot/sqrt formula; the MMR combine
    // (rel − maxsim)·0.5 is three IEEE ops on identical operands —
    // engine-exact, ties break to the smaller vec_id. Output: the
    // diversified top-3 per query with pick rank and the score that
    // won the round (rel for pick 1, the MMR margin after).
    qMmr,

    // --------------------------------------------------------------- q200
    // Product-quantization encoding (m = 8 subspaces × 8 dims, 16-entry
    // codebook): every vector compresses to 8 one-byte codes — the
    // memory layout an at-scale ANN index stores instead of raw
    // floats (64 dims × 4 B → 8 B, 32×). The codebook is the 16
    // smallest-vec_id vectors' subvectors (deterministic seeding, the
    // q178/q124 rule — a trained codebook would run q178's Lloyd step
    // per subspace first, same assignment dataflow). Assignment is
    // integer L2² over the quantized grid — exact, ties to the
    // smaller code. Plan: subspaces EXPLODE from each row (no join),
    // the 16-row codebook broadcasts, and the per-(vector, subspace)
    // argmin is a map-side-combinable min(struct) aggregate — one
    // corpus-sized shuffle of 16 bytes of codes per vector. Output
    // grain: (vec_id, subspace) with the winning code and its
    // residual err_sq, the number a PQ-recall audit (q150's sibling)
    // reads directly.
    qPq,

    // --------------------------------------------------------------- q201
    // PQ asymmetric-distance search (ADC) — the query path q200's
    // codes exist FOR: each query precomputes a 8×16 integer distance
    // table against the codebook (query-count-sized, broadcast), and
    // every candidate's distance is 8 table lookups summed — the
    // index side touches only its 8 one-byte codes, never the raw
    // vectors. Dataflow: the (vec, subspace, code) table joins the
    // broadcast distance table on (subspace, code), one
    // map-side-combinable sum per (query, vec), then the q36-contract
    // top-5 (asc distance, vec_id tiebreak). Exact-integer throughout
    // — the 1000-grid L2² commutes with the table decomposition, so
    // ADC here is not approximate RELATIVE to the codes: the only
    // approximation is quantization itself, which q150/q200 audit.
    qPqAdc,

    // --------------------------------------------------------------- q286
    // IVF-PQ + ADC + exact rerank (see qIvfPq's scaladoc below): the
    // production composition of the IVF family's trained cells with
    // q200/q201's residual product quantization.
    qIvfPq,

    // --------------------------------------------------------------- q287
    // IVF-PQ index health audit (see qPqHealth below): per-cell
    // reconstruction-error profile of the persisted index.
    qPqHealth,

    // --------------------------------------------------------------- q289
    // ANN search over the incrementally-maintained IVF-PQ index (see
    // qIncrAnn below): frozen archive-trained centroids + codebook,
    // delta-only coding, is_new retrievability flag.
    qIncrAnn,

    // --------------------------------------------------------------- q291
    // Codebook-drift audit of the incrementally-maintained index (see
    // qPqDrift below): delta-vs-archive mean reconstruction error
    // ratio — the retrain trigger statistic.
    qPqDrift,

    // --------------------------------------------------------------- q296
    // ANN over the multi-append LSM index past the compaction fold
    // (see qLsmAnn below): compacted codes artifact ∪ live tail
    // segment, frozen archive-trained geometry.
    qLsmAnn,

    // --------------------------------------------------------------- q297
    // Drift-gated ANN (see qDriftGatedAnn below): the retrain
    // DECISION acted on end-to-end — the output's generation column
    // is which index generation served the search.
    qDriftGatedAnn,

    // --------------------------------------------------------------- q292
    // Johnson–Lindenstrauss projection distortion audit (see qJl
    // below): 16-plane deterministic signed projection, pairwise
    // squared-distance ratio distribution in exact permille.
    qJl,

    // --------------------------------------------------------------- q293
    // Int8 scalar-quantization audit (see qSq8 below): per-dimension
    // global [min, max] → 0..255 codes, exact reconstruction-error
    // profile per dimension.
    qSq8,

    // --------------------------------------------------------------- q203
    // Grid-DBSCAN density clustering on the first two embedding dims —
    // the cell-level approximation that makes density clustering a
    // keyed dataflow: bucket points into 50-unit cells (shifted
    // positive first — both engines' integer div truncates toward
    // zero, which would double-width the origin cell), a cell is CORE
    // at ≥ 8 points, core cells connect through their 8-neighborhood,
    // and every point lands core / border (non-core cell touching a
    // core cell — it adopts the smallest adjacent cluster) / noise.
    // Labels CONVERGE to connected components via 16 unrolled
    // neighbor-min rounds — affordable depth BECAUSE the graph is the
    // tiny cell table, not the corpus (the inverse of q157's trade);
    // the fixtures' measured fixpoints are 6/6/11 rounds at the three
    // SFs, and RetrievalSpec recomputes the true fixpoint so a
    // fixture that outgrew the unroll FAILS loudly instead of
    // mislabeling — the fixed-round discipline made safe for a query
    // whose OUTPUT is the component id. The cell
    // table is DOMAIN-bounded (range/width², independent of corpus
    // size), so every cell-space join and the two label-attach joins
    // back to points broadcast soundly at any SF; the corpus pays one
    // map-side cell aggregation and one broadcast-join pass.
    qGridDbscan,

    // --------------------------------------------------------------- q209
    // Per-cell MEDOID selection — the exemplar a cluster summary or
    // few-shot prompt picks: the member minimizing Σ exact squared-L2
    // to its cellmates (ties → smaller vec_id), with the singleton
    // cell falling back to its only member at cost 0. Reuses q89's
    // IVF-cell blocking, so the pair work is Σ cell² — the SemDeDup
    // scale contract (nCentroids ~ √n at production keeps cells
    // bounded). One broadcast-centroid map-side assign, one
    // cell-keyed pair join into a map-side-combinable (cell, member)
    // sum, one ≤8-row argmin window.
    qCellMedoids,

    // --------------------------------------------------------------- q210
    // Class-separation audit — "are these labels separable enough to
    // train on?" as exact integers: per ordered label pair, the
    // squared-L2 between integer-mean centroids (the q178 floor-div
    // centroid) against both classes' mean within-class scatter, as
    // the Fisher-style ratio ⌊1000·d²/(w_a + w_b)⌋. One corpus pass
    // to (label, dim)-summed centroids, one broadcast-centroid
    // join-back for the within sums, then everything lives in
    // |labels|² space. The number that decides whether a
    // hard-negative pass (q120) is even needed.
    qClassSep,

    // --------------------------------------------------------------- q211
    // Split-conformal calibration threshold — the distribution-free
    // eval gate: nonconformity = exact squared-L2 to the OWN-label
    // centroid, per-label threshold = the ⌈0.9·n⌉-th smallest score
    // (exact order statistic via a label-keyed rank window — no
    // float quantiles), plus the achieved coverage in permille and
    // the max score. A conformal deployment compares new points
    // against q90_threshold; the audit proves coverage ≥ 900‰ by
    // construction and surfaces the tail. Corpus cost: one
    // assignment pass + one label-keyed window.
    qConformal,

    // --------------------------------------------------------------- q225
    // MAP@10 / MRR@10 retrieval eval — the ranking metrics that
    // complement q191's nDCG and q146's recall: relevance = label
    // match (the labeled-eval contract of q65), ranked lists = exact
    // brute-force cosine top-10 per query (the deterministic (score
    // DESC, vec_id) total order every ANN variant is judged against).
    // Reciprocal rank and average precision are rationals → exact
    // floored ppm: rr = 10⁶ div first-hit-rank; AP = (Σ_{hit@k}
    // (10⁶·hits≤k) div k) div min(R, 10) with R = corpus vectors
    // sharing the query's label (quantize-then-sum, the documented
    // contract). Aggregated per query label. The corpus cost is the
    // scored join against the BROADCAST 20-query side (query tables
    // are small by contract — the corpus side never shuffles); all
    // windows run in (queries × 10)-space. Scales as one corpus scan.
    Q(
      "q225_map_mrr",
      Some(s"""
        WITH normed AS ($quantizedSql),
        qs AS (
          SELECT vec_id AS query_id, label AS q_label, qv AS qqv, qn AS qqn
          FROM normed WHERE vec_id < 20 AND qn > 0),
        rel AS (
          SELECT q.query_id, CAST(COUNT(*) AS BIGINT) AS r
          FROM qs q JOIN normed c
            ON c.label = q.q_label AND c.vec_id <> q.query_id
          WHERE c.qn > 0 GROUP BY 1),
        scored AS (
          SELECT q.query_id, q.q_label, c.vec_id, c.label,
                 CAST(CAST(list_aggregate(list_transform(
                        range(1, len(q.qqv) + 1), i -> q.qqv[i] * c.qv[i]),
                      'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(q.qqn AS DOUBLE) * CAST(c.qn AS DOUBLE))
                   AS score
          FROM qs q JOIN normed c ON c.vec_id <> q.query_id
          WHERE c.qn > 0),
        ranked AS (
          SELECT query_id, q_label,
                 CASE WHEN label = q_label THEN 1 ELSE 0 END AS hit,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rn
          FROM scored QUALIFY rn <= 10),
        run AS (
          SELECT query_id, q_label, hit, rn,
                 CAST(SUM(hit) OVER (PARTITION BY query_id ORDER BY rn)
                      AS BIGINT) AS h_at
          FROM ranked),
        perq AS (
          SELECT query_id, q_label,
                 CAST(MAX(CASE WHEN hit = 1 THEN 1000000 // rn ELSE 0 END)
                      AS BIGINT) AS rr_ppm,
                 CAST(SUM(CASE WHEN hit = 1 THEN (1000000 * h_at) // rn
                          ELSE 0 END) AS BIGINT) AS ap_num
          FROM run GROUP BY 1, 2),
        withr AS (
          SELECT p.q_label, p.rr_ppm,
                 CASE WHEN least(rel.r, 10) > 0
                      THEN p.ap_num // least(rel.r, 10) ELSE 0 END AS ap_ppm
          FROM perq p JOIN rel ON rel.query_id = p.query_id)
        SELECT CAST(q_label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(SUM(rr_ppm) AS BIGINT) // COUNT(*) AS mrr_ppm,
               CAST(SUM(ap_ppm) AS BIGINT) // COUNT(*) AS map_ppm
        FROM withr GROUP BY 1""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
      val qs = normed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("qv").as("qqv"), col("qn").as("qqn"))
      val rel = normed.join(broadcast(qs),
          col("label") === col("q_label") && col("vec_id") =!= col("query_id"))
        .groupBy("query_id").agg(count(lit(1)).as("r"))
      val scored = normed.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .withColumn("dot", dotCol("qqv", "qv"))
        .withColumn("score", col("dot").cast("double")
          / sqrt(col("qqn").cast("double") * col("qn").cast("double")))
      val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
      val ranked = scored
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("query_id"), col("q_label"),
          when(col("label") === col("q_label"), 1L).otherwise(0L).as("hit"),
          col("rn"))
      val run = ranked.withColumn("h_at",
        sum(col("hit")).over(Window.partitionBy("query_id").orderBy("rn")))
      val perq = run.groupBy("query_id", "q_label")
        .agg(max(when(col("hit") === 1, expr("1000000 div rn"))
          .otherwise(0L)).as("rr_ppm"),
          sum(when(col("hit") === 1, expr("(1000000 * h_at) div rn"))
            .otherwise(0L)).as("ap_num"))
      perq.join(rel, "query_id")
        .select(col("q_label"), col("rr_ppm"),
          when(least(col("r"), lit(10L)) > 0,
            expr("ap_num div least(r, 10)")).otherwise(0L).as("ap_ppm"))
        .groupBy(col("q_label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          expr("sum(rr_ppm) div count(1)").as("mrr_ppm"),
          expr("sum(ap_ppm) div count(1)").as("map_ppm"))
    },

    // --------------------------------------------------------------- q231
    // Cell-blocked 5-NN leave-one-out classification — the confusion
    // matrix of a k-nearest-neighbor labeler evaluated over the WHOLE
    // corpus, made tractable by q89's IVF cell blocking: neighbors
    // come from the vector's own cell only, so scored pairs are
    // Σ cell² (the SemDeDup nCentroids ~ √n contract), never n².
    // Distances are exact integer squared-L2 (qn_a + qn_b − 2·dot);
    // the 5 nearest (dist, id)-ordered cellmates vote, majority with
    // (votes DESC, label ASC) tiebreak. Output: the labels² confusion
    // matrix — the q103 centroid classifier's honest nonparametric
    // rival on identical eval protocol. All windows run per-vector on
    // the cell-blocked pair table — scales with the widest cell
    // (q54's refinement move applies when one skews).
    Q(
      "q231_knn_eval",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (
          SELECT vec_id, label, qv, qn FROM normed0 WHERE qn > 0),
        cents AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                   AS centroid_id, qv AS cv
          FROM (SELECT vec_id, qv FROM normed ORDER BY vec_id
                LIMIT ${ivfCfg.nCentroids}) s),
        assigned AS (
          SELECT vec_id, label, qv, qn, centroid_id FROM (
            SELECT n.vec_id, n.label, n.qv, n.qn, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")},
                       c.centroid_id) AS rn
            FROM normed n CROSS JOIN cents c) t
          WHERE rn = 1),
        prs AS (
          SELECT a.vec_id, a.label AS true_label, b.label AS nb_label,
                 a.qn + b.qn - 2 * CAST(list_aggregate(list_transform(
                   range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]),
                   'sum') AS BIGINT) AS d2,
                 b.vec_id AS nb_id
          FROM assigned a JOIN assigned b
            ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id),
        top5 AS (
          SELECT vec_id, true_label, nb_label FROM (
            SELECT vec_id, true_label, nb_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY d2, nb_id) AS rn
            FROM prs) t WHERE rn <= 5),
        votes AS (
          SELECT vec_id, true_label, nb_label,
                 CAST(COUNT(*) AS BIGINT) AS v
          FROM top5 GROUP BY 1, 2, 3),
        pred AS (
          SELECT vec_id, true_label, nb_label AS pred_label FROM (
            SELECT vec_id, true_label, nb_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY v DESC, nb_label) AS rn
            FROM votes) t WHERE rn = 1)
        SELECT CAST(true_label AS BIGINT) AS true_label,
               CAST(pred_label AS BIGINT) AS pred_label,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "label", "qv", "qn")
      val cents = graft.operators.Ivf.seedCentroids(
        base, "vec_id", "qv", ivfCfg.nCentroids)
      val assigned = graft.Checkpoints.materialize(
        graft.operators.Ivf.assign(base, "qv", cents))
      val a = assigned.select(col("vec_id"), col("label").as("true_label"),
        col("qv").as("qv_a"), col("qn").as("qn_a"), col("centroid_id"))
      val b = assigned.select(col("vec_id").as("nb_id"),
        col("label").as("nb_label"), col("qv").as("qv_b"),
        col("qn").as("qn_b"), col("centroid_id"))
      val prs = a.join(b, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("nb_id"))
        .withColumn("d2", col("qn_a") + col("qn_b")
          - lit(2L) * dotCol("qv_a", "qv_b"))
      val top5 = prs
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(col("d2"), col("nb_id"))))
        .filter(col("rn") <= 5)
        .select("vec_id", "true_label", "nb_label")
      val votes = top5.groupBy("vec_id", "true_label", "nb_label")
        .agg(count(lit(1)).as("v"))
      val pred = votes
        .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
          .orderBy(desc("v"), col("nb_label"))))
        .filter(col("rn") === 1)
      pred.groupBy(col("true_label").cast("long").as("true_label"),
          col("nb_label").cast("long").as("pred_label"))
        .agg(count(lit(1)).as("n"))
    },

    // --------------------------------------------------------------- q305
    // GREEDY k-CENTER CORESET (Gonzalez's farthest-point traversal, the
    // 2-approximation for k-center): select 5 maximally-spread vectors
    // — the diversity-sampling primitive a training pipeline uses to
    // pick representative exemplars (coreset seeding, dedup
    // anchors, eval-set spread). Seed = smallest vec_id with qn > 0;
    // each round the next center is argmax over the corpus of the
    // MIN squared distance to the selected set (tie → smaller id),
    // in exact quantized-BIGINT arithmetic (d² = qnₐ + qn_c −
    // 2·qdot). The running min-dist column updates against ONLY the
    // newest center per round — O(n) work per round, k rounds, each
    // argmax a TakeOrderedAndProject — and every round's frame
    // MATERIALIZES (two references: the argmax and the next update —
    // the 2^steps re-execution trap, q219's lesson). The oracle
    // unrolls the identical 5 rounds as chained CTEs. Output: each
    // center's rank, id, and its selection distance (the k-center
    // radius sequence — nonincreasing by construction).
    Q(
      "q305_kcenter_coreset",
      Some {
        def dist(a: String, c: String) =
          s"""$a.qn + $c.qn - 2 * CAST(list_aggregate(list_transform(
             |range(1, len($a.qv) + 1), i -> $a.qv[i] * $c.qv[i]), 'sum') AS BIGINT)""".stripMargin.replace("\n", " ")
        s"""
        WITH normed AS ($quantizedSql),
        base AS (SELECT vec_id, qv, qn FROM normed WHERE qn > 0),
        c1 AS (SELECT vec_id, qv, qn FROM base ORDER BY vec_id LIMIT 1),
        d1 AS (SELECT b.vec_id, b.qv, b.qn, ${dist("b", "c")} AS md
               FROM base b CROSS JOIN c1 c),
        c2 AS (SELECT vec_id, qv, qn, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
        d2 AS (SELECT d.vec_id, d.qv, d.qn, LEAST(d.md, ${dist("d", "c")}) AS md
               FROM d1 d CROSS JOIN c2 c),
        c3 AS (SELECT vec_id, qv, qn, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
        d3 AS (SELECT d.vec_id, d.qv, d.qn, LEAST(d.md, ${dist("d", "c")}) AS md
               FROM d2 d CROSS JOIN c3 c),
        c4 AS (SELECT vec_id, qv, qn, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
        d4 AS (SELECT d.vec_id, d.qv, d.qn, LEAST(d.md, ${dist("d", "c")}) AS md
               FROM d3 d CROSS JOIN c4 c),
        c5 AS (SELECT vec_id, qv, qn, md FROM d4 ORDER BY md DESC, vec_id LIMIT 1)
        SELECT CAST(1 AS BIGINT) AS rnk, vec_id, CAST(0 AS BIGINT) AS dist2 FROM c1
        UNION ALL SELECT CAST(2 AS BIGINT), vec_id, md FROM c2
        UNION ALL SELECT CAST(3 AS BIGINT), vec_id, md FROM c3
        UNION ALL SELECT CAST(4 AS BIGINT), vec_id, md FROM c4
        UNION ALL SELECT CAST(5 AS BIGINT), vec_id, md FROM c5"""
      }
    ) { (s, dir) =>
      import graft.functions.VecMath
      val k = 5
      val base = graft.Checkpoints.materialize(
        quantized(s, dir).filter(col("qn") > 0).select("vec_id", "qv", "qn"))
      val seed = base.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
          col("qn").as("c_qn"))
      def distCol = col("qn") + col("c_qn") -
        lit(2L) * VecMath.qdot(col("qv"), col("c_qv"))
      var md = graft.Checkpoints.materialize(
        base.crossJoin(broadcast(seed))
          .withColumn("md", distCol)
          .select(col("vec_id"), col("qv"), col("qn"), col("md")))
      var out = seed.select(lit(1L).as("rnk"), col("c_id").as("vec_id"),
        lit(0L).as("dist2"))
      for (r <- 2 to k) {
        val pick = md.orderBy(desc("md"), col("vec_id")).limit(1)
        out = out.union(pick.select(lit(r.toLong).as("rnk"),
          col("vec_id"), col("md").as("dist2")))
        if (r < k) {
          val c = pick.select(col("vec_id").as("c_id"),
            col("qv").as("c_qv"), col("qn").as("c_qn"))
          md = graft.Checkpoints.materialize(
            md.crossJoin(broadcast(c))
              .withColumn("md", least(col("md"), distCol))
              .select(col("vec_id"), col("qv"), col("qn"), col("md")))
        }
      }
      out
    },
  )

  /** q158's truncated-cosine top-5 at d dims: same candidate universe
    * as the exact ground truth (qn > 0), same (score desc, vec_id)
    * total order, but dot/norm run over only the first d quantized
    * components. */
  private def truncTopkSqlAt(d: Int): String = s"""
        WITH normed AS ($quantizedSql),
        tr AS (
          SELECT vec_id, qv[1:$d] AS tv,
                 CAST(list_aggregate(list_transform(qv[1:$d], x -> x * x),
                      'sum') AS BIGINT) AS tn
          FROM normed WHERE qn > 0),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 CAST(CAST(list_aggregate(list_transform(range(1, len(q.tv) + 1), i -> q.tv[i] * c.tv[i]), 'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(q.tn AS DOUBLE) * CAST(c.tn AS DOUBLE)) AS score
          FROM tr q JOIN tr c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 20 AND q.tn > 0 AND c.tn > 0)
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rn
          FROM scored) t
        WHERE rn <= 5"""

  private def truncTopkAt(s: SparkSession, dir: String, d: Int): DataFrame = {
    val tr = quantized(s, dir).filter(col("qn") > 0)
      .select(col("vec_id"), slice(col("qv"), 1, d).as("tv"))
      .withColumn("tn", graft.functions.VecMath.qdot(col("tv"), col("tv")))
      .filter(col("tn") > 0)
    val q = tr.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("tv").as("qtv"), col("tn").as("qtn"))
    val scored = tr.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dot", dotCol("qtv", "tv"))
      .withColumn("score", col("dot").cast("double")
        / sqrt(col("qtn").cast("double") * col("tn").cast("double")))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("query_id", "vec_id")
  }

  /** IVF approximate top-5 — registered as q60 and re-used by q65
    * (lazy: referenced from `all` above its definition). q146 sweeps
    * the probe knob, so the SQL is parameterized on nProbe. */
  private lazy val ivfTopkSql: String = ivfTopkSqlAt(ivfCfg.nProbe)

  private def ivfTopkSqlAt(nProbe: Int): String =
    ivfTopkSqlAtR(nProbe, ivfReplication)

  private def ivfTopkSqlAtR(nProbe: Int, replication: Int): String = {
        val cfg = ivfCfg.copy(nProbe = nProbe)
        val fc = s"cents$ivfTrainRounds"
        s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv, qn FROM normed0 WHERE qn > 0),
        cents0 AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id, qv AS cv,
                 CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS cn
          FROM (SELECT vec_id, qv FROM normed ORDER BY vec_id LIMIT ${cfg.nCentroids}) s),
        ${graft.operators.Ivf.trainSqlCtesCosine(ivfTrainRounds, 64)},
        assigned AS (
          SELECT vec_id, qv, qn, centroid_id FROM (
            SELECT n.vec_id, n.qv, n.qn, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.cosKeySql("n.qv")}, c.centroid_id) AS rn
            FROM normed n CROSS JOIN $fc c) t
          WHERE rn <= $replication),
        probed AS (
          SELECT query_id, qqv, qqn, centroid_id FROM (
            SELECT q.vec_id AS query_id, q.qv AS qqv, q.qn AS qqn, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY ${graft.operators.Ivf.cosKeySql("q.qv")}, c.centroid_id) AS rn
            FROM normed q CROSS JOIN $fc c
            WHERE q.vec_id < 20) t
          WHERE rn <= ${cfg.nProbe}),
        scored AS (
          SELECT DISTINCT p.query_id, a.vec_id,
                 CAST(CAST(list_aggregate(list_transform(range(1, len(p.qqv) + 1), i -> p.qqv[i] * a.qv[i]), 'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(p.qqn AS DOUBLE) * CAST(a.qn AS DOUBLE)) AS score
          FROM probed p JOIN assigned a
            ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id)
        SELECT query_id, vec_id, score FROM (
          SELECT query_id, vec_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
          FROM scored) t
        WHERE rn <= 5"""
  }

  private def ivfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkAt(s, dir, ivfCfg.nProbe)

  private def ivfTopkAt(s: SparkSession, dir: String, nProbe: Int): DataFrame = {
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      // persisted layout artifact: q60/q65 pay SEARCH cost only — the
      // deterministic training runs once per JVM+corpus and reads
      // back as a tiny parquet (the oracle replays the training SQL,
      // proving the persisted table bit-identical to a retrain)
      val cents = graft.operators.Ivf.persistedCentroidsCosine(base, dir,
        "vec_id", "qv", ivfCfg.nCentroids, ivfTrainRounds)
      ivfTopkWith(base, cents, nProbe)
  }

  /** The search phase against ALREADY-TRAINED centroids — split out so
    * q146's sweep trains ONCE and probes three times (training is the
    * expensive phase: each Lloyd round is an eager materialize + a
    * corpus assign pass; re-training per sweep point tripled it). */
  private def ivfTopkWith(base: DataFrame, cents: DataFrame,
      nProbe: Int, replication: Int = ivfReplication): DataFrame = {
      // candidate REPLICATION (the SPANN-style closure assignment):
      // each vector indexes into its `replication` highest-cosine
      // cells, so a neighbor sitting just across a cell boundary is
      // still reachable through its secondary cell — the second
      // recall/cost knob beside nProbe (storage and scored pairs
      // scale by r, recall at fixed nProbe jumps). probeCosine IS the
      // multi-assign (explode over the top-r cells).
      val candidates = graft.operators.Ivf.probeCosine(base, "qv", cents,
        replication)
      val queries = base.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("qn").as("qqn"))
      val probes = graft.operators.Ivf.probeCosine(queries, "qqv", cents, nProbe)
      val scored = candidates.join(broadcast(probes), Seq("centroid_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("dot", dotCol("qqv", "qv"))
        .withColumn("score",
          col("dot").cast("double") / sqrt(col("qqn").cast("double") * col("qn").cast("double")))
        // a (query, candidate) pair surfaces once per SHARED probed
        // cell under replication — dedup before top-k (map-side
        // combinable; the score is identical on every duplicate)
        .groupBy(col("query_id"), col("vec_id"))
        .agg(max(col("score")).as("score"))
      // per-query top-5 via the bounded-heap aggregator (same ordering
      // contract as the oracle's row_number window: score desc, vec_id
      // tiebreak) — map-side partial top-k ships O(queries × k) shuffle
      // bytes instead of every scored candidate, like q40 vs q36
      val topk = udaf(new graft.functions.TopKAggregator(5),
        graft.functions.TopK.inputEncoder)
      scored
        .groupBy(col("query_id"))
        .agg(topk(col("vec_id"), col("score")).as("topk"))
        .select(col("query_id"), explode(col("topk")).as("hit"))
        .select(col("query_id"), col("hit.vec_id").as("vec_id"),
          col("hit.score").as("score"))
  }

  // ------------------------------------------------------------------ q54
  // The skew path of q39: a DELIBERATELY coarse banding (2 bands ×
  // 2 planes → 4 buckets per band, guaranteed oversized at every SF)
  // capped by Lsh.refineOversized — two refinement rounds re-split
  // any (band, bucket) group over 60 rows with 2 fresh sign bits
  // each, then the same exact-cosine verify as q39. The oracle
  // replays both rounds (window COUNT + sentinel-shifted key
  // extension) so the refined bucket keys — the one skew-critical
  // piece of the LSH story — are cross-engine verified end to end.
  // (lazy: referenced from `all` above its definition)
  private lazy val qSkewcap: Q = Q(
      "q54_neardup_skewcap",
      Some {
        val cfg = skewCfg
        val bands = (0 until cfg.bands).map { j =>
          val b = graft.operators.Lsh.bandBucketSql("qv", j, cfg.rowsPerBand)
          s"SELECT vec_id, qv, qn, $j AS band, CAST($b AS BIGINT) AS bucket FROM withn"
        }.mkString("\n          UNION ALL\n          ")
        def round(t: Int, from: String): String = {
          val sub = graft.operators.Lsh.refineSubSql("qv", cfg, skewExtra, t)
          val shift = 1L << graft.operators.Lsh.widthAfter(cfg, skewExtra, t)
          s"""SELECT vec_id, qv, qn, band,
             CASE WHEN COUNT(*) OVER (PARTITION BY band, bucket) <= $skewCap
                  THEN bucket
                  ELSE bucket + ($sub + 1) * $shift END AS bucket
           FROM $from"""
        }
        s"""
        WITH qd AS (SELECT vec_id, $qvSql AS qv FROM embeddings),
        withn AS (
          SELECT vec_id, qv,
                 CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS qn
          FROM qd WHERE CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) > 0),
        banded AS (
          $bands),
        r0 AS (${round(0, "banded")}),
        r1 AS (${round(1, "r0")})
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               $pairScoreSql AS score
        FROM r1 a JOIN r1 b
          ON a.band = b.band AND a.bucket = b.bucket AND b.vec_id > a.vec_id
        WHERE $pairScoreSql >= 0.30"""
      }
    ) { (s, dir) =>
      val withn = t(s, dir, "embeddings")
        .select(col("vec_id"), qvCol.as("qv"))
        .withColumn("qn", qnormCol)
        .filter(col("qn") > 0)
      val banded = graft.operators.Lsh.explodeBands(withn, "qv", skewCfg)
      val refined = graft.operators.Lsh.refineOversized(
        banded, "qv", skewCfg, maxBucket = skewCap, extra = skewExtra, rounds = 2)
      graft.operators.Lsh.selfJoinPairs(refined, "vec_id")
        .withColumn("dot", dotCol("qv_a", "qv_b"))
        .withColumn("score",
          col("dot").cast("double") / sqrt(col("qn_a").cast("double") * col("qn_b").cast("double")))
        .filter(col("score") >= 0.30)
        .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("score"))
        .distinct()
    }

  /** Integer-dot cosine between two table aliases' (qv, qn) columns —
    * the q36 formula with explicit qualifiers so MMR's round CTEs can
    * score cand-vs-pick pairs. */
  private def simSql(x: String, y: String): String =
    s"""CAST(CAST(list_aggregate(list_transform(range(1, len($x.qv) + 1), i -> $x.qv[CAST(i AS INT)] * $y.qv[CAST(i AS INT)]), 'sum') AS BIGINT) AS DOUBLE)
                 / sqrt(CAST($x.qn AS DOUBLE) * CAST($y.qn AS DOUBLE))"""

  // (lazy: referenced from `all` above its definition)
  private lazy val qMmr: Q = Q(
      "q198_mmr_diversify",
      Some(s"""
        WITH normed AS ($quantizedSql),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.qv AS qv,
                 c.qn AS qn, ${simSql("q", "c")} AS rel
          FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 8 AND q.qn > 0 AND c.qn > 0),
        cand AS (
          SELECT * FROM (
            SELECT query_id, vec_id, qv, qn, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rel DESC, vec_id) AS rn
            FROM scored) t WHERE rn <= 6),
        s1 AS (SELECT query_id, vec_id, qv, qn, rel FROM cand WHERE rn = 1),
        r1 AS (
          SELECT c.query_id, c.vec_id, c.qv, c.qn, c.rel,
                 ${simSql("c", "s1")} AS m1
          FROM cand c JOIN s1
            ON s1.query_id = c.query_id AND c.vec_id <> s1.vec_id),
        g2 AS (
          SELECT r1.*, (rel - m1) * 5e-1 AS mmr,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY (rel - m1) * 5e-1 DESC, vec_id) AS rn2
          FROM r1),
        s2 AS (SELECT query_id, vec_id, qv, qn, mmr FROM g2 WHERE rn2 = 1),
        r2 AS (
          SELECT g2.query_id, g2.vec_id, g2.rel,
                 CASE WHEN g2.m1 > ${simSql("g2", "s2")}
                      THEN g2.m1 ELSE ${simSql("g2", "s2")} END AS m2
          FROM g2 JOIN s2
            ON s2.query_id = g2.query_id AND g2.vec_id <> s2.vec_id),
        g3 AS (
          SELECT r2.*, (rel - m2) * 5e-1 AS mmr,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY (rel - m2) * 5e-1 DESC, vec_id) AS rn3
          FROM r2)
        SELECT query_id, CAST(1 AS BIGINT) AS pick, vec_id, rel AS score
        FROM s1
        UNION ALL
        SELECT query_id, CAST(2 AS BIGINT) AS pick, vec_id, mmr AS score
        FROM s2
        UNION ALL
        SELECT query_id, CAST(3 AS BIGINT) AS pick, vec_id, mmr AS score
        FROM g3 WHERE rn3 = 1""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
      val q = normed.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("qv").as("qqv"), col("qn").as("qqn"))
      val scored = normed.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("rel", dotCol("qqv", "qv").cast("double") /
          sqrt(col("qqn").cast("double") * col("qn").cast("double")))
        .select("query_id", "vec_id", "qv", "qn", "rel")
      val w = Window.partitionBy("query_id").orderBy(desc("rel"), col("vec_id"))
      val cand = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 6)
      val s1 = cand.filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id").as("s_id"),
          col("qv").as("sqv"), col("qn").as("sqn"), col("rel"))
      val r1 = cand.join(s1.select("query_id", "s_id", "sqv", "sqn"),
          Seq("query_id"))
        .filter(col("vec_id") =!= col("s_id"))
        .withColumn("m1", dotCol("qv", "sqv").cast("double") /
          sqrt(col("qn").cast("double") * col("sqn").cast("double")))
        .select("query_id", "vec_id", "qv", "qn", "rel", "m1")
      val g2 = r1.withColumn("mmr", (col("rel") - col("m1")) * lit(0.5))
        .withColumn("rn2", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("mmr"), col("vec_id"))))
      val s2 = g2.filter(col("rn2") === 1)
        .select(col("query_id"), col("vec_id").as("s_id"),
          col("qv").as("sqv"), col("qn").as("sqn"), col("mmr"))
      val r2 = g2.join(s2.select("query_id", "s_id", "sqv", "sqn"),
          Seq("query_id"))
        .filter(col("vec_id") =!= col("s_id"))
        .withColumn("sim2", dotCol("qv", "sqv").cast("double") /
          sqrt(col("qn").cast("double") * col("sqn").cast("double")))
        .withColumn("m2", when(col("m1") > col("sim2"), col("m1"))
          .otherwise(col("sim2")))
      val g3 = r2.withColumn("mmr", (col("rel") - col("m2")) * lit(0.5))
        .withColumn("rn3", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("mmr"), col("vec_id"))))
      s1.select(col("query_id"), lit(1L).as("pick"),
          col("s_id").as("vec_id"), col("rel").as("score"))
        .unionAll(s2.select(col("query_id"), lit(2L).as("pick"),
          col("s_id").as("vec_id"), col("mmr").as("score")))
        .unionAll(g3.filter(col("rn3") === 1)
          .select(col("query_id"), lit(3L).as("pick"),
            col("vec_id"), col("mmr").as("score")))
    }

  /** Shared PQ grid (q200/q201): m = 8 subspaces × 8 dims, 16-entry
    * deterministic codebook, integer L2² in the 1000-quantized space.
    * The subspace distance between table aliases `x`.qv and `y`.cqv at
    * subspace `s`.subspace — inlined so both oracles read the
    * IDENTICAL text. */
  private def pqDistSql(x: String, y: String): String =
    s"""CAST(list_aggregate(list_transform(range(1, 9),
                   i -> ($x.qv[CAST(s.subspace * 8 + i AS INT)]
                         - $y.cqv[CAST(s.subspace * 8 + i AS INT)])
                      * ($x.qv[CAST(s.subspace * 8 + i AS INT)]
                         - $y.cqv[CAST(s.subspace * 8 + i AS INT)])),
                   'sum') AS BIGINT)"""

  /** The assignment CTE chain both PQ oracles share: every vector's
    * per-subspace argmin code against the 16-entry codebook. */
  private lazy val pqCodesSql: String = s"""qd AS (SELECT vec_id, $qvSql AS qv FROM embeddings),
        cb AS (SELECT vec_id AS code, qv AS cqv FROM qd WHERE vec_id < 16),
        sub AS (SELECT CAST(range AS BIGINT) AS subspace FROM range(0, 8)),
        pairs AS (
          SELECT v.vec_id, s.subspace, c.code, ${pqDistSql("v", "c")} AS d
          FROM qd v CROSS JOIN sub s CROSS JOIN cb c),
        best AS (
          SELECT vec_id, subspace, code, d,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                   ORDER BY d, code) AS rn
          FROM pairs)"""

  /** Spark side of the shared assignment: one explode + one broadcast
    * + one map-side min(struct) aggregate (see q200 scaladoc). */
  private def pqAssign(s: SparkSession, dir: String): DataFrame = {
    val qd = t(s, dir, "embeddings").select(col("vec_id"), qvCol.as("qv"))
    val cb = qd.filter(col("vec_id") < 16)
      .select(col("vec_id").as("code"), col("qv").as("cqv"))
    qd.withColumn("subspace", explode(sequence(lit(0L), lit(7L))))
      .crossJoin(broadcast(cb))
      .withColumn("d", expr(
        """aggregate(zip_with(
             slice(qv, cast(subspace * 8 + 1 as int), 8),
             slice(cqv, cast(subspace * 8 + 1 as int), 8),
             (x, y) -> (x - y) * (x - y)),
           0L, (acc, v) -> acc + v)"""))
      .groupBy("vec_id", "subspace")
      .agg(min(struct(col("d"), col("code"))).as("m"))
      .select(col("vec_id"), col("subspace"),
        col("m.code").as("code"), col("m.d").as("err_sq"))
  }

  // (lazy: referenced from `all` above its definition)
  private lazy val qPq: Q = Q(
      "q200_pq_codes",
      Some(s"""
        WITH $pqCodesSql
        SELECT vec_id, subspace, code, d AS err_sq
        FROM best WHERE rn = 1""")
    )(pqAssign)

  // (lazy: referenced from `all` above its definition)
  private lazy val qPqAdc: Q = Q(
      "q201_pq_adc",
      Some(s"""
        WITH $pqCodesSql,
        codes AS (SELECT vec_id, subspace, code FROM best WHERE rn = 1),
        qt AS (SELECT vec_id AS query_id, qv FROM qd WHERE vec_id < 8),
        dt AS (
          SELECT q.query_id, s.subspace, c.code, ${pqDistSql("q", "c")} AS dd
          FROM qt q CROSS JOIN sub s CROSS JOIN cb c),
        adc AS (
          SELECT d.query_id, x.vec_id, CAST(SUM(d.dd) AS BIGINT) AS adc_dist
          FROM codes x
          JOIN dt d ON d.subspace = x.subspace AND d.code = x.code
                    AND d.query_id <> x.vec_id
          GROUP BY 1, 2)
        SELECT query_id, vec_id, adc_dist FROM (
          SELECT query_id, vec_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc_dist, vec_id) AS rn
          FROM adc) t WHERE rn <= 5""")
    ) { (s, dir) =>
      val codes = pqAssign(s, dir).select("vec_id", "subspace", "code")
      val qd = t(s, dir, "embeddings").select(col("vec_id"), qvCol.as("qv"))
      val cb = qd.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("qv").as("cqv"))
      val dt = qd.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("qv"))
        .withColumn("subspace", explode(sequence(lit(0L), lit(7L))))
        .crossJoin(broadcast(cb))
        .withColumn("dd", expr(
          """aggregate(zip_with(
               slice(qv, cast(subspace * 8 + 1 as int), 8),
               slice(cqv, cast(subspace * 8 + 1 as int), 8),
               (x, y) -> (x - y) * (x - y)),
             0L, (acc, v) -> acc + v)"""))
        .select("query_id", "subspace", "code", "dd")
      val adc = codes
        .join(broadcast(dt),
          dt("subspace") === codes("subspace")
            && dt("code") === codes("code")
            && dt("query_id") =!= codes("vec_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("dd")).as("adc_dist"))
      val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("vec_id"))
      adc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("query_id", "vec_id", "adc_dist")
    }

  /** q286's per-subspace residual L2² against a codebook row `c`
    * carrying (subspace, cw): the 8-dim window of table `x`'s rv at
    * c.subspace vs the 8-dim codeword. DuckDB side; the Spark twin
    * is the inline `aggregate(zip_with(slice(rv, …), cw, …))`. */
  private def subD8Sql(x: String): String =
    s"""CAST(list_aggregate(list_transform(range(1, 9),
          i -> ($x.rv[CAST(c.subspace * 8 + i AS INT)]
                - c.cw[CAST(i AS INT)])
             * ($x.rv[CAST(c.subspace * 8 + i AS INT)]
                - c.cw[CAST(i AS INT)])),
          'sum') AS BIGINT)"""

  /** q286's per-subspace query·codeword inner product (the IP-ADC
    * lookup table entry), DuckDB side: raw query slice at c.subspace
    * against the 8-dim codeword. */
  private def subDot8Sql(x: String): String =
    s"""CAST(list_aggregate(list_transform(range(1, 9),
          i -> $x.qv[CAST(c.subspace * 8 + i AS INT)]
             * c.cw[CAST(i AS INT)]),
          'sum') AS BIGINT)"""

  // --------------------------------------------------------------- q286
  // IVF-PQ with inner-product ADC shortlist + exact-cosine rerank —
  // the production ANN index shape that COMPOSES the engine's two
  // quantization routes. The trained spherical IVF cells (q60's
  // persisted centroid artifact, shared — IVF-PQ adds ZERO training)
  // coarse-partition the corpus at the family's operating point
  // (r=3 multi-assignment, nProbe=2); every indexed copy PQ-encodes
  // its RESIDUAL qv − cv against its cell (residuals concentrate
  // near zero, so one 16-entry-per-subspace codebook covers them),
  // with the codebook TRAINED by one deterministic integer Lloyd
  // round per subspace from the 16-lowest-id seed (the q200
  // determinism move, then lloydStep's floor-mean — measured +0.05
  // recall over the raw seed). Search scores a candidate WITHOUT
  // touching its vector: the decomposition
  // dot(q, v) ≈ dot(q, cv) + Σ_sub dot(q_sub, cw_sub) turns the dot
  // into one per-(query, cell) integer + 8 lookups in the per-query
  // LUT, normalized by the index-stored exact norm (cosine
  // MIPS-style asymmetric ADC — the metric MATCHES the spherical
  // cells; an L2-ADC draft against cosine cells measured recall 0.45
  // and was rejected). Per (query, candidate) the best cell's score
  // survives (same dedup as ivfTopkWith), a 20×k shortlist (top-100)
  // reranks under the EXACT integer cosine for the final top-5 —
  // retrieve-then-rerank, the deployment shape. nCentroids and
  // nProbe ride the √n LADDER (pqK/pqProbe — the round-10 fixed k=8
  // measured 0.87/0.89/0.68 across sf0.001/0.01/0.1; the ladder's
  // rungs measure 0.98/0.98/0.99 at ≤ 0.71 s steady, the round-11 PQ sweep
  // operating points — √n cells both shrink residuals, so the PQ
  // loses less, and shrink the probed candidate set). Shortlist
  // stays 100 = 20·k_final. Centroids, codebook and LUT all
  // broadcast; the corpus pays one map-side multi-assign, one code
  // argmin and one ADC aggregate. Integer arithmetic until the two
  // float divisions; every rank carries a vec_id tiebreak.
  /** The shared CTE chain replaying operators/IvfPq's index build —
    * centroid training, r-way assignment, residuals, seed + one-round
    * trained codebook, and the per-(copy, subspace) code argmin.
    * q286 (search) and q287 (health audit) both consume `codes`/`cbt`
    * from this identical text, mirroring how both Spark sides read
    * the same persisted artifact. */
  private lazy val ivfPqIndexCtes: String = pqIndexCtes(None)

  /** The CTE chain, parameterized for the INCREMENTAL index oracle
    * (q289): with `archPred` set, centroid training, codebook seeds
    * and the codebook Lloyd round all read only the ARCHIVE subset
    * (the frozen-training contract operators/IvfPq.splitIndex
    * implements), while assignment and the final code argmin still
    * cover every vector. With `archPred` empty the text is exactly
    * the per-snapshot chain q286/q287 replay. Restricting `res` to
    * archive rows (resT) equals building residuals from the archive
    * alone: a vector's r-way assignment is an argmin over the
    * broadcast centroids, independent of every other vector. */
  private def pqIndexCtes(archPred: Option[String]): String = {
    val train = if (archPred.isDefined) "arch" else "normed"
    val resT = if (archPred.isDefined) "resT" else "res"
    val archCtes = archPred.map(p =>
      s"""arch AS (SELECT vec_id, qv, qn FROM normed WHERE $p),
        """).getOrElse("")
    val resTCte = archPred.map(p =>
      s"""resT AS (SELECT * FROM res WHERE $p),
        """).getOrElse("")
    s"""$pqKSql,
        normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv, qn FROM normed0 WHERE qn > 0),
        ${archCtes}cents0 AS (
          SELECT CAST(rn - 1 AS INT) AS centroid_id, qv AS cv,
                 CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS cn
          FROM (SELECT qv, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                FROM $train) s
          WHERE rn <= (SELECT k FROM nk)),
        ${graft.operators.Ivf.trainSqlCtesCosine(ivfTrainRounds, 64, train)},
        cw AS (SELECT centroid_id, cv FROM cents$ivfTrainRounds),
        assigned AS (
          SELECT vec_id, qv, qn, centroid_id FROM (
            SELECT n.vec_id, n.qv, n.qn, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.cosKeySql("n.qv")}, c.centroid_id) AS rn
            FROM normed n CROSS JOIN cents$ivfTrainRounds c) t
          WHERE rn <= $ivfReplication),
        res AS (
          SELECT a.vec_id, a.centroid_id, a.qn,
                 list_transform(range(1, 65),
                   i -> a.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS rv
          FROM assigned a JOIN cw c ON c.centroid_id = a.centroid_id),
        ${resTCte}cb0 AS (
          SELECT t.vec_id AS code,
                 list_transform(range(1, 65),
                   i -> t.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS crv
          FROM (
            SELECT vec_id, qv, centroid_id FROM (
              SELECT n.vec_id, n.qv, c.centroid_id,
                     ROW_NUMBER() OVER (PARTITION BY n.vec_id
                       ORDER BY ${graft.operators.Ivf.cosKeySql("n.qv")}, c.centroid_id) AS rn
              FROM $train n CROSS JOIN cents$ivfTrainRounds c
              WHERE n.vec_id < 16) p WHERE rn = 1) t
          JOIN cw c ON c.centroid_id = t.centroid_id),
        sub AS (SELECT CAST(range AS BIGINT) AS subspace FROM range(0, 8)),
        cb0s AS (
          SELECT s.subspace, c0.code,
                 list_transform(range(1, 9),
                   i -> c0.crv[CAST(s.subspace * 8 + i AS INT)]) AS cw
          FROM cb0 c0 CROSS JOIN sub s),
        casg AS (
          SELECT vec_id, centroid_id, subspace, code FROM (
            SELECT r.vec_id, r.centroid_id, c.subspace, c.code,
                   ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.centroid_id, c.subspace
                     ORDER BY ${subD8Sql("r")}, c.code) AS rn
            FROM $resT r CROSS JOIN cb0s c) t
          WHERE rn = 1),
        cpos AS (
          SELECT a.subspace, a.code, p.i,
                 CAST(SUM(r.rv[CAST(a.subspace * 8 + p.i AS INT)]) AS BIGINT) AS sv,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM casg a
          JOIN $resT r ON r.vec_id = a.vec_id AND r.centroid_id = a.centroid_id,
               (SELECT unnest(range(1, 9)) AS i) p
          GROUP BY 1, 2, 3),
        cbt0 AS (
          SELECT subspace, code, list(m ORDER BY i) AS cw
          FROM (SELECT subspace, code, i, sv // cnt AS m FROM cpos) t
          GROUP BY 1, 2),
        cbt AS (
          SELECT g.subspace, g.code, COALESCE(t.cw, g.cw) AS cw
          FROM cb0s g LEFT JOIN cbt0 t
            ON t.subspace = g.subspace AND t.code = g.code),
        cd AS (
          SELECT r.vec_id, r.centroid_id, r.qn, c.subspace, c.code,
                 ${subD8Sql("r")} AS d
          FROM res r CROSS JOIN cbt c),
        codes AS (
          SELECT vec_id, centroid_id, qn, subspace, code FROM (
            SELECT vec_id, centroid_id, qn, subspace, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, centroid_id, subspace
                     ORDER BY d, code) AS rn
            FROM cd) t WHERE rn = 1)"""
  }

  /** The ADC-search CTE tail — probe, per-query LUT, ADC aggregate,
    * best-cell dedup, shortlist, exact rerank — shared verbatim by
    * q286 (per-snapshot index) and q289 (incrementally-maintained
    * index): the two oracles differ only in the index chain prefixed
    * before it. `extraCols` appends output columns to the final
    * SELECT (q289's is_new flag). */
  private def pqSearchSql(extraCols: String): String = s"""
        qc AS (
          SELECT query_id, qqn, p.centroid_id,
                 CAST(list_aggregate(list_transform(range(1, 65),
                   i -> qqv[CAST(i AS INT)] * c.cv[CAST(i AS INT)]),
                   'sum') AS BIGINT) AS dqc
          FROM (
            SELECT query_id, qqv, qqn, centroid_id FROM (
              SELECT q.vec_id AS query_id, q.qv AS qqv, q.qn AS qqn, c.centroid_id,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ${graft.operators.Ivf.cosKeySql("q.qv")}, c.centroid_id) AS rn
              FROM normed q CROSS JOIN cents$ivfTrainRounds c
              WHERE q.vec_id < 20) t
            WHERE rn <= (SELECT p FROM nk)) p
          JOIN cw c ON c.centroid_id = p.centroid_id),
        lut AS (
          SELECT n.vec_id AS query_id, c.subspace, c.code,
                 ${subDot8Sql("n")} AS ip
          FROM normed n CROSS JOIN cbt c
          WHERE n.vec_id < 20),
        adc AS (
          SELECT q.query_id, k.vec_id, k.qn, q.qqn,
                 q.dqc + CAST(SUM(l.ip) AS BIGINT) AS adot
          FROM codes k
          JOIN qc q ON q.centroid_id = k.centroid_id
          JOIN lut l ON l.query_id = q.query_id
                    AND l.subspace = k.subspace AND l.code = k.code
          WHERE k.vec_id <> q.query_id
          GROUP BY q.query_id, k.vec_id, k.centroid_id, k.qn, q.qqn, q.dqc),
        best AS (
          SELECT query_id, vec_id, qn, qqn, CAST(MAX(adot) AS BIGINT) AS adot
          FROM adc GROUP BY 1, 2, 3, 4),
        short AS (
          SELECT query_id, vec_id, adot FROM (
            SELECT query_id, vec_id, adot,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY CAST(adot AS DOUBLE) / sqrt(CAST(qqn AS DOUBLE) * CAST(qn AS DOUBLE)) DESC,
                              vec_id) AS arn
            FROM best) t WHERE arn <= 100),
        rer AS (
          SELECT s.query_id, s.vec_id, s.adot,
                 CAST(CAST(list_aggregate(list_transform(range(1, 65),
                     i -> nq.qv[CAST(i AS INT)] * nc.qv[CAST(i AS INT)]),
                   'sum') AS BIGINT) AS DOUBLE)
                   / sqrt(CAST(nq.qn AS DOUBLE) * CAST(nc.qn AS DOUBLE)) AS score
          FROM short s
          JOIN normed nq ON nq.vec_id = s.query_id
          JOIN normed nc ON nc.vec_id = s.vec_id)
        SELECT query_id, vec_id, adot, score, rnk$extraCols FROM (
          SELECT query_id, vec_id, adot, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rnk
          FROM rer) t
        WHERE rnk <= 5"""

  private lazy val qIvfPq: Q = Q(
      "q286_ivfpq_rerank",
      Some(s"""
        WITH $ivfPqIndexCtes,${pqSearchSql("")}""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      // nCentroids from the √n ladder — each SF trains its own
      // centroid + PQ artifacts (k threads into both fingerprints)
      val k = pqK(pqN(s, dir))
      val cents = graft.operators.Ivf.persistedCentroidsCosine(base, dir,
        "vec_id", "qv", k, ivfTrainRounds)
      val cw = cents.select("centroid_id", "cv")
      // the durable IVF-PQ index (fourth catalog artifact): r=3
      // assignment, per-copy residuals, one-round trained codebook
      // and the code argmin are all INGEST work — built once per
      // corpus snapshot by operators/IvfPq, read back here, so the
      // query pays ADC + rerank only (the in-query build measured
      // 4.6-5.4s steady at sf0.1; the read-back form is the
      // thousand-jobs-one-index production posture)
      val (codes, cbt) = graft.operators.IvfPq.persistedIndex(base, dir,
        cents, k, ivfTrainRounds, ivfReplication)
      pqSearch(base, cents, codes, cbt, pqProbe(k))
    }

  /** The Spark-side ADC search q286 and q289 share — the exact twin
    * of [[pqSearchSql]]: probe → per-query LUT → ADC aggregate →
    * best-cell dedup → shortlist-100 → exact rerank top-5. Centroids,
    * codebook, LUT and probe table all broadcast; the codes scan pays
    * one hash aggregate. */
  private def pqSearch(base: DataFrame, cents: DataFrame, codes: DataFrame,
      cbt: DataFrame, nProbe: Int): DataFrame = {
    val qd = graft.functions.VecMath.qdot _
    val cw = cents.select("centroid_id", "cv")
    val queries = base.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("qn").as("qqn"))
    // per-(query, probed cell): the dot(q, cv) term of the
    // decomposition dot(q, v) ≈ dot(q, cv) + Σ_sub dot(q_sub, cw)
    val qc = graft.operators.Ivf
      .probeCosine(queries, "qqv", cents, nProbe)
      .join(broadcast(cw), "centroid_id")
      .withColumn("dqc", dotCol("qqv", "cv"))
      .select("query_id", "qqn", "centroid_id", "dqc")
    // per-query 8×16 inner-product lookup table against the trained
    // codebook (same codegen'd kernel)
    val lut = queries
      .crossJoin(broadcast(cbt))
      .withColumn("ip", qd(
        expr("slice(qqv, cast(subspace * 8 + 1 as int), 8)"), col("cw")))
      .select("query_id", "subspace", "code", "ip")
    val adc = codes
      .join(broadcast(qc), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy("query_id", "vec_id", "centroid_id", "qn", "qqn", "dqc")
      .agg(sum(col("ip")).as("ipsum"))
      .withColumn("adot", col("dqc") + col("ipsum"))
    // a candidate indexed in several probed cells scores once per
    // cell — keep the best (adot is monotone in the score for fixed
    // (query, candidate) norms)
    val best = adc.groupBy("query_id", "vec_id", "qn", "qqn")
      .agg(max(col("adot")).as("adot"))
      .withColumn("score_a", col("adot").cast("double") /
        sqrt(col("qqn").cast("double") * col("qn").cast("double")))
    val wa = Window.partitionBy("query_id")
      .orderBy(desc("score_a"), col("vec_id"))
    val short = best.withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= 100).select("query_id", "vec_id", "adot")
    val rer = short
      .join(broadcast(queries), "query_id")
      .join(base.select(col("vec_id"), col("qv").as("qv_c"),
        col("qn").as("qn_c")), "vec_id")
      .withColumn("score", dotCol("qqv", "qv_c").cast("double") /
        sqrt(col("qqn").cast("double") * col("qn_c").cast("double")))
    val wr = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("vec_id"))
    rer.withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= 5)
      .select("query_id", "vec_id", "adot", "score", "rnk")
  }

  // --------------------------------------------------------------- q289
  // ANN search over the INCREMENTALLY-MAINTAINED IVF-PQ index — the
  // vector twin of q288's lexical split: vec_id % 10 == 0 is today's
  // embedding batch; the index it searches keeps centroids AND
  // codebook trained on the ARCHIVE snapshot and FROZEN (the
  // production PQ append contract — retraining per append would
  // re-code the world), while the delta pays only its own assignment
  // + coding against the frozen tables (operators/IvfPq
  // .splitIndex; merged-vs-frozen-rebuild byte identity pinned
  // in LayoutCatalogSpec). Search is the identical ADC tail as q286;
  // is_new flags freshly-ingested vectors in the top-5 — the
  // post-append check that new data is actually retrievable. The
  // oracle replays the full frozen-training build inline (training
  // CTEs read the archive subset, coding covers all), so a
  // hash-match here proves the incrementally-built index answers
  // searches identically to its from-scratch equivalent.
  private lazy val qIncrAnn: Q = Q(
      "q289_incremental_ann",
      Some(s"""
        WITH ${pqIndexCtes(Some("vec_id % 10 <> 0"))},${
          pqSearchSql(", vec_id % 10 = 0 AS is_new")}""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val k = pqK(pqN(s, dir))
      val (codes, cbt, cents) = pqSplit(base, dir, d10Vecs, k)
      pqSearch(base, cents, codes, cbt, pqProbe(k))
        .withColumn("is_new", col("vec_id") % 10 === 0)
    }

  // --------------------------------------------------------------- q296
  // ANN search over the MULTI-APPEND LSM vector index, past the fold
  // boundary — the compaction read path under the oracle gate (the
  // vector twin of q295). q289 exercises a single-delta split; here
  // the index has absorbed FIVE appends (days vec_id % 10 = 5..9
  // over a stable vec_id % 10 <= 4 archive) and crossed
  // the LSM skeleton's fold rung of 4: centroids
  // and codebook trained ONCE on the archive and frozen, days 5..8's
  // code segments folded with the archive codes into one merged
  // artifact (bytes identical to a frozen-codebook rebuild —
  // LayoutCatalogSpec pins the per-file MD5s), and the served view
  // is that compacted codes table ∪ the live day-9 tail segment.
  // Search is the identical ADC tail as q286/q289; from_tail flags
  // results served from the un-compacted tail. The oracle replays
  // the frozen-training build inline (training CTEs read the
  // archive subset, coding covers every vector) — per-vector coding
  // is an independent argmin, so fold ∪ tail ≡ code-everything, and
  // any fold bug (double-coded copies, a dropped segment, stale
  // archive) lands here as a score or rank mismatch.
  private lazy val qLsmAnn: Q = Q(
      "q296_lsm_compacted_ann",
      Some(s"""
        WITH ${pqIndexCtes(Some("vec_id % 10 <= 4"))},${
          pqSearchSql(", vec_id % 10 = 9 AS from_tail")}""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val k = pqK(pqN(s, dir))
      val (codes, cbt, cents) = pqSplit(base, dir, c10Vecs, k)
      pqSearch(base, cents, codes, cbt, pqProbe(k))
        .withColumn("from_tail", col("vec_id") % 10 === 9)
    }

  // --------------------------------------------------------------- q297
  // Drift-GATED ANN search — the retrain DECISION under the oracle
  // gate, end-to-end. q291 reports the gate statistic;
  // operators/IvfPq.driftGatedIndex ACTS on it: serve the O(delta)
  // frozen-training LSM view while the delta's mean reconstruction
  // error stays within 1500‰ of the archive's, retrain the full
  // snapshot past it. This query registers the acted-on path: the
  // search runs over WHICHEVER index generation the gate selected,
  // and the generation column in the OUTPUT is the gate's actual
  // decision — so the driver's hash gate now covers the decision,
  // not just the statistic. The gate itself is one scalar integer
  // aggregate over the already-built segment view, evaluated at
  // INGEST time (an AQE-style runtime-stats read, not query-path
  // work — the same posture driftGatedIndex has always documented).
  // Oracle: the natural corpus's i.i.d. delta sits at ≈1000‰ ≤ 1500
  // deterministically, so the oracle replays the FROZEN chain and
  // derives generation from the same corpus-truth drift statistic
  // q291 verifies — if Spark's gate ever fired spuriously, the
  // generation column (and, for any index-visible drift, the scores)
  // would hash-mismatch. The shifted-delta scenario — gate trips,
  // retrain restores recall ≥ 0.80 — stays pinned in PqDriftSpec,
  // where a synthetic drifted corpus can exist.
  private lazy val qDriftGatedAnn: Q = Q(
      "q297_drift_gated_ann",
      Some(s"""
        WITH ${pqIndexCtes(Some("vec_id % 10 <> 0"))},
        gerrs AS (
          SELECT k.vec_id, k.centroid_id,
                 CAST(SUM(${subD8Sql("r")}) AS BIGINT) AS err
          FROM codes k
          JOIN cbt c ON c.subspace = k.subspace AND c.code = k.code
          JOIN res r ON r.vec_id = k.vec_id
                    AND r.centroid_id = k.centroid_id
          GROUP BY 1, 2),
        gsides AS (
          SELECT CAST(SUM(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_arch,
                 CAST(SUM(CASE WHEN vec_id % 10 <> 0 THEN err ELSE 0 END) AS BIGINT) AS t_arch,
                 CAST(SUM(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
                 CAST(SUM(CASE WHEN vec_id % 10 = 0 THEN err ELSE 0 END) AS BIGINT) AS t_delta
          FROM gerrs),
        gdrift AS (
          SELECT CASE WHEN arch_mean_err = 0 THEN
                        CASE WHEN delta_mean_err = 0 THEN 1000
                             ELSE 1000000 END
                      ELSE (1000 * delta_mean_err) // arch_mean_err
                 END AS drift_permille
          FROM (SELECT t_arch // n_arch AS arch_mean_err,
                       t_delta // n_delta AS delta_mean_err
                FROM gsides) m),${
          pqSearchSql(
            ", (SELECT CASE WHEN drift_permille > 1500 THEN 'retrained' " +
              "ELSE 'frozen' END FROM gdrift) AS generation")}""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val k = pqK(pqN(s, dir))
      val (codes, cbt, cents, retrained) = graft.operators.IvfPq
        .driftGatedIndex(base, dir, d10Vecs, k, ivfTrainRounds,
          ivfReplication)
      pqSearch(base, cents, codes, cbt, pqProbe(k))
        .withColumn("generation",
          lit(if (retrained) "retrained" else "frozen"))
    }

  // --------------------------------------------------------------- q287
  // IVF-PQ index HEALTH audit — the monitoring query a production
  // deployment runs after each ingest: per cell, the PQ
  // reconstruction-error profile of the persisted index (err =
  // Σ_sub ||residual_sub − codeword[code]||², exact integer — the
  // quantity the code argmin minimized, re-derived from the original
  // vectors so the audit measures what the index actually LOST).
  // High mean_err in a cell says its residuals outgrew the codebook
  // (retrain / split the cell — q150's quantization audit, at the
  // index grain); n_exact counts losslessly-coded copies. One corpus
  // pass: codes ⋈ broadcast codebook ⋈ broadcast centroids, per-copy
  // sum, cell aggregate. The Spark side reads the PERSISTED artifact
  // (operators/IvfPq — zero rebuild); the oracle replays the full
  // build + the error recomputation, so a persisted-vs-rebuilt drift
  // would hash-mismatch here before any search query noticed.
  private lazy val qPqHealth: Q = Q(
      "q287_pq_health",
      Some(s"""
        WITH $ivfPqIndexCtes,
        errs AS (
          SELECT k.vec_id, k.centroid_id,
                 CAST(SUM(${subD8Sql("r")}) AS BIGINT) AS err
          FROM codes k
          JOIN cbt c ON c.subspace = k.subspace AND c.code = k.code
          JOIN res r ON r.vec_id = k.vec_id
                    AND r.centroid_id = k.centroid_id
          GROUP BY 1, 2)
        SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(SUM(err) AS BIGINT) AS total_err,
               CAST(SUM(err) AS BIGINT) // COUNT(*) AS mean_err,
               CAST(MAX(err) AS BIGINT) AS max_err,
               CAST(SUM(CASE WHEN err = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_exact
        FROM errs GROUP BY 1""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val k = pqK(pqN(s, dir))
      val cents = graft.operators.Ivf.persistedCentroidsCosine(base, dir,
        "vec_id", "qv", k, ivfTrainRounds)
      val (codes, cbt) = graft.operators.IvfPq.persistedIndex(base, dir,
        cents, k, ivfTrainRounds, ivfReplication)
      val errs = graft.operators.IvfPq.reconErrs(base, codes, cbt, cents)
      errs.groupBy(col("centroid_id").cast("long").as("centroid_id"))
        .agg(count(lit(1)).as("n_copies"), sum(col("err")).as("total_err"),
          max(col("err")).as("max_err"),
          sum(when(col("err") === 0, 1L).otherwise(0L)).as("n_exact"))
        .withColumn("mean_err", expr("total_err div n_copies"))
        .select("centroid_id", "n_copies", "total_err", "mean_err",
          "max_err", "n_exact")
    }

  // --------------------------------------------------------------- q291
  // Codebook-DRIFT audit of the incrementally-maintained IVF-PQ index
  // — the statistic that gates the frozen-training append path's one
  // honest failure mode: the archive-trained centroids + codebook
  // never see the delta, so a delta whose distribution drifts from
  // the archive's is coded against stale geometry, and the loss shows
  // up FIRST as reconstruction error (the exact integer the code
  // argmin minimized) before any recall metric notices. The audit
  // reports mean per-copy reconstruction error on each side of the
  // append boundary and their ratio in permille; drift_permille ≈
  // 1000 says the delta looks like the archive (keep appending
  // O(delta)), > the pinned 1500 threshold says RETRAIN — the next
  // snapshot trains on everything (operators/IvfPq.driftGatedIndex;
  // the recall-restoration behavior is pinned at sf0.01 with an
  // injected shifted delta in IvfSpec). One corpus pass over the
  // artifact codes ⋈ broadcast codebook/centroids; the oracle replays
  // the frozen-training build + error recomputation inline, so the
  // hash match proves the artifact audit equals corpus truth.
  private lazy val qPqDrift: Q = Q(
      "q291_pq_drift_audit",
      Some(s"""
        WITH ${pqIndexCtes(Some("vec_id % 10 <> 0"))},
        errs AS (
          SELECT k.vec_id, k.centroid_id,
                 CAST(SUM(${subD8Sql("r")}) AS BIGINT) AS err
          FROM codes k
          JOIN cbt c ON c.subspace = k.subspace AND c.code = k.code
          JOIN res r ON r.vec_id = k.vec_id
                    AND r.centroid_id = k.centroid_id
          GROUP BY 1, 2),
        sides AS (
          SELECT CAST(SUM(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_arch,
                 CAST(SUM(CASE WHEN vec_id % 10 <> 0 THEN err ELSE 0 END) AS BIGINT) AS t_arch,
                 CAST(SUM(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
                 CAST(SUM(CASE WHEN vec_id % 10 = 0 THEN err ELSE 0 END) AS BIGINT) AS t_delta
          FROM errs),
        means AS (
          SELECT n_arch, t_arch // n_arch AS arch_mean_err,
                 n_delta, t_delta // n_delta AS delta_mean_err
          FROM sides)
        SELECT n_arch, arch_mean_err, n_delta, delta_mean_err,
               drift_permille, drift_permille > 1500 AS retrain_needed
        FROM (
          SELECT *, CASE WHEN arch_mean_err = 0 THEN
                           CASE WHEN delta_mean_err = 0 THEN 1000
                                ELSE 1000000 END
                         ELSE (1000 * delta_mean_err) // arch_mean_err
                    END AS drift_permille
          FROM means) t""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val k = pqK(pqN(s, dir))
      val (codes, cbt, cents) = pqSplit(base, dir, d10Vecs, k)
      graft.operators.IvfPq.reconErrs(base, codes, cbt, cents)
        .agg(
          sum(when(col("vec_id") % 10 =!= 0, 1L).otherwise(0L)).as("n_arch"),
          sum(when(col("vec_id") % 10 =!= 0, col("err")).otherwise(0L)).as("t_arch"),
          sum(when(col("vec_id") % 10 === 0, 1L).otherwise(0L)).as("n_delta"),
          sum(when(col("vec_id") % 10 === 0, col("err")).otherwise(0L)).as("t_delta"))
        .withColumn("arch_mean_err", expr("t_arch div n_arch"))
        .withColumn("delta_mean_err", expr("t_delta div n_delta"))
        // archMean = 0 with nonzero delta error is INFINITE drift
        // (saturating 1e6‰ sentinel) — a perfectly-reconstructing
        // archive must never mask a drifted delta from the gate
        .withColumn("drift_permille", expr(
          "CASE WHEN arch_mean_err = 0 THEN " +
            "CASE WHEN delta_mean_err = 0 THEN 1000L ELSE 1000000L END " +
            "ELSE (1000L * delta_mean_err) div arch_mean_err END"))
        .withColumn("retrain_needed", col("drift_permille") > 1500)
        .select("n_arch", "arch_mean_err", "n_delta", "delta_mean_err",
          "drift_permille", "retrain_needed")
    }

  // --------------------------------------------------------------- q292
  // Johnson–Lindenstrauss distortion audit — the dimensionality-
  // reduction half of the ANN toolbox (reduce 64 → 16 dims BEFORE
  // indexing; JL says pairwise distances concentrate around a single
  // scale factor). The projection is the SAME deterministic signed
  // plane family the SRP/LSH operators use (Lsh.planeDotExpr — w(p,i)
  // ∈ [-5,5], exact BIGINT), applied to pair DIFFERENCES (projection
  // is linear, so proj(x)−proj(y) = proj(x−y) — one HOF pass per
  // pair, no per-side projection join). Pairs are a deterministic
  // 1-in-17 systematic sample, each with its id+1 neighbor — a keyed
  // equi-join, corpus-linear, no window over raw rows. The audit
  // aggregates the ratio 1000·‖proj(z)‖² div ‖z‖² into an exact
  // 8-permille-banded histogram (domain bounded by CONSTRUCTION at
  // range/8 bands — not merely by JL concentration) and reads
  // grid-aligned type-1 percentiles off the cumulative — the
  // concentration statement (p05 ≈ p95) IS the JL property. Overflow
  // audit: |z_i| ≤ 2·10³ quantized units ⇒ |dot_p| ≤ 64·2000·5 =
  // 6.4e5, p2 ≤ 16·4.1e11 = 6.6e12, ×1000 ≪ 2⁶³.
  private lazy val qJl: Q = Q(
      "q292_jl_distortion",
      Some({
        val zDiff = "list_transform(range(1, len(a.qv) + 1), " +
          "i -> a.qv[CAST(i AS INT)] - b.qv[CAST(i AS INT)])"
        val p2 = (0 until 16).map(p =>
          s"(${graft.operators.Lsh.planeDotSql("z", p)} * " +
            s"${graft.operators.Lsh.planeDotSql("z", p)})").mkString(" + ")
        s"""
        WITH normed AS ($quantizedSql),
        pairs AS (
          SELECT a.vec_id AS pid, $zDiff AS z
          FROM normed a JOIN normed b ON b.vec_id = a.vec_id + 1
          WHERE a.vec_id % 17 = 0),
        m AS (
          SELECT pid,
                 CAST(list_aggregate(list_transform(range(1, len(z) + 1),
                   i -> z[CAST(i AS INT)] * z[CAST(i AS INT)]), 'sum')
                   AS BIGINT) AS d2,
                 CAST($p2 AS BIGINT) AS p2
          FROM pairs),
        rp AS (
          SELECT ((1000 * p2) // d2) // 8 AS band FROM m WHERE d2 > 0),
        hist AS (
          SELECT band, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM rp GROUP BY band),
        cum AS (
          SELECT band,
                 CAST(SUM(cnt) OVER (ORDER BY band) AS BIGINT) AS cum,
                 CAST(SUM(cnt) OVER () AS BIGINT) AS n
          FROM hist)
        SELECT MAX(n) AS n_pairs,
               MIN(CASE WHEN cum * 100 >= n * 5 THEN band * 8 END) AS p05_pm,
               MIN(CASE WHEN cum * 100 >= n * 50 THEN band * 8 END) AS p50_pm,
               MIN(CASE WHEN cum * 100 >= n * 95 THEN band * 8 END) AS p95_pm,
               MAX(band * 8) AS max_pm
        FROM cum"""
      })
    ) { (s, dir) =>
      val qd = graft.functions.VecMath.qdot _
      val e = quantized(s, dir).select(col("vec_id"), col("qv"))
      val a = e.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("pid"), col("qv").as("xa"))
      val b = e.select((col("vec_id") - 1).as("pid"), col("qv").as("xb"))
      val pairs = a.join(b, "pid")
        .withColumn("z", expr("zip_with(xa, xb, (x, y) -> x - y)"))
      val p2 = (0 until 16).map { p =>
        val dp = expr(graft.operators.Lsh.planeDotExpr("z", p))
        dp * dp
      }.reduce(_ + _)
      val rp = pairs
        .withColumn("d2", qd(col("z"), col("z")))
        .withColumn("p2", p2)
        .filter(col("d2") > 0)
        // 8-permille-wide bands, not raw permilles: the cumulative
        // window below runs over the banded histogram, whose domain
        // is bounded BY CONSTRUCTION (ratio range div 8) instead of
        // by JL concentration — a pathological weight/data mix can
        // spread raw ratios over ~10⁴–10⁷ distinct permilles, but
        // never mint more bands than range/8
        .select(expr("((1000 * p2) div d2) div 8").as("band"))
      // exact percentiles via the banded histogram: the only windows
      // run over the GROUPED (bounded-domain) table, never raw pairs
      val hist = rp.groupBy("band").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("band")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      hist
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .agg(
          max(col("n")).as("n_pairs"),
          min(when(col("cum") * 100 >= col("n") * 5, col("band") * 8))
            .as("p05_pm"),
          min(when(col("cum") * 100 >= col("n") * 50, col("band") * 8))
            .as("p50_pm"),
          min(when(col("cum") * 100 >= col("n") * 95, col("band") * 8))
            .as("p95_pm"),
          max(col("band") * 8).as("max_pm"))
    }

  // --------------------------------------------------------------- q293
  // Int8 scalar-quantization audit — the OTHER production vector-
  // compression scheme beside PQ (q200/q286): per-dimension global
  // [min, max] over the corpus (64 groups — a map-side-partial
  // aggregate whose shuffle is 64 rows at any corpus size), each
  // value coded to 0..255 by exact integer arithmetic
  // q = ((x−mn)·255) div (mx−mn), reconstructed x̂ = mn +
  // (q·(mx−mn)) div 255, and the per-dimension loss profile reported
  // exactly (err = x − x̂ ∈ [0, step] — floor coding never
  // overshoots). A flat dimension (mx = mn) codes to 0 with zero
  // error. This is the audit a 100 TB ingest runs BEFORE switching
  // the index to SQ8 storage: sum_err/n bounds the expected ADC bias
  // per dimension, max_err its worst case.
  private lazy val qSq8: Q = Q(
      "q293_sq8_audit",
      Some(s"""
        WITH normed AS ($quantizedSql),
        ex AS (
          SELECT vec_id, CAST(i AS BIGINT) AS i, qv[CAST(i AS INT)] AS x
          FROM normed, (SELECT unnest(range(1, 65)) AS i) a),
        st AS (
          SELECT i, CAST(MIN(x) AS BIGINT) AS mn, CAST(MAX(x) AS BIGINT) AS mx
          FROM ex GROUP BY i),
        r AS (
          SELECT e.i, s.mn, s.mx, e.x,
                 s.mn + (CASE WHEN s.mx = s.mn THEN 0
                              ELSE ((e.x - s.mn) * 255) // (s.mx - s.mn)
                         END * (s.mx - s.mn)) // 255 AS xhat
          FROM ex e JOIN st s ON s.i = e.i)
        SELECT i, MIN(mn) AS vmin, MAX(mx) AS vmax,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(x - xhat) AS BIGINT) AS max_err,
               CAST(SUM(x - xhat) AS BIGINT) AS sum_err
        FROM r GROUP BY i""")
    ) { (s, dir) =>
      val ex = quantized(s, dir)
        .select(col("vec_id"), posexplode(col("qv")).as(Seq("pos0", "x")))
        .select((col("pos0") + 1).cast("long").as("i"), col("x"))
      val st = ex.groupBy("i")
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      ex.join(broadcast(st), "i")
        .withColumn("q", when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr("((x - mn) * 255) div (mx - mn)")))
        .withColumn("xhat", col("mn") + expr("(q * (mx - mn)) div 255"))
        .groupBy("i")
        .agg(min(col("mn")).as("vmin"), max(col("mx")).as("vmax"),
          count(lit(1)).as("n"),
          max(col("x") - col("xhat")).as("max_err"),
          sum(col("x") - col("xhat")).as("sum_err"))
    }

  // (lazy: referenced from `all` above its definition)
  private lazy val qGridDbscan: Q = Q(
      "q203_grid_dbscan",
      Some(s"""
        WITH RECURSIVE pts AS (
          SELECT vec_id,
                 (CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
                  + 16384) // 50 AS cx,
                 (CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
                  + 16384) // 50 AS cy
          FROM embeddings),
        cells AS (
          SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS c
          FROM pts GROUP BY 1, 2),
        core AS (SELECT cx, cy FROM cells WHERE c >= 8),
        off AS (
          SELECT CAST(a.range AS BIGINT) AS dx, CAST(b.range AS BIGINT) AS dy
          FROM range(-1, 2) a CROSS JOIN range(-1, 2) b),
        -- min-label to the FIXPOINT (the q309 recursive-replay
        -- pattern): rows carry the round index d so each round's full
        -- label table is "new" under UNION dedup (the working table is
        -- the complete previous round), the recursive term recomputes
        -- round d+1 with the same 9-neighborhood MIN, and the
        -- EXISTS(any-label-differs) guard stops emission once a round
        -- changes nothing — MAX(d) is then the converged round and its
        -- labels are the exact per-component minima, whatever the
        -- cluster diameter (the fixed 16-round unroll this replaces
        -- relied on fixture diameters staying under its round budget)
        lab(d, cx, cy, label) AS (
          SELECT 0, cx, cy, cx * 65536 + cy AS label FROM core
          UNION
          SELECT nx.d, nx.cx, nx.cy, nx.label FROM (
            SELECT l.d + 1 AS d, c.cx, c.cy,
                   CAST(MIN(l.label) AS BIGINT) AS label
            FROM lab l CROSS JOIN off o
            JOIN core c ON c.cx = l.cx + o.dx AND c.cy = l.cy + o.dy
            GROUP BY 1, 2, 3) nx
          WHERE EXISTS (
            SELECT 1 FROM (
              SELECT c2.cx, c2.cy, CAST(MIN(l2.label) AS BIGINT) AS label
              FROM lab l2 CROSS JOIN off o2
              JOIN core c2 ON c2.cx = l2.cx + o2.dx AND c2.cy = l2.cy + o2.dy
              GROUP BY 1, 2) n2
            JOIN lab pv ON pv.cx = n2.cx AND pv.cy = n2.cy
                       AND pv.label <> n2.label)),
        fin AS (
          SELECT cx, cy, label FROM lab
          WHERE d = (SELECT MAX(d) FROM lab)),
        nbr AS (
          SELECT r.cx + o.dx AS nx, r.cy + o.dy AS ny,
                 CAST(MIN(r.label) AS BIGINT) AS label
          FROM fin r CROSS JOIN off o GROUP BY 1, 2)
        SELECT p.vec_id, p.cx, p.cy,
               CASE WHEN c2.label IS NOT NULL THEN 'core'
                    WHEN n.label IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               COALESCE(c2.label, n.label, -1) AS cluster
        FROM pts p
        LEFT JOIN fin c2 ON c2.cx = p.cx AND c2.cy = p.cy
        LEFT JOIN nbr n ON n.nx = p.cx AND n.ny = p.cy""")
    ) { (s, dir) =>
      val pts = t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("(cast(floor(cast(element_at(embedding, 1) as double) * 1000)" +
            " as bigint) + 16384) div 50").as("cx"),
          expr("(cast(floor(cast(element_at(embedding, 2) as double) * 1000)" +
            " as bigint) + 16384) div 50").as("cy"))
      val cells = pts.groupBy("cx", "cy").agg(count(lit(1)).as("c"))
      val core = cells.filter(col("c") >= 8).select("cx", "cy")
      def expand(lab: DataFrame): DataFrame = lab
        .withColumn("dx", explode(sequence(lit(-1L), lit(1L))))
        .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
        .select((col("cx") + col("dx")).as("nx"),
          (col("cy") + col("dy")).as("ny"), col("label"))
      // Exact min-label FIXPOINT over the core-cell adjacency — the
      // CELL table is grid-geometry-bounded (≤ 655² cells by the
      // encoding, independent of corpus size — the same bound that
      // already justified broadcasting it to every final-join task),
      // so the whole component labeling fits ONE task: the cell set
      // gathers into a single row and a union-find pass labels every
      // component with its minimum encoded cell id — exactly the
      // value the previous 16 unrolled neighbor-min rounds converged
      // to (RetrievalSpec pins the fixpoint equality; the unroll's
      // round budget was a fixture property, the fixpoint is not).
      // 16 expand+min-aggregate shuffle stages collapse to one tiny
      // single-partition aggregate + one O(cells·α) task; the corpus
      // still pays exactly one (cx, cy) grouping pass. Benched
      // 3.8 → ~0.9 s at sf0.1; the oracle replays the same fixpoint
      // via the q309 recursive-CTE pattern.
      val r2 = {
        import s.implicits._
        core.agg(sort_array(collect_list(struct(col("cx"), col("cy"))))
            .as("cs"))
          .as[Seq[(Long, Long)]]
          .flatMap { cells =>
            val idx = cells.zipWithIndex.toMap
            val parent = Array.tabulate(cells.length)(identity)
            def find(i: Int): Int = {
              var r = i
              while (parent(r) != r) r = parent(r)
              var c = i
              while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
              r
            }
            for {
              (cell, i) <- cells.zipWithIndex
              dx <- -1L to 1L; dy <- -1L to 1L
              j <- idx.get((cell._1 + dx, cell._2 + dy))
            } {
              val (ri, rj) = (find(i), find(j))
              if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
            }
            val minEnc = collection.mutable.Map.empty[Int, Long]
            for ((cell, i) <- cells.zipWithIndex) {
              val enc = cell._1 * 65536L + cell._2
              val r = find(i)
              if (minEnc.getOrElse(r, Long.MaxValue) > enc) minEnc(r) = enc
            }
            cells.zipWithIndex.map { case (cell, i) =>
              (cell._1, cell._2, minEnc(find(i)))
            }
          }
          .toDF("cx", "cy", "label")
      }
      val nbr = expand(r2).groupBy("nx", "ny").agg(min(col("label")).as("nlabel"))
      pts
        .join(broadcast(r2.withColumnRenamed("label", "clabel")),
          Seq("cx", "cy"), "left")
        .join(broadcast(nbr),
          pts("cx") === nbr("nx") && pts("cy") === nbr("ny"), "left")
        .select(col("vec_id"), col("cx"), col("cy"),
          when(col("clabel").isNotNull, "core")
            .when(col("nlabel").isNotNull, "border")
            .otherwise("noise").as("role"),
          coalesce(col("clabel"), col("nlabel"), lit(-1L)).as("cluster"))
    }

  // (lazy: referenced from `all` above its definition)
  private lazy val qCellMedoids: Q = Q(
      "q209_cell_medoids",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, qv, qn FROM normed0 WHERE qn > 0),
        cents AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id, qv AS cv
          FROM (SELECT vec_id, qv FROM normed ORDER BY vec_id LIMIT ${ivfCfg.nCentroids}) s),
        assigned AS (
          SELECT vec_id, qv, centroid_id FROM (
            SELECT n.vec_id, n.qv, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY n.vec_id
                     ORDER BY ${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")}, c.centroid_id) AS rn
            FROM normed n CROSS JOIN cents c) t
          WHERE rn = 1),
        nm AS (
          SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members,
                 CAST(MIN(vec_id) AS BIGINT) AS min_member
          FROM assigned GROUP BY 1),
        pair AS (
          SELECT a.centroid_id, a.vec_id AS ma,
                 CAST(SUM(${graft.operators.Ivf.sqDistSql("a.qv", "b.qv")})
                      AS BIGINT) AS ssd
          FROM assigned a JOIN assigned b
            ON b.centroid_id = a.centroid_id AND b.vec_id <> a.vec_id
          GROUP BY 1, 2),
        best AS (
          SELECT centroid_id, ma, ssd FROM (
            SELECT centroid_id, ma, ssd,
                   ROW_NUMBER() OVER (PARTITION BY centroid_id
                     ORDER BY ssd, ma) AS rn
            FROM pair) t WHERE rn = 1)
        SELECT n.centroid_id, COALESCE(b.ma, n.min_member) AS medoid_id,
               n.n_members, COALESCE(b.ssd, 0) AS medoid_ssd
        FROM nm n LEFT JOIN best b ON b.centroid_id = n.centroid_id""")
    ) { (s, dir) =>
      val base = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "qv", "qn")
      val cents = graft.operators.Ivf.seedCentroids(base, "vec_id", "qv",
        ivfCfg.nCentroids)
      val assigned = graft.Checkpoints.materialize(
        graft.operators.Ivf.assign(base, "qv", cents)
          .select("vec_id", "qv", "qn", "centroid_id"))
      val nm = assigned.groupBy("centroid_id")
        .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("min_member"))
      val a = assigned.select(col("centroid_id"), col("vec_id").as("ma"),
        col("qv").as("qv_a"), col("qn").as("qn_a"))
      val b = assigned.select(col("centroid_id"), col("vec_id").as("id_b"),
        col("qv").as("qv_b"), col("qn").as("qn_b"))
      // ||a−b||² = qn_a + qn_b − 2·a·b through the codegen'd qdot
      // kernel — the interpreted aggregate(zip_with(...)) HOF on the
      // hot pair loop benched 9s; this form is the q231 shape (1.1s)
      val pair = a.join(b, Seq("centroid_id"))
        .filter(col("id_b") =!= col("ma"))
        .withColumn("d",
          col("qn_a") + col("qn_b") - lit(2L) * dotCol("qv_a", "qv_b"))
        .groupBy("centroid_id", "ma").agg(sum(col("d")).as("ssd"))
      val wB = Window.partitionBy("centroid_id").orderBy(col("ssd"), col("ma"))
      val best = pair.withColumn("rn", row_number().over(wB))
        .filter(col("rn") === 1).select("centroid_id", "ma", "ssd")
      nm.join(best, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("ma"), col("min_member")).as("medoid_id"),
          col("n_members"), coalesce(col("ssd"), lit(0L)).as("medoid_ssd"))
    }

  // (lazy: referenced from `all` above its definition)
  private lazy val qClassSep: Q = Q(
      "q210_class_separation",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, label, qv FROM normed0 WHERE qn > 0),
        sums AS (
          SELECT label, CAST(i AS BIGINT) AS i,
                 CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM normed CROSS JOIN range(1, 65) r(i)
          GROUP BY 1, 2),
        cent AS (
          SELECT label, list(s // n ORDER BY i) AS cv, MIN(n) AS n
          FROM sums GROUP BY label),
        within AS (
          SELECT n.label,
                 CAST(SUM(${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")})
                      AS BIGINT) AS w_total,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM normed n JOIN cent c ON c.label = n.label
          GROUP BY 1)
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(${graft.operators.Ivf.sqDistSql("a.cv", "b.cv")} AS BIGINT)
                 AS between_sq,
               wa.w_total // wa.n AS within_a,
               wb.w_total // wb.n AS within_b,
               (1000 * CAST(${graft.operators.Ivf.sqDistSql("a.cv", "b.cv")} AS BIGINT))
                 // (wa.w_total // wa.n + wb.w_total // wb.n) AS sep_pm
        FROM cent a JOIN cent b ON b.label > a.label
        JOIN within wa ON wa.label = a.label
        JOIN within wb ON wb.label = b.label""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "label", "qv")
      // (label, dim) sums in one corpus pass, centroid = floor-div mean
      val sums = normed
        .select(col("label"), posexplode(col("qv")).as(Seq("i0", "v")))
        .groupBy(col("label"), (col("i0") + 1).as("i"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val cent = sums.groupBy("label")
        .agg(expr("array_sort(collect_list(struct(i, s div n)))").as("kv"),
          min(col("n")).as("n"))
        .select(col("label"), expr("transform(kv, x -> x.col2)").as("cv"),
          col("n"))
      val centB = graft.Checkpoints.materialize(cent)
      val within = normed.join(broadcast(centB), "label")
        .withColumn("d", expr(graft.operators.Ivf.sqDistExpr("qv", "cv")))
        .groupBy("label")
        .agg(sum(col("d")).as("w_total"), count(lit(1)).as("n"))
      val a = centB.select(col("label").as("label_a"), col("cv").as("cv_a"))
      val b = centB.select(col("label").as("label_b"), col("cv").as("cv_b"))
      val wa = within.select(col("label").as("label_a"),
        expr("w_total div n").as("within_a"))
      val wb = within.select(col("label").as("label_b"),
        expr("w_total div n").as("within_b"))
      a.join(b, col("label_b") > col("label_a"))
        .withColumn("between_sq",
          expr(graft.operators.Ivf.sqDistExpr("cv_a", "cv_b")))
        .join(broadcast(wa), "label_a")
        .join(broadcast(wb), "label_b")
        .select(col("label_a"), col("label_b"), col("between_sq"),
          col("within_a"), col("within_b"),
          expr("(1000 * between_sq) div (within_a + within_b)").as("sep_pm"))
    }

  // (lazy: referenced from `all` above its definition)
  private lazy val qConformal: Q = Q(
      "q211_conformal_threshold",
      Some(s"""
        WITH normed0 AS ($quantizedSql),
        normed AS (SELECT vec_id, label, qv FROM normed0 WHERE qn > 0),
        sums AS (
          SELECT label, CAST(i AS BIGINT) AS i,
                 CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM normed CROSS JOIN range(1, 65) r(i)
          GROUP BY 1, 2),
        cent AS (
          SELECT label, list(s // n ORDER BY i) AS cv FROM sums GROUP BY label),
        scored AS (
          SELECT n.label, n.vec_id,
                 CAST(${graft.operators.Ivf.sqDistSql("n.qv", "c.cv")} AS BIGINT)
                   AS score
          FROM normed n JOIN cent c ON c.label = n.label),
        ranked AS (
          SELECT label, vec_id, score,
                 ROW_NUMBER() OVER (PARTITION BY label
                   ORDER BY score, vec_id) AS rk,
                 CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n
          FROM scored),
        thr AS (
          SELECT label, MIN(n) AS n, MIN(score) AS q90_threshold
          FROM ranked WHERE 10 * rk >= 9 * n
          GROUP BY label)
        SELECT t.label, t.n, t.q90_threshold,
               (1000 * CAST(SUM(CASE WHEN r.score <= t.q90_threshold
                    THEN 1 ELSE 0 END) AS BIGINT)) // t.n AS coverage_pm,
               CAST(MAX(r.score) AS BIGINT) AS max_score
        FROM ranked r JOIN thr t ON t.label = r.label
        GROUP BY t.label, t.n, t.q90_threshold""")
    ) { (s, dir) =>
      val normed = quantized(s, dir).filter(col("qn") > 0)
        .select("vec_id", "label", "qv")
      val sums = normed
        .select(col("label"), posexplode(col("qv")).as(Seq("i0", "v")))
        .groupBy(col("label"), (col("i0") + 1).as("i"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val cent = sums.groupBy("label")
        .agg(expr("array_sort(collect_list(struct(i, s div n)))").as("kv"))
        .select(col("label"), expr("transform(kv, x -> x.col2)").as("cv"))
      val scored = graft.Checkpoints.materialize(
        normed.join(broadcast(cent), "label")
          .withColumn("score",
            expr(graft.operators.Ivf.sqDistExpr("qv", "cv")))
          .select("label", "vec_id", "score"))
      val w = Window.partitionBy("label").orderBy(col("score"), col("vec_id"))
      val ranked = scored
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("label")))
      val thr = ranked.filter(col("rk") * 10 >= col("n") * 9)
        .groupBy("label")
        .agg(min(col("n")).as("n_lab"), min(col("score")).as("q90_threshold"))
      ranked.join(broadcast(thr), "label")
        .groupBy(col("label"), col("n_lab"), col("q90_threshold"))
        .agg(
          expr("(1000 * sum(case when score <= q90_threshold then 1 else 0 end)) div min(n_lab)")
            .as("coverage_pm"),
          max(col("score")).as("max_score"))
        .select(col("label"), col("n_lab").as("n"), col("q90_threshold"),
          col("coverage_pm"), col("max_score"))
    }
}
