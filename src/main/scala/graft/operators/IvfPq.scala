package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable IVF-PQ index — the fourth [[LayoutCatalog]] artifact: the
  * PQ code table and trained residual codebook that q286's ADC search
  * reads. Building them (r-way cell assignment, per-copy residuals,
  * one integer Lloyd round on the per-subspace codebook, code argmin)
  * is INGEST work: at 100 TB the codes table is the index a thousand
  * query jobs share, so it publishes once per corpus snapshot exactly
  * like the bucketed edge corpus and the trained centroids — a
  * second JVM resolves both tables from disk and pays only
  * ADC + rerank (measured: the in-query build was 4.6-5.4 s steady
  * at sf0.1; the persisted read-back drops the search query to the
  * ADC join itself).
  *
  * Determinism: every stage is the same exact-integer arithmetic the
  * DuckDB oracle replays (floor-mean Lloyd, (d, code) argmin ties to
  * the smaller code), so the persisted tables are bit-identical to a
  * rebuild — which is what lets the oracle keep hash-matching a
  * query that reads them.
  *
  * V2 — DETERMINISTIC BYTES + INCREMENTAL MAINTENANCE (the
  * TextIndex-v2 treatment, applied to vectors): every file is
  * totally ordered (codes hashed on vec_id into the embeddings
  * table's width of files — one at every fixture scale — and sorted
  * by the unique (vec_id, centroid_id, subspace); codebook one file
  * sorted by (subspace, code)) and nullability-pinned, so artifact bytes
  * are a pure function of the row set. [[splitIndex]] then gives
  * the appends of a [[LayoutCatalog.Split]] the production PQ shape: centroids AND codebook are
  * trained once on the ARCHIVE snapshot and FROZEN (retraining per
  * append would re-code the world); a delta of new vectors pays only
  * its own assignment + coding against the frozen tables, published
  * as its OWN code segment (O(delta) write — the archive codes are
  * never rewritten), and the read view archive ∪ segments is
  * row-identical to a frozen-codebook rebuild over the full corpus
  * (per-vector coding is an independent argmin, so delta∪archive ≡
  * code-everything). Archive, segments and the fold resolve through
  * [[LayoutCatalog.resolveSplit]] like the text indexes' splits; the
  * fold's bytes equal that rebuild's — LayoutCatalogSpec pins the
  * per-file MD5s.
  *
  * Schema: `codes` (vec_id, centroid_id, qn, subspace, code) — one
  * row per indexed copy per subspace, carrying the exact self-norm
  * the cosine ADC normalizes by; `codebook` (subspace, code, cw) —
  * 8×16 rows of 8-dim integer codewords.
  */
object IvfPq {

  /** Bump when the BUILD semantics change. v2: totally-ordered,
    * nullability-pinned files (the byte-determinism the incremental
    * merge is proven against). v3: codes in the embeddings table's
    * width of files instead of a fixed 32. */
  val LayoutVersion = 3

  private val Kind = s"ivfpq_v$LayoutVersion"

  private val Embeddings = Seq("embeddings")

  /** Base-name tail of every artifact built with these parameters. */
  private def params(nCentroids: Int, rounds: Int, replication: Int): String =
    s"_k${nCentroids}_r${rounds}_x$replication"

  /** The index's tables, every column pinned non-nullable so a fresh
    * aggregate and a published-table read-back write one parquet
    * schema: codes spread on vec_id and sorted by the unique
    * (vec_id, centroid_id, subspace); the codebook one file sorted by
    * (subspace, code). */
  private val Codes = LayoutCatalog.Table("codes",
    "vec_id BIGINT NOT NULL, centroid_id INT NOT NULL, qn BIGINT NOT NULL, " +
      "subspace BIGINT NOT NULL, code BIGINT NOT NULL",
    Seq("vec_id", "centroid_id", "subspace"), LayoutCatalog.Spread)
  private val Codebook = LayoutCatalog.Table("codebook",
    "subspace BIGINT NOT NULL, code BIGINT NOT NULL, cw ARRAY<BIGINT> NOT NULL",
    Seq("subspace", "code"), LayoutCatalog.Single)

  /** r-way cell assignment + per-copy residuals of `base` against the
    * broadcast centroid table (columns vec_id, centroid_id, qn, rv). */
  private def residuals(base: DataFrame, cents: DataFrame,
      replication: Int): DataFrame = {
    val cw = cents.select("centroid_id", "cv")
    graft.Checkpoints.materialize(
      Ivf.probeCosine(base, "qv", cents, replication)
        .join(broadcast(cw), "centroid_id")
        .withColumn("rv", expr("zip_with(qv, cv, (x, y) -> x - y)"))
        .select("vec_id", "centroid_id", "qn", "rv"))
  }

  /** Per-subspace slices + self-norms of a residual frame. */
  private def subspaced(res: DataFrame): DataFrame = {
    val qd = graft.functions.VecMath.qdot _
    res
      .withColumn("subspace", explode(sequence(lit(0L), lit(7L))))
      .withColumn("sl", expr("slice(rv, cast(subspace * 8 + 1 as int), 8)"))
      .withColumn("sn", qd(col("sl"), col("sl")))
      .select("vec_id", "centroid_id", "qn", "subspace", "sl", "sn")
  }

  /** Train the codebook on `trainBase`'s residuals: 16-lowest-id
    * seeds (within trainBase) sliced per subspace, then ONE
    * deterministic integer Lloyd round (floor-mean; empty codewords
    * keep their seed). Returns the materialized (subspace, code, cw)
    * table. */
  private def trainCodebook(trainBase: DataFrame, cents: DataFrame,
      resTrainSub: DataFrame): DataFrame = {
    val qd = graft.functions.VecMath.qdot _
    val cw = cents.select("centroid_id", "cv")
    val cb0s = Ivf.probeCosine(trainBase.filter(col("vec_id") < 16), "qv", cents, 1)
      .join(broadcast(cw), "centroid_id")
      .withColumn("crv", expr("zip_with(qv, cv, (x, y) -> x - y)"))
      .withColumn("subspace", explode(sequence(lit(0L), lit(7L))))
      .withColumn("cw", expr("slice(crv, cast(subspace * 8 + 1 as int), 8)"))
      .select(col("vec_id").as("code"), col("subspace"), col("cw"))
    def withCn2(cb: DataFrame) = cb.withColumn("cn2", qd(col("cw"), col("cw")))
    // distances as codegen'd kernels: d = sn + cn2 − 2·qdot (the
    // interpreted HOF form was 6× slower — the q209 lesson). Struct
    // min = lexicographic (d, code); pairs are unique per group so
    // the carried slice is never consulted.
    val casg = resTrainSub.join(broadcast(withCn2(cb0s)), "subspace")
      .withColumn("d",
        col("sn") + col("cn2") - lit(2L) * qd(col("sl"), col("cw")))
      .groupBy("vec_id", "centroid_id", "subspace")
      .agg(min(struct(col("d"), col("code"), col("sl"))).as("m"))
      .select(col("subspace"), col("m.code").as("code"), col("m.sl").as("sl"))
    val cpos = casg
      .select(col("subspace"), col("code"),
        posexplode(col("sl")).as(Seq("pos", "x")))
      .groupBy("subspace", "code", "pos")
      .agg(sum(col("x")).as("sv"), count(lit(1)).as("cnt"))
      .withColumn("m", expr("sv div cnt"))
    val cbt0 = cpos.groupBy("subspace", "code")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("cwt"))
    graft.Checkpoints.materialize(
      cb0s.join(cbt0, Seq("subspace", "code"), "left")
        .withColumn("cw", coalesce(col("cwt"), col("cw")))
        .select("subspace", "code", "cw"))
  }

  /** Code `resCodeSub` against the codebook: per-(copy, subspace)
    * argmin, ties to the smaller code. */
  private def codeAgainst(resCodeSub: DataFrame, cbt: DataFrame): DataFrame = {
    val qd = graft.functions.VecMath.qdot _
    val cb = cbt.withColumn("cn2", qd(col("cw"), col("cw")))
    resCodeSub.join(broadcast(cb), "subspace")
      .withColumn("d",
        col("sn") + col("cn2") - lit(2L) * qd(col("sl"), col("cw")))
      .groupBy("vec_id", "centroid_id", "qn", "subspace")
      .agg(min(struct(col("d"), col("code"))).as("m"))
      .select(col("vec_id"), col("centroid_id"), col("qn"),
        col("subspace"), col("m.code").as("code"))
  }

  private def writeTables(codes: DataFrame, cbt: DataFrame, dir: String,
      tmp: File): Unit = {
    Codes.write(codes, dir, Embeddings, tmp)()
    Codebook.write(cbt, dir, Embeddings, tmp)()
  }

  /** Full build: train on `trainBase`, code `codeBase`. The two
    * coincide for the plain per-snapshot index; the frozen-codebook
    * rebuild the incremental spec compares against passes
    * (archive, full). */
  private[operators] def buildInto(trainBase: DataFrame, codeBase: DataFrame,
      cents: DataFrame, replication: Int, dir: String, tmp: File): Unit = {
    val resCodeSub = subspaced(residuals(codeBase, cents, replication))
    val resTrainSub =
      if (trainBase eq codeBase) resCodeSub
      else subspaced(residuals(trainBase, cents, replication))
    val cbt = trainCodebook(trainBase, cents, resTrainSub)
    writeTables(codeAgainst(resCodeSub, cbt), cbt, dir, tmp)
  }

  /** Resolve (codes, codebook) for `dir`'s embeddings under the given
    * trained centroids — from disk when the corpus-fingerprinted
    * artifact exists, building and publishing it otherwise. `base`
    * must carry (vec_id, qv, qn). */
  def persistedIndex(base: DataFrame, dir: String, cents: DataFrame,
      nCentroids: Int, rounds: Int, replication: Int)
      : (DataFrame, DataFrame) = {
    val spark = base.sparkSession
    val dest = LayoutCatalog.resolve(Kind, dir, Embeddings,
      params(nCentroids, rounds, replication))(
      buildInto(base, base, cents, replication, dir, _))
    (Codes.read(spark, dest), Codebook.read(spark, dest))
  }

  /** The LSM vector index of `split` — the production append path:
    * the archive (vectors matching `split.archPred`) owns the TRAINED
    * state — spherical centroids ([[Ivf.persistedCentroidsCosine]]
    * under the archive's base name) and the residual codebook — both
    * trained once per archive snapshot and FROZEN (retraining per
    * append would re-code the world). Each delta codes against those
    * frozen tables (per-vector assignment + argmin — independent of
    * every other vector) into its OWN code-segment artifact: append
    * compute is O(delta · (k + 16·8)) integer kernels and append I/O
    * is O(delta) code rows — the archive's codes are never rewritten.
    * Resolution, naming and the fold rung are
    * [[LayoutCatalog.resolveSplit]]'s; the fold merges the archive and
    * the oldest segments' codes into one artifact BYTE-identical to a
    * frozen-codebook rebuild over the same vectors. The returned view
    * unions the live codes — row-identical to a frozen-codebook
    * rebuild over the full corpus (LayoutCatalogSpec pins both).
    * Returns (codes view, codebook, centroids) — everything a search
    * consumer (q289) needs. */
  def splitIndex(base: DataFrame, dir: String, split: LayoutCatalog.Split,
      nCentroids: Int, rounds: Int, replication: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = base.sparkSession
    val cents = Ivf.persistedCentroidsCosine(base.filter(split.archPred), dir,
      "vec_id", "qv", nCentroids, rounds, variant = split.archive(""))
    val (arch, live) = LayoutCatalog.resolveSplit(Kind, dir, Embeddings,
      split, "", params(nCentroids, rounds, replication))(
      archive = p => {
        val baseArch = base.filter(p)
        buildInto(baseArch, baseArch, cents, replication, dir, _)
      },
      segment = (archDir, p) => Codes.write(codeAgainst(
        subspaced(residuals(base.filter(p), cents, replication)),
        Codebook.read(spark, archDir)), dir, Embeddings, _)(),
      fold = Some(parts => writeTables(
        parts.map(Codes.read(spark, _)).reduce(_ unionByName _),
        Codebook.read(spark, parts.head), dir, _)))
    (live.map(Codes.read(spark, _)).reduce(_ unionByName _),
      Codebook.read(spark, arch), cents)
  }

  /** Publish ONE code-segment artifact from an EXPLICIT vector row
    * set — the streaming ingest's entry point
    * ([[graft.streaming.StreamOps.pqSegmentIngest]], the vector twin
    * of [[TextIndex.publishSegmentRows]]): a micro-batch of arriving
    * (vec_id, qv, qn) rows codes against the FROZEN archive-trained
    * centroids + codebook through the identical assignment → residual
    * → argmin → deterministic ordered write as a
    * predicate-defined segment — same bytes for the same row set —
    * keyed by a caller-supplied CONTENT KEY of the batch (checkpoint
    * replays re-derive the key, so the publish is idempotent; a
    * different row set can never silently reuse an artifact). Returns
    * the published codes directory. */
  def publishCodeSegmentRows(base: DataFrame, dir: String, cents: DataFrame,
      cbt: DataFrame, nCentroids: Int, rounds: Int, replication: Int,
      tag: String, i: Int, key: String): File = {
    val dest = LayoutCatalog.resolve(Kind, dir, Embeddings,
      s"_${LayoutCatalog.segmentName(tag, "", i, key)}" +
        params(nCentroids, rounds, replication))(
      Codes.write(codeAgainst(
        subspaced(residuals(base, cents, replication)), cbt), dir, Embeddings, _)())
    new File(dest, Codes.leaf)
  }

  /** Per-copy PQ reconstruction error of an index: for each
    * (vec_id, centroid_id) copy, err = Σ_sub ||residual_sub −
    * codeword[code]||² — the exact integer quantity the code argmin
    * minimized, re-derived from the original vectors so it measures
    * what the index actually LOST (q287's audit arithmetic, shared).
    * Returns (vec_id, centroid_id, err). */
  def reconErrs(base: DataFrame, codes: DataFrame, cbt: DataFrame,
      cents: DataFrame): DataFrame = {
    val qd = graft.functions.VecMath.qdot _
    codes
      .join(base.select(col("vec_id"), col("qv")), "vec_id")
      .join(broadcast(cents.select(col("centroid_id"), col("cv"))),
        "centroid_id")
      .join(broadcast(cbt), Seq("subspace", "code"))
      .withColumn("sl", expr(
        "slice(zip_with(qv, cv, (x, y) -> x - y), " +
          "cast(subspace * 8 + 1 as int), 8)"))
      .withColumn("d", qd(col("sl"), col("sl")) + qd(col("cw"), col("cw"))
        - lit(2L) * qd(col("sl"), col("cw")))
      .groupBy("vec_id", "centroid_id")
      .agg(sum(col("d")).as("err"))
  }

  /** DRIFT statistic of a frozen-codebook incremental index: the
    * delta's mean per-copy reconstruction error relative to the
    * archive's, in permille (1000·deltaMean div archMean — exact
    * integer). ≈1000 when the delta is distributed like the archive;
    * grows as the delta drifts away from the frozen centroids /
    * codebook (they were trained on the archive only, so drift shows
    * up as reconstruction loss BEFORE it shows up as degraded
    * recall). Returns (archMean, deltaMean, driftPermille). */
  def driftStats(base: DataFrame, codes: DataFrame, cbt: DataFrame,
      cents: DataFrame, deltaPred: Column): (Long, Long, Long) = {
    val errs = reconErrs(base, codes, cbt, cents)
    // coalesce: an empty index must yield the zero row, not NULL sums
    // (sum over zero rows is NULL and getLong would throw)
    val row = errs.agg(
      coalesce(sum(when(!deltaPred, 1L).otherwise(0L)), lit(0L)).as("n_arch"),
      coalesce(sum(when(!deltaPred, col("err")).otherwise(0L)), lit(0L)).as("t_arch"),
      coalesce(sum(when(deltaPred, 1L).otherwise(0L)), lit(0L)).as("n_delta"),
      coalesce(sum(when(deltaPred, col("err")).otherwise(0L)), lit(0L)).as("t_delta")).head()
    val archMean = if (row.getLong(0) == 0) 0L else row.getLong(1) / row.getLong(0)
    val deltaMean = if (row.getLong(2) == 0) 0L else row.getLong(3) / row.getLong(2)
    // archMean = 0 with a NONZERO delta error is infinite drift, not
    // "no drift": a perfectly-reconstructing (or empty) archive must
    // never mask a drifted delta from the retrain gate. 1_000_000‰ is
    // the saturating sentinel both q291's engines encode.
    val drift =
      if (archMean == 0) { if (deltaMean == 0) 1000L else 1000000L }
      else 1000L * deltaMean / archMean
    (archMean, deltaMean, drift)
  }

  /** Drift-GATED ingest — the retrain policy the frozen-codebook
    * append path needs to be honest at production timescales: serve
    * the O(delta) frozen-training LSM view while the delta's mean
    * reconstruction error stays within `maxDriftPermille` of the
    * archive's; when the delta distribution has drifted past it, the
    * snapshot RETRAINS — centroids and codebook train on the FULL
    * corpus and everything re-codes (the plain per-snapshot artifact,
    * durable like every other build) instead of coding new data
    * against stale centroids forever. The gate statistic is one
    * integer aggregate over the already-built segment view (an
    * ingest-time decision, like AQE's runtime stats — not query-path
    * work). Returns (codes, codebook, centroids, retrained). */
  def driftGatedIndex(base: DataFrame, dir: String,
      split: LayoutCatalog.Split, nCentroids: Int, rounds: Int,
      replication: Int, maxDriftPermille: Long = 1500L)
      : (DataFrame, DataFrame, DataFrame, Boolean) = {
    val (codes, cbt, cents) = splitIndex(base, dir, split, nCentroids,
      rounds, replication)
    val (_, _, drift) = driftStats(base, codes, cbt, cents,
      split.deltaPreds.reduce(_ || _))
    if (drift <= maxDriftPermille) (codes, cbt, cents, false)
    else {
      // retrain == the plain per-snapshot build over the full corpus
      // (train on everything, code everything) — the same durable
      // artifact the non-incremental search (q286) reads, so a
      // retrained snapshot and a from-scratch snapshot are one artifact
      val cents2 = Ivf.persistedCentroidsCosine(base, dir, "vec_id", "qv",
        nCentroids, rounds)
      val (c2, cb2) = persistedIndex(base, dir, cents2, nCentroids, rounds,
        replication)
      (c2, cb2, cents2, true)
    }
  }
}
