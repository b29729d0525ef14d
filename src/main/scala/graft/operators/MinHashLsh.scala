package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized b-bands × r-rows MinHash LSH banding over text — the
  * document-side twin of [[Lsh]] (which bands embedding vectors by
  * sign-random-projection). Built on the seeded k-hash `minhash_k`
  * expression (graft.functions.MinHashK): band j's key is the
  * concatenation of the per-seed minima of seeds j*r .. j*r+r-1, so a
  * config is just (bands, rowsPerBand) and callers can never mis-pair
  * band/row indices by hand.
  *
  * Scale design: a document lands in `bands` buckets; near-dup
  * candidates form ONLY within a (band, band_key) group — the shuffle
  * key is (band, band_key), a plain hash-partitioned groupBy/join at
  * any scale, never a cross join. Growing rowsPerBand shrinks buckets
  * (precision: a bucket requires r simultaneous minima matches);
  * growing bands recovers recall (union of band candidates). Band j of
  * Config(b, r) equals band j of any config with the same r — adding
  * bands only ADDS candidates (monotone recall, mirroring Lsh.Config).
  *
  * Determinism: each per-seed minimum is the first 8 hex chars of
  * md5("<seed>:" || shingle) minimized over the distinct 3-gram
  * shingles — replayed exactly in DuckDB by
  * `list_min(list_transform(grams, g -> substr(md5('<seed>:' || g),
  * 1, 8)))` per seed; the universal family's replay is
  * [[universalMinSql]]. Every oracle builds its signatures and bands
  * through `graft.queries.TextOps.minhashSql` / `bandedSql`.
  */
object MinHashLsh {

  /** b bands × r rows per band over k = b*r independent seeded hashes.
    * `universal = true` swaps the per-seed md5 family for the
    * Carter–Wegman universal family (`minhash_fast`, array<bigint>) —
    * identical banding semantics, one multiply-add-mod per shingle per
    * seed instead of an md5 digest. The md5 family stays the default
    * (and stays oracle-exercised via q66). */
  final case class Config(bands: Int, rowsPerBand: Int,
      universal: Boolean = false) {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= 128,
      "need 1 <= bands, 1 <= rowsPerBand, bands*rowsPerBand <= 128 (minhash_k cap)")
    def numHashes: Int = bands * rowsPerBand
  }

  /** Band key of band `band`: the r per-seed minima of seeds
    * band*r .. band*r+r-1 joined with '|' (the separator keeps the
    * join collision-free for fixed-width hex and decimal minima
    * alike). */
  private def bandKeyCol(sigCol: Column, band: Int, rowsPerBand: Int): Column =
    concat_ws("|", (0 until rowsPerBand).map(t =>
      element_at(sigCol, band * rowsPerBand + t + 1).cast("string")): _*)

  /** The `cfg.bands` band keys of signature `sigCol`, posexploded into
    * the two columns `band` (0-based int) and `band_key` (string) —
    * for callers that keep the signature itself (q149, q174, q181). */
  def bandKeys(sigCol: Column, cfg: Config): Column =
    posexplode(array((0 until cfg.bands).map(j =>
      bandKeyCol(sigCol, j, cfg.rowsPerBand)): _*)).as(Seq("band", "band_key"))

  /** DuckDB-side replay of one UNIVERSAL-family minimum (the
    * `minhash_fast` math) over the 3-gram hash [[graft.Knuth.gramSql]];
    * seed constants are inlined literals from
    * [[graft.functions.MinHashKernel]]. */
  def universalMinSql(gramsCol: String, seed: Int): String = {
    val a = graft.functions.MinHashKernel.seedA(seed)
    val b = graft.functions.MinHashKernel.seedB(seed)
    val gh = graft.Knuth.gramSql("g")
    s"list_min(list_transform($gramsCol, g -> ($a * ($gh) + $b) % " +
      s"${graft.functions.MinHashKernel.UniversalP}))"
  }

  /** Explodes each row into `cfg.bands` rows with columns `band`
    * (0-based int) and `band_key` (string). The k-hash signature is
    * computed ONCE per input row and the band keys exploded from it —
    * a union-of-selects formulation would re-run the md5 kernel per
    * band (b× the CPU). Rows with no shingles (length(text) < 3 →
    * null signature) are dropped, mirroring the oracle's
    * WHERE length(text) >= 3 guard. */
  def explodeBands(df: DataFrame, textCol: String, cfg: Config): DataFrame =
    df.withColumn("__sig",
        if (cfg.universal)
          graft.functions.MinHash.minhashFast(col(textCol), cfg.numHashes)
        else graft.functions.MinHash.minhashK(col(textCol), cfg.numHashes))
      .filter(col("__sig").isNotNull)
      .select(col("*"), bandKeys(col("__sig"), cfg))
      .drop("__sig")

  /** Near-dup candidate groups: (band, band_key) buckets holding more
    * than one document, with the canonical (minimum-id) survivor. */
  def candidateGroups(banded: DataFrame, idCol: String): DataFrame =
    banded.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))
      .filter(col("n_docs") > 1)

  /** Connected-component cluster ids over the banding graph (documents
    * sharing any (band, band_key) bucket are one cluster) by `rounds`
    * of min-label propagation: each round every bucket computes the
    * minimum member label and every document takes the minimum over
    * its buckets. Two hash shuffles per round — groupBy the bucket
    * key, then by the document — never a pair-explosion: the bucket
    * graph is traversed through its aggregates, so a bucket of b docs
    * costs O(b), not O(b²).
    *
    * `rounds` bounds the propagated component DIAMETER (in bucket
    * hops). With a fixed `rounds` the result is deterministic whether
    * or not labels have converged — production callers loop until a
    * round changes nothing (one count per round); the q66 oracle
    * replays the same fixed number of unrolled rounds. Output:
    * (idCol, cluster_id) for every banded document; cluster_id is the
    * minimum document id reachable within `rounds` hops. */
  def minLabelClusters(banded: DataFrame, idCol: String, rounds: Int,
      persistEdges: Boolean = true): DataFrame = {
    require(rounds >= 1, "need at least one propagation round")
    // The edge list joins into EVERY round twice (bucket-min, then
    // doc-min) — without materialization the upstream banding plan
    // (including its signature kernel) would re-execute ~2·rounds
    // times. Materialize the slim projection EAGERLY: a lazy persist
    // fills only when its first reader finishes, and AQE submits the
    // 2·rounds leaf stages that read it together, so each of them
    // re-ran the documents scan, the spreading exchange and the
    // kernel. Callers whose `banded` is ALREADY materialized
    // (Checkpoints.materialize — a LogicalRDD re-reads stored blocks,
    // nothing recomputes) pass persistEdges = false and skip the
    // second copy.
    val slim = banded.select(col(idCol), col("band"), col("band_key"))
    val edges = if (persistEdges) graft.Checkpoints.materialize(slim) else slim
    val docs = edges.select(col(idCol)).distinct()
      .withColumn("cluster_id", col(idCol))
    // Per round: bucket-min then doc-min, and NOTHING else. The old
    // form closed each round with labels ⋈ docMin + least(prev,
    // prop_min) — provably redundant: every doc is a member of each
    // of its own buckets, so bucket_min ≤ the doc's previous label
    // for every bucket it joins, hence prop_min ≤ prev already and
    // the least() can never pick prev (and no banded doc lacks a
    // bucket, so the left-join null arm was dead too). Dropping it
    // removes one labels-sized shuffle join per round. With the
    // close join gone each round references the previous labels
    // exactly ONCE (the bucket-min join), so the chain is linear —
    // no 2^rounds re-execution to fence — and the per-round
    // materialize barrier goes with it: the whole propagation runs
    // as one jobful of back-to-back keyed exchanges (edges is
    // checkpointed above, so its two references per round read
    // blocks, not the banding kernel).
    (0 until rounds).foldLeft(docs) { (labels, _) =>
      val bucketMin = edges.join(labels, idCol)
        .groupBy(col("band"), col("band_key"))
        .agg(min(col("cluster_id")).as("bucket_min"))
      edges.join(bucketMin, Seq("band", "band_key"))
        .groupBy(col(idCol))
        .agg(min(col("bucket_min")).as("cluster_id"))
    }
  }
}
