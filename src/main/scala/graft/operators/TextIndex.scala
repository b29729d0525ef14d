package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable bucketed lexical index of the documents corpus — the third
  * [[LayoutCatalog]] artifact beside the bucketed edge corpus
  * ([[EdgeLayout]]) and the persisted IVF centroids: the tokenize +
  * explode + (doc, gram) aggregation every term-keyed text query
  * re-ran per execution is paid ONCE at ingest and every consumer
  * reads the aggregated postings exchange-free on the gram key.
  *
  * Two tables per artifact, one derivation:
  *
  *   - `postings` — (doc_id, g, tf) bigram term frequencies,
  *     CLUSTERED BY g INTO B BUCKETS (B the documents table's bucket
  *     count, 4 at every fixture scale): document
  *     frequency (`groupBy(g)`), idf weighting joins, and the posting-list
  *     SELF-join that generates sparse-cosine candidate pairs
  *     (q76's `wts a ⋈ wts b ON a.g = b.g`) all run on the bucket
  *     partitioning with ZERO exchange on the postings side.
  *   - `doclen` — (doc_id, dl) total bigram count per document: the
  *     doc-count-sized table the corpus-stats scalar aggregate (N
  *     docs, T total grams) reads. NEVER broadcast whole — since v3
  *     the per-posting `dl` consumers need is denormalized into the
  *     postings rows, so BM25's length normalization is a column
  *     read, not a join.
  *
  * The bigram definition is character-identical to the inline form
  * the oracles replay (split on single space, adjacent-token concat,
  * docs with < 2 tokens contribute nothing — the `sequence(1, 0)`
  * guard), so consuming the artifact cannot change any query's
  * result: it is a LAYOUT of the same rows, which is what the DuckDB
  * oracles continue to verify value-for-value.
  *
  * V2 — DETERMINISTIC BYTES. Every file the artifact writes is
  * TOTALLY ORDERED (bucket files by (g, doc_id) — unique per row
  * after the tf aggregate; doclen by doc_id in one file), so the
  * artifact's bytes are a pure function of its row set, independent
  * of build provenance.
  *
  * V3 — LSM SEGMENTS + DENORMALIZED dl. At 100 TB ingest is
  * append-only: a daily delta of new documents lands beside an
  * already-indexed archive, and re-paying the corpus per append —
  * either its tokenize (compute) or its bytes (the v2 merged-write)
  * — defeats the pay-once posture. [[splitParts]] /
  * [[splitPostings]] therefore publish each delta of a
  * [[LayoutCatalog.Split]] as its OWN bucketed segment artifact
  * (tokenize the delta, write the delta — O(delta) compute AND I/O)
  * and serve reads as a union view over archive + segments; doc_ids
  * are disjoint across append boundaries, so no (doc, gram) group
  * straddles a segment and the view is row-identical to a
  * from-scratch rebuild. Resolution, naming and the compaction rung
  * are [[LayoutCatalog.resolveSplit]]'s: every [[LayoutCatalog
  * .FoldRung]] segments fold (published read-backs) into one artifact
  * whose bytes are IDENTICAL to a from-scratch build over the same
  * documents (total file order ⇒ bytes are a function of the row set
  * — LayoutCatalogSpec pins per-bucket MD5 equality). The positional
  * family ([[positionalSplit]]) resolves through the same skeleton
  * without a fold.
  * v3 also denormalizes `dl` into the postings rows, deleting the
  * doclen join (previously an unbounded broadcast) from every
  * BM25-family consumer.
  *
  * Trigram phrase postings (q159) deliberately stay inline: one
  * consumer does not earn a 1.5×-the-corpus-tokens artifact; add a
  * `phrases` table here if a second phrase consumer appears.
  */
object TextIndex {

  /** Bump when the BUILD semantics change (tokenization, gram order,
    * bucket count, file ordering), so an upgraded engine never
    * misreads an old artifact as current. v2: totally-ordered files
    * (sortBy(g, doc_id); doclen sorted by doc_id). v3: `dl` (the
    * document's total bigram count) DENORMALIZED into every postings
    * row — dl is constant per document, so carrying it beside tf
    * costs one BIGINT column at build time and deletes the
    * doc-count-sized `dl` join from every BM25-family consumer
    * (which previously BROADCAST doclen — a guaranteed OOM at 100 TB
    * where doclen is one row per document). v4: bucket count sized to
    * the documents table ([[LayoutCatalog.buckets]]) instead of a
    * fixed 32. */
  val LayoutVersion = 4

  /** The shared derivation: adjacent-token bigrams of every document,
    * exactly as the inline consumers built them (q76/q90's
    * expression, including the size ≥ 2 guard against Spark's
    * descending `sequence(1, 0)` on single-token docs). */
  private def bigrams(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 1), " +
          "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))")).as("g"))

  /** (doc_id, g, tf) aggregate of `docs` — the rows the artifact
    * stores. */
  private def tfOf(docs: DataFrame): DataFrame =
    bigrams(docs).groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))

  /** Spread the tokenize kernel's input across the executor before
    * the per-doc map: a single-file corpus scans as ONE task (parquet
    * splits at row-group granularity), stranding the linear-dominant
    * tokenize on one core. The repartition moves only raw
    * (doc_id, text) bytes and its count scales with the input; the
    * artifact's bytes are unaffected (writeInto's final
    * repartition + total file order make output bytes a pure function
    * of the row set). */
  private def spread(s: SparkSession, dir: String, docs: DataFrame): DataFrame =
    docs.repartition(
      graft.Tables.scaledPartitions(s, dir, Seq("documents")), col("doc_id"))

  /** Attach the denormalized `dl` column (the document's total bigram
    * count = Σ tf over its grams) to a (doc_id, g, tf) frame: one
    * doc-keyed window pass — a single exchange at BUILD time that
    * deletes the doclen join from every query. A document lives
    * wholly on one side of any append boundary, so dl computed within
    * a delta segment equals dl computed over the full corpus. */
  private def withDl(postings: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    postings.withColumn("dl", sum(col("tf")).over(w))
  }

  /** The bigram artifact's tables. DETERMINISTIC BYTES: postings
    * bucket files are sorted by (g, doc_id) — a total order, since
    * (doc_id, g) is unique after the tf aggregate — and doclen is one
    * file sorted by doc_id, so the output bytes depend only on the row
    * SET, not on which path (from-scratch, segment, or compaction
    * merge) produced it. tf and dl are pinned non-nullable: the fresh
    * aggregate and the fold's read-back write one parquet schema. */
  private val Postings = LayoutCatalog.Table("postings",
    "doc_id BIGINT, g STRING, tf BIGINT NOT NULL, dl BIGINT NOT NULL",
    Seq("g", "doc_id"), LayoutCatalog.Bucketed)
  private val Doclen = LayoutCatalog.Table("doclen", "doc_id BIGINT, dl BIGINT",
    Seq("doc_id"), LayoutCatalog.Single)

  /** Write `postings` (doc_id, g, tf, dl) into `tmp` as the
    * artifact's two tables. */
  private def writeInto(postings: DataFrame, dir: String, tmp: File): Unit =
    Postings.write(postings, dir, Docs, tmp) { written =>
      // doc lengths from the postings read-back (a bucketed scan, not
      // a re-tokenize); doc-count-sized — the corpus-stats (N, T)
      // aggregate input
      Doclen.write(written.groupBy("doc_id").agg(sum(col("tf")).as("dl")),
        dir, Docs, tmp)()
    }

  private val Kind = s"lexical_v$LayoutVersion"

  private val Docs = Seq("documents")

  /** Build of the artifact of `docs` (by-name: a warm resolve never
    * touches the corpus): tokenize the input-spread documents, write. */
  private def buildDocs(s: SparkSession, dir: String, docs: => DataFrame)(
      tmp: File): Unit =
    writeInto(withDl(tfOf(spread(s, dir, docs))), dir, tmp)

  private def ensureFull(s: SparkSession, dir: String): File =
    LayoutCatalog.resolve(Kind, dir, Docs, "")(
      buildDocs(s, dir, graft.Tables.load(s, dir, "documents")))

  /** (doc_id, g, tf) bigram postings, bucketed by g — exchange-free
    * input for g-keyed aggregates, idf joins, and posting-list
    * self-joins. */
  def bigramPostings(s: SparkSession, dir: String): DataFrame =
    Postings.read(s, ensureFull(s, dir))

  /** (doc_id, dl) total bigram count per document — doc-count-sized;
    * consumers broadcast it. */
  def docLengths(s: SparkSession, dir: String): DataFrame =
    Doclen.read(s, ensureFull(s, dir))

  /** The LIVE artifacts of LSM `split` in union order, each as
    * (postings, doclens): the archive's and every segment's, or — past
    * the fold rung — the compacted fold's and the tail segments'. Each
    * delta publishes its OWN segment artifact (tokenize the delta,
    * write the delta — append compute AND I/O are O(delta)); doc_ids
    * are disjoint across append boundaries, so no (doc, gram) group
    * straddles a part and the union is row-identical to a
    * from-scratch rebuild (LayoutCatalogSpec pins the rows, and the
    * fold's per-bucket bytes). The fold merges published read-backs —
    * zero re-tokenization. Index-monitoring consumers read parts on
    * their own (q290: a one-delta split's segment df IS the df rise
    * the append contributed), and a split with no deltas is its
    * archive alone (the seed of [[graft.streaming.StreamOps
    * .incrementalBm25]]). */
  def splitParts(s: SparkSession, dir: String, split: LayoutCatalog.Split)
      : Seq[(DataFrame, DataFrame)] = {
    def docs(p: Column) = graft.Tables.load(s, dir, "documents").filter(p)
    val (_, live) = LayoutCatalog.resolveSplit(Kind, dir, Docs, split, "", "")(
      archive = p => buildDocs(s, dir, docs(p)),
      segment = (_, p) => buildDocs(s, dir, docs(p)),
      fold = Some(parts => writeInto(
        parts.map(Postings.read(s, _)).reduce(_ unionByName _), dir, _)))
    live.map(d => (Postings.read(s, d), Doclen.read(s, d)))
  }

  /** The LSM view of `split`: (postings, doclens) unioned over
    * [[splitParts]]. */
  def splitPostings(s: SparkSession, dir: String, split: LayoutCatalog.Split)
      : (DataFrame, DataFrame) = {
    val parts = splitParts(s, dir, split)
    (parts.map(_._1).reduce(_ unionByName _),
      parts.map(_._2).reduce(_ unionByName _))
  }

  /** Publish ONE LSM segment artifact from an EXPLICIT row set — the
    * streaming ingest's entry point ([[graft.streaming.StreamOps
    * .lsmSegmentIngest]]): a micro-batch of arriving (doc_id, text)
    * rows IS its own delta, so it goes through the identical
    * tokenize → tf → dl → deterministic bucketed write as a
    * predicate-defined segment — same bytes for the same row set —
    * but named by a caller-supplied CONTENT KEY of the batch
    * ([[LayoutCatalog.segmentName]]; checkpointed micro-batch replays
    * re-derive the same key and land on the published artifact — the
    * publish is idempotent). Returns the registered bucketed postings
    * table name and the doclen file. */
  def publishSegmentRows(s: SparkSession, dir: String, docs: DataFrame,
      tag: String, i: Int, key: String): (String, File) = {
    val dest = LayoutCatalog.resolve(Kind, dir, Docs,
      s"_${LayoutCatalog.segmentName(tag, "", i, key)}")(
      writeInto(withDl(tfOf(docs)), dir, _))
    (Postings.register(s, dest), new File(dest, Doclen.leaf))
  }

  // -----------------------------------------------------------------
  // POSITIONAL postings (round 14): (doc_id, tok, pos) — the
  // phrase/proximity probe-side schema (q303/q304) as its own
  // LSM'able artifact family, bucketed by tok so term-selected
  // posting probes and the n-way (doc_id, pos+offset) joins read
  // exchange-free on the term key. Same append-only contract as the
  // bigram family: each delta (or streamed micro-batch) publishes its
  // own O(delta) segment; positions are DOCUMENT-LOCAL, so a doc's
  // rows live wholly inside one segment and archive ∪ segments is
  // row-identical to a from-scratch build. Compaction deliberately
  // not implemented until a consumer needs it — the skeleton's fold
  // would take a positional builder the way it takes the bigram one.

  /** Bump when the positional BUILD semantics change (v2: bucket
    * count sized to the documents table). */
  val PositionalLayoutVersion = 2

  private val PosKind = s"positional_v$PositionalLayoutVersion"

  /** The shared positional derivation — exactly q303/q304's inline
    * form: split on single space, 1-based positions, every doc (no
    * length guard: a 1-token doc contributes its single position). */
  private def positionalOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("col").as("tok"),
        (col("pos") + 1).cast("long").as("pos"))

  /** The phrase a positional probe looks up: the dominant word
    * trigram of `docs(text)` under (count DESC, trigram ASC), as one
    * row `(w1, w2, w3)` — q303, q312 and the streaming phrase matcher.
    * The global top-1 is a sort+limit, NOT a window: it plans as
    * TakeOrderedAndProject — per-partition top-1 then a 1-row driver
    * merge, never a single-partition vocabulary sort. */
  def dominantTrigram(docs: DataFrame): DataFrame = {
    val tri = docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 2), " +
          "i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1]))")).as("g"))
    tri.groupBy("g").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("g")).limit(1)
      .select(element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"),
        element_at(split(col("g"), " "), 3).as("w3"))
  }

  /** The positional artifact's one table: (doc_id, tok, pos), one
    * file per bucket, rows totally ordered by (tok, doc_id, pos) —
    * bytes a pure function of the row set, like the bigram tables. */
  private val PosPostings = LayoutCatalog.Table("pospostings",
    "doc_id BIGINT, tok STRING, pos BIGINT NOT NULL", Seq("tok", "doc_id", "pos"),
    LayoutCatalog.Bucketed)

  /** Build of one positional artifact of `docs` (by-name, as in
    * [[buildDocs]]). */
  private def buildPositional(dir: String, docs: => DataFrame)(
      tmp: File): Unit =
    PosPostings.write(positionalOf(docs), dir, Docs, tmp)()

  /** Publish ONE positional LSM segment from an EXPLICIT row set —
    * the streaming ingest entry point ([[graft.streaming.StreamOps
    * .positionalSegmentIngest]]), named by a caller-supplied content
    * key of the micro-batch so checkpointed replays land on the
    * published artifact (idempotent). Returns the registered bucketed
    * table name. */
  def publishPositionalSegmentRows(s: SparkSession, dir: String,
      docs: DataFrame, tag: String, i: Int, key: String): String =
    PosPostings.register(s, LayoutCatalog.resolve(PosKind, dir, Docs,
      s"_${LayoutCatalog.segmentName(tag, "p", i, key)}")(
      buildPositional(dir, docs)))

  /** Positional LSM view of `split`: archive ∪ one segment per delta,
    * no fold. Row-identical to deriving positions from the full
    * corpus — positions are document-local and doc_ids are disjoint
    * across the append boundary. A split with no deltas reads the
    * archive alone. */
  def positionalSplit(s: SparkSession, dir: String,
      split: LayoutCatalog.Split): DataFrame = {
    def docs(p: Column) =
      spread(s, dir, graft.Tables.load(s, dir, "documents").filter(p))
    val (_, live) = LayoutCatalog.resolveSplit(PosKind, dir, Docs, split,
      "p", "")(
      archive = p => buildPositional(dir, docs(p)),
      segment = (_, p) => buildPositional(dir, docs(p)),
      fold = None)
    live.map(PosPostings.read(s, _)).reduce(_ unionByName _)
  }
}
