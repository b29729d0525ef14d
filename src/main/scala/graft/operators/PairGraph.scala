package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Durable EXACT near-dup pair graph — q299's prefix-filtered
  * Jaccard-0.7 self-join published as a corpus-keyed
  * [[LayoutCatalog]] artifact, so the tokenize → gram → prefix-join →
  * verify derivation is paid ONCE per corpus snapshot instead of once
  * per consumer.
  *
  * Before round 14, q299 (the pair list), q307 (dedup groups = CC
  * over the pairs) and q310 (canonical exemplars) would each re-run
  * the whole derivation — q307's bench cost was dominated by
  * re-paying q299. This is the same pay-at-ingest contract as
  * [[EdgeLayout]] and [[TextIndex]]: the pair graph is exactly the
  * kind of artifact a production dedup pipeline materializes (it IS
  * the dedup decision input), every consumer reads the published
  * parquet, and a changed corpus snapshot fingerprints to a new
  * directory — never a silent stale read.
  *
  * Artifact: `pairs07_v3/<corpus>_<fp>/pairs` — all pairs with
  * word-5-gram Jaccard ≥ 0.7 as (doc_a < doc_b, sza, szb, n_common),
  * the integer-exact frame both q299's ratio projection and q307's
  * components derive from. Pair-count-sized (O(n) in corpus size
  * times dup-family density — the bounded quantity the prefix filter
  * exists to keep join-shaped), a spread [[LayoutCatalog.Table]]:
  * hash-distributed on doc_a into the documents table's width (one
  * file at every fixture scale), each file sorted by (doc_a, doc_b).
  *
  * Derivation semantics are UNCHANGED from q299 (scaladoc there;
  * BlockingSpec pins ≡ brute force): docs under 5 tokens drop before
  * sequence, grams are md5-relabeled distinct word-5-grams, prefix =
  * first sz − ⌈0.7·sz⌉ + 1 grams under global (df ASC, g ASC) order,
  * candidates add both length filters, verify is candidate-bounded
  * with the codegen'd sorted-intersect kernel, threshold in integers
  * (17c ≥ 7(sza+szb)). The oracle side of every consumer keeps
  * verifying all-pairs from raw parquet — the artifact is a layout,
  * never a semantic.
  */
object PairGraph {

  /** Bump when the BUILD semantics change, so an upgraded engine
    * never misreads an old artifact as current (v2: file count sized
    * to the documents table instead of a fixed 32; v3: each file
    * sorted by (doc_a, doc_b)). */
  val LayoutVersion = 3

  private val Docs = Seq("documents")

  /** The distinct md5-relabeled word 5-grams of the token array column
    * `tk` (Spark). Callers drop rows under 5 tokens first: Spark
    * `sequence` descends on shorter rows. */
  def word5Grams: Column = expr(
    "array_distinct(transform(sequence(1, size(tk) - 4), " +
      "i -> md5(concat_ws(' ', slice(tk, i, 5)))))")

  /** [[word5Grams]], DuckDB side (`range`'s upper bound is exclusive). */
  val word5GramsSql =
    "list_distinct(list_transform(range(1, len(tk) - 3), " +
      "i -> md5(array_to_string(list_slice(tk, i, i + 4), ' '))))"

  /** All document pairs with word-5-gram Jaccard ≥ 0.7:
    * `(doc_a, doc_b, sza, szb, n_common)` with doc_a < doc_b —
    * resolved from the published artifact, building it first if this
    * corpus snapshot has none. */
  def qualifyingPairs(s: SparkSession, dir: String): DataFrame =
    Pairs.read(s, LayoutCatalog.resolve(s"pairs07_v$LayoutVersion", dir,
      Docs, "")(Pairs.write(derive(s, dir), dir, Docs, _)()))

  /** The artifact's one table, spread on doc_a. */
  private val Pairs = LayoutCatalog.Table("pairs",
    "doc_a BIGINT, doc_b BIGINT, sza BIGINT, szb BIGINT, n_common BIGINT",
    Seq("doc_a", "doc_b"), LayoutCatalog.Spread)

  /** Jaccard-0.7 prefix filter on a doc's gram of rank `rn` (1-based)
    * among its `sz`: the first sz − ⌈0.7·sz⌉ + 1, ⌈7·sz/10⌉ being
    * (7·sz + 9) div 10. */
  def inPrefix: Column = col("rn") <= col("sz") - expr("(7 * sz + 9) div 10") + 1

  /** Both Jaccard-0.7 length filters on gram counts `a`, `b`. */
  def lengthsCompatible(a: Column, b: Column): Column =
    lit(10) * b >= lit(7) * a && lit(10) * a >= lit(7) * b

  /** Jaccard ≥ 0.7 in integers for `c` common grams of `a` and `b`:
    * c / (a + b − c) ≥ 0.7 ⇔ 17c ≥ 7(a + b). */
  def qualifies(c: Column, a: Column, b: Column): Column =
    lit(17) * c >= lit(7) * (a + b)

  /** CAPPED-OUTPUT exact dedup: canonical exemplar per document,
    * computed by streaming the qualifying-pair derivation straight
    * into a per-doc aggregate — `(doc_id, exemplar, n_partners)` for
    * every doc in ≥ 1 qualifying pair, where exemplar = MIN over
    * {self} ∪ partners and n_partners counts qualifying partners.
    *
    * This is the 100 TB-honest variant of q299: the full pair list is
    * quadratic in dup-family density (a 1000-doc family is 500 k
    * pairs — measured 2.67 B pairs at the 25× rung for the banded
    * family), and a deployment that only needs keep/drop decisions
    * should never MATERIALIZE it. Here the verified pair stream feeds
    * directly into groupBy(doc).min/count — Spark's partial
    * aggregation collapses pairs map-side, so the pair set exists
    * only as an in-flight iterator: the post-verify shuffle and the
    * output are both O(docs), never O(pairs). (Deliberately NOT read
    * from the pairs07 artifact: that artifact IS the quadratic
    * materialization this variant exists to avoid.)
    *
    * Exemplar is the DIRECT-neighbor minimum — the per-doc capped
    * contract; q307 gives the transitive grouping when chains matter. */
  def exemplars(s: SparkSession, dir: String): DataFrame = {
    // both directions via ONE explode over the single verified pair
    // stream — a self-union of two projections would re-execute the
    // whole derivation per branch (measured 2× at the 25× rung)
    val directed = derive(s, dir).select(explode(array(
        struct(col("doc_a").as("d"), col("doc_b").as("p")),
        struct(col("doc_b").as("d"), col("doc_a").as("p")))).as("e"))
      .select(col("e.d").as("d"), col("e.p").as("p"))
    directed.groupBy("d")
      .agg(min(col("p")).as("mn"), count(lit(1)).as("n_partners"))
      .select(col("d").as("doc_id"),
        least(col("d"), col("mn")).as("exemplar"), col("n_partners"))
  }

  /** The from-scratch derivation (q299's original body). ONE
    * materialized doc-array table serves every downstream reference:
    * the exploded gram stream derives from it (df aggregate + prefix
    * ranking re-explode cached blocks, not the tokenize+md5 chain),
    * and the verify step never touches the gram-row space — it joins
    * the CANDIDATE-sized pair frame to the doc-count-sized table
    * twice and counts intersections with one linear merge per pair
    * (codegen'd sorted_intersect_count_str). */
  private def derive(s: SparkSession, dir: String): DataFrame = {
    val docsArr = gramArrays(s, dir)
    val g = docsArr.select(col("doc_id"), col("sz"), explode(col("grams")).as("g"))
    val dfq = g.groupBy("g").agg(count(lit(1)).as("df"))
    val prefix = g.join(dfq, "g")
      .withColumn("rn", row_number().over(  // prefix under (df, g) order
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .filter(inPrefix)
      .select(col("doc_id"), col("sz"), col("g"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("b.doc_id") > col("a.doc_id") &&
          lengthsCompatible(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .distinct()
    cand
      .join(docsArr.select(col("doc_id").as("doc_a"), col("grams").as("ga")),
        "doc_a")
      .join(docsArr.select(col("doc_id").as("doc_b"), col("grams").as("gb")),
        "doc_b")
      .withColumn("n_common",
        graft.functions.Jaccard.sortedIntersectCountStr(col("ga"), col("gb")))
      .filter(qualifies(col("n_common"), col("sza"), col("szb")))
      .select("doc_a", "doc_b", "sza", "szb", "n_common")
  }

  /** The materialized doc-array table of every document with 5 or more
    * tokens: `(doc_id, sz, grams)`, grams its [[word5Grams]] sorted,
    * sz their count. Shared by [[derive]] and q302's batch×archive
    * join. */
  private[graft] def gramArrays(s: SparkSession, dir: String): DataFrame = {
    // spread the tokenize+md5 kernel input (the q192 single-file-scan
    // cliff): documents is one parquet file, so without this the
    // whole gram kernel strands on ONE task while every other core
    // idles — measured 1.79 → 1.42 s steady on the q310 shape at
    // sf0.1 (OPTIMIZATION_r15), and the same pass is the head of every
    // pairs07 ingest build
    val sh = graft.Tables.spreadKernelInput(s, dir, Seq("documents"),
        graft.Tables.load(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id"), word5Grams.as("grams"))
      .withColumn("sz", size(col("grams")).cast("long"))
    graft.Checkpoints.materialize(
      sh.select(col("doc_id"), col("sz"), sort_array(col("grams")).as("grams")))
  }
}
