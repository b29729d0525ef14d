package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text operators over `documents`: exact dedup, document
  * fingerprinting, n-gram Jaccard near-dup, MinHash signatures + LSH
  * banding, SimHash, token counting, quality scoring and language-ID
  * heuristics.
  *
  * Cross-engine determinism: hashing is md5 (identical lowercase hex in
  * Spark and DuckDB) or explicit integer arithmetic over ASCII codes —
  * never an engine-private hash. Shingling is only applied where
  * length(text) >= 3 (Spark's `sequence` would go descending on a
  * negative span, DuckDB's `range` would return empty).
  *
  * Scale notes: everything here is embarrassingly parallel per document
  * except the candidate joins, which are banded (MinHash buckets) so the
  * shuffle key is the band signature, never a cross join.
  */
object TextOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Resolve (building if absent) the durable artifacts this family's
    * queries consume — called by [[graft.Ingest]] so the bench charges
    * the builds to its timed ingest phase. Parameters mirror the query
    * bodies exactly: the exact near-dup pair graph (q299/q307/q313)
    * and the c10 five-append positional LSM split (q312). */
  def ingestArtifacts(s: SparkSession, dir: String): Unit = {
    graft.operators.PairGraph.qualifyingPairs(s, dir)
    c10Positional(s, dir)
    ()
  }

  /** The c10 positional LSM view (q312). */
  private def c10Positional(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextIndex.positionalSplit(s, dir, Splits.c10("doc_id"))

  /** 3-gram character shingles, distinct, DuckDB side (range upper
    * bound is exclusive).
    * `private[queries]`: q301's pair verifier reuses the fragment. */
  private[queries] val shinglesSql =
    "list_distinct(list_transform(range(1, length(text) - 1), i -> substr(text, CAST(i AS INT), 3)))"

  /** The rows MinHash signs by default: every document with a shingle. */
  private val shingledDocs = "documents WHERE length(text) >= 3"

  /** DuckDB replay of the k-hash MinHash signature over [[shinglesSql]],
    * as WITH-clause entries `sh(doc_id, grams)` over the rows of `from`
    * (a FROM-clause tail) and `mh(doc_id, h0 … h{k−1})`: the universal
    * family's per-seed minima ([[graft.operators.MinHashLsh.universalMinSql]],
    * `minhash_fast`), or the md5 family's first 8 hex chars of
    * md5('<seed>:' || g) (`minhash_k`). */
  private def minhashSql(k: Int, universal: Boolean = true,
      from: String = shingledDocs): String = {
    val hashes = (0 until k).map(j =>
      if (universal)
        s"${graft.operators.MinHashLsh.universalMinSql("grams", j)} AS h$j"
      else
        s"list_min(list_transform(grams, g -> substr(md5('$j:' || g), 1, 8))) AS h$j")
      .mkString(",\n                 ")
    s"""sh AS (
          SELECT doc_id, $shinglesSql AS grams
          FROM $from),
        mh AS (
          SELECT doc_id,
                 $hashes
          FROM sh)"""
  }

  /** [[minhashSql]] over nBands·rowsPerBand hashes plus
    * `banded(doc_id, band, band_key)`: the oracle of
    * [[graft.operators.MinHashLsh.explodeBands]] (band j's key joins
    * the minima of seeds j·r … j·r+r−1 with '|'). `private[queries]`:
    * q181's composed pipeline bands its exact-dedup survivors. */
  private[queries] def bandedSql(nBands: Int, rowsPerBand: Int,
      universal: Boolean = true,
      from: String = shingledDocs): String = {
    val bands = (0 until nBands).map(j =>
      s"SELECT doc_id, $j AS band, " +
        (0 until rowsPerBand).map(t =>
          if (universal) s"CAST(h${j * rowsPerBand + t} AS VARCHAR)"
          else s"h${j * rowsPerBand + t}")
          .mkString(" || '|' || ") +
        " AS band_key FROM mh")
      .mkString("\n          UNION ALL ")
    s"""${minhashSql(nBands * rowsPerBand, universal, from)},
        banded AS (
          $bands)"""
  }

  /** q299's prefix-filtered EXACT Jaccard-0.7 self-join — since round
    * 14 resolved from the durable pair-graph artifact
    * ([[graft.operators.PairGraph]]; derivation unchanged, scaladoc
    * there), so q299, q307 and q310 share one build per corpus
    * snapshot instead of each re-paying the tokenize → prefix-join →
    * verify chain. */
  private def exactJaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.PairGraph.qualifyingPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("sza") + col("szb") - col("n_common"))).as("jaccard"))

  /** q302's prefix-filtered batch×archive qualifying pairs — shared
    * with q314 (the capped per-new-doc exemplar). Returns
    * (new_id, corpus_id, szn, szc, n_common) for every qualifying
    * Jaccard-0.7 pair; derivation unchanged from q302 (scaladoc at
    * the registration site). */
  private def incrementalExactPairs(s: SparkSession, dir: String): DataFrame = {
    // one materialized doc-array table; exploded gram streams derive
    // from it and the verify joins stay candidate×doc-sized (the
    // q299 shape)
    val docsArr = graft.operators.PairGraph.gramArrays(s, dir)
    val g = docsArr.select(col("doc_id"), col("sz"), explode(col("grams")).as("g"))
    val gc = g.filter(col("doc_id") % 10 =!= 0)
    val gn = g.filter(col("doc_id") % 10 === 0)
    // archive-df order: vocabulary-sized, JOINS on g (left: batch-only
    // grams take df 0), never broadcasts. (R15 probe note: a single
    // unified ranking window over both sides measured cost-neutral at
    // sf0.1 but doubles the window work at scale when the unified
    // frame feeds both candidate sides un-materialized — the per-side
    // windows over DISJOINT doc sets are the scale-honest shape.)
    val dfArch = gc.groupBy("g").agg(count(lit(1)).as("df"))
    def prefixOf(side: DataFrame): DataFrame = side
      .join(dfArch, Seq("g"), "left")
      .na.fill(0L, Seq("df"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .filter(graft.operators.PairGraph.inPrefix)
      .select(col("doc_id"), col("sz"), col("g"))
    val cand = prefixOf(gn)
      .select(col("doc_id").as("new_id"), col("sz").as("szn"), col("g"))
      .join(prefixOf(gc)
        .select(col("doc_id").as("corpus_id"), col("sz").as("szc"), col("g")),
        "g")
      .filter(graft.operators.PairGraph.lengthsCompatible(col("szn"), col("szc")))
      .select("new_id", "corpus_id", "szn", "szc")
      .distinct()
    cand
      .join(docsArr.select(col("doc_id").as("new_id"), col("grams").as("ga")),
        "new_id")
      .join(docsArr.select(col("doc_id").as("corpus_id"), col("grams").as("gb")),
        "corpus_id")
      .withColumn("n_common",
        graft.functions.Jaccard.sortedIntersectCountStr(col("ga"), col("gb")))
      .filter(graft.operators.PairGraph.qualifies(col("n_common"), col("szn"),
        col("szc")))
      .select("new_id", "corpus_id", "szn", "szc", "n_common")
  }

  /** Every document's distinct word-5-grams as WITH-clause entries
    * `tok → sh → g(doc_id, sz, g)`, one row per gram, sz the doc's
    * gram count (DuckDB side of [[graft.operators.PairGraph.gramArrays]]). */
  private val gramRowsCte = s"""
        tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        sh AS (
          SELECT doc_id, ${graft.operators.PairGraph.word5GramsSql} AS grams
          FROM tok WHERE len(tk) >= 5),
        g AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS sz, unnest(grams) AS g FROM sh)"""

  /** The q299 brute-pair SQL body (gram join, integer threshold) as a
    * WITH-clause fragment ending in `p(doc_a, doc_b, sza, szb,
    * n_common)` — shared by the q299 oracle and q307's group oracle. */
  private val exactPairsCte = s"""$gramRowsCte,
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza, b.sz AS szb,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM g a JOIN g b ON b.g = a.g AND b.doc_id > a.doc_id
          GROUP BY 1, 2, 3, 4)"""

  /** [[incrementalExactPairs]]' oracle body before its threshold: the
    * all-pairs batch (doc_id % 10 = 0) × archive gram join as a
    * WITH-clause fragment ending in `p(new_id, corpus_id, szn, szc,
    * n_common)` — shared by the q302 and q314 oracles. */
  private val incrementalPairsCte = s"""$gramRowsCte,
        gn AS (SELECT * FROM g WHERE doc_id % 10 = 0),
        gc AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
        p AS (
          SELECT n.doc_id AS new_id, c.doc_id AS corpus_id, n.sz AS szn, c.sz AS szc,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM gn n JOIN gc c ON c.g = n.g
          GROUP BY 1, 2, 3, 4)"""

  /** The q66 min-label clustering pipeline as a WITH-clause body
    * (b bands × r rows, 3 unrolled propagation rounds): terminates in
    * `banded(doc_id, band, band_key)` and `it3(doc_id, cluster_id)`.
    * Shared by the q66 oracle (3×2, md5 family) and q192's
    * leakage-safe split audit (1×6, universal family — one
    * multiply-add-mod per shingle per seed where md5 digests the
    * shingle k times; measured 64 s → 3 s of kernel at the 25×
    * fixture). */
  private def minLabelCte(nBands: Int, rowsPerBand: Int,
      universal: Boolean = false): String = {
    val rounds = (0 until 3).map { t =>
      s"""bm$t AS (
          SELECT b.band, b.band_key, MIN(l.cluster_id) AS bucket_min
          FROM banded b JOIN it$t l ON l.doc_id = b.doc_id
          GROUP BY b.band, b.band_key),
        dm$t AS (
          SELECT b.doc_id, MIN(m.bucket_min) AS prop_min
          FROM banded b JOIN bm$t m
            ON m.band = b.band AND m.band_key = b.band_key
          GROUP BY b.doc_id),
        it${t + 1} AS (
          SELECT l.doc_id,
                 least(l.cluster_id, coalesce(d.prop_min, l.cluster_id)) AS cluster_id
          FROM it$t l LEFT JOIN dm$t d ON d.doc_id = l.doc_id)"""
    }.mkString(",\n        ")
    s"""${bandedSql(nBands, rowsPerBand, universal)},
        it0 AS (SELECT DISTINCT doc_id, doc_id AS cluster_id FROM banded),
        $rounds"""
  }

  private val simhashBits = 16

  /** q34's full oracle (doc_id, simhash) — the DuckDB replay of the
    * SimHash16 kernel's per-bit majority vote. Shared with q69's
    * hamming near-dup, which embeds it as a subquery. */
  private[queries] lazy val simhashDocsSql: String = {
    val votes = (0 until simhashBits)
      .map(b => s"CAST(SUM(2 * ((h >> $b) & 1) - 1) AS BIGINT) AS v$b").mkString(",\n                 ")
    val bits = (0 until simhashBits)
      .map(b => s"(CASE WHEN v$b >= 0 THEN 1 ELSE 0 END) * ${1L << b}").mkString(" + ")
    s"""
        WITH grams AS (
          SELECT doc_id, unnest($shinglesSql) AS g
          FROM documents WHERE length(text) >= 3),
        hashed AS (
          SELECT doc_id, ${graft.Knuth.gramSql("g")} AS h FROM grams),
        votes AS (
          SELECT doc_id,
                 $votes
          FROM hashed GROUP BY doc_id)
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes"""
  }

  /** The winnow fingerprints of `functions/Winnow` (k = 5, w = 4),
    * DuckDB side, as WITH-clause entries `hs → fps(doc_id, fp)`
    * (distinct): the base-257 5-gram hash of code points mod 2³² at
    * every position, then the minimum of every window of 4 hashes
    * (a single short window when a doc has fewer). q61 and q64. */
  private val winnowFpsCte = {
    val gramHash = (0 until 5).map { j =>
      s"CAST(ascii(substr(text, CAST(i + $j AS INT), 1)) AS BIGINT)"
    }.reduce((acc, c) => s"($acc * 257 + $c)") + " % 4294967296"
    s"""hs AS (
          SELECT doc_id,
                 list_transform(range(1, length(text) - 3), i -> $gramHash) AS h
          FROM documents WHERE length(text) >= 5),
        fps AS (
          SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(h) - 3, 1) + 1),
                     i -> list_min(list_transform(
                            range(i, least(i + 4, len(h) + 1)),
                            j -> h[CAST(j AS INT)])))) AS fp
            FROM hs) t)"""
  }

  /** q303's oracle (q312's too: the LSM view must equal the corpus-wide
    * positions): every occurrence of the dominant word trigram as a
    * 3-way (doc_id, pos) self-join, per doc its count and first
    * position. */
  private val phraseSearchSql = """
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        pos AS (
          SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                     i -> struct_pack(tok := tk[i], pos := CAST(i AS BIGINT)))) AS u
            FROM tok)),
        tri AS (
          SELECT unnest(list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
          FROM tok),
        top1 AS (
          SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
                 string_split(g, ' ')[3] AS w3
          FROM (SELECT g, COUNT(*) AS n FROM tri GROUP BY g
                ORDER BY n DESC, g LIMIT 1)),
        m AS (
          SELECT p1.doc_id, p1.pos
          FROM pos p1
          JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
          JOIN pos p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
          CROSS JOIN top1 t
          WHERE p1.tok = t.w1 AND p2.tok = t.w2 AND p3.tok = t.w3)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(pos) AS first_pos
        FROM m GROUP BY doc_id"""

  /** The Spark side of [[phraseSearchSql]] over positional postings
    * `toks(doc_id, pos, tok)` and the 1-row phrase frame `top1(w1, w2,
    * w3)`: three term-selected posting streams — each filter references
    * the broadcast phrase frame, so the scans prune to the phrase terms
    * without hardcoding them — joined on (doc_id, pos). */
  private def phraseMatches(toks: DataFrame, top1: DataFrame): DataFrame = {
    val tagged = toks.crossJoin(broadcast(top1))
    val m1 = tagged.filter(col("tok") === col("w1"))
      .select(col("doc_id"), col("pos"))
    val m2 = tagged.filter(col("tok") === col("w2"))
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    val m3 = tagged.filter(col("tok") === col("w3"))
      .select(col("doc_id"), (col("pos") - 2).as("pos"))
    m1.join(m2, Seq("doc_id", "pos")).join(m3, Seq("doc_id", "pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
  }

  /** q62's BPE-style pre-tokenizer: the GPT-2 pattern family —
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, whitespace — minus the original's trailing
    * `\s+(?!\S)` lookahead, which RE2 (DuckDB) does not support.
    * Ordered alternation behaves identically in Java regex (Spark) and
    * RE2: both take the leftmost-first branch. The pattern is total
    * (every character lands in exactly one token), so token counts are
    * a real tokenizer's, not a whitespace split's. */
  private[queries] val bpePattern =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** q87's stop-bucket cap: corpus band buckets holding more docs than
    * this are dropped before candidate pairing. */
  private val incrMaxBucket = 20

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q26
    // Exact deduplication: group by content hash, canonical survivor.
    Q(
      "q26_dedup_exact",
      Some("""
        SELECT md5(text) AS fp, MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)""")
    ) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
    },

    // ---------------------------------------------------------------- q27
    // Token counting: whitespace tokens + distinct-token vocabulary.
    Q(
      "q27_token_stats",
      Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_unique,
               length(text) AS n_chars
        FROM documents""")
    ) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " ", -1))).cast("long").as("n_unique"),
        length(col("text")).cast("long").as("n_chars"))
    },

    // ---------------------------------------------------------------- q62
    // BPE-ish tokenization stats: tokens from the GPT-2-style regex
    // (bpePattern) rather than a whitespace split — the token-count
    // signal an LLM-data pipeline actually budgets by. Per-row regex
    // scan, embarrassingly parallel; both engines run the identical
    // pattern (Java regex / RE2 agree on ordered alternation).
    Q(
      "q62_bpe_token_stats",
      Some {
        val sqlPat = bpePattern.replace("'", "''") // SQL string literal escape
        s"""
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_unique,
               CAST(len(list_filter(toks, t -> regexp_full_match(t, ' ?\\p{L}+'))) AS BIGINT) AS n_word_tokens,
               CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT) AS max_token_len
        FROM (
          SELECT doc_id, regexp_extract_all(text, '$sqlPat') AS toks
          FROM documents WHERE length(text) > 0) t"""
      }
    ) { (s, dir) =>
      // native Column API throughout — the quote inside the pattern
      // never round-trips through a SQL literal on the Spark side
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .withColumn("toks", regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_unique"),
          size(filter(col("toks"), t => t.rlike("^ ?\\p{L}+$"))).cast("long")
            .as("n_word_tokens"),
          array_max(transform(col("toks"), t => length(t))).cast("long")
            .as("max_token_len"))
    },

    // ---------------------------------------------------------------- q28
    // Quality scoring: lexical-diversity and word-shape ratios.
    Q(
      "q28_quality_score",
      Some("""
        SELECT doc_id,
               len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS diversity,
               (length(text) - length(replace(text, ' ', ''))) AS n_spaces,
               length(regexp_replace(text, '[a-z ]', '', 'g')) AS n_nonalpha,
               CASE WHEN len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) >= 0.5
                    THEN 1 ELSE 0 END AS keep_flag
        FROM documents""")
    ) { (s, dir) =>
      val toks = split(col("text"), " ", -1)
      val diversity = size(array_distinct(toks)) / size(toks)
      t(s, dir, "documents").select(
        col("doc_id"),
        diversity.as("diversity"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")))
          .cast("long").as("n_spaces"),
        length(regexp_replace(col("text"), "[a-z ]", "")).cast("long").as("n_nonalpha"),
        when(diversity >= 0.5, 1).otherwise(0).as("keep_flag"))
    },

    // ---------------------------------------------------------------- q29
    // Language-ID heuristic: stopword-hit counting via replace-all
    // (occurrence counts are exact integer math in both engines).
    Q(
      "q29_lang_heuristic",
      Some("""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT)) AS BIGINT) AS the_hits,
               CAST(SUM(CAST((length(text) - length(replace(text, ' data ', ''))) / 6 AS BIGINT)) AS BIGINT) AS data_hits,
               CAST(SUM(CASE WHEN (length(text) - length(replace(text, ' the ', ''))) / 5 > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_guessed_en
        FROM documents GROUP BY lang""")
    ) { (s, dir) =>
      def hits(w: String): org.apache.spark.sql.Column =
        (length(col("text")) - length(regexp_replace(col("text"), w, ""))) / w.length
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(hits(" the ").cast("long")).as("the_hits"),
          sum(hits(" data ").cast("long")).as("data_hits"),
          sum(when(hits(" the ") > 0, 1L).otherwise(0L)).as("n_guessed_en"))
    },

    // ---------------------------------------------------------------- q30
    // Document fingerprinting: md5 over whitespace-normalized text.
    Q(
      "q30_fingerprint",
      Some("""
        SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        FROM documents""")
    ) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
    },

    // ---------------------------------------------------------------- q31
    // n-gram Jaccard similarity between neighbouring documents (the
    // verify step of a near-dup pipeline; candidate pairing is banded
    // elsewhere, here pairs are id-adjacent to stay deterministic).
    Q(
      "q31_ngram_jaccard",
      Some(s"""
        WITH sh AS (
          SELECT doc_id, $shinglesSql AS grams
          FROM documents WHERE length(text) >= 3)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS n_common,
               len(list_filter(a.grams, g -> list_contains(b.grams, g)))
                 / (len(a.grams) + len(b.grams) - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""")
    ) { (s, dir) =>
      // one-pass codegen'd kernel (graft.functions.Jaccard3): shingle
      // sets + intersection computed per pair, no materialized gram
      // arrays through the join shuffle — same math as the oracle
      val docs = t(s, dir, "documents").filter(length(col("text")) >= 3)
      val a = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .withColumn("jc", graft.functions.Jaccard.jaccard3(col("text_a"), col("text_b")))
        .select(col("doc_a"), col("doc_b"),
          col("jc.n_common").as("n_common"), col("jc.jaccard").as("jaccard"))
    },

    // ---------------------------------------------------------------- q32
    // MinHash signatures via the custom codegen'd expression
    // (graft.functions.MinHashSignature): one md5 per shingle, digest
    // split into four 8-hex-char band minima — one pass, no
    // intermediate shingle arrays. The oracle replays the identical
    // math as SQL (min is duplicate-insensitive, so distinct shingles
    // change nothing).
    Q(
      "q32_minhash_signature",
      Some(s"""
        SELECT doc_id,
               list_min(list_transform($shinglesSql, g -> substr(md5(g), 1, 8)))  AS mh0,
               list_min(list_transform($shinglesSql, g -> substr(md5(g), 9, 8)))  AS mh1,
               list_min(list_transform($shinglesSql, g -> substr(md5(g), 17, 8))) AS mh2,
               list_min(list_transform($shinglesSql, g -> substr(md5(g), 25, 8))) AS mh3
        FROM documents WHERE length(text) >= 3""")
    ) { (s, dir) =>
      t(s, dir, "documents")
        .filter(length(col("text")) >= 3)
        .withColumn("sig", graft.functions.MinHash.minhashSignature(col("text")))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("mh0"),
          element_at(col("sig"), 2).as("mh1"),
          element_at(col("sig"), 3).as("mh2"),
          element_at(col("sig"), 4).as("mh3"))
    },

    // ---------------------------------------------------------------- q33
    // LSH banding over the MinHash signature: bucket on (mh0, mh1);
    // buckets with >1 doc are near-dup candidates. The shuffle key is
    // the band — at 100 TB this is a plain hash-partitioned groupBy,
    // never a cross join.
    Q(
      "q33_minhash_bands",
      Some(s"""
        WITH sig AS (
          SELECT doc_id,
                 list_min(list_transform($shinglesSql, g -> substr(md5(g), 1, 8))) AS mh0,
                 list_min(list_transform($shinglesSql, g -> substr(md5(g), 9, 8))) AS mh1
          FROM documents WHERE length(text) >= 3)
        SELECT mh0, mh1, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        FROM sig GROUP BY mh0, mh1""")
    ) { (s, dir) =>
      t(s, dir, "documents")
        .filter(length(col("text")) >= 3)
        .withColumn("sig", graft.functions.MinHash.minhashSignature(col("text")))
        .groupBy(element_at(col("sig"), 1).as("mh0"),
          element_at(col("sig"), 2).as("mh1"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
    },

    // ---------------------------------------------------------------- q35
    // tf-idf-style term scoring with exact integer weights
    // (score = tf * 1e6 div df — engine-identical, unlike ln()).
    // Token explode -> per-doc tf -> doc-frequency join -> top-3 terms
    // per document with a total-order tiebreak.
    Q(
      "q35_tfidf_topterms",
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM toks
          WHERE token <> '' GROUP BY doc_id, token),
        df AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
          WHERE token <> '' GROUP BY token),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 CAST((tf.tf * 1000000 * (SELECT n_docs FROM n)) // df.df AS BIGINT) AS score
          FROM tf JOIN df ON tf.token = df.token)
        SELECT doc_id, token, score FROM (
          SELECT doc_id, token, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, token) AS rn
          FROM scored) t
        WHERE rn <= 3""")
    ) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
        .filter(col("token") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = toks.groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"))
      // corpus size as a broadcast one-row aggregate (not a driver-side
      // .count(), which would be a second full scan as a separate job)
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      // the idf table is vocabulary-sized — it grows with the corpus
      // (Heaps' law), so it must NEVER broadcast: shuffle_hash keys
      // both sides on token, a plain linear shuffle at any scale
      // (q76's move, documented at Matching.scala's sparse-cosine)
      val scored = tf.join(df.hint("shuffle_hash"), "token")
        .crossJoin(broadcast(n))
        .withColumn("score", expr("(tf * 1000000 * n_docs) div df"))
        .drop("n_docs")
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("token"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "token", "score")
    },

    // ---------------------------------------------------------------- q58
    // Parameterized b×r MinHash banding (3 bands × 2 rows from k=6
    // INDEPENDENT hashes — not slices of one md5 like q32/q33): a
    // document lands in 3 buckets; buckets with >1 doc are the
    // near-dup candidate groups. Union of bands = recall knob, rows
    // per band = precision knob; the shuffle key is (band, band_key) —
    // plain hash groupBy at any scale. The hashes come from the
    // UNIVERSAL family (`minhash_fast`: Carter–Wegman multiply-add-mod
    // over the exact-integer 3-gram hash) — one arithmetic op per
    // shingle per seed where the md5 family (still the q66 path)
    // digests the shingle k times.
    Q(
      "q58_banded_dedup",
      Some(s"""
        WITH ${bandedSql(3, 2)}
        SELECT band, band_key, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        FROM banded GROUP BY band, band_key HAVING COUNT(*) > 1""")
    ) { (s, dir) =>
      // the shared operator (graft.operators.MinHashLsh) — one k-hash
      // signature per row, band keys posexploded from it (the former
      // inline union-of-selects re-ran the hash kernel once per band)
      val cfg = graft.operators.MinHashLsh.Config(
        bands = 3, rowsPerBand = 2, universal = true)
      val banded = graft.operators.MinHashLsh.explodeBands(
        t(s, dir, "documents").select("doc_id", "text"), "text", cfg)
      graft.operators.MinHashLsh.candidateGroups(banded, "doc_id")
    },

    // ---------------------------------------------------------------- q61
    // Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    // SIGMOD 2003): rolling polynomial hash of every 5-gram (base 257,
    // mod 2^32, code points), min hash per sliding window of 4 — any
    // shared substring of length >= 8 guarantees a shared fingerprint,
    // and only ~2/(w+1) of hashes are kept. The kernel
    // (functions/Winnow) is O(n) — rolling update + monotonic-deque
    // window minima, one pass, codegen'd; the oracle replays the same
    // math gram-by-gram with list_min per window.
    Q(
      "q61_winnow_fingerprints",
      Some(s"""
        WITH $winnowFpsCte
        SELECT doc_id, fp FROM fps""")
    ) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Winnow.winnow(col("text"), 5, 4).as("fps"))
        .filter(col("fps").isNotNull)
        .select(col("doc_id"), explode(col("fps")).as("fp"))
    },

    // ---------------------------------------------------------------- q64
    // Winnow-fingerprint near-dup candidates: docs sharing >= 2
    // fingerprints after dropping STOP fingerprints (document frequency
    // > 50 — boilerplate 8-grams that would otherwise form huge
    // buckets). The pair join runs only within one fingerprint's
    // posting list, so with the df cap the per-bucket pair count is
    // bounded (<= 50²/2) no matter the corpus size — the same
    // bounded-bucket discipline as the LSH operators, here enforced by
    // an IDF-style filter instead of key refinement.
    Q(
      "q64_winnow_neardup",
      Some(s"""
        WITH $winnowFpsCte,
        kept AS (
          SELECT doc_id, fp FROM (
            SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df
            FROM fps) t
          WHERE df <= 50)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared
        FROM kept a JOIN kept b
          ON a.fp = b.fp AND b.doc_id > a.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2""")
    ) { (s, dir) =>
      val fps = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Winnow.winnow(col("text"), 5, 4).as("fpa"))
        .filter(col("fpa").isNotNull)
        .select(col("doc_id"), explode(col("fpa")).as("fp"))
      val kept = fps
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("df") <= 50)
        .select("doc_id", "fp")
      kept.as("a").join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("b.doc_id") > col("a.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },

    // ---------------------------------------------------------------- q66
    // Dedup cluster assignment: connected components over the MinHash
    // banding graph (docs sharing any (band, band_key) bucket are one
    // cluster) via 3 rounds of min-label propagation
    // (MinHashLsh.minLabelClusters). The graph is traversed through
    // bucket AGGREGATES — two hash shuffles per round, O(bucket size)
    // per bucket, never the O(b²) pair explosion — which is what makes
    // transitive dedup feasible at corpus scale. Fixed rounds keep the
    // result deterministic and oracle-replayable (3 unrolled rounds in
    // SQL); production loops to fixpoint.
    Q(
      "q66_dedup_clusters",
      Some(s"""
        WITH ${minLabelCte(3, 2)}
        SELECT doc_id, cluster_id FROM it3""")
    ) { (s, dir) =>
      val cfg = graft.operators.MinHashLsh.Config(bands = 3, rowsPerBand = 2)
      // spread the minhash kernel input (q69/q192's single-file-scan
      // cliff): without it the banding strands on one task — a cost
      // that was HIDDEN until round 14 by accidental cross-round
      // CacheManager reuse in the bench (see BENCHNOTES r14)
      val banded = graft.operators.MinHashLsh.explodeBands(
        graft.Tables.spreadKernelInput(s, dir, Seq("documents"),
          t(s, dir, "documents").select("doc_id", "text"), col("doc_id")),
        "text", cfg)
      graft.operators.MinHashLsh.minLabelClusters(banded, "doc_id", rounds = 3)
    },

    // --------------------------------------------------------------- q247
    // Dedup cluster-size report — the operations readout on top of
    // q66's transitive clusters: the size histogram (how many
    // clusters of 2, of 3, …), each size's share of the corpus in
    // exact permille, and the singleton share — the numbers that
    // decide whether a dedup pass is worth running and whether the
    // banding is over-merging (one giant cluster is the classic LSH
    // failure mode, and it shows up HERE first). Costs one extra
    // cluster-space aggregation over the q66 assignment — the corpus
    // work is shared banding; the histogram is |distinct sizes| rows.
    Q(
      "q247_cluster_size_report",
      Some(s"""
        WITH ${minLabelCte(3, 2)},
        cl AS (SELECT doc_id, cluster_id FROM it3),
        sz AS (
          SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
          FROM cl GROUP BY 1),
        hist AS (
          SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
          FROM sz GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM cl)
        SELECT h.csize, h.n_clusters,
               h.csize * h.n_clusters AS n_docs_at_size,
               (1000 * h.csize * h.n_clusters) // tot.n_docs AS share_pm
        FROM hist h CROSS JOIN tot""")
    ) { (s, dir) =>
      val cfg = graft.operators.MinHashLsh.Config(bands = 3, rowsPerBand = 2)
      val banded = graft.operators.MinHashLsh.explodeBands(
        graft.Tables.spreadKernelInput(s, dir, Seq("documents"),
          t(s, dir, "documents").select("doc_id", "text"), col("doc_id")),
        "text", cfg)
      // cl feeds TWO aggregations (histogram + total) — materialize
      // so the banding + propagation chain runs once, not per ref
      val cl = graft.Checkpoints.materialize(graft.operators.MinHashLsh
        .minLabelClusters(banded, "doc_id", rounds = 3))
      val sz = cl.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      val tot = cl.agg(count(lit(1)).as("n_docs"))
      sz.groupBy("csize").agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("csize"), col("n_clusters"),
          (col("csize") * col("n_clusters")).as("n_docs_at_size"),
          expr("(1000 * csize * n_clusters) div n_docs").as("share_pm"))
    },

    // ---------------------------------------------------------------- q34
    // SimHash: per-bit majority vote over shingle hashes (explode ->
    // 16 conditional sums -> recombine). Integer-exact in both engines.
    Q(
      "q34_simhash",
      Some(simhashDocsSql)
    ) { (s, dir) =>
      // one-pass codegen'd kernel (graft.functions.SimHash16) — replaces
      // the explode + 16-vote-aggregate formulation; identical math
      t(s, dir, "documents")
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"),
          graft.functions.SimHash.simhash16(col("text")).as("simhash"))
    },

    // ---------------------------------------------------------------- q81
    // Tokenizer vocabulary induction: the top-k pre-tokens by corpus
    // frequency (the seed vocabulary a BPE trainer starts from), with a
    // deterministic (freq DESC, token) total order. The count is one
    // partially-aggregated groupBy; the top-k executes as
    // TakeOrderedAndProject (bounded by k on every partition — no
    // global sort), and the rank window runs AFTER the limit, over k
    // rows, so nothing here scales with the corpus.
    Q(
      "q81_vocab_topk",
      Some {
        val sqlPat = bpePattern.replace("'", "''")
        s"""
        WITH toks AS (
          SELECT unnest(regexp_extract_all(text, '$sqlPat')) AS tok FROM documents),
        counts AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY tok),
        top AS (
          SELECT tok, freq FROM counts ORDER BY freq DESC, tok LIMIT 25)
        SELECT tok, freq,
               CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank
        FROM top"""
      }
    ) { (s, dir) =>
      val counts = t(s, dir, "documents")
        .select(explode(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(25)
      counts.withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("tok")))
          .cast("long"))
    },

    // ---------------------------------------------------------------- q83
    // Exact substring-span dedup (the hashed-window variant of Lee et
    // al.'s suffix-array dedup): every 20-token window hashes once, a
    // keyed groupBy counts how many DISTINCT documents contain each
    // window, and docs report what fraction of their window positions
    // lie in a cross-document duplicated span. All work is keyed by
    // the window hash — O(corpus tokens) shuffle, no pair explosion,
    // the shape that survives a suffix-array-infeasible corpus.
    // Contract: docs shorter than 20 tokens have no windows and no
    // output row — and they MUST be filtered before `sequence`, which
    // (unlike DuckDB's `range`) generates a DESCENDING sequence when
    // the upper bound is below the start.
    Q(
      "q83_substring_dedup",
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        win AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(tk) - 18),
                   i -> md5(array_to_string(list_slice(tk, i, i + 19), ' ')))) AS wh
          FROM tok),
        df AS (
          SELECT wh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM win GROUP BY wh)
        SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(COUNT(*) FILTER (d.df >= 2) AS BIGINT) AS n_dup_windows,
               CAST(COUNT(*) FILTER (d.df >= 2) AS DOUBLE) / COUNT(*) AS dup_frac
        FROM win w JOIN df d ON d.wh = w.wh
        GROUP BY w.doc_id""")
    ) { (s, dir) =>
      // spread the window-hash kernel input (the q192 single-file-scan
      // cliff): one parquet file scans as one task, stranding the
      // per-row md5 kernel on a single core
      val wins = graft.Tables.spreadKernelInput(s, dir, Seq("documents"),
          t(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
        .withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= 20)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 19), " +
            "i -> md5(concat_ws(' ', slice(tk, i, 20))))")).as("wh"))
      // pre-aggregate to (doc, window) so the cross-doc df is a plain
      // COUNT window over one row per (doc, window) — replaces the
      // countDistinct + join-back formulation (4 exchanges) with 3
      val dw = wins.groupBy("doc_id", "wh").agg(count(lit(1)).as("c"))
      val dup = sum(when(col("df") >= 2, col("c")).otherwise(0L))
      dw.withColumn("df", count(lit(1)).over(Window.partitionBy("wh")))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_windows"),
          dup.as("n_dup_windows"),
          (dup.cast("double") / sum(col("c"))).as("dup_frac"))
    },

    // ---------------------------------------------------------------- q85
    // Count-min frequency estimation (operators/CountMin): the sketch
    // answers "how often does this key occur" over key spaces too big
    // to count exactly — here validated AGAINST the exact counts,
    // which the small vocabulary makes available. Partial oracle in
    // the q45 HLL style: exact columns plus a pinned guarantee flag —
    // the sketch is deterministic (counter addition commutes), so
    // `est ≥ exact AND est − exact ≤ N/width` must hold for every
    // token on both engines or the row hash breaks.
    Q(
      "q85_countmin_freq",
      Some("""
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt, true AS est_ok
        FROM toks GROUP BY tok""")
    ) { (s, dir) =>
      import graft.operators.CountMin
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val sketch = CountMin.build(toks, "tok")
      val tot = toks.agg(count(lit(1)).as("n"))
      val est = CountMin.estimate(col("tok"), col("__cm"))
      toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(sketch))
        .crossJoin(broadcast(tot))
        .select(col("tok"), col("exact_cnt"),
          (est >= col("exact_cnt") &&
            est - col("exact_cnt") <= expr("n div 1024")).as("est_ok"))
    },

    // ---------------------------------------------------------------- q87
    // INCREMENTAL near-dup dedup: an incoming batch (doc_id % 10 == 0
    // stands in for today's crawl) dedups against the EXISTING corpus
    // without ever pairing corpus×corpus — the band join is strictly
    // new×corpus, so daily work scales with the batch, not the
    // accumulated archive. In production the corpus side of the band
    // join reads a SAVED band index (the explodeBands output is a
    // plain keyed parquet). Corpus buckets holding more than
    // `incrMaxBucket` docs are DROPPED before pairing — the stop-
    // bucket cap (q64's move): mega-buckets are generic templates
    // whose pair expansion is quadratic poison (uncapped, sf0.1
    // generates 1.1M candidates; capped, 929), and the cap is part of
    // the operator's declared recall contract. Candidates then verify
    // with the exact one-pass Jaccard kernel, and only
    // (banded ∧ small-bucket ∧ jaccard ≥ 0.7) pairs survive — all
    // three stages replayed exactly by the oracle.
    Q(
      "q87_incremental_dedup",
      Some(s"""
        WITH ${bandedSql(3, 2)},
        corp AS (
          SELECT * FROM banded WHERE doc_id % 10 <> 0),
        small AS (
          SELECT band, band_key FROM corp
          GROUP BY band, band_key HAVING COUNT(*) <= $incrMaxBucket),
        cand AS (
          SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS corpus_id
          FROM banded i
          JOIN small s ON s.band = i.band AND s.band_key = i.band_key
          JOIN corp c ON c.band = i.band AND c.band_key = i.band_key
          WHERE i.doc_id % 10 = 0)
        SELECT cd.new_id, cd.corpus_id,
               len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS n_common,
               len(list_filter(a.grams, g -> list_contains(b.grams, g)))
                 / (len(a.grams) + len(b.grams)
                    - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) AS jaccard
        FROM cand cd
        JOIN sh a ON a.doc_id = cd.new_id
        JOIN sh b ON b.doc_id = cd.corpus_id
        WHERE len(list_filter(a.grams, g -> list_contains(b.grams, g)))
                / (len(a.grams) + len(b.grams)
                   - len(list_filter(a.grams, g -> list_contains(b.grams, g)))) >= 0.7""")
    ) { (s, dir) =>
      import graft.operators.MinHashLsh
      val cfg = MinHashLsh.Config(bands = 3, rowsPerBand = 2, universal = true)
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val incoming = docs.filter(col("doc_id") % 10 === 0)
      val cb = MinHashLsh.explodeBands(corpus, "text", cfg)
        .select(col("doc_id").as("corpus_id"), col("band"), col("band_key"))
      val ib = MinHashLsh.explodeBands(incoming, "text", cfg)
        .select(col("doc_id").as("new_id"), col("band"), col("band_key"))
      // drop mega-buckets BEFORE pairing — the join must never see them
      val small = cb.groupBy("band", "band_key")
        .agg(count(lit(1)).as("bn")).filter(col("bn") <= incrMaxBucket)
        .select("band", "band_key")
      ib.join(cb.join(small, Seq("band", "band_key")), Seq("band", "band_key"))
        .select("new_id", "corpus_id").distinct()
        .join(incoming.select(col("doc_id").as("new_id"),
          col("text").as("text_n")), "new_id")
        .join(corpus.select(col("doc_id").as("corpus_id"),
          col("text").as("text_c")), "corpus_id")
        .withColumn("jc",
          graft.functions.Jaccard.jaccard3(col("text_n"), col("text_c")))
        .filter(col("jc.jaccard") >= 0.7)
        .select(col("new_id"), col("corpus_id"),
          col("jc.n_common").as("n_common"), col("jc.jaccard").as("jaccard"))
    },

    // ---------------------------------------------------------------- q95
    // BPE merge induction — the counting step that trains a BPE
    // tokenizer: across the corpus, count adjacent symbol (character)
    // pairs inside pre-tokens (q62's GPT-2-family regex) and rank the
    // merge candidates. Runs in DISTINCT-TOKEN space (the q69/q75
    // move): pre-tokens collapse to a (token, freq) vocabulary FIRST —
    // one hash aggregate over the corpus — and the pair explosion
    // (len−1 pairs per token) touches only the vocabulary, which is
    // sublinear in corpus size; occurrence weights ride along as
    // freq. Tokens shorter than 2 chars filter BEFORE sequence()
    // (q83's lesson: Spark's sequence(1, 0) DESCENDS where DuckDB's
    // range(1, 1) is empty). ASCII corpus ⇒ substring-by-code-unit
    // agrees across engines. Top 20 by (pair_count DESC, pair) —
    // total order, no ties left to the engine.
    Q(
      "q95_bpe_merge",
      Some {
        val sqlPat = bpePattern.replace("'", "''")
        """
        WITH vocab AS (
          SELECT tok, COUNT(*) AS freq FROM (
            SELECT unnest(regexp_extract_all(text, '""" + sqlPat + """')) AS tok
            FROM documents WHERE length(text) > 0) t
          GROUP BY tok),
        pairs AS (
          SELECT unnest(list_transform(range(1, length(tok)),
                   i -> substr(tok, CAST(i AS INT), 2))) AS pair,
                 freq
          FROM vocab WHERE length(tok) >= 2)
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair
        ORDER BY pair_count DESC, pair LIMIT 20"""
      }
    ) { (s, dir) =>
      val vocab = t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(explode(regexp_extract_all(col("text"), lit(bpePattern), lit(0))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      vocab.filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"),
          col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
        .orderBy(desc("pair_count"), col("pair"))
        .limit(20)
    },

    // --------------------------------------------------------------- q116
    // Per-source lexical diversity: type/token ratio, Gini–Simpson
    // diversity and its inverse (effective vocabulary size), and the
    // top-token share — the corpus-health metrics a data-curation run
    // reports per source before mixing. All heavy math stays in exact
    // BIGINT rationals (Simpson = 1 − Σc²/T², no logs — the q78 libm
    // dodge taken one step further: entropy's log2 is replaced by the
    // Simpson index, which IS a rational); the only doubles are final
    // divisions of exact integers, identical cross-engine. Plan: token
    // explode → (source, token) count (map-side combined) → per-source
    // fold of the vocabulary table. The second stage is VOCABULARY-
    // bounded, so at 100 TB the expensive shuffle is the first keyed
    // count and everything after is negligible.
    // Σc² is BANKED into DECIMAL(38,0) / HUGEINT (a token counted
    // ≥ 3e9 times in one source squared past BIGINT) — the wide sum
    // is exact and only the FINAL ratio casts to double, so the
    // indices never wrap; past 2⁵³ the cast is the documented 1-ulp
    // float caveat, not an integer overflow.
    Q(
      "q116_lexical_diversity",
      Some("""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        cnt AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok WHERE tok <> '' GROUP BY source, tok)
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
               1.0 - CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE)
                     / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS simpson,
               CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)
                     / CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS eff_vocab,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share
        FROM cnt GROUP BY source""")
    ) { (s, dir) =>
      val cnt = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val tT = sum(col("c")).cast("double")
      val sS = sum(col("c").cast("decimal(38,0)") * col("c")).cast("double")
      cnt.groupBy("source").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        (count(lit(1)).cast("double") / tT).as("ttr"),
        (lit(1.0) - sS / (tT * tT)).as("simpson"),
        (tT * tT / sS).as("eff_vocab"),
        (max(col("c")).cast("double") / tT).as("top_share"))
    },

    // --------------------------------------------------------------- q125
    // Source-vocabulary overlap matrix: exact token-set Jaccard between
    // every source pair — the mirror/duplicate-source detector a corpus
    // audit runs before mixing (two sources sharing ~all vocabulary are
    // one source twice). The pair join runs in DISTINCT (source, token)
    // space (the q69/q75 move): per-token posting lists are bounded by
    // the SOURCE COUNT (≤ 20 here), so candidate pairs are
    // vocabulary × sources², never corpus², at any data size. All
    // counts exact BIGINT; Jaccard is one final division via
    // inclusion-exclusion.
    Q(
      "q125_source_overlap",
      Some("""
        WITH vt AS (
          SELECT DISTINCT source, tok FROM (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents) u
          WHERE tok <> ''),
        sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM vt GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source
          GROUP BY a.source, b.source)
        SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
               CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
        FROM inter i
        JOIN sz sa ON sa.source = i.src_a
        JOIN sz sb ON sb.source = i.src_b""")
    ) { (s, dir) =>
      val vt = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .distinct()
      val sz = vt.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = vt.as("a")
        .join(vt.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sz.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
        .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
          (col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
    },

    // --------------------------------------------------------------- q127
    // Token-distribution drift detection: the reference snapshot
    // (doc_id % 2 = 0) vs the current one (doc_id % 2 = 1), per-token
    // two-sample test — the monitoring step that catches a silently
    // changed upstream corpus before it trains. The statistic is the
    // 2×2 chi-square surrogate (c1·N2 − c2·N1)²/(N1·N2·(c1+c2)): the
    // cross-difference d = c1·N2 − c2·N1 stays EXACT BIGINT (q110's
    // cross-multiplication move; |d| ≤ N1·N2 ~ 10¹² here — at corpus
    // sizes where c·N overflows BIGINT the same statistic runs on
    // per-million integer rates), and the squaring/divisions run in
    // DOUBLE on identical exact operands — the same IEEE expression in
    // both engines, so even the float ordering ties break identically.
    // Top-20 drifted tokens by (drift desc, tok). Plan: one (half, token)
    // count (map-side combined), a pivot to c1/c2 via the same
    // aggregate, totals broadcast back, TakeOrderedAndProject for the
    // top-20 — the corpus shuffles once, everything after is
    // vocabulary-sized.
    Q(
      "q127_token_drift",
      Some("""
        WITH tok AS (
          SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        cnt AS (
          SELECT tok,
                 CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
          FROM tok WHERE tok <> '' GROUP BY tok),
        tot AS (
          SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
          FROM cnt)
        SELECT tok, c1, c2,
               CAST(c1 * t.n2 - c2 * t.n1 AS DOUBLE)
                 * CAST(c1 * t.n2 - c2 * t.n1 AS DOUBLE)
                 / CAST(t.n1 * t.n2 AS DOUBLE) / CAST(c1 + c2 AS DOUBLE) AS drift,
               CAST(c1 AS DOUBLE) / t.n1 AS rate_ref,
               CAST(c2 AS DOUBLE) / t.n2 AS rate_cur
        FROM cnt CROSS JOIN tot t
        ORDER BY drift DESC, tok LIMIT 20""")
    ) { (s, dir) =>
      val cnt = t(s, dir, "documents")
        .select((col("doc_id") % 2).as("half"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok")
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("c2"))
      val tot = cnt.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val d = (col("c1") * col("n2") - col("c2") * col("n1")).cast("double")
      cnt.crossJoin(broadcast(tot))
        .select(col("tok"), col("c1"), col("c2"),
          (d * d / (col("n1") * col("n2")).cast("double")
            / (col("c1") + col("c2")).cast("double")).as("drift"),
          (col("c1").cast("double") / col("n1")).as("rate_ref"),
          (col("c2").cast("double") / col("n2")).as("rate_cur"))
        .orderBy(desc("drift"), col("tok"))
        .limit(20)
    },

    // --------------------------------------------------------------- q133
    // Collocation mining: the top-20 adjacent token pairs by a
    // quantized PMI — pointwise mutual information log2(c_xy·N /
    // (c_x·c_y)) scored with the q78 bit-length surrogate
    // (length(bin(x)) − 1 = floor(log2 x)), so the ranking is EXACT
    // INTEGER end to end (no libm). The support floor is RELATIVE —
    // c_xy ≥ max(5, N_bigrams div 5000) — so the cut survives any
    // corpus scale (an absolute floor silently empties or saturates as
    // N moves). Three vocabulary-sized aggregates
    // (pair counts, unigram counts ×2 broadcast back), one corpus
    // shuffle each for pairs/unigrams; top-20 via
    // TakeOrderedAndProject. qpmi = floor(log2(c_xy·N)) −
    // floor(log2(c_x·c_y)) — the same quantization both engines.
    // Declared scale bound: the products c_xy·N and c_x·c_y are exact
    // while max-count·N < 2⁶³ — with N tokens ≤ 10¹⁴ that caps the
    // top unigram count at ~9·10⁴ × (10¹⁴/N); a corpus past it
    // rescales counts to per-million rates first (the q127 fallback)
    // at the cost of one quantization step in the ranking.
    Q(
      "q133_collocations",
      Some("""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        big AS (
          SELECT unnest(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1])) AS pair
          FROM tok),
        pc0 AS (
          SELECT pair, CAST(COUNT(*) AS BIGINT) AS cxy FROM big GROUP BY pair),
        bt AS (SELECT greatest(5, CAST(SUM(cxy) AS BIGINT) // 5000) AS thr FROM pc0),
        pc AS (SELECT pair, cxy FROM pc0 CROSS JOIN bt WHERE cxy >= bt.thr),
        uni AS (
          SELECT unnest(tk) AS w FROM tok),
        uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc)
        SELECT p.pair, p.cxy, ux.c AS cx, uy.c AS cy,
               CAST(length(bin(p.cxy * t.n)) - length(bin(ux.c * uy.c)) AS BIGINT) AS qpmi
        FROM pc p
        JOIN uc ux ON ux.w = string_split(p.pair, ' ')[1]
        JOIN uc uy ON uy.w = string_split(p.pair, ' ')[2]
        CROSS JOIN tot t
        ORDER BY qpmi DESC, p.pair LIMIT 20""")
    ) { (s, dir) =>
      // len >= 2 BEFORE sequence(): Spark's sequence(1, 0) descends
      // while DuckDB's range(1, 1) is empty — the q83 divergence trap
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
      val pc0 = tok
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> concat(tk[i-1], ' ', tk[i]))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cxy"))
      val bt = pc0.agg(greatest(lit(5L), expr("sum(cxy) div 5000")).as("thr"))
      val pc = pc0.crossJoin(broadcast(bt)).filter(col("cxy") >= col("thr"))
        .select("pair", "cxy")
      val uc = tok.select(explode(col("tk")).as("w")).filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("c"))
      val tot = uc.agg(sum(col("c")).as("n"))
      pc
        .join(broadcast(uc.select(col("w").as("wx"), col("c").as("cx"))),
          expr("wx = split(pair, ' ')[0]"))
        .join(broadcast(uc.select(col("w").as("wy"), col("c").as("cy"))),
          expr("wy = split(pair, ' ')[1]"))
        .crossJoin(broadcast(tot))
        .select(col("pair"), col("cxy"), col("cx"), col("cy"),
          (length(bin(col("cxy") * col("n"))) - length(bin(col("cx") * col("cy"))))
            .cast("long").as("qpmi"))
        .orderBy(desc("qpmi"), col("pair"))
        .limit(20)
    },

    // --------------------------------------------------------------- q140
    // Dedup savings report: what exact dedup would reclaim, per
    // source — duplicate-set count, removable doc count, removable
    // bytes, and the dup rate. Two aggregates: content-hash groups
    // (q26's shape, keyed on the hash so the corpus shuffles once),
    // then a per-source fold of the group table. Every number is an
    // exact BIGINT; rates are final divisions. The report a storage
    // review reads before running the actual dedup job.
    Q(
      "q140_dedup_savings",
      Some("""
        WITH g AS (
          SELECT source, md5(text) AS fp,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(n_chars) AS BIGINT) AS bytes,
                 CAST(MIN(n_chars) AS BIGINT) AS keep_bytes
          FROM documents GROUP BY source, md5(text))
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_unique,
               CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_sets,
               CAST(SUM(n - 1) AS BIGINT) AS n_removable,
               CAST(SUM(bytes - keep_bytes) AS BIGINT) AS bytes_removable,
               CAST(SUM(n - 1) AS DOUBLE) / SUM(n) AS dup_rate
        FROM g GROUP BY source""")
    ) { (s, dir) =>
      val g = t(s, dir, "documents")
        .groupBy(col("source"), md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("bytes"),
          min(col("n_chars")).as("keep_bytes"))
      g.groupBy("source").agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_sets"),
        sum(col("n") - 1).as("n_removable"),
        sum(col("bytes") - col("keep_bytes")).as("bytes_removable"),
        (sum(col("n") - 1).cast("double") / sum(col("n"))).as("dup_rate"))
    },

    // --------------------------------------------------------------- q144
    // Cross-source content syndication: which source PAIRS share
    // identical documents — the provenance complement to q125's
    // vocabulary overlap (same content in two sources means mirroring /
    // scraping loops, and deduping within one source misses it). The
    // content key is the LEAD fingerprint — md5 of the first 64 chars
    // (q55's thumb hash): syndicated copies keep their opening even
    // when tails diverge, and a full-text hash goes vacuous on corpora
    // where mirrors edit anything at all. Groups come from one hash
    // groupBy in DISTINCT (fp, source) space; the pair join runs over
    // that collapsed table (bounded by fp-groups × sources, never
    // docs²). Output per source pair: shared contents, docs per side.
    Q(
      "q144_syndication",
      Some("""
        WITH fs AS (
          SELECT md5(substring(text, 1, 64)) AS fp, source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY md5(substring(text, 1, 64)), source)
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_contents,
               CAST(SUM(a.n_docs) AS BIGINT) AS docs_a,
               CAST(SUM(b.n_docs) AS BIGINT) AS docs_b
        FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
        GROUP BY a.source, b.source""")
    ) { (s, dir) =>
      val fs = t(s, dir, "documents")
        .groupBy(md5(substring(col("text"), 1, 64)).as("fp"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
      fs.as("a")
        .join(fs.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared_contents"),
          sum(col("a.n_docs")).as("docs_a"),
          sum(col("b.n_docs")).as("docs_b"))
    },

    // --------------------------------------------------------------- q135
    // Tokenizer health per language: chars-per-BPE-token (the
    // compression ratio a tokenizer is judged by), mean token length,
    // and the BPE-vs-whitespace token blow-up factor, per `lang` — the
    // per-language fertility report that decides whether a tokenizer
    // underserves a language. Token counts use q62's GPT-2-family
    // regex (identical in Java regex and RE2); all sums are exact
    // BIGINTs, the ratios one final double division each; one
    // map-side-combined aggregate, 3 rows out.
    Q(
      "q135_tokenizer_fertility",
      Some {
        val sqlPat = bpePattern.replace("'", "''")
        s"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS n_chars,
               CAST(SUM(len(regexp_extract_all(text, '$sqlPat'))) AS BIGINT) AS n_bpe,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_ws,
               CAST(SUM(length(text)) AS DOUBLE)
                 / SUM(len(regexp_extract_all(text, '$sqlPat'))) AS chars_per_tok,
               CAST(SUM(len(regexp_extract_all(text, '$sqlPat'))) AS DOUBLE)
                 / SUM(len(string_split(text, ' '))) AS bpe_per_word
        FROM documents WHERE length(text) > 0
        GROUP BY lang"""
      }
    ) { (s, dir) =>
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("lang"), length(col("text")).cast("long").as("nc"),
          size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
            .cast("long").as("nb"),
          size(split(col("text"), " ", -1)).cast("long").as("nw"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("n_chars"),
          sum(col("nb")).as("n_bpe"),
          sum(col("nw")).as("n_ws"),
          (sum(col("nc")).cast("double") / sum(col("nb"))).as("chars_per_tok"),
          (sum(col("nb")).cast("double") / sum(col("nw"))).as("bpe_per_word"))
    },

    // --------------------------------------------------------------- q136
    // Split-leakage audit: assign train/eval folds the NAIVE way
    // (row-level doc_id hash, 5 folds) and count MinHash near-dup
    // candidate pairs (q58's 3×2 banding) that CROSS fold boundaries —
    // each one is a train/eval contamination path a row-level split
    // creates and a group-aware split would not. Output is the
    // fold-pair matrix with leak counts: the number every split design
    // review should see before training. Candidates come only from the
    // (band, band_key) equi-join (never all pairs), pair-deduped across
    // bands; fold arithmetic is the exact Knuth hash. Buckets over the
    // q87 stop cap (20 docs) DROP before pairing — template-universal
    // collisions, quadratic in bucket size (uncapped, sf0.1 expands
    // 7.2M pairs and benched 7.9s; capped it is bounded at C(20,2) per
    // bucket at ANY corpus size), and near-universal buckets carry no
    // split-design signal.
    Q(
      "q136_split_leakage",
      Some(s"""
        WITH ${bandedSql(3, 2)},
        keepb AS (
          SELECT band, band_key FROM banded
          GROUP BY band, band_key HAVING COUNT(*) <= $incrMaxBucket),
        bandedc AS (
          SELECT b.* FROM banded b JOIN keepb USING (band, band_key)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM bandedc a JOIN bandedc b
            ON a.band = b.band AND a.band_key = b.band_key AND b.doc_id > a.doc_id),
        f AS (
          SELECT da, db,
                 ${graft.Knuth.sql("da", 31)} % 5 AS fa,
                 ${graft.Knuth.sql("db", 31)} % 5 AS fb
          FROM pairs)
        SELECT least(fa, fb) AS fold_lo, greatest(fa, fb) AS fold_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN fa = fb THEN 0 ELSE 1 END) AS BIGINT) AS n_leaking
        FROM f GROUP BY 1, 2""")
    ) { (s, dir) =>
      val cfg = graft.operators.MinHashLsh.Config(
        bands = 3, rowsPerBand = 2, universal = true)
      val banded0 = graft.operators.MinHashLsh.explodeBands(
        t(s, dir, "documents").select("doc_id", "text"), "text", cfg)
        .select("doc_id", "band", "band_key")
      val keepb = banded0.groupBy("band", "band_key")
        .agg(count(lit(1)).as("nb")).filter(col("nb") <= incrMaxBucket)
        .select("band", "band_key")
      val banded = banded0.join(keepb, Seq("band", "band_key"))
      val pairs = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("b.doc_id") > col("a.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      def fold(c: Column) = graft.Knuth.col(c, 31) % 5
      pairs
        .withColumn("fa", fold(col("da")))
        .withColumn("fb", fold(col("db")))
        .groupBy(least(col("fa"), col("fb")).as("fold_lo"),
          greatest(col("fa"), col("fb")).as("fold_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("fa") === col("fb"), 0L).otherwise(1L)).as("n_leaking"))
    },

    // --------------------------------------------------------------- q148
    // Per-source novelty audit: for every document, the fraction of
    // its distinct 3-gram shingles whose GLOBAL first occurrence
    // (minimum doc_id across the corpus) is this document — new
    // content vs rehash of earlier material, rolled up per source
    // (novelty rate, plus the count of fully-derivative docs that
    // introduce nothing). The crawl-health complement to q140's exact
    // dedup and q144's syndication: those catch copies, this measures
    // how much NEW text a source contributes.
    // Scale: ONE corpus-gram shuffle — the first-seen aggregate
    // (map-side-combined min over injective int64 gram codes, never
    // strings) — and everything after is vocabulary- or doc-sized:
    // per-doc novel counts are the first-seen table re-grouped by its
    // winning doc (a gram is novel in exactly one doc), per-doc gram
    // counts are array sizes computed in the scan, and the two meet
    // in a doc-keyed join of ≤|docs| rows. The corpus-sized
    // gram-keyed join back (the naive form; measured 4.5 s at sf0.1
    // vs 1 s for this shape) never happens. All counts exact BIGINTs;
    // the rate is one final division of exact sums.
    Q(
      "q148_novelty_rate",
      Some(s"""
        WITH grams AS (
          SELECT doc_id, source, unnest($shinglesSql) AS g
          FROM documents WHERE length(text) >= 3),
        fs AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
        pd AS (
          SELECT gr.doc_id, gr.source,
                 CAST(COUNT(*) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_novel
          FROM grams gr JOIN fs f USING (g)
          GROUP BY gr.doc_id, gr.source)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_grams) AS BIGINT) AS n_grams,
               CAST(SUM(n_novel) AS BIGINT) AS n_novel,
               CAST(SUM(n_novel) AS DOUBLE) / SUM(n_grams) AS novelty_rate,
               CAST(SUM(CASE WHEN n_novel = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_derivative_docs
        FROM pd GROUP BY source""")
    ) { (s, dir) =>
      // injective gram CODES (GramCodeKernel): the one corpus shuffle
      // moves int64s, and |distinct grams| per doc is the array size —
      // no corpus-sized join back
      val docs = t(s, dir, "documents")
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("source"),
          graft.functions.Jaccard.gramCodes3(col("text")).as("grams"))
      val firstSeen = docs
        .select(col("doc_id"), explode(col("grams")).as("g"))
        .groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      // a gram is novel in exactly ONE doc — its first_doc — so per-doc
      // novel counts are the first-seen table re-grouped by winner
      val novel = firstSeen.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      val perDoc = docs
        .select(col("doc_id"), col("source"),
          size(col("grams")).cast("long").as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("n_grams"),
          sum(col("n_novel")).as("n_novel"),
          (sum(col("n_novel")).cast("double") / sum(col("n_grams")))
            .as("novelty_rate"),
          sum(when(col("n_novel") === 0, 1L).otherwise(0L))
            .as("n_derivative_docs"))
    },

    // --------------------------------------------------------------- q149
    // MinHash estimator calibration: over candidate pairs the q58
    // banding surfaces, compare the SIGNATURE-estimated Jaccard
    // (matching components / k, the estimator LSH banding implicitly
    // thresholds) against the EXACT 3-gram Jaccard — grouped by
    // match count into the estimator's own resolution steps. The
    // measurement that justifies a (bands, rows) config the way q146
    // justifies nProbe: recall curves mean nothing if the estimator
    // is biased on this corpus. Per-pair values quantize to exact
    // integer permille ((1000·x) div y — no float sums); the three
    // means are single divisions of exact sums.
    //
    // Scale contract: calibration is a MEASUREMENT, so it scores a
    // deterministic uniform 1/32 hash-sample of the candidate pairs
    // (Knuth mix of the ordered id pair — replayed bit-identically by
    // the oracle). A template-heavy corpus makes banding buckets
    // quadratic in bucket size (sf0.1 measured 6.1M candidate pairs
    // from 5 000 docs); scoring every pair with an exact intersection
    // is the one non-linear step, and sampling it is statistically
    // free for a bias estimate (each n_match stratum keeps thousands
    // of pairs, uniformly thinned). Per-doc gram sets are computed
    // ONCE (Checkpoints.materialize) and pairs intersect the precomputed
    // arrays — no per-pair re-shingling. Output is ≤ k+1 rows.
    Q(
      "q149_minhash_calibration",
      Some {
        val nMatch = (0 until 6).map(j =>
          s"CASE WHEN ma.h$j = mb.h$j THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        WITH ${bandedSql(3, 2)},
        pairs AS (
          SELECT doc_a, doc_b FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
                 AND b.doc_id > a.doc_id)
          WHERE ${graft.Knuth.sql("(doc_a * 524287 + doc_b)", 1117L)} % 32 = 0),
        scored AS (
          SELECT CAST($nMatch AS BIGINT) AS n_match,
                 CAST(len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))
                   AS BIGINT) AS n_common,
                 CAST(len(sa.grams) + len(sb.grams) AS BIGINT) AS n_total
          FROM pairs p
          JOIN mh ma ON ma.doc_id = p.doc_a
          JOIN mh mb ON mb.doc_id = p.doc_b
          JOIN sh sa ON sa.doc_id = p.doc_a
          JOIN sh sb ON sb.doc_id = p.doc_b)
        SELECT n_match,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM((1000 * n_match) // 6) AS DOUBLE) / COUNT(*)
                 AS mean_est_permille,
               CAST(SUM((1000 * n_common) // (n_total - n_common)) AS DOUBLE)
                 / COUNT(*) AS mean_exact_permille,
               CAST(SUM(abs((1000 * n_match) // 6
                            - (1000 * n_common) // (n_total - n_common)))
                 AS DOUBLE) / COUNT(*) AS mean_abs_err_permille
        FROM scored GROUP BY n_match"""
      }
    ) { (s, dir) =>
      val cfg = graft.operators.MinHashLsh.Config(
        bands = 3, rowsPerBand = 2, universal = true)
      // per-doc signature + SORTED injective gram-code array (an exact
      // image of the distinct 3-gram set — see GramCodeKernel), computed
      // ONCE and materialized: the banding, both pair sides, and the
      // exact intersection all read this checkpoint — the corpus kernel
      // never re-executes, no pair re-shingles text, and each pair's
      // |A∩B| is one allocation-free sorted merge
      // spread the signature kernel input (the q192 single-file-scan
      // cliff): the minhash + gram-code kernels otherwise run on the
      // single task a one-file corpus scans as
      val sigs = graft.Checkpoints.materialize(
        graft.Tables.spreadKernelInput(s, dir, Seq("documents"),
            t(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
          .filter(length(col("text")) >= 3)
          .select(col("doc_id"),
            graft.functions.MinHash.minhashFast(col("text"), cfg.numHashes)
              .as("sig"),
            graft.functions.Jaccard.gramCodes3(col("text")).as("grams"))
          .withColumn("n_grams", size(col("grams")).cast("long")))
      val banded = sigs.select(col("doc_id"),
        graft.operators.MinHashLsh.bandKeys(col("sig"), cfg))
      val pairs = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("b.doc_id") > col("a.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .filter(graft.Knuth.col(col("doc_a") * lit(524287L) + col("doc_b"), 1117L)
          % 32 === 0)
      val scored = pairs
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
          col("n_grams").as("ng_a"), col("grams").as("grams_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("n_grams").as("ng_b"), col("grams").as("grams_b")), "doc_b")
        // unrolled element compares, not aggregate(zip_with(...)) — the
        // HOF pair evaluates an interpreted lambda per row (q112 lesson)
        .withColumn("n_match",
          (0 until cfg.numHashes).map(j =>
            when(element_at(col("sig_a"), j + 1) ===
              element_at(col("sig_b"), j + 1), 1L).otherwise(0L))
            .reduce(_ + _))
        .withColumn("n_common",
          graft.functions.Jaccard.sortedIntersectCount(
            col("grams_a"), col("grams_b")))
        .withColumn("est_pm", expr("(1000 * n_match) div 6"))
        .withColumn("exact_pm",
          expr("(1000 * n_common) div (ng_a + ng_b - n_common)"))
      scored.groupBy("n_match")
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("est_pm")).cast("double") / count(lit(1)))
            .as("mean_est_permille"),
          (sum(col("exact_pm")).cast("double") / count(lit(1)))
            .as("mean_exact_permille"),
          (sum(abs(col("est_pm") - col("exact_pm"))).cast("double") / count(lit(1)))
            .as("mean_abs_err_permille"))
    },

    // ---------------------------------------------------------------- q159
    // Phrase search over a positional inverted index: the corpus'
    // top-3 word trigrams (count desc, phrase asc — total order) are
    // the query phrases; each is matched by POSTINGS INTERSECTION —
    // (term, doc, pos) postings filtered to the phrase vocabulary by
    // one broadcast semi-join, then two keyed self-joins on
    // (doc_id, pos+offset) chain the phrase words in order. For a
    // fixed-length phrase this equals the trivial n-gram equi-join
    // (the oracle's form — same output, one pass); the postings form
    // is the one that generalizes to arbitrary phrase length and
    // proximity/slop windows WITHOUT materializing every n-gram of
    // every length. Scale: postings are corpus-token-sized but the
    // vocabulary prefilter drops every term not in a query phrase
    // before any shuffle; the intersection joins are equi-joins keyed
    // on (doc_id, pos) — selectivity is the searched terms' document
    // frequency, never the corpus. All counts exact BIGINT.
    Q(
      "q159_phrase_search",
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        tri AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(tk) - 1),
                   i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]
                        || ' ' || tk[CAST(i AS INT) + 2])) AS phrase
          FROM tok WHERE len(tk) >= 3),
        top3 AS (
          SELECT phrase, COUNT(*) AS n FROM tri GROUP BY phrase
          ORDER BY n DESC, phrase LIMIT 3)
        SELECT t.phrase, CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs
        FROM tri t JOIN top3 USING (phrase)
        GROUP BY t.phrase""")
    ) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .withColumn("tk", split(col("text"), " "))
      // the query phrases: top-3 trigrams under a pinned total order
      val phrases = tok.filter(size(col("tk")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', " +
            "element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))"))
          .as("phrase"))
        .groupBy("phrase").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("phrase")).limit(3)
      val pw = phrases.select(col("phrase"),
        split(col("phrase"), " ").as("w"))
        .select(col("phrase"), expr("w[0]").as("w1"),
          expr("w[1]").as("w2"), expr("w[2]").as("w3"))
      // positional postings, prefiltered to the phrase vocabulary
      val vocab = pw.select(explode(array(col("w1"), col("w2"), col("w3")))
        .as("term")).distinct()
      val post = tok
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "term")))
        .join(broadcast(vocab), Seq("term"), "left_semi")
      // intersection chain: starts at w1, extends through w2 then w3
      val starts = post.join(broadcast(pw), col("term") === col("w1"))
        .select(col("phrase"), col("w2"), col("w3"), col("doc_id"), col("pos"))
      // the filtered postings are df(term)-sized — they GROW with the
      // corpus (the searched words are the most frequent ones), so the
      // positional joins must stay sort-merge on (doc_id, pos), never
      // a broadcast of a corpus-derived side (the q94 lesson; pinned
      // in PlanSpec)
      val p2 = post.select(col("doc_id").as("d2"), col("pos").as("q2"),
        col("term").as("t2")).hint("merge")
      val p3 = post.select(col("doc_id").as("d3"), col("pos").as("q3"),
        col("term").as("t3")).hint("merge")
      val hits = starts
        .join(p2, col("d2") === col("doc_id") && col("q2") === col("pos") + 1 &&
          col("t2") === col("w2"))
        .join(p3, col("d3") === col("doc_id") && col("q3") === col("pos") + 2 &&
          col("t3") === col("w3"))
      hits.groupBy("phrase")
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("doc_id")).as("n_docs"))
    },

    // --------------------------------------------------------------- q163
    // Near-dup METHOD EVALUATION: precision/recall of the two cheap
    // detectors this engine ships — MinHash 6-component signatures
    // (predict dup when ≥ 4 components match, the est-Jaccard ≥ 667
    // threshold) and SimHash16 (predict dup when hamming ≤ 3, the q69
    // rule) — against EXACT 3-gram Jaccard ≥ 0.5 ground truth, on a
    // deterministic uniform 1/64 Knuth sample of ALL ordered doc
    // pairs. This is the measurement that justifies picking q58's
    // banding or q69's hamming rule for a corpus, the way q149
    // calibrates the estimator and q146 the ANN probes.
    // Scale contract: the pair universe is quadratic BY DEFINITION
    // (evaluation needs true negatives, which no banding surfaces) —
    // the declared sample rate is the knob, and per sampled pair the
    // exact side is one allocation-free sorted merge of precomputed
    // int64 gram codes (GramCodeKernel; per-doc state computed once,
    // materialized). At production scale the same harness runs
    // over a doc-level sample first; nothing else changes.
    Q(
      "q163_neardup_eval",
      Some {
        val nMatch = (0 until 6).map(j =>
          s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        WITH ${minhashSql(6)},
        sims AS ($simhashDocsSql),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b ON b.doc_id > a.doc_id
          WHERE ${graft.Knuth.sql("(a.doc_id * 524287 + b.doc_id)", 2803L)}
                % 64 = 0),
        scored AS (
          SELECT
            CAST(len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))
              AS BIGINT) AS n_common,
            CAST(len(sa.grams) + len(sb.grams) AS BIGINT) AS n_total,
            CAST($nMatch AS BIGINT) AS n_match,
            CAST(bit_count(xor(va.simhash, vb.simhash)) AS BIGINT) AS hamming
          FROM pairs p
          JOIN sh sa ON sa.doc_id = p.doc_a
          JOIN sh sb ON sb.doc_id = p.doc_b
          JOIN mh a ON a.doc_id = p.doc_a
          JOIN mh b ON b.doc_id = p.doc_b
          JOIN sims va ON va.doc_id = p.doc_a
          JOIN sims vb ON vb.doc_id = p.doc_b),
        lab AS (
          SELECT (1000 * n_common) // (n_total - n_common) >= 500 AS is_dup,
                 n_match >= 4 AS mh_pred,
                 hamming <= 3 AS sh_pred
          FROM scored),
        cm AS (
          SELECT 'minhash_b3r2' AS method,
                 CAST(SUM(CASE WHEN is_dup AND mh_pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN NOT is_dup AND mh_pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN is_dup AND NOT mh_pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                 CAST(SUM(CASE WHEN NOT is_dup AND NOT mh_pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM lab
          UNION ALL
          SELECT 'simhash16_h3',
                 CAST(SUM(CASE WHEN is_dup AND sh_pred THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN NOT is_dup AND sh_pred THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN is_dup AND NOT sh_pred THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN NOT is_dup AND NOT sh_pred THEN 1 ELSE 0 END) AS BIGINT)
          FROM lab)
        SELECT method, tp, fp, fn, tn,
               CAST(CASE WHEN tp + fp = 0 THEN -1
                    ELSE (1000 * tp) // (tp + fp) END AS BIGINT)
                 AS precision_permille,
               CAST(CASE WHEN tp + fn = 0 THEN -1
                    ELSE (1000 * tp) // (tp + fn) END AS BIGINT)
                 AS recall_permille
        FROM cm"""
      }
    ) { (s, dir) =>
      // per-doc detector state, ONE corpus pass, materialized: minhash
      // signature, simhash, sorted gram codes
      val sigs = graft.Checkpoints.materialize(
        t(s, dir, "documents")
          .filter(length(col("text")) >= 3)
          .select(col("doc_id"),
            graft.functions.MinHash.minhashFast(col("text"), 6).as("sig"),
            graft.functions.SimHash.simhash16(col("text")).as("simhash"),
            graft.functions.Jaccard.gramCodes3(col("text")).as("grams")))
      // sampled upper-triangle pair universe: the join CONDITION
      // carries the Knuth thinning, so the nested-loop join emits only
      // sampled pairs — never a materialized n² set
      val pairs = sigs.as("a")
        .join(sigs.as("b"),
          col("b.doc_id") > col("a.doc_id") &&
            graft.Knuth.col(col("a.doc_id") * lit(524287L) + col("b.doc_id"),
              2803L) % 64 === 0)
        .select(
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"),
          col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"),
          col("a.grams").as("grams_a"), col("b.grams").as("grams_b"))
      val lab = pairs
        .withColumn("n_common", graft.functions.Jaccard.sortedIntersectCount(
          col("grams_a"), col("grams_b")))
        .withColumn("n_total",
          (size(col("grams_a")) + size(col("grams_b"))).cast("long"))
        .withColumn("n_match",
          (0 until 6).map(j =>
            when(element_at(col("sig_a"), j + 1) ===
              element_at(col("sig_b"), j + 1), 1L).otherwise(0L))
            .reduce(_ + _))
        .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
        .select(
          expr("(1000 * n_common) div (n_total - n_common) >= 500").as("is_dup"),
          (col("n_match") >= 4).as("mh_pred"),
          (col("hamming") <= 3).as("sh_pred"))
      // BOTH confusion matrices in ONE aggregation pass (two separate
      // .agg calls would re-execute the pair join per method), then an
      // unpivot to one row per method
      def cm(pred: Column, tag: String) = Seq(
        sum(when(col("is_dup") && pred, 1L).otherwise(0L)).as(s"${tag}_tp"),
        sum(when(!col("is_dup") && pred, 1L).otherwise(0L)).as(s"${tag}_fp"),
        sum(when(col("is_dup") && !pred, 1L).otherwise(0L)).as(s"${tag}_fn"),
        sum(when(!col("is_dup") && !pred, 1L).otherwise(0L)).as(s"${tag}_tn"))
      val sums = cm(col("mh_pred"), "mh") ++ cm(col("sh_pred"), "sh")
      lab.agg(sums.head, sums.tail: _*)
        .select(expr(
          """stack(2,
             'minhash_b3r2', mh_tp, mh_fp, mh_fn, mh_tn,
             'simhash16_h3', sh_tp, sh_fp, sh_fn, sh_tn)
             AS (method, tp, fp, fn, tn)"""))
        .select(col("method"), col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") === 0, -1L)
            .otherwise(expr("(1000 * tp) div (tp + fp)"))
            .as("precision_permille"),
          when(col("tp") + col("fn") === 0, -1L)
            .otherwise(expr("(1000 * tp) div (tp + fn)"))
            .as("recall_permille"))
    },

    // --------------------------------------------------------------- q268
    // Dedup-threshold precision/recall CURVE — q163 publishes two
    // detectors at FIXED operating points; this publishes the
    // MinHash agreement knob's whole tuning surface, the way q146
    // sweeps nProbe and q263 sweeps replication: for every threshold
    // k ∈ 1..6 ("call it a dup when ≥ k of 6 signature components
    // agree"), the confusion matrix against exact-Jaccard ≥ 0.5
    // ground truth on the SAME Knuth-thinned sampled pair universe.
    // All six operating points ride ONE pair pass (6×3 conditional
    // sums in a single aggregate — the q251/q237 lesson: sweep
    // variants are columns, not re-executions), then stack to six
    // rows. Precision rises and recall falls monotonically in k BY
    // CONSTRUCTION (the predicted-positive set shrinks as k grows —
    // tp and fp are non-increasing; StatsEvalSpec3 pins recall's
    // monotone fall and the q163 cross-point). The curve is how a
    // production dedup picks its threshold: the knee, not a guess.
    Q(
      "q268_threshold_curve",
      Some {
        val nMatch = (0 until 6).map(j =>
          s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END").mkString(" + ")
        val cmCols = (1 to 6).map(k =>
          s"""CAST(SUM(CASE WHEN is_dup AND n_match >= $k THEN 1 ELSE 0 END) AS BIGINT) AS tp_$k,
                 CAST(SUM(CASE WHEN NOT is_dup AND n_match >= $k THEN 1 ELSE 0 END) AS BIGINT) AS fp_$k,
                 CAST(SUM(CASE WHEN is_dup AND n_match < $k THEN 1 ELSE 0 END) AS BIGINT) AS fn_$k""")
          .mkString(",\n                 ")
        val unpivot = (1 to 6).map(k =>
          s"SELECT CAST($k AS BIGINT) AS k, tp_$k AS tp, fp_$k AS fp, fn_$k AS fn FROM cm")
          .mkString("\n          UNION ALL\n          ")
        s"""
        WITH ${minhashSql(6)},
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b ON b.doc_id > a.doc_id
          WHERE ${graft.Knuth.sql("(a.doc_id * 524287 + b.doc_id)", 2803L)}
                % 64 = 0),
        lab AS (
          SELECT
            (1000 * CAST(len(list_filter(sa.grams, g -> list_contains(sb.grams, g))) AS BIGINT))
              // (CAST(len(sa.grams) + len(sb.grams) AS BIGINT)
                 - CAST(len(list_filter(sa.grams, g -> list_contains(sb.grams, g))) AS BIGINT))
              >= 500 AS is_dup,
            CAST($nMatch AS BIGINT) AS n_match
          FROM pairs p
          JOIN sh sa ON sa.doc_id = p.doc_a
          JOIN sh sb ON sb.doc_id = p.doc_b
          JOIN mh a ON a.doc_id = p.doc_a
          JOIN mh b ON b.doc_id = p.doc_b),
        cm AS (
          SELECT $cmCols
          FROM lab),
        pts AS (
          $unpivot)
        SELECT k, tp, fp, fn,
               CAST(CASE WHEN tp + fp = 0 THEN -1
                    ELSE (1000 * tp) // (tp + fp) END AS BIGINT)
                 AS precision_permille,
               CAST(CASE WHEN tp + fn = 0 THEN -1
                    ELSE (1000 * tp) // (tp + fn) END AS BIGINT)
                 AS recall_permille
        FROM pts"""
      }
    ) { (s, dir) =>
      val sigs = graft.Checkpoints.materialize(
        t(s, dir, "documents")
          .filter(length(col("text")) >= 3)
          .select(col("doc_id"),
            graft.functions.MinHash.minhashFast(col("text"), 6).as("sig"),
            graft.functions.Jaccard.gramCodes3(col("text")).as("grams")))
      val pairs = sigs.as("a")
        .join(sigs.as("b"),
          col("b.doc_id") > col("a.doc_id") &&
            graft.Knuth.col(col("a.doc_id") * lit(524287L) + col("b.doc_id"),
              2803L) % 64 === 0)
        .select(col("a.sig").as("sig_a"), col("b.sig").as("sig_b"),
          col("a.grams").as("grams_a"), col("b.grams").as("grams_b"))
      val lab = pairs
        .withColumn("n_common", graft.functions.Jaccard.sortedIntersectCount(
          col("grams_a"), col("grams_b")))
        .withColumn("n_total",
          (size(col("grams_a")) + size(col("grams_b"))).cast("long"))
        .withColumn("n_match",
          (0 until 6).map(j =>
            when(element_at(col("sig_a"), j + 1) ===
              element_at(col("sig_b"), j + 1), 1L).otherwise(0L))
            .reduce(_ + _))
        .select(
          expr("(1000 * n_common) div (n_total - n_common) >= 500").as("is_dup"),
          col("n_match"))
      val sums = (1 to 6).flatMap(k => Seq(
        sum(when(col("is_dup") && col("n_match") >= k, 1L).otherwise(0L))
          .as(s"tp_$k"),
        sum(when(!col("is_dup") && col("n_match") >= k, 1L).otherwise(0L))
          .as(s"fp_$k"),
        sum(when(col("is_dup") && col("n_match") < k, 1L).otherwise(0L))
          .as(s"fn_$k")))
      val stackArgs = (1 to 6).map(k =>
        s"CAST($k AS BIGINT), tp_$k, fp_$k, fn_$k").mkString(", ")
      lab.agg(sums.head, sums.tail: _*)
        .select(expr(s"stack(6, $stackArgs) AS (k, tp, fp, fn)"))
        .select(col("k"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") === 0, -1L)
            .otherwise(expr("(1000 * tp) div (tp + fp)"))
            .as("precision_permille"),
          when(col("tp") + col("fn") === 0, -1L)
            .otherwise(expr("(1000 * tp) div (tp + fn)"))
            .as("recall_permille"))
    },

    // --------------------------------------------------------------- q164
    // n-gram language identification with a held-out audit: per-
    // language character-trigram PROFILES (the 64 most document-
    // frequent distinct trigrams, count desc / gram asc — the
    // classic n-gram-profile langid heuristic) are trained on the
    // even-doc_id half of the corpus and classify the odd half by
    // argmax profile overlap (ties → language asc; zero overlap →
    // '(none)'). Output is the full confusion matrix against the
    // labeled lang column — the measurement that decides whether the
    // heuristic is good enough to route untagged crawl data.
    // Scale: training is ONE corpus-gram shuffle into a doc-frequency
    // table that immediately collapses to ≤ 64·|langs| profile rows;
    // classification BROADCASTS that profile to a map-side join of
    // the test half (overlap counts aggregate per doc — no test-
    // corpus shuffle wider than its doc count), so the quadratic-
    // looking doc×language scoring is really corpus-linear. Gram
    // identity is the injective int64 code (GramCodeKernel), whose
    // ordering equals UTF-8 binary string order — so the count-desc/
    // gram-asc tie-break replays identically against the oracle's
    // string grams.
    Q(
      "q164_langid_ngram",
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang, doc_id % 2 = 0 AS is_train, $shinglesSql AS grams
          FROM documents WHERE length(text) >= 3),
        df AS (
          SELECT lang, g, COUNT(*) AS c
          FROM (SELECT lang, unnest(grams) AS g FROM d WHERE is_train)
          GROUP BY lang, g),
        prof AS (
          SELECT lang AS pl, g FROM (
            SELECT lang, g,
                   row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS r
            FROM df)
          WHERE r <= 64),
        ov AS (
          SELECT t.doc_id, t.lang, p.pl, COUNT(*) AS c
          FROM (SELECT doc_id, lang, unnest(grams) AS g FROM d WHERE NOT is_train) t
          JOIN prof p USING (g)
          GROUP BY 1, 2, 3),
        best AS (
          SELECT doc_id, pl FROM (
            SELECT doc_id, pl,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, pl) AS r
            FROM ov)
          WHERE r = 1)
        SELECT a.lang, COALESCE(b.pl, '(none)') AS pred_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM (SELECT doc_id, lang FROM d WHERE NOT is_train) a
        LEFT JOIN best b USING (doc_id)
        GROUP BY 1, 2""")
    ) { (s, dir) =>
      val d = t(s, dir, "documents")
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("lang"),
          (col("doc_id") % 2 === 0).as("is_train"),
          graft.functions.Jaccard.gramCodes3(col("text")).as("grams"))
      val df = d.filter(col("is_train"))
        .select(col("lang"), explode(col("grams")).as("g"))
        .groupBy("lang", "g").agg(count(lit(1)).as("c"))
      val wProf = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("c").desc, col("g"))
      val prof = df.withColumn("r", row_number().over(wProf))
        .filter(col("r") <= 64)
        .select(col("lang").as("pl"), col("g"))
      val ov = d.filter(!col("is_train"))
        .select(col("doc_id"), col("lang"), explode(col("grams")).as("g"))
        .join(broadcast(prof), Seq("g"))
        .groupBy("doc_id", "lang", "pl").agg(count(lit(1)).as("c"))
      val wBest = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("c").desc, col("pl"))
      val best = ov.withColumn("r", row_number().over(wBest))
        .filter(col("r") === 1).select(col("doc_id"), col("pl"))
      d.filter(!col("is_train")).select(col("doc_id"), col("lang"))
        .join(best, Seq("doc_id"), "left")
        .groupBy(col("lang"), coalesce(col("pl"), lit("(none)")).as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
    },

    // --------------------------------------------------------------- q169
    // Boilerplate-share audit: a 3-gram shingle is BOILERPLATE when it
    // appears in ≥ 20% of all documents (5·df ≥ n_docs — exact integer,
    // no division); per document the boilerplate share is the fraction
    // of its distinct grams that are boilerplate, rolled up per source
    // (share permille, heavy docs ≥ 90% boilerplate — the 50% rule
    // saturates on this template corpus, every doc clears it; 90%
    // separates the worst tail of the measured 795–968‰ range, worst
    // doc) — the
    // template/navigation-chrome measurement a crawl-curation pass cuts
    // on, complementing q148 (novelty = who WROTE it first) with
    // commonness (how much of this doc is corpus wallpaper). Scale: the
    // doc-frequency table lives in VOCABULARY space, and a character
    // 3-gram vocabulary is bounded by charset³ — it saturates no matter
    // how large the corpus grows — so the planner's choice to BROADCAST
    // it (pinned in PlanSpec) is sound at any scale, and the probe-side
    // gram stream never shuffles at all: it flows map-side through the
    // broadcast join into the (doc_id, source) partial aggregate, so
    // the only corpus-sized exchange is per-doc partial rows. One
    // gram-keyed shuffle builds df; grams ride as injective int64
    // codes, never strings; the doc-count threshold is a one-row
    // broadcast; everything after is source-sized.
    Q(
      "q169_boilerplate",
      Some(s"""
        WITH grams AS (
          SELECT doc_id, source, unnest($shinglesSql) AS g
          FROM documents WHERE length(text) >= 3),
        nd AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents WHERE length(text) >= 3),
        df AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY g),
        pd AS (
          SELECT gr.doc_id, gr.source,
                 CAST(COUNT(*) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN 5 * df.df >= nd.n_docs THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_boiler
          FROM grams gr JOIN df USING (g) CROSS JOIN nd
          GROUP BY gr.doc_id, gr.source)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_grams) AS BIGINT) AS n_grams,
               CAST(SUM(n_boiler) AS BIGINT) AS n_boiler,
               CAST((1000 * SUM(n_boiler)) // SUM(n_grams) AS BIGINT)
                 AS boiler_permille,
               CAST(SUM(CASE WHEN 10 * n_boiler >= 9 * n_grams THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_heavy_docs,
               CAST(MAX((1000 * n_boiler) // n_grams) AS BIGINT)
                 AS max_doc_permille
        FROM pd GROUP BY source""")
    ) { (s, dir) =>
      val base = t(s, dir, "documents").filter(length(col("text")) >= 3)
      val grams = base.select(col("doc_id"), col("source"),
        explode(graft.functions.Jaccard.gramCodes3(col("text"))).as("g"))
      val dfTab = grams.groupBy("g").agg(count(lit(1)).as("df"))
      val nd = broadcast(base.agg(count(lit(1)).as("n_docs")))
      val pd = grams.join(dfTab, "g").crossJoin(nd)
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") * 5 >= col("n_docs"), 1L).otherwise(0L))
            .as("n_boiler"))
      pd.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("n_grams"),
          sum(col("n_boiler")).as("n_boiler"),
          expr("(1000 * sum(n_boiler)) div sum(n_grams)")
            .as("boiler_permille"),
          sum(when(col("n_boiler") * 10 >= col("n_grams") * 9, 1L).otherwise(0L))
            .as("n_heavy_docs"),
          max(expr("(1000 * n_boiler) div n_grams")).as("max_doc_permille"))
    },

    // --------------------------------------------------------------- q172
    // Vocabulary-growth (Heaps' law) audit: how many NEVER-BEFORE-SEEN
    // 3-grams each doc_id decile of the corpus introduces, against the
    // gram instances it carries — the curve that says whether a corpus
    // is still yielding new vocabulary or has gone to wallpaper (its
    // flattening rate is the empirical Heaps exponent; the projection
    // that sizes a tokenizer vocab before training). Deciles are
    // VALUE-range buckets of doc_id ((doc_id·10) div (max+1) — one
    // broadcast max, no global row-number sort), "first seen" is
    // q148's min-doc_id-per-gram aggregate, so the corpus pays ONE
    // gram-keyed shuffle and the decile rollups are bucket-sized; the
    // cumulative-vocab window runs over 10 rows.
    Q(
      "q172_vocab_growth",
      Some(s"""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE length(text) >= 3),
        grams AS (
          SELECT doc_id, unnest($shinglesSql) AS g FROM base),
        mx AS (SELECT MAX(doc_id) AS mxd FROM base),
        dcount AS (
          SELECT (doc_id * 10) // (mxd + 1) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM base CROSS JOIN mx GROUP BY 1),
        inst AS (
          SELECT (doc_id * 10) // (mxd + 1) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_instances
          FROM grams CROSS JOIN mx GROUP BY 1),
        fs AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
        nw AS (
          SELECT (first_doc * 10) // (mxd + 1) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_new
          FROM fs CROSS JOIN mx GROUP BY 1)
        SELECT d.bucket, d.n_docs, i.n_instances,
               COALESCE(nw.n_new, 0) AS n_new_grams,
               CAST(SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY d.bucket)
                 AS BIGINT) AS cum_vocab,
               (1000 * COALESCE(nw.n_new, 0)) // i.n_instances
                 AS novelty_permille
        FROM dcount d JOIN inst i USING (bucket)
        LEFT JOIN nw USING (bucket)""")
    ) { (s, dir) =>
      val base = t(s, dir, "documents").filter(length(col("text")) >= 3)
        .select("doc_id", "text")
      val mx = broadcast(base.agg(max("doc_id").as("mxd")))
      val grams = base.select(col("doc_id"),
        explode(graft.functions.Jaccard.gramCodes3(col("text"))).as("g"))
      val dcount = base.crossJoin(mx)
        .groupBy(expr("(doc_id * 10) div (mxd + 1)").as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
      val inst = grams.crossJoin(mx)
        .groupBy(expr("(doc_id * 10) div (mxd + 1)").as("bucket"))
        .agg(count(lit(1)).as("n_instances"))
      val nw = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
        .crossJoin(mx)
        .groupBy(expr("(first_doc * 10) div (mxd + 1)").as("bucket"))
        .agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dcount.join(inst, "bucket").join(nw, Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"), col("n_instances"),
          coalesce(col("n_new"), lit(0L)).as("n_new_grams"))
        .withColumn("cum_vocab", sum(col("n_new_grams")).over(w))
        .withColumn("novelty_permille",
          expr("(1000 * n_new_grams) div n_instances"))
    },

    // --------------------------------------------------------------- q174
    // Asymmetric-containment classification of the q58 banding
    // candidates: Jaccard is SYMMETRIC, so a short doc quoted whole
    // inside a long one scores low and the near-dup pass misses the
    // relationship; containment C(a→b) = |A∩B|/|A| is the directional
    // fix (Broder's original distinction). Every banding candidate
    // pair gets both containments plus Jaccard and a relation class:
    // near_dup (J ≥ ⅔ — q58's threshold), contains (either direction
    // ≥ 80% while the pair is NOT a near-dup: the quote/superset
    // queue), overlap otherwise. Scale: candidates come only from the
    // (band, band_key) equi-join (q58's contract, never all pairs),
    // AND buckets larger than 16 members are dropped (q87's stop-
    // bucket cap): on this template corpus the uncapped candidate set
    // measured 65k pairs at sf0.01 / 7.5–13 s at sf0.1 — the giant
    // buckets are exactly the wallpaper whose members near-dup
    // EVERYTHING, so pairing them is O(bucket²) work that q26/q58/q66
    // already report; the declared recall contract is "containment
    // relations among docs that are not wholesale template copies".
    // Per surviving pair the exact intersection is one allocation-free
    // sorted merge of the checkpointed int64 gram codes (the q149
    // kernel path — no pair re-shingles text).
    Q(
      "q174_containment",
      Some(s"""
        WITH ${bandedSql(3, 2)},
        small AS (
          SELECT band, band_key FROM banded
          GROUP BY band, band_key HAVING COUNT(*) <= 16),
        kept AS (
          SELECT b.doc_id, b.band, b.band_key
          FROM banded b JOIN small s
            ON s.band = b.band AND s.band_key = b.band_key),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.band_key = b.band_key
               AND b.doc_id > a.doc_id),
        scored AS (
          SELECT doc_a, doc_b,
                 CAST(len(sa.grams) AS BIGINT) AS ng_a,
                 CAST(len(sb.grams) AS BIGINT) AS ng_b,
                 CAST(len(list_filter(sa.grams, g -> list_contains(sb.grams, g)))
                   AS BIGINT) AS n_common
          FROM pairs p
          JOIN sh sa ON sa.doc_id = p.doc_a
          JOIN sh sb ON sb.doc_id = p.doc_b),
        cls AS (
          SELECT doc_a, doc_b, ng_a, ng_b, n_common,
                 (1000 * n_common) // ng_a AS cont_a_permille,
                 (1000 * n_common) // ng_b AS cont_b_permille,
                 (1000 * n_common) // (ng_a + ng_b - n_common)
                   AS jaccard_permille
          FROM scored)
        SELECT doc_a, doc_b, ng_a, ng_b, n_common,
               cont_a_permille, cont_b_permille, jaccard_permille,
               CASE WHEN 3 * jaccard_permille >= 2000 THEN 'near_dup'
                    WHEN cont_a_permille >= 800 OR cont_b_permille >= 800
                      THEN 'contains'
                    ELSE 'overlap' END AS relation
        FROM cls""")
    ) { (s, dir) =>
      val cfg = graft.operators.MinHashLsh.Config(
        bands = 3, rowsPerBand = 2, universal = true)
      val sigs = graft.Checkpoints.materialize(
        t(s, dir, "documents")
          .filter(length(col("text")) >= 3)
          .select(col("doc_id"),
            graft.functions.MinHash.minhashFast(col("text"), cfg.numHashes)
              .as("sig"),
            graft.functions.Jaccard.gramCodes3(col("text")).as("grams"))
          .withColumn("n_grams", size(col("grams")).cast("long")))
      val banded = sigs.select(col("doc_id"),
        graft.operators.MinHashLsh.bandKeys(col("sig"), cfg))
      val small = banded.groupBy("band", "band_key")
        .agg(count(lit(1)).as("bn")).filter(col("bn") <= 16)
        .select("band", "band_key")
      val kept = banded.join(small, Seq("band", "band_key"))
      val pairs = kept.as("a")
        .join(kept.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") &&
            col("b.doc_id") > col("a.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      pairs
        .join(sigs.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"),
          col("n_grams").as("ng_a")), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"),
          col("n_grams").as("ng_b")), "doc_b")
        .withColumn("n_common", graft.functions.Jaccard.sortedIntersectCount(
          col("grams_a"), col("grams_b")))
        .withColumn("cont_a_permille", expr("(1000 * n_common) div ng_a"))
        .withColumn("cont_b_permille", expr("(1000 * n_common) div ng_b"))
        .withColumn("jaccard_permille",
          expr("(1000 * n_common) div (ng_a + ng_b - n_common)"))
        .withColumn("relation",
          when(col("jaccard_permille") * 3 >= 2000, "near_dup")
            .when(col("cont_a_permille") >= 800 ||
              col("cont_b_permille") >= 800, "contains")
            .otherwise("overlap"))
        .select("doc_a", "doc_b", "ng_a", "ng_b", "n_common",
          "cont_a_permille", "cont_b_permille", "jaccard_permille", "relation")
    },

    // --------------------------------------------------------------- q185
    // Sampled Kendall rank correlation between document length and
    // stopword hits — "does quality track length on this corpus?",
    // answered WITHOUT the global ranking Spearman needs (a corpus-
    // wide sort) and without floats: Kendall's tau is pure pair
    // comparisons, so a deterministic 1/64 Knuth sample of ordered
    // pairs (q163's thinning-in-the-join-condition move — the sampled
    // pair set never materializes n²) yields exact concordant /
    // discordant / tie counts and tau-a = (C − D)/n in integer
    // permille. The declared sample rate is the scale knob, exactly
    // as in q163; every comparison is exact BIGINT.
    Q(
      "q185_kendall_sampled",
      Some(s"""
        WITH f AS (
          SELECT doc_id, CAST(length(text) AS BIGINT) AS x,
                 CAST(len(list_filter(string_split(text, ' '),
                   t -> t IN ('the','and','of','to','in','a'))) AS BIGINT) AS y
          FROM documents),
        p AS (
          SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
          FROM f a JOIN f b ON b.doc_id > a.doc_id
          WHERE (${graft.Knuth.sql("(a.doc_id * 524287 + b.doc_id)", 6007L)})
                % 64 = 0)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN (xa > xb AND ya > yb)
                              OR (xa < xb AND ya < yb)
                        THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
               CAST(SUM(CASE WHEN (xa > xb AND ya < yb)
                              OR (xa < xb AND ya > yb)
                        THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
               CAST(SUM(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END)
                 AS BIGINT) AS ties_x,
               CAST(SUM(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END)
                 AS BIGINT) AS ties_y,
               CAST(SUM(CASE WHEN xa = xb AND ya = yb THEN 1 ELSE 0 END)
                 AS BIGINT) AS ties_both,
               CAST((1000 * (SUM(CASE WHEN (xa > xb AND ya > yb)
                                       OR (xa < xb AND ya < yb)
                                 THEN 1 ELSE 0 END)
                             - SUM(CASE WHEN (xa > xb AND ya < yb)
                                         OR (xa < xb AND ya > yb)
                                   THEN 1 ELSE 0 END))) // COUNT(*)
                 AS BIGINT) AS tau_a_permille
        FROM p""")
    ) { (s, dir) =>
      val f = t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("x"),
          expr("CAST(size(filter(split(text, ' '), " +
            "t -> t IN ('the','and','of','to','in','a'))) AS BIGINT)").as("y"))
      val p = f.as("a").join(f.as("b"),
        col("b.doc_id") > col("a.doc_id") &&
          graft.Knuth.col(col("a.doc_id") * lit(524287L) + col("b.doc_id"),
            6007L) % 64 === 0)
        .select(col("a.x").as("xa"), col("a.y").as("ya"),
          col("b.x").as("xb"), col("b.y").as("yb"))
      val conc = (col("xa") > col("xb") && col("ya") > col("yb")) ||
        (col("xa") < col("xb") && col("ya") < col("yb"))
      val disc = (col("xa") > col("xb") && col("ya") < col("yb")) ||
        (col("xa") < col("xb") && col("ya") > col("yb"))
      p.agg(count(lit(1)).as("n_pairs"),
          sum(when(conc, 1L).otherwise(0L)).as("concordant"),
          sum(when(disc, 1L).otherwise(0L)).as("discordant"),
          sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"), 1L)
            .otherwise(0L)).as("ties_x"),
          sum(when(col("ya") === col("yb") && col("xa") =!= col("xb"), 1L)
            .otherwise(0L)).as("ties_y"),
          sum(when(col("xa") === col("xb") && col("ya") === col("yb"), 1L)
            .otherwise(0L)).as("ties_both"))
        .withColumn("tau_a_permille",
          expr("(1000 * (concordant - discordant)) div n_pairs"))
    },

    // --------------------------------------------------------------- q192
    // Leakage-safe train/val/test split audit: assigning docs to
    // splits by hashing the doc id puts near-duplicates on BOTH sides
    // of the train/test wall (the eval-contamination bug); hashing
    // the q66 dedup CLUSTER id keeps every near-dup family on one
    // side. Both strategies are scored side by side: leakage is
    // counted per (band, band_key) bucket by the identity
    //   cross-split incidences = (n·(n−1) − Σₛ nₛ·(nₛ−1)) / 2
    // — pure bucket aggregates, the q66 move again: the banding graph
    // is audited through its group counts, never a pair explosion, so
    // the audit costs the same two keyed shuffles per strategy at any
    // corpus size. Split fractions are 8/1/1 by the shared Knuth
    // stream. (Incidences count bucket co-occurrences, not distinct
    // pairs — a pair sharing two buckets counts twice; same
    // monotone signal, no pairwise materialization.)
    //
    // Banding is 1 band × 6 rows from the UNIVERSAL hash family
    // (q58's Carter–Wegman construction: one multiply-add-mod per
    // shingle per seed where the md5 family digests the shingle 6
    // times — the q192 kernel was 64 s of md5 at the 25× fixture and
    // ~3 s universal) — the near-EXACT end of the LSH
    // dial (all 6 minima must agree): this template-heavy corpus
    // collapses to a handful of mega-clusters under the recall-
    // oriented 3×2 config (q66), which makes any whole-cluster split
    // degenerate — itself a real finding the audit would surface.
    // Splitting at the near-exact threshold keeps families small and
    // the 8/1/1 fractions real while still walling every signature
    // family off the eval side.
    Q(
      "q192_leakage_safe_split",
      Some {
        def auditSql(sp: String, label: String) = s"""
        SELECT '$label' AS strategy,
               (SELECT CAST(SUM(CASE WHEN $sp <= 7 THEN 1 ELSE 0 END) AS BIGINT)
                FROM splits) AS n_train,
               (SELECT CAST(SUM(CASE WHEN $sp = 8 THEN 1 ELSE 0 END) AS BIGINT)
                FROM splits) AS n_val,
               (SELECT CAST(SUM(CASE WHEN $sp = 9 THEN 1 ELSE 0 END) AS BIGINT)
                FROM splits) AS n_test,
               (SELECT CAST(SUM(n * (n - 1) - intra) // 2 AS BIGINT) FROM (
                  SELECT SUM(ns) AS n, SUM(ns * (ns - 1)) AS intra FROM (
                    SELECT b.band, b.band_key, s.$sp, COUNT(*) AS ns
                    FROM banded b JOIN splits s ON s.doc_id = b.doc_id
                    GROUP BY 1, 2, 3) per
                  GROUP BY band, band_key) bk) AS n_leak_incidences"""
        s"""
        WITH ${minLabelCte(1, 6, universal = true)},
        splits AS (
          SELECT doc_id,
                 (${graft.Knuth.sql("cluster_id", 7919L)}) % 10 AS sp_cluster,
                 (${graft.Knuth.sql("doc_id", 7919L)}) % 10 AS sp_naive
          FROM it3)
        ${auditSql("sp_naive", "naive")}
        UNION ALL ${auditSql("sp_cluster", "cluster")}"""
      }
    ) { (s, dir) =>
      val cfg = graft.operators.MinHashLsh.Config(bands = 1, rowsPerBand = 6,
        universal = true)
      // SPREAD the signature kernel's input across the executor before
      // the per-doc minhash map: a single-file corpus scans as one
      // task (parquet splits at row-group granularity), which strands
      // the linear-dominant kernel on one core while the rest idle —
      // measured 68 s of q192's 73 s at the 25× fixture. The
      // repartition shuffles only the raw (doc_id, text) bytes —
      // megabytes — and its count scales with the input
      // (Tables.scaledPartitions), so per-task kernel work stays
      // bounded at any corpus size.
      val np = graft.Tables.scaledPartitions(s, dir, Seq("documents"))
      val banded = graft.Checkpoints.materialize(
        graft.operators.MinHashLsh.explodeBands(
          t(s, dir, "documents").select("doc_id", "text")
            .repartition(np, col("doc_id")), "text", cfg)
          .select("doc_id", "band", "band_key"))
      val clusters = graft.operators.MinHashLsh
        .minLabelClusters(banded, "doc_id", rounds = 3, persistEdges = false)
      val splits = graft.Checkpoints.materialize(clusters.select(col("doc_id"),
        (graft.Knuth.col(col("cluster_id"), 7919L) % 10).as("sp_cluster"),
        (graft.Knuth.col(col("doc_id"), 7919L) % 10).as("sp_naive")))
      // ONE corpus-sized join feeds BOTH strategies: the joint
      // (bucket, sp_naive, sp_cluster) counts determine either
      // strategy's per-bucket split histogram by re-aggregation in
      // bucket space, instead of two strategy-keyed audit joins
      // shuffling the banded table twice for the same information;
      // with the duplicate edge persist skipped (banded is already
      // checkpointed) the pair of changes measured 4.7 -> 3.8 s
      // steady-state at sf0.1
      val joint = graft.Checkpoints.materialize(
        banded.join(splits, "doc_id")
          .groupBy("band", "band_key", "sp_naive", "sp_cluster")
          .agg(count(lit(1)).as("c")))
      def audit(sp: String, label: String): DataFrame = {
        val leak = joint
          .groupBy(col("band"), col("band_key"), col(sp).as("sp"))
          .agg(sum(col("c")).as("ns"))
          .groupBy("band", "band_key")
          .agg(sum(col("ns")).as("n"),
            sum(col("ns") * (col("ns") - 1)).as("intra"))
          .agg(expr("sum(n * (n - 1) - intra) div 2").as("n_leak_incidences"))
        splits.agg(
            sum(when(col(sp) <= 7, 1L).otherwise(0L)).as("n_train"),
            sum(when(col(sp) === 8, 1L).otherwise(0L)).as("n_val"),
            sum(when(col(sp) === 9, 1L).otherwise(0L)).as("n_test"))
          .crossJoin(broadcast(leak))
          .select(lit(label).as("strategy"), col("n_train"), col("n_val"),
            col("n_test"), col("n_leak_incidences"))
      }
      audit("sp_naive", "naive").unionByName(audit("sp_cluster", "cluster"))
    },

    // --------------------------------------------------------------- q214
    // Cohen's kappa — chance-corrected agreement between two labelers,
    // here the lang column ("annotator A says English") and q29's
    // ' the '-hit heuristic ("annotator B says English") — the number
    // an annotation-quality gate reports instead of raw accuracy
    // (which a degenerate always-majority labeler games). Exact
    // rational arithmetic: κ = (n·agree − Σ row·col) / (n² − Σ
    // row·col) in floored ppm — no float probabilities, bit-identical
    // cross-engine. One map-side-combinable corpus pass to the 2×2
    // table; everything after is one-row algebra. The n² and row·col
    // cross terms are BANKED into DECIMAL(38,0) / HUGEINT — the ppm
    // form holds to n ~ 10¹⁵ rows, not the raw-BIGINT 3e6 bound.
    Q(
      "q214_cohens_kappa",
      Some("""
        WITH j AS (
          SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
                 CASE WHEN (length(text) - length(replace(text, ' the ', '')))
                      / 5 > 0 THEN 1 ELSE 0 END AS b
          FROM documents),
        ct AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(a * b) AS BIGINT) AS n11,
                 CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                 CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                 CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
          FROM j)
        SELECT n, n11, n10, n01, n00,
               (1000 * (n11 + n00)) // n AS agree_pm,
               CAST((1000000 * (CAST(n AS HUGEINT) * (n11 + n00)
                           - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)
                              + (n01 + n00) * CAST(n10 + n00 AS HUGEINT))))
                 // (CAST(n AS HUGEINT) * n
                     - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)
                        + (n01 + n00) * CAST(n10 + n00 AS HUGEINT)))
                 AS BIGINT) AS kappa_ppm
        FROM ct""")
    ) { (s, dir) =>
      val j = t(s, dir, "documents").select(
        when(col("lang") === "en", 1L).otherwise(0L).as("a"),
        when((length(col("text"))
          - length(regexp_replace(col("text"), " the ", ""))) / 5 > 0, 1L)
          .otherwise(0L).as("b"))
      j.agg(count(lit(1)).as("n"),
          sum(col("a") * col("b")).as("n11"),
          sum(col("a") * (lit(1L) - col("b"))).as("n10"),
          sum((lit(1L) - col("a")) * col("b")).as("n01"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          expr("(1000 * (n11 + n00)) div n").as("agree_pm"),
          // every n² / row·col cross term banked into DECIMAL(38,0)
          // (oracle: HUGEINT) — exact integral quotient in both
          // engines, holds to n ~ 10¹⁵ rows
          expr("""(1000000 * (cast(n as decimal(38,0)) * (n11 + n00)
                           - ((n11 + n10) * cast(n11 + n01 as decimal(38,0))
                              + (n01 + n00) * cast(n10 + n00 as decimal(38,0)))))
                 div (cast(n as decimal(38,0)) * n
                      - ((n11 + n10) * cast(n11 + n01 as decimal(38,0))
                         + (n01 + n00) * cast(n10 + n00 as decimal(38,0))))""")
            .as("kappa_ppm"))
    },

    // --------------------------------------------------------------- q235
    // Readability profile per source — LIX (Björnsson's läsbarhets-
    // index), the readability formula that needs NO syllable counting:
    // LIX = words/sentences + 100·longwords/words, long = ≥ 7 letters.
    // Chosen over Flesch exactly because it is rational — per doc it
    // computes in exact integer milli-units ((1000·w) div max(s,1) +
    // (100000·lw) div w), then averages per source quantize-then-sum.
    // Token counts come from three regexp_extract_all passes with
    // patterns simple enough ([A-Za-z]+, [.!?], [A-Za-z]{7,}) to mean
    // the same thing in Java regex and DuckDB's RE2. One corpus
    // map-side pass; the report is |sources| rows. Hapax share (words
    // seen exactly once corpus-wide — the vocabulary's long tail)
    // rides along from a vocab-space re-aggregate of the same token
    // explode, the only shuffle that isn't the final groupBy.
    Q(
      "q235_readability",
      Some("""
        WITH d AS (
          SELECT source, doc_id,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                   AS w,
                 CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS s,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]{7,}'))
                   AS BIGINT) AS lw
          FROM documents),
        lx AS (
          SELECT source,
                 CASE WHEN w = 0 THEN 0
                      ELSE (1000 * w) // greatest(s, 1)
                           + (100000 * lw) // w END AS lix_milli
          FROM d),
        toks AS (
          SELECT source, unnest(regexp_extract_all(text, '[A-Za-z]+'))
                   AS tok
          FROM documents),
        vocab AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        hap AS (
          SELECT t.source,
                 CAST(SUM(CASE WHEN v.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hapax,
                 CAST(COUNT(*) AS BIGINT) AS n_tok
          FROM toks t JOIN vocab v ON v.tok = t.tok
          GROUP BY 1),
        agg AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(lix_milli) AS BIGINT) // COUNT(*) AS mean_lix_milli
          FROM lx GROUP BY 1)
        SELECT a.source, a.n_docs, a.mean_lix_milli,
               (1000 * h.hapax) // h.n_tok AS hapax_share_pm
        FROM agg a JOIN hap h ON h.source = a.source""")
    ) { (s, dir) =>
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
          .cast("long").as("w"),
        size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0)))
          .cast("long").as("s"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]{7,}"), lit(0)))
          .cast("long").as("lw"))
      val lx = d.select(col("source"),
        when(col("w") === 0, 0L)
          .otherwise(expr("(1000 * w) div greatest(s, 1)" +
            " + (100000 * lw) div w")).as("lix_milli"))
      val toks = t(s, dir, "documents").select(col("source"),
        explode(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
          .as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val hap = toks.join(vocab.hint("shuffle_hash"), "tok")
        .groupBy("source")
        .agg(sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          count(lit(1)).as("n_tok"))
      val agg = lx.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(lix_milli) div count(1)").as("mean_lix_milli"))
      agg.join(hap, "source")
        .select(col("source"), col("n_docs"), col("mean_lix_milli"),
          expr("(1000 * hapax) div n_tok").as("hapax_share_pm"))
    },

    // --------------------------------------------------------------- q276
    // Chao1 vocabulary-richness estimator per source — the "how many
    // words does this source REALLY have?" projection a curation pass
    // runs before budgeting dedup/tokenizer work: observed vocabulary
    // V underestimates the true type count when sampling is shallow,
    // and Chao1 corrects it from the rare-type counts alone:
    // Ĉ = V + f₁(f₁−1)/(2(f₂+1)) (bias-corrected form, defined even
    // at f₂ = 0), where f₁/f₂ = types seen exactly once/twice. The
    // whole estimator is EXACT integer milli-units — one corpus
    // token-count shuffle, then everything in vocabulary- and
    // frequency-space (Σ over counts-of-counts). The coverage ratio
    // 1000·V div chao1_milli-scaled rides along as the "how much of
    // the vocabulary have we actually seen" gauge.
    Q(
      "q276_chao1_richness",
      Some("""
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        cnt AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok WHERE tok <> '' GROUP BY 1, 2),
        f AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS v,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
          FROM cnt GROUP BY 1)
        SELECT source, v, f1, f2,
               1000 * v + CAST((1000 * CAST(f1 AS HUGEINT) * (f1 - 1))
                 // (2 * (f2 + 1)) AS BIGINT) AS chao1_milli,
               (1000000 * v) // (1000 * v
                 + CAST((1000 * CAST(f1 AS HUGEINT) * (f1 - 1))
                   // (2 * (f2 + 1)) AS BIGINT)) AS coverage_pm
        FROM f""")
    ) { (s, dir) =>
      val cnt = t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      cnt.groupBy("source")
        .agg(count(lit(1)).as("v"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        // f₁² is BANKED into DECIMAL(38,0)/HUGEINT; the milli-scaled
        // estimate itself stays BIGINT to f₁ ≲ 4.3e9 singleton types
        // (past that, drop the milli scale — documented bound, far
        // beyond 10¹⁰ corpus rows of ~100-token documents)
        .select(col("source"), col("v"), col("f1"), col("f2"),
          expr("1000 * v + (1000 * cast(f1 as decimal(38,0)) * (f1 - 1))" +
            " div (2 * (f2 + 1))").as("chao1_milli"),
          expr("(1000000 * v) div (1000 * v" +
            " + (1000 * cast(f1 as decimal(38,0)) * (f1 - 1))" +
            " div (2 * (f2 + 1)))").as("coverage_pm"))
    },

    // --------------------------------------------------------------- q281
    // Heaps'-law vocabulary-growth curve per source — q276's dynamic
    // sibling: Chao1 asks "how big is the vocabulary?", this asks
    // "how fast are we still discovering it?" — V(k) and the token
    // count after the first k documents (k ∈ {5, 10, 25}, capped at
    // the source size), published as the curve a crawl scheduler
    // reads to decide whether MORE of a source still buys new types.
    // Exact integers end to end: documents rank per source by doc_id
    // (a per-source window over doc-space), each type's FIRST
    // appearance is its min doc rank (one vocabulary-space aggregate
    // after the corpus token count), and V(k) = #types with first
    // rank ≤ k — counts-of-first-ranks, never a rescan per
    // checkpoint. new-type rate (types per 1000 tokens) rides along.
    Q(
      "q281_heaps_curve",
      Some("""
        WITH dr AS (
          SELECT doc_id, source, text,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                   AS r
          FROM documents),
        tok AS (
          SELECT source, r, unnest(string_split(text, ' ')) AS tok
          FROM dr),
        tk AS (SELECT source, r, tok FROM tok WHERE tok <> ''),
        first AS (
          SELECT source, tok, CAST(MIN(r) AS BIGINT) AS fr
          FROM tk GROUP BY 1, 2),
        ks(k) AS (VALUES (CAST(5 AS BIGINT)), (10), (25)),
        v AS (
          SELECT f.source, ks.k,
                 CAST(SUM(CASE WHEN f.fr <= ks.k THEN 1 ELSE 0 END)
                   AS BIGINT) AS v_k
          FROM first f CROSS JOIN ks GROUP BY 1, 2),
        dtc AS (
          SELECT source, r, CAST(COUNT(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2),
        tt AS (
          SELECT source, ks.k,
                 CAST(SUM(CASE WHEN r <= ks.k THEN c ELSE 0 END)
                   AS BIGINT) AS tok_k
          FROM dtc CROSS JOIN ks GROUP BY 1, 2)
        SELECT v.source, v.k, v.v_k, tt.tok_k,
               CASE WHEN tt.tok_k > 0
                 THEN (1000 * v.v_k) // tt.tok_k END AS types_per_1000_tok
        FROM v JOIN tt ON tt.source = v.source AND tt.k = v.k""")
    ) { (s, dir) =>
      import s.implicits._
      val dr = t(s, dir, "documents")
        .withColumn("r", row_number().over(
          Window.partitionBy("source").orderBy("doc_id")).cast("long"))
      val tk = dr.select(col("source"), col("r"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val first = tk.groupBy("source", "tok").agg(min(col("r")).as("fr"))
      val ks = broadcast(Seq(5L, 10L, 25L).toDF("k"))
      val v = first.crossJoin(ks)
        .groupBy("source", "k")
        .agg(sum(when(col("fr") <= col("k"), 1L).otherwise(0L)).as("v_k"))
      // tokens-per-doc first (doc-space), THEN the 3-way checkpoint
      // expansion — the corpus token stream is never tripled
      val tc = tk.groupBy("source", "r").agg(count(lit(1)).as("c"))
        .crossJoin(ks)
        .groupBy("source", "k")
        .agg(sum(when(col("r") <= col("k"), col("c")).otherwise(0L))
          .as("tok_k"))
      v.join(tc, Seq("source", "k"))
        .select(col("source"), col("k"), col("v_k"), col("tok_k"),
          when(col("tok_k") > 0, expr("(1000 * v_k) div tok_k"))
            .as("types_per_1000_tok"))
    },

    // --------------------------------------------------------------- q299
    // EXACT set-similarity self-join with PREFIX FILTERING (the
    // Chaudhuri/Bayardo/PPJoin family; distributed shape per Vernica
    // et al., VLDB 2010): all document pairs with word-5-gram Jaccard
    // ≥ 0.7, computed exactly — the lossless counterpart to the
    // MinHash-LSH band join (q31–q34), for when the dedup contract is
    // "every pair above t", not "pairs above t with recall r". The
    // filter: order the gram vocabulary globally (df ASC, gram ASC —
    // rarest first), keep only each doc's first
    // p = sz − ⌈t·sz⌉ + 1 grams; any pair with Jaccard ≥ t MUST
    // share a prefix gram (if the smallest common gram x were past
    // a's prefix, common ⊆ a's last ⌈t·sz⌉−1 grams, so
    // |a∩b| < t·|a| ≤ t·|union| ≤ |a∩b| — contradiction; x in a's
    // prefix but past b's is symmetric). So candidates = the keyed
    // prefix self-join — Σ_g prefixdf(g)² pair work over near-unique
    // rare grams instead of Σ_g df(g)² over the whole vocabulary —
    // plus the length filter 10·szb ≥ 7·sza (Jaccard ≥ .7 forces
    // |b| ≥ .7|a|). Survivors verify EXACTLY via a candidate-bounded
    // gram join; threshold compares in integers (17c ≥ 7(sza+szb) ⟺
    // c/(sza+szb−c) ≥ 0.7), division only in the reported column.
    // At 100 TB: every stage is gram- or doc-keyed (vocabulary-sized
    // df table JOINS on g, never broadcasts); no all-pairs anywhere.
    // The oracle verifies all-pairs (its corpus is small); the Spark
    // side's pruning is exercised by BlockingSpec, which pins
    // candidates ⊆ gram-sharing pairs and result ≡ brute force.
    Q(
      "q299_prefix_jaccard_join",
      Some(s"""
        WITH $exactPairsCte
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE) / (sza + szb - n_common) AS jaccard
        FROM p WHERE 17 * n_common >= 7 * (sza + szb)""")
    ) { (s, dir) => exactJaccardPairs(s, dir) },

    // --------------------------------------------------------------- q307
    // EXACT dedup GROUPS — connected components over q299's lossless
    // pair graph: where q66 clusters the APPROXIMATE banding graph
    // (recall < 1 by contract), this assigns a canonical id through
    // chains of pairs that each genuinely pass Jaccard ≥ 0.7 — the
    // grouping a keep-one-per-group exact dedup actually deletes by.
    // Three fixed rounds of min-label propagation over the edge list
    // (label(v) ← min(label(v), min over neighbors)) — covers
    // diameter 3; dup families are near-cliques so the fixture
    // converges in 1–2, and both engines unroll the IDENTICAL rounds
    // (the q66 determinism contract — production loops to fixpoint or
    // pointer-jumps like q294). Each round is two keyed hash joins on
    // the pair-bounded edge/label tables (shuffle_hash — the label
    // side is vertex-sized and must never broadcast at scale), every
    // round materialized against the 2^steps re-execution trap.
    // Output: (doc_id, group_id) for every doc in at least one
    // qualifying pair; singletons stay out by construction.
    Q(
      "q307_exact_dedup_groups",
      Some {
        def round(prev: String, cur: String) = s"""
        $cur AS (
          SELECT v.doc_id, LEAST(v.lbl, nb.m) AS lbl
          FROM $prev v JOIN (
            SELECT e.a AS doc_id, MIN(l.lbl) AS m
            FROM e JOIN $prev l ON l.doc_id = e.b GROUP BY e.a) nb
          ON nb.doc_id = v.doc_id)"""
        s"""
        WITH $exactPairsCte,
        q AS (SELECT doc_a, doc_b FROM p WHERE 17 * n_common >= 7 * (sza + szb)),
        e AS (SELECT doc_a AS a, doc_b AS b FROM q
              UNION ALL SELECT doc_b, doc_a FROM q),
        l0 AS (SELECT DISTINCT a AS doc_id, a AS lbl FROM e),
        ${round("l0", "l1")},
        ${round("l1", "l2")},
        ${round("l2", "l3")}
        SELECT doc_id, lbl AS group_id FROM l3"""
      }
    ) { (s, dir) =>
      // the shared durable pair graph (operators/PairGraph): CC pays
      // an artifact scan, not a re-derivation of q299's prefix join
      val pairs = graft.operators.PairGraph.qualifyingPairs(s, dir)
        .select("doc_a", "doc_b")
      val e = graft.Checkpoints.materialize(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
          .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b"))))
      var lbl = graft.Checkpoints.materialize(
        e.select(col("a").as("doc_id")).distinct()
          .withColumn("lbl", col("doc_id")))
      for (_ <- 1 to 3) {
        val nb = e.join(
            lbl.select(col("doc_id").as("b"), col("lbl").as("nlbl"))
              .hint("shuffle_hash"), "b")
          .groupBy(col("a").as("doc_id"))
          .agg(min(col("nlbl")).as("m"))
        lbl = graft.Checkpoints.materialize(
          lbl.join(nb.hint("shuffle_hash"), "doc_id")
            .select(col("doc_id"), least(col("lbl"), col("m")).as("lbl")))
      }
      lbl.select(col("doc_id"), col("lbl").as("group_id"))
    },

    // --------------------------------------------------------------- q310
    // CAPPED-OUTPUT exact dedup — canonical exemplar per doc
    // (operators/PairGraph.exemplars): q299's verified pair stream
    // collapses map-side into per-doc MIN/COUNT, so the quadratic
    // pair set is never materialized, shuffled, or emitted — output
    // and post-verify shuffle are O(docs). The keep/drop decision a
    // 100 TB dedup actually executes: keep iff doc_id == exemplar
    // (within direct neighborhoods; q307 adds transitivity). The
    // oracle aggregates the same all-pairs frame it verifies q299
    // with — identical rows prove the fused path lost nothing.
    Q(
      "q310_exact_dedup_exemplar",
      Some(s"""
        WITH $exactPairsCte,
        q AS (SELECT doc_a, doc_b FROM p WHERE 17 * n_common >= 7 * (sza + szb)),
        nbr AS (SELECT doc_a AS d, doc_b AS pr FROM q
                UNION ALL SELECT doc_b, doc_a FROM q)
        SELECT d AS doc_id, LEAST(d, MIN(pr)) AS exemplar,
               CAST(COUNT(*) AS BIGINT) AS n_partners
        FROM nbr GROUP BY d""")
    ) { (s, dir) => graft.operators.PairGraph.exemplars(s, dir) },

    // --------------------------------------------------------------- q313
    // Exact dedup groups to a DATA-DRIVEN fixpoint — q307 with the
    // 3-round unroll replaced by convergence detection
    // (operators/FixpointCC, the q309 discipline on the DOCUMENTS
    // domain): pointer-jump min-label over the durable pair graph
    // until a round changes no label, ROUNDS_RUN emitted. q307's
    // fixed rounds are correct on the fixture because dup families
    // are near-cliques (diameter ≤ 3 witnessed by spec) — but a
    // production corpus's chain structure is unknown, and a
    // too-shallow unroll splits one true group into several with
    // nothing failing: exactly the silent under-merge an exact-dedup
    // contract forbids. The oracle replays the recurrence with the
    // change-detecting recursive CTE (round-indexed rows + EXISTS
    // guard — see q309), so the hash gate covers the data-driven
    // round count. Per round: two keyed shuffle_hash joins + a min
    // aggregate over the pair-bounded edge list; O(log diameter)
    // driver actions.
    Q(
      "q313_dedup_groups_fixpoint",
      Some(graft.operators.FixpointCC.labelsSql(s"""$exactPairsCte,
        q AS (SELECT doc_a, doc_b FROM p WHERE 17 * n_common >= 7 * (sza + szb)),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM q
                  UNION ALL SELECT doc_b, doc_a FROM q)""", "doc_id", "group_id"))
    ) { (s, dir) =>
      val p = graft.operators.PairGraph.qualifyingPairs(s, dir)
        .select("doc_a", "doc_b")
      // symmetrize by re-projecting the ARTIFACT scan (cheap parquet
      // read per branch — nothing re-derives)
      val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val (labels, rounds) = graft.operators.FixpointCC.run(edges)
      labels.select(col("node").as("doc_id"), col("lbl").as("group_id"))
        .withColumn("rounds_run", lit(rounds))
    },

    // --------------------------------------------------------------- q302
    // INCREMENTAL exact dedup — q299's prefix filter on the q87 shape:
    // today's batch (doc_id % 10 == 0) finds EVERY corpus doc with
    // word-5-gram Jaccard ≥ 0.7, exactly — where q87's banded version
    // carries a declared recall < 1 contract, this is the lossless
    // path for contracts that demand it (e.g. benchmark-contamination
    // removal, where a missed near-dup is a train/test leak). The
    // global gram order is (ARCHIVE df ASC, gram ASC) — archive df is
    // precomputed index metadata in production, batch-only grams rank
    // rarest at df 0 via the left join; any FIXED total order
    // satisfies the prefix theorem as long as both sides of a pair
    // use the same one, so daily batches never need the corpus-wide
    // df recount. Candidates = prefix(batch) ⋈ prefix(archive) on the
    // gram key + both length filters; exact verify is candidate-
    // bounded; threshold in integers. Daily work scales with
    // Σ_g |batchPrefix(g)|·|archivePrefix(g)| over near-unique rare
    // grams — never batch × archive, never archive × archive.
    Q(
      "q302_incremental_prefix_dedup",
      Some(s"""
        WITH $incrementalPairsCte
        SELECT new_id, corpus_id, n_common,
               CAST(n_common AS DOUBLE) / (szn + szc - n_common) AS jaccard
        FROM p WHERE 17 * n_common >= 7 * (szn + szc)""")
    ) { (s, dir) =>
      incrementalExactPairs(s, dir)
        .select(col("new_id"), col("corpus_id"), col("n_common"),
          (col("n_common").cast("double") /
            (col("szn") + col("szc") - col("n_common"))).as("jaccard"))
    },

    // --------------------------------------------------------------- q314
    // CAPPED-OUTPUT incremental exact dedup — the daily keep/drop
    // table: for EVERY doc in today's batch, its canonical archive
    // exemplar (min qualifying archive partner; NULL when clean) and
    // match count. q310's capped contract on q302's batch×archive
    // shape: the verified pair stream collapses map-side into a
    // per-new-doc aggregate, then LEFT-joins the batch id list — so
    // output and post-verify shuffle are O(batch) even when a batch
    // doc matches a large archive dup family. keep ⇔ n_matches = 0
    // is the decision a daily contamination/dedup gate executes.
    Q(
      "q314_incremental_dedup_exemplar",
      Some(s"""
        WITH $incrementalPairsCte,
        q AS (SELECT new_id, corpus_id FROM p WHERE 17 * n_common >= 7 * (szn + szc)),
        agg AS (SELECT new_id, MIN(corpus_id) AS mn,
                       CAST(COUNT(*) AS BIGINT) AS nm
                FROM q GROUP BY new_id)
        SELECT d.doc_id AS new_id, a.mn AS exemplar,
               COALESCE(a.nm, 0) AS n_matches
        FROM documents d LEFT JOIN agg a ON a.new_id = d.doc_id
        WHERE d.doc_id % 10 = 0""")
    ) { (s, dir) =>
      val agg = incrementalExactPairs(s, dir)
        .groupBy("new_id")
        .agg(min(col("corpus_id")).as("exemplar"),
          count(lit(1)).as("nm"))
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("new_id"))
        .join(agg, Seq("new_id"), "left")
        .select(col("new_id"), col("exemplar"),
          coalesce(col("nm"), lit(0L)).as("n_matches"))
    },

    // --------------------------------------------------------------- q303
    // PHRASE SEARCH over a positional index — the operator a bigram
    // index cannot answer for phrases past length 2: unigram postings
    // carry token POSITIONS, and an n-term phrase match is an n-way
    // keyed self-join on (doc_id, pos + offset) — the classic
    // positional-index formulation (Manning et al. IIR §2.4). The
    // query phrase is DERIVED, not hardcoded: the corpus's dominant
    // word trigram under the total order (count DESC, trigram ASC) —
    // so the query exercises end-to-end on any corpus and the phrase
    // matcher's output can be cross-checked against the trigram
    // occurrence count it must equal. Every join is equi on
    // (doc_id, pos): position arithmetic rides the join key, the
    // per-term postings filter BEFORE joining (three term-selected
    // scans, each a broadcast of the 1-row phrase frame against the
    // token stream — never a corpus broadcast), and the 3-way chain
    // shuffles doc-keyed. At 100 TB the token stream is the durable
    // positional postings table bucketed by token; nothing changes.
    Q(
      "q303_phrase_search",
      Some(phraseSearchSql)
    ) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("tok"))
      phraseMatches(toks,
        graft.operators.TextIndex.dominantTrigram(t(s, dir, "documents")))
    },

    // --------------------------------------------------------------- q304
    // PROXIMITY search over the positional index — q303's sibling for
    // the "terms near each other, either order" contract (IIR §2.4.2):
    // occurrences of two query terms within ≤ 3 positions. The term
    // pair derives from the corpus (its two most frequent tokens under
    // (count DESC, token ASC) — always co-frequent enough to exercise
    // the window at any SF). Where q303's exact-offset join stays equi
    // on (doc_id, pos), a |p₁−p₂| ≤ w predicate is a BAND join — the
    // classic range-join trap — so the window UNROLLS into its 2w
    // keyed offsets: each w1-occurrence probes (doc_id, pos±δ),
    // δ ∈ 1…3, every probe a plain equi join on (doc_id, pos) exactly
    // like the phrase matcher. O(occurrences × 2w) probe rows, no
    // BroadcastNestedLoop anywhere. Per doc: pair count and tightest
    // span — the inputs a proximity scorer would feed from.
    Q(
      "q304_proximity_search",
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        pos AS (
          SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                     i -> struct_pack(tok := tk[i], pos := CAST(i AS BIGINT)))) AS u
            FROM tok)),
        cnt AS (SELECT tok, COUNT(*) AS n FROM pos GROUP BY tok),
        top2 AS (
          SELECT
            (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 1) AS w1,
            (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 1 OFFSET 1) AS w2),
        m AS (
          SELECT p1.doc_id, p1.pos AS pos1, p2.pos AS pos2
          FROM pos p1
          JOIN pos p2 ON p2.doc_id = p1.doc_id
                     AND abs(p2.pos - p1.pos) <= 3 AND p2.pos <> p1.pos
          CROSS JOIN top2 t
          WHERE p1.tok = t.w1 AND p2.tok = t.w2)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_prox,
               MIN(abs(pos2 - pos1)) AS min_span
        FROM m GROUP BY doc_id""")
    ) { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("tok"))
      val top2 = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(2)
        .withColumn("rn", row_number().over(
          Window.orderBy(desc("n"), col("tok"))))
        .groupBy()
        .agg(max(when(col("rn") === 1, col("tok"))).as("w1"),
          max(when(col("rn") === 2, col("tok"))).as("w2"))
      val tagged = toks.crossJoin(broadcast(top2))
      val occ1 = tagged.filter(col("tok") === col("w1"))
        .select(col("doc_id"), col("pos").as("pos1"))
      val occ2 = tagged.filter(col("tok") === col("w2"))
        .select(col("doc_id"), col("pos").as("pos2"))
      // band |p1−p2| ≤ 3 unrolled into 6 keyed offsets: probe rows
      // carry pos2 = pos1 + δ, δ ∈ {−3…−1, 1…3}, equi join on
      // (doc_id, pos2) — never a range join
      val probes = occ1.select(col("doc_id"), col("pos1"),
        explode(expr("transform(array(-3,-2,-1,1,2,3), d -> pos1 + d)"))
          .as("pos2"))
      probes.join(occ2, Seq("doc_id", "pos2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_prox"),
          min(abs(col("pos2") - col("pos1"))).as("min_span"))
    },

    // --------------------------------------------------------------- q312
    // PHRASE search over the POSITIONAL LSM view — q303's matcher
    // with the inline position derivation replaced by the multi-append
    // positional index (TextIndex.positionalSplit): archive =
    // docs with id%10 ≤ 4, five daily append segments for 5…9 — the
    // same split q295 reads the bigram LSM through. Positions are
    // document-local, so archive ∪ segments is row-identical to
    // deriving from the full corpus and the result must equal q303's
    // exactly: the oracle is q303's corpus-wide SQL verbatim, which
    // makes this row the hash gate on the positional-index READ PATH
    // (segment publish + union view + term-pushdown probes). The
    // probe joins run on the tok-bucketed segment scans; only the
    // 1-row phrase frame broadcasts.
    Q(
      "q312_phrase_search_lsm",
      Some(phraseSearchSql)
    ) { (s, dir) =>
      // phrase selection identical to q303's (query-side input, not
      // part of the index read path under test)
      phraseMatches(c10Positional(s, dir),
        graft.operators.TextIndex.dominantTrigram(t(s, dir, "documents")))
    },
  )
}
