package graft.queries

import graft.{Q, Tables}
import graft.Det.dec
import graft.operators.BloomPrefilter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Blocked / filtered matching operators — the join-shaped work a
  * curation pipeline runs where a naive formulation is quadratic or
  * shuffles the world: fuzzy (edit-distance) entity matching, sparse
  * tf-idf cosine similarity over an inverted index, and bloom-filter
  * runtime prefiltering of a semi join.
  *
  * Shared scale discipline: candidate generation is always blocked
  * (a shared blocking key, a shared posting term, a shared bloom bit
  * pattern) and exact verification runs only on candidates, never on
  * the cross product. All similarity arithmetic is exact-integer until
  * a final division/sqrt, so both engines compute bit-identical
  * doubles (IEEE division and sqrt are correctly rounded).
  */
object Matching {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Resolve (building if absent) every durable text-index artifact
    * this family's queries consume — called by [[graft.Ingest]] so the
    * bench charges the builds to its timed ingest phase: the base
    * lexical index (q90/q113/q288-siblings), the d10 incremental split
    * (q288/q290) and the c10 five-append LSM split (q295/q298) — the
    * split values the queries read. */
  def ingestArtifacts(s: SparkSession, dir: String): Unit = {
    graft.operators.TextIndex.bigramPostings(s, dir)
    graft.operators.TextIndex.docLengths(s, dir)
    graft.operators.TextIndex.splitParts(s, dir, d10Docs)
    graft.operators.TextIndex.splitParts(s, dir, c10Docs)
    ()
  }

  /** The bigram LSM splits of the documents corpus. */
  private val d10Docs = Splits.d10("doc_id")
  private val c10Docs = Splits.c10("doc_id")

  /** q75's edit-distance ceiling: adjectives in the synthetic part
    * vocabulary differ by ≤ 4 edits; the noun (blocking key) is shared. */
  private val maxEdits = 4

  /** q166's 3-hash Carter–Wegman family: per-index (salt, multiplier)
    * pairs — the multiplier MUST differ per index (see the q166 header
    * comment for the measured failure when it doesn't). The multipliers
    * are the Knuth and xxhash odd primes; the product stays under 2⁶³
    * because the input is reduced mod 2³¹ first (the Knuth contract). */
  private val bloomFamily =
    Seq((101L, 2654435761L), (202L, 2246822519L), (303L, 3266489917L))

  private def bloomH0Sql(i: Int): String = {
    val (salt, mult) = bloomFamily(i)
    s"(((c_custkey + $salt) % 2147483648) * $mult) % 4294967296"
  }

  /** q76's stop cap: bigrams appearing in more than `maxDf` documents
    * leave the index — the posting-list bound that keeps the candidate
    * join O(vocab × maxDf²) at ANY corpus size (same move as q64's
    * stop-fingerprint cap). */
  private val maxDf = 50

  /** q76's report threshold. */
  private val minCosine = 0.3

  /** The documents' bigram postings, DuckDB side, as WITH-clause
    * entries `tok → big(doc_id, g) → tf(doc_id, g, tf)`: the raw-text
    * replay of the TextIndex artifacts every lexical oracle checks. */
  private val bigramTfSql = """tok AS (
          SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        big AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
          FROM tok),
        tf AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS tf FROM big GROUP BY doc_id, g)"""

  // ------------------------------------------------------ integer BM25
  // Integer-exact BM25, shared by q90, q288, q295, q300 and q308:
  // k1=1.2, b=0.75 fold into  idf₂ · 22·T·tf / (10·T·tf + 3·T + 9·dl·N)
  // (T = total tokens, N = docs, dl = doc length — multiply the classic
  // formula through by 10T), and idf₂ is the bit-length surrogate
  // log2((N−df+½)/(df+½)) ≅ length(bin(2(N−df)+1)) − length(bin(2df+1))
  // — the q78 move that dodges libm ln() ulp drift. One IEEE division
  // per (doc, term), cast to DECIMAL(18,4) so per-query sums are
  // order-free; every rank carries a doc_id tiebreak. Each query's
  // (query_id, term) list below feeds both engines, and the Spark
  // scorer's isin pushdown list derives from it, so the two can never
  // silently diverge (a term missing from the pushdown would contribute
  // nothing to its query's scores).

  /** q90's workload, re-ranked by q308. */
  private val q90Terms = Seq((1, "hash join"), (1, "merge join"),
    (2, "stream batch"), (2, "batch window"), (3, "vector scan"))
  private val q288Terms = Seq((1, "table hash"), (1, "part filter"),
    (2, "customer join"), (2, "slow key"), (3, "merge group"), (3, "batch scan"))
  private val q295Terms = Seq((1, "vector small"), (1, "filter hash"),
    (2, "sort a"), (2, "merge order"), (3, "spark big"), (3, "batch agg"))
  private val q300Terms = Seq((1, "hash dup"), (1, "table hash"), (1, "merge group"),
    (2, "big dup"), (2, "slow key"), (2, "part filter"))

  /** Results kept per query by the BM25 rankings. */
  private val bm25K = 10

  /** Spark side: every posting of a query term with its `term_score`,
    * over postings `tf` (g, doc_id, tf, dl — dl rides denormalized on
    * every row, so length normalization is a column read) and doc
    * lengths `dls` (doc_id, dl). Postings of ONLY the query terms: the
    * isin literal pushes into every bucketed scan, and the per-term df
    * aggregate runs exchange-free on the bucket partitioning — so the
    * only broadcast relations are bounded by the query length (df, qt)
    * and one row (stats). The vocabulary-sized df table grows with the
    * corpus (Heaps' law — q281 measures it) and must never broadcast. */
  private def bm25Scored(tf: DataFrame, dls: DataFrame,
      qTerms: Seq[(Int, String)]): DataFrame = {
    val s = tf.sparkSession
    import s.implicits._
    val stats = dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    val tfq = tf.filter(col("g").isin(qTerms.map(_._2).distinct: _*))
    val df = tfq.groupBy("g").agg(count(lit(1)).as("df"))
    def bits(c: Column): Column = length(bin(c))
    val idf2 = bits(lit(2) * (col("n") - col("df")) + 1) - bits(lit(2) * col("df") + 1)
    tfq.join(broadcast(qTerms.toDF("query_id", "term")), col("g") === col("term"))
      .join(broadcast(df.withColumnRenamed("g", "g2")), col("g") === col("g2"))
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        ((idf2 * 22 * col("t") * col("tf")).cast("double") /
          (lit(10) * col("t") * col("tf") + lit(3) * col("t") +
            lit(9) * col("dl") * col("n")).cast("double"))
          .cast(DecimalType(18, 4)))
  }

  /** The top [[bm25K]] documents per query_id of `scored`'s summed
    * term scores, as (query_id, doc_id, score, rnk). */
  private def bm25Top(scored: DataFrame): DataFrame =
    scored.groupBy("query_id", "doc_id")
      .agg(sum(col("term_score")).cast("double").as("score"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(desc("score"), col("doc_id"))).cast("long"))
      .filter(col("rnk") <= bm25K)

  /** DuckDB side: the full-corpus replay from raw text, as a WITH
    * clause ending in `scored(query_id, doc_id, tf, term_score)`. */
  private def bm25ScoredSql(qTerms: Seq[(Int, String)]): String = {
    val values = qTerms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""
        WITH $bigramTfSql,
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM big GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM dl),
        df AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY g),
        qt AS (SELECT * FROM (VALUES $values) AS v(query_id, term)),
        scored AS (
          SELECT q.query_id, tf.doc_id, tf.tf,
                 CAST(CAST((length(bin(2 * (s.n - df.df) + 1)) - length(bin(2 * df.df + 1)))
                             * 22 * s.t * tf.tf AS DOUBLE)
                      / CAST(10 * s.t * tf.tf + 3 * s.t + 9 * dl.dl * s.n AS DOUBLE)
                      AS DECIMAL(18,4)) AS term_score
          FROM qt q
          JOIN tf ON tf.g = q.term
          JOIN df ON df.g = q.term
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats s)"""
  }

  /** [[bm25Top]]'s oracle: (query_id, doc_id, score, rnk) followed by
    * `extraCols` (a SELECT-list tail over doc_id, e.g.
    * `", doc_id % 10 = 0 AS is_new"`). */
  private def bm25TopSql(qTerms: Seq[(Int, String)],
      extraCols: String = ""): String = bm25ScoredSql(qTerms) + s""",
        agg AS (
          SELECT query_id, doc_id, CAST(SUM(term_score) AS DOUBLE) AS score
          FROM scored GROUP BY query_id, doc_id)
        SELECT query_id, doc_id, score, rnk$extraCols FROM (
          SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
          FROM agg) t
        WHERE rnk <= $bm25K"""

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q75
    // Fuzzy entity matching: part names within levenshtein distance 4,
    // blocked on the trailing token. The match runs in DISTINCT-VALUE
    // space (names dedupe before pairing — the q69 move), so the O(b²)
    // edit-distance work scales with the name vocabulary per block,
    // never the row count; per-name row counts ride along and a
    // downstream expansion join could recover row pairs. Blocking
    // contract (documented recall bound): only pairs sharing the last
    // token are candidates — the standard sorted-neighborhood /
    // blocking-key trade every entity-resolution system makes.
    Q(
      "q75_fuzzy_names",
      Some(s"""
        WITH names AS (
          SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n FROM part GROUP BY p_name),
        keyed AS (
          SELECT p_name, n, string_split(p_name, ' ')[-1] AS blk FROM names)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
               a.n AS n_a, b.n AS n_b
        FROM keyed a JOIN keyed b ON a.blk = b.blk AND b.p_name > a.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= $maxEdits""")
    ) { (s, dir) =>
      val names = t(s, dir, "part")
        .groupBy("p_name").agg(count(lit(1)).as("n"))
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      val a = names.select(col("p_name").as("name_a"), col("n").as("n_a"),
        col("blk"))
      val b = names.select(col("p_name").as("name_b"), col("n").as("n_b"),
        col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("name_b") > col("name_a"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= maxEdits)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    },

    // ---------------------------------------------------------------- q76
    // Sparse tf-idf cosine pairs over an inverted index: documents
    // become sparse bigram vectors (tf × an exact-integer idf surrogate
    // 10000 div df), the posting-list self-join on the bigram key
    // generates candidates only for docs sharing an indexed bigram, and
    // the pair dot products / norms stay in exact BIGINT until the one
    // final cosine division. Stop-capped at df ≤ maxDf, the join is
    // bounded by Σ df² ≤ vocab × maxDf² regardless of corpus size.
    Q(
      "q76_sparse_cosine",
      Some(s"""
        WITH $bigramTfSql,
        df AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY g),
        wts AS (
          SELECT tf.doc_id, tf.g, tf.tf * (10000 // df.df) AS wq
          FROM tf JOIN df ON df.g = tf.g WHERE df.df <= $maxDf),
        norms AS (
          SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS nrm FROM wts GROUP BY doc_id),
        dots AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(SUM(a.wq * b.wq) AS BIGINT) AS dot,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM wts a JOIN wts b ON a.g = b.g AND b.doc_id > a.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT d.doc_a, d.doc_b, d.n_shared,
               CAST(d.dot AS DOUBLE) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cosine
        FROM dots d
        JOIN norms na ON na.doc_id = d.doc_a
        JOIN norms nb ON nb.doc_id = d.doc_b
        WHERE CAST(d.dot AS DOUBLE) /
                (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) >= $minCosine""")
    ) { (s, dir) =>
      // postings from the durable TextIndex artifact, bucketed by g:
      // df's aggregate, the idf join, AND the candidate-generating
      // posting-list self-join below all run on the bucket
      // partitioning — zero exchange until the pair aggregate. The
      // shuffle_hash hint keeps the vocabulary-sized df table off the
      // driver (it would not stay broadcastable at 100×).
      val tf = graft.operators.TextIndex.bigramPostings(s, dir)
      val df = tf.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf)
      val wts = tf.join(df.hint("shuffle_hash"), "g")
        .select(col("doc_id"), col("g"),
          (col("tf") * expr("10000 div df")).as("wq"))
      // norms are doc-count-sized: materialize so the exchange-free
      // wts chain is not re-executed per reference (the bucketed scan
      // has no exchange for ReuseExchange to match — the q94 lesson)
      val norms = graft.Checkpoints.materialize(wts.groupBy("doc_id")
        .agg(sum(col("wq") * col("wq")).as("nrm")))
      // candidate pairs WITHOUT a posting-list self-join: each
      // g-bucket's list explodes its ordered pairs in place — the
      // groupBy(g) runs exchange-free on the bucket partitioning and
      // wts is referenced ONCE on this path; fanout is bounded by the
      // df ≤ maxDf stop cap (≤ maxDf·(maxDf−1)/2 pairs per bigram at
      // ANY corpus size), so the interpreted HOF sees a bounded list,
      // never a corpus×corpus loop
      val dots = wts.groupBy("g")
        .agg(collect_list(struct(col("doc_id"), col("wq"))).as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, a -> transform(" +
            "filter(ps, b -> b.doc_id > a.doc_id), " +
            "b -> named_struct('doc_a', a.doc_id, 'doc_b', b.doc_id, " +
            "'w', a.wq * b.wq))))")).as("p"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
          col("p.w").as("w"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(col("w")).as("dot"),
          count(lit(1)).as("n_shared"))
      val cosine = col("dot").cast("double") /
        (sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double")))
      dots
        .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("nrm_a")), "doc_a")
        .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nrm_b")), "doc_b")
        .filter(cosine >= minCosine)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), cosine.as("cosine"))
    },

    // ---------------------------------------------------------------- q77
    // Bloom-prefiltered semi join: revenue of line items belonging to
    // urgent orders. The urgent orderkeys aggregate into a deterministic
    // bloom bitmap (bitwise OR — order-independent); the bitmap
    // broadcasts and cuts the probe side BEFORE the exact semi join's
    // exchange, so at scale the shuffle carries only the ~⅕ candidate
    // fraction (plus a ~2% false-positive tail the exact join removes).
    // Semantically identical to the plain semi join — which is exactly
    // what the oracle runs.
    Q(
      "q77_bloom_semi",
      Some("""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag""")
    ) { (s, dir) =>
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      BloomPrefilter.semiJoin(t(s, dir, "lineitem"), "l_orderkey",
          urgent, "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          graft.Det.dsum(col("l_quantity")).as("sum_qty"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DecimalType(18, 4)).cast("double").as("revenue"))
    },

    // ---------------------------------------------------------------- q90
    // BM25 ranked retrieval over the q76 bigram inverted index: a tiny
    // literal query table BROADCASTs against the postings, so the work
    // is Σ df(query term) — query-length × posting-list cost, never a
    // corpus scan (the standard search-engine shape; at 100 TB the
    // postings would be the bucketed table and nothing changes).
    // Scoring is the shared integer-exact BM25 ([[bm25Scored]]).
    Q("q90_bm25", Some(bm25TopSql(q90Terms))) { (s, dir) =>
      // the inverted index is the durable TextIndex artifact: the
      // tokenize + (doc, gram) aggregation is paid once at ingest
      bm25Top(bm25Scored(graft.operators.TextIndex.bigramPostings(s, dir),
          graft.operators.TextIndex.docLengths(s, dir), q90Terms))
        .select("query_id", "doc_id", "score", "rnk")
    },

    // --------------------------------------------------------------- q113
    // Reciprocal-rank fusion of a lexical ranking and a vector-cosine
    // ranking — the standard hybrid-retrieval combiner. Each retriever
    // produces an INDEPENDENT top-20 list (lexical: unigram tf of the
    // query term over documents; vector: exact quantized cosine of the
    // query embedding over embeddings), and the lists fuse by id with a
    // FULL OUTER join — an item ranked by only one retriever keeps that
    // retriever's contribution, the canonical RRF behavior. The score
    // is the integer surrogate Σ floor(1e6 / (60 + rank)) (BIGINT `div`
    // in Spark == `//` in DuckDB, including on the boundary), so fusion
    // arithmetic is exact in both engines — no float RRF drift. Scale:
    // each retriever is already blocked/broadcast (term-postings join;
    // broadcast query vectors), and the fusion join runs on top-k lists
    // whose size is queries × k, independent of corpus size.
    Q(
      "q113_rrf_fusion",
      Some(s"""
        WITH qt AS (SELECT * FROM (VALUES (1, 'hash', 3), (2, 'stream', 7),
                                          (3, 'vector', 11)) AS v(query_id, term, qvec)),
        tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
        lex AS (
          SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY tf DESC, doc_id) AS lrn
          FROM (SELECT q.query_id, tok.doc_id, COUNT(*) AS tf
                FROM tok JOIN qt q ON tok.tk = q.term GROUP BY 1, 2) t),
        lex_top AS (SELECT query_id, doc_id AS id, lrn FROM lex WHERE lrn <= 20),
        normed AS (${Vectors.quantizedSql}),
        vec AS (
          SELECT q.query_id, c.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   CAST(CAST(list_aggregate(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.qv[i]), 'sum') AS BIGINT) AS DOUBLE)
                     / sqrt(CAST(q.qn AS DOUBLE) * CAST(c.qn AS DOUBLE)) DESC,
                   c.vec_id) AS vrn
          FROM (SELECT qt.query_id, n.qv, n.qn, n.vec_id FROM qt
                JOIN normed n ON n.vec_id = qt.qvec) q
          JOIN normed c ON c.vec_id <> q.vec_id
          WHERE q.qn > 0 AND c.qn > 0),
        vec_top AS (SELECT query_id, vec_id AS id, vrn FROM vec WHERE vrn <= 20),
        fused AS (
          SELECT query_id, id,
                 CAST(COALESCE(1000000 // (60 + lrn), 0)
                    + COALESCE(1000000 // (60 + vrn), 0) AS BIGINT) AS rrf
          FROM lex_top FULL JOIN vec_top USING (query_id, id))
        SELECT query_id, id, rrf, rnk FROM (
          SELECT query_id, id, rrf,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, id) AS rnk
          FROM fused) t
        WHERE rnk <= 10""")
    ) { (s, dir) =>
      import s.implicits._
      val qt = Seq((1, "hash", 3L), (2, "stream", 7L), (3, "vector", 11L))
        .toDF("query_id", "term", "qvec")
      // lexical retriever: postings × broadcast terms, ranked by tf
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("tf"), col("doc_id"))
      val lexTop = tok.join(broadcast(qt), col("tk") === col("term"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("tf"))
        .withColumn("lrn", row_number().over(wl))
        .filter(col("lrn") <= 20)
        .select(col("query_id"), col("doc_id").as("id"), col("lrn"))
      // vector retriever: broadcast query vectors, exact quantized cosine
      val normed = Vectors.quantized(s, dir).filter(col("qn") > 0)
      val qvecs = normed.join(broadcast(qt.select("query_id", "qvec")),
          col("vec_id") === col("qvec"))
        .select(col("query_id"), col("qvec"), col("qv").as("qqv"), col("qn").as("qqn"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
      val vecTop = normed.join(broadcast(qvecs), col("vec_id") =!= col("qvec"))
        .withColumn("score",
          Vectors.dotCol("qqv", "qv").cast("double") /
            sqrt(col("qqn").cast("double") * col("qn").cast("double")))
        .withColumn("vrn", row_number().over(wv))
        .filter(col("vrn") <= 20)
        .select(col("query_id"), col("vec_id").as("id"), col("vrn"))
      // full-outer fusion on (query, id): Spark's USING-style join
      // coalesces the keys, matching DuckDB's FULL JOIN ... USING
      val fused = lexTop.join(vecTop, Seq("query_id", "id"), "full_outer")
        .withColumn("rrf",
          coalesce(expr("1000000 div (60 + lrn)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + vrn)"), lit(0L)))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("rrf"), col("id"))
      fused.withColumn("rnk", row_number().over(wf).cast("long"))
        .filter(col("rnk") <= 10)
        .select("query_id", "id", "rrf", "rnk")
    },

    // --------------------------------------------------------------- q161
    // Sorted-neighborhood blocking — the OTHER classical
    // entity-resolution candidate generator, complementing q75's
    // key-equality blocking: sort the (distinct) name vocabulary,
    // pair each name with its next-2 neighbors in sort order, verify
    // candidates with exact edit distance ≤ 4. The sliding window
    // catches near-duplicates whose blocking key differs (q75's
    // documented miss class) as long as they collate adjacently.
    // Scale: the window runs in DISTINCT-NAME space (the q75/q69
    // move), partitioned by first character so the sort is a keyed
    // shuffle, never a single-partition global window; the documented
    // recall contract is that pairs collating across a first-letter
    // boundary, or > 2 apart in sort order, are not candidates — the
    // standard sorted-neighborhood window/key trade. Per-name source
    // row counts ride along for downstream pair expansion.
    Q(
      "q161_sorted_neighborhood",
      Some(s"""
        WITH names AS (
          SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n FROM part GROUP BY p_name),
        led AS (
          SELECT p_name, n,
                 lead(p_name, 1) OVER w AS nb1, lead(n, 1) OVER w AS c1,
                 lead(p_name, 2) OVER w AS nb2, lead(n, 2) OVER w AS c2
          FROM names
          WINDOW w AS (PARTITION BY substr(p_name, 1, 1) ORDER BY p_name)),
        cand AS (
          SELECT p_name AS name_a, n AS n_a, 1 AS gap, nb1 AS name_b, c1 AS n_b
          FROM led WHERE nb1 IS NOT NULL
          UNION ALL
          SELECT p_name, n, 2, nb2, c2 FROM led WHERE nb2 IS NOT NULL)
        SELECT name_a, name_b, CAST(gap AS BIGINT) AS gap,
               CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist, n_a, n_b
        FROM cand WHERE levenshtein(name_a, name_b) <= $maxEdits""")
    ) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(substring(col("p_name"), 1, 1)).orderBy("p_name")
      val led = t(s, dir, "part")
        .groupBy("p_name").agg(count(lit(1)).as("n"))
        .select(col("p_name"), col("n"),
          lead(col("p_name"), 1).over(w).as("nb1"), lead(col("n"), 1).over(w).as("c1"),
          lead(col("p_name"), 2).over(w).as("nb2"), lead(col("n"), 2).over(w).as("c2"))
      led.select(col("p_name").as("name_a"), col("n").as("n_a"),
          expr("stack(2, 1L, nb1, c1, 2L, nb2, c2) AS (gap, name_b, n_b)"))
        .filter(col("name_b").isNotNull)
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= maxEdits)
        .select("name_a", "name_b", "gap", "dist", "n_a", "n_b")
    },

    // --------------------------------------------------------------- q166
    // Bloom-filter false-positive calibration — the measurement behind
    // q77's prefilter: build an m=1024-bit, k-hash bloom over the
    // BUILDING-segment customer keys, probe it with every key from the
    // other segments (guaranteed non-members: c_custkey is unique and
    // segments partition customers), and report observed vs expected
    // FPR for k ∈ {1,2,3}. The expected rate uses the OBSERVED fill
    // (n_set_bits/m)^k — exact integer permille, no libm pow — so the
    // row also validates the independence assumption the closed-form
    // FPR model makes about the hash family. Getting that family right
    // took BOTH documented traps, measured here in sequence: (1) the
    // bare Knuth hash mod 1024 is (key mod 1024)·c mod 1024 — a
    // bijection of the key's low bits (the q153 lattice), which made
    // the filter an exact residue-class test with observed FPR HALF
    // the model (137‰ vs 275‰ at k=1); the q153 xor-shift mix fixes
    // k=1 exactly (259‰ = 259‰). (2) With one shared multiplier the
    // three hashes differ only by an additive salt, so for every key
    // pair the h0 DIFFERENCE (x−y)·c is identical across hash indices
    // (the q147 affine-family trap) — collisions co-occur and observed
    // FPR at k=3 ran 2.5× the independence model (370‰ vs 146‰). A
    // per-index MULTIPLIER (a genuine Carter–Wegman family) breaks the
    // shared difference; with it the sweep tracks the model.
    // Scale: build bits collapse to ≤ k·m distinct (hash, pos) rows
    // (map-side distinct); the bit tables BROADCAST (they are ≤ m rows
    // per k by construction — a bloom filter's entire point); the probe
    // side is one pass + one keyed count shuffle bounded by k rows per
    // probe key. Nothing quadratic, nothing corpus-sized on the driver.
    Q(
      "q166_bloom_fpr",
      Some {
        def h0U(src: String): String = bloomFamily.indices.map { i =>
          s"SELECT c_custkey, $i AS i, (${bloomH0Sql(i)}) AS h0 FROM $src"
        }.mkString("\n            UNION ALL ")
        def mixed(h0cte: String): String = s"""
          SELECT c_custkey, i, ${graft.Knuth.mixEndSql("h2")} % 1024 AS pos
          FROM (
            SELECT c_custkey, i, ${graft.Knuth.mixSql("h0")} AS h2
            FROM $h0cte) t"""
        s"""
        WITH bld AS (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        prb AS (
          SELECT c_custkey FROM customer WHERE c_mktsegment <> 'BUILDING'),
        bldh AS (
            ${h0U("bld")}),
        prbh AS (
            ${h0U("prb")}),
        pb AS (
          SELECT DISTINCT i, pos FROM (${mixed("bldh")}) mb),
        pp AS (${mixed("prbh")}),
        ks AS (SELECT * FROM (VALUES (1), (2), (3)) AS v(k)),
        bits AS (
          SELECT ks.k, pb.pos FROM ks JOIN pb ON pb.i < ks.k
          GROUP BY ks.k, pb.pos),
        nb AS (
          SELECT k, CAST(COUNT(*) AS BIGINT) AS n_set_bits
          FROM bits GROUP BY k),
        hits AS (
          SELECT ks.k, pp.c_custkey, CAST(COUNT(*) AS BIGINT) AS nhit
          FROM pp JOIN ks ON pp.i < ks.k
          JOIN bits b ON b.k = ks.k AND b.pos = pp.pos
          GROUP BY 1, 2),
        fp AS (
          SELECT k, CAST(COUNT(*) AS BIGINT) AS n_false_pos
          FROM hits WHERE nhit = k GROUP BY k),
        cnt AS (
          SELECT CAST((SELECT COUNT(*) FROM bld) AS BIGINT) AS n_build,
                 CAST((SELECT COUNT(*) FROM prb) AS BIGINT) AS n_probe)
        SELECT CAST(ks.k AS BIGINT) AS k,
               CAST(1024 AS BIGINT) AS m,
               cnt.n_build, nb.n_set_bits, cnt.n_probe,
               CAST(COALESCE(fp.n_false_pos, 0) AS BIGINT) AS n_false_pos,
               (1000 * COALESCE(fp.n_false_pos, 0)) // cnt.n_probe
                 AS fpr_observed_permille,
               CASE WHEN ks.k = 1 THEN (1000 * nb.n_set_bits) // 1024
                    WHEN ks.k = 2
                      THEN (1000 * nb.n_set_bits * nb.n_set_bits) // 1048576
                    ELSE (1000 * nb.n_set_bits * nb.n_set_bits * nb.n_set_bits)
                           // 1073741824 END AS fpr_expected_permille
        FROM ks JOIN nb USING (k) LEFT JOIN fp USING (k) CROSS JOIN cnt"""
      }
    ) { (s, dir) =>
      val cust = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val bld = cust.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val prb = cust.filter(col("c_mktsegment") =!= "BUILDING")
        .select("c_custkey")
      def posStack(df: DataFrame): DataFrame = df.select(col("c_custkey"),
        expr("stack(3, " + bloomFamily.indices.map { i =>
          s"${i}L, (${bloomH0Sql(i)})"
        }.mkString(", ") + ") AS (i, h0)"))
        .withColumn("h2", graft.Knuth.mixCol("h0"))
        .withColumn("pos", graft.Knuth.mixEndCol("h2") % 1024)
        .select("c_custkey", "i", "pos")
      val ks = broadcast(s.range(1, 4).select(col("id").as("k")))
      // the filter itself: per sweep point k, the distinct bit positions
      // set by hashes 0..k-1 over the build keys — ≤ m rows per k
      val bits = broadcast(posStack(bld).select("i", "pos").distinct()
        .join(ks, col("i") < col("k")).select("k", "pos").distinct())
      val nb = bits.groupBy("k").agg(count(lit(1)).as("n_set_bits"))
      val hits = posStack(prb)
        .join(ks, col("i") < col("k"))
        .join(bits, Seq("k", "pos"))
        .groupBy("k", "c_custkey").agg(count(lit(1)).as("nhit"))
      val fp = hits.filter(col("nhit") === col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_false_pos"))
      val cnt = broadcast(
        bld.agg(count(lit(1)).as("n_build"))
          .crossJoin(prb.agg(count(lit(1)).as("n_probe"))))
      ks.join(nb, "k").join(fp, Seq("k"), "left").crossJoin(cnt)
        .select(col("k"), lit(1024L).as("m"), col("n_build"),
          col("n_set_bits"), col("n_probe"),
          coalesce(col("n_false_pos"), lit(0L)).as("n_false_pos"),
          expr("(1000 * coalesce(n_false_pos, 0L)) div n_probe")
            .as("fpr_observed_permille"),
          expr("CASE WHEN k = 1 THEN (1000 * n_set_bits) div 1024 " +
            "WHEN k = 2 THEN (1000 * n_set_bits * n_set_bits) div 1048576 " +
            "ELSE (1000 * n_set_bits * n_set_bits * n_set_bits) " +
            "div 1073741824 END").as("fpr_expected_permille"))
    },

    // --------------------------------------------------------------- q288
    // Post-ingest retrieval check over the INCREMENTALLY-MAINTAINED
    // lexical index: doc_id % 10 == 0 stands in for today's crawl
    // batch (q87's split); the index it searches is the LSM view
    // TextIndex.splitPostings serves — the archive's PUBLISHED
    // postings ∪ today's segment artifact. The archive is never
    // re-tokenized NOR rewritten: the append publishes only the
    // delta's own O(delta) segment, so the daily index cost — compute
    // AND bytes — is O(delta), not O(corpus) (the 100 TB append
    // posture; view-vs-rebuild row identity and compaction byte
    // identity are pinned in LayoutCatalogSpec). The query is the
    // monitoring pass a
    // production ingest runs after each append: BM25 top-10 per query
    // (q90's integer-exact scoring — same idf₂ bit-length surrogate,
    // same 22T·tf/(10T·tf+3T+9·dl·N) fold), with is_new flagging
    // which of today's documents entered the top-10. The oracle
    // replays full-corpus BM25 inline — a hash match here IS the
    // proof that the incrementally-built index answers queries
    // identically to a from-scratch index.
    Q("q288_incremental_bm25",
      Some(bm25TopSql(q288Terms, ", doc_id % 10 = 0 AS is_new"))
    ) { (s, dir) =>
      // the LSM index view: archive postings read back from the
      // durable catalog (zero re-tokenization) ∪ today's segment —
      // the append published only the delta's O(delta) artifact; the
      // isin literal pushes into BOTH segment scans
      val (tf, dls) = graft.operators.TextIndex.splitPostings(s, dir, d10Docs)
      bm25Top(bm25Scored(tf, dls, q288Terms))
        .withColumn("is_new", col("doc_id") % 10 === 0)
        .select("query_id", "doc_id", "score", "rnk", "is_new")
    },

    // --------------------------------------------------------------- q290
    // Index DELTA report — what did today's batch add to the lexical
    // index? The post-append monitoring twin of q288's retrieval
    // check: per bigram, the document-frequency RISE contributed by
    // the delta (df_merged − df_archive, which equals the delta
    // SEGMENT's own df because doc-ids are disjoint across the append
    // boundary), flagging grams the archive had never seen.
    // Top-15 risers by (df_new DESC, g) — the "what's trending in
    // today's crawl" signal a corpus curator reads after each ingest.
    // Spark computes it WITHOUT touching documents at all: both
    // inputs are the bucketed catalog artifacts, so the two df
    // aggregates AND their join run exchange-free on the g bucket
    // partitioning, the top-15 is a TakeOrderedAndProject, and the
    // only exchange is the 15-row rank window (PlanSpec-pinned). The
    // oracle re-derives both frequency tables from raw text — the
    // hash match proves the artifact-only arithmetic equals the
    // corpus-truth delta.
    Q(
      "q290_index_delta_report",
      Some(s"""
        WITH $bigramTfSql,
        dfa AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS df_arch
          FROM tf WHERE doc_id % 10 <> 0 GROUP BY g),
        dfn AS (
          SELECT g, CAST(COUNT(*) AS BIGINT) AS df_new
          FROM tf WHERE doc_id % 10 = 0 GROUP BY g)
        SELECT g, COALESCE(a.df_arch, 0) AS df_arch, n.df_new,
               a.g IS NULL AS is_new_gram, rnk
        FROM (
          SELECT g, df_new,
                 ROW_NUMBER() OVER (ORDER BY df_new DESC, g) AS rnk
          FROM dfn) n
        LEFT JOIN dfa a USING (g)
        WHERE rnk <= 15""")
    ) { (s, dir) =>
      // the day's LSM segment IS the delta report's input: doc-ids
      // are disjoint across the append boundary, so the segment's own
      // per-gram df equals df_merged − df_archive — no merged table
      // needs to exist, let alone be scanned
      val Seq((arch, _), (seg, _)) =
        graft.operators.TextIndex.splitParts(s, dir, d10Docs)
      val dfA = arch.groupBy("g").agg(count(lit(1)).as("df_arch"))
      val dfN = seg.groupBy("g").agg(count(lit(1)).as("df_new"))
      val rise = dfN.join(dfA, Seq("g"), "left")
        .withColumn("df_arch", coalesce(col("df_arch"), lit(0L)))
        .withColumn("is_new_gram", col("df_arch") === 0)
      val top = rise.orderBy(desc("df_new"), col("g")).limit(15)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("df_new"), col("g"))
      top.withColumn("rnk", row_number().over(w).cast("long"))
        .select("g", "df_arch", "df_new", "is_new_gram", "rnk")
    },

    // --------------------------------------------------------------- q295
    // BM25 over the MULTI-APPEND LSM index, past the fold boundary —
    // the compaction read path under the oracle gate. q288 exercises
    // a single-delta split; here the index has absorbed FIVE appends
    // (days doc_id % 10 = 5..9 over a stable doc_id % 10 <= 4
    // archive), which crosses the LSM skeleton's fold rung of 4
    // compaction rung: the oldest four segments folded with the
    // archive into one merged artifact (bytes identical to a
    // from-scratch build over the same documents — LayoutCatalogSpec
    // pins the per-bucket MD5s), and the served view is that
    // compacted table ∪ the live day-9 tail segment — exactly two
    // bucketed scans, the steady-state shape of a long-lived index
    // (N appends → ⌊N/4⌋ folds, view always ≤ 1 + 4 scans). Scoring
    // is q90/q288's integer-exact BM25 (same idf₂ bit-length
    // surrogate, same 22T·tf/(10T·tf+3T+9·dl·N) fold) over a
    // different term workload; from_tail flags documents served from
    // the un-compacted tail segment. The oracle replays full-corpus
    // BM25 inline from raw text — the hash match IS the proof that
    // the compacted artifact ∪ tail answers queries identically to a
    // from-scratch index (the split jointly covers the corpus, so
    // any fold bug — double-counted rows, a dropped segment, stale
    // archive reuse — lands here as a score or rank mismatch).
    Q("q295_lsm_compacted_bm25",
      Some(bm25TopSql(q295Terms, ", doc_id % 10 = 9 AS from_tail"))
    ) { (s, dir) =>
      // five appends over a STABLE archive — day 9 is the live tail;
      // days 5..8 folded with the archive at the fold rung of 4,
      // so this view reads the compacted artifact ∪ one tail segment,
      // and the isin literal pushes into both scans
      val (tf, dls) = graft.operators.TextIndex.splitPostings(s, dir, c10Docs)
      bm25Top(bm25Scored(tf, dls, q295Terms))
        .withColumn("from_tail", col("doc_id") % 10 === 9)
        .select("query_id", "doc_id", "score", "rnk", "from_tail")
    },

    // --------------------------------------------------------------- q298
    // LSM TIER report — the operability dashboard behind q295's
    // compaction read path: per storage tier (the compacted fold
    // artifact vs the live un-compacted tail), how many documents,
    // distinct grams, posting rows and total term occurrences the
    // index serves. This is the number an operator reads to decide
    // whether the tail has grown enough to justify the next fold
    // (tail n_postings ≈ compacted/4 is the steady state)
    // and to check the fold lost nothing. Spark computes it from the
    // ARTIFACTS ONLY — the same two bucketed scans as q295, the
    // distinct-gram aggregate riding the g bucket partitioning, never
    // touching raw documents; the oracle re-derives every count from
    // raw text, so a hash match proves the artifact tiers sum to
    // corpus truth (a fold that dropped or double-counted a segment
    // lands here as a count mismatch even if no query term noticed).
    Q(
      "q298_lsm_tier_report",
      Some(s"""
        WITH $bigramTfSql
        SELECT CASE WHEN doc_id % 10 = 9 THEN 'tail' ELSE 'compacted' END AS tier,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS n_grams,
               CAST(COUNT(*) AS BIGINT) AS n_postings,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM tf GROUP BY 1""")
    ) { (s, dir) =>
      val (tf, _) = graft.operators.TextIndex.splitPostings(s, dir, c10Docs)
      tf.withColumn("tier",
          when(col("doc_id") % 10 === 9, "tail").otherwise("compacted"))
        .groupBy("tier")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("g")).as("n_grams"),
          count(lit(1)).as("n_postings"),
          sum(col("tf")).as("total_tf"))
        .select("tier", "n_docs", "n_grams", "n_postings", "total_tf")
    },

    // --------------------------------------------------------------- q300
    // BM25 top-k with MAXSCORE pruning (Turtle & Flood 1995, the
    // batch-shaped variant): identical results to exhaustive q90-style
    // scoring, but the engine FULLY SCORES ONLY docs that contain at
    // least one "essential" term. Per query: (1) every term's score
    // UPPER BOUND ub = max over its postings of the exact per-(doc,
    // term) BM25 contribution; (2) a SEED pass fully scores the docs
    // of one term — the highest-ub term among those with df ≥ k (so
    // the seed yields a full top-k; if no term qualifies, the
    // highest-ub term overall, and an absent k-th score disables
    // pruning entirely —
    // correctness never depends on the seed choice); (3) θ = the
    // k-th best seed score (exact, since seed docs score over ALL
    // their query terms); (4) sort terms by ub ascending — the
    // maximal prefix whose cumulative Σub < θ (strict) is
    // NON-ESSENTIAL: a doc matching only those terms scores ≤ Σub
    // < θ while ≥ k seed docs score ≥ θ, so it can never enter the
    // top-k under any tiebreak; (5) fully score docs with ≥ 1
    // essential term, rank, keep k. At 100 TB this is the classic
    // search-engine win: a rare high-idf term's θ prunes the long
    // posting lists of the common terms — the candidate set shrinks
    // from Σ df(all terms) to Σ df(essential terms) with zero recall
    // loss (BlockingSpec pins result ≡
    // exhaustive). Scoring arithmetic is q90's integer-exact form;
    // every per-query frame (ub, seed, θ, essential set) is ≤ terms
    // rows; the oracle scores exhaustively — identical output is the
    // losslessness proof, hash-checked by the driver.
    Q("q300_maxscore_bm25", Some(bm25TopSql(q300Terms))) { (s, dir) =>
      val k = bm25K
      // exactly q90's scoring frame: postings of ONLY the query terms,
      // broadcasts bounded by the query length — never the corpus
      val scored = bm25Scored(graft.operators.TextIndex.bigramPostings(s, dir),
          graft.operators.TextIndex.docLengths(s, dir), q300Terms)
        .select("query_id", "g", "doc_id", "df", "term_score")
      // seven downstream references (ub, seed, θ, essential, candidate,
      // final aggregate ×2 joins) — materialize the Σdf(term)-sized
      // scoring frame once instead of re-reading the postings per ref
      val scoredM = graft.Checkpoints.materialize(scored)
      val wq = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      // (1) per-term exact upper bounds — ≤ query-length rows
      val ub = scoredM.groupBy("query_id", "g")
        .agg(max(col("term_score")).as("ub"), max(col("df")).as("df"))
      // (2) seed term: highest ub among df ≥ k terms, else highest ub overall
      val seedT = ub
        .withColumn("has_k", when(col("df") >= k, 1).otherwise(0))
        .withColumn("srn", row_number().over(
          wq.orderBy(desc("has_k"), desc("ub"), col("g"))))
        .filter(col("srn") === 1)
        .select(col("query_id").as("sq"), col("g").as("seed_g"))
      // (3) θ = k-th best FULL score over the seed term's docs
      val seedDocs = scoredM.join(broadcast(seedT),
          col("query_id") === col("sq") && col("g") === col("seed_g"))
        .select(col("query_id"), col("doc_id")).distinct()
      val seedScores = scoredM.join(seedDocs, Seq("query_id", "doc_id"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("term_score")).as("score"))
      val theta = seedScores
        .withColumn("rnk", row_number().over(wq.orderBy(desc("score"), col("doc_id"))))
        .filter(col("rnk") === k)
        .select(col("query_id"), col("score").as("theta"))
      // (4) essential = NOT in the maximal ub-ascending prefix with
      //     cumulative Σub strictly below θ (θ absent → all essential)
      val ess = ub.join(broadcast(theta), Seq("query_id"), "left")
        .withColumn("cum", sum(col("ub")).over(
          wq.orderBy(col("ub"), col("g"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .filter(col("theta").isNull || col("cum") >= col("theta"))
        .select(col("query_id").as("eq"), col("g").as("eg"))
      // (5) full scoring restricted to docs matching ≥1 essential term
      val candDocs = scoredM.join(broadcast(ess),
          col("query_id") === col("eq") && col("g") === col("eg"))
        .select(col("query_id"), col("doc_id")).distinct()
      bm25Top(scoredM.join(candDocs, Seq("query_id", "doc_id")))
        .select("query_id", "doc_id", "score", "rnk")
    },

    // --------------------------------------------------------------- q308
    // RANK-AGREEMENT eval (Kendall τ-a over top-k unions): how much
    // does cheap TF-only ranking agree with BM25? — the eval a
    // retrieval stack runs before swapping a scorer. Per q90 query:
    // rank matched docs by exact BM25 and by Σtf, take each ranking's
    // top-10, and on the UNION of the two top sets (≤ 2k docs)
    // re-rank by both metrics (doc_id tiebreaks make every rank
    // total, so each pair is strictly concordant or discordant —
    // τ-a needs no tie terms). τ_milli = 1000·(C − D) / (n(n−1)/2)
    // in integer arithmetic. Scale: metric computation is the q90
    // posting-bounded aggregate; the pair stage touches only the
    // ≤ 2k-row union per query (≤ 190 pairs at k = 10) — eval cost
    // is query-bounded, independent of corpus size.
    Q(
      "q308_rank_agreement",
      Some(bm25ScoredSql(q90Terms) + """,
        agg AS (
          SELECT query_id, doc_id,
                 CAST(SUM(term_score) AS DECIMAL(28,4)) AS bm25,
                 CAST(SUM(tf) AS BIGINT) AS tfsum
          FROM scored GROUP BY query_id, doc_id),
        ra AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY bm25 DESC, doc_id) AS rka
          FROM agg),
        rb AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY tfsum DESC, doc_id) AS rkb
          FROM agg),
        uni AS (
          SELECT DISTINCT query_id, doc_id FROM (
            SELECT query_id, doc_id FROM ra WHERE rka <= 10
            UNION ALL SELECT query_id, doc_id FROM rb WHERE rkb <= 10)),
        m AS (
          SELECT u.query_id, u.doc_id,
                 ROW_NUMBER() OVER (PARTITION BY u.query_id
                   ORDER BY a.bm25 DESC, u.doc_id) AS rka,
                 ROW_NUMBER() OVER (PARTITION BY u.query_id
                   ORDER BY a.tfsum DESC, u.doc_id) AS rkb
          FROM uni u JOIN agg a
            ON a.query_id = u.query_id AND a.doc_id = u.doc_id),
        prs AS (
          SELECT x.query_id,
                 CASE WHEN (x.rka - y.rka) * (x.rkb - y.rkb) > 0
                      THEN 1 ELSE 0 END AS conc
          FROM m x JOIN m y
            ON y.query_id = x.query_id AND y.doc_id > x.doc_id)
        SELECT query_id,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM m mm
                WHERE mm.query_id = prs.query_id) AS n_docs,
               CAST(SUM(conc) AS BIGINT) AS concordant,
               CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
               CAST((1000 * (SUM(conc) - (COUNT(*) - SUM(conc)))) // COUNT(*) AS BIGINT) AS tau_milli
        FROM prs GROUP BY query_id""")
    ) { (s, dir) =>
      val scored = bm25Scored(graft.operators.TextIndex.bigramPostings(s, dir),
        graft.operators.TextIndex.docLengths(s, dir), q90Terms)
      val agg = graft.Checkpoints.materialize(
        scored.groupBy("query_id", "doc_id")
          .agg(sum(col("term_score")).cast(DecimalType(28, 4)).as("bm25"),
            sum(col("tf")).as("tfsum")))
      val wq = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      val ra = agg.withColumn("rka",
        row_number().over(wq.orderBy(desc("bm25"), col("doc_id"))))
      val rb = agg.withColumn("rkb",
        row_number().over(wq.orderBy(desc("tfsum"), col("doc_id"))))
      val uni = ra.filter(col("rka") <= 10).select("query_id", "doc_id")
        .union(rb.filter(col("rkb") <= 10).select("query_id", "doc_id"))
        .distinct()
      val m = uni.join(agg, Seq("query_id", "doc_id"))
        .withColumn("rka",
          row_number().over(wq.orderBy(desc("bm25"), col("doc_id"))))
        .withColumn("rkb",
          row_number().over(wq.orderBy(desc("tfsum"), col("doc_id"))))
        .select("query_id", "doc_id", "rka", "rkb")
      val x = m.select(col("query_id"), col("doc_id").as("da"),
        col("rka").as("ra1"), col("rkb").as("rb1"))
      val y = m.select(col("query_id"), col("doc_id").as("db"),
        col("rka").as("ra2"), col("rkb").as("rb2"))
      val prs = x.join(y, Seq("query_id"))
        .filter(col("db") > col("da"))
        .withColumn("conc",
          when((col("ra1") - col("ra2")) * (col("rb1") - col("rb2")) > 0, 1L)
            .otherwise(0L))
      val nDocs = m.groupBy("query_id").agg(count(lit(1)).as("n_docs"))
      prs.groupBy("query_id")
        .agg(sum(col("conc")).as("concordant"),
          (count(lit(1)) - sum(col("conc"))).as("discordant"))
        .join(broadcast(nDocs), "query_id")
        .select(col("query_id"), col("n_docs"), col("concordant"),
          col("discordant"),
          expr("(1000 * (concordant - discordant)) div (concordant + discordant)")
            .as("tau_milli"))
    },
  )
}
