package graft

import org.apache.spark.sql.functions._

/** Scratch ingest-cost probe for the INCREMENTAL maintenance paths
  * (not part of the driver contract): at a scale fixture (default the
  * 25× corpus from tools/gen_scale.py), measures what an append
  * actually pays vs a from-scratch rebuild, for both incremental
  * artifacts:
  *
  *   - lexical (TextIndex): full tokenize+aggregate+bucket-write vs
  *     the LSM append (tokenize the 10% delta + write ONLY its
  *     segment artifact) — since v3 the append pays O(delta) compute
  *     AND O(delta) bytes; nothing rewrites the archive.
  *   - IVF-PQ (IvfPq): full train+code vs delta-only coding against
  *     the frozen archive tables into the delta's own code segment —
  *     both the corpus re-CODE and the corpus re-WRITE are gone.
  *
  * Protocol: one JVM, the build path warmed on a small corpus first
  * (ScaleProbe's lesson — the first build absorbs codegen/committer
  * warm-up), each phase on a fresh scratch layout root. The
  * append-only figure re-runs the incremental call after retiring
  * just the delta segment directory, so the archive resolves warm
  * from disk — exactly the production append posture (the archive
  * artifact already exists when today's delta lands).
  *
  * Usage: GRAFT_SCALE_B=/tmp/graft_scale/x25 tools/run_main.sh graft.IncrProbe
  */
object IncrProbe {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("GRAFT_SCALE_B", "/tmp/graft_scale/x25")
    val warm = sys.env.getOrElse("GRAFT_SCALE_WARM", "/root/testdata/sf0.01")
    val spark = graft.pipeline.SparkSessionFactory.local()

    def freshRoot(): java.io.File = {
      val d = java.nio.file.Files
        .createTempDirectory("graft-incr-probe").toFile
      sys.props("graft.layout.root") = d.getAbsolutePath
      graft.operators.TextIndex.reset()
      graft.operators.IvfPq.reset()
      graft.operators.Ivf.reset()
      d
    }
    def timed(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[incr] $label: $s%.2f s")
      s
    }
    def retireMerged(root: java.io.File, kind: String, marker: String): Unit = {
      val k = new java.io.File(root, kind)
      Option(k.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.contains(marker))
        .foreach(graft.operators.LayoutCatalog.deleteRecursively)
      graft.operators.TextIndex.reset()
      graft.operators.IvfPq.reset()
      graft.operators.Ivf.reset()
      // the rebuild writes NEW part files at the same locations: drop
      // the session's registered postings tables and invalidate the
      // shared file-status cache, or the re-read serves stale listings
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith("graft_postings_") ||
          n.startsWith("graft_pospostings_"))
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      spark.catalog.refreshByPath(root.getAbsolutePath)
    }
    val pred = col("doc_id") % 10 === 0

    // warm the bucket-write / codegen path on the small corpus
    freshRoot()
    graft.operators.TextIndex.bigramPostings(spark, warm)
      .queryExecution.toRdd.count()

    // ---- lexical: full rebuild vs archive-published merge
    freshRoot()
    val lexFull = timed("lexical_full_build")(
      graft.operators.TextIndex.bigramPostings(spark, dir)
        .queryExecution.toRdd.count(): Unit)
    val lexRoot = freshRoot()
    val lexIncrTotal = timed("lexical_archive_plus_append")(
      graft.operators.TextIndex.incrementalPostings(spark, dir, pred, "p")
        ._1.queryExecution.toRdd.count(): Unit)
    retireMerged(lexRoot,
      s"lexical_v${graft.operators.TextIndex.LayoutVersion}", "_p_seg0_")
    val lexMerge = timed("lexical_append_only")(
      graft.operators.TextIndex.incrementalPostings(spark, dir, pred, "p")
        ._1.queryExecution.toRdd.count(): Unit)

    // ---- positional (round 14): full build vs archive-published
    // append — the (doc_id, tok, pos) phrase-index family's O(delta)
    // claim, measured like the bigram family's
    freshRoot()
    val posFull = timed("positional_full_build")(
      graft.operators.TextIndex.positionalArchive(spark, dir, lit(true), "pf")
        .queryExecution.toRdd.count(): Unit)
    val posRoot = freshRoot()
    val posIncrTotal = timed("positional_archive_plus_append")(
      graft.operators.TextIndex.segmentedPositionalFrom(
          spark, dir, !pred, Seq(pred), "pp")
        .queryExecution.toRdd.count(): Unit)
    retireMerged(posRoot,
      s"positional_v${graft.operators.TextIndex.PositionalLayoutVersion}",
      "_pp_pseg0_")
    val posMerge = timed("positional_append_only")(
      graft.operators.TextIndex.segmentedPositionalFrom(
          spark, dir, !pred, Seq(pred), "pp")
        .queryExecution.toRdd.count(): Unit)

    // ---- IVF-PQ: full train+code vs delta-only coding
    val vpred = col("vec_id") % 10 === 0
    def base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VecMath.quantize(col("embedding")).as("qv"))
      .withColumn("qn", graft.functions.VecMath.qdot(col("qv"), col("qv")))
      .filter(col("qn") > 0)
      .select("vec_id", "qv", "qn")
    val k = 256 // the √n ladder rung for the 50k-vector 25× fixture
    freshRoot()
    val pqFull = timed("pq_full_train_plus_code") {
      val cents = graft.operators.Ivf.persistedCentroidsCosine(
        base, dir, "vec_id", "qv", k, 2)
      graft.operators.IvfPq.persistedIndex(base, dir, cents, k, 2, 3)
        ._1.queryExecution.toRdd.count(): Unit
    }
    val pqRoot = freshRoot()
    val pqIncrTotal = timed("pq_archive_plus_append")(
      graft.operators.IvfPq.incrementalIndex(base, dir, vpred, "p", k, 2, 3)
        ._1.queryExecution.toRdd.count(): Unit)
    retireMerged(pqRoot,
      s"ivfpq_v${graft.operators.IvfPq.LayoutVersion}", "_p_seg0_")
    val pqMerge = timed("pq_append_only")(
      graft.operators.IvfPq.incrementalIndex(base, dir, vpred, "p", k, 2, 3)
        ._1.queryExecution.toRdd.count(): Unit)

    // ---- lexical multi-append: stable archive, growing day list —
    // measures (a) the day that crosses the fold boundary (pays its
    // segment + the grouped compaction) and (b) the day after it
    // (reuses the fold: pays ONLY its own segment — the amortization
    // claim, measured)
    freshRoot()
    def day(i: Int) = col("doc_id") % 10 === i
    // archive >= 5 plus days 0..4 JOINTLY COVER the corpus (the
    // segmentedPostingsFrom contract); day 5 simply never appends.
    // An earlier >= 6 archive left doc_id % 10 == 5 uncovered, which
    // made the probed view a strict 90% subset — timing-comparable
    // only to itself, not to lexical_full above.
    val archPred = col("doc_id") % 10 >= 5
    // warm: archive + days 0..2 (3 segments, below the fold boundary)
    graft.operators.TextIndex.segmentedPostingsFrom(spark, dir, archPred,
      (0 to 2).map(day), "ma")._1.queryExecution.toRdd.count()
    val lexFold = timed("lexical_append_day4_with_fold")(
      graft.operators.TextIndex.segmentedPostingsFrom(spark, dir, archPred,
        (0 to 3).map(day), "ma")._1.queryExecution.toRdd.count(): Unit)
    val lexPostFold = timed("lexical_append_day5_reusing_fold")(
      graft.operators.TextIndex.segmentedPostingsFrom(spark, dir, archPred,
        (0 to 4).map(day), "ma")._1.queryExecution.toRdd.count(): Unit)

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    spark.stop()
    println(s"""{"metric":"incr_probe","dir":"$dir","lexical":{"full":${
      num(lexFull)},"archive_plus_append":${num(lexIncrTotal)},"append_only":${
      num(lexMerge)},"append_with_fold":${num(lexFold)},"append_after_fold":${
      num(lexPostFold)}},"positional":{"full":${num(posFull)},"archive_plus_append":${
      num(posIncrTotal)},"append_only":${num(posMerge)}},"ivfpq":{"full":${num(pqFull)},"archive_plus_append":${
      num(pqIncrTotal)},"append_only":${num(pqMerge)}}}""")
    System.out.flush()
  }
}
