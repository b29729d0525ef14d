package graft

/** Scaling dry-run harness: measures how query wall-time grows when
  * the corpus grows K×, with both scales generated by the SAME writer
  * (tools/gen_scale.py) and measured inside ONE JVM in alternated
  * rounds — the only timing protocol that survives this host's
  * co-tenancy bursts (see BENCHNOTES' adjudication protocol).
  *
  * For each query: one unmeasured warm-up per scale (codegen/JIT),
  * then `rounds` alternated timed pairs (A, B, A, B, …) with the
  * per-scale MINIMUM reported. The first timed run per scale is also
  * recorded as `cold` (it includes any layout build / centroid
  * training the query triggers — the ingest-time cost the durable
  * catalog amortizes). The layout root is redirected to a scratch dir
  * so every run pays its builds cold and the persistent catalog stays
  * untouched.
  *
  * The scaling exponent alpha = ln(tB/tA) / ln(K) classifies growth:
  * alpha ≤ 1 is linear-or-better, ~1.x is n·log n territory, ≥ 2 is
  * quadratic (a plan bug at 100 TB). Sub-second baselines inflate
  * alpha with fixed scheduler overhead (~0.2-0.4 s floor at 32
  * threads), so read alpha together with the absolute times.
  *
  * Usage: GRAFT_SCALE_A=/tmp/graft_scale/x1 GRAFT_SCALE_B=.../x5
  *        GRAFT_SCALE_K=5 tools/run_main.sh graft.ScaleProbe [queryName ...]
  */
object ScaleProbe {

  private val defaultQueries = Seq(
    // the 10 most expensive from the round-10 bench record
    "q192_leakage_safe_split", "q203_grid_dbscan", "q94_pagerank",
    "q219_hits", "q284_weighted_pagerank", "q123_triangle_census",
    "q157_label_propagation", "q237_removal_effect",
    "q104_recursive_bfs", "q228_shortest_paths",
    // plus the scale-critical families: skew join, lexical index,
    // banded dedup, incremental dedup, IVF build+search
    "q46_salted_join", "q90_bm25", "q58_banded_dedup",
    "q87_incremental_dedup", "q60_ivf_topk")

  private def memcpyCanary(): Double = {
    val bytes = 200 * 1024 * 1024
    val src = new Array[Byte](bytes)
    val dst = new Array[Byte](bytes)
    val t0 = System.nanoTime()
    System.arraycopy(src, 0, dst, 0, bytes)
    (bytes.toDouble / (1024 * 1024 * 1024)) / ((System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dirA = sys.env.getOrElse("GRAFT_SCALE_A", "/tmp/graft_scale/x1")
    val dirB = sys.env.getOrElse("GRAFT_SCALE_B", "/tmp/graft_scale/x5")
    val k = sys.env.getOrElse("GRAFT_SCALE_K", "5").toDouble
    val rounds = sys.env.getOrElse("GRAFT_SCALE_ROUNDS", "2").toInt
    val names = if (args.nonEmpty) args.toSeq else defaultQueries

    // scratch layout root: cold builds are measured, the durable
    // catalog is untouched. GRAFT_SCALE_LAYOUT_ROOT pins the root
    // instead — run the probe twice with the same root and the second
    // JVM's "build" timing IS the warm resolve-from-disk cost.
    val scratch = sys.env.getOrElse("GRAFT_SCALE_LAYOUT_ROOT",
      java.nio.file.Files.createTempDirectory("graft-scale-layouts").toString)
    sys.props("graft.layout.root") = scratch

    val spark = graft.pipeline.SparkSessionFactory.local()

    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    def num(v: Double, d: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${d}f", Double.box(v))

    // explicit layout-build timing: force the bucketed edge corpus
    // (the fact⋈fact shuffle paid once at ingest) before any graph
    // query, at each scale — this is the ingest-side cost VERDICT r9
    // asked to see above bench scale
    val memPre = memcpyCanary()
    // warm the BUILD path itself on a third small corpus first —
    // otherwise the first timed build absorbs session/codegen/committer
    // warm-up and the build alpha comes out negative
    graft.operators.EdgeLayout.weightedPairs(spark,
      sys.env.getOrElse("GRAFT_SCALE_WARM", "/root/testdata/sf0.01"))
      .queryExecution.toRdd.count()
    val buildA = {
      val t0 = System.nanoTime()
      graft.operators.EdgeLayout.weightedPairs(spark, dirA)
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val buildB = {
      val t0 = System.nanoTime()
      graft.operators.EdgeLayout.weightedPairs(spark, dirB)
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"edge_layout_build: A=${num(buildA, 2)}s B=${num(buildB, 2)}s " +
      s"alpha=${num(math.log(buildB / buildA) / math.log(k), 2)}")

    val rows = names.map { name =>
      try {
        run(name, dirA); run(name, dirB) // unmeasured warm-up
        val (as, bs) = (Array.fill(rounds)(0.0), Array.fill(rounds)(0.0))
        var r = 0
        while (r < rounds) { as(r) = run(name, dirA); bs(r) = run(name, dirB); r += 1 }
        val (ta, tb) = (as.min, bs.min)
        val alpha = math.log(tb / ta) / math.log(k)
        val line = s"$name: A=${num(ta, 2)}s B=${num(tb, 2)}s " +
          s"alpha=${num(alpha, 2)}"
        println(line)
        Some((name, ta, tb, alpha))
      } catch {
        case e: Throwable =>
          println(s"$name: ERROR ${e.getMessage}"); None
      }
    }
    val memPost = memcpyCanary()
    val qs = rows.flatten.map { case (n, ta, tb, al) =>
      s""""$n":{"a":${num(ta, 3)},"b":${num(tb, 3)},"alpha":${num(al, 2)}}"""
    }.mkString(",")
    spark.stop()
    println(s"""{"metric":"scale_probe","k":${num(k, 0)},"edge_build":{"a":${
      num(buildA, 3)},"b":${num(buildB, 3)}},"queries":{$qs},"canary":{"memcpy_pre_gbps":${
      num(memPre, 2)},"memcpy_post_gbps":${num(memPost, 2)}}}""")
    System.out.flush()
  }
}
