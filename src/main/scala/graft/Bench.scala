package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Each query is forced via queryExecution.toRdd.count() so the full
  * physical plan executes (a bare df.count() would let Catalyst prune
  * the plan down to a row count).
  */
object Bench {

  /** Host co-tenancy canaries (BENCHNOTES' adjudication protocol,
    * embedded so every bench artifact self-records its host window):
    * cpu — `threads` concurrent integer busy loops, median per-thread
    * wall seconds (flat on an uncontended host with ≥threads vCPUs;
    * rises under CPU contention); memcpy — single-thread 400 MB copy
    * bandwidth in GB/s (the memory-bandwidth signal that explains
    * window/sort-query inflation — BENCHNOTES' named root cause).
    * Both run BEFORE and AFTER the measured rounds so a contention
    * burst inside the run is visible in the artifact itself. The
    * absolute numbers only need to be comparable round-over-round:
    * the iteration count and buffer size are fixed constants. */
  private def cpuCanary(threads: Int): Double = {
    val iters = 400000000L
    val times = new Array[Double](threads)
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        val t0 = System.nanoTime()
        var x = 88172645463325252L + i
        var k = 0L
        while (k < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
        sink.addAndGet(x)
        times(i) = (System.nanoTime() - t0) / 1e9
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    times.sorted.apply(threads / 2)
  }

  private def memcpyCanary(): Double = {
    val bytes = 400 * 1024 * 1024
    val src = new Array[Byte](bytes)
    val dst = new Array[Byte](bytes)
    var i = 0
    while (i < bytes) { src(i) = (i & 0xFF).toByte; i += 4096 }
    val reps = 3
    val t0 = System.nanoTime()
    var r = 0
    while (r < reps) { System.arraycopy(src, 0, dst, 0, bytes); r += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    (bytes.toDouble * reps / (1024 * 1024 * 1024)) / sec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.pipeline.SparkSessionFactory.localCpus
    val spark = graft.pipeline.SparkSessionFactory.local(cpus)

    // Timed INGEST phase (round 15): the layout catalog's contract is
    // "pay each artifact derivation once at ingest, read it everywhere"
    // — real cost that previous benches never showed, because artifacts
    // built in an earlier session survived on disk and every run
    // (including the driver's) rode them for free. Delete the catalog
    // root and rebuild everything the query registry resolves, under
    // its own timer: reported as ingest_sec beside (never inside) the
    // per-query read-path timings, which keep their exact prior
    // methodology. Completeness is self-audited — any artifact built
    // AFTER this phase (i.e. during warm-up or measured rounds) counts
    // into late_builds (expected 0).
    graft.operators.LayoutCatalog.deleteRecursively(
      graft.operators.LayoutCatalog.root)
    val tIngest = System.nanoTime()
    Ingest.buildAll(spark, sfDir)
    val ingestSec = (System.nanoTime() - tIngest) / 1e9
    val ingestBuilds = graft.operators.LayoutCatalog.buildsPublished.get()
    // builders materialize loop state (localCheckpoint blocks); release
    // it like the between-query hygiene does, outside any timed region
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

    // one warm-up pass of the smallest table read to exclude JVM/session
    // startup from the first measured query
    spark.read.parquet(s"$sfDir/region.parquet").queryExecution.toRdd.count()

    val cpuPre = cpuCanary(cpus)
    val memPre = memcpyCanary()

    // Round 0 is an unmeasured warm-up (Janino codegen compile + JIT —
    // one-time costs amortized to zero at production scale); rounds 1–3
    // measure every query and the per-query minimum is reported. Rounds
    // interleave across the whole query set so a transient host
    // contention window (other processes sharing the box) cannot pin
    // every sample of the same query.
    def once(q: Q): Double = {
      val t0 = System.nanoTime()
      q.build(spark, sfDir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // Release the run's materialized loop state: every iterative
      // query localCheckpoints its rounds (Checkpoints.materialize),
      // and those executor blocks outlive the query — across 312
      // queries × 4 rounds the accumulated occupancy inflated the
      // whole iterative family ~1.2-1.5× late in the session (r13/r14
      // graph-family drift, adjudicated in BENCHNOTES: fresh-JVM
      // steady state q94 1.28 s vs 3.55 s in the loaded session).
      // A production job's blocks die with the job; mirror that here.
      // Unpersist is outside the timed window and each round rebuilds
      // its own checkpoints, so measurements are unaffected. BLOCKING
      // removal: the async form enqueued the block deletes and let
      // them bleed into the NEXT query's timed window.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      sec
    }
    val times =
      (0 to 3).map { round =>
        SparkEntry.allQueries.map { q =>
          val t =
            try once(q)
            catch {
              case e: Throwable =>
                System.err.println(s"[bench] ${q.name} round $round: $e"); -1.0
            }
          q.name -> t
        }.toMap
      }
    val results = SparkEntry.allQueries.map { q =>
      // prefer measured rounds; fall back to the warm-up round; a query
      // that failed every round is reported as an error, excluded from
      // the total, and fails the bench exit code (a -1 sentinel summed
      // into the total would silently deflate it).
      val measured = times.drop(1).map(_(q.name)).filter(_ >= 0)
      val fallback = Some(times.head(q.name)).filter(_ >= 0)
      q.name -> (if (measured.nonEmpty) Some(measured.min) else fallback)
    }
    // explicit Locale.ROOT: the f interpolator is locale-sensitive and
    // a comma-decimal default locale would emit invalid JSON
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val qs = results.map {
      case (k, Some(v)) => "\"" + k + "\":" + num(v, 3)
      case (k, None)    => "\"" + k + "\":\"error\""
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val failed = results.count(_._2.isEmpty)
    val lateBuilds =
      graft.operators.LayoutCatalog.buildsPublished.get() - ingestBuilds
    val ingest = s""""ingest_sec":${num(ingestSec, 3)},"ingest_builds":$ingestBuilds,"late_builds":$lateBuilds"""
    val cpuPost = cpuCanary(cpus)
    val memPost = memcpyCanary()
    val canary = s"""{"cpu${cpus}_pre_sec":${num(cpuPre, 2)},"memcpy_pre_gbps":${num(memPre, 2)},"cpu${cpus}_post_sec":${num(cpuPost, 2)},"memcpy_post_gbps":${num(memPost, 2)}}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failed,$ingest,"canary":$canary}"""
    // the driver's capture keeps only the tail of stdout — persist the
    // complete per-query record in-repo so round-over-round comparison
    // can always diff every query
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out/latest.json"))
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // compact summary as the TRUE last stdout line: the driver's
    // stdout capture keeps only a ~2 KB tail and parses its last
    // line — the full ~8 KB per-query record would truncate mid-line,
    // so it goes to stdout first (and durably to bench_out/) and the
    // final line is a summary guaranteed to fit the tail window
    val ts = results.flatMap(_._2).sorted
    val median = if (ts.isEmpty) 0.0
      else (ts(ts.length / 2) + ts((ts.length - 1) / 2)) / 2
    val slowest = results.collect { case (k, Some(v)) => (k, v) }
      .sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + num(v, 3) }
      .mkString("{", ",", "}")
    // keep the expected "queries" key but bound it to the 8 slowest
    // so the line stays well under the tail window
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$slowest,"sf":"$sfDir","failed":$failed,"n_queries":${results.length},"median_sec":${num(median, 3)},$ingest,"queries_truncated_to":"8 slowest; full map in bench_out/latest.json","canary":$canary}"""
    // stop Spark BEFORE printing so the result JSON is the final
    // stdout line (the driver parses the tail of captured stdout;
    // shutdown logging routes to stderr but must not trail the JSON)
    spark.stop()
    println(json)
    println(summary)
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }
}
