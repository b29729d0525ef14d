package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Q
import graft.operators.LayoutCatalog

import Main._

/** `query_mix`: a stratified sample of the operator-query registry in
  * seeded order, over the bundled sf0.001 tables, one client, closed loop.
  *
  * Set-up copies the tables into the work dir, builds the catalog
  * artifacts the sample reads from an empty catalog (the cold write), and
  * runs each sampled query once, as Bench's warm-up round does. A pass
  * then runs every sampled query once, in a seeded order; each is forced
  * with `queryExecution.toRdd.count()` and its row count checked against
  * `expected/query_rows.json`.
  */
object QueryMix {
  val DataName = "sf0.001"
  val SampleSize = 9

  /** The slowest query of a full registry pass at sf0.1 on a 4-core host
    * (7.4 s, almost all of it in `q.build`): the iterative tail. */
  val Tail = "q247_cluster_size_report"

  final case class Expected(rows: Map[String, Long], warmSeconds: Map[String, Double],
      artifacts: Map[String, Seq[String]])

  def registry: Seq[(String, Q)] = {
    import graft.queries._
    Seq(Relational.all, Events.all, TextOps.all, Vectors.all, Cleaning.all,
      Multimodal.all, Curation.all, Matching.all, Layout.all, Graph.all)
      .zip(Layers.Families).flatMap { case (qs, f) => qs.map(f -> _) }
  }

  def expectedFile(a: Args): File = new File(a.bench, "expected/query_rows.json")

  def loadExpected(a: Args): Expected = {
    val root = new ObjectMapper().readTree(expectedFile(a))
    val qs = root.get("queries").elements().asScala.toSeq
    Expected(
      qs.map(q => q.get("name").asText() -> q.get("rows").asLong()).toMap,
      qs.map(q => q.get("name").asText() -> q.get("warm_s").asDouble()).toMap,
      qs.map(q => q.get("name").asText() ->
        q.get("artifacts").elements().asScala.map(_.asText()).toSeq).toMap)
  }

  /** Copies the bundled tables into the work dir: the catalog keys its
    * artifacts by the corpus path, which must be one this run owns. */
  def stageData(a: Args): String = {
    val src = new File(a.bench, s"data/$DataName")
    val dst = new File(a.work, s"in/$DataName")
    dst.mkdirs()
    Option(src.listFiles()).getOrElse(sys.error(s"no tables under $src"))
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.copy(f.toPath, new File(dst, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
      }
    dst.getPath
  }

  private def unpersistAll(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.values
    rdds.foreach(_.unpersist(blocking = true))
    rdds.size
  }

  /** The sample. `SampleSize` slots are stratified twice: each family
    * gets a share in proportion to its share of the eligible queries
    * (largest remainder), and within a family the slots take the middles
    * of equal-count bands of its queries sorted by warm time. Middles
    * never reach a family's tail, so `Tail` is added; and each artifact
    * kind the cold write builds that no pick reads adds its median reader
    * by warm time, so every artifact is read. The set is the same for
    * every seed (a seeded pick per band moved the pass time by more than
    * the bound allows); the seed orders every pass. */
  def sample(exp: Expected): Seq[(String, Q)] = {
    val kinds = Groups.flatMap(_.kinds)
    val eligible = registry.filter { case (_, q) =>
      exp.artifacts(q.name).forall(k => kinds.exists(k.startsWith)) }
    val byFamily = eligible.groupBy(_._1).withDefaultValue(Nil)
    val quota = Layers.Families.map(f => f -> SampleSize.toDouble * byFamily(f).size / eligible.size)
    val extra = quota.sortBy { case (f, x) => (x.toInt - x, f) }
      .take(SampleSize - quota.map(_._2.toInt).sum).map(_._1).toSet
    def byWarm(qs: Seq[(String, Q)]) = qs.sortBy { case (_, q) => (exp.warmSeconds(q.name), q.name) }
    val strata = quota.flatMap { case (f, x) =>
      val k = x.toInt + (if (extra(f)) 1 else 0)
      val qs = byWarm(byFamily(f))
      (0 until k).map(b => qs(((2 * b + 1) * qs.size) / (2 * k)))
    }
    val tail = eligible.filter(_._2.name == Tail)
    require(tail.nonEmpty, s"$Tail reads an artifact the cold write does not build")
    kinds.foldLeft(strata ++ tail.filterNot(strata.contains)) { (picked, kind) =>
      def reads(q: Q) = exp.artifacts(q.name).exists(_.startsWith(kind))
      if (picked.exists(p => reads(p._2))) picked
      else {
        val readers = byWarm(eligible.filter(p => reads(p._2)))
        picked ++ readers.lift(readers.size / 2)
      }
    }
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    val exp = loadExpected(a)
    val dir = stageData(a)
    val notes = Seq.newBuilder[String]
    val trace = new Trace(spark.sparkContext)
    if (a.trace) trace.attach()

    // the cold write: the sample's artifacts from an empty catalog
    val builds0 = LayoutCatalog.buildsPublished.get()
    val (ingested, coldS) = timed(
      try Right(ingest(spark, dir, if (a.trace) Some(trace) else None))
      catch { case scala.util.control.NonFatal(e) => Left(e.toString) })
    val builds = LayoutCatalog.buildsPublished.get() - builds0
    unpersistAll(spark)
    val catalogBytes = bytesUnder(LayoutCatalog.root)
    val storedRatio = catalogBytes.toDouble / bytesUnder(new File(dir))
    val expectedBuilds = Groups.map(_.builds).sum
    val ingestProblem = ingested.left.toOption.map(e => s"ingest: $e").orElse(
      Option.when(builds != expectedBuilds)(
        s"ingest published $builds builds, expected $expectedBuilds"))
    ingestProblem.foreach(notes += _)
    progress(f"ingest: $coldS%.1f s, $builds builds")

    val picked = sample(exp)
    notes += s"sample: ${picked.map(_._2.name).mkString(" ")}"
    val warmFailures = picked.flatMap { case (_, q) =>
      val r = try Right(q.build(spark, dir).queryExecution.toRdd.count())
        catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
      unpersistAll(spark)
      r.left.toOption.map(e => s"warm-up ${q.name}: $e")
    }
    warmFailures.foreach(notes += _)
    val setupS = uptimeSeconds
    progress("warm-up done")

    final case class Run(name: String, family: String, seconds: Double, cpu: Double,
        span: Int, pass: Int)
    val runs = Seq.newBuilder[Run]
    val passTimes = Seq.newBuilder[(Double, Double)]
    val passSpans = Seq.newBuilder[(Long, Long)]
    // the cold write and each warm-up query are attempts too
    var attempted = 1 + picked.size
    var failed = ingestProblem.size + warmFailures.size
    var pass, leftRdds = 0
    val rnd = new scala.util.Random(a.seed)
    val t0 = System.nanoTime()
    while (seconds(t0) < a.seconds || pass < minPasses(a)) {
      val tracedPass = Main.tracedPass(a, pass)
      if (a.trace) { if (tracedPass) trace.attach() else trace.detach() }
      def harness[A](f: => A): A = if (tracedPass) trace.span(Trace.Harness)(_ => f) else f
      val p0 = System.nanoTime()
      var passS, passCpu = 0.0
      rnd.shuffle(picked).foreach { case (family, q) =>
        attempted += 1
        var span = 0
        val c = cpuSeconds
        val t = System.nanoTime()
        val rows =
          try Right(
            if (tracedPass) trace.span("query") { id =>
              span = id
              val df = trace.span("queries.build", id)(_ => q.build(spark, dir))
              trace.span("queries.plan", id)(_ => df.queryExecution.executedPlan)
              trace.span("queries.exec", id)(_ => df.queryExecution.toRdd.count())
            } else q.build(spark, dir).queryExecution.toRdd.count())
          catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
        val s = seconds(t)
        val cpu = cpuSeconds - c
        passS += s
        passCpu += cpu
        val rdds = harness(unpersistAll(spark))
        if (tracedPass) leftRdds += rdds
        rows match {
          case Right(n) if n == exp.rows(q.name) =>
            runs += Run(q.name, family, s, cpu, span, pass)
          case other =>
            failed += 1
            notes += s"${q.name}: got $other, expected ${exp.rows(q.name)} rows"
        }
      }
      passTimes += passS -> passCpu
      if (tracedPass) passSpans += p0 -> System.nanoTime()
      progress(f"pass $pass: $passS%.2f s")
      pass += 1
    }
    trace.detach()
    val lateBuilds = LayoutCatalog.buildsPublished.get() - builds0 - builds
    if (lateBuilds > 0) notes += s"$lateBuilds catalog builds after ingest"

    val done = runs.result()
    notes += done.groupBy(_.name).toSeq.map { case (n, rs) => (median(rs.map(_.seconds)), n) }
      .sorted.map { case (t, n) => f"$n $t%.3f" }.mkString("median s: ", ", ", "")
    val metrics = Map(
      "setup_s" -> setupS,
      "op_cpu_s" -> interquartileMean(done.map(_.cpu)),
      "pass_cpu_s" -> median(passTimes.result().map(_._2)),
      "wall.op_p50_s" -> median(done.map(_.seconds)),
      "wall.pass_s" -> median(passTimes.result().map(_._1)),
      "stored_bytes_per_input_byte" -> storedRatio)

    val layers = if (!a.trace) Map.empty[String, Double] else {
      val rec = trace.recorded
      val byParent = rec.groupBy(_._1.parent)
      val tracedRuns = done.filter(_.span != 0)
      val tracedPasses = tracedRuns.map(_.pass).distinct.size.max(1)
      val phases = tracedRuns.flatMap(r => byParent.getOrElse(r.span, Nil))
      def phase(n: String) = phases.filter(_._1.name == n).map(_._1.seconds).sum / tracedPasses
      val work = phases.map(_._2).foldLeft(new Trace.Work)(_ add _)
      val wall = tracedRuns.map(_.seconds).sum
      val m = Map.newBuilder[String, Double]
      m += "queries.build_s" -> phase("queries.build")
      m += "queries.plan_s" -> phase("queries.plan")
      m += "queries.exec_s" -> phase("queries.exec")
      m += "queries.jobs" -> work.jobs.get.toDouble / tracedPasses
      m += "queries.ms_per_job" -> (if (work.jobs.get > 0) wall * 1000 / work.jobs.get else 0.0)
      m += "queries.tasks" -> work.tasks.get.toDouble / tracedPasses
      m += "queries.task_s" -> work.taskNanos.get / 1e9 / tracedPasses
      m += "queries.core_busy_frac" -> (if (wall > 0) work.taskNanos.get / 1e9 / (wall * Cores) else 0.0)
      m += "queries.shuffle_bytes" -> work.shuffleBytes.get.toDouble / tracedPasses
      m += "queries.spill_bytes" -> work.spillBytes.get.toDouble / tracedPasses
      m += "queries.gc_s" -> work.gcNanos.get / 1e9 / tracedPasses
      Layers.Families.foreach { f =>
        val fr = tracedRuns.filter(_.family == f)
        m += s"queries.$f.s" -> fr.map(_.seconds).sum / tracedPasses
        m += s"queries.$f.jobs" -> fr.flatMap(r => byParent.getOrElse(r.span, Nil))
          .map(_._2.jobs.get).sum.toDouble / tracedPasses
      }
      m += "checkpoints.rdds" -> leftRdds.toDouble / tracedPasses
      m += "setup.cold_write_s" -> coldS
      m += "jvm.peak_rss_mb" -> peakRssMb
      m += "jvm.live_heap_mb" -> liveHeapMb
      m += "catalog.builds" -> builds.toDouble
      m += "catalog.late_builds" -> lateBuilds.toDouble
      m += "catalog.bytes" -> catalogBytes.toDouble
      val groups = rec.filter { case (s, _) => s.name.startsWith("ingest.") }
      groups.foreach { case (s, w) =>
        m += s"${s.name}.s" -> s.seconds
        m += s"${s.name}.jobs" -> w.jobs.get.toDouble
        m += s"${s.name}.task_s" -> w.taskNanos.get / 1e9
      }
      ingested.getOrElse(Nil).foreach { case (g, bytes) => m += s"ingest.$g.bytes" -> bytes.toDouble }
      m += "ingest.overlap" -> groups.map(_._1.seconds).sum / coldS
      kernelRates(spark, dir).foreach { case (k, v) => m += s"functions.$k.rows_per_s" -> v }
      val (acct, over) = trace.accounting(passSpans.result(),
        tracedRuns.map(r => (r.span, r.seconds)), done.filter(r => r.span == 0 && r.pass > 0).map(_.seconds))
      over.foreach(notes += _)
      Layers.zeros ++ m.result() ++ acct
    }
    Outcome(failed == 0 && lateBuilds == 0, attempted, failed, layers ++ metrics, notes.result())
  }

  /** One `Ingest` group: the catalog kinds it publishes, how many
    * artifacts it publishes at the parent commit, and its public entry
    * point (the one `Ingest.buildAll` calls). */
  final case class Group(name: String, kinds: Seq[String], builds: Int,
      entry: (SparkSession, String) => Unit)

  /** The groups the cold write builds, a copy of two rows of `Ingest`'s
    * private group table that must be kept in step with it (`deps`
    * checks that `Ingest.buildAll` still builds these kinds). All five
    * groups take about 75 s cold on a 4-core host, which the benchmark's
    * time budget cannot pay on every run; these two are the groups whose
    * artifacts the eligible queries read. `Ingest.buildAll`'s own
    * scheduling is therefore not measured. */
  val Groups: Seq[Group] = Seq(
    Group("edge_layout", Seq("edges_"), 1,
      (s, d) => { graft.operators.EdgeLayout.pairs(s, d); () }),
    Group("pair_graph", Seq("pairs07_"), 1,
      (s, d) => { graft.operators.PairGraph.qualifyingPairs(s, d); () }))

  /** The cold write: the groups' entry points run concurrently, one
    * thread per group, as `Ingest.buildAll` runs them; traced, each group
    * runs inside its own span. Returns each group's artifact bytes. */
  private def ingest(spark: SparkSession, dir: String, trace: Option[Trace]): Seq[(String, Long)] = {
    def all(parent: Int): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Groups.size)
      try Groups.map { g =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = trace match {
            case Some(t) => t.span(s"ingest.${g.name}", parent)(_ => g.entry(spark, dir))
            case None => g.entry(spark, dir)
          }
        })
      }.foreach(_.get())
      finally pool.shutdown()
    }
    trace match {
      case Some(t) => t.span("ingest")(all)
      case None => all(0)
    }
    val kinds = Option(LayoutCatalog.root.listFiles()).getOrElse(Array.empty[File]).toSeq
    Groups.map { g =>
      g.name -> kinds.filter(k => g.kinds.exists(k.getName.startsWith)).map(bytesUnder).sum
    }
  }

  /** Rows per second of each custom kernel over the bundled documents or
    * embeddings, replicated 100 times; each is run
    * once before it is timed. */
  private def kernelRates(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    import graft.functions._
    val reps = spark.range(100).toDF("rep")
    val docs = reps.crossJoin(graft.Tables.load(spark, dir, "documents").select("text")).cache()
    val vecs = reps.crossJoin(graft.Tables.load(spark, dir, "embeddings")
      .select(VecMath.quantize(col("embedding")).as("qv"))).cache()
    val nDocs = docs.count()
    val nVecs = vecs.count()
    val kernels: Seq[(String, Long, () => Long)] = Seq(
      ("minhashFast", nDocs, () => force(docs.select(MinHash.minhashFast(col("text"), 6)))),
      ("simhash16", nDocs, () => force(docs.select(SimHash.simhash16(col("text"))))),
      ("gramCodes3", nDocs, () => force(docs.select(Jaccard.gramCodes3(col("text"))))),
      ("tokenNgrams", nDocs, () => force(docs.select(Ngrams.tokenNgrams(col("text"), 5)))),
      ("srpBuckets", nVecs, () => force(vecs.select(Srp.srpBuckets(col("qv"), 0, 3, 6)))),
      ("packedSig", nDocs, () => force(docs.select(PayloadSig.packedSig(col("text"))))))
    try kernels.map { case (k, rows, f) =>
      f()
      val (_, s) = timed(f())
      k -> rows / s
    } finally { docs.unpersist(true); vecs.unpersist(true) }
  }

  private def force(df: org.apache.spark.sql.DataFrame): Long = df.queryExecution.toRdd.count()

  /** Adds to `expected/query_rows.json` the catalog artifact kinds each
    * query reads: after one full ingest has warmed the JVM, each query
    * runs against its own empty catalog root and the kinds it builds
    * there are its dependencies. Run without GRAFT_LAYOUT_ROOT set, so
    * the root can move per query. */
  def deps(spark: SparkSession, a: Args): Unit = {
    require(!sys.env.contains("GRAFT_LAYOUT_ROOT"), "unset GRAFT_LAYOUT_ROOT to compute deps")
    val dir = stageData(a)
    val all = new File(a.work, "deps/all")
    System.setProperty("graft.layout.root", all.getPath)
    graft.Ingest.buildAll(spark, dir)
    unpersistAll(spark)
    // the cold write's groups copy Ingest's private group table
    val built = Option(all.list()).map(_.toSeq).getOrElse(Nil)
    Groups.flatMap(_.kinds).foreach(k =>
      require(built.exists(_.startsWith(k)), s"Ingest.buildAll built no $k artifact; update Groups"))
    val kinds = registry.zipWithIndex.map { case ((_, q), i) =>
      val root = new File(a.work, s"deps/$i")
      System.setProperty("graft.layout.root", root.getPath)
      q.build(spark, dir).queryExecution.toRdd.count()
      unpersistAll(spark)
      q.name -> Option(root.list()).map(_.toSeq.sorted).getOrElse(Nil)
    }.toMap
    val mapper = new ObjectMapper()
    val doc = mapper.readTree(expectedFile(a)).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    doc.get("queries").elements().asScala.foreach { q =>
      val arr = q.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].putArray("artifacts")
      kinds(q.get("name").asText()).foreach(k => arr.add(k))
    }
    val lines = doc.get("queries").elements().asScala.map(q => "    " + mapper.writeValueAsString(q))
    Files.write(expectedFile(a).toPath, (s"""{\n  "data": "${doc.get("data").asText()}",\n""" +
      s"""  "ingest_builds": ${doc.get("ingest_builds").asLong()},\n""" +
      s"""  "queries": [\n${lines.mkString(",\n")}\n  ]\n}\n""").getBytes("UTF-8"))
  }

  /** Writes `expected/query_rows.json`: every registry query's row count
    * (forced like the timed loop) and its warm wall time, the key the
    * sample is stratified on, after a cold ingest and one cold pass. */
  def expect(spark: SparkSession, a: Args): Unit = {
    val dir = stageData(a)
    val b0 = LayoutCatalog.buildsPublished.get()
    graft.Ingest.buildAll(spark, dir)
    val builds = LayoutCatalog.buildsPublished.get() - b0
    unpersistAll(spark)
    val cold = registry.map { case (_, q) =>
      val n = q.build(spark, dir).queryExecution.toRdd.count(); unpersistAll(spark); n
    }
    val warm = registry.zip(cold).map { case ((f, q), n0) =>
      val (n, s) = timed(q.build(spark, dir).queryExecution.toRdd.count())
      unpersistAll(spark)
      require(n == n0, s"${q.name}: $n0 rows cold, $n warm")
      s"""    {"name": "${q.name}", "family": "$f", "rows": $n, "warm_s": ${"%.3f".formatLocal(java.util.Locale.ROOT, s)}}"""
    }
    val late = LayoutCatalog.buildsPublished.get() - b0 - builds
    require(late == 0, s"$late catalog builds after ingest")
    val out = expectedFile(a)
    out.getParentFile.mkdirs()
    Files.write(out.toPath, (s"""{\n  "data": "$DataName",\n  "ingest_builds": $builds,\n""" +
      s"""  "queries": [\n${warm.mkString(",\n")}\n  ]\n}\n""").getBytes("UTF-8"))
  }
}
