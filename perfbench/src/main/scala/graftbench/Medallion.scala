package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, to_date}

import graft.pipeline.{Bronze, Gold, Pipeline, Quality, Settings, Silver}

import Main._

/** `medallion`: the Bronze → Silver → Gold → Quality pipeline over a
  * seeded synthetic page source, one client, closed loop.
  *
  * One op is one daily `Pipeline.run`; one pass is `DaysPerPass` daily
  * runs into a fresh lake, so later days write into a warehouse that
  * already holds earlier dates. Set-up generates the pages and makes
  * the cold run (the first `Pipeline.run` of the JVM), which is checked
  * like every timed op.
  */
object Medallion {
  val PageCount = 8
  val PerPage = 200
  val DaysPerPass = 2

  def settings(lake: File): Settings = Settings(
    lakeRoot = lake.getPath, bronzePrefix = "bronze-layer",
    silverPrefix = "silver-layer", goldPrefix = "gold-layer",
    warehouseRoot = new File(lake, "warehouse").getPath,
    apiUrl = "synthetic", perPage = PerPage)

  def date(day: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString

  def run(spark: SparkSession, a: Args): Outcome = {
    val pages = new Pages(a.seed, PageCount, PerPage)
    val exp = pages.expected
    val notes = Seq.newBuilder[String]
    notes += s"pages=${exp.pages} records=${exp.records} silver_rows=${exp.silverRows} " +
      s"bronze_bytes=${pages.bodyBytes}"

    def check(r: Pipeline.RunReport, st: Settings, day: String): Option[String] = {
      val byType = spark.read.parquet(s"${r.goldBaseDir}/by_type")
        .agg(count(lit(1)), coalesce(sum("brewery_count"), lit(0L))).head()
      val problems = Seq(
        "pages" -> (r.pages == exp.pages), "records" -> (r.records == exp.records),
        "silver_rows" -> (r.silverRows == exp.silverRows),
        "quality" -> r.allChecksPassed,
        "by_type_rows" -> (byType.getLong(0) == exp.byTypeRows),
        "by_type_total" -> (byType.getLong(1) == exp.silverRows)).filterNot(_._2).map(_._1)
      if (problems.isEmpty) None
      else Some(s"$day wrong: ${problems.mkString(",")} (report $r, by_type $byType)")
    }

    // the cold write: the first run in this JVM, on its own lake
    val coldLake = new File(a.work, "lake-cold")
    val (coldReport, coldS) = timed(
      try Right(Pipeline.run(spark, settings(coldLake), pages, Some(date(0))))
      catch { case scala.util.control.NonFatal(e) => Left(s"cold run: $e") })
    val coldProblem = coldReport.flatMap(r => check(r, settings(coldLake), date(0)).toLeft(r))
      .left.toOption
    coldProblem.foreach(notes += _)
    deleteTree(coldLake)
    val setupS = uptimeSeconds
    progress(f"cold run: $coldS%.1f s")

    val trace = new Trace(spark.sparkContext)
    val failedByStage = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

    /** One daily run, traced: each stage is called directly inside its
      * own span, and a failure `Pipeline.retry` would absorb is counted. */
    def tracedRun(st: Settings, day: String, op: Int): Pipeline.RunReport = {
      def stage[A](name: String)(f: => A): A = trace.span(s"pipeline.$name", op) { _ =>
        def attempt(left: Int): A =
          try f catch {
            case scala.util.control.NonFatal(e) if left > 1 =>
              failedByStage(name) += 1; notes += s"$name failed once: $e"; attempt(left - 1)
          }
        attempt(3)
      }
      val (pg, recs) = stage("bronze")(Bronze.ingest(spark, st, pages, day))
      val rows = stage("silver")(Silver.transform(spark, st, day))
      val gold = stage("gold")(Gold.aggregate(spark, st, day))
      val checks = stage("quality")(Quality.run(spark, st, day))
      Pipeline.RunReport(day, pg, recs, rows, gold, checks)
    }

    final case class Op(seconds: Double, cpu: Double, traced: Boolean, span: Int, pass: Int)
    val ops = Seq.newBuilder[Op]
    val files = Seq.newBuilder[Map[String, Double]]
    val passTimes = Seq.newBuilder[(Double, Double)]
    val tracedPasses = Seq.newBuilder[(Long, Long)]
    var attempted = 1
    var failed = coldProblem.size
    var pass = 0
    var storedRatio = 0.0
    var lastLake: File = null
    val t0 = System.nanoTime()
    while (seconds(t0) < a.seconds || pass < minPasses(a)) {
      val tracedPass = Main.tracedPass(a, pass)
      if (a.trace) { if (tracedPass) trace.attach() else trace.detach() }
      def harness[A](f: => A): A = if (tracedPass) trace.span(Trace.Harness)(_ => f) else f
      val p0 = System.nanoTime()
      val lake = new File(a.work, s"lake-$pass")
      val st = settings(lake)
      var passS, passCpu = 0.0
      for (d <- 1 to DaysPerPass) {
        val day = date(d)
        attempted += 1
        var span = 0
        val c = cpuSeconds
        val t = System.nanoTime()
        val report =
          try Right(
            if (tracedPass) trace.span("pipeline.run") { id => span = id; tracedRun(st, day, id) }
            else Pipeline.run(spark, st, pages, Some(day)))
          catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
        val s = seconds(t)
        val cpu = cpuSeconds - c
        passS += s
        passCpu += cpu
        harness(report.flatMap(r => check(r, st, day).toLeft(r))) match {
          case Left(problem) => failed += 1; notes += problem
          case Right(_) => ops += Op(s, cpu, tracedPass, span, pass)
        }
      }
      passTimes += passS -> passCpu
      harness {
        storedRatio = bytesUnder(lake).toDouble / (DaysPerPass * pages.bodyBytes)
        if (tracedPass) files += layerFiles(st)
        if (lastLake != null) deleteTree(lastLake)
      }
      lastLake = lake
      if (tracedPass) tracedPasses += p0 -> System.nanoTime()
      progress(f"pass $pass: $passS%.2f s")
      pass += 1
    }
    trace.detach()

    // ROADMAP's idempotency contract, outside the timed loop: re-running
    // a date leaves its warehouse slice unchanged.
    val idemProblem = {
      val st = settings(lastLake)
      def slice = spark.read.parquet(st.warehouseTableDir)
        .filter(col("ingestion_date") === to_date(lit(date(1))))
        .orderBy("country", "state", "brewery_type").collect().toSeq
      val before = slice
      val r = Pipeline.run(spark, st, pages, Some(date(1)))
      val after = slice
      if (before.isEmpty || before != after || r.silverRows != exp.silverRows)
        Some(s"re-run of ${date(1)} changed the warehouse slice " +
          s"(${before.size} -> ${after.size} rows, silver ${r.silverRows})")
      else None
    }
    idemProblem.foreach(notes += _)
    deleteTree(lastLake)

    val done = ops.result()
    val metrics = Map(
      "setup_s" -> setupS,
      "op_cpu_s" -> interquartileMean(done.map(_.cpu)),
      "pass_cpu_s" -> median(passTimes.result().map(_._2)),
      "wall.op_p50_s" -> median(done.map(_.seconds)),
      "wall.pass_s" -> median(passTimes.result().map(_._1)),
      "stored_bytes_per_input_byte" -> storedRatio)
    val layers = if (!a.trace) Map.empty[String, Double] else {
      val tracedOps = done.filter(_.traced).map(o => (o.span, o.seconds))
      val (acct, over) = trace.accounting(tracedPasses.result(), tracedOps,
        done.filter(o => !o.traced && o.pass > 0).map(_.seconds))
      over.foreach(notes += _)
      val stages = traced(trace, tracedOps, files.result(), exp, failedByStage.toMap)
      def stat(k: String) = stages.getOrElse(k, 0.0)
      val stageTotal = Layers.PipelineStages.map(st => stat(s"pipeline.$st.s")).sum
      notes += f"gold share of the stage time: ${stat("pipeline.gold.s") / stageTotal}%.2f, " +
        f"${stat("pipeline.gold.partition_dirs")}%.0f gold partition directories per day"
      Layers.zeros ++ stages ++ acct ++ Map("setup.cold_write_s" -> coldS,
        "jvm.peak_rss_mb" -> peakRssMb, "jvm.live_heap_mb" -> liveHeapMb)
    }
    Outcome(idemProblem.isEmpty && failed == 0, attempted, failed,
      layers ++ metrics, notes.result())
  }

  /** File-level layer metrics of one traced pass's last day. */
  private def layerFiles(st: Settings): Map[String, Double] = {
    val day = date(DaysPerPass)
    def parquet(dir: File) = regularFiles(dir).filter(_.getName.endsWith(".parquet"))
    val bronze = regularFiles(new File(st.bronzeDir(day))).filter(_.getName.endsWith(".json"))
    val silver = parquet(new File(st.silverDir(day)))
    val goldDir = new File(st.goldBaseDir(day))
    val slice = new File(st.warehouseTableDir, s"ingestion_date=$day")
    val gold = parquet(goldDir) ++ parquet(slice)
    Map(
      "pipeline.bronze.files" -> bronze.size.toDouble,
      "pipeline.bronze.bytes" -> bronze.map(_.length()).sum.toDouble,
      "pipeline.silver.files" -> silver.size.toDouble,
      "pipeline.gold.files" -> gold.size.toDouble,
      "pipeline.gold.partition_dirs" -> gold.map(_.getParentFile).distinct.size.toDouble,
      "pipeline.gold.bytes" -> (bytesUnder(goldDir) + bytesUnder(slice)).toDouble)
  }

  /** What a traced stage span reports, by metric suffix. */
  private val StageMetrics: Seq[(String, (Trace.Span, Trace.Work) => Double)] = Seq(
    "s" -> ((s, _) => s.seconds),
    "jobs" -> ((_, w) => w.jobs.get.toDouble),
    "tasks" -> ((_, w) => w.tasks.get.toDouble),
    "task_s" -> ((_, w) => w.taskNanos.get / 1e9),
    "shuffle_bytes" -> ((_, w) => w.shuffleBytes.get.toDouble))

  /** Per-layer stage metrics: per-op medians over the traced ops, for
    * the names `Layers.perLayer` declares. */
  private def traced(trace: Trace, tracedOps: Seq[(Int, Double)],
      fileStats: Seq[Map[String, Double]], exp: Pages.Expected,
      failedByStage: Map[String, Int]): Map[String, Double] = {
    val declared = Layers.perLayer.map(_._1).toSet
    val opIds = tracedOps.map(_._1).toSet
    val stages = trace.recorded.filter { case (s, _) => opIds.contains(s.parent) }
    val spans = for {
      st <- Layers.PipelineStages
      (suffix, f) <- StageMetrics
      name = s"pipeline.$st.$suffix" if declared(name)
    } yield name -> median(stages.filter(_._1.name == s"pipeline.$st").map(f.tupled))
    val files = fileStats.flatMap(_.keys).distinct.map(k => k -> median(fileStats.flatMap(_.get(k))))
    (spans ++ files ++ Layers.PipelineStages.map(st =>
      s"pipeline.$st.failed" -> failedByStage.getOrElse(st, 0).toDouble)).toMap +
      ("pipeline.silver.rows_out_per_in" -> exp.silverRows.toDouble / exp.records)
  }
}
