package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end medallion run on an injected page source with dirty rows
  * (FIXTURES.md A); covers S1–S4, K1–K5, P*, F*, W1, G1–G7, D1–D3. */
class PipelineE2ESpec extends SparkSpec {

  /** Three pages: page sizes 3,3,2 with per_page=3 (short page ends the
    * no-Link walk); includes dup ids, blanks, bad lat/long, and a
    * state_province fallback. */
  private object FakeSource extends Bronze.PageSource {
    private val pages = Map(
      1 -> """[
        {"id":"b1","name":"Alpha","brewery_type":"micro","country":"US","state":"CA","city":"LA","postal_code":"1","latitude":"34.0","longitude":"-118.0"},
        {"id":"b2","name":"  Beta  ","brewery_type":" brewpub ","country":" US ","state":"","state_province":"NY","city":"NYC","postal_code":"2","latitude":"40.7","longitude":"-74.0"},
        {"id":"b1","name":"Alpha","brewery_type":"micro","country":"US","state":"CA","city":"LA","postal_code":"1","latitude":"34.0","longitude":"-118.0"}]""",
      2 -> """[
        {"id":"b3","name":"Gamma","brewery_type":"nano","country":"DE","state":"BY","city":"M","postal_code":"3","latitude":"999","longitude":"11.5"},
        {"id":"b4","name":"","brewery_type":"micro","country":"US","state":"CA"},
        {"id":"b5","name":"Eps","brewery_type":"micro","country":"US","state":"CA","latitude":"not-a-number","longitude":""}]""",
      3 -> """[
        {"id":"b6","name":"Zeta","brewery_type":"large","country":"US","state":"TX","city":"A","postal_code":"6","latitude":"30.2","longitude":"-97.7"},
        {"id":"b7","name":"Eta","brewery_type":"micro","country":"US","state":"TX"}]""")

    var calls: List[Int] = Nil

    override def fetch(page: Int, perPage: Int): Bronze.Page = {
      calls = page :: calls
      val body = pages.getOrElse(page, "[]")
      val n = if (pages.contains(page)) (if (page == 3) 2 else 3) else 0
      Bronze.Page(body, n, None)
    }
  }

  private def settings(root: String) = Settings(
    lakeRoot = s"$root/lake",
    bronzePrefix = "bronze-layer", silverPrefix = "silver-layer",
    goldPrefix = "gold-layer", warehouseRoot = s"$root/warehouse",
    apiUrl = "http://unused", perPage = 3)

  /** This run's warehouse slice, read with its declared schema. */
  private def warehouseSlice(st: Settings, d: String): DataFrame =
    spark.read.schema(Schemas.goldHistory).parquet(st.warehouseTableDir)
      .filter(col("ingestion_date") === to_date(lit(d)))

  /** One gold export, read with its keys typed as strings (an inferred
    * schema would type numeric-looking partition values as ints). */
  private def goldExport(st: Settings, d: String, grain: String,
      keys: Seq[String]): DataFrame =
    spark.read.schema(StructType(StructField("brewery_count", LongType) +:
      keys.map(StructField(_, StringType))))
      .parquet(s"${st.goldBaseDir(d)}/by_$grain")

  /** (keys, brewery_count) rows, sorted by keys. */
  private def rowsOf(df: DataFrame, keys: Seq[String]): Seq[(Seq[String], Long)] = {
    import scala.math.Ordering.Implicits.seqOrdering
    df.collect().toSeq
      .map(r => keys.map(r.getAs[String]) -> r.getAs[Long]("brewery_count"))
      .sortBy(_._1)
  }

  /** Asserts that each of the four exports equals the
    * `groupBy(keys).sum` rollup of the warehouse slice, and returns each
    * grain's keys and exported rows. */
  private def exportsMatchSlice(st: Settings,
      d: String): Seq[(String, Seq[String], Seq[(Seq[String], Long)])] = {
    val slice = warehouseSlice(st, d)
    Gold.grains.map { case (grain, keys) =>
      val expected = slice.groupBy(keys.map(col): _*)
        .agg(sum("brewery_count").as("brewery_count"))
      val exported = rowsOf(goldExport(st, d, grain, keys), keys)
      assert(exported === rowsOf(expected, keys), grain)
      (grain, keys, exported)
    }
  }

  test("full pipeline: dirty pages → silver rows → gold counts; rerun idempotent") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val st = settings(root)
    val d = "2026-01-15"

    val report = Pipeline.run(spark, st, FakeSource, Some(d), retryDelayMs = 0)

    assert(report.pages === 3)
    assert(report.records === 8)
    // b1 dedup'd; b3 dropped (lat 999); b4 dropped (blank name) → b1,b2,b5,b6,b7
    assert(report.silverRows === 5)
    assert(report.allChecksPassed, report.checks.toString)

    // silver layout: ingestion_date root partitioned by country/state
    val silver = spark.read.parquet(st.silverDir(d))
    assert(silver.schema.fieldNames.toSet ===
      Schemas.silver.fieldNames.toSet)
    // state_province fallback surfaced in the partition column
    assert(silver.filter(col("id") === "b2").head().getAs[String]("state") === "NY")

    // gold warehouse: this run's slice
    val hist = spark.read.parquet(st.warehouseTableDir)
      .filter(col("ingestion_date") === to_date(lit(d)))
    val counts = hist.collect()
      .map(r => (r.getAs[String]("country"), r.getAs[String]("state"),
        r.getAs[String]("brewery_type")) -> r.getAs[Long]("brewery_count"))
      .toMap
    assert(counts(("US", "CA", "micro")) === 2) // b1, b5
    assert(counts(("US", "NY", "brewpub")) === 1)
    assert(counts(("US", "TX", "large")) === 1)
    assert(counts(("US", "TX", "micro")) === 1)
    assert(counts.values.sum === 5)

    // each of the four exports is the matching rollup of the warehouse
    // slice, and each run view returns its export's rows in key order
    for ((grain, keys, exported) <- exportsMatchSlice(st, d)) {
      val view = spark.table(s"v_gold_by_${grain}_run")
      assert(view.collect().map(r => keys.map(r.getAs[String])).toSeq ===
        exported.map(_._1), s"v_gold_by_${grain}_run")
      assert(rowsOf(view, keys) === exported, s"v_gold_by_${grain}_run")
    }
    assert(rowsOf(goldExport(st, d, "type", Seq("brewery_type")),
      Seq("brewery_type")).map(_._2).sum === 5)

    // idempotent rerun: same end state, no duplication (D1/D2)
    val report2 = Pipeline.run(spark, st, FakeSource, Some(d), retryDelayMs = 0)
    assert(report2.silverRows === 5)
    val hist2 = spark.read.parquet(st.warehouseTableDir)
      .filter(col("ingestion_date") === to_date(lit(d)))
    assert(hist2.agg(sum("brewery_count")).head().getLong(0) === 5)

    // a second date accumulates history instead of replacing it
    val d2 = "2026-01-16"
    Pipeline.run(spark, st, FakeSource, Some(d2), retryDelayMs = 0)
    val allHist = spark.read.parquet(st.warehouseTableDir)
    assert(allHist.select("ingestion_date").distinct().count() === 2)
  }

  test("numeric-looking state codes reach gold as written, not as ints") {
    // silver partitions by state; an inferred read of state=01 would
    // type the column int and turn "01" into "1"
    object CodedSource extends Bronze.PageSource {
      override def fetch(page: Int, perPage: Int): Bronze.Page =
        if (page > 1) Bronze.Page("[]", 0, None)
        else Bronze.Page("""[
          {"id":"n1","name":"A","brewery_type":"micro","country":"BR","state":"01"},
          {"id":"n2","name":"B","brewery_type":"micro","country":"BR","state":"02"},
          {"id":"n3","name":"C","brewery_type":"nano","country":"BR","state":"01"}]""", 3, None)
    }
    val root = Files.createTempDirectory("graft-codes").toString
    val st = settings(root)
    val d = "2026-01-19"
    val report = Pipeline.run(spark, st, CodedSource, Some(d), retryDelayMs = 0)
    assert(report.silverRows === 3)
    assert(report.allChecksPassed, report.checks.toString)
    val keys = Seq("country", "state", "brewery_type")
    val expected = Seq(Seq("BR", "01", "micro") -> 1L,
      Seq("BR", "01", "nano") -> 1L, Seq("BR", "02", "micro") -> 1L)
    assert(rowsOf(warehouseSlice(st, d), keys) === expected)
    assert(rowsOf(goldExport(st, d, "country_state_type", keys), keys) === expected)
  }

  test("re-running a date drops the silver and gold leaves it no longer produces") {
    /** One short page per run: run 1 puts s1 alone in (US, CA); run 2
      * re-lists s1 with a smaller name and state OR, so the canonical
      * dedup (bronze keeps both pages) moves it to (US, OR). */
    final class RunSource(body: String) extends Bronze.PageSource {
      override def fetch(page: Int, perPage: Int): Bronze.Page =
        if (page > 1) Bronze.Page("[]", 0, None) else Bronze.Page(body, 2, None)
    }
    val first = new RunSource("""[
      {"id":"s1","name":"Tau","brewery_type":"micro","country":"US","state":"CA"},
      {"id":"s2","name":"Kappa","brewery_type":"nano","country":"US","state":"TX"}]""")
    val second = new RunSource("""[
      {"id":"s1","name":"Alpha","brewery_type":"micro","country":"US","state":"OR"},
      {"id":"s2","name":"Kappa","brewery_type":"nano","country":"US","state":"TX"}]""")
    val root = Files.createTempDirectory("graft-stale").toString
    val st = settings(root)
    val d = "2026-01-21"
    Pipeline.run(spark, st, first, Some(d), retryDelayMs = 0)
    val report = Pipeline.run(spark, st, second, Some(d), retryDelayMs = 0)
    assert(report.silverRows === 2)
    assert(report.allChecksPassed, report.checks.toString)

    val silver = spark.read.schema(Schemas.silver).parquet(st.silverDir(d))
    assert(silver.count() === 2, "a stale silver leaf survived the re-run")
    assert(silver.filter(col("id") === "s1").head().getAs[String]("state") === "OR")
    val slice = warehouseSlice(st, d)
    assert(slice.agg(sum("brewery_count")).head().getLong(0) === 2)
    exportsMatchSlice(st, d)
  }

  test("a re-run that fails mid-write keeps the date's earlier silver and gold") {
    val root = Files.createTempDirectory("graft-failed-rerun").toString
    val st = settings(root)
    val d = "2026-01-22"
    val report = Pipeline.run(spark, st, FakeSource, Some(d), retryDelayMs = 0)
    def silverRows = spark.read.schema(Schemas.silver).parquet(st.silverDir(d)).count()
    assert(silverRows === report.silverRows)
    val exports = exportsMatchSlice(st, d)

    // two tasks: one commits its file, the other throws
    val failing = spark.range(0, 2, 1, 2).select(
      when(col("id") === 1, raise_error(lit("injected"))).otherwise(col("id")).as("id"))
    for (dir <- Seq(st.silverDir(d), st.goldBaseDir(d)))
      intercept[Exception](Pipeline.replaceDir(spark, dir)(failing.write.parquet(_)))
    assert(silverRows === report.silverRows, "the failed re-run removed silver")
    assert(exportsMatchSlice(st, d) === exports, "the failed re-run changed gold")

    // the next run clears the failed run's staging dirs and replaces both
    val again = Pipeline.run(spark, st, FakeSource, Some(d), retryDelayMs = 0)
    assert(again.silverRows === report.silverRows)
    assert(silverRows === report.silverRows)
    assert(exportsMatchSlice(st, d) === exports)
    for (dir <- Seq(st.silverDir(d), st.goldBaseDir(d))) {
      val target = Paths.get(dir)
      assert(!Files.exists(target.resolveSibling(s".${target.getFileName}.staging")), dir)
    }
  }

  test("every stage logs <stage>_done with its wall seconds") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("pipeline-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("graft.pipeline")
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try {
      val root = Files.createTempDirectory("graft-log").toString
      Pipeline.run(spark, settings(root), FakeSource, Some("2026-01-20"),
        retryDelayMs = 0)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    val seconds = """.* seconds=(\d+\.\d{3})""".r
    for (stage <- Seq("bronze", "silver", "gold", "quality")) {
      val done = lines.toArray.map(_.toString)
        .filter(_.startsWith(s"event=${stage}_done "))
      assert(done.length === 1, s"$stage: $lines")
      done.head match {
        case seconds(v) => assert(v.toDouble > 0, done.head)
        case other => fail(s"no seconds field: $other")
      }
    }
  }

  test("file-driven quality suite: conf/quality-checks.yml replays the in-code checks") {
    val root = Files.createTempDirectory("graft-qc").toString
    val st = settings(root).copy(qualityChecksPath = Some("conf/quality-checks.yml"))
    val report = Pipeline.run(spark, st, FakeSource, Some("2026-01-17"), retryDelayMs = 0)
    assert(report.allChecksPassed, report.checks.toString)
    // the shipped file reproduces the reference's two suites name-for-name
    assert(report.checks.map(_.name) ===
      (Quality.silverSuite ++ Quality.goldSuite).map(_.name))
  }

  test("quality check parser: custom bounds parse, garbage fails loudly") {
    val suites = Quality.parseSuites(
      """# site-edited suite
        |checks for silver_breweries:
        |  - row_count > 10
        |  - max(latitude) > -90
        |
        |checks for gold_breweries_counts:
        |  - max(brewery_count) > 0
        |""".stripMargin)
    assert(suites(Quality.SilverDataset) === Seq(
      Quality.Check("silver_row_count_gt_10", Quality.RowCount, 10L),
      Quality.Check("silver_max_latitude_gt_-90", Quality.MaxOf("latitude"), -90L)))
    assert(suites(Quality.GoldDataset) === Seq(
      Quality.Check("gold_max_brewery_count_gt_0", Quality.MaxOf("brewery_count"), 0L)))
    // a dropped expectation is a check that never runs — refuse to parse
    intercept[RuntimeException](Quality.parseSuites("checks for x:\n  - avg(y) > 0"))
    intercept[RuntimeException](Quality.parseSuites("  - row_count > 0"))
  }

  test("named-datasource configuration: selection, env interpolation, failure modes") {
    // the shipped file mirrors soda/configuration.yml shape-for-shape
    val shipped = new String(Files.readAllBytes(
      java.nio.file.Paths.get("conf/quality-configuration.yml")), "UTF-8")
    val noEnv = Quality.parseConfiguration(shipped, _ => None)
    assert(noEnv === Quality.DataSource("warehouse", "parquet", "/data/warehouse"))
    val withEnv = Quality.parseConfiguration(shipped,
      Map("WAREHOUSE_ROOT" -> "/tmp/elsewhere").get)
    assert(withEnv.path === "/tmp/elsewhere")
    // a half-configured datasource must fail loudly, never fall back
    intercept[RuntimeException](
      Quality.parseConfiguration("data_sources:\n  a:\n    type: parquet"))
    intercept[RuntimeException](
      Quality.parseConfiguration("data_source: missing\ndata_sources:\n  other:\n    type: parquet\n    path: /x"))
  }

  test("quality run reads the warehouse THROUGH the configured datasource") {
    val root = Files.createTempDirectory("graft-qds").toString
    // config whose datasource points at this run's warehouse root —
    // the warehouse scan must resolve through it (a bogus path here
    // would fail the read; a silently ignored config would too,
    // because the settings warehouse root is the same — so point the
    // settings at a WRONG root and let only the datasource be right)
    val st0 = settings(root)
    val conf = Files.createTempFile("graft-qconf", ".yml")
    Files.write(conf,
      s"""data_source: warehouse
         |data_sources:
         |  warehouse:
         |    type: parquet
         |    path: "${st0.warehouseRoot}"
         |""".stripMargin.getBytes("UTF-8"))
    val report = Pipeline.run(spark, st0, FakeSource, Some("2026-01-18"),
      retryDelayMs = 0)
    assert(report.allChecksPassed)
    // now run ONLY the quality stage with settings whose warehouse
    // root is wrong; the datasource must rescue the read
    val broken = st0.copy(warehouseRoot = s"$root/nowhere",
      qualityConfigPath = Some(conf.toString))
    val checks = Quality.run(spark, broken, "2026-01-18")
    assert(checks.nonEmpty && checks.forall(_.passed),
      s"datasource-resolved warehouse scan must pass: $checks")
  }

  test("no-Link pagination stops on short page") {
    FakeSource.calls = Nil
    val root = Files.createTempDirectory("graft-pg").toString
    val (pages, records) =
      Bronze.ingest(spark, settings(root), FakeSource, "2026-02-01")
    assert(pages === 3 && records === 8)
    // short page 3 (2 < per_page 3) stopped the walk — page 4 never fetched
    assert(!FakeSource.calls.contains(4))
  }

  /** Pages of the given record counts (absent = empty); page 1 carries
    * a Link header whose rel="last" names `last`. */
  private final class LinkSource(sizes: Map[Int, Int], last: Int)
      extends Bronze.PageSource {
    var calls: List[Int] = Nil
    override def fetch(page: Int, perPage: Int): Bronze.Page = {
      calls = page :: calls
      val n = sizes.getOrElse(page, 0)
      val link = Option.when(page == 1)(
        s"""<http://unused?per_page=$perPage&page=2>; rel="next", """ +
          s"""<http://unused?per_page=$perPage&page=$last>; rel="last"""")
      Bronze.Page(Seq.fill(n)("{}").mkString("[", ",", "]"), n, link)
    }
  }

  test("Link pagination walks to rel=last: a short page does not stop it; the cap and an empty page do") {
    val root = Files.createTempDirectory("graft-pg-link").toString
    def walk(src: LinkSource, cap: Int, date: String): (Int, Int) =
      Bronze.ingest(spark, settings(root).copy(maxPagesCap = cap), src, date)
    val sizes = Map(1 -> 3, 2 -> 1, 3 -> 3, 4 -> 2)

    // short page 2 (1 < per_page 3) does not end a Link walk
    val full = new LinkSource(sizes, last = 4)
    assert(walk(full, 10000, "2026-02-02") === ((4, 9)))
    assert(full.calls.sorted === List(1, 2, 3, 4))

    // maxPagesCap bounds the walk below rel="last"
    val capped = new LinkSource(sizes, last = 4)
    assert(walk(capped, 3, "2026-02-03") === ((3, 7)))
    assert(capped.calls.sorted === List(1, 2, 3))

    // an empty page before rel="last" ends the walk
    val gap = new LinkSource(Map(1 -> 3, 2 -> 3, 3 -> 3, 5 -> 3), last = 6)
    assert(walk(gap, 10000, "2026-02-04") === ((3, 9)))
    assert(gap.calls.sorted === List(1, 2, 3, 4))
  }
}
