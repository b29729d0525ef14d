package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.grafttest.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Gold aggregation semantics (/root/reference/app/tasks/gold.py:74-170). */
class GoldSpec extends SparkSpec {

  private val silverLike = StructType(Seq(
    StructField("country", StringType, true),
    StructField("state", StringType, true),
    StructField("brewery_type", StringType, true)))

  private def silver(rows: (String, String, String)*) =
    spark.createDataFrame(
      rows.map(t => Row(t._1, t._2, t._3)).asJava, silverLike)

  /** Rows `(keys..., brewery_count)` with `n` keys, as keys → count. */
  private def keyed(rows: Seq[Row], n: Int): Map[Seq[String], Long] =
    rows.map(r => (0 until n).map(r.getString) -> r.getLong(n)).toMap

  /** Each grain's rows as keys → brewery_count. */
  private def grainCounts(silver: DataFrame): Map[String, Map[Seq[String], Long]] =
    Gold.counts(silver).map { case (grain, keys, rows) =>
      grain -> keyed(rows, keys.size)
    }.toMap

  test("G1: NULL dims normalize to '' before grouping") {
    val m = grainCounts(silver(
      ("US", "CA", "micro"), ("US", "CA", "micro"),
      ("US", "CA", null), (null, "CA", "micro")))("country_state_type")
    assert(m(Seq("US", "CA", "micro")) === 2)
    assert(m(Seq("US", "CA", "")) === 1)
    assert(m(Seq("", "CA", "micro")) === 1)
  }

  test("G2: rollup sums equal G1 totals at every grain") {
    val in = silver(
      ("US", "CA", "micro"), ("US", "CA", "nano"), ("US", "NY", "micro"),
      ("DE", "BY", "micro"), ("DE", "BY", "micro"), ("DE", null, "micro"))
    val counts = grainCounts(in)
    assert(counts.keySet === Gold.grains.map(_._1).toSet)
    // each grain is the groupBy(keys).sum of the base grain
    val base = spark.createDataFrame(
      counts("country_state_type").toSeq
        .map { case (k, n) => Row.fromSeq(k :+ n) }.asJava,
      StructType(silverLike.map(_.copy(nullable = false)) :+
        StructField("brewery_count", LongType)))
    for ((grain, keys) <- Gold.grains) {
      val expected = keyed(base.groupBy(keys.map(col): _*)
        .agg(sum("brewery_count")).collect().toSeq, keys.size)
      assert(counts(grain) === expected, grain)
      assert(counts(grain).values.sum === 6, grain)
    }
    // spot check coarser cells
    assert(counts("country_type")(Seq("US", "micro")) === 2)
    assert(counts("state_type")(Seq("", "micro")) === 1)
  }

  test("aggregate: at most 7 jobs, one file per history slice and per export leaf") {
    val root = Files.createTempDirectory("graft-gold").toString
    val st = Settings(lakeRoot = s"$root/lake", bronzePrefix = "bronze-layer",
      silverPrefix = "silver-layer", goldPrefix = "gold-layer",
      warehouseRoot = s"$root/warehouse", apiUrl = "http://unused", perPage = 3)
    val d = "2026-03-01"
    val rows = Seq(
      ("b1", "US", "CA", "micro"), ("b2", "US", "CA", "nano"),
      ("b3", "US", "NY", "micro"), ("b4", "DE", "BY", "micro"),
      ("b5", "DE", "BY", "micro"), ("b6", "IE", "D", null))
    spark.createDataFrame(rows.map { case (id, c, s, t) =>
        Row(id, s"n$id", t, c, s, null, null, null, null)
      }.asJava, Schemas.silver)
      .repartition(4)
      .write.partitionBy("country", "state").parquet(st.silverDir(d))

    val group = s"gold-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Gold.aggregate")
      try Gold.aggregate(spark, st, d) finally sc.clearJobGroup()
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    // one aggregate (its map and result stages) plus five writes
    assert(jobs.get <= 7, s"${jobs.get} jobs")

    def parquetFiles(dir: File): Seq[File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val slice = new File(st.warehouseTableDir, s"ingestion_date=$d")
    assert(parquetFiles(slice).size === 1, "history slice")
    val expectedLeaves = Map("country_state_type" -> 5, "country_type" -> 4,
      "state_type" -> 5, "type" -> 3)
    for ((grain, _) <- Gold.grains) {
      val files = parquetFiles(new File(s"${st.goldBaseDir(d)}/by_$grain"))
      val leaves = files.groupBy(_.getParentFile)
      assert(leaves.size === expectedLeaves(grain), grain)
      assert(leaves.values.forall(_.size == 1), s"$grain: $leaves")
    }
  }
}
