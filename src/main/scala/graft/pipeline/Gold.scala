package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Gold aggregation: base counts, warehouse history partition, rollup
  * family, partitioned exports and run views
  * (/root/reference/app/tasks/gold.py:45-180).
  *
  * G1 and the three G2 rollups are one `GROUPING SETS` aggregate over
  * silver (SURVEY §3.3; the q53 shape): one scan, one shuffle, and
  * `grouping_id()` tags each row with its grain. The result is collected
  * once. Each collected row is one leaf directory that the writes below
  * commit anyway (its grouping keys are its partition keys), so the
  * driver holds no more rows than it already commits directories for.
  * The five writes then run from driver-local frames of one partition:
  * each is one job with one task, and none re-reads silver.
  *
  * The reference's DELETE + INSERT idempotency on the DuckDB history
  * table (gold.py:100-113) maps to a dynamic INSERT OVERWRITE of the
  * ingestion_date partition: same end state, one operation. Its four
  * per-run re-reads of the history table (gold.py:118-178) are not
  * needed, because the slice it writes IS the base grain. The date's
  * export directory belongs to this date alone, so it is replaced whole
  * ([[Pipeline.replaceDir]]): a leaf that a re-run no longer produces
  * goes, and a re-run that fails keeps the earlier exports. The slice is
  * written after the four exports are staged and before they replace
  * the old ones, so a failed export leaves the slice as it was.
  */
object Gold {

  /** The grouping dimensions, in the base grain's column order. */
  private val dims = Seq("country", "state", "brewery_type")

  /** The four grains, finest (G1, gold.py:74-86) first, then the G2
    * rollups (gold.py:133-170). A grain names its export directory
    * `by_<grain>` and its run view; its keys are its grouping set. */
  val grains: Seq[(String, Seq[String])] = Seq(
    "country_state_type" -> dims,
    "country_type" -> Seq("country", "brewery_type"),
    "state_type" -> Seq("state", "brewery_type"),
    "type" -> Seq("brewery_type"))

  /** `grouping_id()` of a grouping set: one bit per dimension, set when
    * the dimension is aggregated away, the first dimension highest. */
  private def groupingId(keys: Seq[String]): Long =
    dims.foldLeft(0L)((id, d) => 2 * id + (if (keys.contains(d)) 0 else 1))

  /** Every grain's rows `(keys..., brewery_count)`, in [[grains]]
    * order, from one collected aggregate. NULL dims become '' *before*
    * grouping (G1's rule), so no grain mixes a NULL key with a rolled-up
    * one. */
  def counts(silver: DataFrame): Seq[(String, Seq[String], Seq[Row])] = {
    val byId = silver
      .select(dims.map(d => coalesce(col(d), lit("")).as(d)): _*)
      .groupingSets(grains.map(_._2.map(col)), dims.map(col): _*)
      .agg(grouping_id().as("grouping_id"), count(lit(1)).as("brewery_count"))
      .collect().toSeq.groupBy(_.getLong(dims.size))
    grains.map { case (grain, keys) =>
      val at = keys.map(dims.indexOf)
      val rows = byId.getOrElse(groupingId(keys), Nil)
        .map(r => Row.fromSeq(at.map(r.getString) :+ r.getLong(dims.size + 1)))
      (grain, keys, rows)
    }
  }

  /** Full gold stage; returns the base export dir (gold.py:180).
    *
    * Silver is read with its declared schema: an inferred one types a
    * partition column whose values all look numeric (state `01`) as
    * `int`, so the code would not reach gold as written. Every export
    * leaf directory holds exactly one row, so the writes carry no sort;
    * each run view orders this run's rows by its keys, as the
    * reference's views do. */
  def aggregate(spark: SparkSession, settings: Settings,
      ingestionDate: String): String = {
    val silver = spark.read.schema(Schemas.silver)
      .parquet(settings.silverDir(ingestionDate))
    val baseDir = settings.goldBaseDir(ingestionDate)
    val frames = counts(silver).map { case (grain, keys, rows) =>
      val schema = StructType(keys.map(StructField(_, StringType, nullable = false)) :+
        StructField("brewery_count", LongType, nullable = false))
      (grain, keys, spark.createDataFrame(rows.asJava, schema).coalesce(1))
    }
    Pipeline.replaceDir(spark, baseDir) { dir =>
      for ((grain, keys, frame) <- frames)
        frame.write.option("compression", "snappy")
          .partitionBy(keys: _*)
          .parquet(s"$dir/by_$grain")
      // History partition from the base grain (the first in grains):
      // dynamic overwrite of this run's slice (D2 ≡ DELETE+INSERT,
      // gold.py:100-113).
      val (_, _, base) = frames.head
      base.withColumn("ingestion_date", to_date(lit(ingestionDate)))
        .select(Schemas.goldHistory.fieldNames.toSeq.map(col): _*)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingestion_date")
        .parquet(settings.warehouseTableDir)
    }
    for ((grain, keys, frame) <- frames)
      frame.orderBy(keys.map(col): _*)
        .createOrReplaceTempView(s"v_gold_by_${grain}_run")
    baseDir
  }
}
