package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver transform: bronze JSON pages → clean → dedup → enforce →
  * partitioned snappy parquet + row count
  * (/root/reference/app/tasks/silver.py:6-74).
  *
  * Differences by design:
  *   - bronze is read with the declared all-string schema, not inferred
  *     (SURVEY.md §1.3);
  *   - the dedup survivor is canonical (ordered by every column), where
  *     the reference's ORDER BY id inside an id-partition is a constant
  *     and therefore nondeterministic (silver.py:37-41);
  *   - the row count is observed on the write itself, where the
  *     reference re-executes the whole CTE for COUNT(*)
  *     (silver.py:61-73);
  *   - the date's directory is replaced whole
  *     ([[Pipeline.replaceDir]]): it holds this date alone, and a
  *     (country, state) leaf that a re-run no longer produces must go,
  *     or gold counts its rows twice. A re-run that fails keeps the
  *     earlier silver, which the warehouse slice still counts.
  */
object Silver {

  /** P1–P5 projection (CAST/TRIM/NULLIF/COALESCE/TRY_CAST,
    * silver.py:21-35). */
  def clean(raw: DataFrame): DataFrame = {
    def norm(c: String) = nullif(trim(col(c).cast("string")), lit(""))
    raw.select(
      col("id").cast("string").as("id"),
      norm("name").as("name"),
      norm("brewery_type").as("brewery_type"),
      norm("country").as("country"),
      coalesce(norm("state"), norm("state_province")).as("state"),
      norm("city").as("city"),
      norm("postal_code").as("postal_code"),
      norm("latitude").try_cast("double").as("latitude"),
      norm("longitude").try_cast("double").as("longitude"))
  }

  /** W1 dedup with a canonical total order (silver.py:37-41). */
  def dedup(cleaned: DataFrame): DataFrame = {
    val order = Schemas.silver.fieldNames.filterNot(_ == "id").map(col).toSeq
    val w = Window.partitionBy("id").orderBy(order: _*)
    cleaned.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** F1–F2 enforcement (silver.py:42-51). */
  def enforce(deduped: DataFrame): DataFrame =
    deduped.filter(
      col("id").isNotNull && col("name").isNotNull &&
        col("country").isNotNull && col("state").isNotNull &&
        (col("latitude").isNull || col("latitude").between(-90, 90)) &&
        (col("longitude").isNull || col("longitude").between(-180, 180)))

  def cleanDedupEnforce(raw: DataFrame): DataFrame = enforce(dedup(clean(raw)))

  /** Full silver stage; returns the post-transform row count
    * (silver.py:73). */
  def transform(spark: SparkSession, settings: Settings,
      ingestionDate: String): Long = {
    // multiLine: each bronze object is ONE JSON array per file (the raw
    // API page, app/io/storage.py:22-30) — not line-delimited JSON.
    // The directory is read with a file-name filter, not as a
    // `<dir>/*.json` glob: Spark looks a glob up as a literal path
    // first and logs a FileNotFoundException trace on every run.
    val raw = spark.read.schema(Schemas.bronze)
      .option("multiLine", "true")
      .option("pathGlobFilter", "*.json")
      .json(settings.bronzeDir(ingestionDate))
    val rows = Observation()
    Pipeline.replaceDir(spark, settings.silverDir(ingestionDate)) { dir =>
      cleanDedupEnforce(raw).observe(rows, count(lit(1)).as("rows"))
        .write.option("compression", "snappy")
        .partitionBy("country", "state")
        .parquet(dir)
    }
    rows.get("rows").asInstanceOf[Long]
  }
}
