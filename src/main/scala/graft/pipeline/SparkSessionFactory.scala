package graft.pipeline

import java.net.URI

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Two entry points share the
  * engine's conf contract ([[standardConf]]):
  *
  *   - [[local]] — the in-process session every main (Bench, Verify,
  *     Ingest, Diag, the probes, PipelineDemo) and the test suite run
  *     on: `local[cpus]` with one shuffle partition per core.
  *   - [[builder]] / [[create]] — the deploy path, wired for the lake's
  *     S3-compatible object store — the Spark analogue of the
  *     reference's DuckDB client setup (app/io/duck.py:6-26), key for
  *     key: endpoint host:port parsed from a URL, ssl from the URL
  *     scheme, path-style addressing, region and static credentials.
  *
  * The S3 wiring is expressed as `fs.s3a.*` Hadoop configuration so any
  * `s3a://bucket/...` path read or written by the session (bronze
  * puts, silver/gold parquet, warehouse) goes to the configured
  * endpoint — MinIO in the reference's docker-compose, real S3 when
  * the endpoint is https.
  */
object SparkSessionFactory {

  /** The conf contract every graft session carries, local or deployed. */
  val standardConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts is nanosecond parquet (read as LONG, see Tables.load)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // long-running-driver hygiene: ContextCleaner only releases
    // executor-side broadcast/RDD blocks after the driver GCs the
    // owning references, and with a large driver heap a full GC may
    // never happen inside one bench run — 1256 query executions
    // then accumulate dead broadcast blocks on the block manager
    // (the BENCHNOTES r13/r14 late-session iterative-family
    // inflation). Spark's own knob for exactly this, production-
    // justified for any many-query driver; it changes BETWEEN-query
    // state, never a timed region.
    "spark.cleaner.periodicGC.interval" -> "120s",
    // the generated-class cache defaults to 100 entries; a
    // 314-query workload cycles far past that, so every measured
    // round re-paid Janino compilation for every query — exactly
    // the one-time cost the unmeasured warm-up round exists to
    // amortize (and which a production driver running a fixed query
    // library amortizes by construction). Sized to hold the whole
    // registry's generated classes; caches CODE, never data.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  /** Core count for [[local]]: `SPARK_GRAFT_CPUS` when set, else the
    * host's available processors. */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The in-process session: [[standardConf]] on `local[cpus]` with
    * `cpus` shuffle partitions and no UI, logging at WARN with the
    * audited window warnings quieted. Idempotent: a second call returns
    * the running session (`getOrCreate`) and re-applies the log levels. */
  def local(cpus: Int = localCpus): SparkSession = {
    val spark = newBuilder(standardConf ++ Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Log.quietAuditedWarnings()
    spark
  }

  private def newBuilder(conf: Map[String, String]): SparkSession.Builder =
    conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The `fs.s3a.*` entries implied by the settings — pure, unit-testable. */
  def s3aConf(settings: Settings): Map[String, String] = {
    val uri = URI.create(settings.s3Endpoint)
    val scheme = Option(uri.getScheme).getOrElse("http").toLowerCase
    val host = Option(uri.getHost).getOrElse("minio")
    val port = if (uri.getPort > 0) uri.getPort
               else if (scheme == "https") 443 else 9000
    Map(
      "fs.s3a.endpoint" -> s"$host:$port",
      "fs.s3a.connection.ssl.enabled" -> (scheme == "https").toString,
      "fs.s3a.path.style.access" -> "true",
      "fs.s3a.endpoint.region" -> settings.awsRegion,
      "fs.s3a.access.key" -> settings.awsKey,
      "fs.s3a.secret.key" -> settings.awsSecret,
      "fs.s3a.aws.credentials.provider" ->
        "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")
  }

  /** Applies the S3 wiring to an already-running session (tests,
    * notebooks). */
  def configure(spark: SparkSession, settings: Settings): Unit =
    s3aConf(settings).foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }

  /** True when spark-submit (or the test harness) already chose a
    * value for `key`: spark-submit materialises --master/--conf as
    * `spark.*` system properties before the driver main runs, so a
    * code-set builder value would override the deploy-time choice —
    * the wrong precedence for a library. */
  private def deployProvided(key: String): Boolean =
    sys.props.get(key).exists(_.nonEmpty)

  /** The conf entries `builder` applies — pure, unit-testable. `cpus`
    * sizes the local master and shuffle partitions ONLY when the
    * deployment hasn't already chosen them (`provided`); the standard
    * conf and fs.s3a.* entries always apply. */
  def builderConf(settings: Settings, cpus: Int,
      provided: String => Boolean = deployProvided): Map[String, String] = {
    val master =
      if (provided("spark.master")) Map.empty[String, String]
      else Map("spark.master" -> s"local[$cpus]")
    val shuffle =
      if (provided("spark.sql.shuffle.partitions")) Map.empty[String, String]
      else Map("spark.sql.shuffle.partitions" -> cpus.toString)
    master ++ shuffle ++ standardConf ++
      s3aConf(settings).map { case (k, v) => s"spark.hadoop.$k" -> v }
  }

  /** Builder with the engine's standard conf + S3 wiring; master and
    * shuffle partitions are left to spark-submit when it provided them
    * (code-set builder conf would otherwise override the deploy-time
    * choice and pin the app to local mode). */
  def builder(settings: Settings, appName: String = "graft",
      cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    newBuilder(builderConf(settings, cpus)).appName(appName)

  def create(settings: Settings, appName: String = "graft"): SparkSession =
    builder(settings, appName).getOrCreate()
}
