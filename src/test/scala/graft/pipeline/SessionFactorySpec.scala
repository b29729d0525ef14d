package graft.pipeline

import graft.SparkSpec

/** The S3 wiring must reproduce the reference's client setup
  * (app/io/duck.py) from the same env keys — endpoint parse, ssl from
  * scheme, path-style, region, static keys. */
class SessionFactorySpec extends SparkSpec {

  private val fakeEnv = Map(
    "S3_ENDPOINT_URL" -> "http://objectstore:9123",
    "AWS_ACCESS_KEY_ID" -> "k123",
    "AWS_SECRET_ACCESS_KEY" -> "s456",
    "AWS_DEFAULT_REGION" -> "eu-west-1",
    "LAKE_BUCKET" -> "my-lake",
    "SILVER_BUCKET" -> "silver-bucket",
    "PER_PAGE" -> "50")

  test("Settings.fromEnv mirrors the reference config keys and defaults") {
    val st = Settings.fromEnv(fakeEnv)
    assert(st.s3Endpoint === "http://objectstore:9123")
    assert(st.awsKey === "k123")
    assert(st.awsSecret === "s456")
    assert(st.awsRegion === "eu-west-1")
    assert(st.lakeRoot === "s3a://my-lake")
    assert(st.silverDir("2026-01-01").startsWith("s3a://silver-bucket/"))
    assert(st.bronzeDir("2026-01-01").startsWith("s3a://my-lake/"))

    val defaults = Settings.fromEnv(Map.empty)
    assert(defaults.s3Endpoint === "http://minio:9000")
    assert(defaults.awsKey === "minio")
    assert(defaults.awsRegion === "us-east-1")
  }

  test("s3aConf parses endpoint URL into fs.s3a.* entries") {
    val conf = SparkSessionFactory.s3aConf(Settings.fromEnv(fakeEnv))
    assert(conf("fs.s3a.endpoint") === "objectstore:9123")
    assert(conf("fs.s3a.connection.ssl.enabled") === "false")
    assert(conf("fs.s3a.path.style.access") === "true")
    assert(conf("fs.s3a.endpoint.region") === "eu-west-1")
    assert(conf("fs.s3a.access.key") === "k123")
    assert(conf("fs.s3a.secret.key") === "s456")

    val https = SparkSessionFactory.s3aConf(
      Settings.fromEnv(Map("S3_ENDPOINT_URL" -> "https://s3.example.com")))
    assert(https("fs.s3a.endpoint") === "s3.example.com:443")
    assert(https("fs.s3a.connection.ssl.enabled") === "true")
  }

  test("builderConf sets local master/shuffle only when the deploy didn't") {
    val st = Settings.fromEnv(fakeEnv)

    // bare JVM (no spark-submit): library supplies sensible local defaults
    val bare = SparkSessionFactory.builderConf(st, cpus = 8, provided = _ => false)
    assert(bare("spark.master") === "local[8]")
    assert(bare("spark.sql.shuffle.partitions") === "8")

    // spark-submit provided --master and --conf: builder must not override
    val submitted = SparkSessionFactory.builderConf(st, cpus = 8,
      provided = Set("spark.master", "spark.sql.shuffle.partitions"))
    assert(!submitted.contains("spark.master"))
    assert(!submitted.contains("spark.sql.shuffle.partitions"))

    // the unconditional entries survive either way
    for (conf <- Seq(bare, submitted)) {
      assert(conf("spark.sql.extensions") === "graft.plans.GraftExtensions")
      assert(conf("spark.hadoop.fs.s3a.endpoint") === "objectstore:9123")
      assert(conf("spark.sql.session.timeZone") === "UTC")
      SparkSessionFactory.standardConf.foreach { case (k, v) => assert(conf(k) === v) }
    }
    // the local session (the one these specs run on) carries the same contract
    SparkSessionFactory.standardConf.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) === v, k)
    }
  }

  test("configure populates the live session's Hadoop conf") {
    SparkSessionFactory.configure(spark, Settings.fromEnv(fakeEnv))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") === "objectstore:9123")
    assert(hc.get("fs.s3a.access.key") === "k123")
    assert(hc.get("fs.s3a.path.style.access") === "true")
  }

  test("retry propagates fatal errors immediately but retries non-fatal ones") {
    var calls = 0
    val out = Pipeline.retry(3, delayMs = 0) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out === "ok" && calls === 3)

    var fatalCalls = 0
    intercept[OutOfMemoryError] {
      Pipeline.retry(3, delayMs = 0) {
        fatalCalls += 1
        throw new OutOfMemoryError("fatal — must not be retried")
      }
    }
    assert(fatalCalls === 1)
  }

  test("declarative quality checks evaluate from a config literal in one pass") {
    import spark.implicits._
    val df = Seq((1L, "a"), (5L, "b")).toDF("brewery_count", "name")
    val suite = Seq(
      Quality.Check("rows_gt_0", Quality.RowCount),
      Quality.Check("max_count_gt_0", Quality.MaxOf("brewery_count")),
      Quality.Check("max_count_gt_10", Quality.MaxOf("brewery_count"), gt = 10L))
    val results = Quality.evaluate(df, suite).map(r => r.name -> r).toMap
    assert(results("rows_gt_0").passed && results("rows_gt_0").observed === 2L)
    assert(results("max_count_gt_0").passed && results("max_count_gt_0").observed === 5L)
    assert(!results("max_count_gt_10").passed)

    val empty = Quality.evaluate(df.filter($"brewery_count" > 100), Quality.goldSuite)
    assert(empty.forall(!_.passed))
  }
}
