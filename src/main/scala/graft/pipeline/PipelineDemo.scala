package graft.pipeline

/** Runnable usage sample: full medallion run against a local lake with
  * an injected page source (no network). `sbt "runMain
  * graft.pipeline.PipelineDemo [rootDir]"`.
  */
object PipelineDemo {

  private object DemoSource extends Bronze.PageSource {
    override def fetch(page: Int, perPage: Int): Bronze.Page = page match {
      case 1 => Bronze.Page(
        """[{"id":"x1","name":"One","brewery_type":"micro","country":"US","state":"CA"},
           {"id":"x2","name":"Two","brewery_type":"nano","country":"US","state":"","state_province":"WA"}]""",
        2, Some("""<http://demo?page=2>; rel="last""""))
      case 2 => Bronze.Page(
        """[{"id":"x3","name":"Three","brewery_type":"micro","country":"DE","state":"BY","latitude":"200","longitude":"0"}]""",
        1, None)
      case _ => Bronze.Page("[]", 0, None)
    }
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = SparkSessionFactory.local()

    val settings = Settings(
      lakeRoot = s"$root/lake",
      bronzePrefix = "bronze-layer", silverPrefix = "silver-layer",
      goldPrefix = "gold-layer", warehouseRoot = s"$root/warehouse",
      apiUrl = "http://unused-in-demo", perPage = 200)

    val report = Pipeline.run(spark, settings, DemoSource,
      Some("2026-08-12"), retryDelayMs = 0)
    println(s"[demo] pages=${report.pages} records=${report.records} " +
      s"silverRows=${report.silverRows} checksPassed=${report.allChecksPassed}")
    println(s"[demo] warehouse slice:")
    spark.read.schema(Schemas.goldHistory).parquet(settings.warehouseTableDir)
      .show(20, truncate = false)
    println(s"[demo] gold exports: " +
      new java.io.File(report.goldBaseDir).list().sorted.mkString(", "))
    spark.stop()
  }
}
