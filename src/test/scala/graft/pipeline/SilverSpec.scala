package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.Row

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Silver cleaning semantics on dirty rows — every rule from
  * /root/reference/app/tasks/silver.py:21-51 (see FIXTURES.md A.1). */
class SilverSpec extends SparkSpec {

  private def raw(rows: Seq[Row]) =
    spark.createDataFrame(rows.asJava, Schemas.bronze)

  private def r(id: String, name: String, btype: String, country: String,
      state: String, stateProvince: String, city: String, postal: String,
      lat: String, lon: String): Row =
    Row(id, name, btype, country, state, stateProvince, city, postal, lat, lon)

  test("silver schema contract: 9 declared columns") {
    val out = Silver.cleanDedupEnforce(raw(Nil))
    assert(out.schema.fieldNames.toSeq ===
      Seq("id", "name", "brewery_type", "country", "state", "city",
        "postal_code", "latitude", "longitude"))
    assert(out.schema("latitude").dataType.typeName === "double")
  }

  test("trim + empty-to-null + coalesce state_province") {
    val out = Silver.clean(raw(Seq(
      r("a", "  Brew One  ", " micro ", " US ", "   ", "  CA  ", " LA ", " 90210 ", "34.05", "-118.2"))))
      .head()
    assert(out.getString(1) === "Brew One")
    assert(out.getString(2) === "micro")
    assert(out.getString(3) === "US")
    assert(out.getString(4) === "CA") // state fell back to state_province
    assert(out.getString(5) === "LA")
    assert(out.getDouble(7) === 34.05)
  }

  test("try_cast: non-numeric lat/long become NULL, row survives") {
    val out = Silver.cleanDedupEnforce(raw(Seq(
      r("a", "B", "micro", "US", "CA", null, "LA", "1", "not-a-number", ""))))
    assert(out.count() === 1)
    val row = out.head()
    assert(row.isNullAt(7) && row.isNullAt(8))
  }

  test("range enforcement drops out-of-range lat/long but keeps NULLs") {
    val out = Silver.cleanDedupEnforce(raw(Seq(
      r("ok", "B", "m", "US", "CA", null, null, null, "89.9", "179.9"),
      r("badlat", "B", "m", "US", "CA", null, null, null, "91", "0"),
      r("badlon", "B", "m", "US", "CA", null, null, null, "0", "-181"),
      r("nulls", "B", "m", "US", "CA", null, null, null, null, null))))
    assert(out.select("id").collect().map(_.getString(0)).toSet === Set("ok", "nulls"))
  }

  test("not-null enforcement: id, name, country, state required") {
    val out = Silver.cleanDedupEnforce(raw(Seq(
      r(null, "B", "m", "US", "CA", null, null, null, null, null),
      r("x1", "  ", "m", "US", "CA", null, null, null, null, null),
      r("x2", "B", "m", null, "CA", null, null, null, null, null),
      r("x3", "B", "m", "US", " ", null, null, null, null, null),
      r("keep", "B", "m", "US", "CA", null, null, null, null, null))))
    assert(out.select("id").collect().map(_.getString(0)).toSeq === Seq("keep"))
  }

  test("dedup keeps exactly one canonical row per id") {
    val out = Silver.cleanDedupEnforce(raw(Seq(
      r("dup", "Alpha", "m", "US", "CA", null, null, null, null, null),
      r("dup", "Beta", "m", "US", "CA", null, null, null, null, null),
      r("dup", "Alpha", "m", "US", "NY", null, null, null, null, null))))
    assert(out.count() === 1)
    // canonical survivor: ordered by all non-id columns → Alpha/CA
    val row = out.head()
    assert(row.getString(1) === "Alpha" && row.getString(4) === "CA")
  }

  test("transform: a day whose rows are all rejected counts 0 without blocking") {
    val root = java.nio.file.Files.createTempDirectory("graft-silver-empty")
    val st = Settings(lakeRoot = s"$root/lake", bronzePrefix = "b",
      silverPrefix = "s", goldPrefix = "g", warehouseRoot = s"$root/wh",
      apiUrl = "http://unused", perPage = 3)
    val d = "2026-03-01"
    val bronze = java.nio.file.Paths.get(st.bronzeDir(d))
    java.nio.file.Files.createDirectories(bronze)
    // blank name, no country, latitude out of range: nothing survives
    java.nio.file.Files.write(bronze.resolve("page_1.json"),
      """[{"id":"r1","name":" ","country":"US","state":"CA"},
        |{"id":"r2","name":"B","state":"CA"},
        |{"id":"r3","name":"C","country":"US","state":"CA","latitude":"91"}]"""
        .stripMargin.getBytes("UTF-8"))
    // Observation.get waits for the write's metrics; a plan that drops
    // them would hang here, so the call runs under a timeout
    val rows = Await.result(Future(Silver.transform(spark, st, d)), 120.seconds)
    assert(rows === 0L)
  }
}
