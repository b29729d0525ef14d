package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.jdk.CollectionConverters._

/** Property tests over the silver/gold invariants (SURVEY.md §5.5),
  * using scalacheck generators with fixed seeds (the scalatest bridge
  * artifact isn't available offline, so sampling is driven manually).
  */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val dirtyString: Gen[String] = Gen.oneOf(
    Gen.const(null: String), Gen.const(""), Gen.const("   "),
    Gen.alphaNumStr.map(s => s"  $s  "), Gen.alphaNumStr)

  private val dirtyNum: Gen[String] = Gen.oneOf(
    Gen.const(null: String), Gen.const(""), Gen.const("xyz"),
    Gen.chooseNum(-200.0, 200.0).map(_.toString))

  private val dirtyRow: Gen[Row] = for {
    id <- Gen.oneOf(Gen.const(null: String), Gen.choose(0, 9).map("id" + _))
    name <- dirtyString; bt <- dirtyString; country <- dirtyString
    st <- dirtyString; sp <- dirtyString; city <- dirtyString
    pc <- dirtyString; lat <- dirtyNum; lon <- dirtyNum
  } yield Row(id, name, bt, country, st, sp, city, pc, lat, lon)

  test("silver output never contains empty strings, respects ranges, dedups") {
    for (seed <- 1L to 5L) {
      val rows = sample(Gen.listOfN(60, dirtyRow), seed)
      val out = Silver.cleanDedupEnforce(
        spark.createDataFrame(rows.asJava, Schemas.bronze)).collect()

      out.foreach { r =>
        (0 until 7).foreach(i => assert(r.get(i) != "", s"empty string at col $i"))
        assert(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(3) && !r.isNullAt(4))
        if (!r.isNullAt(7)) assert(math.abs(r.getDouble(7)) <= 90)
        if (!r.isNullAt(8)) assert(math.abs(r.getDouble(8)) <= 180)
      }
      val ids = out.map(_.getString(0))
      assert(ids.distinct.length === ids.length, "dedup must leave unique ids")
    }
  }

  test("gold rollups conserve mass for arbitrary inputs") {
    val triple = for {
      c <- Gen.oneOf("US", "DE", "BR", null)
      s <- Gen.oneOf("CA", "NY", "BY", null)
      t <- Gen.oneOf("micro", "nano", null)
    } yield (c, s, t)
    val schema = org.apache.spark.sql.types.StructType(
      Schemas.silver.filter(f =>
        Set("country", "state", "brewery_type").contains(f.name)))
    for (seed <- 1L to 3L) {
      val triples = sample(Gen.listOfN(40, triple), seed)
      val df = spark.createDataFrame(
        triples.map(t => Row(t._1, t._2, t._3)).asJava, schema)
      for ((grain, keys, rows) <- Gold.counts(df))
        assert(rows.map(_.getLong(keys.size)).sum === triples.length.toLong, grain)
    }
  }

  test("parseLastPage never throws on arbitrary headers") {
    for (seed <- 1L to 200L) {
      val s = sample(Gen.asciiPrintableStr, seed)
      Bronze.Pagination.parseLastPage(Some(s)) // must not throw
    }
    // and a near-miss shape
    assert(Bronze.Pagination.parseLastPage(
      Some("""<u?page=>; rel="last"""")) === None)
  }
}
