package graft

import scala.sys.process._

import org.apache.spark.sql.functions._

/** Every form of each [[Knuth]] hash gives the same value: the query
  * text through Spark `expr`, the Spark column, the JVM scalar and the
  * DuckDB text, on boundary inputs of the 2³¹ reduction and beyond. */
class KnuthSpec extends SparkSpec {

  private val xs = Seq(0L, (1L << 31) - 1, 1L << 31, (1L << 32) + 7, 1L << 40)
  private val salts = Seq(0L, 7919L, 9176L)

  /** Mix inputs: words of the boundary ids plus the ends of [0, 2³²). */
  private val h0s = (xs.map(Knuth.scalar(_, 9176L)) ++
    Seq(0L, 65535L, 65536L, (1L << 32) - 1)).distinct

  /** 3-grams from ASCII up to the largest code point (non-BMP: two
    * UTF-16 units per character). */
  private val grams = Seq("aaa", "abc", "~~~", "\u00e9t\u00e9",
    "\uffff\uffff\uffff", "\ud834\udd1e" * 3, "\udbff\udfff" * 3)

  private def codePoints(g: String): Seq[Int] = g.codePoints().toArray.toSeq

  /** One BIGINT column per SQL expression over `VALUES` rows of `x`,
    * evaluated by DuckDB (python3 + duckdb), rows in input order. */
  private def duck(exprs: Seq[String], values: Seq[String]): Seq[Seq[Long]] = {
    val rows = values.zipWithIndex.map { case (v, i) => s"($i, $v)" }.mkString(", ")
    val sql = s"SELECT ${exprs.mkString(", ")} FROM (VALUES $rows) t(i, x) ORDER BY i"
    val py = "import duckdb, sys\n" +
      "for r in duckdb.sql(sys.argv[1]).fetchall(): print(' '.join(str(v) for v in r))"
    Process(Seq("python3", "-c", py, sql)).!!.trim.split("\n").toSeq
      .map(_.split(" ").toSeq.map(_.toLong))
  }

  test("the word: sql through Spark expr, col and scalar agree across 2³¹") {
    import spark.implicits._
    val df = xs.toDF("x")
    val cols = salts.flatMap(s => Seq(expr(Knuth.sql("x", s)), Knuth.col(col("x"), s)))
    val got = df.select(col("x") +: cols: _*).collect()
      .map(r => r.getLong(0) -> (1 to cols.size).map(r.getLong)).toMap
    for (x <- xs)
      assert(got(x) == salts.flatMap(s => Seq.fill(2)(Knuth.scalar(x, s))), s"x = $x")
    // the reduction matters: an unreduced multiply differs at 2³¹
    assert(((1L << 31) + 7919L) * 2654435761L % 4294967296L !=
      Knuth.scalar(1L << 31, 7919L))
  }

  test("the mix: Spark rounds and scalar agree") {
    import spark.implicits._
    val got = h0s.toDF("h0")
      .withColumn("h2", Knuth.mixCol("h0"))
      .select(col("h0"), Knuth.mixEndCol("h2").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (h0 <- h0s) assert(got(h0) == Knuth.mix(h0), s"h0 = $h0")
    // injective on the inputs (the mix is a bijection of [0, 2³²))
    assert(h0s.map(Knuth.mix).distinct.size == h0s.size)
  }

  test("the 3-gram hash: sql through Spark expr and scalar agree") {
    import spark.implicits._
    val got = grams.toDF("g").select(col("g"), expr(Knuth.gramSql("g")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (g <- grams) {
      val Seq(c0, c1, c2) = codePoints(g)
      assert(got(g) == Knuth.gram(c0, c1, c2), s"g = $g")
      assert(Knuth.gram(c0, c1, c2) ==
        Knuth.scalar(c0 * 961L + c1 * 31L + c2, 0L))
    }
  }

  test("DuckDB reads the same values from every SQL text") {
    assume(DuckOracle.available, "python3+duckdb oracle not available on this host")
    val word = duck(salts.map(s => Knuth.sql("x", s)), xs.map(x => s"CAST($x AS BIGINT)"))
    assert(word == xs.map(x => salts.map(Knuth.scalar(x, _))))
    val mix = duck(Seq(Knuth.mixEndSql(s"(${Knuth.mixSql("x")})")),
      h0s.map(h => s"CAST($h AS BIGINT)"))
    assert(mix == h0s.map(h => Seq(Knuth.mix(h))))
    // built from code points in DuckDB: argv may not carry non-ASCII
    val gram = duck(Seq(Knuth.gramSql("x")),
      grams.map(g => codePoints(g).map(c => s"chr($c)").mkString(" || ")))
    assert(gram == grams.map { g =>
      val Seq(c0, c1, c2) = codePoints(g)
      Seq(Knuth.gram(c0, c1, c2))
    })
  }
}
