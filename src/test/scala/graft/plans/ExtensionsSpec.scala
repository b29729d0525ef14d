package graft.plans

import graft.SparkSpec
import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpec {

  test("minhash_signature usable from SQL after registration") {
    val sig = spark.sql(
      "SELECT minhash_signature('sparkling analytics engine') AS sig")
      .head().getSeq[String](0)
    assert(sig.length === 4)
    assert(sig.forall(_.matches("[0-9a-f]{8}")))
    // two-arg form
    assert(spark.sql("SELECT minhash_signature('abcdef', 2) AS s")
      .head().getSeq[String](0).length === 2)
  }

  test("minhash_k, simhash16 and jaccard3 usable from SQL after registration") {
    val sig = spark.sql("SELECT minhash_k('sparkling analytics engine', 6) AS s")
      .head().getSeq[String](0)
    assert(sig.length === 6)
    assert(sig.forall(_.matches("[0-9a-f]{8}")))
    assert(sig.distinct.length > 1, "independent seeds should rarely collide")

    val sh = spark.sql("SELECT simhash16('the quick brown fox') AS h")
      .head().getLong(0)
    assert(sh >= 0L && sh < (1L << 16))

    val jc = spark.sql("SELECT jaccard3('abcdef', 'abcdef') AS j")
      .head().getStruct(0)
    assert(jc.getDouble(jc.fieldIndex("jaccard")) === 1.0)
  }

  test("round-4 kernels usable from SQL after registration") {
    val mf = spark.sql("SELECT minhash_fast('sparkling analytics engine', 6) AS s")
      .head().getSeq[Long](0)
    assert(mf.length === 6)
    assert(mf.forall(v => v >= 0L && v < 4294967311L))

    val srp = spark.sql(
      "SELECT srp_buckets(array(1L, -2L, 3L, 4L), 0, 3, 6) AS b")
      .head().getSeq[Long](0)
    assert(srp.length === 3)
    assert(srp.forall(v => v >= 0L && v < 64L))

    val qv = spark.sql(
      "SELECT quantize_embedding(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT))) AS q")
      .head().getSeq[Long](0)
    assert(qv === Seq(500L, -500L))

    val dot = spark.sql("SELECT qdot(array(2L, 3L), array(4L, 5L)) AS d")
      .head().getLong(0)
    assert(dot === 23L)

    val ng = spark.sql("SELECT token_ngrams('a b c d', 2) AS g")
      .head().getSeq[String](0)
    assert(ng === Seq("a b", "b c", "c d"))
  }

  test("gram_codes3 and sorted_intersect_count usable from SQL after registration") {
    // "abcd" → grams abc, bcd → sorted distinct injective codes
    val gc = spark.sql("SELECT gram_codes3('abcd') AS g")
      .head().getSeq[Long](0)
    assert(gc.length === 2)
    assert(gc === gc.sorted && gc.distinct.length === gc.length)
    // |{abc,bcd} ∩ {bcd,cde}| = 1, straight from SQL
    val n = spark.sql(
      "SELECT sorted_intersect_count(gram_codes3('abcd'), gram_codes3('bcde')) AS n")
      .head().getLong(0)
    assert(n === 1L)
  }

  test("jaccard5w and sorted_intersect_count_str usable from SQL after registration") {
    // identical 5-token texts: one shared 5-gram, jaccard 1.0
    val j = spark.sql(
      "SELECT jaccard5w('a b c d e', 'a b c d e') AS j").head().getStruct(0)
    assert(j.getLong(0) === 1L && j.getLong(1) === 1L && j.getLong(2) === 1L)
    assert(j.getDouble(3) === 1.0)
    // shifted by one token: 2-gram sets {abcde,bcdef} vs {bcdef,cdefg} → 1
    val j2 = spark.sql(
      "SELECT jaccard5w('a b c d e f', 'b c d e f g') AS j").head().getStruct(0)
    assert(j2.getLong(0) === 1L && j2.getDouble(3) === 1.0 / 3.0)
    // fewer than 5 tokens on either side → null (the shared contract)
    assert(spark.sql("SELECT jaccard5w('a b', 'a b c d e') AS j").head().isNullAt(0))
    val n = spark.sql(
      "SELECT sorted_intersect_count_str(array('a','b','c'), array('b','c','d')) AS n")
      .head().getLong(0)
    assert(n === 2L)
  }

  test("payload_sig usable from SQL after registration") {
    // 'aaaa': every sample reads 'a' (97 div 32 = class 3) → 64·128³
    val pk = spark.sql("SELECT payload_sig('aaaa') AS p").head().getLong(0)
    assert(pk === 64L * (1L << 21))
  }

  test("minhash_k matches a builtin-function replay of the same math") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(length(col("text")) >= 3)
    val replay = (0 until 4).map(j =>
      expr(s"array_min(transform(array_distinct(transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))), g -> substring(md5(concat('$j:', g)), 1, 8)))"))
    val bad = docs
      .withColumn("fast", graft.functions.MinHash.minhashK(col("text"), 4))
      .withColumn("slow", array(replay: _*))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(bad === 0L)
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val big = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d"))
      .toDF("k", "v")
    val small = Seq((1, "X"), (2, "Y"), (3, "Z")).toDF("k", "w")
    val salted = SkewJoin.saltedJoin(big, small, Seq("k"), salts = 4)
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    val plain = big.join(small, "k")
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.size === 4)
  }
}
