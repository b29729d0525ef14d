package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing kernel: the SIGMOD-2003 guarantees plus exact parity with
  * a builtin-HOF replay of the same math (which is what the q61 oracle
  * runs in DuckDB). */
class WinnowSpec extends SparkSpec {

  private def fps(s: String, k: Int = 5, w: Int = 4): Option[Set[Long]] =
    Option(WinnowKernel.winnow(UTF8String.fromString(s), k, w))
      .map(_.toLongArray().toSet)

  test("guarantee: a shared substring of length >= k + w - 1 shares a fingerprint") {
    val shared = "winnowing-guarantee-window"
    val a = fps("prefix junk " + shared + " tail A").get
    val b = fps("totally other start " + shared + " -- B end").get
    assert(a.intersect(b).nonEmpty)
  }

  test("edges: no k-gram -> null; exactly k code points -> one fingerprint") {
    assert(fps("abcd").isEmpty) // 4 < k
    assert(fps("abcde").get.size === 1)
    // fewer hashes than w -> single window of all hashes
    assert(fps("abcdefg").get.size === 1) // 3 hashes, w=4
  }

  test("sketch is sparse: far fewer fingerprints than hashes on real docs") {
    val doc = ("the quick brown fox jumps over the lazy dog " * 20)
    val n = doc.codePointCount(0, doc.length)
    val selected = fps(doc).get.size
    assert(selected < (n - 4) / 2, s"winnowing kept $selected of ${n - 4} hashes")
  }

  test("kernel equals the builtin-HOF replay on real documents") {
    val gramHash = (0 until 5).map { j =>
      s"cast(ascii(substring(text, cast(i + $j as int), 1)) as bigint)"
    }.reduce((acc, c) => s"($acc * 257 + $c)") + " % 4294967296"
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(length(col("text")) >= 5).limit(100)
    val viaKernel = docs
      .select(col("doc_id"), explode(Winnow.winnow(col("text"), 5, 4)).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBuiltin = docs
      .withColumn("h", expr(
        s"transform(sequence(1, length(text) - 4), i -> $gramHash)"))
      .withColumn("fp", explode(expr(
        """array_distinct(transform(sequence(1, greatest(size(h) - 3, 1)),
             i -> array_min(transform(sequence(i, least(i + 3, size(h))),
                    j -> element_at(h, j)))))""")))
      .select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaKernel === viaBuiltin)
  }

  test("winnow registered for SQL use") {
    val r = spark.sql("SELECT winnow('abcdefghij') AS f").head().getSeq[Long](0)
    assert(r.nonEmpty && r === r.sorted)
    assert(spark.sql("SELECT winnow('abcdefghij', 3, 2) AS f")
      .head().getSeq[Long](0).nonEmpty)
  }
}
