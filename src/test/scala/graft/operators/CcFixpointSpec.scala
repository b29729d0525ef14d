package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Convergence pins for FixpointCC (q309): the data-driven loop
  * reaches the true components on graphs where a fixed-round unroll
  * silently under-converges, counts exactly the label-changing
  * rounds, and matches q294's unrolled result on the real fixture.
  */
class CcFixpointSpec extends SparkSpec {

  /** Symmetric edge list from undirected (a, b) pairs. */
  private def sym(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  /** Path graph 1—2—…—n (diameter n−1). */
  private def chain(n: Int): DataFrame =
    sym((1 until n).map(i => (i.toLong, i.toLong + 1)))

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("diameter-5 chain: fixpoint labels are exact, rounds are data-driven") {
    val (l, rounds) = FixpointCC.run(chain(6))
    assert(labels(l) === (1L to 6L).map(_ -> 1L).toMap)
    // pointer jumping doubles reach per round (1, 2, 4, 8 hops after
    // rounds 1-4): distance 5 falls in the fourth doubling
    assert(rounds === 4)
  }

  test("long chain: a 3-round unroll under-converges, the fixpoint does not") {
    // diameter 40: after k pointer-jump rounds a node sees minima at
    // most ~2^k hops away, so 3 fixed rounds CANNOT label the far end
    // with 1 — and nothing in the bounded variant fails or warns.
    val edges = chain(41)
    val fixed = labels(FixpointCC.bounded(edges, FixpointCC.init(edges), 3))
    assert(fixed.values.toSet.size > 1,
      "3 unrolled rounds must leave multiple labels on a diameter-40 chain")
    assert(fixed(41L) !== 1L, "the far end must still hold a stale label")
    val (l, rounds) = FixpointCC.run(edges)
    assert(labels(l) === (1L to 41L).map(_ -> 1L).toMap)
    assert(rounds > 3, s"rounds=$rounds must exceed the fixed unroll")
    assert(rounds <= 7, s"rounds=$rounds must stay logarithmic in diameter 40")
  }

  test("multiple components keep distinct minima; extra rounds never run") {
    // two triangles + an isolated edge: diameter 1 everywhere → one
    // effective round, whatever the component count
    val edges = sym(Seq((10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)))
    val (l, rounds) = FixpointCC.run(edges)
    val got = labels(l)
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
    assert(rounds === 1)
  }

  test("2-branch step equals the 3-branch reference recurrence, round by round") {
    // an irregular graph (chain + triangle + star sharing nodes) so
    // labels move at different speeds; run the recurrence three rounds
    // and pin the optimized step (self branch dropped as dominated by
    // the jump row) to the literal self ∪ jump ∪ nbr reference after
    // EVERY round — the equality is per-round, not just at fixpoint
    val edges = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L)))
    var opt = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    var ref = opt
    for (_ <- 1 to 3) {
      opt = FixpointCC.step(edges, opt)
      ref = FixpointCC.stepReference(edges, ref)
      assert(labels(opt) === labels(ref))
      // and re-check the invariants the proof rests on
      val m = labels(opt)
      assert(m.forall { case (n, l) => l <= n && m.contains(l) })
    }
  }

  test("maxRounds guard throws instead of spinning") {
    intercept[IllegalStateException] {
      FixpointCC.run(chain(20), maxRounds = 1)
    }
  }

  test("q313 fixpoint dedup groups equal q307's fixed unroll on the real fixture") {
    // dup families on the fixture are near-cliques (diameter within
    // three rounds), so the data-driven loop must land on exactly
    // q307's grouping — while carrying a rounds_run the fixed unroll
    // cannot report
    val dir = "/root/testdata/sf0.001"
    val fix = SparkEntry.queries("q313_dedup_groups_fixpoint")(spark, dir)
    val unrolled = SparkEntry.queries("q307_exact_dedup_groups")(spark, dir)
    val fixMap = fix.select("doc_id", "group_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unrolledMap = unrolled.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixMap === unrolledMap)
    val rounds = fix.select("rounds_run").distinct().collect().map(_.getLong(0))
    assert(rounds.length === 1 && rounds.head >= 1 && rounds.head <= 3,
      s"fixture dup-family rounds_run=${rounds.toSeq} outside the near-clique range")
  }

  test("q309 equals q294's fixed unroll on the real fixture") {
    // the fixture diameter is within four doubling rounds, so the
    // data-driven loop and the pinned unroll must agree label for
    // label — and rounds_run must be a constant column ≤ 4
    val dir = "/root/testdata/sf0.001"
    val fix = SparkEntry.queries("q309_cc_fixpoint")(spark, dir)
    val unrolled = SparkEntry.queries("q294_pointer_jump_components")(spark, dir)
    val fixMap = fix.select("node", "comp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unrolledMap = unrolled.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // q294 seeds l0 with min(dst, min incoming src) — half a round
    // ahead of q309's own-id init — but the FIXPOINT is init-free
    assert(fixMap === unrolledMap)
    val rounds = fix.select("rounds_run").distinct().collect().map(_.getLong(0))
    assert(rounds.length === 1 && rounds.head >= 1 && rounds.head <= 4,
      s"fixture rounds_run=${rounds.toSeq} out of the doubling range")
  }
}
