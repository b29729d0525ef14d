package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Semantic properties of the retrieval-layer queries an oracle hash
  * match alone cannot express: q198's greedy MMR selection replayed
  * exactly in Scala (the unrolled dataflow must equal the sequential
  * algorithm it encodes), and q200's PQ assignment replayed as a
  * brute-force argmin plus the codebook self-coding invariant. */
class RetrievalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def quantized(dir: String = sf): Map[Long, Array[Long]] =
    graft.Tables.load(spark, dir, "embeddings").collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1000).toLong).toArray
    }.toMap

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => a(i) * b(i)).sum

  private def cos(a: Array[Long], b: Array[Long]): Double =
    dot(a, b).toDouble / math.sqrt(dot(a, a).toDouble * dot(b, b).toDouble)

  test("q198 equals the sequential greedy MMR algorithm, pick for pick") {
    val vecs = quantized().filter { case (_, v) => dot(v, v) > 0 }
    val truth = vecs.keys.filter(_ < 8).flatMap { qid =>
      val q = vecs(qid)
      val pool = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, v, cos(q, v)) }
        .sortBy { case (id, _, s) => (-s, id) }
        .take(6)
      // sequential greedy: argmax of (rel − max sim to selected)·0.5
      var selected = List(pool.head)
      var rest = pool.tail
      val scores = collection.mutable.ListBuffer(
        (qid, 1L, pool.head._1, pool.head._3))
      for (pick <- 2 to 3) {
        val scored = rest.map { case (id, v, rel) =>
          val m = selected.map(s => cos(v, s._2)).max
          (id, v, rel, (rel - m) * 0.5)
        }
        val best = scored.minBy { case (id, _, _, mmr) => (-mmr, id) }
        scores += ((qid, pick.toLong, best._1, best._4))
        selected = (best._1, best._2, best._3) :: selected
        rest = rest.filter(_._1 != best._1)
      }
      scores
    }.toSet
    val got = run("q198_mmr_diversify").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === truth, s"got ${got.size} picks, truth ${truth.size}")
  }

  test("q200 equals the brute-force PQ argmin; codebook vectors self-code at zero error") {
    val vecs = quantized()
    val cb = vecs.filter(_._1 < 16)
    val truth = vecs.flatMap { case (id, v) =>
      (0 until 8).map { j =>
        val (code, d) = cb.toSeq.map { case (c, w) =>
          val dd = (j * 8 until j * 8 + 8)
            .map(i => (v(i) - w(i)) * (v(i) - w(i))).sum
          (c, dd)
        }.minBy { case (c, dd) => (dd, c) }
        ((id, j.toLong), (code, d))
      }
    }
    val got = run("q200_pq_codes").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size === vecs.size * 8, "every (vector, subspace) coded once")
    assert(got === truth)
    // self-coding: a codebook member's residual is zero in every subspace
    cb.keys.foreach { id =>
      (0L until 8L).foreach { j =>
        assert(got((id, j))._2 === 0L, s"codebook vector $id subspace $j")
      }
    }
  }

  test("q201 ADC equals the brute-force code-plus-table recompute, top-5 for top-5") {
    val vecs = quantized()
    val cb = vecs.filter(_._1 < 16)
    def subDist(a: Array[Long], b: Array[Long], j: Int): Long =
      (j * 8 until j * 8 + 8).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val codeOf = vecs.map { case (id, v) =>
      id -> (0 until 8).map { j =>
        cb.toSeq.map { case (c, w) => (c, subDist(v, w, j)) }
          .minBy { case (c, d) => (d, c) }._1
      }
    }
    val truth = vecs.keys.filter(_ < 8).flatMap { qid =>
      val q = vecs(qid)
      vecs.keys.filter(_ != qid).map { vid =>
        val adc = (0 until 8).map(j => subDist(q, cb(codeOf(vid)(j)), j)).sum
        (qid, vid, adc)
      }.toSeq.sortBy { case (_, vid, adc) => (adc, vid) }.take(5)
    }.toSet
    val got = run("q201_pq_adc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === truth)
  }

  test("q203 equals a driver-side grid-DBSCAN with full label convergence on this fixture") {
    val pts = graft.Tables.load(spark, sf, "embeddings").collect().map { r =>
      val e = r.getSeq[Float](1)
      val cx = (math.floor(e(0).toDouble * 1000).toLong + 16384) / 50
      val cy = (math.floor(e(1).toDouble * 1000).toLong + 16384) / 50
      (r.getLong(0), cx, cy)
    }
    val counts = pts.groupBy(p => (p._2, p._3)).map { case (c, ps) => c -> ps.length }
    val core = counts.filter(_._2 >= 8).keySet
    // fixpoint min-label over the 8-neighborhood core graph
    var label = core.map(c => c -> (c._1 * 65536 + c._2)).toMap
    var changed = true
    var rounds = 0
    while (changed) {
      changed = false; rounds += 1
      val next = core.map { c =>
        val nbrs = for {
          dx <- -1 to 1; dy <- -1 to 1
          n = (c._1 + dx, c._2 + dy) if core(n)
        } yield label(n)
        c -> nbrs.min
      }.toMap
      if (next != label) { label = next; changed = true }
    }
    // the query unrolls 16 neighbor-min rounds; the naive fixpoint's
    // round count here bounds the true need, so this asserts the
    // unroll still converges on the fixture (measured 6 at sf0.001)
    assert(rounds <= 16, s"fixture needs $rounds rounds — widen the unroll")
    val nbrLabel = core.flatMap { c =>
      for (dx <- -1 to 1; dy <- -1 to 1) yield (c._1 + dx, c._2 + dy) -> label(c)
    }.groupBy(_._1).map { case (p, ls) => p -> ls.map(_._2).min }
    val truth = pts.map { case (id, cx, cy) =>
      val cell = (cx, cy)
      if (core(cell)) (id, cx, cy, "core", label(cell))
      else nbrLabel.get(cell) match {
        case Some(l) => (id, cx, cy, "border", l)
        case None => (id, cx, cy, "noise", -1L)
      }
    }.toSet
    val got = run("q203_grid_dbscan").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    assert(got === truth)
  }

  test("q209 medoids equal the brute-force per-cell argmin") {
    val vecs = quantized().filter { case (_, v) => dot(v, v) > 0 }
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    // replay the q89 seed-centroid assignment (8 smallest vec_ids)
    val cents = vecs.keys.toSeq.sorted.take(8).zipWithIndex
      .map { case (id, i) => i -> vecs(id) }
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.minBy { case (i, cv) => (sq(v, cv), i) }._1
    }
    val truth = cellOf.groupBy(_._2).map { case (cell, ms) =>
      val ids = ms.keys.toSeq
      val (medoid, ssd) = ids.map { a =>
        (a, ids.filter(_ != a).map(b => sq(vecs(a), vecs(b))).sum)
      }.minBy { case (a, d) => (d, a) }
      cell.toLong -> ((medoid, ids.length.toLong, ssd))
    }
    val got = run("q209_cell_medoids").collect()
      .map(r => r.getInt(0).toLong -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got === truth)
  }

  private def labeled(): Map[Long, (Int, Array[Long])] =
    graft.Tables.load(spark, sf, "embeddings").collect().map { r =>
      r.getLong(0) -> ((r.getInt(2), r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1000).toLong).toArray))
    }.toMap.filter { case (_, (_, v)) => v.map(x => x * x).sum > 0 }

  private def centroidsOf(vecs: Map[Long, (Int, Array[Long])]): Map[Int, Array[Long]] =
    vecs.values.groupBy(_._1).map { case (lab, ms) =>
      val n = ms.size.toLong
      // Scala Long division truncates toward zero — identical to both
      // engines' integer div (the verify-skill proven semantics)
      lab -> (0 until 64).map(i => ms.map(_._2(i)).sum / n).toArray
    }

  test("q210 separation equals the replayed Fisher-style ratio per label pair") {
    val vecs = labeled()
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val cent = centroidsOf(vecs)
    val within = vecs.values.groupBy(_._1).map { case (lab, ms) =>
      lab -> ms.map(m => sq(m._2, cent(lab))).sum / ms.size
    }
    val truth = (for {
      a <- cent.keys; b <- cent.keys if b > a
      d = sq(cent(a), cent(b))
    } yield (a.toLong, b.toLong) ->
        ((d, within(a), within(b), 1000L * d / (within(a) + within(b))))).toMap
    val got = run("q210_class_separation").collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got === truth)
  }

  test("q211 threshold is the exact ceil(0.9n) order statistic; coverage in [900, 1000]") {
    val vecs = labeled()
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val cent = centroidsOf(vecs)
    val rows = run("q211_conformal_threshold").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    vecs.values.groupBy(_._1).foreach { case (lab, ms) =>
      val scores = ms.toSeq.map(m => sq(m._2, cent(lab))).sorted
      val n = scores.length
      val k = math.ceil(0.9 * n).toInt
      val (gn, thr, cov, mx) = rows(lab)
      assert(gn === n.toLong)
      assert(thr === scores(k - 1), s"label $lab threshold")
      assert(cov >= 900L && cov <= 1000L, s"label $lab coverage $cov")
      assert(mx === scores.last)
    }
  }

  test("q286 IVF-PQ: rerank scores are exact cosines; recall@5 clears the floor") {
    val vecs = quantized().filter { case (_, v) => dot(v, v) > 0 }
    val exact = vecs.keys.filter(_ < 20).map { qid =>
      qid -> vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(vecs(qid), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
    }.toMap
    val rows = run("q286_ivfpq_rerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    // exactly 5 results per query, ranks 1..5, scores descending
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      assert(rs.length === 5, s"query $qid must return 5")
      assert(rs.sortBy(_._5).map(_._5).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
      val byRank = rs.sortBy(_._5).map(_._4).toSeq
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $qid rerank order must be score-descending")
    }
    // the rerank stage's score column IS the exact cosine
    rows.foreach { case (qid, vid, _, score, _) =>
      val want = cos(vecs(qid), vecs(vid))
      assert(math.abs(score - want) < 1e-12,
        s"($qid, $vid) rerank score must be the exact cosine")
    }
    // measured operating point at sf0.001 is 0.98 on the √n ladder's
    // k=32 rung (round-11 PQ sweep; was 0.87 on fixed k=8); the pin
    // leaves noise margin but would catch any structural break
    // (wrong cells probed, LUT misindexed, shortlist dropped)
    val hits = exact.map { case (qid, truth) =>
      rows.filter(_._1 == qid).map(_._2).count(truth)
    }.sum
    assert(hits >= 80, s"recall@5 floor: $hits/100 must be >= 0.80")
  }

  test("q286 IVF-PQ recall@5 clears 0.80 at sf0.1 — the √n-ladder scale pin") {
    // The round-10 weak mark: the FIXED 8-cell index measured 0.68
    // here. The pqK/pqProbe ladder (k = pow2-ceil √n = 64 at this
    // corpus, probe 4) measures 0.99 (round-11 PQ sweep) — this pin holds the
    // scale story: recall must survive the largest test SF, not just
    // the toy one.
    val sfL = "/root/testdata/sf0.1"
    val vecs = quantized(sfL).filter { case (_, v) => dot(v, v) > 0 }
    val exact = vecs.keys.filter(_ < 20).map { qid =>
      qid -> vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(vecs(qid), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
    }.toMap
    val got = SparkEntry.queries("q286_ivfpq_rerank")(spark, sfL).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val hits = exact.map { case (qid, truth) =>
      got.getOrElse(qid, Set.empty).count(truth)
    }.sum
    assert(hits >= 80, s"sf0.1 recall@5 floor: $hits/100 must be >= 0.80")
  }

  test("q305 equals the sequential greedy k-center traversal, pick for pick") {
    val vecs = quantized().filter { case (_, v) => dot(v, v) > 0 }
    def d2(a: Array[Long], b: Array[Long]): Long =
      dot(a, a) + dot(b, b) - 2 * dot(a, b)
    // sequential farthest-point: seed = smallest id, then argmax of
    // min distance to the selected set, ties to the smaller id
    val seed = vecs.keys.min
    var centers = List((1L, seed, 0L))
    var mdist = vecs.map { case (id, v) => id -> d2(v, vecs(seed)) }
    for (r <- 2 to 5) {
      val (nid, nd) = mdist.toSeq.maxBy { case (id, d) => (d, -id) }
      centers ::= ((r.toLong, nid, nd))
      mdist = mdist.map { case (id, d) =>
        id -> math.min(d, d2(vecs(id), vecs(nid)))
      }
    }
    val truth = centers.toSet
    val got = run("q305_kcenter_coreset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === truth, s"got $got, truth $truth")
    // the radius sequence is nonincreasing by construction
    val seq = got.toSeq.sortBy(_._1).map(_._3).drop(1)
    assert(seq === seq.sortBy(-_), s"selection distances must not increase: $seq")
  }
}
