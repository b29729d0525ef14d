package graft.operators

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The drift-triggered retrain policy for the frozen-codebook
  * incremental IVF-PQ path (operators/IvfPq.driftGatedIndex).
  *
  * The frozen-training append is O(delta) and byte-honest, but it has
  * one real failure mode at production timescales: the archive-trained
  * centroids and codebook never see the delta, so when the delta's
  * distribution drifts (a new topic entering the crawl), new vectors
  * are coded against stale geometry — recall quietly degrades while
  * every pipeline stays green. The retrain gate catches this from the
  * index itself: delta-vs-archive mean reconstruction error (the exact
  * integer the code argmin minimized), as a permille ratio.
  *
  * Corpus: a deterministic structured embedding set (16 gaussian topic
  * clusters on the sphere — the shape real embedding corpora have and
  * the shape PQ exists for; the driver fixture's isotropic vectors
  * carry no codable structure, so they cannot express direction
  * drift). 2000 vectors ⇒ the √n ladder's k=64 rung, probed and
  * shortlisted at the shipped q286 operating point (nProbe=4,
  * shortlist=100). Delta = vec_id % 10 == 0.
  *
  * Pinned behavior:
  *   1. control (delta i.i.d. with the archive): drift ≈ 1000‰, gate
  *      quiet, no retrain;
  *   2. drifted delta (a far topic cluster): gate trips (> 1500‰),
  *      frozen-index recall@5 for delta queries degrades below the
  *      0.80 floor RetrievalSpec pins for healthy indexes, and
  *      driftGatedIndex retrains — recall restored ≥ 0.80.
  */
class PqDriftSpec extends SparkSpec {

  private val scratch =
    Files.createTempDirectory("graft-pq-drift").toFile

  override def beforeAll(): Unit = {
    super.beforeAll()
    sys.props("graft.layout.root") = new File(scratch, "root").getAbsolutePath
    LayoutCatalog.reset()
  }

  override def afterAll(): Unit = {
    sys.props.remove("graft.layout.root")
    LayoutCatalog.reset()
    LayoutCatalog.deleteRecursively(scratch)
    super.afterAll()
  }

  private val deltaPred = col("vec_id") % 10 === 0
  private val split = LayoutCatalog.Split("drift", !deltaPred, Seq(deltaPred))
  private val N = 2000
  private val K = 64 // the √n ladder rung for n=2000
  private val Rounds = 2
  private val Repl = 3
  private val NProbe = 4 // = pqProbe(64), the shipped operating point
  private val Shortlist = 100

  /** Deterministic structured corpus: 16 gaussian topic clusters on
    * the sphere; the delta rows are drawn from the same mixture
    * (control) or from a dedicated far cluster (drifted). */
  private def synthCorpus(name: String, drifted: Boolean): String = {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm * 0.8)
    }
    val centers = Array.fill(16)(unit())
    val driftCenter = unit()
    val sigma = 0.06
    val rows = (0 until N).map { id =>
      val c =
        if (id % 10 == 0 && drifted) driftCenter
        else centers((id * 2654435761L % 16).toInt.abs)
      (id.toLong, c.map(x => (x + sigma * rnd.nextGaussian()).toFloat))
    }
    import spark.implicits._
    val d = new File(scratch, name); d.mkdirs()
    val tmp = new File(d, "embedding_tmp")
    rows.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite")
      .parquet(tmp.getAbsolutePath)
    val dst = new File(d, "embeddings.parquet")
    LayoutCatalog.deleteRecursively(dst)
    tmp.renameTo(dst)
    d.getAbsolutePath
  }

  private def baseOf(dir: String): DataFrame =
    graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VecMath.quantize(col("embedding")).as("qv"))
      .withColumn("qn", graft.functions.VecMath.qdot(col("qv"), col("qv")))
      .filter(col("qn") > 0)
      .select("vec_id", "qv", "qn")

  /** Exact quantized-cosine top-5 per delta query, driver-side. */
  private def bruteTop5(base: DataFrame): Map[Long, Set[Long]] = {
    val vecs = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / math.sqrt(dot(a, a).toDouble * dot(b, b).toDouble)
    vecs.keys.filter(_ % 10 == 0).map { qid =>
      qid -> vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(vecs(qid), v)) }
        .sortBy { case (id, sc) => (-sc, id) }.take(5).map(_._1).toSet
    }.toMap
  }

  /** The q286/q289 ADC search shape over explicit index tables:
    * probe → per-query LUT → ADC → best-cell dedup → shortlist →
    * exact rerank — recall@5 of delta queries vs the brute truth. */
  private def recallAt5(base: DataFrame, cents: DataFrame, codes: DataFrame,
      cbt: DataFrame, exact: Map[Long, Set[Long]]): Double = {
    val qd = graft.functions.VecMath.qdot _
    val cw = cents.select("centroid_id", "cv")
    val queries = base.filter(deltaPred)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("qn").as("qqn"))
    val qc = Ivf.probeCosine(queries, "qqv", cents, NProbe)
      .join(broadcast(cw), "centroid_id")
      .withColumn("dqc", qd(col("qqv"), col("cv")))
      .select("query_id", "qqn", "centroid_id", "dqc")
    val lut = queries.crossJoin(broadcast(cbt))
      .withColumn("ip", qd(
        expr("slice(qqv, cast(subspace * 8 + 1 as int), 8)"), col("cw")))
      .select("query_id", "subspace", "code", "ip")
    val adc = codes
      .join(broadcast(qc), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy("query_id", "vec_id", "centroid_id", "qn", "qqn", "dqc")
      .agg(sum(col("ip")).as("ipsum"))
      .withColumn("adot", col("dqc") + col("ipsum"))
    val best = adc.groupBy("query_id", "vec_id", "qn", "qqn")
      .agg(max(col("adot")).as("adot"))
      .withColumn("score_a", col("adot").cast("double") /
        sqrt(col("qqn").cast("double") * col("qn").cast("double")))
    val wa = Window.partitionBy("query_id")
      .orderBy(desc("score_a"), col("vec_id"))
    val short = best.withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= Shortlist).select("query_id", "vec_id")
    val rer = short
      .join(broadcast(queries), "query_id")
      .join(base.select(col("vec_id"), col("qv").as("qv_c"),
        col("qn").as("qn_c")), "vec_id")
      .withColumn("score", qd(col("qqv"), col("qv_c")).cast("double") /
        sqrt(col("qqn").cast("double") * col("qn_c").cast("double")))
    val wr = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("vec_id"))
    val got = rer.withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val hits = exact.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t) }.sum
    hits.toDouble / (exact.size * 5)
  }

  test("control: i.i.d. delta keeps drift near 1000 permille — no retrain") {
    val dir = synthCorpus("plain", drifted = false)
    val base = baseOf(dir)
    val (codes, cbt, cents) = IvfPq.splitIndex(
      base, dir, split, K, Rounds, Repl)
    val (archMean, deltaMean, drift) =
      IvfPq.driftStats(base, codes, cbt, cents, deltaPred)
    info(s"control corpus: archMean=$archMean deltaMean=$deltaMean drift=$drift‰")
    assert(drift <= 1500,
      s"an i.i.d. delta must not trip the retrain gate: $drift‰")
    val (_, _, _, retrained) = IvfPq.driftGatedIndex(
      base, dir, split, K, Rounds, Repl)
    assert(!retrained)
    // and the healthy index meets the recall floor outright
    val recall = recallAt5(base, cents, codes, cbt, bruteTop5(base))
    info(f"control recall@5 = $recall%.3f")
    assert(recall >= 0.80)
  }

  test("drifted delta: gate trips, frozen recall degrades, retrain restores recall@5 >= 0.80") {
    val dir = synthCorpus("shifted", drifted = true)
    val base = baseOf(dir)
    val exact = bruteTop5(base)
    assert(exact.size === N / 10)

    val (codes, cbt, cents) = IvfPq.splitIndex(
      base, dir, split, K, Rounds, Repl)
    val (archMean, deltaMean, drift) =
      IvfPq.driftStats(base, codes, cbt, cents, deltaPred)
    info(s"drifted corpus: archMean=$archMean deltaMean=$deltaMean drift=$drift‰")
    assert(drift > 1500,
      s"the drifted delta must trip the retrain gate: $drift‰")

    val frozenRecall = recallAt5(base, cents, codes, cbt, exact)
    info(f"frozen-codebook recall@5 = $frozenRecall%.3f")

    val (c2, cb2, ce2, retrained) = IvfPq.driftGatedIndex(
      base, dir, split, K, Rounds, Repl)
    assert(retrained, "driftGatedIndex must retrain past the gate")
    val retrainedRecall = recallAt5(base, ce2, c2, cb2, exact)
    info(f"retrained recall@5 = $retrainedRecall%.3f")

    assert(frozenRecall < 0.78,
      f"drifted delta should degrade frozen-index recall, got $frozenRecall%.3f")
    assert(retrainedRecall >= 0.80,
      f"retrain must restore recall@5, got $retrainedRecall%.3f")
    assert(retrainedRecall > frozenRecall)
  }
}
