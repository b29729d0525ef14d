package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Both durability levels of Checkpoints.materialize: the default
  * executor-local path and the spark.graft.checkpointDir-driven
  * reliable path (the cluster deploy posture) — one config flips every
  * call site (q94/q104/q123/q89/q107/q124). */
class CheckpointsSpec extends SparkSpec {

  test("default path: local checkpoint truncates lineage, values intact") {
    import spark.implicits._
    val df = (1 to 100).toDF("x").withColumn("y", col("x") * 2)
    val m = Checkpoints.materialize(df)
    assert(m.collect().map(_.getInt(1)).sum === (1 to 100).map(_ * 2).sum)
    // lineage is cut: the plan bottoms out in a materialized RDD scan,
    // not the original LocalRelation pipeline
    assert(m.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.startsWith("LogicalRDD")),
      m.queryExecution.optimizedPlan.toString)
  }

  test("spark.graft.checkpointDir flips the same call to a reliable checkpoint") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      val m = Checkpoints.materialize((1 to 50).toDF("x"))
      assert(m.as[Int].collect().sorted.toSeq === (1 to 50).toSeq)
      // blocks landed under the configured directory (survivable storage)
      val files = Files.walk(Paths.get(dir))
      try assert(files.filter(Files.isRegularFile(_)).count() > 0,
        s"expected reliable checkpoint files under $dir")
      finally files.close()
      // repeated materializations share one checkpoint root
      Checkpoints.materialize((1 to 5).toDF("x")).collect()
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(dir)))
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("materializeAggLong: the reliable path returns the local path's rows and scalars") {
    import spark.implicits._
    // every 7th value null: the scalar covers non-null values only
    val df = (1 to 100).map(i => (i, if (i % 7 == 0) None else Some(3L * i)))
      .toDF("k", "v")
    def run(isMax: Boolean): (Seq[String], Option[java.math.BigInteger]) = {
      val (m, agg) = Checkpoints.materializeAggLong(df, "v", isMax)
      (m.collect().map(_.toString).sorted.toSeq, agg)
    }
    val local = Seq(false, true).map(run)
    val nonNull = (1 to 100).filter(_ % 7 != 0).map(3L * _)
    assert(local.map(_._2) === Seq(Some(java.math.BigInteger.valueOf(nonNull.sum)),
      Some(java.math.BigInteger.valueOf(nonNull.max))))
    assert(local.head._1.length === 100)
    val dir = Files.createTempDirectory("graft-ckpt-agg").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      assert(Seq(false, true).map(run) === local)
      val files = Files.walk(Paths.get(dir))
      try assert(files.filter(Files.isRegularFile(_)).count() > 0,
        s"expected reliable checkpoint files under $dir")
      finally files.close()
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("spark.graft.checkpointDir reaches every materializing query: none leaves an executor-local checkpoint") {
    // q149, q163 and q268 materialize their per-doc signature state.
    // Under the reliable config that state must land in the configured
    // directory like every other materialization; an executor-local
    // checkpoint (persisted, checkpointed, no checkpoint file) is
    // lost with its executor on a cluster.
    val names = Seq("q149_minhash_calibration", "q163_neardup_eval",
      "q268_threshold_curve")
    val sf = "/root/testdata/sf0.001"
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-ckpt-route").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try names.foreach { n =>
      val before = sc.getPersistentRDDs.keySet
      val df = SparkEntry.queries(n)(spark, sf)
      val local = sc.getPersistentRDDs.collect {
        case (id, rdd) if !before(id) && rdd.isCheckpointed &&
            rdd.getCheckpointFile.isEmpty => id
      }
      // the registry of persisted RDDs holds them weakly: keep the
      // built frame (and so its checkpointed RDDs) alive until here
      java.lang.ref.Reference.reachabilityFence(df)
      assert(local.isEmpty,
        s"$n built ${local.size} executor-local checkpoint(s) under " +
          Checkpoints.DirConf)
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("checkpointed registry queries are value-identical under both durability paths") {
    // The deploy-posture parity ask: every query whose plan runs
    // through Checkpoints.materialize must produce the same rows
    // whether the materialization is executor-local (localCheckpoint,
    // the local[n] default) or reliable (checkpoint() into
    // spark.graft.checkpointDir, the 1000-executor posture). A
    // representative slice across the checkpointed families — the
    // iterative graph programs, the cell-blocked dedup, and the
    // banding audit — runs under BOTH configs; rows canonicalize to
    // sorted string form and must match exactly. (The full-registry
    // reliable-path sweep at sf0.01 is recorded in BENCHNOTES.)
    val names = Seq("q94_pagerank", "q123_triangle_census",
      "q89_semantic_dedup", "q146_recall_sweep")
    val sf = "/root/testdata/sf0.001"
    def canon(name: String): Seq[String] = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect().map(_.toSeq.map(v =>
        if (v == null) "NULL" else v.toString).mkString("|")).sorted.toSeq
    }
    val local = names.map(n => n -> canon(n)).toMap
    val dir = Files.createTempDirectory("graft-ckpt-parity").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      names.foreach { n =>
        assert(canon(n) === local(n),
          s"$n diverged between local and reliable checkpoint paths")
      }
      // the reliable path actually engaged: checkpoint files landed
      val files = Files.walk(Paths.get(dir))
      try assert(files.filter(Files.isRegularFile(_)).count() > 0,
        s"expected reliable checkpoint files under $dir")
      finally files.close()
    } finally spark.conf.unset(Checkpoints.DirConf)
  }
}
