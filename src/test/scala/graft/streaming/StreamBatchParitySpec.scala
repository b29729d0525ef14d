package graft.streaming

import java.nio.file.{Files, Path}

import graft.{SparkSpec, SparkEntry, Tables}
import graft.operators.LayoutCatalog
import graft.operators.LayoutCatalog.Split
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming/batch parity on the REAL events table: the streaming
  * operators (file source → StreamOps → foreachBatch → parquet) must
  * reproduce the batch queries whose DuckDB oracles are green in
  * CORRECTNESS — so the streaming paths are transitively oracle-backed
  * rather than spec-only.
  */
class StreamBatchParitySpec extends SparkSpec {

  private val gapUs = 1800000000L // 30 minutes, matching q23/q24

  /** Runs `body` on a layout catalog root of its own, so both sides of
    * a byte comparison are published by this JVM: a default catalog that
    * outlived an earlier run may hold one side, and parquet footers
    * differ across JVMs. */
  private def withScratchCatalog[A](body: => A): A = {
    val root = Files.createTempDirectory("graft-parity-catalog").toFile
    val previous = sys.props.get("graft.layout.root")
    sys.props("graft.layout.root") = root.getAbsolutePath
    LayoutCatalog.reset()
    try body finally {
      previous.fold(sys.props.remove("graft.layout.root"))(
        sys.props.put("graft.layout.root", _))
      LayoutCatalog.reset()
      LayoutCatalog.deleteRecursively(root)
    }
  }

  /** Stages `events` as chronologically-ordered source files: the real
    * rows (`copies` times — an at-least-once feed when > 1), then one
    * far-future watermark-pusher row (user_id -1, event_type "pusher")
    * whose arrival closes every real window. */
  private def stageInput(events: DataFrame, pusherAfterUs: Long,
      copies: Int = 1, chronoParts: Int = 1): Path = {
    val in = Files.createTempDirectory("graft-parity-in")
    def onePart(df: DataFrame, tmpName: String, target: String, mtimeOffsetMs: Long): Unit = {
      val tmp = in.resolve(tmpName)
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = in.resolve(target)
      Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() + mtimeOffsetMs)
    }
    if (chronoParts == 1)
      (1 to copies).foreach(c =>
        onePart(events, s"stage1c$c", s"batch1c$c.parquet", 0L))
    else {
      // chronological split: part i holds the i-th time-slice, staged
      // with increasing mtimes so maxFilesPerTrigger=1 replays the log
      // in order across micro-batches
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))
      val tiled = events.withColumn("__p", ntile(chronoParts).over(w))
      (1 to chronoParts).foreach { i =>
        onePart(tiled.filter(col("__p") === i).drop("__p"),
          s"stage1p$i", s"batch1p$i.parquet", (i - 1) * 2000L)
      }
    }
    val pusherTs = events.agg(max(unix_micros(col("ts")))).head().getLong(0) +
      pusherAfterUs
    onePart(events.sparkSession.range(1).select(
      lit(-1L).as("event_id"),
      timestamp_micros(lit(pusherTs)).as("ts"),
      lit(-1L).as("user_id"),
      lit("pusher").as("event_type"),
      lit(null).cast("double").as("value")), "stage2", "batch2.parquet", 10000L)
    in
  }

  /** One AvailableNow pass of `build(stream)` over the staged input,
    * results parqueted via foreachBatch and read back. */
  private def runStream(in: Path, schema: org.apache.spark.sql.types.StructType,
      build: DataFrame => DataFrame): DataFrame = {
    val out = Files.createTempDirectory("graft-parity-out").toString
    val ckpt = Files.createTempDirectory("graft-parity-ckpt").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val q = build(stream)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batch.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    spark.read.parquet(out)
  }

  private def realEvents: DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "event_type", "value")

  test("streaming session_window over real events equals batch q24 sessions") {
    val events = realEvents
    val in = stageInput(events, gapUs + 900000000L) // gap + 15 min
    val result = runStream(in, events.schema,
      st => StreamOps.sessionCounts(st, gap = "30 minutes", watermark = "1 minute"))

    // session_window's end is last event + gap; subtract it back so the
    // tuple matches q24's (first-to-last) duration exactly
    val streamed = result
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"),
        (unix_micros(col("session_end")) - gapUs -
          unix_micros(col("session_start"))).as("duration_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted

    val batch = SparkEntry.queries("q24_session_stats")(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("n_events"), col("duration_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted

    assert(batch.nonEmpty, "batch sessionization returned no sessions")
    assert(streamed.length === batch.length,
      s"session count mismatch: streaming ${streamed.length} vs batch ${batch.length}")
    assert(streamed === batch)
  }

  test("streaming tumbling hourly windows over real events equal batch q22") {
    val events = realEvents
    val in = stageInput(events, 7200000000L) // 2 hours past the last event
    val result = runStream(in, events.schema,
      st => StreamOps.hourlyCounts(st, watermark = "1 minute"))

    val streamed = result
      .filter(col("event_type") =!= "pusher")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getDouble(3))).sorted

    val batch = SparkEntry.queries("q22_time_window")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getDouble(3))).sorted

    assert(batch.nonEmpty)
    assert(streamed.length === batch.length,
      s"window count mismatch: streaming ${streamed.length} vs batch ${batch.length}")
    assert(streamed === batch)
  }

  test("streaming dedup of an at-least-once feed equals the exactly-once batch table") {
    val events = realEvents
    // stage every event TWICE (duplicate delivery within the watermark)
    val in = stageInput(events, 7200000000L, copies = 2)
    val result = runStream(in, events.schema,
      st => StreamOps.dedupEvents(st, watermark = "1 hour"))

    val streamed = result.filter(col("user_id") >= 0)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val batch = events.select("event_id").collect().map(_.getLong(0)).sorted

    assert(streamed.length === batch.length,
      s"dedup must emit each event exactly once: streaming ${streamed.length} " +
        s"vs batch ${batch.length} (duplicated feed had ${2 * batch.length})")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming bloom-prefiltered ingest equals the batch semi join") {
    // ingest-time filtering against a static key set: the bloom bitmap
    // attaches as a LITERAL (streaming plans cannot host scalar
    // subqueries), cuts each micro-batch before the stream-static semi
    // join, and the exact join removes the FP tail — so the streamed
    // result must equal the batch semi join row-for-row
    val events = realEvents
    val active = events.filter(col("user_id") % 7 === 0)
      .select("user_id").distinct()
    val bloomLit = graft.operators.BloomPrefilter.bitmapLiteral(active, "user_id")
    val in = stageInput(events, 7200000000L)
    val result = runStream(in, events.schema, st =>
      st.filter(graft.operators.BloomPrefilter.mightContain(col("user_id"), bloomLit))
        .join(active, Seq("user_id"), "left_semi"))

    val streamed = result.select("event_id").collect().map(_.getLong(0)).sorted
    val batch = events.join(active, Seq("user_id"), "left_semi")
      .select("event_id").collect().map(_.getLong(0)).sorted

    assert(batch.nonEmpty, "the active-user slice must be non-empty")
    assert(streamed.toSeq === batch.toSeq,
      s"bloom-prefiltered stream: ${streamed.length} vs batch ${batch.length}")
  }

  test("stream-stream interval join equals the batch attribution query q86") {
    val events = realEvents
    val in = stageInput(events, 7200000000L)
    val result = runStream(in, events.schema,
      st => StreamOps.attributionJoin(st))

    val streamed = result.select("click_id", "purchase_id", "lag_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = SparkEntry.queries("q86_attribution")(spark, "/root/testdata/sf0.001")
      .select("click_id", "purchase_id", "lag_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted

    assert(batch.nonEmpty, "attribution must find pairs at sf0.001")
    assert(streamed.toSeq === batch.toSeq,
      s"stream-stream join: ${streamed.length} vs batch ${batch.length}")
  }

  test("streaming keyed-state transitions across 3 micro-batches equal batch q97") {
    import spark.implicits._
    val events = realEvents
    // three chronological micro-batches: transition chains must CROSS
    // batch boundaries through the flatMapGroupsWithState state
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val result = runStream(in, events.schema,
      st => StreamOps.transitionPairs(
        st.select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF())

    val streamed = result
      .filter(col("user_id") >= 0) // the pusher's own single event chains nothing real
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val batch = SparkEntry.queries("q97_event_transitions")(spark, "/root/testdata/sf0.001")
      .select("from_type", "to_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted

    assert(batch.nonEmpty, "batch transition matrix must be non-empty")
    assert(streamed.toSeq === batch.toSeq,
      s"transition counts: streaming ${streamed.length} cells vs batch ${batch.length}")
  }

  test("streaming trigram motifs across 3 micro-batches equal batch q126's top-15") {
    import spark.implicits._
    val events = realEvents
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val result = runStream(in, events.schema,
      st => StreamOps.motifTriples(
        st.select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF())
    val streamedCounts = result
      .filter(col("user_id") >= 0)
      .filter(!col("motif").contains("pusher"))
      .groupBy("motif").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchTop = SparkEntry.queries("q126_motif_mining")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(batchTop.nonEmpty)
    batchTop.foreach { case (motif, n) =>
      assert(streamedCounts.get(motif).contains(n),
        s"motif $motif: streamed ${streamedCounts.get(motif)} vs batch $n")
    }
  }

  test("streaming Page CUSUM across 3 micro-batches equals batch q260") {
    import spark.implicits._
    val events = realEvents
    // pusher 2 days after the last event: its later DATE closes the
    // final real day; days split across the 3 chronological batches
    // must fold through the carried (curDay, curCount) state
    val in = stageInput(events, 2L * 86400000000L, chronoParts = 3)
    val result = runStream(in, events.schema,
      st => StreamOps.cusumAlarm(
        st.select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF())
    def canon(df: DataFrame) = df
      .select(col("d").cast("string"), col("x"), col("mu"),
        col("cusum_up"), col("cusum_down"), col("alarm_up"), col("alarm_down"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
      .sortBy(_._1)
    val streamed = canon(result)
    val batch = canon(
      SparkEntry.queries("q260_page_cusum_alarm")(spark, "/root/testdata/sf0.001"))
    assert(batch.nonEmpty, "batch CUSUM table must be non-empty")
    // every real day closes (the pusher's own day never does), the
    // retroactively-replayed baseline days included
    assert(streamed.toSeq === batch.toSeq,
      s"CUSUM rows: streaming ${streamed.length} days vs batch ${batch.length}")
  }

  test("streaming OBF sequential monitor across 3 micro-batches equals batch q269") {
    import spark.implicits._
    val events = realEvents
    // the pusher row (user_id −1) is the period-close punctuation: the
    // monitor table emits only when it arrives, after the per-user
    // state has folded through all 3 chronological micro-batches
    val in = stageInput(events, 2L * 86400000000L, chronoParts = 3)
    val result = runStream(in, events.schema,
      st => StreamOps.obfMonitor(
        st.select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF())
    def canon(df: DataFrame) = df
      .select(col("scenario"), col("k").cast("long"), col("d").cast("long"),
        col("above_mean").cast("long"), col("chi2_milli"),
        col("boundary_milli"), col("crossed"), col("stopped"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))
      .sortBy(t => (t._1, t._2))
    val streamed = canon(result)
    val batch = canon(
      SparkEntry.queries("q269_obf_monitor")(spark, "/root/testdata/sf0.001"))
    assert(batch.nonEmpty, "batch OBF table must be non-empty")
    assert(streamed.length === 10,
      s"exactly one close emission (2 scenarios × 5 looks): $streamed")
    assert(streamed.toSeq === batch.toSeq,
      s"OBF rows: streaming ${streamed.length} vs batch ${batch.length}")
  }

  test("motif state survives a one-event first micro-batch (boundary trigram kept)") {
    import spark.implicits._
    // user 1's FIRST batch holds exactly one event: the (Option, Option)
    // state must persist it, or the boundary-spanning trigram a>b>c is
    // silently lost (the pre-fix (String, String) state could not
    // represent a one-event history)
    val mk = (id: Long, us: Long, tpe: String) => (id,
      new java.sql.Timestamp(us / 1000), 1L, tpe, 1.0)
    val batch1 = Seq(mk(1L, 1000000L, "a"))
    val batch2 = Seq(mk(2L, 2000000L, "b"), mk(3L, 3000000L, "c"))
    val schema = realEvents.schema
    val in = Files.createTempDirectory("graft-motif-in")
    def stage(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)],
        name: String, mtime: Long): Unit = {
      val tmp = in.resolve(s"tmp$name")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = in.resolve(s"$name.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() + mtime)
    }
    stage(batch1, "b1", 0L)
    stage(batch2, "b2", 5000L)
    val result = runStream(in, schema,
      st => StreamOps.motifTriples(
        st.select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF())
    val motifs = result.select("motif").collect().map(_.getString(0)).sorted
    assert(motifs.toSeq === Seq("a>b>c"),
      s"boundary trigram must survive the one-event batch: ${motifs.toSeq}")
  }

  test("streaming CDC compaction + CdcMerge apply equal the batch q118 merge") {
    import spark.implicits._
    import graft.operators.CdcMerge
    val ev = realEvents
    // the change stream (q118's odd half) replayed across 3 micro-batches:
    // per-key latest must survive batch boundaries through the state store
    val in = stageInput(ev.filter(col("event_id") % 2 === 1), 3600000000L,
      chronoParts = 3)
    val out = Files.createTempDirectory("graft-cdc-out").toString
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    // the watermark pusher (value NULL) is irrelevant to keyed state —
    // drop it before the non-nullable ChangeRow cast
    val q = StreamOps.cdcLatest(
        stream.filter(col("user_id") >= 0).as[StreamOps.ChangeRow]).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("__bid", lit(bid)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    // the LAST update-mode emission per key is the compacted change set
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("__bid").desc)
    val compacted = spark.read.parquet(out)
      .filter(col("user_id") >= 0)
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(col("user_id"), col("value").as("chg_value"),
        col("event_id").as("chg_eid"),
        when(col("event_type") === "error", "delete").otherwise("upsert").as("op"))
    val base = CdcMerge.compact(ev.filter(col("event_id") % 2 === 0),
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("value").as("base_value"))
    val streamed = CdcMerge
      .merge(base, compacted, "user_id", "base_value", "chg_value", "op")
      .select("user_id", "action", "final_value", "chg_eid")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) Option.empty[Double] else Some(r.getDouble(2)),
        if (r.isNullAt(3)) Option.empty[Long] else Some(r.getLong(3)))).toSet

    val batchRows = SparkEntry.queries("q118_cdc_upsert")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) Option.empty[Double] else Some(r.getDouble(2)),
        if (r.isNullAt(3)) Option.empty[Long] else Some(r.getLong(3)))).toSet

    assert(batchRows.nonEmpty, "batch merge must be non-empty")
    assert(streamed === batchRows,
      s"CDC merge: streaming ${streamed.size} keys vs batch ${batchRows.size}")
  }

  test("streaming KMV sketch across 3 micro-batches equals batch q153") {
    import spark.implicits._
    val events = realEvents
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val out = Files.createTempDirectory("graft-kmv-out").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt").toString
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    // drop ONLY the synthetic watermark pusher by its own marker — any
    // real fixture row (negative ids included) flows through both the
    // streaming and the batch side identically
    val q = StreamOps.kmvDistinct(
        stream.filter(col("event_type") =!= "pusher")
          .select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("__bid", lit(bid)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    // the LAST update-mode emission per type is the full-corpus sketch
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("__bid").desc)
    val streamed = spark.read.parquet(out)
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select("event_type", "in_sketch", "kmv_estimate")
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val batch = SparkEntry.queries("q153_kmv_distinct")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) ->
        ((math.min(64L, r.getLong(1)).toInt, r.getLong(2)))).toMap
    assert(batch.nonEmpty, "batch sketch must be non-empty")
    assert(streamed === batch,
      s"KMV sketch: streaming $streamed vs batch $batch")
  }

  test("streaming HLL registers across 3 micro-batches equal batch q162") {
    import spark.implicits._
    val events = realEvents
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val out = Files.createTempDirectory("graft-hll-out").toString
    val ckpt = Files.createTempDirectory("graft-hll-ckpt").toString
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val q = StreamOps.hllDistinct(
        stream.filter(col("event_type") =!= "pusher")
          .select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("__bid", lit(bid)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    // the LAST update-mode emission per type carries the full-corpus
    // register state (elementwise-max folds are order-insensitive)
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("__bid").desc)
    val streamed = spark.read.parquet(out)
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select("event_type", "n_registers_hit", "sum_scaled", "hll_estimate")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val batch = SparkEntry.queries("q162_hll_distinct")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(4), r.getLong(5))))
      .toMap
    assert(batch.nonEmpty, "batch sketch must be non-empty")
    assert(streamed === batch,
      s"HLL sketch: streaming $streamed vs batch $batch")
  }

  test("streaming SpaceSaving top-3 across 3 micro-batches equals batch q170") {
    import spark.implicits._
    val events = realEvents
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val out = Files.createTempDirectory("graft-ss-out").toString
    val ckpt = Files.createTempDirectory("graft-ss-ckpt").toString
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    // capacity exceeds the fixture's per-type distinct users, so no
    // eviction fires and the final table is the exact count map — the
    // regime where SpaceSaving top-k MUST equal the batch query
    val q = StreamOps.spaceSavingTopK(
        stream.filter(col("event_type") =!= "pusher")
          .select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow], capacity = 4096, k = 3).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("__bid", lit(bid)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(out)
      .withColumn("maxbid", max(col("__bid")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .filter(col("__bid") === col("maxbid"))
      .select("event_type", "rnk", "user_id", "n_est", "n_err")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val batch = SparkEntry.queries("q170_heavy_hitters")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), 0L)))
      .toMap
    assert(batch.nonEmpty, "batch heavy hitters must be non-empty")
    assert(streamed === batch,
      s"SpaceSaving: streaming $streamed vs batch $batch")
  }

  test("streaming histogram quantiles across 3 micro-batches equal batch q184") {
    import spark.implicits._
    val events = realEvents
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val out = Files.createTempDirectory("graft-hq-out").toString
    val ckpt = Files.createTempDirectory("graft-hq-ckpt").toString
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val q = StreamOps.histQuantiles(
        stream.filter(col("event_type") =!= "pusher")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[StreamOps.ChangeRow]).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("__bid", lit(bid)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(out)
      .withColumn("maxbid", max(col("__bid")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .filter(col("__bid") === col("maxbid"))
      .select("event_type", "qp", "est_lo", "est_hi", "n", "target_rank")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val batch = SparkEntry.queries("q184_value_quantiles")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(batch.nonEmpty, "batch quantiles must be non-empty")
    assert(streamed === batch,
      s"hist quantiles: streaming $streamed vs batch $batch")
  }

  test("SpaceSaving eviction keeps its count bounds on a skewed stream") {
    import spark.implicits._
    // skewed synthetic stream: two heavy keys among a parade of
    // singletons, through a table of only 4 counters
    val keys = Seq.fill(50)(1L) ++ Seq.fill(30)(2L) ++ (100L to 119L) ++
      Seq.fill(20)(1L) ++ (200L to 209L)
    val rows = keys.zipWithIndex.map { case (u, i) =>
      StreamOps.EventRow(i.toLong, new java.sql.Timestamp(i * 1000L), u, "t")
    }
    val capacity = 4
    val got = StreamOps.spaceSavingTopK(rows.toDS(), capacity = capacity,
      k = capacity).collect()
    val exact = keys.groupBy(identity).map { case (u, o) => u -> o.length.toLong }
    val n = keys.length.toLong
    assert(got.length === capacity)
    got.foreach { h =>
      val truth = exact.getOrElse(h.user_id, 0L)
      assert(h.n_est >= truth,
        s"key ${h.user_id}: est ${h.n_est} under true $truth")
      assert(h.n_est - h.n_err <= truth,
        s"key ${h.user_id}: est-err exceeds true $truth")
    }
    // count conservation: every processed event lives in some counter
    assert(got.map(_.n_est).sum === n)
    // the guaranteed-tracked keys (true count > N/capacity) are present
    val tracked = got.map(_.user_id).toSet
    exact.filter(_._2 > n / capacity).keys.foreach(u =>
      assert(tracked(u), s"heavy key $u evicted — SpaceSaving guarantee broken"))
    // and the two genuinely heavy keys rank first in order
    assert(got.sortBy(_.rnk).take(2).map(_.user_id).toSeq === Seq(1L, 2L))
  }

  test("streaming CEP matches across 3 micro-batches equal batch q197") {
    import spark.implicits._
    val events = realEvents
    // chronological micro-batches: a click in batch n must match a
    // purchase in batch n+1 through the per-user (click, error) state
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val result = runStream(in, events.schema,
      st => StreamOps.cepMatches(
        st.select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF())
    val streamed = result
      .filter(col("user_id") >= 0)
      .select("user_id", "purchase_id", "click_id", "latency_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = SparkEntry.queries("q197_cep_pattern")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batch.nonEmpty, "batch CEP must find at least one match")
    assert(streamed === batch,
      s"CEP parity: streaming ${streamed.size} vs batch ${batch.size}")
  }

  test("streaming drawdown across 3 micro-batches equals batch q222") {
    import spark.implicits._
    val events = realEvents
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val out = Files.createTempDirectory("graft-dd-out").toString
    val ckpt = Files.createTempDirectory("graft-dd-ckpt").toString
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    // the pusher's NULL value cannot cast into the non-nullable
    // ChangeRow — drop it by its own marker, nothing else
    val q = StreamOps.drawdown(
        stream.filter(col("event_type") =!= "pusher")
          .as[StreamOps.ChangeRow]).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("__bid", lit(bid)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    // last emission per user = full-prefix state; the peak set in an
    // early micro-batch must bound drawdowns in later ones, which is
    // exactly what a per-batch recomputation would get wrong
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("__bid").desc)
    val streamed = spark.read.parquet(out)
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select("user_id", "n_events", "peak_cents", "max_drawdown_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (-r._4, r._1)).take(20).toSeq
    val batch = SparkEntry.queries("q222_max_drawdown")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(batch.nonEmpty, "batch drawdown must be non-empty")
    assert(streamed === batch,
      s"drawdown parity: streaming ${streamed.size} vs batch ${batch.size}")
  }

  test("streaming session gap sweep across 3 micro-batches equals batch q241") {
    import spark.implicits._
    val events = realEvents
    val in = stageInput(events, 3600000000L, chronoParts = 3)
    val out = Files.createTempDirectory("graft-gap-out").toString
    val ckpt = Files.createTempDirectory("graft-gap-ckpt").toString
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val q = StreamOps.sessionGapSweep(
        stream.filter(col("event_type") =!= "pusher")
          .select("event_id", "ts", "user_id", "event_type")
          .as[StreamOps.EventRow]).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("__bid", lit(bid)).write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)

    // a session spanning a micro-batch boundary must NOT double count
    // — the carried last-event timestamp is what prevents it
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("__bid").desc)
    val streamed = spark.read.parquet(out)
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .agg(sum("n_events"), sum("s15"), sum("s30"), sum("s60"))
      .head()
    val batch = SparkEntry.queries("q241_session_gap_sweep")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(batch.nonEmpty)
    assert(streamed.getLong(0) === batch(900L)._2, "event totals")
    assert(streamed.getLong(1) === batch(900L)._1, "15-min sessions")
    assert(streamed.getLong(2) === batch(1800L)._1, "30-min sessions")
    assert(streamed.getLong(3) === batch(3600L)._1, "60-min sessions")
  }

  test("streaming incremental dedup vs the static corpus index equals batch q87") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    // today's crawl arrives as a stream; synthesize arrival times so
    // the watermark (and dedup-state expiry) has an event-time axis
    val incoming = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
      .select("doc_id", "ts", "text")

    // stage 3 chronological files so the candidate join, the
    // within-watermark dedup and the Jaccard gate all run across
    // micro-batch boundaries
    val in = Files.createTempDirectory("graft-incr-in")
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val tiled = incoming.withColumn("__p", ntile(3).over(w))
    (1 to 3).foreach { i =>
      val tmp = in.resolve(s"stage$i")
      tiled.filter(col("__p") === i).drop("__p")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = in.resolve(s"batch$i.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() + (i - 1) * 2000L)
    }

    val cfg = graft.operators.MinHashLsh.Config(
      bands = 3, rowsPerBand = 2, universal = true)
    val result = runStream(in, incoming.schema, st =>
      StreamOps.incrementalDedup(st, corpus, cfg, maxBucket = 20))

    def canon(df: DataFrame) = df
      .select(col("new_id"), col("corpus_id"), col("n_common"),
        round(col("jaccard"), 9).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted
    val streamed = canon(result)
    val batch = canon(
      SparkEntry.queries("q87_incremental_dedup")(spark, "/root/testdata/sf0.001"))
    assert(batch.nonEmpty, "batch q87 found no incremental duplicates")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming incremental EXACT dedup equals batch q302, pair for pair") {
    // the 21st parity — the LOSSLESS twin of the q87 parity above:
    // the archive side serves its prefix posting index, arriving docs
    // probe with all their grams (one-sided prefix theorem), and the
    // emitted union must equal oracle-backed q302 exactly — any
    // missed pair is a recall bug the banded version would tolerate
    // but this operator's contract forbids
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
      .select("doc_id", "ts", "text")

    val in = Files.createTempDirectory("graft-exact-in")
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val tiled = incoming.withColumn("__p", ntile(3).over(w))
    (1 to 3).foreach { i =>
      val tmp = in.resolve(s"stage$i")
      tiled.filter(col("__p") === i).drop("__p")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = in.resolve(s"batch$i.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() + (i - 1) * 2000L)
    }

    // md5-injectivity guard (Jaccard.scala jaccard5w): the streaming
    // side's raw gram-set sizes are equated with the md5-relabeled
    // sets batch q302 intersects; a collision on this corpus's 5-gram
    // vocabulary would otherwise show up as an opaque parity mismatch
    // — make it fail here by name instead
    val gramCol = expr(
      """transform(sequence(0, size(split(text, ' ')) - 5),
        |  i -> concat_ws(' ', slice(split(text, ' '), i + 1, 5)))""".stripMargin)
    val vocab = docs.filter(size(split(col("text"), " ")) >= 5)
      .select(explode(gramCol).as("g"))
      .agg(countDistinct(col("g")).as("raw"),
        countDistinct(md5(col("g"))).as("hashed"))
      .head()
    assert(vocab.getLong(0) === vocab.getLong(1),
      s"md5 collision on the 5-gram vocabulary: ${vocab.getLong(0)} raw " +
        s"grams vs ${vocab.getLong(1)} md5 labels — jaccard5w's set-size " +
        "equivalence no longer holds")

    val result = runStream(in, incoming.schema, st =>
      StreamOps.incrementalExactDedup(st, corpus))

    def canon(df: DataFrame) = df
      .select(col("new_id"), col("corpus_id"), col("n_common"),
        round(col("jaccard"), 9).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted
    val streamed = canon(result)
    val batch = canon(SparkEntry.queries("q302_incremental_prefix_dedup")(
      spark, "/root/testdata/sf0.001")
      )
    assert(batch.nonEmpty, "batch q302 found no incremental duplicates")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming document-local phrase matching equals batch q303's positional join") {
    // the 22nd parity — two FORMULATIONS of one operator: q303 matches
    // via the n-way positional-postings join (the shared-index shape);
    // the stream matches each doc locally with a HOF over its own
    // token array (stateless, shuffle-free). Occurrence sets must be
    // identical; doc-level aggregation of the streamed matches must
    // reproduce q303's rows exactly.
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val incoming = docs
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
      .select("doc_id", "ts", "text")

    val in = Files.createTempDirectory("graft-phrase-in")
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val tiled = incoming.withColumn("__p", ntile(3).over(w))
    (1 to 3).foreach { i =>
      val tmp = in.resolve(s"stage$i")
      tiled.filter(col("__p") === i).drop("__p")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = in.resolve(s"batch$i.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() + (i - 1) * 2000L)
    }

    val result = runStream(in, incoming.schema, st =>
      StreamOps.phraseMatchStream(st, docs))

    val streamed = result.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = SparkEntry.queries("q303_phrase_search")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(batch.nonEmpty, "batch q303 found no phrase matches")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming DP noisy release across 3 micro-batches equals batch q306") {
    // the 23rd parity — q306's discrete-Laplace release as a live
    // per-batch emission: keyed running counts + the deterministic
    // group-keyed noise; the final snapshot must equal the batch
    // release row for row, and every snapshot is the batch release of
    // the arrived prefix (noise is count-independent, so prefix
    // snapshots differ from the final only in the count term)
    val cust = Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        timestamp_micros(lit(1700000000000000L) + col("c_custkey") * 1000L)
          .as("ts"))
    val in = Files.createTempDirectory("graft-dp-in")
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val tiled = cust.withColumn("__p", ntile(3).over(w))
    (1 to 3).foreach { i =>
      val tmp = in.resolve(s"stage$i")
      tiled.filter(col("__p") === i).drop("__p")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = in.resolve(s"batch$i.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() + (i - 1) * 2000L)
    }
    val result = runStream(in, cust.schema, { st =>
      import spark.implicits._
      StreamOps.dpNoisyRelease(
        st.as[(Long, java.sql.Timestamp)]).toDF
    })
    val snaps = result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val last = snaps.map(_._1).max
    assert(last === 3L, "three micro-batches must each emit a release")
    val streamed = snaps.filter(_._1 == last)
      .map { case (_, nation, noisy, noise, eps) => (nation, noisy, noise, eps) }
      .sorted
    val batch = SparkEntry.queries("q306_dp_noisy_release")(
      spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .sorted
    assert(streamed.toSeq === batch.toSeq)
    // prefix property: a group's noise never changes across snapshots
    val byNation = snaps.groupBy(_._2)
    byNation.foreach { case (_, s) =>
      assert(s.map(_._4).distinct.length === 1, "noise must be count-independent")
    }
  }

  test("streaming incremental BM25 over the durable index equals batch q288, snapshot for snapshot") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val qt = Seq((1, "table hash"), (1, "part filter"),
      (2, "customer join"), (2, "slow key"),
      (3, "merge group"), (3, "batch scan"))

    // seed the serving state from the DURABLE archive artifact: the
    // query terms' posting lists, their docs' lengths, archive N/T
    val Seq((archTf, archDl)) = graft.operators.TextIndex.splitParts(
      spark, sf, graft.queries.Splits.d10("doc_id").copy(deltaPreds = Nil))
    val hits = archTf.filter(col("g").isin(qt.map(_._2): _*)).collect()
      .map(r => StreamOps.Bm25Hit(r.getString(1), r.getLong(0), r.getLong(2)))
      .toSeq
    val hitDocs = hits.map(_.doc_id).toSet
    val dlMap = archDl.collect().map(r => r.getLong(0) -> r.getLong(1))
      .filter(kv => hitDocs(kv._1)).toMap
    val st = archDl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head()
    val seed = StreamOps.Bm25Seed(st.getLong(0), st.getLong(1), hits, dlMap)

    // today's batch arrives across 3 chronological files (known
    // consecutive doc_id slices, so each prefix is replayable batch-side)
    val deltaIds = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val slice = (deltaIds.length + 2) / 3
    val parts = deltaIds.grouped(slice).toSeq
    assert(parts.length === 3)
    val in = Files.createTempDirectory("graft-bm25-in")
    parts.zipWithIndex.foreach { case (ids, i) =>
      val tmp = in.resolve(s"stage${i + 1}")
      docs.filter(col("doc_id").isin(ids.toSeq: _*))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(s"batch${i + 1}.parquet"))
      in.resolve(s"batch${i + 1}.parquet").toFile
        .setLastModified(System.currentTimeMillis() + i * 2000L)
    }

    val result = runStream(in, docs.schema, s =>
      StreamOps.incrementalBm25(
        s.select("doc_id", "text").as[StreamOps.Bm25Doc], seed, qt).toDF())
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(result.map(_._1).distinct.sorted.toSeq === Seq(1L, 2L, 3L),
      "one snapshot per micro-batch")

    // the exact q288 scoring chain over an arbitrary corpus frame —
    // used to replay every prefix snapshot batch-side
    def bm25Over(corpus: org.apache.spark.sql.DataFrame)
        : Seq[(Int, Long, Double, Long)] = {
      val big = corpus.withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))")).as("g"))
      val tf = big.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      val dl = big.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
      val df = tf.groupBy("g").agg(count(lit(1)).as("df"))
      val qtDf = qt.toDF("query_id", "term")
      val idf2 = length(bin(lit(2) * (col("n") - col("df")) + 1)) -
        length(bin(lit(2) * col("df") + 1))
      val scored = tf.join(broadcast(qtDf), col("g") === col("term"))
        .join(broadcast(df.withColumnRenamed("g", "g2")), col("g") === col("g2"))
        .join(broadcast(dl), "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("term_score",
          ((idf2 * 22 * col("t") * col("tf")).cast("double") /
            (lit(10) * col("t") * col("tf") + lit(3) * col("t") +
              lit(9) * col("dl") * col("n")).cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
      val agg = scored.groupBy("query_id", "doc_id")
        .agg(sum(col("term_score")).cast("double").as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("score"), col("doc_id"))
      agg.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    }

    // every intermediate snapshot equals the batch replay over
    // archive + arrived-prefix — the cross-batch state is live
    val archive = docs.filter(col("doc_id") % 10 =!= 0)
    (1 to 3).foreach { b =>
      val prefixIds = parts.take(b).flatten
      val corpus = archive.unionByName(
        docs.filter(col("doc_id").isin(prefixIds.toSeq: _*)))
      val want = bm25Over(corpus)
      val got = result.filter(_._1 == b.toLong)
        .map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._4)).toSeq
      assert(got === want, s"snapshot $b must equal the batch prefix replay")
    }

    // and the final snapshot IS batch q288 (the oracle-green query)
    val q288 = SparkEntry.queries("q288_incremental_bm25")(spark, sf)
      .select("query_id", "doc_id", "score", "rnk")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val finalSnap = result.filter(_._1 == 3L)
      .map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._4)).toSeq
    assert(q288.nonEmpty && finalSnap === q288,
      "final streamed snapshot must equal oracle-backed batch q288")
  }

  test("streaming PQ-ingest audit across 3 micro-batches equals the incremental-index health profile") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val qd = graft.functions.VecMath.qdot _
    val base = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.VecMath.quantize(col("embedding")).as("qv"))
      .withColumn("qn", graft.functions.VecMath.qdot(col("qv"), col("qv")))
      .filter(col("qn") > 0)
      .select("vec_id", "qv", "qn")
    // the incrementally-maintained index (q289's artifact at this SF:
    // ladder k=32): frozen archive-trained centroids + codebook,
    // merged codes byte-pinned in LayoutCatalogSpec
    val (codes, cbt, cents) = graft.operators.IvfPq.splitIndex(
      base, sf, graft.queries.Splits.d10("vec_id"), 32, 2, 3)

    // the q287 errs chain over any codes subset — the batch replay
    // every streamed snapshot is held against
    def audit(codesF: org.apache.spark.sql.DataFrame)
        : Map[Long, (Long, Long, Long, Long, Long)] =
      codesF
        .join(base.select(col("vec_id"), col("qv")), "vec_id")
        .join(broadcast(cents.select(col("centroid_id"), col("cv"))),
          "centroid_id")
        .join(broadcast(cbt), Seq("subspace", "code"))
        .withColumn("sl", expr(
          "slice(zip_with(qv, cv, (x, y) -> x - y), " +
            "cast(subspace * 8 + 1 as int), 8)"))
        .withColumn("d", qd(col("sl"), col("sl")) + qd(col("cw"), col("cw"))
          - lit(2L) * qd(col("sl"), col("cw")))
        .groupBy("vec_id", "centroid_id")
        .agg(sum(col("d")).as("err"))
        .groupBy(col("centroid_id").cast("long").as("cid"))
        .agg(count(lit(1)).as("n"), sum(col("err")).as("tot"),
          max(col("err")).as("mx"),
          sum(when(col("err") === 0, 1L).otherwise(0L)).as("ex"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(2) / r.getLong(1),
            r.getLong(3), r.getLong(4)))).toMap

    val archIds = base.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val seed = audit(codes.filter(col("vec_id") % 10 =!= 0)).map {
      case (cid, (n, tot, _, mx, ex)) =>
        cid -> StreamOps.PqCellAgg(n, tot, mx, ex)
    }
    val centsSeq = cents.collect()
      .map(r => StreamOps.PqCent(r.getInt(0), r.getSeq[Long](1))).toSeq
    val cbSeq = cbt.collect()
      .map(r => StreamOps.PqCw(r.getLong(0), r.getLong(1),
        r.getSeq[Long](2))).toSeq

    // today's embedding batch arrives across 3 known id slices
    val deltaIds = base.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val parts = deltaIds.grouped((deltaIds.length + 2) / 3).toSeq
    assert(parts.length === 3)
    val delta = base.filter(col("vec_id") % 10 === 0).select("vec_id", "qv")
    val in = Files.createTempDirectory("graft-pqaudit-in")
    parts.zipWithIndex.foreach { case (ids, i) =>
      val tmp = in.resolve(s"stage${i + 1}")
      delta.filter(col("vec_id").isin(ids.toSeq: _*))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(s"batch${i + 1}.parquet"))
      in.resolve(s"batch${i + 1}.parquet").toFile
        .setLastModified(System.currentTimeMillis() + i * 2000L)
    }

    val result = runStream(in, delta.schema, st =>
      StreamOps.incrementalPqAudit(
        st.as[StreamOps.PqVec], centsSeq, cbSeq, 3, seed).toDF())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))))
    assert(result.map(_._1).distinct.sorted.toSeq === Seq(1L, 2L, 3L))

    // per-vector coding is independent, so the batch replay for a
    // prefix is the merged codes FILTERED to archive + prefix ids
    (1 to 3).foreach { b =>
      val ids = archIds ++ parts.take(b).flatten
      val want = audit(codes.filter(col("vec_id")
        .isin(ids.toSeq: _*))).toSeq.sortBy(_._1)
      val got = result.filter(_._1 == b.toLong)
        .map(t => t._2 -> t._3).toSeq.sortBy(_._1)
      assert(got === want, s"snapshot $b must equal the batch prefix audit")
    }
    // ... and the final snapshot is the full merged-index profile
    val full = audit(codes).toSeq.sortBy(_._1)
    val finalSnap = result.filter(_._1 == 3L)
      .map(t => t._2 -> t._3).toSeq.sortBy(_._1)
    assert(full.nonEmpty && finalSnap === full)
  }

  test("streaming drift monitor across 3 micro-batches equals the q291 retrain-gate statistic") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val base = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.VecMath.quantize(col("embedding")).as("qv"))
      .withColumn("qn", graft.functions.VecMath.qdot(col("qv"), col("qv")))
      .filter(col("qn") > 0)
      .select("vec_id", "qv", "qn")
    val (codes, cbt, cents) = graft.operators.IvfPq.splitIndex(
      base, sf, graft.queries.Splits.d10("vec_id"), 32, 2, 3)
    // archive per-copy error profile seeds from the durable artifact —
    // the batch arithmetic every streamed snapshot is held against
    val errs = graft.operators.IvfPq.reconErrs(base, codes, cbt, cents)
      .localCheckpoint()
    val archRow = errs.filter(col("vec_id") % 10 =!= 0)
      .agg(count(lit(1)).as("n"), sum(col("err")).as("t")).head()
    val (nArch, tArch) = (archRow.getLong(0), archRow.getLong(1))
    assert(nArch > 0)
    val centsSeq = cents.collect()
      .map(r => StreamOps.PqCent(r.getInt(0), r.getSeq[Long](1))).toSeq
    val cbSeq = cbt.collect()
      .map(r => StreamOps.PqCw(r.getLong(0), r.getLong(1),
        r.getSeq[Long](2))).toSeq

    val deltaIds = base.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val parts = deltaIds.grouped((deltaIds.length + 2) / 3).toSeq
    assert(parts.length === 3)
    val delta = base.filter(col("vec_id") % 10 === 0).select("vec_id", "qv")
    val in = Files.createTempDirectory("graft-drift-in")
    parts.zipWithIndex.foreach { case (ids, i) =>
      val tmp = in.resolve(s"stage${i + 1}")
      delta.filter(col("vec_id").isin(ids.toSeq: _*))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(s"batch${i + 1}.parquet"))
      in.resolve(s"batch${i + 1}.parquet").toFile
        .setLastModified(System.currentTimeMillis() + i * 2000L)
    }

    val result = runStream(in, delta.schema, st =>
      StreamOps.incrementalDriftMonitor(
        st.as[StreamOps.PqVec], centsSeq, cbSeq, 3, nArch, tArch).toDF())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .sortBy(_._1)
    assert(result.map(_._1).toSeq === Seq(1L, 2L, 3L),
      "one gate row per micro-batch")

    // per-vector coding is independent: snapshot b equals the batch
    // statistic over archive + the arrived delta prefix
    (1 to 3).foreach { b =>
      val ids = parts.take(b).flatten
      val dRow = errs.filter(col("vec_id").isin(ids.toSeq: _*))
        .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
          coalesce(sum(col("err")), lit(0L)).as("t")).head()
      val (nD, tD) = (dRow.getLong(0), dRow.getLong(1))
      val archMean = if (nArch == 0) 0L else tArch / nArch
      val deltaMean = if (nD == 0) 0L else tD / nD
      val drift =
        if (archMean == 0) { if (deltaMean == 0) 1000L else 1000000L }
        else 1000L * deltaMean / archMean
      val want = (b.toLong, nArch, archMean, nD, deltaMean, drift,
        drift > 1500L)
      assert(result(b - 1) === want, s"snapshot $b must equal the " +
        s"batch prefix statistic")
    }

    // the final snapshot IS oracle-backed q291, field for field
    val q291 = SparkEntry.queries("q291_pq_drift_audit")(spark, sf).head()
    val fin = result.last
    assert((fin._2, fin._3, fin._4, fin._5, fin._6, fin._7) ===
      ((q291.getLong(0), q291.getLong(1), q291.getLong(2),
        q291.getLong(3), q291.getLong(4), q291.getBoolean(5))))
  }

  test("streaming first-seen vocabulary across 3 micro-batches equals batch q172's curve") {
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter(length(col("text")) >= 3)
      .withColumn("ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
      .select("doc_id", "ts", "text")

    // stage 3 doc-ordered files: a gram spanning batches must emit in
    // its FIRST batch only — the cross-batch dedup the state carries
    val in = Files.createTempDirectory("graft-vocab-in")
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val tiled = docs.withColumn("__p", ntile(3).over(w))
    (1 to 3).foreach { i =>
      val tmp = in.resolve(s"stage$i")
      tiled.filter(col("__p") === i).drop("__p")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(s"batch$i.parquet"))
      in.resolve(s"batch$i.parquet").toFile
        .setLastModified(System.currentTimeMillis() + (i - 1) * 2000L)
    }

    val result = runStream(in, docs.schema, st =>
      StreamOps.vocabFirstSeen(
        st.select(col("doc_id"),
          explode(graft.functions.Jaccard.gramCodes3(col("text"))).as("g"))
          .as[(Long, Long)]).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

    // the emitted event set must equal batch q172's fs table exactly
    val batchFs = docs
      .select(col("doc_id"),
        explode(graft.functions.Jaccard.gramCodes3(col("text"))).as("g"))
      .groupBy("g").agg(min("doc_id").as("first_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(batchFs.nonEmpty)
    assert(result.length === batchFs.length,
      s"one event per distinct gram: ${result.length} vs ${batchFs.length}")
    assert(result.toSeq === batchFs.toSeq)

    // and integrating the events reproduces q172's per-bucket new-gram
    // counts (the oracle-backed curve)
    val mxd = docs.agg(max("doc_id")).head().getLong(0)
    val newPerBucket = result.groupBy { case (_, fd) => fd * 10 / (mxd + 1) }
      .view.mapValues(_.length.toLong).toMap
    val q172 = SparkEntry.queries("q172_vocab_growth")(
        spark, "/root/testdata/sf0.001")
      .select("bucket", "n_new_grams")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q172.foreach { case (b, n) =>
      assert(newPerBucket.getOrElse(b, 0L) === n, s"bucket $b new grams")
    }
  }

  test("streaming LSM segment ingest publishes byte-identical segments; the served view equals batch segmentedPostingsFrom")(withScratchCatalog {
    import scala.jdk.CollectionConverters._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")

    // today's crawl (doc_id % 10 == 0) arrives across 3 chronological
    // micro-batches of consecutive doc_id slices — each slice is also
    // expressible as a batch-side predicate, so the batch twin can
    // build the SAME three-segment split
    val deltaIds = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val slice = (deltaIds.length + 2) / 3
    val parts = deltaIds.grouped(slice).toSeq
    assert(parts.length === 3)
    val in = Files.createTempDirectory("graft-lsm-in")
    parts.zipWithIndex.foreach { case (ids, i) =>
      val tmp = in.resolve(s"stage${i + 1}")
      docs.filter(col("doc_id").isin(ids.toSeq: _*))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(s"batch${i + 1}.parquet"))
      in.resolve(s"batch${i + 1}.parquet").toFile
        .setLastModified(System.currentTimeMillis() + i * 2000L)
    }

    // the streaming ingest: one published O(batch) segment artifact
    // per micro-batch, archive and earlier segments untouched
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val (writer, published) = StreamOps.lsmSegmentIngest(stream, sf, "st19s")
    val ckpt = Files.createTempDirectory("graft-lsm-ckpt").toString
    val q = writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val segNames = published.asScala.toSeq
    assert(segNames.length === 3, s"one segment per micro-batch: $segNames")

    // batch twin: the same three deltas as predicates over the same
    // stable archive (3 < FoldRung — no fold; the fold rung is
    // q295's oracle-gated territory)
    val preds = parts.map(ids => col("doc_id").isin(ids.toSeq: _*))
    val batchSplit = Split("st19b", col("doc_id") % 10 =!= 0, preds)
    val (batchView, _) = graft.operators.TextIndex.splitPostings(
      spark, sf, batchSplit)
    val Seq((arch, _)) = graft.operators.TextIndex.splitParts(
      spark, sf, Split("st19s", !(col("doc_id") % 10 === 0), Nil))
    val streamedView = (arch +: segNames.map(spark.table))
      .reduce(_ unionByName _)
    val sv = streamedView.orderBy("doc_id", "g").collect().map(_.toSeq).toSeq
    assert(sv.nonEmpty)
    assert(sv == batchView.orderBy("doc_id", "g").collect().map(_.toSeq).toSeq,
      "streamed-ingest view must equal the batch LSM view row for row")

    // byte identity per segment: the deterministic writer makes
    // artifact bytes a pure function of the row set, so the streamed
    // segment i's bucket files must equal the batch predicate-split's
    val kind = new java.io.File(graft.operators.LayoutCatalog.root,
      s"lexical_v${graft.operators.TextIndex.LayoutVersion}")
    def bucketBytes(d: java.io.File): Map[String, String] = {
      val re = "_(\\d{5})\\.c000".r
      Option(new java.io.File(d, "postings").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val bucket = re.findFirstMatchIn(f.getName).get.group(1)
          val md = java.security.MessageDigest.getInstance("MD5")
          bucket -> md.digest(Files.readAllBytes(f.toPath))
            .map(b => f"$b%02x").mkString
        }.toMap
    }
    val pub = Option(kind.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith(".tmp_"))
    (0 until 3).foreach { i =>
      val sd = pub.find(_.getName.contains(s"_st19s_seg${i}_"))
      // the batch segment this split resolved (a catalog that outlived
      // an earlier split key may hold other st19b segment generations)
      val bd = pub.find(_.getName.contains(s"_${batchSplit.segment("", i)}_"))
      assert(sd.isDefined && bd.isDefined,
        s"segment $i artifacts must exist: ${pub.map(_.getName).toSeq}")
      val sb = bucketBytes(sd.get)
      assert(sb.nonEmpty && sb == bucketBytes(bd.get),
        s"segment $i bucket bytes must match the batch predicate split")
    }
  })

  test("streaming PQ segment ingest publishes byte-identical code segments; the served view equals the batch LSM index")(withScratchCatalog {
    import scala.jdk.CollectionConverters._
    val sf = "/root/testdata/sf0.001"
    val base = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.VecMath.quantize(col("embedding")).as("qv"))
      .withColumn("qn",
        graft.functions.VecMath.qdot(col("qv"), col("qv")))
      .filter(col("qn") > 0)
      .select("vec_id", "qv", "qn")
    val (k, rounds, repl) = (8, 2, 3)

    // the single-delta batch view is the row-truth twin AND the
    // source of the frozen archive-trained geometry the serving tier
    // pins (q289's contract)
    val (batchView, cbt, cents) = graft.operators.IvfPq.splitIndex(
      base, sf, Split("p20d", !(col("vec_id") % 10 === 0),
        Seq(col("vec_id") % 10 === 0)), k, rounds, repl)

    // today's embeddings arrive across 3 consecutive-id micro-batches
    val deltaIds = base.filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val slice = (deltaIds.length + 2) / 3
    val parts = deltaIds.grouped(slice).toSeq
    assert(parts.length === 3)
    val in = Files.createTempDirectory("graft-pqseg-in")
    parts.zipWithIndex.foreach { case (ids, i) =>
      val tmp = in.resolve(s"stage${i + 1}")
      base.filter(col("vec_id").isin(ids.toSeq: _*))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(s"batch${i + 1}.parquet"))
      in.resolve(s"batch${i + 1}.parquet").toFile
        .setLastModified(System.currentTimeMillis() + i * 2000L)
    }

    val stream = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val (writer, published) = StreamOps.pqSegmentIngest(
      stream, sf, cents, cbt, k, rounds, repl, "p20s")
    val ckpt = Files.createTempDirectory("graft-pqseg-ckpt").toString
    val q = writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val segDirs = published.asScala.toSeq
    assert(segDirs.length === 3, s"one code segment per micro-batch: $segDirs")

    // rows: archive codes ∪ streamed segments must equal the batch
    // LSM view (vec_ids are disjoint across the append boundary, so
    // the view's archive half is exactly its non-delta rows)
    val cols = Seq("vec_id", "centroid_id", "qn", "subspace", "code")
    val streamedView = (batchView.filter(col("vec_id") % 10 =!= 0) +:
        segDirs.map(d => spark.read.parquet(d.getAbsolutePath)))
      .map(_.select(cols.map(col): _*)).reduce(_ unionByName _)
    val sv = streamedView.orderBy(cols.map(col): _*)
      .collect().map(_.toSeq).toSeq
    assert(sv.nonEmpty)
    assert(sv == batchView.select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().map(_.toSeq).toSeq,
      "streamed-ingest code view must equal the batch LSM index row for row")

    // byte identity per segment vs a batch predicate split over the
    // same micro-batch partitioning (deterministic 32-way ordered
    // writer ⇒ bytes are a pure function of the row set)
    val preds = parts.map(ids => col("vec_id").isin(ids.toSeq: _*))
    val batchSplit = Split("p20c", col("vec_id") % 10 =!= 0, preds)
    graft.operators.IvfPq.splitIndex(base, sf, batchSplit, k, rounds, repl)
      ._1.queryExecution.toRdd.count()
    val kind = new java.io.File(graft.operators.LayoutCatalog.root,
      s"ivfpq_v${graft.operators.IvfPq.LayoutVersion}")
    def codeBytes(d: java.io.File): Map[String, String] = {
      val re = "part-(\\d{5})".r
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val part = re.findFirstMatchIn(f.getName).get.group(1)
          val md = java.security.MessageDigest.getInstance("MD5")
          part -> md.digest(Files.readAllBytes(f.toPath))
            .map(b => f"$b%02x").mkString
        }.toMap
    }
    val pub = Option(kind.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith(".tmp_"))
    (0 until 3).foreach { i =>
      // the batch segment this split resolved (a catalog that outlived
      // an earlier split key may hold other p20c segment generations)
      val bd = pub.find(_.getName.contains(s"_${batchSplit.segment("", i)}_"))
      assert(bd.isDefined,
        s"batch split segment $i must exist: ${pub.map(_.getName).toSeq}")
      val sb = codeBytes(segDirs(i))
      assert(sb.nonEmpty &&
          sb == codeBytes(new java.io.File(bd.get, "codes")),
        s"code segment $i bytes must match the batch predicate split")
    }
  })

  test("streaming positional segment ingest serves phrase search equal to batch q303") {
    // the 24th parity — the POSITIONAL index's LSM read path: today's
    // crawl streams in as micro-batches, each publishing its own
    // tok-bucketed positional postings segment
    // (StreamOps.positionalSegmentIngest); phrase search over
    // archive ∪ streamed segments must reproduce oracle-backed q303
    // (and q312, its batch-LSM twin) row for row — positions are
    // document-local, so the append boundary cannot change any match.
    import scala.jdk.CollectionConverters._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")

    val in = Files.createTempDirectory("graft-pos-in")
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
    val tiled = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("__p", ntile(3).over(w))
    (1 to 3).foreach { i =>
      val tmp = in.resolve(s"stage$i")
      tiled.filter(col("__p") === i).drop("__p")
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = in.resolve(s"batch$i.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(System.currentTimeMillis() + (i - 1) * 2000L)
    }

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
    val (writer, published) = StreamOps.positionalSegmentIngest(stream, sf, "st24")
    val ckpt = Files.createTempDirectory("graft-pos-ckpt").toString
    val q = writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val segNames = published.asScala.toSeq
    assert(segNames.length === 3, s"one segment per micro-batch: $segNames")

    val arch = graft.operators.TextIndex.positionalSplit(
      spark, sf, Split("st24", col("doc_id") % 10 =!= 0, Nil))
    val toks = (arch +: segNames.map(spark.table)).reduce(_ unionByName _)

    // q303's matcher over the served view, phrase selected exactly as
    // the batch query selects it (corpus-wide top-1 trigram)
    val tri = docs.withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 2), " +
          "i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1]))")).as("g"))
    val top1 = tri.groupBy("g").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("g")).limit(1)
      .select(element_at(split(col("g"), " "), 1).as("w1"),
        element_at(split(col("g"), " "), 2).as("w2"),
        element_at(split(col("g"), " "), 3).as("w3"))
    val tagged = toks.crossJoin(broadcast(top1))
    val m1 = tagged.filter(col("tok") === col("w1"))
      .select(col("doc_id"), col("pos"))
    val m2 = tagged.filter(col("tok") === col("w2"))
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    val m3 = tagged.filter(col("tok") === col("w3"))
      .select(col("doc_id"), (col("pos") - 2).as("pos"))
    val served = m1.join(m2, Seq("doc_id", "pos")).join(m3, Seq("doc_id", "pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))

    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val got = canon(served)
    val want = canon(SparkEntry.queries("q303_phrase_search")(spark, sf))
    assert(want.nonEmpty, "batch q303 must match at least one doc")
    assert(got === want,
      "phrase search over archive ∪ streamed positional segments must equal batch q303")
  }
}
