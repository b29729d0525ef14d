package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming counterparts of the batch event operators
  * (SURVEY.md §7.5): the same session / window / dedup semantics
  * expressed as incremental plans — readStream → transform →
  * writeStream, with watermarks bounding state.
  *
  * At 100 TB-day scale the state store is partitioned by the grouping
  * key (user_id / event_id), so each micro-batch shuffles once on that
  * key; the watermark caps state size.
  */
object StreamOps {

  /** Gap-based sessions via native session_window (the streaming
    * equivalent of the batch lag+cumsum sessionization in
    * graft.queries.Events q23). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"))

  /** Tumbling-window counts per event type (streaming analogue of q22).
    * sum_value goes through DECIMAL(18,4) like the batch side's
    * Det.dsum, so the incremental aggregation is order-free-exact and
    * comparable value-for-value with q22 (StreamBatchParitySpec). */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"),
        col("sum_value"))

  /** Exactly-once event-id dedup with watermark-bounded state. */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** Stream-stream interval join (the streaming twin of batch q86):
    * purchases pair with the same user's clicks from the preceding
    * `maxLag`. Both sides carry watermarks and the join condition
    * bounds purchase time against click time, so Spark can size the
    * join state (clicks retire once no in-range purchase can still
    * arrive) — without the range bound the state would grow forever. */
  def attributionJoin(events: DataFrame, maxLag: String = "30 minutes",
      watermark: String = "1 minute"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("u2"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    // the INTERVAL form is what Spark's state-watermark analysis
    // recognizes — an arithmetic bound on unix_micros would run with
    // unbounded join state
    clicks.join(purch,
        col("u2") === col("user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $maxLag"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"))
  }

  final case class EventRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)

  final case class UserRunning(
      user_id: Long, n_events: Long, n_errors: Long, flagged: Boolean)

  final case class Transition(user_id: Long, from_type: String, to_type: String)

  final case class ChangeRow(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class CdcLatest(
      user_id: Long, event_id: Long, event_type: String, value: Double)

  /** Streaming change-log compaction — the incremental half of
    * `operators/CdcMerge`: per-key state holds the LATEST change seen
    * so far under the same (ts, event_id) total order the batch
    * `CdcMerge.compact` uses, and every micro-batch re-emits each
    * touched key's current winner (update semantics — the last
    * emission per key IS the compacted change set, ready for
    * `CdcMerge.merge` onto a base snapshot). Late or duplicated
    * deliveries fold in idempotently: a change older than the state
    * loses the max() and changes nothing. State is O(keys) × one
    * change, shuffled once per micro-batch on the key.
    */
  def cdcLatest(changes: Dataset[ChangeRow]): Dataset[CdcLatest] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Int, Long, String, Double), CdcLatest](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ChangeRow],
         state: GroupState[(Long, Int, Long, String, Double)]) =>
          // (getTime, getNanos, event_id) orders exactly like the µs
          // timestamp + log sequence (see transitionPairs)
          val candidates = rows.map(r =>
            (r.ts.getTime, r.ts.getNanos, r.event_id, r.event_type, r.value)) ++
            state.getOption.iterator
          val w = candidates.maxBy(c => (c._1, c._2, c._3))
          state.update(w)
          CdcLatest(uid, w._3, w._4, w._5)
      }
  }

  /** Per-user consecutive event transitions via flatMapGroupsWithState —
    * the streaming analogue of batch q97's lag window. State carries
    * only the user's latest event_type, so chains CONTINUE across
    * micro-batches (the first event of batch n+1 pairs with the last
    * of batch n); within a batch the group's rows sort by the same
    * (ts, event_id) total order the batch query uses. Requires the
    * per-user feed to arrive chronologically ACROSS batches (not
    * enforced here) — true of a replayed log and of the parity
    * harness's chronological file staging. State is O(users) × one
    * string, shuffled once per micro-batch on the key.
    */
  def transitionPairs(events: Dataset[EventRow]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Transition](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[String]) =>
          // (getTime, getNanos) orders exactly like the µs timestamp:
          // getTime is whole milliseconds and nanos carries the full
          // fractional second
          val sorted = rows.toIndexedSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
          var prev = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { r =>
            prev.foreach(t => out += Transition(uid, t, r.event_type))
            prev = Some(r.event_type)
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  final case class Motif(user_id: Long, motif: String)

  /** Per-user 3-event motifs via flatMapGroupsWithState — the
    * streaming analogue of batch q126's double-lag window. State
    * carries the user's last TWO event types, so trigrams CONTINUE
    * across micro-batch boundaries (the q97/transitionPairs pattern
    * one order up). Same chronological-arrival contract and
    * (ts, event_id) in-batch ordering as transitionPairs; O(users) ×
    * two strings of state.
    */
  def motifTriples(events: Dataset[EventRow]): Dataset[Motif] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Option[String], Option[String]), Motif](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow],
         state: GroupState[(Option[String], Option[String])]) =>
          val sorted = rows.toIndexedSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
          // state holds up to the last TWO types as Options — a
          // one-event micro-batch must still persist its single event
          // or the boundary-spanning trigram is silently lost
          var (prev2, prev1) = state.getOption.getOrElse(
            (Option.empty[String], Option.empty[String]))
          val out = Seq.newBuilder[Motif]
          sorted.foreach { r =>
            for (p2 <- prev2; p1 <- prev1)
              out += Motif(uid, s"$p2>$p1>${r.event_type}")
            prev2 = prev1
            prev1 = Some(r.event_type)
          }
          if (prev1.isDefined) state.update((prev2, prev1))
          out.result().iterator
      }
  }

  final case class CusumRow(
      d: String, x: Long, mu: Long, cusum_up: Long, cusum_down: Long,
      alarm_up: Boolean, alarm_down: Boolean)

  final case class CusumState(
      curDay: String, curCount: Long,
      pending: List[(String, Long)],
      calibrated: Boolean, mu: Long,
      sp: Long, minSp: Long, sn: Long, minSn: Long)

  /** Streaming Page CUSUM — the ONLINE twin of batch q260, and the
    * deployment shape that query documents: a sequential drift alarm
    * that pages the moment a day's volume closes, not at the end of a
    * batch scan. One global group (a sequential statistic is
    * inherently single-key — at 100 TB the corpus-sized work is the
    * upstream per-day COUNT, which a watermarked streaming aggregate
    * does keyed; this operator consumes the tiny day stream and holds
    * O(1) state: nine fields). Day d closes when the first event of a
    * LATER day arrives (the parity spec's watermark-pusher row closes
    * the final day). While fewer than `baselineDays` days have
    * closed, the detector CALIBRATES: closed days buffer in state,
    * and when the baseline completes, μ fixes (integer mean — the
    * identical `div` the batch side uses) and the buffered days
    * replay retroactively through the statistic, so emissions for
    * days 1..baseline match the batch rows bit for bit. After
    * calibration each closing day folds incrementally: sp += x −
    * (μ + μ/20), cusum = sp − min(0, min sp) — Page's max(0,·)
    * recursion in the same closed form as the batch windows.
    * Chronological-arrival contract and (ts, event_id) in-batch
    * ordering as transitionPairs. */
  def cusumAlarm(events: Dataset[EventRow],
      baselineDays: Int = 14): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    // UTC epoch-day, matching batch to_date under the UTC session tz
    def dayOf(ts: java.sql.Timestamp): String =
      java.time.LocalDate.ofEpochDay(
        Math.floorDiv(ts.getTime, 86400000L)).toString
    def emitDay(st0: CusumState, d: String, x: Long,
        out: scala.collection.mutable.Builder[CusumRow, Seq[CusumRow]]): CusumState = {
      val slack = st0.mu / 20
      val sp = st0.sp + (x - (st0.mu + slack))
      val sn = st0.sn + ((st0.mu - slack) - x)
      val minSp = math.min(st0.minSp, sp)
      val minSn = math.min(st0.minSn, sn)
      val cu = sp - math.min(minSp, 0L)
      val cd = sn - math.min(minSn, 0L)
      out += CusumRow(d, x, st0.mu, cu, cd, cu > st0.mu, cd > st0.mu)
      st0.copy(sp = sp, minSp = minSp, sn = sn, minSn = minSn)
    }
    def closeDay(st: CusumState, d: String, x: Long,
        out: scala.collection.mutable.Builder[CusumRow, Seq[CusumRow]]): CusumState =
      if (st.calibrated) emitDay(st, d, x, out)
      else {
        val pending = st.pending :+ ((d, x))
        if (pending.length >= baselineDays) {
          val mu = pending.map(_._2).sum / baselineDays
          var s = st.copy(pending = Nil, calibrated = true, mu = mu)
          pending.foreach { case (pd, px) => s = emitDay(s, pd, px, out) }
          s
        } else st.copy(pending = pending)
      }
    events
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[CusumState, CusumRow](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[EventRow], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(
            null, 0L, Nil, calibrated = false, 0L,
            0L, Long.MaxValue, 0L, Long.MaxValue))
          val out = Seq.newBuilder[CusumRow]
          rows.toIndexedSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
            .foreach { r =>
              val d = dayOf(r.ts)
              if (st.curDay == null)
                st = st.copy(curDay = d, curCount = 1L)
              else if (d == st.curDay)
                st = st.copy(curCount = st.curCount + 1)
              else
                st = closeDay(st, st.curDay, st.curCount, out)
                  .copy(curDay = d, curCount = 1L)
            }
          state.update(st)
          out.result().iterator
      }
  }

  final case class ObfUser(n_ev: Long, p: Seq[Long])

  final case class ObfState(users: Map[Long, ObfUser])

  final case class ObfRow(
      scenario: String, k: Long, d: Long, above_mean: Long,
      chi2_milli: Long, boundary_milli: Long, crossed: Boolean,
      stopped: Boolean)

  /** Streaming O'Brien–Fleming group-sequential monitor — the ONLINE
    * twin of batch q269, completing the experimentation parities the
    * way cusumAlarm completes drift detection: one pass over the
    * event feed accumulates each user's (event count, cumulative
    * purchases per look), and the full scenario×look monitor table
    * emits when the period-close PUNCTUATION arrives (a negative-user
    * control row — the harness's watermark pusher; in a deployment
    * the scheduler emits the close record when the experiment window
    * ends). The close-time replay is forced by the monitor's own
    * definitions: both the confounded arm (above-mean activity) and
    * the conversion cut (above-mean purchases per look) are
    * COHORT-RELATIVE, so no look's 2×2 table is final until the
    * cohort is — the same buffer-then-replay move as cusumAlarm's
    * calibration window. All close-time algebra is BigInt-exact (the
    * batch side's banked DECIMAL(38,0)/HUGEINT χ²), so the emitted
    * rows match the oracle-backed batch table bit for bit.
    *
    * Scale: state is O(users)×(looks+1) longs in ONE group — like
    * cusumAlarm, the operator is the sequential TAIL of the pipeline;
    * at 100 TB the per-(user, look) accumulation upstream is a
    * keyed watermarked streaming aggregate, and this group consumes
    * the user-vector stream (users ≪ events). The χ² table itself is
    * scenario×look space (10 rows). */
  def obfMonitor(events: Dataset[EventRow],
      looks: Seq[(Long, Int)] =
        Seq(1L -> 6, 2L -> 12, 3L -> 18, 4L -> 24, 5L -> 30)): Dataset[ObfRow] = {
    import events.sparkSession.implicits._
    // UTC day-of-month, matching batch dayofmonth(to_date(ts))
    def dayOfMonth(ts: java.sql.Timestamp): Int =
      java.time.LocalDate.ofEpochDay(
        Math.floorDiv(ts.getTime, 86400000L)).getDayOfMonth
    // the shared salted Knuth arm hash (graft.Knuth, salt 7), middle
    // bits: (h div 1024) % 2 — identical to the batch assignment
    def hashArm(u: Long): Long =
      if (graft.Knuth.scalar(u, 7L) / 1024L % 2L == 0L) 1L else 0L
    events
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[ObfState, ObfRow](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[EventRow], state: GroupState[ObfState]) =>
          var users = state.getOption.map(_.users).getOrElse(
            Map.empty[Long, ObfUser])
          var close = false
          // pure counting — no ordering sensitivity, so no sort
          rows.foreach { r =>
            if (r.user_id < 0) close = true
            else {
              val u = users.getOrElse(r.user_id,
                ObfUser(0L, Seq.fill(looks.length)(0L)))
              val p =
                if (r.event_type == "purchase") {
                  val dom = dayOfMonth(r.ts)
                  u.p.zip(looks).map { case (cnt, (_, d)) =>
                    if (dom <= d) cnt + 1L else cnt }
                } else u.p
              users = users.updated(r.user_id, ObfUser(u.n_ev + 1L, p))
            }
          }
          state.update(ObfState(users))
          if (!close) Iterator.empty
          else {
            val n = BigInt(users.size)
            val totEv = users.valuesIterator.map(u => BigInt(u.n_ev)).sum
            val out = Seq.newBuilder[ObfRow]
            for (scenario <- Seq("hash", "confounded")) {
              var stopped = false
              looks.zipWithIndex.foreach { case ((k, d), i) =>
                val tot = users.valuesIterator.map(u => BigInt(u.p(i))).sum
                var (a, b, c, dd) = (BigInt(0), BigInt(0), BigInt(0), BigInt(0))
                users.foreach { case (uid, u) =>
                  val arm =
                    if (scenario == "hash") hashArm(uid)
                    else if (n * u.n_ev > totEv) 1L else 0L
                  val conv = if (n * u.p(i) > tot) 1L else 0L
                  (arm, conv) match {
                    case (1L, 1L) => a += 1
                    case (1L, 0L) => b += 1
                    case (0L, 1L) => c += 1
                    case _        => dd += 1
                  }
                }
                val chi2 =
                  if (a + b > 0 && c + dd > 0 && a + c > 0 && b + dd > 0)
                    (1000 * (a + b + c + dd) * (a * dd - b * c).pow(2)) /
                      ((a + b) * (c + dd) * (a + c) * (b + dd))
                  else BigInt(0)
                val boundary = (20802L + k - 1L) / k
                val crossed = chi2 >= boundary
                stopped = stopped || crossed
                out += ObfRow(scenario, k, d.toLong, (a + c).toLong,
                  chi2.toLong, boundary, crossed, stopped)
              }
            }
            out.result().iterator
          }
      }
  }

  final case class CepMatch(
      user_id: Long, purchase_id: Long, click_id: Long, latency_sec: Long)

  /** Streaming CEP — the incremental twin of batch q197: emit a match
    * when a purchase follows the user's LATEST click within 30
    * minutes with no error strictly between them. Per-user state is
    * exactly what the pattern needs and nothing more: the latest
    * click (ts, id) and the latest error ts — O(users) × 3 longs,
    * carried across micro-batches so a click in batch n matches a
    * purchase in batch n+1. With chronological per-user arrival (the
    * transitionPairs contract), "latest error before this purchase"
    * IS the max error ts seen so far, so the interruption check is
    * one comparison: err > click_ts (strictly-before-purchase holds
    * because the error already arrived). Same (ts, event_id) in-batch
    * total order as the batch side; ties on click ts resolve to the
    * larger event_id (q197's latest-writer rule).
    */
  def cepMatches(events: Dataset[EventRow],
      lookbackUs: Long = 1800000000L): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Option[(Long, Long)], Option[Long]), CepMatch](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow],
         state: GroupState[(Option[(Long, Long)], Option[Long])]) =>
          val sorted = rows.toIndexedSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
          var (lastClick, lastErr) = state.getOption.getOrElse(
            (Option.empty[(Long, Long)], Option.empty[Long]))
          val out = Seq.newBuilder[CepMatch]
          sorted.foreach { r =>
            val us = r.ts.getTime * 1000L + r.ts.getNanos / 1000 % 1000
            r.event_type match {
              case "click" =>
                // chronological arrival makes each click the new latest;
                // equal-ts clicks arrive id-ascending, so the last one
                // seen is the (ts, id)-max the batch argmax picks
                lastClick = Some((us, r.event_id))
              case "error" =>
                lastErr = Some(us)
              case "purchase" =>
                for ((cUs, cId) <- lastClick)
                  if (cUs < us && cUs >= us - lookbackUs &&
                      !lastErr.exists(e => e > cUs && e < us))
                    out += CepMatch(uid, r.event_id, cId, (us - cUs) / 1000000L)
              case _ => ()
            }
          }
          state.update((lastClick, lastErr))
          out.result().iterator
      }
  }

  /** Custom keyed state via mapGroupsWithState: per-user running
    * totals + an error-rate flag, carried across micro-batches. The
    * state store is partitioned by user_id, so this shuffles each
    * micro-batch once on the key and holds O(users) state.
    */
  def runningUserStats(events: Dataset[EventRow],
      flagAfterErrors: Long = 3): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long), UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[(Long, Long)]) =>
          val (n0, e0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var e = e0
          rows.foreach { r =>
            n += 1
            if (r.event_type == "error") e += 1
          }
          state.update((n, e))
          UserRunning(uid, n, e, e >= flagAfterErrors)
      }
  }

  final case class KmvSketch(event_type: String, in_sketch: Int, kmv_estimate: Long)

  /** The user-id hash of q153/q162 (KMV and HLL): the mixed salted
    * Knuth word (salt 9176). */
  private def mix(u: Long): Long = graft.Knuth.mix(graft.Knuth.scalar(u, 9176L))

  /** Streaming KMV distinct-count sketch — the incremental half of
    * batch q153: per event type, the k smallest DISTINCT finalized
    * user hashes live in mapGroupsWithState, deduped INSIDE the buffer
    * (the production form q153's scaladoc points at — no upstream
    * distinct needed), so state is bounded at O(k) longs per group no
    * matter how many events stream through. Each micro-batch emits the
    * running estimate; because the k smallest of a union are among the
    * union of k-smallests, the last emission equals the batch sketch
    * over the same rows — the parity the spec pins. Hash and estimate
    * arithmetic are byte-identical to q153's (same mix, same
    * (k−1)·2³² div h₍ₖ₎), so the parity is transitively oracle-backed.
    */
  def kmvDistinct(events: Dataset[EventRow], k: Int = 64): Dataset[KmvSketch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[Array[Long], KmvSketch](GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[EventRow], state: GroupState[Array[Long]]) =>
          val set = scala.collection.mutable.TreeSet
            .from(state.getOption.getOrElse(Array.empty[Long]))
          rows.foreach { r =>
            val h = mix(r.user_id)
            if (!set.contains(h)) {
              set += h
              if (set.size > k) set.remove(set.last)
            }
          }
          val arr = set.toArray // ascending; arr.last is h_(k) when full
          state.update(arr)
          val est =
            if (arr.length < k) arr.length.toLong
            else ((k - 1).toLong * 4294967296L) / arr.last
          KmvSketch(et, arr.length, est)
      }
  }

  final case class HllSketch(
      event_type: String,
      n_registers_hit: Long,
      sum_scaled: Long,
      hll_estimate: Long)

  /** Streaming HyperLogLog — the incremental half of batch q162: per
    * event type the state is exactly m=64 small-int registers, folded
    * by elementwise MAX as events arrive. That fold is the whole
    * mergeability story — registers from any partitioning of the
    * stream (micro-batches here, executors/days/sources in
    * production) combine into the registers OF THE UNION, so the last
    * emission equals the batch sketch over the same rows, which the
    * parity spec pins against the oracle-backed q162. Hash, rank, and
    * estimate arithmetic are byte-identical to q162's (same mix,
    * rank = 27 − bitlen of the 26-bit suffix, α₆₄ raw estimate as one
    * integer division). State is O(m) per group — FIXED memory no
    * matter how many distinct users stream through, the property that
    * distinguishes HLL from the KMV buffer's O(k) values. */
  def hllDistinct(events: Dataset[EventRow]): Dataset[HllSketch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[Array[Long], HllSketch](GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[EventRow], state: GroupState[Array[Long]]) =>
          val regs = state.getOption.getOrElse(Array.fill(64)(0L))
          rows.foreach { r =>
            val h = mix(r.user_id)
            val j = (h % 64).toInt
            val w = h / 64
            val rho =
              if (w == 0) 27L
              else 27L - (64 - java.lang.Long.numberOfLeadingZeros(w))
            if (rho > regs(j)) regs(j) = rho
          }
          state.update(regs)
          val nHit = regs.count(_ > 0).toLong
          val s = regs.filter(_ > 0).map(m => 1L << (27 - m)).sum +
            (64L - nHit) * 134217728L
          HllSketch(et, nHit, s, (709L * 4096L * 134217728L) / (1000L * s))
      }
  }

  /** SpaceSaving counter table: parallel arrays so the state encodes
    * as three flat columns (no per-entry struct overhead in the state
    * store). `keys(i)` holds count `counts(i)` with overestimate bound
    * `errs(i)`; slots beyond `size` are garbage. */
  final case class SsState(
      keys: Array[Long], counts: Array[Long], errs: Array[Long], size: Int)

  final case class HeavyHitter(
      event_type: String, rnk: Long, user_id: Long, n_est: Long, n_err: Long)

  /** Streaming SpaceSaving heavy hitters — the bounded-memory
    * incremental half of batch q170: per event type the state is a
    * capacity-bounded counter table (Metwally et al.'s SpaceSaving, the
    * canonical top-k-under-fixed-memory algorithm). A tracked key
    * increments its counter; an untracked key at a full table REPLACES
    * the minimum counter, inheriting min+1 and recording min as its
    * overestimate bound — which yields the two guarantees the spec
    * pins: n_true ≤ n_est ≤ n_true + n_err for every tracked key, and
    * any key with true count > N/capacity is guaranteed tracked. The
    * eviction tiebreak (smallest count, then LARGEST key) is a total
    * order, so micro-batch boundaries never change the result of a
    * deterministic replay. With capacity ≥ the group's distinct keys
    * no eviction ever fires, n_err = 0, and the table IS the exact
    * count map — so the final top-k emission equals the oracle-backed
    * batch q170 (the parity the spec pins), same (n desc, user_id)
    * order. State is O(capacity) longs per group regardless of stream
    * length; each micro-batch shuffles once on event_type. */
  def spaceSavingTopK(events: Dataset[EventRow], capacity: Int = 1024,
      k: Int = 3): Dataset[HeavyHitter] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[SsState, HeavyHitter](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[EventRow], state: GroupState[SsState]) =>
          val st = state.getOption.getOrElse(
            SsState(new Array[Long](capacity), new Array[Long](capacity),
              new Array[Long](capacity), 0))
          val (keys, counts, errs) = (st.keys, st.counts, st.errs)
          var size = st.size
          // slot index rebuilt once per micro-batch invocation: O(1)
          // tracked-key updates; only an untracked key hitting a full
          // table pays the O(capacity) eviction scan
          val idx = new java.util.HashMap[Long, Integer](capacity * 2)
          (0 until size).foreach(i => idx.put(keys(i), i))
          rows.foreach { r =>
            val key = r.user_id
            val found = idx.get(key)
            if (found != null) counts(found) += 1
            else if (size < capacity) {
              idx.put(key, size)
              keys(size) = key; counts(size) = 1; errs(size) = 0; size += 1
            } else {
              // evict the minimum counter; tie to the LARGEST key so the
              // update is deterministic under any arrival interleaving
              var m = 0
              var i = 1
              while (i < size) {
                if (counts(i) < counts(m) ||
                  (counts(i) == counts(m) && keys(i) > keys(m))) m = i
                i += 1
              }
              val inherited = counts(m)
              idx.remove(keys(m))
              idx.put(key, m)
              keys(m) = key; counts(m) = inherited + 1; errs(m) = inherited
            }
          }
          state.update(SsState(keys, counts, errs, size))
          val order = (0 until size).sortBy(i => (-counts(i), keys(i)))
          order.take(k).zipWithIndex.map { case (i, r) =>
            HeavyHitter(et, r + 1L, keys(i), counts(i), errs(i))
          }.iterator
      }
  }

  final case class QuantileRow(
      event_type: String, qp: Int, est_lo: Long, est_hi: Long,
      n: Long, target_rank: Long)

  /** Streaming histogram quantiles — the incremental half of batch
    * q184: per event type the state is a unit-bucket count map
    * (bucket = floor(value); the value domain is bounded, so state is
    * fixed-size regardless of stream length — the same property that
    * makes the batch histogram a sketch). Counts merge by addition, so
    * the final micro-batch emission carries the full-stream histogram
    * and its quantile bounds EQUAL the batch query's (parity-pinned):
    * est is the first bucket whose cumulative count reaches
    * ceil(n·q/10⁴), identical exact-integer rank arithmetic. */
  def histQuantiles(events: Dataset[ChangeRow],
      qps: Seq[Int] = Seq(5000, 9000, 9900)): Dataset[QuantileRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Map[Long, Long], QuantileRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[ChangeRow],
         state: GroupState[Map[Long, Long]]) =>
          var h = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { r =>
            val b = math.floor(r.value).toLong
            h = h.updated(b, h.getOrElse(b, 0L) + 1L)
          }
          state.update(h)
          val sorted = h.toSeq.sortBy(_._1)
          val n = h.valuesIterator.sum
          qps.map { qp =>
            val target = (n * qp + 9999) / 10000
            var cum = 0L
            val b = sorted.iterator
              .map { case (bb, c) => cum += c; (bb, cum) }
              .find(_._2 >= target).get._1
            QuantileRow(et, qp, b, b + 1, n, target)
          }.iterator
      }
  }

  final case class DrawdownRow(
      user_id: Long, n_events: Long, peak_cents: Long,
      max_drawdown_cents: Long)

  /** Streaming max drawdown — the incremental twin of batch q222:
    * per-user state is exactly the recurrence's memory, four longs
    * (count, balance, running peak, max drawdown), carried across
    * micro-batches in mapGroupsWithState. Within a batch rows replay
    * in the batch side's unique (ts, event_id) total order; because
    * the state store already holds the prefix, a peak in batch n
    * bounds drawdowns in batch n+1 with no reprocessing. Cents
    * quantize through the identical half-up DECIMAL(18,4) contract as
    * q222, so the last emission per user equals the batch aggregate
    * bit for bit (parity-pinned). O(users)·4 longs of state. */
  def drawdown(events: Dataset[ChangeRow]): Dataset[DrawdownRow] = {
    import events.sparkSession.implicits._
    def cents(v: Double): Long =
      new java.math.BigDecimal(v)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .multiply(new java.math.BigDecimal(100L))
        .toBigInteger.longValueExact()
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long, Long), DrawdownRow](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ChangeRow],
         state: GroupState[(Long, Long, Long, Long)]) =>
          var (n, bal, peak, dd) = state.getOption
            .getOrElse((0L, 0L, Long.MinValue, Long.MinValue))
          rows.toIndexedSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
            .foreach { r =>
              val delta = r.event_type match {
                case "purchase" => cents(r.value)
                case "error" => -cents(r.value)
                case _ => 0L
              }
              n += 1
              bal += delta
              peak = math.max(peak, bal)
              dd = math.max(dd, peak - bal)
            }
          state.update((n, bal, peak, dd))
          DrawdownRow(uid, n, peak, dd)
      }
  }

  final case class GapSweepRow(
      user_id: Long, n_events: Long, s15: Long, s30: Long, s60: Long)

  /** Streaming sessionization gap sweep — the incremental twin of
    * batch q241: per-user state is (last event µs, event count, and
    * one session counter per candidate gap), five longs. A new
    * session starts at a gap strictly greater than the threshold —
    * the identical predicate on the identical inter-event delta as
    * the batch lag window, so the summed last emissions equal the
    * batch sweep exactly (parity-pinned). The sweep shares one
    * state pass for all three gaps, mirroring the batch side's
    * single-window trick. */
  def sessionGapSweep(events: Dataset[EventRow]): Dataset[GapSweepRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long, Long, Long), GapSweepRow](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow],
         state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (last, n, s15, s30, s60) = state.getOption
            .getOrElse((Long.MinValue, 0L, 0L, 0L, 0L))
          rows.toIndexedSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
            .foreach { r =>
              val us = r.ts.getTime * 1000L + r.ts.getNanos / 1000 % 1000
              val gap = if (n == 0L) Long.MaxValue else us - last
              if (gap > 900000000L) s15 += 1
              if (gap > 1800000000L) s30 += 1
              if (gap > 3600000000L) s60 += 1
              n += 1
              last = us
            }
          state.update((last, n, s15, s30, s60))
          GapSweepRow(uid, n, s15, s30, s60)
      }
  }

  /** A gram's first appearance: the vocabulary-growth event q172's
    * curve integrates. */
  final case class FirstSeen(g: Long, first_doc: Long)

  /** Streaming first-seen vocabulary tracker — the streaming half of
    * batch q172's `fs` table (gram → MIN(doc_id)), the event feed an
    * online Heaps-curve / novelty monitor consumes: grams arrive
    * exploded from a chronologically-ordered document stream, state
    * is one long per DISTINCT gram (vocabulary-sized — exactly what
    * any online vocabulary tracker must hold, and sublinear in the
    * corpus by Heaps' law), and a gram emits exactly ONE FirstSeen
    * event in the micro-batch that first contains it (within-batch
    * ties resolve to the minimum doc_id, so unordered arrival INSIDE
    * a batch is fine; cross-batch correctness needs the doc-ordered
    * replay the parity test stages — the ingest-log order a
    * production crawl feed has). Input rows: (doc_id, g). */
  def vocabFirstSeen(grams: Dataset[(Long, Long)]): Dataset[FirstSeen] = {
    import grams.sparkSession.implicits._
    grams
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, FirstSeen](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (g: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.map(_._1).min
            state.update(first)
            Iterator(FirstSeen(g, first))
          }
      }
  }

  /** Streaming incremental near-dup dedup — the streaming half of
    * batch q87 (the ingest-gate a daily crawl actually runs as):
    * incoming documents band against a STATIC corpus band index and
    * only (banded ∧ small-bucket ∧ jaccard ≥ `minJaccard`) pairs
    * survive. The corpus side — explodeBands + the stop-bucket cap
    * that DROPS mega-buckets before any pairing (generic templates
    * whose pair expansion is quadratic poison) — is a static frame a
    * production job reads back as the saved band-index parquet; the
    * per-batch work is a stream-static hash join that scales with the
    * BATCH, never the accumulated archive. Multi-band hits of the same
    * (new, corpus) pair collapse via `dropDuplicatesWithinWatermark`
    * (state expires with the event-time watermark, so dedup state is
    * bounded by the watermark horizon, not the stream's lifetime —
    * the batch side's `.distinct()` made incremental), and the exact
    * one-pass Jaccard kernel verifies only the surviving candidates.
    *
    * `incoming` must carry (doc_id, ts, text); `corpus` (doc_id, text).
    * Output: (new_id, corpus_id, n_common, jaccard) in append mode,
    * rows emitted as processed (no window close needed). */
  /** One arriving document on the ingest stream. */
  final case class Bm25Doc(doc_id: Long, text: String)

  /** A query-term posting: term `g` occurs `tf` times in `doc_id`. */
  final case class Bm25Hit(g: String, doc_id: Long, tf: Long)

  /** The serving-node seed loaded from the DURABLE lexical index
    * (the archive of a TextIndex split) before the stream starts: global stats
    * (`n` docs, `t` total bigrams) over the whole archive, the hot
    * posting lists of the query terms, and the doc lengths of every
    * document those lists reference. */
  final case class Bm25Seed(n: Long, t: Long, hits: Seq[Bm25Hit],
      dl: Map[Long, Long])

  final case class Bm25State(batch: Long, n: Long, t: Long,
      hits: List[Bm25Hit], dl: Map[Long, Long])

  /** One row of the post-batch top-k snapshot. */
  final case class Bm25Snap(batch_seq: Long, query_id: Int, doc_id: Long,
      score: Double, rnk: Long)

  /** Streaming incremental BM25 — the streaming half of batch q288
    * (the serving shape a production search tier actually runs):
    * the DURABLE lexical index seeds the state (query-term posting
    * lists + archive-wide N and T), each micro-batch of arriving
    * documents tokenizes ONCE and folds into that state (df/tf/dl of
    * the query terms, global N/T over every arrival — the quantities
    * BM25 needs are all associative integer updates, which is what
    * makes the index maintainable incrementally), and after every
    * batch the operator emits the complete current top-`k` per query
    * under the EXACT batch arithmetic: the same idf₂ bit-length
    * surrogate, the same 22T·tf/(10T·tf+3T+9·dl·N) integer fold, the
    * same HALF_UP DECIMAL(18,4) per-term rounding and exact decimal
    * sum that q90/q288 compute in Spark and the oracle replays in
    * DuckDB — so the final snapshot must equal batch q288 row for
    * row, bit for bit (StreamBatchParitySpec), and every intermediate
    * snapshot equals a batch replay over archive + arrived-prefix.
    *
    * State is bounded: posting lists only of the |queryTerms| query
    * terms (df-bounded), dl only of docs those lists reference —
    * never the corpus. All arrivals key to one group because N/T/df
    * are corpus-global; at production scale the stream fans out per
    * QUERY-TERM (each term's state is independent) with a tiny
    * broadcast N/T accumulator — the per-term shape is identical. */
  def incrementalBm25(incoming: Dataset[Bm25Doc], seed: Bm25Seed,
      queryTerms: Seq[(Int, String)], topK: Int = 10): Dataset[Bm25Snap] = {
    import incoming.sparkSession.implicits._
    val termSet = queryTerms.map(_._2).toSet
    incoming
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Bm25State, Bm25Snap](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[Bm25Doc], state: GroupState[Bm25State]) =>
          val st0 = state.getOption.getOrElse(
            Bm25State(0L, seed.n, seed.t, seed.hits.toList, seed.dl))
          var n = st0.n
          var t = st0.t
          var hits = st0.hits
          var dl = st0.dl
          // fold the batch: same tokenization as the index build
          // (split on single space keeping empties, adjacent-token
          // concat, < 2 tokens contributes nothing)
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            val tk = d.text.split(" ", -1)
            if (tk.length >= 2) {
              val bigs = (0 until tk.length - 1)
                .map(i => tk(i) + " " + tk(i + 1))
              n += 1
              t += bigs.length
              val tfm = bigs.filter(termSet).groupBy(identity)
              if (tfm.nonEmpty) {
                tfm.foreach { case (g, os) =>
                  hits = Bm25Hit(g, d.doc_id, os.length.toLong) :: hits
                }
                dl += (d.doc_id -> bigs.length.toLong)
              }
            }
          }
          val st = Bm25State(st0.batch + 1, n, t, hits, dl)
          state.update(st)
          // serve the snapshot under the exact batch arithmetic
          def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
          val df = hits.groupBy(_.g).view.mapValues(_.size.toLong).toMap
          val snaps = queryTerms.groupBy(_._1).toSeq.flatMap {
            case (qid, terms) =>
              val tset = terms.map(_._2).toSet
              val byDoc = hits.filter(h => tset(h.g)).groupBy(_.doc_id)
              val scored = byDoc.toSeq.map { case (docId, hs) =>
                val s4 = hs.map { h =>
                  val idf2 = bitlen(2L * (n - df(h.g)) + 1L) -
                    bitlen(2L * df(h.g) + 1L)
                  val raw = (idf2 * 22L * t * h.tf).toDouble /
                    (10L * t * h.tf + 3L * t + 9L * dl(docId) * n).toDouble
                  BigDecimal.decimal(raw)
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP)
                }.sum
                (docId, s4.toDouble)
              }
              scored.sortBy { case (docId, sc) => (-sc, docId) }
                .take(topK).zipWithIndex.map { case ((docId, sc), i) =>
                  Bm25Snap(st.batch, qid, docId, sc, i + 1L)
                }
          }
          snaps.iterator
      }
  }

  /** One arriving (quantized) embedding on the vector-ingest stream. */
  final case class PqVec(vec_id: Long, qv: Seq[Long])

  /** A frozen spherical centroid (from the archive-trained artifact). */
  final case class PqCent(centroid_id: Int, cv: Seq[Long])

  /** A frozen codebook entry: 8-dim integer codeword. */
  final case class PqCw(subspace: Long, code: Long, cw: Seq[Long])

  /** Running per-cell reconstruction-error aggregate. */
  final case class PqCellAgg(n: Long, tot: Long, mx: Long, exact: Long)

  final case class PqAuditState(batch: Long, cells: Map[Long, PqCellAgg])

  /** One row of the post-batch per-cell audit snapshot — q287's
    * output shape plus the batch tag. */
  final case class PqAuditSnap(batch_seq: Long, centroid_id: Long,
      n_copies: Long, total_err: Long, mean_err: Long, max_err: Long,
      n_exact: Long)

  /** Streaming incremental PQ-ingest audit — the streaming half of
    * the q287 health monitor, run over the INCREMENTALLY-MAINTAINED
    * index (q289's frozen-training contract): centroids and codebook
    * are the archive-trained FROZEN tables (tiny; carried in the
    * closure exactly as a serving node pins them in memory), `seed`
    * is the archive's per-cell audit, and each arriving vector pays
    * its own r-way spherical assignment + per-subspace code argmin +
    * reconstruction error — the identical exact-integer arithmetic
    * the batch build runs in Spark and the oracle replays in DuckDB
    * (double only in the assignment key `2.0 − dot/√cn`, the same
    * IEEE ops as Ivf.cosKeyExpr, so cell choices match bit for bit).
    * After every micro-batch the operator emits the complete current
    * per-cell profile. Because per-vector coding is independent, the
    * snapshot after batch i must equal the batch audit of
    * archive + arrived-prefix — which is exactly the merged index's
    * codes filtered to those ids (StreamBatchParitySpec pins every
    * snapshot, and the final one against the audit of the
    * byte-pinned incremental artifact itself). State is one bounded
    * Map of k cells — never the corpus. */
  def incrementalPqAudit(incoming: Dataset[PqVec], cents: Seq[PqCent],
      codebook: Seq[PqCw], replication: Int,
      seed: Map[Long, PqCellAgg]): Dataset[PqAuditSnap] = {
    import incoming.sparkSession.implicits._
    val (centArr, cwBySub) = pqFrozen(cents, codebook)
    incoming
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[PqAuditState, PqAuditSnap](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[PqVec], state: GroupState[PqAuditState]) =>
          val st0 = state.getOption.getOrElse(PqAuditState(0L, seed))
          var cells = st0.cells
          rows.toSeq.sortBy(_.vec_id).foreach { v =>
            pqCopyErrs(v.qv.toArray, centArr, cwBySub, replication).foreach {
              case (cid, err) =>
                val a = cells.getOrElse(cid.toLong, PqCellAgg(0, 0, 0, 0))
                cells += cid.toLong -> PqCellAgg(a.n + 1, a.tot + err,
                  math.max(a.mx, err), a.exact + (if (err == 0) 1L else 0L))
            }
          }
          val st = PqAuditState(st0.batch + 1, cells)
          state.update(st)
          cells.toSeq.sortBy(_._1).iterator.map { case (cid, a) =>
            PqAuditSnap(st.batch, cid, a.n, a.tot, a.tot / a.n, a.mx, a.exact)
          }
      }
  }

  /** Driver-side frozen-table prep shared by the PQ stream operators:
    * centroid (id, vector, self-norm) array and per-subspace codeword
    * (code, vector, self-norm) lists in code order. */
  private def pqFrozen(cents: Seq[PqCent], codebook: Seq[PqCw])
      : (Array[(Int, Array[Long], Long)],
         Map[Long, Seq[(Long, Array[Long], Long)]]) = (
    cents.map(c =>
      (c.centroid_id, c.cv.toArray, c.cv.map(x => x * x).sum)).toArray,
    codebook.groupBy(_.subspace).view.mapValues(_.map(e =>
      (e.code, e.cw.toArray, e.cw.map(x => x * x).sum)).sortBy(_._1)).toMap)

  private def pqDot(a: Array[Long], b: Array[Long], off: Int): Long = {
    var s = 0L; var i = 0
    while (i < b.length) { s += a(off + i) * b(i); i += 1 }
    s
  }

  /** Per-copy (centroid_id, reconstruction error) of ONE vector
    * against the frozen tables: r-way spherical assignment (ascending
    * (2 − dot/√cn, id) — the same IEEE ops as Ivf.cosKeyExpr) +
    * per-subspace codeword argmin with ties to the smaller code — the
    * exact integer arithmetic of IvfPq.codeAgainst/reconErrs, shared
    * by the PQ-ingest audit and the drift monitor so the two parities
    * cannot drift apart. */
  private def pqCopyErrs(qv: Array[Long],
      centArr: Array[(Int, Array[Long], Long)],
      cwBySub: Map[Long, Seq[(Long, Array[Long], Long)]],
      replication: Int): Seq[(Int, Long)] = {
    val assigned = centArr.map { case (cid, cv, cn) =>
      val k =
        if (cn > 0)
          2.0 - pqDot(qv, cv, 0).toDouble / math.sqrt(cn.toDouble)
        else 1e308
      (k, cid, cv)
    }.sortBy { case (k, cid, _) => (k, cid) }.take(replication)
    assigned.toSeq.map { case (_, cid, cv) =>
      val rv = Array.tabulate(qv.length)(i => qv(i) - cv(i))
      var err = 0L
      var sub = 0L
      while (sub < 8) {
        val off = (sub * 8).toInt
        val sn = pqDot(rv, rv.slice(off, off + 8), off)
        var bestD = Long.MaxValue
        cwBySub(sub).foreach { case (_, cw, cn2) =>
          val d = sn + cn2 - 2L * pqDot(rv, cw, off)
          if (d < bestD) bestD = d
        }
        err += bestD
        sub += 1
      }
      (cid, err)
    }
  }

  final case class DriftState(batch: Long, nDelta: Long, tDelta: Long)

  final case class DriftSnap(batch_seq: Long, n_arch: Long,
      arch_mean_err: Long, n_delta: Long, delta_mean_err: Long,
      drift_permille: Long, retrain_needed: Boolean)

  /** STREAMING codebook-drift monitor — q291's retrain-gate statistic
    * as a LIVE per-batch emission (the 18th stream/batch parity): the
    * archive's per-copy error profile (n_arch, t_arch) seeds from the
    * durable artifact's batch audit; each arriving vector codes
    * against the FROZEN centroids + codebook ([[pqCopyErrs]] — the
    * byte-pinned build arithmetic) and folds its copies into running
    * (n_delta, t_delta); after every micro-batch the operator emits
    * the complete gate row (means, drift permille, retrain flag) under
    * q291's exact integer arithmetic — including the saturating 1e6‰
    * sentinel when a zero-error archive meets a nonzero-error delta.
    * Every snapshot equals the batch statistic of archive +
    * arrived-prefix (per-vector coding is independent), and the final
    * snapshot equals oracle-backed q291 bit for bit. State is three
    * longs — never the corpus. */
  def incrementalDriftMonitor(incoming: Dataset[PqVec], cents: Seq[PqCent],
      codebook: Seq[PqCw], replication: Int, nArch: Long, tArch: Long,
      maxDriftPermille: Long = 1500L): Dataset[DriftSnap] = {
    import incoming.sparkSession.implicits._
    val (centArr, cwBySub) = pqFrozen(cents, codebook)
    incoming
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[DriftState, DriftSnap](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[PqVec], state: GroupState[DriftState]) =>
          val st0 = state.getOption.getOrElse(DriftState(0L, 0L, 0L))
          var n = st0.nDelta
          var t = st0.tDelta
          rows.toSeq.sortBy(_.vec_id).foreach { v =>
            pqCopyErrs(v.qv.toArray, centArr, cwBySub, replication).foreach {
              case (_, err) => n += 1; t += err
            }
          }
          val st = DriftState(st0.batch + 1, n, t)
          state.update(st)
          val archMean = if (nArch == 0) 0L else tArch / nArch
          val deltaMean = if (n == 0) 0L else t / n
          val drift =
            if (archMean == 0) { if (deltaMean == 0) 1000L else 1000000L }
            else 1000L * deltaMean / archMean
          Iterator.single(DriftSnap(st.batch, nArch, archMean, n, deltaMean,
            drift, drift > maxDriftPermille))
      }
  }

  /** Content key of a micro-batch for idempotent segment publishes:
    * one O(batch) aggregate over the id column's image
    * (count/min/max/sum), hashed to 16 hex chars — a checkpoint
    * replay of the same batch re-derives the same key; a different
    * row set can never silently reuse an existing artifact. */
  private def batchKey(batch: DataFrame, idCol: String): String = {
    val sig = batch.agg(
      count(lit(1)), min(col(idCol)), max(col(idCol)), sum(col(idCol))).head()
    graft.operators.LayoutCatalog.hex16(
      s"${sig.getLong(0)}|${sig.getLong(1)}|${sig.getLong(2)}|${sig.getLong(3)}")
  }

  /** The stateless segment-ingest sink shared by the three streaming
    * index builders: each non-empty micro-batch `bid` publishes one
    * segment via `publish(batch, bid, contentKey)` (the content key of
    * the batch's `idCol` image), and the writer queues what each
    * publish returns, in publish order. The caller starts the writer.
    * Exactly-once = checkpoint batch-id fencing + the content-keyed
    * idempotent publish. */
  private def segmentIngest[T](in: DataFrame, idCol: String)(
      publish: (DataFrame, Int, String) => T)
      : (org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
         java.util.concurrent.ConcurrentLinkedQueue[T]) = {
    val published = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val writer = in.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          published.add(publish(batch, bid.toInt, batchKey(batch, idCol))): Unit
      }
    (writer, published)
  }

  /** Streaming LSM segment INGEST — the streaming half of the batch
    * append path ([[graft.operators.TextIndex.splitPostings]],
    * the 19th stream/batch parity): each arriving micro-batch of
    * (doc_id, text) documents is ONE delta, and the foreachBatch sink
    * publishes it as its own durable bucketed O(batch) segment
    * artifact — tokenize the batch, write the batch; the archive and
    * earlier segments are never touched. Because the segment writer
    * is byte-deterministic in its row set (TextIndex writeInto's
    * total file order), a stream that delivers the same documents in
    * the same micro-batch partitioning as a batch-side predicate
    * split produces segment artifacts BYTE-identical to
    * splitPostings', and the served view (archive ∪
    * published segments) is row-identical to the batch LSM view —
    * StreamBatchParitySpec pins both. The artifact key is a CONTENT
    * hash of the batch's doc_id set image (count/min/max/sum — one
    * O(batch) aggregate), so a checkpoint-replayed micro-batch
    * re-derives the same key and the publish is idempotent, while a
    * DIFFERENT row set can never silently reuse an existing segment.
    * State: none — the sink is stateless; exactly-once comes from the
    * checkpoint's batch-id fencing plus the idempotent publish.
    * Returns (configured writer, queue of published postings-table
    * names in publish order) — the caller starts the writer. */
  def lsmSegmentIngest(docs: DataFrame, dir: String, tag: String)
      : (org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
         java.util.concurrent.ConcurrentLinkedQueue[String]) =
    segmentIngest(docs, "doc_id") { (batch, i, key) =>
      graft.operators.TextIndex.publishSegmentRows(batch.sparkSession, dir,
        batch.select("doc_id", "text"), tag, i, key)._1
    }

  /** Streaming POSITIONAL segment ingest — the phrase-index twin of
    * [[lsmSegmentIngest]] (the 24th stream/batch parity): each
    * arriving micro-batch of (doc_id, text) documents publishes its
    * own durable tok-bucketed POSITIONAL postings segment
    * ([[graft.operators.TextIndex.publishPositionalSegmentRows]]),
    * so phrase/proximity search serves archive ∪ streamed segments
    * with no re-tokenization of the archive. Positions are
    * document-local (a doc lives wholly inside its micro-batch), so
    * the served view is row-identical to a from-scratch positional
    * build — StreamBatchParitySpec pins phrase search over the view
    * ≡ batch q303. Stateless; exactly-once = checkpoint batch-id
    * fencing + the content-keyed idempotent publish. */
  def positionalSegmentIngest(docs: DataFrame, dir: String, tag: String)
      : (org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
         java.util.concurrent.ConcurrentLinkedQueue[String]) =
    segmentIngest(docs, "doc_id") { (batch, i, key) =>
      graft.operators.TextIndex.publishPositionalSegmentRows(
        batch.sparkSession, dir, batch.select("doc_id", "text"), tag, i, key)
    }

  /** Streaming PQ segment INGEST — the vector twin of
    * [[lsmSegmentIngest]] (the 20th stream/batch parity): each
    * arriving micro-batch of (vec_id, qv, qn) embeddings codes
    * against the FROZEN archive-trained centroids + codebook (the
    * q289 contract — training never reruns on the query/ingest path)
    * and publishes its own durable O(batch) code-segment artifact via
    * foreachBatch ([[graft.operators.IvfPq.publishCodeSegmentRows]]).
    * Per-vector coding is an independent argmin, so segment artifacts
    * are BYTE-identical to a batch predicate split over the same
    * micro-batch partitioning, and archive ∪ published segments
    * equals the batch LSM view row for row — StreamBatchParitySpec
    * pins both. Stateless; exactly-once = checkpoint batch-id fencing
    * + the content-keyed idempotent publish. */
  def pqSegmentIngest(vecs: DataFrame, dir: String, cents: DataFrame,
      cbt: DataFrame, nCentroids: Int, rounds: Int, replication: Int,
      tag: String)
      : (org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
         java.util.concurrent.ConcurrentLinkedQueue[java.io.File]) =
    segmentIngest(vecs, "vec_id") { (batch, i, key) =>
      graft.operators.IvfPq.publishCodeSegmentRows(
        batch.select("vec_id", "qv", "qn"), dir, cents, cbt,
        nCentroids, rounds, replication, tag, i, key)
    }

  def incrementalDedup(
      incoming: DataFrame,
      corpus: DataFrame,
      cfg: graft.operators.MinHashLsh.Config,
      maxBucket: Int,
      minJaccard: Double = 0.7,
      watermark: String = "1 hour"): DataFrame = {
    import graft.operators.MinHashLsh
    val cb = MinHashLsh.explodeBands(
        corpus.select(col("doc_id"), col("text")), "text", cfg)
      .select(col("doc_id").as("corpus_id"),
        col("text").as("text_c"), col("band"), col("band_key"))
    // stop-bucket cap: the join must never see a mega-bucket
    val small = cb.groupBy("band", "band_key")
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= maxBucket)
      .select("band", "band_key")
    val index = cb.join(small, Seq("band", "band_key"))
    val ib = MinHashLsh.explodeBands(
        incoming.withWatermark("ts", watermark), "text", cfg)
      .select(col("ts"), col("doc_id").as("new_id"),
        col("text").as("text_n"), col("band"), col("band_key"))
    ib.join(index, Seq("band", "band_key"))
      .select(col("ts"), col("new_id"), col("text_n"),
        col("corpus_id"), col("text_c"))
      .dropDuplicatesWithinWatermark("new_id", "corpus_id")
      .withColumn("jc",
        graft.functions.Jaccard.jaccard3(col("text_n"), col("text_c")))
      .filter(col("jc.jaccard") >= minJaccard)
      .select(col("new_id"), col("corpus_id"),
        col("jc.n_common").as("n_common"), col("jc.jaccard").as("jaccard"))
  }

  /** Streaming incremental EXACT dedup — the lossless twin of
    * [[incrementalDedup]] and the streaming half of batch q302 (the
    * 21st stream/batch parity): arriving documents find EVERY archive
    * doc with word-5-gram Jaccard ≥ 0.7, with zero recall loss. The
    * static side is the archive's PREFIX posting index (q299/q302's
    * filter under the frozen (archive df ASC, gram ASC) order); the
    * stream side probes with ALL its grams — the ONE-SIDED prefix
    * theorem makes that lossless on its own: if the pair qualifies,
    * |A∩B| ≥ ⌈t·|B|⌉, so were the order-smallest common gram x past
    * the archive doc's prefix, the common set would fit in its last
    * ⌈t·|B|⌉−1 grams — contradiction; hence x sits in the archive
    * prefix the probe joins. This keeps the stream side WINDOW-FREE
    * (per-doc prefix selection needs a rank — illegal on an append
    * stream); the probe fan-out is the doc's gram count, and
    * candidates are bounded by Σ_g |archivePrefix(g)| over the
    * probed grams. Candidate pairs dedup within the watermark; the
    * verify is the one-pass codegen'd word-5-gram kernel replaying
    * q302's integer threshold 17c ≥ 7(szₐ+szᵦ) exactly — no
    * streaming aggregation anywhere, so the whole pipeline is a
    * stream-static join Structured Streaming plans natively. The
    * union of all emissions equals batch q302's rows — the parity
    * StreamBatchParitySpec pins. */
  def incrementalExactDedup(
      incoming: DataFrame,
      corpus: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val gram5 = explode(graft.operators.PairGraph.word5Grams).as("g")
    // archive prefix index, built once on the static side: per-doc
    // first sz − ⌈0.7·sz⌉ + 1 grams under (archive df, gram) order
    val gc = corpus
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 5)
      .select(col("doc_id").as("corpus_id"), col("text").as("text_c"), gram5)
    val szc = gc.groupBy("corpus_id").agg(count(lit(1)).as("sz"))
    val dfArch = gc.groupBy("g").agg(count(lit(1)).as("df"))
    val index = gc.join(szc, "corpus_id").join(dfArch, "g")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("corpus_id").orderBy(col("df"), col("g"))))
      .filter(graft.operators.PairGraph.inPrefix)
      .select(col("g"), col("corpus_id"), col("text_c"))
    val ib = incoming.withWatermark("ts", watermark)
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 5)
      .select(col("ts"), col("doc_id").as("new_id"),
        col("text").as("text_n"), gram5)
    ib.join(index, Seq("g"))
      .select(col("ts"), col("new_id"), col("text_n"),
        col("corpus_id"), col("text_c"))
      .dropDuplicatesWithinWatermark("new_id", "corpus_id")
      .withColumn("jc",
        graft.functions.Jaccard.jaccard5w(col("text_n"), col("text_c")))
      .filter(graft.operators.PairGraph.qualifies(col("jc.n_common"),
        col("jc.sz_a"), col("jc.sz_b")))
      .select(col("new_id"), col("corpus_id"),
        col("jc.n_common").as("n_common"), col("jc.jaccard").as("jaccard"))
  }

  /** Streaming phrase matcher — the streaming half of batch q303 (the
    * 22nd stream/batch parity) and a pinned EQUIVALENCE of two
    * formulations: the batch side matches the phrase with an n-way
    * positional-postings JOIN (the inverted-index shape that scales
    * to a shared index); the stream side matches each arriving doc
    * LOCALLY — one HOF filter over the doc's own token array, zero
    * state, zero shuffle — because a phrase match never crosses
    * document boundaries. Both must produce identical (doc, pos)
    * rows; the parity pins that the index formulation and the
    * document-local formulation agree occurrence for occurrence. The
    * phrase itself derives batch-side from the STATIC corpus frame
    * (q303's dominant-trigram rule, TakeOrderedAndProject) and enters
    * the stream as a 1-row broadcast — the standard
    * small-dimension-against-stream join. */
  def phraseMatchStream(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    val top1 = graft.operators.TextIndex.dominantTrigram(corpus)
    incoming
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3) // BEFORE sequence (q83's trap)
      .join(broadcast(top1))
      .select(col("doc_id"), explode(expr(
        "filter(sequence(1, size(tk) - 2), " +
          "i -> tk[i-1] = w1 AND tk[i] = w2 AND tk[i+1] = w3)")).as("p0"))
      .select(col("doc_id"), col("p0").cast("long").as("pos"))
  }

  final case class DpState(batch: Long, counts: Map[Long, Long])

  final case class DpSnap(batch_seq: Long, nation: Long, noisy_count: Long,
      noise: Long, epsilon_milli: Long)

  /** Streaming ε-DP count release — q306's mechanism as a LIVE
    * per-batch emission (the 23rd stream/batch parity): running
    * per-group counts fold in keyed state (one long per group — the
    * groups are the release's own domain, bounded by definition), and
    * after every micro-batch the operator emits the complete noisy
    * release under q306's exact integer mechanism: noise = ctz(h₁) −
    * ctz(h₂) over the two salted Knuth words of the group key. The
    * noise is a pure function of the group, so every snapshot equals
    * the batch release over the arrived prefix, and the final
    * snapshot equals oracle-backed q306 row for row — the parity
    * StreamBatchParitySpec pins. (Production caveat carried over from
    * q306: a real DP release keys the noise on a fresh per-release
    * seed; only the noise input changes.) */
  def dpNoisyRelease(incoming: Dataset[(Long, java.sql.Timestamp)])
      : Dataset[DpSnap] = {
    import incoming.sparkSession.implicits._
    def ctz(h: Long): Long =
      if (h == 0) 20L else java.lang.Long.numberOfTrailingZeros(h).toLong
    incoming
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[DpState, DpSnap](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[DpState]) =>
          val st0 = state.getOption.getOrElse(DpState(0L, Map.empty))
          var counts = st0.counts
          rows.foreach { case (nation, _) =>
            counts = counts.updated(nation, counts.getOrElse(nation, 0L) + 1L)
          }
          val st = DpState(st0.batch + 1, counts)
          state.update(st)
          counts.toSeq.sortBy(_._1).iterator.map { case (nation, n) =>
            val noise = ctz(graft.Knuth.scalar(nation, 577L) % 1048576L) -
              ctz(graft.Knuth.scalar(nation, 9241L) % 1048576L)
            DpSnap(st.batch, nation, n + noise, noise, 693L)
          }
      }
  }
}
