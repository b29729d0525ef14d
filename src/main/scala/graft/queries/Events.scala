package graft.queries

import graft.{Det, Knuth, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream operators over the `events` table: JSON column access,
  * time-bucketed aggregation, and gap-based sessionization.
  *
  * `events.ts` is nanosecond-precision parquet; Spark reads it truncated
  * to microseconds, so every oracle casts to TIMESTAMP (µs) first and all
  * arithmetic is done in whole microseconds (FIXTURES.md caveat).
  *
  * Scale notes: sessionization shuffles once on user_id (the natural
  * partition key at 100 TB); time-bucket aggregation is a plain two-phase
  * hash aggregate on (bucket, event_type).
  */
object Events {
  import Det._

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val sessionGapUs: Long = 30L * 60 * 1000 * 1000 // 30 min

  /** The sketch input of q153, q160 and q162 (KMV, KMV algebra, HLL):
    * distinct (event_type, h) with h the mixed salted Knuth word of
    * user_id (salt 9176), as the WITH-clause entries `h0t → h2t → uh`. */
  private val userHashCte = s"""h0t AS (
          SELECT DISTINCT event_type, ${Knuth.sql("user_id", 9176L)} AS h0
          FROM events),
        h2t AS (
          SELECT event_type, ${Knuth.mixSql("h0")} AS h2 FROM h0t),
        uh AS (
          SELECT DISTINCT event_type, ${Knuth.mixEndSql("h2")} AS h FROM h2t)"""

  /** Spark side of [[userHashCte]]: the `uh(event_type, h)` frame. */
  private def userHashes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), Knuth.col(col("user_id"), 9176L).as("h0"))
      .withColumn("h2", Knuth.mixCol("h0"))
      .select(col("event_type"), Knuth.mixEndCol("h2").as("h"))
      .distinct()

  /** q105's rebuild semantics — the SCD2 islands of the full event log.
    * Shared: it is q105's oracle AND q179's (where the Spark side runs
    * the incremental APPLY and this full rebuild is the equality
    * witness). */
  private val scd2RebuildSql = """
        SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
               MIN(event_type) AS event_type,
               COUNT(*) AS n_events,
               MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS start_us,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS end_us
        FROM (
          SELECT user_id, ts, event_type,
                 SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
          FROM (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS DISTINCT FROM event_type
                        THEN 1 ELSE 0 END AS new_run
            FROM events) a) b
        GROUP BY user_id, CAST(run_id AS BIGINT)"""

  /** Spark side of [[scd2RebuildSql]]: same-type runs per user as
    * (user_id, run_id, event_type, n_events, start_us, end_us). */
  private def islandsOf(df: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("new_run",
        when(not(lag(col("event_type"), 1).over(order) <=> col("event_type")), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("new_run")).over(cum))
      .groupBy(col("user_id"), col("run_id"))
      .agg(min(col("event_type")).as("event_type"),
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
  }

  val all: Seq[Q] = Seq(
    // ---------------------------------------------------------------- q42
    // As-of join (graft.operators.AsOfJoin): each error event matched to
    // the user's most recent click at-or-before it. The right side is
    // pre-aggregated to one row per (user, instant) so the match is
    // deterministic in both engines. Oracle uses DuckDB's native ASOF.
    Q(
      "q42_asof_join",
      Some("""
        WITH clicks AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
                 CAST(MAX(event_id) AS BIGINT) AS click_id
          FROM events WHERE event_type = 'click'
          GROUP BY 1, 2),
        errors AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ets, event_id
          FROM events WHERE event_type = 'error')
        SELECT e.event_id, e.user_id, c.click_id,
               epoch_us(e.ets) - epoch_us(c.cts) AS gap_us
        FROM errors e ASOF LEFT JOIN clicks c
          ON e.user_id = c.user_id AND e.ets >= c.cts""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("cts"))
        .agg(max(col("event_id")).as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin.joinAsOf(
        errors, clicks, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "cts",
        payload = Seq("click_id", "cts"))
        .select(col("event_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
    },

    // ---------------------------------------------------------------- q47
    // Same as-of semantics as q42, executed by the native custom
    // operator (graft.plans.AsOfJoinExec — LogicalPlan + Strategy +
    // streaming-merge SparkPlan) instead of the union+window
    // composition. Same DuckDB ASOF oracle: three independent
    // implementations of one semantic must agree.
    Q(
      "q47_asof_native",
      Some("""
        WITH clicks AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
                 CAST(MAX(event_id) AS BIGINT) AS click_id
          FROM events WHERE event_type = 'click'
          GROUP BY 1, 2),
        errors AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ets, event_id
          FROM events WHERE event_type = 'error')
        SELECT e.event_id, e.user_id, c.click_id,
               epoch_us(e.ets) - epoch_us(c.cts) AS gap_us
        FROM errors e ASOF LEFT JOIN clicks c
          ON e.user_id = c.user_id AND e.ets >= c.cts""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("cts"))
        .agg(max(col("event_id")).as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin.joinAsOfNative(
        errors, clicks,
        key = "user_id", leftTime = "ts",
        rightKey = "c_user", rightTime = "cts")
        .select(col("event_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
    },

    // ---------------------------------------------------------------- q59
    // Native as-of join, composite key + tolerance: each error matched
    // to the most recent click by the SAME user on the SAME calendar
    // day, and only if the click is within 10 minutes — older matches
    // null out exactly like no match. Oracle: DuckDB ASOF with the same
    // two equality predicates, tolerance applied as a post-CASE (ASOF
    // picks the greatest cts <= ets, so if THAT match is out of
    // tolerance no in-tolerance match exists).
    Q(
      "q59_asof_multikey",
      Some("""
        WITH clicks AS (
          SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS cday,
                 CAST(ts AS TIMESTAMP) AS cts,
                 CAST(MAX(event_id) AS BIGINT) AS click_id
          FROM events WHERE event_type = 'click'
          GROUP BY 1, 2, 3),
        errors AS (
          SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS eday,
                 CAST(ts AS TIMESTAMP) AS ets, event_id
          FROM events WHERE event_type = 'error')
        SELECT e.event_id, e.user_id,
               CASE WHEN epoch_us(e.ets) - epoch_us(c.cts) <= 600000000
                    THEN c.click_id END AS click_id,
               CASE WHEN epoch_us(e.ets) - epoch_us(c.cts) <= 600000000
                    THEN epoch_us(e.ets) - epoch_us(c.cts) END AS gap_us
        FROM errors e ASOF LEFT JOIN clicks c
          ON e.user_id = c.user_id AND e.eday = c.cday AND e.ets >= c.cts""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), to_date(col("ts")).as("cday"),
          col("ts").as("cts"))
        .agg(max(col("event_id")).as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), to_date(col("ts")).as("eday"),
          col("ts"), col("event_id"))
      graft.operators.AsOfJoin.joinAsOfNative(
        errors, clicks,
        keys = Seq("user_id" -> "c_user", "eday" -> "cday"),
        leftTime = "ts", rightTime = "cts",
        tolerance = Some(600000000L)) // 10 min in µs
        .select(col("event_id"), col("user_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
    },

    // ---------------------------------------------------------------- q21
    // JSON column extraction (get_json_object ≅ json_extract_string).
    Q(
      "q21_events_json",
      Some("""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type""")
    ) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(k).as("sum_k"),
          min(k).as("min_k"), max(k).as("max_k"))
    },

    // ---------------------------------------------------------------- q22
    // Tumbling time window: hourly counts per event type.
    Q(
      "q22_time_window",
      Some("""
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2""")
    ) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    },

    // ---------------------------------------------------------------- q23
    // Gap-based sessionization (lag + cumulative flag), 30-minute gap.
    // Batch analogue of the Structured Streaming session_window path in
    // graft.streaming; oracle works in whole microseconds.
    Q(
      "q23_sessionize",
      Some("""
        SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
          SELECT user_id,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN prev_us IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM (
              SELECT user_id, ts, event_id,
                     LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
              FROM events) a) b) c
        GROUP BY user_id""")
    ) { (s, dir) =>
      val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(order))
        .withColumn("new_sess",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > sessionGapUs, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(cum))
        .groupBy(col("user_id"))
        .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
    },

    // ---------------------------------------------------------------- q24
    // Session-level stats: duration and size of each session.
    Q(
      "q24_session_stats",
      Some("""
        SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
               MAX(epoch_us(CAST(ts AS TIMESTAMP))) - MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS duration_us
        FROM (
          SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN prev_us IS NULL
                             OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM (
              SELECT user_id, ts, event_id,
                     LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
              FROM events) a) b) c
        GROUP BY user_id, CAST(sess_id AS BIGINT)""")
    ) { (s, dir) =>
      val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(order))
        .withColumn("new_sess",
          when(col("prev_us").isNull
            || unix_micros(col("ts")) - col("prev_us") > sessionGapUs, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(cum))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"))
    },

    // ---------------------------------------------------------------- q25
    // Lag/lead analytics: per-user time since previous event, bucketed.
    Q(
      "q25_event_gaps",
      Some("""
        SELECT event_type,
               COUNT(*) AS n_with_prev,
               CAST(SUM(CASE WHEN gap_us <= 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_minute
        FROM (
          SELECT event_type,
                 epoch_us(CAST(ts AS TIMESTAMP))
                   - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events) t
        WHERE gap_us IS NOT NULL
        GROUP BY event_type""")
    ) { (s, dir) =>
      val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(order))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_with_prev"),
          sum(when(col("gap_us") <= 60000000L, 1L).otherwise(0L)).as("n_within_minute"))
    },

    // ---------------------------------------------------------------- q63
    // Pure range join (NO equi key): every error event opens a 5-minute
    // incident window; count the clicks (any user) falling inside each.
    // A naive formulation is a BroadcastNestedLoopJoin — O(n·m) and a
    // whole-side broadcast; operators/RangeJoin buckets both sides on a
    // 5-minute granularity instead, so the plan is a hash-partitioned
    // equi-join on the bucket (each interval lands in ≤ 2 buckets, each
    // point in exactly 1 — every matched pair surfaces exactly once).
    // RangeJoinSpec pins result parity with the naive theta join AND
    // the no-nested-loop plan shape.
    Q(
      "q63_range_join",
      Some("""
        WITH incidents AS (
          SELECT event_id AS incident_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
                 epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e_us
          FROM events WHERE event_type = 'error'),
        clicks AS (
          SELECT event_id AS click_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
          FROM events WHERE event_type = 'click')
        SELECT incident_id, COUNT(*) AS n_clicks,
               MIN(click_id) AS first_click, MAX(click_id) AS last_click
        FROM incidents i JOIN clicks c ON c.t_us >= i.s_us AND c.t_us < i.e_us
        GROUP BY incident_id""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + 300000000L).as("e_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), unix_micros(col("ts")).as("t_us"))
      graft.operators.RangeJoin
        .pointInInterval(clicks, "t_us", incidents, "s_us", "e_us",
          bucketUs = 300000000L)
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("click_id")).as("first_click"),
          max(col("click_id")).as("last_click"))
    },

    // ---------------------------------------------------------------- q91
    // Weekly cohort retention: users are cohorted by the Monday week of
    // their FIRST event; each later active week counts them at offset
    // (active_week - cohort_week)/7 days. The classic product-analytics
    // matrix. Two keyed shuffles: min-per-user (partial-agg combine),
    // then distinct (user, week) rolled up by (cohort_week, offset);
    // cohort_size re-attaches with a window over the tiny matrix — the
    // corpus itself is never re-scanned. Both engines truncate weeks to
    // Monday and difference in whole days, so offsets are exact
    // integers.
    Q(
      "q91_cohort_retention",
      Some("""
        WITH firsts AS (
          SELECT user_id,
                 CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE) AS cohort_week
          FROM events GROUP BY user_id),
        active AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS active_week
          FROM events),
        cells AS (
          SELECT f.cohort_week,
                 CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS BIGINT) AS week_offset,
                 COUNT(*) AS n_active
          FROM active a JOIN firsts f ON f.user_id = a.user_id
          GROUP BY 1, 2)
        SELECT cohort_week, week_offset, n_active,
               MAX(CASE WHEN week_offset = 0 THEN n_active END)
                 OVER (PARTITION BY cohort_week) AS cohort_size
        FROM cells""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val firsts = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
      val active = ev
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("active_week"))
        .distinct()
      val cells = active.join(firsts, Seq("user_id"))
        .groupBy(col("cohort_week"),
          expr("datediff(active_week, cohort_week) div 7").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
      cells.withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active")))
          .over(Window.partitionBy("cohort_week")))
    },

    // ---------------------------------------------------------------- q92
    // Ordered funnel conversion: view → click (strictly after the first
    // view) → purchase (strictly after that click), per user, with the
    // total time spent advancing each stage. Each stage is one
    // aggregate keyed on user_id — the same single shuffle key
    // throughout, so at scale every stage co-partitions with the last
    // (no re-shuffle; and the per-stage tables shrink monotonically).
    // Exact-integer microsecond sums; one output row per stage.
    Q(
      "q92_funnel",
      Some("""
        WITH v AS (
          SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
          FROM events WHERE event_type = 'view' GROUP BY user_id),
        c AS (
          SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS c_us
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.v_us
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.c_us
          GROUP BY e.user_id)
        SELECT 1 AS step, 'view' AS stage, COUNT(*) AS n_users,
               CAST(0 AS BIGINT) AS total_advance_us FROM v
        UNION ALL
        SELECT 2, 'view>click', COUNT(*),
               CAST(SUM(c.c_us - v.v_us) AS BIGINT)
        FROM c JOIN v ON v.user_id = c.user_id
        UNION ALL
        SELECT 3, 'view>click>purchase', COUNT(*),
               CAST(SUM(p.p_us - c.c_us) AS BIGINT)
        FROM p JOIN c ON c.user_id = p.user_id""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("v_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("us") > col("v_us"))
        .groupBy("user_id").agg(min(col("us")).as("c_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("us") > col("c_us"))
        .groupBy("user_id").agg(min(col("us")).as("p_us"))
      val s1 = v.agg(count(lit(1)).as("n_users"))
        .select(lit(1).as("step"), lit("view").as("stage"), col("n_users"),
          lit(0L).as("total_advance_us"))
      val s2 = c.join(v, Seq("user_id"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("c_us") - col("v_us")).as("total_advance_us"))
        .select(lit(2).as("step"), lit("view>click").as("stage"),
          col("n_users"), col("total_advance_us"))
      val s3 = p.join(c, Seq("user_id"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("p_us") - col("c_us")).as("total_advance_us"))
        .select(lit(3).as("step"), lit("view>click>purchase").as("stage"),
          col("n_users"), col("total_advance_us"))
      s1.unionAll(s2).unionAll(s3)
    },

    // ---------------------------------------------------------------- q93
    // Time-series gap-fill + forward fill: per event type, the hourly
    // value series resampled onto a dense hour spine (sequence() from
    // the type's first to last hour) with empty hours carried forward
    // from the last observed hour. The spine generates per KEY — no
    // global driver-side range — and the fill is one running window
    // per key, so the whole query is partitioned by event_type at any
    // scale. Sums go through DECIMAL (order-free); the fill then
    // copies already-deterministic values.
    Q(
      "q93_gapfill",
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          FROM events GROUP BY 1, 2),
        span AS (
          SELECT event_type, MIN(hour_bucket) AS h0, MAX(hour_bucket) AS h1
          FROM hourly GROUP BY event_type),
        spine AS (
          SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_bucket
          FROM span)
        SELECT s.event_type, s.hour_bucket,
               COALESCE(h.n, 0) AS n,
               CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS is_gap,
               last_value(h.sum_value IGNORE NULLS)
                 OVER (PARTITION BY s.event_type ORDER BY s.hour_bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
        FROM spine s LEFT JOIN hourly h
          ON h.event_type = s.event_type AND h.hour_bucket = s.hour_bucket""")
    ) { (s, dir) =>
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("hour_bucket")).as("h0"), max(col("hour_bucket")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour_bucket"))
      val w = Window.partitionBy("event_type").orderBy("hour_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "hour_bucket"), "left")
        .select(col("event_type"), col("hour_bucket"),
          coalesce(col("n"), lit(0L)).as("n"),
          when(col("n").isNull, 1).otherwise(0).as("is_gap"),
          last(col("sum_value"), ignoreNulls = true).over(w).as("filled_sum"))
    },

    // ---------------------------------------------------------------- q105
    // Gaps-and-islands / SCD2 interval build: consecutive runs of the
    // same event_type per user collapse into validity intervals
    // [start_us, end_us] with run ordinals — the classic
    // state-history (slowly-changing-dimension) derivation. One lag
    // window flags run starts, a cumulative sum numbers the islands,
    // one aggregate per (user, run) emits the interval; everything
    // partitions on user_id (two window passes + one agg sharing the
    // key — a single exchange at scale).
    Q(
      "q105_scd2_islands",
      Some(scd2RebuildSql)
    ) { (s, dir) => islandsOf(t(s, dir, "events")) },

    // ---------------------------------------------------------------- q97
    // Behavioral transition matrix (first-order Markov estimate): for
    // each consecutive event pair within a user's timeline, count
    // (from_type → to_type) and report the row-normalized transition
    // probability. One lag window per user (the natural partition key)
    // + one hash aggregate over the 25-cell matrix; the normalizing
    // row total is a window over the tiny matrix, never the corpus.
    // p is one IEEE division of two exact longs — bit-identical in
    // both engines.
    Q(
      "q97_event_transitions",
      Some("""
        SELECT from_type, to_type, n,
               CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        FROM (
          SELECT from_type, to_type, COUNT(*) AS n,
                 CAST(SUM(COUNT(*)) OVER (PARTITION BY from_type) AS BIGINT) AS tot
          FROM (
            SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
                   event_type AS to_type
            FROM events) t
          WHERE from_type IS NOT NULL
          GROUP BY from_type, to_type) z""")
    ) { (s, dir) =>
      val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("from_type", lag(col("event_type"), 1).over(order))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("tot").cast("double")).as("p"))
    },

    // ---------------------------------------------------------------- q86
    // Click→purchase attribution: each purchase pairs with the same
    // user's clicks in the preceding 30 minutes — the KEYED interval
    // join (equi user key + time-range predicate) that complements
    // q63's no-equi-key range join. The hash join partitions on
    // user_id and the range predicate filters inside each key group,
    // so candidate work is per-user, never corpus². Mirrored as a
    // watermarked stream-stream join in StreamOps.attributionJoin
    // (parity-pinned by StreamBatchParitySpec).
    Q(
      "q86_attribution",
      Some("""
        WITH clicks AS (
          SELECT event_id AS click_id, user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
          FROM events WHERE event_type = 'click'),
        purch AS (
          SELECT event_id AS purchase_id, user_id AS u2,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
          FROM events WHERE event_type = 'purchase')
        SELECT c.click_id, p.purchase_id, c.user_id, p.p_us - c.c_us AS lag_us
        FROM clicks c JOIN purch p
          ON p.u2 = c.user_id AND p.p_us >= c.c_us
         AND p.p_us <= c.c_us + 1800000000""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_micros(col("ts")).as("c_us"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("u2"),
          unix_micros(col("ts")).as("p_us"))
      clicks.join(purch,
          col("u2") === col("user_id") && col("p_us") >= col("c_us") &&
            col("p_us") <= col("c_us") + 1800000000L)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (col("p_us") - col("c_us")).as("lag_us"))
    },

    // --------------------------------------------------------------- q118
    // CDC MERGE (upsert/delete apply): the even half of the event log
    // builds the base snapshot (latest value per user), the odd half is
    // the incoming change stream — compacted to the LATEST change per
    // key ('error' ⇒ DELETE, anything else ⇒ UPSERT), then applied with
    // one FULL OUTER merge join that classifies every key as kept /
    // updated / inserted / deleted / noop_delete. This is the reference's
    // delete-then-insert warehouse pattern (K4/G5) done as a distributed
    // MERGE: change-log compaction is one window per key, and the apply
    // is a single co-partitioned join — both sides hash on user_id, so
    // at 100 TB there is exactly one wide exchange per side and AQE
    // handles key skew. Ordering ties break on event_id (the log
    // sequence), so compaction is deterministic under duplicate
    // timestamps in both engines.
    Q(
      "q118_cdc_upsert",
      Some("""
        WITH base AS (
          SELECT user_id, value AS base_value
          FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
        chg AS (
          SELECT user_id, value AS chg_value, event_id AS chg_eid,
                 CASE WHEN event_type = 'error' THEN 'delete'
                      ELSE 'upsert' END AS op
          FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_id % 2 = 1) WHERE rn = 1)
        SELECT coalesce(b.user_id, c.user_id) AS user_id,
               CASE WHEN c.user_id IS NULL THEN 'kept'
                    WHEN c.op = 'delete' AND b.user_id IS NOT NULL THEN 'deleted'
                    WHEN c.op = 'delete' THEN 'noop_delete'
                    WHEN b.user_id IS NULL THEN 'inserted'
                    ELSE 'updated' END AS action,
               CASE WHEN c.user_id IS NULL THEN b.base_value
                    WHEN c.op = 'delete' THEN NULL
                    ELSE c.chg_value END AS final_value,
               c.chg_eid
        FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id""")
    ) { (s, dir) =>
      import graft.operators.CdcMerge
      val ev = t(s, dir, "events")
      val latestFirst = Seq(col("ts").desc, col("event_id").desc)
      val base = CdcMerge.compact(
          ev.filter(col("event_id") % 2 === 0), Seq("user_id"), latestFirst)
        .select(col("user_id"), col("value").as("base_value"))
      val chg = CdcMerge.compact(
          ev.filter(col("event_id") % 2 === 1), Seq("user_id"), latestFirst)
        .select(col("user_id"), col("value").as("chg_value"),
          col("event_id").as("chg_eid"),
          when(col("event_type") === "error", "delete").otherwise("upsert").as("op"))
      CdcMerge.merge(base, chg, "user_id", "base_value", "chg_value", "op")
        .select("user_id", "action", "final_value", "chg_eid")
    },

    // --------------------------------------------------------------- q126
    // Sequential motif mining: the top-15 3-event behavioral motifs
    // (ordered event-type trigrams within a user's stream) — q97's
    // transition matrix extended one order up, the sequence-pattern
    // primitive behind funnel discovery. Two lag windows share ONE
    // user_id exchange; the motif aggregate map-side combines over at
    // most |event_types|³ = 125 keys, and the top-15 executes as
    // TakeOrderedAndProject (never a global sort). (n desc, motif)
    // gives the total order.
    Q(
      "q126_motif_mining",
      Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type, 1) OVER w AS p1,
                 lag(event_type, 2) OVER w AS p2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT p2 || '>' || p1 || '>' || event_type AS motif,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE p2 IS NOT NULL
        GROUP BY motif ORDER BY n DESC, motif LIMIT 15""")
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("p1"),
          lag(col("event_type"), 2).over(w).as("p2"))
        .filter(col("p2").isNotNull)
        .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("motif"))
        .groupBy("motif").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("motif"))
        .limit(15)
    },

    // --------------------------------------------------------------- q128
    // Linear interpolation over the hourly spine — q93's gap-fill with
    // the other classic fill policy: a missing hour takes the
    // time-weighted blend of its nearest observed neighbors,
    // v = prev + (next − prev)·Δt/Δspan, instead of carrying prev
    // forward. Two IGNORE NULLS window passes (previous/next observed
    // value and ITS timestamp) over the same event_type partitioning —
    // the spine join and all four windows share one exchange. Leading/
    // trailing gaps (no neighbor on one side) stay NULL — declared,
    // identical in both engines. The blend fraction is exact integer
    // epoch-µs differences cast to double, so the IEEE arithmetic
    // matches cross-engine.
    Q(
      "q128_interpolate",
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
                 CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
          FROM events GROUP BY 1, 2),
        span AS (
          SELECT event_type, MIN(hour_bucket) AS h0, MAX(hour_bucket) AS h1
          FROM hourly GROUP BY event_type),
        spine AS (
          SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_bucket
          FROM span),
        j AS (
          SELECT s.event_type, s.hour_bucket, h.avg_value,
                 last_value(h.avg_value IGNORE NULLS) OVER wp AS prev_v,
                 last_value(CASE WHEN h.avg_value IS NOT NULL
                                 THEN s.hour_bucket END IGNORE NULLS) OVER wp AS prev_h,
                 first_value(h.avg_value IGNORE NULLS) OVER wf AS next_v,
                 first_value(CASE WHEN h.avg_value IS NOT NULL
                                  THEN s.hour_bucket END IGNORE NULLS) OVER wf AS next_h
          FROM spine s LEFT JOIN hourly h
            ON h.event_type = s.event_type AND h.hour_bucket = s.hour_bucket
          WINDOW wp AS (PARTITION BY s.event_type ORDER BY s.hour_bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wf AS (PARTITION BY s.event_type ORDER BY s.hour_bucket
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT event_type, hour_bucket,
               CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END AS interpolated,
               CASE WHEN avg_value IS NOT NULL THEN avg_value
                    WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
                    ELSE prev_v + (next_v - prev_v)
                         * (CAST(epoch_us(hour_bucket) - epoch_us(prev_h) AS DOUBLE)
                            / CAST(epoch_us(next_h) - epoch_us(prev_h) AS DOUBLE))
               END AS v
        FROM j""")
    ) { (s, dir) =>
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_bucket"))
        .agg(graft.Det.davg(col("value")).as("avg_value"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("hour_bucket")).as("h0"), max(col("hour_bucket")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour_bucket"))
      val wp = Window.partitionBy("event_type").orderBy("hour_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("event_type").orderBy("hour_bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsHour = when(col("avg_value").isNotNull, col("hour_bucket"))
      val frac = (unix_micros(col("hour_bucket")) - unix_micros(col("prev_h")))
        .cast("double") /
        (unix_micros(col("next_h")) - unix_micros(col("prev_h"))).cast("double")
      spine.join(hourly, Seq("event_type", "hour_bucket"), "left")
        .select(col("event_type"), col("hour_bucket"), col("avg_value"),
          last(col("avg_value"), ignoreNulls = true).over(wp).as("prev_v"),
          last(obsHour, ignoreNulls = true).over(wp).as("prev_h"),
          first(col("avg_value"), ignoreNulls = true).over(wf).as("next_v"),
          first(obsHour, ignoreNulls = true).over(wf).as("next_h"))
        .select(col("event_type"), col("hour_bucket"),
          when(col("avg_value").isNull, 1).otherwise(0).as("interpolated"),
          when(col("avg_value").isNotNull, col("avg_value"))
            .when(col("prev_v").isNull || col("next_v").isNull,
              lit(null).cast("double"))
            .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) * frac)
            .as("v"))
    },

    // --------------------------------------------------------------- q130
    // Sliding-window rate anomaly detection: each hour's event count
    // tests against its own TRAILING 24h baseline (per event type) —
    // the streaming-ops alert primitive. The 3σ test is q110's
    // cross-multiplied integer form applied to window frames:
    // (x·n − Σx)² > 9·(n·Σx² − (Σx)²) with Σx, Σx², n computed over
    // ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING — counts are integers,
    // so the whole decision is EXACT BIGINT, no sqrt/division/float
    // anywhere. Hours with under 12 baseline points abstain (flag
    // NULL). One hourly aggregate + one frame window = two exchanges
    // on event_type, both map-side-combined.
    Q(
      "q130_rate_anomaly",
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT event_type, hour_bucket, x,
                 CAST(COUNT(*) OVER w AS BIGINT) AS n,
                 CAST(SUM(x) OVER w AS BIGINT) AS sx,
                 CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
          FROM hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        SELECT event_type, hour_bucket, x, n, sx,
               CASE WHEN n < 12 THEN NULL
                    WHEN (x * n - sx) * (x * n - sx) > 9 * (n * sxx - sx * sx)
                    THEN 1 ELSE 0 END AS is_anomaly
        FROM st""")
    ) { (s, dir) =>
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_bucket"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("hour_bucket")
        .rowsBetween(-24, -1)
      val d = col("x") * col("n") - col("sx")
      hourly
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("x")).over(w))
        .withColumn("sxx", sum(col("x") * col("x")).over(w))
        .select(col("event_type"), col("hour_bucket"), col("x"), col("n"), col("sx"),
          when(col("n") < 12, lit(null).cast("int"))
            .when(d * d > lit(9L) * (col("n") * col("sxx") - col("sx") * col("sx")), 1)
            .otherwise(0).as("is_anomaly"))
    },

    // --------------------------------------------------------------- q145
    // Behavioral co-occurrence lift: for every event-type pair, how
    // much more often users perform BOTH on the same day than
    // independence predicts — the market-basket primitive on event
    // streams. Baskets are DISTINCT (user, day, type) rows (one keyed
    // dedup); the pair join runs over baskets per (user, day) with
    // type_a < type_b, so candidates per basket are ≤ C(types, 2) at
    // any corpus size. lift = n_ab·n_baskets/(n_a·n_b) — exact BIGINT
    // cross-products, one final double division.
    Q(
      "q145_cooccurrence_lift",
      Some("""
        WITH b AS (
          SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 event_type
          FROM events),
        nb AS (SELECT CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n FROM b),
        single AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n1
          FROM b GROUP BY event_type),
        pairs AS (
          SELECT x.event_type AS type_a, y.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS n_ab
          FROM b x JOIN b y
            ON x.user_id = y.user_id AND x.day = y.day
           AND x.event_type < y.event_type
          GROUP BY x.event_type, y.event_type)
        SELECT p.type_a, p.type_b, p.n_ab, sa.n1 AS n_a, sb.n1 AS n_b,
               CAST(p.n_ab * nb.n AS DOUBLE) / (sa.n1 * sb.n1) AS lift
        FROM pairs p
        JOIN single sa ON sa.event_type = p.type_a
        JOIN single sb ON sb.event_type = p.type_b
        CROSS JOIN nb""")
    ) { (s, dir) =>
      val b = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"), col("event_type"))
        .distinct()
      val nb = b.select("user_id", "day").distinct()
        .agg(count(lit(1)).as("n"))
      val single = b.groupBy("event_type").agg(count(lit(1)).as("n1"))
      val pairs = b.as("x")
        .join(b.as("y"),
          col("x.user_id") === col("y.user_id") && col("x.day") === col("y.day") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(single.select(col("event_type").as("type_a"), col("n1").as("n_a"))), "type_a")
        .join(broadcast(single.select(col("event_type").as("type_b"), col("n1").as("n_b"))), "type_b")
        .crossJoin(broadcast(nb))
        .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
          ((col("n_ab") * col("n")).cast("double") / (col("n_a") * col("n_b"))).as("lift"))
    },

    // --------------------------------------------------------------- q141
    // Activity heatmap: event counts + exact-decimal value totals by
    // (day-of-week, hour-of-day) per event type — the weekly-rhythm
    // matrix behind every ops dashboard. Exercises the calendar
    // extraction surface (dayofweek == DuckDB's 1-based Sunday=1
    // `dayofweek(ts)+1` — pinned here as the cross-engine contract);
    // one map-side-combined aggregate into ≤ 7·24·types rows.
    Q(
      "q141_activity_heatmap",
      Some("""
        SELECT event_type,
               CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2, 3""")
    ) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          dayofweek(col("ts")).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("n"),
          graft.Det.dsum(col("value")).as("total_value"))
    },

    // --------------------------------------------------------------- q142
    // Referential-integrity audit across the star schema: orphan
    // lineitems (no order), childless orders (no lineitem), dangling
    // customer keys on orders — the fact-table health report run
    // before any join-dependent pipeline. Three anti-join counts fold
    // into one row via broadcast one-row aggregates (no driver
    // collects); each anti join shuffles on its own key once, and the
    // dimension side of the customer check broadcasts.
    Q(
      "q142_ref_integrity",
      Some("""
        SELECT
          CAST((SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
            AS orphan_lineitems,
          CAST((SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                  WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT)
            AS childless_orders,
          CAST((SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
            AS dangling_custkeys,
          CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_lineitems,
          CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_orders""")
    ) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey")
      val orphan = li.join(o.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lineitems"))
      val childless = o.join(li, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("childless_orders"))
      val dangling = o.join(broadcast(c), col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("dangling_custkeys"))
      orphan
        .crossJoin(broadcast(childless))
        .crossJoin(broadcast(dangling))
        .crossJoin(broadcast(li.agg(count(lit(1)).as("n_lineitems"))))
        .crossJoin(broadcast(o.agg(count(lit(1)).as("n_orders"))))
    },

    // --------------------------------------------------------------- q152
    // Activity-concentration audit: the Gini coefficient of per-user
    // event counts plus the top-decile share — the inequality numbers
    // that justify a per-user contribution cap (a handful of power
    // users dominating a training stream is both a bias and a privacy
    // problem). Exact-integer rank form G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx)
    // with x ascending — computed WITHOUT ever ranking users: a global
    // user-rank window is a single-partition sort of the whole user
    // table (the scale trap). Instead the user counts collapse to the
    // DISTINCT-VALUE histogram (the q69/q75 move): a run of c users
    // sharing value x occupies ranks prev+1..prev+c, so its rank-sum
    // is c·prev + c(c+1)/2 exactly, and the decile boundary cuts a
    // run with greatest(0, least(c, prev+c−t)). Runs are
    // tie-order-invariant, so the result is deterministic with no
    // tiebreak at all. The only corpus shuffle is the user count; the
    // cumulative window runs over the tiny distinct-value table. All
    // sums exact BIGINT (declared bound: n_users·n_events < 2⁶³); the
    // two ratios are final divisions.
    Q(
      "q152_activity_gini",
      Some("""
        WITH ux AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY user_id),
        vx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM ux GROUP BY x),
        rk AS (
          SELECT x, c,
                 CAST(SUM(c) OVER (ORDER BY x
                   ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS prev,
                 CAST(SUM(c) OVER () AS BIGINT) AS n,
                 CAST(SUM(x * c) OVER () AS BIGINT) AS s
          FROM vx)
        SELECT CAST(MAX(n) AS BIGINT) AS n_users,
               CAST(MAX(s) AS BIGINT) AS n_events,
               CAST(2 * SUM(x * (c * prev + (c * (c + 1)) // 2))
                    - (MAX(n) + 1) * MAX(s) AS DOUBLE)
                 / (MAX(n) * MAX(s)) AS gini,
               CAST(SUM(x * greatest(0, least(c, prev + c - (n - n // 10))))
                 AS DOUBLE) / MAX(s) AS top_decile_share
        FROM rk""")
    ) { (s, dir) =>
      val ux = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("x"))
      val vx = ux.groupBy("x").agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("x")).rowsBetween(Window.unboundedPreceding, 0)
      val rk = vx
        .withColumn("prev", sum(col("c")).over(w) - col("c"))
        .crossJoin(broadcast(vx.agg(sum(col("c")).as("n"),
          sum(col("x") * col("c")).as("s"))))
      rk.agg(
        max(col("n")).as("n_users"),
        max(col("s")).as("n_events"),
        ((sum(col("x") * (col("c") * col("prev") +
            expr("(c * (c + 1)) div 2"))) * 2
          - (max(col("n")) + 1) * max(col("s"))).cast("double")
          / (max(col("n")) * max(col("s"))).cast("double")).as("gini"),
        (sum(col("x") * greatest(lit(0L), least(col("c"),
            col("prev") + col("c") - (col("n") - expr("n div 10")))))
          .cast("double") / max(col("s")).cast("double")).as("top_decile_share"))
    },

    // --------------------------------------------------------------- q153
    // KMV distinct-count sketch audit: per event type, the k-minimum-
    // values estimate of distinct users vs the exact count. The engine
    // already exposes Spark's HLL++ (q45), but its estimate is engine-
    // internal so that oracle is only a bounds flag; KMV is the sketch
    // this engine can PROVE — pure integer arithmetic on the salted
    // Knuth hash, bit-identical in both engines: keep the k=64 smallest
    // distinct hash values; with d < k the sketch holds the whole set
    // (estimate exact by construction — the sf0.001 path), otherwise
    // est = (k−1)·2³² div h₍ₖ₎. The sketch is mergeable (the k smallest
    // of a union are among the union of k-smallests — the property that
    // makes it a per-partition/per-day aggregate at 100 TB), realized
    // here by the bounded-heap TopKAggregator on score −h: map-side
    // partials ship ≤ k rows per group, O(groups×k) shuffle. The one
    // corpus shuffle is the (type, hash) DISTINCT, which the exact side
    // of the audit needs anyway; a production sketch dedups inside the
    // buffer instead. The bare Knuth multiply is NOT enough here: on
    // consecutive user_ids a multiplicative hash is a low-discrepancy
    // lattice whose k-th order statistic sits at exactly k/n·2³² — the
    // estimate comes out exact and the audit measures nothing. Two
    // xor-shift + one odd-multiply finalizer rounds (the standard
    // murmur-style avalanche, written as xor + div-by-2ᵖ so both
    // engines share the arithmetic; the 1597334677 multiplier keeps
    // h·m < 2⁶³) break the lattice; the mix stays injective (xor-shift
    // and odd multiply are bijections mod 2³²), so hashes carry no
    // ties and the error columns are exact integers:
    // |est−exact|·1000 div exact.
    Q(
      "q153_kmv_distinct",
      Some(s"""
        WITH $userHashCte,
        rk AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS r,
                 COUNT(*) OVER (PARTITION BY event_type) AS d
          FROM uh),
        sk AS (
          SELECT event_type,
                 CAST(MAX(d) AS BIGINT) AS exact_distinct,
                 CAST(CASE WHEN MAX(d) < 64 THEN MAX(d)
                      ELSE (63 * 4294967296) // MAX(CASE WHEN r = 64 THEN h END)
                      END AS BIGINT) AS kmv_estimate
          FROM rk WHERE r <= 64 GROUP BY event_type)
        SELECT event_type, exact_distinct, kmv_estimate,
               CAST(CASE WHEN kmv_estimate > exact_distinct THEN 1
                         WHEN kmv_estimate < exact_distinct THEN -1
                         ELSE 0 END AS BIGINT) AS err_sign,
               CAST((abs(kmv_estimate - exact_distinct) * 1000)
                    // exact_distinct AS BIGINT) AS abs_err_permille
        FROM sk""")
    ) { (s, dir) =>
      val uh = userHashes(s, dir)
      val topk = udaf(new graft.functions.TopKAggregator(64),
        graft.functions.TopK.inputEncoder)
      val sk = uh.groupBy("event_type")
        .agg(count(lit(1)).as("exact_distinct"),
          topk(col("h"), -col("h").cast("double")).as("sk"))
        .withColumn("kmv_estimate",
          when(size(col("sk")) < 64, size(col("sk")).cast("long"))
            .otherwise(expr(
              "(63 * 4294967296) div " +
                "aggregate(sk, 0L, (m, x) -> greatest(m, x.vec_id))")))
      sk.select(col("event_type"), col("exact_distinct"), col("kmv_estimate"),
        (when(col("kmv_estimate") > col("exact_distinct"), 1L)
          .when(col("kmv_estimate") < col("exact_distinct"), -1L)
          .otherwise(0L)).as("err_sign"),
        expr("(abs(kmv_estimate - exact_distinct) * 1000) div exact_distinct")
          .as("abs_err_permille"))
    },

    // --------------------------------------------------------------- q160
    // KMV set algebra: the property that makes q153's sketch an ENGINE
    // primitive rather than a counter — two per-group sketches merge
    // into the sketch OF THE UNION (the k smallest of A∪B are among
    // the union of the two k-smallest sets), so union cardinality,
    // Jaccard, and intersection estimates for every event-type pair
    // come from the 5-row sketch table alone, no re-scan of the
    // corpus. est(|A∪B|) = (k−1)·2³² div h₍ₖ₎ of the merged sketch
    // (exact when the merged sketch holds < k values — then it IS the
    // union); Jaccard = share of merged values present in BOTH input
    // sketches (the standard KMV coincidence estimator); intersection
    // = Jaccard · union. All arithmetic is exact BIGINT on the q153
    // hash, so estimates are bit-identical cross-engine; the exact
    // sides ride the same distinct-(type, hash) table the sketches
    // are built from — one corpus DISTINCT, one hash-keyed self-join
    // (each hash appears once per type, so fanout ≤ #types²), and
    // O(types²) sketch-merge rows. At 100 TB the sketches are the
    // only thing that moves: ≤ k values per group, mergeable across
    // partitions, days, and sources.
    Q(
      "q160_kmv_algebra",
      Some(s"""
        WITH $userHashCte,
        rk AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS r,
                 COUNT(*) OVER (PARTITION BY event_type) AS d
          FROM uh),
        sk AS (
          SELECT event_type, CAST(MAX(d) AS BIGINT) AS d,
                 list_sort(list(h)) AS ska
          FROM rk WHERE r <= 64 GROUP BY event_type),
        pr AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 a.d AS da, b.d AS db, a.ska AS ska, b.ska AS skb
          FROM sk a JOIN sk b ON a.event_type < b.event_type),
        mgd AS (
          SELECT *, list_sort(list_distinct(ska || skb))[1:64] AS mg FROM pr),
        est AS (
          SELECT type_a, type_b, da, db, mg,
                 CAST(len(list_filter(mg, x -> list_contains(ska, x)
                                              AND list_contains(skb, x)))
                   AS BIGINT) AS n_shared,
                 CAST(CASE WHEN len(mg) < 64 THEN len(mg)
                      ELSE (63 * 4294967296) // mg[64] END AS BIGINT) AS union_est
          FROM mgd),
        ix AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS inter_exact
          FROM uh a JOIN uh b
            ON a.h = b.h AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT e.type_a, e.type_b,
               CAST(e.da + e.db - COALESCE(ix.inter_exact, 0) AS BIGINT)
                 AS union_exact,
               e.union_est,
               CAST(COALESCE(ix.inter_exact, 0) AS BIGINT) AS inter_exact,
               CAST((e.n_shared * e.union_est) // len(e.mg) AS BIGINT) AS inter_est,
               CAST((1000 * COALESCE(ix.inter_exact, 0))
                    // (e.da + e.db - COALESCE(ix.inter_exact, 0)) AS BIGINT)
                 AS jacc_exact_permille,
               CAST((1000 * e.n_shared) // len(e.mg) AS BIGINT)
                 AS jacc_est_permille
        FROM est e LEFT JOIN ix
          ON ix.type_a = e.type_a AND ix.type_b = e.type_b""")
    ) { (s, dir) =>
      val uh = userHashes(s, dir)
      val topk = udaf(new graft.functions.TopKAggregator(64),
        graft.functions.TopK.inputEncoder)
      val sk = uh.groupBy("event_type")
        .agg(count(lit(1)).as("d"), topk(col("h"), -col("h").cast("double")).as("sk0"))
        .withColumn("ska", expr("array_sort(transform(sk0, x -> x.vec_id))"))
        .drop("sk0")
      val pr = sk.select(col("event_type").as("type_a"), col("d").as("da"),
          col("ska"))
        .join(broadcast(sk.select(col("event_type").as("type_b"),
          col("d").as("db"), col("ska").as("skb"))),
          col("type_a") < col("type_b"))
      val est = pr
        .withColumn("mg", expr("slice(array_sort(array_union(ska, skb)), 1, 64)"))
        .withColumn("n_shared",
          expr("CAST(size(array_intersect(array_intersect(mg, ska), skb)) AS BIGINT)"))
        .withColumn("union_est",
          when(size(col("mg")) < 64, size(col("mg")).cast("long"))
            .otherwise(expr("(63 * 4294967296) div element_at(mg, 64)")))
      val ix = uh.select(col("event_type").as("type_a"), col("h"))
        .join(uh.select(col("event_type").as("type_b"), col("h")), Seq("h"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("inter_exact"))
      est.join(ix, Seq("type_a", "type_b"), "left")
        .withColumn("inter_exact", coalesce(col("inter_exact"), lit(0L)))
        .select(col("type_a"), col("type_b"),
          (col("da") + col("db") - col("inter_exact")).as("union_exact"),
          col("union_est"),
          col("inter_exact"),
          expr("(n_shared * union_est) div size(mg)").as("inter_est"),
          expr("(1000 * inter_exact) div (da + db - inter_exact)")
            .as("jacc_exact_permille"),
          expr("(1000L * n_shared) div size(mg)").as("jacc_est_permille"))
    },

    // --------------------------------------------------------------- q162
    // HyperLogLog register sketch audit — the fixed-memory complement
    // to q153's KMV: the same mixed hash routes each distinct user to
    // one of m=64 registers (j = h % 64) and the register keeps the
    // MAX rank (leading-zero count + 1) of the remaining 26 bits —
    // so per group the whole sketch is 64 small ints, mergeable by
    // elementwise max across partitions, days, and sources, and the
    // raw Flajolet estimate α·m²/Σ2^(−Mⱼ) comes out of one register
    // scan. EVERY step is exact integer arithmetic both engines
    // replay bit-identically: rank = 27 − bitlen(w) via the binary
    // string (no float log2), Σ2^(−Mⱼ) is scaled by 2²⁷ into an
    // exact BIGINT sum, and the estimate is one integer division
    // with α₆₄ = 0.709 carried as the literal 709/1000. Small-range
    // (linear-counting) correction is deliberately NOT applied — the
    // audit reports the RAW estimator against the exact count, and
    // n_zero_registers is exactly the statistic a production caller
    // needs to decide the correction. Scale: the corpus contributes
    // one distinct-(type, hash) pass (shared with q153); everything
    // after is O(types × 64).
    Q(
      "q162_hll_distinct",
      Some(s"""
        WITH $userHashCte,
        reg AS (
          SELECT event_type, h % 64 AS j,
                 CASE WHEN h // 64 = 0 THEN 27
                      ELSE 27 - length(bin(h // 64)) END AS rho
          FROM uh),
        mx AS (SELECT event_type, j, MAX(rho) AS m FROM reg GROUP BY 1, 2),
        ag AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_hit,
                 CAST(SUM(CAST(pow(2, 27 - m) AS BIGINT)) AS BIGINT) AS s_hit
          FROM mx GROUP BY event_type),
        ex AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
          FROM uh GROUP BY event_type),
        fin AS (
          SELECT ex.event_type, ex.exact_distinct,
                 ag.n_hit,
                 ag.s_hit + (64 - ag.n_hit) * 134217728 AS s
          FROM ex JOIN ag USING (event_type))
        SELECT event_type, exact_distinct,
               CAST(n_hit AS BIGINT) AS n_registers_hit,
               CAST(64 - n_hit AS BIGINT) AS n_zero_registers,
               CAST(s AS BIGINT) AS sum_scaled,
               CAST(${709L * 4096L * 134217728L} // (1000 * s) AS BIGINT)
                 AS hll_estimate,
               CAST(CASE WHEN ${709L * 4096L * 134217728L} // (1000 * s)
                              > exact_distinct THEN 1
                         WHEN ${709L * 4096L * 134217728L} // (1000 * s)
                              < exact_distinct THEN -1
                         ELSE 0 END AS BIGINT) AS err_sign,
               CAST((abs(${709L * 4096L * 134217728L} // (1000 * s)
                         - exact_distinct) * 1000) // exact_distinct AS BIGINT)
                 AS abs_err_permille
        FROM fin""")
    ) { (s, dir) =>
      val uh = userHashes(s, dir)
      val reg = uh.select(col("event_type"), (col("h") % 64).as("j"),
        when(expr("h div 64") === 0, lit(27L))
          .otherwise(lit(27L) - length(expr("bin(h div 64)")).cast("long"))
          .as("rho"))
      val mx = reg.groupBy("event_type", "j").agg(max(col("rho")).as("m"))
      val ag = mx.groupBy("event_type")
        .agg(count(lit(1)).as("n_hit"),
          sum(expr("CAST(pow(2, 27 - m) AS BIGINT)")).as("s_hit"))
      val ex = uh.groupBy("event_type").agg(count(lit(1)).as("exact_distinct"))
      val alphaNum = 709L * 4096L * 134217728L
      ex.join(ag, "event_type")
        .withColumn("s", col("s_hit") + (lit(64L) - col("n_hit")) * lit(134217728L))
        .withColumn("hll_estimate", expr(s"$alphaNum div (1000 * s)"))
        .select(col("event_type"), col("exact_distinct"),
          col("n_hit").as("n_registers_hit"),
          (lit(64L) - col("n_hit")).as("n_zero_registers"),
          col("s").as("sum_scaled"),
          col("hll_estimate"),
          when(col("hll_estimate") > col("exact_distinct"), 1L)
            .when(col("hll_estimate") < col("exact_distinct"), -1L)
            .otherwise(0L).as("err_sign"),
          expr("(abs(hll_estimate - exact_distinct) * 1000) div exact_distinct")
            .as("abs_err_permille"))
    },

    // --------------------------------------------------------------- q168
    // Exponentially time-decayed activity scores — the freshness
    // weighting a recency-aware sampler or trending ranker applies:
    // each event contributes 1024 >> min(age_weeks, 10) (half-life one
    // week, floor 1 — a pure bit shift, no libm exp), ages measured in
    // exact integer days back from the corpus' MAX timestamp (a
    // deterministic anchor both engines agree on; epoch-µs arithmetic,
    // no calendar functions). Per event type the report carries the raw
    // count, the decayed score, the decayed-to-raw permille (how
    // front-loaded the type's activity is), and BOTH rankings — the
    // rank_shift column is the headline: a type whose decayed rank
    // beats its raw rank is trending. Scale: one corpus pass into a
    // map-side-combined per-type aggregate; the anchor is a one-row
    // broadcast; the rank windows run over the ≤ #types row aggregate
    // (the single-partition window is in type space, never corpus
    // space).
    Q(
      "q168_decay_counts",
      Some("""
        WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
        w AS (
          SELECT event_type,
                 1024 >> CAST(least((epoch_us(anchor.mx) - epoch_us(ts))
                                      // 604800000000, 10) AS INT) AS wt
          FROM events CROSS JOIN anchor),
        ag AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS raw_n,
                 CAST(SUM(wt) AS BIGINT) AS decayed
          FROM w GROUP BY event_type)
        SELECT event_type, raw_n, decayed,
               (1000 * decayed) // (1024 * raw_n) AS freshness_permille,
               CAST(ROW_NUMBER() OVER (ORDER BY raw_n DESC, event_type)
                 AS BIGINT) AS raw_rank,
               CAST(ROW_NUMBER() OVER (ORDER BY decayed DESC, event_type)
                 AS BIGINT) AS decayed_rank,
               CAST(ROW_NUMBER() OVER (ORDER BY raw_n DESC, event_type)
                 AS BIGINT)
                 - CAST(ROW_NUMBER() OVER (ORDER BY decayed DESC, event_type)
                     AS BIGINT) AS rank_shift
        FROM ag""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val anchor = broadcast(ev.agg(max(col("ts")).as("mx")))
      val ag = ev.crossJoin(anchor)
        .withColumn("wt", expr(
          "shiftright(1024, cast(least((unix_micros(mx) - unix_micros(ts)) " +
            "div 604800000000, 10) as int))"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("raw_n"), sum(col("wt")).as("decayed"))
      val wRaw = org.apache.spark.sql.expressions.Window
        .orderBy(col("raw_n").desc, col("event_type"))
      val wDec = org.apache.spark.sql.expressions.Window
        .orderBy(col("decayed").desc, col("event_type"))
      ag.select(col("event_type"), col("raw_n"), col("decayed"),
          expr("(1000 * decayed) div (1024 * raw_n)").as("freshness_permille"),
          row_number().over(wRaw).cast("long").as("raw_rank"),
          row_number().over(wDec).cast("long").as("decayed_rank"))
        .withColumn("rank_shift", col("raw_rank") - col("decayed_rank"))
    },

    // --------------------------------------------------------------- q170
    // Heavy-hitters report: per event type the top-3 users by event
    // count with their traffic share — the abuse/contribution-cap
    // number behind q79's per-source cap and the batch anchor for the
    // streaming SpaceSaving operator (StreamOps.spaceSavingTopK, whose
    // parity spec pins against this query). The per-type top-k rides
    // the bounded-heap TopKAggregator (q40's): map-side partial top-k
    // ships O(types × k) shuffle rows, never the per-type user list a
    // row_number window would sort — the shape that survives a 100×
    // user-count scale-up. Tiebreak (n desc, user_id asc) is the
    // aggregator's total order, mirrored in the oracle's window.
    Q(
      "q170_heavy_hitters",
      Some("""
        WITH c AS (
          SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
          FROM c GROUP BY 1),
        rk AS (
          SELECT event_type, user_id, n,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY n DESC, user_id) AS BIGINT) AS rnk
          FROM c)
        SELECT r.event_type, r.rnk, r.user_id, r.n,
               (1000 * r.n) // t.total AS share_permille
        FROM rk r JOIN tot t USING (event_type) WHERE r.rnk <= 3""")
    ) { (s, dir) =>
      val c = t(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      val topk = udaf(new graft.functions.TopKAggregator(3),
        graft.functions.TopK.inputEncoder)
      c.groupBy("event_type")
        .agg(sum(col("n")).as("total"),
          topk(col("user_id"), col("n").cast("double")).as("tk"))
        .select(col("event_type"), col("total"), posexplode(col("tk")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.vec_id").as("user_id"),
          col("col.score").cast("long").as("n"), col("total"))
        .withColumn("share_permille", expr("(1000 * n) div total"))
        .drop("total")
    },

    // --------------------------------------------------------------- q171
    // Incremental aggregate maintenance (the IVM algebra): the LAST
    // day's events are the CDC delta, everything before is the base;
    // the maintained aggregate is base_agg ⊕ delta_agg — counts add,
    // exact-decimal sums add — and the query emits the merged result
    // NEXT TO a full recompute with a consistency flag, so the oracle
    // hash-pins the algebra itself (merge == recompute, per type, both
    // engines). This is the contract that lets a 100 TB gold table
    // refresh at delta cost: the merge touches only the delta rows and
    // the aggregate-sized base table, never the base corpus — the
    // full-recompute side exists here purely as the in-query witness.
    // The full-outer merge handles types present only in the delta (or
    // only in the base) via zero identities, exactly how a production
    // maintainer must. Sums stay DECIMAL(18,4) through the merge and
    // cast to double once at the end, so merged and recomputed bits
    // are identical (decimal addition is associative; the q-family
    // determinism rule).
    Q(
      "q171_incremental_agg",
      Some("""
        WITH ev AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(value AS DECIMAL(18,4)) AS v
          FROM events),
        mx AS (SELECT MAX(d) AS mxd FROM ev),
        base AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_base,
                 CAST(SUM(v) AS DECIMAL(18,4)) AS s_base
          FROM ev CROSS JOIN mx WHERE d < mxd GROUP BY 1),
        delta AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_delta,
                 CAST(SUM(v) AS DECIMAL(18,4)) AS s_delta
          FROM ev CROSS JOIN mx WHERE d = mxd GROUP BY 1),
        merged AS (
          SELECT COALESCE(b.event_type, dl.event_type) AS event_type,
                 COALESCE(b.n_base, 0) AS n_base,
                 COALESCE(dl.n_delta, 0) AS n_delta,
                 COALESCE(b.n_base, 0) + COALESCE(dl.n_delta, 0) AS n_merged,
                 CAST(COALESCE(b.s_base, 0) + COALESCE(dl.s_delta, 0)
                   AS DECIMAL(18,4)) AS s_merged
          FROM base b FULL JOIN delta dl USING (event_type)),
        full_ AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_full,
                 CAST(SUM(v) AS DECIMAL(18,4)) AS s_full
          FROM ev GROUP BY 1)
        SELECT m.event_type, m.n_base, m.n_delta, m.n_merged,
               CAST(m.s_merged AS DOUBLE) AS sum_merged,
               f.n_full, CAST(f.s_full AS DOUBLE) AS sum_full,
               m.n_merged = f.n_full AND m.s_merged = f.s_full AS consistent
        FROM merged m JOIN full_ f USING (event_type)""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("d"),
          Det.dec(col("value")).as("v"))
      val mx = broadcast(ev.agg(max(col("d")).as("mxd")))
      val tagged = ev.crossJoin(mx)
      def agg(df: DataFrame, nm: String): DataFrame =
        df.groupBy("event_type").agg(count(lit(1)).as(s"n_$nm"),
          sum(col("v")).cast(DecimalType(18, 4)).as(s"s_$nm"))
      val base = agg(tagged.filter(col("d") < col("mxd")), "base")
      val delta = agg(tagged.filter(col("d") === col("mxd")), "delta")
      val merged = base.join(delta, Seq("event_type"), "full")
        .select(col("event_type"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
            .as("n_merged"),
          (coalesce(col("s_base"), lit(0).cast(DecimalType(18, 4))) +
            coalesce(col("s_delta"), lit(0).cast(DecimalType(18, 4))))
            .cast(DecimalType(18, 4)).as("s_merged"))
      val full = agg(ev, "full")
      merged.join(full, "event_type")
        .select(col("event_type"), col("n_base"), col("n_delta"),
          col("n_merged"), col("s_merged").cast("double").as("sum_merged"),
          col("n_full"), col("s_full").cast("double").as("sum_full"),
          (col("n_merged") === col("n_full") &&
            col("s_merged") === col("s_full")).as("consistent"))
    },

    // --------------------------------------------------------------- q173
    // AMS F₂ sketch audit — the second-moment estimator next to the
    // engine's other provable sketches (q153 KMV = F₀ values, q162 HLL
    // = F₀ memory, q85 count-min = point freq): F₂ = Σ f_u² over
    // per-user counts IS the self-join row count, the number a
    // planner's join-size estimate needs before picking a strategy.
    // Sixteen ±1 sign counters per event type (sign = bit j of the
    // xor-shift-mixed salted hash — the q166-calibrated family
    // discipline), each counter's square is an unbiased F₂ estimate;
    // the audit reports the 16-counter mean vs the exact value, all in
    // exact BIGINT (counters |ctr| ≤ N so squares stay far under 2⁶³;
    // the mean is one integer division). Counters are SUMS — partition
    // -mergeable, so at 100 TB this is a per-partition map-side fold
    // like every sketch here; the corpus pays the one (type, user)
    // count shuffle it shares with q170, everything after is 16
    // columns per type. No libm, no floats — both engines replay the
    // estimate bit-identically.
    Q(
      "q173_ams_f2",
      Some {
        val mixH =
          s"""SELECT event_type, c, ${Knuth.mixEndSql("h2")} AS h FROM (
               SELECT event_type, c, ${Knuth.mixSql("h0")} AS h2
               FROM (
                 SELECT event_type, c, (${graft.Knuth.sql("user_id", 5711L)}) AS h0
                 FROM c) t0) t1"""
        val ctrs = (0 until 16).map(j =>
          s"CAST(SUM(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN c ELSE -c END) AS BIGINT) AS ctr$j")
          .mkString(",\n                 ")
        val sq = (0 until 16).map(j => s"ctr$j * ctr$j").mkString(" + ")
        s"""
        WITH c AS (
          SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        hh AS ($mixH),
        sk AS (
          SELECT event_type,
                 CAST(SUM(c * c) AS BIGINT) AS f2_exact,
                 $ctrs
          FROM hh GROUP BY event_type),
        est AS (
          SELECT event_type, f2_exact, ($sq) // 16 AS f2_est FROM sk)
        SELECT event_type, f2_exact, f2_est,
               CAST(CASE WHEN f2_est > f2_exact THEN 1
                         WHEN f2_est < f2_exact THEN -1 ELSE 0 END AS BIGINT)
                 AS err_sign,
               (abs(f2_est - f2_exact) * 1000) // f2_exact
                 AS abs_err_permille
        FROM est"""
      }
    ) { (s, dir) =>
      val c = t(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      val hh = c
        .withColumn("h0", expr(graft.Knuth.sql("user_id", 5711L)))
        .withColumn("h2", Knuth.mixCol("h0"))
        .withColumn("h", Knuth.mixEndCol("h2"))
      val ctrAggs = (0 until 16).map(j =>
        sum(when(expr(s"(h div ${1L << j}) % 2 = 1"), col("c"))
          .otherwise(-col("c"))).cast("long").as(s"ctr$j"))
      val aggCols = sum(expr("c * c")).cast("long").as("f2_exact") +: ctrAggs
      val sk = hh.groupBy("event_type").agg(aggCols.head, aggCols.tail: _*)
      val sq = (0 until 16).map(j => s"ctr$j * ctr$j").mkString(" + ")
      sk.withColumn("f2_est", expr(s"($sq) div 16"))
        .select(col("event_type"), col("f2_exact"), col("f2_est"),
          when(col("f2_est") > col("f2_exact"), 1L)
            .when(col("f2_est") < col("f2_exact"), -1L)
            .otherwise(0L).as("err_sign"),
          expr("(abs(f2_est - f2_exact) * 1000) div f2_exact")
            .as("abs_err_permille"))
    },

    // --------------------------------------------------------------- q176
    // Watermark-lateness audit: per event type, how far events arrive
    // BEHIND the stream's running maximum timestamp when replayed in
    // ingest order (event_id — the arrival sequence). This is the
    // measurement that PICKS a Structured Streaming watermark: the
    // StreamOps operators declare "1 hour" / "2 hours", and this query
    // reports exactly how much data those bounds would drop (n_late_1h
    // is the would-be-dropped count) next to the disorder profile
    // (late share, max skew, mean skew). All exact epoch-µs integers;
    // the running max is a keyed window in (type, arrival) order with
    // an explicit ROWS frame so both engines bind the same frame —
    // partitioned by type, so nothing global; the rollup shares the
    // window's partitioning.
    Q(
      "q176_lateness_audit",
      Some("""
        WITH o AS (
          SELECT event_type, epoch_us(ts) AS us,
                 MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                   ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
          FROM events),
        l AS (SELECT event_type, runmax - us AS late FROM o)
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_late,
               CAST((1000 * SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END))
                 // COUNT(*) AS BIGINT) AS late_permille,
               CAST(SUM(CASE WHEN late > 3600000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_late_1h,
               CAST(MAX(late) // 1000000 AS BIGINT) AS max_late_s,
               CAST(SUM(late) // COUNT(*) AS BIGINT) AS mean_late_us
        FROM l GROUP BY event_type""")
    ) { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("late", max(col("us")).over(w) - col("us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late") > 0, 1L).otherwise(0L)).as("n_late"),
          expr("(1000 * sum(CASE WHEN late > 0 THEN 1 ELSE 0 END)) div count(1)")
            .as("late_permille"),
          sum(when(col("late") > 3600000000L, 1L).otherwise(0L))
            .as("n_late_1h"),
          expr("max(late) div 1000000").as("max_late_s"),
          expr("sum(late) div count(1)").as("mean_late_us"))
    },

    // --------------------------------------------------------------- q177
    // Peak concurrency by TWO-PHASE distributed prefix sum: every
    // event opens a 30-minute interval, deltas (+1 at start, −1 at
    // end, half-open so an end and a start at the same instant never
    // overcount: the −1 sorts first) accumulate into the running
    // active count, whose maximum is the capacity number a serving
    // fleet is sized on. The SCALE move is the decomposition: phase 1
    // runs the cumulative sum INSIDE each (type, day) partition (a
    // keyed window — thousands of independent partitions at 100 TB);
    // phase 2 computes day-level carry-ins by a window over the tiny
    // per-day totals table; concurrency = carry + local. The oracle
    // runs the textbook single global window per type — equality IS
    // the proof that the decomposition is exact, which is what lets
    // this engine avoid the one-giant-sort plan a naive window needs.
    // The (type, day) join back onto the phase-1 frame reuses its
    // partitioning. Ties: max is reached at the last +1 of its
    // timestamp in both forms; t_at_max is the earliest such instant.
    Q(
      "q177_max_concurrency",
      Some("""
        WITH iv AS (
          SELECT event_type, epoch_us(ts) AS t0,
                 epoch_us(ts) + 1800000000 AS t1
          FROM events),
        deltas AS (
          SELECT event_type, t0 AS t, 1 AS dlt FROM iv
          UNION ALL
          SELECT event_type, t1, -1 FROM iv),
        runs AS (
          SELECT event_type, t, dlt,
                 CAST(SUM(dlt) OVER (PARTITION BY event_type
                   ORDER BY t, dlt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS conc
          FROM deltas),
        nv AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals
          FROM iv GROUP BY 1),
        mx AS (
          SELECT event_type, MAX(conc) AS max_concurrency
          FROM runs GROUP BY 1)
        SELECT r.event_type, nv.n_intervals, m.max_concurrency,
               CAST(MIN(r.t) AS BIGINT) AS t_at_max
        FROM runs r
        JOIN mx m ON m.event_type = r.event_type
          AND r.conc = m.max_concurrency
        JOIN nv ON nv.event_type = r.event_type
        GROUP BY r.event_type, nv.n_intervals, m.max_concurrency""")
    ) { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("t0"))
        .withColumn("t1", col("t0") + 1800000000L)
      val deltas = iv.select(col("event_type"), explode(array(
          struct(col("t0").as("t"), lit(1).as("dlt")),
          struct(col("t1").as("t"), lit(-1).as("dlt")))).as("e"))
        .select(col("event_type"), col("e.t").as("t"), col("e.dlt").as("dlt"))
        .withColumn("day", expr("t div 86400000000"))
      // phase 1: cumulative sum inside each (type, day) partition
      val wLoc = Window.partitionBy("event_type", "day").orderBy("t", "dlt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = deltas.withColumn("lrun", sum(col("dlt")).over(wLoc))
      // phase 2: day-level carry-in from the tiny per-day totals table
      val wCarry = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = deltas.groupBy("event_type", "day")
        .agg(sum(col("dlt")).as("dtot"))
        .withColumn("carry", coalesce(sum(col("dtot")).over(wCarry), lit(0L)))
        .select("event_type", "day", "carry")
      val runs = local.join(carry, Seq("event_type", "day"))
        .withColumn("conc", (col("carry") + col("lrun")).cast("long"))
      val mx = runs.groupBy("event_type")
        .agg(max(col("conc")).as("max_concurrency"))
      val nv = broadcast(iv.groupBy("event_type")
        .agg(count(lit(1)).as("n_intervals")))
      runs.join(broadcast(mx), Seq("event_type"))
        .filter(col("conc") === col("max_concurrency"))
        .groupBy("event_type")
        .agg(first(col("max_concurrency")).as("max_concurrency"),
          min(col("t")).as("t_at_max"))
        .join(nv, "event_type")
        .select(col("event_type"), col("n_intervals"),
          col("max_concurrency"), col("t_at_max"))
    },

    // --------------------------------------------------------------- q184
    // Per-type value quantiles from a MERGEABLE unit-bucket histogram —
    // q96's algebra moved onto the event stream, where it doubles as
    // the batch anchor for the streaming half (StreamOps.histQuantiles,
    // parity-pinned): bucket = floor(value) (the value domain is
    // bounded, so the histogram is fixed-size state no matter how many
    // events arrive — the property that makes it a streaming sketch),
    // quantile bounds are the first bucket whose cumulative count
    // reaches ceil(n·q), exact integer rank arithmetic in both
    // engines. One map-side-combined (type, bucket) shuffle; the
    // cumulative window runs in bucket space.
    Q(
      "q184_value_quantiles",
      Some("""
        WITH hist AS (
          SELECT event_type, CAST(floor(value) AS BIGINT) AS b,
                 COUNT(*) AS c
          FROM events GROUP BY 1, 2),
        wc AS (
          SELECT event_type, b, c,
                 SUM(c) OVER (PARTITION BY event_type ORDER BY b
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER (PARTITION BY event_type) AS n
          FROM hist),
        qp AS (SELECT unnest([5000, 9000, 9900]) AS qp)
        SELECT event_type, qp,
               MIN(b) AS est_lo, MIN(b) + 1 AS est_hi,
               CAST(MIN(n) AS BIGINT) AS n,
               CAST(MIN((n * qp + 9999) // 10000) AS BIGINT) AS target_rank
        FROM wc CROSS JOIN qp
        WHERE cum >= (n * qp + 9999) // 10000
        GROUP BY event_type, qp""")
    ) { (s, dir) =>
      import s.implicits._
      val hist = t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value")).cast("long").as("b"))
        .agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy("event_type")
      val cum = byType.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val qps = Seq(5000, 9000, 9900).toDF("qp")
      hist
        .withColumn("cum", sum(col("c")).over(cum))
        .withColumn("n", sum(col("c")).over(byType))
        .crossJoin(broadcast(qps))
        .filter(col("cum") >= expr("(n * qp + 9999) div 10000"))
        .groupBy(col("event_type"), col("qp"))
        .agg(min(col("b")).as("est_lo"),
          (min(col("b")) + 1).as("est_hi"),
          min(col("n")).as("n"),
          min(expr("(n * qp + 9999) div 10000")).as("target_rank"))
    },

    // --------------------------------------------------------------- q179
    // Incremental SCD2 apply — q171's IVM contract for INTERVAL tables:
    // the base dimension is q105's islands over every day but the
    // last; the last day is the CDC delta. The apply never touches
    // base history: it islands the DELTA alone, then stitches the
    // boundary per user — when a user's last base run has the same
    // type as their first delta run the two MERGE (counts add, the
    // base start survives, the delta end advances — the "extend
    // current validity" case); otherwise the delta runs open new
    // intervals; either way later delta runs renumber by the base's
    // last run_id. The ORACLE is the full q105 rebuild — the hash
    // match proves apply == rebuild row-for-row, which is what lets a
    // 100 TB dimension refresh at delta cost. Every stitch step is a
    // user-keyed join of island-sized (not event-sized) tables; the
    // delta day's windows only ever sort the delta.
    Q(
      "q179_scd2_apply",
      Some(scd2RebuildSql)
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val mx = broadcast(ev.agg(max(to_date(col("ts"))).as("cut")))
      val tagged = ev.crossJoin(mx)
      // materialized: base feeds the last-island lookup AND the history
      // pass-through, delta feeds the stitch and the renumber — without
      // the checkpoint each reference re-runs its window over the log
      // (measured 2.9 s vs 1.3 s at sf0.1)
      val base = graft.Checkpoints.materialize(
        islandsOf(tagged.filter(to_date(col("ts")) =!= col("cut"))))
      val delta = graft.Checkpoints.materialize(
        islandsOf(tagged.filter(to_date(col("ts")) === col("cut"))))
      // per-user stitch info: the base's last island vs the delta's first
      val lastBase = base
        .groupBy(col("user_id")).agg(max(col("run_id")).as("last_run"))
        .join(base.withColumnRenamed("run_id", "last_run"),
          Seq("user_id", "last_run"))
        .select(col("user_id"), col("last_run"),
          col("event_type").as("b_type"), col("n_events").as("b_n"),
          col("start_us").as("b_start"), col("end_us").as("b_end"))
      val firstDelta = delta.filter(col("run_id") === 1)
        .select(col("user_id"), col("event_type").as("d_type"),
          col("n_events").as("d_n"), col("end_us").as("d_end"))
      val stitch = lastBase.join(firstDelta, Seq("user_id"), "full")
        .withColumn("merged",
          col("b_type").isNotNull && col("d_type").isNotNull &&
            col("b_type") === col("d_type"))
      // 1) base history minus the last islands that merge forward
      val baseKept = base.join(
        stitch.filter(col("merged"))
          .select(col("user_id"), col("last_run").as("run_id"))
          .withColumn("drop", lit(1)),
        Seq("user_id", "run_id"), "left")
        .filter(col("drop").isNull).drop("drop")
      // 2) the merged boundary islands
      val mergedRows = stitch.filter(col("merged"))
        .select(col("user_id"), col("last_run").as("run_id"),
          col("b_type").as("event_type"),
          (col("b_n") + col("d_n")).as("n_events"),
          col("b_start").as("start_us"), col("d_end").as("end_us"))
      // 3) delta islands renumbered past the base (the first one is
      //    consumed by the merge when it fired)
      val offsets = stitch.select(col("user_id"),
        coalesce(col("last_run"), lit(0L)).as("off"), col("merged"))
      val deltaRows = delta.join(offsets, "user_id")
        .filter(!(col("merged") && col("run_id") === 1))
        .select(col("user_id"),
          (col("run_id") + col("off") -
            when(col("merged"), 1L).otherwise(0L)).as("run_id"),
          col("event_type"), col("n_events"), col("start_us"), col("end_us"))
      baseKept.unionByName(mergedRows).unionByName(deltaRows)
    },

    // --------------------------------------------------------------- q187
    // Seasonal-baseline anomaly screen: each (event_type, date) daily
    // count is judged against the day-of-week baseline for its type —
    // the classic "is Tuesday unusually hot for purchases?" monitor
    // that survives weekly seasonality where a flat global mean
    // would false-alarm every weekend. All-integer: ratio_pm is the
    // cell count over its dow-mean in floored permille
    // (1000·n·n_days // total), flagged at ≥ 1050 (5 % above
    // baseline — sized to the fixture's Poisson noise). Scale: the
    // daily table is |types|×|dates| (one map-side-combinable
    // aggregation over the raw events — the only corpus-sized pass);
    // the baseline is |types|×7 and BROADCASTs into the join-back, so
    // nothing corpus-sized ever reshuffles. dow uses the q141
    // cross-engine identity (DuckDB dayofweek+1 = Spark dayofweek).
    Q(
      "q187_seasonal_anomaly",
      Some("""
        WITH daily AS (
          SELECT event_type,
                 CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                 CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2, 3),
        base AS (
          SELECT event_type, dow,
                 CAST(SUM(n) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_days
          FROM daily GROUP BY 1, 2)
        SELECT d.event_type, d.d, d.dow, d.n, b.total AS dow_total,
               b.n_days,
               (1000 * d.n * b.n_days) // b.total AS ratio_pm,
               (1000 * d.n * b.n_days) // b.total >= 1050 AS anomalous
        FROM daily d JOIN base b
          ON b.event_type = d.event_type AND b.dow = d.dow""")
    ) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          to_date(col("ts")).as("d"),
          dayofweek(col("ts")).cast("long").as("dow"))
        .agg(count(lit(1)).as("n"))
      val base = daily.groupBy("event_type", "dow")
        .agg(sum(col("n")).as("dow_total"),
          count(lit(1)).as("n_days"))
      daily.join(broadcast(base), Seq("event_type", "dow"))
        .withColumn("ratio_pm",
          expr("(1000 * n * n_days) div dow_total"))
        .select(col("event_type"), col("d"), col("dow"), col("n"),
          col("dow_total"), col("n_days"), col("ratio_pm"),
          (col("ratio_pm") >= 1050).as("anomalous"))
    },

    // --------------------------------------------------------------- q188
    // Pivot with a DECLARED value list: daily activity matrix with one
    // count column per event type. Spark's .pivot(col) with no values
    // runs a driver-side distinct collect to discover the columns — a
    // full extra job and a scale hazard on high-cardinality keys; the
    // explicit-values form here compiles straight to one two-phase
    // pivot_first aggregation, no discovery pass (the schema is part
    // of the contract, as it must be for a stable downstream table).
    // One map-side-combinable shuffle on the date key; missing cells
    // coalesce to 0 so the matrix is dense.
    Q(
      "q188_daily_type_matrix",
      Some("""
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
                 AS n_click,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                 AS n_error,
               CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                 AS n_purchase,
               CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT)
                 AS n_signup,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT)
                 AS n_view,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM events GROUP BY 1""")
    ) { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pv = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(pv)((df, ty) =>
          df.withColumn(s"n_$ty", coalesce(col(ty), lit(0L))))
        .withColumn("n_total",
          types.map(ty => col(s"n_$ty")).reduce(_ + _))
        .select(col("d") +: types.map(ty => col(s"n_$ty")) :+ col("n_total"): _*)
    },

    // --------------------------------------------------------------- q193
    // Independence audit, event_type × day-of-week: total-variation
    // distance between the joint distribution and the product of
    // marginals — "does WHAT users do depend on WHEN?" as exact
    // integer ppm (the chi-square alternative that needs no division
    // by expected counts, so empty cells can't blow up). One
    // map-side-combinable corpus pass builds the |types|×7 joint;
    // marginals and the total RE-AGGREGATE from those 35 rows (the
    // corpus is never scanned again) and broadcast back. Per-type
    // rows report the TVD contribution and the worst-deviating dow
    // (deterministic argmax: min dow among the maximal cells).
    Q(
      "q193_independence_tvd",
      Some("""
        WITH joint AS (
          SELECT event_type,
                 CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
              FROM joint GROUP BY 1),
        c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM joint GROUP BY 1),
        n AS (SELECT CAST(SUM(o) AS BIGINT) AS nt FROM joint),
        dev AS (
          SELECT j.event_type, j.dow, j.o,
                 abs((1000000 * j.o) // n.nt
                     - ((1000 * r.rt) // n.nt) * ((1000 * c.ct) // n.nt))
                   AS dev_ppm
          FROM joint j
          JOIN r ON r.event_type = j.event_type
          JOIN c ON c.dow = j.dow
          CROSS JOIN n),
        mx AS (
          SELECT event_type,
                 CAST(SUM(o) AS BIGINT) AS n_events,
                 CAST(SUM(dev_ppm) AS BIGINT) AS tvd_contrib_ppm,
                 CAST(MAX(dev_ppm) AS BIGINT) AS max_dev_ppm
          FROM dev GROUP BY 1)
        SELECT m.event_type, m.n_events, m.tvd_contrib_ppm, m.max_dev_ppm,
               (SELECT MIN(d.dow) FROM dev d
                WHERE d.event_type = m.event_type
                  AND d.dev_ppm = m.max_dev_ppm) AS worst_dow
        FROM mx m""")
    ) { (s, dir) =>
      val joint = graft.Checkpoints.materialize(
        t(s, dir, "events")
          .groupBy(col("event_type"),
            dayofweek(col("ts")).cast("long").as("dow"))
          .agg(count(lit(1)).as("o")))
      val r = joint.groupBy("event_type").agg(sum(col("o")).as("rt"))
      val c = joint.groupBy("dow").agg(sum(col("o")).as("ct"))
      val n = joint.agg(sum(col("o")).as("nt"))
      val dev = joint
        .join(broadcast(r), "event_type")
        .join(broadcast(c), "dow")
        .crossJoin(broadcast(n))
        .withColumn("dev_ppm", abs(
          expr("(1000000 * o) div nt") -
            expr("((1000 * rt) div nt) * ((1000 * ct) div nt)")))
        .select("event_type", "dow", "o", "dev_ppm")
      val mx = dev.groupBy("event_type")
        .agg(sum(col("o")).as("n_events"),
          sum(col("dev_ppm")).as("tvd_contrib_ppm"),
          max(col("dev_ppm")).as("max_dev_ppm"))
      mx.join(dev.select(col("event_type"),
            col("dow"), col("dev_ppm").as("max_dev_ppm")),
          Seq("event_type", "max_dev_ppm"))
        .groupBy("event_type", "n_events", "tvd_contrib_ppm", "max_dev_ppm")
        .agg(min(col("dow")).as("worst_dow"))
        .select("event_type", "n_events", "tvd_contrib_ppm",
          "max_dev_ppm", "worst_dow")
    },

    // --------------------------------------------------------------- q195
    // Pearson chi-square independence test, event_type × day-of-week —
    // q193's TVD sibling that DOES weight by expected counts, in exact
    // integer milli-units: e₃ = ⌊1000·rm·cm/n⌋ (expected×1000) and
    // contrib_milli = ⌊(1000·o − e₃)²/e₃⌋ ≈ 1000·(o−e)²/e. The grid is
    // the CROSS product of observed types × dows (a chi-square must
    // charge EMPTY cells their full expected mass — a joint-only scan
    // would silently drop them), built from the 5×7 marginal tables,
    // never from the corpus. One map-side-combinable corpus pass
    // builds the joint; everything after re-aggregates 35 rows.
    // The marginal products (rt·ct ≤ n², past BIGINT at n ≳ 3e6) and
    // the squared deviations ((1000·o − e₃)² ≤ 10⁶·n²) are BANKED
    // into DECIMAL(38,0) / HUGEINT; the contrib quotient lands back
    // in BIGINT (≤ ~1225·n for any cell whose marginals carry ≥1/35
    // of the mass) — exact past 10¹⁰ rows. df = (|types|−1)(|dows|−1)
    // rides along so the output is a self-contained test report.
    Q(
      "q195_chi_square",
      Some("""
        WITH joint AS (
          SELECT event_type,
                 CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
                 CAST(COUNT(*) AS BIGINT) AS o
          FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
              FROM joint GROUP BY 1),
        c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM joint GROUP BY 1),
        n AS (SELECT CAST(SUM(o) AS BIGINT) AS nt FROM joint),
        grid AS (
          SELECT r.event_type, c.dow, r.rt, c.ct,
                 COALESCE(j.o, 0) AS o
          FROM r CROSS JOIN c
          LEFT JOIN joint j
            ON j.event_type = r.event_type AND j.dow = c.dow),
        cell AS (
          SELECT g.event_type, g.dow, g.o,
                 (1000 * CAST(g.rt AS HUGEINT) * g.ct) // n.nt
                   AS expected_milli,
                 ((1000 * g.o - (1000 * CAST(g.rt AS HUGEINT) * g.ct) // n.nt)
                  * (1000 * g.o - (1000 * CAST(g.rt AS HUGEINT) * g.ct) // n.nt))
                   // ((1000 * CAST(g.rt AS HUGEINT) * g.ct) // n.nt)
                   AS contrib_milli
          FROM grid g CROSS JOIN n),
        tot AS (
          SELECT CAST(SUM(contrib_milli) AS BIGINT) AS chi2_milli,
                 CAST((COUNT(DISTINCT event_type) - 1)
                      * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS df
          FROM cell)
        SELECT cell.event_type, cell.dow, cell.o AS observed,
               CAST(cell.expected_milli AS BIGINT) AS expected_milli,
               CAST(cell.contrib_milli AS BIGINT) AS contrib_milli,
               tot.chi2_milli, tot.df
        FROM cell CROSS JOIN tot""")
    ) { (s, dir) =>
      val joint = graft.Checkpoints.materialize(
        t(s, dir, "events")
          .groupBy(col("event_type"),
            dayofweek(col("ts")).cast("long").as("dow"))
          .agg(count(lit(1)).as("o")))
      val r = joint.groupBy("event_type").agg(sum(col("o")).as("rt"))
      val c = joint.groupBy("dow").agg(sum(col("o")).as("ct"))
      val n = joint.agg(sum(col("o")).as("nt"))
      val cell = r.crossJoin(broadcast(c))
        .join(joint, Seq("event_type", "dow"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(n))
        .withColumn("expected_milli",
          expr("(1000 * cast(rt as decimal(38,0)) * ct) div nt"))
        .withColumn("contrib_milli", expr(
          "(cast(1000 * o - expected_milli as decimal(38,0))" +
            " * (1000 * o - expected_milli)) div expected_milli"))
        .select("event_type", "dow", "o", "expected_milli", "contrib_milli")
      val tot = cell.agg(
        sum(col("contrib_milli")).as("chi2_milli"),
        ((countDistinct(col("event_type")) - 1)
          * (countDistinct(col("dow")) - 1)).as("df"))
      cell.crossJoin(broadcast(tot))
        .select(col("event_type"), col("dow"), col("o").as("observed"),
          col("expected_milli"), col("contrib_milli"),
          col("chi2_milli"), col("df"))
    },

    // --------------------------------------------------------------- q196
    // Deterministic A/B experiment readout: users assign to arms by the
    // shared Knuth hash (never rand() — re-running the report NEVER
    // moves a user between arms, the property an experiment system
    // must have), conversion = ≥1 HIGH-VALUE purchase (value > 150 —
    // the fixture's every-user-buys-something floor makes plain
    // purchase a degenerate 100% metric). Per-arm rates in
    // exact ppm; the cross-arm lift and the two-proportion z² ride
    // along on both rows from a one-row broadcast so the output is a
    // self-contained readout. z² is the only float: pooled-variance
    // formula evaluated in IEEE doubles over exact BIGINT counts with
    // the IDENTICAL operation order in both engines, floored to
    // milli-units (floor of an identical double is engine-exact;
    // round() would also work but floor needs no half-case argument).
    // Scale: one map-side-combinable corpus pass to per-user flags,
    // one |users|-sized groupBy per arm, then 2-row algebra.
    Q(
      "q196_ab_lift",
      Some(s"""
        WITH u AS (
          SELECT user_id,
                 CAST(MAX(CASE WHEN event_type = 'purchase'
                     AND value > 150 THEN 1 ELSE 0
                     END) AS BIGINT) AS conv,
                 CAST(((${Knuth.sql("user_id", 1746L)}) // 65536) % 2
                   AS BIGINT) AS arm
          FROM events GROUP BY user_id),
        a AS (
          SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(conv) AS BIGINT) AS n_conv,
                 (1000000 * CAST(SUM(conv) AS BIGINT)) // COUNT(*)
                   AS rate_ppm
          FROM u GROUP BY arm),
        ab AS (
          SELECT CAST(SUM(CASE WHEN arm = 0 THEN n_users END) AS BIGINT) AS n0,
                 CAST(SUM(CASE WHEN arm = 0 THEN n_conv END) AS BIGINT) AS c0,
                 CAST(SUM(CASE WHEN arm = 1 THEN n_users END) AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN arm = 1 THEN n_conv END) AS BIGINT) AS c1
          FROM a)
        SELECT a.arm, a.n_users, a.n_conv, a.rate_ppm,
               (1000000 * b.c1) // b.n1 - (1000000 * b.c0) // b.n0
                 AS lift_ppm,
               CAST(floor(1000e0 *
                 (((CAST(b.c1 AS DOUBLE) / CAST(b.n1 AS DOUBLE))
                   - (CAST(b.c0 AS DOUBLE) / CAST(b.n0 AS DOUBLE)))
                  * ((CAST(b.c1 AS DOUBLE) / CAST(b.n1 AS DOUBLE))
                   - (CAST(b.c0 AS DOUBLE) / CAST(b.n0 AS DOUBLE))))
                 / ((CAST(b.c0 + b.c1 AS DOUBLE) / CAST(b.n0 + b.n1 AS DOUBLE))
                    * (1e0 - CAST(b.c0 + b.c1 AS DOUBLE)
                             / CAST(b.n0 + b.n1 AS DOUBLE))
                    * (1e0 / CAST(b.n0 AS DOUBLE)
                       + 1e0 / CAST(b.n1 AS DOUBLE)))) AS BIGINT)
                 AS z2_milli
        FROM a CROSS JOIN ab b""")
    ) { (s, dir) =>
      val u = t(s, dir, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase"
            && col("value") > 150, 1L).otherwise(0L))
          .as("conv"))
        .withColumn("hv", Knuth.col(col("user_id"), 1746L))
        .withColumn("arm", expr("(hv div 65536) % 2").cast("long"))
        .drop("hv")
      val a = u.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
        .withColumn("rate_ppm", expr("(1000000 * n_conv) div n_users"))
      val both = a.agg(
        sum(when(col("arm") === 0, col("n_users"))).as("n0"),
        sum(when(col("arm") === 0, col("n_conv"))).as("c0"),
        sum(when(col("arm") === 1, col("n_users"))).as("n1"),
        sum(when(col("arm") === 1, col("n_conv"))).as("c1"))
      a.crossJoin(broadcast(both))
        .select(col("arm"), col("n_users"), col("n_conv"), col("rate_ppm"),
          expr("(1000000 * c1) div n1 - (1000000 * c0) div n0")
            .as("lift_ppm"),
          expr("""cast(floor(1000.0d *
                 (((cast(c1 as double) / cast(n1 as double))
                   - (cast(c0 as double) / cast(n0 as double)))
                  * ((cast(c1 as double) / cast(n1 as double))
                   - (cast(c0 as double) / cast(n0 as double))))
                 / ((cast(c0 + c1 as double) / cast(n0 + n1 as double))
                    * (1.0d - cast(c0 + c1 as double)
                             / cast(n0 + n1 as double))
                    * (1.0d / cast(n0 as double)
                       + 1.0d / cast(n1 as double)))) as bigint)""")
            .as("z2_milli"))
    },

    // --------------------------------------------------------------- q197
    // CEP pattern detection — the MATCH_RECOGNIZE shape expressed as
    // keyed relational algebra: for every purchase, the LATEST click
    // by the same user within the 30-minute lookback, kept only if no
    // error event falls strictly between that click and the purchase
    // ("click leads uninterruptedly to purchase"). The candidate join
    // keys on user_id (the natural event partition at 100 TB) with a
    // bounded time-range residual; the per-purchase argmax is a
    // row_number over candidate pairs (per-user-bounded, never
    // corpus-wide); the interruption check is a keyed LEFT ANTI join
    // against the error sub-stream — the three-step plan scales as
    // events-per-user, not events². Tiebreak: equal click timestamps
    // resolve to the larger event_id (latest-writer-wins), pinned in
    // both engines.
    Q(
      "q197_cep_pattern",
      Some("""
        WITH p AS (
          SELECT user_id, event_id AS purchase_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, event_id AS click_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
          FROM events WHERE event_type = 'click'),
        e AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS e_us
          FROM events WHERE event_type = 'error'),
        cand AS (
          SELECT p.user_id, p.purchase_id, p.p_us, c.click_id, c.c_us,
                 ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                   ORDER BY c.c_us DESC, c.click_id DESC) AS rn
          FROM p JOIN c ON c.user_id = p.user_id
            AND c.c_us < p.p_us AND c.c_us >= p.p_us - 1800000000),
        best AS (SELECT * FROM cand WHERE rn = 1)
        SELECT b.user_id, b.purchase_id, b.click_id,
               (b.p_us - b.c_us) // 1000000 AS latency_sec
        FROM best b
        WHERE NOT EXISTS (
          SELECT 1 FROM e
          WHERE e.user_id = b.user_id
            AND e.e_us > b.c_us AND e.e_us < b.p_us)""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("us").as("c_us"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("us").as("e_us"))
      val cand = p.join(c,
        col("c_user") === col("user_id")
          && col("c_us") < col("p_us")
          && col("c_us") >= col("p_us") - 1800000000L)
      val w = Window.partitionBy(col("purchase_id"))
        .orderBy(desc("c_us"), desc("click_id"))
      val best = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      best.join(e,
          col("e_user") === col("user_id")
            && col("e_us") > col("c_us") && col("e_us") < col("p_us"),
          "left_anti")
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          expr("(p_us - c_us) div 1000000").as("latency_sec"))
    },

    // --------------------------------------------------------------- q202
    // CUSUM changepoint scan, per event type over its daily value
    // series — "did this metric's level shift, and when?" The
    // classical statistic S_i = Σ_{k≤i}(x_k − μ) needs the rational
    // mean μ = T/N; multiplying through by N keeps it EXACT:
    // S′_i = N·Σcents_k − T·Σcnt_k, BANKED into DECIMAL(38,0) /
    // HUGEINT (N·total_cents wrapped BIGINT past ~10⁹ events of ~10⁴
    // cents), then REPORTED as s_cents = S′_i div N — the CUSUM
    // deviation in exact floored CENTS, bounded by total cents, so
    // the exposed column stays BIGINT at any corpus size. The
    // |s_cents| argmax day is the single most likely level-shift
    // point (ties → earliest day, the q138 rule — applied after the
    // cents flooring, identically in both engines). One map-side-
    // combinable corpus pass to (type, day) cells; cumulative windows
    // run per type in day-space (|days| rows — never corpus-sized);
    // per-type totals re-aggregate from the cells and attach by
    // broadcast.
    Q(
      "q202_cusum_changepoint",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 100
                   AS BIGINT)) AS BIGINT) AS day_cents,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, CAST(SUM(day_cents) AS BIGINT) AS t_cents,
                 CAST(SUM(n_events) AS BIGINT) AS n_tot
          FROM daily GROUP BY 1),
        cum AS (
          SELECT d.event_type, d.d, d.n_events, d.day_cents,
                 CAST((CAST(t.n_tot AS HUGEINT) * SUM(d.day_cents) OVER (
                     PARTITION BY d.event_type ORDER BY d.d)
                 - CAST(t.t_cents AS HUGEINT) * SUM(d.n_events) OVER (
                     PARTITION BY d.event_type ORDER BY d.d))
                   // t.n_tot AS BIGINT) AS s_cents
          FROM daily d JOIN tot t ON t.event_type = d.event_type),
        mx AS (
          SELECT event_type, CAST(MAX(abs(s_cents)) AS BIGINT) AS peak
          FROM cum GROUP BY 1),
        pk AS (
          SELECT c.event_type, MIN(c.d) AS peak_d
          FROM cum c JOIN mx m
            ON m.event_type = c.event_type AND abs(c.s_cents) = m.peak
          GROUP BY 1)
        SELECT c.event_type, c.d, c.n_events, c.day_cents, c.s_cents,
               c.d = p.peak_d AS is_peak
        FROM cum c JOIN pk p ON p.event_type = c.event_type""")
    ) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum((col("value").cast(DecimalType(18, 4)) * 100).cast("long"))
          .as("day_cents"),
          count(lit(1)).as("n_events"))
      val tot = daily.groupBy("event_type")
        .agg(sum(col("day_cents")).as("t_cents"),
          sum(col("n_events")).as("n_tot"))
      val w = Window.partitionBy("event_type").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = daily.join(broadcast(tot), "event_type")
        .withColumn("cum_cents", sum(col("day_cents")).over(w))
        .withColumn("cum_n", sum(col("n_events")).over(w))
        .withColumn("s_cents",
          expr("(cast(n_tot as decimal(38,0)) * cum_cents" +
            " - cast(t_cents as decimal(38,0)) * cum_n) div n_tot"))
        .select("event_type", "d", "n_events", "day_cents", "s_cents")
      val mx = cum.groupBy("event_type").agg(max(abs(col("s_cents"))).as("peak"))
      val pk = cum.join(broadcast(mx), "event_type")
        .filter(abs(col("s_cents")) === col("peak"))
        .groupBy("event_type").agg(min(col("d")).as("peak_d"))
      cum.join(broadcast(pk), "event_type")
        .select(col("event_type"), col("d"), col("n_events"),
          col("day_cents"), col("s_cents"),
          (col("d") === col("peak_d")).as("is_peak"))
    },

    // --------------------------------------------------------------- q205
    // User-lifecycle weekly report — the growth-accounting table every
    // product org keeps: per week, active / new (first week ever) /
    // retained (active previous week) / resurrected (returning after
    // a gap) / churned-into (active last week, absent this week).
    // Weeks are epoch-day div 7 (exact integers — calendar week
    // truncation differs across engines, the q141 dow lesson one
    // level up). Per-user stage classification is a lag window over
    // the user's DISTINCT active weeks (events-per-user bounded);
    // churn emits from the same window via lead — a user churns into
    // wk+1 when the next active week isn't wk+1 (bounded by the
    // corpus max week so nobody churns past the observation window).
    // The weekly grid joins stage counts by week key; every count
    // coalesces to 0 so the report is dense. Corpus cost: one
    // map-side distinct to (user, week), windows per user, counts per
    // week — nothing global, nothing quadratic.
    Q(
      "q205_lifecycle",
      Some("""
        WITH uw AS (
          SELECT DISTINCT user_id,
                 (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) // 7 AS wk
          FROM events),
        gmax AS (SELECT CAST(MAX(wk) AS BIGINT) AS mx FROM uw),
        staged AS (
          SELECT user_id, wk,
                 LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
                 LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
          FROM uw),
        stages AS (
          SELECT wk,
                 CAST(COUNT(*) AS BIGINT) AS n_active,
                 CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_new,
                 CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_retained,
                 CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
          FROM staged GROUP BY 1),
        churn AS (
          SELECT s.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS n_churned
          FROM staged s CROSS JOIN gmax g
          WHERE (s.next_wk IS NULL OR s.next_wk > s.wk + 1)
            AND s.wk < g.mx
          GROUP BY 1)
        SELECT st.wk, st.n_active, st.n_new, st.n_retained,
               st.n_resurrected, COALESCE(c.n_churned, 0) AS n_churned
        FROM stages st LEFT JOIN churn c ON c.wk = st.wk""")
    ) { (s, dir) =>
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          expr("(unix_micros(ts) div 86400000000) div 7").as("wk"))
        .distinct()
      val gmax = uw.agg(max(col("wk")).as("mx"))
      val w = Window.partitionBy("user_id").orderBy("wk")
      val staged = uw
        .withColumn("prev_wk", lag(col("wk"), 1).over(w))
        .withColumn("next_wk", lead(col("wk"), 1).over(w))
      val stages = staged.groupBy("wk").agg(
        count(lit(1)).as("n_active"),
        sum(when(col("prev_wk").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_wk") === col("wk") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_wk").isNotNull && col("prev_wk") < col("wk") - 1,
          1L).otherwise(0L)).as("n_resurrected"))
      val churn = staged.crossJoin(broadcast(gmax))
        .filter((col("next_wk").isNull || col("next_wk") > col("wk") + 1)
          && col("wk") < col("mx"))
        .groupBy((col("wk") + 1).as("wk"))
        .agg(count(lit(1)).as("n_churned"))
      stages.join(churn, Seq("wk"), "left")
        .na.fill(0L, Seq("n_churned"))
        .select("wk", "n_active", "n_new", "n_retained", "n_resurrected",
          "n_churned")
    },

    // --------------------------------------------------------------- q207
    // Three-way merge reconciliation — the data-versioning operator
    // behind branched ingestion: BASE is the per-user latest state
    // before the split point (corpus max day − 2, a broadcast
    // anchor), branches A/B are the even/odd epoch-days after it,
    // each compacted to its per-user latest under the house
    // (ts, event_id) total order. Per user: untouched → 'base',
    // one-sided updates fast-forward ('from_a'/'from_b'), both-sided
    // updates are a CONFLICT resolved latest-writer-wins with the
    // winning side recorded — the audit a merge tool surfaces instead
    // of silently clobbering. Compactions are user-keyed windows over
    // one corpus pass routed into three branches by day arithmetic;
    // the three latest-state tables full-outer-join on the user key.
    // All exact integers (µs timestamps, DECIMAL→cents values).
    Q(
      "q207_three_way_merge",
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type,
                 CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
          FROM events),
        anchor AS (SELECT CAST(MAX(day) - 2 AS BIGINT) AS split FROM ev),
        routed AS (
          SELECT e.*,
                 CASE WHEN e.day < a.split THEN 'base'
                      WHEN e.day % 2 = 0 THEN 'a' ELSE 'b' END AS branch
          FROM ev e CROSS JOIN anchor a),
        latest AS (
          SELECT * FROM (
            SELECT user_id, branch, event_type, cents, us, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id, branch
                     ORDER BY us DESC, event_id DESC) AS rn
            FROM routed) t WHERE rn = 1),
        p AS (
          SELECT user_id,
                 MIN(CASE WHEN branch = 'base' THEN event_type END) AS base_type,
                 MIN(CASE WHEN branch = 'base' THEN cents END) AS base_cents,
                 MIN(CASE WHEN branch = 'a' THEN event_type END) AS a_type,
                 MIN(CASE WHEN branch = 'a' THEN cents END) AS a_cents,
                 MIN(CASE WHEN branch = 'a' THEN us END) AS a_us,
                 MIN(CASE WHEN branch = 'a' THEN event_id END) AS a_id,
                 MIN(CASE WHEN branch = 'b' THEN event_type END) AS b_type,
                 MIN(CASE WHEN branch = 'b' THEN cents END) AS b_cents,
                 MIN(CASE WHEN branch = 'b' THEN us END) AS b_us,
                 MIN(CASE WHEN branch = 'b' THEN event_id END) AS b_id
          FROM latest GROUP BY 1)
        SELECT user_id,
               CASE WHEN a_type IS NULL AND b_type IS NULL THEN 'base'
                    WHEN b_type IS NULL THEN 'from_a'
                    WHEN a_type IS NULL THEN 'from_b'
                    ELSE 'conflict' END AS status,
               CASE WHEN a_type IS NULL AND b_type IS NULL THEN 'base'
                    WHEN b_type IS NULL THEN 'a'
                    WHEN a_type IS NULL THEN 'b'
                    WHEN a_us > b_us OR (a_us = b_us AND a_id > b_id)
                      THEN 'a' ELSE 'b' END AS winner,
               CASE WHEN a_type IS NULL AND b_type IS NULL THEN base_type
                    WHEN b_type IS NULL THEN a_type
                    WHEN a_type IS NULL THEN b_type
                    WHEN a_us > b_us OR (a_us = b_us AND a_id > b_id)
                      THEN a_type ELSE b_type END AS merged_type,
               CASE WHEN a_type IS NULL AND b_type IS NULL THEN base_cents
                    WHEN b_type IS NULL THEN a_cents
                    WHEN a_type IS NULL THEN b_cents
                    WHEN a_us > b_us OR (a_us = b_us AND a_id > b_id)
                      THEN a_cents ELSE b_cents END AS merged_cents,
               base_type IS NOT NULL AS base_present
        FROM p""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          (col("value").cast(DecimalType(18, 4)) * 100).cast("long")
            .as("cents"),
          unix_micros(col("ts")).as("us"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val anchor = ev.agg((max(col("day")) - 2).as("split"))
      val routed = ev.crossJoin(broadcast(anchor))
        .withColumn("branch",
          when(col("day") < col("split"), "base")
            .when(col("day") % 2 === 0, "a").otherwise("b"))
      val w = Window.partitionBy("user_id", "branch")
        .orderBy(desc("us"), desc("event_id"))
      val latest = routed.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      def m(b: String, c: String) =
        min(when(col("branch") === b, col(c))).as(s"${b}_$c")
      val p = latest.groupBy("user_id").agg(
        min(when(col("branch") === "base", col("event_type"))).as("base_type"),
        min(when(col("branch") === "base", col("cents"))).as("base_cents"),
        min(when(col("branch") === "a", col("event_type"))).as("a_type"),
        m("a", "cents"), m("a", "us"),
        min(when(col("branch") === "a", col("event_id"))).as("a_id"),
        min(when(col("branch") === "b", col("event_type"))).as("b_type"),
        m("b", "cents"), m("b", "us"),
        min(when(col("branch") === "b", col("event_id"))).as("b_id"))
      val aWins = col("a_us") > col("b_us") ||
        (col("a_us") === col("b_us") && col("a_id") > col("b_id"))
      p.select(col("user_id"),
        when(col("a_type").isNull && col("b_type").isNull, "base")
          .when(col("b_type").isNull, "from_a")
          .when(col("a_type").isNull, "from_b")
          .otherwise("conflict").as("status"),
        when(col("a_type").isNull && col("b_type").isNull, "base")
          .when(col("b_type").isNull, "a")
          .when(col("a_type").isNull, "b")
          .when(aWins, "a").otherwise("b").as("winner"),
        when(col("a_type").isNull && col("b_type").isNull, col("base_type"))
          .when(col("b_type").isNull, col("a_type"))
          .when(col("a_type").isNull, col("b_type"))
          .when(aWins, col("a_type")).otherwise(col("b_type"))
          .as("merged_type"),
        when(col("a_type").isNull && col("b_type").isNull, col("base_cents"))
          .when(col("b_type").isNull, col("a_cents"))
          .when(col("a_type").isNull, col("b_cents"))
          .when(aWins, col("a_cents")).otherwise(col("b_cents"))
          .as("merged_cents"),
        col("base_type").isNotNull.as("base_present"))
    },

    // --------------------------------------------------------------- q208
    // Multi-touch LINEAR attribution — q86 gives each purchase one
    // click; marketing analytics wants credit SPLIT across every
    // click in the lookback. Exact-integer credit: each of the n
    // touches gets ⌊1000/n⌋ permille and the LATEST click absorbs the
    // remainder, so per-purchase credit sums to EXACTLY 1000 (a float
    // 1/n split neither sums to one nor replays cross-engine). The
    // candidate join is q197's user-keyed shape with a bounded time
    // residual; n and the latest-first rank come from one window over
    // per-purchase candidates (per-user bounded). Purchases with no
    // lookback click are excluded by the inner join — the unattributed
    // remainder is q92's funnel-drop measurement, not this one.
    Q(
      "q208_linear_attribution",
      Some("""
        WITH p AS (
          SELECT user_id, event_id AS purchase_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT user_id, event_id AS click_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
          FROM events WHERE event_type = 'click'),
        cand AS (
          SELECT p.user_id, p.purchase_id, c.click_id, c.c_us,
                 CAST(COUNT(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
                   AS n_touches,
                 ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                   ORDER BY c.c_us DESC, c.click_id DESC) AS rn
          FROM p JOIN c ON c.user_id = p.user_id
            AND c.c_us < p.p_us AND c.c_us >= p.p_us - 1800000000)
        SELECT user_id, purchase_id, click_id, n_touches,
               1000 // n_touches
                 + CASE WHEN rn = 1
                        THEN 1000 - n_touches * (1000 // n_touches)
                        ELSE 0 END AS credit_pm
        FROM cand""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("us").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("us").as("c_us"))
      val cand = p.join(c,
        col("c_user") === col("user_id")
          && col("c_us") < col("p_us")
          && col("c_us") >= col("p_us") - 1800000000L)
      val wN = Window.partitionBy("purchase_id")
      val wR = Window.partitionBy("purchase_id")
        .orderBy(desc("c_us"), desc("click_id"))
      cand
        .withColumn("n_touches", count(lit(1)).over(wN))
        .withColumn("rn", row_number().over(wR))
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("n_touches"),
          (expr("1000 div n_touches")
            + when(col("rn") === 1,
                lit(1000L) - col("n_touches") * expr("1000 div n_touches"))
              .otherwise(0L)).as("credit_pm"))
    },

    // --------------------------------------------------------------- q213
    // Bitemporal point query ("time travel"): every user's state AS
    // OF one instant — corpus max ts minus a day, a broadcast anchor
    // — read from the q105 SCD2 interval table under the standard
    // carry-forward convention: the governing interval is the LATEST
    // one that STARTED at or before t (state persists until the next
    // change), with `observed` flagging whether t falls inside the
    // interval's event span or in the gap after it. This is the query
    // a warehouse answers for "what did the dimension say when the
    // model trained?"; the interval table comes from the shared
    // islands dataflow (user-keyed windows), the point lookup is one
    // per-user argmax window over that user's intervals — never a
    // corpus-wide sort. Users whose first interval starts after t
    // have no state yet and are correctly absent.
    Q(
      "q213_time_travel",
      Some(s"""
        WITH islands AS ($scd2RebuildSql),
        anchor AS (
          SELECT CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) - 86400000000
                 AS BIGINT) AS t
          FROM events),
        cand AS (
          SELECT i.user_id, i.run_id, i.event_type, i.n_events,
                 i.start_us, i.end_us, a.t,
                 ROW_NUMBER() OVER (PARTITION BY i.user_id
                   ORDER BY i.start_us DESC) AS rn
          FROM islands i CROSS JOIN anchor a
          WHERE i.start_us <= a.t)
        SELECT user_id, run_id, event_type, n_events, start_us, end_us,
               t <= end_us AS observed
        FROM cand WHERE rn = 1""")
    ) { (s, dir) =>
      val islands = islandsOf(t(s, dir, "events"))
      val anchor = t(s, dir, "events")
        .agg((max(unix_micros(col("ts"))) - 86400000000L).as("t"))
      val w = Window.partitionBy("user_id").orderBy(desc("start_us"))
      islands.crossJoin(broadcast(anchor))
        .filter(col("start_us") <= col("t"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("run_id"), col("event_type"),
          col("n_events"), col("start_us"), col("end_us"),
          (col("t") <= col("end_us")).as("observed"))
    },

    // --------------------------------------------------------------- q215
    // ROC-AUC by rank statistic — the model-eval gate a scoring
    // pipeline runs: does `value` separate purchases from the rest?
    // AUC computed as the Mann-Whitney U through tie-corrected rank
    // sums, in EXACT integers: scores quantize to 0.1-cent BIGINTs,
    // then one groupBy into score-value space (|distinct scores|
    // rows, never corpus-sized). For a tie group at cumulative offset
    // c with n_g members, twice the average rank is 2c + n_g + 1 — an
    // integer — so R2 = Σ pos_g·(2c + n_g + 1) is exact, U = (R2 −
    // n_pos·(n_pos+1))/2, and AUC_ppm = 10⁶·2U div (2·n_pos·n_neg).
    // One map-side-combinable corpus pass. The Spark plan is the
    // TWO-PHASE bucket form (q243/q232's move): score-value groups
    // collapse into fixed-width score buckets, the ONLY unpartitioned
    // cumsum runs over the bounded bucket table, and each group's
    // global cumulative offset is bucket-below + a PARTITIONED
    // within-bucket cumsum — no corpus-cardinality ordered window
    // even when the score column is continuous and unbounded (the
    // oracle keeps the direct global-rank form; the hash match proves
    // the two plans identical). Gini (2·AUC−1) rides along. R2 ~ n²
    // and the ppm products are BANKED into DECIMAL(38,0) / HUGEINT —
    // exact past 10¹⁰ rows, same rank algebra.
    Q(
      "q215_auc_rank",
      Some("""
        WITH s AS (
          SELECT CAST(CAST(value AS DECIMAL(18,4)) * 1000 AS BIGINT) AS sc,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events),
        g AS (
          SELECT sc, CAST(COUNT(*) AS BIGINT) AS n_g,
                 CAST(SUM(y) AS BIGINT) AS pos_g
          FROM s GROUP BY 1),
        r AS (
          SELECT pos_g, n_g,
                 CAST(SUM(n_g) OVER (ORDER BY sc) AS BIGINT) - n_g AS c
          FROM g),
        u AS (
          SELECT CAST(SUM(pos_g) AS BIGINT) AS n_pos,
                 CAST(SUM(n_g - pos_g) AS BIGINT) AS n_neg,
                 SUM(CAST(pos_g AS HUGEINT) * (2 * c + n_g + 1)) AS r2
          FROM r)
        SELECT n_pos, n_neg,
               CAST((1000000 * (r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
                 // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
                 AS auc_ppm,
               CAST((1000000 * (r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)))
                 // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) - 1000000
                 AS gini_ppm
        FROM u""")
    ) { (s, dir) =>
      val sc = t(s, dir, "events").select(
        expr("cast(cast(value as decimal(18,4)) * 1000 as bigint)").as("sc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      // phase 1: score-value groups → fixed-width ($10) score buckets
      val g = sc.groupBy("sc")
        .agg(count(lit(1)).as("n_g"), sum(col("y")).as("pos_g"))
        .withColumn("bucket", expr("sc div 10000"))
      // within-bucket cumulative count: PARTITIONED window, bounded
      // by the bucket's value width — never a corpus-ordered sort
      val cw = g.withColumn("cum_w",
        sum(col("n_g")).over(Window.partitionBy("bucket").orderBy("sc")))
      // the one unpartitioned cumsum: over the BOUNDED bucket table
      val bk = g.groupBy("bucket").agg(sum(col("n_g")).as("bn"))
      val bkc = bk
        .withColumn("below_b",
          sum(col("bn")).over(Window.orderBy("bucket")) - col("bn"))
        .select("bucket", "below_b")
      val r = cw.join(broadcast(bkc), "bucket")
        .select(col("pos_g"), col("n_g"),
          (col("below_b") + col("cum_w") - col("n_g")).as("c"))
      r.agg(sum(col("pos_g")).as("n_pos"),
          sum(col("n_g") - col("pos_g")).as("n_neg"),
          sum(col("pos_g").cast("decimal(38,0)")
            * (lit(2L) * col("c") + col("n_g") + 1L)).as("r2"))
        .select(col("n_pos"), col("n_neg"),
          expr("(1000000 * (r2 - cast(n_pos as decimal(38,0))" +
            " * (n_pos + 1))) div (2 * cast(n_pos as decimal(38,0))" +
            " * n_neg)").as("auc_ppm"),
          (expr("(1000000 * (r2 - cast(n_pos as decimal(38,0))" +
            " * (n_pos + 1))) div (cast(n_pos as decimal(38,0))" +
            " * n_neg)") - 1000000L).as("gini_ppm"))
    },

    // --------------------------------------------------------------- q222
    // Maximum drawdown per account — the running-peak-minus-current
    // statistic risk reporting wants (largest peak-to-trough drop of
    // a signed balance series). Flow: purchases credit, errors debit,
    // everything else is neutral; cents are exact BIGINTs. Per user,
    // ordered by (ts, event_id) — a UNIQUE total order, so the
    // default RANGE window frame degenerates to single-row peers and
    // both engines agree bit-for-bit — two running windows (cumsum,
    // then running max) give drawdown = peak − balance; the per-user
    // aggregate keeps the max. Top 20 riskiest accounts by (drawdown
    // DESC, user_id) — a TakeOrderedAndProject over the user-space
    // aggregate, never corpus-sized. The windows partition by
    // user_id: per-group sorts, no global sort of the corpus — scales
    // with the busiest user, not the table.
    Q(
      "q222_max_drawdown",
      Some("""
        WITH f AS (
          SELECT user_id, ts, event_id,
                 CASE event_type
                   WHEN 'purchase' THEN
                     CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT)
                   WHEN 'error' THEN
                     -CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT)
                   ELSE 0 END AS cents
          FROM events),
        r AS (
          SELECT user_id, ts, event_id,
                 CAST(SUM(cents) OVER w AS BIGINT) AS bal
          FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        dd AS (
          SELECT user_id, bal,
                 CAST(MAX(bal) OVER (PARTITION BY user_id ORDER BY ts,
                                     event_id) AS BIGINT) AS peak
          FROM r)
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(peak) AS BIGINT) AS peak_cents,
               CAST(MAX(peak - bal) AS BIGINT) AS max_drawdown_cents
        FROM dd GROUP BY 1
        ORDER BY max_drawdown_cents DESC, user_id LIMIT 20""")
    ) { (s, dir) =>
      val f = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"),
        when(col("event_type") === "purchase",
          expr("cast(cast(value as decimal(18,4)) * 100 as bigint)"))
          .when(col("event_type") === "error",
            -expr("cast(cast(value as decimal(18,4)) * 100 as bigint)"))
          .otherwise(0L).as("cents"))
      val wSeq = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val dd = f
        .withColumn("bal", sum(col("cents")).over(wSeq))
        .withColumn("peak", max(col("bal")).over(wSeq))
      dd.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max(col("peak")).as("peak_cents"),
          max(col("peak") - col("bal")).as("max_drawdown_cents"))
        .orderBy(desc("max_drawdown_cents"), col("user_id"))
        .limit(20)
    },

    // --------------------------------------------------------------- q223
    // Allen's interval-algebra census — classify each customer's
    // consecutive order-fulfilment intervals [order day, first ship
    // day] into the 13 Allen relations (before/meets/overlaps/starts/
    // during/finishes/equals + inverses) and count them: the
    // temporal-pattern profile a process-mining pass reads (how often
    // does a new order start before the last one ships?). Consecutive
    // pairs come from ONE lag window per customer (ordered by start
    // day with an orderkey tiebreak — a unique total order); the
    // relation is a single shared CASE over exact day integers,
    // identical text in both engines, branches mutually exclusive and
    // total. The census is |relations| rows; the only corpus work is
    // the first-ship aggregation and the per-customer window — both
    // keyed on corpus keys, no global sort — scales.
    Q(
      "q223_allen_relations",
      Some("""
        WITH fs AS (
          SELECT l_orderkey,
                 MIN(epoch_us(CAST(l_shipdate AS TIMESTAMP))
                     // 86400000000) AS hi
          FROM lineitem GROUP BY 1),
        iv AS (
          SELECT o.o_custkey AS ck, o.o_orderkey AS ok,
                 epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
                   // 86400000000 AS lo,
                 fs.hi
          FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey),
        pr AS (
          SELECT lag(lo) OVER w AS a_lo, lag(hi) OVER w AS a_hi,
                 lo AS b_lo, hi AS b_hi
          FROM iv WINDOW w AS (PARTITION BY ck ORDER BY lo, ok)),
        cl AS (
          SELECT CASE
            WHEN a_hi < b_lo THEN 'before'
            WHEN a_hi = b_lo THEN 'meets'
            WHEN b_hi < a_lo THEN 'after'
            WHEN b_hi = a_lo THEN 'met_by'
            WHEN a_lo = b_lo AND a_hi = b_hi THEN 'equals'
            WHEN a_lo = b_lo AND a_hi < b_hi THEN 'starts'
            WHEN a_lo = b_lo AND a_hi > b_hi THEN 'started_by'
            WHEN a_hi = b_hi AND a_lo < b_lo THEN 'finished_by'
            WHEN a_hi = b_hi AND a_lo > b_lo THEN 'finishes'
            WHEN a_lo < b_lo AND b_hi < a_hi THEN 'contains'
            WHEN a_lo > b_lo AND a_hi < b_hi THEN 'during'
            WHEN a_lo < b_lo AND b_lo < a_hi THEN 'overlaps'
            ELSE 'overlapped_by' END AS rel
          FROM pr WHERE a_lo IS NOT NULL)
        SELECT rel, CAST(COUNT(*) AS BIGINT) AS n
        FROM cl GROUP BY 1""")
    ) { (s, dir) =>
      val fs = t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(expr("min(unix_micros(cast(l_shipdate as timestamp))" +
          " div 86400000000)").as("hi"))
      val iv = t(s, dir, "orders")
        .join(fs, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
          expr("unix_micros(cast(o_orderdate as timestamp))" +
            " div 86400000000").as("lo"),
          col("hi"))
      val w = Window.partitionBy("ck").orderBy("lo", "ok")
      val pr = iv.select(lag(col("lo"), 1).over(w).as("a_lo"),
        lag(col("hi"), 1).over(w).as("a_hi"),
        col("lo").as("b_lo"), col("hi").as("b_hi"))
        .filter(col("a_lo").isNotNull)
      pr.select(expr("""CASE
            WHEN a_hi < b_lo THEN 'before'
            WHEN a_hi = b_lo THEN 'meets'
            WHEN b_hi < a_lo THEN 'after'
            WHEN b_hi = a_lo THEN 'met_by'
            WHEN a_lo = b_lo AND a_hi = b_hi THEN 'equals'
            WHEN a_lo = b_lo AND a_hi < b_hi THEN 'starts'
            WHEN a_lo = b_lo AND a_hi > b_hi THEN 'started_by'
            WHEN a_hi = b_hi AND a_lo < b_lo THEN 'finished_by'
            WHEN a_hi = b_hi AND a_lo > b_lo THEN 'finishes'
            WHEN a_lo < b_lo AND b_hi < a_hi THEN 'contains'
            WHEN a_lo > b_lo AND a_hi < b_hi THEN 'during'
            WHEN a_lo < b_lo AND b_lo < a_hi THEN 'overlaps'
            ELSE 'overlapped_by' END""").as("rel"))
        .groupBy("rel").agg(count(lit(1)).as("n"))
    },

    // --------------------------------------------------------------- q233
    // Day-of-week seasonal index per event type — the multiplicative
    // seasonality profile a forecasting pass factors out first:
    // index = (per-dow mean value) / (type overall mean), in exact
    // cross-multiplied permille ((1000·cents_d·n_t) div (n_d·cents_t)
    // — no division happens until both sides are integers, the q199
    // move). Weekday from epoch days ((d+4) mod 7, day 0 = Thursday —
    // q212's calendar identity, 0 = Sunday). One map-side-combinable
    // corpus pass to the |types|×7 cell table; the type totals
    // re-aggregate from the cells and join back in cell space —
    // the corpus is read once. The cross-multiplied index terms
    // (cents_d·n_t and n_d·cents_t — past BIGINT once cents_d·n_t ≳
    // 9e15) are BANKED into DECIMAL(38,0) / HUGEINT, so the permille
    // index is exact at any per-type row and cent volume.
    Q(
      "q233_seasonal_index",
      Some("""
        WITH c AS (
          SELECT event_type,
                 (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
                 CAST(COUNT(*) AS BIGINT) AS n_d,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 100
                               AS BIGINT)) AS BIGINT) AS cents_d
          FROM events GROUP BY 1, 2),
        tt AS (
          SELECT event_type, CAST(SUM(n_d) AS BIGINT) AS n_t,
                 CAST(SUM(cents_d) AS BIGINT) AS cents_t
          FROM c GROUP BY 1)
        SELECT c.event_type, c.dow, c.n_d, c.cents_d,
               CAST((1000 * CAST(c.cents_d AS HUGEINT) * tt.n_t)
                 // (CAST(c.n_d AS HUGEINT) * tt.cents_t) AS BIGINT)
                 AS index_pm
        FROM c JOIN tt ON tt.event_type = c.event_type""")
    ) { (s, dir) =>
      val c = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"))
        .agg(count(lit(1)).as("n_d"),
          sum(expr("cast(cast(value as decimal(18,4)) * 100 as bigint)"))
            .as("cents_d"))
      val tt = c.groupBy("event_type")
        .agg(sum(col("n_d")).as("n_t"), sum(col("cents_d")).as("cents_t"))
      c.join(broadcast(tt), "event_type")
        .select(col("event_type"), col("dow"), col("n_d"), col("cents_d"),
          expr("(1000 * cast(cents_d as decimal(38,0)) * n_t)" +
            " div (cast(n_d as decimal(38,0)) * cents_t)").as("index_pm"))
    },

    // --------------------------------------------------------------- q234
    // Cohort LTV accumulation — q91's revenue sibling: users cohort by
    // first-event week (epoch-day div 7, the cross-engine-stable week
    // q205 uses), purchases credit exact cents at cohort AGE = event
    // week − cohort week, and each (cohort, age) row carries the
    // cumulative revenue and the per-user LTV cents so far — the
    // triangle a growth model fits its payback curve on. Two corpus
    // passes share the user-keyed shuffle (first-week min, then the
    // credited events); the cumulative window runs in cohort×age
    // space. Cohort sizes join back broadcast (|weeks| rows).
    Q(
      "q234_cohort_ltv",
      Some("""
        WITH fw AS (
          SELECT user_id,
                 MIN(epoch_us(ts) // 86400000000 // 7) AS w0
          FROM events GROUP BY 1),
        sz AS (
          SELECT w0, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM fw GROUP BY 1),
        cr AS (
          SELECT fw.w0,
                 (epoch_us(e.ts) // 86400000000 // 7) - fw.w0 AS age,
                 CAST(SUM(CASE WHEN e.event_type = 'purchase'
                   THEN CAST(CAST(e.value AS DECIMAL(18,4)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS cents
          FROM events e JOIN fw ON fw.user_id = e.user_id
          GROUP BY 1, 2),
        cum AS (
          SELECT w0, age, cents,
                 CAST(SUM(cents) OVER (PARTITION BY w0 ORDER BY age)
                      AS BIGINT) AS cum_cents
          FROM cr)
        SELECT cum.w0 AS cohort_week, cum.age, sz.n_users,
               cum.cents, cum.cum_cents,
               cum.cum_cents // sz.n_users AS ltv_cents_per_user
        FROM cum JOIN sz ON sz.w0 = cum.w0""")
    ) { (s, dir) =>
      val fw = t(s, dir, "events").groupBy("user_id")
        .agg(expr("min(unix_micros(ts) div 86400000000 div 7)").as("w0"))
      val sz = fw.groupBy("w0").agg(count(lit(1)).as("n_users"))
      val cr = t(s, dir, "events")
        .join(fw.hint("shuffle_hash"), "user_id")
        .groupBy(col("w0"),
          (expr("unix_micros(ts) div 86400000000 div 7") - col("w0"))
            .as("age"))
        .agg(sum(when(col("event_type") === "purchase",
          expr("cast(cast(value as decimal(18,4)) * 100 as bigint)"))
          .otherwise(0L)).as("cents"))
      val cum = cr.withColumn("cum_cents",
        sum(col("cents")).over(Window.partitionBy("w0").orderBy("age")))
      cum.join(broadcast(sz), "w0")
        .select(col("w0").as("cohort_week"), col("age"), col("n_users"),
          col("cents"), col("cum_cents"),
          expr("cum_cents div n_users").as("ltv_cents_per_user"))
    },

    // --------------------------------------------------------------- q241
    // Sessionization gap sweep — the knob report behind q23's fixed
    // 30-minute gap (the q146 move applied to sessions): how do
    // session counts and density respond to gap ∈ {15, 30, 60} min?
    // All three gaps share ONE per-user lag window (the inter-event
    // delta is gap-independent); each flag column sums map-side, so
    // the sweep costs one corpus window pass + one aggregate — not
    // three sessionization runs. Mean events/session in exact
    // permille. The operations answer to "is 30 minutes the right
    // gap": the count curve's knee is in this table.
    Q(
      "q241_session_gap_sweep",
      Some("""
        WITH d AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP))
                 - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events),
        f AS (
          SELECT CASE WHEN gap IS NULL OR gap > 900000000
                      THEN 1 ELSE 0 END AS s15,
                 CASE WHEN gap IS NULL OR gap > 1800000000
                      THEN 1 ELSE 0 END AS s30,
                 CASE WHEN gap IS NULL OR gap > 3600000000
                      THEN 1 ELSE 0 END AS s60
          FROM d),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(s15) AS BIGINT) AS n15,
                 CAST(SUM(s30) AS BIGINT) AS n30,
                 CAST(SUM(s60) AS BIGINT) AS n60
          FROM f)
        SELECT CAST(900 AS BIGINT) AS gap_sec, n15 AS n_sessions, n_events,
               (1000 * n_events) // n15 AS mean_events_pm FROM a
        UNION ALL
        SELECT 1800, n30, n_events, (1000 * n_events) // n30 FROM a
        UNION ALL
        SELECT 3600, n60, n_events, (1000 * n_events) // n60 FROM a""")
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val d = t(s, dir, "events")
        .withColumn("gap",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      def flag(us: Long) =
        when(col("gap").isNull || col("gap") > us, 1L).otherwise(0L)
      val a = d.agg(count(lit(1)).as("n_events"),
        sum(flag(900000000L)).as("n15"),
        sum(flag(1800000000L)).as("n30"),
        sum(flag(3600000000L)).as("n60"))
      a.select(expr(
        """stack(3,
           900L, n15,
           1800L, n30,
           3600L, n60) AS (gap_sec, n_sessions)"""),
        col("n_events"))
        .select(col("gap_sec"), col("n_sessions"), col("n_events"),
          expr("(1000 * n_events) div n_sessions").as("mean_events_pm"))
    },

    // --------------------------------------------------------------- q258
    // Duplicate-payment detection — the payables audit: two purchases
    // by the SAME user for the SAME dollar amount within 24 hours are
    // a refund-or-double-charge candidate. The pair join keys on
    // (user, dollar band) — banding the amount is what keeps the join
    // keyed and the candidate set tiny (a time-only window would be
    // quadratic in a user's purchases); the ±24h residual rides the
    // equi join. The band width is the detector's precision/recall
    // knob (exact cents on this continuous fixture matches nothing —
    // banding is also what a real detector does about fees). Pairs are canonical (earlier id first, consecutive
    // by time via a min-gap argmin window) so each duplicate reports
    // once. Output: user, the two event ids, amount, gap minutes.
    // Corpus cost: one purchase-filtered pass + one keyed self-join
    // of (user, cents) groups — scales with the largest same-amount
    // group per user, which the equality key bounds.
    Q(
      "q258_duplicate_payments",
      Some("""
        WITH p AS (
          SELECT user_id, event_id,
                 CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT)
                   // 100 AS dollars,
                 epoch_us(ts) AS us
          FROM events WHERE event_type = 'purchase'),
        cand AS (
          SELECT a.user_id, a.event_id AS first_id, b.event_id AS second_id,
                 a.dollars, (b.us - a.us) // 60000000 AS gap_min,
                 ROW_NUMBER() OVER (PARTITION BY a.user_id, a.event_id
                   ORDER BY b.us - a.us, b.event_id) AS rn
          FROM p a JOIN p b
            ON b.user_id = a.user_id AND b.dollars = a.dollars
            AND (b.us > a.us OR (b.us = a.us AND b.event_id > a.event_id))
            AND b.us - a.us <= 86400000000)
        SELECT user_id, first_id, second_id, dollars, gap_min
        FROM cand WHERE rn = 1""")
    ) { (s, dir) =>
      val p = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("cast(cast(value as decimal(18,4)) * 100 as bigint) div 100")
            .as("dollars"),
          unix_micros(col("ts")).as("us"))
      val a = p.select(col("user_id"), col("event_id").as("first_id"),
        col("dollars"), col("us").as("us_a"))
      val b = p.select(col("user_id"), col("event_id").as("second_id"),
        col("dollars"), col("us").as("us_b"))
      val cand = a.join(b, Seq("user_id", "dollars"))
        .filter((col("us_b") > col("us_a")
          || (col("us_b") === col("us_a")
            && col("second_id") > col("first_id")))
          && col("us_b") - col("us_a") <= 86400000000L)
      cand.withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "first_id")
            .orderBy(col("us_b") - col("us_a"), col("second_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("first_id"), col("second_id"),
          col("dollars"), expr("(us_b - us_a) div 60000000").as("gap_min"))
    },

    // --------------------------------------------------------------- q255
    // Rolling 7-day active users (WAU) with stickiness — the product
    // health metric computed EXACTLY: distinct (user, day) pairs
    // explode to the ≤7 window-days they serve (map-side, a bounded
    // ×7 fanout — the standard trick that turns a sliding distinct
    // into a keyed exact count), then one exact count-distinct per
    // window day. DAU rides along from the same pair table, and
    // stickiness = 1000·DAU/WAU. The window fanout never touches raw
    // events (the user-day distinct comes first), so the exploded
    // table is ≤ 7·|user-days| — scales. Output restricted to days
    // with a FULL trailing window so every WAU means the same thing.
    Q(
      "q255_rolling_wau",
      Some("""
        WITH ud AS (
          SELECT DISTINCT user_id,
                 epoch_us(ts) // 86400000000 AS d
          FROM events),
        bounds AS (
          SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM ud),
        win AS (
          SELECT ud.user_id, ud.d + off.o AS wd
          FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) off),
        wau AS (
          SELECT wd, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
          FROM win GROUP BY 1),
        dau AS (
          SELECT d AS wd, CAST(COUNT(*) AS BIGINT) AS dau
          FROM ud GROUP BY 1)
        SELECT w.wd AS day, COALESCE(dau.dau, 0) AS dau, w.wau,
               (1000 * COALESCE(dau.dau, 0)) // w.wau AS stickiness_pm
        FROM wau w
        LEFT JOIN dau ON dau.wd = w.wd
        CROSS JOIN bounds
        WHERE w.wd >= bounds.dmin + 6 AND w.wd <= bounds.dmax""")
    ) { (s, dir) =>
      // referenced three times (bounds, the window fanout, DAU) —
      // materialize or the events distinct re-executes per reference
      val ud = graft.Checkpoints.materialize(t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
        .distinct())
      val bounds = ud.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      val win = ud.withColumn("wd",
        explode(sequence(col("d"), col("d") + 6)))
      val wau = win.groupBy("wd")
        .agg(countDistinct(col("user_id")).as("wau"))
      val dau = ud.groupBy(col("d").as("wd")).agg(count(lit(1)).as("dau"))
      wau.join(dau, Seq("wd"), "left").na.fill(0L, Seq("dau"))
        .crossJoin(broadcast(bounds))
        .filter(col("wd") >= col("dmin") + 6 && col("wd") <= col("dmax"))
        .select(col("wd").as("day"), col("dau"), col("wau"),
          expr("(1000 * dau) div wau").as("stickiness_pm"))
    },

    // --------------------------------------------------------------- q257
    // Event-type audience overlap — exact Jaccard between the USER
    // SETS of every event-type pair, without a user×user join: the
    // per-user distinct type set (≤5 types) expands to its within-
    // user type pairs map-side (C(5,2) = 10 at most — bounded by the
    // type domain, not the corpus), so |A∩B| is one count per pair
    // and |A| one count per type. The segmentation question ("do
    // error-users also purchase?") answered in set algebra; at 100 TB
    // the pair fanout stays ≤ C(|types|,2) per user — scales. Jaccard
    // and containment both reported in exact permille.
    Q(
      "q257_segment_overlap",
      Some("""
        WITH ut AS (
          SELECT DISTINCT user_id, event_type FROM events),
        sz AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM ut GROUP BY 1),
        pr AS (
          SELECT a.event_type AS ta, b.event_type AS tb,
                 CAST(COUNT(*) AS BIGINT) AS both_n
          FROM ut a JOIN ut b
            ON b.user_id = a.user_id AND b.event_type > a.event_type
          GROUP BY 1, 2)
        SELECT pr.ta, pr.tb, sa.n AS n_a, sb.n AS n_b, pr.both_n,
               (1000 * pr.both_n) // (sa.n + sb.n - pr.both_n)
                 AS jaccard_pm,
               (1000 * pr.both_n) // least(sa.n, sb.n)
                 AS containment_pm
        FROM pr
        JOIN sz sa ON sa.event_type = pr.ta
        JOIN sz sb ON sb.event_type = pr.tb""")
    ) { (s, dir) =>
      // referenced three times (sizes + both pair sides) — materialize
      val ut = graft.Checkpoints.materialize(t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct())
      val sz = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
      val pr = ut.as("a")
        .join(ut.as("b"), col("a.user_id") === col("b.user_id")
          && col("b.event_type") > col("a.event_type"))
        .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
        .agg(count(lit(1)).as("both_n"))
      pr.join(broadcast(sz.select(col("event_type").as("ta"),
          col("n").as("n_a"))), "ta")
        .join(broadcast(sz.select(col("event_type").as("tb"),
          col("n").as("n_b"))), "tb")
        .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("both_n"),
          expr("(1000 * both_n) div (n_a + n_b - both_n)").as("jaccard_pm"),
          expr("(1000 * both_n) div least(n_a, n_b)").as("containment_pm"))
    },

    // --------------------------------------------------------------- q253
    // Calibration reliability table + ECE — is the score an honest
    // probability? The proxy score is the event value's exact
    // percentile rank in permille (a rank window over score-value
    // space), the outcome is "was a purchase", and each decile-of-
    // score bin reports predicted mean vs observed rate with the
    // absolute gap. Expected calibration error = Σ n_b·|gap| div n
    // rides on every row. All integer permille — rank-based scores
    // make the calibration question exact (a float sigmoid would
    // drag in libm). One corpus pass to score space, one bin
    // aggregate. Like q215, the Spark plan is the TWO-PHASE bucket
    // form: the percentile rank's cumulative count comes from a
    // bounded-bucket cumsum plus a PARTITIONED within-bucket window,
    // so no ordered window ever runs at score-table cardinality even
    // for a continuous unbounded score column (the oracle keeps the
    // direct global-rank form; the hash match proves equivalence).
    // The eval gate a model-scoring pipeline runs next to q215's
    // AUC: AUC measures ranking, THIS measures whether 0.7 means 70%.
    Q(
      "q253_calibration_ece",
      Some("""
        WITH s AS (
          SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS sc,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events),
        g AS (
          SELECT sc, CAST(COUNT(*) AS BIGINT) AS n_g,
                 CAST(SUM(y) AS BIGINT) AS pos_g
          FROM s GROUP BY 1),
        r AS (
          SELECT sc, n_g, pos_g,
                 CAST(SUM(n_g) OVER (ORDER BY sc) AS BIGINT) AS cum,
                 CAST(SUM(n_g) OVER () AS BIGINT) AS n
          FROM g),
        p AS (
          SELECT pos_g, n_g,
                 (1000 * (cum - (n_g + 1) // 2)) // n AS p_hat_pm
          FROM r),
        b AS (
          SELECT least(p_hat_pm // 100, 9) AS bin,
                 CAST(SUM(n_g) AS BIGINT) AS n_b,
                 CAST(SUM(n_g * p_hat_pm) AS BIGINT) AS psum,
                 CAST(SUM(pos_g) AS BIGINT) AS pos
          FROM p GROUP BY 1),
        e AS (
          SELECT CAST(SUM(n_b * abs(psum // n_b - (1000 * pos) // n_b))
                      AS BIGINT) // CAST(SUM(n_b) AS BIGINT) AS ece_pm
          FROM b)
        SELECT b.bin, b.n_b,
               b.psum // b.n_b AS pred_pm,
               (1000 * b.pos) // b.n_b AS obs_pm,
               abs(b.psum // b.n_b - (1000 * b.pos) // b.n_b) AS gap_pm,
               e.ece_pm
        FROM b CROSS JOIN e""")
    ) { (s, dir) =>
      val sVals = t(s, dir, "events").select(
        expr("cast(cast(value as decimal(18,4)) * 10000 as bigint)").as("sc"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      // phase 1: score-value groups → fixed-width ($10) score buckets
      val g = sVals.groupBy("sc")
        .agg(count(lit(1)).as("n_g"), sum(col("y")).as("pos_g"))
        .withColumn("bucket", expr("sc div 100000"))
      // within-bucket INCLUSIVE cumsum: partitioned, width-bounded
      val cw = g.withColumn("cum_w",
        sum(col("n_g")).over(Window.partitionBy("bucket").orderBy("sc")))
      // bucket offsets + corpus total from the bounded bucket table
      val bk = g.groupBy("bucket").agg(sum(col("n_g")).as("bn"))
      val bkc = bk
        .withColumn("below_b",
          sum(col("bn")).over(Window.orderBy("bucket")) - col("bn"))
        .withColumn("n", sum(col("bn")).over(Window.partitionBy()))
        .select("bucket", "below_b", "n")
      val p = cw.join(broadcast(bkc), "bucket")
        .select(col("pos_g"), col("n_g"),
          expr("(1000 * (below_b + cum_w - (n_g + 1) div 2)) div n")
            .as("p_hat_pm"))
      val b = p.groupBy(least(expr("p_hat_pm div 100"), lit(9L)).as("bin"))
        .agg(sum(col("n_g")).as("n_b"),
          sum(col("n_g") * col("p_hat_pm")).as("psum"),
          sum(col("pos_g")).as("pos"))
      // ECE aggregates the 10-row bin table — a global window over
      // bin-space references b ONCE (an agg + cross-join back would
      // re-execute b's corpus lineage a second time)
      b.select(col("bin"), col("n_b"),
          expr("psum div n_b").as("pred_pm"),
          expr("(1000 * pos) div n_b").as("obs_pm"),
          expr("abs(psum div n_b - (1000 * pos) div n_b)").as("gap_pm"),
          expr("sum(n_b * abs(psum div n_b - (1000 * pos) div n_b))" +
            " over () div sum(n_b) over ()").as("ece_pm"))
    },

    // --------------------------------------------------------------- q254
    // Exact weighted median — quantity-weighted median price per
    // return flag: the first price (in a (price, order, line) total
    // order) whose cumulative quantity reaches half the flag's total.
    // The unweighted median answers "the middle ROW"; procurement
    // wants "the middle UNIT", and the two diverge whenever cheap
    // lines carry big quantities. Exact integer arithmetic: cents
    // quantize through decimal, the half-total threshold is
    // (W + 1) div 2 on BIGINT quantities, and the per-flag window is
    // keyed — no global sort. The same shape generalizes to any
    // token-weighted document percentile in the curation stack.
    Q(
      "q254_weighted_median",
      Some("""
        WITH v AS (
          SELECT l_returnflag AS rf,
                 CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
                      AS BIGINT) AS cents,
                 CAST(l_quantity AS BIGINT) AS q,
                 l_orderkey AS ok, l_linenumber AS ln
          FROM lineitem),
        w AS (
          SELECT rf, cents, q,
                 CAST(SUM(q) OVER (PARTITION BY rf
                   ORDER BY cents, ok, ln) AS BIGINT) AS cw,
                 CAST(SUM(q) OVER (PARTITION BY rf) AS BIGINT) AS tw
          FROM v),
        m AS (
          SELECT rf, cents, cw, tw,
                 ROW_NUMBER() OVER (PARTITION BY rf ORDER BY cw) AS rn
          FROM w WHERE cw >= (tw + 1) // 2)
        SELECT rf AS l_returnflag, tw AS total_qty,
               cents AS weighted_median_cents
        FROM m WHERE rn = 1""")
    ) { (s, dir) =>
      val v = t(s, dir, "lineitem").select(
        col("l_returnflag").as("rf"),
        expr("cast(cast(l_extendedprice as decimal(18,4)) * 100 as bigint)")
          .as("cents"),
        col("l_quantity").cast("long").as("q"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      val w = v.select(col("rf"), col("cents"), col("q"),
        sum(col("q")).over(Window.partitionBy("rf")
          .orderBy("cents", "ok", "ln")).as("cw"),
        sum(col("q")).over(Window.partitionBy("rf")).as("tw"))
      w.filter(col("cw") >= expr("(tw + 1) div 2"))
        .withColumn("rn",
          row_number().over(Window.partitionBy("rf").orderBy("cw")))
        .filter(col("rn") === 1)
        .select(col("rf").as("l_returnflag"), col("tw").as("total_qty"),
          col("cents").as("weighted_median_cents"))
    },

    // --------------------------------------------------------------- q248
    // Retention vacuum plan — the table-maintenance policy "keep the
    // newest 3 events per (user, type), reclaim the rest" turned into
    // an executable deletion plan: per event type, how many rows the
    // policy deletes, the bytes reclaimed (declared 96 B/row width),
    // and the deletion share in permille — what a VACUUM/retention
    // job reads before touching data, and the dry-run report a data-
    // retention compliance review signs off on. One rank window per
    // (user, type) — keyed, per-group sorts, no global order; the
    // plan is |types| rows.
    Q(
      "q248_retention_vacuum_plan",
      Some("""
        WITH r AS (
          SELECT event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_delete,
               CAST(96 * SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END)
                 AS BIGINT) AS reclaimed_bytes,
               (1000 * CAST(SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END)
                 AS BIGINT)) // COUNT(*) AS delete_share_pm
        FROM r GROUP BY 1""")
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("rn") > 3, 1L).otherwise(0L)).as("n_delete"),
          (lit(96L) * sum(when(col("rn") > 3, 1L).otherwise(0L)))
            .as("reclaimed_bytes"),
          expr("(1000 * sum(case when rn > 3 then 1 else 0 end))" +
            " div count(1)").as("delete_share_pm"))
    },

    // --------------------------------------------------------------- q236
    // Funnel advance-latency percentiles — q92 reports conversion
    // counts and TOTAL dwell; this reports the exact p50/p90/max of
    // each step's latency as ORDER STATISTICS (value at rank
    // ⌈n·q/100⌉ via a rank window — no float quantile estimator, the
    // q211 move), because funnel latencies are heavy-tailed and the
    // mean q92 implies is the wrong SLA number. Latencies live in
    // user-space (one first-advance row per converting user per
    // step); the rank windows partition by step. Seconds are exact
    // integer floors of the µs difference.
    Q(
      "q236_funnel_latency",
      Some("""
        WITH v AS (
          SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
          FROM events WHERE event_type = 'view' GROUP BY user_id),
        c AS (
          SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS c_us
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.v_us
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.c_us
          GROUP BY e.user_id),
        lat AS (
          SELECT 'view>click' AS step, c.user_id,
                 (c.c_us - v.v_us) // 1000000 AS sec
          FROM c JOIN v ON v.user_id = c.user_id
          UNION ALL
          SELECT 'click>purchase', p.user_id, (p.p_us - c.c_us) // 1000000
          FROM p JOIN c ON c.user_id = p.user_id),
        rk AS (
          SELECT step, sec,
                 ROW_NUMBER() OVER (PARTITION BY step
                   ORDER BY sec, user_id) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY step) AS BIGINT) AS n
          FROM lat)
        SELECT step, MAX(n) AS n,
               MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN sec END)
                 AS p50_sec,
               MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN sec END)
                 AS p90_sec,
               MAX(sec) AS max_sec
        FROM rk GROUP BY step""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("v_us"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") > col("v_us"))
        .groupBy("user_id").agg(min(col("us")).as("c_us"), min(col("v_us")).as("v_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c.select("user_id", "c_us"), "user_id")
        .filter(col("us") > col("c_us"))
        .groupBy("user_id").agg(min(col("us")).as("p_us"), min(col("c_us")).as("c2_us"))
      val lat = c.select(lit("view>click").as("step"), col("user_id"),
          expr("(c_us - v_us) div 1000000").as("sec"))
        .unionByName(p.select(lit("click>purchase").as("step"),
          col("user_id"), expr("(p_us - c2_us) div 1000000").as("sec")))
      val w = Window.partitionBy("step").orderBy("sec", "user_id")
      val rk = lat.select(col("step"), col("sec"),
        row_number().over(w).cast("long").as("rn"),
        count(lit(1)).over(Window.partitionBy("step")).as("n"))
      rk.groupBy("step")
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(n * 50 + 99) div 100"),
            col("sec"))).as("p50_sec"),
          max(when(col("rn") === expr("(n * 90 + 99) div 100"),
            col("sec"))).as("p90_sec"),
          max(col("sec")).as("max_sec"))
    },

    // --------------------------------------------------------------- q237
    // Markov removal-effect attribution — the data-driven alternative
    // to q208's position rules: journeys are per-user event-type
    // sequences truncated at the first purchase, a first-order chain
    // with START plus the four channels, purchase absorbing at 10⁶
    // ppm, journey-end absorbing at 0. Conversion probability p(s) =
    // P(absorb in purchase | s) evaluates by 8 synchronous Jacobi
    // sweeps p' = (Σ_t cnt(s,t)·val(t)) div out(s) in quantized ppm —
    // both engines run the identical integer recurrence, so the
    // fixpoint approximation is bit-stable (convergence is geometric;
    // the spec replays the sweeps). Removal effect of channel c:
    // rerun the sweeps with val(c) forced 0 (paths through c die) —
    // removal_pm = 1000·(p − p_c)/p, the channel's true marginal
    // contribution. The corpus contributes ONE pass (lead window per
    // user → transition counts); every sweep runs on the ≤6×6 count
    // table, and the four scenarios (base + 3 removals) share it.
    Q(
      "q237_removal_effect",
      Some(removalEffectSql)
    ) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val rows = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("rnp", min(when(col("event_type") === "purchase",
          col("rn"))).over(Window.partitionBy("user_id")))
        .filter(col("rnp").isNull || col("rn") <= col("rnp"))
      val steps = rows
        .withColumn("nxt", lead(col("event_type"), 1)
          .over(Window.partitionBy("user_id").orderBy("rn")))
      val trans = steps.filter(col("rn") === 1)
        .select(lit("START").as("s"), col("event_type").as("t"))
        .unionByName(steps
          .filter(col("nxt").isNotNull && col("event_type") =!= "purchase")
          .select(col("event_type").as("s"), col("nxt").as("t")))
        .unionByName(steps
          .filter(col("nxt").isNull && col("event_type") =!= "purchase")
          .select(col("event_type").as("s"), lit("END").as("t")))
      // 8 quantized Jacobi sweeps; the removed channel's value is
      // forced 0 (its paths die). The sweeps live entirely in STATE
      // SPACE (≤ 6 source states × ≤ 7 targets ≤ 42 transition rows,
      // at ANY corpus size), so the whole iteration folds into ONE
      // task: the transition table gathers into a single sorted
      // struct array, the four scenarios explode to four rows, and a
      // typed map runs the sweeps p'(s0) = (Σ_{(s0,t)} cnt·v(t)) div
      // out(s0) with v(t) = 10⁶ for purchase, 0 for END and the
      // removed channel, else the previous sweep's p(t) — the exact
      // integer recurrence of the previous broadcast-join
      // formulation (same vCase, same truncating div on non-negative
      // operands). The 8 per-sweep aggregate shuffles + 2 helper
      // materializations collapse to zero: the corpus pays its one
      // transition-count pass, everything after is bounded per-row
      // work. (A declarative HOF chain was tried first and is a trap
      // twice over: CollapseProject inlines each sweep's alias into
      // the next sweep's LAMBDA, so the inlined prev-sweep expression
      // re-evaluates per array ELEMENT — O(fanout^8) interpreted
      // eval, measured as a 15-min single-core stall at sf0.001.)
      val one = trans.groupBy("s", "t").agg(count(lit(1)).as("cnt"))
        .agg(sort_array(collect_list(struct(col("s"), col("t"),
          col("cnt")))).as("tr"))
      val scen = one
        .withColumn("scenario", explode(array(lit("base"), lit("view"),
          lit("click"), lit("signup"))))
        .select(col("scenario"), col("tr"))
      val swept = {
        import one.sparkSession.implicits._
        scen.as[(String, Seq[(String, String, Long)])].map {
          case (scenario, tr) =>
            val states = tr.map(_._1).distinct
            val out = states.map(s0 =>
              s0 -> tr.filter(_._1 == s0).map(_._3).sum).toMap
            var p = states.map(_ -> 0L).toMap
            for (_ <- 1 to 8) {
              p = states.map { s0 =>
                val num = tr.iterator.filter(_._1 == s0).map { case (_, t, cnt) =>
                  val v = t match {
                    case "purchase" => 1000000L
                    case "END" => 0L
                    case `scenario` => 0L
                    case _ => p.getOrElse(t, 0L)
                  }
                  cnt * v
                }.sum
                s0 -> num / out(s0)
              }.toMap
            }
            (scenario, p.get("START"))
        }.toDF("scenario", "p")
      }
      // referenced twice (base row + channel rows) — truncate the
      // corpus lineage once; 4 rows (a scenario row drops entirely
      // when the corpus produced no START transitions, matching the
      // join form's empty starts frame)
      val starts = graft.Checkpoints.materialize(
        swept.filter(col("p").isNotNull))
      val base = starts.filter(col("scenario") === "base")
        .select(col("p").as("p_base_ppm"))
      starts.filter(col("scenario") =!= "base")
        .select(col("scenario").as("channel"), col("p").as("p_removed_ppm"))
        .crossJoin(broadcast(base))
        .select(col("channel"), col("p_base_ppm"), col("p_removed_ppm"),
          when(col("p_base_ppm") > 0,
            expr("(1000 * (p_base_ppm - p_removed_ppm)) div p_base_ppm"))
            .otherwise(0L).as("removal_pm"))
    },

    // --------------------------------------------------------------- q260
    // Page's sequential CUSUM alarm over the daily event volume — the
    // ONLINE drift detector beside q202's offline changepoint LOCATOR
    // (q202 answers "where was the level shift, in hindsight"; this
    // answers "raise the alarm NOW, with tunable slack and delay" —
    // the form an ingest pipeline actually pages on): Page's recursion s_t = max(0,
    // s_{t-1} + (x_t − μ − k)) is NOT a window sum, but its closed
    // form IS: s_t = S_t − min(0, min_{j≤t} S_j) for the plain cumsum
    // S — so the whole detector is two cumulative windows over the
    // DAY-SPACE table (|days| rows; the corpus pays one groupBy).
    // Baseline μ = integer mean of the first 14 days, slack k = μ/20
    // (5%), alarm threshold h = μ — all exact BIGINT, both tails
    // (surge and drop) reported per day. The classic sequential-
    // detection trade: k tunes sensitivity-vs-noise, h the detection
    // delay; both knobs are visible columns, not buried constants.
    Q(
      "q260_page_cusum_alarm",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1),
        base AS (
          SELECT CAST(SUM(x) AS BIGINT) // 14 AS mu FROM (
            SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily) t
          WHERE rn <= 14),
        cum AS (
          SELECT d, x, mu,
                 CAST(SUM(x - (mu + mu // 20)) OVER (ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sp,
                 CAST(SUM((mu - mu // 20) - x) OVER (ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sn
          FROM daily CROSS JOIN base)
        SELECT d, x, mu,
               sp - LEAST(CAST(MIN(sp) OVER (ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) AS cusum_up,
               sn - LEAST(CAST(MIN(sn) OVER (ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) AS cusum_down,
               sp - LEAST(CAST(MIN(sp) OVER (ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) > mu AS alarm_up,
               sn - LEAST(CAST(MIN(sn) OVER (ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS BIGINT), 0) > mu AS alarm_down
        FROM cum""")
    ) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("x"))
      val base = daily
        .select(col("x"), row_number().over(Window.orderBy("d")).as("rn"))
        .filter(col("rn") <= 14)
        .agg(expr("sum(x) div 14").as("mu"))
      val wd = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(base))
        .withColumn("sp",
          sum(col("x") - (col("mu") + expr("mu div 20"))).over(wd))
        .withColumn("sn",
          sum((col("mu") - expr("mu div 20")) - col("x")).over(wd))
        .withColumn("cusum_up", col("sp") - least(min(col("sp")).over(wd), lit(0L)))
        .withColumn("cusum_down", col("sn") - least(min(col("sn")).over(wd), lit(0L)))
        .select(col("d"), col("x"), col("mu"), col("cusum_up"),
          col("cusum_down"),
          (col("cusum_up") > col("mu")).as("alarm_up"),
          (col("cusum_down") > col("mu")).as("alarm_down"))
    },

    // --------------------------------------------------------------- q261
    // Sample-ratio-mismatch (SRM) check — the first gate every A/B
    // platform runs before reading ANY metric: do the observed arm
    // sizes match the intended split? Three assignment scenarios ride
    // one user-space dataflow with a tag column (the q237/q251 move):
    // a salted-Knuth 50/50 hash (healthy), a user_id%10<4 "bug" that
    // was INTENDED 50/50 (the SRM catch — id-pattern assignment is
    // the classic cause), and a deliberate 90/10 weighted rollout
    // (healthy at its own weights). The 1-df χ² reduces EXACTLY to
    // (W·oA − n·wA)² / (n·wA·wB) for a two-arm split (d² · W² /
    // (n·wA·wB) with d the observed−expected gap) — reported in
    // milli, banked through DECIMAL(38,0)/HUGEINT so the square never
    // overflows, flagged at the 95% threshold 3.841. Assignment is
    // per-USER (first shuffle collapses events to users), so the χ²
    // sees users, not event volume.
    Q(
      "q261_srm_check",
      Some(s"""
        WITH users AS (SELECT DISTINCT user_id FROM events),
        arms AS (
          SELECT scenario, wa, wb,
                 CAST(SUM(a) AS BIGINT) AS oa,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM (
            SELECT 'hash_50_50' AS scenario, CAST(1 AS BIGINT) AS wa,
                   CAST(1 AS BIGINT) AS wb,
                   CASE WHEN (${graft.Knuth.sql("user_id", 7L)}) // 1024 % 2 = 0
                     THEN 1 ELSE 0 END AS a
            FROM users
            UNION ALL
            SELECT 'mod_bug_50_50', 1, 1,
                   CASE WHEN user_id % 10 < 4 THEN 1 ELSE 0 END
            FROM users
            UNION ALL
            SELECT 'hash_90_10', 9, 1,
                   CASE WHEN (${graft.Knuth.sql("user_id", 7L)}) // 1024 % 10 < 9
                     THEN 1 ELSE 0 END
            FROM users) t
          GROUP BY 1, 2, 3)
        SELECT scenario, n, oa, n - oa AS ob, wa, wb,
               CAST((1000 * ((wa + wb) * CAST(oa AS HUGEINT) - n * wa)
                          * ((wa + wb) * CAST(oa AS HUGEINT) - n * wa))
                    // (CAST(n AS HUGEINT) * wa * wb) AS BIGINT)
                 AS chi2_milli,
               CAST((1000 * ((wa + wb) * CAST(oa AS HUGEINT) - n * wa)
                          * ((wa + wb) * CAST(oa AS HUGEINT) - n * wa))
                    // (CAST(n AS HUGEINT) * wa * wb) AS BIGINT) > 3841
                 AS srm
        FROM arms""")
    ) { (s, dir) =>
      val users = t(s, dir, "events").select(col("user_id")).distinct()
      // assignment reads hash BIT 10, not bit 0: the multiplicative
      // hash's bottom bit is just input parity (the q153 lattice trap
      // — consecutive ids would split EXACTLY 50/50, a giveaway no
      // real assignment produces); the middle bits mix
      val hb = expr(s"(${graft.Knuth.sql("user_id", 7L)}) div 1024")
      val scen = users.select(lit("hash_50_50").as("scenario"),
          lit(1L).as("wa"), lit(1L).as("wb"),
          when(hb % 2 === 0, 1L).otherwise(0L).as("a"))
        .unionByName(users.select(lit("mod_bug_50_50").as("scenario"),
          lit(1L).as("wa"), lit(1L).as("wb"),
          when(col("user_id") % 10 < 4, 1L).otherwise(0L).as("a")))
        .unionByName(users.select(lit("hash_90_10").as("scenario"),
          lit(9L).as("wa"), lit(1L).as("wb"),
          when(hb % 10 < 9, 1L).otherwise(0L).as("a")))
      val chi2 = expr("""cast((1000 * ((wa + wb) * cast(oa as decimal(38,0)) - n * wa)
                       * ((wa + wb) * cast(oa as decimal(38,0)) - n * wa))
                  div (cast(n as decimal(38,0)) * wa * wb) as bigint)""")
      scen.groupBy(col("scenario"), col("wa"), col("wb"))
        .agg(sum(col("a")).as("oa"), count(lit(1)).as("n"))
        .select(col("scenario"), col("n"), col("oa"),
          (col("n") - col("oa")).as("ob"), col("wa"), col("wb"),
          chi2.as("chi2_milli"), (chi2 > 3841L).as("srm"))
    },

    // --------------------------------------------------------------- q262
    // CUPED variance reduction — the experimentation-platform
    // estimator upgrade: adjust each user's post-period metric by
    // their PRE-period activity (y − θ·x) so pre-existing user
    // variance cancels out of the treatment comparison. θ* =
    // cov(x,y)/var(x) in exact permyriad; the key move is that the
    // adjusted variance needs NO second pass — Σadj and Σadj² expand
    // ALGEBRAICALLY from the six sufficient statistics (n, Σx, Σy,
    // Σxy, Σx², Σy²): Σadj = 10⁴Σy − θΣx, Σadj² = 10⁸Σy² −
    // 2·10⁴θΣxy + θ²Σx². One user-space aggregate, one stats row,
    // all cross terms banked DECIMAL(38,0)/HUGEINT (θ²Σx² is the
    // overflow term). x = events in days 1-15 of month, y = days
    // 16+; variance ratio and the headline "CUPED cuts variance by
    // X%" in exact ppm. Singleton/constant-x corpora degrade to θ
    // NULL, ratio 10⁶ (no reduction) — guarded identically in both
    // engines.
    Q(
      "q262_cuped",
      Some("""
        WITH ux AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN day(CAST(ts AS DATE)) <= 15
                      THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN day(CAST(ts AS DATE)) > 15
                      THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY 1),
        st AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM ux),
        th AS (
          SELECT n, sx, sy, sxy, sxx, syy,
                 CASE WHEN n * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx > 0
                   THEN CAST((10000 * (n * CAST(sxy AS HUGEINT) - CAST(sx AS HUGEINT) * sy))
                        // (n * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx) AS BIGINT)
                 END AS theta_pq
          FROM st),
        agg AS (
          SELECT n, sx, sy, theta_pq,
                 n * CAST(syy AS HUGEINT) - CAST(sy AS HUGEINT) * sy AS var_y,
                 CASE WHEN theta_pq IS NULL THEN NULL ELSE
                   n * (100000000 * CAST(syy AS HUGEINT)
                        - 2 * 10000 * CAST(theta_pq AS HUGEINT) * sxy
                        + CAST(theta_pq AS HUGEINT) * theta_pq * sxx)
                   - (10000 * CAST(sy AS HUGEINT) - CAST(theta_pq AS HUGEINT) * sx)
                     * (10000 * CAST(sy AS HUGEINT) - CAST(theta_pq AS HUGEINT) * sx)
                 END AS var_adj
          FROM th)
        SELECT n, sx, sy, theta_pq,
               CAST(var_y AS BIGINT) AS var_y_n,
               CASE WHEN theta_pq IS NULL OR var_y = 0 THEN 1000000
                 ELSE CAST((1000000 * var_adj) // (100000000 * var_y) AS BIGINT)
               END AS var_ratio_ppm,
               1000000 - CASE WHEN theta_pq IS NULL OR var_y = 0 THEN 1000000
                 ELSE CAST((1000000 * var_adj) // (100000000 * var_y) AS BIGINT)
               END AS reduction_ppm
        FROM agg""")
    ) { (s, dir) =>
      val ux = t(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(dayofmonth(to_date(col("ts"))) <= 15, 1L).otherwise(0L))
          .as("x"),
          sum(when(dayofmonth(to_date(col("ts"))) > 15, 1L).otherwise(0L))
            .as("y"))
      val st = ux.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val th = st.withColumn("theta_pq", expr("""
        CASE WHEN n * cast(sxx as decimal(38,0)) - cast(sx as decimal(38,0)) * sx > 0
          THEN cast((10000 * (n * cast(sxy as decimal(38,0)) - cast(sx as decimal(38,0)) * sy))
               div (n * cast(sxx as decimal(38,0)) - cast(sx as decimal(38,0)) * sx) as bigint)
        END"""))
      val agg = th
        .withColumn("var_y",
          expr("n * cast(syy as decimal(38,0)) - cast(sy as decimal(38,0)) * sy"))
        .withColumn("var_adj", expr("""
          CASE WHEN theta_pq IS NULL THEN NULL ELSE
            n * (100000000 * cast(syy as decimal(38,0))
                 - 2 * 10000 * cast(theta_pq as decimal(38,0)) * sxy
                 + cast(theta_pq as decimal(38,0)) * theta_pq * sxx)
            - (10000 * cast(sy as decimal(38,0)) - cast(theta_pq as decimal(38,0)) * sx)
              * (10000 * cast(sy as decimal(38,0)) - cast(theta_pq as decimal(38,0)) * sx)
          END"""))
      val ratio = expr("""
        CASE WHEN theta_pq IS NULL OR var_y = 0 THEN 1000000
          ELSE cast((1000000 * var_adj) div (100000000 * var_y) as bigint)
        END""")
      agg.select(col("n"), col("sx"), col("sy"), col("theta_pq"),
        col("var_y").cast("long").as("var_y_n"),
        ratio.as("var_ratio_ppm"),
        (lit(1000000L) - ratio).as("reduction_ppm"))
    },

    // --------------------------------------------------------------- q264
    // EXACT Shapley-value attribution — the game-theoretic credit
    // split beside q208's positional and q237's Markov removal
    // models: each converting user's pre-purchase DISTINCT channel
    // set C is a coalition observation, the characteristic v(S) =
    // #journeys with C ⊆ S (conversions reachable using only
    // channels in S), and channel i's credit is the Shapley sum
    // φ_i = Σ_{S∌i} |S|!(k−|S|−1)!/k! · (v(S∪{i}) − v(S)). The whole
    // game lives in VALUE SPACE: one corpus pass to per-user channel
    // BITMASKS (sum of DISTINCT powers of two — OR as arithmetic),
    // journeys collapse to ≤2^k distinct-mask counts, subsets
    // enumerate 2^k rows, and φ is a join of two tiny tables.
    // Integers end to end: φ scaled by k! (factorial lookup table
    // shared by both engines), shares in exact permille of
    // ATTRIBUTABLE conversions (v(full) − v(∅); channel-less organic
    // conversions reported, never attributed — the efficiency axiom
    // Σφ = v(full) − v(∅) is StatsEvalSpec3-pinned). Declared bound:
    // exact Shapley is inherently 2^k — k ≤ 8 here (fixture k = 4);
    // beyond that production samples permutations, the data flow
    // (mask collapse, subset-containment join) unchanged.
    Q(
      "q264_shapley_attribution",
      Some("""
        WITH fp AS (
          SELECT user_id, MIN(ts) AS pts FROM events
          WHERE event_type = 'purchase' GROUP BY 1),
        pre AS (
          SELECT e.user_id, e.event_type AS ch
          FROM events e JOIN fp ON fp.user_id = e.user_id
          WHERE e.event_type <> 'purchase' AND e.ts < fp.pts),
        ci AS (
          SELECT ch, CAST(ROW_NUMBER() OVER (ORDER BY ch) AS BIGINT) AS idx
          FROM (SELECT DISTINCT ch FROM pre) t),
        kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ci),
        jm AS (
          SELECT fp.user_id,
                 CAST(COALESCE(SUM(DISTINCT (1 << (ci.idx - 1))), 0)
                   AS BIGINT) AS cmask
          FROM fp
          LEFT JOIN pre ON pre.user_id = fp.user_id
          LEFT JOIN ci ON ci.ch = pre.ch
          GROUP BY 1),
        setcnt AS (
          SELECT cmask, CAST(COUNT(*) AS BIGINT) AS n FROM jm GROUP BY 1),
        subsets AS (
          SELECT CAST(unnest(range(0, 256)) AS BIGINT) AS smask),
        vt AS (
          SELECT s.smask, CAST(COALESCE(SUM(m.n), 0) AS BIGINT) AS v
          FROM subsets s CROSS JOIN kt
          LEFT JOIN setcnt m ON (m.cmask & s.smask) = m.cmask
          WHERE s.smask < (1 << kt.k)
          GROUP BY 1),
        fact(s, f) AS (VALUES (0, 1), (1, 1), (2, 2), (3, 6), (4, 24),
          (5, 120), (6, 720), (7, 5040), (8, 40320)),
        tot AS (
          SELECT (SELECT v FROM vt CROSS JOIN kt
                    WHERE smask = (1 << kt.k) - 1) AS n_conv,
                 (SELECT v FROM vt WHERE smask = 0) AS n_organic),
        phi AS (
          SELECT ci.ch AS channel,
                 CAST(SUM(CAST(fw.f AS BIGINT) * gw.f * (v2.v - v1.v))
                   AS BIGINT) AS phi_num
          FROM vt v1 CROSS JOIN kt CROSS JOIN ci
          JOIN vt v2 ON v2.smask = v1.smask + (1 << (ci.idx - 1))
          JOIN fact fw ON fw.s = bit_count(v1.smask)
          JOIN fact gw ON gw.s = kt.k - bit_count(v1.smask) - 1
          WHERE (v1.smask & (1 << (ci.idx - 1))) = 0
          GROUP BY 1)
        SELECT p.channel, p.phi_num,
               CAST(fk.f AS BIGINT) AS kfact, t.n_conv, t.n_organic,
               CASE WHEN t.n_conv > t.n_organic
                 THEN (1000 * p.phi_num)
                      // (CAST(fk.f AS BIGINT) * (t.n_conv - t.n_organic))
               END AS share_pm
        FROM phi p CROSS JOIN kt JOIN fact fk ON fk.s = kt.k
        CROSS JOIN tot t""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("ts")).as("pts"))
      val pre = ev.filter(col("event_type") =!= "purchase")
        .join(fp.hint("shuffle_hash"), "user_id")
        .filter(col("ts") < col("pts"))
        .select(col("user_id"), col("event_type").as("ch"))
      val ci = pre.select("ch").distinct()
        .withColumn("idx",
          row_number().over(Window.orderBy("ch")).cast("long"))
      val kt = broadcast(ci.agg(count(lit(1)).as("k")))
      val jm = fp.join(
          pre.join(broadcast(ci), "ch")
            .select(col("user_id"), expr("shiftleft(1L, cast(idx - 1 as int))").as("bit")),
          Seq("user_id"), "left")
        .groupBy("user_id")
        .agg(coalesce(expr("sum(distinct bit)"), lit(0L)).as("cmask"))
      val setcnt = jm.groupBy("cmask").agg(count(lit(1)).as("n"))
      val subsets = s.range(0, 256).select(col("id").as("smask"))
        .crossJoin(kt).filter(col("smask") < expr("shiftleft(1L, cast(k as int))"))
      val vt = graft.Checkpoints.materialize(
        subsets.join(broadcast(setcnt),
            expr("(cmask & smask) = cmask"), "left")
          .groupBy("smask", "k")
          .agg(coalesce(sum(col("n")), lit(0L)).as("v")))
      val fact = {
        import s.implicits._
        Seq(0 -> 1L, 1 -> 1L, 2 -> 2L, 3 -> 6L, 4 -> 24L, 5 -> 120L,
          6 -> 720L, 7 -> 5040L, 8 -> 40320L).toDF("s", "f")
      }
      val tot = vt
        .filter(col("smask") === expr("shiftleft(1L, cast(k as int)) - 1"))
        .select(col("v").as("n_conv"))
        .crossJoin(broadcast(vt.filter(col("smask") === 0)
          .select(col("v").as("n_organic"))))
      val v2 = vt.select(col("smask").as("smask2"), col("v").as("v2"))
      val phi = vt.crossJoin(broadcast(ci))
        .filter(expr("(smask & shiftleft(1L, cast(idx - 1 as int))) = 0"))
        .join(broadcast(v2),
          col("smask2") === col("smask") + expr("shiftleft(1L, cast(idx - 1 as int))"))
        .join(broadcast(fact.withColumnsRenamed(Map("s" -> "fs", "f" -> "fw"))),
          col("fs") === expr("bit_count(smask)"))
        .join(broadcast(fact.withColumnsRenamed(Map("s" -> "gs", "f" -> "gw"))),
          col("gs") === col("k") - expr("bit_count(smask)") - 1)
        .groupBy(col("ch").as("channel"))
        .agg(sum(col("fw") * col("gw") * (col("v2") - col("v"))).as("phi_num"))
      phi.crossJoin(kt)
        .join(broadcast(fact), col("s") === col("k"))
        .crossJoin(broadcast(tot))
        .select(col("channel"), col("phi_num"), col("f").as("kfact"),
          col("n_conv"), col("n_organic"),
          when(col("n_conv") > col("n_organic"),
            expr("(1000 * phi_num) div (f * (n_conv - n_organic))"))
            .as("share_pm"))
    },

    // --------------------------------------------------------------- q265
    // Rank-1 ALS sweep — the distributed-recommender primitive: the
    // user × event-type implicit-count matrix R factorizes as u·vᵀ,
    // and one alternating-least-squares sweep runs in exact permyriad
    // fixed point: with items initialized flat (v⁰ = 10⁴), the user
    // solve uᵢ = 10⁴·Σₜ rᵢₜvₜ div Σₜ vₜ² is ONE keyed aggregate with
    // the TYPE-SPACE factor table broadcast (the canonical ALS
    // distribution: item factors broadcast, user factors stay
    // partitioned — at 100 TB the user side never collects or
    // shuffles beyond its own groupBy), then the item solve re-keys
    // the same interaction pass by type. Closed-form least squares,
    // floor-div quantization — every engine replays it exactly.
    // Output per type: the updated factor, its interaction mass, and
    // the sum-of-squared-error BEFORE (flat-v baseline) vs AFTER the
    // sweep in 10⁻⁸-scaled integers (decimal-banked — the u·v
    // products are the 2⁶³ overflow terms); err_after < err_before
    // is the descent property StatsEvalSpec3 pins. The ALS loop at
    // depth is this sweep iterated with Checkpoints.materialize
    // between rounds (the q94 pattern).
    Q(
      "q265_rank1_als",
      Some("""
        WITH r AS (
          SELECT user_id, event_type AS t, CAST(COUNT(*) AS BIGINT) AS r
          FROM events GROUP BY 1, 2),
        v0 AS (
          SELECT t, CAST(10000 AS BIGINT) AS v
          FROM (SELECT DISTINCT event_type AS t FROM events) d),
        vden AS (SELECT CAST(SUM(v * v) AS BIGINT) AS den FROM v0),
        u AS (
          SELECT r.user_id,
                 CAST((100000000 * CAST(SUM(r.r * v0.v) AS HUGEINT))
                      // MAX(vden.den) AS BIGINT) AS u
          FROM r JOIN v0 ON v0.t = r.t CROSS JOIN vden
          GROUP BY 1),
        uden AS (SELECT CAST(SUM(CAST(u AS HUGEINT) * u) AS HUGEINT) AS den
                 FROM u),
        v1 AS (
          SELECT r.t,
                 CAST((100000000 * SUM(CAST(r.r AS HUGEINT) * u.u))
                      // MAX(uden.den) AS BIGINT) AS v,
                 CAST(SUM(r.r) AS BIGINT) AS mass,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM r JOIN u ON u.user_id = r.user_id CROSS JOIN uden
          GROUP BY 1),
        err AS (
          SELECT r.t,
                 CAST(SUM((100000000 * CAST(r.r AS HUGEINT) - CAST(u.u AS HUGEINT) * 10000)
                        * (100000000 * CAST(r.r AS HUGEINT) - CAST(u.u AS HUGEINT) * 10000))
                      AS HUGEINT) AS e_before,
                 CAST(SUM((100000000 * CAST(r.r AS HUGEINT) - CAST(u.u AS HUGEINT) * v1.v)
                        * (100000000 * CAST(r.r AS HUGEINT) - CAST(u.u AS HUGEINT) * v1.v))
                      AS HUGEINT) AS e_after
          FROM r JOIN u ON u.user_id = r.user_id
          JOIN v1 ON v1.t = r.t
          GROUP BY 1)
        SELECT v1.t AS event_type, v1.v AS v_new, v1.mass, v1.n_users,
               CAST(err.e_before % 4611686018427387904 AS BIGINT) AS err_before_mod,
               CAST(err.e_after % 4611686018427387904 AS BIGINT) AS err_after_mod,
               err.e_after < err.e_before AS improved
        FROM v1 JOIN err ON err.t = v1.t""")
    ) { (s, dir) =>
      val r = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type").as("t"))
        .agg(count(lit(1)).as("r"))
      val v0 = t(s, dir, "events").select(col("event_type").as("t"))
        .distinct().withColumn("v", lit(10000L))
      val vden = broadcast(v0.agg(sum(col("v") * col("v")).as("den")))
      val u = r.join(broadcast(v0), "t").crossJoin(vden)
        .groupBy("user_id")
        .agg(expr("cast((100000000 * cast(sum(r * v) as decimal(38,0))) div max(den) as bigint)").as("u"))
      val uden = broadcast(u.agg(
        expr("sum(cast(u as decimal(38,0)) * u)").as("den")))
      val ru = graft.Checkpoints.materialize(
        r.join(u.hint("shuffle_hash"), "user_id"))
      val v1 = ru.crossJoin(uden)
        .groupBy("t")
        .agg(expr("cast((100000000 * sum(cast(r as decimal(38,0)) * u)) div max(den) as bigint)")
          .as("v"),
          sum(col("r")).as("mass"), count(lit(1)).as("n_users"))
      val err = ru.join(broadcast(v1.select(col("t"), col("v"))), "t")
        .groupBy("t")
        .agg(expr("""sum((100000000 * cast(r as decimal(38,0)) - cast(u as decimal(38,0)) * 10000)
                   * (100000000 * cast(r as decimal(38,0)) - cast(u as decimal(38,0)) * 10000))""")
          .as("e_before"),
          expr("""sum((100000000 * cast(r as decimal(38,0)) - cast(u as decimal(38,0)) * v)
                * (100000000 * cast(r as decimal(38,0)) - cast(u as decimal(38,0)) * v))""")
            .as("e_after"))
      v1.join(err, "t")
        .select(col("t").as("event_type"), col("v").as("v_new"),
          col("mass"), col("n_users"),
          expr("cast(e_before % 4611686018427387904 as bigint)")
            .as("err_before_mod"),
          expr("cast(e_after % 4611686018427387904 as bigint)")
            .as("err_after_mod"),
          (col("e_after") < col("e_before")).as("improved"))
    },

    // --------------------------------------------------------------- q266
    // Benjamini–Hochberg FDR gate — the multiple-testing control an
    // experimentation platform runs when it reads MANY metrics at
    // once (q261 gates one split; this gates a FAMILY of readouts):
    // one hypothesis per event type — "is an above-mean count of
    // type t associated with being an above-mean spender?" — each a
    // 2×2 user-space χ² (cross-multiplied n(ad−bc)²/Πmarginals in
    // exact milli; above-mean flags are cross-multiplied too, n·x >
    // Σx, so no division anywhere). BH then runs entirely in
    // TEST-SPACE (m rows): order by χ² descending (1-df p is
    // monotone in χ², so p-ascending == χ²-descending; ties break on
    // the type name), compare test j against the critical value at
    // tail mass α·j/m via an EMBEDDED 50-rung inverse-χ² ladder
    // (α = 5%; public constants, milli-quantized, identical literals
    // in both engines — no erf in either), reject ranks 1..j* where
    // j* is the LAST rung passed. The j/m fraction floors to the
    // ladder grid, which can only lower the tail mass → raise the
    // bar: the quantized gate is conservative, never
    // anti-conservative (families larger than 50 tests floor to
    // rung 1 — the strictest bar — same conservative direction). The
    // purchase-count test is the built-in
    // positive control (it must reject — spend IS purchases);
    // StatsEvalSpec3 replays the whole procedure. Declared bound:
    // (ad−bc)² caps the exact path at n ≲ 3·10⁹ users per family —
    // beyond that the family shards per segment (the q214 trade).
    Q(
      "q266_fdr_gate",
      Some(s"""
        WITH users AS (SELECT DISTINCT user_id FROM events),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM users),
        spend AS (
          SELECT u.user_id, CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                   THEN CAST(CAST(e.value AS DECIMAL(18,4)) * 100 AS BIGINT)
                   ELSE 0 END), 0) AS BIGINT) AS cents
          FROM users u LEFT JOIN events e ON e.user_id = u.user_id
          GROUP BY 1),
        stot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM spend),
        y AS (
          SELECT s.user_id,
                 CASE WHEN n.n * s.cents > stot.tot THEN 1 ELSE 0 END AS y
          FROM spend s CROSS JOIN n CROSS JOIN stot),
        types AS (SELECT DISTINCT event_type AS t FROM events),
        cnt AS (
          SELECT user_id, event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        ttot AS (SELECT t, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
        x AS (
          SELECT u.user_id, ty.t,
                 CASE WHEN n.n * COALESCE(c.c, 0) > tt.tot
                   THEN 1 ELSE 0 END AS x
          FROM users u CROSS JOIN types ty CROSS JOIN n
          JOIN ttot tt ON tt.t = ty.t
          LEFT JOIN cnt c ON c.user_id = u.user_id AND c.t = ty.t),
        ct AS (
          SELECT x.t,
                 CAST(SUM(x.x * y.y) AS BIGINT) AS a,
                 CAST(SUM(x.x * (1 - y.y)) AS BIGINT) AS b,
                 CAST(SUM((1 - x.x) * y.y) AS BIGINT) AS c,
                 CAST(SUM((1 - x.x) * (1 - y.y)) AS BIGINT) AS d
          FROM x JOIN y ON y.user_id = x.user_id
          GROUP BY 1),
        chi AS (
          SELECT t, a, b, c, d,
                 CASE WHEN (a+b) > 0 AND (c+d) > 0 AND (a+c) > 0 AND (b+d) > 0
                   THEN CAST((1000 * (a+b+c+d)
                          * ((a * CAST(d AS HUGEINT) - b * CAST(c AS HUGEINT))
                           * (a * CAST(d AS HUGEINT) - b * CAST(c AS HUGEINT))))
                        // ((a+b) * CAST(c+d AS HUGEINT) * (a+c) * (b+d))
                        AS BIGINT)
                   ELSE 0 END AS chi2_milli
          FROM ct),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM chi),
        ladder(q_pm, crit_milli) AS (VALUES
          $fdrLadderSql),
        ranked AS (
          SELECT chi.*, m.m,
                 CAST(ROW_NUMBER() OVER (ORDER BY chi2_milli DESC, t)
                   AS BIGINT) AS rank,
                 CAST(GREATEST((50 * ROW_NUMBER() OVER (ORDER BY chi2_milli DESC, t))
                   // m.m, 1) AS BIGINT) AS q_pm
          FROM chi CROSS JOIN m),
        flagged AS (
          SELECT r.*, l.crit_milli,
                 r.chi2_milli >= l.crit_milli AS passed
          FROM ranked r JOIN ladder l ON l.q_pm = r.q_pm),
        jstar AS (
          SELECT COALESCE(MAX(CASE WHEN passed THEN rank END), 0) AS jstar
          FROM flagged)
        SELECT f.t AS event_type, f.a, f.b, f.c, f.d, f.chi2_milli,
               f.rank, f.q_pm, CAST(f.crit_milli AS BIGINT) AS crit_milli,
               f.rank <= j.jstar AS reject
        FROM flagged f CROSS JOIN jstar j""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val users = ev.select("user_id").distinct()
      val n = broadcast(users.agg(count(lit(1)).as("n")))
      val spend = users.join(ev.hint("shuffle_hash"), Seq("user_id"), "left")
        .groupBy("user_id")
        .agg(coalesce(sum(when(col("event_type") === "purchase",
          expr("cast(cast(value as decimal(18,4)) * 100 as bigint)"))
          .otherwise(0L)), lit(0L)).as("cents"))
      val stot = broadcast(spend.agg(sum(col("cents")).as("tot")))
      val y = spend.crossJoin(n).crossJoin(stot)
        .select(col("user_id"),
          when(col("n") * col("cents") > col("tot"), 1L).otherwise(0L).as("y"))
      val types = ev.select(col("event_type").as("t")).distinct()
      val cnt = ev.groupBy(col("user_id"), col("event_type").as("t"))
        .agg(count(lit(1)).as("c"))
      val ttot = cnt.groupBy("t").agg(sum(col("c")).as("tot"))
      val x = users.crossJoin(broadcast(types.join(ttot, "t"))).crossJoin(n)
        .join(cnt.hint("shuffle_hash"), Seq("user_id", "t"), "left")
        .select(col("user_id"), col("t"),
          when(col("n") * coalesce(col("c"), lit(0L)) > col("tot"), 1L)
            .otherwise(0L).as("x"))
      val ct = x.join(y.hint("shuffle_hash"), "user_id")
        .groupBy("t")
        .agg(sum(col("x") * col("y")).as("a"),
          sum(col("x") * (lit(1L) - col("y"))).as("b"),
          sum((lit(1L) - col("x")) * col("y")).as("c"),
          sum((lit(1L) - col("x")) * (lit(1L) - col("y"))).as("d"))
      val chi = ct.withColumn("chi2_milli", expr("""
        CASE WHEN (a+b) > 0 AND (c+d) > 0 AND (a+c) > 0 AND (b+d) > 0
          THEN CAST((1000 * (a+b+c+d)
                 * ((a * CAST(d AS DECIMAL(38,0)) - b * CAST(c AS DECIMAL(38,0)))
                  * (a * CAST(d AS DECIMAL(38,0)) - b * CAST(c AS DECIMAL(38,0)))))
               div ((a+b) * CAST(c+d AS DECIMAL(38,0)) * (a+c) * (b+d))
               AS BIGINT)
          ELSE 0L END"""))
      val m = broadcast(chi.agg(count(lit(1)).as("m")))
      val ladder = {
        import s.implicits._
        fdrLadder.toDF("q_pm", "crit_milli")
      }
      val ranked = chi.crossJoin(m)
        .withColumn("rank", row_number()
          .over(Window.orderBy(desc("chi2_milli"), col("t"))).cast("long"))
        .withColumn("q_pm", expr("greatest((50 * rank) div m, 1)"))
      val flagged = graft.Checkpoints.materialize(
        ranked.join(broadcast(ladder), "q_pm")
          .withColumn("passed", col("chi2_milli") >= col("crit_milli")))
      val jstar = broadcast(flagged.agg(
        coalesce(max(when(col("passed"), col("rank"))), lit(0L)).as("jstar")))
      flagged.crossJoin(jstar)
        .select(col("t").as("event_type"), col("a"), col("b"), col("c"),
          col("d"), col("chi2_milli"), col("rank"), col("q_pm"),
          col("crit_milli"), (col("rank") <= col("jstar")).as("reject"))
    },

    // --------------------------------------------------------------- q269
    // Group-sequential O'Brien–Fleming monitor — the INTERIM-look
    // discipline that completes the experimentation set (q261 gates
    // the split, q266 the metric family, THIS the peeking): five
    // equally-spaced looks over the month, each computing the
    // cumulative arm×converted χ² and comparing it against the OBF
    // boundary B_k = c·K/k (c = 4.1604 = 2.0397², the standard
    // K = 5 two-sided α ≈ 5% OBF constant — steep early, nominal at
    // the end; milli-quantized with CEILING division so the integer
    // boundary is conservative). Two scenarios ride one tagged
    // dataflow (q261's move): the salted-hash arm (healthy — must
    // never cross) and a deliberately CONFOUNDED arm (above-mean
    // activity, which correlates with conversion — the monitor
    // should fire early, demonstrating why peeking without
    // boundaries is unsafe). Conversion-by-look derives from each
    // user's first-purchase day, so the whole monitor is one
    // user-space pass exploded by the bounded 5-look table; χ² cells
    // and cumulative stopped flags live in scenario×look space.
    Q(
      "q269_obf_monitor",
      Some(s"""
        WITH ua AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev
          FROM events GROUP BY 1),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(n_ev) AS BIGINT) AS tot FROM ua),
        arms AS (
          SELECT ua.user_id,
                 CASE WHEN (${graft.Knuth.sql("ua.user_id", 7L)}) // 1024 % 2 = 0
                   THEN 1 ELSE 0 END AS arm_hash,
                 CASE WHEN nn.n * ua.n_ev > nn.tot THEN 1 ELSE 0 END AS arm_conf
          FROM ua CROSS JOIN nn),
        looks(k, d) AS (VALUES (CAST(1 AS BIGINT), 6), (2, 12), (3, 18),
          (4, 24), (5, 30)),
        pc AS (
          SELECT a.user_id, l.k, l.d,
                 CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                        AND day(CAST(e.ts AS DATE)) <= l.d
                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS p
          FROM arms a CROSS JOIN looks l
          LEFT JOIN events e ON e.user_id = a.user_id
          GROUP BY 1, 2, 3),
        lt AS (
          SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(p) AS BIGINT) AS tot
          FROM pc GROUP BY 1),
        grid AS (
          SELECT s.scenario, pc.k, pc.d, s.arm,
                 CASE WHEN lt.n * pc.p > lt.tot THEN 1 ELSE 0 END AS conv
          FROM pc
          JOIN lt ON lt.k = pc.k
          JOIN arms a ON a.user_id = pc.user_id
          CROSS JOIN LATERAL (VALUES ('hash', a.arm_hash),
                                     ('confounded', a.arm_conf))
            AS s(scenario, arm)),
        cells AS (
          SELECT scenario, k, d,
                 CAST(SUM(arm * conv) AS BIGINT) AS a,
                 CAST(SUM(arm * (1 - conv)) AS BIGINT) AS b,
                 CAST(SUM((1 - arm) * conv) AS BIGINT) AS c,
                 CAST(SUM((1 - arm) * (1 - conv)) AS BIGINT) AS dd
          FROM grid GROUP BY 1, 2, 3),
        chi AS (
          SELECT scenario, k, d, a, b, c, dd,
                 CASE WHEN (a+b) > 0 AND (c+dd) > 0 AND (a+c) > 0 AND (b+dd) > 0
                   THEN CAST((1000 * (a+b+c+dd)
                          * ((a * CAST(dd AS HUGEINT) - b * CAST(c AS HUGEINT))
                           * (a * CAST(dd AS HUGEINT) - b * CAST(c AS HUGEINT))))
                        // ((a+b) * CAST(c+dd AS HUGEINT) * (a+c) * (b+dd))
                        AS BIGINT)
                   ELSE 0 END AS chi2_milli,
                 CAST((20802 + k - 1) // k AS BIGINT) AS boundary_milli
          FROM cells)
        SELECT scenario, k, d, a + c AS above_mean,
               chi2_milli, boundary_milli,
               chi2_milli >= boundary_milli AS crossed,
               CAST(MAX(CASE WHEN chi2_milli >= boundary_milli THEN 1 ELSE 0 END)
                 OVER (PARTITION BY scenario ORDER BY k
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) = 1 AS stopped
        FROM chi""")
    ) { (s, dir) =>
      val ua = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"))
      val nn = broadcast(ua.agg(count(lit(1)).as("n"), sum(col("n_ev")).as("tot")))
      val arms = ua.crossJoin(nn).select(col("user_id"),
        when(expr(s"(${graft.Knuth.sql("user_id", 7L)}) div 1024") % 2 === 0, 1L)
          .otherwise(0L).as("arm_hash"),
        when(col("n") * col("n_ev") > col("tot"), 1L).otherwise(0L)
          .as("arm_conf"))
      val looks = {
        import s.implicits._
        broadcast(Seq(1L -> 6, 2L -> 12, 3L -> 18, 4L -> 24, 5L -> 30)
          .toDF("k", "d"))
      }
      // cumulative purchases per (user, look): bounded 5-way fanout of
      // the user universe, zero-purchase users are 0-count rows
      val pc = arms.select("user_id").crossJoin(looks)
        .join(t(s, dir, "events").hint("shuffle_hash"), Seq("user_id"), "left")
        .groupBy("user_id", "k", "d")
        .agg(coalesce(sum(when(col("event_type") === "purchase" &&
          dayofmonth(to_date(col("ts"))) <= col("d"), 1L).otherwise(0L)),
          lit(0L)).as("p"))
      val lt = broadcast(pc.groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("p")).as("tot")))
      val grid = pc.join(lt, "k")
        .join(arms.hint("shuffle_hash"), "user_id")
        .select(col("k"), col("d"),
          when(col("n") * col("p") > col("tot"), 1L).otherwise(0L).as("conv"),
          explode(expr(
            "array(struct('hash' as scenario, arm_hash as arm)," +
              " struct('confounded' as scenario, arm_conf as arm))")).as("s"))
        .select(col("s.scenario").as("scenario"), col("k"), col("d"),
          col("s.arm").as("arm"), col("conv"))
      val cells = grid.groupBy("scenario", "k", "d")
        .agg(sum(col("arm") * col("conv")).as("a"),
          sum(col("arm") * (lit(1L) - col("conv"))).as("b"),
          sum((lit(1L) - col("arm")) * col("conv")).as("c"),
          sum((lit(1L) - col("arm")) * (lit(1L) - col("conv"))).as("dd"))
      val chi = cells.withColumn("chi2_milli", expr("""
        CASE WHEN (a+b) > 0 AND (c+dd) > 0 AND (a+c) > 0 AND (b+dd) > 0
          THEN CAST((1000 * (a+b+c+dd)
                 * ((a * CAST(dd AS DECIMAL(38,0)) - b * CAST(c AS DECIMAL(38,0)))
                  * (a * CAST(dd AS DECIMAL(38,0)) - b * CAST(c AS DECIMAL(38,0)))))
               div ((a+b) * CAST(c+dd AS DECIMAL(38,0)) * (a+c) * (b+dd))
               AS BIGINT)
          ELSE 0L END"""))
        .withColumn("boundary_milli", expr("(20802 + k - 1) div k"))
      chi.select(col("scenario"), col("k"), col("d"),
        (col("a") + col("c")).as("above_mean"),
        col("chi2_milli"), col("boundary_milli"),
        (col("chi2_milli") >= col("boundary_milli")).as("crossed"),
        (max(when(col("chi2_milli") >= col("boundary_milli"), 1L).otherwise(0L))
          .over(Window.partitionBy("scenario").orderBy("k")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          === 1L).as("stopped"))
    },

    // --------------------------------------------------------------- q267
    // Poisson overdispersion audit — the model-adequacy gate BEHIND
    // q130's rate anomalies and q187's seasonal baselines: both
    // assume count variance tracks the mean (Poisson); real user
    // traffic is usually overdispersed (burstiness, user
    // heterogeneity), which silently widens their true false-alarm
    // rates. The dispersion index D = var/mean of per-user counts is
    // exact in integers: D_pm = 1000·(n·Σx² − (Σx)²) div
    // ((n−1)·Σx) — the n(n−1) denominators of sample variance and
    // the mean's n CANCEL into one floor division, so no
    // intermediate quotient ever exists. The zero-user/zero-count
    // guards are identical in both engines; the n²-class terms bank
    // into DECIMAL(38,0)/HUGEINT. Output per event type: n users
    // (the full universe — a user with zero events of a type is a
    // zero COUNT, not a missing row; dropping them flatters D), the
    // count sums, mean and D in exact permille, and the descriptive
    // over/under flags at ±10% (the q266 χ² family is where formal
    // testing lives; this is the diagnostic that says WHICH model to
    // test). One corpus pass to (user, type) counts, a bounded
    // type-grid fill, type-space output.
    Q(
      "q267_dispersion_audit",
      Some("""
        WITH users AS (SELECT DISTINCT user_id FROM events),
        types AS (SELECT DISTINCT event_type AS t FROM events),
        cnt AS (
          SELECT user_id, event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        grid AS (
          SELECT u.user_id, ty.t, CAST(COALESCE(c.c, 0) AS BIGINT) AS x
          FROM users u CROSS JOIN types ty
          LEFT JOIN cnt c ON c.user_id = u.user_id AND c.t = ty.t),
        st AS (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM grid GROUP BY 1)
        SELECT t AS event_type, n, sx,
               CASE WHEN n > 0 THEN (1000 * sx) // n END AS mean_pm,
               CASE WHEN n > 1 AND sx > 0
                 THEN CAST((1000 * (n * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx))
                      // ((n - 1) * CAST(sx AS HUGEINT)) AS BIGINT)
               END AS dispersion_pm,
               CASE WHEN n > 1 AND sx > 0
                 THEN CAST((1000 * (n * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx))
                      // ((n - 1) * CAST(sx AS HUGEINT)) AS BIGINT) > 1100
               END AS overdispersed,
               CASE WHEN n > 1 AND sx > 0
                 THEN CAST((1000 * (n * CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT) * sx))
                      // ((n - 1) * CAST(sx AS HUGEINT)) AS BIGINT) < 900
               END AS underdispersed
        FROM st""")
    ) { (s, dir) =>
      val ev = t(s, dir, "events")
      val users = ev.select("user_id").distinct()
      val types = ev.select(col("event_type").as("t")).distinct()
      val cnt = ev.groupBy(col("user_id"), col("event_type").as("t"))
        .agg(count(lit(1)).as("c"))
      val grid = users.crossJoin(broadcast(types))
        .join(cnt.hint("shuffle_hash"), Seq("user_id", "t"), "left")
        .select(col("user_id"), col("t"), coalesce(col("c"), lit(0L)).as("x"))
      val st = grid.groupBy("t")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val disp = expr("""
        CASE WHEN n > 1 AND sx > 0
          THEN CAST((1000 * (n * CAST(sxx AS DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0)) * sx))
               div ((n - 1) * CAST(sx AS DECIMAL(38,0))) AS BIGINT)
        END""")
      st.select(col("t").as("event_type"), col("n"), col("sx"),
        when(col("n") > 0, expr("(1000 * sx) div n")).as("mean_pm"),
        disp.as("dispersion_pm"),
        (disp > 1100L).as("overdispersed"),
        (disp < 900L).as("underdispersed"))
    },

    // --------------------------------------------------------------- q275
    // Mann–Kendall trend test, per event type over its daily revenue
    // series — the NONPARAMETRIC monotone-trend monitor beside q202's
    // level-shift CUSUM (CUSUM finds A changepoint; this asks "is the
    // whole series drifting?", robust to outliers because only SIGNS
    // of pairwise differences enter). S = Σ_{i<j} sign(x_j − x_i) is
    // EXACT integer arithmetic end to end — the reason to choose MK
    // over a fitted slope when cross-engine bit-equality matters.
    // The pair join runs in DAY-VALUE SPACE per type (|days|² ≈ 900
    // pairs at a 30-day window — bounded by the CALENDAR, not the
    // corpus; the corpus pays one map-side-combinable daily groupBy).
    // The variance rides along as its exact integer numerator
    // var18 = n(n−1)(2n+5) (ties uncorrected — declared: cent-exact
    // daily sums make exact ties measure-zero), so a consumer gets
    // z ≈ (S∓1)/√(var18/18) with one sqrt of an exact integer.
    Q(
      "q275_mann_kendall",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 100
                   AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2),
        pairs AS (
          SELECT a.event_type,
                 CASE WHEN b.cents > a.cents THEN 1
                      WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sg
          FROM daily a JOIN daily b
            ON b.event_type = a.event_type AND b.d > a.d),
        nd AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
          FROM daily GROUP BY 1)
        SELECT nd.event_type, nd.n_days,
               CAST(COALESCE(SUM(p.sg), 0) AS BIGINT) AS s_stat,
               nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) AS var18,
               CASE WHEN COALESCE(SUM(p.sg), 0) > 0 THEN 'up'
                    WHEN COALESCE(SUM(p.sg), 0) < 0 THEN 'down'
                    ELSE 'flat' END AS direction
        FROM nd LEFT JOIN pairs p ON p.event_type = nd.event_type
        GROUP BY 1, 2""")
    ) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("cast(cast(value as decimal(18,4)) * 100 as bigint)"))
          .as("cents"))
      // day-space pair join per type: both sides are the |types|×|days|
      // aggregate — bounded by the calendar, broadcast-join safe
      val a = daily.select(col("event_type"), col("d").as("da"),
        col("cents").as("ca"))
      val b = daily.select(col("event_type"), col("d").as("db"),
        col("cents").as("cb"))
      val pairs = a.join(b, Seq("event_type"))
        .filter(col("db") > col("da"))
        .select(col("event_type"),
          when(col("cb") > col("ca"), 1L)
            .when(col("cb") < col("ca"), -1L).otherwise(0L).as("sg"))
      val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      nd.join(pairs.groupBy("event_type").agg(sum(col("sg")).as("s_raw")),
          Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          coalesce(col("s_raw"), lit(0L)).as("s_stat"),
          (col("n_days") * (col("n_days") - 1)
            * (lit(2L) * col("n_days") + 5)).as("var18"),
          when(coalesce(col("s_raw"), lit(0L)) > 0, "up")
            .when(coalesce(col("s_raw"), lit(0L)) < 0, "down")
            .otherwise("flat").as("direction"))
    },

    // --------------------------------------------------------------- q279
    // Wald–Wolfowitz runs test, per event type over the daily revenue
    // series — the RANDOMNESS audit beside q275's trend and q202's
    // changepoint: a series can be trend-free yet autocorrelated
    // (sticky above/below-mean streaks), which breaks the independence
    // assumption every daily-metric alarm quietly makes. Each day
    // classifies above/below the type's mean via the EXACT
    // cross-multiplied test n·x > Σx (at-mean days count below —
    // declared; exact ties are measure-zero on cent sums), runs count
    // by a lag window over the day-space series, and the expected
    // runs 1 + 2·n₊·n₋/n and variance numerator
    // 2·n₊·n₋·(2·n₊·n₋ − n) report as exact milli/raw integers (the
    // denominator n²(n−1) rides along) — no libm anywhere. One
    // map-side corpus pass to (type, day) cells; windows per type in
    // day-space, bounded by the calendar.
    Q(
      "q279_runs_test",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 100
                   AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS sx
          FROM daily GROUP BY 1),
        sg AS (
          SELECT d.event_type, d.d,
                 CASE WHEN t.n * d.cents > t.sx THEN 1 ELSE 0 END AS up,
                 t.n, t.sx
          FROM daily d JOIN tot t ON t.event_type = d.event_type),
        rn AS (
          SELECT event_type, n, up,
                 CASE WHEN lag(up) OVER (PARTITION BY event_type
                        ORDER BY d) IS DISTINCT FROM up
                      THEN 1 ELSE 0 END AS brk
          FROM sg)
        SELECT event_type, CAST(MIN(n) AS BIGINT) AS n_days,
               CAST(SUM(up) AS BIGINT) AS n_above,
               CAST(MIN(n) - SUM(up) AS BIGINT) AS n_below,
               CAST(SUM(brk) AS BIGINT) AS n_runs,
               1000 + CAST((2000 * CAST(SUM(up) AS BIGINT)
                 * (MIN(n) - SUM(up))) // MIN(n) AS BIGINT)
                 AS expected_runs_milli,
               CAST(2 * SUM(up) * (MIN(n) - SUM(up))
                 * (2 * SUM(up) * (MIN(n) - SUM(up)) - MIN(n))
                 AS BIGINT) AS var_num,
               MIN(n) * MIN(n) * (MIN(n) - 1) AS var_den
        FROM rn GROUP BY 1""")
    ) { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(expr("cast(cast(value as decimal(18,4)) * 100 as bigint)"))
          .as("cents"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sx"))
      val sg = daily.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("d"), col("n"),
          when(col("n") * col("cents") > col("sx"), 1L).otherwise(0L)
            .as("up"))
      // the first day of each type has no predecessor: lag is NULL,
      // which differs from 0/1 — counted as a break, so n_runs counts
      // runs directly (first run included)
      val rn = sg.withColumn("brk",
        when(lag(col("up"), 1).over(
          Window.partitionBy("event_type").orderBy("d")) <=> col("up"), 0L)
          .otherwise(1L))
      rn.groupBy("event_type")
        .agg(min(col("n")).as("n_days"), sum(col("up")).as("n_above"),
          (min(col("n")) - sum(col("up"))).as("n_below"),
          sum(col("brk")).as("n_runs"))
        .select(col("event_type"), col("n_days"), col("n_above"),
          col("n_below"), col("n_runs"),
          (lit(1000L) + expr("(2000 * n_above * n_below) div n_days"))
            .as("expected_runs_milli"),
          (lit(2L) * col("n_above") * col("n_below")
            * (lit(2L) * col("n_above") * col("n_below") - col("n_days")))
            .as("var_num"),
          (col("n_days") * col("n_days") * (col("n_days") - 1))
            .as("var_den"))
    },
  )

  /** The 50-rung 1-df inverse-χ² ladder shared verbatim by q266's
    * Spark side and oracle: q_pm = tail mass in per-mille (1..50,
    * i.e. up to α = 5%), crit_milli = 1000·(Φ⁻¹(1 − q/2000))² —
    * public statistical constants (10‰ → 6.635, 50‰ → 3.841). */
  // lazy: referenced from `all` above its declaration (init order)
  private lazy val fdrLadder: Seq[(Long, Long)] = Seq(
    1L -> 10828L, 2L -> 9550L, 3L -> 8807L, 4L -> 8284L, 5L -> 7879L,
    6L -> 7550L, 7L -> 7273L, 8L -> 7033L, 9L -> 6823L, 10L -> 6635L,
    11L -> 6465L, 12L -> 6311L, 13L -> 6169L, 14L -> 6038L, 15L -> 5916L,
    16L -> 5803L, 17L -> 5696L, 18L -> 5596L, 19L -> 5502L, 20L -> 5412L,
    21L -> 5327L, 22L -> 5246L, 23L -> 5169L, 24L -> 5095L, 25L -> 5024L,
    26L -> 4956L, 27L -> 4891L, 28L -> 4828L, 29L -> 4768L, 30L -> 4709L,
    31L -> 4653L, 32L -> 4598L, 33L -> 4546L, 34L -> 4495L, 35L -> 4445L,
    36L -> 4397L, 37L -> 4350L, 38L -> 4305L, 39L -> 4261L, 40L -> 4218L,
    41L -> 4176L, 42L -> 4135L, 43L -> 4095L, 44L -> 4057L, 45L -> 4019L,
    46L -> 3982L, 47L -> 3945L, 48L -> 3910L, 49L -> 3875L, 50L -> 3841L)

  private def fdrLadderSql: String =
    fdrLadder.map { case (q, c) => s"($q, $c)" }.mkString(", ")

  /** q237's oracle: the transition-count CTEs plus four unrolled
    * 8-sweep chains (base + one per removed channel), generated so the
    * Spark fold and the SQL can never drift. */
  private lazy val removalEffectSql: String = {
    def chain(tag: String, removed: Option[String]): String = {
      val rm = removed.map(r => s"WHEN c.t = '$r' THEN 0 ").getOrElse("")
      val p0 = s"p${tag}0 AS (SELECT s, CAST(0 AS BIGINT) AS p FROM outs)"
      val ks = (1 to 8).map { k =>
        s"""p$tag$k AS (
          SELECT c.s,
                 CAST(SUM(c.cnt * (CASE WHEN c.t = 'purchase' THEN 1000000
                        WHEN c.t = 'END' THEN 0 $rm
                        ELSE COALESCE(p.p, 0) END)) AS BIGINT)
                   // MAX(o.cnt_out) AS p
          FROM tc c JOIN outs o ON o.s = c.s
          LEFT JOIN p$tag${k - 1} p ON p.s = c.t
          GROUP BY c.s)"""
      }
      (p0 +: ks).mkString(",\n        ")
    }
    val chains = Seq("b" -> None, "v" -> Some("view"), "c" -> Some("click"),
      "g" -> Some("signup"))
    val finals = Seq(("view", "v"), ("click", "c"), ("signup", "g")).map {
      case (ch, tag) =>
        s"""SELECT '$ch' AS channel,
               (SELECT p FROM pb8 WHERE s = 'START') AS p_base_ppm,
               (SELECT p FROM p${tag}8 WHERE s = 'START') AS p_removed_ppm,
               CASE WHEN (SELECT p FROM pb8 WHERE s = 'START') > 0
                    THEN (1000 * ((SELECT p FROM pb8 WHERE s = 'START')
                          - (SELECT p FROM p${tag}8 WHERE s = 'START')))
                         // (SELECT p FROM pb8 WHERE s = 'START')
                    ELSE 0 END AS removal_pm"""
    }.mkString("\n        UNION ALL\n        ")
    s"""
        WITH seqd AS (
          SELECT user_id, event_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                   AS rn
          FROM events),
        cut AS (
          SELECT user_id, MIN(rn) AS rnp FROM seqd
          WHERE event_type = 'purchase' GROUP BY 1),
        kept AS (
          SELECT s.user_id, s.rn, s.event_type,
                 lead(s.event_type) OVER (PARTITION BY s.user_id
                   ORDER BY s.rn) AS nxt
          FROM seqd s LEFT JOIN cut ON cut.user_id = s.user_id
          WHERE cut.rnp IS NULL OR s.rn <= cut.rnp),
        trans AS (
          SELECT 'START' AS s, event_type AS t FROM kept WHERE rn = 1
          UNION ALL
          SELECT event_type, nxt FROM kept
          WHERE nxt IS NOT NULL AND event_type <> 'purchase'
          UNION ALL
          SELECT event_type, 'END' FROM kept
          WHERE nxt IS NULL AND event_type <> 'purchase'),
        tc AS (
          SELECT s, t, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM trans GROUP BY 1, 2),
        outs AS (
          SELECT s, CAST(SUM(cnt) AS BIGINT) AS cnt_out FROM tc GROUP BY 1),
        ${chains.map { case (tag, rm) => chain(tag, rm) }
        .mkString(",\n        ")}
        $finals"""
  }
}
