package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.AsOfJoin

/** Temporal windowing beyond the tumbling q14/q25: sliding windows,
  * session windows, and the as-of join (SURVEY.md §2.4 — classes the
  * reference never exercises, mandated by the extension surface). All run
  * on the same logical operators in batch here and in Structured
  * Streaming unchanged.
  */
object TemporalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q44/q70: every event with its user's latest purchase at-or-before
    * it, through the NATIVE as-of operator (operators/AsOfJoin →
    * plans/AsOfJoinNative: custom LogicalPlan -> optimizer Rule ->
    * SparkStrategy -> sort-merge-walk SparkPlan, no tagged union).
    * AsOfJoinSpec pins it row for row against the composed union +
    * keyed-window form frozen in src/test. */
  private def latestPurchaseAsOf(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val left = e.select("event_id", "user_id", "ts")
    val right = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    AsOfJoin.lastAtOrBeforeNative(left, right, "user_id", "ts", "purchase_id")
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    // Sliding 2-minute window, 1-minute slide: every event lands in two
    // windows; Spark's window() generator expands them, the aggregation
    // shuffles on window start (keyed, partial-agg friendly).
    "q39_sliding_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 minutes", "1 minute"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("wstart"), col("n"), col("sum_value"))
        .orderBy("wstart")
    },

    // Time-series GAP-FILL + resample — the operator every metrics/
    // telemetry pipeline needs and Spark has no native form of: events
    // resample to a dense HOURLY grid per event_type (missing hours
    // appear with n = 0) and the hourly mean forward-fills across gaps
    // (last-observation-carried-forward, the gauge semantics). Shapes:
    // the sparse hourly rollup is one partial-agg'd groupBy; the grid is
    // corpus-size-INDEPENDENT (types × hours of the time range) and
    // derives from a broadcast 1-row min/max; the ffill window is keyed
    // by type and, in production, additionally by day so no partition
    // scales with history. Decimal-exact hour sums (the q83 rule) keep
    // the mean a single IEEE division both engines agree on.
    "q102_gapfill_resample" -> { (s, d) =>
      val hourly = Tables.events(s, d)
        .select(expr("unix_micros(ts) div 3600000000").as("hour"),
          col("event_type"), col("value"))
        .groupBy("event_type", "hour")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,12)")).as("sv"))
      val range = hourly.groupBy().agg(min("hour").as("lo"), max("hour").as("hi"))
      val grid = Tables.events(s, d).select("event_type").distinct()
        .crossJoin(broadcast(range))
        .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hour"))
      val w = Window.partitionBy("event_type").orderBy("hour")
      grid.join(hourly, Seq("event_type", "hour"), "left")
        .select(col("event_type"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sv").cast("double") / col("n"), ignoreNulls = true)
            .over(w).as("ffill_avg"))
        .orderBy("event_type", "hour")
    },

    // Session windows: events of a user merge while gaps stay under
    // 5 minutes. session_window() keeps the shuffle keyed by user — the
    // scalable form of gaps-and-islands (which needs a per-user ordered
    // window, also parallel; the oracle uses that formulation).
    "q40_session_windows" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // SESSION-QUALITY REPORT (q187) — the product-analytics read over
    // q40's sessions (bounce rate, depth, dwell): sessions come from
    // the same native session_window operator (user-keyed shuffle,
    // no global sort), durations are exact epoch-µs BIGINTs (max−min
    // within the session group), and the daily report is one more
    // partial-agg'd pass — exact-ppm bounce share, exact interpolated
    // p50/p90 depth (the q46 rule), mean dwell as ONE IEEE division of
    // exact integers. The oracle replays sessions via gaps-and-islands
    // (q40's equivalence, now proven a second way through duration
    // arithmetic).
    "q187_session_stats" -> { (s, d) =>
      val sess = Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (expr("unix_micros(max(ts))") - expr("unix_micros(min(ts))"))
            .as("dur_us"),
          expr("unix_micros(min(ts)) div 86400000000").as("day"))
      sess.groupBy("day")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"),
          expr("percentile(n_events, 0.5)").as("p50_depth"),
          expr("percentile(n_events, 0.9)").as("p90_depth"),
          sum(col("dur_us")).as("sum_dur_us"))
        .select(col("day"), col("n_sessions"), col("n_bounce"),
          expr("n_bounce * 1000000 div n_sessions").as("bounce_ppm"),
          col("p50_depth"), col("p90_depth"),
          expr("CAST(sum_dur_us AS DOUBLE) / CAST(n_sessions AS DOUBLE)")
            .as("mean_dur_us"))
        .orderBy("day")
    },

    // The WATERMARKED append-mode face of q40 (VERDICT r3 item 6):
    // sessions finalize and their state evicts once the watermark passes
    // session end (last event + gap) — the form whose state stays finite
    // on an unbounded stream. Oracle = the batch sessionization
    // restricted to finalized sessions.
    "q65_streaming_sessions" -> { (s, d) =>
      graft.streaming.StreamingSessions.sessionsPerUserToFiles(s, d)
    },

    // INTERVAL OVERLAP join — the remaining temporal-join class beside
    // as-of (q44/q70) and the stream-stream band join (q71): which
    // session intervals of DIFFERENT users overlap in time (the
    // concurrency/collision question every ops dashboard asks). Scale
    // shape: each session explodes to the 10-minute buckets it spans
    // (bounded by session length ÷ bucket width), candidates equi-join
    // on the bucket — never session×session — and the exact half-open
    // overlap predicate verifies behind the screen. Session intervals
    // are [min ts, max ts + 5 min), exactly Spark's session_window
    // contract, so the oracle's gaps-and-islands replay lands on the
    // same intervals.
    "q117_interval_join" -> { (s, d) =>
      val bucketUs = 600000000L // 10 minutes
      val sess = Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          expr("unix_micros(session_window.start)").as("s_us"),
          expr("unix_micros(session_window.end)").as("e_us"))
      val withB = sess.select(col("user_id"), col("s_us"), col("e_us"),
        explode(sequence(expr(s"s_us div $bucketUs"),
          expr(s"(e_us - 1) div $bucketUs"))).as("bucket"))
      val a = withB.select(col("bucket"), col("user_id").as("user_a"),
        col("s_us").as("a_start"), col("e_us").as("a_end"))
      val b = withB.select(col("bucket"), col("user_id").as("user_b"),
        col("s_us").as("b_start"), col("e_us").as("b_end"))
      a.join(b, Seq("bucket"))
        .filter(col("user_a") < col("user_b"))
        .select("user_a", "a_start", "a_end", "user_b", "b_start", "b_end")
        .distinct()
        .filter(col("a_start") < col("b_end") && col("b_start") < col("a_end"))
        .select(col("user_a"), col("user_b"), col("a_start"), col("b_start"),
          (least(col("a_end"), col("b_end"))
            - greatest(col("a_start"), col("b_start"))).as("overlap_us"))
        .orderBy("user_a", "user_b", "a_start", "b_start")
    },

    // POINT-IN-TIME enrichment — the bitemporal lookup every warehouse
    // fact load runs: each error event joins the SCD2 dimension version
    // (q113's intervals over the user's signup/purchase history) in
    // force AT ITS TIMESTAMP — fact.ts ∈ [valid_from, valid_to). The
    // range join stays keyed on user_id (the non-equi bounds evaluate
    // within the key partition — never a cross product), LEFT so
    // pre-first-version facts surface with a NULL version (an audit
    // must show them, not drop them). All time arithmetic in epoch µs
    // on BOTH engines (the q71 rule: DuckDB keeps parquet ns, Spark
    // truncates to µs — raw-timestamp bounds could flip a sub-µs edge).
    // PitAsOfSpec cross-checks the range form against the native as-of
    // operator: same semantics, two physical shapes.
    "q119_pit_enrichment" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("v_from").asc, col("event_id").asc)
      val dim = Tables.events(s, d)
        .filter(col("event_type") === "signup" || col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("v_from"),
          col("value").as("dim_value"))
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("v_to", coalesce(lead(col("v_from"), 1).over(w), lit(Long.MaxValue)))
        .select("user_id", "version", "v_from", "v_to", "dim_value")
      val facts = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), expr("unix_micros(ts)").as("ts_us"))
      facts.join(dim,
          facts("user_id") === dim("user_id")
            && col("ts_us") >= col("v_from") && col("ts_us") < col("v_to"),
          "left")
        .select(facts("event_id"), facts("user_id"), col("ts_us"),
          col("version"), col("dim_value"))
        .orderBy("event_id")
    },

    // As-of join: each event enriched with the user's latest purchase
    // at-or-before it (telemetry-lookup shape).
    "q44_asof_join" -> latestPurchaseAsOf _,

    // The same as-of query as q44, kept as the PlanAudit fixture of the
    // native operator chain: PlanAuditSpec pins the exec node +
    // left-filter pushdown on it.
    "q70_asof_native" -> latestPurchaseAsOf _,

    // TIMER-CLOSED SESSIONS (q205) — q40's sessionization through the
    // registerTimer / handleExpiredTimer half of Spark 4's new state
    // API (`streaming/SessionTimers`): a session emits exactly once,
    // either when a later event past the gap arrives (in-data 'gap'
    // close) or when the event-time watermark passes its idle deadline
    // (the no-data final micro-batch fires the 'timer' close). For a
    // bounded log the emitted set is deterministic: every non-trailing
    // session closes in-data; a user's trailing session closes by
    // timer iff the log's max event time passed its deadline. The
    // oracle replays gaps-and-islands + exactly that close rule — so
    // the gate pins the engine's timer semantics, not just the session
    // arithmetic (the q196 promotion precedent).
    "q205_session_timers" -> { (s, d) =>
      graft.streaming.SessionTimers.streamedSessions(s, d)
    },

    // TOP SESSION PATHS (q200) — the path-mining read over q40's
    // sessions (the "how do users actually start a visit" report behind
    // funnel design): each session's first three event types joined
    // into a path string, top-10 paths by session count. The sessions
    // are the SAME native session_window operator as q40/q187
    // (user-keyed shuffle, no global sort); the per-session
    // collect_list is bounded by session length and made deterministic
    // by sorting on (ts, event_id) structs before the slice (event_id
    // is unique — the total-order rule). The top-10 is a TakeOrdered
    // with (n DESC, path) tie-break; the oracle replays sessions via
    // gaps-and-islands and the path via an ORDER BY inside list().
    "q200_session_paths" -> { (s, d) =>
      val paths = Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(array_join(
          transform(
            slice(array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))), 1, 3),
            x => x.getField("event_type")), ">").as("path"))
      paths.groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc)
        .limit(10)
    }
  )

  val oracles: Map[String, String] = Map(
    // the same decimal hour-sums; IGNORE NULLS last_value over the same
    // default frame replays the forward fill
    "q102_gapfill_resample" ->
      """WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |    count(*) AS n, sum(CAST(value AS DECIMAL(28,12))) AS sv
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT min(hour) AS lo, max(hour) AS hi FROM h),
        |t AS (SELECT DISTINCT event_type FROM events),
        |g AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hour FROM t, r),
        |f AS (SELECT g.event_type, g.hour, coalesce(h.n, 0) AS n,
        |    CAST(h.sv AS DOUBLE) / h.n AS avg_v
        |  FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.hour = h.hour)
        |SELECT event_type, hour, CAST(n AS BIGINT) AS n,
        |  last_value(avg_v IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS ffill_avg
        |FROM f ORDER BY event_type, hour""".stripMargin,
    "q39_sliding_window" ->
      """WITH expanded AS (
        |  SELECT unnest([date_trunc('minute', ts),
        |                 date_trunc('minute', ts) - INTERVAL 1 MINUTE]) AS wstart,
        |    value
        |  FROM events)
        |SELECT wstart, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM expanded GROUP BY wstart ORDER BY wstart""".stripMargin,
    "q40_session_windows" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // q187: q40's gaps-and-islands sessions, then the same daily
    // quality aggregation
    "q187_session_stats" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |sess AS (SELECT user_id, sid,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us,
        |    epoch_us(min(ts)) // 86400000000 AS day
        |  FROM s GROUP BY user_id, sid)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(count(*) AS BIGINT) AS bounce_ppm,
        |  quantile_cont(n_events, 0.5) AS p50_depth,
        |  quantile_cont(n_events, 0.9) AS p90_depth,
        |  CAST(sum(dur_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_dur_us
        |FROM sess GROUP BY day ORDER BY day""".stripMargin,
    // Watermark mirrored at ms precision like q61; a session is emitted
    // once its END (last event + gap) <= watermark, compared in µs so a
    // sub-millisecond session end can't flip the cut.
    "q65_streaming_sessions" ->
      """WITH wm AS (SELECT epoch_ns(max(ts)) // 1000000 - 600000 AS w_ms FROM events),
        |x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |g AS (SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start, n_events
        |FROM g, wm
        |WHERE epoch_ns(session_end + INTERVAL 5 MINUTE) // 1000 <= wm.w_ms * 1000
        |ORDER BY user_id, session_start""".stripMargin,
    // q117: the q40-style gaps-and-islands session build (µs arithmetic
    // mirrors session_window: end = max ts + 5 min), then the
    // all-pairs overlap truth over the session table — session-count-
    // sized, fine for the oracle, and matching it proves the bucket
    // screen dropped nothing
    "q117_interval_join" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |g AS (SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |sess AS (SELECT user_id, min(us) AS s_us, max(us) + 300000000 AS e_us
        |         FROM g GROUP BY user_id, sid)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |  a.s_us AS a_start, b.s_us AS b_start,
        |  least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS overlap_us
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.s_us < b.e_us AND b.s_us < a.e_us
        |ORDER BY user_a, user_b, a_start, b_start""".stripMargin,
    // q119: the window ordering runs on epoch µs explicitly — Spark's ts
    // is µs-truncated, so ordering DuckDB by raw (ns) ts could break a
    // same-µs tie differently
    "q119_pit_enrichment" ->
      """WITH dim AS (
        |  SELECT user_id,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    epoch_us(ts) AS v_from,
        |    coalesce(lead(epoch_us(ts), 1) OVER w, 9223372036854775807) AS v_to,
        |    value AS dim_value
        |  FROM events
        |  WHERE event_type IN ('signup', 'purchase')
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |f AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'error')
        |SELECT f.event_id, f.user_id, f.ts_us, d.version, d.dim_value
        |FROM f LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.ts_us >= d.v_from AND f.ts_us < d.v_to
        |ORDER BY f.event_id""".stripMargin,
    "q44_asof_join" -> AsOfOracleSql,
    // q44 and q70 are one as-of query: one oracle
    "q70_asof_native" -> AsOfOracleSql,
    // q205: gaps-and-islands sessions + the exact close rule — every
    // non-trailing session is 'gap'; a trailing session is 'timer' iff
    // the final watermark (max event time) passed end + 5 min
    "q205_session_timers" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |g AS (SELECT user_id, sid, epoch_ms(min(ts)) AS start_ms,
        |        epoch_ms(max(ts)) AS end_ms,
        |        CAST(count(*) AS BIGINT) AS n_events,
        |        max(sid) OVER (PARTITION BY user_id) AS last_sid
        |      FROM s GROUP BY user_id, sid),
        |wm AS (SELECT epoch_ms(max(ts)) AS wm_ms FROM events)
        |SELECT user_id, start_ms, end_ms, n_events,
        |  CASE WHEN sid < last_sid THEN 'gap' ELSE 'timer' END AS closed_by
        |FROM g, wm
        |WHERE sid < last_sid OR end_ms + 300000 <= wm_ms
        |ORDER BY user_id, start_ms""".stripMargin,
    // q200: q40's gaps-and-islands sessions, ordered-list path, same
    // (n DESC, path) top-10
    "q200_session_paths" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |p AS (SELECT user_id, sid,
        |    array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>') AS path
        |  FROM s GROUP BY user_id, sid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin
  )

  private lazy val AsOfOracleSql =
    """WITH tagged AS (
      |  SELECT user_id, ts, 1 AS side, NULL::BIGINT AS ord,
      |    event_id, NULL::BIGINT AS p_id, NULL::DOUBLE AS p_val
      |  FROM events
      |  UNION ALL
      |  SELECT user_id, ts, 0, event_id, NULL, event_id, value
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT *,
      |    last_value(p_id IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts, side, ord NULLS LAST
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_id,
      |    last_value(p_val IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts, side, ord NULLS LAST
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_value
      |  FROM tagged)
      |SELECT event_id, user_id, ts, purchase_id, purchase_value
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin
}
