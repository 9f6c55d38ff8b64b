package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Timer-closed sessionization on Spark 4's arbitrary-state API — the
  * EVENT-TIME-TIMER face the built-in `session_window` (q40) cannot
  * express: a session FINALIZES (emits exactly once) either when a
  * later event of the same user arrives past the gap (the in-data
  * close) or when the event-time watermark passes its idle deadline
  * (the timer close — how a deployment reports a session whose user
  * simply left). This exercises the second half of the new processor
  * model beyond [[RateLimitStream]]'s ValueState: `registerTimer` /
  * `deleteTimer` / `handleExpiredTimer` under `TimeMode.EventTime`.
  *
  * State is one (start, end, n) triple + one registered timer per
  * user — bounded by user cardinality. Batches must arrive in
  * event-time order per user (the ordered-log assumption shared with
  * [[RateLimitStream]]/[[CdcApply]]); rows within a batch are sorted
  * by the processor, so intra-batch arrival order is irrelevant.
  *
  * Finalization semantics (pinned by SessionTimersSpec against the
  * gaps-and-islands batch truth): every CLOSED session equals a batch
  * session, and the only sessions still open at end-of-stream are the
  * per-user trailing ones whose idle deadline the final watermark never
  * passed — exactly the sessions a live deployment must also keep open,
  * because more events may come.
  */
object SessionTimers {

  final case class EventIn(user_id: Long, ts_ms: Long)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
    n_events: Long, closed_by: String)
  final case class SessState(start: Long, end: Long, n: Long)

  /** 5-minute idle gap, matching q40/q187/q200's session definition. */
  val GapMs: Long = 5L * 60L * 1000L

  class SessionProcessor extends StatefulProcessor[Long, EventIn, SessionOut] {
    @transient private var sess: ValueState[SessState] = _
    // built on the driver and serialized with the processor: `init` runs
    // on executor threads, where TypeTag reflection is not thread-safe
    private val stateEncoder = Encoders.product[SessState]

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessState]("sess", stateEncoder, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toArray.sortBy(_.ts_ms)
      val out = Seq.newBuilder[SessionOut]
      val hadState = sess.exists()
      val prevDeadline = if (hadState) sess.get().end + GapMs else -1L
      var cur = if (hadState) Option(sess.get()) else None
      sorted.foreach { e =>
        cur match {
          // >= gap starts a NEW session — the same boundary rule as
          // session_window/q40 (a diff of exactly 5 min splits)
          case Some(s) if e.ts_ms - s.end >= GapMs =>
            // in-data close: a later event past the gap proves the old
            // session over — no need to wait for the watermark
            out += SessionOut(key, s.start, s.end, s.n, "gap")
            cur = Some(SessState(e.ts_ms, e.ts_ms, 1L))
          case Some(s) =>
            cur = Some(SessState(s.start, math.max(s.end, e.ts_ms), s.n + 1))
          case None =>
            cur = Some(SessState(e.ts_ms, e.ts_ms, 1L))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        val deadline = s.end + GapMs
        // one live timer per key: drop the superseded deadline (the
        // expiry guard would ignore it anyway; this keeps timer state
        // bounded at one per user)
        if (hadState && prevDeadline != deadline) getHandle.deleteTimer(prevDeadline)
        getHandle.registerTimer(deadline)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      // timer close: the watermark passed the idle deadline. A stale
      // timer (the session was extended or gap-closed since) no longer
      // matches end + gap and is ignored.
      if (sess.exists()) {
        val s = sess.get()
        if (s.end + GapMs == expiredTimerInfo.getExpiryTimeInMs) {
          sess.clear()
          return Iterator.single(SessionOut(key, s.start, s.end, s.n, "timer"))
        }
      }
      Iterator.empty
    }
  }

  /** Wire the processor over a (user_id, ts) stream: event-time
    * watermark (0s — the fixture log is in order). */
  def sessions(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .selectExpr("user_id", "unix_millis(ts) AS ts_ms")
      .as[EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
      .toDF()
  }

  /** Run `body` with the RocksDB provider the new API requires — for a
    * `transformWithState` stream run by its own `writeStream`;
    * [[EventStreams.drainToFiles]] picks the provider from the plan. */
  def withRocksDb[A](spark: SparkSession)(body: => A): A =
    EventStreams.withConfs(spark,
      EventStreams.ProviderKey -> EventStreams.RocksDbProvider)(body)

  /** q205: the events log through the timer sessionizer (real engine
    * path — RocksDB store, event-time watermark, the no-data final
    * micro-batch firing the idle timers once the watermark reaches the
    * log's end). Emitted sessions are deterministic for a bounded log:
    * non-trailing sessions close in-data ('gap'); each user's trailing
    * session closes by timer iff the final watermark (the log's max
    * event time) passed its idle deadline. */
  def streamedSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = EventStreams.eventsStream(spark, sfDir).select("user_id", "ts")
    EventStreams.drainToFiles(sessions(spark, ev), "append")
      .select("user_id", "start_ms", "end_ms", "n_events", "closed_by")
      .orderBy("user_id", "start_ms")
  }
}
