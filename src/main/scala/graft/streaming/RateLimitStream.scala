package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-user quota enforcement on Spark 4's arbitrary-state API
  * (`transformWithState` / `StatefulProcessor`) — the STREAMING face of
  * q152's batch rate-limit audit: each user's events past their first
  * [[Quota]] are flagged throttled, with the running count carried in a
  * typed [[ValueState]] across micro-batches.
  *
  * Why this API (and not `flatMapGroupsWithState`, the
  * [[StatefulMonitor]] form): the new processor model is where Spark's
  * streaming state is headed — named typed state slots (Value/List/Map),
  * per-slot TTL, timers — and a gateway quota is its textbook case: state
  * is ONE long per user (bounded by user cardinality, never stream
  * length), and a production deploy would add `TTLConfig` so idle users'
  * counters expire instead of accumulating forever. The engine requires
  * the RocksDB state store for this operator, which
  * [[EventStreams.drainToFiles]] picks from the plan for the run.
  *
  * Determinism: the quota is defined over event_id order (q152's window
  * key), but the engine does not guarantee intra-key row order within a
  * micro-batch — [[QuotaProcessor]] sorts each key's batch slice (bounded
  * by per-user-per-batch volume, the same bound every
  * `flatMapGroupsWithState` face here relies on) so the streamed flags
  * hash-match the one-shot batch truth. Batches must arrive in event_id
  * order (the ordered-log / kappa assumption — [[CdcApply]]'s commit-id
  * rule); the cross-batch continuation is proven in RateLimitStreamSpec
  * against a hand truth and the one-shot form.
  */
object RateLimitStream {

  /** q152's per-user quota: events past the first 50 are throttled. */
  val Quota = 50L

  final case class EventIn(user_id: Long, event_id: Long)
  final case class LimitOut(event_id: Long, user_id: Long, k: Long, throttled: Long)

  /** The per-user counter as a typed StatefulProcessor: one ValueState
    * slot named "seen". TTLConfig.NONE here because the oracle replay is
    * a bounded log; the production knob is one argument. */
  class QuotaProcessor extends StatefulProcessor[Long, EventIn, LimitOut] {
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[LimitOut] = {
      // intra-key arrival order within a batch is engine-chosen; the
      // quota semantics are event_id-ordered — sort the slice
      val sorted = rows.toArray.sortBy(_.event_id)
      var k = if (seen.exists()) seen.get() else 0L
      val out = sorted.map { e =>
        k += 1
        LimitOut(e.event_id, key, k, if (k > Quota) 1L else 0L)
      }
      seen.update(k)
      out.iterator
    }
  }

  /** Apply the quota processor to a (possibly streaming) typed source.
    * Shared by the oracle face and the spec so the wiring cannot drift. */
  def limited(spark: SparkSession,
      events: org.apache.spark.sql.Dataset[EventIn]): DataFrame = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new QuotaProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** q196: the events log through the REAL transformWithState engine
    * path (RocksDB state store, executor-parallel file-sink drain),
    * flags hash-matching q152's one-shot batch oracle. */
  def streamed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val in = EventStreams.eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_id")).as[EventIn]
    EventStreams.drainToFiles(limited(spark, in), "append")
      .select("event_id", "user_id", "k", "throttled").orderBy("event_id")
  }
}
