package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-user RECENT-ITEMS feature on Spark 4's arbitrary-state API, the
  * LIST-typed slot — closing out the repo's oracle-gated coverage of
  * every state primitive the new `StatefulProcessor` model offers:
  * ValueState (q196 quota), event-time timers (q205 sessions), MapState
  * (q212 profile), and now ListState (q213) — the slot a feature store
  * uses for "last-N items per user", the canonical recommendation
  * feature.
  *
  * The state is the user's last [[Keep]] event types in event_id order
  * (a bounded ring: each batch appends its slice then `put`s back only
  * the tail, so state never grows past Keep entries per user — the
  * honest bound a deployed recent-items store carries). Emission per
  * batch is the user's running (n_seen, recent_path); n_seen is
  * monotone, so the drain reduces by max (the q207/q212 rule).
  *
  * Ordered-log assumption: batches arrive in event_id order (the
  * replay stages event_id-RANGE chunks — unlike q207/q212's
  * ts-parity split, a recent-items list is ORDER-dependent, so the
  * batch boundary must respect the log order; within a batch the slice
  * is sorted, the q196 rule).
  */
object ListStateRecent {

  /** Ring size — last 3 items, the q200 path width. */
  val Keep = 3

  final case class EventIn(user_id: Long, event_id: Long, event_type: String)
  final case class RecentOut(user_id: Long, n_seen: Long, recent_path: String)

  class RecentProcessor extends StatefulProcessor[Long, EventIn, RecentOut] {
    @transient private var recent: ListState[String] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[String]("recent", Encoders.STRING,
        TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[RecentOut] = {
      val sorted = rows.toArray.sortBy(_.event_id)
      val tail = (recent.get().toArray ++ sorted.map(_.event_type))
        .takeRight(Keep)
      recent.put(tail)
      val n = (if (seen.exists()) seen.get() else 0L) + sorted.length
      seen.update(n)
      Iterator.single(RecentOut(key, n, tail.mkString(">")))
    }
  }

  /** Apply the recent-items processor to a (possibly streaming) typed
    * source. Shared by the gate face and the spec. */
  def tracked(spark: SparkSession, events: Dataset[EventIn]): DataFrame = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** q213: the events log replayed as TWO real micro-batches staged as
    * event_id-RANGE chunks (order-preserving — see the class doc), the
    * final per-user (n_seen, recent_path) hash-matched against the
    * one-shot batch truth (last Keep event types by event_id). The
    * file source triggers files oldest-mtime-first, and ListState is the
    * one state primitive whose result is ORDER-dependent, so the chunk
    * order rests on [[EventStreams.stagedStream]]'s mtime pin, never on
    * "chunk0 happened to be written first". */
  def recentReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val cut = ev.agg(expr("CAST(max(event_id) div 2 AS BIGINT)"))
      .as[Long].head()
    val src = EventStreams.stagedStream(Seq(
      ev.filter(col("event_id") <= cut), ev.filter(col("event_id") > cut)))
      .as[EventIn]
    EventStreams.drainToFiles(tracked(spark, src), "append")
      .groupBy("user_id")
      .agg(max(struct(col("n_seen"), col("recent_path"))).as("s"))
      .select(col("user_id"), col("s.n_seen").as("n_seen"),
        col("s.recent_path").as("recent_path"))
      .orderBy("user_id")
  }
}
