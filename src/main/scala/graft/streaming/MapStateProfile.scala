package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Per-user behavioural profile on Spark 4's arbitrary-state API, the
  * MAP-typed slot — completing the repo's oracle-gated coverage of the
  * new `StatefulProcessor` state model: q196 pins [[org.apache.spark.sql.streaming.ValueState]]
  * (the quota counter), q205 pins event-time TIMERS (session close), and
  * q212 pins [[MapState]] — the slot a real profile/feature store uses
  * (per-user map of event_type → count, i.e. the streaming face of the
  * q35-style cross-tab every personalization pipeline maintains).
  *
  * Why MapState and not a ValueState[Map]: the engine stores each map
  * ENTRY as its own state-store row, so updating one event_type does not
  * rewrite the user's whole profile — the textbook reason the API grew a
  * map slot. The gate proves entries survive the RocksDB round-trip
  * independently: a count lost, duplicated, or attached to the wrong
  * type key across micro-batches breaks the hash match against the
  * one-shot batch cross-tab.
  *
  * State bound: users × event-type domain (both corpus-bounded, never
  * stream-length); a production deploy adds per-slot TTL.
  */
object MapStateProfile {

  final case class EventIn(user_id: Long, event_type: String)
  final case class ProfileOut(user_id: Long, event_type: String, n: Long)

  /** One MapState slot named "counts": event_type → running count. After
    * folding a batch's rows the processor emits the user's FULL current
    * profile (domain-bounded, ≤ |event_type| rows) — update-style
    * emissions a reader reduces by last-write (n is monotone per entry,
    * so `max` selects it, the q207 drain rule). */
  class ProfileProcessor extends StatefulProcessor[Long, EventIn, ProfileOut] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[ProfileOut] = {
      rows.foreach { e =>
        val c = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, c + 1L)
      }
      counts.iterator().map { case (t, c) => ProfileOut(key, t, c) }
    }
  }

  /** Apply the profile processor to a (possibly streaming) typed source.
    * Shared by the gate face and the spec so the wiring cannot drift. */
  def profiled(spark: SparkSession, events: Dataset[EventIn]): DataFrame = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ProfileProcessor, TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** q212: the events log replayed as TWO real micro-batches (staged
    * files split by timestamp parity — the q207 trick, so the SAME
    * user's map folds across the batch boundary) through the RocksDB
    * MapState engine path; the final profile (last emission per entry)
    * must hash-match the one-shot batch cross-tab. */
  def profileReplay(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        pmod(expr("unix_micros(ts)"), lit(2)).as("half"))
    val src = EventStreams.stagedStream((0 to 1).map { h =>
      ev.filter(col("half") === h).select("user_id", "event_type")
    }).as[EventIn]
    EventStreams.drainToFiles(profiled(spark, src), "append")
      .groupBy("user_id", "event_type")
      .agg(max(col("n")).as("n"))
      .orderBy("user_id", "event_type")
  }
}
