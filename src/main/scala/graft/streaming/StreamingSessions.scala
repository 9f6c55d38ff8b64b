package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked streaming session windows (VERDICT r3 item 6) — the
  * 100 TB-scale form of q40's gaps-and-islands sessionization.
  *
  * `session_window(ts, gap)` + watermark + append mode: a session's state
  * merges while events keep arriving within `gap` of its end; once the
  * watermark (max event time, ms-truncated, minus `delay`) passes the
  * session's END (last event + gap), the session is FINALIZED — emitted
  * once and its state evicted. State is therefore bounded by the
  * watermark horizon (sessions still open within `delay` of the stream
  * head), not by the total number of sessions ever seen — the property
  * that keeps an unbounded 100 TB stream's state finite. Rows later than
  * the watermark are dropped by the engine (its
  * `numRowsDroppedByWatermark` progress metric counts them).
  *
  * On the bounded harness stream the final watermark never passes the
  * last `delay` of event time, so trailing open sessions are withheld —
  * exactly as on an unbounded source. The oracle is the batch
  * sessionization restricted to FINALIZED sessions
  * (`session_end + gap <= watermark`, compared in µs).
  */
object StreamingSessions {

  /** Per-user session counts over a streaming (ts, user_id) relation. */
  def sessionsPerUser(events: DataFrame, gap: String, delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Bounded run to completion through the executor-parallel file sink. */
  def sessionsPerUserToFiles(spark: SparkSession, sfDir: String,
                             gap: String = "5 minutes",
                             delay: String = "10 minutes"): DataFrame =
    EventStreams.drainToFiles(
        sessionsPerUser(EventStreams.eventsStream(spark, sfDir), gap, delay),
        "append")
      .orderBy("user_id", "session_start")
}
