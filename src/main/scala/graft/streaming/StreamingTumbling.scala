package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming twin of the batch tumbling window (q14): the same
  * logical aggregation driven by `MicroBatchExecution` instead of a batch
  * job — mirroring how the reference runs one loop body for bounded and
  * unbounded sources alike (`/root/reference/uav/main.py:97,109`).
  *
  * The reference has no watermark/late-data handling (frames are processed
  * strictly in arrival order), so the faithful mode here is complete-mode
  * aggregation with no watermark; the batch-parity invariant (stream
  * result == q14 batch result) is the correctness check (SURVEY.md §5.2.4).
  */
object StreamingTumbling {

  /** Runs the 1-minute tumbling count/sum over the events stream to
    * completion (the parquet file is a bounded stream here; on a real
    * unbounded source the identical plan keeps running per trigger). */
  def tumblingPerMinute(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = EventStreams.eventsStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("minute"), col("n"), col("sum_value"))
    EventStreams.drainToFiles(agg, "complete").orderBy("minute")
  }

  /** The same per-minute aggregation as a WATERMARKED, append-mode plan —
    * the 100×-scale form (VERDICT r2 item 4): a window's state is
    * finalized, emitted once, and EVICTED when the watermark passes its
    * end, so state size is bounded by the watermark horizon instead of
    * growing with every distinct window forever, and the sink appends
    * finalized rows instead of rewriting the whole result per batch.
    * Rows arriving later than `delay` behind the max event time are
    * dropped by the engine (its `numRowsDroppedByWatermark` progress
    * metric counts them).
    *
    * Input contract: streaming relation with `ts: timestamp` and
    * `value: double`. */
  def watermarkedPerMinute(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("minute"), col("n"), col("sum_value"))

  /** [[watermarkedPerMinute]] over the bounded events stream, run to
    * completion. Only windows the final watermark (max event time −
    * `delay`) has passed are emitted — the last `delay` of windows stays
    * in state awaiting data that never comes, exactly as on an unbounded
    * source. The oracle is therefore the batch twin restricted to
    * on-time windows. */
  def tumblingPerMinuteWatermarked(spark: SparkSession, sfDir: String,
                                   delay: String = "10 minutes"): DataFrame = {
    val agg = watermarkedPerMinute(EventStreams.eventsStream(spark, sfDir), delay)
    EventStreams.drainToFiles(agg, "append").orderBy("minute")
  }
}
