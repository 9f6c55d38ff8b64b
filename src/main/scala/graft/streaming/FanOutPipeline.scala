package graft.streaming

import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Letterbox

/** The reference's flagship pipeline shape (D1, `/root/reference/uav/
  * main.py:109-160`): ONE source fanned out to TWO sinks —
  * sink A records every frame (`FrameSaver`, every record), sink B gets
  * the sampled branch (every Nth frame → letterbox projection → send).
  *
  * In Structured Streaming the two-sink fan-out runs inside
  * `foreachBatch`: both writes happen per micro-batch against the same
  * batch DataFrame, giving the atomic "one pass, two consumers" semantics
  * the reference achieves with its single sequential loop
  * (SURVEY.md §4.1 "single sequential pass shared by both sinks").
  *
  * Sink A enforces the reference's bind-then-drop-mismatch contract
  * (`frame_processing.py:163-179`): the FIRST record binds the sink's
  * (w, h); any later record with different dims is dropped with a
  * warning, not written. The drop count is taken from an [[Observation]]
  * on the same pass that writes — no second scan, no collect.
  *
  * Delivery is exactly-once, like the reference's sequential loop: every
  * batch writes both sinks and its drop count into its own
  * `__batch=<id>` partition with dynamic partition overwrite, so a
  * retried micro-batch REPLACES its previous output instead of
  * appending a second copy, and the drop total is folded from those
  * per-batch records at the end. The dims bind is a driver cache
  * derived deterministically from the batch's min-event_id record, so
  * a retried first batch rebinds to the identical value.
  */
object FanOutPipeline {

  /** Rows written to sink A / sink B, plus sink A's dimension-mismatch
    * drops (reference `frame_processing.py:176-179`). */
  final case class FanOutCounts(all: Long, sampled: Long, dropped: Long)

  /** A sink path only exists once some micro-batch wrote to it; an empty
    * input directory executes no batch, so reading unconditionally would
    * throw instead of reporting zero rows (mirrors drainToFiles). A
    * directory that exists but holds no parquet part files (every batch
    * wrote zero rows → only _SUCCESS/metadata) fails one level deeper —
    * at schema inference — so that AnalysisException also means zero. */
  private def readSinkOrEmpty(spark: SparkSession,
                              path: String): Option[org.apache.spark.sql.DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else
      try Some(spark.read.parquet(path))
      catch {
        // ONLY the no-data-files condition means "sink exists but is
        // empty" (a streaming sink dir holding just _spark_metadata).
        // Any other AnalysisException — corrupt footer, permission,
        // schema bug — must surface as an error, not as zero counts.
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }
  }

  private def countIfExists(spark: SparkSession, path: String): Long =
    readSinkOrEmpty(spark, path).map(_.count()).getOrElse(0L)

  private def sumDropsIfExists(spark: SparkSession, path: String): Long =
    readSinkOrEmpty(spark, path)
      .map(_.agg(coalesce(sum("dropped"), lit(0L))).head().getLong(0))
      .getOrElse(0L)

  /** Runs the fan-out to completion over the bounded events stream.
    *
    * @param keyframeInterval every-Nth sampling (reference default 30)
    * @param dims per-record (width, height) columns for sink A's schema
    *             bind. Defaults to constants — the reference reads one
    *             camera, so all frames share dims and nothing drops; a
    *             mixed-dimension stream (FanOutSpec) exercises the guard.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          keyframeInterval: Int = EventStreams.KeyframeInterval,
          dims: (Column, Column) = (lit(1920L), lit(1080L))): FanOutCounts = {
    // bound once from the first record the sink ever sees, exactly like
    // the reference's lazy writer init; lives across micro-batches
    var bound: Option[(Long, Long)] = None
    val query = EventStreams.eventsStream(spark, sfDir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        bound = writeBatch(batch.toDF(), bid, outDir, keyframeInterval, dims, bound)
        ()
      }
      .start()
    try query.processAllAvailable()
    finally query.stop()
    FanOutCounts(
      countIfExists(spark, s"$outDir/all"),
      countIfExists(spark, s"$outDir/sampled"),
      sumDropsIfExists(spark, s"$outDir/drops"))
  }

  /** One batch's writes (sink A + sink B + drop record), all keyed by
    * `__batch` with dynamic partition overwrite. Returns the
    * possibly-newly-bound dims. Package-visible so FanOutSpec can REPLAY
    * a batch and assert nothing duplicates. */
  private[streaming] def writeBatch(
      batch: org.apache.spark.sql.DataFrame, batchId: Long, outDir: String,
      keyframeInterval: Int, dims: (Column, Column),
      bound0: Option[(Long, Long)]): Option[(Long, Long)] = {
    val spark = batch.sparkSession
    val (wc, hc) = dims
    val df = batch.persist() // one decode pass shared by both sinks
    // unpersist in a finally: a throwing sink write is the very
    // transient-failure/retry scenario the keying exists for, and it
    // must not leak a cached batch per attempt
    try {
      // the first record by stream position binds the writer's dims
      val bound =
        if (bound0.nonEmpty || df.isEmpty) bound0
        else {
          val first = df.orderBy("event_id")
            .select(wc.cast("long"), hc.cast("long")).head()
          Some((first.getLong(0), first.getLong(1)))
        }
      // sink A: record-all (FrameSaver analog), mismatched dims dropped
      val (bw, bh) = bound.getOrElse((0L, 0L))
      val keep = wc.cast("long") === bw && hc.cast("long") === bh
      val obs = Observation()
      val all = df.observe(obs, count(when(!keep, lit(1))).as("dropped")) // 0 on empty, never null
        .filter(keep)
      VersionedState.overwriteBatch(all, batchId, s"$outDir/all")
      val d = obs.get("dropped").asInstanceOf[Long]
      if (d > 0) System.err.println(s"[fanout] dropped $d frame(s) with dims != ${bw}x$bh")
      // the drop count as data, overwritten with its batch on retry
      VersionedState.overwriteBatch(spark.range(1).select(lit(d).as("dropped")), batchId,
        s"$outDir/drops")
      // sink B: sampled branch -> letterbox projection -> send analog
      val w = (col("event_id") % 1920 + 1).cast("long")
      val h = (col("event_id") * 7 % 1080 + 1).cast("long")
      val g = Letterbox.geometry(w, h, 640)
      val sampled = df.filter(col("event_id") % keyframeInterval === 0)
        .select(col("event_id"), g.newW.as("new_w"), g.newH.as("new_h"),
          to_json(struct(col("event_id"), col("event_type"), col("value")))
            .as("payload"))
      VersionedState.overwriteBatch(sampled, batchId, s"$outDir/sampled")
      bound
    } finally df.unpersist()
  }
}
