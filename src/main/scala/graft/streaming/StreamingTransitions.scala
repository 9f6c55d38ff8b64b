package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-batch event-sequence pairing — the STREAMING face of q143's
  * transition matrix. Each micro-batch pairs its own consecutive events
  * per user with a batch-local keyed window, and the SEAM transition
  * (the carried last event of each user → the batch's first event) is
  * stitched from standing state, so N micro-batches emit exactly the
  * pairs the one-shot batch query emits — no pair lost or duplicated at
  * any batch boundary. State is ONE row per user (the last seen event):
  * bounded by user cardinality, never by stream length — the same
  * state-sizing argument as [[StatefulMonitor]].
  *
  * q147 promotes the seam logic into the oracle gate: the events log
  * replayed as four deterministic micro-batches through
  * [[pairsForBatch]] must hash-match q143's one-shot oracle (the
  * q63/q125 promotion precedent). Durable state for a deployed run is a
  * [[VersionedState]] fold (as [[StreamingFunnel]]'s durable face does);
  * the spec's in-memory carry is the same contract.
  */
object StreamingTransitions {

  /** Pairs within `batch` plus the seam pairs against `carry`
    * (user_id, last_event_id, last_type); returns (pairs, newCarry).
    * Batches must arrive in event_id order (the ordered-log / kappa
    * assumption — `CdcApply`'s commit-id rule): every event_id in the
    * batch is after the carry's. */
  def pairsForBatch(batch: DataFrame, carry: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val inner = batch
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("user_id"), col("prev_type").as("src_type"),
        col("event_type").as("dst_type"))
    val firsts = batch.groupBy("user_id")
      .agg(expr("min_by(event_type, event_id)").as("first_type"))
    val seam = carry.join(firsts, "user_id")
      .select(col("user_id"), col("last_type").as("src_type"),
        col("first_type").as("dst_type"))
    val lasts = batch.groupBy("user_id").agg(
      max(col("event_id")).as("last_event_id"),
      expr("max_by(event_type, event_id)").as("last_type"))
    // users absent from this batch keep their carried state
    val newCarry = lasts
      .join(carry.select(col("user_id"), col("last_event_id").as("old_id"),
        col("last_type").as("old_type")), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("last_event_id"), col("old_id")).as("last_event_id"),
        coalesce(col("last_type"), col("old_type")).as("last_type"))
    (inner.unionByName(seam), newCarry)
  }

  /** q147: the events log split into `n` deterministic event_id-range
    * micro-batches and folded through [[pairsForBatch]]; the aggregated
    * counts must equal q143's one-shot truth (shared oracle text). */
  def transitionsReplay(spark: SparkSession, sfDir: String, n: Int): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .select("user_id", "event_id", "event_type")
    var carry: DataFrame =
      Seq.empty[(Long, Long, String)].toDF("user_id", "last_event_id", "last_type")
    var pairs: Option[DataFrame] = None
    EventStreams.idRangeBatches(ev, "event_id", n).foreach { batch =>
      val (p, c) = pairsForBatch(batch, carry)
      carry = c
      pairs = Some(pairs.map(_.unionByName(p)).getOrElse(p))
    }
    val counts = pairs.get.groupBy("src_type", "dst_type").agg(count(lit(1)).as("n"))
    val tot = counts.groupBy("src_type").agg(sum(col("n")).as("n_src"))
    counts.join(tot, "src_type")
      .select(col("src_type"), col("dst_type"), col("n"),
        (col("n").cast("double") / col("n_src").cast("double")).as("p"))
      .orderBy("src_type", "dst_type")
  }
}
