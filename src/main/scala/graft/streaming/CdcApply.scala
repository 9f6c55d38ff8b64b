package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CDC apply — the continuous face of the q130 MERGE
  * operator: a STANDING key→latest-op snapshot is maintained across
  * micro-batches of a change log, so "the current table" is readable at
  * any moment without replaying history.
  *
  * Per micro-batch: the batch's ops reduce to per-key LATEST ops (one
  * partial-agg'd groupBy — max over (commit_id, ...) structs, commit_id
  * unique), then ONE keyed full-outer join merges them into the
  * standing snapshot by COMMIT ID (greatest struct — the higher
  * event_id wins, NOT the later-arriving batch). Ordering by the
  * change's own id instead of arrival order is what real CDC appliers
  * do (the LSN rule), and it makes apply fully COMMUTATIVE and
  * associative over any partitioning of the log into batches — a file
  * source is free to deliver one commit's part-files across two
  * micro-batches in either order (the spec's stream case observably
  * does) and the snapshot still converges to the replay. Tombstones
  * ('error' = DELETE) are KEPT in the snapshot — a delete must
  * out-version an earlier upsert — and drop only at [[publish]].
  *
  * State at `stateDir` is a [[VersionedState]] fold: versioned dirs
  * `v{batchId}/` committed by an atomic marker created LAST — a crash
  * mid-write leaves an invisible version and the previous snapshot
  * intact, and a RETRIED batch finds its own version committed and
  * no-ops (exactly-once).
  *
  * Scale: state is one row per LIVE KEY (dimension-sized, not
  * log-sized); each batch costs one partial-agg'd shuffle of the batch
  * plus one keyed join against the snapshot. At warehouse scale the
  * snapshot becomes a partitioned table and the join prunes to the
  * batch's key partitions — same plan, bigger layout.
  */
object CdcApply {

  /** Apply ONE micro-batch of ops (user_id, event_id, event_type,
    * value) to the standing snapshot, exactly-once under retry. */
  private[streaming] def processBatch(batch: DataFrame, stateDir: String,
                                      batchId: Long): Unit = {
    val spark = batch.sparkSession
    VersionedState.fold(spark, stateDir, batchId) { (prev, vdir) =>
      val batchLast = batch.groupBy("user_id").agg(
        max(struct(col("event_id"), col("event_type"), col("value"))).as("o"))
      val merged = prev match {
        case Some(p) =>
          val standing = spark.read.parquet(s"$p/snap")
          standing.as("a").join(batchLast.as("b"), Seq("user_id"), "full_outer")
            // greatest skips nulls, so a key present on one side passes
            // through; present on both, the higher commit id wins
            .select(col("user_id"), greatest(col("b.o"), col("a.o")).as("o"))
        case None => batchLast
      }
      merged.write.mode("overwrite").parquet(s"$vdir/snap")
    }
  }

  /** The current table: live keys only (tombstones filtered at read,
    * never during maintenance). */
  def publish(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"${VersionedState.latest(spark, stateDir)}/snap")
      .filter(col("o.event_type") =!= "error")
      .select(col("user_id"), col("o.event_id").as("last_event_id"),
        col("o.value").as("value"))
      .orderBy("user_id")

  /** Unbounded form: a change-log stream applied batch-by-batch. */
  def run(ops: DataFrame, stateDir: String,
          checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    ops.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => processBatch(b, stateDir, id) }
      .start()
}
