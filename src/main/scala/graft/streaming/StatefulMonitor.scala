package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via `flatMapGroupsWithState`: the stateful face
  * of the reference driver's counters (`/root/reference/uav/main.py:90-91,
  * 117,141` — total frames, keyframes) plus its dropped-frame failure mode
  * (`frame_reader.py:184-190`), maintained per key across micro-batches.
  *
  * The *operator's* state per key is O(1) (three longs), which is what
  * scales on an unbounded stream.
  */
object StatefulMonitor {

  final case class EventIn(user_id: Long, event_id: Long)
  final case class MonitorState(nSeen: Long, nKeyframes: Long, maxId: Long)
  final case class MonitorOut(user_id: Long, n_seen: Long, n_keyframes: Long, max_id: Long)

  private def update(key: Long, rows: Iterator[EventIn],
                     state: GroupState[MonitorState]): Iterator[MonitorOut] = {
    var s = state.getOption.getOrElse(MonitorState(0L, 0L, -1L))
    rows.foreach { r =>
      s = MonitorState(
        s.nSeen + 1,
        s.nKeyframes + (if (r.event_id % EventStreams.KeyframeInterval == 0) 1 else 0),
        math.max(s.maxId, r.event_id))
    }
    state.update(s)
    Iterator.single(MonitorOut(key, s.nSeen, s.nKeyframes, s.maxId))
  }

  /** q63: the per-key state machine in append mode, drained through the
    * executor-parallel FILE sink, keeping each key's FINAL state — one
    * row per key per batch is emitted and n_seen strictly increases per
    * key, so the max-n_seen row is the final state under multi-batch
    * runs too. The final state per key (count / keyframe count / max id)
    * is fully deterministic whatever the arrival order, so it
    * hash-matches a batch GROUP BY. */
  def perUserCountersToFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val monitored = EventStreams.eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_id"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    val w = Window.partitionBy("user_id").orderBy(col("n_seen").desc)
    EventStreams.drainToFiles(monitored.toDF(), "append")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
