package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class StatefulMonitorSpec extends SparkSpec {
  import spark.implicits._

  test("stateful per-user counters equal the batch aggregation") {
    val streamed = StatefulMonitor.perUserCountersToFiles(spark, sf0001)
      .as[StatefulMonitor.MonitorOut].collect()
      .map(m => m.user_id -> ((m.n_seen, m.n_keyframes, m.max_id))).toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_id") % 30 === 0, 1L).otherwise(0L)).as("k"),
        max("event_id").as("m"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (u, n, k, m) => u -> ((n, k, m)) }.toMap
    assert(streamed === batch)
  }
}
