package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The transformWithState quota face (q196's engine): the per-user
  * ValueState counter must continue across micro-batch boundaries and
  * must apply the quota in event_id order even when a batch's rows
  * arrive shuffled.
  */
class RateLimitStreamSpec extends SparkSpec {

  test("the ValueState counter continues across batches; order within a batch is event_id") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext

    val mem = MemoryStream[(Long, Long)]
    val in = mem.toDF().toDF("user_id", "event_id")
      .as[RateLimitStream.EventIn]
    val out = SessionTimers.withRocksDb(spark) {
      val sink = "rate_limit_sink"
      val q = RateLimitStream.limited(spark, in)
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try {
        // batch 1: user 1 gets events 30..1 REVERSED (intra-batch order
        // must come from the sort, not arrival), user 2 gets 5
        mem.addData((30L to 1L by -1L).map(i => (1L, i)) ++ (1L to 5L).map(i => (2L, 100L + i)): _*)
        q.processAllAvailable()
        // batch 2: user 1 gets 25 more (19 within quota, 5 past it, and
        // the count must RESUME at 31, not restart); user 3 is fresh
        mem.addData((31L to 55L).map(i => (1L, i)) :+ ((3L, 999L)): _*)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sink).select("event_id", "user_id", "k", "throttled")
        .as[(Long, Long, Long, Long)].collect().toSeq
    }

    val byEvent = out.map(r => (r._2, r._1) -> ((r._3, r._4))).toMap
    assert(out.size === 61)
    // user 1, batch 1: k follows event_id order despite reversed arrival
    assert(byEvent((1L, 1L)) === ((1L, 0L)))
    assert(byEvent((1L, 30L)) === ((30L, 0L)))
    // user 1, batch 2: the carried counter resumes at 31
    assert(byEvent((1L, 31L)) === ((31L, 0L)))
    assert(byEvent((1L, 50L)) === ((50L, 0L)), "event 50 is the last within quota")
    assert(byEvent((1L, 51L)) === ((51L, 1L)), "event 51 must throttle")
    assert(byEvent((1L, 55L)) === ((55L, 1L)))
    // other users' counters are independent
    assert(byEvent((2L, 101L)) === ((1L, 0L)))
    assert(byEvent((2L, 105L)) === ((5L, 0L)))
    assert(byEvent((3L, 999L)) === ((1L, 0L)))
  }

  test("the streamed flags equal the one-shot batch window at sf0.001 (q196 ≡ q152)") {
    val streamed = RateLimitStream.streamed(spark, sf0001)
      .select("event_id", "k", "throttled").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    val batch = graft.Tables.events(spark, sf0001)
      .select(col("event_id"),
        row_number().over(w).cast("long").as("k"))
      .select(col("event_id"), col("k"),
        when(col("k") > RateLimitStream.Quota, 1L).otherwise(0L).as("throttled"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
  }
}
