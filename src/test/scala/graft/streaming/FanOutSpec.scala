package graft.streaming

import java.nio.file.Files

import graft.{SparkSpec, Tables}

class FanOutSpec extends SparkSpec {

  test("two-sink fan-out: sink A gets every record, sink B every 30th") {
    val out = Files.createTempDirectory("graft_fanout").toString
    val counts = FanOutPipeline.run(spark, sf0001, out, 30)
    val total = Tables.events(spark, sf0001).count()
    assert(counts.all === total)
    assert(counts.dropped === 0L, "constant dims -> nothing drops")
    assert(counts.sampled === (total + 29) / 30)
    // payload is well-formed JSON with the sent fields
    val payload = spark.read.parquet(s"$out/sampled")
      .selectExpr("get_json_object(payload, '$.event_id')").first().getString(0)
    assert(payload != null)
  }

  test("exactly-once fan-out: replaying a batch neither duplicates rows nor double-counts") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_fanout_eo").toString
    // mixed dims so the drop path is exercised through the retry too
    val wCol = when(col("event_id") % 7 === 0, 640L).otherwise(1280L)
    val counts = FanOutPipeline.run(spark, sf0001, out, 30,
      dims = (wCol, lit(480L)))
    assert(counts.dropped > 0L, "fixture must exercise the drop path")
    // simulate Spark retrying the (single) micro-batch after a transient
    // failure: replay the same batch id with a fresh (lost) dims bind
    val replayBatch = Tables.events(spark, sf0001)
    FanOutPipeline.writeBatch(replayBatch, 0L, out, 30,
      (wCol, lit(480L)), None)
    val all2 = spark.read.parquet(s"$out/all").count()
    val sampled2 = spark.read.parquet(s"$out/sampled").count()
    val dropped2 = spark.read.parquet(s"$out/drops")
      .agg(sum("dropped")).head().getLong(0)
    assert(all2 === counts.all, "retried batch must overwrite, not append, sink A")
    assert(sampled2 === counts.sampled, "retried batch must overwrite, not append, sink B")
    assert(dropped2 === counts.dropped, "drop accounting must not double-count on retry")
  }

  test("fan-out over an empty input directory reports zero counts, not an exception") {
    // no input file -> no micro-batch executes -> no sink path ever
    // exists; the run must report FanOutCounts(0,0,0) instead of
    // throwing on the unconditional read-back
    val emptyIn = Files.createTempDirectory("graft_fanout_emptyin").toString
    val c = FanOutPipeline.run(spark, emptyIn,
      Files.createTempDirectory("graft_fanout_e").toString, 30)
    assert(c === FanOutPipeline.FanOutCounts(0L, 0L, 0L))
  }

  test("sink A binds dims from the first record and drops mismatches") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft_fanout_mixed").toString
    // first record (min event_id) has event_id % 7 === its own bucket;
    // every record in a different bucket must be dropped, not written.
    val wCol = when(col("event_id") % 7 === 0, 640L).otherwise(1280L)
    val counts = FanOutPipeline.run(spark, sf0001, out, 30,
      dims = (wCol, lit(480L)))
    val events = Tables.events(spark, sf0001)
    val firstBucketIsZero = events
      .orderBy("event_id").select((col("event_id") % 7 === 0).as("z"))
      .head().getBoolean(0)
    val matching = events
      .filter((col("event_id") % 7 === 0) === firstBucketIsZero).count()
    val total = events.count()
    assert(counts.all === matching, "sink A keeps only first-bound dims")
    assert(counts.dropped === total - matching, "mismatches are counted, not written")
    assert(counts.sampled === (total + 29) / 30, "sink B is unaffected by sink A's bind")
  }
}
