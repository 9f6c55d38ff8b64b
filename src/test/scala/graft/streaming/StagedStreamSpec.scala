package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** [[EventStreams.stagedStream]] is the one staged micro-batch replay
  * path: micro-batch i carries exactly chunk i, and the replays that
  * drain through [[EventStreams.drainToFiles]] run at the derived state
  * width (2 at the gate SFs: every staged replay's input is far below
  * 32 MB), as Spark's own progress reports it.
  */
class StagedStreamSpec extends SparkSpec {

  test("stagedStream over three chunks delivers batch i = chunk i") {
    val chunks = (0 until 3).map(i => spark.range(i * 100L, i * 100L + 10L + i).toDF("id"))
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]()
    val q = EventStreams.stagedStream(chunks).writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        seen.put(batchId, b.collect().map(_.getLong(0)).toSet)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.size === 3, s"one micro-batch per chunk, got batches ${seen.keySet}")
    (0 until 3).foreach { i =>
      assert(seen.get(i.toLong) === chunks(i).collect().map(_.getLong(0)).toSet,
        s"batch $i must be chunk $i")
    }
  }

  for (q <- Seq("q212_mapstate_profile", "q213_liststate_recent",
      "q247_packing_stream", "q251_split_stream")) {
    test(s"$q drains through drainToFiles and reports width 2 at sf0.001") {
      val (n, progress) = StreamProgress.during(spark) {
        graft.SparkEntry.queries(q)(spark, sf0001).count()
      }
      assert(n > 0)
      assert(progress.size >= 2, "two staged chunks replay as at least two micro-batches")
      val widths = progress.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet
      assert(widths === Set(2L), s"state width per batch: $widths")
    }
  }
}
