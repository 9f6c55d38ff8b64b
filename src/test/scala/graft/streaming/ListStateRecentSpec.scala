package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The ListState recent-items ring (q213's engine): the last-3 tail must
  * fold ACROSS a micro-batch boundary — the item evicted by batch 2's
  * arrivals is exactly the oldest ring entry, not a re-read of the whole
  * history — and intra-batch arrival order must not matter (the
  * processor sorts each slice by event_id, the q196 rule).
  */
class ListStateRecentSpec extends SparkSpec {
  import ListStateRecent._

  test("the ring folds across the batch boundary against a hand truth") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("graft-liststate-spec-")
    graft.TempDirs.cleanupOnExit(ck)
    val mem = MemoryStream[EventIn]
    SessionTimers.withRocksDb(spark) {
      val q = tracked(spark, mem.toDS()).writeStream
        .outputMode("append")
        .option("checkpointLocation", ck.toString)
        .format("memory").queryName("liststate_spec_sink")
        .start()
      try {
        // batch 1 REVERSED in arrival order — the slice sort must fix it
        mem.addData(EventIn(7L, 3L, "c"), EventIn(7L, 1L, "a"), EventIn(7L, 2L, "b"))
        q.processAllAvailable()
        // batch 2 pushes two more: 'a' and 'b' must scroll out of the ring
        mem.addData(EventIn(7L, 4L, "d"), EventIn(7L, 5L, "e"))
        q.processAllAvailable()
      } finally q.stop()
    }
    val out = spark.table("liststate_spec_sink")
      .orderBy("n_seen")
      .as[(Long, Long, String)].collect().toSeq
    assert(out === Seq((7L, 3L, "a>b>c"), (7L, 5L, "c>d>e")),
      "batch 1 sorts the reversed slice; batch 2 evicts a,b and keeps c from state")
  }
}
