package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The q246 engine's defining semantics under planted corpora: the
  * prior-batch-knowledge rule (threshold crossings drop from FUTURE
  * docs only), and exactly-once idempotence proven in the
  * DISCRIMINATING direction — a double-folded batch would push a
  * below-threshold chunk over the line and wrongly drop it downstream.
  */
class StreamingLineDedupSpec extends SparkSpec {
  import spark.implicits._

  private def stateDir(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_lds_")
    graft.TempDirs.cleanupOnExit(root)
    root.toString + "/state"
  }

  // one 4-token chunk per doc, so drop accounting is 1 chunk == 1 doc
  private val boiler = "a b c d"
  private val fresh = "p q r s"

  test("a chunk crossing the threshold in batch b drops from future batches only") {
    val dir = stateDir()
    // batch 0 plants the chunk in 3 docs — the threshold crossing
    // happens INSIDE batch 0, whose own docs keep it (no prior knowledge)
    StreamingLineDedup.processBatch(
      Seq((0L, boiler), (1L, boiler), (2L, boiler)).toDF("doc_id", "text"),
      dir, 0L)
    // batch 1 sees the standing count of 3 — its occurrence drops
    StreamingLineDedup.processBatch(
      Seq((10L, boiler), (11L, fresh)).toDF("doc_id", "text"), dir, 1L)
    val r = StreamingLineDedup.report(spark, dir)
      .select("doc_id", "batch", "n_dropped", "clean_text")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .sortBy(_._1)
    assert(r.toSeq === Seq(
      (0L, 0L, 0L, boiler), (1L, 0L, 0L, boiler), (2L, 0L, 0L, boiler),
      (10L, 1L, 1L, ""), (11L, 1L, 0L, fresh)))
  }

  test("a re-delivered batch no-ops: the index never double-counts a crossing") {
    val dir = stateDir()
    // batch 0 holds the chunk in TWO docs — one below the threshold of 3
    val b0 = Seq((0L, boiler), (1L, boiler)).toDF("doc_id", "text")
    StreamingLineDedup.processBatch(b0, dir, 0L)
    StreamingLineDedup.processBatch(b0, dir, 0L) // retry: must be invisible
    // a double-fold would record 4 >= 3 and WRONGLY drop here
    StreamingLineDedup.processBatch(
      Seq((10L, boiler)).toDF("doc_id", "text"), dir, 1L)
    val r10 = StreamingLineDedup.report(spark, dir)
      .filter(col("doc_id") === 10L).select("n_dropped", "clean_text")
      .collect().head
    assert(r10.getLong(0) === 0L && r10.getString(1) === boiler,
      "nd must be 2 after the retried batch — a double-count shows here")
    // the ledger holds each batch-0 doc exactly once
    assert(StreamingLineDedup.report(spark, dir).count() === 3L)
    // and the crossing still fires once a genuinely new doc arrives
    StreamingLineDedup.processBatch(
      Seq((20L, boiler)).toDF("doc_id", "text"), dir, 2L)
    val r20 = StreamingLineDedup.report(spark, dir)
      .filter(col("doc_id") === 20L).select("n_dropped").collect().head
    assert(r20.getLong(0) === 1L, "count 3 reached after batch 1 — batch 2 drops")
  }
}
