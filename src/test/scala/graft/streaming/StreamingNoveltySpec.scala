package graft.streaming

import org.apache.spark.sql.functions._

import graft.{Caches, SparkEntry, SparkSpec}

class StreamingNoveltySpec extends SparkSpec {
  import spark.implicits._

  test("5-batch replay equals q168's one-shot bucket curve at the gate SF (width 100 = the bucket)") {
    // 500 docs → replay width = 499/5 + 1 = 100, exactly q168's bucket,
    // so the streamed fold must reproduce the batch query row-for-row
    // (batch ↔ bucket). This is the cross-check the oracle cannot carry:
    // q170's width scales with the corpus, q168's bucket is fixed.
    Caches.scoped {
      val replay = SparkEntry.queries("q170_novelty_replay")(spark, sf0001)
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      val batch = SparkEntry.queries("q168_novelty_curve")(spark, sf0001)
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(replay === batch)
    }
  }

  test("repeat rule at the seam: cross-batch repeats count, intra-batch duplicates stay novel") {
    val seen0 = Seq.empty[Long].toDF("h")
    // batch 0: hash 1 twice (intra-batch dup), hash 2 once
    val b0 = Seq((0L, 1L), (0L, 1L), (1L, 2L)).toDF("doc_id", "h")
    val (r0, seen1) = StreamingNovelty.reportForBatch(b0, seen0)
    assert(r0.as[(Long, Long)].head() === ((3L, 0L)),
      "nothing predates batch 0 — the intra-batch duplicate is NOT a repeat")
    assert(seen1.as[Long].collect().toSet === Set(1L, 2L), "index folds distinct hashes once")
    // batch 1: hash 2 again (cross-batch repeat) + new hash 3
    val b1 = Seq((2L, 2L), (2L, 3L)).toDF("doc_id", "h")
    val (r1, seen2) = StreamingNovelty.reportForBatch(b1, seen1)
    assert(r1.as[(Long, Long)].head() === ((2L, 1L)),
      "only the cross-batch occurrence counts as a repeat")
    assert(seen2.as[Long].collect().toSet === Set(1L, 2L, 3L))
    // replaying batch 1 against the updated index double-counts nothing:
    // the index is a SET, so the fold is idempotent on hashes
    val (r1b, _) = StreamingNovelty.reportForBatch(b1, seen2)
    assert(r1b.as[(Long, Long)].head() === ((2L, 2L)),
      "after its own fold, every batch-1 position reads as a repeat — the at-least-once signature the versioned-state scheme removes")
  }
}
