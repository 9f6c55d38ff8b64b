package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The q247 engine's seam semantics under planted lengths: a context
  * OPEN at the micro-batch boundary keeps filling from its carried
  * (ctx, fill) ValueState — the property that makes the streamed walk
  * equal the batch one — plus full-fixture equality with the batch fold.
  */
class StreamingPackingSpec extends SparkSpec {
  import spark.implicits._

  test("an open context carries (ctx, fill) across the batch seam; rollover still fires") {
    // budget 100, max pos 4 -> mid = 2: batch 1 is pos <= 2, batch 2 is
    // pos 3-4. Three shards cover the three seam behaviors — crucially
    // shard 2 DISCRIMINATES continuation from re-basing (ADVICE r15 #1:
    // the original two shards both overflowed at the seam, so a
    // processor that unconditionally closes the open context at batch
    // start produced the expected output anyway).
    // shard 0 [60, 30 | 20, 100]: pos1 60 -> ctx0@0 (fill 60); pos2 30
    //   -> ctx0@60 (fill 90); -- seam: (ctx0, 90) crosses RocksDB --
    //   pos3 20 -> overflow -> ctx1@0; pos4 100 -> ctx2@0. A LOST state
    //   would restart pos3 at ctx0@0 and shift both.
    // shard 1 [90, 5 | 10]: pos2 5 continues ctx0@90 within batch 1
    //   (fill 95); pos3 10 overflows at the seam -> ctx1@0.
    // shard 2 [60, 5 | 30]: seam state (ctx0, 65); pos3 30 FITS the
    //   carried open context -> ctx0@65 (fill 95) — a processor that
    //   spuriously rolls over at batch start would emit ctx1@0 instead.
    val staged = Seq(
      (0L, 1L, 10L, 60L), (0L, 2L, 11L, 30L), (0L, 3L, 12L, 20L),
      (0L, 4L, 13L, 100L),
      (1L, 1L, 20L, 90L), (1L, 2L, 21L, 5L), (1L, 3L, 22L, 10L),
      (2L, 1L, 30L, 60L), (2L, 2L, 31L, 5L), (2L, 3L, 32L, 30L))
      .toDF("shard", "pos", "doc_id", "n_tokens")
    val got = StreamingPacking.replayTwoBatches(spark, staged, budget = 100L)
      .select("shard", "doc_id", "context_id", "tok_start", "tok_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === Seq(
      (0L, 10L, 0L, 0L, 60L), (0L, 11L, 0L, 60L, 90L),
      (0L, 12L, 1L, 0L, 20L), (0L, 13L, 2L, 0L, 100L),
      (1L, 20L, 0L, 0L, 90L), (1L, 21L, 0L, 90L, 95L),
      (1L, 22L, 1L, 0L, 10L),
      (2L, 30L, 0L, 0L, 60L), (2L, 31L, 0L, 60L, 65L),
      (2L, 32L, 0L, 65L, 95L)))
  }

  test("split packing: an open fragment straddles the batch seam at the carried offset") {
    // budget 100, max pos 3 -> mid = 1: batch 1 is pos 1, batch 2 is
    // pos 2-3. shard 0 [60 | 80, 70]:
    //   pos1 60 -> ctx0 [0,60) (batch 1; offset 60 crosses RocksDB);
    //   pos2 80 -> STRADDLES the context boundary mid-context from the
    //     carried offset: ctx0 [60,100) is_tail=0 + ctx1 [0,40) is_head=0;
    //   pos3 70 -> ctx1 [40,100) + ctx2 [0,10).
    // An offset lost (re-based to 0) would emit pos2 as ctx0 [0,80);
    // an offset rounded UP to the next context would emit ctx1 [0,80) —
    // both shift every later fragment. Either fails this assertion.
    val staged = Seq(
      (0L, 1L, 10L, 60L), (0L, 2L, 11L, 80L), (0L, 3L, 12L, 70L))
      .toDF("shard", "pos", "doc_id", "n_tokens")
    val got = StreamingPacking.replaySplitTwoBatches(spark, staged, budget = 100L)
      .select("shard", "doc_id", "context_id", "tok_start", "tok_end",
        "is_head", "is_tail")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq === Seq(
      (0L, 10L, 0L, 0L, 60L, 1L, 1L),
      (0L, 11L, 0L, 60L, 100L, 1L, 0L),
      (0L, 11L, 1L, 0L, 40L, 0L, 1L),
      (0L, 12L, 1L, 40L, 100L, 1L, 0L),
      (0L, 12L, 2L, 0L, 10L, 0L, 1L)))
  }

  test("streamed split fragments equal the batch window's on the gate fixture") {
    val staged = graft.queries.CurationQueries.packStaged(spark, sf0001)
    val budget = graft.queries.CurationQueries.PackTokenBudget
    val streamed = StreamingPacking.replaySplitTwoBatches(spark, staged, budget)
      .select("shard", "doc_id", "context_id", "n_doc_tokens",
        "tok_start", "tok_end", "is_head", "is_tail")
    val batch = graft.queries.CurationQueries.splitFragments(staged)
      .select("shard", "doc_id", "context_id", "n_doc_tokens",
        "tok_start", "tok_end", "is_head", "is_tail")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "the two split faces must produce identical fragment sets")
  }

  test("streamed spans equal the batch fold's on the gate fixture") {
    val staged = graft.queries.CurationQueries.packStaged(spark, sf0001)
    val budget = graft.queries.CurationQueries.PackTokenBudget
    val streamed = StreamingPacking.replayTwoBatches(spark, staged, budget)
      .select("shard", "doc_id", "context_id", "tok_start", "tok_end",
        "n_tokens", "n_trunc_tokens")
    val batch = graft.operators.Packing.packSpans(staged, budget)
      .select("shard", "doc_id", "context_id", "tok_start", "tok_end",
        "n_tokens", "n_trunc_tokens")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "the two faces must produce identical span sets")
  }
}
