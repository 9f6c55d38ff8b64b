package graft

import org.apache.spark.sql.functions._

import graft.operators.Packing

/** q245's packing walk under planted lengths: bin boundaries, the
  * truncation rule, per-shard independence — the cases the fixture
  * corpus (max doc ≈ 100 tokens < the 512 budget) cannot fire — plus
  * the loader-contract invariants on the real gate query.
  */
class SequencePackingSpec extends SparkSpec {
  import spark.implicits._

  test("planted lengths pin every bin boundary, the truncation rule, and shard independence") {
    // budget 100. shard 0 walks [60, 30, 20, 100, 150]:
    //   60 → ctx0@0; 30 → ctx0@60 (fill 90); 20 overflows → ctx1@0;
    //   100 overflows → ctx2@0 (exactly full); 150 truncates to 100 and
    //   overflows → ctx3@0 with 50 lost.
    // shard 1 walks [100, 1]: exactly-full first context, then rollover —
    // and its ids interleave shard 0's, proving the walk keys on shard.
    val docs = Seq(
      (0L, 1L, 10L, 60L), (0L, 2L, 11L, 30L), (0L, 3L, 12L, 20L),
      (0L, 4L, 13L, 100L), (0L, 5L, 14L, 150L),
      (1L, 1L, 20L, 100L), (1L, 2L, 21L, 1L))
      .toDF("shard", "pos", "doc_id", "n_tokens")
    val got = Packing.packSpans(docs, budget = 100L)
      .select("shard", "doc_id", "context_id", "tok_start", "tok_end",
        "n_tokens", "n_trunc_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(t => (t._1, t._2))
    val expected = Seq(
      (0L, 10L, 0L, 0L, 60L, 60L, 0L),
      (0L, 11L, 0L, 60L, 90L, 30L, 0L),
      (0L, 12L, 1L, 0L, 20L, 20L, 0L),
      (0L, 13L, 2L, 0L, 100L, 100L, 0L),
      (0L, 14L, 3L, 0L, 100L, 100L, 50L),
      (1L, 20L, 0L, 0L, 100L, 100L, 0L),
      (1L, 21L, 1L, 0L, 1L, 1L, 0L))
    assert(got.toSeq === expected)
  }

  test("q245 loader contract at sf0.001: budget respected, spans abut, every doc packed once") {
    val r = Caches.scoped(SparkEntry.queries("q245_sequence_packing")(spark, sf0001)
      .collect())
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(r.length.toLong === nDocs, "every doc packs exactly once")
    assert(r.map(_.getAs[Long]("doc_id")).distinct.length.toLong === nDocs)
    // per-row: span arithmetic and the budget ceiling
    r.foreach { row =>
      assert(row.getAs[Long]("tok_end") ===
        row.getAs[Long]("tok_start") + row.getAs[Long]("n_tokens"))
      assert(row.getAs[Long]("tok_end") <= 512L)
      assert(row.getAs[Long]("context_fill") <= 512L)
      assert(row.getAs[Long]("waste_tokens") === 512L - row.getAs[Long]("context_fill"))
      assert(row.getAs[Long]("n_trunc_tokens") === 0L,
        "fixture docs are all shorter than the budget")
    }
    // per-context: positions are 1..n in tok_start order and spans abut
    // (greedy leaves no intra-context gap — waste is only at the tail)
    r.groupBy(row => (row.getAs[Long]("shard"), row.getAs[Long]("context_id")))
      .foreach { case (_, rows) =>
        val sorted = rows.sortBy(_.getAs[Long]("position"))
        assert(sorted.map(_.getAs[Long]("position")).toSeq ===
          (1L to sorted.length.toLong).toSeq)
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(b.getAs[Long]("tok_start") === a.getAs[Long]("tok_end"))
          case _ =>
        }
        assert(sorted.map(_.getAs[Long]("n_tokens")).sum ===
          sorted.head.getAs[Long]("context_fill"))
      }
    // the walk actually rolls over on the fixture (several docs/context,
    // more than one context/shard) — not a vacuous single-bin pass
    val perShard = r.groupBy(_.getAs[Long]("shard"))
      .map { case (_, rows) => rows.map(_.getAs[Long]("context_id")).max }
    assert(perShard.forall(_ >= 1L), "every shard should need >= 2 contexts")
  }

  test("q248 split packing: zero waste except the tail, fragments reassemble, flags mark the mask points") {
    val r = Caches.scoped(SparkEntry.queries("q248_packing_split")(spark, sf0001)
      .collect())
    val B = 512L
    // per context: every context except each shard's LAST is exactly
    // full — the policy's defining property (waste only at the tail)
    r.groupBy(row => row.getAs[Long]("shard")).foreach { case (_, rows) =>
      val lastCtx = rows.map(_.getAs[Long]("context_id")).max
      rows.groupBy(_.getAs[Long]("context_id")).foreach { case (ctx, cr) =>
        val fill = cr.map(_.getAs[Long]("n_tokens")).sum
        if (ctx < lastCtx) assert(fill === B, s"ctx $ctx not full: $fill")
        else assert(fill <= B)
      }
    }
    // per doc: fragments cover the doc exactly once, interior cut points
    // sit on context boundaries (is_head=0 -> starts at 0; is_tail=0 ->
    // ends at B), and the fixture actually fragments (non-vacuous)
    val byDoc = r.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (_, frags) =>
      assert(frags.map(_.getAs[Long]("n_tokens")).sum ===
        frags.head.getAs[Long]("n_doc_tokens"))
      frags.foreach { f =>
        if (f.getAs[Long]("is_head") === 0L) assert(f.getAs[Long]("tok_start") === 0L)
        if (f.getAs[Long]("is_tail") === 0L) assert(f.getAs[Long]("tok_end") === B)
      }
      val ctxs = frags.map(_.getAs[Long]("context_id")).sorted
      assert(ctxs.zip(ctxs.tail).forall { case (a, b) => b === a + 1 },
        "a doc's fragments must occupy consecutive contexts")
    }
    assert(byDoc.exists(_._2.length > 1),
      "the fixture must actually fragment some doc across a boundary")
  }

  test("q250: length-sorted batching never pads more than arrival order, and both conserve the corpus") {
    val r = Caches.scoped(SparkEntry.queries("q250_length_batching")(spark, sf0001)
      .collect())
    assert(r.nonEmpty)
    r.foreach { p =>
      // the optimality direction the comment proves: consecutive blocks
      // of the sorted order select the minimal set of batch maxima
      assert(p.getAs[Long]("sorted_pad_tokens") <= p.getAs[Long]("arrival_pad_tokens"),
        s"shard ${p.getAs[Long]("shard")}: sorted batching must not pad more")
      assert(p.getAs[Long]("n_batches") ===
        (p.getAs[Long]("n_docs") + 15L) / 16L, "batches = ceil(docs/16)")
      assert(p.getAs[Long]("arrival_pad_tokens") >= 0L &&
        p.getAs[Long]("total_tokens") > 0L)
    }
    // the reorder must actually buy something on the fixture (non-vacuous)
    assert(r.exists(p => p.getAs[Long]("pad_saved_ppm") > 0L))
  }

  test("q249 planner agrees with the two packing faces it plans") {
    val q = SparkEntry.queries
    val plan = Caches.scoped(q("q249_packing_policy")(spark, sf0001).collect())
    val greedy = Caches.scoped(q("q245_sequence_packing")(spark, sf0001).collect())
    val split = Caches.scoped(q("q248_packing_split")(spark, sf0001).collect())
    val gCtx = greedy.groupBy(_.getAs[Long]("shard"))
      .map { case (s, r) => s -> (r.map(_.getAs[Long]("context_id")).max + 1) }
    val sCtx = split.groupBy(_.getAs[Long]("shard"))
      .map { case (s, r) => s -> (r.map(_.getAs[Long]("context_id")).max + 1) }
    val sFrag = split.groupBy(_.getAs[Long]("shard"))
      .map { case (s, r) => s ->
        r.groupBy(_.getAs[Long]("doc_id")).count(_._2.length > 1).toLong }
    plan.foreach { p =>
      val s = p.getAs[Long]("shard")
      assert(p.getAs[Long]("n_ctx_greedy") === gCtx(s),
        s"shard $s: planner greedy count must equal q245's contexts")
      // r16 (ADVICE r15 #2): the floor is computed over the RAW mass —
      // the mass q248 actually ships — so this equality holds on ANY
      // corpus, not just a ≤budget fixture
      assert(p.getAs[Long]("n_ctx_floor") === sCtx(s),
        s"shard $s: split packing must sit on the ceil(total/B) floor")
      assert(p.getAs[Long]("n_frag_docs") === sFrag(s),
        s"shard $s: planner fragments must equal q248's multi-row docs")
      assert(p.getAs[Long]("n_ctx_extra") >= 0L)
      // both masses ride the report; truncation can only shrink
      assert(p.getAs[Long]("total_tokens_packed") <= p.getAs[Long]("total_tokens"))
      assert(p.getAs[Long]("total_tokens_packed") === greedy
        .filter(_.getAs[Long]("shard") == s).map(_.getAs[Long]("n_tokens")).sum,
        s"shard $s: packed mass must equal q245's span mass")
    }
  }

  test("q252 training-export funnel: stage counters tile, every branch fires, packing is consistent") {
    val r = Caches.scoped(SparkEntry.queries("q252_training_export")(spark, sf0001).collect())
    assert(r.length > 0)
    val B = graft.queries.CurationQueries.PackTokenBudget
    r.foreach { p =>
      // the funnel tiles: input = quality-dropped + dup-dropped + exported
      assert(p.getAs[Long]("n_input") ===
        p.getAs[Long]("n_quality_dropped") + p.getAs[Long]("n_dup_dropped") +
          p.getAs[Long]("n_exported"),
        s"shard ${p.getAs[Long]("shard")}: funnel stages must tile")
      // the planted q95 suffix carries exactly one email+ip+phone per doc
      assert(p.getAs[Long]("n_pii_hits") === 3L * p.getAs[Long]("n_exported"),
        "every exported doc must surface exactly 3 PII hits")
      // packing consistency: contexts cover the packed mass at >= 1 ctx
      // per budget and waste is the exact complement of fill
      val ctx = p.getAs[Long]("n_contexts")
      val tok = p.getAs[Long]("total_tokens")
      assert(ctx >= (tok + B - 1) / B, "contexts can't beat the floor")
      assert(p.getAs[Long]("waste_ppm") ===
        (ctx * B - tok) * 1000000L / math.max(ctx * B, 1L))
    }
    // non-vacuity: both drop branches fire somewhere at the gate SF
    assert(r.exists(_.getAs[Long]("n_quality_dropped") > 0L),
      "quality branch must fire")
    assert(r.exists(_.getAs[Long]("n_dup_dropped") > 0L),
      "dedup branch must fire")
    assert(r.exists(_.getAs[Long]("n_exported") > 0L))
  }

  test("q251 streamed split report is byte-identical to q248's batch report") {
    val q = SparkEntry.queries
    val batch = GoldenHash.golden(spark, sf0001, q("q248_packing_split"))
    val streamed = GoldenHash.golden(spark, sf0001, q("q251_split_stream"))
    assert(streamed === batch,
      "the two split faces must hash identically (one oracle text, one golden)")
  }
}
