package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Physical-plan regression guards: the load-bearing plan properties the
  * 100 TB design depends on, asserted so a refactor can't silently lose
  * a pushdown, a broadcast, a map-side combine, or the q24 single-cache
  * fan-out (ExplainAudit shows the same plans for human review).
  */
class PlanAuditSpec extends SparkSpec {

  private def formatted(name: String): String =
    Caches.scoped(SparkEntry.queries(name)(spark, sf0001).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode))

  /** BloomFilterMightContain occurrences across the plan's expression
    * trees, descending into AQE subplans and cached-relation plans —
    * structural, so an explain-formatting change can't flip the count. */
  private def countBloomProbes(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan +: s.children
      case _ => p.children
    }
    val here = p.expressions.map(_.collect {
      case b: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => b
    }.size).sum
    here + kids.map(countBloomProbes).sum
  }

  test("q04: conf/IN filters are pushed into the parquet scan") {
    val p = formatted("q04_detection_filter")
    assert(p.contains("GreaterThanOrEqual(value,40.0)"), "threshold must reach PushedFilters")
    assert(p.contains("In(event_type, [error,purchase]"), "IN-list must reach PushedFilters")
  }

  test("q05: the class-lookup dimension is broadcast") {
    assert(formatted("q05_class_lookup_join").contains("BroadcastExchange"))
  }

  test("q16: top-k runs as TakeOrderedAndProject, not a global sort") {
    assert(formatted("q16_topk_confidence").contains("TakeOrderedAndProject"))
  }

  test("q22: the segment table broadcasts — the range join is a map-side interval test") {
    val p = formatted("q22_segment_range_join")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"),
      "big side must not shuffle for a k-row boundary table")
  }

  test("q30: minhash signatures partial-aggregate before the shuffle") {
    assert(formatted("q30_minhash_banding").contains("partial_min"),
      "map-side combine must collapse signature rows before the band shuffle")
  }

  test("q57: the signature stage is a pure map — no dimension explode survives") {
    assert(!formatted("q57_embedding_neardup_srp").contains("posexplode"),
      "literal-hyperplane rewrite must not regress to explode+join signatures")
  }

  test("q24: all four segment branches read ONE cached dense-id relation") {
    Caches.scoped {
      val df = SparkEntry.queries("q24_union_reassembly")(spark, sf0001)
      val rels = df.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }
      // 4 branch scans + each branch's broadcast row-count subquery also
      // reads the cache — what matters is that every read hits the SAME
      // cache: a second builder = the 4x re-derivation regression
      assert(rels.size >= 4, s"expected >=4 cached reads, got ${rels.size}")
      assert(rels.map(_.cacheBuilder).distinct.size == 1,
        "branches must share one cache — a second build = the 4x re-derivation regression")
    }
  }

  test("q64: stage 1 shuffles on the (key, value) PAIR — no hot-key reducer funnel") {
    val p = formatted("q64_skew_distinct_users")
    assert("hashpartitioning\\(event_type#\\d+[^)]*user_id#\\d+".r.findFirstIn(p).isDefined,
      "the dedup stage must be keyed by the pair (cardinality), not the hot key alone")
  }

  test("q66: stratified sampling is a pure map — no hash shuffle anywhere") {
    val p = formatted("q66_stratified_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      "the hash-rate filter must run on the scan; the only exchange is the output sort's range partitioning")
  }

  test("q68: balanced sampling partial-aggregates topk map-side — no lang-partitioned window") {
    val p = formatted("q68_balanced_sample")
    assert(p.contains("partial_topk"),
      "each map task must ship at most k rows per language; a window over lang = hot-partition funnel")
    assert(!p.contains("Window"), "must not regress to row_number over a low-cardinality partition")
  }

  test("q70: plans through the native AsOfJoin exec — co-partitioned, no tagged union") {
    val p = formatted("q70_asof_native")
    assert(p.contains("AsOfJoin"), "the custom strategy must plan the native exec node")
    assert(!p.contains("Union"), "must not fall back to the composed union+window form")
    assert(!p.contains("Window"), "the native walk replaces the cumulative window")
  }

  test("native as-of join: left-only filters push below the join into the scan") {
    val e = Tables.events(spark, sf0001)
    val left = e.select("event_id", "user_id", "ts")
    val right = e.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts"),
        org.apache.spark.sql.functions.col("event_id").as("purchase_id"))
    val joined = graft.operators.AsOfJoin
      .lastAtOrBeforeNative(left, right, "user_id", "ts", "purchase_id")
      .filter(org.apache.spark.sql.functions.col("event_id") < 100)
    val p = joined.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LessThan(event_id,100)"),
      "PushFilterThroughAsOfJoin must move the probe-side conjunct into PushedFilters")
  }

  test("q72: the bloom probes are codegen'd predicates; exact verify survives for candidates") {
    // driven on a fixture WITH a real duplicate: on a dup-free corpus
    // (the sf0.001 fixture) the empty-candidate gate correctly elides
    // the whole verify branch, and there would be no anti-join to audit
    import spark.implicits._
    // RDD-backed inputs: a Seq.toDF LocalRelation gets constant-folded by
    // ConvertToLocalRelation, evaluating the probes at planning time and
    // leaving no might_contain in the physical plan to audit
    val incoming = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((1L, "dup"), (2L, "fresh"))))
      .toDF("doc_id", "text")
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Tuple1("dup"), Tuple1("other"))))
      .toDF("text")
    val (p, probes) = Caches.scoped {
      val qe = graft.operators.BloomDedup.newRows(incoming, corpus, "text", 1000L)
        .queryExecution
      (qe.explainString(org.apache.spark.sql.execution.FormattedMode),
        countBloomProbes(qe.executedPlan))
    }
    assert(p.contains("might_contain"),
      "the bloom pre-screen must be the native BloomFilterMightContain predicate, not a UDF")
    // counted by traversing the executed plan's expression trees (incl.
    // the persisted candidate relation's cached plan), NOT by substring
    // frequency in the explain text — a formatting change can't flip it.
    // >= 3 because the single-bloom form already carries TWO probes (the
    // NOT-probe on definiteNew + the candidates probe inside the cached
    // plan) — only the reverse corpus-side screen pushes the count to 3
    assert(probes >= 3,
      s"the corpus side must carry the REVERSE candidate-key screen before the join " +
        s"(found $probes BloomFilterMightContain expressions, expected >= 3)")
    assert(p.contains("LeftAnti"),
      "candidates must still flow through the exact anti-join (fpp correctness depends on it)")
  }

  test("q85: frame_number range predicates reach the connector's scan bounds") {
    // the pushdown face of the container scan: a mid-range filter must
    // shrink the generated/decoded range, not post-filter a full decode
    Caches.scoped {
      val df = SparkEntry.queries("q85_avi_container_scan")(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("frame_number") >= 10)
        .filter(org.apache.spark.sql.functions.col("frame_number") < 20)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("[10, 20)"),
        s"range must push into the scan description:\n${plan.linesIterator.take(8).mkString("\n")}")
    }
  }

  test("q86: the sink round-trip joins two bounded container scans via broadcast") {
    // both sides are 48-frame relations; the verify join must broadcast
    // one side, never shuffle both (at corpus scale the read-back side
    // of a container verify is the bounded one)
    Caches.scoped {
      val df = SparkEntry.queries("q86_video_sink_roundtrip")(spark, sf0001)
      df.collect() // materialize AQE's final plan on THIS query execution
      // structural walk of the FINAL plan only — toString also prints
      // the pre-AQE "Initial Plan" section, whose SMJ is exactly what
      // AQE replaced
      def collectAll[T](p: org.apache.spark.sql.execution.SparkPlan)(
          pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        (if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil) ++ kids.flatMap(collectAll(_)(pf))
      }
      val plan = df.queryExecution.executedPlan
      val bhj = collectAll(plan) {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      val smj = collectAll(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(bhj.nonEmpty, s"expected a broadcast join in the final plan:\n$plan")
      assert(smj.isEmpty, "two bounded scans must not sort-merge in the final plan")
    }
  }

  test("q42: the vocabulary-sized dfreq table is never force-broadcast") {
    // dfreq has one row per DISTINCT TOKEN — unbounded at web scale
    // (the r5 verdict's one scale-killer was a broadcast() hint here).
    // With both broadcast thresholds disabled, a BroadcastHashJoin can
    // only come from an explicit hint, so its absence pins the fix: the
    // token join must fall back to a shuffle join. The 1-row n_docs
    // broadcast (a BroadcastNestedLoopJoin) stays allowed — its
    // cardinality is 1 at any scale.
    val p = Sessions.withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(formatted("q42_tfidf_top_terms"))
    assert(!p.contains("BroadcastHashJoin"),
      "with thresholds off, a BroadcastHashJoin can only come from a forced broadcast() hint on dfreq")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "the tf-dfreq join must degrade to a shuffle join on token when broadcast is off")
  }

  test("q74: contamination overlap partial-aggregates before the doc-keyed shuffle") {
    val p = formatted("q74_contamination_check")
    assert(p.contains("partial_count"),
      "per-doc overlap counts must map-side combine; shipping raw matched shingles is the scale bug")
  }

  test("the fused shingle hash compiles into a whole-stage codegen span") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.functions.col
    // the raw shingle-base shape (not the shared cached relation): the
    // point of PositionalShingleHash over the composed HOF pipeline is
    // that doGenCode keeps the projection inside codegen — ArrayTransform
    // was CodegenFallback, which is exactly the regression this guards
    val df = Tables.documents(spark, sf0001)
      .select(functions.TextOps.tokens(col("text")).as("tk"))
      .select(functions.TextOps.positionalHashedShingles(col("tk"), 3).as("sp"))
    def hasFused(p: SparkPlan): Boolean =
      p.expressions.exists(_.collectFirst {
        case e: graft.expressions.PositionalShingleHash => e
      }.nonEmpty) || p.children.exists(hasFused)
    val spans = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    val fusedSpans = spans.filter(hasFused)
    assert(fusedSpans.nonEmpty,
      "PositionalShingleHash must sit inside a WholeStageCodegen span, not fall back to interpreted eval")
    // plan membership alone doesn't prove the generated Java COMPILES —
    // a codegen bug surfaces at runtime as a logged fallback, silently
    // restoring the 13 µs/position interpreted cost. Compile it here.
    fusedSpans.foreach { w =>
      val (_, code) = w.doCodeGen()
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile(code)
    }
  }

  test("q75: span counts partial-aggregate before the hash-keyed shuffles") {
    val p = formatted("q75_duplicated_spans")
    assert(p.contains("partial_count"),
      "per-hash doc counts and per-doc dup counts must map-side combine")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the dup-hash join must stay a keyed equi-join, never doc×doc")
  }

  test("q76: the 64-row stats and the quantized query vector broadcast; the corpus never shuffles") {
    val p = formatted("q76_quantized_similarity")
    assert(p.contains("BroadcastExchange"),
      "stats/query-vector must broadcast to the corpus scan")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must not be a global sort of the scored corpus")
  }

  test("q77: the pair search is keyed by cell — no all-pairs join") {
    val p = formatted("q77_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      "within-cell pairing must shuffle by cell id, never cross-join the corpus")
    assert(p.contains("partial_max"),
      "the per-vector margin must map-side combine before the vec-keyed shuffle")
  }

  test("q79: the derived rate table broadcasts back onto a map-only filter") {
    val p = formatted("q79_temperature_mixing")
    assert(p.contains("BroadcastExchange"),
      "the 5-row rate table must broadcast; a shuffle join over docs is the scale bug")
  }

  test("q82: the type predicate prunes at file listing — PartitionFilters, not data filters") {
    val p = formatted("q82_partition_pruned_scan")
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      "the IN-list must prune partitions during listing, before any file opens")
  }

  test("q84: the dimension filter prunes the fact scan at runtime (DPP subquery)") {
    val p = formatted("q84_dpp_star_join")
    // a LIVE pruning subquery, not the planned-away form: when DPP is
    // inserted but later deemed not worthwhile it is rewritten to
    // dynamicpruningexpression(true), whose text would still satisfy a
    // bare substring check while the scan reads all 5 partitions
    assert(p.contains("IN dynamicpruning#"),
      "the category filter must reach the fact's PartitionFilters through a " +
        "runtime dynamic-pruning subquery — static pruning cannot see a dim-side predicate")
    assert(!p.contains("dynamicpruningexpression(true)"),
      "the pruning subquery must not have been planned away to a constant")
  }

  test("q80: compaction is one hash aggregate — no per-key window sort") {
    val p = formatted("q80_latest_compaction")
    assert(p.contains("max_by"), "the latest-row pick must be the max_by aggregate")
    assert(!p.contains("Window"),
      "a row_number window here = full range-sort of every partition at 100 TB")
  }

  test("q81: funnel stages are keyed aggs + equi-joins — no window, no collect") {
    val p = formatted("q81_funnel_stages")
    assert(!p.contains("Window"), "per-user ordered windows must not appear")
    assert(p.contains("partial_min"),
      "stage timestamps must partial-aggregate map-side before the user_id shuffle")
  }

  test("q01/q09/q10/q15/q24 read the session-shared dense-id caches (one sort per session)") {
    def cacheBuilders(name: String) =
      Caches.scoped(SparkEntry.queries(name)(spark, sf0001).queryExecution.optimizedPlan
        .collect { case r: InMemoryRelation => r.cacheBuilder })
    val perQuery = Seq("q01_ordered_scan", "q09_progress_ticks", "q10_segment_ntile",
      "q15_dropped_frames", "q24_union_reassembly").map(n => n -> cacheBuilders(n))
    perQuery.foreach { case (n, bs) =>
      assert(bs.nonEmpty, s"$n must read a cached dense-id relation, not rebuild the sort")
    }
    // q09/q10/q24 must share ONE events cache (q15 reads it via its own
    // scoped rank persist; q01 is the lineitem relation)
    val eventsShared = Seq("q09_progress_ticks", "q10_segment_ntile", "q24_union_reassembly")
      .map(n => perQuery.toMap.apply(n).toSet)
      .reduce(_ intersect _)
    assert(eventsShared.nonEmpty,
      "q09/q10/q24 must read the same shared events dense-id cache")
  }

  test("q93: index probe is keyed equi-joins end-to-end — no cartesian, counts partial-agg'd") {
    val p = formatted("q93_incremental_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "batch-vs-corpus dedup must never degenerate to all-pairs")
    assert(p.contains("partial_count"),
      "per-doc match counts must combine map-side")
  }

  test("q94: windows are doc-keyed and every join is keyed — no cartesian") {
    val p = formatted("q94_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("Window.*partitionBy|hashpartitioning\\(doc_id#\\d+".r.findFirstIn(p).isDefined,
      "the islands window must partition by doc_id (state bounded by doc length)")
  }

  test("q95: the scrub is a pure map — no joins, no hash shuffle") {
    val p = formatted("q95_pii_scrub")
    assert(!p.contains("Join"), "redaction must not join anything")
    assert(!p.contains("hashpartitioning"),
      "only the output sort may repartition (range), never a hash shuffle")
  }

  test("q98: classifier scores partial-aggregate map-side; no weight join") {
    val p = formatted("q98_quality_classifier")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "token weights must combine before the doc-keyed shuffle")
    assert(!p.contains("Join"),
      "the closed-form weight must stay an expression, not become a join")
  }

  test("q99: the export shuffles ONCE, keyed by shard (the physical write shape)") {
    val p = formatted("q99_shard_export")
    assert("hashpartitioning\\(shard#\\d+".r.findFirstIn(p).isDefined,
      "the rank window must be keyed by shard - the repartition the shard write performs")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"))
  }

  test("q101: both policy signals join keyed — no cartesian, no doc-cross-doc") {
    val p = formatted("q101_hybrid_dedup")
    assert(!p.contains("CartesianProduct"),
      "the decision layer must stay keyed left joins over shared relations")
  }

  test("q102: the rollup partial-aggregates; only the 1-row range broadcast is nested-loop") {
    val p = formatted("q102_gapfill_resample")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "the sparse hourly rollup must combine map-side")
    assert(!p.contains("CartesianProduct"),
      "the grid must come from a BROADCAST of the 1-row min/max, never a cartesian")
    assert(p.contains("BroadcastExchange"),
      "the range row must broadcast onto the type list")
  }

  test("q100: chunk sharing is keyed on the chunk hash — no doc-cross-doc join") {
    val p = formatted("q100_cdc_chunking")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count"),
      "chunk-frequency counts must combine map-side")
  }

  test("q103: the cap selection partial-aggregates — no per-domain window sort") {
    val p = formatted("q103_domain_cap")
    assert(p.contains("partial_minklong") || p.contains("MinKLong"),
      "the bounded aggregator must appear as a partial aggregate")
    assert(!p.contains("Window"),
      "selection must not fall back to a row_number window over every doc")
  }

  test("q104: the global top-k is a bounded TakeOrderedAndProject, not a sort") {
    val p = formatted("q104_priority_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy+limit must plan as the per-partition heap")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the 1-row tau joins back by broadcast")
  }

  test("q105: the z-interval screen reaches the parquet scan as pushed filters") {
    val p = formatted("q105_zorder_scan")
    assert(p.contains("PushedFilters: [Or(And(GreaterThanOrEqual(zval,")
      || "PushedFilters: \\[.*zval".r.findFirstIn(p).isDefined,
      "the BETWEEN intervals must land in PushedFilters for footer-stat skipping")
    assert(!p.contains("Join"), "the screen is a predicate, never a join")
  }

  test("q106: the label filter lands before the cell join; probe side broadcasts") {
    val p = formatted("q106_filtered_ann")
    assert(!p.contains("CartesianProduct"),
      "filtered search must stay the keyed cell join")
    // the searchable-id semi join keys on vec_id (the pre-filter); the
    // distance computation sits above the cell equi-join only
    assert("hashpartitioning\\(cell".r.findFirstIn(p).isDefined
      || p.contains("BroadcastExchange"),
      "candidate generation must remain cell-keyed or broadcast")
  }

  test("q108: ADC scoring is a broadcast-LUT equi-join + partial agg — no raw-vector read") {
    val p = formatted("q108_ivfpq_adc")
    assert(!p.contains("CartesianProduct"),
      "candidate generation must stay the keyed cell join")
    assert(p.contains("BroadcastExchange"),
      "the per-query LUT must broadcast onto the code rows")
    assert(p.contains("partial_sum"),
      "the M-term ADC sum must combine map-side")
  }

  test("q117: interval candidates come from the bucket equi-join — never session×session") {
    val p = formatted("q117_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the overlap predicate must verify behind the time-bucket screen")
  }

  test("q116: fuzzy candidates come from the variant equi-join — never word×word") {
    val p = formatted("q116_fuzzy_join")
    assert(!p.contains("CartesianProduct"),
      "the levenshtein verify must sit behind the deletion-variant screen")
    // exactly ONE nested-loop join is sanctioned: the short×short
    // exact pass over the length-≤2 vocabulary (alphabet-bounded at
    // 26+26² rows, corpus-independent) that replaces the dropped ''
    // variant bucket. The full-vocab pairs must still come from the
    // variant equi-join.
    // formatted explain prints each node twice (tree line + detail
    // header), so ONE physical nested-loop join = 2 string hits
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the alphabet-bounded short-word pass may nested-loop")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "the main candidate screen must be the variant equi-join")
  }

  test("q126: the postings filter lands before the tf aggregation; top-10 is a bounded take") {
    val p = formatted("q126_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-10 must be a bounded heap, not a global sort")
    assert(p.contains("In(token") || p.contains("token#") && p.contains(" IN "),
      "the query-term IN filter must screen the token stream before any aggregation")
  }

  test("q128: the semantic rerank is candidate-bounded — vectors join AFTER the top-50 cut") {
    val p = formatted("q128_hybrid_retrieval")
    assert(p.contains("TakeOrderedAndProject"),
      "both stage cuts must be bounded takes")
    assert(!p.contains("CartesianProduct"),
      "only the 1-row query-vector broadcast may cross")
  }

  test("q129: the 5-row stats broadcast back onto a map-only flag — no window, no per-group sort") {
    val p = formatted("q129_anomaly")
    assert(p.contains("BroadcastHashJoin"), "the stats join must broadcast")
    assert(!p.contains("Window"), "flagging must not re-sort per group")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "moments must combine map-side")
  }

  test("q130: latest-op compaction partial-aggregates; the merge is ONE keyed join, no window") {
    val p = formatted("q130_cdc_merge")
    assert(p.contains("partial_max"), "per-key latest ops must combine map-side")
    assert(!p.contains("Window"), "MERGE must not re-sort history per key")
    assert("FullOuter".r.findAllIn(p).size >= 1, "snapshot⊕delta is a keyed full-outer join")
  }

  test("q134: the salted key actually reaches the join — (user_id, salt), dim replicated") {
    val p = formatted("q134_salted_join")
    assert(p.contains("__graft_salt"),
      "the join must key on the salt column, not collapse to the plain key")
    assert(p.contains("Explode") || p.contains("explode"),
      "the dimension side must replicate via the salt explode")
  }

  test("q114: the whole profile is one scan — no join, multi-distinct via Expand") {
    val p = formatted("q114_profile")
    assert(!p.contains("Join"), "five column profiles must not become five scans glued by joins")
    assert(p.contains("Expand"), "multi-count-distinct plans through one Expand")
  }

  test("q115: every PageRank iteration is keyed joins + partial-agg'd sums") {
    val p = formatted("q115_pagerank")
    assert(!p.contains("CartesianProduct"),
      "only the 1-row nn/dangling terms may broadcast; node×node never materializes")
    assert(p.contains("partial_sum"),
      "inbound rank sums must combine map-side")
  }

  test("q110: pair counting runs over the distinct-word table, top-20 is a bounded heap") {
    val p = formatted("q110_bpe_pair_stats")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 must plan as the per-partition heap, not a global sort")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "word frequencies and pair weights must combine map-side")
  }

  test("q111: the merge chain is codegen'd string expressions — no join, no window") {
    val p = formatted("q111_bpe_apply")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      "the merge table must stay expression constants; reassembly is the keyed agg")
    assert("hashpartitioning\\(doc_id#\\d+".r.findFirstIn(p).isDefined,
      "the doc reassembly shuffles once, keyed by doc")
  }

  test("q107: the exact pass joins a broadcast candidate set — no vocabulary shuffle on output") {
    val p = formatted("q107_heavy_hitters")
    assert(p.contains("BroadcastExchange"),
      "the <= k-1 MG candidates must broadcast into the semi join")
    assert(p.contains("LeftSemi"),
      "the exact pass must screen tokens with a semi join, not materialize the vocabulary")
    assert(p.contains("partial_count"),
      "candidate counts must combine map-side")
  }

  test("q137: the importance model joins token-keyed; totals and the cut ride 1-row broadcasts") {
    val p = formatted("q137_dsir_resample")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "V/Ts/Tt and the percentile cut must broadcast onto map-side passes")
    assert(!p.contains("CartesianProduct"),
      "no unbroadcast cross product anywhere in the model chain")
  }

  test("q138: the co-moment pass is ONE partial-agg'd scan — no join, no window") {
    val p = formatted("q138_linreg_normal")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "moments must combine map-side")
    assert(!p.contains("Join"), "the normal-equation solve never joins")
    assert(!p.contains("Window"), "no window function in the moment pass")
  }

  test("q139: triangle wedges close through keyed equi-joins — never node×node") {
    val p = formatted("q139_triangle_count")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "wedge generation and closing must stay keyed — a cross product is the naive plan")
  }

  test("q140: PMI totals broadcast; the top-20 is a bounded take, not a global sort") {
    val p = formatted("q140_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must run as a bounded heap per partition")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row totals must broadcast onto the scored bigrams")
  }

  test("q144: every peel round is keyed joins — no cross product") {
    val p = formatted("q144_kcore_keywords")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q145: candidates come from the prefix equi-join — never doc×doc") {
    val p = formatted("q145_prefix_filter_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a cross product means the prefix screen degenerated to all-pairs")
  }

  test("q146: the model join is a keyed LEFT join; totals ride a 1-row broadcast") {
    val p = formatted("q146_heldout_perplexity")
    assert(p.contains("LeftOuter"), "OOV needs the left join to survive")
    assert(p.contains("BroadcastNestedLoopJoin"), "T/V must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q160: containment candidates come from the prefix⨝postings equi-join — never doc×doc") {
    val p = formatted("q160_containment_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a cross product means the asymmetric screen degenerated to all-pairs")
  }

  test("q161: per-key counts partial-aggregate; totals ride 1-row broadcasts, no key-table window") {
    val p = formatted("q161_skew_report")
    assert(p.contains("partial_count"),
      "the per-key count must map-side combine before the key shuffle")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row totals must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q162: one corpus scan to a driver-sized strata table; shares ride 1-row broadcasts") {
    val p = formatted("q162_mixture_allocation")
    assert(p.contains("BroadcastNestedLoopJoin"), "totals and round-2 sums must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "allocation must not sort the strata table globally")
  }

  test("q163: the only window runs over the bucket table, after both aggregations") {
    val p = formatted("q163_vocab_growth")
    // the token stream aggregates twice (first-doc, per-bucket counts)
    // before any window touches a row
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "both passes must map-side combine over the exploded stream")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q164: the audit slice broadcasts against the corpus; votes aggregate keyed") {
    val p = formatted("q164_label_agreement")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 32-query slice must broadcast for the scored cross join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q165: corpus work ends at the Gram; iterations join the 64-row iterate broadcast") {
    val p = formatted("q165_top_principal_component")
    assert(p.contains("partial_sum"),
      "the Gram pass must map-side combine the d² expansion")
    assert(p.contains("BroadcastExchange"), "the quantized iterate must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q166: the audit-slice postings broadcast into the token-keyed join — never doc×doc") {
    val p = formatted("q166_sparse_cosine_knn")
    assert(p.contains("BroadcastExchange"), "the 32-doc slice postings must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q167: one exploded-scan partial agg; both takes are bounded TakeOrdered") {
    val p = formatted("q167_token_drift")
    assert(p.contains("partial_sum"), "half counts must map-side combine")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort the vocabulary")
    assert(!p.contains("CartesianProduct"))
  }

  test("q168: first-bucket joins token-keyed off the shared positional relation") {
    val p = formatted("q168_novelty_curve")
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "first-bucket and per-bucket counts must map-side combine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q169: both first-event passes push their event_type filter into the scan") {
    val p = formatted("q169_conversion_lag")
    assert(p.contains("EqualTo(event_type,signup)") && p.contains("EqualTo(event_type,purchase)"),
      "stage filters must reach PushedFilters")
    assert(p.contains("partial_min"), "first-event mins must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q171: both aggregations map-side combine; nothing joins") {
    val p = formatted("q171_k_anonymity")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "QI group count and the per-type rollup must both partial-aggregate")
    assert(!p.contains("Join"), "the audit is two aggregations, no join anywhere")
  }

  test("q173: brand dim broadcasts; the pair join keys on the basket id — never basket×basket") {
    val p = formatted("q173_brand_affinity")
    assert(p.contains("BroadcastExchange"),
      "part dim and the 25-row marginals must broadcast")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row basket total must broadcast")
    assert(!p.contains("CartesianProduct"),
      "a cross product means the self-join lost its basket-id key")
  }

  test("q174: per-key counts partial-aggregate; the only window runs over the value table") {
    val p = formatted("q174_gini_concentration")
    assert(p.contains("partial_count"),
      "the per-key count must map-side combine before the key shuffle")
    assert(p.contains("Window"), "the closed-form rank sum needs the value-table window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q175: daily counts partial-aggregate; totals and peaks ride broadcasts") {
    val p = formatted("q175_cusum_changepoint")
    assert(p.contains("partial_count"),
      "the daily count must map-side combine before the (type,day) shuffle")
    assert(p.contains("BroadcastExchange"),
      "the 5-row per-type totals and maxima must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q176: the 5-row trim bounds broadcast into the flagging scan") {
    val p = formatted("q176_trimmed_mean")
    assert(p.contains("BroadcastExchange"), "the stats side must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "trimming is two scans, never a per-group sort")
  }

  test("q177: one conditional-aggregation pass; nothing joins") {
    val p = formatted("q177_ab_welch")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "the per-arm moments must map-side combine in one pass")
    assert(!p.contains("Join"), "the A/B report is one aggregate, no join anywhere")
  }

  test("q178: the 5-row median/MAD bounds broadcast into each pass") {
    val p = formatted("q178_mad_outliers")
    assert(p.contains("BroadcastExchange"), "median and MAD sides must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "robust stats are scans + broadcasts, never a per-group sort")
  }

  test("q180: the sketch path partial-aggregates; its window runs over the bucket table") {
    val p = formatted("q180_histogram_quantile")
    assert(p.contains("partial_count"),
      "the (type,bucket) histogram must map-side combine")
    assert(p.contains("Window") && p.contains("BroadcastExchange"),
      "cum runs over the bounded bucket table; the 5-row sketch broadcasts")
    assert(!p.contains("CartesianProduct"))
  }

  test("q181: the day anchor rides a 1-row broadcast; the score is one partial-agg'd sum") {
    val p = formatted("q181_decay_engagement")
    assert(p.contains("partial_sum"), "per-user shift-weighted sums must map-side combine")
    assert(p.contains("BroadcastNestedLoopJoin"), "the max-day anchor must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q182: base and delta merge with one keyed full-outer join") {
    val p = formatted("q182_ivm_retractions")
    assert(p.contains("partial_sum"), "signed component sums must map-side combine")
    assert(p.contains("FullOuter"), "the merge must be the keyed full_outer, not a union rescan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q183: attribution is one user-keyed window — never a purchase×touch join") {
    val p = formatted("q183_lasttouch_attribution")
    assert(p.contains("Window"), "the carried last-touch needs the per-user window")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row total must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q184: both norm layers partial-aggregate; nothing joins") {
    val p = formatted("q184_embedding_health")
    assert(p.contains("partial_sum"),
      "per-vector squares and the label report must map-side combine")
    assert(!p.contains("Join"), "the audit is two aggregations, no join anywhere")
  }

  test("q185: the RANGE window runs over the daily grain, after the partial-agg collapse") {
    val p = formatted("q185_rolling_features")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "the (user,day) collapse must map-side combine before any window")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "rolling features are one collapse + one window, no join")
  }

  test("q186: the purge cascades through keyed semi-joins — never customer×lineitem") {
    val p = formatted("q186_erasure_audit")
    assert(p.contains("LeftSemi"), "orders and lineitem must purge via semi-joins")
    assert(p.contains("BroadcastNestedLoopJoin"), "the 1-row counts must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q187: sessions stay user-keyed; the report joins nothing") {
    val p = formatted("q187_session_stats")
    assert(!p.contains("Join"), "session stats are two aggregations, no join anywhere")
    assert(!p.contains("CartesianProduct"))
  }

  test("q188: corpus work ends at the centroid pass; pairs run dim-keyed on the quantized table") {
    val p = formatted("q188_centroid_similarity")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "the centroid pass must map-side combine the posexplode stream")
    assert(p.contains("BroadcastExchange"), "the 10-row norms must broadcast")
    assert(!p.contains("CartesianProduct"),
      "a cross product means the pair stage lost its dim key")
  }

  test("q189: cohort counts partial-aggregate; the Wilson dag adds no extra pass") {
    val p = formatted("q189_wilson_ci")
    assert(p.contains("partial_min"), "first-event mins must map-side combine")
    assert(p.contains("EqualTo(event_type,signup)"),
      "the stage filter must reach PushedFilters")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q190: one keyed big-big join, then one partial-agg'd month rollup") {
    val p = formatted("q190_shiplag_sla")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "the SLA report is join + aggregate, never a sort")
  }

  test("q191: daily collapse partial-aggregates; baselines and maxima ride 7-row broadcasts") {
    val p = formatted("q191_seasonal_baseline")
    assert(p.contains("partial_count"), "the daily count must map-side combine")
    assert(p.contains("BroadcastExchange"), "dow baselines and maxima must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q192: the pair stage keys on the customer; top-3 ranks per part, never globally") {
    val p = formatted("q192_item_similarity")
    assert(!p.contains("CartesianProduct"),
      "a cross product means the self-join lost its customer key")
    assert(p.contains("Window"), "the top-3 needs the per-part rank window")
    assert(p.contains("partial_count"), "incidence and pair counts must map-side combine")
    // r12 (VERDICT r11 item 3): the pair expansion must run over the
    // BasketCap'd incidence — the MinKLong aggregator's partial-agg
    // (minklong / partial_minklong in the formatted plan) is the
    // structural bound that caps any power customer at C(64,2) pairs
    assert(p.contains("partial_minklong") || p.contains("MinKLong"),
      "the per-customer incidence cap (MinKLong) must bound the self-join")
  }

  test("q193: the phrase dim broadcasts; adjacency stays a keyed equi-join") {
    val p = formatted("q193_phrase_search")
    assert(p.contains("BroadcastExchange"), "the 3-row phrase dim must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a positional adjacency that loses its (doc, pos) key scans posting² pairs")
    assert(p.contains("partial_count"), "per-doc occurrence counts must map-side combine")
  }

  test("q194: reconciliation is one keyed full-outer join, no sort, no product") {
    val p = formatted("q194_snapshot_diff")
    assert(p.contains("FullOuter"), "the diff must ride a single full-outer join on the pk")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    assert(p.contains("partial_count"), "the per-class report must map-side combine")
  }

  test("q195: corpus work ends at the unigram pass; the window runs on the vocab table") {
    val p = formatted("q195_vocab_coverage")
    assert(p.contains("partial_count"), "unigram counts must map-side combine")
    assert(p.contains("BroadcastExchange"), "the 1-row total must broadcast")
    assert(!p.contains("CartesianProduct"),
      "the total must ride the 1-row broadcast loop join (q115 idiom), never a cartesian")
  }

  test("q197: each layout's zone maps are one partial-agg'd pass over the shared cache") {
    val p = formatted("q197_zonemap_skiprate")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      "zone min/max must map-side combine")
    assert(p.contains("InMemoryTableScan"),
      "both layouts must read the single cached projection, not rescan the parquet")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q199: one pass builds the RFM table; quintile cuts broadcast back, no ntile sort") {
    val p = formatted("q199_rfm_segments")
    assert(p.contains("partial_count"), "per-customer metrics must map-side combine")
    assert(p.contains("BroadcastExchange"), "the 1-row cuts must broadcast")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "quintiles must be map-side comparisons against the cuts, never a global rank")
  }

  test("q198: eval joins stay keyed semi/anti; counts ride 1-row broadcasts") {
    val p = formatted("q198_recommender_eval")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "novel-test filtering must be anti/semi joins, never a scan product")
    assert(p.contains("BroadcastExchange"), "the count rows must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q200: sessions stay user-keyed; the top-10 is a TakeOrdered, never a global sort") {
    val p = formatted("q200_session_paths")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-10 path cut must not globally sort the path table")
    assert(!p.contains("CartesianProduct"))
  }

  test("q201: one value-count pass per column over the shared cache; totals broadcast") {
    val p = formatted("q201_entropy_profile")
    assert(p.contains("partial_count"), "value counts must map-side combine")
    assert(p.contains("InMemoryTableScan"),
      "all three columns must read the single cached projection")
    assert(p.contains("BroadcastExchange"), "the 1-row totals must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q202: the agreement cross-tab is one doc-keyed join of the two signal chains") {
    val p = formatted("q202_signal_agreement")
    assert(p.contains("partial_count"), "signal aggregations must map-side combine")
    assert(p.contains("BroadcastExchange"), "tier cuts and totals must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("q203: the slop join stays doc-keyed; the phrase dim broadcasts") {
    val p = formatted("q203_proximity_search")
    assert(p.contains("BroadcastExchange"), "the 3-row pair dim must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a slop test that loses its doc key scans posting² pairs")
    assert(p.contains("partial_count"), "per-doc occurrence counts must map-side combine")
  }

  test("q204: each key's estimate is one partial-agg'd count pass, no joins at all") {
    val p = formatted("q204_joinsize_estimate")
    assert(p.contains("partial_count"), "key counts must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      "the whole point: the join size comes from count tables, not from running the join")
  }

  test("q206: the weighted sample is one map pass + TakeOrdered, no sort, no shuffle agg") {
    val p = formatted("q206_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-64 must not globally sort the corpus")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("q210: bigram model tables equi-join on their own keys; V broadcasts") {
    val p = formatted("q210_bigram_perplexity")
    assert(p.contains("BroadcastExchange"), "the 1-row V total must broadcast")
    assert(p.contains("partial_count"), "bigram/context counts must map-side combine")
    // the only nested-loop is the 1-row V broadcast cross (the
    // q115/q161 idiom); a true cartesian would be a lost join key
    assert(!p.contains("CartesianProduct"))
  }

  test("q211: scales and the audit slice broadcast into the corpus scan") {
    val p = formatted("q211_int8_quant_recall")
    assert(p.contains("BroadcastExchange"),
      "the 64-element scales array and the 32-vector slice must broadcast")
    // the slice×corpus scoring rides broadcast NLJs; the remaining
    // SortMergeJoin is the 160-row exact∩approx eval join (AQE shrinks
    // it at runtime) — only a true cartesian is a defect
    assert(!p.contains("CartesianProduct"))
  }

  test("q215: both ranking arms ride broadcasts; the grade join is keyed") {
    val p = formatted("q215_retrieval_ndcg")
    assert(p.contains("BroadcastExchange"),
      "the 32-query slice and the probed cells must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q216: the curve reads the shared pairs truth; the threshold dim broadcasts") {
    val p = formatted("q216_threshold_curve")
    assert(p.contains("InMemoryTableScan"),
      "pairs must come from the session-shared verified_pairs relation")
    assert(!p.contains("CartesianProduct"))
  }

  test("q214: source overlap is one hash-keyed equi-join; marginals broadcast") {
    val p = formatted("q214_source_overlap")
    assert(p.contains("BroadcastExchange"), "the per-source totals must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a cross product means the pair join lost its shingle-hash key")
    assert(p.contains("partial_count"), "postings counts must map-side combine")
  }

  test("q217: decile cuts broadcast onto a map-only bin assignment") {
    val p = formatted("q217_score_calibration")
    assert(p.contains("BroadcastExchange"),
      "the 1-row cuts and the good-label join must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q218: the head selection is a bounded TakeOrdered heap, never a vocabulary sort") {
    val p = formatted("q218_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      "top-1000 must run as a per-partition heap")
    assert(!p.contains("CartesianProduct"))
  }

  test("q219: fertility is explode -> map -> one partial-agg'd shuffle (no join, no window)") {
    val p = formatted("q219_subword_fertility")
    assert(p.contains("partial_count"), "stratum counts must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window") &&
      !p.contains("CartesianProduct"))
  }

  test("q220: the signal join is doc-keyed; the 2x2 collapses map-side") {
    val p = formatted("q220_cohens_kappa")
    assert(p.contains("partial_sum"), "cell counts must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q221: the curriculum window is per shard, after a map-only phase/key pass") {
    val p = formatted("q221_curriculum_plan")
    assert(p.contains("Window"), "per-shard position needs the window")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q223: both tiny models broadcast onto the test pairs; counts map-side combine") {
    val p = formatted("q223_markov_eval")
    assert(p.contains("BroadcastExchange"),
      "the |types|-row model and 1-row baseline must broadcast")
    assert(p.contains("partial_count"), "transition counts must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q224: the fusion layer adds no scan - rankings union and aggregate keyed") {
    val p = formatted("q224_rrf_fusion")
    assert(p.contains("partial_sum"), "rrf contributions must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q226: line dedup is hash-keyed — map-side combined counts, no cross product") {
    val p = formatted("q226_line_dedup")
    assert(p.contains("partial_count"), "the per-hash doc counts must map-side combine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the boilerplate drop must stay a hash-keyed anti-join")
  }

  test("q227: normalization is a pure scalar map + one doc-keyed agg — native NFC, no join") {
    val p = formatted("q227_unicode_normalize")
    assert(p.contains("graft_nfc"),
      "the native NFC expression must appear in the plan (not a UDF)")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"), "no join belongs in a per-doc pass")
  }

  test("q229: HLL registers partial-aggregate — <= 64 rows per map task reach the shuffle") {
    val p = formatted("q229_hll_distinct")
    assert(p.contains("partial_max"),
      "the per-register rho max must map-side combine (the whole point of HLL)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q232: the 256-cell sketch broadcasts; the probe ends in a bounded TakeOrdered") {
    val p = formatted("q232_countmin_freq")
    assert(p.contains("BroadcastExchange"), "the sketch must broadcast to the probe")
    assert(p.contains("partial_sum"), "cell sums must map-side combine")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must stay a bounded heap")
  }

  test("q233: the cohort tables broadcast onto the row-level pass — no sort-merge") {
    val p = formatted("q233_ips_policy_eval")
    assert(p.contains("BroadcastExchange"), "10-row cohort aggregates must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q235: group tables map-side combine; the EMD window is per QI group") {
    val p = formatted("q235_t_closeness")
    assert(p.contains("partial_count"), "the QI group counts must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q236: AUC is one keyed agg + a domain-bounded window — no join anywhere") {
    val p = formatted("q236_auc_ranking")
    assert(p.contains("partial_sum"), "score-group counts must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"), "no join belongs in a rank statistic")
  }

  test("q231: the unrolled greedy stays flat — 5 materialized picks, no lineage blowup") {
    // each step's pick is localCheckpoint-materialized, so the FINAL
    // plan must be a plain 5-leaf union (a naive unroll re-expands the
    // previous selection into every later step — ~3^k subplans)
    // structural leaf count, not a formatted-string match — FormattedMode's
    // node rendering is a Spark-version detail (r15, ADVICE r14)
    val qe = Caches.scoped(SparkEntry.queries("q231_mmr_rerank")(spark, sf0001)
      .queryExecution)
    def realLeaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        realLeaves(a.executedPlan)
      case l if l.children.isEmpty => Seq(l)
      case n => n.children.flatMap(realLeaves)
    }
    val leaves = realLeaves(qe.executedPlan)
    assert(leaves.size === 5,
      s"expected exactly the 5 checkpointed picks as leaves, got ${leaves.map(_.nodeName)}")
    assert(leaves.forall(_.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec]),
      "every leaf must be a materialized checkpoint, not a re-expanded subplan")
    val p = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "all join work must happen inside the materialized steps")
  }

  test("q237/q238: register tables partial-aggregate; the day dim broadcasts onto the range join") {
    val p237 = formatted("q237_hll_merge")
    assert(p237.contains("partial_max"), "per-type registers must map-side combine")
    assert(!p237.contains("CartesianProduct"))
    val p238 = formatted("q238_hll_rolling_distinct")
    assert(p238.contains("partial_max"), "daily registers must map-side combine")
    assert(p238.contains("BroadcastNestedLoopJoin"),
      "the 30-row day dim must broadcast for the trailing-window range join")
  }

  test("q239: the bit set broadcasts to the probe side — membership is a semi-join") {
    val p = formatted("q239_bloom_fpr")
    assert(p.contains("BroadcastExchange"), "the <=3n-row bit set must broadcast")
    assert(p.contains("LeftSemi"), "the 3-hash probe must stay a semi-join")
  }

  test("q240: both percentile sides are keyed partial aggs + per-type windows") {
    val p = formatted("q240_loglinear_percentiles")
    assert(p.contains("partial_count"), "bucket counts must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q242: three register tables, all partial-max — no corpus-sized join anywhere") {
    val p = formatted("q242_hll_intersection")
    assert(p.contains("partial_max"), "side registers must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the combine layer runs on broadcast 1-row estimates")
  }

  test("q243: the exact second pass is a broadcast semi-join over the streamed candidates") {
    val p = formatted("q243_heavy_hitters_stream")
    assert(p.contains("LeftSemi") && p.contains("BroadcastExchange"),
      "candidates must broadcast; the corpus is filtered, never joined wide")
  }

  test("q244: one corpus pass of partial sums; the advisor grid is broadcast-sized") {
    val p = formatted("q244_partition_advisor")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "the five selectivities must map-side combine in one pass")
    assert(!p.contains("SortMergeJoin"),
      "the 15-row candidate×predicate grid must never shuffle-join")
  }

  test("q245: the packing fold is one keyed shuffle — sequential per shard, no join anywhere") {
    val p = formatted("q245_sequence_packing")
    assert(p.contains("FlatMapGroupsInPandas") === false)
    assert(p.contains("MapGroups"),
      "the greedy walk must run as the keyed flatMapSortedGroups fold")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      "packing is a fold plus windows — no join belongs in the plan")
  }

  test("q248: split packing is closed-form — window + explode, no fold, no join") {
    val p = formatted("q248_packing_split")
    assert(!p.contains("MapGroups"),
      "the split policy must NOT pay the sequential fold — it is a prefix sum")
    assert(p.contains("Generate"), "the context range must explode in-plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("q249: the planner is two keyed aggregates over the packing builders — one join, no cartesian") {
    val p = formatted("q249_packing_policy")
    assert(p.contains("MapGroups"), "the greedy side runs the real q245 fold")
    assert(!p.contains("CartesianProduct"))
  }

  test("q253: repetition rules are per-doc — partial-agg'd counts, no cartesian, no fold") {
    val p = formatted("q253_repetition_rules")
    assert(p.contains("partial_count"),
      "the (doc, bigram)/(doc, chunk) counts must map-side combine — " +
        "shipping raw exploded tokens to the reducer is the scale bug")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("MapGroups"), "windows + aggs only; no sequential fold")
  }

  test("q254: overlap chunking is closed-form — explode + window, no fold, no join") {
    val p = formatted("q254_overlap_chunks")
    assert(p.contains("Generate"), "the chunk range must explode in-plan")
    assert(!p.contains("MapGroups"),
      "chunk geometry is arithmetic on (n, ci) — a fold here is a regression")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("q141: the bloom probe screens the fact side inside the plan") {
    Caches.scoped {
      val qe = SparkEntry.queries("q141_bloom_pruned_join")(spark, sf0001)
        .queryExecution
      assert(countBloomProbes(qe.executedPlan) >= 1,
        "might_contain must survive into the executed plan (the pre-shuffle screen)")
      val p = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("CartesianProduct"))
    }
  }
}
