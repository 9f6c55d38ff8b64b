package graft

/** Dumps formatted physical plans for representative queries so plan
  * regressions (lost pushdown, surprise shuffles, broadcast->SMJ flips)
  * are visible in review. Run: sbt "runMain graft.ExplainAudit". */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local(4)
    val interesting =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq(
        "q02_keyframe_sample", "q04_detection_filter", "q05_class_lookup_join",
        "q14_tumbling_window", "q16_topk_confidence", "q22_segment_range_join",
        // q24: the four segment branches must read InMemoryTableScan over
        // ONE persisted dense-id relation (a second rangepartitioning
        // exchange per branch = the round-2 4x regression resurfacing)
        "q24_union_reassembly",
        "q30_minhash_banding", "q32_embedding_knn",
        "q50_revenue_by_nation", "q56_seeded_segments", "q57_embedding_neardup_srp",
        // round-5 scale-architecture additions: native as-of exec node
        // (q44 runs the same query, so q70 stands for both),
        // double-bloom anti-join, shuffle-free bucketed SMJ, max_by
        // compaction (no Window), partition-pruned scan (PartitionFilters),
        // runtime DPP subquery
        "q70_asof_native", "q72_bloom_incremental_dedup",
        "q73_bucketed_colocated_join", "q80_latest_compaction",
        "q82_partition_pruned_scan", "q84_dpp_star_join",
        // round-10 additions: bounded MinKLong partial agg, pushed
        // z-interval screen, broadcast ADC LUT join, MG semi-join,
        // bucket-screened interval join, PIT range join
        "q103_domain_cap", "q105_zorder_scan", "q108_ivfpq_adc",
        "q107_heavy_hitters", "q117_interval_join", "q119_pit_enrichment",
        // round-11 additions: postings-screened BM25 + candidate-bounded
        // hybrid rerank, broadcast-stats anomaly flag, full-outer CDC
        // merge, one-Expand grouping sets
        "q126_bm25", "q128_hybrid_retrieval", "q129_anomaly",
        "q130_cdc_merge", "q131_grouping_sets",
        // late round-11 additions: positional index probe (phrase +
        // slop), pk-keyed full-outer reconciliation, semi/anti eval
        // joins, broadcast percentile cuts, zone-map layout eval
        "q193_phrase_search", "q194_snapshot_diff", "q197_zonemap_skiprate",
        "q198_recommender_eval", "q199_rfm_segments", "q203_proximity_search",
        // round-12 additions: MinKLong-capped CF expansion (q192/q198
        // share the chain — q198 above now shows the cap), bigram model
        // joins + broadcast V, int8 broadcast scales/slice, hash-keyed
        // source-overlap join
        "q210_bigram_perplexity", "q211_int8_quant_recall",
        "q214_source_overlap",
        // round-13 additions: broadcast decile cuts, bounded Zipf head
        // heap, join-free fertility agg, broadcast Markov model + eval,
        // per-shard curriculum window, integer RRF fusion
        "q217_score_calibration", "q218_zipf_slope",
        "q219_subword_fertility", "q220_cohens_kappa",
        "q221_curriculum_plan", "q223_markov_eval", "q224_rrf_fusion",
        // round-14 additions: partial-max HLL registers, broadcast CMS
        // sketch + bounded top-20 heap, broadcast cohort propensities,
        // per-QI-group EMD window, join-free rank statistic, flat
        // 5-leaf checkpointed MMR unroll
        "q229_hll_distinct", "q232_countmin_freq", "q233_ips_policy_eval",
        "q235_t_closeness", "q236_auc_ranking", "q231_mmr_rerank",
        "q237_hll_merge", "q238_hll_rolling_distinct", "q239_bloom_fpr",
        "q240_loglinear_percentiles",
        "q242_hll_intersection", "q243_heavy_hitters_stream",
        "q244_partition_advisor")
    for (name <- interesting) {
      println(s"\n========== $name ==========")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      // some query constructors are eager (BloomDedup runs its filter
      // builds and registers a scoped persist at construction time) —
      // release per query so one dump can't pin another's build side
      Caches.releaseScoped()
    }
    spark.stop()
  }
}
