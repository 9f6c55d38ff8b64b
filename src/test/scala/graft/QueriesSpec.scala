package graft

import org.apache.spark.sql.functions._

/** Contract + semantics checks across the whole declared query surface. */
class QueriesSpec extends SparkSpec {
  import spark.implicits._

  test("every oracle key has a query; names are aligned") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q38: Spark's HLL++ estimate sits inside the published 3·rsd envelope") {
    // q38's gated output is (n_users_exact, within_3rsd) since r17 —
    // fully oracle-replayable (VERDICT r16 item 6). The RAW estimate and
    // err_ppm live here instead: recomputed beside the gated row, pinning
    // the LIBRARY implementation to its published accuracy (rsd = 0.05
    // default → 3σ = 150 000 ppm) at the gate fixture's cardinality.
    Caches.scoped {
      val r = SparkEntry.queries("q38_approx_distinct")(spark, sf0001).collect()
      assert(r.length === 1)
      val row = r.head
      val est = Tables.events(spark, sf0001)
        .agg(approx_count_distinct("user_id").as("approx"),
          countDistinct("user_id").as("exact"))
        .collect().head
      val errPpm = math.abs(est.getAs[Long]("approx") - est.getAs[Long]("exact")) *
        1000000L / est.getAs[Long]("exact")
      assert(errPpm <= 150000L, s"HLL++ err_ppm=$errPpm exceeds 150000")
      assert(row.getAs[Boolean]("within_3rsd"),
        "gated within_3rsd disagrees with the recomputed bound")
      assert(row.getAs[Long]("n_users_exact") === est.getAs[Long]("exact"))
    }
  }

  test("every query matches its committed golden hash at sf0.001") {
    val props = new java.util.Properties()
    val f = new java.io.File("src/test/resources/goldens.properties")
    assert(f.exists(), "goldens missing — run: sbt \"runMain graft.GoldenGen\"")
    props.load(new java.io.FileReader(f))
    for ((name, fn) <- SparkEntry.select(Nil)) {
      val golden = props.getProperty(name)
      assert(golden != null, s"$name has no golden — regenerate with GoldenGen")
      assert(GoldenHash.golden(spark, sf0001, fn) === golden, name)
    }
  }

  test("q136: no verified near-dup pair straddles the split — leakage-safe by construction") {
    Caches.scoped {
      val split = SparkEntry.queries("q136_leakage_safe_split")(spark, sf0001)
        .select(col("doc_id"), col("split"))
      val pairs = SparkEntry.queries("q31_ngram_jaccard")(spark, sf0001)
        .select("doc_a", "doc_b")
      assert(pairs.count() > 0, "fixture sanity: verified near-dup pairs exist at sf0.001")
      val a = split.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "s_a")
      val b = split.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "s_b")
      val straddling = pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(col("s_a") =!= col("s_b"))
      assert(straddling.isEmpty,
        "a near-dup pair split across train/test is exactly the leakage q136 exists to prevent")
      // contrast: the doc-keyed q120 cut has no such guarantee — the
      // cluster keying is load-bearing, not incidental
    }
  }

  test("keyframe sampling: count = ceil(n/30) and frame 0 selected") {
    val total = Tables.events(spark, sf0001).count()
    val sampled = SparkEntry.queries("q02_keyframe_sample")(spark, sf0001)
    assert(sampled.count() === (total + 29) / 30)
    assert(sampled.select(min("event_id")).as[Long].head() === 0L)
  }

  test("exact dedup keeps the minimum doc_id per text group") {
    val docs = Seq((5L, "aa bb"), (2L, "aa bb"), (9L, "cc dd"), (7L, "aa bb"))
      .toDF("doc_id", "text").createOrReplaceTempView("dup_docs")
    val got = spark.table("dup_docs")
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(2L, 9L))
  }

  test("union reassembly is lossless: q24 row count equals events count") {
    val n = Tables.events(spark, sf0001).count()
    assert(SparkEntry.queries("q24_union_reassembly")(spark, sf0001).count() === n)
  }

  test("streaming tumbling equals its batch twin (q25 == q14)") {
    val batch = SparkEntry.queries("q14_tumbling_window")(spark, sf0001).collect().toSeq
    val stream = SparkEntry.queries("q25_streaming_tumbling")(spark, sf0001).collect().toSeq
    assert(stream === batch)
  }

  test("stratified sample respects per-stratum rates: zero-rate stratum absent, subset of source") {
    val sampled = SparkEntry.queries("q66_stratified_sample")(spark, sf0001)
    val byType = sampled.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(!byType.contains("error"), "rate-0 stratum must be dropped entirely")
    // purchase keeps 90%, click 5% — the sampled ordering must reflect it
    assert(byType("purchase") > byType("click"))
    val total = Tables.events(spark, sf0001).count()
    assert(sampled.count() < total)
  }

  test("repetition quality: ratios live in [0,1] and cover every document") {
    val rows = SparkEntry.queries("q67_repetition_quality")(spark, sf0001)
      .select("dup_token_ratio", "top_2gram_frac").as[(Double, Double)].collect()
    assert(rows.length === Tables.documents(spark, sf0001).count())
    rows.foreach { case (dup, top) =>
      assert(dup >= 0.0 && dup <= 1.0); assert(top > 0.0 && top <= 1.0)
    }
  }

  test("balanced sample keeps at most 20 docs per language, ranked 1..n") {
    val perLang = SparkEntry.queries("q68_balanced_sample")(spark, sf0001)
      .groupBy("lang").agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .select("n", "mx").as[(Long, Long)].collect()
    assert(perLang.nonEmpty)
    perLang.foreach { case (n, mx) => assert(n <= 20 && mx === n) }
  }

  test("token chunks: stride-80 boundaries, width<=100, last chunk covers the tail") {
    val chunks = SparkEntry.queries("q69_token_chunks")(spark, sf0001)
    val perDoc = chunks.groupBy("doc_id")
      .agg(max("chunk_id").as("mx"), count(lit(1)).as("n"), max("n_chunk_tokens").as("w"))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
    val joined = perDoc.join(docs, "doc_id")
      .select("mx", "n", "w", "nt").as[(Long, Long, Long, Long)].collect()
    joined.foreach { case (mx, n, w, nt) =>
      assert(w <= 100)
      assert(mx === (nt - 1) / 80, s"chunk count must tile the token stream (nt=$nt)")
      assert(n === mx + 1, "chunk_ids must be dense")
    }
  }

  test("multimodal frame sampling: every 2nd frame, counts derived from payload") {
    val frames = SparkEntry.queries("q35_multimodal_frames")(spark, sf0001)
    val perDoc = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("kept"), max("n_bytes").as("nb"))
      .select("kept", "nb").as[(Long, Long)].collect()
    for ((kept, nb) <- perDoc) {
      val nFrames = nb % 16 + 1
      assert(kept === (nFrames + 1) / 2, s"n_bytes=$nb")
    }
  }

  test("latest-row compaction: one row per key, provably the max-(ts, event_id) version") {
    val e = Tables.events(spark, sf0001)
    val got = SparkEntry.queries("q80_latest_compaction")(spark, sf0001)
    assert(got.count() === e.select("user_id").distinct().count())
    // independent witness via a different aggregate: max over the
    // ordering struct itself (struct ordering = (ts, event_id) lexicographic)
    val expect = e.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("e_id"), col("m.ts").as("e_ts"))
    val bad = got.join(expect, Seq("user_id"))
      .filter(col("last_event_id") =!= col("e_id") || col("last_ts") =!= col("e_ts"))
    assert(bad.count() === 0, "compacted row must be the unique latest version")
  }

  test("funnel stages: stage matches timestamp nullity and order is strict") {
    val got = SparkEntry.queries("q81_funnel_stages")(spark, sf0001)
    assert(got.count() ===
      Tables.events(spark, sf0001).select("user_id").distinct().count())
    // <=> true treats a null comparison as a violation instead of
    // silently dropping the row from the filter
    def holds(c: org.apache.spark.sql.Column) = c <=> lit(true)
    val viol = got.filter(
      (col("stage") === 3 && !holds(col("t_view_us") < col("t_click_us") &&
        col("t_click_us") < col("t_purchase_us"))) ||
      (col("stage") === 2 && !holds(col("t_purchase_us").isNull &&
        col("t_view_us") < col("t_click_us"))) ||
      (col("stage") === 1 && !holds(col("t_view_us").isNotNull &&
        col("t_click_us").isNull && col("t_purchase_us").isNull)) ||
      (col("stage") === 0 && !holds(col("t_view_us").isNull &&
        col("t_click_us").isNull && col("t_purchase_us").isNull)))
    assert(viol.count() === 0, "every stage must satisfy its ordering contract")
    // the 12 h conversion window actually differentiates on this fixture
    // (every user has a view, so stage 0 is legitimately absent)
    val stages = got.select("stage").distinct().as[Long].collect().toSet
    assert(Set(1L, 2L, 3L).subsetOf(stages), s"expected stages 1..3, got $stages")
  }
}
