package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

/** Oracle-independent brute forces for the round-13 additions: the
  * calibration curve (q217), Zipf slope (q218), subword fertility
  * (q219), Cohen's kappa (q220), curriculum plan (q221), left-outer
  * stream-stream join (q222), the Markov next-event held-out eval
  * (q223), and reciprocal-rank fusion (q224) — plain Scala over
  * collected rows so the DuckDB gate and
  * these specs fail independently, plus a planted power-law corpus that
  * proves the Zipf instrument reads ≈ −1 when the law actually holds
  * (the fixture corpus is honestly non-Zipfian: slope ≈ −0.12).
  */
class Round13EvalSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  private def bits(v: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(v)

  /** The q218 OLS over plain-Scala (rank, freq) bit pairs. */
  private def zipfFit(freqs: Seq[Long]): (Long, Double, Double) = {
    val xy = freqs.sorted(Ordering[Long].reverse).take(1000).zipWithIndex
      .map { case (f, i) => (bits(i + 1L), bits(f)) }
    val n = xy.size.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)).toDouble /
      ((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
    (n, slope, r2)
  }

  test("q218 equals the plain-Scala OLS twin on the fixture (and honestly fails the soup)") {
    val got = run("q218_zipf_slope")
      .selectExpr("n", "zipf_slope", "r2").as[(Long, Double, Double)].head()
    val freqs = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().map(_._2).toSeq
    assert(got === zipfFit(freqs))
    // the verdict on the synthetic corpus: non-Zipfian, weak fit
    assert(got._2 > -0.5 && got._3 < 0.2, s"soup should fail Zipf: $got")
  }

  test("q218's instrument reads ~ -1 on a PLANTED power law") {
    // token w_r appears floor(512/r) times, r = 1..32 — freq ∝ 1/rank,
    // the law itself; one doc carries the whole corpus (tokenization is
    // per-token, doc boundaries are irrelevant to the frequency table)
    val text = (1 to 32).flatMap(r => Seq.fill(512 / r)(f"w$r%02d")).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-q218-")
    graft.TempDirs.cleanupOnExit(tmp)
    val dir = tmp.toString
    Seq((0L, text, "en", "web", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q218_zipf_slope")(spark, dir)
      .selectExpr("zipf_slope", "r2").as[(Double, Double)].head()
    assert(got._1 > -1.3 && got._1 < -0.7, s"slope off the planted law: $got")
    assert(got._2 > 0.8, s"fit should be strong on the planted law: $got")
  }

  test("q218 answers NULL (not NaN/Inf) on degenerate-variance corpora (ADVICE r13 guard)") {
    def dump(text: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-q218d-")
      graft.TempDirs.cleanupOnExit(tmp)
      val dir = tmp.toString
      Seq((0L, text, "en", "web", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    // single-rank vocabulary: the x-variance denominator is 0 → both NULL
    val single = SparkEntry.queries("q218_zipf_slope")(spark, dump("w w w"))
      .selectExpr("zipf_slope", "r2").collect().head
    assert(single.isNullAt(0) && single.isNullAt(1),
      s"single-rank corpus must NULL both fit stats: $single")
    // two ranks, one shared frequency bit width: y-variance 0 → r2 NULL,
    // slope still defined (and exactly flat)
    val flat = SparkEntry.queries("q218_zipf_slope")(spark, dump("a a a b b b"))
      .selectExpr("zipf_slope", "r2").collect().head
    assert(!flat.isNullAt(0) && flat.getDouble(0) === 0.0, s"flat law: $flat")
    assert(flat.isNullAt(1), s"zero y-variance must NULL r2: $flat")
  }

  test("q219 equals a plain-Scala merge-chain recount per stratum") {
    val merges = Seq(
      "t a" -> "ta", "ta b" -> "tab", "tab l" -> "tabl", "tabl e" -> "table",
      "s c" -> "sc", "sc a" -> "sca", "sca n" -> "scan",
      "r o" -> "ro", "ro w" -> "row", "k e" -> "ke", "ke y" -> "key")
    def pieces(w: String): Long = {
      val spaced = w.map(c => s"$c ").mkString.trim
      merges.foldLeft(spaced) { case (acc, (f, t)) => acc.replace(f, t) }
        .split(" ").length.toLong
    }
    val want = Tables.documents(spark, sf0001)
      .select(col("source"), col("lang"), col("text"))
      .as[(String, String, String)].collect()
      .flatMap { case (s, l, t) => t.split(" ").map(w => ((s, l), pieces(w))) }
      .groupBy(_._1).view.mapValues { ps =>
        val n = ps.length.toLong; val tot = ps.map(_._2).sum
        (n, tot, tot * 1000000L / n)
      }.toMap
    val got = run("q219_subword_fertility")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4, r._5))).toMap
    assert(got === want)
  }

  test("q217's bins partition the corpus and the ppm shares replay") {
    val rows = run("q217_score_calibration")
      .as[(Long, Long, Long, Long)].collect()
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(rows.map(_._2).sum === nDocs)
    rows.foreach { case (bin, n, nGood, ppm) =>
      assert(bin >= 0 && bin <= 9)
      assert(nGood <= n && ppm === nGood * 1000000L / n)
    }
    // deciles of a continuous-ish margin: every bin inhabited
    assert(rows.length === 10, s"expected 10 inhabited bins: ${rows.length}")
  }

  test("q220 kappa replays from the four cells; every cell fires on the fixture") {
    val (nDocs, n11, n10, n01, n00, agreePpm, kappa) =
      run("q220_cohens_kappa")
        .as[(Long, Long, Long, Long, Long, Long, Double)].head()
    assert(Seq(n11, n10, n01, n00).forall(_ > 0), "a 2x2 cell is vacuous")
    assert(nDocs === n11 + n10 + n01 + n00)
    assert(agreePpm === (n11 + n00) * 1000000L / nDocs)
    val chance = (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
    val want = (nDocs * (n11 + n00) - chance).toDouble /
      (nDocs * nDocs - chance).toDouble
    assert(kappa === want)
  }

  test("q221: per-shard positions are contiguous, phases ride the tier order, all docs planned") {
    val rows = run("q221_curriculum_plan")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(rows.length === Tables.documents(spark, sf0001).count())
    val tierPhase = Map("head" -> 0L, "middle" -> 1L, "tail" -> 2L)
    rows.foreach { case (_, tier, phase, _, _) =>
      assert(phase === tierPhase(tier))
    }
    rows.groupBy(_._4).foreach { case (shard, rs) =>
      val byPos = rs.sortBy(_._5)
      assert(byPos.map(_._5).toSeq === (1L to rs.length.toLong),
        s"shard $shard positions not contiguous")
      // curriculum: phase never decreases along the shard's read order
      assert(byPos.map(_._3).toSeq === byPos.map(_._3).sorted.toSeq,
        s"shard $shard not easy-to-hard")
    }
  }

  test("q222 equals the batch left join with nulls restricted to the finalized horizon") {
    val ev = Tables.events(spark, sf0001)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS us")
      .as[(Long, Long, String, Long)].collect()
    val purchases = ev.filter(_._3 == "purchase")
    val errors = ev.filter(_._3 == "error")
    val horizon = 21600000000L
    val wm = math.min(purchases.map(_._4).max, errors.map(_._4).max) -
      3600000000L
    val byUser = errors.groupBy(_._2)
    val pairs = purchases.flatMap { p =>
      byUser.getOrElse(p._2, Array.empty).collect {
        case e if e._4 >= p._4 && e._4 <= p._4 + horizon =>
          (p._2, p._1, Option(e._1), Option(e._4 - p._4))
      }
    }
    val nulls = purchases.collect {
      case p if p._4 + horizon < wm &&
        !byUser.getOrElse(p._2, Array.empty)
          .exists(e => e._4 >= p._4 && e._4 <= p._4 + horizon) =>
        (p._2, p._1, Option.empty[Long], Option.empty[Long])
    }
    val want = (pairs ++ nulls).toSet
    val got = run("q222_stream_stream_left_join")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(got === want)
    assert(nulls.nonEmpty, "the null branch is vacuous on the fixture")
    // the horizon rule is load-bearing: at least one unmatched purchase
    // must sit inside the last 7 h and stay buffered (emit nothing)
    val buffered = purchases.count { p =>
      p._4 + horizon >= wm &&
        !byUser.getOrElse(p._2, Array.empty)
          .exists(e => e._4 >= p._4 && e._4 <= p._4 + horizon)
    }
    assert(buffered > 0, "no purchase exercises the still-open horizon")
  }

  test("q223: model, baseline, and accuracies replay from a plain-Scala fold") {
    val ev = Tables.events(spark, sf0001)
      .selectExpr("user_id", "event_id", "event_type")
      .as[(Long, Long, String)].collect()
    def pairs(train: Boolean) = ev
      .filter(r => (r._1 % 2 == 0) == train)
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val s = rs.sortBy(_._2).map(_._3)
        s.zip(s.tail)
      }
    val counts = pairs(train = true).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val model = counts.keys.map(_._1).toSeq.distinct.map { src =>
      src -> counts.filter(_._1._1 == src).toSeq
        .maxBy { case ((_, dst), n) => (n, dst) }(
          Ordering.Tuple2(Ordering[Long], Ordering[String].reverse))._1._2
    }.toMap
    val baseline = counts.groupBy(_._1._2).view.mapValues(_.values.sum)
      .toSeq.maxBy { case (dst, n) => (n, dst) }(
        Ordering.Tuple2(Ordering[Long], Ordering[String].reverse))._1
    val test = pairs(train = false)
    val want = test.groupBy(_._1).map { case (src, ps) =>
      val n = ps.size.toLong
      val c = ps.count(_._2 == model(src)).toLong
      val b = ps.count(_._2 == baseline).toLong
      (src, model(src), n, c, c * 1000000L / n, baseline, b,
        b * 1000000L / n)
    }.toSet
    val got = run("q223_markov_eval")
      .as[(String, String, Long, Long, Long, String, Long, Long)]
      .collect().toSet
    assert(got === want)
    // the eval is non-trivial: model accuracy differs from baseline
    // somewhere, and no accuracy is 0 or 1e6 across the board
    assert(got.exists(r => r._5 !== r._8), "model ≡ baseline everywhere")
  }

  test("q224: the RRF fusion replays from the two arms' own rankings") {
    val ivf = graft.similarity.Ann.ivfKnnAssigned(
        graft.similarity.IvfIndex.assignments(spark, sf0001),
        Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
          .filter(col("vec_id") < 32),
        graft.similarity.IvfIndex.codebook(spark, sf0001), k = 5, nprobe = 4)
      .selectExpr("query_id", "neighbor_id", "CAST(rank AS LONG) AS rank")
      .as[(Long, Long, Long)].collect()
    val int8 = PipelineQueries.int8RankedTop5(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    val fused = (ivf ++ int8).toSeq
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(r => 1000000L / (60L + r._3)).sum).toSeq
      .map { case ((q, nb), s) => (q, nb, s) }
    val want = fused.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case ((q, nb, s), i) => (q, nb, s, i + 1L) }
    }.toSet
    val got = run("q224_rrf_fusion")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    // fusion is non-trivial: some neighbor is backed by BOTH systems
    assert(got.exists(_._3 > 16393L), "no neighbor fused from both arms")
    graft.Caches.releaseScoped()
  }
}
