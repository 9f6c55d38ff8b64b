package graft.queries

import graft.{Caches, SparkEntry, SparkSpec, Tables}

/** Oracle-independent brute forces for the corpus-planning additions
  * (q161 join-key skew diagnostic, q162 token-budget mixture
  * allocation, q163 vocabulary-growth curve) — plain Scala over
  * collected rows, so the DuckDB gate and these specs fail
  * independently (the AnalyticsExtensionsSpec pattern). */
class CorpusPlanningSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("q161 events.user_id row recomputes from a plain-Scala key profile") {
    val got = run("q161_skew_report")
      .as[(String, Long, Long, Long, Long, Double, Double, Long)]
      .collect().find(_._1 == "events.user_id").get
    Caches.releaseScoped()
    val counts = Tables.events(spark, sf0001).select("user_id").as[Long]
      .collect().groupBy(identity).values.map(_.length.toLong).toSeq.sorted
    val (nKeys, nRows, maxCnt) = (counts.size.toLong, counts.sum, counts.max)
    assert(got._2 === nRows && got._3 === nKeys && got._4 === maxCnt)
    assert(got._5 === maxCnt * 1000000L / nRows)
    assert(got._8 === counts.count(c => c * nKeys > 2 * nRows).toLong)
    // exact interpolated percentiles ordered sanely
    assert(got._6 <= got._7 && got._7 <= maxCnt.toDouble)
  }

  test("q162 allocation recomputes exactly and never exceeds budget or availability") {
    val got = run("q162_mixture_allocation")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    Caches.releaseScoped()
    val n = got.map(r => (r._1, r._2) -> r._3).toMap
    val nTotal = n.values.sum
    val budget = nTotal / 2
    val w = n.view.mapValues(v => math.floor(math.sqrt(v.toDouble) * 1e6).toLong).toMap
    val sw = w.values.sum
    val ideal = w.view.mapValues(wi =>
      math.floor(budget.toDouble * wi.toDouble / sw.toDouble).toLong).toMap
    val a1 = n.keys.map(k => k -> math.min(n(k), ideal(k))).toMap
    val sa = a1.values.sum
    // keys is a Set — force a Seq before mapping to weights, or strata
    // with EQUAL weights collapse and the sum undercounts
    val sw2 = n.keys.toSeq.filter(k => ideal(k) < n(k)).map(w).sum
    val fin = n.keys.map { k =>
      k -> (if (ideal(k) < n(k) && sw2 > 0)
        math.min(n(k), a1(k) + math.floor(
          (budget - sa).toDouble * w(k).toDouble / sw2.toDouble).toLong)
      else a1(k))
    }.toMap
    got.foreach { r =>
      val k = (r._1, r._2)
      assert(r._4 === w(k) && r._5 === a1(k) && r._6 === fin(k))
      assert(r._6 <= r._3, "allocation may never exceed availability")
      assert(r._7 === (if (fin(k) == n(k)) 1L else 0L))
    }
    assert(got.map(_._6).sum <= budget, "waterfilling may never overspend")
    assert(got.exists(_._7 == 1L), "the cap branch must fire on this fixture")
    assert(got.exists(_._7 == 0L))
  }

  test("q165 recovers an axis-aligned spectrum exactly (planted geometry)") {
    // vectors (k, 0, …, 0), k = 1..5: Gram is all-zero except
    // G₀₀ = Σk² = 55 (exact in float), so the iterate must lock to
    // dim 0 with pc_q = 1e6, every other dim 0, and the Rayleigh
    // quotient must equal the eigenvalue EXACTLY: num = floor(55·1e6
    // ·1e6) = 5.5e13, den = 1e12 → λ = 55.0 with no rounding anywhere.
    val tmp = java.nio.file.Files.createTempDirectory("graft-q165-")
    graft.TempDirs.cleanupOnExit(tmp)
    val dir = tmp.toString
    (1 to 5).map { k =>
      val v = Array.fill(64)(0f); v(0) = k.toFloat
      (k.toLong, v, k % 3)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val got = SparkEntry.queries("q165_top_principal_component")(spark, dir)
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(got.head === ((0L, 1000000L, 55.0)))
      assert(got.tail.forall(r => r._2 === 0L && r._3 === 55.0),
        "off-axis dims must quantize to exactly 0")
    } finally Caches.releaseScoped()
  }

  test("q166 top-3 recomputes from a plain-Scala tf-idf fold") {
    val got = run("q166_sparse_cosine_knn")
      .as[(Long, Long, Long, Long)].collect().toSeq
    Caches.releaseScoped()
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val tf = docs.map { case (id, t) =>
      id -> t.split(" ", -1).groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val df = tf.values.toSeq.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val wt = tf.view.mapValues(_.map { case (t, c) => t -> c * (100000L / df(t)) }).toMap
    val n2 = wt.view.mapValues(_.values.map(v => v * v).sum).toMap
    def cosQ(a: Long, b: Long): Long = {
      val num = wt(a).iterator.map { case (t, w) => w * wt(b).getOrElse(t, 0L) }.sum
      math.floor(num.toDouble /
        (math.sqrt(n2(a).toDouble) * math.sqrt(n2(b).toDouble)) * 1e6).toLong
    }
    val want = docs.map(_._1).filter(_ < 32).flatMap { q =>
      docs.map(_._1)
        .filter(o => o != q && wt(q).keys.exists(wt(o).contains))
        .map(o => (o, cosQ(q, o))).sortBy { case (o, c) => (-c, o) }.take(3)
        .zipWithIndex.map { case ((o, c), i) => (q, o, c, (i + 1).toLong) }
    }
    assert(got.toSet === want.toSet)
  }

  test("q167 drift takes recompute from a plain-Scala smoothed-ratio fold") {
    val got = run("q167_token_drift")
      .as[(String, Long, Long, Double, String)].collect().toSeq
    Caches.releaseScoped()
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val pairs = docs.flatMap { case (id, t) => t.split(" ", -1).map(id % 2 -> _) }
    val ca = pairs.filter(_._1 == 0L).groupBy(_._2).view.mapValues(_.length.toLong)
    val cb = pairs.filter(_._1 == 1L).groupBy(_._2).view.mapValues(_.length.toLong)
    val vocab = (ca.keys ++ cb.keys).toSet
    val (ta, tb, v) = (pairs.count(_._1 == 0L).toLong,
      pairs.count(_._1 == 1L).toLong, vocab.size.toLong)
    val scored = vocab.toSeq
      .map { t =>
        val (a, b) = (ca.getOrElse(t, 0L), cb.getOrElse(t, 0L))
        (t, a, b, ((b + 1) * (ta + v)).toDouble / ((a + 1) * (tb + v)).toDouble)
      }
      .filter(r => r._2 + r._3 >= 10)
    val rising = scored.sortBy(r => (-r._4, r._1)).take(10).map(r => (r._1, r._2, r._3, r._4, "rising"))
    val falling = scored.sortBy(r => (r._4, r._1)).take(10).map(r => (r._1, r._2, r._3, r._4, "falling"))
    assert(got.toSet === (rising ++ falling).toSet)
  }

  test("q168 novelty recomputes from a plain-Scala first-bucket fold; both branches live") {
    val got = run("q168_novelty_curve")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    Caches.releaseScoped()
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val pos = docs.flatMap { case (id, t) =>
      val tk = t.split(" ", -1)
      tk.sliding(3).filter(_.length == 3).map(w => id -> w.mkString(" ")).toSeq
    }
    val firstBucket = pos.groupBy(_._2).view.mapValues(_.map(_._1 / 100).min).toMap
    val want = pos.groupBy(_._1 / 100).toSeq.sortBy(_._1).map { case (b, ps) =>
      val rep = ps.count(p => firstBucket(p._2) < b).toLong
      (b, ps.length.toLong, rep, (ps.length - rep) * 1000000L / ps.length)
    }
    assert(got === want)
    assert(got.head._3 === 0L, "bucket 0 can repeat nothing")
    assert(got.tail.exists(_._3 > 0L), "the repeat branch must fire past bucket 0")
  }

  test("q172 drift recomputes from a plain-Scala per-half mean fold") {
    val got = run("q172_centroid_drift")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    Caches.releaseScoped()
    val rows = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect()
    def mq(vs: Seq[Array[Float]], dim: Int): Long = {
      val sx = vs.map(v => BigDecimal(v(dim).toDouble)
        .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum
      math.floor(sx.toDouble / vs.size * 1e6).toLong
    }
    val want = rows.groupBy(_._3.toLong).toSeq.sortBy(_._1).map { case (lbl, g) =>
      val (a, b) = (g.filter(_._1 % 2 == 0).map(_._2).toSeq,
        g.filter(_._1 % 2 == 1).map(_._2).toSeq)
      val shift = (0 until 64).map { d =>
        val diff = mq(a, d) - mq(b, d); diff * diff
      }.sum
      (lbl, a.size.toLong, b.size.toLong, shift)
    }
    assert(got === want)
    assert(got.forall(_._4 > 0L),
      "iid halves still land micro-unit-distinct centroids — the distance is honest, not zero-by-construction")
  }

  test("q163 curve recomputes from a plain-Scala first-occurrence fold") {
    val got = run("q163_vocab_growth")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    Caches.releaseScoped()
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val toks = docs.flatMap { case (id, t) => t.split(" ", -1).map(id -> _) }
    val firstDoc = toks.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val newTypes = firstDoc.values.groupBy(_ / 100).view.mapValues(_.size.toLong).toMap
    val perBucket = toks.groupBy(_._1 / 100).view.mapValues(_.length.toLong).toMap
    val want = perBucket.keys.toSeq.sorted.scanLeft((0L, 0L, 0L, 0L, 0L)) {
      case ((_, _, _, ct, ck), b) =>
        val nt = newTypes.getOrElse(b, 0L)
        (b, perBucket(b), nt, ct + nt, ck + perBucket(b))
    }.drop(1)
    assert(got === want)
    assert(got.last._4 === firstDoc.size.toLong, "cum_types ends at |vocabulary|")
    assert(got.last._5 === toks.length.toLong, "cum_tokens ends at the corpus size")
  }
}
