package graft.queries

import graft.{Caches, SparkEntry, SparkSpec, Tables}

/** Oracle-independent brute forces for the round-11 analytics additions
  * (q138 normal-equations regression, q139 oriented triangle counting,
  * q140 PMI collocations) — plain Scala over collected rows, so the
  * DuckDB gate and these specs fail independently. */
class AnalyticsExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  /** The q115/q139 interaction edges, rebuilt in plain Scala: consecutive
    * events inside each 1000-event bucket, self-loops dropped. */
  private def edges(): Seq[(Long, Long)] = {
    val ev = Tables.events(spark, sf0001)
      .select("event_id", "user_id").as[(Long, Long)].collect()
      .sortBy(_._1)
    ev.groupBy(_._1 / 1000).values.flatMap { b =>
      b.sortBy(_._1).toSeq.sliding(2).collect {
        case Seq((_, u), (_, v)) if u != v => (u, v)
      }
    }.toSeq
  }

  test("q138 betas actually solve the exact normal equations") {
    val got = run("q138_linreg_normal")
      .as[(Long, Double, Double, Double)].collect().head
    val (nRows, b0, b1, b2) = got

    val rows = Tables.events(spark, sf0001)
      .selectExpr("(unix_micros(ts) div 3600000000) % 24 AS x1",
        "user_id % 10 AS x2", "value")
      .as[(Long, Long, Double)].collect()
    assert(nRows === rows.length.toLong)

    // exact co-moments, the same arithmetic the query declares
    def y6(v: Double): BigDecimal =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val n = BigDecimal(rows.length)
    val s1 = BigDecimal(rows.map(_._1).sum)
    val s2 = BigDecimal(rows.map(_._2).sum)
    val s11 = BigDecimal(rows.map(r => r._1 * r._1).sum)
    val s12 = BigDecimal(rows.map(r => r._1 * r._2).sum)
    val s22 = BigDecimal(rows.map(r => r._2 * r._2).sum)
    val sy = rows.map(r => y6(r._3)).sum
    val s1y = rows.map(r => BigDecimal(r._1) * y6(r._3)).sum
    val s2y = rows.map(r => BigDecimal(r._2) * y6(r._3)).sum

    // the solved betas satisfy A·β = b to numerical precision — an
    // independent check that the Cramer formulas are the right ones
    val r0 = n * b0 + s1 * b1 + s2 * b2 - sy
    val r1 = s1 * b0 + s11 * b1 + s12 * b2 - s1y
    val r2 = s2 * b0 + s12 * b1 + s22 * b2 - s2y
    val scale = sy.abs.max(1)
    assert(r0.abs / scale < 1e-9, s"residual0 $r0")
    assert(r1.abs / scale < 1e-9, s"residual1 $r1")
    assert(r2.abs / scale < 1e-9, s"residual2 $r2")
    // the hour-of-day and cohort signals exist in the fixture
    assert(b0 != 0.0 && (b1 != 0.0 || b2 != 0.0))
  }

  test("q149 fold betas solve their complement normal equations; sse matches a plain-Scala rescore") {
    val got = Caches.scoped(run("q149_crossval_regression")
      .as[(Long, Long, Double, Double, Double, Double, Double)].collect().toSeq)
    assert(got.map(_._1) === Seq(0L, 1L, 2L, 3L, 4L))

    val rows = Tables.events(spark, sf0001)
      .selectExpr("event_id % 5 AS fold",
        "(unix_micros(ts) div 3600000000) % 24 AS x1",
        "user_id % 10 AS x2", "value")
      .as[(Long, Long, Long, Double)].collect()
    def y6(v: Double): BigDecimal =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)

    got.foreach { case (fold, nTest, b0, b1, b2, sse, rmse) =>
      val test = rows.filter(_._1 == fold)
      val train = rows.filter(_._1 != fold)
      assert(nTest === test.length.toLong)
      // betas solve the TRAIN (complement) normal equations
      val n = BigDecimal(train.length)
      val s1 = BigDecimal(train.map(_._2).sum); val s2 = BigDecimal(train.map(_._3).sum)
      val s11 = BigDecimal(train.map(r => r._2 * r._2).sum)
      val s12 = BigDecimal(train.map(r => r._2 * r._3).sum)
      val s22 = BigDecimal(train.map(r => r._3 * r._3).sum)
      val sy = train.map(r => y6(r._4)).sum
      val s1y = train.map(r => BigDecimal(r._2) * y6(r._4)).sum
      val s2y = train.map(r => BigDecimal(r._3) * y6(r._4)).sum
      val scale = sy.abs.max(1)
      assert(((n * b0 + s1 * b1 + s2 * b2 - sy).abs / scale) < 1e-9)
      assert(((s1 * b0 + s11 * b1 + s12 * b2 - s1y).abs / scale) < 1e-9)
      assert(((s2 * b0 + s12 * b1 + s22 * b2 - s2y).abs / scale) < 1e-9)
      // sse matches the micro-unit quantized rescore of the TEST fold
      val sseQ = test.map { r =>
        val res = r._4 - (b0 + b1 * r._2 + b2 * r._3)
        math.floor(res * res * 1000000.0).toLong
      }.sum
      assert(sse === sseQ.toDouble / 1000000.0)
      assert(rmse === math.sqrt(sse / nTest.toDouble))
    }
  }

  test("q139 equals an all-triples brute force (each triangle counted once per corner)") {
    val got = Caches.scoped(run("q139_triangle_count").as[(Long, Long)].collect().toSeq)

    val und = edges().map { case (u, v) => (u.min(v), u.max(v)) }.distinct.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val tri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      k <- (j + 1) until nodes.length
      (x, y, z) = (nodes(i), nodes(j), nodes(k))
      if und((x, y)) && und((x, z)) && und((y, z))
    } { tri(x) += 1; tri(y) += 1; tri(z) += 1 }
    val want = nodes.map(n => (n, tri(n)))
    assert(got === want)
    assert(got.map(_._2).sum > 0, "fixture graph must contain triangles")
  }

  test("q142 buckets are equi-depth, ordered, and cover every row") {
    val got = run("q142_equidepth_histogram")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val total = Tables.events(spark, sf0001).count()
    assert(got.map(_._1) === Seq(0L, 1L, 2L, 3L))
    assert(got.map(_._2).sum === total)
    // equi-depth: each quartile holds ~25% (ties can nudge the split)
    got.foreach { case (b, n, _, _) =>
      assert(math.abs(n - total / 4.0) <= total * 0.02, s"bucket $b holds $n of $total") }
    // buckets partition the value range in order
    got.sliding(2).foreach {
      case Seq((_, _, _, hi), (_, _, lo, _)) => assert(hi <= lo)
      case _ =>
    }
  }

  test("q143 equals a plain-Scala transition recount; rows per source sum to probability 1") {
    val got = run("q143_event_transitions")
      .as[(String, String, Long, Double)].collect().toSeq

    val ev = Tables.events(spark, sf0001)
      .select("user_id", "event_id", "event_type").as[(Long, Long, String)]
      .collect()
    val pairs = ev.groupBy(_._1).values.flatMap { u =>
      u.sortBy(_._2).toSeq.sliding(2).collect { case Seq((_, _, a), (_, _, b)) => (a, b) }
    }.toSeq
    val n = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nSrc = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = n.toSeq.map { case ((a, b), c) =>
      (a, b, c, c.toDouble / nSrc(a).toDouble) }.sortBy(t => (t._1, t._2))
    assert(got === want)
    got.groupBy(_._1).values.foreach { rows =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12) }
  }

  test("q144 equals a plain-Scala 3-round peel and the peel is non-vacuous") {
    val got = Caches.scoped(run("q144_kcore_keywords")
      .as[(String, Long, Long)].collect().toSeq)

    val texts = Tables.documents(spark, sf0001)
      .select("text").as[String].collect().toSeq
    val big = texts.map(_.split(" ", -1).toSeq)
      .flatMap(t => t.sliding(2).filter(_.size == 2).map(w => (w(0), w(1))))
      .groupBy(identity).view.mapValues(_.size).toMap
      .filter { case ((a, b), n) => n >= 3 && a != b }
    var e = big.keys.map { case (a, b) =>
      if (a <= b) (a, b) else (b, a) }.toSet
    def degs(es: Set[(String, String)]): Map[String, Long] =
      es.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val d0 = degs(e)
    for (_ <- 1 to 3) {
      val keep = degs(e).filter(_._2 >= 10).keySet
      e = e.filter { case (a, b) => keep(a) && keep(b) }
    }
    val dc = degs(e)
    val want = dc.toSeq.map { case (n, dg) => (n, d0(n), dg) }.sortBy(_._1)
    assert(got === want)
    // the peel must remove something and keep something, and the
    // removal must cascade into survivors' degrees
    assert(dc.nonEmpty && dc.size < d0.size,
      s"core ${dc.size} of ${d0.size} — peeling must be non-vacuous")
    assert(got.exists { case (_, dg0, dgc) => dgc < dg0 },
      "a peeled node's neighbors must lose degree")
  }

  test("q140 equals a plain-Scala exact-ratio PMI top-20") {
    val got = Caches.scoped(run("q140_pmi_collocations")
      .as[(String, Long, Long, Long, Double)].collect().toSeq)

    val texts = Tables.documents(spark, sf0001)
      .select("text").as[String].collect().toSeq
    val tks = texts.map(_.split(" ", -1).toSeq)
    val uni = tks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = tks.map(_.size.toLong).sum
    val nb = tks.map(t => if (t.size >= 2) t.size.toLong - 1 else 0L).sum
    val big = tks.flatMap(t => t.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= 3L)
    val want = big.toSeq.map { case (bg, nab) =>
      val Array(a, b) = bg.split(" ", -1)
      (bg, nab, uni(a), uni(b),
        (nab * nt * nt).toDouble / (nb * uni(a) * uni(b)).toDouble)
    }.sortBy { case (bg, _, _, _, r) => (-r, bg) }.take(20)
    assert(got === want)
    // PMI separates: the top pair is rarer-but-tighter than chance
    assert(got.head._5 > 1.0)
  }

  test("q171 risk rows recompute from a plain-Scala QI fold; both branches fire") {
    val got = run("q171_k_anonymity")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val ev = Tables.events(spark, sf0001)
      .selectExpr("event_type", "user_id % 100 AS cohort",
        "unix_micros(ts) div 86400000000 AS day")
      .as[(String, Long, Long)].collect()
    val want = ev.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .groupBy(_._1._1).toSeq.sortBy(_._1).map { case (t, gs) =>
        val rows = gs.map(_._2).sum
        val risk = gs.map(_._2).filter(_ < 5).sum
        (t, gs.size.toLong, rows, gs.count(_._2 < 5).toLong, risk,
          risk * 1000000L / rows)
      }
    assert(got === want)
    assert(got.map(_._5).sum > 0L, "the below-k branch must fire")
    // at sf0.001 EVERY group sits below k (792/792 — the audit's
    // all-risk reading); the >= k branch fires at sf0.01 (11 safe
    // groups) and sf0.1 (11945), covered by the oracle gate
  }

  test("q169 cohort counts recompute from a plain-Scala first-event fold") {
    val got = run("q169_conversion_lag")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq.sortBy(_._1)
    val ev = Tables.events(spark, sf0001)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
      .as[(Long, String, Long)].collect()
    val su = ev.filter(_._2 == "signup").groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val pu = ev.filter(_._2 == "purchase").groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val lags = su.toSeq.map { case (u, s) =>
      (s / 86400000000L, pu.get(u).filter(_ >= s).map(_ - s))
    }
    val want = lags.groupBy(_._1).toSeq.sortBy(_._1).map { case (day, g) =>
      val conv = g.flatMap(_._2)
      (day, g.size.toLong, conv.size.toLong, conv.size.toLong * 1000000L / g.size)
    }
    assert(got.map(r => (r._1, r._2, r._3, r._4)) === want)
    // unconverted users stay in the denominator but never in the lag
    assert(got.exists(r => r._3 < r._2))
    assert(got.filter(_._3 > 0).forall(r => r._5.exists(_ >= 0.0)))
    assert(got.filter(_._3 == 0).forall(r => r._5.isEmpty),
      "an all-unconverted cohort must carry NULL percentiles")
  }
}
