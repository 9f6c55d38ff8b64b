package graft

import org.apache.spark.sql.functions._

/** Round-5 curation queries (q75–q79): each checked against an
  * oracle-independent in-JVM brute force (plain Scala over collected
  * rows), so the DuckDB gate and these specs fail independently. */
class CurationQueriesSpec extends SparkSpec {
  import spark.implicits._

  /** The engines' shared 56-bit hash (first 14 md5 hex chars = 7 bytes),
    * recomputed here from first principles. */
  private def h56(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString, 16)
  }

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf0001)

  test("q75 duplicated-span report equals a plain-Scala recount") {
    val got = Caches.scoped(run("q75_duplicated_spans")
      .as[(Long, Long, Long, Double)].collect().toSeq)

    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val sp = docs.toSeq
      .map { case (id, t) =>
        val tk = t.split(" ", -1)
        id -> (if (tk.length >= 3) tk.sliding(3).map(w => h56(w.mkString(" "))).toSeq
               else Seq.empty[Long])
      }
      .filter(_._2.nonEmpty)
    val docsPerHash = sp.flatMap { case (id, hs) => hs.distinct.map(h => (h, id)) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val want = sp.map { case (id, hs) =>
      val dup = hs.count(h => docsPerHash(h) >= 2).toLong
      (id, hs.size.toLong, dup, dup.toDouble / hs.size)
    }.sortBy(_._1)
    assert(got === want)
    assert(got.exists(_._3 > 0), "fixture must contain duplicated spans")
  }

  test("q76 quantized top-10 equals a plain-Scala int8 quantization") {
    val got = Caches.scoped(run("q76_quantized_similarity").as[(Long, Long)].collect().toSeq)

    val rows = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val dims = rows.head._2.length
    val mn = Array.tabulate(dims)(i => rows.map(_._2(i).toDouble).min)
    val mx = Array.tabulate(dims)(i => rows.map(_._2(i).toDouble).max)
    def quant(v: Array[Float]): Array[Long] = Array.tabulate(dims) { i =>
      if (mx(i) == mn(i)) 0L
      else math.floor((v(i).toDouble - mn(i)) * (254.0 / (mx(i) - mn(i)))
        + 0.5).toLong - 127L
    }
    val q = rows.map { case (id, v) => id -> quant(v) }.toMap
    val q0 = q(0L)
    val want = rows.filter(_._1 != 0L)
      .map { case (id, _) => (id, q(id).zip(q0).map { case (a, b) => a * b }.sum) }
      .sortBy { case (id, s) => (-s, id) }
      .take(10).toSeq
    assert(got === want)
    assert(got.forall { case (_, s) => s != 0L })
    // every quantized code is inside int8 range
    assert(q.values.forall(_.forall(c => c >= -127L && c <= 127L)))
  }

  test("q77 semantic-dedup report is internally consistent and matches a within-cell brute force") {
    val got = Caches.scoped(run("q77_semantic_dedup")
      .select(col("vec_id"), col("cell"), col("best_prior_cos"), col("kept"))
      .as[(Long, Long, Option[Double], Long)].collect().toSeq)

    // kept bit is exactly the threshold decision on the reported margin
    assert(got.forall { case (_, _, b, k) =>
      k == (if (b.forall(_ < 0.45)) 1L else 0L) })
    // the lowest id of every cell has no prior and is always kept
    got.groupBy(_._2).foreach { case (_, vs) =>
      val first = vs.minBy(_._1)
      assert(first._3.isEmpty && first._4 == 1L)
    }
    // brute-force the per-vector margin from the same cell assignment
    val e = Tables.embeddings(spark, sf0001)
    val cents = similarity.Ann.trainCentroids(e, k = 16, iters = 2)
    val asg = Caches.scoped(similarity.Ann.assignCells(e, cents)
      .select(col("vec_id"), col("cell").cast("long"), col("nv"))
      .as[(Long, Long, Array[Double])].collect())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCell = asg.groupBy(_._2)
    val want = asg.map { case (id, cell, v) =>
      val priors = byCell(cell).filter(_._1 < id)
      val best = if (priors.isEmpty) None
                 else Some(priors.map(p => cos(p._3, v)).max)
      (id, cell, best, if (best.forall(_ < 0.45)) 1L else 0L)
    }.sortBy(_._1).toSeq
    assert(got === want)
    assert(got.exists(_._4 == 0L), "threshold must actually drop something")
  }

  test("q78 packing fills bins greedily within capacity, in doc order") {
    val got = Caches.scoped(run("q78_greedy_packing")
      .as[(Long, String, Long, Long)].collect().toSeq)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "n_chars").as[(Long, String, Long)]
      .collect().toSeq
    assert(got.size === docs.size)
    got.groupBy(_._2).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._1)
      // bin ids start at 0 and never decrease or skip along doc order
      ordered.foldLeft(-1L) { (prev, r) =>
        assert(r._4 == prev || r._4 == prev + 1); r._4 }
      val bins = ordered.groupBy(_._4).toSeq.sortBy(_._1)
      bins.foreach { case (_, members) =>
        // capacity respected unless the bin is a single oversized doc
        assert(members.map(_._3).sum <= 1000L || members.size == 1)
      }
      // greedy tightness: the first doc of bin b+1 would not have fit in b
      bins.sliding(2).foreach {
        case Seq((_, cur), (_, next)) =>
          assert(cur.map(_._3).sum + next.minBy(_._1)._3 > 1000L)
        case _ =>
      }
    }
  }

  test("q79 temperature mixing equals plain-Scala sqrt-smoothed rates") {
    val got = Caches.scoped(run("q79_temperature_mixing").as[(Long, String)].collect().toSeq)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang").as[(Long, String)].collect().toSeq
    val cnt = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val minCnt = cnt.values.min
    val want = docs.filter { case (id, lang) =>
      val rate = math.sqrt(minCnt.toDouble / cnt(lang).toDouble)
      h56(id.toString).toDouble / 7.2057594037927936E16 < rate
    }.sortBy(_._1)
    assert(got === want)
    // smoothing flattens: smallest lang keeps everything, biggest does not
    val keptPerLang = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val smallest = cnt.minBy(_._2)._1
    val biggest = cnt.maxBy(_._2)._1
    assert(keptPerLang(smallest) == cnt(smallest))
    assert(keptPerLang(biggest) < cnt(biggest))
  }

  test("q137 DSIR resampling equals a plain-Scala importance replay and prefers the target domain") {
    val got = Caches.scoped(run("q137_dsir_resample")
      .as[(Long, String, Long, Double, Double, Long)].collect().toSeq)

    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").as[(Long, String, String)]
      .collect().toSeq
    val toks = docs.map { case (id, lang, t) => (id, lang, t.split(" ", -1).toSeq) }
    val all = toks.flatMap { case (_, _, tk) => tk }
    val cs = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = toks.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ts = all.size.toLong
    val tt = toks.filter(_._2 == "en").map(_._3.size.toLong).sum
    val v = cs.size.toLong
    // one IEEE division of two exact BIGINT products, 6dp HALF_UP round,
    // decimal(…,10) sum — the exact arithmetic q137 declares
    def ratio(tok: String): Double =
      ((ct.getOrElse(tok, 0L) + 1L) * (ts + v)).toDouble /
        ((cs(tok) + 1L) * (tt + v)).toDouble
    val perDoc = toks.map { case (id, lang, tk) =>
      val sumR = tk.map { tok =>
        BigDecimal.decimal(
          BigDecimal(ratio(tok)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble).setScale(10)
      }.sum
      val n = tk.size.toLong
      (id, lang, n, sumR.toDouble, sumR.toDouble / n.toDouble)
    }.sortBy(_._1)
    // Spark's exact percentile: (n-1)*p position, linear interpolation
    val sortedR = perDoc.map(_._5).sorted
    val pos = 0.8 * (sortedR.size - 1)
    val lo = math.floor(pos).toInt
    val t = if (lo == pos) sortedR(lo)
            else (lo + 1 - pos) * sortedR(lo) + (pos - lo) * sortedR(lo + 1)
    val want = perDoc.map { case (id, lang, n, s, a) =>
      (id, lang, n, s, a, if (a > t) 1L else 0L) }
    assert(got === want)
    // the cut keeps something and drops something
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L))
    // DSIR's point: target-domain (en) docs are over-represented among
    // the sampled slice relative to the corpus
    val enCorpus = got.count(_._2 == "en").toDouble / got.size
    val sampled = got.filter(_._6 == 1L)
    val enSampled = sampled.count(_._2 == "en").toDouble / sampled.size
    assert(enSampled > enCorpus)
  }

  test("q146's OOV branch fires on a planted unseen token (exact counts through the shared operator)") {
    // the fixture vocabulary is fully shared between the halves, so the
    // oracle gate can never exercise the left-join-null OOV path; this
    // corpus plants a token only the held-out half contains
    val rows = Seq(
      (0L, "en", "a b a b"),    // train: c(a)=2, c(b)=2, T=4, V=2
      (2L, "en", "a a b b"),    // train: c(a)=4, c(b)=4, T=8
      (1L, "en", "a b zz"),     // held out: zz is OOV
      (3L, "de", "zz zz"))      // held out: all OOV
    val df = rows.toDF("doc_id", "lang", "text")
    val got = graft.operators.TextCuration.heldoutPerplexity(df)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    // T=8, V=2 → smoothed divisors: seen c=4 → (8+2) div 5 = 2 → 1 bit;
    // OOV c=0 → (8+2) div 1 = 10 → bin(10)=1010 → 3 bits
    assert(got === Seq(
      ("de", 2L, 2L, 6L, 3.0, 1.0),
      ("en", 3L, 1L, 5L, 5.0 / 3.0, 1.0 / 3.0)))
  }

  test("q210's ctx-OOV and novel-bigram branches fire on a planted corpus (exact bits)") {
    // the fixture's shared vocabulary never fires ctx-OOV, and its
    // bigram coverage saturates the novel branch away at sf0.1 — this
    // corpus plants both, through the SAME shared operator
    val rows = Seq(
      (0L, "en", "a b c"),    // train: bigrams (a b), (b c)
      (2L, "en", "a b a b"),  // train: (a b) x2, (b a)
      (1L, "en", "a b c"),    // held out: both bigrams seen
      (3L, "de", "a c x"))    // held out: (a c) novel, (c x) ctx-OOV
    val df = rows.toDF("doc_id", "lang", "text")
    val got = graft.operators.TextCuration.bigramPerplexity(df)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // train: cb(a b)=3, cb(b c)=1, cb(b a)=1; cc(a)=3, cc(b)=2; V=2
    // en: (a b) → (3+2) div 4 = 1 → 0 bits; (b c) → (2+2) div 2 = 2 → 1 bit
    // de: (a c) novel → (3+2) div 1 = 5 → 2 bits;
    //     (c x) ctx-OOV → (0+2) div 1 = 2 → 1 bit
    assert(got === Seq(
      ("de", 2L, 1L, 1L, 3L, 1.5),
      ("en", 2L, 0L, 0L, 1L, 0.5)))
  }

  test("q121's checks fire on planted violations (every branch, exact counts)") {
    // the fixture corpus passes all five checks, so the gate alone
    // cannot prove the violation branches count; this corpus violates
    // every one a known number of times, through the SAME shared
    // operator the query runs
    val rows = Seq(
      (Some(1L), "ok text", "en", 7L),        // clean
      (None, "x", "en", 1L),                  // null id
      (Some(2L), "hola", "xx", 4L),           // bad lang
      (Some(3L), "abc", "de", 99L),           // n_chars mismatch
      (Some(4L), "", "fr", 0L),               // empty text
      (Some(5L), "dup", "es", 3L),
      (Some(5L), "dup", "es", 3L))            // duplicate id
    val df = rows.toDF("doc_id", "text", "lang", "n_chars")
    val got = graft.operators.TextCuration.dqChecks(df)
      .as[(String, Long, Long)].collect()
      .map { case (k, n, p) => k -> ((n, p)) }.toMap
    assert(got("doc_id_not_null") === ((1L, 0L)))
    assert(got("lang_in_domain") === ((1L, 0L)))
    assert(got("n_chars_consistent") === ((1L, 0L)))
    assert(got("text_not_empty") === ((1L, 0L)))
    assert(got("doc_id_unique") === ((1L, 0L)))
  }
}
