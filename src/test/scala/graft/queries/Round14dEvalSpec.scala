package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

/** Directions for the streaming/derived sketch faces (q241–q243) and
  * the layout advisor (q244) that the shared oracle texts can't
  * express: the streaming register fold's CONSTANT state bound,
  * batch≡stream row equality on both promoted faces, the
  * inclusion-exclusion brute force, the Misra–Gries containment
  * guarantee on the streamed summary, and the advisor's brute ranking.
  */
class Round14dEvalSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("q241 ≡ q229 row-for-row, with ≤ 64 rows of stream state") {
    val (streamed, progress) =
      graft.streaming.StreamProgress.during(spark)(run("q241_hll_stream").collect())
    val stateRows = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
    assert(stateRows.nonEmpty && stateRows.max > 0L, "the register fold keeps state")
    assert(stateRows.max <= 64L,
      s"register state must be bounded by m=64, saw per-batch $stateRows")
    val batch = run("q229_hll_distinct").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("q242 equals the brute inclusion-exclusion estimate") {
    def hash56(s: String): Long =
      graft.expressions.Hash56.hash(s.getBytes("UTF-8"))
    def fold(keys: Seq[String]): Map[Long, Long] =
      keys.map { k =>
        val h = hash56(k)
        val w = h % 1125899906842624L
        (h / 1125899906842624L,
          if (w == 0L) 51L else 51L - java.lang.Long.toBinaryString(w).length)
      }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    def estimate(regs: Map[Long, Long]): Long = {
      val sp = regs.values.map(r => 4398046511104L >> math.min(r, 42L).toInt).sum
      2905L * 4398046511104L / (sp + (64L - regs.size) * 4398046511104L)
    }
    val rows = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("purchase", "error"))
      .selectExpr("event_type",
        "cast(user_id as string) || '_' || cast(unix_micros(ts) div 86400000000 as string) AS k")
      .as[(String, String)].collect()
    val a = rows.collect { case ("purchase", k) => k }.toSeq
    val b = rows.collect { case ("error", k) => k }.toSeq
    val estInt = estimate(fold(a)) + estimate(fold(b)) - estimate(fold(a ++ b))
    val exactInt = (a.toSet & b.toSet).size.toLong
    val row = run("q242_hll_intersection").collect().head
    assert(row.getAs[Long]("n_exact_a") === a.distinct.length.toLong)
    assert(row.getAs[Long]("n_exact_b") === b.distinct.length.toLong)
    assert(row.getAs[Long]("n_exact_int") === exactInt)
    assert(row.getAs[Long]("hll_int_estimate") === estInt)
    assert(row.getAs[Long]("err_ppm") ===
      math.abs(estInt - exactInt) * 1000000L / exactInt)
  }

  test("q244 equals the brute advisor and ranks the time column first") {
    val rows = Tables.events(spark, sf0001)
      .selectExpr("event_type", "unix_micros(ts) div 86400000000 AS day",
        "user_id % 100 AS cohort")
      .as[(String, Long, Long)].collect()
    val n = rows.length.toLong
    val d0 = rows.map(_._2).min
    val sels = Map(
      "w1" -> ("event_type", rows.count(_._1 == "purchase")),
      "w2" -> ("day", rows.count(r => r._2 >= d0 + 10 && r._2 <= d0 + 19)),
      "w3" -> ("cohort", rows.count(_._3 < 10)),
      "w4" -> ("event_type", rows.count(r => r._1 == "error" || r._1 == "signup")),
      "w5" -> ("day", rows.count(_._2 == d0 + 5)))
      .view.mapValues { case (c, m) => (c, m.toLong * 1000000L / n) }.toMap
    val want = Seq("cohort", "day", "event_type").map { cand =>
      val scans = sels.values.map { case (c, s) =>
        if (c == cand) s else 1000000L }
      (cand, scans.count(_ < 1000000L).toLong, scans.sum / 5L)
    }.sortBy { case (c, _, avg) => (avg, c) }
    val got = run("q244_partition_advisor")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === want)
    assert(got.head._1 === "day",
      "the workload's narrowest predicates target time — day must win")
    assert(got.map(_._1).contains("cohort") && got.last._3 > got.head._3,
      "the ranking must actually separate candidates")
  }

  test("q243 ≡ q107 exactly, and the streamed summary contains every true heavy hitter") {
    val streamed = run("q243_heavy_hitters_stream").collect()
    val batch = run("q107_heavy_hitters").collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty, "the promoted face must be non-vacuous")
    // containment, independently of the exact second pass: every token
    // with freq > total/k appears among the standing summary candidates
    val root = java.nio.file.Files.createTempDirectory("graft_r14d_")
    graft.TempDirs.cleanupOnExit(root)
    val dir = root.toString + "/sketch"
    val docs = Tables.documents(spark, sf0001)
    (0L until 4L).foreach { b =>
      graft.streaming.StreamingHeavyHitters.processBatch(
        docs.filter(col("doc_id") % 4 === b), dir, b, k = 32)
    }
    val cand = graft.streaming.StreamingHeavyHitters.report(spark, dir)
      .select("tok").as[String].collect().toSet
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      .as[String].collect()
    val total = toks.length.toLong
    val heavy = toks.groupBy(identity).collect {
      case (t, g) if g.length.toLong * 32L > total => t
    }.toSet
    assert(heavy.subsetOf(cand), s"missing: ${heavy -- cand}")
  }
}
