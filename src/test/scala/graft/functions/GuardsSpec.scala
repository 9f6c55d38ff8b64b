package graft.functions

import graft.SparkSpec
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

/** Fires the shared overflow guards (VERDICT r11 item 6): the in-bounds
  * paths must be transparent, and every out-of-bounds path must raise
  * the NAMED error — never a silent wrap (shiftleft's 6-bit mask) and
  * never a dependence on ANSI mode for multiply overflow. */
class GuardsSpec extends SparkSpec {
  import spark.implicits._

  private def rootMessage(t: Throwable): String = {
    var cur = t
    val sb = new StringBuilder(Option(cur.getMessage).getOrElse(""))
    while (cur.getCause != null) {
      cur = cur.getCause
      sb.append(" | ").append(Option(cur.getMessage).getOrElse(""))
    }
    sb.toString
  }

  test("checkedMul is exact in bounds, including nulls") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (3L, 7L), (-4L, 5L), (0L, Long.MaxValue), (null, 9L))
      .toDF("a", "b")
      .select(Guards.checkedMul(col("a"), col("b"), "spec").as("p"))
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
      .toSeq == Seq(21L, -20L, 0L, null))
  }

  test("checkedMul raises its named error on BIGINT overflow") {
    val e = intercept[Throwable] {
      Seq((Long.MaxValue / 2 + 1, 2L)).toDF("a", "b")
        .select(Guards.checkedMul(col("a"), col("b"), "spec product").as("p"))
        .collect()
    }
    assert(rootMessage(e).contains("spec product: BIGINT product overflow"))
  }

  test("boundedShiftLeft matches shiftleft on in-range shifts") {
    val df = Seq((5L, 0), (5L, 3), (1L, 30)).toDF("v", "s")
      .select(Guards.boundedShiftLeft(col("v"), col("s"), 30, "spec").as("w"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L, 40L, 1L << 30))
  }

  test("boundedShiftLeft raises on a negative shift Spark would mask") {
    // raw shiftleft would compute 5 << (-2 & 63) = 5 << 62 — garbage
    val e = intercept[Throwable] {
      Seq((5L, -2)).toDF("v", "s")
        .select(Guards.boundedShiftLeft(col("v"), col("s"), 30, "spec shift").as("w"))
        .collect()
    }
    assert(rootMessage(e).contains("spec shift: shift outside [0,30]: -2"))
  }

  test("boundedShiftLeft raises past maxShift") {
    val e = intercept[Throwable] {
      Seq((5L, 31)).toDF("v", "s")
        .select(Guards.boundedShiftLeft(col("v"), col("s"), 30, "spec shift").as("w"))
        .collect()
    }
    assert(rootMessage(e).contains("spec shift: shift outside [0,30]: 31"))
  }

  test("checkedRange passes in-range values and nulls unchanged") {
    val df = Seq[java.lang.Long](0L, 7L, Int.MaxValue.toLong, null).toDF("v")
      .select(Guards.checkedRange(col("v"), 0L, Int.MaxValue.toLong, "spec").as("w"))
    assert(df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
      .toSeq == Seq(0L, 7L, Int.MaxValue.toLong, null))
  }

  test("q192/q198: a part id at 2^31 fails the packed pair key's guard") {
    // (pk_a << 32) + pk_b stops being bijective once pk reaches 2^31:
    // the guard on the capped incidence must name the id, not alias it
    for (bad <- Seq(1L << 31, -1L)) {
      val bb = Seq((1L, 5L), (1L, bad), (2L, 5L), (2L, bad)).toDF("ck", "pk")
      val e = intercept[Throwable] {
        try graft.queries.JoinQueries.itemNeighbors(bb).collect()
        finally graft.Caches.releaseScoped()
      }
      assert(rootMessage(e).contains(
        s"q192/q198 packed pair key: part id: outside [0,2147483647]: $bad"))
    }
  }

  test("the q181 guard never fires on the fixture and scores are unchanged") {
    // the guarded query must be transparent on in-bounds data: same
    // result as the raw-shift formulation it replaced
    val got = graft.SparkEntry.queries("q181_decay_engagement")(spark, sf0001)
    val t = graft.Tables.events(spark, sf0001)
      .agg(max(expr("unix_micros(ts) div 86400000000")).as("max_day"))
    val raw = graft.Tables.events(spark, sf0001)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .crossJoin(broadcast(t))
      .select(col("user_id"),
        expr("shiftleft(cents, CAST(30 - (max_day - day) div 7 AS INT))").as("wv"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("wv")).as("score_q30"))
      .orderBy("user_id")
    assert(got.exceptAll(raw).isEmpty && raw.exceptAll(got).isEmpty)
  }

  test("the r13 guards (q173 den, q174, q175, q191, q140/q158) never fire on the fixture") {
    // in-bounds transparency for the round-13 checkedMul sites: each
    // guarded query must run to completion (a firing guard throws) and
    // the cheapest site must match its raw pre-guard formulation
    // bit-for-bit; the full value check is the oracle gate's job
    for (q <- Seq("q173_brand_affinity", "q174_gini_concentration",
        "q175_cusum_changepoint", "q191_seasonal_baseline",
        "q140_pmi_collocations", "q158_related_terms"))
      assert(graft.SparkEntry.queries(q)(spark, sf0001).count() > 0, q)
    val got = graft.SparkEntry.queries("q191_seasonal_baseline")(spark, sf0001)
    val daily = graft.Tables.events(spark, sf0001)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", expr("day % 7"))
    val base = daily.groupBy("dow")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
    val dev = daily.join(broadcast(base), "dow")
      .withColumn("dev_scaled", col("n") * col("c") - col("sc"))
    val worst = dev.groupBy("dow")
      .agg(max(abs(col("dev_scaled"))).as("max_abs_dev"))
    val raw = dev.join(broadcast(worst), "dow")
      .select(col("day"), col("dow"), col("c"),
        expr("sc div n").as("dow_mean_floor"), col("dev_scaled"),
        when(abs(col("dev_scaled")) === col("max_abs_dev"), 1L)
          .otherwise(0L).as("is_worst"))
      .orderBy("day")
    assert(got.exceptAll(raw).isEmpty && raw.exceptAll(got).isEmpty)
  }

  // SparkException vs AnalysisException wrapping differs by codegen
  // path; rootMessage above walks causes so the assertions hold either
  // way. Keep a type probe so a future Spark that stops throwing
  // entirely fails loudly here rather than silently wrapping.
  test("guard failures surface as exceptions, not nulls") {
    val r = intercept[Throwable] {
      Seq((1L, 40)).toDF("v", "s")
        .select(Guards.boundedShiftLeft(col("v"), col("s"), 30, "probe").as("w"))
        .collect()
    }
    assert(r.isInstanceOf[SparkException] || rootMessage(r).nonEmpty)
  }
}
