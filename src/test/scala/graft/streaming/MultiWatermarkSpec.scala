package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Directions for the q230 multi-watermark union that the oracle can't
  * express: the policy knob itself. Under the default `min` policy the
  * slow input's 3 h horizon gates every finalization; flipping the
  * session to `max` finalizes through the FAST clock — strictly more
  * windows on the same bounded replay, exactly the max-horizon batch
  * twin. Both runs are checked against Scala-computed truths so this
  * spec fails independently of the DuckDB gate.
  */
class MultiWatermarkSpec extends SparkSpec {
  import spark.implicits._

  private val PolicyKey = "spark.sql.streaming.multipleWatermarkPolicy"

  /** Batch twin restricted to hour-windows whose end the given closing
    * watermark (ms) passed; rows as (hourStartMs, type, n). */
  private def twin(wmMs: Long): Set[(Long, String, Long)] =
    Tables.events(spark, sf0001)
      .selectExpr("unix_micros(ts) div 3600000000 AS hour_id", "event_type")
      .as[(Long, String)].collect()
      .groupBy(identity).map { case ((h, t), rs) => (h * 3600000L, t, rs.length.toLong) }
      .filter { case (hMs, _, _) => hMs + 3600000L <= wmMs }
      .toSet

  private def wmSides(): (Long, Long) = {
    val mx = Tables.events(spark, sf0001)
      .groupBy(col("event_type") === "purchase")
      .agg(max(expr("unix_micros(ts) div 1000")).as("mx"))
      .as[(Boolean, Long)].collect().toMap
    (mx(true) - 1800000L, mx(false) - 10800000L)
  }

  private def run(): Set[(Long, String, Long)] =
    MultiWatermark.hourlyCountsToFiles(spark, sf0001)
      .selectExpr("unix_micros(hour) div 1000 AS hour_ms", "event_type", "n")
      .as[(Long, String, Long)].collect().toSet

  test("the union plan carries two watermark nodes with distinct delays") {
    val plan = MultiWatermark.unionTumblingCounts(spark, sf0001)
      .queryExecution.logical
    val delays = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
        w.delay.toString
    }
    assert(delays.length === 2, "both inputs must keep their own watermark")
    assert(delays.distinct.length === 2, "the delays must differ (30 min vs 3 h)")
  }

  test("min policy (default): the slow input gates finalization") {
    val (fast, slow) = wmSides()
    assert(run() === twin(math.min(fast, slow)))
  }

  test("max policy: the fast clock finalizes strictly more windows") {
    val (fast, slow) = wmSides()
    val maxRows = graft.Sessions.withConfs(spark, PolicyKey -> "max")(run())
    assert(maxRows === twin(math.max(fast, slow)))
    val minRows = twin(math.min(fast, slow))
    assert(minRows.subsetOf(maxRows) && maxRows.size > minRows.size,
      "max policy should finalize a strict superset")
  }
}
