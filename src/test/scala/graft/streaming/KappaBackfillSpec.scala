package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KappaBackfillSpec extends SparkSpec {
  import spark.implicits._

  test("q207: the gate-facing replay equals the full-history batch row-for-row") {
    val replay = graft.SparkEntry.queries("q207_kappa_replay")(spark, sf0001)
      .collect().toSeq
    val full = KappaBackfill.fullBatch(spark, sf0001)
      .select(col("user_id"), col("n").as("n_events"), col("cents"))
      .orderBy("user_id").collect().toSeq
    assert(replay.nonEmpty)
    assert(replay === full, "the seam must be invisible in the result")
    // q207 cuts at the median event time; a user whose final state
    // differs from its backfilled state was folded by the streamed tail
    val cutUs = graft.Tables.events(spark, sf0001)
      .select(expr("CAST(median(unix_micros(ts)) AS BIGINT)")).as[Long].head()
    val initial = KappaBackfill.backfill(spark, sf0001, cutUs).collect()
      .map { case (u, st) => u -> ((st.n, st.cents)) }.toMap
    val touched = replay.filter { r =>
      !initial.get(r.getLong(0)).contains((r.getLong(1), r.getLong(2)))
    }
    assert(touched.nonEmpty, "the tail must touch at least one user")
  }
}
