package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch funnel progression — the STREAMING face of q81's
  * three-stage funnel (view → click within 12 h → purchase within
  * 12 h, strict '>', stage times are FIRST qualifying events). Each
  * micro-batch advances a one-row-per-user state (the three nullable
  * stage times) relationally: the batch's candidate views fold in
  * first, then candidate clicks screen against the UPDATED view time,
  * then purchases against the updated click time — so a whole funnel
  * completing inside one batch, or straddling any boundary, lands
  * identically. State is bounded by user cardinality (one row per user
  * that has reached stage ≥ 1), never by stream length — the same
  * sizing argument as [[StreamingTransitions]].
  *
  * Correctness rests on the ordered-log assumption [[StreamingTransitions]]
  * already names (batches split by event_id; `ts` is monotone in
  * event_id, asserted by TimestampUnitSpec's fixture contract): a
  * qualifying click/purchase can never sit in an EARLIER batch than the
  * stage time it qualifies against, because qualifying requires a
  * strictly larger ts. Equal-ts events never qualify (strict '>'), so
  * boundary ties are harmless. q179 promotes the seam into the oracle
  * gate: N micro-batches through [[advance]] must hash-match q81's
  * one-shot truth. The durable face ([[processBatch]] / [[publish]])
  * carries the state across micro-batches as a
  * [[VersionedState]] fold: crash-safe, exactly-once under retry —
  * spec'd beside the seam contract.
  */
object StreamingFunnel {

  /** 12 h in µs — q81's stage window (epoch-µs BIGINTs end-to-end, the
    * q81/q119 no-raw-TIMESTAMP rule). */
  private val WinUs = 43200000000L

  /** Folds one ts-ordered batch into the carried per-user state
    * (user_id, t_view_us, t_click_us, t_purchase_us); returns the new
    * state. Stages advance in dependency order WITHIN the batch, each
    * against the state updated by the previous stage. */
  def advance(batch: DataFrame, carry: DataFrame): DataFrame = {
    val ev = batch.select(col("user_id"),
      expr("unix_micros(ts)").as("ts_us"), col("event_type"))
    // stage 1: first view — the carried time wins (earlier batch ⇒
    // earlier ts), else the batch's min view
    val nv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_us")).as("nv"))
    val s1 = carry.join(nv, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("t_view_us"), col("nv")).as("t_view_us"),
        col("t_click_us"), col("t_purchase_us"))
    // stage 2: first click strictly after the (possibly just-set) view
    // time, within the window — only for users still missing a click
    val nc = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"))
      .join(s1.filter(col("t_view_us").isNotNull && col("t_click_us").isNull)
        .select(col("user_id"), col("t_view_us").as("tv")), "user_id")
      .filter(col("ts_us") > col("tv") && col("ts_us") <= col("tv") + WinUs)
      .groupBy("user_id").agg(min(col("ts_us")).as("nc"))
    val s2 = s1.join(nc, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view_us"),
        coalesce(col("t_click_us"), col("nc")).as("t_click_us"),
        col("t_purchase_us"))
    // stage 3: first purchase strictly after the updated click time
    val np = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"))
      .join(s2.filter(col("t_click_us").isNotNull && col("t_purchase_us").isNull)
        .select(col("user_id"), col("t_click_us").as("tc")), "user_id")
      .filter(col("ts_us") > col("tc") && col("ts_us") <= col("tc") + WinUs)
      .groupBy("user_id").agg(min(col("ts_us")).as("np"))
    s2.join(np, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view_us"), col("t_click_us"),
        coalesce(col("t_purchase_us"), col("np")).as("t_purchase_us"))
  }

  private def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Option[Long], Option[Long], Option[Long])]
      .toDF("user_id", "t_view_us", "t_click_us", "t_purchase_us")
  }

  /** Durable [[advance]]: one micro-batch folded into the versioned
    * standing state, exactly-once under retry ([[VersionedState.fold]]). */
  private[streaming] def processBatch(batch: DataFrame, stateDir: String,
                                      batchId: Long): Unit = {
    val spark = batch.sparkSession
    VersionedState.fold(spark, stateDir, batchId) { (prev, vdir) =>
      val carry = prev match {
        case Some(p) => spark.read.parquet(s"$p/state")
        case None => emptyState(spark)
      }
      advance(batch, carry).write.mode("overwrite").parquet(s"$vdir/state")
    }
  }

  /** The current per-user funnel state (latest committed version). */
  def publish(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"${VersionedState.latest(spark, stateDir)}/state").orderBy("user_id")

  /** q179: the events log split into `n` deterministic event_id-range
    * micro-batches and folded through [[advance]]; the final per-user
    * stage report must equal q81's one-shot truth (shared oracle text).
    * Each folded state persists scoped so the n-deep join lineage never
    * recomputes earlier batches. */
  def funnelReplay(spark: SparkSession, sfDir: String, n: Int): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "event_type")
    var carry = emptyState(spark)
    EventStreams.idRangeBatches(ev, "event_id", n).foreach { batch =>
      // TRUNCATE lineage per step, don't just cache it: a persist
      // chain still embeds every prior step's logical plan, and
      // Catalyst re-analyzes the whole accumulated tree each level —
      // measured superlinear (2.5 s/step → 16.6 s at step 5; 25 s
      // total) at sf0.1. An eager localCheckpoint materializes the
      // step AND makes it the plan root (the standard Spark iterative
      // idiom; the durable face gets the same truncation for free by
      // writing state to parquet per batch).
      carry = advance(batch, carry).localCheckpoint(true)
    }
    val users = ev.select("user_id").distinct()
    users.join(carry, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t_purchase_us").isNotNull, lit(3L))
          .when(col("t_click_us").isNotNull, lit(2L))
          .when(col("t_view_us").isNotNull, lit(1L))
          .otherwise(lit(0L)).as("stage"),
        col("t_view_us"), col("t_click_us"), col("t_purchase_us"))
      .orderBy("user_id")
  }
}
