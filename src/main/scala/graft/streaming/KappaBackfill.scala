package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Kappa-style backfill→stream unification — the architecture seam every
  * production streaming deployment crosses: history is aggregated once
  * as a BATCH job, the live tail continues as a STREAM, and the stream's
  * per-key state must start exactly where the batch left off. Spark's
  * native lever is the `initialState` argument of the group-state map
  * ([[fold]]) — the batch result is handed to the state store as the
  * stream's first snapshot, so no event is double-counted and none is
  * dropped at the seam.
  *
  * The running aggregate is (event count, value cents): cents as LONG —
  * the fixture values carry two decimals, so ×100 is exact — because a
  * double accumulator folded in arrival order would differ from the
  * batch's shuffle-order sum in the last ulp and the seam equality
  * (KappaBackfillSpec: backfill-then-stream ≡ one full batch) could
  * never be asserted bitwise.
  *
  * Scale: the backfill is one partial-agg'd groupBy over history; the
  * stream's state is one row per ACTIVE key, keyed exactly like the
  * batch shuffle; the handoff itself moves only the aggregate rows —
  * never history. That is the kappa pitch: reprocess = rerun the batch,
  * then re-seed the stream.
  */
object KappaBackfill {

  /** Per-user running aggregate: event count + exact value cents. */
  case class UserState(n: Long, cents: Long)

  /** Emitted row: the state after folding a micro-batch's events. */
  case class UserUpdate(user_id: Long, n: Long, cents: Long)

  private def centsCol = round(col("value") * 100).cast("long")

  /** The BATCH half: per-user aggregate of all events at or before
    * `cutUs` (epoch micros) — one partial-agg'd groupBy over history. */
  def backfill(spark: SparkSession, dir: String, cutUs: Long): Dataset[(Long, UserState)] = {
    import spark.implicits._
    graft.Tables.events(spark, dir)
      .filter(expr("unix_micros(ts)") <= cutUs)
      .select(col("user_id"), centsCol.as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .select(col("user_id"), col("n"), col("c"))
      .as[(Long, Long, Long)]
      .map { case (u, n, c) => (u, UserState(n, c)) }
  }

  /** The stream's fold: each micro-batch's (user_id, cents) rows folded
    * into the per-user state, which the group-state map seeds from the
    * backfilled `initial`. Each touched group emits its updated running
    * aggregate once per batch — append mode, so the emissions drain
    * through the file sink. */
  private def fold(spark: SparkSession, tail: Dataset[(Long, Long)],
                   initial: Dataset[(Long, UserState)]): Dataset[UserUpdate] = {
    import spark.implicits._
    tail.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
          initial.groupByKey(_._1).mapValues(_._2)) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          var n = prev.n; var c = prev.cents
          rows.foreach { case (_, cents) => n += 1; c += cents }
          val next = UserState(n, c)
          state.update(next)
          Iterator.single(UserUpdate(user, next.n, next.cents))
      }
  }

  /** q207: the kappa seam promoted into the oracle gate (the
    * q147/q170/q196 precedent). History up to the median event time is
    * aggregated as a BATCH and handed to the stream as `initialState`;
    * the live tail replays as TWO real micro-batches (two chunks staged
    * by [[EventStreams.stagedStream]], split by timestamp parity so the
    * SAME user appears in both batches and the state provably folds
    * across the boundary); the final per-user state — last emission per user
    * (n is monotone, so `max(struct(n, cents))` selects it), untouched
    * users backfilled from the initial state — must hash-match the
    * ORACLE, which is one full-history batch aggregate with no cut and
    * no seam. A row double-counted at the seam, dropped at the handoff,
    * or folded twice under the engine's state round-trip breaks the
    * match. The cut itself never reaches the oracle text: the whole
    * point of kappa is that the seam is invisible in the result.
    *
    * Scale: the drain is executor→disk ([[EventStreams.drainToFiles]],
    * append-mode emissions resolved by the monotone-n argmax, never a
    * driver-side memory sink); the anti-join backfill is keyed on
    * user_id. State is one row per active user, the same bound the
    * deployed form carries. */
  def kappaReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutUs = graft.Tables.events(spark, dir)
      .select(expr("CAST(median(unix_micros(ts)) AS BIGINT)")).as[Long].head()
    val initial = backfill(spark, dir, cutUs)

    val t = graft.Tables.events(spark, dir)
      .filter(expr("unix_micros(ts)") > cutUs)
      .select(col("user_id"), centsCol.as("cents"),
        pmod(expr("unix_micros(ts)"), lit(2)).as("half"))
    val src = EventStreams.stagedStream((0 to 1).map { h =>
      t.filter(col("half") === h).select("user_id", "cents")
    }).as[(Long, Long)]
    val streamed = EventStreams.drainToFiles(fold(spark, src, initial).toDF(), "append")
      .groupBy("user_id")
      .agg(max(struct(col("n"), col("cents"))).as("s"))
      .select(col("user_id"), col("s.n").as("n_events"), col("s.cents").as("cents"))
    val initDf = initial
      .map { case (u, st) => (u, st.n, st.cents) }
      .toDF("user_id", "n_events", "cents")
    val untouched = initDf.join(streamed.select("user_id"), Seq("user_id"), "left_anti")
    streamed.unionByName(untouched).orderBy("user_id")
  }

  /** The ground truth the seam must reproduce: ONE batch over all
    * history — no cut, no seam. */
  def fullBatch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select(col("user_id"), centsCol.as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
}
