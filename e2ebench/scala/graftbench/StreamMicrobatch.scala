package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

import graft.streaming.{EventStreams, ListStateRecent, SessionTimers, StreamingTumbling}

/** The streaming operators' replay, run after each traced `query_suite`
  * pass: a seeded event log in the `events` schema, split into chunk
  * files replayed one file per micro-batch
  * (`maxFilesPerTrigger=1`) through three stateful operators — timer
  * sessions, list-state recent items, and the watermarked per-minute
  * window. Each query runs on the RocksDB state store inside
  * `SessionTimers.withRocksDb` and `EventStreams.withStreamWidth`, so
  * the engine's own width rule is what gets measured. The sink is a
  * foreachBatch parquet append. */
final class StreamMicrobatch(spark: SparkSession, work: File, seed: Long) {
  import StreamMicrobatch._

  private val chunksDir = new File(work, "chunks")
  private val outRoot = new File(work, "out")
  private var log: IndexedSeq[Generators.Event] = IndexedSeq.empty

  def setup(): Unit = {
    Generators.deleteTree(work)
    log = Generators.eventLog(seed, Events, Users)
    Generators.writeChunks(spark, chunksDir, log, Chunks)
  }

  private def source(): DataFrame = spark.readStream.schema(Generators.EventSchema)
    .option("maxFilesPerTrigger", "1").parquet(chunksDir.getPath)

  private val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "sessions" -> (ev => SessionTimers.sessions(spark, ev.select("user_id", "ts"))),
    "recent" -> { ev =>
      import spark.implicits._
      ListStateRecent.tracked(spark,
        ev.select("user_id", "event_id", "event_type").as[ListStateRecent.EventIn])
    },
    "tumbling" -> (ev => StreamingTumbling.watermarkedPerMinute(ev, WatermarkDelay)))

  /** Replays the log through each operator from a fresh checkpoint, then
    * checks the outputs; returns per-batch medians of the progress phases
    * and state metrics as layers, one attempt per operator. */
  def replay(): PassResult = {
    Generators.deleteTree(outRoot)
    val progress = Seq.newBuilder[StreamingQueryProgress]
    val sinkMs = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    queries.foreach { case (name, build) =>
      val out = new File(outRoot, name).getPath
      val ck = new File(outRoot, name + "_checkpoint").getPath
      try {
        val src = source()
        val ps = SessionTimers.withRocksDb(spark) {
          EventStreams.withStreamWidth(src) {
            val q = build(src).writeStream
              .outputMode(OutputMode.Append())
              .option("checkpointLocation", ck)
              .foreachBatch { (b: DataFrame, _: Long) =>
                val s0 = Probe.nowSeconds()
                b.write.mode("append").parquet(out)
                sinkMs.synchronized(sinkMs += (Probe.nowSeconds() - s0) * 1e3)
                ()
              }
              .start()
            try { q.processAllAvailable(); q.recentProgress.toSeq } finally q.stop()
          }
        }
        progress ++= ps.filter(_.durationMs.containsKey("addBatch"))
      } catch { case e: Exception =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    val errs = errors.result()
    val bad = if (errs.isEmpty) check() else Nil
    val ps = progress.result()
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
    def phase(k: String): Double =
      med(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    val state = ps.flatMap(_.stateOperators.toSeq)
    val layers = Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.input_rows" -> ps.map(_.numInputRows).sum.toDouble,
      "streaming.trigger_ms" -> phase("triggerExecution"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.state_commit_ms" -> med(state.map(_.commitTimeMs.toDouble)),
      "streaming.state_update_ms" -> med(state.map(_.allUpdatesTimeMs.toDouble)),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_memory_mb" ->
        state.map(_.memoryUsedBytes / (1024.0 * 1024.0)).maxOption.getOrElse(0.0),
      "streaming.sink_ms" -> med(sinkMs.result()))
    PassResult(units = Events.toLong, ops = Nil, samples = Nil, layers = layers,
      attempted = queries.size, failed = errs.size + bad.size, errors = errs ++ bad)
  }

  /** Batch truth over the same generated log: per-user totals and last
    * items, per-minute counts and sums, and gap-split sessions. One
    * message per operator whose output differs. */
  private def check(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def read(name: String): Array[org.apache.spark.sql.Row] = {
      val dir = new File(outRoot, name)
      if (!dir.exists) Array.empty else spark.read.parquet(dir.getPath).collect()
    }

    val byUser = log.groupBy(_.userId)
    val recent = read("recent").groupBy(_.getAs[Long]("user_id")).map { case (u, rs) =>
      val last = rs.maxBy(_.getAs[Long]("n_seen"))
      u -> (last.getAs[Long]("n_seen"), last.getAs[String]("recent_path"))
    }
    val recentTruth = byUser.map { case (u, es) =>
      u -> (es.size.toLong, es.sortBy(_.eventId).takeRight(ListStateRecent.Keep).map(_.eventType).mkString(">"))
    }
    if (recent != recentTruth)
      bad += s"recent: ${recent.size} users disagree with the batch per-user totals (${recentTruth.size} users)"

    val minutes = log.groupBy(e => e.tsMs / 60000L * 60000L).map { case (m, es) =>
      m -> (es.size.toLong, es.map(e => BigDecimal(e.value)).sum.toDouble)
    }
    val watermark = log.last.tsMs - WatermarkDelayMs
    val due = minutes.keySet.filter(_ + 60000L <= watermark)
    val windows = read("tumbling").map { r =>
      r.getAs[java.sql.Timestamp]("minute").getTime -> (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))
    }.toMap
    if (windows.keySet != due || windows.exists { case (m, v) => minutes(m) != v })
      bad += s"tumbling: ${windows.size} windows emitted, ${due.size} due by the final watermark, or a count/sum differs"

    val truth = byUser.toSeq.flatMap { case (u, es) =>
      val ts = es.map(_.tsMs).sorted
      val runs = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
        if (t - acc.head.head >= SessionTimers.GapMs) List(t) :: acc else (t :: acc.head) :: acc.tail
      }.reverse.map(r => (u, r.last, r.head, r.size.toLong))
      runs.zipWithIndex.map { case (s, i) => (s, i == runs.size - 1) }
    }
    val sessions = read("sessions").map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_ms"),
      r.getAs[Long]("end_ms"), r.getAs[Long]("n_events"))).toSet
    val closed = truth.collect { case (s, false) => s }.toSet
    if (!closed.subsetOf(sessions) || !sessions.subsetOf(truth.map(_._1).toSet))
      bad += s"sessions: ${sessions.size} emitted; every gap-closed batch session (${closed.size}) must be among them, and none may differ from the batch sessions"
    bad.result()
  }
}

object StreamMicrobatch {
  val Events = 1800
  val Users = 200
  val Chunks = 3
  val WatermarkDelay = "10 minutes"
  val WatermarkDelayMs: Long = 10L * 60L * 1000L
}
