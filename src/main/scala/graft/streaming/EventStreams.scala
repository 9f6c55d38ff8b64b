package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared streaming plumbing for the events table — the single place
  * that knows the physical schema, the TIMESTAMP(NANOS) workaround, and
  * how to run a bounded stream to completion ([[drainToFiles]]).
  */
object EventStreams {

  /** Reference default sampling interval (`uav/main.py:50-54`). */
  val KeyframeInterval = 30

  /** Logical schema of events.parquet with `ts` read as `tsType` — the
    * generator has shipped `ts` as both TIMESTAMP(NANOS) (Spark reads it
    * as long under nanosAsLong) and TIMESTAMP(MICROS) (native
    * TimestampType), so the physical type is probed per directory, never
    * assumed. A hardcoded NANOS schema against µs data silently divides
    * every timestamp by 1000 and collapses the whole time axis — the
    * round-8 streaming-family correctness failure. */
  private def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unbounded scan of the events table with µs TimestampType `ts`.
    * The timestamp unit is probed from the parquet footer via a batch
    * read (same adaptive rule as [[graft.Tables]]): a LongType read means
    * TIMESTAMP(NANOS) under the legacy conf → truncate to µs; a native
    * TimestampType read streams through unchanged. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // an empty/not-yet-existing directory (the growing-stream case: a
    // stream started before its first file lands) has no footer to
    // probe: assume the current generator's µs-NTZ flavor; files
    // appearing later with a different unit would need the directory
    // probed at (re)start, which a bounded harness run never hits
    val physicalTs =
      try spark.read.parquet(sfDir + "/events.parquet").schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }
    microsTs(spark.readStream
      .schema(eventsSchema(physicalTs))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** The one events-`ts` rule, for batch reads ([[graft.Tables]]) and
    * the stream alike: `df`'s `ts` as µs TimestampType, whichever way
    * the table shipped it. */
  private[graft] def microsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    // TIMESTAMP(NANOS) read as long under the legacy conf → µs
    case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    // TIMESTAMP(MICROS) without timezone → TimestampNTZ, which
    // watermarks reject; the session zone is pinned UTC so the cast
    // relabels without shifting the instant
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** State-partition width for the query-path streams. A streaming
    * stateful operator's partition count is fixed by
    * `spark.sql.shuffle.partitions` at FIRST query start (recorded in the
    * checkpoint thereafter) and is the unit of state-store overhead: every
    * micro-batch commits a delta per store per partition — a stream-stream
    * join carries FOUR stores per partition — so width costs per-batch
    * file IO whether or not the partitions hold state. Sizing it to state
    * volume rather than inheriting the batch shuffle width halved every
    * stateful query at sf0.1 (q71 6.0→2.2 s, family 17.6→9.6 s at width
    * 32 vs 8, measured by a width-sweep probe main since removed;
    * ARCHITECTURE.md cites its source). On a real cluster this is the
    * same knob sized UP — hundreds of partitions for TB-scale state;
    * results are partition-count-independent either way (every
    * query-path stream re-sorts after the drain).
    *
    * The rule ([[widthFor]]): the width DERIVED from the stream's
    * file-source bytes ([[derivedParts]]), else this fallback, 8. No
    * setting overrides it. */
  private val DefaultStreamParts = 8

  /** Input-volume target per state partition for the DERIVED width
    * below — every partition is a per-batch state-store commit (delta
    * file + fsync per store, ×4 stores for a stream-stream join), so
    * width is pure fixed cost until state actually fills it. 32 MB of
    * source input per partition keeps the gate corpora at the 2-wide
    * floor (events.parquet at sf0.1 is 2 MB) while a 100× corpus
    * derives ~7 and a TB-scale one derives hundreds — the same knob a
    * cluster deployment sizes UP for TB state, reached by data volume
    * instead of a constant. Measured at sf0.1 (r17, the removed width
    * sweep above): width 8 → 2 is q71 3.76 → 2.31 s and −8…−38% across
    * the whole streamed family, with zero result change (every
    * query-path stream re-sorts after the drain). */
  private val BytesPerStatePartition: Long = 32L << 20

  /** Spark's own rule for files a file source never reads
    * (`InMemoryFileIndex.shouldFilterOutPathName`): `.`-prefixed names
    * (checksums, editor temp files) and `_`-prefixed ones (`_SUCCESS`,
    * `_spark_metadata`) unless they are `key=value` partition dirs. */
  private def hiddenName(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** Scale-ADAPTIVE state width (r17, optimization guide §2.2/§6): the
    * total on-disk size of the stream's FILE sources, divided by
    * [[BytesPerStatePartition]], floored at 2 (so the seam semantics
    * the specs pin — cross-partition merges, multi-store commits —
    * always exercise real fan-out). Returns None for non-file sources
    * (RTSP, DSv2 probes) and for a source path that does not exist yet
    * or cannot be listed ([[sourceBytes]]), which fall back to
    * [[DefaultStreamParts]].
    *
    * Each source path is read the way the file source reads it: glob
    * patterns (the staged replays' chunk glob) expanded with `globStatus`,
    * directories listed down to their leaf files, hidden names skipped
    * at every level, and a `pathGlobFilter` applied to leaf names
    * (ADVICE r17: a multi-part dataset directory must count its leaves,
    * not its own entry length). */
  private def derivedParts(df: DataFrame): Option[Int] = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val sizes = df.queryExecution.analyzed.collect {
      case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        val ds = sr.dataSource
        val leafFilter = ds.options.collectFirst {
          case (k, v) if k.equalsIgnoreCase("pathGlobFilter") =>
            new org.apache.hadoop.fs.GlobFilter(v)
        }
        val paths =
          if (ds.paths.nonEmpty) ds.paths
          else ds.options.collectFirst {
            case (k, v) if k.equalsIgnoreCase("path") => v
          }.toSeq
        paths.map(sourceBytes(_, leafFilter, conf))
    }.flatten
    if (sizes.isEmpty || sizes.exists(_.isEmpty)) None
    else {
      val total = sizes.flatten.sum
      Some(math.max(2L,
        (total + BytesPerStatePartition - 1) / BytesPerStatePartition).toInt)
    }
  }

  /** Visible bytes under one file-source path, or None when they cannot
    * be counted. A path that does not exist (yet) is the growing-stream
    * case and falls back quietly; any other listing failure is reported
    * on stderr, naming the path, so a width that silently stays at the
    * fallback cannot hide a broken derivation. */
  private def sourceBytes(p: String,
                          leafFilter: Option[org.apache.hadoop.fs.GlobFilter],
                          conf: org.apache.hadoop.conf.Configuration): Option[Long] =
    try {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      def bytes(st: org.apache.hadoop.fs.FileStatus): Long =
        if (hiddenName(st.getPath.getName)) 0L
        else if (st.isDirectory) fs.listStatus(st.getPath).map(bytes).sum
        else if (leafFilter.forall(_.accept(st.getPath))) st.getLen
        else 0L
      // null = a non-glob path that does not exist (yet)
      Option(fs.globStatus(path)).map(_.map(bytes).sum)
    } catch {
      case _: java.io.FileNotFoundException => None
      case e: Exception =>
        System.err.println(s"[graft] stream width: cannot list source $p " +
          s"(${e.getClass.getName}: ${e.getMessage}); using width $DefaultStreamParts")
        None
    }

  /** The width a given stream should run at — see [[derivedParts]]. */
  private def widthFor(df: DataFrame): Int =
    derivedParts(df).getOrElse(DefaultStreamParts)

  /** Runs `body` with the session's `spark.sql.shuffle.partitions`
    * scoped to [[widthFor]] of `df` — the width rule for the streamed
    * faces that run their OWN `writeStream` instead of draining through
    * [[drainToFiles]] (q228's processing-time latch, which never
    * quiesces). Those faces otherwise inherit the session's BATCH width
    * (32 at driver settings) as their state-store partition count,
    * paying a per-micro-batch commit per store per partition that the
    * derived width already proved unnecessary at the gate SFs. The width
    * must be set BEFORE `start()` — a stateful operator's partition count
    * is fixed at first query start and recorded in the checkpoint — and
    * the previous session width is restored even when `body` throws, so
    * batch queries never keep running at stream width. */
  def withStreamWidth[T](df: DataFrame)(body: => T): T =
    withConfs(df.sparkSession, PartsKey -> widthFor(df).toString)(body)

  private val PartsKey = "spark.sql.shuffle.partitions"

  /** Runs `body` with each (key, value) set on the session conf, then
    * puts every key back as it was (unset if it was unset), even when
    * `body` throws — the one set-and-restore scope behind the width and
    * state-store settings of a stream run. */
  private[streaming] def withConfs[T](spark: SparkSession, confs: (String, String)*)
                                     (body: => T): T = {
    // the explicitly set confs, not `getOption`: a conf left at its
    // default must go back to unset, not to an explicit copy of the default
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The one staged micro-batch replay source. Writes each chunk as one
    * parquet file under a fresh temp root, stamps the files with strictly
    * increasing mtimes in chunk order, and returns the
    * `maxFilesPerTrigger=1` file stream over them, typed by the chunks'
    * own schema — so micro-batch i is chunk i. The file source triggers
    * files oldest-mtime-first with the listing order breaking ties, and
    * chunks written within the same millisecond tie often enough to swap;
    * the order-dependent folds (ListState's recent items, the packing
    * walks) need batch 0 to be chunk 0 by construction, so every replay
    * gets the pin. The stamps are 60 s apart, far beyond any
    * filesystem's timestamp granularity. The root is deleted at JVM exit
    * (the stream reads it lazily). */
  def stagedStream(chunks: Seq[DataFrame]): DataFrame = {
    require(chunks.nonEmpty, "stagedStream needs at least one chunk")
    val root = java.nio.file.Files.createTempDirectory("graft-staged-")
    graft.TempDirs.cleanupOnExit(root)
    val t0 = System.currentTimeMillis() - 60000L * chunks.size
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val dir = s"$root/chunk$i"
      chunk.coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().foreach(_.setLastModified(t0 + 60000L * i))
    }
    chunks.head.sparkSession.readStream.schema(chunks.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/*")
  }

  /** The one id-range micro-batch split of the replay faces: `df` cut
    * into `n` batches by `key`, width `max(key) / n + 1`, batch b
    * holding key ∈ [b·width, (b+1)·width) — always `n` batches at any
    * scale, in key order (one job for the max). */
  def idRangeBatches(df: DataFrame, key: String, n: Int): Seq[DataFrame] = {
    val width = df.agg(max(key)).head.getLong(0) / n + 1
    (0 until n).map(b => df.filter(col(key) >= b * width && col(key) < (b + 1) * width))
  }

  private[streaming] val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private[streaming] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Whether `df`'s analysed plan holds a `transformWithState` operator —
    * the one stateful operator whose multiple state variables need the
    * RocksDB store (the default provider refuses it with
    * `STATE_STORE_MULTIPLE_COLUMN_FAMILIES`). */
  private[streaming] def usesTransformWithState(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])

  /** Runs a bounded streaming DataFrame to completion through a FILE sink
    * and reads the result back — the one drain behind every `SparkEntry`
    * streaming query: results go executor→disk in parallel, never through
    * the driver. `append` mode accumulates each batch's new rows;
    * `complete` mode keeps the last batch's full result (overwrite per
    * batch via `foreachBatch`, the standard pattern for complete-mode
    * output to files — the plain file sink is append-only).
    *
    * The stream runs at [[widthFor]] and, when its plan holds a
    * `transformWithState` operator, on the RocksDB state store; both
    * confs are set inside one [[withConfs]] scope, so the session's
    * batch width and provider are restored however the run ends
    * (micro-batch planning reads them at start(), so the scoped set binds
    * only this query's state layout). Per-batch progress is Spark's own:
    * a `StreamingQueryListener` on the session sees every batch. */
  def drainToFiles(df: DataFrame, mode: String): DataFrame = {
    // update-mode would silently duplicate keys through an append parquet
    // write (each state revision appended as a fresh row) — fail fast.
    require(mode == "append" || mode == "complete",
      s"drainToFiles supports append|complete, got '$mode' (update has no file-write analog)")
    val spark = df.sparkSession
    val root = java.nio.file.Files.createTempDirectory("graft_drain")
    // the drained parquet must outlive this call (the returned DataFrame
    // reads it lazily), so it is deleted at JVM exit
    graft.TempDirs.cleanupOnExit(root)
    val dir = root.toString + "/out"
    val writeMode = if (mode == "complete") "overwrite" else "append"
    val provider =
      if (usesTransformWithState(df)) Seq(ProviderKey -> RocksDbProvider) else Nil
    withConfs(spark, (PartsKey -> widthFor(df).toString) +: provider: _*) {
      val query = df.writeStream.outputMode(mode)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode(writeMode).parquet(dir)
          ()
        }
        .start()
      try query.processAllAvailable()
      finally query.stop()
    }
    if (new java.io.File(dir).exists) spark.read.parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
  }
}
