package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BBoxOps, LetterboxKernel}
import graft.streaming.EventStreams

/** The reference's flagship pipeline (`/root/reference/uav/main.py:74-179`)
  * composed end-to-end from graft operators:
  *
  * {{{
  *   frame source (image dir, container, corpus or stream; BGR rows)
  *     ├─ sink A: record-all video     (FrameSaver, main.py:113)
  *     └─ every-Nth keyframe filter    (main.py:116)
  *          → per keyframe row:
  *              letterbox pixel kernel (FrameResizer, main.py:122)
  *              → stub detector        (ObjectDetector, main.py:125)
  *              → conf/class filters   (frame_processing.py:93,103)
  *              → per-class NMS        (YOLO-internal post-processing)
  *          → explode                  (one row per kept box)
  *          → JSON payload sink B      (FrameSender, main.py:134)
  * }}}
  *
  * One cached pass feeds both consumers (§4.1 "single sequential pass
  * shared by both sinks"). Sink A is the same on every face: raw
  * (lossless) partitioned AVI through
  * [[graft.multimodal.VideoSink.saveAviPartitioned]], which keeps frame
  * order and the exact BGR bytes. Each part binds the reference's
  * `DEFAULT_FPS` = 25, so the saved clock is not the source's `ts_us`;
  * a frame whose dims differ from its part's first frame drops and is
  * not counted as saved (frame_processing.py:171-178).
  *
  * NMS runs inside each keyframe's row, as YOLO runs it per image:
  * `frame_number` is a key of every source face (the connector's global
  * index, the image directory's dense id, a stream's disjoint batches),
  * so one frame is one row and no box ever needs a regroup. The
  * detector is a deterministic stand-in (model weights unavailable —
  * SURVEY.md §7.3 non-goals): [[detect]] derives boxes from payload
  * bytes, and a real model replaces that one function.
  */
object FlagshipPipeline {

  final case class RunStats(framesSaved: Long, keyframes: Long, detectionsSent: Long) {
    def +(o: RunStats): RunStats = RunStats(framesSaved + o.framesSaved,
      keyframes + o.keyframes, detectionsSent + o.detectionsSent)
  }

  /** Letterbox side of the detector input. */
  private[graft] val Target = 64
  /** Interleaved BGR: every source face decodes to 3 channels. */
  private val Channels = 3

  /** Stub detector over one letterboxed keyframe: 0..3 boxes, each with
    * its class id, derived from buffer stats. Stats sample the image
    * CENTER (first channel = B) — the letterbox pad rows are black. */
  private[graft] def detect(frame: Long, resized: Array[Byte]): Seq[(BBoxOps.Box, Int)] = {
    val c = (Target * Target / 2 + Target / 2) * Channels
    (0 until (resized(c) + 256) % 4).map { i =>
      val x0 = (frame * 13 + i * 97) % (Target - 20)
      val y0 = (frame * 29 + i * 53) % (Target - 20)
      (BBoxOps.Box(frame, frame * 10 + i, x0, y0, x0 + 12 + i, y0 + 12 + i,
        ((resized(c + i + 1) + 256) % 256) / 255.0), ((frame + i) % 5).toInt)
    }
  }

  /** YOLO's post-processing on one frame's detections: confidence ≥ 0.4
    * and class ∈ {0, 1, 2} (frame_processing.py:93,103), then greedy NMS
    * within each class (YOLO suppresses within a class, not across). */
  private def postProcess(dets: Seq[(BBoxOps.Box, Int)]): Seq[(BBoxOps.Box, Int)] =
    dets.filter { case (b, cls) => b.confidence >= 0.4 && Set(0, 1, 2)(cls) }
      .groupBy(_._2).toSeq
      .flatMap { case (cls, ds) =>
        BBoxOps.greedyNms(ds.map(_._1), iouThreshold = 0.5).map(_ -> cls)
      }

  /** The fan-out fed from an S1 image DIRECTORY — the reference's
    * primary demo path (`main.py:74-86`: a folder of numbered frames).
    * [[graft.sources.Sources.imageDir]] supplies the ordering (digit run
    * in the stem, nulls last) and the stop-on-first-unreadable cut, so a
    * corrupt frame mid-directory truncates the run BEFORE either sink
    * sees it — exactly the reference's scan-ending decode failure.
    *
    * Files are REAL images: [[graft.multimodal.ImageCodec]] decodes
    * JPEG/PNG/BMP via the JDK's ImageIO into interleaved BGR exactly like
    * the reference's `cv2.imread` (`frame_reader.py:96-104`), with
    * per-image dimensions; a corrupt or truncated file decodes to NULL,
    * which IS the stop-on-unreadable predicate — `imread → None → stop`.
    * The decode runs once, inside the source's persisted scan, shared by
    * the cut aggregate and both sinks.
    */
  def runFromImageDir(spark: SparkSession, dir: String, outDir: String,
                      keyframeInterval: Int = EventStreams.KeyframeInterval): RunStats = {
    val source = graft.sources.Sources.imageDir(spark, dir,
        derived = Seq("decoded" ->
          graft.multimodal.ImageCodec.decodeUdf(col("content"))),
        unreadable = col("decoded").isNull)
      .select(col("frame_number"), col("decoded.pixels").as("payload"),
        col("decoded.width").as("w"), col("decoded.height").as("h"))
    runFromSource(source, outDir, keyframeInterval)
  }

  /** The same fan-out fed from REAL video containers — the reference's
    * primary production path (`main.py:88-96`: point the pipeline at an
    * `.mp4`/RTSP url). `corpusDir` is one container file or a directory
    * of them, scanned as one relation with a global frame index through
    * the S2 `graft-frames` connector: container-probed metadata,
    * partition-parallel in-JVM decode ([[graft.multimodal.AviCodec]]:
    * RIFF chunk walk → per-frame JPEG → ImageIO → BGR), pushdown and
    * pruning intact. The payload bytes are byte-identical to decoding
    * the same JPEGs from an S1 image directory, so the ingest paths are
    * cross-checkable (FlagshipPipelineSpec pins that equality).
    * `numParts` is both the scan's and sink A's partition count. */
  def runFromCorpus(spark: SparkSession, corpusDir: String, outDir: String,
                    keyframeInterval: Int = EventStreams.KeyframeInterval,
                    numParts: Int = 4): RunStats = {
    val source = spark.read.format("graft-frames")
      .option("path", corpusDir)
      .option("numPartitions", numParts)
      .load()
      .select(col("frame_number"), col("payload"),
        col("width").as("w"), col("height").as("h"))
    runFromSource(source, outDir, keyframeInterval, numParts)
  }

  /** The same fan-out over a STREAMING frame relation — the reference's
    * live loop (`main.py:109-160`) as micro-batches: each batch runs the
    * batch body unchanged, writing its own `all/__batch=<id>` and
    * `sent/__batch=<id>` leaves. `frames` carries the flagship columns
    * (frame_number, payload, w, h) with BGR payloads, e.g. a
    * `readStream.format("graft-frames")` scan selected as in
    * [[runFromCorpus]]. Runs the stream to completion and returns the
    * summed per-batch stats; an empty stream runs no batch and returns
    * zeros. */
  def runStream(spark: SparkSession, frames: DataFrame, outDir: String,
                keyframeInterval: Int = EventStreams.KeyframeInterval): RunStats = {
    val perBatch = scala.collection.concurrent.TrieMap.empty[Long, RunStats]
    val query = frames.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        runBatch(batch, id, outDir, keyframeInterval, perBatch)
      }
      .start()
    try query.processAllAvailable()
    finally query.stop()
    perBatch.values.foldLeft(RunStats(0, 0, 0))(_ + _)
  }

  /** One micro-batch of [[runStream]], exactly-once under retry: the
    * body overwrites the batch's own leaves, and its stats replace the
    * batch's entry in `perBatch`, so a re-run batch replaces its rows
    * and its counts instead of adding to them. */
  private[graft] def runBatch(batch: DataFrame, batchId: Long, outDir: String,
                              keyframeInterval: Int,
                              perBatch: scala.collection.mutable.Map[Long, RunStats]): Unit =
    perBatch(batchId) = runFromSource(batch, outDir, keyframeInterval,
      leaf = s"/__batch=$batchId")

  /** Source-agnostic flagship body: any (frame_number, payload, w, h)
    * relation with row-major BGR-interleaved byte payloads, one row per
    * frame, fans out to both sinks. Dimensions are per-ROW (a directory
    * of mixed image sizes letterboxes each to the same square, like the
    * reference). Sink A writes `numParts` range parts. `leaf` names the
    * sinks' sub-directory (a micro-batch's `/__batch=<id>`; empty in
    * batch). */
  private def runFromSource(source0: DataFrame, outDir: String, keyframeInterval: Int,
                            numParts: Int = 4, leaf: String = ""): RunStats = {
    val source = source0.persist() // one decode pass, two consumers (main.py:109-134)

    // every count comes from an Observation on the write that produces
    // it — no job re-reads an output or re-scans the source to count
    def counted(df: DataFrame): (DataFrame, Observation) = {
      val obs = Observation()
      (df.observe(obs, count(lit(1)).as("n")), obs)
    }
    def seen(obs: Observation): Long = obs.get("n").asInstanceOf[Long]

    // sink A: record-all, muxed into partitioned raw AVI; it returns
    // the frames it wrote
    val framesSaved = graft.multimodal.VideoSink.saveAviPartitioned(
      source, s"$outDir/all$leaf", codec = "raw", numParts)

    // sampled branch: letterbox -> detect -> filter -> NMS inside each
    // keyframe row, then one row per kept box
    val keptUdf = udf((frame: Long, p: Array[Byte], w: Int, h: Int) =>
      postProcess(detect(frame, LetterboxKernel.letterbox(p, w, h, Target, Channels))))
    val (keyframes, keyframesSeen) =
      counted(source.filter(col("frame_number") % keyframeInterval === 0))
    val kept = keyframes
      .select(explode(keptUdf(col("frame_number"), col("payload"), col("w"), col("h")))
        .as("d"))
      .select(col("d._1.*"), col("d._2").as("class_id"))

    // sink B: JSON payloads, confidence rounded to 4dp like the sender
    // (frame_processing.py:236)
    val (sent, detectionsSent) = counted(kept)
    sent.select(col("frame"), to_json(struct(
        col("frame").as("frame_number"),
        struct(col("x0"), col("y0"), col("x1"), col("y1"),
          col("class_id"),
          round(col("confidence"), 4).as("confidence")).as("detection")))
        .as("payload"))
      .write.mode("overwrite").parquet(s"$outDir/sent$leaf")

    source.unpersist()
    RunStats(framesSaved, seen(keyframesSeen), seen(detectionsSent))
  }
}
