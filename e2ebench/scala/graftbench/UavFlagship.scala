package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.FlagshipPipeline
import graft.multimodal.{Containers, ImageCodec, VideoSink}
import graft.operators.{BBoxOps, LetterboxKernel}

/** `uav_flagship`: the paper's pipeline, `FlagshipPipeline.runFromCorpus`
  * at the reference keyframe interval, over a seeded MJPEG/AVI corpus.
  * Each clip is one request (a drone's uploaded clip); a pass sends every
  * clip once, one after another. The source splits each clip's frames
  * across `cores` partitions, so every core decodes. Clips are long
  * enough (200 frames, 7 keyframes) that decode and the record-all sink
  * outweigh the pipeline's fixed per-request job cost. */
final class UavFlagship(spark: SparkSession, work: File, seed: Long, cores: Int) extends Workload {
  import UavFlagship._

  private val corpusDir = new File(work, "corpus")
  private val outRoot = new File(work, "out")
  private var clips: Seq[File] = Nil
  /** Per clip: pre-NMS boxes of the reference detector, and the count
    * the pipeline must send after NMS. */
  private var expected: Map[File, (Seq[BBoxOps.Box], Long)] = Map.empty

  /** The first pass takes ~2.3x a warm one and the second is still ~10%
    * slower: two untimed passes keep most of the JIT's warming out of
    * the timed window. */
  override def warmupPasses: Int = 2

  def setup(): Seq[(String, Double)] = {
    Generators.deleteTree(work)
    val t0 = Probe.nowSeconds()
    clips = Generators.writeCorpus(corpusDir, seed, Clips, Frames, Width, Height)
    Seq("uav.encode_s" -> (Probe.nowSeconds() - t0))
  }

  override def prepareChecks(): Unit =
    expected = clips.map(c => c -> reference(new File(c, "clip.avi"))).toMap

  def pass(trace: Boolean): PassResult = {
    Generators.deleteTree(outRoot)
    val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var failed = 0
    val errors = Seq.newBuilder[String]
    val ops = clips.map { clip =>
      val out = new File(outRoot, clip.getName)
      val t0 = Probe.nowSeconds()
      val ms = try {
        val st = FlagshipPipeline.runFromCorpus(spark, clip.getPath, out.getPath,
          keyframeInterval = KeyframeInterval, numParts = cores)
        val ms = (Probe.nowSeconds() - t0) * 1e3
        val want = (Frames.toLong, Keyframes, expected(clip)._2)
        val got = (st.framesSaved, st.keyframes, st.detectionsSent)
        if (got != want) {
          failed += 1
          errors += s"${clip.getName}: (frames, keyframes, detections) $got, expected $want"
        }
        layers("uav.frames") += st.framesSaved
        layers("uav.keyframes") += st.keyframes
        layers("uav.detections") += st.detectionsSent
        ms
      } catch { case e: Exception =>
        failed += 1
        errors += s"${clip.getName}: ${e.getClass.getSimpleName}: ${e.getMessage}"
        (Probe.nowSeconds() - t0) * 1e3
      }
      clip.getName -> ms
    }
    if (trace) layers("trace.pass_s") = ops.map(_._2).sum / 1e3
    PassResult(units = clips.size.toLong * Frames, ops = ops, samples = ops.map(_._2),
      layers = layers.toMap, attempted = clips.size, failed = failed, errors = errors.result())
  }

  /** Times the pipeline's layers by calling each module's public
    * functions directly on every clip: container probe, decode through
    * the `graft-frames` source, the partitioned video sink, the letterbox
    * kernel on keyframes, and NMS on the reference detections. */
  override def traceLayers(): Option[PassResult] = {
    val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    clips.foreach(c => traceClip(c, layers))
    Some(PassResult(0, Nil, Nil, layers.toMap, attempted = 0, failed = 0, errors = Nil))
  }

  private def traceClip(clip: File, layers: scala.collection.mutable.Map[String, Double]): Unit = {
    val avi = new File(clip, "clip.avi").getPath
    var t = Probe.nowSeconds()
    def lap(): Double = { val n = Probe.nowSeconds(); val d = n - t; t = n; d }
    Containers.probe(avi); Containers.frameIndex(avi)
    layers("sources.probe_ms") += lap() * 1e3
    val src = spark.read.format("graft-frames").option("path", clip.getPath)
      .option("numPartitions", cores).load()
      .select(col("frame_number"), col("payload"), col("width").as("w"), col("height").as("h"))
      .persist()
    lap()
    src.agg(sum(length(col("payload")))).collect()
    layers("multimodal.decode_s") += lap()
    VideoSink.saveAviPartitioned(src, new File(outRoot, clip.getName + "_trace").getPath,
      codec = "raw", numParts = cores)
    layers("multimodal.sink_s") += lap()
    val keyframes = src.filter(col("frame_number") % KeyframeInterval === 0)
      .select("payload", "w", "h").collect()
    lap()
    keyframes.foreach(r => LetterboxKernel.letterbox(r.getAs[Array[Byte]](0), r.getInt(1), r.getInt(2), Target, 3))
    layers("operators.letterbox_ms") += lap() * 1e3
    src.unpersist()
    import spark.implicits._
    val boxes = expected(clip)._1.toDF()
    lap()
    BBoxOps.nms(spark, boxes, iouThreshold = 0.5).count()
    layers("operators.nms_ms") += lap() * 1e3
  }
}

object UavFlagship {
  val Clips = 5
  val Frames = 200
  val Width = 320
  val Height = 240
  val KeyframeInterval = 30
  val Keyframes: Long = (Frames + KeyframeInterval - 1) / KeyframeInterval
  /** Letterbox side, as in FlagshipPipeline. */
  val Target = 64

  /** Independent reference for the pipeline's detection count: decode
    * each keyframe, letterbox it, apply the pipeline's stub detector,
    * its confidence/class filters, and greedy per-class NMS at IoU 0.5.
    * Returns the pre-NMS boxes (frame key = frame * 5 + class) and the
    * count that survives NMS. */
  def reference(avi: File): (Seq[BBoxOps.Box], Long) = {
    val index = Containers.frameIndex(avi.getPath)
    val raf = new java.io.RandomAccessFile(avi, "r")
    val boxes = try (0 until index.length by KeyframeInterval).flatMap { f =>
      val img = ImageCodec.decode(graft.multimodal.AviCodec.readFrameBytes(raf, index(f))).get
      val p = LetterboxKernel.letterbox(img.pixels, img.width, img.height, Target, 3)
      val c = (Target * Target / 2 + Target / 2) * 3
      (0 until (p(c) + 256) % 4).map { i =>
        val x0 = ((f * 13L + i * 97) % (Target - 20)).toInt
        val y0 = ((f * 29L + i * 53) % (Target - 20)).toInt
        (i, x0, y0, ((p(c + i + 1) + 256) % 256) / 255.0, ((f + i) % 5))
      }.collect { case (i, x0, y0, conf, cls) if conf >= 0.4 && cls <= 2 =>
        BBoxOps.Box(f.toLong * 5 + cls, f.toLong * 10 + i, x0, y0, x0 + 12 + i, y0 + 12 + i, conf)
      }
    } finally raf.close()
    val kept = boxes.groupBy(_.frame).values.map { group =>
      val sorted = group.sortBy(b => (-b.confidence, b.box_id))
      sorted.foldLeft(Vector.empty[BBoxOps.Box]) { (keep, b) =>
        val overlaps = keep.exists { k =>
          val iw = math.max(math.min(b.x1, k.x1) - math.max(b.x0, k.x0), 0L)
          val ih = math.max(math.min(b.y1, k.y1) - math.max(b.y0, k.y0), 0L)
          val inter = iw * ih
          val union = (b.x1 - b.x0) * (b.y1 - b.y0) + (k.x1 - k.x0) * (k.y1 - k.y0) - inter
          inter.toDouble / union >= 0.5
        }
        if (overlaps) keep else keep :+ b
      }.size
    }.sum
    (boxes, kept.toLong)
  }
}
