package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{BBoxOps, LetterboxKernel}

class FlagshipPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("letterbox kernel: geometry, pad color, nearest-neighbor content") {
    val w = 8; val h = 4; val t = 8
    val src = Array.tabulate(w * h)(i => i.toByte)
    val out = LetterboxKernel.letterbox(src, w, h, t)
    assert(out.length === t * t)
    // scale = min(8/8, 8/4) = 1.0 -> newW=8, newH=4, padTop=2, padBottom=2
    assert(out.slice(0, 2 * t).forall(_ === 0.toByte), "top pad black")
    assert(out.slice(6 * t, 8 * t).forall(_ === 0.toByte), "bottom pad black")
    assert(out.slice(2 * t, 3 * t).toSeq === src.slice(0, w).toSeq, "first image row")
    // upscale: 2x2 -> 8x8, each source pixel covers a 4x4 block
    val up = LetterboxKernel.letterbox(Array[Byte](1, 2, 3, 4), 2, 2, 8)
    assert(up(0) === 1.toByte && up(7) === 2.toByte)
    assert(up(7 * 8) === 3.toByte && up(63) === 4.toByte)
  }

  test("flagship from a directory of REAL PNGs: ImageIO decode, fan-out, stop-on-unreadable") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    val w = 64; val h = 48
    val dir = Files.createTempDirectory("graft_imgflag")
    // 10 numbered REAL PNG frames; frame 7 is a TRUNCATED PNG (valid
    // signature, torn mid-stream) -> ImageIO decode fails -> the S1 scan
    // must END there: frames 0..6 flow, 7..9 never
    val pngs = (0 until 10).map { i =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      (0 until h).foreach { y =>
        (0 until w).foreach { x =>
          val v = (i * 31 + y * w + x) % 256
          img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 7) % 256))
        }
      }
      val baos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", baos)
      val bytes = baos.toByteArray
      Files.write(dir.resolve(f"frame_$i%04d.png"),
        if (i == 7) bytes.take(48) else bytes)
      bytes
    }
    val out = Files.createTempDirectory("graft_imgflag_out").toString
    val stats = FlagshipPipeline.runFromImageDir(spark, dir.toString, out,
      keyframeInterval = 2)
    assert(stats.framesSaved === 7L, "scan truncates at the first undecodable frame")
    assert(stats.keyframes === 4L) // frames 0,2,4,6
    assert(stats.detectionsSent <= 4L * 3)
    // sink A's video holds the DECODED BGR buffers (w*h*3) of the
    // surviving prefix, in frame order, byte for byte
    val saved = frames(s"$out/all")
    assert(saved.length === 7, "frames 0..6 saved, none past the cut")
    assert(saved.forall(_.length == w * h * 3), "payloads are decoded 3-channel BGR")
    assert(saved === pngs.take(7).map(graft.multimodal.ImageCodec.decode(_).get.pixels.toSeq))
    // decoded content round-trips: frame 0's pixel (x=1,y=0) was RGB
    // (1,3,7) -> BGR bytes (7,3,1) at offset 3
    val p0 = saved.head
    assert((p0(3) & 0xff, p0(4) & 0xff, p0(5) & 0xff) === ((7, 3, 1)),
      "BGR channel order must mirror cv2.imread")
  }

  // ONE set of 12 JPEG frames (64x48) and the MJPEG/AVI muxing them,
  // shared by the ingest cross-check and the streaming cases below
  private val w = 64
  private val h = 48
  private lazy val jpegs = (0 until 12).map { i =>
    import java.awt.image.BufferedImage
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    (0 until h).foreach { y =>
      (0 until w).foreach { x =>
        val v = (i * 31 + y * w + x) % 256
        img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 7) % 256))
      }
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }
  private lazy val dir = {
    val d = Files.createTempDirectory("graft_aviflag_imgs")
    graft.TempDirs.cleanupOnExit(d)
    jpegs.zipWithIndex.foreach { case (b, i) =>
      Files.write(d.resolve(f"frame_$i%04d.jpg"), b)
    }
    d
  }
  private lazy val avi = {
    val p = dir.resolve("movie.avi").toString
    graft.multimodal.AviCodec.writeMjpeg(p, jpegs, w, h, fps = 30)
    p
  }

  private def tmpOut(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    graft.TempDirs.cleanupOnExit(d)
    d.toString
  }

  /** The flagship columns over the AVI, selected as `runFromCorpus` does. */
  private def flagshipColumns(df: org.apache.spark.sql.DataFrame) =
    df.select(col("frame_number"), col("payload"),
      col("width").as("w"), col("height").as("h"))

  private def rows(out: String, sub: String, order: String) =
    spark.read.parquet(s"$out/$sub").drop("__batch").orderBy(order).collect().toSeq

  /** Every frame's decoded BGR payload in a container file or directory
    * of them, scanned through `graft-frames`, in frame order: the
    * source clip, or sink A's part AVIs scanned back. */
  private def frames(path: String): Seq[Seq[Byte]] =
    spark.read.format("graft-frames").option("path", path).load()
      .select("frame_number", "payload").as[(Long, Array[Byte])].collect()
      .sortBy(_._1).map(_._2.toSeq).toSeq

  /** The AVI's decoded frames: what sink A must save from any face. */
  private lazy val aviFrames = frames(avi)

  /** Sink A's `all/__batch=<id>` leaves as (id, path), in NUMERIC id
    * order: a path sort puts `__batch=10` before `__batch=2`. */
  private def batchLeaves(out: String): Seq[(Long, String)] =
    new java.io.File(s"$out/all").listFiles().toSeq.map(_.getName)
      .collect { case n @ s"__batch=$id" => (id.toLong, s"$out/all/$n") }
      .sortBy(_._1)

  /** The stream face's saved frames: the leaves' scans, in batch order. */
  private def streamedFrames(out: String): Seq[Seq[Byte]] =
    batchLeaves(out).flatMap { case (_, leaf) => frames(leaf) }

  test("flagship over AVI: record-all sink, sampled branch, NMS'd JSON payloads") {
    val out = tmpOut("graft_flagship")
    val stats = FlagshipPipeline.runFromCorpus(spark, avi, out, keyframeInterval = 3)
    assert(stats.framesSaved === 12L)
    assert(stats.keyframes === 4L) // every 3rd of 12
    assert(stats.detectionsSent > 0L)
    assert(stats.detectionsSent <= stats.keyframes * 3, "at most 3 boxes/frame survive")
    // sink B payloads are valid JSON carrying the sender's fields
    def field(path: String) = get_json_object(col("payload"), path)
    val parsed = spark.read.parquet(s"$out/sent").select(
      field("$.frame_number").cast("long").as("frame"),
      field("$.detection.class_id").cast("int").as("class_id"),
      field("$.detection.x0").cast("long").as("x0"), field("$.detection.y0").cast("long").as("y0"),
      field("$.detection.x1").cast("long").as("x1"), field("$.detection.y1").cast("long").as("y1"),
      field("$.detection.confidence").cast("double").as("confidence"))
    assert(parsed.filter(parsed.columns.map(col(_).isNull).reduce(_ || _)).count() === 0L)
    assert(parsed.filter(col("confidence") < 0.4).count() === 0L, "confidence threshold held")
    // record-all video holds the full BGR frame buffers, in frame order
    val saved = frames(s"$out/all")
    assert(saved.forall(_.length == w * h * 3))
    assert(saved === aviFrames, "sink A saves the source decode byte for byte")

    // parity with the exchange-based form: the detector's pre-NMS boxes,
    // filtered and keyed frame * 5 + class, through the BBoxOps.nms face
    val packed = flagshipColumns(spark.read.format("graft-frames").option("path", avi).load())
      .filter(col("frame_number") % 3 === 0)
      .select("frame_number", "payload", "w", "h").collect().toSeq
      .flatMap { r =>
        val f = r.getLong(0)
        val resized = LetterboxKernel.letterbox(r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3),
          FlagshipPipeline.Target, 3)
        FlagshipPipeline.detect(f, resized).collect {
          case (b, cls) if b.confidence >= 0.4 && Set(0, 1, 2)(cls) => b.copy(frame = f * 5 + cls)
        }
      }
    val viaFace = BBoxOps.nms(spark, packed.toDF(), iouThreshold = 0.5)
      .select(expr("frame div 5").as("frame"), expr("cast(frame % 5 as int)").as("class_id"),
        col("x0"), col("y0"), col("x1"), col("y1"), round(col("confidence"), 4).as("confidence"))
    val expected = viaFace.as[(Long, Int, Long, Long, Long, Long, Double)].collect()
    assert(expected.length.toLong === stats.detectionsSent)
    assert(parsed.as[(Long, Int, Long, Long, Long, Long, Double)].collect().toSet === expected.toSet)
  }

  test("flagship from a REAL MJPEG/AVI container equals the image-dir run on the same JPEGs") {
    // ONE set of JPEG bytes, ingested two ways: numbered files in a
    // directory (S1) and chunks in an AVI container (S2). Decode runs
    // through the same ImageIO path in both, so every downstream stage —
    // letterbox, detector, NMS, both sinks — must produce identical rows.
    val outImg = Files.createTempDirectory("graft_aviflag_outA").toString
    val outAvi = Files.createTempDirectory("graft_aviflag_outB").toString
    val a = FlagshipPipeline.runFromImageDir(spark, dir.toString, outImg, keyframeInterval = 3)
    val b = FlagshipPipeline.runFromCorpus(spark, avi, outAvi, keyframeInterval = 3)
    assert(a === b, "RunStats must agree across ingest paths")
    assert(b.framesSaved === 12L && b.keyframes === 4L)

    assert(aviFrames === jpegs.map(graft.multimodal.ImageCodec.decode(_).get.pixels.toSeq),
      "the container scan decodes the JPEGs the image directory holds")
    assert(frames(s"$outImg/all") === aviFrames,
      "image-dir record-all video: the decoded BGR payloads, in frame order")
    assert(frames(s"$outAvi/all") === aviFrames,
      "container record-all video: the decoded BGR payloads, in frame order")
    def sentRows(out: String) = spark.read.parquet(s"$out/sent")
      .orderBy("payload").collect().toSeq
    assert(sentRows(outImg) === sentRows(outAvi),
      "sender sink: identical JSON payloads (letterbox+detector+NMS agree byte-for-byte)")

    // third ingest face: the SAME jpegs split across TWO containers in
    // a corpus directory — the multi-file scan's global frame index must
    // reproduce the single-container run bit-for-bit
    val corpus = Files.createTempDirectory("graft_aviflag_corpus")
    graft.TempDirs.cleanupOnExit(corpus)
    graft.multimodal.AviCodec.writeMjpeg(
      corpus.resolve("part_00.avi").toString, jpegs.take(7), w, h, fps = 30)
    graft.multimodal.AviCodec.writeMjpeg(
      corpus.resolve("part_01.avi").toString, jpegs.drop(7), w, h, fps = 30)
    val outDir = Files.createTempDirectory("graft_aviflag_outC").toString
    val c = FlagshipPipeline.runFromCorpus(spark, corpus.toString, outDir, keyframeInterval = 3)
    assert(c === b, "RunStats must agree for the split-corpus ingest")
    assert(frames(s"$outDir/all") === aviFrames,
      "corpus-directory ingest must be indistinguishable from the single container")
    assert(sentRows(outAvi) === sentRows(outDir))

    // the same corpus at another sink width: 3 range parts instead of 4
    // hold the same frames (raw codec = lossless)
    val outVid = Files.createTempDirectory("graft_aviflag_outD").toString
    val d = FlagshipPipeline.runFromCorpus(spark, corpus.toString, outVid,
      keyframeInterval = 3, numParts = 3)
    assert(d === b, "RunStats must not depend on the part count")
    assert(frames(s"$outVid/all") === aviFrames,
      "part AVIs reassemble to the decoded frames, whatever the part count")
  }

  test("runStream at 5 frames per micro-batch equals runFromCorpus: stats and sink rows") {
    val outB = tmpOut("graft_flagstream_b")
    val batch = FlagshipPipeline.runFromCorpus(spark, avi, outB, keyframeInterval = 3)
    val outS = tmpOut("graft_flagstream_s")
    val input = flagshipColumns(spark.readStream.format("graft-frames")
      .option("path", avi).option("numPartitions", 4).option("ratePerBatch", 5).load())
    val streamed = FlagshipPipeline.runStream(spark, input, outS, keyframeInterval = 3)
    assert(streamed === batch, "per-batch stats must sum to the batch run's")
    assert(batchLeaves(outS).map(_._1) === Seq(0L, 1L, 2L),
      "12 frames at 5 per batch = 3 micro-batches")
    assert(batchLeaves(outS).map { case (_, leaf) => frames(leaf).length } === Seq(5, 5, 2))
    assert(streamedFrames(outS) === aviFrames,
      "record-all video: the decoded frames, split across __batch leaves in order")
    assert(rows(outS, "sent", "payload") === rows(outB, "sent", "payload"),
      "sender sink: the batch run's JSON payloads")
  }

  test("re-running a micro-batch with a written batch id leaves rows and stats unchanged") {
    val source = flagshipColumns(spark.read.format("graft-frames")
      .option("path", avi).option("numPartitions", 4).load())
    def slice(b: Long) =
      source.filter(col("frame_number") >= b * 5 && col("frame_number") < b * 5 + 5)
    val out = tmpOut("graft_flagstream_replay")
    val perBatch = scala.collection.mutable.Map.empty[Long, FlagshipPipeline.RunStats]
    (0L to 2L).foreach(b => FlagshipPipeline.runBatch(slice(b), b, out, 3, perBatch))
    def total = perBatch.values.reduce(_ + _)
    val stats = total
    val (leaf1, sent) = (frames(s"$out/all/__batch=1"), rows(out, "sent", "payload"))
    assert(stats === FlagshipPipeline.runFromCorpus(spark, avi, tmpOut("graft_flagstream_rb"),
      keyframeInterval = 3))
    assert(streamedFrames(out) === aviFrames)
    // a retried batch 1: same id, same frames
    FlagshipPipeline.runBatch(slice(1), 1L, out, 3, perBatch)
    assert(total === stats, "a re-run batch replaces its own stats, never adds")
    assert(frames(s"$out/all/__batch=1") === leaf1, "record-all leaf overwritten, not appended")
    assert(streamedFrames(out) === aviFrames)
    assert(rows(out, "sent", "payload") === sent, "sender leaf overwritten, not appended")
  }

  test("runStream over a stream with no input returns zero stats") {
    val empty = flagshipColumns(spark.readStream.format("graft-frames")
      .option("frames", 0).load())
    val out = tmpOut("graft_flagstream_empty")
    assert(FlagshipPipeline.runStream(spark, empty, out, keyframeInterval = 3) ===
      FlagshipPipeline.RunStats(0L, 0L, 0L))
  }
}
