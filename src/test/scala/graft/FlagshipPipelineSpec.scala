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
    (0 until 10).foreach { i =>
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
    }
    val out = Files.createTempDirectory("graft_imgflag_out").toString
    val stats = FlagshipPipeline.runFromImageDir(spark, dir.toString, out,
      keyframeInterval = 2)
    assert(stats.framesSaved === 7L, "scan truncates at the first undecodable frame")
    assert(stats.keyframes === 4L) // frames 0,2,4,6
    assert(stats.detectionsSent <= 4L * 3)
    // sink A holds the DECODED BGR buffers (w*h*3) of the surviving prefix
    val sizes = spark.read.parquet(s"$out/all")
      .select(length(col("payload"))).distinct().as[Int].collect()
    assert(sizes.toSeq === Seq(w * h * 3), "payloads are decoded 3-channel BGR")
    val framesSeen = spark.read.parquet(s"$out/all")
      .select("frame_number").as[Long].collect().sorted
    assert(framesSeen.toSeq === (0L to 6L))
    // decoded content round-trips: frame 0's pixel (x=1,y=0) was RGB
    // (1,3,7) -> BGR bytes (7,3,1) at offset 3
    val p0 = spark.read.parquet(s"$out/all").filter(col("frame_number") === 0)
      .select("payload").as[Array[Byte]].head()
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
    // fps 30 = the image-dir path's synthetic clock, so ts_us agrees too
    graft.multimodal.AviCodec.writeMjpeg(p, jpegs, w, h, fps = 30)
    p
  }

  private def tmpOut(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    graft.TempDirs.cleanupOnExit(d)
    d.toString
  }

  /** The flagship columns over the AVI, selected as `runFromAvi` does. */
  private def flagshipColumns(df: org.apache.spark.sql.DataFrame) =
    df.select(col("frame_number"), col("ts_us"), col("payload"),
      col("width").as("w"), col("height").as("h"))

  private def rows(out: String, sub: String, order: String) =
    spark.read.parquet(s"$out/$sub").drop("__batch").orderBy(order).collect().toSeq

  test("flagship over AVI: record-all sink, sampled branch, NMS'd JSON payloads") {
    val out = tmpOut("graft_flagship")
    val stats = FlagshipPipeline.runFromAvi(spark, avi, out, keyframeInterval = 3)
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
    // record-all payloads are full BGR frame buffers
    val sizes = spark.read.parquet(s"$out/all")
      .select(length(col("payload"))).distinct().as[Int].collect()
    assert(sizes.toSeq === Seq(w * h * 3))

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
    val b = FlagshipPipeline.runFromAvi(spark, avi, outAvi, keyframeInterval = 3)
    assert(a === b, "RunStats must agree across ingest paths")
    assert(b.framesSaved === 12L && b.keyframes === 4L)

    def sinkRows(out: String, sub: String) = spark.read.parquet(s"$out/$sub")
      .orderBy("frame_number").collect().toSeq
    assert(sinkRows(outImg, "all") === sinkRows(outAvi, "all"),
      "record-all sink: identical decoded BGR payloads and timestamps")
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
    val c = FlagshipPipeline.runFromAvi(spark, corpus.toString, outDir, keyframeInterval = 3)
    assert(c === b, "RunStats must agree for the split-corpus ingest")
    assert(sinkRows(outAvi, "all") === sinkRows(outDir, "all"),
      "corpus-directory ingest must be indistinguishable from the single container")
    assert(sentRows(outAvi) === sentRows(outDir))

    // fourth face (VERDICT r7 item 6): the full fan-out over the same
    // corpus with the record-all sink muxing PARTITIONED VIDEO through
    // saveAviPartitioned instead of parquet — stats must agree with the
    // S1/S2 runs, and scanning the emitted parts back through the
    // connector must reproduce every decoded BGR payload byte-for-byte
    // (raw codec = lossless)
    val outVid = Files.createTempDirectory("graft_aviflag_outD").toString
    val d = FlagshipPipeline.runFromCorpus(spark, corpus.toString, outVid,
      keyframeInterval = 3, numParts = 3)
    assert(d === b, "RunStats must agree when the record-all sink writes video")
    val readBack = spark.read.format("graft-frames")
      .option("path", s"$outVid/all_avi").load()
      .select("frame_number", "payload").orderBy("frame_number").collect().toSeq
    val original = spark.read.parquet(s"$outImg/all")
      .select("frame_number", "payload").orderBy("frame_number").collect().toSeq
    assert(readBack.map(_.getLong(0)) === original.map(_.getLong(0)),
      "part AVIs must cover the same dense frame range")
    assert(readBack.map(_.getAs[Array[Byte]](1).toSeq) ===
      original.map(_.getAs[Array[Byte]](1).toSeq),
      "video record-all holds the exact bytes the parquet record-all would")
  }

  test("runStream at 5 frames per micro-batch equals runFromAvi: stats and sink rows") {
    val outB = tmpOut("graft_flagstream_b")
    val batch = FlagshipPipeline.runFromAvi(spark, avi, outB, keyframeInterval = 3)
    val outS = tmpOut("graft_flagstream_s")
    val frames = flagshipColumns(spark.readStream.format("graft-frames")
      .option("path", avi).option("numPartitions", 4).option("ratePerBatch", 5).load())
    val streamed = FlagshipPipeline.runStream(spark, frames, outS, keyframeInterval = 3)
    assert(streamed === batch, "per-batch stats must sum to the batch run's")
    val batches = spark.read.parquet(s"$outS/all").select("__batch").distinct()
      .as[Long].collect().sorted.toSeq
    assert(batches === Seq(0L, 1L, 2L), "12 frames at 5 per batch = 3 micro-batches")
    assert(rows(outS, "all", "frame_number") === rows(outB, "all", "frame_number"),
      "record-all sink: the batch run's rows, split across __batch leaves")
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
    val (all, sent) = (rows(out, "all", "frame_number"), rows(out, "sent", "payload"))
    assert(stats === FlagshipPipeline.runFromAvi(spark, avi, tmpOut("graft_flagstream_rb"),
      keyframeInterval = 3))
    // a retried batch 1: same id, same frames
    FlagshipPipeline.runBatch(slice(1), 1L, out, 3, perBatch)
    assert(total === stats, "a re-run batch replaces its own stats, never adds")
    assert(rows(out, "all", "frame_number") === all, "record-all leaf overwritten, not appended")
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
