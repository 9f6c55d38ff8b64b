package graft.multimodal

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** K1's video-file face: the sink ↔ source pair over real containers.
  * The raw (BI_RGB) codec makes the round-trip its own oracle — what
  * goes in comes back byte-identical. */
class VideoSinkSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic BGR frame buffers (w*h*3). */
  private def bgr(seed: Int, w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h * 3)(i => ((i * 31 + seed * 131) % 256).toByte)

  private def framesDf(n: Int, w: Int, h: Int, fps: Option[Int]) = {
    val rows = (0 until n).map(i => (i.toLong, bgr(i, w, h), w, h))
    val base = rows.toDF("frame_number", "payload", "w", "h")
    fps.map(f => base.withColumn("fps", lit(f.toDouble))).getOrElse(base)
  }

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("graft_vsink")
    graft.TempDirs.cleanupOnExit(d)
    d.resolve(name).toString
  }

  test("raw codec: sink -> source round-trip is byte-identical (lossless, its own oracle)") {
    val path = tmp("raw.avi")
    val stats = VideoSink.saveAvi(framesDf(9, 16, 12, Some(30)), path)
    assert(stats === VideoSink.SaveStats(9, 0, 16, 12, 30))
    val meta = AviCodec.probe(path)
    assert(meta.width === 16 && meta.height === 12 && meta.fps === 30.0 && meta.nFrames === 9L)
    assert(meta.handler === "DIB", "raw containers carry the DIB handler")
    // back through the CONNECTOR — the production read path
    val back = spark.read.format("graft-frames").option("path", path)
      .option("numPartitions", 2).load()
      .select("frame_number", "payload")
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(back.map(_._1).toSeq === (0L until 9L))
    back.foreach { case (f, p) =>
      assert(p.toSeq === bgr(f.toInt, 16, 12).toSeq,
        s"frame $f must survive the container byte-exact")
    }
  }

  test("mjpg codec: re-read preserves count, dims, clock; content is decoded JPEG") {
    val path = tmp("mjpg.avi")
    val stats = VideoSink.saveAvi(framesDf(5, 16, 12, Some(10)), path, codec = "mjpg")
    assert(stats.written === 5L && stats.dropped === 0L)
    val meta = AviCodec.probe(path)
    assert(meta.handler === "MJPG" && meta.nFrames === 5L && meta.fps === 10.0)
    val back = spark.read.format("graft-frames").option("path", path).load()
    assert(back.count() === 5L)
    val p0 = back.filter(col("frame_number") === 0).select("payload").as[Array[Byte]].head()
    assert(p0.length === 16 * 12 * 3, "JPEG decodes to a full BGR buffer")
  }

  test("first-frame bind + drop-on-mismatch (frame_processing.py:171-178)") {
    // frames 0-3 are 16x12; frames 4-5 are 8x6 -> bound to the FIRST
    // frame's dims, the two mismatched frames drop and are counted
    val ok = (0 until 4).map(i => (i.toLong, bgr(i, 16, 12), 16, 12))
    val bad = (4 until 6).map(i => (i.toLong, bgr(i, 8, 6), 8, 6))
    val df = (ok ++ bad).toDF("frame_number", "payload", "w", "h")
    val path = tmp("mismatch.avi")
    val stats = VideoSink.saveAvi(df, path)
    assert(stats.written === 4L && stats.dropped === 2L)
    assert(stats.width === 16 && stats.height === 12)
    assert(AviCodec.probe(path).nFrames === 4L)
  }

  test("fps binding: missing/null/nonpositive falls back to DEFAULT_FPS = 25") {
    val noCol = tmp("nofps.avi")
    assert(VideoSink.saveAvi(framesDf(2, 8, 6, None), noCol).fps === 25)
    assert(AviCodec.probe(noCol).fps === 25.0)
    val zero = tmp("zerofps.avi")
    val dfZero = framesDf(2, 8, 6, Some(0))
    assert(VideoSink.saveAvi(dfZero, zero).fps === 25)
  }

  test("MP4 face: sink -> connector round-trip preserves count, dims, clock; bind + drop hold") {
    val path = tmp("sink.mp4")
    val stats = VideoSink.saveMp4(framesDf(7, 16, 12, Some(24)), path)
    assert(stats === VideoSink.SaveStats(7, 0, 16, 12, 24))
    val meta = Mp4Codec.probe(path)
    assert(meta.width === 16 && meta.height === 12 && meta.fps === 24.0 && meta.nFrames === 7L)
    assert(meta.handler === "jpeg", "Photo-JPEG sample entry")
    val back = spark.read.format("graft-frames").option("path", path)
      .option("numPartitions", 2).load()
    val rows = back.select("frame_number", "width", "height", "payload")
      .orderBy("frame_number").collect()
    assert(rows.length === 7)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === i.toLong)
      assert(r.getInt(1) === 16 && r.getInt(2) === 12)
      assert(r.getAs[Array[Byte]](3).length === 16 * 12 * 3,
        s"frame $i decodes to a full BGR buffer (JPEG is lossy; bytes differ)")
    }
    // drop-on-mismatch through the MP4 muxer
    val mixed = framesDf(4, 16, 12, Some(24))
      .union(Seq((4L, bgr(4, 8, 6), 8, 6)).toDF("frame_number", "payload", "w", "h")
        .withColumn("fps", lit(24.0)))
    val p2 = tmp("mixed.mp4")
    assert(VideoSink.saveMp4(mixed, p2) === VideoSink.SaveStats(4, 1, 16, 12, 24))
  }

  test("partitioned sink: part containers reassemble to the exact frame stream") {
    val df = framesDf(40, 8, 6, None)
    val dir = Files.createTempDirectory("graft_vsink_parts")
    graft.TempDirs.cleanupOnExit(dir)
    val written = VideoSink.saveAviPartitioned(df, dir.toString, numParts = 4)
    assert(written === 40L)
    val parts = new java.io.File(dir.toString).listFiles()
      .filter(_.getName.endsWith(".avi")).sortBy(_.getName)
    assert(parts.length > 1, "range partitioning must produce multiple containers")
    // global order = part order (range partitioning), frames in-part
    // ordered: concatenated decode equals the source stream
    val reassembled = parts.toSeq.flatMap { p =>
      val idx = AviCodec.frameIndex(p.toString)
      val raf = new java.io.RandomAccessFile(p, "r")
      val meta = AviCodec.probe(p.toString)
      try idx.toSeq.map(c => AviCodec.decodeChunk(AviCodec.readFrameBytes(raf, c), meta).get.pixels)
      finally raf.close()
    }
    assert(reassembled.length === 40)
    reassembled.zipWithIndex.foreach { case (p, i) =>
      assert(p.toSeq === bgr(i, 8, 6).toSeq, s"frame $i exact after reassembly")
    }
  }

  test("partitioned sink: a rewrite with fewer parts leaves no stale part behind") {
    val dir = Files.createTempDirectory("graft_vsink_rewrite")
    graft.TempDirs.cleanupOnExit(dir)
    val other = dir.resolve("notes.txt")
    Files.write(other, "kept".getBytes)
    assert(VideoSink.saveAviPartitioned(framesDf(40, 8, 6, None), dir.toString, numParts = 4) === 40L)
    val second = (0 until 10).map(i => (i.toLong, bgr(i + 100, 8, 6), 8, 6))
      .toDF("frame_number", "payload", "w", "h")
    assert(VideoSink.saveAviPartitioned(second, dir.toString, numParts = 1) === 10L)
    val back = spark.read.format("graft-frames").option("path", dir.toString).load()
    assert(back.count() === 10L, "only the second write's frames scan back")
    val payloads = back.select("frame_number", "payload").as[(Long, Array[Byte])]
      .collect().sortBy(_._1).map(_._2.toSeq).toSeq
    assert(payloads === (0 until 10).map(i => bgr(i + 100, 8, 6).toSeq))
    assert(Files.exists(other), "files that are not parts stay")
  }
}
