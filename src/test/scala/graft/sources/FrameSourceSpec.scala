package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

class FrameSourceSpec extends SparkSpec {
  import spark.implicits._

  private def frames(n: Int) =
    spark.read.format("graft-frames")
      .option("frames", n).option("numPartitions", 4).load()

  test("generates the full deterministic frame range across partitions") {
    val df = frames(1001)
    assert(df.count() === 1001L)
    val ids = df.select("frame_number").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 1001L))
    // payload deterministic
    val p = df.filter(col("frame_number") === 7).select("payload")
      .as[Array[Byte]].head()
    assert(p.toSeq === graft.sources.v2.FrameSource.payloadFor(7L).toSeq)
  }

  test("every scan metric re-instantiates by reflection with the same name") {
    // Spark's SQL status listener re-creates driver-side metrics this way
    val config = v2.FrameSource.Config(new CaseInsensitiveStringMap(java.util.Map.of()))
    val metrics = new v2.FrameScan(config, v2.FrameSource.schema, 0L, 10L)
      .supportedCustomMetrics()
    assert(metrics.map(_.name()).toSet === Set("skippedContainers", "droppedFrames"))
    metrics.foreach { m =>
      assert(m.getClass.getDeclaredConstructor().newInstance().name() === m.name())
    }
  }

  test("column pruning reaches the connector (payload never generated)") {
    val pruned = frames(100).select("frame_number", "width")
    val desc = pruned.queryExecution.executedPlan.toString
    assert(desc.contains("cols=frame_number,width"), desc.linesIterator.take(5).mkString("\n"))
  }

  test("streaming face: checkpointed restart resumes without replaying frames") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    def start() = spark.readStream.format("graft-frames")
      .option("frames", 2000).option("ratePerBatch", 300).option("numPartitions", 2)
      .load().select("frame_number")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    // first run: a couple of batches, then stop mid-stream
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    // second run from the same checkpoint must not duplicate anything
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out).select("frame_number").as[Long].collect().sorted
    assert(got.length === 2000, s"got ${got.length} rows — restart replayed or lost frames")
    assert(got.toSeq === (0L until 2000L))
  }

  test("streaming face: Trigger.AvailableNow drains every frame in one run") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val ckpt = Files.createTempDirectory("graft_an_ckpt").toString
    val out = Files.createTempDirectory("graft_an_out").toString
    val q = spark.readStream.format("graft-frames")
      .option("frames", 1500).option("ratePerBatch", 400).option("numPartitions", 2)
      .load().select("frame_number")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(out).count() === 1500L)
  }

  test("frame_number range predicates push into the scan bounds") {
    val df = frames(10000)
      .filter(col("frame_number") >= 100 && col("frame_number") < 200)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("[100, 200)"), desc.linesIterator.take(5).mkString("\n"))
    assert(df.count() === 100L)
  }

  // ------------------------------------------------- real AVI decode face

  private def jpeg(seed: Int, w: Int = 32, h: Int = 24): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 7 + y * 13 + seed * 31) * 2654435761L).toInt & 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  private def writeAvi(name: String, frames: Seq[Array[Byte]], fps: Int = 25): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_avi_src")
    graft.TempDirs.cleanupOnExit(d)
    val p = d.resolve(name).toString
    graft.multimodal.AviCodec.writeMjpeg(p, frames, 32, 24, fps)
    p
  }

  test("avi path: container-probed metadata and real BGR decode across partitions") {
    val jpegs = (0 until 20).map(jpeg(_))
    val path = writeAvi("real.avi", jpegs)
    val df = spark.read.format("graft-frames")
      .option("path", path).option("numPartitions", 4).load()
    assert(df.count() === 20L)
    // metadata columns come from the container probe, not defaults
    val meta = df.select("width", "height", "fps").distinct().collect()
    assert(meta.length === 1)
    assert(meta(0).getInt(0) === 32 && meta(0).getInt(1) === 24 && meta(0).getDouble(2) === 25.0)
    // payload is the DECODED BGR buffer, byte-identical to the image-dir
    // decode of the same JPEG (same ImageIO path) — the S1/S2 cross-check
    val p7 = df.filter(col("frame_number") === 7).select("payload")
      .as[Array[Byte]].head()
    val want = graft.multimodal.ImageCodec.decode(jpegs(7)).get
    assert(p7.toSeq === want.pixels.toSeq)
    assert(p7.length === 32 * 24 * 3)
  }

  test("avi path: frame_number pushdown bounds which frames are decoded") {
    val path = writeAvi("push.avi", (0 until 50).map(jpeg(_)))
    val df = spark.read.format("graft-frames").option("path", path).load()
      .filter(col("frame_number") >= 10 && col("frame_number") < 15)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("[10, 15)"), desc.linesIterator.take(5).mkString("\n"))
    assert(df.select("frame_number").as[Long].collect().sorted.toSeq === (10L until 15L))
  }

  test("avi path: an undecodable frame ends the scan (cap.read -> False -> EOF)") {
    val jpegs = (0 until 10).map(i =>
      if (i == 6) "definitely not a jpeg".getBytes("UTF-8") else jpeg(i))
    // ONE partition: the sequential-decode semantic of the reference
    // (a parallel scan bounds the loss to the corrupt frame's partition)
    val path = writeAvi("corrupt.avi", jpegs)
    val df = spark.read.format("graft-frames")
      .option("path", path).option("numPartitions", 1).load()
    // payload must be CONSUMED (not just projected-then-dropped —
    // Catalyst would collapse that and prune the codec away entirely,
    // as the next test asserts): length() forces the decode
    val got = df.select(col("frame_number"), length(col("payload")).as("len"))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === (0L until 6L),
      "frames before the corrupt chunk flow; it and later never emit")
    assert(got.forall(_._2 === 32 * 24 * 3))
  }

  test("avi path: metadata-only scan never decodes a frame (pruning skips the codec)") {
    // a corrupt FIRST frame would kill any decoding scan immediately —
    // a pruned metadata query must still read all frame numbers
    val jpegs = "corrupt first frame".getBytes("UTF-8") +: (1 until 5).map(jpeg(_))
    val path = writeAvi("pruned.avi", jpegs)
    val df = spark.read.format("graft-frames")
      .option("path", path).option("numPartitions", 1).load()
      .select("frame_number", "ts_us")
    assert(df.select("frame_number").as[Long].collect().sorted.toSeq === (0L until 5L),
      "metadata-only scan must not touch the codec")
  }

  test("avi directory: every container scans as one relation with a global frame index") {
    // three containers of different lengths (5, 7, 3), name order
    val d = java.nio.file.Files.createTempDirectory("graft_avi_dir")
    graft.TempDirs.cleanupOnExit(d)
    val sizes = Seq(5, 7, 3)
    val all = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    sizes.zipWithIndex.foreach { case (n, i) =>
      val frames = (0 until n).map(k => jpeg(i * 100 + k))
      all ++= frames
      graft.multimodal.AviCodec.writeMjpeg(
        d.resolve(f"clip_$i%02d.avi").toString, frames, 32, 24, 25)
    }
    val df = spark.read.format("graft-frames")
      .option("path", d.toString).option("numPartitions", 4).load()
    assert(df.count() === 15L)
    val got = df.select("frame_number", "payload")
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === (0L until 15L), "global dense frame numbers across files")
    got.foreach { case (f, p) =>
      val want = graft.multimodal.ImageCodec.decode(all(f.toInt)).get.pixels
      assert(p.toSeq === want.toSeq, s"global frame $f maps to the right file-local chunk")
    }
    // pushdown lands mid-directory: a range inside the SECOND file
    val mid = df.filter(col("frame_number") >= 6 && col("frame_number") < 10)
      .select("frame_number").as[Long].collect().sorted
    assert(mid.toSeq === (6L until 10L))
  }

  test("avi directory: the partitioned video sink's output is directly re-readable") {
    // sink -> directory of part containers -> source: the round trip
    // that makes saveAviPartitioned a first-class storage layout
    val src = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8 * 6 * 3)(j => ((j * 31 + i * 131) % 256).toByte), 8, 6)
    }.toDF("frame_number", "payload", "w", "h")
    val dir = java.nio.file.Files.createTempDirectory("graft_avi_sinkdir")
    graft.TempDirs.cleanupOnExit(dir)
    val written = graft.multimodal.VideoSink
      .saveAviPartitioned(src, dir.toString, numParts = 3)
    assert(written === 30L)
    val back = spark.read.format("graft-frames")
      .option("path", dir.toString).option("numPartitions", 3).load()
      .select("frame_number", "payload")
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(back.length === 30)
    // raw codec + range-partitioned parts in name order: payload bytes
    // round-trip exactly, global order = source order
    val wantByFrame = src.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    back.foreach { case (f, p) =>
      assert(p.toSeq === wantByFrame(f).toSeq, s"frame $f exact through sink->dir->source")
    }
  }

  test("avi directory: streaming face ingests a container corpus with bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    val d = java.nio.file.Files.createTempDirectory("graft_avi_sdir")
    graft.TempDirs.cleanupOnExit(d)
    (0 until 3).foreach { i =>
      graft.multimodal.AviCodec.writeMjpeg(
        d.resolve(f"clip_$i%02d.avi").toString, (0 until 4).map(k => jpeg(i * 10 + k)), 32, 24, 25)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft_avi_sdir_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_avi_sdir_out").toString
    val q = spark.readStream.format("graft-frames")
      .option("path", d.toString).option("ratePerBatch", 5).option("numPartitions", 2)
      .load().select("frame_number", "payload")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).select("frame_number").as[Long].collect().sorted
    assert(got.toSeq === (0L until 12L),
      "micro-batches admit 5 global frames at a time across file boundaries")
  }

  test("avi path: streaming face drains the container with AvailableNow, offsets replayable") {
    import org.apache.spark.sql.streaming.Trigger
    val jpegs = (0 until 12).map(jpeg(_))
    val path = writeAvi("stream.avi", jpegs)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_avi_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_avi_out").toString
    val q = spark.readStream.format("graft-frames")
      .option("path", path).option("ratePerBatch", 5).option("numPartitions", 2)
      .load().select("frame_number", "payload")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    assert(got.count() === 12L)
    val p3 = got.filter(col("frame_number") === 3).select("payload").as[Array[Byte]].head()
    assert(p3.toSeq === graft.multimodal.ImageCodec.decode(jpegs(3)).get.pixels.toSeq)
  }
}
