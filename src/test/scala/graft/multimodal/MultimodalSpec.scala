package graft.multimodal

import java.nio.file.Files

import graft.{SparkSpec, Tables}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("feature extraction feeds the similarity surface end-to-end") {
    val docs = Tables.documents(spark, sf0001)
    val media = Multimodal.ingest(spark, docs)
    val feats = Multimodal.extractFeatures(spark, media)
    val rows = feats.collect()
    assert(rows.length === docs.count())
    assert(rows.forall(_.embedding.length === 16))
    assert(rows.forall(r => math.abs(r.embedding.sum - 1.0f) < 1e-3), "normalized histogram")
    // exact duplicate payloads -> identical features -> mutual top-1 at
    // cosine 1.0 through the similarity surface
    import org.apache.spark.sql.functions.col
    val dupMedia = Seq(
      Multimodal.MediaRecord(9001L, "same bytes here".getBytes("UTF-8"), "image"),
      Multimodal.MediaRecord(9002L, "same bytes here".getBytes("UTF-8"), "image"),
      Multimodal.MediaRecord(9003L, "completely different payload content!".getBytes("UTF-8"), "image"))
      .toDS()
    val dupVecs = Multimodal.extractFeatures(spark, dupMedia)
      .toDF().select(col("vec_id"), col("embedding"))
    val knn = graft.similarity.Ann.bruteForceKnn(dupVecs, dupVecs, 1)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(knn(9001L) === ((9002L, 1.0)))
    assert(knn(9002L) === ((9001L, 1.0)))
  }

  test("extractFrames writes one frame_%05d partition per kept frame") {
    val out = Files.createTempDirectory("graft_frames").toString
    val media = Multimodal.ingest(spark,
      Tables.documents(spark, sf0001).limit(5))
    Multimodal.extractFrames(spark, media, out)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("frame_file="))
    assert(dirs.nonEmpty)
    assert(dirs.forall(_.matches("frame_file=frame_\\d{5}")))
    val kept = Multimodal.sampleFrames(spark, media).count()
    assert(spark.read.parquet(out).count() === kept)
  }

  test("streaming audio: a growing WAV directory decodes through an unbounded binaryFile scan") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_wav_stream")
    graft.TempDirs.cleanupOnExit(dir)
    (0 until 4).foreach { d =>
      val samples = Array.tabulate(600)(i => ((i * 73 + d * 131) % 4001) - 2000)
      Files.write(dir.resolve(s"doc_$d.wav"),
        WavCodec.writePcm16Mono(samples, 8000))
    }
    // the S3 audio face: same decode UDFs, unbounded source — per-file
    // sample counts and peaks arrive as the directory grows
    // binaryFile's fixed schema, stated explicitly — streaming sources
    // don't infer (and for binaryFile there is nothing to infer anyway)
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val stream = spark.readStream.format("binaryFile").schema(binarySchema)
      .option("pathGlobFilter", "*.wav").load(dir.toString)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.wav$", 1).cast("long").as("doc_id"),
        WavCodec.samplesUdf(col("content")).as("samples"))
      .select(col("doc_id"), size(col("samples")).as("n_samples"),
        aggregate(transform(col("samples"), s => abs(s)),
          lit(0), (acc, x) => greatest(acc, x)).as("peak"))
    val out = graft.streaming.EventStreams.drainToFiles(stream, "append")
      .orderBy("doc_id")
      .collect()
    assert(out.length === 4)
    out.zipWithIndex.foreach { case (r, d) =>
      assert(r.getLong(0) === d.toLong)
      assert(r.getInt(1) === 600)
      val expectedPeak = (0 until 600).map(i => math.abs(((i * 73 + d * 131) % 4001) - 2000)).max
      assert(r.getInt(2) === expectedPeak, s"doc $d peak")
    }
  }

  test("audio sink: DataFrame -> WAV round-trips exact samples, single-file and partitioned") {
    import org.apache.spark.sql.functions._
    val samples = (0 until 5000).map(i => ((i * 73) % 4001) - 2000)
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("sample_idx", "sample")
    val dir = Files.createTempDirectory("graft_wav_sink")
    graft.TempDirs.cleanupOnExit(dir)

    // single file through the incremental writer
    val single = dir.resolve("out.wav").toString
    assert(WavCodec.saveWav(df, single, sampleRate = 8000) === 5000L)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(single))
    assert(WavCodec.probe(bytes) === WavCodec.WavMeta(1, 8000, 16, 5000L))
    assert(WavCodec.samples(bytes).toSeq === samples)
    assert(bytes.sameElements(WavReferenceWriter.writePcm(samples.toArray, 8000, 1, 16)),
      "the sink writes the reference writer's bytes")

    // partitioned: ordered part concatenation reproduces the stream
    val parts = dir.resolve("parts").toString
    assert(WavCodec.saveWavPartitioned(df, parts, sampleRate = 8000, numParts = 4) === 5000L)
    val partFiles = new java.io.File(parts).listFiles()
      .filter(_.getName.endsWith(".wav")).sortBy(_.getName)
    assert(partFiles.length === 4)
    val reassembled = partFiles.toSeq.flatMap(f =>
      WavCodec.samples(Files.readAllBytes(f.toPath)).toSeq)
    assert(reassembled === samples, "part order = sample order (range partitioning)")

    // stereo: parts split between interleaved frames, never inside one
    val stereo = dir.resolve("stereo").toString
    assert(WavCodec.saveWavPartitioned(df, stereo, sampleRate = 8000, channels = 2,
      numParts = 7) === 5000L)
    val stereoParts = new java.io.File(stereo).listFiles()
      .filter(_.getName.endsWith(".wav")).sortBy(_.getName).toSeq
      .map(f => Files.readAllBytes(f.toPath))
    assert(stereoParts.length > 1)
    stereoParts.foreach { b =>
      // the 'data' chunk's size field: bytes 40-43 of the 44-byte header
      val dataLen = java.nio.ByteBuffer.wrap(b, 40, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert(dataLen % 4 === 0, "blockAlign = 2 channels x 2 bytes")
      assert(WavCodec.probe(b).nFrames * 4 === dataLen.toLong)
    }
    assert(stereoParts.flatMap(b => WavCodec.samples(b).toSeq) === samples,
      "stereo parts reassemble the interleaved stream")

    // 24-bit face through the same writer
    val deep = dir.resolve("deep.wav").toString
    val wide = samples.map(_ * 4000) // exercise >16-bit magnitudes
    WavCodec.saveWav(wide.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("sample_idx", "sample"), deep, sampleRate = 48000, bits = 24)
    assert(WavCodec.samples(Files.readAllBytes(java.nio.file.Paths.get(deep))).toSeq === wide)
  }

  test("U1/U2 on a REAL container: seeded segment split, stream-copy, reassembly round-trip") {
    import org.apache.spark.sql.functions._
    import graft.operators.Segments

    // fixture: a 15-frame MJPEG/AVI
    val jpegs = (0 until 15).map { i =>
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32)
        img.setRGB(x, y, ((x * 7 + y * 13 + i * 31) * 2654435761L).toInt & 0xffffff)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    val dir = Files.createTempDirectory("graft_u2_avi")
    graft.TempDirs.cleanupOnExit(dir)
    val src = dir.resolve("src.avi").toString
    AviCodec.writeMjpeg(src, jpegs, 32, 24, 30)

    // U2 (`video_splitter.py:28-55`): boundaries come from the SEEDED
    // Segments operator over the container's frame relation, then each
    // [lo, hi) is stream-copied into its own container — no transcode
    val frames = spark.read.format("graft-frames").option("path", src).load()
    val bounds = Segments.randomBoundaries(
      frames.select("frame_number"), k = 3, seed = "u2seed")
      .orderBy("segment")
      .as[(Long, Long, Long)].collect()
    assert(bounds.length === 3)
    assert(bounds.head._2 === 0L && bounds.last._3 === 15L)
    val segPaths = bounds.map { case (seg, lo, hi) =>
      val p = dir.resolve(s"seg$seg.avi").toString
      AviCodec.copySegment(src, p, lo.toInt, hi.toInt)
      p
    }

    // U1 (`video_splitter.py:6-25`): each segment unnested to frame_%05d
    // partitions — re-read payloads must equal the source's decode
    val segDf = segPaths.zipWithIndex.map { case (p, i) =>
      spark.read.format("graft-frames").option("path", p).load()
        .withColumn("segment", lit(i.toLong))
    }.reduce(_ unionByName _)
    val u1Out = Files.createTempDirectory("graft_u1_out").toString
    segDf.withColumn("frame_file", format_string("frame_%05d", col("frame_number")))
      .select("segment", "frame_number", "frame_file", "payload")
      .write.mode("overwrite").partitionBy("frame_file").parquet(u1Out)

    // reassembly: segment-local frame numbers offset by their boundary
    // lo must reproduce the source container's decode, frame for frame
    val reassembled = spark.read.parquet(u1Out)
      .join(bounds.toSeq.toDF("segment", "lo", "hi"), Seq("segment"))
      .select((col("frame_number") + col("lo")).as("frame_number"), col("payload"))
      .orderBy("frame_number").as[(Long, Array[Byte])].collect()
    assert(reassembled.map(_._1).toSeq === (0L until 15L))
    reassembled.foreach { case (f, p) =>
      val want = ImageCodec.decode(jpegs(f.toInt)).get.pixels
      assert(p.toSeq === want.toSeq,
        s"frame $f: split -> copy -> unnest -> reassemble must be byte-identical")
    }
  }
}
