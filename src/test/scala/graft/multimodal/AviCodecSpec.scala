package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.Files

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM MJPEG/AVI container codec (no Spark): writer ↔ reader
  * round-trip, container-probe metadata, the movi chunk walk, and the
  * stream-copy segment split U2 relies on. */
class AviCodecSpec extends AnyFunSuite {

  /** Deterministic JPEG frame: the same bytes land in the image-dir and
    * AVI fixtures, which is what makes the two paths cross-checkable. */
  private def jpeg(seed: Int, w: Int = 32, h: Int = 24): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 7 + y * 13 + seed * 31) * 2654435761L).toInt & 0xffffff)
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  private def tmpAvi(name: String): String = {
    val d = Files.createTempDirectory("graft_avi")
    graft.TempDirs.cleanupOnExit(d)
    d.resolve(name).toString
  }

  test("write -> probe: container metadata round-trips (the CAP_PROP probe set)") {
    val path = tmpAvi("meta.avi")
    val frames = (0 until 7).map(jpeg(_))
    AviCodec.writeMjpeg(path, frames, width = 32, height = 24, fps = 30)
    val m = AviCodec.probe(path)
    assert(m.width === 32 && m.height === 24)
    assert(m.fps === 30.0, "fps must come from strh dwRate/dwScale, exact")
    assert(m.nFrames === 7L)
    assert(m.handler === "MJPG")
  }

  test("frameIndex + decodeFrame: every frame decodes byte-identical to its source JPEG") {
    val path = tmpAvi("frames.avi")
    // include an ODD-length frame so even-padding is exercised: a JPEG
    // with one trailing byte appended still decodes (readers stop at EOI)
    val frames = (0 until 5).map { i =>
      val f = jpeg(i)
      if (f.length % 2 == 0) f :+ 0x20.toByte else f
    }
    assert(frames.exists(_.length % 2 == 1), "fixture must contain an odd-length chunk")
    AviCodec.writeMjpeg(path, frames, 32, 24, 25)
    val idx = AviCodec.frameIndex(path)
    assert(idx.length === 5)
    val meta = AviCodec.probe(path)
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      (0 until 5).foreach { i =>
        assert(AviCodec.readFrameBytes(raf, idx(i)).toSeq === frames(i).toSeq,
          s"raw chunk $i must round-trip exactly (stream copy, no transcode)")
        val viaAvi = AviCodec.decodeChunk(AviCodec.readFrameBytes(raf, idx(i)), meta).get
        val viaDir = ImageCodec.decode(frames(i)).get
        assert(viaAvi.width === viaDir.width && viaAvi.height === viaDir.height)
        assert(viaAvi.pixels.toSeq === viaDir.pixels.toSeq,
          s"frame $i: AVI decode must equal image-dir decode (same JPEG, same ImageIO path)")
      }
    } finally raf.close()
  }

  test("copySegment: split + reassemble round-trips exact frame bytes (ffmpeg -c copy semantics)") {
    val src = tmpAvi("whole.avi")
    val frames = (0 until 10).map(jpeg(_))
    AviCodec.writeMjpeg(src, frames, 32, 24, 30)

    // U2 shape: split into 3 segments, then reassemble from the segments
    val cuts = Seq((0, 3), (3, 7), (7, 10))
    val segPaths = cuts.zipWithIndex.map { case ((a, b), i) =>
      val p = tmpAvi(s"seg$i.avi")
      AviCodec.copySegment(src, p, a, b)
      p
    }
    cuts.zip(segPaths).foreach { case ((a, b), p) =>
      assert(AviCodec.probe(p).nFrames === (b - a).toLong)
      assert(AviCodec.probe(p).handler === "MJPG", "MJPEG source -> MJPEG segments")
    }
    val reassembled = segPaths.flatMap { p =>
      val idx = AviCodec.frameIndex(p)
      val raf = new java.io.RandomAccessFile(p, "r")
      try idx.map(c => AviCodec.readFrameBytes(raf, c)).toSeq finally raf.close()
    }
    assert(reassembled.length === 10)
    reassembled.zip(frames).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got.toSeq === want.toSeq, s"reassembled frame $i must be byte-identical")
    }
    // and the reassembled container itself is a valid AVI
    val whole2 = tmpAvi("reassembled.avi")
    AviCodec.writeMjpeg(whole2, reassembled, 32, 24, 30)
    assert(AviCodec.probe(whole2).nFrames === 10L)
  }

  test("frames grouped inside 'rec ' LISTs are found (interleaved-muxer layout)") {
    // hand-build a movi whose two frames sit inside one 'rec ' group —
    // the layout interleaved muxers emit; a walk that skips LIST chunks
    // wholesale would lose both frames
    val f0 = jpeg(0)
    val f1 = jpeg(1)
    val path = tmpAvi("rec.avi")
    AviCodec.writeMjpeg(path, Seq(f0, f1), 32, 24, 30) // valid headers to reuse
    // rewrite the movi payload: LIST(size)('rec ' 00dc f0 00dc f1)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    def le(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]) =
      id.getBytes("US-ASCII") ++ le(data.length) ++ data ++
        (if ((data.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    val rec = "rec ".getBytes("US-ASCII") ++ chunk("00dc", f0) ++ chunk("00dc", f1)
    val movi = "movi".getBytes("US-ASCII") ++ chunk("LIST", rec)
    val out = tmpAvi("rec2.avi")
    val o = new java.io.DataOutputStream(new java.io.FileOutputStream(out))
    // reuse the original headers: RIFF hdr (12) + hdrl LIST (8 + 192
    // payload = 200), then the rec-grouped movi, no idx1 (the walk
    // never reads it)
    val hdrlEnd = 12 + 200
    o.write(bytes, 0, hdrlEnd)
    o.write("LIST".getBytes("US-ASCII")); o.write(le(movi.length)); o.write(movi)
    o.close()
    // patch riff size so the top-level walk bounds correctly: file-based
    // bound is used, so even a stale size field is tolerated — assert on
    // behavior, not the field
    val idx = AviCodec.frameIndex(out)
    assert(idx.length === 2, "both frames inside the rec group must index")
    val raf = new java.io.RandomAccessFile(out, "r")
    try {
      assert(AviCodec.readFrameBytes(raf, idx(0)).toSeq === f0.toSeq)
      assert(AviCodec.readFrameBytes(raf, idx(1)).toSeq === f1.toSeq)
    } finally raf.close()
  }

  test("non-AVI input is rejected loudly (isOpened == False analog)") {
    val notAvi = tmpAvi("not.avi")
    Files.write(java.nio.file.Paths.get(notAvi), "this is not a RIFF container".getBytes)
    intercept[IllegalArgumentException](AviCodec.probe(notAvi))
    val riffNotAvi = tmpAvi("wave.avi")
    // RIFF but WAVE: right container family, wrong form type
    val o = new java.io.DataOutputStream(new java.io.FileOutputStream(riffNotAvi))
    o.write("RIFF".getBytes); o.write(Array[Byte](4, 0, 0, 0)); o.write("WAVE".getBytes)
    o.close()
    intercept[IllegalArgumentException](AviCodec.probe(riffNotAvi))
  }

  test("an undecodable frame chunk decodes to None, not a throw") {
    val path = tmpAvi("corrupt.avi")
    val frames = Seq(jpeg(0), "garbage, not a jpeg".getBytes("UTF-8"), jpeg(2))
    AviCodec.writeMjpeg(path, frames, 32, 24, 30)
    val idx = AviCodec.frameIndex(path)
    assert(idx.length === 3, "the corrupt chunk still indexes (the walk reads headers only)")
    val meta = AviCodec.probe(path)
    val raf = new java.io.RandomAccessFile(path, "r")
    def decode(i: Int) = AviCodec.decodeChunk(AviCodec.readFrameBytes(raf, idx(i)), meta)
    try {
      assert(decode(0).isDefined)
      assert(decode(1).isEmpty, "garbage frame -> None (ret False)")
      assert(decode(2).isDefined)
    } finally raf.close()
  }
}
