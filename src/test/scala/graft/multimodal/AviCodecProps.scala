package graft.multimodal

import java.nio.file.Files

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** ScalaCheck properties for the pure-JVM AVI codec: ∀ (dims, frame
  * count, fps, payload bytes) the container round-trips — probe reports
  * what was written, the movi walk finds every chunk, raw (BI_RGB)
  * frames survive byte-exact, and DIB pack/unpack are inverses. No
  * Spark session — hundreds of containers are cheap. */
object AviCodecProps extends Properties("AviCodec") {

  private val tmpRoot = {
    val d = Files.createTempDirectory("graft_avi_props")
    graft.TempDirs.cleanupOnExit(d)
    d
  }
  private var n = 0
  private def freshPath(): String = synchronized {
    n += 1; tmpRoot.resolve(s"p$n.avi").toString
  }

  private val dims = for {
    w <- Gen.choose(1, 40)
    h <- Gen.choose(1, 40)
  } yield (w, h)

  property("DIB pack/unpack are exact inverses at every (w, h)") =
    forAllNoShrink(dims, Gen.choose(0, 255)) { case ((w, h), seed) =>
      val bgr = Array.tabulate(w * h * 3)(i => ((i * 31 + seed) % 256).toByte)
      val packed = AviCodec.encodeDib(bgr, w, h)
      // stride padding: packed size is h rows of 4-byte-aligned w*3
      val stride = (w * 3 + 3) & ~3
      packed.length == stride * h &&
        AviCodec.decodeDib(packed, w, h).exists(_.pixels.sameElements(bgr))
    }

  property("raw container round-trip: probe + walk + decode recover every written frame") =
    forAllNoShrink(dims, Gen.choose(1, 12), Gen.choose(1, 60)) {
      case ((w, h), frames, fps) =>
        val bufs = (0 until frames).map(k =>
          Array.tabulate(w * h * 3)(i => ((i * 13 + k * 97) % 256).toByte))
        val path = freshPath()
        AviCodec.writeRawBgr(path, bufs, w, h, fps)
        val meta = AviCodec.probe(path)
        val idx = AviCodec.frameIndex(path)
        val raf = new java.io.RandomAccessFile(path, "r")
        try {
          meta.width == w && meta.height == h && meta.fps == fps.toDouble &&
            meta.nFrames == frames.toLong && idx.length == frames &&
            bufs.indices.forall { k =>
              AviCodec.decodeChunk(AviCodec.readFrameBytes(raf, idx(k)), meta)
                .exists(_.pixels.sameElements(bufs(k)))
            }
        } finally raf.close()
    }

  property("incremental Muxer emits byte-identical containers to the batch writer") =
    forAllNoShrink(dims, Gen.choose(1, 8), Gen.choose(1, 30), Gen.oneOf(true, false)) {
      case ((w, h), frames, fps, raw) =>
        // raw: BGR frames; MJPEG: opaque payloads, odd length on even k
        val bufs = (0 until frames).map { k =>
          val len = if (raw) w * h * 3 else 2 * ((w + h + k * 13) % 40) + 1 + (k % 2)
          Array.tabulate(len)(i => ((i * 7 + k * 131) % 256).toByte)
        }
        val a = freshPath()
        AviReferenceWriter.writeContainer(a,
          if (raw) bufs.map(AviCodec.encodeDib(_, w, h)) else bufs, w, h, fps, raw)
        val b = freshPath()
        val m = new AviCodec.Muxer(b, w, h, fps, raw)
        bufs.foreach(m.addFrame)
        m.close()
        java.util.Arrays.equals(
          Files.readAllBytes(java.nio.file.Paths.get(a)),
          Files.readAllBytes(java.nio.file.Paths.get(b)))
    }

  property("stream-copy segments partition the frame sequence exactly") =
    forAllNoShrink(Gen.choose(2, 10), Gen.choose(1, 9)) { (frames, cutAt0) =>
      val cutAt = math.min(cutAt0, frames - 1)
      val w = 6; val h = 4
      val bufs = (0 until frames).map(k =>
        Array.tabulate(w * h * 3)(i => ((i + k * 37) % 256).toByte))
      val src = freshPath()
      AviCodec.writeRawBgr(src, bufs, w, h, 10)
      val lo = freshPath()
      val hi = freshPath()
      AviCodec.copySegment(src, lo, 0, cutAt)
      AviCodec.copySegment(src, hi, cutAt, frames)
      def decodeAll(p: String): Seq[Array[Byte]] = {
        val meta = AviCodec.probe(p)
        val idx = AviCodec.frameIndex(p)
        val raf = new java.io.RandomAccessFile(p, "r")
        try idx.toSeq.map(c => AviCodec.decodeChunk(AviCodec.readFrameBytes(raf, c), meta).get.pixels)
        finally raf.close()
      }
      val rejoined = decodeAll(lo) ++ decodeAll(hi)
      rejoined.length == frames &&
        rejoined.zip(bufs).forall { case (a, b) => a.sameElements(b) } &&
        // codec preserved: raw source -> raw segments, bit-faithful
        AviCodec.probe(lo).handler == "DIB" && AviCodec.probe(hi).handler == "DIB"
    }
}
