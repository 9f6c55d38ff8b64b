package graft.multimodal

import java.io.RandomAccessFile

/** Pure-JVM ISO-BMFF (MP4/MOV) container codec: header probe, sample
  * (frame) index, and a minimal muxer for fixtures — the MP4 half of the
  * reference's primary video path (`frame_reader.py:116-155` opens
  * `.mp4` through OpenCV/FFmpeg; AVI was its fallback workaround).
  *
  * ISO-BMFF is a tree of length-prefixed big-endian boxes. Everything a
  * scan needs is metadata: the `moov/trak/mdia/minf/stbl` sample tables
  * give every sample's byte range in `mdat` without touching payload
  * bytes —
  *
  *  - `stsz`: per-sample sizes (or one constant size),
  *  - `stco`/`co64`: absolute file offset of each chunk,
  *  - `stsc`: how many samples each chunk run holds,
  *  - `stts`: sample durations in `mdhd` timescale units (the fps).
  *
  * So, exactly like the AVI movi walk, the index pass is header-only and
  * payload reads are independent positioned reads — a corpus of MP4s
  * parallelizes across files AND frame ranges.
  *
  * Codec reach mirrors the JDK's: MJPEG tracks (`jpeg`/`mjpa` sample
  * entries) decode via ImageIO; H.264 (`avc1`) has no pure-JVM decoder,
  * so those tracks are metadata-only — probe, frame clock, and byte
  * ranges all work, payload decode reports undecodable (the reader's
  * EOF-on-undecodable semantics, `frame_reader.py:143-147`).
  *
  * Types are shared with [[AviCodec]] ([[AviCodec.AviMeta]],
  * [[AviCodec.FrameChunk]]): a frame's identity is (offset, size)
  * whatever the container, which is what lets one DataSourceV2 reader
  * serve both formats.
  */
object Mp4Codec {
  import AviCodec.{AviMeta, FrameChunk}

  // ------------------------------------------------------------ helpers

  private def u16(raf: RandomAccessFile): Int = {
    val a = raf.read(); val b = raf.read()
    if ((a | b) < 0) throw new java.io.EOFException()
    (a << 8) | b
  }

  private def u32(raf: RandomAccessFile): Long = {
    val a = u16(raf).toLong; val b = u16(raf).toLong
    (a << 16) | b
  }

  private def u64(raf: RandomAccessFile): Long = {
    val a = u32(raf); val b = u32(raf)
    (a << 32) | b
  }

  private def fourcc(raf: RandomAccessFile): String = {
    val b = new Array[Byte](4)
    raf.readFully(b)
    new String(b, "US-ASCII")
  }

  private def withRaf[T](path: String)(f: RandomAccessFile => T): T = {
    val raf = new RandomAccessFile(path, "r")
    try f(raf) finally raf.close()
  }

  // ------------------------------------------------------------- parse

  /** The first video track's sample tables, resolved from stbl. */
  private final case class Track(
      codec: String, width: Int, height: Int, timescale: Long,
      // (sampleCount, sampleDelta) runs from stts
      stts: Array[(Long, Long)],
      // per-sample sizes (expanded when stsz carries a constant)
      sizes: Array[Long],
      // absolute chunk offsets from stco/co64
      chunkOffsets: Array[Long],
      // (firstChunk, samplesPerChunk) runs from stsc, 1-based chunks
      stsc: Array[(Long, Long)])

  /** Walks the box tree and returns the FIRST `vide`-handler track.
    * Throws on anything that is not ISO-BMFF (the caller maps that to
    * unreadable, like `cv2.VideoCapture.isOpened() == False`). */
  private def parseTrack(raf: RandomAccessFile): Track = {
    val fileEnd = raf.length()

    var timescale = 0L
    var handler = ""
    var codec = ""
    var width = 0
    var height = 0
    var stts = Array.empty[(Long, Long)]
    var sizes = Array.empty[Long]
    var chunkOffsets = Array.empty[Long]
    var stsc = Array.empty[(Long, Long)]
    var done = false
    var sawRoot = false

    // walk boxes in [pos, end); containers recurse. `done` stops the
    // walk after the first complete video track (a/v files list the
    // video trak first in every common muxer; a sound-first file just
    // costs one extra trak descent).
    def walk(end: Long, depth: Int): Unit = {
      while (!done && raf.getFilePointer + 8 <= end) {
        val boxStart = raf.getFilePointer
        var size = u32(raf)
        val typ = fourcc(raf)
        var headerLen = 8L
        if (size == 1L) { size = u64(raf); headerLen = 16L } // largesize
        else if (size == 0L) size = end - boxStart // box runs to EOF
        require(size >= headerLen, s"bad box size $size for '$typ'")
        val next = boxStart + size
        if (depth == 0) {
          require(sawRoot || typ == "ftyp" || typ == "moov" || typ == "mdat" ||
            typ == "free" || typ == "skip" || typ == "wide",
            s"not an ISO-BMFF file (leading box '$typ')")
          sawRoot = true
        }
        typ match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
            // reset per-trak state so a leading non-video trak (e.g.
            // sound) doesn't leak its tables into the video one
            if (typ == "trak") {
              handler = ""; codec = ""; timescale = 0L
              stts = Array.empty; sizes = Array.empty
              chunkOffsets = Array.empty; stsc = Array.empty
            }
            walk(next, depth + 1)
            if (typ == "trak" && handler == "vide" && sizes.nonEmpty) done = true
          case "mdhd" =>
            val version = raf.read()
            raf.skipBytes(3) // flags
            if (version == 1) { raf.skipBytes(16); timescale = u32(raf) }
            else { raf.skipBytes(8); timescale = u32(raf) }
          case "hdlr" =>
            raf.skipBytes(8) // version+flags, pre_defined
            handler = fourcc(raf)
          case "stsd" =>
            raf.skipBytes(8) // version+flags, entry_count (first entry only)
            u32(raf) // sample entry size
            codec = fourcc(raf)
            // visual sample entry: 6 reserved + u16 dataRefIdx + 16 bytes
            // of pre_defined/reserved, then u16 width, u16 height
            raf.skipBytes(24)
            width = u16(raf)
            height = u16(raf)
          case "stts" =>
            raf.skipBytes(4)
            val n = u32(raf).toInt
            stts = Array.fill(n)((u32(raf), u32(raf)))
          case "stsz" =>
            raf.skipBytes(4)
            val constant = u32(raf)
            val n = u32(raf).toInt
            sizes =
              if (constant != 0L) Array.fill(n)(constant)
              else Array.fill(n)(u32(raf))
          case "stco" =>
            raf.skipBytes(4)
            val n = u32(raf).toInt
            chunkOffsets = Array.fill(n)(u32(raf))
          case "co64" =>
            raf.skipBytes(4)
            val n = u32(raf).toInt
            chunkOffsets = Array.fill(n)(u64(raf))
          case "stsc" =>
            raf.skipBytes(4)
            val n = u32(raf).toInt
            stsc = Array.fill(n) {
              val first = u32(raf); val per = u32(raf); u32(raf) // desc idx
              (first, per)
            }
          case _ => // leaf we don't need (ftyp, mdat, tkhd, vmhd, dinf, ...)
        }
        raf.seek(math.min(next, fileEnd))
      }
    }
    walk(fileEnd, 0)

    require(handler == "vide" && sizes.nonEmpty,
      "ISO-BMFF file has no video track with sample tables")
    require(timescale > 0, "mdhd timescale is zero")
    Track(codec, width, height, timescale, stts, sizes, chunkOffsets, stsc)
  }

  /** Container-metadata probe, the `frame_reader.py:129-131` call set:
    * dims from the sample description, exact fps from the stts duration
    * runs (`timescale / delta` for the constant-rate common case). */
  def probe(path: String): AviMeta = withRaf(path) { raf =>
    val t = parseTrack(raf)
    val totalDur = t.stts.map { case (n, d) => n * d }.sum
    val nSamples = t.sizes.length.toLong
    val fps =
      if (totalDur > 0) nSamples.toDouble * t.timescale.toDouble / totalDur.toDouble
      else 30.0
    AviMeta(t.width, t.height, fps, nSamples, t.codec)
  }

  /** Byte range of every video sample, in presentation order: expands
    * stsc's chunk runs against stco's chunk offsets and stsz's sizes —
    * sample k of chunk c starts at `chunkOffset(c) + Σ sizes of samples
    * 0..k-1 in c`. Header-only; payload bytes are never touched. */
  def frameIndex(path: String): Array[FrameChunk] = withRaf(path) { raf =>
    val t = parseTrack(raf)
    val out = new Array[FrameChunk](t.sizes.length)
    var sample = 0
    var chunk = 0
    while (sample < t.sizes.length && chunk < t.chunkOffsets.length) {
      // samples-per-chunk for THIS chunk: the last stsc run whose
      // firstChunk (1-based) <= chunk+1
      var per = 1L
      var i = 0
      while (i < t.stsc.length && t.stsc(i)._1 <= chunk + 1) { per = t.stsc(i)._2; i += 1 }
      var off = t.chunkOffsets(chunk)
      var k = 0L
      while (k < per && sample < t.sizes.length) {
        out(sample) = FrameChunk(off, t.sizes(sample).toInt)
        off += t.sizes(sample)
        sample += 1
        k += 1
      }
      chunk += 1
    }
    require(sample == t.sizes.length,
      s"stsc/stco cover $sample of ${t.sizes.length} samples")
    out
  }

  // ------------------------------------------------------------- write

  private final class Box(val out: java.io.ByteArrayOutputStream =
      new java.io.ByteArrayOutputStream()) {
    def u8(v: Int): Box = { out.write(v & 0xff); this }
    def u16(v: Int): Box = { u8(v >>> 8); u8(v) }
    def u32(v: Long): Box = { u16((v >>> 16).toInt); u16(v.toInt) }
    def s16(v: Int): Box = u16(v & 0xffff)
    def ascii(s: String): Box = { out.write(s.getBytes("US-ASCII")); this }
    def bytes(b: Array[Byte]): Box = { out.write(b); this }
    def zeros(n: Int): Box = { var i = 0; while (i < n) { out.write(0); i += 1 }; this }
  }

  /** Serializes `body` as a box: 4-byte big-endian size + fourcc + payload. */
  private def box(typ: String)(body: Box => Unit): Array[Byte] = {
    val b = new Box()
    body(b)
    val payload = b.out.toByteArray
    val full = new Box()
    full.u32(payload.length + 8L).ascii(typ).bytes(payload)
    full.out.toByteArray
  }

  private val IdentityMatrix: Box => Unit = b => {
    b.u32(0x00010000L).u32(0).u32(0)
    b.u32(0).u32(0x00010000L).u32(0)
    b.u32(0).u32(0).u32(0x40000000L)
  }

  /** U2's stream-copy segment split on the MP4 face (the `ffmpeg -ss
    * .. -to .. -c copy` semantics, `video_splitter.py:60-74`): sample
    * bytes [start, end) copy bit-faithfully into a fresh container —
    * codec fourcc preserved, no transcode — through the incremental
    * [[Muxer]], one sample resident at a time. */
  def copySegment(src: String, dst: String, start: Int, end: Int): Unit = {
    val meta = probe(src)
    val idx = frameIndex(src)
    val lo = math.max(0, start)
    val hi = math.min(idx.length, end)
    val m = new Muxer(dst, meta.width, meta.height,
      math.max(1, math.round(meta.fps).toInt), codecFourcc = meta.handler)
    try withRaf(src) { raf =>
      (lo until hi).foreach(i => m.addFrame(AviCodec.readFrameBytes(raf, idx(i))))
    } finally m.close()
  }

  private def ftypBytes: Array[Byte] = box("ftyp") { b =>
    b.ascii("isom").u32(0x200L).ascii("isom").ascii("iso2").ascii("mp41")
  }

  /** The whole `moov` tree for one video trak whose stbl uses one chunk
    * per sample (stsc `{1,1,1}`, stco = per-sample absolute offsets) —
    * the simplest layout every ISO-BMFF reader accepts. fps is the mdhd
    * timescale with per-sample delta 1, so the parsed fps is exact. */
  private def moovBytes(width: Int, height: Int, fps: Int, codecFourcc: String,
                        sizes: Seq[Int], offsets: Seq[Long]): Array[Byte] = {
    val nFrames = sizes.length
    val duration = nFrames.toLong // timescale = fps, delta = 1
    val stbl = box("stbl") { b =>
      b.bytes(box("stsd") { s =>
        s.u32(0).u32(1) // version+flags, entry count
        s.bytes(box(codecFourcc) { e =>
          e.zeros(6).u16(1) // reserved, data_reference_index
          e.u16(0).u16(0).u32(0).u32(0).u32(0) // pre_defined/reserved
          e.u16(width).u16(height)
          e.u32(0x00480000L).u32(0x00480000L) // 72 dpi
          e.u32(0).u16(1) // reserved, frame_count
          e.zeros(32) // compressorname (pascal, empty)
          e.u16(24).s16(-1) // depth, pre_defined
        })
      })
      b.bytes(box("stts")(s => s.u32(0).u32(1).u32(nFrames.toLong).u32(1)))
      b.bytes(box("stsc")(s => s.u32(0).u32(1).u32(1).u32(1).u32(1)))
      b.bytes(box("stsz") { s =>
        s.u32(0).u32(0).u32(nFrames.toLong)
        sizes.foreach(f => s.u32(f.toLong))
      })
      b.bytes(box("stco") { s =>
        s.u32(0).u32(nFrames.toLong)
        offsets.foreach(o => s.u32(o))
      })
    }
    val minf = box("minf") { b =>
      b.bytes(box("vmhd")(s => s.u32(1).u16(0).u16(0).u16(0).u16(0)))
      b.bytes(box("dinf")(s => s.bytes(box("dref") { d =>
        d.u32(0).u32(1)
        d.bytes(box("url ")(u => u.u32(1))) // flags=1: data in this file
      })))
      b.bytes(stbl)
    }
    val mdia = box("mdia") { b =>
      b.bytes(box("mdhd") { s =>
        s.u32(0).u32(0).u32(0).u32(fps.toLong).u32(duration)
        s.u16(0x55c4).u16(0) // language 'und', pre_defined
      })
      b.bytes(box("hdlr")(s => s.u32(0).u32(0).ascii("vide")
        .u32(0).u32(0).u32(0).ascii("VideoHandler").u8(0)))
      b.bytes(minf)
    }
    val trak = box("trak") { b =>
      b.bytes(box("tkhd") { s =>
        s.u32(7) // version 0, flags: enabled | in-movie | in-preview
        s.u32(0).u32(0).u32(1).u32(0).u32(duration) // times, track id, dur
        s.u32(0).u32(0).u16(0).u16(0).u16(0).u16(0) // reserved, layer, group, volume
        IdentityMatrix(s)
        s.u32(width.toLong << 16).u32(height.toLong << 16) // 16.16 fixed
      })
      b.bytes(mdia)
    }
    box("moov") { b =>
      b.bytes(box("mvhd") { s =>
        s.u32(0).u32(0).u32(0).u32(fps.toLong).u32(duration)
        s.u32(0x00010000L).u16(0x0100).u16(0).u32(0).u32(0) // rate, volume, reserved
        IdentityMatrix(s)
        s.zeros(24) // pre_defined
        s.u32(2) // next track id
      })
      b.bytes(trak)
    }
  }

  /** Muxes JPEG frames into a minimal, spec-shaped MP4: `ftyp` + `mdat`
    * (concatenated samples) + `moov`. `codecFourcc` defaults to `jpeg`
    * (Photo-JPEG-in-MP4, ImageIO-decodable); passing `avc1` produces
    * the metadata-only H.264 shape the probe and index paths must
    * still walk. */
  def writeMjpeg(path: String, frames: Seq[Array[Byte]], width: Int, height: Int,
                 fps: Int, codecFourcc: String = "jpeg"): Unit = {
    require(frames.nonEmpty, "MP4 fixture needs at least one frame")
    val m = new Muxer(path, width, height, fps, codecFourcc)
    try frames.foreach(m.addFrame) finally m.close()
  }

  /** Incremental ISO-BMFF muxer — the K1 sink face for the MP4 format
    * (mirrors [[AviCodec.Muxer]]): `ftyp` + an open `mdat` whose size
    * is a placeholder; each [[addFrame]] appends one sample and records
    * its (offset, size); [[close]] patches the `mdat` size and appends
    * the `moov` built from the recorded tables. The layout is the
    * standard non-faststart shape every player accepts (moov last —
    * exactly what ffmpeg writes without `+faststart`). */
  final class Muxer(path: String, width: Int, height: Int, fps: Int,
                    codecFourcc: String = "jpeg") extends Containers.FrameMuxer {
    require(fps > 0, "fps must be positive")
    require(codecFourcc.length == 4, s"codec fourcc must be 4 chars: '$codecFourcc'")
    private val o = new RandomAccessFile(path, "rw")
    o.setLength(0)
    o.write(ftypBytes)
    private val mdatSizeAt = o.getFilePointer
    o.write(Array[Byte](0, 0, 0, 0)) // u32 size, patched at close
    o.write("mdat".getBytes("US-ASCII"))
    private val sizes = Array.newBuilder[Int]
    private val offsets = Array.newBuilder[Long]
    private var n = 0

    def addFrame(sample: Array[Byte]): Unit = {
      offsets += o.getFilePointer
      sizes += sample.length
      o.write(sample)
      n += 1
      // stco/mdat-size are u32: a >4 GB single container needs co64 +
      // largesize, which this muxer does not emit — fail loudly rather
      // than wrap (the partitioned sink splits output far below this)
      require(o.getFilePointer <= 0xfffffffeL, "container exceeds u32 offsets (4 GB)")
    }

    def close(): Unit = {
      val end = o.getFilePointer
      o.seek(mdatSizeAt)
      val mdatSize = end - mdatSizeAt
      o.write(Array[Byte](((mdatSize >> 24) & 0xff).toByte, ((mdatSize >> 16) & 0xff).toByte,
        ((mdatSize >> 8) & 0xff).toByte, (mdatSize & 0xff).toByte))
      o.seek(end)
      if (n > 0) o.write(moovBytes(width, height, fps, codecFourcc,
        sizes.result().toSeq, offsets.result().toSeq))
      o.close()
    }
  }
}
