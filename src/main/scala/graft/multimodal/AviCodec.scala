package graft.multimodal

import java.io.RandomAccessFile

import Riff.{fourcc, le16, le32, tag, u16, u32}

/** Pure-JVM MJPEG/AVI container codec — the real bounded-video decode
  * path behind the S2 `VideoReader` slot (VERDICT r6 item 2;
  * `/root/reference/uav/frame_reader.py:116-155`: container-metadata
  * probe for fps/width/height/frame-count, then sequential decode,
  * release on EOF). No external codec libraries: AVI is a RIFF chunk
  * container, MJPEG frames are ordinary JPEGs, and the JDK decodes JPEG
  * via ImageIO ([[ImageCodec]]) — so an MJPEG/AVI file is fully
  * decodable with zero dependencies.
  *
  * Layout handled (the canonical AVI shape):
  * {{{
  * RIFF('AVI '
  *   LIST('hdrl' avih(MainAVIHeader) LIST('strl' strh strf))
  *   LIST('movi' 00dc(jpeg) 00dc(jpeg) ...)
  *   idx1(...))
  * }}}
  *
  * The reader indexes frames by WALKING the movi list's chunk headers
  * (seek-skipping the payloads — O(frames) header reads, no frame data
  * touched), not by trusting `idx1`: the idx1 offset base is ambiguous
  * in the wild (some muxers write movi-relative, some absolute), while
  * the chunk walk is self-describing. Probe metadata comes from `avih`
  * (width/height/frame count) and `strh` (fps = dwRate/dwScale — exact,
  * where avih's µs-per-frame is a rounded derivative).
  *
  * Scale shape: [[frameIndex]] is a header-only pass run once per
  * partition reader; frame reads are then independent positioned reads,
  * so N readers decode N slices of one container in parallel (the
  * DataSourceV2 face, [[graft.sources.v2.FrameSource]]). A 100 TB video
  * corpus is many containers; each container's scan parallelizes across
  * its frame ranges and containers parallelize across files.
  */
object AviCodec {

  /** Container metadata, the `cv2.CAP_PROP_*` probe set
    * (`frame_reader.py:129-131`): exact fps as dwRate/dwScale. */
  final case class AviMeta(width: Int, height: Int, fps: Double, nFrames: Long,
                           handler: String)

  /** One video frame's bytes inside the container: absolute file offset
    * of the DATA (past the 8-byte chunk header) and its size. */
  final case class FrameChunk(offset: Long, size: Int)

  // ---------------------------------------------------------------- read

  private def withRaf[T](path: String)(f: RandomAccessFile => T): T = {
    val raf = new RandomAccessFile(path, "r")
    try f(raf) finally raf.close()
  }

  /** Parsed header state accumulated during the top-level walk. */
  private final case class Parsed(meta: AviMeta, moviDataStart: Long, moviDataEnd: Long)

  /** One pass over the top-level chunk headers: avih + first video strh
    * for metadata, movi extent for the frame walk. Throws on anything
    * that is not a RIFF/AVI container (the caller maps that to
    * unreadable, like `cv2.VideoCapture.isOpened() == False`). */
  private def parseHeaders(raf: RandomAccessFile): Parsed = {
    require(fourcc(raf) == "RIFF", "not a RIFF container")
    u32(raf) // riff payload size; the file length bounds the walk instead
    require(fourcc(raf) == "AVI ", "RIFF container is not AVI")
    val fileEnd = raf.length()

    var width = 0
    var height = 0
    var nFrames = 0L
    var usPerFrame = 0L
    var rate = 0L
    var scale = 0L
    var handler = ""
    var sawVids = false
    var moviStart = -1L
    var moviEnd = -1L

    // walk chunks in [pos, end); LIST children recurse one level at a time
    def walk(end: Long): Unit = {
      while (raf.getFilePointer + 8 <= end) {
        val id = fourcc(raf)
        val size = u32(raf)
        val dataStart = raf.getFilePointer
        val next = dataStart + size + (size & 1) // chunks are even-padded
        id match {
          case "LIST" =>
            val listType = fourcc(raf)
            listType match {
              case "hdrl" | "strl" => walk(dataStart + size)
              case "movi" =>
                moviStart = dataStart + 4 // past the 'movi' fourcc
                moviEnd = dataStart + size
              case _ => // skip unknown lists (INFO etc.)
            }
          case "avih" =>
            usPerFrame = u32(raf); u32(raf); u32(raf); u32(raf)
            nFrames = u32(raf); u32(raf); u32(raf); u32(raf)
            width = u32(raf).toInt
            height = u32(raf).toInt
          case "strh" =>
            val fccType = fourcc(raf)
            val fccHandler = fourcc(raf)
            if (fccType == "vids" && !sawVids) {
              sawVids = true
              handler = fccHandler.trim
              u32(raf); u16(raf); u16(raf); u32(raf) // flags, prio+lang, initialFrames
              scale = u32(raf)
              rate = u32(raf)
              u32(raf) // start
              val streamLen = u32(raf)
              // stream length is the per-stream frame count; prefer it if
              // avih's total is zero (some muxers leave avih sparse)
              if (nFrames == 0L) nFrames = streamLen
            }
          case _ => // skip (strf parsed implicitly via avih dims; JUNK etc.)
        }
        raf.seek(math.min(next, fileEnd))
      }
    }
    walk(fileEnd)

    require(moviStart >= 0, "AVI has no movi list")
    val fps =
      if (scale > 0 && rate > 0) rate.toDouble / scale.toDouble
      else if (usPerFrame > 0) 1e6 / usPerFrame
      else 30.0
    Parsed(AviMeta(width, height, fps, nFrames, handler), moviStart, moviEnd)
  }

  /** Container-metadata probe — the `frame_reader.py:129-131` call set. */
  def probe(path: String): AviMeta = withRaf(path)(r => parseHeaders(r).meta)

  // (the per-JVM probe cache lives in [[Containers.probeCached]], the
  // format dispatcher the connector binds through)

  /** Positions of every video frame chunk (`NNdc`/`NNdb`), in stream
    * order, by walking the movi list's chunk HEADERS (payloads are
    * seek-skipped — this pass reads 8 bytes per chunk, never the frame
    * data). */
  def frameIndex(path: String): Array[FrameChunk] = withRaf(path) { raf =>
    val p = parseHeaders(raf)
    val out = Array.newBuilder[FrameChunk]
    raf.seek(p.moviDataStart)
    while (raf.getFilePointer + 8 <= p.moviDataEnd) {
      val id = fourcc(raf)
      val size = u32(raf)
      val dataStart = raf.getFilePointer
      // video data chunks: '##dc' (compressed) / '##db' (uncompressed),
      // stream number in the digit prefix. Interleaved muxers group
      // chunks inside 'rec ' LISTs — DESCEND (skip only the 4-byte list
      // type; the children then walk in this same loop) instead of
      // seeking past the group, or every frame inside it is lost.
      // Other chunk kinds (audio '##wb', padding 'JUNK', ...) skip.
      if (id == "LIST") {
        fourcc(raf) // list type ('rec ' or other) — children walk next
      } else {
        if (id.matches("[0-9]{2}(dc|db)"))
          out += FrameChunk(dataStart, size.toInt)
        raf.seek(dataStart + size + (size & 1))
      }
    }
    out.result()
  }

  /** The raw (still-encoded) bytes of one frame chunk — a positioned
    * read; independent calls on independent handles parallelize. */
  def readFrameBytes(raf: RandomAccessFile, chunk: FrameChunk): Array[Byte] = {
    val b = new Array[Byte](chunk.size)
    raf.seek(chunk.offset)
    raf.readFully(b)
    b
  }

  /** One frame chunk's bytes to BGR, trying the stream's own codec first.
    * A `DIB` stream's chunks are uncompressed frames (BI_RGB bottom-up BGR
    * rows, 4-byte row stride — the '00db' convention) and unpack raw, with
    * ImageIO as the fallback, so they never probe every registered reader.
    * Any other stream's chunks go through ImageIO, with the raw unpack as
    * the fallback for a chunk whose size is exactly one DIB frame. Raw
    * frames make the WRITE side lossless: what
    * [[graft.multimodal.VideoSink]] muxes with `codec = "raw"` reads back
    * byte-identical, no JPEG loss. None = an undecodable frame
    * (`cap.read() → False`). */
  def decodeChunk(bytes: Array[Byte], meta: AviMeta): Option[ImageCodec.DecodedImage] =
    if (meta.handler == "DIB")
      decodeDib(bytes, meta.width, meta.height).orElse(ImageCodec.decode(bytes))
    else ImageCodec.decode(bytes).orElse(decodeDib(bytes, meta.width, meta.height))

  /** Unpack one BI_RGB device-independent bitmap frame: rows are stored
    * BOTTOM-UP, each padded to a 4-byte boundary, pixels already
    * interleaved BGR (the DIB wire format IS cv2's memory format, which
    * is why raw AVI round-trips are exact). None when the byte count
    * isn't exactly h padded rows. */
  def decodeDib(bytes: Array[Byte], w: Int, h: Int): Option[ImageCodec.DecodedImage] = {
    if (w <= 0 || h <= 0) return None
    val stride = (w * 3 + 3) & ~3
    if (bytes.length != stride.toLong * h) return None
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      // stored row y is image row (h-1-y)
      System.arraycopy(bytes, y * stride, out, (h - 1 - y) * w * 3, w * 3)
      y += 1
    }
    Some(ImageCodec.DecodedImage(w, h, out))
  }

  /** Pack interleaved BGR pixels as one BI_RGB DIB frame (inverse of
    * [[decodeDib]]): bottom-up rows, 4-byte stride pad. */
  def encodeDib(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h * 3, s"need $w x $h x 3 BGR bytes, got ${pixels.length}")
    val stride = (w * 3 + 3) & ~3
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      System.arraycopy(pixels, (h - 1 - y) * w * 3, out, y * stride, w * 3)
      y += 1
    }
    out
  }

  // --------------------------------------------------------------- write

  /** Writes an MJPEG/AVI container from ALREADY-ENCODED JPEG frames —
    * a stream-copy mux (`ffmpeg -c copy` semantics): no transcode, so
    * splitting and reassembling containers round-trips the exact frame
    * bytes, the property U2's reassembly check relies on. Emits the
    * canonical hdrl/movi/idx1 shape (idx1 written movi-relative for
    * player compatibility; our own reader walks movi and ignores it). */
  def writeMjpeg(path: String, jpegFrames: Seq[Array[Byte]],
                 width: Int, height: Int, fps: Int): Unit =
    mux(path, jpegFrames, width, height, fps, raw = false)

  /** Writes an UNCOMPRESSED (BI_RGB) AVI from interleaved-BGR frames —
    * the lossless sink codec: every pixel byte survives the container
    * round-trip exactly ('00db' chunks, biCompression 0). Trades bytes
    * for exactness; the MJPEG variant trades the other way. */
  def writeRawBgr(path: String, bgrFrames: Seq[Array[Byte]],
                  width: Int, height: Int, fps: Int): Unit =
    mux(path, bgrFrames, width, height, fps, raw = true)

  private def mux(path: String, frames: Seq[Array[Byte]],
                  width: Int, height: Int, fps: Int, raw: Boolean): Unit = {
    val m = new Muxer(path, width, height, fps, raw)
    try frames.foreach(m.addFrame) finally m.close()
  }

  /** The one AVI writer: frames append one at a time, the container
    * finalizes on [[Muxer.close]] — constant memory regardless of video
    * length. It writes size PLACEHOLDERS and patches them at close, the
    * standard muxer move, recording each patch field's file position as
    * it is written rather than trusting magic offsets. A file abandoned
    * before close() is not a valid RIFF — exactly `cv2.VideoWriter`'s
    * release() contract. */
  final class Muxer(path: String, width: Int, height: Int, fps: Int, raw: Boolean)
      extends Containers.FrameMuxer {
    require(fps > 0, "fps must be positive")
    private val o = new RandomAccessFile(path, "rw")
    o.setLength(0)
    private val index = Array.newBuilder[(Long, Int)] // (movi-relative off, size)
    private var n = 0
    private var maxFrame = 0
    private val chunkId = if (raw) "00db" else "00dc"

    /** Writes a u32 placeholder and returns its position for patching. */
    private def hole(): Long = { val p = o.getFilePointer; le32(o, 0); p }

    private val riffSizeAt = { tag(o, "RIFF"); hole() }
    tag(o, "AVI ")
    tag(o, "LIST"); le32(o, 4 + (8 + 56) + (12 + (8 + 56) + (8 + 40))); tag(o, "hdrl")
    tag(o, "avih"); le32(o, 56)
    le32(o, 1000000L / fps)
    private val maxBpsAt = hole()
    le32(o, 0); le32(o, 0x10)
    private val totalFramesAt = hole()
    le32(o, 0); le32(o, 1)
    private val suggestedBufAt = hole()
    le32(o, width); le32(o, height)
    (1 to 4).foreach(_ => le32(o, 0))
    tag(o, "LIST"); le32(o, 4 + (8 + 56) + (8 + 40)); tag(o, "strl")
    tag(o, "strh"); le32(o, 56)
    tag(o, "vids"); tag(o, if (raw) "DIB " else "MJPG")
    le32(o, 0); le16(o, 0); le16(o, 0)
    le32(o, 0)
    le32(o, 1); le32(o, fps)
    le32(o, 0)
    private val streamLenAt = hole()
    private val strhBufAt = hole()
    le32(o, -1L & 0xffffffffL)
    le32(o, 0)
    le16(o, 0); le16(o, 0); le16(o, width); le16(o, height)
    tag(o, "strf"); le32(o, 40)
    le32(o, 40); le32(o, width); le32(o, height)
    le16(o, 1); le16(o, 24)
    if (raw) le32(o, 0) else tag(o, "MJPG")
    le32(o, width.toLong * height * 3)
    le32(o, 0); le32(o, 0); le32(o, 0); le32(o, 0)
    tag(o, "LIST")
    private val moviSizeAt = hole()
    private val moviFccAt = o.getFilePointer
    tag(o, "movi")

    /** Appends one frame: raw muxers take interleaved BGR (packed to DIB
      * here), MJPEG muxers take encoded JPEG bytes. */
    def addFrame(frame: Array[Byte]): Unit =
      addEncodedFrame(if (raw) encodeDib(frame, width, height) else frame)

    /** Appends bytes VERBATIM as one chunk — the stream-copy entry
      * point ([[copySegment]]): the caller already holds wire-format
      * frame data (JPEG or packed DIB) and no re-encode must happen. */
    def addEncodedFrame(bytes: Array[Byte]): Unit = {
      index += ((o.getFilePointer - moviFccAt, bytes.length))
      tag(o, chunkId); le32(o, bytes.length)
      o.write(bytes)
      if ((bytes.length & 1) == 1) o.write(0)
      n += 1
      maxFrame = math.max(maxFrame, bytes.length)
    }

    /** Writes idx1, patches every size field, closes the file. */
    def close(): Unit = {
      val moviEnd = o.getFilePointer
      val idx = index.result()
      tag(o, "idx1"); le32(o, 16L * n)
      idx.foreach { case (off, size) =>
        tag(o, chunkId); le32(o, 0x10); le32(o, off); le32(o, size)
      }
      val fileEnd = o.getFilePointer
      def patch(at: Long, v: Long): Unit = { o.seek(at); le32(o, v) }
      patch(riffSizeAt, fileEnd - 8)
      patch(maxBpsAt, maxFrame.toLong * fps)
      patch(totalFramesAt, n)
      patch(suggestedBufAt, maxFrame)
      patch(streamLenAt, n)
      patch(strhBufAt, maxFrame)
      // LIST size spans from the list-type fourcc (inclusive) to the
      // last chunk byte — moviFccAt is where 'movi' was written
      patch(moviSizeAt, moviEnd - moviFccAt)
      o.close()
    }
  }

  /** Container-level segment split WITHOUT transcoding (`ffmpeg -c copy`
    * of U2, `/root/reference/uav/video_splitter.py`): frames
    * [start, end) of `src` are stream-copied into a new container.
    * Because no re-encode happens, decoding the segment's frame i yields
    * byte-identical BGR to decoding frame start+i of the source. */
  def copySegment(src: String, dst: String, start: Int, end: Int): Unit = {
    val meta = probe(src)
    val idx = frameIndex(src)
    val lo = math.max(0, start)
    val hi = math.min(idx.length, end)
    // codec preserved: a raw (DIB) source's segments stay raw '00db'
    // containers, an MJPEG source's stay '00dc' — the copied bytes are
    // wire format either way, so the segment is bit-faithful per frame.
    // Streamed through the incremental muxer: one frame resident at a
    // time, segments of any length copy in constant memory.
    val m = new Muxer(dst, meta.width, meta.height,
      math.max(1, math.round(meta.fps).toInt), raw = meta.handler == "DIB")
    try withRaf(src) { raf =>
      (lo until hi).foreach(i => m.addEncodedFrame(readFrameBytes(raf, idx(i))))
    } finally m.close()
  }
}
