package graft.multimodal

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}

/** The batch AVI writer that [[AviCodec.Muxer]] replaced, kept verbatim
  * as the frozen reference the Muxer is compared against
  * ([[AviCodecProps]]): it pre-computes every chunk and list size from
  * the whole frame sequence, so it shares no size arithmetic with the
  * Muxer's placeholder-and-patch writes. `frames` are wire-format
  * chunks: JPEG bytes, or DIB frames packed by [[AviCodec.encodeDib]]. */
object AviReferenceWriter {

  private def le16(o: DataOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def le32(o: DataOutputStream, v: Long): Unit = {
    o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
    o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
  }
  private def tag(o: DataOutputStream, s: String): Unit =
    o.write(s.getBytes("US-ASCII"))

  def writeContainer(path: String, frames: Seq[Array[Byte]],
                     width: Int, height: Int, fps: Int, raw: Boolean): Unit = {
    require(fps > 0, "fps must be positive")
    val n = frames.length
    val chunkId = if (raw) "00db" else "00dc"
    val handler = if (raw) "DIB " else "MJPG"
    val padded = frames.map(f => f.length + (f.length & 1))
    val moviSize = 4 + padded.map(8L + _).sum // 'movi' + chunks
    val idx1Size = 16L * n
    val hdrlSize = 4 + (8 + 56) + (12 + (8 + 56) + (8 + 40)) // 'hdrl' avih strl(strh strf)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idx1Size)
    val maxFrame = if (n == 0) 0 else frames.map(_.length).max

    val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      tag(o, "RIFF"); le32(o, riffSize); tag(o, "AVI ")

      tag(o, "LIST"); le32(o, hdrlSize); tag(o, "hdrl")
      tag(o, "avih"); le32(o, 56)
      le32(o, 1000000L / fps)       // dwMicroSecPerFrame
      le32(o, maxFrame.toLong * fps) // dwMaxBytesPerSec
      le32(o, 0); le32(o, 0x10)     // padding, flags (AVIF_HASINDEX)
      le32(o, n)                    // dwTotalFrames
      le32(o, 0); le32(o, 1)        // initial frames, streams
      le32(o, maxFrame)             // suggested buffer
      le32(o, width); le32(o, height)
      (1 to 4).foreach(_ => le32(o, 0)) // reserved

      tag(o, "LIST"); le32(o, 4 + (8 + 56) + (8 + 40)); tag(o, "strl")
      tag(o, "strh"); le32(o, 56)
      tag(o, "vids"); tag(o, handler)
      le32(o, 0); le16(o, 0); le16(o, 0) // flags, priority, language
      le32(o, 0)                    // initial frames
      le32(o, 1); le32(o, fps)      // dwScale, dwRate → fps exact
      le32(o, 0); le32(o, n)        // start, length (frames)
      le32(o, maxFrame); le32(o, -1L & 0xffffffffL) // buffer, quality (-1 default)
      le32(o, 0)                    // sample size (0 = varies)
      le16(o, 0); le16(o, 0); le16(o, width); le16(o, height) // rcFrame

      tag(o, "strf"); le32(o, 40)
      le32(o, 40); le32(o, width); le32(o, height)
      le16(o, 1); le16(o, 24)       // planes, bitcount
      if (raw) le32(o, 0)           // biCompression: BI_RGB
      else tag(o, "MJPG")           // biCompression: MJPG fourcc
      le32(o, width.toLong * height * 3)
      le32(o, 0); le32(o, 0); le32(o, 0); le32(o, 0)

      tag(o, "LIST"); le32(o, moviSize); tag(o, "movi")
      frames.foreach { f =>
        tag(o, chunkId); le32(o, f.length)
        o.write(f)
        if ((f.length & 1) == 1) o.write(0)
      }

      tag(o, "idx1"); le32(o, idx1Size)
      var off = 4L // movi-relative: first chunk id sits 4 bytes past 'movi'
      frames.foreach { f =>
        tag(o, chunkId); le32(o, 0x10) // AVIIF_KEYFRAME (every frame is one)
        le32(o, off); le32(o, f.length)
        off += 8 + f.length + (f.length & 1)
      }
    } finally o.close()
  }
}
