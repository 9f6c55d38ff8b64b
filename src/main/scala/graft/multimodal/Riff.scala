package graft.multimodal

import java.io.{DataInput, DataOutput}
import java.nio.charset.StandardCharsets.US_ASCII

/** The little-endian RIFF byte rules, once, for both RIFF codecs
  * ([[AviCodec]] and [[WavCodec]]): unsigned 16/32-bit fields and
  * four-character chunk ids. Readers take any `DataInput`
  * (`RandomAccessFile` for the AVI header walk, `DataInputStream` over
  * an in-memory WAV) and throw `EOFException` past the end; writers
  * take any `DataOutput` and keep the low 16/32 bits of the value.
  * ISO-BMFF ([[Mp4Codec]]) is big-endian and has its own. */
private[multimodal] object Riff {

  def u16(in: DataInput): Int = in.readUnsignedByte() | (in.readUnsignedByte() << 8)

  def u32(in: DataInput): Long = u16(in).toLong | (u16(in).toLong << 16)

  def fourcc(in: DataInput): String = {
    val b = new Array[Byte](4)
    in.readFully(b)
    new String(b, US_ASCII)
  }

  def le16(out: DataOutput, v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }

  def le32(out: DataOutput, v: Long): Unit = {
    le16(out, (v & 0xffff).toInt); le16(out, ((v >> 16) & 0xffff).toInt)
  }

  def tag(out: DataOutput, s: String): Unit = out.write(s.getBytes(US_ASCII))
}
