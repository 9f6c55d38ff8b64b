package graft.multimodal

import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutput, DataOutputStream, FileOutputStream, RandomAccessFile}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, udf}

import Riff.{fourcc, le16, le32, tag, u16, u32}

/** Pure-JVM PCM/WAV audio codec — the REAL decode path for the audio
  * modality (the multimodal surface treated audio as an opaque stub
  * until now). WAV is RIFF, the same container family as AVI
  * ([[AviCodec]]): a 'fmt ' chunk describes the stream, a 'data' chunk
  * carries PCM samples. 8/16-bit integer PCM decodes with zero
  * dependencies and zero floating point — samples come back as exact
  * integers, which is what lets audio queries hash-match a DuckDB
  * oracle replaying the same integer math (q88).
  *
  * Column face: [[samplesUdf]] decodes a BinaryType payload to
  * `array<int>` — the multimodal-column shape (any number of audio
  * blobs in a table, decode runs executor-side per row, no driver
  * funnel). Interleaved frames for multi-channel input, like the wire
  * format.
  */
object WavCodec {

  /** The 'fmt ' probe set: PCM layout of the stream. `nFrames` counts
    * per-channel sample frames (dataBytes / blockAlign). */
  final case class WavMeta(channels: Int, sampleRate: Int,
                           bitsPerSample: Int, nFrames: Long)

  private final case class Parsed(meta: WavMeta, data: Array[Byte])

  /** RIFF/WAVE chunk walk over in-memory bytes (audio blobs live in a
    * binary COLUMN; a table of them decodes row-parallel). Throws on
    * non-WAVE input or non-PCM encodings — unreadable, loudly.
    * `needData=false` walks headers only — [[probe]] must not pay a
    * full data-chunk copy per blob (a corpus metadata pass would
    * otherwise cost as much allocation as the decode pass). */
  private def parse(bytes: Array[Byte], needData: Boolean = true): Parsed = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(fourcc(in) == "RIFF", "not a RIFF container")
    u32(in)
    require(fourcc(in) == "WAVE", "RIFF container is not WAVE")
    var channels = 0
    var rate = 0
    var bits = 0
    var blockAlign = 0
    var data: Array[Byte] = null
    var remaining = bytes.length - 12
    // >= 8: a zero-byte data chunk (empty audio) is exactly 8 trailing
    // header bytes — `> 8` missed it (found by WavCodecProps' empty-
    // vector case)
    var dataLen = -1L
    while (remaining >= 8 && (dataLen < 0 || channels == 0)) {
      val id = fourcc(in)
      val size = u32(in).toInt
      remaining -= 8
      id match {
        case "fmt " =>
          val fmt = u16(in)
          require(fmt == 1, s"only integer PCM is decodable (wFormatTag=$fmt)")
          channels = u16(in)
          rate = u32(in).toInt
          u32(in) // byte rate
          blockAlign = u16(in)
          bits = u16(in)
          require(bits == 8 || bits == 16 || bits == 24,
            s"only 8/16/24-bit PCM ($bits)")
          val skip = size - 16
          if (skip > 0) in.skipBytes(skip + (size & 1))
          remaining -= size + (size & 1)
        case "data" =>
          dataLen = size.toLong
          if (needData) {
            data = new Array[Byte](size)
            in.readFully(data)
          } else in.skipBytes(size + (size & 1))
          remaining -= size + (size & 1)
        case _ =>
          in.skipBytes(size + (size & 1))
          remaining -= size + (size & 1)
      }
    }
    require(channels > 0, "WAVE has no fmt chunk")
    require(dataLen >= 0, "WAVE has no data chunk")
    Parsed(WavMeta(channels, rate, bits, dataLen / blockAlign), data)
  }

  /** Container probe over payload bytes — header-only, no data copy. */
  def probe(bytes: Array[Byte]): WavMeta = parse(bytes, needData = false).meta

  /** Decode to interleaved integer samples: 16-bit → signed [-32768,
    * 32767]; 24-bit → signed [-8388608, 8388607] (3 bytes LE,
    * sign-extended); 8-bit (unsigned on the wire) → centered [-128,
    * 127]. Exact integers end to end; channels stay interleaved like
    * the wire format — `idx % channels` is the channel, `idx div
    * channels` the frame, which is how q90 deinterleaves relationally
    * instead of in the UDF. */
  def samples(bytes: Array[Byte]): Array[Int] = {
    val p = parse(bytes)
    val d = p.data
    p.meta.bitsPerSample match {
      case 16 =>
        val out = new Array[Int](d.length / 2)
        var i = 0
        while (i < out.length) {
          out(i) = ((d(2 * i) & 0xff) | (d(2 * i + 1) << 8)).toShort.toInt
          i += 1
        }
        out
      case 24 =>
        val out = new Array[Int](d.length / 3)
        var i = 0
        while (i < out.length) {
          // << 8 >> 8 sign-extends bit 23 through the int
          out(i) = (((d(3 * i) & 0xff) | ((d(3 * i + 1) & 0xff) << 8) |
            ((d(3 * i + 2) & 0xff) << 16)) << 8) >> 8
          i += 1
        }
        out
      case _ =>
        val out = new Array[Int](d.length)
        var i = 0
        while (i < out.length) { out(i) = (d(i) & 0xff) - 128; i += 1 }
        out
    }
  }

  /** Column form: binary → array<int> samples, NULL when the payload is
    * not decodable PCM (the unreadable predicate, like
    * [[ImageCodec.decodeUdf]]). */
  val samplesUdf: Column => Column = {
    val f = udf((bytes: Array[Byte]) =>
      if (bytes == null) None
      else try Some(samples(bytes)) catch {
        case _: IllegalArgumentException | _: java.io.IOException |
             _: IndexOutOfBoundsException | _: NegativeArraySizeException => None
      })
    c => f(c)
  }

  /** Column probe: binary → struct(channels, sample_rate, bits,
    * n_frames), NULL when not decodable PCM — the metadata face a
    * corpus query joins against before paying for sample decode. */
  val metaUdf: Column => Column = {
    val f = udf((bytes: Array[Byte]) =>
      if (bytes == null) None
      else try Some(probe(bytes)) catch {
        case _: IllegalArgumentException | _: java.io.IOException |
             _: IndexOutOfBoundsException | _: NegativeArraySizeException => None
      })
    c => f(c)
  }

  /** The canonical header: RIFF/WAVE, a 16-byte PCM 'fmt ' chunk and
    * the 'data' chunk header — 44 bytes before the first sample. */
  private val HeaderBytes = 44

  private def checkLayout(channels: Int, bits: Int): Unit = {
    require(channels > 0, "channels must be positive")
    require(bits == 16 || bits == 24, s"writer emits 16/24-bit PCM, got $bits")
  }

  /** The one WAV header layout, declaring `dataLen` bytes of samples. */
  private def writeHeader(out: DataOutput, sampleRate: Int, channels: Int, bits: Int,
                          dataLen: Long): Unit = {
    val blockAlign = channels * bits / 8
    tag(out, "RIFF"); le32(out, HeaderBytes - 8 + dataLen); tag(out, "WAVE")
    tag(out, "fmt "); le32(out, 16)
    le16(out, 1); le16(out, channels)
    le32(out, sampleRate)
    le32(out, sampleRate.toLong * blockAlign) // byte rate
    le16(out, blockAlign); le16(out, bits)
    tag(out, "data"); le32(out, dataLen)
  }

  /** The one sample encoder: little-endian, 2 or 3 bytes, range-checked
    * before anything is written. */
  private def writeSample(out: DataOutput, s: Int, bits: Int): Unit =
    if (bits == 16) {
      require(s >= Short.MinValue && s <= Short.MaxValue, s"sample $s out of 16-bit range")
      le16(out, s & 0xffff)
    } else {
      require(s >= -(1 << 23) && s < (1 << 23), s"sample $s out of 24-bit range")
      le16(out, s & 0xffff); out.write((s >> 16) & 0xff)
    }

  /** Interleaved PCM writer, 16- or 24-bit, any channel count
    * (fixtures + the audio face of media sinks). `samples` is
    * wire-ordered: frame-major, channel-minor. */
  def writePcm(samples: Array[Int], sampleRate: Int, channels: Int,
               bits: Int): Array[Byte] = {
    checkLayout(channels, bits)
    require(samples.length % channels == 0,
      s"${samples.length} interleaved samples do not fill $channels-channel frames")
    val dataLen = samples.length.toLong * (bits / 8)
    val bytes = new ByteArrayOutputStream(HeaderBytes + dataLen.toInt)
    val out = new DataOutputStream(bytes)
    writeHeader(out, sampleRate, channels, bits, dataLen)
    samples.foreach(writeSample(out, _, bits))
    bytes.toByteArray
  }

  /** PCM16 mono writer (the q88 fixture shape). */
  def writePcm16Mono(samples: Array[Int], sampleRate: Int): Array[Byte] =
    writePcm(samples, sampleRate, channels = 1, bits = 16)

  /** Incremental WAV writer — the audio analog of the video muxers:
    * the header goes out first declaring an empty data chunk, samples
    * append one at a time (constant memory, any stream length), and
    * [[close]] rewrites the header with the real sizes. Until close the
    * file reads as empty audio — the release semantics every sink in
    * this engine shares. */
  final class Writer(path: String, sampleRate: Int, channels: Int, bits: Int) {
    checkLayout(channels, bits)
    // samples go out through a buffer: the sample encoder writes one
    // byte at a time, one system call each on an unbuffered file
    private val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    writeHeader(o, sampleRate, channels, bits, dataLen = 0)
    private var n = 0L

    def addSample(s: Int): Unit = { writeSample(o, s, bits); n += 1 }

    def samplesWritten: Long = n

    /** Flushes the samples, then rewrites the 44-byte header in place
      * with the real sizes. */
    def close(): Unit = {
      o.close()
      val f = new RandomAccessFile(path, "rw")
      try writeHeader(f, sampleRate, channels, bits, n * (bits / 8)) finally f.close()
    }
  }

  /** `(sample_idx, sample)` of a sample relation, the sinks' row shape. */
  private def sampleRows(df: DataFrame): DataFrame =
    df.select(col("sample_idx"), col("sample").cast("int"))

  /** Writes `rows` (sample in column 1) as one WAV at `path`. */
  private def writeRows(rows: Iterator[Row], path: String, sampleRate: Int, channels: Int,
                        bits: Int): Long = {
    val w = new Writer(path, sampleRate, channels, bits)
    try rows.foreach(r => w.addSample(r.getInt(1))) finally w.close()
    w.samplesWritten
  }

  /** The audio face of the K1 record-all sink: drains a
    * `(sample_idx, sample)` relation in `sample_idx` order into ONE WAV
    * through the incremental [[Writer]] ([[Sinks.ordered]], like
    * [[VideoSink.saveAvi]]: one container is a sequential artifact;
    * sample order IS the format). Returns samples written. */
  def saveWav(df: DataFrame, path: String,
              sampleRate: Int, channels: Int = 1, bits: Int = 16): Long =
    writeRows(Sinks.ordered(sampleRows(df), "sample_idx"), path, sampleRate, channels, bits)

  /** Partition-parallel form ([[Sinks.parts]], the
    * [[VideoSink.saveAviPartitioned]] drain): range-partitioned on the
    * FRAME index `sample_idx div channels`, so no part boundary splits
    * an interleaved frame, and each contiguous run writes its own
    * `part-NNNNN.wav` executor-side — ordered concatenation of the
    * parts' samples reproduces the full stream. */
  def saveWavPartitioned(df: DataFrame, dir: String,
                         sampleRate: Int, channels: Int = 1, bits: Int = 16,
                         numParts: Int = 0): Long = {
    checkLayout(channels, bits)
    Sinks.parts(sampleRows(df), dir, "wav", expr(s"sample_idx div $channels"), "sample_idx",
      numParts)(writeRows(_, _, sampleRate, channels, bits))
  }
}
