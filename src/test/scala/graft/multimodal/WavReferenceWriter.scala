package graft.multimodal

/** The in-memory WAV writer that [[WavCodec.writePcm]] and
  * [[WavCodec.Writer]] replaced with one shared header and sample
  * encoder, kept verbatim as the frozen reference both are compared
  * against ([[WavCodecProps]]): it writes every byte through its own
  * local helpers, so it shares no code with the production layout. */
object WavReferenceWriter {

  /** Interleaved PCM writer, 16- or 24-bit, any channel count
    * (fixtures + the audio face of media sinks). `samples` is
    * wire-ordered: frame-major, channel-minor. */
  def writePcm(samples: Array[Int], sampleRate: Int, channels: Int,
               bits: Int): Array[Byte] = {
    require(channels > 0, "channels must be positive")
    require(bits == 16 || bits == 24, s"writer emits 16/24-bit PCM, got $bits")
    require(samples.length % channels == 0,
      s"${samples.length} interleaved samples do not fill $channels-channel frames")
    val bytesPer = bits / 8
    val dataLen = samples.length * bytesPer
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val blockAlign = channels * bytesPer
    tag("RIFF"); le32(36L + dataLen); tag("WAVE")
    tag("fmt "); le32(16)
    le16(1); le16(channels)
    le32(sampleRate)
    le32(sampleRate.toLong * blockAlign) // byte rate
    le16(blockAlign); le16(bits)
    tag("data"); le32(dataLen)
    if (bits == 16)
      samples.foreach { s =>
        require(s >= Short.MinValue && s <= Short.MaxValue, s"sample $s out of 16-bit range")
        le16(s & 0xffff)
      }
    else
      samples.foreach { s =>
        require(s >= -(1 << 23) && s < (1 << 23), s"sample $s out of 24-bit range")
        out.write(s & 0xff); out.write((s >> 8) & 0xff); out.write((s >> 16) & 0xff)
      }
    out.toByteArray
  }
}
