package graft.multimodal

import java.nio.file.Files

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

/** ScalaCheck properties for the WAV codec: ∀ sample vectors (any
  * length incl. empty, full 16-bit range) the container round-trips
  * bit-exact, and the probe reports the written layout; both writers
  * emit the frozen reference's bytes. */
object WavCodecProps extends Properties("WavCodec") {

  private val tmpRoot = {
    val d = Files.createTempDirectory("graft_wav_props")
    graft.TempDirs.cleanupOnExit(d)
    d
  }

  private val sampleVec =
    Gen.listOf(Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))

  property("PCM16 write -> parse round-trips every sample bit-exact") =
    forAllNoShrink(sampleVec, Gen.choose(1, 96000)) { (xs, rate) =>
      val bytes = WavCodec.writePcm16Mono(xs.toArray, rate)
      val meta = WavCodec.probe(bytes)
      meta.channels == 1 && meta.sampleRate == rate &&
        meta.bitsPerSample == 16 && meta.nFrames == xs.length.toLong &&
        WavCodec.samples(bytes).toSeq == xs
    }

  property("the column UDF's failure contract: truncated payloads never decode to wrong samples") =
    forAllNoShrink(sampleVec.suchThat(_.nonEmpty), Gen.choose(0, 43)) { (xs, cut) =>
      // tearing the container anywhere inside the 44-byte header makes
      // it unreadable — parse throws (→ NULL at the column layer),
      // never returns a truncated-but-plausible sample vector
      val whole = WavCodec.writePcm16Mono(xs.toArray, 8000)
      val torn = whole.take(cut)
      try { WavCodec.samples(torn); false }
      catch { case _: Exception => true }
    }

  /** (bits, channels, interleaved samples): whole frames only, any
    * count from empty up, each sample anywhere in the bit depth's range. */
  private val pcmCase = for {
    bits <- Gen.oneOf(16, 24)
    channels <- Gen.oneOf(1, 2)
    nFrames <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 200))
    lim = 1 << (bits - 1)
    xs <- Gen.listOfN(nFrames * channels, Gen.chooseNum(-lim, lim - 1))
  } yield (bits, channels, xs.toArray)

  property("writePcm and the incremental Writer emit the reference writer's bytes") =
    forAllNoShrink(pcmCase, Gen.choose(1, 96000)) { case ((bits, channels, xs), rate) =>
      val want = WavReferenceWriter.writePcm(xs, rate, channels, bits)
      val path = Files.createTempFile(tmpRoot, "w", ".wav")
      val w = new WavCodec.Writer(path.toString, rate, channels, bits)
      try xs.foreach(w.addSample) finally w.close()
      WavCodec.writePcm(xs, rate, channels, bits).sameElements(want) &&
        Files.readAllBytes(path).sameElements(want) && w.samplesWritten == xs.length.toLong
    }
}
