package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** K1 `FrameSaver`'s VIDEO-FILE face
  * (`/root/reference/uav/frame_processing.py:130-196`): the reference
  * muxes frames into an actual container via `cv2.VideoWriter`; this
  * writes a playable AVI or MP4 fully in-JVM. Every face runs one
  * drain ([[drain]]) into a container's incremental muxer
  * ([[Containers.FrameMuxer]]), with the reference's exact binding
  * semantics:
  *
  *  - '''first-frame bind''' (`:147-153`): (width, height, fps) lock to
  *    the first frame in frame order; `fps` null-or-nonpositive falls
  *    back to [[VideoSink.DefaultFps]] = the reference's
  *    `DEFAULT_FPS = 25.0`;
  *  - '''drop-on-mismatch''' (`:171-178`): a frame whose dims differ
  *    from the bound size is SKIPPED and counted, never written;
  *  - '''release semantics''': the container finalizes on close — a
  *    partial write is not a valid RIFF file, matching
  *    `VideoWriter.release()`.
  *
  * Codec choice: `"raw"` muxes BI_RGB frames — lossless, the payload
  * bytes survive a write→read round-trip exactly (the sink ↔ source
  * pair is its own oracle); `"mjpg"` JPEG-encodes each frame
  * ([[ImageCodec.encodeJpeg]], the reverse of the decode path) —
  * smaller, lossy like the reference's mp4v.
  *
  * Scale shape: ONE container is a sequential artifact (frame order is
  * the format), so the single-file writers drain the sorted relation
  * through [[Sinks.ordered]] — partition-at-a-time fetch, constant mux
  * memory, never the whole video resident — exactly as bounded as the
  * reference's own single-threaded writer loop. For parallel output use
  * [[saveAviPartitioned]]: the same drain runs executor-side once PER
  * RANGE-PARTITION, into its own container ([[Sinks.parts]], the
  * part-file drain [[WavCodec]]'s sink shares); every part is a
  * self-describing AVI and ordered concatenation of the parts' frames
  * reproduces the full stream (spec'd).
  */
object VideoSink {

  /** The reference's `FrameSaver.DEFAULT_FPS` (`frame_processing.py:132`). */
  val DefaultFps = 25

  final case class SaveStats(written: Long, dropped: Long,
                             width: Int, height: Int, fps: Int)

  /** JPEG-encode one interleaved-BGR buffer (inverse of
    * [[ImageCodec.decode]]'s layout: TYPE_3BYTE_BGR's raster IS BGR). */
  def encodeJpeg(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h * 3, s"need $w x $h x 3 BGR bytes, got ${pixels.length}")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    img.getRaster.setDataElements(0, 0, w, h, pixels)
    ImageCodec.encodeJpeg(img)
  }

  private type Encode = (Array[Byte], Int, Int) => Array[Byte]
  private type Open = (Int, Int, Int) => Containers.FrameMuxer

  /** An AVI codec's per-frame encode: raw frames pass through (the
    * muxer packs them as DIB), `mjpg` frames JPEG-encode. */
  private def aviEncode(codec: String): Encode = {
    require(codec == "raw" || codec == "mjpg", s"codec must be raw|mjpg, got $codec")
    if (codec == "raw") (bgr, _, _) => bgr else encodeJpeg
  }

  /** The one writer loop. `rows` are `(frame_number, payload BGR bytes,
    * w, h[, fps])` in frame order. The first row binds (w, h, fps) and
    * opens the muxer; a row of other dims drops and is counted; every
    * other row is encoded and appended. The muxer closes once the rows
    * run out. */
  private def drain(rows: Iterator[Row], open: Open, encode: Encode): SaveStats = {
    var muxer: Containers.FrameMuxer = null
    var bw = 0
    var bh = 0
    var bfps = DefaultFps
    var written = 0L
    var dropped = 0L
    rows.foreach { r =>
      val (w, h) = (r.getInt(2), r.getInt(3))
      if (muxer == null) {
        // first-frame bind; DEFAULT_FPS when the source offers none
        val fpsRaw = if (r.length < 5 || r.isNullAt(4)) 0.0 else r.getDouble(4)
        bw = w; bh = h
        bfps = if (fpsRaw > 0) math.max(1, math.round(fpsRaw).toInt) else DefaultFps
        muxer = open(bw, bh, bfps)
      }
      if (w != bw || h != bh) dropped += 1 // frame_processing.py:171-178
      else {
        muxer.addFrame(encode(r.getAs[Array[Byte]](1), bw, bh))
        written += 1
      }
    }
    if (muxer != null) muxer.close()
    SaveStats(written, dropped, bw, bh, bfps)
  }

  /** [[drain]] over all of `df` in `frame_number` order
    * ([[Sinks.ordered]]). */
  private def drainSorted(df: DataFrame, open: Open, encode: Encode): SaveStats = {
    val fps = if (df.columns.contains("fps")) col("fps").cast("double") else lit(null).cast("double")
    val selected = df.select(col("frame_number"), col("payload"), col("w"), col("h"), fps.as("fps"))
    drain(Sinks.ordered(selected, "frame_number"), open, encode)
  }

  /** Writes `df` — columns `(frame_number, payload BGR bytes, w, h[,
    * fps])` — as one AVI at `path`, in `frame_number` order, with the
    * reference's first-frame bind and drop-on-mismatch. Returns the
    * write report (the reference logs these; a relation is better). */
  def saveAvi(df: DataFrame, path: String, codec: String = "raw"): SaveStats =
    drainSorted(df, new AviCodec.Muxer(path, _, _, _, raw = codec == "raw"), aviEncode(codec))

  /** The MP4 face of the same sink (the reference's PRIMARY output
    * container — `cv2.VideoWriter` with `mp4v`,
    * `frame_processing.py:154-160`), through [[Mp4Codec.Muxer]]. Every
    * frame JPEG-encodes (Photo-JPEG-in-MP4 — ISO-BMFF has no standard
    * uncompressed-BGR sample entry, so the MP4 face is lossy like the
    * reference's mp4v; the lossless round-trip lives on the AVI face).
    * Read back through the same `graft-frames` connector. */
  def saveMp4(df: DataFrame, path: String): SaveStats =
    drainSorted(df, new Mp4Codec.Muxer(path, _, _, _), encodeJpeg)

  /** Partition-parallel variant: `df` is range-partitioned on
    * `frame_number` and each non-empty partition drains into its own
    * `part-NNNNN.avi` executor-side ([[Sinks.parts]]) — no driver
    * funnel. Mismatched frames drop against the PART's first frame;
    * parts bind [[DefaultFps]]. Returns frames written. */
  def saveAviPartitioned(df: DataFrame, dir: String, codec: String = "raw",
                         numParts: Int = 0): Long = {
    val encode = aviEncode(codec)
    val raw = codec == "raw"
    val selected = df.select(col("frame_number"), col("payload"), col("w"), col("h"))
    Sinks.parts(selected, dir, "avi", col("frame_number"), "frame_number", numParts) { (rows, part) =>
      drain(rows, new AviCodec.Muxer(part, _, _, _, raw), encode).written
    }
  }
}
