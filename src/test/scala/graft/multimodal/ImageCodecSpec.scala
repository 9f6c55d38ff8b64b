package graft.multimodal

import java.awt.Transparency
import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer, DataBufferByte, Raster}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

class ImageCodecSpec extends AnyFunSuite {

  private def png(img: BufferedImage): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("decode yields cv2.imread layout: row-major interleaved BGR, per-image dims") {
    val img = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000) // red
    img.setRGB(1, 0, 0x00ff00) // green
    img.setRGB(2, 0, 0x0000ff) // blue
    img.setRGB(0, 1, 0x102030)
    val d = ImageCodec.decode(png(img)).get
    assert(d.width === 3 && d.height === 2)
    assert(d.pixels.length === 3 * 2 * 3)
    def bgr(x: Int, y: Int) = {
      val i = (y * 3 + x) * 3
      (d.pixels(i) & 0xff, d.pixels(i + 1) & 0xff, d.pixels(i + 2) & 0xff)
    }
    assert(bgr(0, 0) === ((0, 0, 255)), "red pixel -> B=0,G=0,R=255")
    assert(bgr(1, 0) === ((0, 255, 0)))
    assert(bgr(2, 0) === ((255, 0, 0)))
    assert(bgr(0, 1) === ((0x30, 0x20, 0x10)), "row-major: second row after first")
  }

  test("jpeg and bmp decode too (JDK built-in readers)") {
    for (fmt <- Seq("jpg", "bmp")) {
      val img = new BufferedImage(5, 4, BufferedImage.TYPE_3BYTE_BGR)
      val baos = new ByteArrayOutputStream()
      ImageIO.write(img, fmt, baos)
      val d = ImageCodec.decode(baos.toByteArray)
      assert(d.isDefined, s"$fmt must decode")
      assert(d.get.width === 5 && d.get.height === 4)
    }
  }

  test("undecodable payloads return None, never throw: empty, garbage, truncated") {
    assert(ImageCodec.decode(null).isEmpty)
    assert(ImageCodec.decode(Array.empty[Byte]).isEmpty)
    assert(ImageCodec.decode("not an image at all".getBytes).isEmpty)
    val whole = png(new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB))
    assert(ImageCodec.decode(whole.take(48)).isEmpty,
      "valid PNG signature but torn stream must be a decode failure")
  }

  /** The oracle: the ARGB fetch + BGR repack every image took before the
    * raster dispatch, kept here verbatim. */
  private def repacked(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val argb = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < argb.length) {
      val p = argb(i)
      out(i * 3) = (p & 0xff).toByte
      out(i * 3 + 1) = ((p >> 8) & 0xff).toByte
      out(i * 3 + 2) = ((p >> 16) & 0xff).toByte
      i += 1
    }
    out
  }

  private def filled(w: Int, h: Int, tpe: Int): BufferedImage = {
    val img = new BufferedImage(w, h, tpe)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 7 + y * 13 + 5) * 2654435761L).toInt)
    img
  }

  private def rasterBytes(img: BufferedImage): Array[Byte] =
    img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData

  test("bgrPixels hands back a TYPE_3BYTE_BGR raster's own array, equal to the repack") {
    val img = filled(17, 13, BufferedImage.TYPE_3BYTE_BGR)
    val got = ImageCodec.bgrPixels(img)
    assert(got eq rasterBytes(img), "an sRGB BGR raster is already the cv2.imread layout")
    assert(got.toSeq === repacked(img).toSeq)
  }

  test("bgrPixels repacks a sub-image: a translated raster over a larger buffer") {
    val whole = filled(17, 13, BufferedImage.TYPE_3BYTE_BGR)
    for ((x, y, w, h) <- Seq((3, 2, 9, 7), (0, 0, 17, 5), (0, 4, 17, 9), (2, 0, 15, 13))) {
      val sub = whole.getSubimage(x, y, w, h)
      val got = ImageCodec.bgrPixels(sub)
      assert(!(got eq rasterBytes(sub)), s"sub-image ($x,$y,$w,$h) must not alias the parent buffer")
      assert(got.length === w * h * 3)
      assert(got.toSeq === repacked(sub).toSeq, s"sub-image ($x,$y,$w,$h)")
    }
  }

  test("bgrPixels equals the repack on every other image type") {
    for (tpe <- Seq(BufferedImage.TYPE_INT_RGB, BufferedImage.TYPE_BYTE_GRAY,
                    BufferedImage.TYPE_4BYTE_ABGR, BufferedImage.TYPE_INT_ARGB)) {
      val img = filled(17, 13, tpe)
      assert(ImageCodec.bgrPixels(img).toSeq === repacked(img).toSeq, s"image type $tpe")
    }
  }

  test("bgrPixels converts a linear-RGB BGR-ordered raster instead of returning it") {
    val cm = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_LINEAR_RGB),
      false, false, Transparency.OPAQUE, DataBuffer.TYPE_BYTE)
    val raster = Raster.createInterleavedRaster(DataBuffer.TYPE_BYTE, 17, 13, 17 * 3, 3,
      Array(2, 1, 0), null)
    val data = raster.getDataBuffer.asInstanceOf[DataBufferByte].getData
    data.indices.foreach(i => data(i) = (i * 37 + 11).toByte)
    val img = new BufferedImage(cm, raster, false, null)
    val got = ImageCodec.bgrPixels(img)
    assert(got.toSeq === repacked(img).toSeq)
    assert(got.toSeq !== data.toSeq, "linear samples must go through the sRGB conversion")
  }

  /** The oracle: `ImageIO.write` into a stream. */
  private def encoded(img: BufferedImage, fmt: String): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, fmt, baos), s"no $fmt writer")
    baos.toByteArray
  }

  private def gradient(w: Int, h: Int, seed: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x * 255 / w) << 16 | (y * 255 / h) << 8 | ((x + y + seed * 40) & 0xff))
    img
  }

  test("decode is byte-identical to the repack of ImageIO.read: JPEG, PNG, BMP") {
    val images = Seq(filled(17, 13, BufferedImage.TYPE_3BYTE_BGR),
      filled(17, 13, BufferedImage.TYPE_INT_RGB), gradient(320, 240, 0), gradient(320, 240, 3))
    for (img <- images; fmt <- Seq("jpg", "png", "bmp")) {
      val bytes = encoded(img, fmt)
      val want = repacked(ImageIO.read(new ByteArrayInputStream(bytes)))
      val got = ImageCodec.decode(bytes).get
      assert(got.width === img.getWidth && got.height === img.getHeight)
      assert(got.pixels.toSeq === want.toSeq, s"$fmt ${img.getWidth}x${img.getHeight}")
    }
  }

  test("encodeJpeg equals ImageIO.write byte for byte, with no cache file behind it") {
    val images = Seq(gradient(320, 240, 0), filled(17, 13, BufferedImage.TYPE_INT_RGB))
    val want = images.map(encoded(_, "jpg"))
    val dir = Files.createTempDirectory("graft_encode_cache")
    val old = ImageIO.getCacheDirectory
    try {
      // a cache directory that is gone: any encode that caches through a
      // temp file fails here, as ImageIO.write into a stream does
      ImageIO.setCacheDirectory(dir.toFile)
      Files.delete(dir)
      intercept[IllegalArgumentException](
        ImageIO.write(images.head, "jpg", new ByteArrayOutputStream()))
      images.zip(want).foreach { case (img, w) =>
        assert(ImageCodec.encodeJpeg(img).toSeq === w.toSeq,
          s"type ${img.getType} ${img.getWidth}x${img.getHeight}")
      }
      assert(VideoSink.encodeJpeg(rasterBytes(images.head), 320, 240).nonEmpty,
        "the sink's BGR face encodes through the same path")
    } finally ImageIO.setCacheDirectory(old)
  }

  test("encodeJpeg throws on an image no JPEG writer takes, where ImageIO.write writes nothing") {
    val img = filled(17, 13, BufferedImage.TYPE_INT_ARGB)
    val baos = new ByteArrayOutputStream()
    assert(!ImageIO.write(img, "jpg", baos) && baos.size === 0)
    val e = intercept[IllegalArgumentException](ImageCodec.encodeJpeg(img))
    assert(e.getMessage.contains("no JPEG writer"))
  }
}
