package graft

import graft.functions.ImageCodec
import java.awt.image.{BufferedImage, DataBufferInt, DirectColorModel, Raster}
import org.scalatest.funsuite.AnyFunSuite

/** r14: `argbOf` (bulk raster access) replaced per-pixel getRGB in
  * phash64 / features / lumBytes. It must reproduce getRGB bit-for-bit
  * on every layout the pipeline produces: synthetic TYPE_INT_RGB,
  * ImageIO-decoded TYPE_3BYTE_BGR (PNG and JPEG), plus the fallback path
  * for anything else (ARGB, nonzero-translate subimages, data buffers
  * with a nonzero offset).
  */
class PixelAccessSpec extends AnyFunSuite {

  private def ref(img: BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) out(y * w + x) = img.getRGB(x, y)
    out
  }

  test("TYPE_INT_RGB synthetic images") {
    for (id <- Seq(0L, 7L, 767L);
         wh <- Seq((32, 32), (48, 32), (64, 32), (33, 17))) {
      val img = ImageCodec.syntheticImage(id, wh._1, wh._2)
      assert(ImageCodec.argbOf(img).sameElements(ref(img)),
        s"INT_RGB mismatch id=$id size=$wh")
    }
  }

  test("TYPE_3BYTE_BGR decoded PNG and JPEG") {
    for (id <- Seq(1L, 99L)) {
      val img0 = ImageCodec.syntheticImage(id, 48, 32)
      val png = ImageCodec.decode(ImageCodec.toPng(img0))
      assert(ImageCodec.argbOf(png).sameElements(ref(png)), s"png id=$id")
      val jpg = ImageCodec.decode(ImageCodec.toJpeg(img0))
      assert(ImageCodec.argbOf(jpg).sameElements(ref(jpg)), s"jpeg id=$id")
    }
  }

  test("fallback: TYPE_INT_ARGB goes through bulk getRGB") {
    val img = new BufferedImage(20, 10, BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 10; x <- 0 until 20)
      img.setRGB(x, y, (x * 31 + y * 77) | 0xCC000000)
    assert(ImageCodec.argbOf(img).sameElements(ref(img)))
  }

  test("fallback: TYPE_INT_RGB over a data buffer with nonzero offset") {
    val (w, h, off) = (20, 10, 7)
    val cm = new DirectColorModel(24, 0xFF0000, 0xFF00, 0xFF)
    val buf = new DataBufferInt(new Array[Int](off + w * h), w * h, off)
    val img = new BufferedImage(cm,
      Raster.createWritableRaster(cm.createCompatibleSampleModel(w, h), buf, null),
      false, null)
    assert(img.getType == BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, x * 4099 + y * 131)
    buf.getData()(0) = 0x123456 // a word before the image's first pixel
    assert(ImageCodec.argbOf(img).sameElements(ref(img)))
  }

  test("fallback: nonzero-translate subimage") {
    val sub = ImageCodec.syntheticImage(5L, 64, 32).getSubimage(8, 4, 40, 20)
    assert(ImageCodec.argbOf(sub).sameElements(ref(sub)))
  }
}
