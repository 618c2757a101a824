package graft

import graft.functions.ImageCodec
import java.awt.image.BufferedImage
import org.scalatest.funsuite.AnyFunSuite

/** `ImageCodec.docFrame` is the one frame rule of the per-frame image
  * builders, and every driver-side LUT oracle (and the streaming
  * benchmarks' 768-PNG feed) relies on its period: frame(id) ==
  * frame(id % 768). The sf0.01 data never has an id ≥ 768, so the
  * period is pinned here, far past 2³¹ too.
  */
class DocFrameSpec extends AnyFunSuite {

  private def pixels(img: BufferedImage): (Int, Int, Seq[Int]) =
    (img.getWidth, img.getHeight, ImageCodec.argbOf(img).toSeq)

  private val ids: Seq[Long] =
    (0L until 12L) ++ Seq(767L, 768L, 769L, 770L, 1535L, 4999L) ++
      Seq((1L << 31) - 1, 1L << 31, (1L << 31) + 1, (1L << 31) + 2,
        (1L << 32) + 5, 3L * (1L << 40) + 7, 123456789012345L,
        Long.MaxValue - 2, Long.MaxValue - 1, Long.MaxValue)

  test("docFrame(id) is the synthetic image at the width class of id % 3") {
    ids.foreach { id =>
      val want = ImageCodec.syntheticImage(id, 32 + (id % 3).toInt * 16, 32)
      assert(pixels(ImageCodec.docFrame(id)) == pixels(want), s"id $id")
    }
  }

  test("docFrame has period 768 in every width class, past 2^31") {
    val widths = ids.map { id =>
      val f = pixels(ImageCodec.docFrame(id))
      assert(f == pixels(ImageCodec.docFrame(id % 768)), s"id $id")
      f._1
    }
    assert(widths.toSet == Set(32, 48, 64))
    assert(ids.filter(_ > Int.MaxValue).map(_ % 3).toSet == Set(0L, 1L, 2L))
  }
}
