package graft

import graft.functions.ImageCodec
import org.scalatest.funsuite.AnyFunSuite

/** `ImageCodec.lowDct`, the 8×8 DCT-II block behind `phash64`, sums its
  * 64 coefficients in 8 accumulators at a time; each coefficient must
  * keep the bits of the one-coefficient-at-a-time sum it replaced, or
  * hashes near the median threshold would flip.
  */
class LowDctSpec extends AnyFunSuite {

  /** Each coefficient summed alone, in (ii, jj) order. */
  private def reference(lum: Array[Array[Double]]): Array[Double] = {
    val cos = Array.tabulate(8, 32)((k, x) => math.cos(math.Pi / 32 * (x + 0.5) * k))
    Array.tabulate(64) { uv =>
      val (u, v) = (uv / 8, uv % 8)
      var acc = 0.0
      for (ii <- 0 until 32; jj <- 0 until 32) acc += lum(ii)(jj) * cos(u)(ii) * cos(v)(jj)
      acc
    }
  }

  test("lowDct equals the one-accumulator sum bit for bit") {
    val rng = new scala.util.Random(17)
    val grids = Seq.fill(40)(Array.fill(32, 32)(rng.nextDouble() * 255.0)) ++
      Seq.fill(40)(Array.fill(32, 32)(rng.nextInt(256).toDouble)) ++
      Seq(Array.fill(32, 32)(128.0), Array.tabulate(32, 32)((i, j) => ((i ^ j) & 1) * 255.0))
    for ((lum, g) <- grids.zipWithIndex)
      assert(ImageCodec.lowDct(lum).map(java.lang.Double.doubleToRawLongBits).toSeq ==
        reference(lum).map(java.lang.Double.doubleToRawLongBits).toSeq, s"grid $g")
  }
}
