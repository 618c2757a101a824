package graft

import graft.operators.Geo.Raster
import java.lang.Double.doubleToRawLongBits
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Geo.Raster`'s tap sampler and pivot against a Scala statement of their
  * contract, compared by raw bits (signed zero included), with the probes
  * and the grid split over 1 and over 5 partitions.
  */
class RasterSamplerSpec extends SparkSpecBase {
  import spark.implicits._

  /** 4×4 grid: negative values, a −0.0 cell, and magnitudes far enough
    * apart that the summand order shows in the result.
    */
  private val tableA: Map[(Long, Long), Double] = Seq(
    Seq(1e16, 0.75, -1e16, 3.0),
    Seq(0.75, -0.0, -3.0, 1e16),
    Seq(-1e16, -5.0, -7.0, 0.25),
    Seq(3.0, 1e16, 0.25, -1e16)).zipWithIndex.flatMap { case (r, i) =>
      r.zipWithIndex.map { case (v, j) => (i.toLong, j.toLong) -> v } }.toMap
  /** tableA with nodata holes at (1, 2) and (2, 1). */
  private val tableB: Map[(Long, Long), Option[Double]] =
    tableA.map { case (k, v) => k -> (if (k == ((1L, 2L)) || k == ((2L, 1L))) None else Some(v)) }

  private def gridOf(t: Map[(Long, Long), Option[Double]]): DataFrame =
    t.toSeq.map { case ((i, j), v) => (i, j, v) }.toDF("gi", "gj", "v")

  /** (id, x, y): integer positions (zero weights), the −0.0 cell, the
    * order-sensitive corner, partly off the grid and fully off it.
    */
  private val probesA = Seq(
    (0L, 1.0, 1.0), (1L, 0.5, 0.5), (2L, 0.25, 1.75), (3L, 2.5, 0.5),
    (4L, 2.0, 2.5), (5L, 3.5, 1.5), (6L, -0.5, 1.0), (7L, 10.0, 10.0),
    (8L, -5.0, 1.0), (9L, 1.0, 3.0))

  /** One tap of a probe: its offsets, `ord`, weight and grid value
    * (None = off the grid; Some(None) = a nodata hole).
    */
  private case class Tap(oi: Long, oj: Long, ord: Int, w: Double, v: Option[Option[Double]])

  private def bilinearW(o: Long, t: Double): Double = if (o == 0) 1.0 - t else t
  private def cubicW(o: Long, t: Double): Double = o match {
    case -1 => ((-(t * t * t) + 2.0 * (t * t)) - t) / 2.0
    case 0 => ((3.0 * (t * t * t) - 5.0 * (t * t)) + 2.0) / 2.0
    case 1 => ((-3.0 * (t * t * t) + 4.0 * (t * t)) + t) / 2.0
    case _ => ((t * t * t) - (t * t)) / 2.0
  }

  /** The taps of probe (x, y) in `ord` order, stated in Scala. */
  private def taps(x: Double, y: Double, offs: Seq[Long], wt: (Long, Double) => Double,
      grid: Map[(Long, Long), Option[Double]]): Seq[Tap] = {
    val i = math.floor(x).toLong; val j = math.floor(y).toLong
    val di = x - i; val dj = y - j
    (for (oi <- offs; oj <- offs) yield (oi, oj)).zipWithIndex.map { case ((oi, oj), k) =>
      Tap(oi, oj, k, wt(oi, di) * wt(oj, dj), grid.get((i + oi, j + oj))) }
  }

  private def bits(d: Double): Long = doubleToRawLongBits(d)
  private def sameBits(got: Any, exp: Option[Double], what: String): Unit = exp match {
    case None => assert(got == null, s"$what: expected NULL, got $got")
    case Some(e) =>
      assert(got != null, s"$what: expected $e, got NULL")
      assert(bits(got.asInstanceOf[Double]) == bits(e), s"$what: expected $e, got $got")
  }
  private def chain(xs: Seq[Double]): Double = xs.tail.foldLeft(xs.head)(_ + _)

  private def sampled(grid: DataFrame, probes: Seq[(Long, Double, Double)], kernel: Raster.Taps,
      parts: Int, how: String): DataFrame =
    Raster.sample(probes.toDF("id", "x", "y").repartition(parts), col("x"), col("y"), kernel,
      grid.repartition(parts), how)

  for (parts <- Seq(1, 5)) {
    test(s"bilinear taps: zero-filled sum and null-keeping max, by raw bits ($parts partitions)") {
      val gridA = gridOf(tableA.map { case (k, v) => k -> Some(v) })
      val rows = Raster.pivot(sampled(gridA, probesA, Raster.Bilinear, parts, "inner"),
          Seq(col("id")), 4)(k => Seq(
          Raster.tapSum(k, col("w") * col("v")).as(s"t$k"),
          Raster.tapMax(k, col("w") * col("v")).as(s"p$k")))
        .select(col("id") +: Raster.chain("t", 4).as("s") +: Raster.chain("p", 4).as("m") +:
          (0 until 4).flatMap(k => Seq(col(s"t$k"), col(s"p$k"))): _*)
        .collect().map(r => r.getLong(0) -> r).toMap
      val grid = tableA.map { case (k, v) => k -> Some(v) }
      // an inner join drops a probe whose taps are all off the grid
      assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 9L))
      var orderShows = false
      probesA.filter(p => rows.contains(p._1)).foreach { case (id, x, y) =>
        val r = rows(id)
        val ts = taps(x, y, Seq(0L, 1L), bilinearW, grid)
        val prod = ts.map(t => t.v.map(v => t.w * v.get))
        val zf = prod.map(p => p.fold(0.0)(0.0 + _))
        val nk = if (prod.forall(_.isDefined)) Some(chain(prod.map(_.get))) else None
        sameBits(r.getAs[Any]("s"), Some(chain(zf)), s"probe $id zero-filled chain")
        sameBits(r.getAs[Any]("m"), nk, s"probe $id null-keeping chain")
        (0 until 4).foreach { k =>
          sameBits(r.getAs[Any](s"t$k"), Some(zf(k)), s"probe $id tap $k (sum)")
          sameBits(r.getAs[Any](s"p$k"), prod(k), s"probe $id tap $k (max)")
        }
        if (bits(chain(zf)) != bits(chain(zf.reverse))) orderShows = true
      }
      // the cases can tell a reversed summand order apart
      assert(orderShows)
      // integer position on the −0.0 cell: every product is −0.0; the
      // null-keeping chain keeps the sign, the zero-filled one does not
      assert(bits(rows(0L).getAs[Double]("m")) == bits(-0.0))
      assert(bits(rows(0L).getAs[Double]("s")) == bits(0.0))
      // partly off the grid: missing taps read 0.0 in the sum, NULL in the max
      assert(rows(5L).isNullAt(rows(5L).fieldIndex("m")) && !rows(5L).isNullAt(1))
    }

    test(s"bilinear taps over nodata: renormalised and strict contracts ($parts partitions)") {
      val tapped = sampled(gridOf(tableB), probesA, Raster.Bilinear, parts, "left")
      val renorm = Raster.renormalised(tapped, "id").collect().map(r => r.getLong(0) -> r).toMap
      val strict = Raster.pivot(tapped, Seq(col("id")), 4, count(col("v")).as("n_valid"))(k =>
          Seq(Raster.tapMax(k, col("w") * col("v")).as(s"p$k")))
        .select(col("id"), (col("n_valid") === 4).as("valid"),
          when(col("n_valid") === 4, Raster.chain("p", 4)).as("value"))
        .collect().map(r => r.getLong(0) -> r).toMap
      // a left join keeps every probe, the fully-off ones as invalid
      assert(renorm.keySet == probesA.map(_._1).toSet && strict.keySet == renorm.keySet)
      var sawHole = false
      probesA.foreach { case (id, x, y) =>
        val ts = taps(x, y, Seq(0L, 1L), bilinearW, tableB)
        val live = ts.map(t => t.v.flatten.map(v => (t.w, t.w * v)))
        if (ts.exists(_.v.contains(None))) sawHole = true
        val wsum = chain(live.map(_.fold(0.0)(l => 0.0 + l._1)))
        val vsum = chain(live.map(_.fold(0.0)(l => 0.0 + l._2)))
        val r = renorm(id)
        assert(r.getAs[Boolean]("valid") == wsum > 0.0, s"probe $id renormalised valid")
        sameBits(r.getAs[Any]("value"), if (wsum > 0.0) Some(vsum / wsum) else None,
          s"probe $id renormalised value")
        val all = live.forall(_.isDefined)
        assert(strict(id).getAs[Boolean]("valid") == all, s"probe $id strict valid")
        sameBits(strict(id).getAs[Any]("value"), if (all) Some(chain(live.map(_.get._2))) else None,
          s"probe $id strict value")
      }
      assert(sawHole)
    }

    test(s"4×4 and 6×6 taps land in row-major ord order ($parts partitions)") {
      val n = 12
      val big: Map[(Long, Long), Option[Double]] = (for (i <- 0L until n; j <- 0L until n)
        yield (i, j) -> Some(if ((i * 5 + j * 3) % 4 == 0) 1e16 * (1 - 2 * ((i + j) % 2))
          else (i * n + j) * 0.375 - 20.0)).toMap
      val probes = Seq((0L, 5.25, 6.75), (1L, 3.5, 8.125), (2L, 7.0, 4.0), (3L, 6.625, 5.5))
      for ((kernel, wt) <- Seq[(Raster.Taps, Option[(Long, Double) => Double])](
          Raster.Cubic -> Some(cubicW), Raster.Lanczos -> None)) {
        val tapped = sampled(gridOf(big), probes, kernel, parts, "left")
        val ws = tapped.select(col("id"), col("ord"), col("oi"), col("oj"), col("w")).collect()
          .map(r => (r.getLong(0), r.getLong(1).toInt) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
          .toMap
        val piv = Raster.pivot(tapped, Seq(col("id")), kernel.n)(k =>
            Seq(Raster.tapMax(k, col("w") * col("v")).as(s"p$k")))
          .select(col("id") +: Raster.chain("p", kernel.n).as("m") +:
            (0 until kernel.n).map(k => col(s"p$k")): _*)
          .collect()
        assert(piv.length == probes.size)
        piv.foreach { r =>
          val id = r.getLong(0)
          val (_, x, y) = probes.find(_._1 == id).get
          val weight: (Long, Double) => Double = wt.getOrElse { (o: Long, t: Double) => 0.0 }
          val ts = taps(x, y, kernel.offs, weight, big)
          val prods = ts.map { t =>
            val (oi, oj, w) = ws((id, t.ord))
            // the k-th tap in row-major (oi, oj) order has ord k
            assert((oi, oj) == ((t.oi, t.oj)), s"probe $id tap ${t.ord} offsets")
            if (wt.isDefined) assert(bits(w) == bits(t.w), s"probe $id tap ${t.ord} weight")
            w * t.v.get.get
          }
          prods.zipWithIndex.foreach { case (p, k) =>
            sameBits(r.getAs[Any](s"p$k"), Some(p), s"probe $id tap $k") }
          sameBits(r.getAs[Any]("m"), Some(chain(prods)), s"probe $id chain")
        }
      }
    }
  }
}
