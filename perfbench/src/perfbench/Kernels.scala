package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ByteKernels, GeoMath, ImageCodec, Onnx, OrbitMath}

/** Direct calls into the public `graft.functions` kernels on inputs taken
  * from the committed tables: event positions (the replay-feed formula),
  * document texts, the synthetic camera frames keyed by doc_id, and the
  * five-satellite element sets of the orbit queries. Each kernel reports
  * the median over five rounds of nanoseconds per call.
  */
object Kernels {
  /** Results land here so the JIT cannot drop the measured calls. */
  @volatile var blackhole: Long = 0L

  private def nsPerCall(calls: Int)(body: => Long): Double =
    Stats.median((0 until 6).map { _ =>
      val t0 = System.nanoTime()
      blackhole += body
      (System.nanoTime() - t0).toDouble / calls
    }.drop(1)) // the first round warms the JIT

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    import spark.implicits._
    val ev = spark.read.parquet(s"$data/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"))
      .as[(Long, Long, Double)].collect()
    val pts = ev.map { case (e, u, v) =>
      ((u * 37 % 140 - 70).toDouble + v / 1000.0,
        (e * 73 % 360 - 180).toDouble + v / 2000.0)
    }
    val texts = spark.read.parquet(s"$data/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val utf = texts.map(t => UTF8String.fromString(t._2))
    val pngs = texts.map { case (id, _) =>
      ImageCodec.toPng(ImageCodec.syntheticImage(id, 32 + (id % 3).toInt * 16, 32))
    }
    val imgs = pngs.map(ImageCodec.decode)
    val tiles = imgs.map(ImageCodec.cnnTile8)

    Map(
      "functions.haversine_ns" -> nsPerCall(pts.length - 1) {
        var acc = 0.0
        var i = 1
        while (i < pts.length) {
          acc += GeoMath.haversineKm(pts(i - 1)._1, pts(i - 1)._2, pts(i)._1, pts(i)._2)
          i += 1
        }
        acc.toLong
      },
      "functions.char_windows_ns" -> nsPerCall(utf.length) {
        utf.map(t => ByteKernels.charWindows(t, 20, 4).numElements().toLong).sum
      },
      "functions.png_decode_ns" -> nsPerCall(pngs.length) {
        pngs.map(b => ImageCodec.decode(b).getWidth.toLong).sum
      },
      "functions.phash64_ns" -> nsPerCall(imgs.length) {
        imgs.map(ImageCodec.phash64).sum
      },
      "functions.cnn2_ns" -> nsPerCall(tiles.length) {
        tiles.map(t => Onnx.smokeCnn2Scores(t).length.toLong).sum
      },
      "functions.sgp4_ns" -> nsPerCall(5 * 1440) {
        var acc = 0.0
        for (sat <- 0 until 5; m <- 0 until 1440)
          acc += OrbitMath.propagateTeme(15.2 - sat * 0.1, 0.001, 51.6 + sat * 2.0,
            sat * 72.0, sat * 30.0, sat * 50.0, 1.0e-5, m.toDouble)(0)
        acc.toLong
      })
  }
}
