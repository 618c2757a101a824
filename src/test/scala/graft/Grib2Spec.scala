package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.sources.Grib2
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

/** GRIB2 source spec — the odin_hrrr/odin_wind ingest path: HRRR surface
  * fields (u10/v10 wind components) arrive as GRIB2 messages
  * (odin_hrrr/src/fields.rs NOMADS field list; odin_gdal/src/lib.rs:61
  * decodes "grib2" via GDAL), then odin_wind derives grid / vector /
  * contour products. Here the decode is the pure-JVM Grib2Provider and
  * the products are declarative Spark plans over its output.
  */
class Grib2Spec extends SparkSpecBase with TimeLimits {

  private val ni = 40 // lon points
  private val nj = 25 // lat points

  // synthetic wind components, quantized to the file's 2-decimal packing
  private def u10(r: Int, c: Int): Double = ((r * 13 + c * 7) % 41 - 20) / 4.0
  private def v10(r: Int, c: Int): Double = ((r * 5 + c * 11) % 37 - 18) / 4.0
  // gusts with missing cells (bitmap): NaN south of the diagonal
  private def gust(r: Int, c: Int): Double =
    if ((r + c) % 7 == 0) Double.NaN else ((r * 3 + c) % 50) / 2.0

  private lazy val path: String = {
    val f = java.nio.file.Files.createTempDirectory("grib").resolve("hrrr.grib2")
    def grid(g: (Int, Int) => Double) =
      Array.tabulate(nj * ni)(i => g(i / ni, i % ni))
    val common = (fld: (Int, Int, Int, Int, Int, (Int, Int) => Double)) =>
      Grib2.Field(discipline = fld._1, category = fld._2, parameter = fld._3,
        levelType = fld._4, level = fld._5,
        year = 2026, month = 8, day = 12, hour = 6, forecastHour = 3,
        ni = ni, nj = nj, la1Deg = 44.0, lo1Deg = -124.0,
        diDeg = 0.1, djDeg = 0.1, values = grid(fld._6))
    Grib2.write(f.toString, Seq(
      common((0, 2, 2, 103, 10, u10)), // UGRD 10 m above ground
      common((0, 2, 3, 103, 10, v10)), // VGRD 10 m above ground
      common((0, 2, 22, 103, 10, gust)))) // GUST, with bitmap
    f.toString
  }

  private def grib = spark.read
    .format("graft.sources.Grib2Provider").option("path", path).load()

  test("round trip: values, georeference, product identification") {
    val rows = grib.filter(col("parameter") === 2).collect()
    assert(rows.length == ni * nj)
    rows.foreach { r =>
      val row = r.getAs[Int]("row"); val c = r.getAs[Int]("col")
      assert(r.getAs[Double]("value") == u10(row, c), s"value at ($row,$c)")
      assert(math.abs(r.getAs[Double]("lat") - (44.0 - row * 0.1)) < 1e-9)
      assert(math.abs(r.getAs[Double]("lon") - (-124.0 + c * 0.1)) < 1e-9)
      assert(r.getAs[Int]("discipline") == 0)
      assert(r.getAs[Int]("category") == 2)
      assert(r.getAs[Int]("level_type") == 103)
      assert(r.getAs[Double]("level") == 10.0)
      assert(r.getAs[Int]("forecast_hour") == 3)
      assert(r.getAs[Long]("ref_time") ==
        java.time.LocalDateTime.of(2026, 8, 12, 6, 0, 0)
          .toEpochSecond(java.time.ZoneOffset.UTC))
    }
  }

  test("bitmap: missing cells decode as null, present cells exact") {
    val rows = grib.filter(col("parameter") === 22)
      .select("row", "col", "value").collect()
    assert(rows.length == ni * nj)
    var nulls = 0
    rows.foreach { r =>
      val row = r.getAs[Int]("row"); val c = r.getAs[Int]("col")
      if (gust(row, c).isNaN) { assert(r.isNullAt(2), s"expected null at ($row,$c)"); nulls += 1 }
      else assert(r.getAs[Double]("value") == gust(row, c), s"gust at ($row,$c)")
    }
    assert(nulls == (0 until nj).flatMap(r => (0 until ni).map(c => (r, c)))
      .count { case (r, c) => (r + c) % 7 == 0 })
  }

  test("one input partition per message") {
    assert(grib.rdd.getNumPartitions == 3)
  }

  test("column pruning reaches the reader") {
    val pruned = grib.select("value")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("lat"), s"lat not pruned:\n$plan")
    val total = pruned.agg(sum("value")).collect()(0).getDouble(0)
    val exp = (0 until nj).flatMap(r => (0 until ni).flatMap(c =>
      Seq(u10(r, c), v10(r, c)) ++ (if (gust(r, c).isNaN) Nil else Seq(gust(r, c))))).sum
    assert(math.abs(total - exp) < 1e-6)
  }

  test("complex packing (5.2) and spatial differencing (5.3) round-trip") {
    // same grid, three packings — NOMADS HRRR files ship 5.3
    def field(packing: Int) = Grib2.Field(
      discipline = 0, category = 2, parameter = 2, levelType = 103, level = 10,
      year = 2026, month = 8, day = 12, hour = 6, forecastHour = 2,
      ni = ni, nj = nj, la1Deg = 44.0, lo1Deg = -124.0,
      diDeg = 0.1, djDeg = 0.1,
      values = Array.tabulate(nj * ni)(i => u10(i / ni, i % ni)),
      packing = packing)
    val f = java.nio.file.Files.createTempDirectory("grib").resolve("cplx.grib2")
    Grib2.write(f.toString, Seq(field(0), field(2), field(3)))
    val rows = spark.read.format("graft.sources.Grib2Provider")
      .option("path", f.toString).load()
      .select("msg", "row", "col", "value").collect()
    assert(rows.length == 3 * ni * nj)
    rows.foreach { r =>
      val row = r.getAs[Int]("row"); val c = r.getAs[Int]("col")
      assert(r.getAs[Double]("value") == u10(row, c),
        s"msg ${r.getAs[Int]("msg")} at ($row,$c)")
    }
    // 5.3 should beat simple packing on smooth fields; both beat nothing
    val msgs = Grib2.scanMessages(f.toString)
    assert(msgs.length == 3)
    assert(msgs(2).length < msgs(0).length,
      s"5.3 (${msgs(2).length} B) not smaller than 5.0 (${msgs(0).length} B)")
  }

  test("PNG packing (5.41) round-trips at depths 8 and 16, with a bitmap") {
    // 5.41 stores the scaled ints as a grayscale PNG (many NCEP MRMS /
    // NDFD products ship this); 5.40 JPEG2000 is the argued exclusion
    def field(vals: Array[Double], bits: Int) = Grib2.Field(
      discipline = 0, category = 2, parameter = 2, levelType = 103, level = 10,
      year = 2026, month = 8, day = 12, hour = 6, forecastHour = 2,
      ni = ni, nj = nj, la1Deg = 44.0, lo1Deg = -124.0,
      diDeg = 0.1, djDeg = 0.1, values = vals, nBits = bits, packing = 41)
    val full16 = Array.tabulate(nj * ni)(i => u10(i / ni, i % ni))
    val narrow8 = Array.tabulate(nj * ni)(i => (i % 101) / 100.0) // < 2^8 scaled
    val gappy = Array.tabulate(nj * ni)(i =>
      if (i % 7 == 3) Double.NaN else u10(i / ni, i % ni)) // bitmap path
    val f = java.nio.file.Files.createTempDirectory("grib").resolve("png.grib2")
    Grib2.write(f.toString,
      Seq(field(full16, 16), field(narrow8, 8), field(gappy, 16)))
    val rows = spark.read.format("graft.sources.Grib2Provider")
      .option("path", f.toString).load()
      .select("msg", "row", "col", "value").collect()
    val expected = Seq(full16, narrow8, gappy)
    assert(rows.length == 3 * ni * nj)
    rows.foreach { r =>
      val m = r.getAs[Int]("msg")
      val i = r.getAs[Int]("row") * ni + r.getAs[Int]("col")
      if (expected(m)(i).isNaN)
        assert(r.isNullAt(3), s"msg $m cell $i: bitmap miss not null")
      else
        assert(r.getAs[Double]("value") == expected(m)(i),
          s"msg $m at cell $i")
    }
    // PNG's DEFLATE actually compresses the smooth field
    val msgs = Grib2.scanMessages(f.toString)
    assert(msgs(0).length < 16L + ni.toLong * nj * 2 + 200,
      s"PNG message not compressed: ${msgs(0).length} B")
  }

  test("polar stereographic grid (template 3.20): the NDFD Alaska projection") {
    // NDFD Alaska convention: standard parallel 60°N, LoV −150°, 5 km
    // cells, north-polar aspect — the grid geo_warp_ps warps FROM; this
    // pins the reader side (decode + per-cell Snyder inverse geolocation)
    val ps = Grib2.Ps(laDDeg = 60.0, loVDeg = -150.0, dxM = 5000.0, dyM = 5000.0)
    val (w, h) = (30, 20)
    val vals = Array.tabulate(h * w)(i => ((i * 13) % 201) / 4.0 - 25.0)
    val f = java.nio.file.Files.createTempDirectory("grib").resolve("ps.grib2")
    Grib2.write(f.toString, Seq(Grib2.Field(
      discipline = 0, category = 3, parameter = 0, levelType = 1, level = 0,
      year = 2026, month = 8, day = 15, hour = 12, forecastHour = 1,
      ni = w, nj = h, la1Deg = 57.0, lo1Deg = -163.0,
      diDeg = 0.0, djDeg = 0.0, values = vals, ps = Some(ps))))
    val rows = spark.read.format("graft.sources.Grib2Provider")
      .option("path", f.toString).load()
      .select("row", "col", "lat", "lon", "value").collect()
    assert(rows.length == w * h)
    // values round-trip exactly (0.25-steps at decScale 2)
    rows.foreach { r =>
      val i = r.getAs[Int]("row") * w + r.getAs[Int]("col")
      assert(r.getAs[Double]("value") == vals(i), s"cell $i")
    }
    // cell (0,0) is the anchor; every cell's forward-projection sits on
    // the 5 km lattice from the anchor (Snyder round-trip identity)
    val (x1, y1) = Grib2.PsMath.forward(ps, 57.0, -163.0)
    rows.foreach { r =>
      val (row, col) = (r.getAs[Int]("row"), r.getAs[Int]("col"))
      val (fx, fy) = Grib2.PsMath.forward(ps,
        r.getAs[Double]("lat"), r.getAs[Double]("lon"))
      assert(math.abs(fx - (x1 + col * 5000.0)) < 1e-5, s"x($row,$col)")
      assert(math.abs(fy - (y1 + row * 5000.0)) < 1e-5, s"y($row,$col)")
    }
    val r00 = rows.find(r => r.getAs[Int]("row") == 0 && r.getAs[Int]("col") == 0).get
    assert(math.abs(r00.getAs[Double]("lat") - 57.0) < 1e-9)
    assert(math.abs(r00.getAs[Double]("lon") + 163.0) < 1e-9)
    // shared-formula parity: PsMath.forward is the Scala form of the
    // engine's PsK SQL fragments (same K0, LoV, R; PsK mm-rounds)
    import graft.operators.Geo.PsK
    Seq((58.0, -160.0), (61.95, -145.25), (70.0, -140.0)).foreach {
      case (la, lo) =>
        val sqlXY = spark.sql(s"SELECT ${PsK.x(la + "e0", lo + "e0")} AS x, " +
          s"${PsK.y(la + "e0", lo + "e0")} AS y").collect()(0)
        val (ex, ey) = Grib2.PsMath.forward(ps, la, lo)
        assert(math.abs(sqlXY.getDouble(0) - ex) < 2e-3, s"PsK x($la,$lo)")
        assert(math.abs(sqlXY.getDouble(1) - ey) < 2e-3, s"PsK y($la,$lo)")
    }
    // south-polar aspect is an explicit rejection, not a silent misread
    val bytes = java.nio.file.Files.readAllBytes(f)
    // projection-centre flag: octet 64 of section 3 (section starts after
    // the 16-byte indicator + 21-byte section 1)
    val s3Start = 16 + 21
    assert((bytes(s3Start + 4) & 0xFF) == 3, "walk: expected section 3")
    bytes(s3Start + 63) = 0x80.toByte // bit 1 set = south pole
    val f2 = f.resolveSibling("ps_south.grib2")
    java.nio.file.Files.write(f2, bytes)
    val m = Grib2.scanMessages(f2.toString).head
    val e = intercept[IllegalArgumentException] {
      Grib2.decodeMessage(f2.toString, m.offset, m.length)
    }
    assert(e.getMessage.contains("south-polar"), e.getMessage)
  }

  test("product template 4.8: statistical interval — the full NDFD shape") {
    // a real NDFD Alaska product is PS-gridded (3.20), PNG-packed (5.41)
    // AND interval-statistical (4.8): 12-h PoP ending 12Z next day. One
    // message carries all three; a plain 4.0 message in the same file
    // keeps null stat columns.
    val ps = Grib2.Ps(60.0, -150.0, 5000.0, 5000.0)
    val vals = Array.tabulate(nj * ni)(i => (i % 101).toDouble) // percent
    def field(stat: Option[Grib2.Stat]) = Grib2.Field(
      discipline = 0, category = 1, parameter = 8, // APCP-ish
      levelType = 1, level = 0,
      year = 2026, month = 8, day = 15, hour = 18, forecastHour = 6,
      ni = ni, nj = nj, la1Deg = 57.0, lo1Deg = -163.0,
      diDeg = 0.0, djDeg = 0.0, values = vals,
      decScale = 0, nBits = 8, packing = 41, ps = Some(ps), stat = stat)
    val f = java.nio.file.Files.createTempDirectory("grib").resolve("ndfd.grib2")
    Grib2.write(f.toString, Seq(
      field(Some(Grib2.Stat(statType = 1, intervalHours = 12))), // accumulation
      field(None)))
    val rows = spark.read.format("graft.sources.Grib2Provider")
      .option("path", f.toString).load()
      .select("msg", "row", "col", "value", "forecast_hour", "ref_time",
        "stat_type", "interval_end")
      .collect()
    assert(rows.length == 2 * ni * nj)
    val ref = java.time.LocalDateTime.of(2026, 8, 15, 18, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    rows.foreach { r =>
      val i = r.getAs[Int]("row") * ni + r.getAs[Int]("col")
      assert(r.getAs[Double]("value") == vals(i))
      assert(r.getAs[Long]("ref_time") == ref)
      assert(r.getAs[Int]("forecast_hour") == 6)
      if (r.getAs[Int]("msg") == 0) {
        assert(r.getAs[Int]("stat_type") == 1, "accumulation")
        // interval [ref+6h, ref+18h]: end = 2026-08-16T12:00Z
        assert(r.getAs[Long]("interval_end") == ref + 18L * 3600)
      } else {
        assert(r.isNullAt(r.fieldIndex("stat_type")), "4.0: no stat")
        assert(r.isNullAt(r.fieldIndex("interval_end")))
      }
    }
  }

  test("5.41 rejects multi-band (depth 24/32 RGB) PNGs instead of reading band 0") {
    // g2clib encodes depths 24/32 as RGB/RGBA PNGs; decoding band 0 of
    // such an image would silently return one byte plane. Build a valid
    // 5.41 message, then splice an RGB PNG into section 7.
    val vals = Array.tabulate(nj * ni)(i => (i % 101) / 100.0)
    val dir = java.nio.file.Files.createTempDirectory("grib")
    val f = dir.resolve("gray.grib2")
    Grib2.write(f.toString, Seq(Grib2.Field(
      discipline = 0, category = 2, parameter = 2, levelType = 103, level = 10,
      year = 2026, month = 8, day = 12, hour = 6, forecastHour = 2,
      ni = ni, nj = nj, la1Deg = 44.0, lo1Deg = -124.0,
      diDeg = 0.1, djDeg = 0.1, values = vals, nBits = 8, packing = 41)))
    val bytes = java.nio.file.Files.readAllBytes(f)
    // RGB replacement PNG, same pixel count
    val img = new java.awt.image.BufferedImage(ni, nj,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until nj * ni).foreach(i => img.setRGB(i % ni, i / ni, i * 7919))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val rgb = baos.toByteArray
    // walk sections to find 7: indicator is 16 bytes, then len(4)+num(1)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var pos = 16
    var s7Start = -1; var s7Len = -1
    while (s7Start < 0) {
      val len = bb.getInt(pos); val num = bytes(pos + 4) & 0xFF
      if (num == 7) { s7Start = pos; s7Len = len } else pos += len
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes, 0, s7Start)
    val nb = java.nio.ByteBuffer.allocate(5)
    nb.putInt(5 + rgb.length).put(7.toByte)
    out.write(nb.array()); out.write(rgb)
    out.write(bytes, s7Start + s7Len, bytes.length - s7Start - s7Len)
    val doctored = out.toByteArray
    // fix the indicator's total-length field (octets 9-16, big-endian)
    java.nio.ByteBuffer.wrap(doctored).putLong(8, doctored.length.toLong)
    val f2 = dir.resolve("rgb.grib2")
    java.nio.file.Files.write(f2, doctored)
    val msg = Grib2.scanMessages(f2.toString).head
    val e = intercept[IllegalArgumentException] {
      Grib2.decodeMessage(f2.toString, msg.offset, msg.length)
    }
    assert(e.getMessage.contains("band"), e.getMessage)
    // the undoctored twin still decodes (the splice harness is sound)
    val ok = Grib2.scanMessages(f.toString).head
    Grib2.decodeMessage(f.toString, ok.offset, ok.length)
  }

  test("Lambert conformal grid (template 3.30): the real HRRR projection") {
    // HRRR CONUS parameters: tangent cone at 38.5N, LoV 262.5E, 3 km
    val lcc = Grib2.Lcc(latin1Deg = 38.5, latin2Deg = 38.5,
      loVDeg = 262.5, dxM = 3000.0, dyM = 3000.0)
    val (w, h) = (30, 20)
    val f = java.nio.file.Files.createTempDirectory("grib").resolve("lcc.grib2")
    Grib2.write(f.toString, Seq(Grib2.Field(
      discipline = 0, category = 2, parameter = 2, levelType = 103, level = 10,
      year = 2026, month = 8, day = 12, hour = 6, forecastHour = 1,
      ni = w, nj = h, la1Deg = 38.0, lo1Deg = -100.0, diDeg = 0, djDeg = 0,
      values = Array.tabulate(h * w)(i => (i % 97) / 4.0), lcc = Some(lcc))))
    val df = spark.read.format("graft.sources.Grib2Provider")
      .option("path", f.toString).load().collect()
    assert(df.length == w * h)
    val cone = Grib2.LccMath.cone(lcc)
    val (x1, y1) = Grib2.LccMath.forward(cone, 38.0, -100.0)
    df.foreach { r =>
      val row = r.getAs[Int]("row"); val c = r.getAs[Int]("col")
      val lat = r.getAs[Double]("lat"); val lon = r.getAs[Double]("lon")
      if (row == 0 && c == 0) {
        assert(math.abs(lat - 38.0) < 1e-6 && math.abs(lon + 100.0) < 1e-6,
          s"first point ($lat,$lon)")
      }
      // projecting the emitted lat/lon must land back on the cell's
      // exact projected coordinates (x1 + c*dx, y1 + row*dy)
      val (x, y) = Grib2.LccMath.forward(cone, lat, lon)
      assert(math.abs(x - (x1 + c * 3000.0)) < 1e-3, s"x at ($row,$c)")
      assert(math.abs(y - (y1 + row * 3000.0)) < 1e-3, s"y at ($row,$c)")
      assert(r.getAs[Double]("value") == ((row * w + c) % 97) / 4.0)
    }
    // rows advance ~3 km northward, cols ~3 km eastward near the cone
    val byPos = df.map(r => ((r.getAs[Int]("row"), r.getAs[Int]("col")),
      (r.getAs[Double]("lat"), r.getAs[Double]("lon")))).toMap
    assert(byPos((1, 0))._1 > byPos((0, 0))._1)
    assert(byPos((0, 1))._2 > byPos((0, 0))._2)
  }

  test("wind product: u/v join -> speed/direction grid -> contour segments") {
    // odin_wind's grid+vector product: join the u and v messages on the
    // cell key (co-partitioned equi-join, no shuffle beyond the pair),
    // then speed = hypot, meteorological direction = atan2
    val u = grib.filter(col("parameter") === 2)
      .select(col("row"), col("col"), col("lat"), col("lon"), col("value").as("u"))
    val v = grib.filter(col("parameter") === 3)
      .select(col("row"), col("col"), col("value").as("v"))
    val wind = u.join(v, Seq("row", "col"))
      .withColumn("speed", sqrt(col("u") * col("u") + col("v") * col("v")))
      .withColumn("dir_deg",
        (degrees(atan2(-col("u"), -col("v"))) + 360.0) % 360.0)
    val rows = wind.collect()
    assert(rows.length == ni * nj)
    rows.foreach { r =>
      val row = r.getAs[Int]("row"); val c = r.getAs[Int]("col")
      val exp = math.hypot(u10(row, c), v10(row, c))
      assert(math.abs(r.getAs[Double]("speed") - exp) < 1e-9)
    }
    // odin_wind's contour product (actor.rs write_windspeed_contour):
    // marching-squares cases over 2x2 speed blocks at one threshold —
    // count the boundary cells where the 5 m/s isoline passes
    val cells = wind.select(col("row").as("ci"), col("col").as("cj"), col("speed").as("z"))
    def shifted(di: Int, dj: Int, as: String) = cells.select(
      (col("ci") - di).as("ci"), (col("cj") - dj).as("cj"), col("z").as(as))
    val blocks = cells.withColumnRenamed("z", "bl")
      .join(shifted(0, 1, "br"), Seq("ci", "cj"))
      .join(shifted(1, 1, "tr"), Seq("ci", "cj"))
      .join(shifted(1, 0, "tl"), Seq("ci", "cj"))
      .withColumn("midx", expr(
        """CAST(CASE WHEN bl >= 5.0 THEN 8 ELSE 0 END
             + CASE WHEN br >= 5.0 THEN 4 ELSE 0 END
             + CASE WHEN tr >= 5.0 THEN 2 ELSE 0 END
             + CASE WHEN tl >= 5.0 THEN 1 ELSE 0 END AS INT)"""))
      .filter(col("midx") > 0 && col("midx") < 15)
    val nBoundary = blocks.count()
    // oracle: recompute boundary-block count directly
    def speed(r: Int, c: Int) = math.hypot(u10(r, c), v10(r, c))
    val exp = (0 until nj - 1).flatMap(r => (0 until ni - 1).map(c => (r, c)))
      .count { case (r, c) =>
        val bits = Seq(speed(r, c), speed(r, c + 1), speed(r + 1, c + 1), speed(r + 1, c))
          .count(_ >= 5.0)
        bits > 0 && bits < 4
      }
    assert(nBoundary == exp, s"boundary blocks $nBoundary != $exp")
  }

  // ---- template 5.200: run-length packing with level values ------------
  // The categorical-product shape (NDFD weather type, JMA radar): level
  // stream with base-(2^n−1−MV) repeat digits, level 0 = missing.

  private def rleField(vals: Array[Double], ni: Int, nj: Int) =
    Grib2.Field(discipline = 0, category = 1, parameter = 192,
      levelType = 1, level = 0,
      year = 2026, month = 8, day = 16, hour = 0, forecastHour = 0,
      ni = ni, nj = nj, la1Deg = 50.0, lo1Deg = -110.0,
      diDeg = 0.1, djDeg = 0.1, values = vals, decScale = 1, packing = 200)

  private def writeRle(vals: Array[Double], ni: Int, nj: Int): String = {
    val f = java.nio.file.Files.createTempDirectory("gribrle")
      .resolve("rle.grib2")
    Grib2.write(f.toString, Seq(rleField(vals, ni, nj)))
    f.toString
  }

  /** Walk the single message's sections and return (sectionNumber ->
    * absolute offset of the section start). Sections begin at octet 16.
    */
  private def sectionOffsets(bytes: Array[Byte]): Map[Int, Int] = {
    var off = 16
    var m = Map.empty[Int, Int]
    while (off < bytes.length - 4) {
      val len = java.nio.ByteBuffer.wrap(bytes, off, 4).getInt
      val num = bytes(off + 4) & 0xFF
      m += (num -> off)
      off += len
    }
    m
  }

  test("5.200 run-length: writer emits the published unpk_run_length encoding") {
    // 10 cells: [A ×3, B ×1, missing ×2, A ×4] with A=10.0, B=20.0 at
    // decScale 1 → levels {100:1, 200:2}, MV=2, repeat digits 3+d in
    // base 253; expected stream (wgrib2 unpk_run_length inverse):
    // level 1 + digit(count−1=2) → [1,5], level 2 alone → [2],
    // level 0 + digit(1) → [0,4], level 1 + digit(3) → [1,6]
    val vals = Array(10.0, 10.0, 10.0, 20.0, Double.NaN, Double.NaN,
      10.0, 10.0, 10.0, 10.0)
    val p = writeRle(vals, ni = 10, nj = 1)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val s7 = sectionOffsets(bytes)(7)
    val s7len = java.nio.ByteBuffer.wrap(bytes, s7, 4).getInt
    val stream = bytes.slice(s7 + 5, s7 + s7len).map(_ & 0xFF)
    assert(stream.toSeq == Seq(1, 5, 2, 0, 4, 1, 6),
      s"7.200 stream ${stream.toSeq}")
    // and the decode round-trips, level 0 surfacing as null value
    val rows = spark.read.format("graft.sources.Grib2Provider")
      .option("path", p).load()
      .orderBy(col("row"), col("col"))
      .select(col("value")).collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    assert(rows.length == 10)
    vals.zip(rows).zipWithIndex.foreach { case ((e, g), i) =>
      assert(e.isNaN == g.isNaN && (e.isNaN || e == g), s"cell $i: $e vs $g")
    }
  }

  test("5.200 run-length: multi-digit repeat counts round-trip") {
    // a 300-cell constant run (count−1 = 299 = 50 + 1·249 → two digits
    // in base 249 once all 6 levels exist) plus mixed short runs and
    // scattered missing — the src_grib2_rle fixture geometry
    val vals = Array.tabulate(30 * 20) { i =>
      val r = i / 20; val c = i % 20
      if (r < 15) 25.0
      else if ((r * 5 + c * 11) % 37 == 0) Double.NaN
      else ((r * 3 + c / 4) % 6) * 5.0 + 10.0
    }
    val p = writeRle(vals, ni = 20, nj = 30)
    val rows = spark.read.format("graft.sources.Grib2Provider")
      .option("path", p).load()
      .orderBy(col("row"), col("col"))
      .select(col("value")).collect()
      .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    assert(rows.length == 600)
    vals.zip(rows).zipWithIndex.foreach { case ((e, g), i) =>
      assert(e.isNaN == g.isNaN && (e.isNaN || e == g), s"cell $i: $e vs $g")
    }
    // RLE actually compressed: 300-run collapses to 3 bytes
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val s7 = sectionOffsets(bytes)(7)
    val s7len = java.nio.ByteBuffer.wrap(bytes, s7, 4).getInt
    assert(s7len - 5 < 400, s"7.200 stream ${s7len - 5} bytes (no RLE win?)")
  }

  test("5.200 run-length: corrupt streams are rejected by name") {
    val vals = Array(10.0, 10.0, 20.0, 20.0)
    val p = writeRle(vals, ni = 4, nj = 1)
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    def patched(f: Array[Byte] => Unit): String = {
      val b = orig.clone(); f(b)
      val out = java.nio.file.Files.createTempDirectory("gribbad")
        .resolve("bad.grib2")
      java.nio.file.Files.write(out, b)
      out.toString
    }
    def readErr(path: String): String =
      intercept[Exception] {
        spark.read.format("graft.sources.Grib2Provider")
          .option("path", path).load().collect()
      }.getMessage
    val secs = sectionOffsets(orig)
    // (a) stream opening with a repeat digit instead of a level
    val badStream = patched(b => b(secs(7) + 5) = (2 + 1).toByte)
    assert(readErr(badStream).contains("where a level value is required"))
    // (b) nBits too small for any repeat digit (2^1−1 ≤ MV)
    val badBits = patched(b => b(secs(5) + 11) = 1.toByte)
    assert(readErr(badBits).contains("no repeat-digit range"))
    // (c) a section-6 bitmap alongside 5.200: splice in a real bitmap
    // section (indicator 0 + 1 bitmap byte) and re-stamp the message
    // total length
    val s6off = secs(6)
    val bm = java.nio.ByteBuffer.allocate(7).putInt(7).put(6.toByte)
      .put(0.toByte).put(0xF0.toByte).array()
    val spliced = orig.take(s6off) ++ bm ++ orig.drop(s6off + 6)
    java.nio.ByteBuffer.wrap(spliced).putLong(8, spliced.length.toLong)
    val bmOut = java.nio.file.Files.createTempDirectory("gribbad")
      .resolve("bm.grib2")
    java.nio.file.Files.write(bmOut, spliced)
    assert(readErr(bmOut.toString).contains("section-6 bitmap unsupported"))
  }

  test("a corrupt section-0 length fails planning by file and offset") {
    // octets 9-16 of a message carry its total length; 0 would stall the
    // scan, a negative one walk it backwards, one past the end of the
    // file size a decode buffer beyond the data. The second message's
    // length is the one corrupted.
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val second = Grib2.scanMessages(path)(1).offset.toInt
    implicit val signaler: Signaler = ThreadSignaler
    Seq(0L, -16L, 15L, orig.length.toLong).foreach { len =>
      val b = orig.clone()
      java.nio.ByteBuffer.wrap(b).putLong(second + 8, len)
      val f = java.nio.file.Files.createTempDirectory("gribhdr").resolve("hdr.grib2")
      java.nio.file.Files.write(f, b)
      // the scan runs on its own thread, so a scan that never ends fails
      // this test at the time limit instead of hanging the suite
      val scan = Future(Grib2.scanMessages(f.toString))(ExecutionContext.global)
      val e = intercept[IllegalArgumentException] {
        failAfter(30.seconds)(Await.result(scan, Duration.Inf))
      }
      assert(e.getMessage.contains(s"offset $second of $f") &&
        e.getMessage.contains(s"total length $len"), e.getMessage)
      // planning a read of the file surfaces the same error
      val plan = intercept[IllegalArgumentException] {
        spark.read.format("graft.sources.Grib2Provider")
          .option("path", f.toString).load().rdd.getNumPartitions
      }
      assert(plan.getMessage == e.getMessage)
    }
  }
}
