package graft

import graft.operators.Geo.Raster
import graft.sources.GeoTiff
import org.apache.spark.sql.functions._

class GeoTiffSpec extends SparkSpecBase {

  private val w = 120
  private val h = 90
  private def z(r: Int, c: Int): Float = ((r * 31 + c * 7) % 97 + r).toFloat

  private lazy val path: String = {
    val f = java.nio.file.Files.createTempDirectory("gtiff").resolve("dem.tif")
    GeoTiff.write(f.toString, w, h,
      Array.tabulate(h * w)(i => z(i / w, i % w)),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16)
    f.toString
  }

  private def raster = spark.read
    .format("graft.sources.GeoTiffProvider").option("path", path).load()

  test("round trip: every cell value and georeference is recovered") {
    val df = raster.collect()
    assert(df.length == w * h)
    df.foreach { r =>
      val row = r.getAs[Int]("row"); val col = r.getAs[Int]("col")
      assert(r.getAs[Double]("value") == z(row, col).toDouble,
        s"value mismatch at ($row,$col)")
      assert(r.getAs[Double]("lon") == -120.0 + col * 0.01)
      assert(r.getAs[Double]("lat") == 45.0 - row * 0.01)
    }
  }

  test("one input partition per strip; strip readers see disjoint rows") {
    val parts = raster.rdd.getNumPartitions
    assert(parts == (h + 15) / 16, s"expected ${(h + 15) / 16} strips, got $parts")
    // rows per partition are contiguous and disjoint
    val byPart = raster.select("row").rdd
      .mapPartitionsWithIndex { case (pi, it) => Iterator(pi -> it.map(_.getInt(0)).toSet) }
      .collect().toMap
    val all = byPart.values.reduce(_ ++ _)
    assert(all == (0 until h).toSet)
    byPart.values.foreach(s => assert(s.max - s.min < 16))
  }

  test("column pruning reaches the reader") {
    val pruned = raster.select("value")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("lon"), s"lon not pruned:\n$scan")
    assert(pruned.agg(sum("value")).collect()(0).getDouble(0)
      == (0 until h).flatMap(r => (0 until w).map(c => z(r, c).toDouble)).sum)
  }

  test("DEFLATE-compressed TIFF (compression 8) round-trips identically") {
    val f = java.nio.file.Files.createTempDirectory("gtiffz").resolve("demz.tif")
    GeoTiff.write(f.toString, w, h,
      Array.tabulate(h * w)(i => z(i / w, i % w)),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16, deflate = true)
    // the compressed file is genuinely smaller than the raw strips
    assert(java.nio.file.Files.size(f) < w.toLong * h * 4)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.compression == 8)
    assert(m.chunkByteCounts.sum < w.toLong * h * 4)
    val df = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load()
    assert(df.rdd.getNumPartitions == (h + 15) / 16) // still strip-parallel
    val got = df.collect()
    assert(got.length == w * h)
    got.foreach { r =>
      val row = r.getAs[Int]("row"); val col = r.getAs[Int]("col")
      assert(r.getAs[Double]("value") == z(row, col).toDouble,
        s"value mismatch at ($row,$col) after inflate")
      assert(r.getAs[Double]("lon") == -120.0 + col * 0.01)
    }
  }

  test("raster feeds the DEM bilinear probe (geo_dem_bilinear pattern)") {
    // probe points at cell-fraction positions through geo_dem_bilinear's
    // tap sampler (Geo.Raster), over a REAL decoded raster instead of the
    // synthetic grid
    val probes = spark.range(50).select(
      col("id"),
      (col("id") * 7 % 80 + 0.25).as("pr"), // fractional row
      (col("id") * 13 % 110 + 0.5).as("pc"))
    val cells = raster.select(col("row"), col("col"), col("value"))
    val keys = Seq(col("id"), col("pr"), col("pc"))
    val out = Raster.pivot(Raster.sample(probes, col("pr"), col("pc"), Raster.Bilinear, cells),
        keys, 4)(k => Seq(Raster.tapSum(k, col("w") * col("value")).as(s"t$k")))
      .select(keys :+ Raster.chain("t", 4).as("interp"): _*)
      .collect()
    assert(out.length == 50)
    out.foreach { r =>
      val pr = r.getAs[Double]("pr"); val pc = r.getAs[Double]("pc")
      val r0 = pr.toInt; val c0 = pc.toInt
      val fr = pr - r0; val fc = pc - c0
      val exp = z(r0, c0) * (1 - fr) * (1 - fc) + z(r0, c0 + 1) * (1 - fr) * fc +
        z(r0 + 1, c0) * fr * (1 - fc) + z(r0 + 1, c0 + 1) * fr * fc
      assert(math.abs(r.getAs[Double]("interp") - exp) < 1e-9,
        s"bilinear mismatch at probe ${r.getAs[Long]("id")}")
    }
  }

  // ---- tiled organization (r9): the layout public DEMs actually ship ----

  private def tiledRoundTrip(compression: Int): Unit = {
    // deliberately NOT multiples of the 48x32 tile: edge tiles padded
    val f = java.nio.file.Files.createTempDirectory("gtifft")
      .resolve(s"tiled$compression.tif")
    GeoTiff.writeTiled(f.toString, w, h,
      Array.tabulate(h * w)(i => z(i / w, i % w)),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      tileW = 48, tileH = 32, compression = compression)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.tiled && m.tileW == 48 && m.tileH == 32)
    assert(m.compression == compression)
    val tilesExpected = ((w + 47) / 48) * ((h + 31) / 32)
    assert(m.chunkOffsets.length == tilesExpected)
    val df = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load()
    // one partition per tile
    assert(df.rdd.getNumPartitions == tilesExpected)
    val got = df.collect()
    assert(got.length == w * h, s"padding cells leaked: ${got.length}")
    got.foreach { r =>
      val row = r.getAs[Int]("row"); val col = r.getAs[Int]("col")
      assert(row < h && col < w)
      assert(r.getAs[Double]("value") == z(row, col).toDouble,
        s"value mismatch at ($row,$col) compression=$compression")
      assert(r.getAs[Double]("lon") == -120.0 + col * 0.01)
      assert(r.getAs[Double]("lat") == 45.0 - row * 0.01)
    }
  }

  test("tiled uncompressed round-trips; padding never leaks") {
    tiledRoundTrip(GeoTiff.CompNone)
  }

  test("tiled LZW round-trips (the public-DEM default)") {
    tiledRoundTrip(GeoTiff.CompLzw)
  }

  test("tiled DEFLATE round-trips") {
    tiledRoundTrip(GeoTiff.CompDeflate)
  }

  test("strip-organized LZW round-trips") {
    val f = java.nio.file.Files.createTempDirectory("gtiffl").resolve("lzw.tif")
    GeoTiff.write(f.toString, w, h,
      Array.tabulate(h * w)(i => z(i / w, i % w)),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16, lzw = true)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.compression == GeoTiff.CompLzw && !m.tiled)
    val df = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load().collect()
    assert(df.length == w * h)
    df.foreach { r =>
      assert(r.getAs[Double]("value") ==
        z(r.getAs[Int]("row"), r.getAs[Int]("col")).toDouble)
    }
  }

  test("PackBits round-trips: codec + tiled raster") {
    val cases = Seq(
      Array.emptyByteArray,
      Array[Byte](5),
      Array.fill[Byte](300)(7), // long run > 128
      Array.tabulate[Byte](257)(i => i.toByte), // long literal > 128
      Array.tabulate[Byte](999)(i => if (i % 10 < 6) 3 else (i % 251).toByte))
    cases.foreach { c =>
      val enc = GeoTiff.packBitsEncode(c)
      assert(GeoTiff.packBitsDecode(enc, c.length).toSeq == c.toSeq)
    }
    tiledRoundTrip(GeoTiff.CompPackBits)
  }

  test("BigTIFF (magic 43, 8-byte offsets) round-trips") {
    val f = java.nio.file.Files.createTempDirectory("gtiffb").resolve("big.tif")
    GeoTiff.writeBigTiff(f.toString, w, h,
      Array.tabulate(h * w)(i => z(i / w, i % w)),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16, compression = GeoTiff.CompDeflate)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.width == w && m.chunkOffsets.length == (h + 15) / 16)
    val df = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load().collect()
    assert(df.length == w * h)
    df.foreach { r =>
      assert(r.getAs[Double]("value") ==
        z(r.getAs[Int]("row"), r.getAs[Int]("col")).toDouble)
    }
  }

  test("internal overviews: IFD chain pages readable via option") {
    val f = java.nio.file.Files.createTempDirectory("gtiffo").resolve("ovr.tif")
    GeoTiff.writeWithOverview(f.toString, w, h,
      Array.tabulate(h * w)(i => z(i / w, i % w)),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01)
    assert(GeoTiff.pageCount(f.toString) == 2)
    // default read = full resolution
    val full = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load()
    assert(full.count() == w.toLong * h)
    // overview 1 = 2x2-subsampled page with doubled pixel scale
    val ovr = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).option("overview", "1").load().collect()
    val w2 = (w + 1) / 2; val h2 = (h + 1) / 2
    assert(ovr.length == w2 * h2)
    ovr.foreach { r =>
      val row = r.getAs[Int]("row"); val col = r.getAs[Int]("col")
      assert(r.getAs[Double]("value") == z(row * 2, col * 2).toDouble)
      assert(r.getAs[Double]("lon") == -120.0 + col * 0.02)
    }
    // asking past the chain is a clear error
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.GeoTiffProvider")
        .option("path", f.toString).option("overview", "2").load().count()
    }
    assert(ex.getMessage.contains("overview")
      || ex.getCause != null && ex.getCause.getMessage.contains("overview"))
  }

  test("floating-point predictor (3): byte planes pinned + tiled round trip") {
    // hand-pinned example: row of [1.0f, 2.0f] little-endian
    // 1.0f = 3F 80 00 00 (BE), 2.0f = 40 00 00 00 (BE)
    // planes (MSB-first): 3F 40 | 80 00 | 00 00 | 00 00
    // horizontal diff:    3F 01 | 40 80 | 00 00 | 00 00
    val raw = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    raw.putFloat(1.0f); raw.putFloat(2.0f)
    val enc = GeoTiff.fpPredictEncode(raw.array(), 8, littleEndian = true)
    assert(enc.toSeq == Seq(0x3F, 0x01, 0x40, 0x80, 0x00, 0x00, 0x00, 0x00)
      .map(_.toByte))
    assert(GeoTiff.fpPredictDecode(enc, 8, littleEndian = true).toSeq
      == raw.array().toSeq)
    // full raster: tiled LZW + predictor 3 (the compressed-float-DEM
    // production combination) round-trips through the DSv2 source
    val f = java.nio.file.Files.createTempDirectory("gtiffp3")
      .resolve("pred3.tif")
    GeoTiff.writeTiled(f.toString, w, h,
      Array.tabulate(h * w)(i => z(i / w, i % w)),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      tileW = 48, tileH = 32, compression = GeoTiff.CompLzw,
      fpPredictor = true)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.predictor == 3 && m.compression == GeoTiff.CompLzw)
    val got = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load().collect()
    assert(got.length == w * h)
    got.foreach { r =>
      assert(r.getAs[Double]("value") ==
        z(r.getAs[Int]("row"), r.getAs[Int]("col")).toDouble)
    }
  }

  test("unsupported predictor is rejected with a clear error") {
    // hand-patch a predictor=2 tag into a copy of the strip fixture —
    // readMeta must refuse rather than emit silently wrong values
    val src = java.nio.file.Paths.get(path)
    val bytes = java.nio.file.Files.readAllBytes(src)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xFFFF
    // overwrite the Photometric entry (262, irrelevant to this reader)
    // with Predictor=2 (readMeta scans tags without requiring order)
    val target = (0 until n).find { e =>
      (bb.getShort(ifd + 2 + e * 12) & 0xFFFF) == 262
    }.get
    val p = ifd + 2 + target * 12
    bb.putShort(p, 317.toShort); bb.putShort(p + 2, 3.toShort)
    bb.putInt(p + 4, 1); bb.putShort(p + 8, 2.toShort)
    val f = java.nio.file.Files.createTempDirectory("gtiffp").resolve("pred.tif")
    java.nio.file.Files.write(f, bytes)
    val ex = intercept[IllegalArgumentException] {
      GeoTiff.readMeta(f.toString)
    }
    assert(ex.getMessage.contains("predictor"))
  }

  test("int16 DEM band (SampleFormat 2) round-trips, plain and " +
      "LZW + horizontal predictor 2") {
    // the SRTM/ASTER shape: signed-int16 elevations, and the
    // gdal_translate -co COMPRESS=LZW -co PREDICTOR=2 production combo
    def elev(r: Int, c: Int): Short = // smooth ramp + texture, some < 0
      (r * 3 + c / 2 + (r * 31 + c * 7) % 11 - 40).toShort
    val data = Array.tabulate(h * w)(i => elev(i / w, i % w))
    val dir = java.nio.file.Files.createTempDirectory("gtiff16")
    val plain = dir.resolve("dem16.tif"); val packed = dir.resolve("dem16p.tif")
    GeoTiff.writeInt16(plain.toString, w, h, data,
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16)
    GeoTiff.writeInt16(packed.toString, w, h, data,
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16, lzw = true, predictor2 = true)
    for (p <- Seq(plain, packed)) {
      val rows = spark.read.format("graft.sources.GeoTiffProvider")
        .option("path", p.toString).load().collect()
      assert(rows.length == w * h, p)
      rows.foreach { r =>
        val (row, col) = (r.getAs[Int]("row"), r.getAs[Int]("col"))
        assert(r.getAs[Double]("value") == elev(row, col).toDouble,
          s"$p at ($row,$col)")
        assert(r.getAs[Double]("lon") == -120.0 + col * 0.01)
      }
    }
    // the predictor is doing its job: differenced ramps compress better
    // than raw LZW of the same data
    val rawLzw = dir.resolve("dem16l.tif")
    GeoTiff.writeInt16(rawLzw.toString, w, h, data,
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16, lzw = true)
    val (szP, szL) = (java.nio.file.Files.size(packed),
      java.nio.file.Files.size(rawLzw))
    assert(szP < szL, s"predictor2 $szP !< raw-LZW $szL")
    // predictor 3 on an int16 band is as invalid as 2 on float32
    val bytes = java.nio.file.Files.readAllBytes(plain)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xFFFF
    val target = (0 until n).find { e =>
      (bb.getShort(ifd + 2 + e * 12) & 0xFFFF) == 317
    }.get
    bb.putShort(ifd + 2 + target * 12 + 8, 3.toShort)
    val bad = dir.resolve("dem16bad.tif")
    java.nio.file.Files.write(bad, bytes)
    val ex = intercept[IllegalArgumentException] {
      GeoTiff.readMeta(bad.toString)
    }
    assert(ex.getMessage.contains("predictor"))
  }

  // ---- multi-band (RGB orthophoto combination) ----

  private val rw = 50
  private val rh = 34
  private def rgb(b: Int, r: Int, c: Int): Int =
    (r * 7 + c * 13 + b * 41 + (r * c + b) % 29) % 256
  private def rgbBands: Seq[Array[Byte]] =
    (0 until 3).map(b => Array.tabulate(rh * rw)(i =>
      rgb(b, i / rw, i % rw).toByte))

  private def checkRgb(path: String): Unit = {
    val df = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", path).load().collect()
    assert(df.length == rw * rh * 3)
    df.foreach { r =>
      val row = r.getAs[Int]("row"); val col = r.getAs[Int]("col")
      val band = r.getAs[Int]("band")
      assert(r.getAs[Double]("value") == rgb(band, row, col).toDouble,
        s"value mismatch at ($row,$col,b$band)")
      assert(r.getAs[Double]("lon") == 10.0 + col * 0.02)
      assert(r.getAs[Double]("lat") == 20.0 - row * 0.02)
    }
  }

  test("chunky RGB uint8 round-trips every (cell, band)") {
    val f = java.nio.file.Files.createTempDirectory("gtrgb").resolve("rgb.tif")
    GeoTiff.writeBands8(f.toString, rw, rh, rgbBands,
      originLon = 10.0, originLat = 20.0, sx = 0.02, sy = 0.02,
      rowsPerStrip = 10)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.spp == 3 && m.planar == 1 && m.bits == 8)
    checkRgb(f.toString)
  }

  test("planar RGB uint8 round-trips; one partition per (band, strip)") {
    val f = java.nio.file.Files.createTempDirectory("gtrgbp").resolve("rgbp.tif")
    GeoTiff.writeBands8(f.toString, rw, rh, rgbBands,
      originLon = 10.0, originLat = 20.0, sx = 0.02, sy = 0.02,
      rowsPerStrip = 10, planar = 2)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.planar == 2 && m.chunkOffsets.length == 3 * ((rh + 9) / 10))
    checkRgb(f.toString)
    val parts = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load().rdd.getNumPartitions
    assert(parts == 3 * ((rh + 9) / 10))
  }

  test("chunky RGB survives LZW + channel-strided horizontal predictor 2") {
    val dir = java.nio.file.Files.createTempDirectory("gtrgbl")
    val f = dir.resolve("rgbl.tif")
    GeoTiff.writeBands8(f.toString, rw, rh, rgbBands,
      originLon = 10.0, originLat = 20.0, sx = 0.02, sy = 0.02,
      rowsPerStrip = 10, lzw = true, predictor2 = true)
    val m = GeoTiff.readMeta(f.toString)
    assert(m.compression == GeoTiff.CompLzw && m.predictor == 2)
    checkRgb(f.toString)
    // planar DEFLATE + predictor too (stride 1 within a plane)
    val fp = dir.resolve("rgblp.tif")
    GeoTiff.writeBands8(fp.toString, rw, rh, rgbBands,
      originLon = 10.0, originLat = 20.0, sx = 0.02, sy = 0.02,
      rowsPerStrip = 10, planar = 2, deflate = true, predictor2 = true)
    checkRgb(fp.toString)
  }

  test("h8 predictor encode/decode invert for every stride") {
    val raw = Array.tabulate(240)(i => ((i * 89 + 7) % 256).toByte)
    for (stride <- Seq(1, 3, 4)) {
      val enc = GeoTiff.h8PredictEncode(raw, 60, stride)
      assert(java.util.Arrays.equals(
        GeoTiff.h8PredictDecode(enc, 60, stride), raw))
    }
  }

  test("band column prunes like any other; single-band files read band 0") {
    val f = java.nio.file.Files.createTempDirectory("gtrgbq").resolve("rgbq.tif")
    GeoTiff.writeBands8(f.toString, rw, rh, rgbBands,
      originLon = 10.0, originLat = 20.0, sx = 0.02, sy = 0.02,
      rowsPerStrip = 10)
    val df = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", f.toString).load()
    // per-band mean: the select that only needs (band, value) prunes lon
    val pruned = df.select("band", "value")
    assert(!pruned.queryExecution.executedPlan.toString.contains("lon"))
    val means = pruned.groupBy("band").agg(avg("value")).collect()
    assert(means.length == 3)
    // the single-band DEM fixture reads band 0 everywhere
    assert(raster.select("band").distinct().collect().map(_.getInt(0)).toSeq
      == Seq(0))
  }

  test("a strip byte count past the end of the file fails by file and range") {
    // a corrupt header: the last StripByteCounts entry (tag 279) claims
    // far more bytes than the file holds; the read must refuse before it
    // allocates or seeks
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xFFFF
    val e = ifd + 2 + (0 until n).find { k =>
      (bb.getShort(ifd + 2 + k * 12) & 0xFFFF) == 279
    }.get * 12
    val (typ, count, arr) =
      (bb.getShort(e + 2) & 0xFFFF, bb.getInt(e + 4), bb.getInt(e + 8))
    assert(count == (h + 15) / 16 && (typ == 3 || typ == 4))
    if (typ == 3) bb.putShort(arr + (count - 1) * 2, 0xFFFF.toShort)
    else bb.putInt(arr + (count - 1) * 4, 1 << 30)
    val f = java.nio.file.Files.createTempDirectory("gtiffbad").resolve("bad.tif")
    java.nio.file.Files.write(f, bytes)
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.GeoTiffProvider")
        .option("path", f.toString).load().collect()
    }
    assert(ex.getMessage.contains("outside file") &&
      ex.getMessage.contains("bad.tif"), ex.getMessage)
  }
}
