package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sources.{GeoTiff, Grib2, Hdf5, Netcdf, SourcePaths}

/** Multi-file reads for the raster DSv2 sources (r9): a production
  * sweep reads a DIRECTORY of product files — the file is the top-level
  * parallel unit, multiplied by each source's per-file partitioning.
  * `path` accepts files, directories, globs, and comma lists; every row
  * carries its product-file basename in the `file` column. The last
  * tests hold every format to the contract of the shared `GridSource`
  * frame: pruning, the required `path` and the reused reader row.
  */
class MultiFileSourcesSpec extends SparkSpecBase {

  test("SourcePaths: files, directories, globs, comma lists") {
    val dir = Files.createTempDirectory("sp").toFile.getAbsolutePath
    Seq("a.tif", "b.tif", "c.nc").foreach(n =>
      Files.write(java.nio.file.Paths.get(s"$dir/$n"), Array[Byte](1)))
    assert(SourcePaths.resolve(s"$dir/a.tif") == Seq(s"$dir/a.tif"))
    assert(SourcePaths.resolve(dir).map(SourcePaths.baseName)
      == Seq("a.tif", "b.tif", "c.nc"))
    assert(SourcePaths.resolve(s"$dir/*.tif").map(SourcePaths.baseName)
      == Seq("a.tif", "b.tif"))
    assert(SourcePaths.resolve(s"$dir/a.tif, $dir/c.nc")
      .map(SourcePaths.baseName) == Seq("a.tif", "c.nc"))
  }

  test("GeoTIFF: a directory of rasters reads as one frame, file-tagged") {
    val dir = Files.createTempDirectory("gtmulti").toFile.getAbsolutePath
    val w = 40; val h = 30
    (0 until 3).foreach { k =>
      GeoTiff.write(s"$dir/dem$k.tif", w, h,
        Array.tabulate(h * w)(i => (i % 89 + k * 1000).toFloat),
        originLon = -120.0 - k, originLat = 45.0, sx = 0.01, sy = 0.01,
        rowsPerStrip = 16, deflate = k == 1, lzw = k == 2)
    }
    val df = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", dir).load()
    assert(df.count() == 3L * w * h)
    // per-file identity and per-file values survive the union
    val per = df.groupBy("file").agg(min("value").as("mn"), max("lon").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("mn"), r.getAs[Double]("mx"))).toMap
    assert(per.keySet == Set("dem0.tif", "dem1.tif", "dem2.tif"))
    assert(per("dem1.tif")._1 == 1000.0)
    assert(per("dem2.tif")._2 == -122.0 + (w - 1) * 0.01)
    // glob narrows the file set before any task launches
    val one = spark.read.format("graft.sources.GeoTiffProvider")
      .option("path", s"$dir/dem1.*").load()
    assert(one.rdd.getNumPartitions == (h + 15) / 16)
    assert(one.count() == w.toLong * h)
  }

  test("NetCDF: classic and HDF5 product files mix in one directory read") {
    val dir = Files.createTempDirectory("ncmulti").toFile.getAbsolutePath
    val grid = Array[Double](1, 2, 3, 4, 5, 6)
    Netcdf.write(s"$dir/slot0.nc", Seq("y" -> 2, "x" -> 3),
      Seq(Netcdf.NcVar("Power", Netcdf.NcShort, Seq(0, 1), grid,
        scale = Some(0.5))))
    Hdf5.write(s"$dir/slot1.nc", Seq(
      Hdf5.H5WVar("Power", Netcdf.NcShort, Seq(2, 3), grid.map(_ + 10),
        chunkDims = Seq(2, 2), gzip = true, scale = Some(0.5))))
    val df = spark.read.format("graft.sources.NetcdfProvider")
      .option("path", dir).load().cache()
    assert(df.count() == 12)
    // the same query spans containers; file column separates slots
    val sums = df.groupBy("file").agg(sum("value").as("s")).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("s")).toMap
    assert(sums("slot0.nc") == grid.sum * 0.5)
    assert(sums("slot1.nc") == grid.map(_ + 10).sum * 0.5)
  }

  test("GRIB2: comma list of forecast-run files; msg ids stay per-file") {
    val dir = Files.createTempDirectory("gribmulti").toFile.getAbsolutePath
    def field(fh: Int) = Grib2.Field(
      discipline = 0, category = 2, parameter = 2, levelType = 103, level = 10,
      year = 2026, month = 8, day = 12, hour = 6, forecastHour = fh,
      ni = 10, nj = 5, la1Deg = 44.0, lo1Deg = -124.0, diDeg = 0.1,
      djDeg = 0.1, values = Array.tabulate(50)(i => (i % 7).toDouble))
    Grib2.write(s"$dir/run06.grib2", Seq(field(1), field(2)))
    Grib2.write(s"$dir/run12.grib2", Seq(field(3)))
    val df = spark.read.format("graft.sources.Grib2Provider")
      .option("path", s"$dir/run06.grib2,$dir/run12.grib2").load()
    assert(df.count() == 3L * 50)
    val byFile = df.select("file", "msg", "forecast_hour").distinct()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(byFile == Set(("run06.grib2", 0, 1), ("run06.grib2", 1, 2),
      ("run12.grib2", 0, 3)))
  }

  // ---- the GridSource frame, over all three file formats ----

  /** One small file per format, by provider class name. */
  private lazy val fixtures: Seq[(String, String)] = {
    val dir = Files.createTempDirectory("gridframe").toFile.getAbsolutePath
    GeoTiff.write(s"$dir/dem.tif", 9, 7, Array.tabulate(63)(i => (i % 13).toFloat),
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 3)
    def field(fh: Int) = Grib2.Field(
      discipline = 0, category = 2, parameter = 2, levelType = 103, level = 10,
      year = 2026, month = 8, day = 12, hour = 6, forecastHour = fh,
      ni = 6, nj = 4, la1Deg = 44.0, lo1Deg = -124.0, diDeg = 0.1,
      djDeg = 0.1, values = Array.tabulate(24)(i => (i % 5).toDouble))
    Grib2.write(s"$dir/run.grib2", Seq(field(1), field(2)))
    Netcdf.write(s"$dir/slot.nc", Seq("y" -> 2, "x" -> 3), Seq(
      Netcdf.NcVar("Power", Netcdf.NcShort, Seq(0, 1),
        Array[Double](1, 2, 3, 4, 5, 6), scale = Some(0.5)),
      Netcdf.NcVar("Temp", Netcdf.NcFloat, Seq(0, 1),
        Array[Double](7, 8, 9, 10, 11, 12))))
    Seq("graft.sources.GeoTiffProvider" -> s"$dir/dem.tif",
      "graft.sources.Grib2Provider" -> s"$dir/run.grib2",
      "graft.sources.NetcdfProvider" -> s"$dir/slot.nc")
  }
  private val rowCounts = Map("graft.sources.GeoTiffProvider" -> 63L,
    "graft.sources.Grib2Provider" -> 48L, "graft.sources.NetcdfProvider" -> 12L)

  private def load(provider: String, path: String) =
    spark.read.format(provider).option("path", path).load()

  test("frame: count() over an empty projection equals the row count") {
    fixtures.foreach { case (provider, path) =>
      assert(load(provider, path).count() == rowCounts(provider), provider)
    }
  }

  test("frame: a select(last, first) projection equals the full read's columns") {
    fixtures.foreach { case (provider, path) =>
      val df = load(provider, path)
      val names = df.columns
      val full = df.collect().map(r => Row(r.get(names.length - 1), r.get(0))).toSeq
      val pruned = df.select(names.last, names.head)
      assert(pruned.queryExecution.optimizedPlan.output.map(_.name)
        == Seq(names.last, names.head), provider)
      assert(pruned.collect().toSeq == full, provider)
    }
  }

  test("frame: a missing path fails with an error that names the format") {
    Seq("graft.sources.GeoTiffProvider" -> "geotiff",
      "graft.sources.Grib2Provider" -> "grib2",
      "graft.sources.NetcdfProvider" -> "netcdf").foreach { case (provider, name) =>
      val e = intercept[IllegalArgumentException](spark.read.format(provider).load())
      assert(e.getMessage == s"$name source requires option 'path'", e.getMessage)
    }
  }

  test("frame: a collected raw scan holds distinct rows (the reused row is copied)") {
    fixtures.foreach { case (provider, path) =>
      val rows = load(provider, path).collect()
      assert(rows.length == rowCounts(provider), provider)
      assert(rows.distinct.length == rows.length, provider)
    }
  }
}
