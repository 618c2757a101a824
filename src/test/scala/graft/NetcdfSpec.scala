package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Netcdf
import graft.sources.Netcdf.NcVar

/** Pure-JVM NetCDF classic source (graft.sources.NetcdfProvider) — the
  * GOES-R / Himawari product container (odin_goesr/src/lib.rs:527-538
  * reads Mask/Area/Power/Temp/DQF grids per hotspot file).
  */
class NetcdfSpec extends SparkSpecBase {

  private def fixture(): String = {
    val dir = Files.createTempDirectory("nc").toFile.getAbsolutePath
    val path = s"$dir/goes_fdc.nc"
    // 3×4 (y,x) grid mimicking an FDC product: Mask int16, DQF byte,
    // Power scaled int16 (MW = raw*0.25 + 100), Temp float, plus a 1-D
    // int var and a scalar double
    val mask = Array[Double](10, 40, 11, 0, 12, 13, 0, 14, 15, 40, 10, 0)
    val dqf = Array[Double](0, 2, 0, 255, 1, 0, 255, 0, 3, 2, 0, 255)
    val power = Array[Double](8, -1, 12, -1, 20, 24, -1, 28, 100, -1, 4, -1)
    val temp = Array[Double](300.5, 0, 310.25, 0, 320.125, 330.5, 0, 340.75, 400.0, 0, 305.5, 0)
    Netcdf.write(path, Seq("y" -> 3, "x" -> 4), Seq(
      NcVar("Mask", Netcdf.NcShort, Seq(0, 1), mask),
      NcVar("DQF", Netcdf.NcByte, Seq(0, 1), dqf, fill = Some(255)),
      NcVar("Power", Netcdf.NcShort, Seq(0, 1), power,
        scale = Some(0.25), offset = Some(100.0), fill = Some(-1)),
      NcVar("Temp", Netcdf.NcFloat, Seq(0, 1), temp),
      NcVar("steps", Netcdf.NcInt, Seq(1), Array[Double](1, 2, 3, 4)),
      NcVar("nominal_time", Netcdf.NcDouble, Seq(), Array[Double](1716000000.5))))
    path
  }

  private def read(path: String, vars: Option[String] = None) = {
    val r = spark.read.format("graft.sources.NetcdfProvider").option("path", path)
    vars.fold(r)(v => r.option("vars", v)).load()
  }

  test("round trip: every type, scaling, and fill semantics exact") {
    val path = fixture()
    val df = read(path).cache()
    // 4 grid vars × 12 + steps × 4 + scalar × 1
    assert(df.count() == 4 * 12 + 4 + 1)
    // scaled short: value = raw*0.25 + 100, fill -1 → null value, raw kept
    val p = df.filter(col("var") === "Power").orderBy("i", "j").collect()
    assert(p.length == 12)
    assert(p(0).getAs[Long]("raw") == 8L && p(0).getAs[Double]("value") == 102.0)
    assert(p(1).isNullAt(p(1).fieldIndex("value")) && p(1).getAs[Long]("raw") == -1L)
    // byte fill 255 (stored two's-complement → raw -1, value nulled)
    val d = df.filter(col("var") === "DQF" && col("i") === 0 && col("j") === 3).head
    assert(d.getAs[Long]("raw") == -1L && d.isNullAt(d.fieldIndex("value")))
    // float roundtrips exactly (values chosen representable in float32)
    val t = df.filter(col("var") === "Temp" && col("i") === 2 && col("j") === 0).head
    assert(t.getAs[Double]("value") == 400.0)
    // 1-D var: j stays 0; scalar double var present
    assert(df.filter(col("var") === "steps" && col("j") =!= 0).count() == 0)
    assert(df.filter(col("var") === "nominal_time").head.getAs[Double]("value") == 1716000000.5)
  }

  test("vars option prunes partitions before launch; columns prune") {
    val path = fixture()
    val scan = read(path, Some("Mask,Power")).queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .head
    assert(scan.inputPartitions.size == 2) // one per requested variable
    val pruned = read(path).select("value").queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .head
    assert(pruned.scan.readSchema().fieldNames.toSeq == Seq("value"))
  }

  test("GOES-R hotspot decode: mask+quality filter over the grids") {
    // the reference's per-file pipeline: good fire mask codes with
    // DQF_GOOD_FIRE (0), joined to Power/Temp at the same (i,j) —
    // odin_goesr/src/lib.rs:87-92 DQF codes, :527-538 grid reads
    val path = fixture()
    val df = read(path).cache()
    val mask = df.filter(col("var") === "Mask").select(col("i"), col("j"), col("raw").as("mask"))
    val dqf = df.filter(col("var") === "DQF").select(col("i"), col("j"), col("raw").as("dqf"))
    val pwr = df.filter(col("var") === "Power").select(col("i"), col("j"), col("value").as("frp"))
    val hot = mask.join(dqf, Seq("i", "j")).join(pwr, Seq("i", "j"))
      .filter(col("mask").between(10, 15) && col("dqf") === 0)
      .orderBy("i", "j").collect()
    // expected good-fire cells: (0,0) (0,2) (1,1) (1,3) (2,2)
    assert(hot.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((0, 0), (0, 2), (1, 1), (1, 3), (2, 2)))
    assert(hot.head.getAs[Double]("frp") == 102.0)
  }

  test("a file truncated inside a variable fails by file and range") {
    // the header still places the last variable's cells past the new end
    // of the file; the read must refuse with a named error, not an EOF
    val path = fixture()
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val cut = java.nio.file.Paths.get(path).resolveSibling("cut.nc")
    Files.write(cut, java.util.Arrays.copyOf(bytes, bytes.length - 4))
    val ex = intercept[Exception](read(cut.toString).collect())
    assert(ex.getMessage.contains("outside file") &&
      ex.getMessage.contains("cut.nc"), ex.getMessage)
  }
}
