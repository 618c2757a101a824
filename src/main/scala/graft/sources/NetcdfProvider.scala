package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Minimal pure-JVM NetCDF reader for BOTH container formats the
  * reference's feeds use: classic (CDF-1 `CDF\x01` / CDF-2 `CDF\x02`,
  * big-endian, fixed-size variables — parsed here) and netCDF-4 on HDF5
  * (the format real GOES-R / Himawari L2 products actually ship;
  * dispatched by magic to [[Hdf5]], which reads the netcdf-c default
  * subset: superblock v0, v1 object headers, contiguous/chunked
  * layouts, gzip+shuffle filters). The reference decodes these through
  * GDAL's NetCDF driver (odin_goesr/src/lib.rs:527-538 reads the
  * `Mask`/`Area`/`Power`/`Temp`/`DQF` grids per hotspot file). No NetCDF
  * library ships in this container, so the header walk (dim list, global
  * + per-variable attribute lists, variable list) is parsed directly per
  * the public NetCDF classic format spec; the writer produces fixture
  * files for specs and dev data.
  *
  * Faithful product semantics: GOES-R packs physical grids as scaled
  * int16 — the reader applies `scale_factor`/`add_offset` and nulls
  * `_FillValue` cells, exposing both the packed integer (`raw`) and the
  * unpacked physical `value`.
  *
  * Scale shape:
  * - one InputPartition PER VARIABLE — a product file carries many
  *   independent grids and each reader seeks only its variable's byte
  *   range (`begin` + vsize), never the rest of the file;
  * - `.option("vars", "Mask,Power")` prunes partitions before a single
  *   task launches (the shard-prune analog of ReplayFeedProvider);
  * - column pruning via SupportsPushDownRequiredColumns.
  */
object Netcdf extends GridFormat {
  val SCHEMA: StructType = StructType(Seq(
    StructField("var", StringType, nullable = false),
    StructField("i", IntegerType, nullable = false),   // first-dim index
    StructField("j", IntegerType, nullable = false),   // second-dim index (0 for 1-D)
    StructField("raw", LongType, nullable = true),     // packed integer (null for float/double)
    StructField("value", DoubleType, nullable = true), // scaled physical value (null at fill)
    StructField("file", StringType, nullable = false)))// product-file basename (multi-file reads)

  // classic-format tags and type ids (public NetCDF spec)
  private val NcDimension = 0x0A
  private val NcVariable = 0x0B
  private val NcAttribute = 0x0C
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6

  def typeSize(t: Int): Int = t match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  /** A variable as the cell reader sees it, in either container: name,
    * shape (≤ 2 dims), NetCDF type id and packing attributes.
    */
  trait Variable {
    def name: String
    def dims: Array[Int]
    def ncType: Int
    def scale: Double
    def offset: Double
    def fill: Option[Double]
    def nCells: Int = if (dims.isEmpty) 1 else dims.product
  }

  /** A classic-file variable; its cells start at byte `begin`. */
  final case class VarMeta(name: String, dims: Array[Int], ncType: Int,
      begin: Long, scale: Double, offset: Double, fill: Option[Double])
    extends Variable

  /** Parse the classic header: dimension list, (skipped) global
    * attributes, and the variable list with each variable's
    * scale/offset/fill attributes. Record variables (unlimited dim) are
    * out of scope and rejected.
    */
  def readMeta(path: String): Seq[VarMeta] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(bb.get() == 'C' && bb.get() == 'D' && bb.get() == 'F', "not a NetCDF classic file")
    val version = bb.get()
    require(version == 1 || version == 2, s"classic CDF-1/2 only (version $version)")
    bb.getInt() // numrecs (0 here; STREAMING unsupported)
    def readName(): String = {
      val len = bb.getInt()
      val a = new Array[Byte](len); bb.get(a)
      bb.position(bb.position() + (pad4(len) - len))
      new String(a, StandardCharsets.UTF_8)
    }
    // dim_list
    val dimTag = bb.getInt(); val nDims = bb.getInt()
    require(dimTag == NcDimension || (dimTag == 0 && nDims == 0), "bad dim_list")
    val dimSizes = (0 until nDims).map { _ =>
      readName(); val sz = bb.getInt()
      require(sz > 0, "record (unlimited) dimensions unsupported")
      sz
    }.toArray
    def readAttrs(): Map[String, (Int, Array[Byte])] = {
      val tag = bb.getInt(); val n = bb.getInt()
      require(tag == NcAttribute || (tag == 0 && n == 0), "bad att_list")
      (0 until n).map { _ =>
        val name = readName()
        val t = bb.getInt(); val nelems = bb.getInt()
        val nBytes = pad4(nelems * typeSize(t))
        val a = new Array[Byte](nBytes); bb.get(a)
        name -> (t, a)
      }.toMap
    }
    readAttrs() // global attributes — values not needed here
    // var_list
    val varTag = bb.getInt(); val nVars = bb.getInt()
    require(varTag == NcVariable || (varTag == 0 && nVars == 0), "bad var_list")
    (0 until nVars).map { _ =>
      val name = readName()
      val nd = bb.getInt()
      val sizes = (0 until nd).map(_ => dimSizes(bb.getInt())).toArray
      val attrs = readAttrs()
      val ncType = bb.getInt()
      bb.getInt() // vsize (recomputable)
      val begin = if (version == 1) bb.getInt().toLong & 0xFFFFFFFFL else bb.getLong()
      def attrNum(key: String): Option[Double] = attrs.get(key).map { case (t, a) =>
        val ab = ByteBuffer.wrap(a).order(ByteOrder.BIG_ENDIAN)
        t match {
          case NcByte => ab.get().toDouble
          case NcShort => ab.getShort().toDouble
          case NcInt => ab.getInt().toDouble
          case NcFloat => ab.getFloat().toDouble
          case NcDouble => ab.getDouble()
          case _ => Double.NaN
        }
      }
      VarMeta(name, sizes, ncType, begin,
        attrNum("scale_factor").getOrElse(1.0),
        attrNum("add_offset").getOrElse(0.0),
        attrNum("_FillValue"))
    }
  }

  /** One variable for [[write]]: fixed-size, ≤2 dims, packed attrs. */
  final case class NcVar(name: String, ncType: Int, dimIds: Seq[Int],
      data: Array[Double], scale: Option[Double] = None,
      offset: Option[Double] = None, fill: Option[Double] = None)

  /** Write a CDF-1 classic file (big-endian, fixed-size vars only). The
    * `data` array carries the PACKED values (what goes on disk);
    * readers unpack via scale/offset.
    */
  def write(path: String, dims: Seq[(String, Int)], vars: Seq[NcVar]): Unit = {
    val bb = ByteBuffer.allocate(1 << 20).order(ByteOrder.BIG_ENDIAN)
    bb.put('C'.toByte).put('D'.toByte).put('F'.toByte).put(1.toByte)
    bb.putInt(0) // numrecs
    def putName(s: String): Unit = {
      val a = s.getBytes(StandardCharsets.UTF_8)
      bb.putInt(a.length); bb.put(a)
      (a.length until pad4(a.length)).foreach(_ => bb.put(0.toByte))
    }
    if (dims.isEmpty) { bb.putInt(0); bb.putInt(0) }
    else {
      bb.putInt(NcDimension); bb.putInt(dims.size)
      dims.foreach { case (n, sz) => putName(n); bb.putInt(sz) }
    }
    bb.putInt(0); bb.putInt(0) // no global attrs
    // variable headers need begins — compute sizes first
    val vsizes = vars.map(v => pad4(v.data.length * typeSize(v.ncType)))
    def putAttrVal(t: Int, d: Double): Unit = {
      t match {
        case NcByte => bb.put(d.toByte)
        case NcShort => bb.putShort(d.toShort)
        case NcInt => bb.putInt(d.toInt)
        case NcFloat => bb.putFloat(d.toFloat)
        case NcDouble => bb.putDouble(d)
        case _ => throw new IllegalArgumentException(s"attr type $t")
      }
      val w = typeSize(t)
      (w until pad4(w)).foreach(_ => bb.put(0.toByte))
    }
    // header size depends on itself only through fixed-width fields, so
    // lay headers into a scratch pass first: simplest is to compute the
    // header length analytically
    def attrCount(v: NcVar): Int =
      v.scale.size + v.offset.size + v.fill.size
    def headerLen: Int = {
      var h = 4 + 4 // magic + numrecs
      h += 8 + dims.map { case (n, _) => 4 + pad4(n.length) + 4 }.sum
      h += 8 // gatts
      h += 8
      vars.foreach { v =>
        h += 4 + pad4(v.name.length)
        h += 4 + v.dimIds.size * 4
        h += 8
        def attrLen(name: String, t: Int): Int = 4 + pad4(name.length) + 8 + pad4(typeSize(t))
        if (v.scale.isDefined) h += attrLen("scale_factor", NcDouble)
        if (v.offset.isDefined) h += attrLen("add_offset", NcDouble)
        if (v.fill.isDefined) h += attrLen("_FillValue", v.ncType)
        h += 4 + 4 + 4 // nc_type + vsize + begin (CDF-1)
      }
      h
    }
    val begins = vsizes.scanLeft(headerLen)(_ + _).dropRight(1)
    bb.putInt(NcVariable); bb.putInt(vars.size)
    vars.zip(begins).foreach { case (v, begin) =>
      putName(v.name)
      bb.putInt(v.dimIds.size); v.dimIds.foreach(bb.putInt)
      val na = attrCount(v)
      if (na == 0) { bb.putInt(0); bb.putInt(0) }
      else {
        bb.putInt(NcAttribute); bb.putInt(na)
        v.scale.foreach { s => putName("scale_factor"); bb.putInt(NcDouble); bb.putInt(1); putAttrVal(NcDouble, s) }
        v.offset.foreach { o => putName("add_offset"); bb.putInt(NcDouble); bb.putInt(1); putAttrVal(NcDouble, o) }
        v.fill.foreach { f => putName("_FillValue"); bb.putInt(v.ncType); bb.putInt(1); putAttrVal(v.ncType, f) }
      }
      bb.putInt(v.ncType)
      bb.putInt(pad4(v.data.length * typeSize(v.ncType)))
      bb.putInt(begin)
    }
    require(bb.position() == headerLen, s"header layout drift: ${bb.position()} vs $headerLen")
    vars.foreach { v =>
      v.data.foreach { d =>
        v.ncType match {
          case NcByte => bb.put(d.toByte)
          case NcChar => bb.put(d.toChar.toByte)
          case NcShort => bb.putShort(d.toShort)
          case NcInt => bb.putInt(d.toInt)
          case NcFloat => bb.putFloat(d.toFloat)
          case NcDouble => bb.putDouble(d)
        }
      }
      val used = v.data.length * typeSize(v.ncType)
      (used until pad4(used)).foreach(_ => bb.put(0.toByte))
    }
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
  }

  // ---- the grid format: one partition per variable --------------------

  val name = "netcdf"
  def schema: StructType = SCHEMA

  /** File x variable: a directory of product files (one per observation
    * slot) fans out to nFiles x nVars partitions, dispatched by magic to
    * the classic header walk or to [[Hdf5]]. Option `vars` (a comma list)
    * keeps only the named variables.
    */
  def partitions(f: String, options: CaseInsensitiveStringMap): Seq[InputPartition] = {
    val want = Option(options.get("vars")).map(_.split(",").map(_.trim).toSet)
    val vars: Seq[Variable] =
      if (Hdf5.isHdf5(f)) Hdf5.readVars(f)
      else readMeta(f).filter(_.ncType != NcChar) // char vars are metadata text
    vars.filter(v => want.forall(_.contains(v.name))).map(NetcdfVarPartition(f, _))
  }

  /** One variable's cells, row-major, from either container: the packed
    * integer `raw` plus the scale/offset-unpacked physical `value`, with
    * `_FillValue` cells nulled (the get_grid_point_values semantics at
    * odin_goesr/src/lib.rs:532-538) — a GOES-R L2 query is identical
    * against a classic or an HDF5 file.
    */
  def cells(partition: InputPartition): Cells = {
    val p = partition.asInstanceOf[NetcdfVarPartition]
    val v = p.v
    val raw: Int => Double = v match {
      case c: VarMeta => classicRaw(p.path, c)
      case h: Hdf5.H5Var =>
        val decoded = Hdf5.readVarData(p.path, h)
        decoded(_)
    }
    val nCells = v.nCells
    val d1 = if (v.dims.length >= 2) v.dims(1) else 1
    val isInt = v.ncType == NcByte || v.ncType == NcShort || v.ncType == NcInt
    val fill = v.fill.getOrElse(Double.NaN) // NaN equals no raw value
    val varName = UTF8String.fromString(v.name)
    val file = UTF8String.fromString(SourcePaths.baseName(p.path))
    new Cells {
      private var idx = -1
      override def next(): Boolean = { idx += 1; idx < nCells }
      override def column(name: String, at: Int): GenericInternalRow => Unit =
        name match {
          case "var" => _.update(at, varName)
          case "i" => _.setInt(at, idx / d1)
          case "j" => _.setInt(at, idx % d1)
          case "raw" =>
            if (isInt) _.setLong(at, raw(idx).toLong) else _.setNullAt(at)
          case "value" => r =>
            val x = raw(idx)
            if (x == fill) r.setNullAt(at) else r.setDouble(at, x * v.scale + v.offset)
          case "file" => _.update(at, file)
        }
    }
  }

  /** A classic variable's raw values, read from its byte range only
    * (`begin`, nCells × type size) and kept as stored: big-endian bytes
    * that each cell reads as it goes.
    */
  private def classicRaw(path: String, v: VarMeta): Int => Double = {
    val b = ByteBuffer.wrap(
      SourcePaths.readRange(path, v.begin, v.nCells.toLong * typeSize(v.ncType)))
    v.ncType match {
      case NcByte => i => b.get(i).toDouble
      case NcShort => i => b.getShort(i * 2).toDouble
      case NcInt => i => b.getInt(i * 4).toDouble
      case NcFloat => i => b.getFloat(i * 4).toDouble
      case NcDouble => i => b.getDouble(i * 8)
    }
  }
}

/** `spark.read.format("graft.sources.NetcdfProvider").option("path", f)`,
  * optionally `.option("vars", "Mask,Power")` to read only those
  * variables.
  */
class NetcdfProvider extends GridSource(Netcdf)

/** One variable of a product file: a classic [[Netcdf.VarMeta]] or a
  * netCDF-4 [[Hdf5.H5Var]], which carries its chunk map so the reader
  * seeks straight to its variable's chunks.
  */
final case class NetcdfVarPartition(path: String, v: Netcdf.Variable)
  extends InputPartition
