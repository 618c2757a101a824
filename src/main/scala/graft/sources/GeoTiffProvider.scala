package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Minimal pure-JVM GeoTIFF (classic TIFF or BigTIFF, either byte
  * order, strip- OR tile-organized, float32 / signed-int16 / uint8
  * samples, 1..n bands in either PlanarConfiguration (chunky
  * interleaved or per-band planes — RGB orthophotos and multi-band L2
  * products), internal overview pages via the IFD chain; compression
  * 1 = none, 5 = LZW, 8 = Adobe DEFLATE, 32773 = PackBits — what GDAL
  * ships and the set public DEMs (USGS 3DEP, Copernicus GLO-30)
  * actually use) — the raster file format the reference decodes through
  * GDAL (odin_gdal/src/lib.rs, odin_dem/src/lib.rs DEM tiles, odin_hrrr
  * grids). No GDAL ships in this container, so the binary parse is done
  * directly; the writer exists to produce fixture rasters for specs and
  * dev data. The LZW codec follows TIFF 6.0 with libtiff's early
  * code-width change — cross-validated both directions against the
  * JDK's independent ImageIO TIFF plugin in LzwSpec. Predictors: 1
  * (none, GDAL's float default), 2 (horizontal differencing for integer
  * samples, channel-strided on chunky multi-band rows) and 3
  * (floating-point differencing, `PREDICTOR=3`, single-band float32).
  *
  * Scale shape (what a 100 TB DEM/HRRR sweep needs, all here):
  * - one InputPartition PER STRIP/TILE — the natural parallel unit; a
  *   reader seeks to its chunk's byte range and never touches the rest
  *   of the file (tiled organization is how large public DEMs ship);
  * - column pruning (SupportsPushDownRequiredColumns) — a query that
  *   needs only `value` never materializes the georeferencing columns;
  * - georeferencing from ModelTiepoint + ModelPixelScale evaluated
  *   per-cell as pure arithmetic (no trig, no CRS library).
  */
object GeoTiff extends GridFormat {
  val SCHEMA: StructType = StructType(Seq(
    StructField("row", IntegerType, nullable = false),
    StructField("col", IntegerType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("file", StringType, nullable = false)))

  // TIFF tag ids
  private val TImageWidth = 256
  private val TImageLength = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TStripOffsets = 273
  private val TSamplesPerPixel = 277
  private val TRowsPerStrip = 278
  private val TStripByteCounts = 279
  private val TPlanarConfiguration = 284
  private val TPredictor = 317
  private val TTileWidth = 322
  private val TTileLength = 323
  private val TTileOffsets = 324
  private val TTileByteCounts = 325
  private val TSampleFormat = 339
  private val TModelPixelScale = 33550
  private val TModelTiepoint = 33922

  /** Compression codes accepted/written: none, LZW, Adobe DEFLATE,
    * PackBits.
    */
  val CompNone = 1
  val CompLzw = 5
  val CompDeflate = 8
  val CompPackBits = 32773

  private def compress(comp: Int, raw: Array[Byte]): Array[Byte] = comp match {
    case CompNone => raw
    case CompLzw => lzwEncode(raw)
    case CompDeflate => zlibDeflate(raw)
    case CompPackBits => packBitsEncode(raw)
  }

  private[sources] def decompress(comp: Int, a: Array[Byte], expected: Int): Array[Byte] =
    comp match {
      case CompNone => a
      case CompLzw => lzwDecode(a, expected)
      case CompDeflate => zlibInflate(a, expected)
      case CompPackBits => packBitsDecode(a, expected)
    }

  /** TIFF PackBits (the Apple RLE of TIFF 6.0 §9): control byte n in
    * 0..127 copies n+1 literals; n in -127..-1 repeats the next byte
    * 1−n times; -128 is a no-op.
    */
  def packBitsEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + raw.length / 64 + 8)
    var i = 0
    while (i < raw.length) {
      // measure the run at i
      var run = 1
      while (i + run < raw.length && raw(i + run) == raw(i) && run < 128) run += 1
      if (run >= 2) {
        out.write(1 - run) // -(run-1)
        out.write(raw(i))
        i += run
      } else {
        // literal stretch: until a >=3 run starts or 128 bytes
        var lit = 1
        var j = i + 1
        while (j < raw.length && lit < 128 && !(j + 2 < raw.length
            && raw(j) == raw(j + 1) && raw(j) == raw(j + 2))) {
          lit += 1; j += 1
        }
        out.write(lit - 1)
        out.write(raw, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  /** TIFF floating-point predictor (3, the TIFF tech-note extension
    * GDAL writes for float rasters as `PREDICTOR=3`): per row, floats
    * are re-laid-out as BIG-ENDIAN byte planes (all MSBs first, then the
    * next byte, ...) and then horizontally byte-differenced. `rowBytes`
    * = samples-per-row × 4; `littleEndian` = the order the surrounding
    * file stores floats in.
    */
  def fpPredictEncode(raw: Array[Byte], rowBytes: Int,
      littleEndian: Boolean): Array[Byte] = {
    require(raw.length % rowBytes == 0 && rowBytes % 4 == 0)
    val n = rowBytes / 4
    val out = new Array[Byte](raw.length)
    var base = 0
    while (base < raw.length) {
      var j = 0
      while (j < n) {
        val o = base + j * 4
        val (b0, b1, b2, b3) =
          if (littleEndian) (raw(o + 3), raw(o + 2), raw(o + 1), raw(o))
          else (raw(o), raw(o + 1), raw(o + 2), raw(o + 3))
        out(base + j) = b0
        out(base + n + j) = b1
        out(base + 2 * n + j) = b2
        out(base + 3 * n + j) = b3
        j += 1
      }
      var i = base + rowBytes - 1
      while (i > base) { out(i) = (out(i) - out(i - 1)).toByte; i -= 1 }
      base += rowBytes
    }
    out
  }

  /** Inverse of [[fpPredictEncode]]; emits floats back in
    * `littleEndian` order so the downstream cell reader is unchanged.
    */
  def fpPredictDecode(enc: Array[Byte], rowBytes: Int,
      littleEndian: Boolean): Array[Byte] = {
    require(enc.length % rowBytes == 0 && rowBytes % 4 == 0)
    val n = rowBytes / 4
    val out = new Array[Byte](enc.length)
    val plane = new Array[Byte](rowBytes)
    var base = 0
    while (base < enc.length) {
      System.arraycopy(enc, base, plane, 0, rowBytes)
      var i = 1
      while (i < rowBytes) { plane(i) = (plane(i) + plane(i - 1)).toByte; i += 1 }
      var j = 0
      while (j < n) {
        val o = base + j * 4
        if (littleEndian) {
          out(o + 3) = plane(j); out(o + 2) = plane(n + j)
          out(o + 1) = plane(2 * n + j); out(o) = plane(3 * n + j)
        } else {
          out(o) = plane(j); out(o + 1) = plane(n + j)
          out(o + 2) = plane(2 * n + j); out(o + 3) = plane(3 * n + j)
        }
        j += 1
      }
      base += rowBytes
    }
    out
  }

  /** TIFF horizontal predictor (2, the TIFF 6.0 integer predictor GDAL
    * writes for int DEMs as `PREDICTOR=2`): per row, each 16-bit SAMPLE
    * is replaced by its difference from the previous sample. Operates on
    * sample values (not bytes — that is predictor 3's trick), respecting
    * the file byte order.
    */
  def h16PredictEncode(raw: Array[Byte], rowBytes: Int,
      littleEndian: Boolean, stride: Int = 1): Array[Byte] = {
    require(raw.length % rowBytes == 0 && rowBytes % 2 == 0)
    val ord = if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val in = ByteBuffer.wrap(raw).order(ord)
    val out = new Array[Byte](raw.length)
    val ob = ByteBuffer.wrap(out).order(ord)
    val n = rowBytes / 2
    var base = 0
    while (base < raw.length) {
      val prev = new Array[Int](stride)
      var j = 0
      while (j < n) {
        val v = in.getShort(base + j * 2).toInt
        ob.putShort(base + j * 2, (v - prev(j % stride)).toShort)
        prev(j % stride) = v
        j += 1
      }
      base += rowBytes
    }
    out
  }

  /** Inverse of [[h16PredictEncode]]. `stride` = SamplesPerPixel for
    * chunky multi-band rows (the predictor differences each sample
    * against the SAME channel of the previous pixel, TIFF 6.0 §14).
    */
  def h16PredictDecode(enc: Array[Byte], rowBytes: Int,
      littleEndian: Boolean, stride: Int = 1): Array[Byte] = {
    require(enc.length % rowBytes == 0 && rowBytes % 2 == 0)
    val ord = if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val in = ByteBuffer.wrap(enc).order(ord)
    val out = new Array[Byte](enc.length)
    val ob = ByteBuffer.wrap(out).order(ord)
    val n = rowBytes / 2
    var base = 0
    while (base < enc.length) {
      val acc = new Array[Int](stride)
      var j = 0
      while (j < n) {
        val c = j % stride
        acc(c) = (acc(c) + in.getShort(base + j * 2)).toShort.toInt
        ob.putShort(base + j * 2, acc(c).toShort)
        j += 1
      }
      base += rowBytes
    }
    out
  }

  /** Byte-sample horizontal predictor 2 — the GDAL default for LZW/
    * DEFLATE-compressed uint8 RGB orthophotos (`PREDICTOR=2`): per row,
    * each byte differenced against the same channel of the previous
    * pixel (`stride` = SamplesPerPixel for chunky rows, 1 for planar).
    */
  def h8PredictEncode(raw: Array[Byte], rowBytes: Int,
      stride: Int): Array[Byte] = {
    require(raw.length % rowBytes == 0)
    val out = new Array[Byte](raw.length)
    var base = 0
    while (base < raw.length) {
      var j = 0
      while (j < rowBytes) {
        val prev = if (j >= stride) raw(base + j - stride).toInt else 0
        out(base + j) = (raw(base + j) - prev).toByte
        j += 1
      }
      base += rowBytes
    }
    out
  }

  /** Inverse of [[h8PredictEncode]]. */
  def h8PredictDecode(enc: Array[Byte], rowBytes: Int,
      stride: Int): Array[Byte] = {
    require(enc.length % rowBytes == 0)
    val out = new Array[Byte](enc.length)
    var base = 0
    while (base < enc.length) {
      var j = 0
      while (j < rowBytes) {
        val prev = if (j >= stride) out(base + j - stride).toInt else 0
        out(base + j) = (enc(base + j) + prev).toByte
        j += 1
      }
      base += rowBytes
    }
    out
  }

  /** Inverse of [[packBitsEncode]]. */
  def packBitsDecode(in: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = 0; var o = 0
    while (o < expected && i < in.length) {
      val n = in(i); i += 1
      if (n >= 0) {
        val cnt = n + 1
        require(o + cnt <= expected && i + cnt <= in.length, "PackBits overrun")
        System.arraycopy(in, i, out, o, cnt); i += cnt; o += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        require(o + cnt <= expected && i < in.length, "PackBits overrun")
        java.util.Arrays.fill(out, o, o + cnt, in(i)); i += 1; o += cnt
      }
    }
    require(o == expected, s"PackBits short decode: $o of $expected")
    out
  }

  /** Write a single-band float32 strip-organized GeoTIFF, uncompressed
    * or per-strip zlib DEFLATE (TIFF compression 8). Tiepoint maps pixel
    * (0,0) to (originLon, originLat); north-up with pixel size (sx, sy)
    * degrees.
    */
  def write(path: String, width: Int, height: Int, data: Array[Float],
      originLon: Double, originLat: Double, sx: Double, sy: Double,
      rowsPerStrip: Int = 64, deflate: Boolean = false,
      lzw: Boolean = false): Unit = {
    require(data.length == width * height)
    val comp = if (deflate) CompDeflate else if (lzw) CompLzw else CompNone
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val strips: Seq[Array[Byte]] = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = ByteBuffer.allocate(rows * width * 4).order(ByteOrder.LITTLE_ENDIAN)
      (0 until rows * width).foreach(i => raw.putFloat(data(s * rowsPerStrip * width + i)))
      compress(comp, raw.array())
    }
    val stripBytes = strips.map(_.length)
    val dataStart = 8
    val stripOffsets = stripBytes.scanLeft(dataStart)(_ + _).dropRight(1)
    val ifdOffset = dataStart + stripBytes.sum
    // entries sorted by tag id (TIFF requires ascending order)
    val nEntries = 12
    val ifdSize = 2 + nEntries * 12 + 4
    var extraOff = ifdOffset + ifdSize // out-of-line arrays land here

    val bb = ByteBuffer.allocate(ifdOffset + ifdSize + 8 * 9 + 4 * 2 * nStrips + 64)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffset)
    // pixel strips (raw or per-strip zlib streams)
    strips.foreach(bb.put)
    // IFD
    bb.putShort(nEntries.toShort)
    def entryInline(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) { bb.putShort(value.toShort); bb.putShort(0) }
      else bb.putInt(value.toInt)
    }
    def entryArray(tag: Int, typ: Int, values: Seq[Long]): Unit = {
      val width = if (typ == 12) 8 else 4
      if (values.size * width <= 4) { entryInline(tag, typ, values.size, values.head) }
      else {
        bb.putShort(tag.toShort).putShort(typ.toShort).putInt(values.size).putInt(extraOff)
        extraOff += values.size * width
      }
    }
    val doubleArrays = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double])]
    entryInline(TImageWidth, 4, 1, width)
    entryInline(TImageLength, 4, 1, height)
    entryInline(TBitsPerSample, 3, 1, 32)
    entryInline(TCompression, 3, 1, comp)
    entryInline(TPhotometric, 3, 1, 1)
    entryArray(TStripOffsets, 4, stripOffsets.map(_.toLong))
    entryInline(TSamplesPerPixel, 3, 1, 1)
    entryInline(TRowsPerStrip, 4, 1, rowsPerStrip)
    entryArray(TStripByteCounts, 4, stripBytes.map(_.toLong))
    entryInline(TSampleFormat, 3, 1, 3) // IEEE float
    // ModelPixelScale: 3 doubles; ModelTiepoint: 6 doubles — out-of-line
    bb.putShort(TModelPixelScale.toShort).putShort(12.toShort).putInt(3).putInt(extraOff)
    doubleArrays += ((extraOff, Seq(sx, sy, 0.0)))
    extraOff += 24
    bb.putShort(TModelTiepoint.toShort).putShort(12.toShort).putInt(6).putInt(extraOff)
    doubleArrays += ((extraOff, Seq(0.0, 0.0, 0.0, originLon, originLat, 0.0)))
    extraOff += 48
    bb.putInt(0) // next IFD
    // out-of-line arrays, in the order offsets were assigned
    if (stripOffsets.size * 4 > 4) stripOffsets.foreach(o => bb.putInt(o))
    if (stripBytes.size * 4 > 4) stripBytes.foreach(c => bb.putInt(c))
    doubleArrays.foreach { case (_, ds) => ds.foreach(bb.putDouble) }
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
  }

  /** Write a single-band SIGNED-INT16 strip-organized GeoTIFF — the
    * SRTM/ASTER-style DEM combination (BitsPerSample 16, SampleFormat 2),
    * optionally LZW-compressed with the TIFF 6.0 horizontal predictor
    * (PREDICTOR=2), which is what `gdal_translate -co PREDICTOR=2` emits
    * for integer elevation bands.
    */
  def writeInt16(path: String, width: Int, height: Int, data: Array[Short],
      originLon: Double, originLat: Double, sx: Double, sy: Double,
      rowsPerStrip: Int = 64, lzw: Boolean = false,
      predictor2: Boolean = false): Unit = {
    require(data.length == width * height)
    val comp = if (lzw) CompLzw else CompNone
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val strips: Seq[Array[Byte]] = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = ByteBuffer.allocate(rows * width * 2).order(ByteOrder.LITTLE_ENDIAN)
      (0 until rows * width).foreach(i => raw.putShort(data(s * rowsPerStrip * width + i)))
      val pre =
        if (predictor2) h16PredictEncode(raw.array(), width * 2, littleEndian = true)
        else raw.array()
      compress(comp, pre)
    }
    val stripBytes = strips.map(_.length)
    val dataStart = 8
    val stripOffsets = stripBytes.scanLeft(dataStart)(_ + _).dropRight(1)
    val ifdOffset = dataStart + stripBytes.sum
    val nEntries = 13 // the float writer's 12 + Predictor
    val ifdSize = 2 + nEntries * 12 + 4
    var extraOff = ifdOffset + ifdSize

    val bb = ByteBuffer.allocate(ifdOffset + ifdSize + 8 * 9 + 4 * 2 * nStrips + 64)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffset)
    strips.foreach(bb.put)
    bb.putShort(nEntries.toShort)
    def entryInline(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) { bb.putShort(value.toShort); bb.putShort(0) }
      else bb.putInt(value.toInt)
    }
    def entryArray(tag: Int, typ: Int, values: Seq[Long]): Unit = {
      val w = if (typ == 12) 8 else 4
      if (values.size * w <= 4) entryInline(tag, typ, values.size, values.head)
      else {
        bb.putShort(tag.toShort).putShort(typ.toShort).putInt(values.size).putInt(extraOff)
        extraOff += values.size * w
      }
    }
    val doubleArrays = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double])]
    entryInline(TImageWidth, 4, 1, width)
    entryInline(TImageLength, 4, 1, height)
    entryInline(TBitsPerSample, 3, 1, 16)
    entryInline(TCompression, 3, 1, comp)
    entryInline(TPhotometric, 3, 1, 1)
    entryArray(TStripOffsets, 4, stripOffsets.map(_.toLong))
    entryInline(TSamplesPerPixel, 3, 1, 1)
    entryInline(TRowsPerStrip, 4, 1, rowsPerStrip)
    entryArray(TStripByteCounts, 4, stripBytes.map(_.toLong))
    entryInline(TPredictor, 3, 1, if (predictor2) 2 else 1)
    entryInline(TSampleFormat, 3, 1, 2) // signed integer
    bb.putShort(TModelPixelScale.toShort).putShort(12.toShort).putInt(3).putInt(extraOff)
    doubleArrays += ((extraOff, Seq(sx, sy, 0.0)))
    extraOff += 24
    bb.putShort(TModelTiepoint.toShort).putShort(12.toShort).putInt(6).putInt(extraOff)
    doubleArrays += ((extraOff, Seq(0.0, 0.0, 0.0, originLon, originLat, 0.0)))
    extraOff += 48
    bb.putInt(0) // next IFD
    if (stripOffsets.size * 4 > 4) stripOffsets.foreach(o => bb.putInt(o))
    if (stripBytes.size * 4 > 4) stripBytes.foreach(c => bb.putInt(c))
    doubleArrays.foreach { case (_, ds) => ds.foreach(bb.putDouble) }
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
  }

  /** Write a MULTI-BAND uint8 strip-organized GeoTIFF — the RGB
    * orthophoto combination (BitsPerSample 8×spp, SampleFormat 1,
    * Photometric 2) in either PlanarConfiguration: 1 = chunky (samples
    * interleaved per pixel, GDAL's default) or 2 = planar (each band's
    * strips stored consecutively). Optional LZW/DEFLATE with the TIFF
    * 6.0 horizontal predictor (`PREDICTOR=2`), which for chunky rows
    * differences each sample against the same channel of the previous
    * pixel. `bands` is one full-plane byte array per band.
    */
  def writeBands8(path: String, width: Int, height: Int,
      bands: Seq[Array[Byte]],
      originLon: Double, originLat: Double, sx: Double, sy: Double,
      rowsPerStrip: Int = 64, planar: Int = 1, lzw: Boolean = false,
      deflate: Boolean = false, predictor2: Boolean = false): Unit = {
    val spp = bands.length
    require(spp >= 1 && bands.forall(_.length == width * height))
    require(planar == 1 || planar == 2)
    val comp = if (lzw) CompLzw else if (deflate) CompDeflate else CompNone
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    def stripRows(s: Int) = math.min(rowsPerStrip, height - s * rowsPerStrip)
    val strips: Seq[Array[Byte]] =
      if (planar == 1) (0 until nStrips).map { s =>
        val rows = stripRows(s)
        val raw = new Array[Byte](rows * width * spp)
        var i = 0
        var y = s * rowsPerStrip
        while (y < s * rowsPerStrip + rows) {
          var x = 0
          while (x < width) {
            var b = 0
            while (b < spp) { raw(i) = bands(b)(y * width + x); i += 1; b += 1 }
            x += 1
          }
          y += 1
        }
        val pre = if (predictor2) h8PredictEncode(raw, width * spp, spp) else raw
        compress(comp, pre)
      }
      else (0 until spp).flatMap { b =>
        (0 until nStrips).map { s =>
          val rows = stripRows(s)
          val raw = java.util.Arrays.copyOfRange(bands(b),
            s * rowsPerStrip * width, s * rowsPerStrip * width + rows * width)
          val pre = if (predictor2) h8PredictEncode(raw, width, 1) else raw
          compress(comp, pre)
        }
      }
    val stripBytes = strips.map(_.length)
    val dataStart = 8
    val stripOffsets = stripBytes.scanLeft(dataStart)(_ + _).dropRight(1)
    val ifdOffset = dataStart + stripBytes.sum
    val nEntries = 14
    val ifdSize = 2 + nEntries * 12 + 4
    var extraOff = ifdOffset + ifdSize

    val bb = ByteBuffer.allocate(ifdOffset + ifdSize + 8 * 9
        + 4 * 2 * strips.length + 4 * spp + 64)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffset)
    strips.foreach(bb.put)
    bb.putShort(nEntries.toShort)
    def entryInline(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) { bb.putShort(value.toShort); bb.putShort(0) }
      else bb.putInt(value.toInt)
    }
    // a count-spp SHORT array: inline when it fits the 4-byte value field
    def entryShorts(tag: Int, values: Seq[Int]): Unit = {
      if (values.size * 2 <= 4) {
        bb.putShort(tag.toShort).putShort(3.toShort).putInt(values.size)
        values.foreach(v => bb.putShort(v.toShort))
        (values.size until 2).foreach(_ => bb.putShort(0))
      } else {
        bb.putShort(tag.toShort).putShort(3.toShort).putInt(values.size)
          .putInt(extraOff)
        extraOff += values.size * 2
      }
    }
    def entryArray(tag: Int, typ: Int, values: Seq[Long]): Unit = {
      val w = if (typ == 12) 8 else 4
      if (values.size * w <= 4) entryInline(tag, typ, values.size, values.head)
      else {
        bb.putShort(tag.toShort).putShort(typ.toShort).putInt(values.size)
          .putInt(extraOff)
        extraOff += values.size * w
      }
    }
    val doubleArrays = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    entryInline(TImageWidth, 4, 1, width)
    entryInline(TImageLength, 4, 1, height)
    entryShorts(TBitsPerSample, Seq.fill(spp)(8))
    entryInline(TCompression, 3, 1, comp)
    entryInline(TPhotometric, 3, 1, if (spp >= 3) 2 else 1)
    entryArray(TStripOffsets, 4, stripOffsets.map(_.toLong))
    entryInline(TSamplesPerPixel, 3, 1, spp)
    entryInline(TRowsPerStrip, 4, 1, rowsPerStrip)
    entryArray(TStripByteCounts, 4, stripBytes.map(_.toLong))
    entryInline(TPlanarConfiguration, 3, 1, planar)
    entryInline(TPredictor, 3, 1, if (predictor2) 2 else 1)
    entryShorts(TSampleFormat, Seq.fill(spp)(1)) // unsigned integer
    bb.putShort(TModelPixelScale.toShort).putShort(12.toShort).putInt(3)
      .putInt(extraOff)
    doubleArrays += Seq(sx, sy, 0.0)
    extraOff += 24
    bb.putShort(TModelTiepoint.toShort).putShort(12.toShort).putInt(6)
      .putInt(extraOff)
    doubleArrays += Seq(0.0, 0.0, 0.0, originLon, originLat, 0.0)
    extraOff += 48
    bb.putInt(0) // next IFD
    // out-of-line arrays in extraOff assignment order: BitsPerSample,
    // strip offsets, strip bytecounts, SampleFormat, then the doubles
    val bitsOut = spp * 2 > 4
    if (bitsOut) Seq.fill(spp)(8).foreach(v => bb.putShort(v.toShort))
    if (stripOffsets.size * 4 > 4) stripOffsets.foreach(o => bb.putInt(o))
    if (stripBytes.size * 4 > 4) stripBytes.foreach(c => bb.putInt(c))
    if (bitsOut) Seq.fill(spp)(1).foreach(v => bb.putShort(v.toShort))
    doubleArrays.foreach(ds => ds.foreach(bb.putDouble))
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
  }

  /** Write a single-band float32 TILE-organized GeoTIFF (the layout
    * large public DEMs ship): tiles of tileW×tileH cells, right/bottom
    * edge tiles zero-padded to full tile size per TIFF 6.0, each tile
    * compressed independently (none / LZW / DEFLATE).
    */
  def writeTiled(path: String, width: Int, height: Int, data: Array[Float],
      originLon: Double, originLat: Double, sx: Double, sy: Double,
      tileW: Int = 64, tileH: Int = 64, compression: Int = CompNone,
      fpPredictor: Boolean = false): Unit = {
    require(data.length == width * height)
    require(tileW % 16 == 0 && tileH % 16 == 0, "TIFF tiles are multiples of 16")
    val nEntries = if (fpPredictor) 14 else 13
    val tilesAcross = (width + tileW - 1) / tileW
    val tilesDown = (height + tileH - 1) / tileH
    val tiles: Seq[Array[Byte]] = (0 until tilesDown).flatMap { tr =>
      (0 until tilesAcross).map { tc =>
        val raw = ByteBuffer.allocate(tileW * tileH * 4)
          .order(ByteOrder.LITTLE_ENDIAN)
        var r = 0
        while (r < tileH) {
          var c = 0
          while (c < tileW) {
            val gr = tr * tileH + r; val gc = tc * tileW + c
            raw.putFloat(
              if (gr < height && gc < width) data(gr * width + gc) else 0f)
            c += 1
          }
          r += 1
        }
        compress(compression,
          if (fpPredictor)
            fpPredictEncode(raw.array(), tileW * 4, littleEndian = true)
          else raw.array())
      }
    }
    val tileBytes = tiles.map(_.length)
    val dataStart = 8
    val tileOffsets = tileBytes.scanLeft(dataStart)(_ + _).dropRight(1)
    val ifdOffset = dataStart + tileBytes.sum
    val ifdSize = 2 + nEntries * 12 + 4
    var extraOff = ifdOffset + ifdSize
    val nTiles = tiles.size
    val bb = ByteBuffer.allocate(ifdOffset + ifdSize + 8 * 9 + 4 * 2 * nTiles + 64)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffset)
    tiles.foreach(bb.put)
    bb.putShort(nEntries.toShort)
    def entryInline(tag: Int, typ: Int, count: Int, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) { bb.putShort(value.toShort); bb.putShort(0) }
      else bb.putInt(value.toInt)
    }
    def entryArray(tag: Int, values: Seq[Long]): Unit =
      if (values.size * 4 <= 4) entryInline(tag, 4, values.size, values.head)
      else {
        bb.putShort(tag.toShort).putShort(4.toShort).putInt(values.size).putInt(extraOff)
        extraOff += values.size * 4
      }
    entryInline(TImageWidth, 4, 1, width)
    entryInline(TImageLength, 4, 1, height)
    entryInline(TBitsPerSample, 3, 1, 32)
    entryInline(TCompression, 3, 1, compression)
    entryInline(TPhotometric, 3, 1, 1)
    entryInline(TSamplesPerPixel, 3, 1, 1)
    if (fpPredictor) entryInline(TPredictor, 3, 1, 3)
    entryInline(TTileWidth, 4, 1, tileW)
    entryInline(TTileLength, 4, 1, tileH)
    entryArray(TTileOffsets, tileOffsets.map(_.toLong))
    entryArray(TTileByteCounts, tileBytes.map(_.toLong))
    entryInline(TSampleFormat, 3, 1, 3)
    bb.putShort(TModelPixelScale.toShort).putShort(12.toShort).putInt(3).putInt(extraOff)
    val scaleAt = extraOff; extraOff += 24
    bb.putShort(TModelTiepoint.toShort).putShort(12.toShort).putInt(6).putInt(extraOff)
    extraOff += 48
    bb.putInt(0) // next IFD
    if (tileOffsets.size * 4 > 4) tileOffsets.foreach(o => bb.putInt(o))
    if (tileBytes.size * 4 > 4) tileBytes.foreach(c => bb.putInt(c))
    require(bb.position() == scaleAt)
    Seq(sx, sy, 0.0).foreach(bb.putDouble)
    Seq(0.0, 0.0, 0.0, originLon, originLat, 0.0).foreach(bb.putDouble)
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
  }

  /** Write a BigTIFF (magic 43, 8-byte offsets — what GDAL emits for
    * rasters past 4 GiB) single-band float32 strip-organized fixture.
    */
  def writeBigTiff(path: String, width: Int, height: Int, data: Array[Float],
      originLon: Double, originLat: Double, sx: Double, sy: Double,
      rowsPerStrip: Int = 64, compression: Int = CompNone): Unit = {
    require(data.length == width * height)
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val strips: Seq[Array[Byte]] = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = ByteBuffer.allocate(rows * width * 4).order(ByteOrder.LITTLE_ENDIAN)
      (0 until rows * width).foreach(i => raw.putFloat(data(s * rowsPerStrip * width + i)))
      compress(compression, raw.array())
    }
    val stripBytes = strips.map(_.length)
    val dataStart = 16L
    val stripOffsets = stripBytes.scanLeft(dataStart)(_ + _).dropRight(1)
    val ifdOffset = dataStart + stripBytes.sum
    val nEntries = 12
    val ifdSize = 8 + nEntries * 20 + 8
    var extraOff = ifdOffset + ifdSize
    val bb = ByteBuffer.allocate((ifdOffset + ifdSize).toInt
      + 8 * 9 + 8 * 2 * nStrips + 64).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(43)
    bb.putShort(8).putShort(0).putLong(ifdOffset)
    strips.foreach(bb.put)
    bb.putLong(nEntries.toLong)
    def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putLong(count)
      typ match {
        case 3 => bb.putShort(value.toShort); bb.putShort(0); bb.putInt(0)
        case 16 => bb.putLong(value)
        case _ => bb.putInt(value.toInt); bb.putInt(0)
      }
    }
    def entryArr8(tag: Int, values: Seq[Long]): Unit =
      if (values.size == 1) entry(tag, 16, 1, values.head)
      else {
        bb.putShort(tag.toShort).putShort(16.toShort).putLong(values.size.toLong)
        bb.putLong(extraOff)
        extraOff += values.size * 8
      }
    entry(TImageWidth, 4, 1, width)
    entry(TImageLength, 4, 1, height)
    entry(TBitsPerSample, 3, 1, 32)
    entry(TCompression, 3, 1, compression)
    entry(TPhotometric, 3, 1, 1)
    entryArr8(TStripOffsets, stripOffsets)
    entry(TSamplesPerPixel, 3, 1, 1)
    entry(TRowsPerStrip, 4, 1, rowsPerStrip)
    entryArr8(TStripByteCounts, stripBytes.map(_.toLong))
    entry(TSampleFormat, 3, 1, 3)
    bb.putShort(TModelPixelScale.toShort).putShort(12.toShort).putLong(3L)
    bb.putLong(extraOff); extraOff += 24
    bb.putShort(TModelTiepoint.toShort).putShort(12.toShort).putLong(6L)
    bb.putLong(extraOff); extraOff += 48
    bb.putLong(0L) // next IFD
    if (stripOffsets.size > 1) stripOffsets.foreach(bb.putLong)
    if (stripBytes.size > 1) stripBytes.foreach(c => bb.putLong(c.toLong))
    Seq(sx, sy, 0.0).foreach(bb.putDouble)
    Seq(0.0, 0.0, 0.0, originLon, originLat, 0.0).foreach(bb.putDouble)
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
  }

  /** Write a classic TIFF with ONE internal overview page (IFD chain:
    * full resolution, then the 2×2-subsampled half-resolution page —
    * how GDAL stores internal overviews). Single strip per page.
    */
  def writeWithOverview(path: String, width: Int, height: Int,
      data: Array[Float], originLon: Double, originLat: Double,
      sx: Double, sy: Double): Unit = {
    require(data.length == width * height)
    val w2 = (width + 1) / 2; val h2 = (height + 1) / 2
    val data2 = Array.tabulate(h2 * w2)(i =>
      data((i / w2) * 2 * width + (i % w2) * 2))
    def rawOf(d: Array[Float]): Array[Byte] = {
      val b = ByteBuffer.allocate(d.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      d.foreach(b.putFloat); b.array()
    }
    val raw1 = rawOf(data); val raw2 = rawOf(data2)
    val ifdSize = 2 + 12 * 12 + 4
    val ifd1 = 8L + raw1.length + raw2.length
    val dbl1 = ifd1 + ifdSize
    val ifd2 = dbl1 + 72
    val dbl2 = ifd2 + ifdSize
    val bb = ByteBuffer.allocate((dbl2 + 72).toInt).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifd1.toInt)
    bb.put(raw1); bb.put(raw2)
    def page(w: Int, h: Int, dataOff: Long, dataLen: Int, dblOff: Long,
        pxx: Double, pxy: Double, next: Long): Unit = {
      bb.putShort(12)
      def e(tag: Int, typ: Int, count: Int, value: Long): Unit = {
        bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
        if (typ == 3 && count == 1) { bb.putShort(value.toShort); bb.putShort(0) }
        else bb.putInt(value.toInt)
      }
      e(TImageWidth, 4, 1, w)
      e(TImageLength, 4, 1, h)
      e(TBitsPerSample, 3, 1, 32)
      e(TCompression, 3, 1, CompNone)
      e(TPhotometric, 3, 1, 1)
      e(TStripOffsets, 4, 1, dataOff)
      e(TSamplesPerPixel, 3, 1, 1)
      e(TRowsPerStrip, 4, 1, h)
      e(TStripByteCounts, 4, 1, dataLen)
      e(TSampleFormat, 3, 1, 3)
      bb.putShort(TModelPixelScale.toShort).putShort(12.toShort).putInt(3)
      bb.putInt(dblOff.toInt)
      bb.putShort(TModelTiepoint.toShort).putShort(12.toShort).putInt(6)
      bb.putInt((dblOff + 24).toInt)
      bb.putInt(next.toInt)
      val mark = bb.position()
      bb.position(dblOff.toInt)
      Seq(pxx, pxy, 0.0).foreach(bb.putDouble)
      Seq(0.0, 0.0, 0.0, originLon, originLat, 0.0).foreach(bb.putDouble)
      bb.position(mark)
    }
    page(width, height, 8L, raw1.length, dbl1, sx, sy, ifd2)
    bb.position(ifd2.toInt)
    page(w2, h2, 8L + raw1.length, raw2.length, dbl2, sx * 2, sy * 2, 0L)
    Files.write(Paths.get(path),
      java.util.Arrays.copyOf(bb.array(), (dbl2 + 72).toInt))
  }

  /** TIFF 6.0 LZW encoder (MSB-first bit packing, Clear=256, EOI=257,
    * first entry 258, code widths 9→12; the width grows when the next
    * free entry reaches 2^w — the libtiff convention, pinned EMPIRICALLY
    * in LzwSpec against the JDK ImageIO TIFF plugin's independent codec
    * in both directions, since published descriptions of the "early
    * change" off-by-one contradict each other). Table resets at 4093
    * entries.
    */
  def lzwEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    var acc = 0L; var nAcc = 0; var bits = 9
    def put(code: Int): Unit = {
      acc = (acc << bits) | code; nAcc += bits
      while (nAcc >= 8) { out.write(((acc >> (nAcc - 8)) & 0xFF).toInt); nAcc -= 8 }
    }
    var table = new java.util.HashMap[Integer, Integer](8192)
    var nextCode = 258
    put(256) // leading Clear per spec
    var prev = -1
    var i = 0
    while (i < raw.length) {
      val b = raw(i) & 0xFF
      if (prev < 0) prev = b
      else {
        val key = Integer.valueOf((prev << 8) | b)
        val hit = table.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          put(prev)
          table.put(key, Integer.valueOf(nextCode)); nextCode += 1
          if (nextCode >= 4093) {
            put(256)
            table = new java.util.HashMap[Integer, Integer](8192)
            nextCode = 258; bits = 9
          } else if (nextCode == (1 << bits) && bits < 12) bits += 1
          prev = b
        }
      }
      i += 1
    }
    if (prev >= 0) put(prev)
    put(257) // EOI
    if (nAcc > 0) out.write(((acc << (8 - nAcc)) & 0xFF).toInt)
    out.toByteArray
  }

  /** Inverse of [[lzwEncode]]; `expected` is the known raw chunk size.
    * Width change mirrors the encoder one entry early (the decoder's
    * table runs one entry behind the encoder's, so it widens when its
    * next free entry reaches 2^w−1).
    */
  def lzwDecode(in: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected); var outPos = 0
    val prefix = new Array[Int](4096); val suffix = new Array[Byte](4096)
    val strLen = new Array[Int](4096); val first = new Array[Byte](4096)
    var i = 0
    while (i < 256) {
      prefix(i) = -1; suffix(i) = i.toByte; strLen(i) = 1; first(i) = i.toByte
      i += 1
    }
    var nextCode = 258; var bits = 9
    var acc = 0L; var nAcc = 0; var pos = 0
    def read(): Int = {
      while (nAcc < bits) {
        if (pos >= in.length) return 257
        acc = (acc << 8) | (in(pos) & 0xFF); pos += 1; nAcc += 8
      }
      val c = ((acc >> (nAcc - bits)) & ((1 << bits) - 1)).toInt
      nAcc -= bits
      c
    }
    def writeStr(code: Int): Unit = {
      val l = strLen(code)
      require(outPos + l <= expected, s"LZW overrun at $outPos + $l")
      var c = code; var p = outPos + l - 1
      while (c >= 0) { out(p) = suffix(c); c = prefix(c); p -= 1 }
      outPos += l
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = read()
      if (code == 257) done = true
      else if (code == 256) { nextCode = 258; bits = 9; prev = -1 }
      else {
        require(code <= nextCode, s"LZW bad code $code (next $nextCode)")
        if (prev < 0) { writeStr(code); prev = code }
        else {
          // add prev + first(code == nextCode ? prev : code)
          val f = if (code == nextCode) first(prev) else first(code)
          prefix(nextCode) = prev; suffix(nextCode) = f
          strLen(nextCode) = strLen(prev) + 1; first(nextCode) = first(prev)
          nextCode += 1
          writeStr(code); prev = code
          if (nextCode == (1 << bits) - 1 && bits < 12) bits += 1
        }
      }
    }
    require(outPos == expected, s"LZW short decode: $outPos of $expected")
    out
  }

  /** zlib-wrapped DEFLATE (what TIFF compression 8 stores per strip). */
  def zlibDeflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
    try {
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Inverse of [[zlibDeflate]] and of HDF5's deflate filter; `expected`
    * is the known raw size of the strip, tile or chunk.
    */
  def zlibInflate(comp: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(comp)
      val out = new Array[Byte](expected)
      var n = 0
      while (n < expected && !inf.finished()) n += inf.inflate(out, n, expected - n)
      require(n == expected, s"short inflate: $n of $expected bytes")
      out
    } finally inf.end()
  }

  /** Raster layout: strip-organized (tileW = 0) or tiled. chunkOffsets /
    * chunkByteCounts are strips top-to-bottom, or tiles row-major.
    */
  final case class Meta(width: Int, height: Int, rowsPerStrip: Int,
      tileW: Int, tileH: Int, compression: Int, predictor: Int,
      bigEndian: Boolean,
      chunkOffsets: Array[Long], chunkByteCounts: Array[Long],
      originLon: Double, originLat: Double, sx: Double, sy: Double,
      bits: Int = 32, // 32 = float32, 16 = int16 (DEM), 8 = uint8 (RGB)
      spp: Int = 1, // SamplesPerPixel (bands)
      planar: Int = 1) { // 1 = chunky (interleaved), 2 = planar (per-band)
    def tiled: Boolean = tileW > 0
  }

  /** Parse header + IFD of a classic TIFF (either byte order), strip- or
    * tile-organized GeoTIFF; validates the assumptions this reader makes
    * (float32/int16/uint8 samples, 1..n bands chunky or planar,
    * predictor none/2/3, compression none/LZW/DEFLATE/PackBits).
    */
  def readMeta(path: String): Meta = readMeta(path, 0)

  /** `overview` picks the IFD page: 0 = full resolution, k = the k-th
    * reduced-resolution overview in the file's IFD chain (how GDAL
    * stores internal overviews).
    */
  def readMeta(path: String, overview: Int): Meta = {
    val file = new RangeFile(path)
    try {
      val order = byteOrder(file)
      def readBytes(off: Long, n: Int): ByteBuffer =
        ByteBuffer.wrap(file.read(off, n)).order(order)
      val head = readBytes(2, 14)
      val magic = head.getShort() & 0xFFFF
      val big = magic match {
        case 42 => false
        case 43 => // BigTIFF: 8-byte offsets everywhere
          require((head.getShort() & 0xFFFF) == 8, "BigTIFF offset size != 8")
          require(head.getShort() == 0, "BigTIFF reserved word != 0")
          true
        case m => throw new IllegalArgumentException(s"TIFF magic $m")
      }
      var ifdOff = if (big) head.getLong() else head.getInt() & 0xFFFFFFFFL
      // walk the IFD chain to the requested overview page
      var page = 0
      while (page < overview) {
        val n =
          if (big) readBytes(ifdOff, 8).getLong().toInt
          else readBytes(ifdOff, 2).getShort() & 0xFFFF
        val next =
          if (big) readBytes(ifdOff + 8 + n * 20, 8).getLong()
          else readBytes(ifdOff + 2 + n * 12, 4).getInt() & 0xFFFFFFFFL
        require(next != 0, s"file has no overview $overview (chain ends at $page)")
        ifdOff = next; page += 1
      }
      val (nEntries, entrySize, entriesAt) =
        if (big) (readBytes(ifdOff, 8).getLong().toInt, 20, ifdOff + 8)
        else (readBytes(ifdOff, 2).getShort() & 0xFFFF, 12, ifdOff + 2)
      val entries = readBytes(entriesAt, nEntries * entrySize)
      var width = 0; var height = 0; var rps = 0
      var comp = 1; var pred = 1
      var spp = 1; var planar = 1
      var tw = 0; var th = 0
      // offset/bytecount arrays: (type, count, inline-or-offset)
      var so = (0, 0, 0L); var sc = (0, 0, 0L)
      // per-sample arrays (count = SamplesPerPixel): (type, count, rawPos)
      var bitsSpec = (0, 0, 0); var fmtSpec = (0, 0, 0)
      var scaleOff = -1L; var tieOff = -1L
      (0 until nEntries).foreach { _ =>
        val tag = entries.getShort() & 0xFFFF
        val typ = entries.getShort() & 0xFFFF
        val count = (if (big) entries.getLong() else entries.getInt().toLong).toInt
        val rawPos = entries.position()
        val value: Long = typ match {
          case 3 => entries.getShort() & 0xFFFFL
          case 16 => entries.getLong() // LONG8 (BigTIFF)
          case _ if big => entries.getLong()
          case _ => entries.getInt() & 0xFFFFFFFFL
        }
        entries.position(rawPos + (if (big) 8 else 4))
        tag match {
          case TImageWidth => width = value.toInt
          case TImageLength => height = value.toInt
          case TBitsPerSample => bitsSpec = (typ, count, rawPos)
          case TCompression => comp = value.toInt
          case TRowsPerStrip => rps = value.toInt
          case TSamplesPerPixel => spp = value.toInt
          case TPlanarConfiguration => planar = value.toInt
          case TSampleFormat => fmtSpec = (typ, count, rawPos)
          case TPredictor => pred = value.toInt
          case TTileWidth => tw = value.toInt
          case TTileLength => th = value.toInt
          case TStripOffsets | TTileOffsets => so = (typ, count, value)
          case TStripByteCounts | TTileByteCounts => sc = (typ, count, value)
          case TModelPixelScale => scaleOff = value
          case TModelTiepoint => tieOff = value
          case _ =>
        }
      }
      // a per-sample SHORT array: inline in the value field when it
      // fits, else behind a LONG offset (TIFF 6.0 §2); all samples must
      // agree (mixed-depth bands are out of scope)
      def sampleValue(spec: (Int, Int, Int), dflt: Int, what: String): Int =
        spec match {
          case (0, _, _) => dflt // tag absent
          case (typ, count, rawPos) =>
            require(typ == 3, s"$what: expected SHORT, got type $typ")
            val vs: Seq[Int] =
              if (count * 2 <= (if (big) 8 else 4))
                (0 until count).map(k => entries.getShort(rawPos + k * 2) & 0xFFFF)
              else {
                val off =
                  if (big) entries.getLong(rawPos)
                  else entries.getInt(rawPos) & 0xFFFFFFFFL
                val b = readBytes(off, count * 2)
                Seq.fill(count)(b.getShort() & 0xFFFF)
              }
            require(vs.distinct.size == 1,
              s"$what: per-band values differ (${vs.mkString(",")})")
            vs.head
        }
      val bits = sampleValue(bitsSpec, 1, "BitsPerSample")
      val fmt = sampleValue(fmtSpec, 1, "SampleFormat")
      require(comp == CompNone || comp == CompLzw || comp == CompDeflate
          || comp == CompPackBits,
        s"compression $comp unsupported (none=1 / LZW=5 / DEFLATE=8 / " +
          "PackBits=32773)")
      require((bits == 32 && fmt == 3) || (bits == 16 && fmt == 2)
          || (bits == 8 && fmt == 1),
        s"expect float32, signed-int16 or uint8 samples (bits=$bits fmt=$fmt)")
      require(spp >= 1, s"SamplesPerPixel $spp")
      require(planar == 1 || planar == 2,
        s"PlanarConfiguration $planar (1 = chunky, 2 = planar)")
      require(pred == 1 || (pred == 3 && bits == 32 && spp == 1)
          || (pred == 2 && (bits == 16 || bits == 8)),
        s"predictor $pred unsupported for bits=$bits spp=$spp (1 = none; " +
          "3 = floating-point differencing, single-band float32 only; " +
          "2 = horizontal differencing, integer samples only)")
      require((tw == 0) == (th == 0), "TileWidth/TileLength must pair")
      if (rps == 0 && tw == 0) rps = height
      // SHORT / LONG / LONG8 arrays, inline when they fit the value field
      def longArray(spec: (Int, Int, Long)): Array[Long] = {
        val (typ, count, v) = spec
        val w = typ match { case 3 => 2; case 16 => 8; case _ => 4 }
        if (count * w <= (if (big) 8 else 4)) {
          // count==2 inline arrays are not produced by writers we accept
          // (offsets/bytecounts of a 2-chunk raster exceed SHORT)
          require(count == 1, s"unsupported inline array count=$count typ=$typ")
          Array(v)
        } else {
          val b = readBytes(v, count * w)
          typ match {
            case 3 => Array.fill(count)(b.getShort() & 0xFFFFL)
            case 16 => Array.fill(count)(b.getLong())
            case _ => Array.fill(count)(b.getInt() & 0xFFFFFFFFL)
          }
        }
      }
      val offs = longArray(so)
      val cnts = longArray(sc)
      val planes = if (planar == 2) spp else 1
      if (tw > 0) {
        val expect = ((width + tw - 1) / tw) * ((height + th - 1) / th) * planes
        require(offs.length == expect, s"expect $expect tiles, got ${offs.length}")
      } else {
        val expect = ((height + rps - 1) / rps) * planes
        require(offs.length == expect,
          s"expect $expect strips, got ${offs.length}")
      }
      require(scaleOff >= 0 && tieOff >= 0, "missing georeferencing tags")
      val sb = readBytes(scaleOff, 24)
      val sx = sb.getDouble(); val sy = sb.getDouble()
      val tb = readBytes(tieOff, 48)
      tb.getDouble(); tb.getDouble(); tb.getDouble() // pixel-space tiepoint (0,0,0)
      val originLon = tb.getDouble(); val originLat = tb.getDouble()
      Meta(width, height, rps, tw, th, comp, pred,
        order == ByteOrder.BIG_ENDIAN, offs, cnts,
        originLon, originLat, sx, sy, bits, spp, planar)
    } finally file.close()
  }

  private def byteOrder(file: RangeFile): ByteOrder = {
    val mark = file.read(0, 2)
    (mark(0).toChar, mark(1).toChar) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF byte-order mark")
    }
  }

  /** Number of IFD pages (1 + internal overviews). */
  def pageCount(path: String): Int = {
    val file = new RangeFile(path)
    try {
      val order = byteOrder(file)
      def readBytes(off: Long, n: Int): ByteBuffer =
        ByteBuffer.wrap(file.read(off, n)).order(order)
      val head = readBytes(2, 14)
      val big = (head.getShort() & 0xFFFF) == 43
      if (big) { head.getShort(); head.getShort() }
      var off = if (big) head.getLong() else head.getInt() & 0xFFFFFFFFL
      var n = 0
      while (off != 0) {
        val cnt =
          if (big) readBytes(off, 8).getLong().toInt
          else readBytes(off, 2).getShort() & 0xFFFF
        off =
          if (big) readBytes(off + 8 + cnt * 20, 8).getLong()
          else readBytes(off + 2 + cnt * 12, 4).getInt() & 0xFFFFFFFFL
        n += 1
      }
      n
    } finally file.close()
  }

  // ---- the grid format: one partition per strip or tile ------------

  val name = "geotiff"
  def schema: StructType = SCHEMA

  /** File x chunk: a directory of rasters (DEM tiles, forecast grids)
    * fans out to nFiles x nChunks partitions. Option `overview` = k
    * reads the k-th overview page (default 0, full resolution).
    */
  def partitions(f: String, options: CaseInsensitiveStringMap): Seq[InputPartition] = {
    val m = readMeta(f, options.getInt("overview", 0))
    // planar files list each band's chunks consecutively (band 0's
    // strips/tiles, then band 1's, ...); chunky files interleave all
    // bands inside every chunk (bandIdx -1)
    val planes = if (m.planar == 2) m.spp else 1
    val perBand = m.chunkOffsets.length / planes
    val tilesAcross = if (m.tiled) (m.width + m.tileW - 1) / m.tileW else 1
    m.chunkOffsets.indices.map { i =>
      val ib = i % perBand
      val (startRow, startCol, rows, cols) =
        if (m.tiled) ((ib / tilesAcross) * m.tileH, (ib % tilesAcross) * m.tileW,
          m.tileH, m.tileW)
        else (ib * m.rowsPerStrip, 0,
          math.min(m.rowsPerStrip, m.height - ib * m.rowsPerStrip), m.width)
      GeoTiffChunkPartition(f, m.chunkOffsets(i), m.chunkByteCounts(i),
        startRow, startCol, rows, cols, m.width, m.height, m.compression,
        m.predictor, m.bigEndian, m.originLon, m.originLat, m.sx, m.sy,
        m.bits, m.spp, if (m.planar == 2) i / perBand else -1)
    }
  }

  /** Decodes exactly one chunk's byte range (never the whole file),
    * inflating LZW/DEFLATE chunks in-JDK; its cells are the in-image
    * samples (tile padding beyond the image edge is skipped).
    */
  def cells(partition: InputPartition): Cells = {
    val p = partition.asInstanceOf[GeoTiffChunkPartition]
    // samples interleaved per pixel (chunky) or one band per chunk (planar)
    val sampPerCell = if (p.bandIdx >= 0) 1 else p.spp
    val rowSamples = p.chunkCols * sampPerCell
    val nSamples = p.chunkRows * rowSamples
    val undiff = decompress(p.compression,
      SourcePaths.readRange(p.path, p.offset, p.byteCount),
      nSamples * (p.bits / 8))
    val raw =
      if (p.predictor == 3) fpPredictDecode(undiff, rowSamples * 4, !p.bigEndian)
      else if (p.predictor == 2 && p.bits == 16)
        h16PredictDecode(undiff, rowSamples * 2, !p.bigEndian, sampPerCell)
      else if (p.predictor == 2) h8PredictDecode(undiff, rowSamples, sampPerCell)
      else undiff
    val samples = ByteBuffer.wrap(raw).order(
      if (p.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val file = UTF8String.fromString(SourcePaths.baseName(p.path))
    new Cells {
      private var i = -1
      private def row = p.startRow + i / sampPerCell / p.chunkCols
      private def col = p.startCol + i / sampPerCell % p.chunkCols
      override def next(): Boolean = {
        i += 1
        while (i < nSamples && (row >= p.imgHeight || col >= p.imgWidth)) i += 1
        i < nSamples
      }
      override def column(name: String, at: Int): GenericInternalRow => Unit =
        name match {
          case "row" => _.setInt(at, row)
          case "col" => _.setInt(at, col)
          case "band" =>
            _.setInt(at, if (p.bandIdx >= 0) p.bandIdx else i % sampPerCell)
          case "lon" => _.setDouble(at, p.originLon + col * p.sx)
          case "lat" => _.setDouble(at, p.originLat - row * p.sy)
          case "value" =>
            if (p.bits == 8) _.setDouble(at, (samples.get(i) & 0xFF).toDouble)
            else if (p.bits == 16) _.setDouble(at, samples.getShort(i * 2).toDouble)
            else _.setDouble(at, samples.getFloat(i * 4).toDouble)
          case "file" => _.update(at, file)
        }
    }
  }
}

/** `spark.read.format("graft.sources.GeoTiffProvider").option("path", f)` */
class GeoTiffProvider extends GridSource(GeoTiff)

/** One strip or one tile: a contiguous byte range decoding to
  * chunkRows×chunkCols cells anchored at (startRow, startCol). Tile
  * chunks may overhang the image edge (TIFF pads tiles); the reader
  * skips padding cells.
  */
final case class GeoTiffChunkPartition(path: String, offset: Long,
    byteCount: Long, startRow: Int, startCol: Int, chunkRows: Int,
    chunkCols: Int, imgWidth: Int, imgHeight: Int, compression: Int,
    predictor: Int, bigEndian: Boolean, originLon: Double,
    originLat: Double, sx: Double, sy: Double, bits: Int = 32,
    spp: Int = 1, bandIdx: Int = -1) // bandIdx >= 0: planar chunk of ONE band
  extends InputPartition
