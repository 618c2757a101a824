package graft.functions

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Real in-JDK image codec for the multimodal path — no external codec
  * libraries needed: `javax.imageio` ships PNG both ways. Mirrors the
  * decode step odin_image / odin_onnx perform before feature extraction
  * and inference (odin_onnx/src/lib.rs preprocessing).
  *
  * Everything here is deterministic: synthetic pixels are integer
  * functions of (doc_id, x, y), PNG is lossless, and the features are
  * exact integer/rational reductions over the decoded pixels — so the
  * decode→featurize round trip produces identical values on every
  * executor and run, even though the encoded byte stream itself may vary
  * across JDK encoder versions.
  */
object ImageCodec {

  // r13 (guide §1.2 step 2 / §4.5): javax.imageio defaults to FILE-cached
  // image streams — every encode/decode round trip created and deleted a
  // temp file. Memory-cached streams produce byte-identical output (the
  // cache is transport, not encoding); this is process-wide and set once.
  ImageIO.setUseCache(false)

  // One PNG writer/reader per thread: ImageIO.write/read scan the SPI
  // registry and construct a fresh codec instance per call; the codec
  // queries call these ~5000× per pass. Reuse is the guide's
  // initialize-heavyweight-state-once-per-task rule; output bytes are
  // identical (same codec, default write param).
  private val pngWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      ImageIO.getImageWritersByFormatName("png").next()
  }
  private val jpegWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      ImageIO.getImageWritersByFormatName("jpeg").next()
  }
  private val pngReader = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader =
      ImageIO.getImageReadersByFormatName("png").next()
  }
  private val jpegReader = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader =
      ImageIO.getImageReadersByFormatName("jpeg").next()
  }

  /** Deterministic synthetic RGB image for a document id: a structured
    * gradient+stripe pattern (not noise, so channel stats are nontrivial).
    * r14 (guide §1.2 step 2, per-task CPU): pixels go straight into the
    * backing DataBufferInt — for a freshly constructed TYPE_INT_RGB image
    * setRGB stores exactly (rgb & 0xFFFFFF) at y*w+x, so the bytes are
    * identical, minus w·h color-model dispatches.
    */
  def syntheticImage(docId: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((docId * 31 + x * 7 + y * 13) % 256).toInt & 0xFF
        val g = ((docId * 17 + x * 3) % 256).toInt & 0xFF
        val b = ((docId * 5 + y * 11) % 256).toInt & 0xFF
        data(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    img
  }

  /** The frame of document (or shot) `key`: its synthetic image, 32, 48
    * or 64 px wide by `key % 3`, 32 px high. Pixels depend on the key
    * mod 256 and the width on the key mod 3, so frames repeat with
    * period lcm(256, 3) = 768; the driver-side LUT oracles rely on it.
    */
  def docFrame(key: Long): BufferedImage =
    syntheticImage(key, 32 + (key % 3).toInt * 16, 32)

  /** Bulk ARGB fetch — one pass instead of w·h getRGB(x, y) calls (each
    * of which re-dispatches through the ColorModel). Values are identical
    * to per-pixel getRGB: the two fast paths reproduce it bit-for-bit for
    * the layouts this pipeline actually produces (synthetic TYPE_INT_RGB,
    * ImageIO-decoded TYPE_3BYTE_BGR with the standard {2,1,0} band
    * offsets), each over one data bank that starts at offset 0; anything
    * else falls back to the bulk getRGB API, which is
    * the same conversion loop in one library call. r14, guide §1.2
    * step 2 (per-task CPU) — feeds phash64 / features / lumBytes, i.e.
    * every decoded-pixel consumer.
    */
  private[graft] def argbOf(img: BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val plain = raster.getSampleModelTranslateX == 0 &&
      raster.getSampleModelTranslateY == 0 &&
      raster.getDataBuffer.getOffset == 0 &&
      raster.getDataBuffer.getNumBanks == 1
    img.getType match {
      case BufferedImage.TYPE_INT_RGB if plain =>
        val sm = raster.getSampleModel
          .asInstanceOf[java.awt.image.SinglePixelPackedSampleModel]
        val data = raster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        val stride = sm.getScanlineStride
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          val base = y * stride
          var x = 0
          while (x < w) {
            out(y * w + x) = 0xFF000000 | (data(base + x) & 0xFFFFFF)
            x += 1
          }
          y += 1
        }
        out
      case BufferedImage.TYPE_3BYTE_BGR if plain &&
          raster.getSampleModel.isInstanceOf[java.awt.image.ComponentSampleModel] &&
          raster.getSampleModel.asInstanceOf[java.awt.image.ComponentSampleModel]
            .getPixelStride == 3 &&
          java.util.Arrays.equals(raster.getSampleModel
            .asInstanceOf[java.awt.image.ComponentSampleModel].getBandOffsets,
            Array(2, 1, 0)) =>
        val sm = raster.getSampleModel
          .asInstanceOf[java.awt.image.ComponentSampleModel]
        val data = raster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        val stride = sm.getScanlineStride
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var p = y * stride
          var x = 0
          while (x < w) {
            out(y * w + x) = 0xFF000000 | ((data(p + 2) & 0xFF) << 16) |
              ((data(p + 1) & 0xFF) << 8) | (data(p) & 0xFF)
            x += 1; p += 3
          }
          y += 1
        }
        out
      case _ => img.getRGB(0, 0, w, h, null, 0, w)
    }
  }

  /** Encode to PNG bytes (lossless). Same encoder and default write
    * param as ImageIO.write(img, "png", …) — byte-identical stream —
    * minus the per-call SPI scan and writer construction.
    */
  def toPng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val w = pngWriter.get()
    try { w.setOutput(ios); w.write(img) }
    finally { w.setOutput(null); ios.close() }
    bos.toByteArray
  }

  /** Real decode: PNG/JPEG bytes → BufferedImage (null-safe: returns
    * null for undecodable payloads, callers surface that as a flag).
    * Known formats dispatch by magic bytes to a reused per-thread reader
    * (same decoder ImageIO.read would pick — identical pixels); anything
    * else falls back to the generic ImageIO.read scan.
    */
  def decode(bytes: Array[Byte]): BufferedImage =
    try {
      val rd = sniffFormat(bytes) match {
        case "png"  => pngReader.get()
        case "jpeg" => jpegReader.get()
        case _      => null
      }
      if (rd == null) ImageIO.read(new ByteArrayInputStream(bytes))
      else {
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try { rd.setInput(iis); rd.read(0) }
        finally { rd.setInput(null); iis.close() }
      }
    } catch { case _: Exception => null }

  /** Encode to baseline JPEG at an EXPLICIT quality — the camera-frame
    * format (odin_sentinel image records and the odin_live/odin_alertca
    * camera products ship JPEG, not PNG). Quality is pinned through
    * ImageWriteParam so the byte stream is deterministic within a JVM:
    * the LUT oracles re-run this exact encoder driver-side.
    */
  def toJpeg(img: BufferedImage, quality: Float = 0.85f): Array[Byte] =
    toJpegImpl(img, quality, progressive = false)

  /** Encode to PROGRESSIVE JPEG (SOF2 spectral-selection scans) — the
    * other frame type cameras and web scrapes ship. Same pinned-quality
    * determinism as [[toJpeg]]; the marker walk handles SOF2 through its
    * generic SOF0-15 branch and ImageIO decodes multi-scan files.
    */
  def toJpegProgressive(img: BufferedImage, quality: Float = 0.85f): Array[Byte] =
    toJpegImpl(img, quality, progressive = true)

  private def toJpegImpl(img: BufferedImage, quality: Float,
      progressive: Boolean): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageWriteParam}
    val writer = jpegWriter.get() // r13: per-thread reuse, same codec
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      writer.write(null, new IIOImage(img, null, null), p)
    } finally { writer.setOutput(null); ios.close() }
    bos.toByteArray
  }

  /** Magic-byte format sniff for a mixed binary column — the dispatch a
    * real ingest runs before choosing a decoder (a camera feed is JPEG,
    * a tile cache PNG, and the pipeline sees both in one column).
    */
  def sniffFormat(bytes: Array[Byte]): String =
    if (bytes.length >= 8 && (bytes(0) & 0xFF) == 0x89
        && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') "png"
    else if (bytes.length >= 3 && (bytes(0) & 0xFF) == 0xFF
        && (bytes(1) & 0xFF) == 0xD8 && (bytes(2) & 0xFF) == 0xFF) "jpeg"
    else "unknown"

  /** Parsed JPEG container structure (mm_jpeg_meta) — the marker-segment
    * walk a binary pipeline runs before trusting a camera frame, the
    * JPEG twin of pngMeta's chunk walk: SOI, every FFxx segment with its
    * big-endian length, SOF0/1/2 frame header (precision, dimensions,
    * component count), APP0/JFIF detection, entropy-coded scan byte
    * accounting (stuffed FF00 and RST0-7 stay inside the scan), EOI.
    * markerOk = the walk consumed every byte exactly and ended at EOI.
    */
  final case class JpegInfo(jpegLen: Int, width: Int, height: Int,
      precision: Int, nComponents: Int, nSegments: Int, hasJfif: Boolean,
      entropyBytes: Long, markerOk: Boolean)

  def jpegMeta(bytes: Array[Byte]): JpegInfo = {
    def u8(o: Int): Int = bytes(o) & 0xFF
    def u16(o: Int): Int = (u8(o) << 8) | u8(o + 1)
    var ok = bytes.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8
    var off = 2; var n = if (ok) 1 else 0 // SOI counted
    var w = 0; var h = 0; var prec = 0; var ncomp = 0
    var jfif = false; var entropy = 0L; var sawEoi = false
    while (ok && !sawEoi && off + 2 <= bytes.length) {
      // spec-legal fill bytes (ITU-T T.81 B.1.1.2): any number of extra
      // 0xFF may pad before a marker — skip them so the length-segment
      // branch never misreads a fill byte as a marker code (ADVICE r12)
      while (off + 2 < bytes.length && u8(off) == 0xFF && u8(off + 1) == 0xFF)
        off += 1
      if (u8(off) != 0xFF) ok = false
      else {
        val m = u8(off + 1)
        if (m == 0xD9) { sawEoi = true; n += 1; off += 2 } // EOI
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) { n += 1; off += 2 }
        else if (off + 4 > bytes.length) ok = false
        else {
          val len = u16(off + 2)
          if (len < 2 || off + 2 + len > bytes.length) ok = false
          else {
            // SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC): frame header
            if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
              prec = u8(off + 4); h = u16(off + 5); w = u16(off + 7)
              ncomp = u8(off + 9)
            }
            if (m == 0xE0 && len >= 7 && bytes(off + 4) == 'J'
                && bytes(off + 5) == 'F' && bytes(off + 6) == 'I'
                && bytes(off + 7) == 'F' && bytes(off + 8) == 0) jfif = true
            n += 1
            off += 2 + len
            if (m == 0xDA) { // SOS: entropy-coded scan follows the header
              var scanning = true
              while (scanning && off < bytes.length) {
                if (u8(off) == 0xFF && off + 1 < bytes.length) {
                  val mm = u8(off + 1)
                  if (mm == 0x00 || (mm >= 0xD0 && mm <= 0xD7)) {
                    entropy += 2; off += 2 // byte stuffing / restart
                  } else scanning = false
                } else { entropy += 1; off += 1 }
              }
            }
          }
        }
      }
    }
    JpegInfo(bytes.length, w, h, prec, ncomp, n, jfif, entropy,
      ok && sawEoi && off == bytes.length)
  }

  /** Parsed PNG container structure (mm_png_meta): the real chunk walk a
    * binary-column pipeline runs before trusting a payload — signature,
    * per-chunk CRC32 validation, IHDR decode, IDAT accounting.
    */
  final case class PngInfo(pngLen: Int, width: Int, height: Int,
      bitDepth: Int, colorType: Int, nChunks: Int, idatBytes: Long,
      crcOk: Boolean)

  def pngMeta(bytes: Array[Byte]): PngInfo = {
    def be32(o: Int): Long =
      ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
        ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    var ok = bytes.length >= 8 &&
      (0 until 8).forall(i => (bytes(i) & 0xFF) == (sig(i) & 0xFF))
    var off = 8; var n = 0; var idat = 0L
    var w = 0; var h = 0; var bd = 0; var ct = 0
    while (ok && off + 12 <= bytes.length) {
      val len = be32(off).toInt
      if (len < 0 || off + 12 + len > bytes.length) ok = false
      else {
        val typ = new String(bytes, off + 4, 4, "US-ASCII")
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, off + 4, 4 + len)
        if (crc.getValue != be32(off + 8 + len)) ok = false
        if (typ == "IHDR") {
          w = be32(off + 8).toInt; h = be32(off + 12).toInt
          bd = bytes(off + 16) & 0xFF; ct = bytes(off + 17) & 0xFF
        }
        if (typ == "IDAT") idat += len
        n += 1
        off += 12 + len
      }
    }
    PngInfo(bytes.length, w, h, bd, ct, n, idat, ok && off == bytes.length)
  }

  /** Row-major luminance byte stream — the raw payload the
    * compression-feature ops (mm_tile_compress, mm_fractal_dim)
    * consume. Same integer luminance as features(): (299r+587g+114b)/1000.
    */
  def lumBytes(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val px = argbOf(img)
    val out = new Array[Byte](w * h)
    var i = 0
    while (i < out.length) {
      val p = px(i)
      val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
      out(i) = ((299L * r + 587L * g + 114L * b) / 1000L).toByte
      i += 1
    }
    out
  }

  /** 8×8 block-mean luminance tile in [0, 1] — the conv classifier's
    * input (mm_conv_infer): the image splits into an 8×8 grid of equal
    * blocks (widths here are multiples of 8), each block's integer
    * luminance sum divides by (blockPixels · 255). Exact integer sums
    * before the one division, so executors and the driver-side oracle
    * LUT agree bit-for-bit.
    */
  def cnnTile8(img: BufferedImage): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val bw = math.max(1, w / 8); val bh = math.max(1, h / 8)
    val lum = lumBytes(img)
    Array.tabulate(64) { i =>
      val by = i / 8; val bx = i % 8
      var s = 0L
      var y = by * bh
      while (y < (by + 1) * bh && y < h) {
        var x = bx * bw
        while (x < (bx + 1) * bw && x < w) {
          s += lum(y * w + x) & 0xFF
          x += 1
        }
        y += 1
      }
      s.toDouble / (bw.toLong * bh * 255L).toDouble
    }
  }

  /** Per-channel statistics over decoded pixels — the 8-dim feature
    * vector the inference stage consumes: mean R/G/B, luminance
    * mean/min/max, luminance stddev, horizontal edge energy. Exact
    * integer sums before the final divisions.
    */
  def features(img: BufferedImage): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val n = w.toLong * h
    var sr = 0L; var sg = 0L; var sb = 0L
    var slum = 0L; var slum2 = 0L
    var minLum = 255L; var maxLum = 0L
    var edge = 0L
    val px = argbOf(img)
    var y = 0
    while (y < h) {
      var prevLum = -1L
      var x = 0
      while (x < w) {
        val p = px(y * w + x)
        val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
        sr += r; sg += g; sb += b
        // integer luminance (ITU-R 601 weights scaled by 1000)
        val lum = (299L * r + 587L * g + 114L * b) / 1000L
        slum += lum; slum2 += lum * lum
        if (lum < minLum) minLum = lum
        if (lum > maxLum) maxLum = lum
        if (prevLum >= 0) edge += math.abs(lum - prevLum)
        prevLum = lum
        x += 1
      }
      y += 1
    }
    val meanLum = slum.toDouble / n
    val varLum = slum2.toDouble / n - meanLum * meanLum
    Array(
      sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
      meanLum, math.sqrt(math.max(0.0, varLum)),
      minLum.toDouble, maxLum.toDouble,
      edge.toDouble / math.max(1, n - h)) // h rows × (w-1) diffs; max guards w<=1 (ADVICE r3)
  }

  /** The DCT-II basis of `lowDct` over 32 samples:
    * cos(π/32 · (x + 0.5) · k) for k < 8, x < 32. */
  private val DctCos = Array.tabulate(8, 32)((k, x) =>
    math.cos(math.Pi / 32 * (x + 0.5) * k))

  /** The 8×8 low-frequency block of the 2-D DCT-II of a 32×32 grid
    * `lum`: coefficient (u, v) at u·8 + v is Σ_ii Σ_jj lum·cos_u·cos_v,
    * summed in (ii, jj) order. The 8 coefficients of one u sum in 8
    * independent accumulators, each in the order it would sum alone.
    */
  private[graft] def lowDct(lum: Array[Array[Double]]): Array[Double] = {
    val Array(c0, c1, c2, c3, c4, c5, c6, c7) = DctCos
    val coef = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = DctCos(u)
      var a0, a1, a2, a3, a4, a5, a6, a7 = 0.0
      var ii = 0
      while (ii < 32) {
        val row = lum(ii)
        val cui = cu(ii)
        var jj = 0
        while (jj < 32) {
          val l = row(jj) * cui
          a0 += l * c0(jj); a1 += l * c1(jj); a2 += l * c2(jj); a3 += l * c3(jj)
          a4 += l * c4(jj); a5 += l * c5(jj); a6 += l * c6(jj); a7 += l * c7(jj)
          jj += 1
        }
        ii += 1
      }
      val o = u * 8
      coef(o) = a0; coef(o + 1) = a1; coef(o + 2) = a2; coef(o + 3) = a3
      coef(o + 4) = a4; coef(o + 5) = a5; coef(o + 6) = a6; coef(o + 7) = a7
      u += 1
    }
    coef
  }

  /** 64-bit perceptual hash (classic pHash): integer luminance →
    * 32×32 box-resample → 2-D DCT-II → low-frequency 8×8 block →
    * median threshold. Near-identical images land within a few bits of
    * hamming distance; the banded hamming join upstairs turns that into
    * image near-dup detection. Deterministic: identical JVM math on
    * executors and on the driver that builds the oracle LUT.
    */
  def phash64(img: BufferedImage): Long = {
    val N = 32
    val w = img.getWidth
    val h = img.getHeight
    val px = argbOf(img)
    val lum = Array.ofDim[Double](N, N)
    var i = 0
    while (i < N) {
      var j = 0
      while (j < N) {
        val x0 = j * w / N; val x1 = math.max(x0 + 1, (j + 1) * w / N)
        val y0 = i * h / N; val y1 = math.max(y0 + 1, (i + 1) * h / N)
        var s = 0L; var cnt = 0
        var y = y0
        while (y < h && y < y1) {
          var x = x0
          while (x < w && x < x1) {
            val p = px(y * w + x)
            s += (299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF)
              + 114L * (p & 0xFF)) / 1000L
            cnt += 1
            x += 1
          }
          y += 1
        }
        lum(i)(j) = if (cnt == 0) 0.0 else s.toDouble / cnt
        j += 1
      }
      i += 1
    }
    val coef = lowDct(lum)
    val sorted = coef.clone(); java.util.Arrays.sort(sorted)
    val med = (sorted(31) + sorted(32)) / 2.0
    var bits = 0L
    var k = 0
    while (k < 64) {
      if (coef(k) > med) bits |= (1L << k)
      k += 1
    }
    bits
  }
}
