package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Minimal pure-JVM HDF5 reader for the subset netCDF-4 files contain
  * when written by netcdf-c with DEFAULT property lists — which is what
  * real GOES-R / Himawari L2 products are (netCDF-4 classic model on
  * HDF5 1.8; the reference opens them through GDAL at
  * odin_goesr/src/lib.rs:527-538). That subset, per the public HDF5 File
  * Format Specification (version 3, the 1.8 format):
  *
  * - superblock version 0 (the libhdf5 default; v1-3 rejected with a
  *   clear error — netcdf-c only emits those under explicit
  *   H5Pset_libver_bounds, which no production GOES-R writer sets),
  * - version-1 object headers with continuation blocks,
  * - old-style groups (symbol-table B-tree v1 + local heap + SNOD),
  * - dataspace ≤ 2 dims; datatypes: fixed-point 1/2/4 bytes (either
  *   signedness, either endianness) and IEEE float32/64,
  * - data layouts v3: compact, contiguous, and chunked (B-tree v1 chunk
  *   index) with the gzip (deflate, filter id 1) and shuffle (id 2)
  *   filters — the exact pipeline netcdf-c applies for
  *   `nc_def_var_deflate(..., shuffle, deflate, level)`,
  * - compact attribute messages v1-3 (scale_factor / add_offset /
  *   _FillValue are decoded; reference-typed system attributes like
  *   DIMENSION_LIST are skipped by name).
  *
  * The fixture writer below emits the same subset. CAVEAT, recorded
  * honestly: no independent HDF5 implementation exists in this
  * container (no GDAL, h5py, or netcdf binaries), so unlike the GeoTIFF
  * LZW codec (pinned against the JDK's ImageIO), reader and writer here
  * are a matched pair validated against the format SPECIFICATION, not
  * against libhdf5 bytes. Structure offsets, signatures, and message
  * layouts follow the spec document directly, and the spec suite checks
  * binary-level invariants (signatures at the right offsets, sorted
  * symbol tables, 8-byte message alignment) beyond round-tripping.
  */
object Hdf5 {

  val Signature: Array[Byte] =
    Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte,
      '\r'.toByte, '\n'.toByte, 0x1A.toByte, '\n'.toByte)

  def isHdf5(path: String): Boolean = RangeFile(path) { file =>
    file.size >= 8 && java.util.Arrays.equals(file.read(0, 8), Signature)
  }

  /** One chunk of a chunked dataset: logical start cell per dim + raw
    * byte range (post-filter size).
    */
  final case class ChunkRef(start: Array[Int], addr: Long, size: Int)

  /** A dataset, mapped onto the Netcdf type-id vocabulary so the
    * NetcdfProvider surface is identical for classic and HDF5 files.
    */
  final case class H5Var(name: String, dims: Array[Int], ncType: Int,
      signed: Boolean, littleEndian: Boolean,
      contiguous: Option[(Long, Long)], compact: Option[Array[Byte]],
      chunkDims: Array[Int], chunks: Seq[ChunkRef],
      gzip: Boolean, shuffle: Boolean,
      scale: Double, offset: Double, fill: Option[Double])
    extends Netcdf.Variable {
    def elemSize: Int = Netcdf.typeSize(ncType)
  }

  // ---- read ----------------------------------------------------------

  /** Seek-based metadata access (r11 — lifts the old 2 GiB
    * whole-file-in-one-array cap; full-disk GOES-R ABI products cross
    * it): every structure the walk touches (superblock, object headers,
    * group/chunk B-tree nodes, SNOD leaves, local heaps) is a bounded
    * few-KiB record, so each `bb` call reads one small window at the
    * absolute offset. File size no longer matters — only readVarData
    * touches data, and it always seeked.
    */
  private final class Reader(path: String) {
    private val file = new RangeFile(path)
    val size: Long = file.size
    def readRange(off: Long, n: Int): Array[Byte] = file.read(off, n)
    /** A little-endian window at `off`; default 64 KiB (clamped to EOF)
      * covers every metadata record this subset walks. A record that
      * overruns its window surfaces as BufferUnderflow INSIDE the
      * caller's parse — callers that know a record's own length field
      * pass it as `len` instead of relying on the default (ADVICE r11);
      * an out-of-file offset fails here with a named error, never a
      * NegativeArraySize.
      */
    def bb(off: Long, len: Long = 65536L): ByteBuffer =
      ByteBuffer.wrap(readRange(off, math.min(len, size - off).toInt))
        .order(ByteOrder.LITTLE_ENDIAN)
    def close(): Unit = file.close()
  }

  /** Jenkins lookup3 `hashlittle` — the checksum every version-2+ HDF5
    * metadata structure carries (superblock v2/v3, OHDR/OCHK chunks).
    * Public algorithm (lookup3.c); Hdf5ModernSpec pins the published
    * self-test vectors so reader and writer can't share a wrong
    * implementation unnoticed.
    */
  object Lookup3 {
    private def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    def hash(data: Array[Byte], initval: Int = 0): Int = {
      var a = 0xdeadbeef + data.length + initval
      var b = a; var c = a
      var i = 0; var len = data.length
      def u(j: Int): Int = data(j) & 0xFF
      def w(j: Int): Int =
        u(j) | (u(j + 1) << 8) | (u(j + 2) << 16) | (u(j + 3) << 24)
      while (len > 12) {
        a += w(i); b += w(i + 4); c += w(i + 8)
        a -= c; a ^= rot(c, 4); c += b
        b -= a; b ^= rot(a, 6); a += c
        c -= b; c ^= rot(b, 8); b += a
        a -= c; a ^= rot(c, 16); c += b
        b -= a; b ^= rot(a, 19); a += c
        c -= b; c ^= rot(b, 4); b += a
        i += 12; len -= 12
      }
      if (len == 0) return c // empty tail: final() is skipped (lookup3.c)
      if (len >= 12) c += u(i + 11) << 24
      if (len >= 11) c += u(i + 10) << 16
      if (len >= 10) c += u(i + 9) << 8
      if (len >= 9) c += u(i + 8)
      if (len >= 8) b += u(i + 7) << 24
      if (len >= 7) b += u(i + 6) << 16
      if (len >= 6) b += u(i + 5) << 8
      if (len >= 5) b += u(i + 4)
      if (len >= 4) a += u(i + 3) << 24
      if (len >= 3) a += u(i + 2) << 16
      if (len >= 2) a += u(i + 1) << 8
      a += u(i)
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
      c
    }
  }

  def readVars(path: String): Seq[H5Var] = {
    val r = new Reader(path)
    try readVarsWith(r) finally r.close()
  }

  private def readVarsWith(r: Reader): Seq[H5Var] = {
    val head = r.bb(0, 9)
    val hsig = new Array[Byte](8); head.get(hsig)
    require(java.util.Arrays.equals(hsig, Signature), "not an HDF5 file")
    (head.get() & 0xFF) match {
      case 0 => readVarsV0(r)
      case v @ (2 | 3) => readVarsModern(r, v)
      case v => throw new IllegalArgumentException(
        s"HDF5 superblock version $v unsupported (0 = the netcdf-c " +
          "default and 2/3 = libver-latest/h5py-modern are supported; " +
          "v1 is the custom-H5Pset_istore_k variant nothing common emits)")
    }
  }

  /** Superblock v2/v3 (libver ≥ 1.8 "latest", what h5py and modern
    * exporters emit): 48-byte prefix with a lookup3 checksum, root
    * object header addressed directly (no symbol-table entry). The root
    * group itself is new-style — compact link messages in a v2 object
    * header. Dense link storage (fractal heap + name B-tree, used above
    * ~8 links with default group-info settings... netcdf/h5py variable
    * counts stay compact unless the file holds hundreds of objects) is
    * rejected with a named error.
    */
  private def readVarsModern(r: Reader, ver: Int): Seq[H5Var] = {
    val raw = r.readRange(0, 48)
    val body = java.util.Arrays.copyOf(raw, 44)
    val sb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    sb.position(9)
    val sizeOff = sb.get() & 0xFF; val sizeLen = sb.get() & 0xFF
    require(sizeOff == 8 && sizeLen == 8, s"offset/length sizes $sizeOff/$sizeLen")
    sb.get() // file consistency flags
    val base = sb.getLong()
    require(base == 0L, s"nonzero base address $base")
    val ext = sb.getLong()
    require(ext == -1L,
      "superblock extension present (shared object header messages / " +
        "SOHM) — unsupported; re-export without H5Pset_shared_mesg_*")
    sb.getLong() // EOF
    val rootHdr = sb.getLong()
    val stored = sb.getInt()
    require(Lookup3.hash(body) == stored,
      s"superblock v$ver checksum mismatch (file corrupt or truncated)")
    val rootMsgs = readObjectHeader(r, rootHdr)
    if (rootMsgs.exists(_._1 == 0x0011)) {
      // legal hybrid: old-style root group in a v2+ superblock file
      val stb = ByteBuffer.wrap(rootMsgs.find(_._1 == 0x0011).get._2)
        .order(ByteOrder.LITTLE_ENDIAN)
      symbolTableVars(r, stb.getLong(), stb.getLong(), 4, 16)
    } else linkMessageVars(r, rootMsgs)
  }

  /** One serialized link message body (type 0x06) → (name, header addr).
    * Shared by the compact path (message in the group header) and the
    * dense path (same serialization stored as a fractal heap object).
    */
  private def parseLinkMessage(body: Array[Byte]): (String, Long) = {
    val lb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val v = lb.get() & 0xFF
    require(v == 1, s"link message version $v")
    val flags = lb.get() & 0xFF
    if ((flags & 0x08) != 0) {
      val lt = lb.get() & 0xFF
      require(lt == 0,
        s"link type $lt (soft/external) unsupported — hard links only")
    }
    if ((flags & 0x04) != 0) lb.getLong() // creation order
    if ((flags & 0x10) != 0) lb.get() // charset
    val nameLen = (flags & 3) match {
      case 0 => lb.get() & 0xFFL
      case 1 => lb.getShort() & 0xFFFFL
      case 2 => lb.getInt() & 0xFFFFFFFFL
      case _ => lb.getLong()
    }
    val nameB = new Array[Byte](nameLen.toInt); lb.get(nameB)
    (new String(nameB, StandardCharsets.UTF_8), lb.getLong())
  }

  /** New-style group: compact link messages in the group's own header,
    * or — above the compact threshold — dense storage (the link messages
    * live as fractal heap objects indexed by a name v2 B-tree).
    */
  private def linkMessageVars(r: Reader,
      msgs: Seq[(Int, Array[Byte])]): Seq[H5Var] = {
    val dense: Seq[(String, Long)] =
      msgs.find(_._1 == 0x0002).toSeq.flatMap { case (_, body) =>
        val lb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
        val v = lb.get() & 0xFF
        require(v == 0, s"link info message version $v")
        val flags = lb.get() & 0xFF
        if ((flags & 1) != 0) lb.getLong() // max creation index
        val fheap = lb.getLong()
        val nameBt = lb.getLong()
        if (fheap == -1L) Nil else denseLinks(r, fheap, nameBt)
      }
    val links = msgs.filter(_._1 == 0x0006)
      .map { case (_, body) => parseLinkMessage(body) } ++ dense
    require(links.nonEmpty,
      "root group has no symbol table and no link messages (empty file?)")
    links.flatMap { case (name, addr) => parseDataset(r, name, addr) }
      .sortBy(_.name)
  }

  /** Dense link storage (groups past the compact threshold — the common
    * shape for real L2 products with dozens of variables): the link
    * messages are managed objects in a fractal heap ("FRHP" header +
    * direct blocks), indexed by a type-5 v2 B-tree ("BTHD" + "BTLF")
    * whose records are (lookup3 name hash, heap ID). Subset walked here:
    * a single-direct-block root (current rows = 0), managed (non-huge /
    * non-tiny) objects, unfiltered heap, depth-0 B-tree — what a group
    * with up to a few hundred links occupies. Everything outside that
    * (indirect root blocks, filtered heaps, multi-level name trees,
    * huge/tiny IDs) is rejected by name; every checksum on the walk is
    * verified, and each record's stored name hash is re-checked against
    * lookup3 of the name it resolves to.
    */
  private def denseLinks(r: Reader, fheapAddr: Long,
      nameBtAddr: Long): Seq[(String, Long)] = {
    require(nameBtAddr != -1L,
      "dense-link group carries no name-index v2 B-tree (corrupt " +
        "link info message)")
    // ---- fractal heap header: FRHP, 146 bytes when unfiltered
    val hdr = r.readRange(fheapAddr, 146)
    require(new String(hdr, 0, 4, StandardCharsets.US_ASCII) == "FRHP",
      s"bad fractal heap signature at $fheapAddr (dense-link walk)")
    require(Lookup3.hash(java.util.Arrays.copyOf(hdr, 142))
      == ByteBuffer.wrap(hdr, 142, 4).order(ByteOrder.LITTLE_ENDIAN).getInt,
      "fractal heap header checksum mismatch (corrupt)")
    val hb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
    hb.position(4)
    require((hb.get() & 0xFF) == 0, "fractal heap version")
    val heapIdLen = hb.getShort() & 0xFFFF
    val ioFilterLen = hb.getShort() & 0xFFFF
    require(ioFilterLen == 0,
      "filtered fractal heap unsupported (dense links are never filtered)")
    val fhFlags = hb.get() & 0xFF
    hb.getInt() // max managed object size
    hb.getLong(); // next huge id
    hb.getLong() // huge v2 btree
    hb.getLong(); hb.getLong() // free space amount + manager
    hb.getLong(); hb.getLong(); hb.getLong() // managed / allocated / iter
    hb.getLong() // number of managed objects
    val hugeSize = hb.getLong(); val nHuge = hb.getLong()
    val tinySize = hb.getLong(); val nTiny = hb.getLong()
    require(nHuge == 0L && nTiny == 0L && hugeSize == 0L && tinySize == 0L,
      "huge/tiny fractal heap objects unsupported (managed link " +
        "messages only)")
    hb.getShort() // table width
    val startBlockSize = hb.getLong()
    hb.getLong() // max direct block size
    val maxHeapBits = hb.getShort() & 0xFFFF
    hb.getShort() // starting rows
    val rootBlockAddr = hb.getLong()
    val curRows = hb.getShort() & 0xFFFF
    require(curRows == 0,
      "fractal heap indirect root block unsupported — single-direct-" +
        "block dense groups only (up to a few hundred links)")
    val offBytes = (maxHeapBits + 7) / 8
    val lenBytes = heapIdLen - 1 - offBytes
    require(offBytes >= 1 && offBytes <= 8 && lenBytes >= 1 && lenBytes <= 8,
      s"fractal heap ID geometry $heapIdLen/$offBytes unsupported")
    // ---- root direct block: FHDB (checksummed when header flag bit 1)
    val dbChecksummed = (fhFlags & 2) != 0
    val dbHdrLen = 4 + 1 + 8 + offBytes + (if (dbChecksummed) 4 else 0)
    val db = r.readRange(rootBlockAddr, startBlockSize.toInt)
    require(new String(db, 0, 4, StandardCharsets.US_ASCII) == "FHDB",
      s"bad fractal heap direct block signature at $rootBlockAddr")
    require((db(4) & 0xFF) == 0, "direct block version")
    require(ByteBuffer.wrap(db, 5, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
      == fheapAddr, "direct block back-pointer != heap header address")
    var blockOff = 0L
    (0 until offBytes).foreach(k => blockOff |= (db(13 + k) & 0xFFL) << (8 * k))
    require(blockOff == 0L, s"root direct block at heap offset $blockOff")
    if (dbChecksummed) {
      val cksOff = 13 + offBytes
      val stored = ByteBuffer.wrap(db, cksOff, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      val zeroed = db.clone()
      java.util.Arrays.fill(zeroed, cksOff, cksOff + 4, 0.toByte)
      require(Lookup3.hash(zeroed) == stored,
        "fractal heap direct block checksum mismatch (corrupt)")
    }
    // ---- name-index v2 B-tree: BTHD header + one BTLF leaf
    val bt = r.readRange(nameBtAddr, 38)
    require(new String(bt, 0, 4, StandardCharsets.US_ASCII) == "BTHD",
      s"bad v2 B-tree signature at $nameBtAddr (dense-link name index)")
    require(Lookup3.hash(java.util.Arrays.copyOf(bt, 34))
      == ByteBuffer.wrap(bt, 34, 4).order(ByteOrder.LITTLE_ENDIAN).getInt,
      "v2 B-tree header checksum mismatch (corrupt)")
    val tb = ByteBuffer.wrap(bt).order(ByteOrder.LITTLE_ENDIAN)
    tb.position(4)
    require((tb.get() & 0xFF) == 0, "v2 B-tree version")
    val btType = tb.get() & 0xFF
    require(btType == 5,
      s"v2 B-tree type $btType (expected 5, the group link name index)")
    tb.getInt() // node size
    val recSize = tb.getShort() & 0xFFFF
    require(recSize == 4 + heapIdLen,
      s"name-index record size $recSize != 4 + heap ID length $heapIdLen")
    val depth = tb.getShort() & 0xFFFF
    require(depth == 0,
      "multi-level dense-link name B-tree unsupported — depth-0 " +
        "(single-leaf) groups only")
    tb.get(); tb.get() // split/merge percents
    val leafAddr = tb.getLong()
    val nRec = tb.getShort() & 0xFFFF
    // ---- leaf: BTLF
    val leafLen = 6 + nRec * recSize + 4
    val lf = r.readRange(leafAddr, leafLen)
    require(new String(lf, 0, 4, StandardCharsets.US_ASCII) == "BTLF",
      s"bad v2 B-tree leaf signature at $leafAddr")
    require((lf(4) & 0xFF) == 0 && (lf(5) & 0xFF) == 5, "leaf version/type")
    require(Lookup3.hash(java.util.Arrays.copyOf(lf, leafLen - 4))
      == ByteBuffer.wrap(lf, leafLen - 4, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt,
      "v2 B-tree leaf checksum mismatch (corrupt)")
    (0 until nRec).map { i =>
      val base = 6 + i * recSize
      val nameHash = ByteBuffer.wrap(lf, base, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      val idB0 = lf(base + 4) & 0xFF
      require((idB0 & 0xF0) == 0,
        s"heap ID version/type ${idB0 >> 4} unsupported (managed v0 only)")
      var off = 0L
      (0 until offBytes).foreach(k =>
        off |= (lf(base + 5 + k) & 0xFFL) << (8 * k))
      var len = 0L
      (0 until lenBytes).foreach(k =>
        len |= (lf(base + 5 + offBytes + k) & 0xFFL) << (8 * k))
      require(off >= dbHdrLen && off + len <= startBlockSize,
        s"heap object [$off, ${off + len}) outside the root direct block")
      val (name, addr) = parseLinkMessage(
        java.util.Arrays.copyOfRange(db, off.toInt, (off + len).toInt))
      require(Lookup3.hash(name.getBytes(StandardCharsets.UTF_8)) == nameHash,
        s"dense link '$name': stored name hash mismatch (corrupt index)")
      (name, addr)
    }
  }

  private def readVarsV0(r: Reader): Seq[H5Var] = {
    val sb = r.bb(0, 96) // v0 superblock is exactly 96 bytes
    val sig = new Array[Byte](8); sb.get(sig)
    require(java.util.Arrays.equals(sig, Signature), "not an HDF5 file")
    val sbVersion = sb.get() & 0xFF
    require(sbVersion == 0, s"superblock version $sbVersion in v0 path")
    sb.get(); sb.get(); sb.get(); sb.get() // fs ver, root ver, res, shared ver
    val sizeOff = sb.get() & 0xFF; val sizeLen = sb.get() & 0xFF
    require(sizeOff == 8 && sizeLen == 8, s"offset/length sizes $sizeOff/$sizeLen")
    sb.get() // reserved
    // group B-tree fan-outs — they size the TREE/SNOD read windows below
    val kLeaf = sb.getShort() & 0xFFFF
    val kInt = sb.getShort() & 0xFFFF
    sb.getInt() // consistency flags
    val base = sb.getLong()
    require(base == 0L, s"nonzero base address $base")
    sb.getLong(); sb.getLong(); sb.getLong() // free space, EOF, driver info
    // root group symbol table entry
    sb.getLong() // link name offset
    val rootHdr = sb.getLong()
    val rootMsgs = readObjectHeader(r, rootHdr)
    rootMsgs.find(_._1 == 0x0011) match {
      case Some(stm) =>
        val stb = ByteBuffer.wrap(stm._2).order(ByteOrder.LITTLE_ENDIAN)
        symbolTableVars(r, stb.getLong(), stb.getLong(), kLeaf, kInt)
      case None => // legal hybrid: new-style group under a v0 superblock
        linkMessageVars(r, rootMsgs)
    }
  }

  /** Old-style group: symbol-table B-tree + local heap + SNOD leaves. */
  private def symbolTableVars(r: Reader, btreeAddr: Long, heapAddr: Long,
      kLeaf: Int, kInt: Int): Seq[H5Var] = {
    val out = ArrayBuffer.empty[H5Var]
    // local heap data segment
    val hb = r.bb(heapAddr, 32) // local heap header is exactly 32 bytes
    val hsig = new Array[Byte](4); hb.get(hsig)
    require(new String(hsig, StandardCharsets.US_ASCII) == "HEAP", "bad heap")
    hb.get(); hb.get(); hb.get(); hb.get() // version + reserved
    val heapSegSize = hb.getLong(); hb.getLong() // seg size, free-list head
    val heapData = hb.getLong()
    // the name heap is tiny (variable names); load it once
    require(heapSegSize <= (1L << 24),
      s"local name heap unexpectedly large ($heapSegSize bytes)")
    val heapBytes = r.readRange(heapData, heapSegSize.toInt)
    def heapName(off: Long): String = {
      var p = off.toInt
      val s = p
      while (heapBytes(p) != 0) p += 1
      new String(heapBytes, s, p - s, StandardCharsets.UTF_8)
    }
    // walk the group B-tree down to SNOD leaves
    def walkGroupNode(addr: Long): Unit = {
      // window sized from the superblock's own fan-outs (ADVICE r11):
      // TREE = 24B header + (2k+1) keys + 2k children (8B each);
      // SNOD = 8B header + 2k 40-byte symbol entries
      val winLen = math.max(24L + 8L * (4L * kInt + 1),
        8L + 80L * kLeaf) + 8
      val nb = r.bb(addr, winLen)
      val nsig = new Array[Byte](4); nb.get(nsig)
      new String(nsig, StandardCharsets.US_ASCII) match {
        case "TREE" =>
          val typ = nb.get() & 0xFF; val level = nb.get() & 0xFF
          require(typ == 0, s"group btree type $typ")
          val used = nb.getShort() & 0xFFFF
          nb.getLong(); nb.getLong() // siblings
          // key0, child0, key1, child1 ... key_used
          nb.getLong() // key 0
          (0 until used).foreach { _ =>
            val child = nb.getLong(); nb.getLong() // child, next key
            walkGroupNode(child) // level-0 children are SNODs
          }
          require(level >= 0)
        case "SNOD" =>
          nb.get(); nb.get() // version, reserved
          val n = nb.getShort() & 0xFFFF
          (0 until n).foreach { _ =>
            val nameOff = nb.getLong()
            val hdr = nb.getLong()
            nb.getInt(); nb.getInt() // cache type, reserved
            val scratch = new Array[Byte](16); nb.get(scratch)
            parseDataset(r, heapName(nameOff), hdr).foreach(out += _)
          }
        case s => throw new IllegalArgumentException(s"unexpected node $s")
      }
    }
    walkGroupNode(btreeAddr)
    out.toSeq.sortBy(_.name)
  }

  /** Object header dispatch: v2 headers announce themselves with the
    * OHDR signature; anything else parses as v1.
    */
  private def readObjectHeader(r: Reader, addr: Long): Seq[(Int, Array[Byte])] = {
    val peek = r.readRange(addr, 4)
    if (new String(peek, StandardCharsets.US_ASCII) == "OHDR")
      readObjectHeaderV2(r, addr)
    else readObjectHeaderV1(r, addr)
  }

  /** v2 object header (libver-latest writers): OHDR prefix with optional
    * time/attr-limit fields, 1-byte message types, OCHK continuation
    * blocks, lookup3 checksums on every chunk (verified).
    */
  private def readObjectHeaderV2(r: Reader, addr: Long): Seq[(Int, Array[Byte])] = {
    val pre = r.bb(addr, 36)
    pre.position(4)
    val ver = pre.get() & 0xFF
    require(ver == 2, s"object header at $addr: OHDR version $ver")
    val flags = pre.get() & 0xFF
    if ((flags & 0x20) != 0) { pre.getInt(); pre.getInt(); pre.getInt(); pre.getInt() }
    if ((flags & 0x10) != 0) { pre.getShort(); pre.getShort() }
    val chunk0Size: Long = (flags & 3) match {
      case 0 => pre.get() & 0xFFL
      case 1 => pre.getShort() & 0xFFFFL
      case 2 => pre.getInt() & 0xFFFFFFFFL
      case _ => pre.getLong()
    }
    val withOrder = (flags & 0x04) != 0
    val msgHdrLen = if (withOrder) 6 else 4
    val prefixLen = pre.position()
    // a hostile chunk-0 size must fail HERE with the named error: pushed
    // through .toInt it can wrap to a small positive value and misparse
    // silently, or go negative and die as NegativeArraySize in readRange
    // (ADVICE r12)
    require(chunk0Size >= 0 &&
        addr + prefixLen + chunk0Size + 4 <= r.size,
      s"object header at $addr: chunk-0 size $chunk0Size overruns file " +
        s"(size ${r.size}) — corrupt metadata length")
    val msgs = ArrayBuffer.empty[(Int, Array[Byte])]
    // (blockStart, msgAreaOffsetInBlock, msgAreaLen); chunk 0's block is
    // the whole header, continuations are OCHK blocks
    var blocks: List[(Long, Int, Int)] =
      List((addr, prefixLen, chunk0Size.toInt))
    while (blocks.nonEmpty) {
      val (start, msgOff, msgLen) = blocks.head; blocks = blocks.tail
      val block = r.readRange(start, msgOff + msgLen + 4)
      val stored = ByteBuffer.wrap(block, msgOff + msgLen, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(Lookup3.hash(java.util.Arrays.copyOf(block, msgOff + msgLen))
        == stored,
        s"object header chunk at $start: v2 checksum mismatch (corrupt)")
      if (msgOff == 4) // continuation block: validate its signature
        require(new String(block, 0, 4, StandardCharsets.US_ASCII) == "OCHK",
          s"continuation block at $start: bad OCHK signature")
      val bb2 = ByteBuffer.wrap(block, msgOff, msgLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      while (bb2.remaining() >= msgHdrLen) {
        val typ = bb2.get() & 0xFF
        val size = bb2.getShort() & 0xFFFF
        bb2.get() // message flags
        if (withOrder) bb2.getShort()
        if (bb2.remaining() < size) {
          // trailing gap smaller than a full message: done with block
          bb2.position(bb2.limit())
        } else {
          val body = new Array[Byte](size); bb2.get(body)
          if (typ == 0x10) {
            val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
            val cOff = cb.getLong(); val cLen = cb.getLong()
            // OCHK block = sig(4) + messages + checksum(4); bounds-check
            // the continuation pointer+length with the same named error
            // as chunk 0 (a hostile cLen < 8 or overrun would otherwise
            // surface as NegativeArraySize/EOF inside readRange)
            require(cLen >= 8 && cOff >= 0 && cOff + cLen <= r.size,
              s"object header at $addr: OCHK continuation at $cOff " +
                s"length $cLen outside file (size ${r.size}) — corrupt " +
                "metadata pointer/length")
            blocks = blocks :+ ((cOff, 4, (cLen - 8).toInt))
          } else if (typ != 0x00) msgs += ((typ, body))
        }
      }
    }
    msgs.toSeq
  }

  /** v1 object header: all (type, body) messages, following
    * continuation blocks.
    */
  private def readObjectHeaderV1(r: Reader, addr: Long): Seq[(Int, Array[Byte])] = {
    val hb = r.bb(addr)
    val ver = hb.get() & 0xFF
    require(ver == 1,
      s"object header version $ver unsupported (v1 and v2/OHDR are the " +
        "supported forms)")
    hb.get() // reserved
    val nMsgs = hb.getShort() & 0xFFFF
    hb.getInt() // ref count
    val headerSize = hb.getInt()
    hb.getInt() // 4-byte gap: messages are 8-aligned after the 12B prefix
    val msgs = ArrayBuffer.empty[(Int, Array[Byte])]
    // messages live in the first block (addr+16, headerSize bytes) and in
    // continuation blocks announced by 0x0010 messages; each block is
    // read to its own end, in announcement order
    var blocks: List[(Long, Long)] = List((addr + 16, headerSize.toLong))
    var read = 0
    while (read < nMsgs && blocks.nonEmpty) {
      val (start, len) = blocks.head; blocks = blocks.tail
      val cur = r.bb(start, len) // window positions are block-relative
      while (read < nMsgs && cur.position() + 8 <= len) {
        val typ = cur.getShort() & 0xFFFF
        val size = cur.getShort() & 0xFFFF
        cur.get(); cur.get(); cur.get(); cur.get() // flags + reserved
        val body = new Array[Byte](size)
        cur.get(body)
        read += 1
        if (typ == 0x0010) { // continuation: queue its block
          val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          blocks = blocks :+ ((cb.getLong(), cb.getLong()))
        } else if (typ != 0x0000) msgs += ((typ, body))
      }
    }
    require(read == nMsgs,
      s"object header at $addr: read $read of $nMsgs messages")
    msgs.toSeq
  }

  /** Decode one dataset's object header into H5Var (None for groups or
    * datasets outside the subset we accept — none occur in the files
    * this reader targets).
    */
  private def parseDataset(r: Reader, name: String, addr: Long): Option[H5Var] = {
    val msgs = readObjectHeader(r, addr)
    val byType = msgs.groupBy(_._1)
    if (!byType.contains(0x0008)) return None // no layout => not a dataset
    // dataspace
    val ds = ByteBuffer.wrap(byType(0x0001).head._2).order(ByteOrder.LITTLE_ENDIAN)
    val dsVer = ds.get() & 0xFF
    val rank = ds.get() & 0xFF
    val dsFlags = ds.get() & 0xFF
    if (dsVer == 1) { ds.get(); ds.getInt() } // reserved x5
    else ds.get() // v2: type byte
    require(rank <= 2, s"dataset $name: rank $rank > 2")
    val dims = Array.fill(rank)(ds.getLong().toInt)
    if ((dsFlags & 1) != 0) (0 until rank).foreach(_ => ds.getLong()) // maxdims
    // datatype
    val (ncType, signed, little) = parseDatatype(byType(0x0003).head._2, name)
    // layout v3
    val lb = ByteBuffer.wrap(byType(0x0008).head._2).order(ByteOrder.LITTLE_ENDIAN)
    val lv = lb.get() & 0xFF
    // v4 compact/contiguous bodies are identical to v3; v4 CHUNKED uses
    // the new chunk indexes (fixed/extensible array, v2 B-tree) and is
    // rejected by name below
    require(lv == 3 || lv == 4, s"dataset $name: layout version $lv")
    val lclass = lb.get() & 0xFF
    if (lv == 4 && lclass == 3)
      throw new IllegalArgumentException(
        s"dataset $name: virtual dataset layout unsupported")
    var contiguous: Option[(Long, Long)] = None
    var compact: Option[Array[Byte]] = None
    var chunkDims: Array[Int] = Array.emptyIntArray
    var chunks: Seq[ChunkRef] = Nil
    val eltSize = Netcdf.typeSize(ncType)
    lclass match {
      case 0 =>
        val sz = lb.getShort() & 0xFFFF
        val a = new Array[Byte](sz); lb.get(a); compact = Some(a)
      case 1 =>
        contiguous = Some((lb.getLong(), lb.getLong()))
      case 2 if lv == 4 =>
        // v4 chunked (libver-latest writers): flags, variable-width chunk
        // dims, and one of the new chunk indexes. The fixed-array index
        // (the shape h5py/netCDF4 emit for fixed-extent chunked data) is
        // walked below; the grow-able indexes stay named rejections.
        val flags = lb.get() & 0xFF
        val ndims = lb.get() & 0xFF
        val encLen = lb.get() & 0xFF
        require(encLen >= 1 && encLen <= 8,
          s"dataset $name: v4 chunk dim encoding length $encLen")
        def varUint(): Long = {
          var v = 0L; var k = 0
          while (k < encLen) { v |= (lb.get() & 0xFFL) << (8 * k); k += 1 }
          v
        }
        val dims4 = Array.fill(ndims)(varUint())
        // tolerate both published conventions: rank dims (chunk extents
        // only) or rank+1 with the v3-style trailing element-size dim —
        // when present the trailer must equal the datatype size
        require(ndims == rank || ndims == rank + 1,
          s"dataset $name: v4 chunk dimensionality $ndims vs rank $rank")
        if (ndims == rank + 1)
          require(dims4.last == eltSize,
            s"dataset $name: v4 trailing chunk dim ${dims4.last} != " +
              s"element size $eltSize")
        chunkDims = dims4.take(rank).map(_.toInt)
        val idxType = lb.get() & 0xFF
        idxType match {
          case 1 =>
            // single-chunk index (dataset extent == one chunk, the other
            // common libver-latest shape): the "index" is the chunk
            // address itself; flag bit 1 adds the filtered size + mask
            val filteredSingle = (flags & 2) != 0
            val (csize, _) =
              if (filteredSingle) (lb.getLong(), lb.getInt())
              else (chunkDims.map(_.toLong).product * eltSize, 0)
            val caddr = lb.getLong()
            require(filteredSingle == byType.contains(0x000B),
              s"dataset $name: single-chunk filtered flag " +
                s"$filteredSingle vs filter pipeline")
            require(dims.zip(chunkDims).forall { case (d, c) => c >= d },
              s"dataset $name: single-chunk index but chunk " +
                s"${chunkDims.mkString("x")} < extent ${dims.mkString("x")}")
            if (caddr != -1L)
              chunks = Seq(ChunkRef(Array.fill(dims.length)(0), caddr,
                csize.toInt))
          case 3 =>
            val pageBits = lb.get() & 0xFF
            val faAddr = lb.getLong()
            if (faAddr != -1L)
              chunks = walkFixedArray(r, name, faAddr, pageBits,
                dims, chunkDims, eltSize,
                filtered = byType.contains(0x000B))
          case 2 =>
            // implicit index (early-allocated, non-filtered datasets):
            // chunks sit contiguously from the base address in row-major
            // chunk-grid order — pure address arithmetic, no structure
            require(!byType.contains(0x000B),
              s"dataset $name: implicit chunk index cannot carry a " +
                "filter pipeline (the library never writes that shape)")
            val base = lb.getLong()
            if (base != -1L) {
              val nPerDim = dims.zip(chunkDims).map { case (d, c) =>
                require(c >= 1, s"dataset $name: zero chunk extent")
                (d + c - 1) / c
              }
              val chunkBytes = chunkDims.map(_.toLong).product * eltSize
              val nelmts = nPerDim.map(_.toLong).product
              val refs = ArrayBuffer.empty[ChunkRef]
              var k = 0L
              while (k < nelmts) {
                val start = new Array[Int](dims.length)
                var rem = k
                var di = dims.length - 1
                while (di >= 0) {
                  start(di) = (rem % nPerDim(di)).toInt * chunkDims(di)
                  rem /= nPerDim(di)
                  di -= 1
                }
                refs += ChunkRef(start, base + k * chunkBytes,
                  chunkBytes.toInt)
                k += 1
              }
              chunks = refs.toSeq
            }
          case 4 | 5 =>
            val idxName = Map(
              4 -> "extensible-array", 5 -> "version-2 B-tree")(idxType)
            throw new IllegalArgumentException(
              s"dataset $name: v4 chunk index '$idxName' unsupported " +
                "(single-chunk, implicit and fixed-array are the " +
                "supported modern indexes; re-export with libver " +
                "earliest for the v1 B-tree)")
          case other => throw new IllegalArgumentException(
            s"dataset $name: unknown v4 chunk index type $other")
        }
        val _ = flags // bound-chunk filtering flags don't change the walk
      case 2 =>
        val ndim = lb.get() & 0xFF // rank + 1 per spec
        val btAddr = lb.getLong()
        chunkDims = Array.fill(ndim - 1)(lb.getInt())
        lb.getInt() // element size dim
        if (btAddr != -1L) chunks = walkChunkTree(r, btAddr, ndim)
      case c => throw new IllegalArgumentException(s"layout class $c")
    }
    // filters
    var gzip = false; var shuffle = false
    byType.get(0x000B).foreach { fp =>
      val fb = ByteBuffer.wrap(fp.head._2).order(ByteOrder.LITTLE_ENDIAN)
      val fv = fb.get() & 0xFF
      val nf = fb.get() & 0xFF
      if (fv == 1) { fb.getShort(); fb.getInt() } // reserved
      (0 until nf).foreach { _ =>
        val id = fb.getShort() & 0xFFFF
        val nameLen =
          if (fv == 1 || id >= 256) fb.getShort() & 0xFFFF else 0
        fb.getShort() // flags
        val ncd = fb.getShort() & 0xFFFF
        if (nameLen > 0) {
          val pad = if (fv == 1) ((nameLen + 7) / 8) * 8 else nameLen
          fb.position(fb.position() + pad)
        }
        (0 until ncd).foreach(_ => fb.getInt())
        if (fv == 1 && ncd % 2 == 1) fb.getInt() // pad to 8
        id match {
          case 1 => gzip = true
          case 2 => shuffle = true
          case other => throw new IllegalArgumentException(
            s"dataset $name: filter $other unsupported (gzip/shuffle only; " +
              "szip/zstd need codecs this container lacks)")
        }
      }
    }
    // the three numeric attributes we honor
    var scale = 1.0; var offset = 0.0; var fill: Option[Double] = None
    byType.getOrElse(0x000C, Nil).foreach { case (_, body) =>
      parseAttribute(body).foreach {
        case ("scale_factor", v) => scale = v
        case ("add_offset", v) => offset = v
        case ("_FillValue", v) => fill = Some(v)
        case _ =>
      }
    }
    Some(H5Var(name, dims, ncType, signed, little, contiguous, compact,
      chunkDims, chunks, gzip, shuffle, scale, offset, fill))
  }

  /** (ncType, signed, littleEndian) for fixed-point/float datatypes. */
  private def parseDatatype(body: Array[Byte], name: String): (Int, Boolean, Boolean) = {
    val tb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val cv = tb.get() & 0xFF
    val cls = cv & 0x0F
    val b0 = tb.get() & 0xFF; tb.get(); tb.get()
    val size = tb.getInt()
    val little = (b0 & 1) == 0
    cls match {
      case 0 => // fixed-point; bit 3 of bitfield 0 = signed
        val signed = (b0 & 0x08) != 0
        val t = size match {
          case 1 => Netcdf.NcByte
          case 2 => Netcdf.NcShort
          case 4 => Netcdf.NcInt
          case s => throw new IllegalArgumentException(
            s"dataset $name: ${s}B integers unsupported")
        }
        (t, signed, little)
      case 1 =>
        val t = size match {
          case 4 => Netcdf.NcFloat
          case 8 => Netcdf.NcDouble
          case s => throw new IllegalArgumentException(
            s"dataset $name: ${s}B floats unsupported")
        }
        (t, true, little)
      case c => throw new IllegalArgumentException(
        s"dataset $name: datatype class $c unsupported (numeric grids only)")
    }
  }

  /** Attribute message v1/2/3 → (name, first numeric value), or None for
    * non-numeric (reference/vlen system attributes).
    */
  private def parseAttribute(body: Array[Byte]): Option[(String, Double)] = {
    val ab = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = ab.get() & 0xFF
    require(ver >= 1 && ver <= 3, s"attribute version $ver")
    ab.get() // reserved (v1) / flags (v2+)
    val nameSize = ab.getShort() & 0xFFFF
    val dtSize = ab.getShort() & 0xFFFF
    val dsSize = ab.getShort() & 0xFFFF
    if (ver == 3) ab.get() // name encoding
    def pad8(n: Int): Int = if (ver == 1) ((n + 7) / 8) * 8 else n
    val nameBytes = new Array[Byte](pad8(nameSize)); ab.get(nameBytes)
    var end = nameSize
    while (end > 0 && nameBytes(end - 1) == 0) end -= 1
    val name = new String(nameBytes, 0, end, StandardCharsets.UTF_8)
    val dtBytes = new Array[Byte](pad8(dtSize)); ab.get(dtBytes)
    val dsBytes = new Array[Byte](pad8(dsSize)); ab.get(dsBytes)
    val cls = dtBytes(0) & 0x0F
    if (cls != 0 && cls != 1) return None // skip references/strings/vlen
    val (nc, signed, little) =
      try parseDatatype(dtBytes, name) catch { case _: Exception => return None }
    if (ab.remaining() < Netcdf.typeSize(nc)) return None
    val vb = ab.slice().order(
      if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    require(dsBytes.nonEmpty)
    val v = nc match {
      case Netcdf.NcByte =>
        val x = vb.get().toInt; (if (signed) x else x & 0xFF).toDouble
      case Netcdf.NcShort =>
        val x = vb.getShort().toInt; (if (signed) x else x & 0xFFFF).toDouble
      case Netcdf.NcInt =>
        val x = vb.getInt(); if (signed) x.toDouble else (x.toLong & 0xFFFFFFFFL).toDouble
      case Netcdf.NcFloat => vb.getFloat().toDouble
      case Netcdf.NcDouble => vb.getDouble()
    }
    Some((name, v))
  }

  /** Walk a v1 chunk B-tree (node type 1) to its leaf entries. */
  private def walkChunkTree(r: Reader, addr: Long, ndim: Int): Seq[ChunkRef] = {
    // a v0 superblock cannot carry a custom istore_k (H5Pset_istore_k
    // bumps it to v1), so the chunk B-tree fan-out is the default 32:
    // 24B header + 65 keys of (8 + 8*(ndim+1)) + 64 children of 8B
    val nb = r.bb(addr, 24L + 65L * (8L + 8L * (ndim + 1)) + 64L * 8L + 8)
    val sig = new Array[Byte](4); nb.get(sig)
    require(new String(sig, StandardCharsets.US_ASCII) == "TREE", "bad chunk btree")
    val typ = nb.get() & 0xFF; val level = nb.get() & 0xFF
    require(typ == 1, s"chunk btree type $typ")
    val used = nb.getShort() & 0xFFFF
    nb.getLong(); nb.getLong() // siblings
    val out = ArrayBuffer.empty[ChunkRef]
    (0 until used).foreach { _ =>
      // key: chunk size (4), filter mask (4), ndim offsets (8 each)
      val csize = nb.getInt()
      nb.getInt() // filter mask
      val start = Array.fill(ndim - 1)(nb.getLong().toInt)
      nb.getLong() // trailing elem-size dimension offset
      val child = nb.getLong()
      if (level == 0) out += ChunkRef(start, child, csize)
      else out ++= walkChunkTree(r, child, ndim)
    }
    out.toSeq
  }

  /** Fixed-array chunk index (layout v4 index type 3 — the
    * libver-latest shape for fixed-extent chunked datasets): a FAHD
    * header pointing at one FADB data block whose elements are the
    * chunk records in row-major chunk-grid order. Client 0 elements are
    * a bare chunk address; client 1 (filtered) adds the stored chunk
    * size and filter mask. Both blocks carry lookup3 checksums,
    * verified here like every other v2+ structure. Paged data blocks
    * (more entries than 2^pageBits) are rejected by name — the products
    * this subset targets keep chunk counts far below a page.
    */
  private def walkFixedArray(r: Reader, name: String, addr: Long,
      pageBits: Int, dims: Array[Int], chunkDims: Array[Int],
      eltSize: Int, filtered: Boolean): Seq[ChunkRef] = {
    val nChunksPerDim = dims.zip(chunkDims).map { case (d, c) =>
      require(c >= 1, s"dataset $name: zero chunk extent")
      (d + c - 1) / c
    }
    val nelmts = nChunksPerDim.map(_.toLong).product
    // FAHD: sig(4) ver(1) client(1) entrySize(1) pageBits(1)
    //       maxNumEntries(8) dataBlockAddr(8) checksum(4)
    val hdr = r.readRange(addr, 28)
    require(new String(hdr, 0, 4, StandardCharsets.US_ASCII) == "FAHD",
      s"dataset $name: bad fixed-array header signature at $addr")
    require(Lookup3.hash(java.util.Arrays.copyOf(hdr, 24))
      == ByteBuffer.wrap(hdr, 24, 4).order(ByteOrder.LITTLE_ENDIAN).getInt,
      s"dataset $name: fixed-array header checksum mismatch (corrupt)")
    val hb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
    hb.position(4)
    require((hb.get() & 0xFF) == 0, s"dataset $name: fixed-array version")
    val clientId = hb.get() & 0xFF
    require(clientId == (if (filtered) 1 else 0),
      s"dataset $name: fixed-array client $clientId vs filter pipeline " +
        s"${if (filtered) "present" else "absent"}")
    val entrySize = hb.get() & 0xFF
    val hdrPageBits = hb.get() & 0xFF
    require(hdrPageBits == pageBits,
      s"dataset $name: fixed-array page bits $hdrPageBits != layout $pageBits")
    val maxEntries = hb.getLong()
    require(maxEntries == nelmts,
      s"dataset $name: fixed-array holds $maxEntries entries, chunk grid " +
        s"needs $nelmts")
    require(maxEntries <= (1L << pageBits),
      s"dataset $name: paged fixed-array data block ($maxEntries entries " +
        s"> 2^$pageBits page) unsupported")
    if (filtered)
      require(entrySize > 12 && entrySize <= 20,
        s"dataset $name: filtered fixed-array entry size $entrySize")
    else require(entrySize == 8,
      s"dataset $name: unfiltered fixed-array entry size $entrySize")
    val dbAddr = hb.getLong()
    // FADB: sig(4) ver(1) client(1) headerAddr(8) elements checksum(4)
    val dbLen = 14 + maxEntries.toInt * entrySize + 4
    val db = r.readRange(dbAddr, dbLen)
    require(new String(db, 0, 4, StandardCharsets.US_ASCII) == "FADB",
      s"dataset $name: bad fixed-array data block signature at $dbAddr")
    require(Lookup3.hash(java.util.Arrays.copyOf(db, dbLen - 4))
      == ByteBuffer.wrap(db, dbLen - 4, 4).order(ByteOrder.LITTLE_ENDIAN).getInt,
      s"dataset $name: fixed-array data block checksum mismatch (corrupt)")
    val bb = ByteBuffer.wrap(db).order(ByteOrder.LITTLE_ENDIAN)
    bb.position(4)
    require((bb.get() & 0xFF) == 0, s"dataset $name: data block version")
    require((bb.get() & 0xFF) == clientId, s"dataset $name: client mismatch")
    require(bb.getLong() == addr,
      s"dataset $name: data block back-pointer != header address")
    val plainChunkBytes = chunkDims.map(_.toLong).product * eltSize
    val szLen = entrySize - 12 // filtered: addr(8) + size(szLen) + mask(4)
    val out = ArrayBuffer.empty[ChunkRef]
    var k = 0L
    while (k < maxEntries) {
      val caddr = bb.getLong()
      val (csize, _) =
        if (filtered) {
          var sz = 0L; var i = 0
          while (i < szLen) { sz |= (bb.get() & 0xFFL) << (8 * i); i += 1 }
          (sz, bb.getInt()) // filter mask
        } else (plainChunkBytes, 0)
      if (caddr != -1L) {
        // linear index k -> chunk-grid coords, row-major (last fastest)
        val start = new Array[Int](dims.length)
        var rem = k
        var d = dims.length - 1
        while (d >= 0) {
          start(d) = (rem % nChunksPerDim(d)).toInt * chunkDims(d)
          rem /= nChunksPerDim(d)
          d -= 1
        }
        out += ChunkRef(start, caddr, csize.toInt)
      }
      k += 1
    }
    out.toSeq
  }

  /** Decode one variable fully: chunk walk + inflate + unshuffle +
    * edge-clip into a row-major cell array of raw (packed) values.
    */
  def readVarData(path: String, v: H5Var): Array[Double] = {
    val file = new RangeFile(path)
    try {
      val order = if (v.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
      def cellAt(b: ByteBuffer, idx: Int): Double = v.ncType match {
        case Netcdf.NcByte =>
          val x = b.get(idx).toInt; (if (v.signed) x else x & 0xFF).toDouble
        case Netcdf.NcShort =>
          val x = b.getShort(idx * 2).toInt; (if (v.signed) x else x & 0xFFFF).toDouble
        case Netcdf.NcInt =>
          val x = b.getInt(idx * 4)
          if (v.signed) x.toDouble else (x.toLong & 0xFFFFFFFFL).toDouble
        case Netcdf.NcFloat => b.getFloat(idx * 4).toDouble
        case Netcdf.NcDouble => b.getDouble(idx * 8)
      }
      val out = new Array[Double](v.nCells)
      (v.compact, v.contiguous) match {
        case (Some(data), _) =>
          val b = ByteBuffer.wrap(data).order(order)
          (0 until v.nCells).foreach(i => out(i) = cellAt(b, i))
        case (_, Some((addr, size))) =>
          val b = ByteBuffer.wrap(file.read(addr, size)).order(order)
          (0 until v.nCells).foreach(i => out(i) = cellAt(b, i))
        case _ =>
          val (d0, d1) =
            (v.dims.headOption.getOrElse(1),
              if (v.dims.length >= 2) v.dims(1) else 1)
          val (c0, c1) =
            (v.chunkDims.headOption.getOrElse(1),
              if (v.chunkDims.length >= 2) v.chunkDims(1) else 1)
          val rawChunk = c0 * c1 * v.elemSize
          v.chunks.foreach { ch =>
            var data = file.read(ch.addr, ch.size)
            if (v.gzip) data = GeoTiff.zlibInflate(data, rawChunk)
            if (v.shuffle) data = unshuffle(data, v.elemSize)
            require(data.length == rawChunk,
              s"${v.name}: chunk decodes to ${data.length}, want $rawChunk")
            val b = ByteBuffer.wrap(data).order(order)
            val s0 = ch.start.headOption.getOrElse(0)
            val s1 = if (ch.start.length >= 2) ch.start(1) else 0
            var i = 0
            while (i < c0) {
              var j = 0
              while (j < c1) {
                val gi = s0 + i; val gj = s1 + j
                if (gi < d0 && gj < d1)
                  out(gi * d1 + gj) = cellAt(b, i * c1 + j)
                j += 1
              }
              i += 1
            }
          }
      }
      out
    } finally file.close()
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** HDF5 shuffle filter: byte-transpose by element size (encode). */
  def shuffleBytes(raw: Array[Byte], elemSize: Int): Array[Byte] = {
    val n = raw.length / elemSize
    val out = new Array[Byte](raw.length)
    var i = 0
    while (i < n) {
      var b = 0
      while (b < elemSize) { out(b * n + i) = raw(i * elemSize + b); b += 1 }
      i += 1
    }
    out
  }

  /** Inverse of [[shuffleBytes]]. */
  def unshuffle(sh: Array[Byte], elemSize: Int): Array[Byte] = {
    val n = sh.length / elemSize
    val out = new Array[Byte](sh.length)
    var i = 0
    while (i < n) {
      var b = 0
      while (b < elemSize) { out(i * elemSize + b) = sh(b * n + i); b += 1 }
      i += 1
    }
    out
  }

  // ---- fixture writer ------------------------------------------------

  /** One dataset for [[write]]: `data` carries PACKED values row-major.
    * chunkDims non-empty selects chunked layout (with optional
    * gzip/shuffle); empty means contiguous.
    */
  final case class H5WVar(name: String, ncType: Int, dims: Seq[Int],
      data: Array[Double], chunkDims: Seq[Int] = Nil,
      gzip: Boolean = false, shuffle: Boolean = false,
      scale: Option[Double] = None, offset: Option[Double] = None,
      fill: Option[Double] = None, littleEndian: Boolean = true,
      compactLayout: Boolean = false,
      fixedArrayIndex: Boolean = false, // v4 layout + fixed-array chunk index
      singleChunkIndex: Boolean = false, // v4 layout + single-chunk index
      implicitIndex: Boolean = false) // v4 layout + implicit (contiguous) index

  /** `modern = true` emits the libver-latest shape a current h5py/HDF5
    * writer produces — superblock v3 + v2 (OHDR) object headers + a
    * new-style root group with compact link messages, all lookup3
    * checksummed — so Hdf5ModernSpec exercises the modern read path on a
    * structurally faithful fixture. `denseLinkStub = true` (test-only)
    * writes a DEFINED fractal-heap address into the link-info message so
    * the dense-link named rejection actually fires under test.
    */
  def write(path: String, vars: Seq[H5WVar], modern: Boolean = false,
      denseLinkStub: Boolean = false, denseLinks: Boolean = false): Unit = {
    val out = ByteBuffer.allocate(1 << 24).order(ByteOrder.LITTLE_ENDIAN)
    def align8(): Unit = while (out.position() % 8 != 0) out.put(0.toByte)

    def packCells(v: H5WVar, cells: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(cells.length * Netcdf.typeSize(v.ncType))
        .order(if (v.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      cells.foreach { d =>
        v.ncType match {
          case Netcdf.NcByte => b.put(d.toByte)
          case Netcdf.NcShort => b.putShort(d.toShort)
          case Netcdf.NcInt => b.putInt(d.toInt)
          case Netcdf.NcFloat => b.putFloat(d.toFloat)
          case Netcdf.NcDouble => b.putDouble(d)
        }
      }
      b.array()
    }

    // ---- datatype/dataspace encodings (shared by datasets and attrs)
    def dtBytes(ncType: Int, littleEndian: Boolean): Array[Byte] = {
      val size = Netcdf.typeSize(ncType)
      val b = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      val (cls, b0) = ncType match {
        case Netcdf.NcFloat | Netcdf.NcDouble =>
          (1, (if (littleEndian) 0 else 1) | 0x20) // IEEE, signed mantissa norm
        case _ => (0, (if (littleEndian) 0 else 1) | 0x08) // fixed, signed
      }
      b.put(((1 << 4) | cls).toByte).put(b0.toByte).put(0.toByte).put(0.toByte)
      b.putInt(size)
      if (cls == 0) { b.putShort(0); b.putShort((size * 8).toShort) }
      else {
        // float properties: bit offset/precision + IEEE field layout
        b.putShort(0); b.putShort((size * 8).toShort)
        // (exponent location etc. are unread by this parser; the 12-byte
        // header above is what parseDatatype consumes)
      }
      b.array()
    }
    def dsBytes(dims: Seq[Int]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + dims.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).put(dims.length.toByte).put(0.toByte).put(0.toByte)
      b.putInt(0)
      dims.foreach(d => b.putLong(d.toLong))
      b.array()
    }
    def attrBytes(name: String, ncType: Int, value: Double): Array[Byte] = {
      def p8(n: Int) = ((n + 7) / 8) * 8
      val nameB = name.getBytes(StandardCharsets.UTF_8) :+ 0.toByte
      val dt = dtBytes(ncType, littleEndian = true)
      val ds = dsBytes(Nil)
      val b = ByteBuffer.allocate(8 + p8(nameB.length) + p8(dt.length)
        + p8(ds.length) + Netcdf.typeSize(ncType)).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).put(0.toByte)
      b.putShort(nameB.length.toShort)
      b.putShort(dt.length.toShort)
      b.putShort(ds.length.toShort)
      b.put(nameB); (nameB.length until p8(nameB.length)).foreach(_ => b.put(0.toByte))
      b.put(dt); (dt.length until p8(dt.length)).foreach(_ => b.put(0.toByte))
      b.put(ds); (ds.length until p8(ds.length)).foreach(_ => b.put(0.toByte))
      b.put(packCells(H5WVar(name, ncType, Nil, Array(value)), Seq(value)))
      b.array()
    }

    // ---- chunk data + per-variable raw payloads (written first so the
    // object headers can reference real addresses)
    final case class Placed(v: H5WVar, contAddr: Long, contSize: Long,
        chunkRefs: Seq[(Array[Int], Long, Int)])
    // superblock (96 bytes for v0 with 8/8 sizes) written LAST into a
    // reserved prefix
    val SuperblockLen = 96
    out.position(SuperblockLen)
    val placed = vars.map { v =>
      val n = if (v.dims.isEmpty) 1 else v.dims.product
      require(v.data.length == n)
      if (v.compactLayout) Placed(v, -1L, 0L, Nil) // data lives in the header
      else if (v.chunkDims.isEmpty) {
        align8()
        val addr = out.position().toLong
        val raw = packCells(v, v.data.toSeq)
        out.put(raw)
        Placed(v, addr, raw.length.toLong, Nil)
      } else {
        val d0 = v.dims.headOption.getOrElse(1)
        val d1 = if (v.dims.length >= 2) v.dims(1) else 1
        val c0 = v.chunkDims.head
        val c1 = if (v.chunkDims.length >= 2) v.chunkDims(1) else 1
        val refs = ArrayBuffer.empty[(Array[Int], Long, Int)]
        var s0 = 0
        while (s0 < d0) {
          var s1 = 0
          while (s1 < d1) {
            val cells = (0 until c0).flatMap { i =>
              (0 until c1).map { j =>
                val gi = s0 + i; val gj = s1 + j
                if (gi < d0 && gj < d1) v.data(gi * d1 + gj) else 0.0
              }
            }
            var raw = packCells(v, cells)
            if (v.shuffle) raw = shuffleBytes(raw, Netcdf.typeSize(v.ncType))
            if (v.gzip) raw = deflate(raw)
            // implicit index: chunks must sit contiguously (address
            // arithmetic IS the index) — only the block start aligns
            if (!v.implicitIndex || refs.isEmpty) align8()
            refs += ((Array(s0, s1).take(v.dims.length), out.position().toLong, raw.length))
            out.put(raw)
            s1 += c1
          }
          s0 += c0
        }
        Placed(v, -1L, 0L, refs.toSeq)
      }
    }

    // ---- fixed-array chunk indexes (layout v4): FAHD + one unpaged FADB
    // whose elements are the chunk records in row-major grid order —
    // chunk address alone (client 0), or address + stored size + filter
    // mask (client 1) when a filter pipeline applies. Both checksummed.
    val fixedArrayAddr: Map[String, Long] = placed.collect {
      case p if p.chunkRefs.nonEmpty && p.v.fixedArrayIndex =>
        align8()
        val filtered = p.v.gzip || p.v.shuffle
        val entrySize = if (filtered) 16 else 8 // size field = 4 bytes
        val nelmts = p.chunkRefs.size
        require(nelmts <= 1024, s"${p.v.name}: fixed-array page overflow")
        val addrH = out.position().toLong
        val dbAddr = addrH + 28
        val hb = ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
        hb.put("FAHD".getBytes(StandardCharsets.US_ASCII))
        hb.put(0.toByte).put((if (filtered) 1 else 0).toByte)
        hb.put(entrySize.toByte).put(10.toByte) // page bits: 2^10 entries
        hb.putLong(nelmts.toLong).putLong(dbAddr)
        hb.putInt(Lookup3.hash(java.util.Arrays.copyOf(hb.array(), 24)))
        out.put(hb.array())
        val dbLen = 14 + nelmts * entrySize + 4
        val db = ByteBuffer.allocate(dbLen).order(ByteOrder.LITTLE_ENDIAN)
        db.put("FADB".getBytes(StandardCharsets.US_ASCII))
        db.put(0.toByte).put((if (filtered) 1 else 0).toByte)
        db.putLong(addrH)
        p.chunkRefs.foreach { case (_, caddr, size) =>
          db.putLong(caddr)
          if (filtered) { db.putInt(size); db.putInt(0) } // size, mask
        }
        db.putInt(Lookup3.hash(java.util.Arrays.copyOf(db.array(), dbLen - 4)))
        out.put(db.array())
        p.v.name -> addrH
    }.toMap

    // ---- chunk B-trees (one level-0 node per chunked variable)
    val chunkTreeAddr: Map[String, Long] = placed.collect {
      case p if p.chunkRefs.nonEmpty && !p.v.fixedArrayIndex =>
        align8()
        val addr = out.position().toLong
        val ndim = p.v.dims.length + 1
        out.put("TREE".getBytes(StandardCharsets.US_ASCII))
        out.put(1.toByte).put(0.toByte) // type 1, level 0
        out.putShort(p.chunkRefs.size.toShort)
        out.putLong(-1L); out.putLong(-1L) // siblings
        p.chunkRefs.foreach { case (start, addr2, size) =>
          out.putInt(size); out.putInt(0)
          start.foreach(s => out.putLong(s.toLong))
          (start.length until ndim - 1).foreach(_ => out.putLong(0L))
          out.putLong(0L) // elem-size dim
          out.putLong(addr2)
        }
        // trailing key after the last child
        out.putInt(0); out.putInt(0)
        (0 until ndim).foreach(_ => out.putLong(0L))
        p.v.name -> addr
    }.toMap

    // ---- object headers (v1) per dataset
    def message(typ: Int, body: Array[Byte]): Array[Byte] = {
      val padded = ((body.length + 7) / 8) * 8
      val b = ByteBuffer.allocate(8 + padded).order(ByteOrder.LITTLE_ENDIAN)
      b.putShort(typ.toShort).putShort(padded.toShort)
      b.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      b.put(body)
      b.array() // zero pad implicit
    }
    def objectHeader(msgs: Seq[Array[Byte]]): Long = {
      align8()
      val addr = out.position().toLong
      val total = msgs.map(_.length).sum
      out.put(1.toByte).put(0.toByte)
      out.putShort(msgs.size.toShort)
      out.putInt(1) // ref count
      out.putInt(total)
      out.putInt(0) // alignment gap
      msgs.foreach(out.put)
      addr
    }
    /** v2 (OHDR) object header: 1-byte message types, 2-byte chunk-0
      * size (flags = 0x01), lookup3 checksum over the whole chunk.
      */
    def objectHeaderV2(msgs: Seq[(Int, Array[Byte])]): Long = {
      align8()
      val addr = out.position().toLong
      val msgBytes = msgs.map { case (t, body) =>
        val padded = ((body.length + 7) / 8) * 8
        val b = ByteBuffer.allocate(4 + padded).order(ByteOrder.LITTLE_ENDIAN)
        b.put(t.toByte).putShort(padded.toShort).put(0.toByte).put(body)
        b.array()
      }
      val total = msgBytes.map(_.length).sum
      val b = ByteBuffer.allocate(8 + total + 4).order(ByteOrder.LITTLE_ENDIAN)
      b.put("OHDR".getBytes(StandardCharsets.US_ASCII))
      b.put(2.toByte).put(1.toByte) // version 2, flags: 2-byte chunk0 size
      b.putShort(total.toShort)
      msgBytes.foreach(b.put)
      val pre = java.util.Arrays.copyOf(b.array(), b.position())
      b.putInt(Lookup3.hash(pre))
      out.put(b.array(), 0, 8 + total + 4)
      addr
    }
    val varHdrs: Seq[(String, Long)] = placed.map { p =>
      val v = p.v
      val layoutBody: Array[Byte] =
        if (v.compactLayout) {
          val raw = packCells(v, v.data.toSeq)
          val b = ByteBuffer.allocate(4 + raw.length).order(ByteOrder.LITTLE_ENDIAN)
          b.put(3.toByte).put(0.toByte)
          b.putShort(raw.length.toShort)
          b.put(raw)
          b.array()
        } else if (p.chunkRefs.nonEmpty && v.singleChunkIndex) {
          // layout v4 chunked + single-chunk index: the chunk address is
          // the index; filtered datasets flag bit 1 and carry size+mask
          require(p.chunkRefs.size == 1,
            s"${v.name}: single-chunk index needs chunkDims >= dims")
          val filtered = v.gzip || v.shuffle
          val rank = v.dims.length
          val b = ByteBuffer.allocate(5 + 4 * (rank + 1) + 1 +
              (if (filtered) 12 else 0) + 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          b.put(4.toByte).put(2.toByte)
          b.put((if (filtered) 2 else 0).toByte) // flags
          b.put((rank + 1).toByte)
          b.put(4.toByte)
          val c0 = v.chunkDims.head
          val c1 = if (v.chunkDims.length >= 2) v.chunkDims(1) else 1
          (if (rank >= 2) Seq(c0, c1) else Seq(c0)).foreach(b.putInt)
          b.putInt(Netcdf.typeSize(v.ncType))
          b.put(1.toByte) // single-chunk index
          val (_, caddr, csize) = p.chunkRefs.head
          if (filtered) { b.putLong(csize.toLong); b.putInt(0) }
          b.putLong(caddr)
          b.array()
        } else if (p.chunkRefs.nonEmpty && v.implicitIndex) {
          // layout v4 chunked + implicit index: base address only
          require(!v.gzip && !v.shuffle,
            s"${v.name}: implicit index is unfiltered by definition")
          val rank = v.dims.length
          val b = ByteBuffer.allocate(5 + 4 * (rank + 1) + 1 + 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          b.put(4.toByte).put(2.toByte)
          b.put(0.toByte)
          b.put((rank + 1).toByte)
          b.put(4.toByte)
          val c0 = v.chunkDims.head
          val c1 = if (v.chunkDims.length >= 2) v.chunkDims(1) else 1
          (if (rank >= 2) Seq(c0, c1) else Seq(c0)).foreach(b.putInt)
          b.putInt(Netcdf.typeSize(v.ncType))
          b.put(2.toByte) // implicit index
          b.putLong(p.chunkRefs.head._2)
          b.array()
        } else if (p.chunkRefs.nonEmpty && v.fixedArrayIndex) {
          // layout v4 chunked + fixed-array index (the libver-latest
          // form): flags, rank+1 chunk dims (4-byte encoding, trailing
          // element size), index type 3 with page bits, index address
          val rank = v.dims.length
          val b = ByteBuffer.allocate(5 + 4 * (rank + 1) + 2 + 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          b.put(4.toByte).put(2.toByte) // version 4, chunked
          b.put(0.toByte) // flags
          b.put((rank + 1).toByte)
          b.put(4.toByte) // dim size encoded length
          val c0 = v.chunkDims.head
          val c1 = if (v.chunkDims.length >= 2) v.chunkDims(1) else 1
          (if (rank >= 2) Seq(c0, c1) else Seq(c0)).foreach(b.putInt)
          b.putInt(Netcdf.typeSize(v.ncType))
          b.put(3.toByte).put(10.toByte) // fixed array, page bits
          b.putLong(fixedArrayAddr(v.name))
          b.array()
        } else if (p.chunkRefs.nonEmpty) {
          val ndim = v.dims.length + 1
          val b = ByteBuffer.allocate(2 + 1 + 8 + 4 * ndim)
            .order(ByteOrder.LITTLE_ENDIAN)
          b.put(3.toByte).put(2.toByte).put(ndim.toByte)
          b.putLong(chunkTreeAddr(v.name))
          val c0 = v.chunkDims.head
          val c1 = if (v.chunkDims.length >= 2) v.chunkDims(1) else 1
          (if (v.dims.length >= 2) Seq(c0, c1) else Seq(c0))
            .foreach(b.putInt)
          b.putInt(Netcdf.typeSize(v.ncType))
          b.array()
        } else {
          val b = ByteBuffer.allocate(2 + 16).order(ByteOrder.LITTLE_ENDIAN)
          b.put(3.toByte).put(1.toByte)
          b.putLong(p.contAddr); b.putLong(p.contSize)
          b.array()
        }
      val filterMsg: Seq[(Int, Array[Byte])] =
        if (v.gzip || v.shuffle) {
          val fb = ByteBuffer.allocate(8 + 2 * 16).order(ByteOrder.LITTLE_ENDIAN)
          val nf = (if (v.shuffle) 1 else 0) + (if (v.gzip) 1 else 0)
          fb.put(1.toByte).put(nf.toByte).putShort(0).putInt(0)
          // write order = application order: shuffle then gzip
          if (v.shuffle) {
            fb.putShort(2).putShort(0).putShort(1).putShort(1)
            fb.putInt(Netcdf.typeSize(v.ncType)); fb.putInt(0) // pad odd cd
          }
          if (v.gzip) {
            fb.putShort(1).putShort(0).putShort(1).putShort(1)
            fb.putInt(6); fb.putInt(0)
          }
          Seq((0x000B,
            java.util.Arrays.copyOf(fb.array(), fb.position())))
        } else Nil
      val attrs: Seq[(Int, Array[Byte])] =
        v.scale.map(s => (0x000C, attrBytes("scale_factor", Netcdf.NcDouble, s))).toSeq ++
        v.offset.map(o => (0x000C, attrBytes("add_offset", Netcdf.NcDouble, o))).toSeq ++
        v.fill.map(f => (0x000C, attrBytes("_FillValue", v.ncType, f))).toSeq
      val rawMsgs: Seq[(Int, Array[Byte])] = Seq(
        (0x0001, dsBytes(v.dims)),
        (0x0003, dtBytes(v.ncType, v.littleEndian)),
        (0x0008, layoutBody)) ++ filterMsg ++ attrs
      v.name -> (if (modern) objectHeaderV2(rawMsgs)
        else objectHeader(rawMsgs.map { case (t, b) => message(t, b) }))
    }

    if (modern) {
      // ---- new-style root group: link info + group info + either one
      // compact link message per dataset, or (denseLinks) the same link
      // messages as fractal heap objects indexed by a name v2 B-tree
      val hdrByName = varHdrs.toMap
      def linkBody(n: String): Array[Byte] = {
        val nb = n.getBytes(StandardCharsets.UTF_8)
        require(nb.length <= 255, s"name $n too long for 1-byte length")
        val b = ByteBuffer.allocate(3 + nb.length + 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        b.put(1.toByte).put(0.toByte) // version 1, flags: u8 name length
        b.put(nb.length.toByte).put(nb)
        b.putLong(hdrByName(n))
        b.array()
      }
      val denseAddrs: Option[(Long, Long)] = if (!denseLinks) None else {
        // fractal heap geometry: 32-bit heap offsets, 2-byte lengths
        // (heap ID length 7, the library default for group heaps),
        // checksummed direct blocks (header flag bit 1), single
        // direct-block root
        val offBytes = 4; val lenBytes = 2
        val names = vars.map(_.name).sorted
        val bodies = names.map(linkBody)
        val dbHdrLen = 4 + 1 + 8 + offBytes + 4
        val needed = dbHdrLen + bodies.map(_.length).sum
        var blockSize = 512L
        while (blockSize < needed) blockSize *= 2
        align8()
        val fheapAddr = out.position().toLong
        val dbAddr = fheapAddr + 146
        // FRHP
        val hb = ByteBuffer.allocate(146).order(ByteOrder.LITTLE_ENDIAN)
        hb.put("FRHP".getBytes(StandardCharsets.US_ASCII))
        hb.put(0.toByte)
        hb.putShort((1 + offBytes + lenBytes).toShort) // heap ID length
        hb.putShort(0.toShort) // I/O filter encoded length
        hb.put(2.toByte) // flags: checksummed direct blocks
        hb.putInt(4096) // max managed object size
        hb.putLong(0L) // next huge id
        hb.putLong(-1L) // huge v2 btree
        hb.putLong(blockSize - needed) // free space
        hb.putLong(-1L) // free space manager
        hb.putLong(blockSize) // managed space
        hb.putLong(blockSize) // allocated managed space
        hb.putLong(needed.toLong) // iterator offset
        hb.putLong(bodies.length.toLong) // managed objects
        hb.putLong(0L); hb.putLong(0L) // huge size/count
        hb.putLong(0L); hb.putLong(0L) // tiny size/count
        hb.putShort(4.toShort) // table width
        hb.putLong(blockSize) // starting block size
        hb.putLong(65536L) // max direct block size
        hb.putShort(32.toShort) // max heap size (bits)
        hb.putShort(1.toShort) // starting rows in root indirect block
        hb.putLong(dbAddr)
        hb.putShort(0.toShort) // current rows: root is a direct block
        hb.putInt(Lookup3.hash(java.util.Arrays.copyOf(hb.array(), 142)))
        out.put(hb.array())
        // FHDB with object data; heap IDs record heap-global offsets
        // (block offset 0 ⇒ block-local)
        val db = ByteBuffer.allocate(blockSize.toInt)
          .order(ByteOrder.LITTLE_ENDIAN)
        db.put("FHDB".getBytes(StandardCharsets.US_ASCII))
        db.put(0.toByte)
        db.putLong(fheapAddr)
        db.putInt(0) // block offset (offBytes = 4)
        val cksPos = db.position()
        db.putInt(0) // checksum placeholder
        val ids = names.zip(bodies).map { case (n, b) =>
          val o = db.position()
          db.put(b)
          (n, o, b.length)
        }
        val zeroed = db.array().clone()
        db.putInt(cksPos, 0) // (already zero — explicit)
        db.putInt(cksPos, Lookup3.hash(zeroed))
        out.put(db.array())
        // name-index v2 B-tree: BTHD + one BTLF leaf, records sorted by
        // lookup3 name hash
        val recSize = 4 + 1 + offBytes + lenBytes
        val recs = ids.map { case (n, o, l) =>
          (Lookup3.hash(n.getBytes(StandardCharsets.UTF_8)), n, o, l)
        }.sortBy(t => t._1.toLong & 0xFFFFFFFFL)
        align8()
        val btAddr = out.position().toLong
        val leafAddr = btAddr + 38
        val tb = ByteBuffer.allocate(38).order(ByteOrder.LITTLE_ENDIAN)
        tb.put("BTHD".getBytes(StandardCharsets.US_ASCII))
        tb.put(0.toByte).put(5.toByte) // version, type 5: link name index
        tb.putInt(512) // node size
        tb.putShort(recSize.toShort)
        tb.putShort(0.toShort) // depth
        tb.put(100.toByte).put(40.toByte) // split/merge percents
        tb.putLong(leafAddr)
        tb.putShort(recs.size.toShort)
        tb.putLong(recs.size.toLong)
        tb.putInt(Lookup3.hash(java.util.Arrays.copyOf(tb.array(), 34)))
        out.put(tb.array())
        val leafLen = 6 + recs.size * recSize + 4
        val lb2 = ByteBuffer.allocate(leafLen).order(ByteOrder.LITTLE_ENDIAN)
        lb2.put("BTLF".getBytes(StandardCharsets.US_ASCII))
        lb2.put(0.toByte).put(5.toByte)
        recs.foreach { case (h, _, o, l) =>
          lb2.putInt(h)
          lb2.put(0.toByte) // heap ID: version 0, managed
          lb2.putInt(o) // offset (4 bytes LE)
          lb2.putShort(l.toShort) // length (2 bytes LE)
        }
        lb2.putInt(Lookup3.hash(
          java.util.Arrays.copyOf(lb2.array(), leafLen - 4)))
        out.put(lb2.array())
        Some((fheapAddr, btAddr))
      }
      val linkInfo = {
        val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
        b.put(0.toByte).put(0.toByte) // version, flags (no creation order)
        b.putLong(denseAddrs.map(_._1)
          .getOrElse(if (denseLinkStub) 0x1000L else -1L)) // fractal heap
        b.putLong(denseAddrs.map(_._2).getOrElse(-1L)) // name index B-tree
        b.array()
      }
      val groupInfo = Array[Byte](0, 0) // version 0, flags 0
      val linkMsgs: Seq[(Int, Array[Byte])] =
        if (denseLinks) Nil
        else vars.map(_.name).sorted.map(n => (0x0006, linkBody(n)))
      val rootHdr = objectHeaderV2(
        Seq((0x0002, linkInfo), (0x000A, groupInfo)) ++ linkMsgs)
      val eof = out.position().toLong
      // ---- superblock v3 at offset 0 (48 bytes; prefix reserve is 96)
      out.position(0)
      out.put(Signature)
      out.put(3.toByte) // superblock v3
      out.put(8.toByte).put(8.toByte) // offset/length sizes
      out.put(0.toByte) // file consistency flags
      out.putLong(0L) // base
      out.putLong(-1L) // superblock extension
      out.putLong(eof)
      out.putLong(rootHdr)
      val sbBody = java.util.Arrays.copyOf(out.array(), 44)
      out.putInt(Lookup3.hash(sbBody))
      val all = java.util.Arrays.copyOf(out.array(), eof.toInt)
      Files.write(Paths.get(path), all)
      return
    }

    // ---- root group: local heap, SNOD, B-tree, root object header
    align8()
    val heapDataAddr = out.position().toLong + 32
    val names = vars.map(_.name).sorted
    val nameOffsets = scala.collection.mutable.Map.empty[String, Long]
    val heapData = {
      val b = ByteBuffer.allocate(names.map(_.length + 9).sum + 16)
      var off = 8L // offset 0 is conventionally the empty name slot
      b.put(new Array[Byte](8))
      names.foreach { n =>
        nameOffsets(n) = off
        val a = n.getBytes(StandardCharsets.UTF_8)
        b.put(a).put(0.toByte)
        val used = a.length + 1
        val pad = (8 - used % 8) % 8
        b.put(new Array[Byte](pad))
        off += used + pad
      }
      java.util.Arrays.copyOf(b.array(), b.position())
    }
    out.put("HEAP".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    out.putLong(heapData.length.toLong)
    out.putLong(heapData.length.toLong) // free list: none
    out.putLong(heapDataAddr)
    require(out.position() == heapDataAddr)
    out.put(heapData)

    align8()
    val snodAddr = out.position().toLong
    out.put("SNOD".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte).put(0.toByte)
    out.putShort(names.size.toShort)
    val hdrByName = varHdrs.toMap
    names.foreach { n =>
      out.putLong(nameOffsets(n))
      out.putLong(hdrByName(n))
      out.putInt(0); out.putInt(0)
      out.put(new Array[Byte](16))
    }

    align8()
    val btreeAddr = out.position().toLong
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte).put(0.toByte) // group node, level 0
    out.putShort(1) // one child (the SNOD)
    out.putLong(-1L); out.putLong(-1L)
    out.putLong(0L) // key 0
    out.putLong(snodAddr)
    out.putLong(nameOffsets(names.last)) // key 1

    val rootHdr = objectHeader(Seq(message(0x0011, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(btreeAddr); b.putLong(heapDataAddr - 32) // heap header addr
      b.array()
    })))

    val eof = out.position().toLong
    // ---- superblock v0 at offset 0
    out.position(0)
    out.put(Signature)
    out.put(0.toByte) // superblock v0
    out.put(0.toByte).put(0.toByte).put(0.toByte) // fs ver, root ver, res
    out.put(0.toByte) // shared header ver
    out.put(8.toByte).put(8.toByte).put(0.toByte) // sizes + reserved
    out.putShort(4).putShort(16) // leaf k, internal k
    out.putInt(0) // consistency
    out.putLong(0L) // base
    out.putLong(-1L) // free space
    out.putLong(eof)
    out.putLong(-1L) // driver info
    // root symbol table entry
    out.putLong(0L) // link name offset
    out.putLong(rootHdr)
    out.putInt(0); out.putInt(0)
    out.put(new Array[Byte](16))
    require(out.position() <= SuperblockLen,
      s"superblock overflow: ${out.position()}")
    val all = java.util.Arrays.copyOf(out.array(), eof.toInt)
    Files.write(Paths.get(path), all)
  }
}
