package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftops.GraftInternal
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text fingerprinting kernels. The composed-expression form
  * (sequence → transform(hash(substring)) → sliding array_min) allocates
  * O(len·w) intermediate arrays per row; these kernels do one scan over
  * the UTF8 bytes with two reusable buffers. Rolling-hash winnowing per
  * the standard document-fingerprinting scheme (re-expresses odin-style
  * record digesting for the dedup pipeline).
  *
  * All arithmetic is Karp-Rabin modular hashing mod P = 2^31-1 (Mersenne
  * prime): two independent polynomial hashes (bases B1/B2) per k-gram or
  * token, combined as g1·2^31 + g2 into a collision-resistant 62-bit
  * value. Every intermediate fits a signed 64-bit integer with NO
  * wraparound, so a SQL engine with strict BIGINT overflow (the DuckDB
  * oracle) can replay the exact arithmetic — that is what upgrades the
  * fingerprint/minhash/simhash queries from rows-only to hash-matched.
  */
object TextHashKernels {

  val P = 2147483647L // 2^31 - 1
  val B1 = 1000003L
  val B2 = 1000033L
  val SHIFT = 2147483648L // 2^31: combine (g1, g2) -> g1*SHIFT + g2

  /** MinHash permutation constants: v_i = (a_i*g1 + b_i*g2 + c_i) mod P.
    * a_i·g1 < P·P < 2^62 — no overflow. Same formulas are interpolated
    * into the DuckDB oracle SQL.
    */
  def permA(i: Int): Long = ((i + 1L) * 2654435761L) % P
  def permB(i: Int): Long = ((i + 1L) * 1779033703L) % P
  def permC(i: Int): Long = ((i + 1L) * 1013904242L) % P

  /** Winnowed fingerprints: 62-bit k-gram rolling hashes, min per
    * w-window, distinct, sorted. One pass, no per-window allocation.
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val nGrams = n - k + 1
    // rolling Karp-Rabin mod P: h = (h*B + b_in - b_out*B^k) mod P
    var bk1 = 1L; var bk2 = 1L
    var i = 0
    while (i < k) { bk1 = bk1 * B1 % P; bk2 = bk2 * B2 % P; i += 1 }
    val gram = new Array[Long](nGrams)
    var h1 = 0L; var h2 = 0L
    i = 0
    while (i < n) {
      h1 = (h1 * B1 + (bytes(i) & 0xFF)) % P
      h2 = (h2 * B2 + (bytes(i) & 0xFF)) % P
      if (i >= k) {
        h1 = (h1 - bk1 * (bytes(i - k) & 0xFF) % P + P) % P
        h2 = (h2 - bk2 * (bytes(i - k) & 0xFF) % P + P) % P
      }
      if (i >= k - 1) gram(i - k + 1) = h1 * SHIFT + h2
      i += 1
    }
    // sliding min over w grams; collect distinct mins
    val out = new java.util.TreeSet[java.lang.Long]()
    var j = 0
    while (j + w <= nGrams) {
      var m = gram(j)
      var t = j + 1
      while (t < j + w) { if (gram(t) < m) m = gram(t); t += 1 }
      out.add(m)
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next(); p += 1 }
    new GenericArrayData(arr)
  }

  /** All k-gram rolling hashes of a string, one per 1-based position —
    * the ExactSubstr window pass (Lee et al. training-data dedup): one
    * Karp-Rabin sweep emits the combined 62-bit (B1, B2) hash of
    * text[i, i+k) for every i, so the stride-1 duplicated-window find is
    * a hash groupBy, never a substring shuffle. Same arithmetic as
    * [[winnow]]'s gram array (mod P, double base), ASCII-only contract
    * like [[cdcCuts]] (byte positions == char positions).
    */
  def gramHashes(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    var bk1 = 1L; var bk2 = 1L
    var i = 0
    while (i < k) { bk1 = bk1 * B1 % P; bk2 = bk2 * B2 % P; i += 1 }
    val gram = new Array[Long](n - k + 1)
    var h1 = 0L; var h2 = 0L
    i = 0
    while (i < n) {
      h1 = (h1 * B1 + (bytes(i) & 0xFF)) % P
      h2 = (h2 * B2 + (bytes(i) & 0xFF)) % P
      if (i >= k) {
        h1 = (h1 - bk1 * (bytes(i - k) & 0xFF) % P + P) % P
        h2 = (h2 - bk2 * (bytes(i - k) & 0xFF) % P + P) % P
      }
      if (i >= k - 1) gram(i - k + 1) = h1 * SHIFT + h2
      i += 1
    }
    new GenericArrayData(gram)
  }

  /** Content-defined chunk cut positions (1-based), one rolling-hash
    * pass: a cut before position p (p >= 2) wherever the k-gram B1 hash
    * starting at p satisfies h % mask1 == 0 — the SAME polynomial value
    * the doc_cdc_chunks oracle computes term-by-term, so the kernel is
    * a drop-in for the O(len·k·substring) expression form that turned
    * quadratic on long documents (26 s at sf0.1 -> sub-second).
    *
    * ASCII-only contract (same as the codec kernels): the kernel hashes
    * UTF-8 BYTES and reports BYTE offsets, while the oracle's gramSum
    * uses per-CHARACTER ascii()/substr positions — the two agree iff
    * every character is single-byte. Callers must normalize or filter
    * non-ASCII text before chunking (doc_cdc_chunks' corpus is ASCII by
    * construction).
    */
  def cdcCuts(text: UTF8String, k: Int, mask1: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    var bk1 = 1L
    var i = 0
    while (i < k) { bk1 = bk1 * B1 % P; i += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var h1 = 0L
    i = 0
    while (i < n) {
      h1 = (h1 * B1 + (bytes(i) & 0xFF)) % P
      if (i >= k) h1 = (h1 - bk1 * (bytes(i - k) & 0xFF) % P + P) % P
      if (i >= k - 1) {
        val p = i - k + 2 // 1-based start position of this gram
        if (p >= 2 && h1 % mask1 == 0) out += p.toLong
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** MinHash signature over strided k-grams: nPerm mins of the linear
    * permutations (a_i·g1 + b_i·g2 + c_i) mod P.
    */
  def minhash(text: UTF8String, k: Int, stride: Int, nPerm: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val sig = new Array[Long](nPerm)
    java.util.Arrays.fill(sig, Long.MaxValue)
    if (n < k) return new GenericArrayData(sig)
    val pa = Array.tabulate(nPerm)(permA)
    val pb = Array.tabulate(nPerm)(permB)
    val pc = Array.tabulate(nPerm)(permC)
    var bk1 = 1L; var bk2 = 1L
    var i = 0
    while (i < k) { bk1 = bk1 * B1 % P; bk2 = bk2 * B2 % P; i += 1 }
    var h1 = 0L; var h2 = 0L
    i = 0
    while (i < n) {
      h1 = (h1 * B1 + (bytes(i) & 0xFF)) % P
      h2 = (h2 * B2 + (bytes(i) & 0xFF)) % P
      if (i >= k) {
        h1 = (h1 - bk1 * (bytes(i - k) & 0xFF) % P + P) % P
        h2 = (h2 - bk2 * (bytes(i - k) & 0xFF) % P + P) % P
      }
      val pos = i - k + 1
      if (pos >= 0 && pos % stride == 0) {
        var p = 0
        while (p < nPerm) {
          val hp = ((pa(p) * h1 + pb(p) * h2) % P + pc(p)) % P
          if (hp < sig(p)) sig(p) = hp
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 62-bit SimHash over space-separated tokens: per-bit votes from each
    * token's combined hash, one pass, no tokenizer allocation beyond the
    * scan. Bits 62-63 are always 0.
    */
  def simhash64(text: UTF8String): Long = {
    val bytes = text.getBytes
    val n = bytes.length
    val votes = new Array[Int](62)
    var i = 0
    var h1 = 0L; var h2 = 0L
    var inTok = false
    def vote(): Unit = {
      val th = h1 * SHIFT + h2
      var j = 0
      while (j < 62) {
        if (((th >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    while (i < n) {
      val b = bytes(i)
      if (b == ' ') {
        if (inTok) { vote(); h1 = 0L; h2 = 0L; inTok = false }
      } else {
        h1 = (h1 * B1 + (b & 0xFF)) % P
        h2 = (h2 * B2 + (b & 0xFF)) % P
        inTok = true
      }
      i += 1
    }
    if (inTok) vote()
    var sim = 0L
    var j = 0
    while (j < 62) { if (votes(j) > 0) sim |= (1L << j); j += 1 }
    sim
  }
}


/** array<long> of winnowed fingerprints of a string column. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.winnow(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.winnow($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** array<long> MinHash signature of a string column. */
case class MinHashSignature(child: Expression, k: Int, stride: Int, nPerm: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.minhash(input.asInstanceOf[UTF8String], k, stride, nPerm)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.minhash($c, $k, $stride, $nPerm)")
  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** array<long> of 1-based CDC cut positions of a string column. */
case class CdcCuts(child: Expression, k: Int, mask1: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_cuts"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.cdcCuts(input.asInstanceOf[UTF8String], k, mask1)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.cdcCuts($c, $k, $mask1)")
  override protected def withNewChildInternal(c: Expression): CdcCuts =
    copy(child = c)
}

/** array<long> of every k-gram rolling hash of a string column. */
case class GramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.gramHashes(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashKernels.gramHashes($c, $k)")
  override protected def withNewChildInternal(c: Expression): GramHashes =
    copy(child = c)
}

/** 64-bit SimHash of a string column (whitespace tokens, bit votes). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashKernels.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

object TextFunctions {
  def winnow_fingerprints(c: Column, k: Int = 20, w: Int = 5): Column =
    GraftInternal.column(WinnowFingerprints(GraftInternal.expr(c), k, w))
  def minhash_signature(c: Column, k: Int = 20, stride: Int = 4, nPerm: Int = 32): Column =
    GraftInternal.column(MinHashSignature(GraftInternal.expr(c), k, stride, nPerm))
  def simhash64(c: Column): Column =
    GraftInternal.column(SimHash64(GraftInternal.expr(c)))
  def cdc_cuts(c: Column, k: Int = 20, mask1: Int = 64): Column =
    GraftInternal.column(CdcCuts(GraftInternal.expr(c), k, mask1))
  def gram_hashes(c: Column, k: Int): Column =
    GraftInternal.column(GramHashes(GraftInternal.expr(c), k))

  /** SQL registration of the text kernels (default parameters). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlFunctions.register(spark, SqlFunctions.text)
}
