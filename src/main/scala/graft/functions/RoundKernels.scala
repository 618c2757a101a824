package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import scala.collection.mutable

/** Per-round kernels of graft's driver-state loops: the Lloyd rounds of
  * emb_kmeans and of emb_pq_topk's codebook, emb_kcenter_sample's
  * farthest-point rounds, emb_pca_power's power iteration and the BPE
  * merge rounds of `TextOps.bpeMerges`. A round is one single-stage
  * `treeAggregate` over the iterated rows, or driver arithmetic over a
  * collected state; the driver keeps the state a round hands to the
  * next, so no round plans a DataFrame.
  *
  * The RDD closures are defined here, in a small object of their own:
  * Spark's `ClosureCleaner` reads and parses the class file of a
  * closure's defining class on every clean, and a loop cleans its
  * closures every round.
  */
object RoundKernels {

  /** Σ floor((v_(from+i) − m_i)² · 2^30): the quantized squared distance
    * of the `m.length` elements of `v` from index `from` to the centroid
    * `m`, exact in BIGINT and so independent of order. Precondition:
    * those elements are non-null (float or double values, as `isFloat`
    * says) and the sum does not overflow; callers check the length.
    */
  def distQ(v: ArrayData, isFloat: Boolean, from: Int, m: Array[Double]): Long = {
    var acc = 0L
    var i = 0
    while (i < m.length) {
      val x = (if (isFloat) v.getFloat(from + i).toDouble else v.getDouble(from + i)) - m(i)
      acc += Math.floor(x * x * 1.073741824e9).toLong
      i += 1
    }
    acc
  }

  /** Index of the centroid nearest to the elements of `v` from index
    * `from` by `distQ`; equal distances go to the lowest index.
    * Precondition as `distQ`'s, and `cents` is not empty.
    */
  def nearest(v: ArrayData, isFloat: Boolean, from: Int, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = distQ(v, isFloat, from, cents(0))
    var j = 1
    while (j < cents.length) {
      val d = distQ(v, isFloat, from, cents(j))
      if (d < bestD) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** A copy of each row of `rows`, persisted for a loop that reads them
    * every round; the loop unpersists them when it is done.
    */
  def persisted(rows: RDD[InternalRow]): RDD[InternalRow] =
    rows.map(_.copy()).persist()

  /** The rows of `rows` whose BIGINT id in column 1 is below `k`, in id
    * order: each id as an INT and the vector of column 0 as doubles. One
    * job.
    */
  def below(rows: RDD[InternalRow], isFloat: Boolean, k: Long): Array[(Int, Array[Double])] =
    rows.filter(_.getLong(1) < k).map { r =>
      val v = r.getArray(0)
      (r.getLong(1).toInt, Array.tabulate(v.numElements())(i =>
        if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)))
    }.collect().sortBy(_._1)

  /** One Lloyd round over `nSub` subspaces. Each row of `vecs` holds a
    * vector in column 0; the round splits it into `nSub` contiguous
    * subvectors, assigns each to its `nearest` centroid in that subspace
    * (centroid j's subspace s is the slice s of `cents(j)`), and sums
    * floor(x·16384) per centroid, subspace and dimension, with a count
    * per centroid and subspace (k·dim + k·nSub `Long`s a task). Returns,
    * for centroid j and subspace s, the quantized mean
    * Σ floor(x·16384) / (16384·n) of the subvectors it won, or None when
    * it won none; the caller decides what an empty centroid becomes.
    * `cents` are the current centroids, in ascending id order so that
    * ties go to the lowest id, and `nSub` divides their length. A null
    * vector, or one whose length is not the centroids', fails the round.
    */
  def lloydRound(vecs: RDD[InternalRow], isFloat: Boolean, nSub: Int,
      cents: Array[Array[Double]]): Array[Array[Option[Array[Double]]]] = {
    val k = cents.length
    val dim = cents(0).length
    require(nSub > 0 && dim % nSub == 0, s"$nSub subspaces do not divide $dim dimensions")
    val sd = dim / nSub
    val subCents = Array.tabulate(nSub)(s => cents.map(_.slice(s * sd, s * sd + sd)))
    val acc = vecs.treeAggregate(new Array[Long](k * dim + k * nSub))((a, row) => {
      val v = if (row.isNullAt(0)) null else row.getArray(0)
      require(v != null && v.numElements() == dim,
        s"a Lloyd round needs every vector to hold $dim elements")
      var s = 0
      while (s < nSub) {
        val j = nearest(v, isFloat, s * sd, subCents(s))
        var i = 0
        while (i < sd) {
          val x = if (isFloat) v.getFloat(s * sd + i).toDouble else v.getDouble(s * sd + i)
          a((s * k + j) * sd + i) += Math.floor(x * 16384.0).toLong
          i += 1
        }
        a(k * dim + s * k + j) += 1
        s += 1
      }
      a
    }, addInto, depth = 1)
    Array.tabulate(k, nSub) { (j, s) =>
      val n = acc(k * dim + s * k + j)
      Option.when(n > 0)(Array.tabulate(sd)(i => acc((s * k + j) * sd + i).toDouble / (16384.0 * n)))
    }
  }

  /** One round of greedy k-center. Each row of `rows` holds a BIGINT
    * vec_id in column 0 and a vector in column 1; its distance to a pick
    * p is d2 = qdot(v, v) + qdot(p, p) − 2·qdot(v, p), in `SimMath.qdot`'s
    * exact BIGINT, and its min d2 the least over the `picks`. Returns the
    * row with the greatest min d2, the lowest vec_id among equals: its
    * vec_id, min d2 and vector. `picks` is not empty and the corpus is
    * not; a null vector, or one whose length is not the picks', fails
    * the round.
    */
  def farthest(rows: RDD[InternalRow], isFloat: Boolean,
      picks: Array[Array[Double]]): (Long, Long, Array[Double]) = {
    val ps = picks.map(ArrayData.toArrayData)
    val pnq = ps.map(p => SimMath.qdot(p, p, false, false))
    val dim = picks(0).length
    val best = rows.treeAggregate(Far.none)((b, row) => {
      val v = if (row.isNullAt(1)) null else row.getArray(1)
      require(v != null && v.numElements() == dim,
        s"a k-center round needs every vector to hold $dim elements")
      val nq = SimMath.qdot(v, v, isFloat, isFloat)
      var d2 = Long.MaxValue
      var j = 0
      while (j < ps.length) {
        d2 = Math.min(d2, nq + pnq(j) - 2 * SimMath.qdot(v, ps(j), isFloat, false))
        j += 1
      }
      val far = Far(d2, row.getLong(0), null)
      if (far.beats(b))
        far.copy(vec = Array.tabulate(dim)(i =>
          if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)))
      else b
    }, (a, b) => if (b.beats(a)) b else a, depth = 1)
    require(best.vec != null, "a k-center round needs a vector")
    (best.id, best.d2, best.vec)
  }

  /** A k-center candidate: its min d2, vec_id and vector. */
  private final case class Far(d2: Long, id: Long, vec: Array[Double]) {
    def beats(o: Far): Boolean = d2 > o.d2 || (d2 == o.d2 && id < o.id)
  }
  private object Far { val none: Far = Far(Long.MinValue, Long.MaxValue, null) }

  /** Spark's `round(x, scale)` on a DOUBLE: HALF_UP on the shortest
    * decimal form of `x`; NaN and infinities pass through.
    */
  def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val Q30 = 1073741824.0 // 2^30

  /** `SimMath.qdot` of two equal-length vectors: Σ floor(a_i · b_i · 2^30). */
  private def dotQ(a: Array[Double], b: Array[Double]): Long =
    SimMath.qdot(ArrayData.toArrayData(a), ArrayData.toArrayData(b), false, false)

  /** The quantized product G·v: row i is dotQ(G_i, v) / 2^30. */
  private def matVecQ(g: Array[Array[Double]], v: Array[Double]): Array[Double] =
    g.map(row => dotQ(row, v).toDouble / Q30)

  /** One power-iteration step: w = G·v (`matVecQ`), divided by
    * sqrt(dotQ(w, w) / 2^30) and rounded to 9 decimals.
    */
  def powerStep(g: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val w = matVecQ(g, v)
    val norm = Math.sqrt(dotQ(w, w).toDouble / Q30)
    w.map(x => roundHalfUp(x / norm, 9))
  }

  /** The eigenvalue estimate dotQ(v, G·v) / 2^30, rounded to 6 decimals. */
  def eigenvalue(g: Array[Array[Double]], v: Array[Double]): Double =
    roundHalfUp(dotQ(v, matVecQ(g, v)).toDouble / Q30, 6)

  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** One BPE round's pair counts over a collected word dict: the
    * adjacent symbol pairs of every sentinel-padded word, each weighted
    * by the word's count.
    */
  def pairCounts(words: Seq[(String, Long)]): Map[String, Long] =
    words.flatMap { case (w, n) =>
      w.trim.split(" ").sliding(2).collect { case Array(a, b) => (s"$a $b", n) }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** The round's merge: the pair with the highest count, the smallest
    * pair among equal counts; None when no word has two symbols left.
    */
  def topPair(counts: collection.Map[String, Long]): Option[(String, Long)] =
    counts.minByOption { case (p, n) => (-n, p) }

  /** The replacement that merges `pair` in a spaced word: " a b " →
    * " ab ".
    */
  def mergeOf(pair: String): (String, String) =
    (s" $pair ", s" ${pair.replace(" ", "")} ")
}
