package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import scala.collection.mutable

/** Per-round kernels of graft's fixed-round driver loops: emb_kmeans'
  * Lloyd rounds and the BPE merge rounds of `TextOps.bpeMerges`. A round
  * is one single-stage `treeAggregate` over the iterated rows; the driver
  * keeps the state a round hands to the next, so no round plans a
  * DataFrame.
  *
  * The RDD closures are defined here, in a small object of their own:
  * Spark's `ClosureCleaner` reads and parses the class file of a
  * closure's defining class on every clean, and a loop cleans its
  * closures every round.
  */
object RoundKernels {

  /** Σ floor((v_i − m_i)² · 2^30): the quantized squared distance of `v`
    * to the centroid `m`, exact in BIGINT and so independent of order.
    * Precondition: `v` holds `m.length` non-null elements (its float or
    * double values, as `isFloat` says) and the sum does not overflow;
    * callers check the length.
    */
  def distQ(v: ArrayData, isFloat: Boolean, m: Array[Double]): Long = {
    var acc = 0L
    var i = 0
    while (i < m.length) {
      val x = (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) - m(i)
      acc += Math.floor(x * x * 1.073741824e9).toLong
      i += 1
    }
    acc
  }

  /** Index of the centroid nearest to `v` by `distQ`; equal distances go
    * to the lowest index. Precondition as `distQ`'s, and `cents` is not
    * empty.
    */
  def nearest(v: ArrayData, isFloat: Boolean, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = distQ(v, isFloat, cents(0))
    var j = 1
    while (j < cents.length) {
      val d = distQ(v, isFloat, cents(j))
      if (d < bestD) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** One Lloyd round. Each row of `vecs` holds a vector in column 0; the
    * round assigns it to its `nearest` centroid and sums floor(x·16384)
    * per cluster and dimension, with a count per cluster (k·dim + k
    * `Long`s a task). Returns the next centroids, each the quantized mean
    * Σ floor(x·16384) / (16384·n) of its cluster, in `cids` order. A
    * cluster that ends up empty is dropped. `cents` are the current
    * centroids, `cids` their ids, in ascending order so that ties go to
    * the lowest id. A null vector, or one whose length is not the
    * centroids', fails the round.
    */
  def lloydRound(vecs: RDD[InternalRow], isFloat: Boolean, cids: Array[Int],
      cents: Array[Array[Double]]): (Array[Int], Array[Array[Double]]) = {
    val k = cents.length
    val dim = cents(0).length
    val acc = vecs.treeAggregate(new Array[Long](k * dim + k))((a, row) => {
      val v = if (row.isNullAt(0)) null else row.getArray(0)
      require(v != null && v.numElements() == dim,
        s"a Lloyd round needs every vector to hold $dim elements")
      val j = nearest(v, isFloat, cents)
      var i = 0
      while (i < dim) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        a(j * dim + i) += Math.floor(x * 16384.0).toLong
        i += 1
      }
      a(k * dim + j) += 1
      a
    }, addInto, depth = 1)
    val kept = (0 until k).filter(j => acc(k * dim + j) > 0)
    (kept.map(cids).toArray, kept.map { j =>
      val n = 16384.0 * acc(k * dim + j)
      Array.tabulate(dim)(i => acc(j * dim + i).toDouble / n)
    }.toArray)
  }

  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** (spaced, wc) pairs of a word dict: rows whose column 0 is the
    * sentinel-padded symbol string and column 1 the word's count.
    */
  def wordCounts(rows: RDD[InternalRow]): RDD[(String, Long)] =
    rows.map(r => (r.getUTF8String(0).toString, r.getLong(1)))

  /** One BPE round's pair counts: the adjacent symbol pairs of every
    * word, each weighted by the word's count, summed in per-partition maps
    * that merge in one stage. A map is bounded by the distinct pairs, not
    * by the corpus.
    */
  def pairCounts(words: RDD[(String, Long)]): collection.Map[String, Long] =
    words.treeAggregate(mutable.HashMap.empty[String, Long])((m, w) => {
      val l = w._1.trim.split(" ")
      var i = 1
      while (i < l.length) {
        val p = l(i - 1) + " " + l(i)
        m.update(p, m.getOrElse(p, 0L) + w._2)
        i += 1
      }
      m
    }, (a, b) => {
      b.foreach { case (p, n) => a.update(p, a.getOrElse(p, 0L) + n) }
      a
    }, depth = 1)

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

  /** Applies the merge of `pair` to every word: a non-overlapping,
    * left-to-right replace, as SQL `replace` does.
    */
  def merge(words: RDD[(String, Long)], pair: String): RDD[(String, Long)] = {
    val (from, to) = mergeOf(pair)
    words.map(w => (w._1.replace(from, to), w._2))
  }
}
