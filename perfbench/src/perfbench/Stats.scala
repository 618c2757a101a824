package perfbench

/** Pure statistics used by the harness, kept free of Spark so that
  * [[SelfTest]] can check them directly.
  */
object Stats {

  /** Candidate tail percentiles, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Nearest-rank quantile: the value at rank ceil(q * n). Failed
    * operations enter as +Infinity and so sort above every success.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    s(math.max(1, math.ceil(q * s.size - 1e-9).toInt) - 1)
  }

  /** The usual median: the middle value, or the mean of the middle two. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Samples strictly above the nearest-rank percentile `p` of `n`. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The highest ladder percentile that leaves at least ten samples
    * beyond it in a sample of `n`. Below twenty samples no rung above
    * the median qualifies, and the median is returned.
    */
  def tailPercentile(n: Int): Double =
    Ladder.filter(p => beyond(n, p) >= 10).lastOption.getOrElse(50.0)

  final case class Tail(percentile: Double, value: Double, samples: Int,
      beyond: Int)

  /** Tail latency at the percentile fixed by `guaranteed`, the sample
    * count every run of the workload reaches. Extra samples a faster run
    * collects keep the percentile where it is, so runs stay comparable.
    * At the p50 rung the tail is the median itself.
    */
  def tail(xs: Seq[Double], guaranteed: Int): Tail = {
    val p = tailPercentile(math.min(guaranteed, xs.size))
    val v = if (p == 50.0) median(xs) else quantile(xs, p / 100.0)
    Tail(p, v, xs.size, beyond(xs.size, p))
  }

  /** Latency sample of a run: a failed operation misses every limit. */
  def latencies(ops: Seq[OpOutcome]): Seq[Double] =
    ops.map(o => if (o.ok) o.seconds else Double.PositiveInfinity)

  def failedFrac(ops: Seq[OpOutcome]): Double =
    if (ops.isEmpty) 0.0 else ops.count(!_.ok).toDouble / ops.size

  /** Wall of a pass; a pass with any failed operation never counts as
    * complete, so a builder that throws early cannot make it look fast.
    */
  def passWall(seconds: Double, ops: Seq[OpOutcome]): Double =
    if (ops.forall(_.ok)) seconds else Double.PositiveInfinity

  /** Total length of the union of closed intervals [start, end]. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi], empty ones dropped. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }

  /** max ÷ median of per-task shuffle-read bytes in one stage, over the
    * tasks that read anything (AQE leaves empty reduce partitions, whose
    * zero median would make every stage look infinitely skewed); 0 when
    * no task read anything.
    */
  def readSkew(bytes: Seq[Long]): Double = {
    val pos = bytes.filter(_ > 0).map(_.toDouble)
    if (pos.isEmpty) 0.0 else pos.max / median(pos)
  }
}

/** One timed operation: a query execution or one micro-batch. */
final case class OpOutcome(name: String, seconds: Double, ok: Boolean,
    rows: Long = 0L, error: String = "")
