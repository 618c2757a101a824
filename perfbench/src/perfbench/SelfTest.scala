package perfbench

import Harness.Root

/** Checks of the harness itself: the tail-percentile rule, failure
  * accounting, the task-interval union behind `driver.self_s`, and the
  * frozen workload lists. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0
  private def check(what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => System.err.println(t); false }
    if (!ok) { failures += 1; System.err.println(s"[selftest] FAIL $what") }
    else System.err.println(s"[selftest] ok   $what")
  }

  def run(): Int = {
    // tail rule: highest ladder rung with at least ten samples beyond it
    check("tail percentile below 20 samples falls back to the median") {
      (1 to 19).forall(n => Stats.tailPercentile(n) == 50.0)
    }
    check("tail percentile ladder at 40, 100, 200, 1000 and 10000 samples") {
      Seq(40 -> 75.0, 99 -> 75.0, 100 -> 90.0, 200 -> 95.0, 1000 -> 99.0,
        10000 -> 99.9).forall { case (n, p) => Stats.tailPercentile(n) == p }
    }
    check("the chosen rung leaves >= 10 beyond and the next rung leaves fewer") {
      (20 to 3000).forall { n =>
        val p = Stats.tailPercentile(n)
        val next = Stats.Ladder.find(_ > p)
        Stats.beyond(n, p) >= 10 && next.forall(q => Stats.beyond(n, q) < 10)
      }
    }
    check("tail value has exactly `beyond` samples above it") {
      val xs = (1 to 100).map(_.toDouble)
      val t = Stats.tail(xs, 100)
      t.percentile == 90.0 && t.value == 90.0 && t.beyond == 10 &&
        xs.count(_ > t.value) == 10
    }
    check("extra samples keep the percentile fixed by the guaranteed count") {
      Stats.tail((1 to 150).map(_.toDouble), 40).percentile == 75.0
    }

    // failure accounting
    val ops = Seq(OpOutcome("a", 1.0, ok = true), OpOutcome("b", 1.1, ok = true),
      OpOutcome("c", 0.001, ok = false), OpOutcome("d", 0.9, ok = true))
    check("a fast failure is never timed as a success") {
      val lat = Stats.latencies(ops)
      lat(2).isPosInfinity && Stats.quantile(lat, 1.0).isPosInfinity &&
        Stats.median(lat) == 1.05
    }
    check("failed_frac counts failures over attempts") {
      Stats.failedFrac(ops) == 0.25
    }
    check("a pass with a failure has no wall; one without keeps its wall") {
      Stats.passWall(3.0, ops).isPosInfinity &&
        Stats.passWall(3.0, ops.filter(_.ok)) == 3.0
    }
    check("majority failures push the median beyond every limit") {
      val bad = ops.map(_.copy(ok = false)).take(3) :+ ops.head
      Metrics.finite(Stats.median(Stats.latencies(bad))) == Metrics.FailedSeconds
    }

    // interval union behind driver.self_s
    check("union of disjoint, overlapping, nested and touching intervals") {
      Stats.unionLength(Nil) == 0L &&
        Stats.unionLength(Seq((0L, 10L), (20L, 30L))) == 20L &&
        Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L &&
        Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100L &&
        Stats.unionLength(Seq((10L, 20L), (0L, 10L))) == 20L &&
        Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L
    }
    check("intervals clipped to an operation before the union") {
      Stats.unionLength(Stats.clip(Seq((0L, 10L), (8L, 30L), (40L, 50L)), 5L, 25L)) == 20L
    }
    check("read skew is max over median of the reduce tasks that read bytes") {
      Stats.readSkew(Seq(10L, 10L, 40L)) == 4.0 &&
        Stats.readSkew(Seq(0L, 0L, 0L, 10L, 10L, 40L)) == 4.0 &&
        Stats.readSkew(Seq(0L, 0L)) == 0.0
    }

    // traced-run self-check
    val op = OpTrace("e", "q", start = 1000.0, buildEnd = 1600.0,
      actionEnd = 1980.0, end = 1990.0, outerMs = 1000.0, codegenS = 0.0,
      codegenClasses = 0L, leakedRdds = 0, leakedBytes = 0L, ok = true)
    def layers(o: OpTrace) = Map("operators.build_s" -> (o.buildEnd - o.start) / 1000.0,
      "action.s" -> (o.actionEnd - o.buildEnd) / 1000.0)
    def job(s: Double, e: Double) = Span("e", "e/job", "e/action", "job", "job", s, e)
    check("self-check passes when build and action cover 98% of the wall") {
      Metrics.selfCheck(op, layers(op), Seq(job(1700.0, 1900.0)))
    }
    check("self-check fails when 20% of the wall is unaccounted for") {
      val gap = op.copy(actionEnd = 1800.0)
      !Metrics.selfCheck(gap, layers(gap), Nil)
    }
    check("self-check fails when a job ends after its operation") {
      !Metrics.selfCheck(op, layers(op), Seq(job(1700.0, 2500.0)))
    }

    // frozen workload lists
    val wls = Workloads.load(Root.resolve("workloads.json")).values.toSeq
    val queries = graft.SparkEntry.queries.keySet
    check("at least two workloads, each with at least two members") {
      wls.size >= 2 && wls.forall(_.members.size >= 2)
    }
    check("every batch workload member exists in SparkEntry.queries") {
      val missing = wls.filterNot(_.isStream).flatMap(_.members).filterNot(queries)
      if (missing.nonEmpty) System.err.println(s"missing: $missing")
      missing.isEmpty
    }
    check("every stream member is a known monitor") {
      wls.filter(_.isStream).flatMap(_.members).forall(StreamRunner.Names)
    }
    check("workload lists are disjoint and free of repeats") {
      val all = wls.flatMap(_.members)
      all.distinct.size == all.size
    }
    check("every member and the warm-up query have an expected fingerprint") {
      val exp = Expected.load(Root.resolve("expected.tsv"))
      val names = "q1_agg" +: wls.flatMap(w =>
        if (w.isStream) w.members.map("stream:" + _) else w.members)
      names.forall(n => !exp.check(n, Fingerprint.Zero).exists(_.startsWith("no expected")))
    }
    System.err.println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
