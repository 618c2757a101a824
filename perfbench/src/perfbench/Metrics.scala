package perfbench

import java.nio.file.Path

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The result line the benchmark prints last, and the detail file kept
  * beside it.
  */
final case class RunResult(line: String, detail: String)

object Metrics {
  /** A failed operation misses every limit; JSON has no infinity, so an
    * unbounded latency or wall prints as this many seconds.
    */
  val FailedSeconds = 1e9

  def finite(v: Double): Double = if (v.isInfinite || v.isNaN) FailedSeconds else v

  def json(v: JValue): String = compact(render(v))

  def numbers(kv: Seq[(String, Double)]): JObject =
    JObject(kv.map { case (k, v) => k -> JDouble(v) }: _*)

  private def values(metrics: Seq[(String, String, Double)]): JObject =
    numbers(metrics.map(m => m._1 -> m._3))

  /** `correct` is false when any operation failed or, in a traced run, any
    * operation failed the self-check.
    */
  private def line(ops: Seq[OpOutcome], metrics: Seq[(String, String, Double)],
      selfChecked: Boolean = true): String =
    json(("correct" -> (ops.forall(_.ok) && selfChecked)) ~
      ("attempted" -> ops.size) ~
      ("failed" -> ops.count(!_.ok)) ~
      ("metrics" -> JObject(metrics.map { case (n, u, v) =>
        n -> (("value" -> v) ~ ("unit" -> u))
      }: _*)))

  private def opsJson(ops: Seq[OpOutcome]): JArray = JArray(ops.map(o =>
    ("name" -> o.name) ~ ("s" -> o.seconds) ~ ("ok" -> o.ok) ~
      ("rows" -> o.rows) ~ ("error" -> o.error)).toList)

  /** End-to-end metrics of an untraced run. `wall_s` is the median wall of
    * one full pass over the workload; a pass with a failure has no wall.
    */
  def endToEnd(wl: Workload, seed: Long, setupS: Double,
      passes: Seq[PassOut], heapMb: Double, warm: Seq[PassOut]): RunResult = {
    val timed = passes.flatMap(_.timed)
    val lat = Stats.latencies(timed)
    val tail = Stats.tail(lat, wl.minPasses * passes.head.timed.size)
    val walls = passes.map(p => Stats.passWall(p.wallS, p.ops))
    val wall = Stats.median(walls)
    val rate = Stats.median(passes.zip(walls).map { case (p, w) => p.events / w })
    val metrics = Seq(
      ("setup_s", "s", setupS),
      ("wall_s", "s", finite(wall)),
      ("latency_p50_s", "s", finite(Stats.median(lat))),
      ("latency_tail_s", "s", finite(tail.value)),
      ("events_per_s", "1/s", rate),
      ("heap_retained_mb", "MiB", heapMb))
    val all = warm.flatMap(_.ops) ++ passes.flatMap(_.ops)
    System.err.println(f"[perfbench] ${wl.name} tail = p${tail.percentile}%.1f of " +
      s"${tail.samples} samples (${tail.beyond} beyond); failed_frac = " +
      Stats.failedFrac(all))
    RunResult(line(all, metrics), json(
      ("workload" -> wl.name) ~ ("seed" -> seed) ~ ("trace" -> 0) ~
        ("cores" -> Harness.cores) ~
        ("tail" -> (("percentile" -> tail.percentile) ~
          ("samples" -> tail.samples) ~ ("beyond" -> tail.beyond))) ~
        ("failed_frac" -> Stats.failedFrac(all)) ~
        ("metrics" -> values(metrics)) ~
        ("warm_up" -> JArray(warm.toList.flatMap(p => opsJson(p.ops).arr))) ~
        ("passes" -> JArray(passes.toList.map(p => ("wall_s" -> p.wallS) ~
          ("events" -> p.events) ~ ("ops" -> opsJson(p.ops)))))))
  }

  /** Self-check of one traced operation: the builder call and the action
    * account for the wall read from an independent clock within 5% (plus
    * 2 ms for that clock's millisecond resolution), and every job
    * attributed to the operation lies inside it.
    */
  def selfCheck(o: OpTrace, m: Map[String, Double], jobs: Seq[Span]): Boolean = {
    val wall = o.outerMs / 1000.0
    val accounted = m("operators.build_s") + m("action.s")
    math.abs(wall - accounted) <= 0.05 * wall + 0.002 &&
      jobs.forall(s => s.start >= o.start - 1 && s.end <= o.end + 1)
  }

  /** Per-layer metrics of a traced run: run totals over the traced pass,
    * the kernel timings, and tracing overhead (traced wall minus the mean
    * wall of the untraced passes of the same order). Spans and the
    * per-operation breakdown go to `<workload>-seed<seed>-trace.jsonl` in
    * `out`.
    */
  def perLayer(wl: Workload, seed: Long, out: Path, tracer: Tracer,
      plain: Seq[PassOut], traced: PassOut, kernels: Map[String, Double], k: Int,
      warm: Seq[PassOut]): RunResult = {
    val plainWall = plain.map(_.wallS).sum / plain.size
    val res = Layers.compute(traced.traces, tracer)
    val tot = Layers.totals(res.perOp.map(_._2))
    val derived = Map(
      "executor.core_util" -> tot("executor.task_run_s") / (traced.wallS * k),
      "trace.overhead_s" -> (traced.wallS - plainWall))
    val all = tot ++ kernels ++ derived
    val metrics = Layers.Metrics.map { case (n, u, _) => (n, u, all(n)) }

    val bad = res.perOp.collect { case (o, m) if !selfCheck(o, m,
      res.spans.filter(s => s.exec == o.exec && s.kind == "job")) => o.exec }
    if (bad.nonEmpty) System.err.println(s"[perfbench] self-check failed for ${bad.mkString(", ")}")

    val lines = res.spans.map(s => ("kind" -> "span") ~ ("exec" -> s.exec) ~
      ("id" -> s.id) ~ ("parent" -> s.parent) ~ ("span" -> s.kind) ~
      ("name" -> s.name) ~ ("start_ms" -> s.start) ~ ("end_ms" -> s.end)) ++
      res.perOp.map { case (o, m) => ("kind" -> "op") ~
        ("workload" -> wl.name) ~ ("seed" -> seed) ~ ("query" -> o.query) ~
        ("exec" -> o.exec) ~ ("ok" -> o.ok) ~
        ("wall_s" -> (o.end - o.start) / 1000.0) ~ ("outer_wall_s" -> o.outerMs / 1000.0) ~
        ("layers" -> numbers(m.toSeq.sortBy(_._1)))
      } :+ (("kind" -> "run") ~ ("workload" -> wl.name) ~ ("seed" -> seed) ~
        ("untraced_wall_s" -> plain.map(_.wallS)) ~ ("traced_wall_s" -> traced.wallS) ~
        ("self_check_failures" -> bad) ~ ("layers" -> values(metrics)))
    Harness.writeString(out.resolve(s"${wl.name}-seed$seed-trace.jsonl"),
      lines.map(json).mkString("", "\n", "\n"))

    val ops = (warm ++ plain :+ traced).flatMap(_.ops)
    RunResult(line(ops, metrics, bad.isEmpty), json(("workload" -> wl.name) ~
      ("seed" -> seed) ~ ("trace" -> 1) ~ ("cores" -> k) ~
      ("untraced_wall_s" -> plain.map(_.wallS)) ~ ("traced_wall_s" -> traced.wallS) ~
      ("self_check_failures" -> bad) ~ ("metrics" -> values(metrics))))
  }
}
