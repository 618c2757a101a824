package perfbench

import java.nio.file.Paths

import org.json4s.JsonDSL._

import Harness._

/** `Harness survey <dataDir> <outFile>`: one warm-up pass and one traced
  * pass over every registered query, writing each query's per-layer numbers as one JSON line. Outputs are
  * not checked. `tools/baseline.py` turns the file into the baseline
  * tables.
  */
object Survey {
  def apply(args: Array[String]): Int = {
    val data = args(0)
    val out = Paths.get(args(1))
    val names = queryMap.keys.toSeq.sorted
    val scratch = out.toAbsolutePath.getParent.resolve("survey-scratch")
    val wl = Workload("survey", "batch", names, 1, 0)
    val spark = newSession(cores, scratch)
    val runner = new BatchRunner(wl, Expected.none, data)
    runner.pass(spark, names, "warm", tracing = false)
    val tracer = new Tracer(spark)
    tracer.attach()
    val traced = try {
      val p = runner.pass(spark, names, "traced", tracing = true)
      tracer.drain()
      p
    } finally tracer.detach()
    val res = Layers.compute(traced.traces, tracer)
    writeString(out, res.perOp.map { case (o, m) =>
      Metrics.json(("query" -> o.query) ~ ("ok" -> o.ok) ~
        ("wall_s" -> (o.end - o.start) / 1000.0) ~
        ("layers" -> Metrics.numbers(m.toSeq.sortBy(_._1))))
    }.mkString("", "\n", "\n"))
    stopSession(spark)
    Run.deleteTree(scratch)
    0
  }
}
