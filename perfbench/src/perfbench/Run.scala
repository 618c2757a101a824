package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import Harness._

/** One pass over a workload: every member once, in the given order.
  * `wallS` covers the operations, not the harness's GC between them.
  */
final case class PassOut(wallS: Double, ops: Seq[OpOutcome],
    timed: Seq[OpOutcome], traces: Seq[OpTrace], events: Long,
    streamIds: Seq[String])

/** Runs the members of one workload kind. `prepare` is part of set-up. */
trait Runner {
  def prepare(spark: SparkSession): Unit
  /** @param tag     execution-id prefix of the pass
    * @param tracing keep each operation's [[OpTrace]] for the traced run
    */
  def pass(spark: SparkSession, order: Seq[String], tag: String,
      tracing: Boolean): PassOut
  /** Warm-up runs before the timed phase (the stream warms up inside each
    * monitor's first batch instead).
    */
  def warmUpPass: Boolean
}

/** `Harness run <workload> <seed> <seconds> <trace> <dataDir> <outDir>` */
object Run {
  def apply(args: Array[String]): Int = {
    val Array(wlName, seedS, secondsS, traceS, data, outDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val wl = Workloads.load(Root.resolve("workloads.json")).getOrElse(wlName,
      throw new IllegalArgumentException(s"unknown workload $wlName"))
    val expected = Expected.load(Root.resolve("expected.tsv"))
    val out = Paths.get(outDir)
    val scratch = out.resolve("scratch")
    val k = cores
    val runner: Runner =
      if (wl.isStream) new StreamRunner(wl, expected, data, scratch)
      else new BatchRunner(wl, expected, data)

    // set-up, timed from JVM start: the session, every table read, the
    // workload's inputs, and the warm-up query graft.Bench also runs
    val t0 = jvmStartMs
    val spark = newSession(k, scratch)
    val t1 = System.currentTimeMillis()
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").count())
    val t2 = System.currentTimeMillis()
    runner.prepare(spark)
    val t3 = System.currentTimeMillis()
    val w = Fingerprint.of(queryMap("q1_agg")(spark, data))
    val t4 = System.currentTimeMillis()
    val setupS = (t4 - t0) / 1000.0
    System.err.println(s"[perfbench] setup $setupS s: JVM start to session ${t1 - t0} ms, tables ${t2 - t1} ms, prepare ${t3 - t2} ms, warm-up ${t4 - t3} ms")
    expected.check("q1_agg", w).foreach(e => System.err.println(s"[perfbench] warm-up: $e"))
    dropLeftovers(spark)

    val rnd = new scala.util.Random(seed)
    def order(): Seq[String] = rnd.shuffle(wl.members)
    val warm =
      if (runner.warmUpPass) Seq(runner.pass(spark, order(), "warm", tracing = false))
      else Nil

    val result = if (!trace) {
      // at least minPasses timed passes, then more until `seconds` is used
      val done = Seq.newBuilder[PassOut]
      var n = 0
      var elapsed = 0.0
      while (n < wl.minPasses || elapsed < seconds) {
        n += 1
        val p = runner.pass(spark, order(), s"p$n", tracing = false)
        System.err.println(f"[perfbench] pass $n ${p.wallS}%.3f s")
        done += p
        elapsed += p.wallS
      }
      val heap = heapRetainedMb()
      Metrics.endToEnd(wl, seed, setupS, done.result(), heap, warm)
    } else {
      // the traced pass sits between two untraced passes of the same order,
      // so later passes running on a warmer JIT do not bias the overhead
      val o = order()
      val before = runner.pass(spark, o, "untraced1", tracing = false)
      val tracer = new Tracer(spark)
      tracer.attach()
      val traced = try {
        val p = runner.pass(spark, o, "traced", tracing = true)
        tracer.drain(p.streamIds)
        p
      } finally tracer.detach()
      val after = runner.pass(spark, o, "untraced2", tracing = false)
      val kernels = Kernels.measure(spark, data)
      Metrics.perLayer(wl, seed, out, tracer, Seq(before, after), traced, kernels, k, warm)
    }
    stopSession(spark)
    deleteTree(scratch)
    writeString(out.resolve(s"$wlName-seed$seed-trace${traceS}.json"), result.detail)
    println(result.line)
    0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}
