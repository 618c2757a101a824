package perfbench

import scala.jdk.CollectionConverters._

/** One operation as the harness timed it in the traced pass, times in
  * epoch milliseconds. `buildEnd` splits the graft builder call from the
  * action; a micro-batch has no builder call (`buildEnd == start`).
  */
final case class OpTrace(exec: String, query: String, start: Double,
    buildEnd: Double, actionEnd: Double, end: Double, outerMs: Double,
    codegenS: Double, codegenClasses: Long, leakedRdds: Int, leakedBytes: Long,
    ok: Boolean, streamId: String = "")

/** A span of the trace: `query → build | action → job → stage → task`,
  * every span of one operation carrying its execution id.
  */
final case class Span(exec: String, id: String, parent: String, kind: String,
    name: String, start: Double, end: Double)

/** Per-layer metrics: their names, units and which way is better. */
object Layers {
  val Metrics: Seq[(String, String, String)] = Seq(
    ("operators.build_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("action.s", "s", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("catalyst.actions", "count", "lower"),
    ("catalyst.plan_nodes_max", "count", "lower"),
    ("codegen.compile_s", "s", "lower"),
    ("codegen.classes", "count", "lower"),
    ("scheduler.jobs", "count", "lower"),
    ("scheduler.stages", "count", "lower"),
    ("scheduler.tasks", "count", "lower"),
    ("driver.self_s", "s", "lower"),
    ("executor.task_run_s", "s", "lower"),
    ("executor.task_cpu_s", "s", "lower"),
    ("executor.gc_s", "s", "lower"),
    ("executor.core_util", "ratio", "higher"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.spill_bytes", "bytes", "lower"),
    ("shuffle.read_skew", "ratio", "lower"),
    ("storage.leaked_rdds", "count", "lower"),
    ("storage.leaked_bytes", "bytes", "lower"),
    ("functions.haversine_ns", "ns", "lower"),
    ("functions.char_windows_ns", "ns", "lower"),
    ("functions.png_decode_ns", "ns", "lower"),
    ("functions.phash64_ns", "ns", "lower"),
    ("functions.cnn2_ns", "ns", "lower"),
    ("functions.sgp4_ns", "ns", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.planning_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.commit_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_bytes", "bytes", "lower"),
    ("trace.overhead_s", "s", "lower"))

  /** Layers whose run value is the maximum over operations, not the sum. */
  private val MaxOver = Set("catalyst.plan_nodes_max", "shuffle.read_skew")

  final case class Result(perOp: Seq[(OpTrace, Map[String, Double])],
      spans: Seq[Span])

  /** Attribute every record to the operation it ran in. Jobs go to the
    * operation whose interval holds their start (one client thread, so
    * operations never overlap); stages and tasks follow their job;
    * query executions follow their first planning phase; stream progress
    * follows its stream and arrival time.
    */
  def compute(ops: Seq[OpTrace], t: Tracer): Result = {
    val sorted = ops.sortBy(_.start)
    def opAt(ms: Double): Option[OpTrace] =
      sorted.takeWhile(_.start <= ms + 0.5).lastOption.filter(o => ms <= o.end + 0.5)

    val jobs = t.jobs.asScala.toSeq
      .filterNot(_.group.startsWith(Tracer.SentinelPrefix)).sortBy(_.id)
    val jobOp = jobs.flatMap(j => opAt(j.start.toDouble).map(j -> _))
    val stageJob = jobOp.flatMap { case (j, o) => j.stages.map(_ -> (j, o)) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.head._2 }
    val stagesRan = t.stages.asScala.toSeq.filter(s => stageJob.contains(s.id))
    val tasks = t.tasks.asScala.toSeq.filter(x => stageJob.contains(x.stage))
    val qeOp = t.qes.asScala.toSeq.flatMap(q => opAt(q.start.toDouble).map(q -> _))
    val progOp = t.progress.asScala.toSeq.flatMap { p =>
      sorted.filter(_.streamId == p.queryId)
        .takeWhile(_.start <= p.at + 0.5).lastOption.map(p -> _)
    }

    val perOp = sorted.map { o =>
      val js = jobOp.collect { case (j, oo) if oo eq o => j }
      val ss = stagesRan.filter(s => stageJob(s.id)._2 eq o)
      val ts = tasks.filter(x => stageJob(x.stage)._2 eq o)
      val qs = qeOp.collect { case (q, oo) if oo eq o => q }
      val ps = progOp.collect { case (p, oo) if oo eq o => p }
      val wallS = (o.end - o.start) / 1000.0
      val taskUnion = Stats.unionLength(Stats.clip(
        ts.map(x => (x.launch, x.finish)), o.start.toLong, math.ceil(o.end).toLong))
      val skew = ts.groupBy(_.stage).values
        .map(xs => Stats.readSkew(xs.map(_.shuffleRead))).foldLeft(0.0)(math.max)
      def phase(n: String) = qs.map(_.phases.getOrElse(n, 0.0)).sum
      def dur(k: String*) = ps.map(p => k.map(p.durationMs.getOrElse(_, 0L)).sum).sum / 1000.0
      // state size is a level, not a flow: report it once per stream, on
      // its last operation, so run totals sum the monitors' final state
      val lastOfStream = o.streamId.nonEmpty &&
        sorted.filter(_.streamId == o.streamId).last.eq(o)
      val last = progOp.collect { case (p, _) if p.queryId == o.streamId => p }
        .sortBy(_.at).lastOption.filter(_ => lastOfStream)
      o -> Map(
        "operators.build_s" -> (o.buildEnd - o.start) / 1000.0,
        "operators.build_jobs" -> js.count(_.start <= o.buildEnd + 0.5).toDouble,
        "action.s" -> (o.actionEnd - o.buildEnd) / 1000.0,
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "catalyst.actions" -> qs.size.toDouble,
        "catalyst.plan_nodes_max" -> qs.map(_.planNodes).foldLeft(0)(math.max).toDouble,
        "codegen.compile_s" -> o.codegenS,
        "codegen.classes" -> o.codegenClasses.toDouble,
        "scheduler.jobs" -> js.size.toDouble,
        "scheduler.stages" -> ss.size.toDouble,
        "scheduler.tasks" -> ts.size.toDouble,
        "driver.self_s" -> math.max(0.0, wallS - taskUnion / 1000.0),
        "executor.task_run_s" -> ts.map(_.runMs).sum / 1000.0,
        "executor.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "executor.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "shuffle.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "shuffle.read_skew" -> skew,
        "storage.leaked_rdds" -> o.leakedRdds.toDouble,
        "storage.leaked_bytes" -> o.leakedBytes.toDouble,
        "streaming.trigger_s" -> dur("triggerExecution"),
        "streaming.planning_s" -> dur("queryPlanning"),
        "streaming.add_batch_s" -> dur("addBatch"),
        "streaming.commit_s" -> dur("walCommit", "commitOffsets", "commitBatch"),
        "streaming.state_rows" -> last.map(_.stateRows.toDouble).getOrElse(0.0),
        "streaming.state_mem_bytes" -> last.map(_.stateMem.toDouble).getOrElse(0.0))
    }
    Result(perOp, spans(sorted, jobOp, stagesRan, stageJob, tasks))
  }

  private def spans(ops: Seq[OpTrace], jobOp: Seq[(JobRec, OpTrace)],
      stagesRan: Seq[StageRec], stageJob: Map[Int, (JobRec, OpTrace)],
      tasks: Seq[TaskRec]): Seq[Span] = {
    val opSpans = ops.flatMap { o =>
      Seq(Span(o.exec, o.exec, "", "query", o.query, o.start, o.end)) ++
        (if (o.buildEnd > o.start)
          Seq(Span(o.exec, o.exec + "/build", o.exec, "build", o.query, o.start, o.buildEnd))
        else Nil) :+
        Span(o.exec, o.exec + "/action", o.exec, "action", o.query, o.buildEnd, o.actionEnd)
    }
    val jobSpans = jobOp.map { case (j, o) =>
      val phase = if (j.start <= o.buildEnd + 0.5 && o.buildEnd > o.start) "build" else "action"
      Span(o.exec, s"${o.exec}/job${j.id}", s"${o.exec}/$phase", "job",
        s"job ${j.id}", j.start.toDouble, j.end.toDouble)
    }
    val stageSpans = stagesRan.map { s =>
      val (j, o) = stageJob(s.id)
      Span(o.exec, s"${o.exec}/stage${s.id}", s"${o.exec}/job${j.id}",
        "stage", s"stage ${s.id}", s.submit.toDouble, s.complete.toDouble)
    }
    val taskSpans = tasks.map { x =>
      val (_, o) = stageJob(x.stage)
      Span(o.exec, s"${o.exec}/task${x.id}", s"${o.exec}/stage${x.stage}", "task",
        s"task ${x.id}", x.launch.toDouble, x.finish.toDouble)
    }
    opSpans ++ jobSpans ++ stageSpans ++ taskSpans
  }

  /** Run totals: sums, except the maxima named in [[MaxOver]]. */
  def totals(perOp: Seq[Map[String, Double]]): Map[String, Double] =
    perOp.flatMap(_.toSeq).groupBy(_._1).map { case (k, vs) =>
      k -> (if (MaxOver(k)) vs.map(_._2).max else vs.map(_._2).sum)
    }
}
