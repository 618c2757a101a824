package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's public listeners report, times in epoch milliseconds. */
final case class JobRec(id: Int, group: String, start: Long, end: Long,
    stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, submit: Long, complete: Long,
    tasks: Int)
final case class TaskRec(stage: Int, id: Long, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long)
final case class QeRec(func: String, start: Long, end: Long,
    phases: Map[String, Double], planNodes: Int, ok: Boolean)
final case class ProgressRec(queryId: String, at: Long,
    durationMs: Map[String, Long], stateRows: Long, stateMem: Long)

/** The traced run's listeners: [[SparkListener]] for jobs, stages and
  * tasks, [[QueryExecutionListener]] for Catalyst phases and plan size,
  * and [[StreamingQueryListener]] for micro-batch progress. They only
  * collect records; [[Layers]] turns them into spans and metrics.
  */
final class Tracer(spark: SparkSession) {
  private val openJobs = new ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val terminated = ConcurrentHashMap.newKeySet[String]()
  private val sentinels = ConcurrentHashMap.newKeySet[String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      openJobs.put(e.jobId, (group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (g, t0, st) =>
        jobs.add(JobRec(e.jobId, g, t0, e.time, st))
        if (g.startsWith(Tracer.SentinelPrefix)) sentinels.add("job:" + g)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, info.taskId,
        info.launchTime, info.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled))
    }
  }

  private def qeRec(func: String, qe: QueryExecution, ok: Boolean): QeRec = {
    val ph = qe.tracker.phases
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    QeRec(func,
      if (starts.isEmpty) System.currentTimeMillis() else starts.min,
      if (ends.isEmpty) System.currentTimeMillis() else ends.max,
      ph.map { case (k, v) => k -> v.durationMs / 1000.0 },
      scala.util.Try(qe.optimizedPlan.collect { case p => p }.size).getOrElse(0),
      ok)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      val out = scala.util.Try(qe.analyzed.output.map(_.name)).getOrElse(Nil)
      out.find(_.startsWith(Tracer.SentinelPrefix)) match {
        case Some(s) => sentinels.add("qe:" + s)
        case None => qes.add(qeRec(func, qe, ok = true))
      }
    }
    override def onFailure(func: String, qe: QueryExecution,
        ex: Exception): Unit = qes.add(qeRec(func, qe, ok = false))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(p.id.toString, System.currentTimeMillis(),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.id.toString)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private var drains = 0

  /** Wait until the listener bus has delivered everything posted so far:
    * run one tiny tagged query and wait for both its job and its query
    * execution to arrive, and for every stream in `streamIds` to report
    * termination.
    */
  def drain(streamIds: Seq[String] = Nil, timeoutMs: Long = 60000L): Unit = {
    drains += 1
    val tag = s"${Tracer.SentinelPrefix}$drains"
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try spark.range(1).toDF(tag).collect()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!(sentinels.contains("job:" + tag) && sentinels.contains("qe:" + tag) &&
        streamIds.forall(terminated.contains)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    require(System.currentTimeMillis() < deadline,
      "listener bus did not drain within the timeout")
  }
}

object Tracer {
  val SentinelPrefix = "perfbench_drain_"
}
