package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts and the stages it runs (a stage
  * whose shuffle output already exists is skipped and not counted). The
  * block runs under its own job group. Listener events arrive
  * asynchronously, so a marker job runs after the block: one listener
  * queue delivers events in order, so once the marker's start is seen,
  * every job and stage the block started has been seen.
  */
object JobCount {
  final case class Counts(jobs: Int, stages: Int)

  def of(spark: SparkSession)(block: => Any): Counts = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${UUID.randomUUID}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.jobGroup.id"))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties).contains(group)) stages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      try block finally sc.clearJobGroup()
      sc.setJobGroup(marker, "job-count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(markerSeen.await(60, TimeUnit.SECONDS),
        "the marker job never reached the listener")
      Counts(jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }
}
