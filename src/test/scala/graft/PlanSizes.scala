package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Records the optimized-plan node count (subqueries included) of every
  * action a block runs, localCheckpoint materializations included, in
  * the order the actions finished. Listener events arrive asynchronously,
  * so a marker query runs after the block: one listener queue delivers
  * events in order, so once the marker is seen every action of the block
  * has been recorded.
  */
object PlanSizes {
  def of(spark: SparkSession)(block: => Any): Seq[(String, Int)] = {
    val marker = s"graft-plansize-${UUID.randomUUID}"
    val sizes = new ConcurrentLinkedQueue[(String, Int)]
    val markerSeen = new CountDownLatch(1)
    def record(action: String, qe: QueryExecution): Unit = {
      val plan = qe.optimizedPlan
      if (plan.toString.contains(marker)) markerSeen.countDown()
      else sizes.add(action -> plan.collectWithSubqueries { case p => p }.size)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        record(action, qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        record(action, qe)
    }
    spark.listenerManager.register(listener)
    try {
      block
      spark.sql(s"SELECT '$marker' AS m").collect()
      require(markerSeen.await(60, TimeUnit.SECONDS),
        "the marker query never reached the listener")
      sizes.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }
}
