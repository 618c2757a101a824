package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** Review tool behind PlanSweepSpec's allowlist: for every query whose
  * physical plan contains a BroadcastNestedLoopJoin, print the broadcast
  * (build) side's subtree — one line per BNLJ — so the allowlist's four
  * categories can be (re-)derived from evidence, not memory. Any new
  * allowlist entry must come with this tool's line for it.
  * Run: Test/runMain graft.PlanDumpTool
  */
object PlanDumpTool {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(cpus = 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.executedPlan
        def walk(p: SparkPlan): Unit = p.foreach {
          case b: BroadcastNestedLoopJoinExec =>
            val side = b.buildSide.toString
            val build = if (side.contains("Right")) b.right else b.left
            // one-line summary: the top 6 operator names of the build side
            val ops = build.collect { case n => n.nodeName }.take(6)
            println(s"$name\t$side\t${ops.mkString(" <- ")}")
          case _ =>
        }
        walk(plan)
      } catch { case e: Throwable => println(s"$name\tERROR\t$e") }
    }
    spark.stop()
  }
}
