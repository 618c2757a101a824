package graft

/** Dumps the physical plan of each (or one named) query for scale review:
  * shuffle count, broadcast usage, pushdown, codegen spans.
  * Usage: runMain graft.PlanAudit [queryName] [sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty && args(0) != "all") Seq(args(0))
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(cpus = 8)
    // static plans: show the exchanges/codegen AQE would defer
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size
      val bcasts = plan.toString
      println(s"== $n: shuffles=$shuffles broadcast=${bcasts.contains("Broadcast")} " +
        s"codegen=${bcasts.contains("*(")}")
      if (args.nonEmpty && args(0) != "all") df.explain("formatted")
    }
    spark.stop()
  }
}
