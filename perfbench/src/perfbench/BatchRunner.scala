package perfbench

import org.apache.spark.sql.SparkSession

import Harness._

/** Closed loop, one client: each query's builder call (`SparkEntry.queries`)
  * and its fingerprint action run back to back; the next query starts when
  * the previous result is complete and checked.
  */
final class BatchRunner(wl: Workload, expected: Expected, data: String)
    extends Runner {
  private val queries = queryMap

  def prepare(spark: SparkSession): Unit =
    wl.members.foreach(q => require(queries.contains(q), s"unknown query $q"))

  def warmUpPass: Boolean = true

  def pass(spark: SparkSession, order: Seq[String], tag: String,
      tracing: Boolean): PassOut = {
    val sc = spark.sparkContext
    val runs = order.zipWithIndex.map { case (name, i) =>
      // as in graft.Bench: a full GC between queries keeps one query's
      // garbage out of the next one's timing
      System.gc()
      val exec = s"${wl.name}-$tag-$i-$name"
      val clock = (System.currentTimeMillis(), System.nanoTime())
      sc.setJobGroup(exec, name, interruptOnCancel = false)
      val cg0 = codegenNs
      val cc0 = codegenClasses
      val n0 = System.nanoTime()
      var nBuild = 0L
      var rows = 0L
      val err = try {
        val df = queries(name)(spark, data)
        nBuild = System.nanoTime()
        val fp = Fingerprint.of(df)
        rows = fp.rows
        expected.check(name, fp)
      } catch {
        case t: Throwable => Some(s"$name threw ${t.toString.take(300)}")
      }
      val nAct = System.nanoTime()
      if (nBuild == 0L) nBuild = nAct
      val cg = codegenNs - cg0
      val cc = codegenClasses - cc0
      sc.clearJobGroup()
      val nEnd = System.nanoTime()
      val outerMs = System.currentTimeMillis() - clock._1.toDouble
      val (leakN, leakB) = dropLeftovers(spark)
      err.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
      val op = OpOutcome(name, (nAct - n0) / 1e9, err.isEmpty, rows,
        err.getOrElse(""))
      val tr = OpTrace(exec, name, epochMs(n0, clock), epochMs(nBuild, clock),
        epochMs(nAct, clock), epochMs(nEnd, clock), outerMs, cg / 1e9, cc,
        leakN, leakB, err.isEmpty)
      (op, tr, (nEnd - n0) / 1e9)
    }
    val ops = runs.map(_._1)
    PassOut(runs.map(_._3).sum, ops, ops, if (tracing) runs.map(_._2) else Nil,
      ops.filter(_.ok).map(_.rows).sum, Nil)
  }
}
