package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: `GraftSession` at 8 cores, the
  * settings `Bench` times. One session per JVM (Test/fork := true gives
  * the whole test run a single forked JVM; getOrCreate dedups).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(cpus = 8)
  val sf: String = "/root/testdata/sf0.001"

  def run(name: String) = SparkEntry.queries(name)(spark, sf)
}
