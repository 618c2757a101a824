package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** `Tables.t` keeps one resolved relation per session, file version and
  * read settings, and hands each call a copy with fresh attribute ids.
  */
class TablesSpec extends SparkSpecBase {

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  private def withNanosAsLong[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("two reads of one file share a relation, get disjoint attribute ids and self-join") {
    val a = Tables.t(spark, sf, "nation")
    val b = Tables.t(spark, sf, "nation")
    assert(relationOf(a) eq relationOf(b))
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val j = a.join(b, a("n_regionkey") === b("n_regionkey"))
    assert(j.count() == a.groupBy("n_regionkey").count()
      .collect().map(r => r.getLong(1) * r.getLong(1)).sum)
  }

  test("a rewritten file (new length) is listed again") {
    val dir = Files.createTempDirectory("graft-tables")
    val target = dir.resolve("t.parquet")
    try {
      Files.copy(Paths.get(s"$sf/region.parquet"), target)
      val first = relationOf(Tables.t(spark, dir.toString, "t"))
      assert(first.location.sizeInBytes == Files.size(target))
      Files.copy(Paths.get(s"$sf/nation.parquet"), target,
        StandardCopyOption.REPLACE_EXISTING)
      assert(Files.size(target) != first.location.sizeInBytes)
      val reread = Tables.t(spark, dir.toString, "t")
      assert(relationOf(reread).location.sizeInBytes == Files.size(target))
      assert(reread.count() == spark.read.parquet(s"$sf/nation.parquet").count())
    } finally {
      Files.deleteIfExists(target)
      Files.deleteIfExists(dir)
    }
  }

  test("a different nanosAsLong setting gets its own relation") {
    val on = withNanosAsLong(true)(relationOf(Tables.t(spark, sf, "events")))
    val off = withNanosAsLong(false)(relationOf(Tables.t(spark, sf, "events")))
    assert(!(on eq off))
    assert(withNanosAsLong(true)(relationOf(Tables.t(spark, sf, "events"))) eq on)
  }

  test("no entry survives its session's stop") {
    // a fresh JVM: stopping this one's session would end the other specs'
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val out = (Seq(java, "-Xmx1g", "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.TablesStopProbe", sf)).!!
    val counts = out.linesIterator.collect {
      case s"entries$k=$v" if k.isEmpty || k == "_after_stop" => s"entries$k" -> v.trim.toInt
    }.toMap
    assert(counts("entries") == 2, out)
    assert(counts("entries_after_stop") == 0, out)
  }
}

/** Run in a fresh JVM by TablesSpec: reads two tables through `Tables.t`,
  * stops the session and reports the relation entries before and after.
  */
object TablesStopProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(cpus = 1)
    Tables.t(spark, args(0), "region")
    Tables.t(spark, args(0), "nation")
    println(s"entries=${Tables.relations.size}")
    spark.stop()
    println(s"entries_after_stop=${Tables.relations.size}")
  }
}
