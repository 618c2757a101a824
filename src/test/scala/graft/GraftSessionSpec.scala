package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `GraftSession` is the one session definition: its settings hold on the
  * shared spec session, a setting that did not take effect fails loudly
  * and by name, no other `src/main` file builds a session, and the
  * settings are the ones perfbench's harness times.
  */
class GraftSessionSpec extends SparkSpecBase {

  test("every GraftSession setting reads back on the built session") {
    assert(spark.sparkContext.master == "local[8]")
    GraftSession.settings(8).foreach { case (k, v) =>
      assert(GraftSession.live(spark, k) == v, s"setting $k")
    }
  }

  test("the static-setting check names the setting whose live value differs") {
    // getOrCreate returns the shared session, whose static SQL settings
    // are fixed at its creation: the differing one is named
    val static = intercept[IllegalArgumentException](
      GraftSession(cpus = 8,
        extra = Seq("spark.sql.codegen.cache.maxEntries" -> "100")))
    assert(static.getMessage ==
      "requirement failed: session setting spark.sql.codegen.cache.maxEntries " +
        "is 2000, expected 100")
    // core settings are read from the running SparkContext
    val cores = intercept[IllegalArgumentException](
      GraftSession.check(spark, Seq("spark.master" -> "local[3]")))
    assert(cores.getMessage.endsWith(
      "session setting spark.master is local[8], expected local[3]"))
    val unset = intercept[IllegalArgumentException](
      GraftSession.check(spark, Seq("spark.driver.maxResultSize" -> "32g")))
    assert(unset.getMessage.endsWith(
      "session setting spark.driver.maxResultSize is unset, expected 32g"))
  }

  test("no src/main file but GraftSession.scala builds a SparkSession") {
    assert(builderSites(Paths.get("src/main")) ==
      Seq(Paths.get("src/main/scala/graft/GraftSession.scala")))
  }

  test("GraftSession's settings are perfbench.Harness.settings(k), key for key") {
    val src = Files.readString(Paths.get("perfbench/src/perfbench/Harness.scala"))
    val block = src.substring(src.indexOf("def settings(k: Int)"))
      .split("\n\n", 2).head
    val pair = "\"([^\"]+)\" -> (?:\"([^\"]*)\"|k\\.toString)".r
    val harness = pair.findAllMatchIn(block).map { m =>
      m.group(1) -> Option(m.group(2)).getOrElse("8")
    }.toSeq
    assert(harness.nonEmpty)
    assert(harness.toMap == GraftSession.settings(8).toMap)
    assert(harness.size == GraftSession.settings(8).size)
  }

  /** The `.scala` files under `root` that call `SparkSession.builder`. */
  def builderSites(root: Path): Seq[Path] = {
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .toSeq.sorted
    finally files.close()
  }
}
