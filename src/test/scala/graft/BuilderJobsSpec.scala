package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** Builder calls stay cheap: once a table's schema is resolved, building a
  * single-pass query starts no Spark job, and building the query catalog
  * evaluates no oracle.
  */
class BuilderJobsSpec extends SparkSpecBase {
  // perfbench/workloads.json's batch_mix, less its two iterative builders
  // (doc_bpe_train, emb_kmeans), whose driver loops run jobs by design
  private val singlePass = Seq("q1_agg", "q3_join_agg", "q45_window_suite",
    "q10_window_rank", "ts_asof_native", "ts_sessionize", "geo_haversine",
    "emb_cosine_topk", "mm_cnn2_infer", "mm_phash_pairs", "src_grib2_ps",
    "doc_minhash_lsh", "geo_overpass_tiles")

  test("second builder call of each single-pass batch_mix query starts no job") {
    for (name <- singlePass) {
      run(name)
      assert(JobCount.of(spark)(run(name)).jobs == 0, name)
    }
  }

  test("building SparkEntry.queries evaluates no oracle") {
    // a fresh JVM: this one has the catalog's oracles forced by other specs
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val out = (Seq(java, "-Xmx1g") ++ opens ++ Seq("-cp",
      System.getProperty("java.class.path"), "graft.LazyOracleProbe")).!!
    val counts = out.linesIterator.collect {
      case s"$k=$v" => k -> v.trim.toInt
    }.toMap
    assert(counts("queries") > 300)
    assert(counts("forced_after_catalog") == 0, out)
    assert(counts("lazy_vals_forced_after_catalog") == 0, out)
    // the probe sees the fields it checks: oracleSql forces all of them
    assert(counts("forced_after_oracleSql") == counts("queries"), out)
    assert(counts("lazy_vals_forced_after_oracleSql") ==
      counts("lazy_vals"), out)
    assert(counts("lazy_vals") > 10)
  }
}

/** Run in a fresh JVM by BuilderJobsSpec: builds the query catalog, then
  * reports, from the fields behind each lazy value, how many `Q.oracle`s
  * and how many of Multimodal's oracle and lookup-table values were
  * evaluated, before and after `SparkEntry.oracleSql`.
  */
object LazyOracleProbe {
  def main(args: Array[String]): Unit = {
    val n = SparkEntry.queries.size
    val qs = Seq(operators.Relational.defs, operators.TimeSeries.defs,
      operators.Geo.defs, operators.TextOps.defs, operators.Similarity.defs,
      operators.Multimodal.defs).flatten.map(_._2)
    val oracleField = classOf[Q].getDeclaredField("oracle")
    oracleField.setAccessible(true)
    val module = operators.Multimodal.getClass
    val lazyVals = module.getDeclaredFields.toSeq
      .filter(f => f.getName.endsWith("Oracle") || f.getName.endsWith("LutLocal"))
    lazyVals.foreach(_.setAccessible(true))
    def report(when: String): Unit = {
      println(s"forced_$when=${qs.count(q => oracleField.get(q) != null)}")
      println(s"lazy_vals_forced_$when=" +
        lazyVals.count(_.get(operators.Multimodal) != null))
    }
    println(s"queries=$n")
    println(s"lazy_vals=${lazyVals.size}")
    require(qs.size == n, s"${qs.size} defs vs $n queries")
    report("after_catalog")
    SparkEntry.oracleSql
    report("after_oracleSql")
  }
}
