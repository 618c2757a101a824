package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: clone an sf directory N× with key-shifted replicas so the
  * heavy-tail queries can be timed above the largest driver-provided SF
  * (bench protocol caps at sf0.1; the r4 geo_overpass_tiles band-join
  * defect and the r5 signed-zero bug were both only visible up-SF). Every
  * key column shifts by replica·10^9, so entity counts scale with the
  * data (10× events AND 10× users/docs/orders — per-key history length
  * stays constant, matching how the real feeds grow). Dimension tables
  * nation/region stay fixed, like TPC-H. Values/timestamps are untouched.
  *
  * NOT test data for correctness — the oracle gate only ever runs on the
  * driver's own /root/testdata dirs. This exists for BENCH_NOTES scale
  * sweeps only.
  *
  * Dimension-catalog caveat (three instances found across r8/r9):
  * queries whose synthetic catalog derives from a replicated table
  * (geo_hotspot_footprint and geo_track_bearing from `part`,
  * geo_line_of_sight's stations from `supplier`) scale that catalog with
  * the corpus here, which a production deployment never does — for those,
  * measure against a variant dir whose catalog table is the unscaled
  * original (BENCH_NOTES records each construction).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <factor> [tables]
  * The optional 4th arg (comma list) clones only those tables — for
  * very large factors where only a query family's own tables are
  * needed (e.g. ×1000 events for the density-capped geo monitors).
  */
object ScaleUp {
  private val S = 1000000000L

  def main(args: Array[String]): Unit = {
    val (src, out, k) = (args(0), args(1), args(2).toInt)
    val tablesWanted: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
      else None
    def wanted(n: String): Boolean = tablesWanted.forall(_.contains(n))
    val spark = GraftSession()

    def rep(df: DataFrame, keys: String*): DataFrame = {
      val r = df.withColumn("rep_i", explode(expr(s"sequence(0, ${k - 1})")))
      keys.foldLeft(r) { (d, c) =>
        d.withColumn(c, col(c) + col("rep_i") * S)
      }.drop("rep_i")
    }

    def write(df: => DataFrame, name: String): Unit = if (wanted(name)) {
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name done")
    }

    val t = (n: String) => spark.read.parquet(s"$src/$n.parquet")
    write(rep(t("events"), "event_id", "user_id"), "events")
    write(rep(t("documents"), "doc_id"), "documents")
    write(rep(t("embeddings"), "vec_id"), "embeddings")
    write(rep(t("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    write(rep(t("orders"), "o_orderkey", "o_custkey"), "orders")
    write(rep(t("customer"), "c_custkey"), "customer")
    write(rep(t("supplier"), "s_suppkey"), "supplier")
    write(rep(t("part"), "p_partkey"), "part")
    write(t("nation"), "nation")
    write(t("region"), "region")
    spark.stop()
  }
}
