package graft

import graft.functions.TopK
import graft.plans.{AsOfJoinStrategy, HaversineBBoxRule, RangeJoinStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class ExtensionsSpec extends SparkSpecBase {

  test("GraftExtensions injections apply cleanly; SQL function works") {
    // a session of its own, built with the extension; the shared session
    // stays the active and default one for the other specs
    val s2 = SparkSession.builder().withExtensions(new GraftExtensions).create()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    // injected strategies, not the per-call experimental registration
    val planner = s2.sessionState.planner.extraPlanningStrategies
    assert(planner.contains(AsOfJoinStrategy))
    assert(planner.contains(RangeJoinStrategy))
    assert(s2.sessionState.optimizer.batches.flatMap(_.rules)
      .contains(HaversineBBoxRule))
    val text = "'the quick brown fox jumps over the lazy dog again'"
    val row = s2.sql(s"""
      SELECT round(haversine_km(37.77, -122.42, 34.05, -118.24), 1) AS km,
             round(geodesic_km(37.77, -122.42, 34.05, -118.24), 1) AS gkm,
             size(minhash_signature($text)) AS nsig,
             simhash64($text) AS sh,
             size(winnow_fingerprints($text)) AS nfp""").head
    assert(math.abs(row.getDouble(0) - 559.1) < 1.0, s"got $row") // SF -> LA
    assert(math.abs(row.getDouble(1) - row.getDouble(0)) < 5.0, s"got $row")
    assert(row.getInt(2) == 32)
    assert(row.getLong(3) != 0L)
    assert(row.getInt(4) >= 1)
  }

  test("text kernels are SQL-callable after registration") {
    val s2 = spark.newSession()
    graft.functions.TextFunctions.register(s2)
    val row = s2.sql("""
      SELECT simhash64('the quick brown fox jumps over the lazy dog') AS sh,
             size(minhash_signature('the quick brown fox jumps over the lazy dog')) AS nsig,
             size(winnow_fingerprints('the quick brown fox jumps over the lazy dog again')) AS nfp
    """).head
    assert(row.getLong(0) != 0L)
    assert(row.getInt(1) == 32)
    assert(row.getInt(2) >= 1)
  }

  test("TopK aggregator matches window row_number top-k") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("value"), col("event_id"))
      .as[(Long, Double, Long)]
    val agg = ev.map { case (u, v, id) => (u, (v, id)) }
      .groupByKey(_._1).mapValues(_._2)
      .agg(TopK(5).toColumn.name("topk"))
      .collect().toMap
    val expected = run("ts_topn_per_key").collect()
      .groupBy(_.getAs[Long]("user_id"))
    expected.foreach { case (uid, rows) =>
      val want = rows.sortBy(_.getAs[Int]("rn"))
        .map(r => (r.getAs[Double]("value"), r.getAs[Long]("event_id"))).toSeq
      assert(agg(uid) == want, s"user $uid: ${agg(uid)} != $want")
    }
  }
}
