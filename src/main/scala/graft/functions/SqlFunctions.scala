package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's SQL functions, each stated once: `graft.GraftExtensions`
  * injects all of them into every session of a context started with
  * `spark.sql.extensions=graft.GraftExtensions`, and
  * `GeoFunctions.register` / `TextFunctions.register` add their family
  * to one existing session. The text kernels take their default
  * parameters.
  */
object SqlFunctions {
  type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Fn =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val geo: Seq[Fn] = Seq(
    fn("haversine_km", classOf[HaversineKm])(GeoFunctions.ofAny),
    fn("geodesic_km", classOf[GeodesicKm])(GeoFunctions.geodesicOfAny))

  val text: Seq[Fn] = Seq(
    fn("minhash_signature", classOf[MinHashSignature])(
      es => MinHashSignature(es.head, 20, 4, 32)),
    fn("simhash64", classOf[SimHash64])(es => SimHash64(es.head)),
    fn("winnow_fingerprints", classOf[WinnowFingerprints])(
      es => WinnowFingerprints(es.head, 20, 5)))

  val all: Seq[Fn] = geo ++ text

  def register(spark: SparkSession, fns: Seq[Fn]): Unit =
    fns.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
