package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftops.GraftInternal
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Scalar math shared by interpreted eval and generated code. Mirrors
  * odin_common/src/geo.rs:167 `haversine_distance` (same asin-form
  * great-circle formula, Math.pow kept so results bit-match the composed
  * `functions._` expression tree used by the DuckDB oracles).
  */
object GeoMath {
  def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val rl1 = Math.toRadians(lat1)
    val rl2 = Math.toRadians(lat2)
    val a = Math.min(1.0,
      Math.pow(Math.sin((rl2 - rl1) / 2), 2)
        + Math.cos(rl1) * Math.cos(rl2)
        * Math.pow(Math.sin((Math.toRadians(lon2) - Math.toRadians(lon1)) / 2), 2))
    12742.0 * Math.asin(Math.sqrt(a))
  }

  /** WGS84 ellipsoidal (geodesic) distance — Vincenty inverse, mirroring
    * the reference's `GeoLine::geodesic_distance` (odin_common/src/geo.rs:173)
    * which the spherical haversine misses by up to ~0.5% on long /
    * high-latitude tracks. Runs a FIXED 8 lambda iterations with no early
    * exit so the evaluation order is identical to the unrolled-CTE DuckDB
    * oracle (determinism over a data-dependent break; 8 rounds converge to
    * far below a millimetre everywhere except the near-antipodal singular
    * band, where both engines still agree with each other by construction).
    */
  def vincentyKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val a = 6378137.0
    val b = 6356752.314245
    val f = 1.0 / 298.257223563
    val ll = Math.toRadians(lon2) - Math.toRadians(lon1)
    val u1 = Math.atan((1 - f) * Math.tan(Math.toRadians(lat1)))
    val u2 = Math.atan((1 - f) * Math.tan(Math.toRadians(lat2)))
    val su1 = Math.sin(u1); val cu1 = Math.cos(u1)
    val su2 = Math.sin(u2); val cu2 = Math.cos(u2)
    var lam = ll
    var sinsig = 0.0; var cossig = 0.0; var sig = 0.0
    var cos2a = 0.0; var cos2sm = 0.0
    var i = 0
    while (i < 8) {
      val sinlam = Math.sin(lam); val coslam = Math.cos(lam)
      sinsig = Math.sqrt(Math.pow(cu2 * sinlam, 2)
        + Math.pow(cu1 * su2 - su1 * cu2 * coslam, 2))
      cossig = su1 * su2 + cu1 * cu2 * coslam
      sig = Math.atan2(sinsig, cossig)
      val sina = if (sinsig == 0) 0.0 else cu1 * cu2 * sinlam / sinsig
      cos2a = 1 - sina * sina
      cos2sm = if (cos2a == 0) 0.0 else cossig - 2 * su1 * su2 / cos2a
      val cc = f / 16 * cos2a * (4 + f * (4 - 3 * cos2a))
      lam = ll + (1 - cc) * f * sina *
        (sig + cc * sinsig * (cos2sm + cc * cossig * (-1 + 2 * cos2sm * cos2sm)))
      i += 1
    }
    val usq = cos2a * (a * a - b * b) / (b * b)
    val bigA = 1 + usq / 16384 * (4096 + usq * (-768 + usq * (320 - 175 * usq)))
    val bigB = usq / 1024 * (256 + usq * (-128 + usq * (74 - 47 * usq)))
    val dsig = bigB * sinsig * (cos2sm + bigB / 4 * (cossig * (-1 + 2 * cos2sm * cos2sm)
      - bigB / 6 * cos2sm * (-3 + 4 * sinsig * sinsig) * (-3 + 4 * cos2sm * cos2sm)))
    b * bigA * (sig - dsig) / 1000.0
  }
}

/** Codegen-native haversine: one fused call inside whole-stage codegen
  * instead of a 15-node expression tree. Null-intolerant quaternary.
  */
case class HaversineKm(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable
  override def prettyName: String = "haversine_km"

  override protected def nullSafeEval(lat1: Any, lon1: Any, lat2: Any, lon2: Any): Any =
    GeoMath.haversineKm(lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      lat2.asInstanceOf[Double], lon2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.GeoMath.haversineKm($a, $b, $c, $d);")

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): HaversineKm =
    copy(first = a, second = b, third = c, fourth = d)
}

/** Codegen-native WGS84 geodesic distance (Vincenty inverse): the whole
  * fixed-iteration solve is one fused call inside whole-stage codegen.
  */
case class GeodesicKm(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable || fourth.nullable
  override def prettyName: String = "geodesic_km"

  override protected def nullSafeEval(lat1: Any, lon1: Any, lat2: Any, lon2: Any): Any =
    GeoMath.vincentyKm(lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      lat2.asInstanceOf[Double], lon2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.GeoMath.vincentyKm($a, $b, $c, $d);")

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): GeodesicKm =
    copy(first = a, second = b, third = c, fourth = d)
}

object GeoFunctions {
  private def toDouble(exprs: Seq[Expression]): Seq[Expression] =
    exprs.map { e =>
      if (e.dataType == DoubleType) e else Cast(e, DoubleType)
    }

  /** Coerce any numeric input (SQL literals parse as Decimal). */
  def ofAny(exprs: Seq[Expression]): HaversineKm = {
    val d = toDouble(exprs)
    HaversineKm(d(0), d(1), d(2), d(3))
  }

  def geodesicOfAny(exprs: Seq[Expression]): GeodesicKm = {
    val d = toDouble(exprs)
    GeodesicKm(d(0), d(1), d(2), d(3))
  }

  /** Column-API form. */
  def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    GraftInternal.column(ofAny(Seq(lat1, lon1, lat2, lon2).map(GraftInternal.expr)))

  def geodesic_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    GraftInternal.column(geodesicOfAny(Seq(lat1, lon1, lat2, lon2).map(GraftInternal.expr)))

  /** SQL registration: SELECT haversine_km(...) / geodesic_km(...). */
  def register(spark: SparkSession): Unit =
    SqlFunctions.register(spark, SqlFunctions.geo)
}
