package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftops.GraftInternal
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** SGP4 near-earth orbit propagation — the model behind the reference's
  * overpass machinery (odin_orbital/src/orbitinfo.rs:91 and
  * overpass.rs:318 call `sgp4(...)` to generate the ground track that
  * swath coverage and next-overpass prediction consume).
  *
  * This is the published Spacetrack Report #3 / Vallado "Revisiting
  * Spacetrack Report #3" near-earth algorithm (public knowledge, WGS-72
  * constants as the SGP4 standard requires), re-expressed as a pure
  * scalar kernel: mean elements + minutes-since-epoch in, TEME position
  * (km) out. Deep-space (period > 225 min) satellites are out of scope —
  * the reference's imaging constellations are all LEO.
  *
  * Determinism note: the Kepler solve runs a FIXED 10 Newton iterations
  * (no early exit) with the standard 0.95-rad step clamp, same
  * fixed-iteration discipline as GeoMath.vincentyKm.
  */
object OrbitMath {
  private val TwoPi = 2.0 * Math.PI
  // WGS-72 per Spacetrack Report #3
  private val Xke = 0.0743669161 // sqrt(GM) in (earth radii)^1.5 / min
  private val Ck2 = 5.413080e-4 // 0.5 * J2
  private val Ck4 = 0.62098875e-6 // -0.375 * J4
  private val Xkmper = 6378.135 // earth radius, km
  private val Qoms2t = 1.88027916e-9 // (q0 - s)^4, er^4
  private val Sconst = 1.01222928 // ae + 78 km
  private val A3ovk2 = 2.53881e-6 / Ck2 // -J3 / CK2 (ae = 1)

  private def fmod2p(x: Double): Double = {
    var r = x % TwoPi
    if (r < 0) r += TwoPi
    r
  }

  /** Propagate mean elements `tsince` minutes past epoch; returns TEME
    * position [x, y, z] in km.
    *
    * @param n0     mean motion, revolutions per day
    * @param e0     eccentricity
    * @param incDeg inclination, degrees
    * @param raanDeg right ascension of ascending node, degrees
    * @param argpDeg argument of perigee, degrees
    * @param m0Deg  mean anomaly, degrees
    * @param bstar  B* drag term, 1/earth-radii
    * @param tsince minutes since element-set epoch
    */
  def propagateTeme(n0: Double, e0: Double, incDeg: Double, raanDeg: Double,
      argpDeg: Double, m0Deg: Double, bstar: Double, tsince: Double): Array[Double] = {
    val xno = n0 * TwoPi / 1440.0 // rad/min
    val xincl = Math.toRadians(incDeg)
    val xnodeo = Math.toRadians(raanDeg)
    val omegao = Math.toRadians(argpDeg)
    val xmo = Math.toRadians(m0Deg)

    // ---- initialization (STR#3 SGP4, lines 1-70) ----
    val a1 = Math.pow(Xke / xno, 2.0 / 3.0)
    val cosio = Math.cos(xincl)
    val theta2 = cosio * cosio
    val x3thm1 = 3.0 * theta2 - 1.0
    val eosq = e0 * e0
    val betao2 = 1.0 - eosq
    val betao = Math.sqrt(betao2)
    val del1 = 1.5 * Ck2 * x3thm1 / (a1 * a1 * betao * betao2)
    val ao = a1 * (1.0 - del1 * (0.5 * (2.0 / 3.0) + del1 * (1.0 + 134.0 / 81.0 * del1)))
    val delo = 1.5 * Ck2 * x3thm1 / (ao * ao * betao * betao2)
    val xnodp = xno / (1.0 + delo) // original mean motion
    val aodp = ao / (1.0 - delo) // original semimajor axis, er

    val isimp = (aodp * (1.0 - e0)) < (220.0 / Xkmper + 1.0)
    val perige = (aodp * (1.0 - e0) - 1.0) * Xkmper
    var s4 = Sconst
    var qoms24 = Qoms2t
    if (perige < 156.0) {
      s4 = if (perige < 98.0) 20.0 else perige - 78.0
      qoms24 = Math.pow((120.0 - s4) / Xkmper, 4.0)
      s4 = s4 / Xkmper + 1.0
    }
    val pinvsq = 1.0 / (aodp * aodp * betao2 * betao2)
    val tsi = 1.0 / (aodp - s4)
    val eta = aodp * e0 * tsi
    val etasq = eta * eta
    val eeta = e0 * eta
    val psisq = Math.abs(1.0 - etasq)
    val coef = qoms24 * Math.pow(tsi, 4.0)
    val coef1 = coef / Math.pow(psisq, 3.5)
    val c2 = coef1 * xnodp * (aodp * (1.0 + 1.5 * etasq + eeta * (4.0 + etasq))
      + 0.75 * Ck2 * tsi / psisq * x3thm1 * (8.0 + 3.0 * etasq * (8.0 + etasq)))
    val c1 = bstar * c2
    val sinio = Math.sin(xincl)
    val c3 = if (e0 > 1.0e-4) coef * tsi * A3ovk2 * xnodp * sinio / e0 else 0.0
    val x1mth2 = 1.0 - theta2
    val c4 = 2.0 * xnodp * coef1 * aodp * betao2 * (eta * (2.0 + 0.5 * etasq)
      + e0 * (0.5 + 2.0 * etasq)
      - 2.0 * Ck2 * tsi / (aodp * psisq)
      * (-3.0 * x3thm1 * (1.0 - 2.0 * eeta + etasq * (1.5 - 0.5 * eeta))
        + 0.75 * x1mth2 * (2.0 * etasq - eeta * (1.0 + etasq))
          * Math.cos(2.0 * omegao)))
    val c5 = 2.0 * coef1 * aodp * betao2 *
      (1.0 + 2.75 * (etasq + eeta) + eeta * etasq)
    val theta4 = theta2 * theta2
    val temp1 = 3.0 * Ck2 * pinvsq * xnodp
    val temp2 = temp1 * Ck2 * pinvsq
    val temp3 = 1.25 * Ck4 * pinvsq * pinvsq * xnodp
    val xmdot = xnodp + 0.5 * temp1 * betao * x3thm1 +
      0.0625 * temp2 * betao * (13.0 - 78.0 * theta2 + 137.0 * theta4)
    val x1m5th = 1.0 - 5.0 * theta2
    val omgdot = -0.5 * temp1 * x1m5th +
      0.0625 * temp2 * (7.0 - 114.0 * theta2 + 395.0 * theta4) +
      temp3 * (3.0 - 36.0 * theta2 + 49.0 * theta4)
    val xhdot1 = -temp1 * cosio
    val xnodot = xhdot1 + (0.5 * temp2 * (4.0 - 19.0 * theta2)
      + 2.0 * temp3 * (3.0 - 7.0 * theta2)) * cosio
    val omgcof = bstar * c3 * Math.cos(omegao)
    val xmcof = if (e0 > 1.0e-4) -(2.0 / 3.0) * coef * bstar / eeta else 0.0
    val xnodcf = 3.5 * betao2 * xhdot1 * c1
    val t2cof = 1.5 * c1
    val xlcof = 0.125 * A3ovk2 * sinio * (3.0 + 5.0 * cosio) / (1.0 + cosio)
    val aycof = 0.25 * A3ovk2 * sinio
    val delmo = Math.pow(1.0 + eta * Math.cos(xmo), 3.0)
    val sinmo = Math.sin(xmo)
    val x7thm1 = 7.0 * theta2 - 1.0
    var d2 = 0.0; var d3 = 0.0; var d4 = 0.0
    var t3cof = 0.0; var t4cof = 0.0; var t5cof = 0.0
    if (!isimp) {
      val c1sq = c1 * c1
      d2 = 4.0 * aodp * tsi * c1sq
      val temp = d2 * tsi * c1 / 3.0
      d3 = (17.0 * aodp + s4) * temp
      d4 = 0.5 * temp * aodp * tsi * (221.0 * aodp + 31.0 * s4) * c1
      t3cof = d2 + 2.0 * c1sq
      t4cof = 0.25 * (3.0 * d3 + c1 * (12.0 * d2 + 10.0 * c1sq))
      t5cof = 0.2 * (3.0 * d4 + 12.0 * c1 * d3 + 6.0 * d2 * d2
        + 15.0 * c1sq * (2.0 * d2 + c1sq))
    }

    // ---- secular gravity and atmospheric drag ----
    val t = tsince
    val xmdf = xmo + xmdot * t
    val omgadf = omegao + omgdot * t
    val xnoddf = xnodeo + xnodot * t
    var omega = omgadf
    var xmp = xmdf
    val tsq = t * t
    val xnode = xnoddf + xnodcf * tsq
    var tempa = 1.0 - c1 * t
    var tempe = bstar * c4 * t
    var templ = t2cof * tsq
    if (!isimp) {
      val delomg = omgcof * t
      val delm = xmcof * (Math.pow(1.0 + eta * Math.cos(xmdf), 3.0) - delmo)
      val temp = delomg + delm
      xmp = xmdf + temp
      omega = omgadf - temp
      val tcube = tsq * t
      val tfour = t * tcube
      tempa = tempa - d2 * tsq - d3 * tcube - d4 * tfour
      tempe = tempe + bstar * c5 * (Math.sin(xmp) - sinmo)
      templ = templ + t3cof * tcube + tfour * (t4cof + t * t5cof)
    }
    val a = aodp * tempa * tempa
    val e = e0 - tempe
    val xl = xmp + omega + xnode + xnodp * templ
    val xn = Xke / Math.pow(a, 1.5)

    // ---- long period periodics ----
    val axn = e * Math.cos(omega)
    val tempLp = 1.0 / (a * (1.0 - e * e))
    val xll = tempLp * xlcof * axn
    val aynl = tempLp * aycof
    val xlt = xl + xll
    val ayn = e * Math.sin(omega) + aynl

    // ---- Kepler's equation: fixed 10 Newton steps, 0.95-rad clamp ----
    val capu = fmod2p(xlt - xnode)
    var epw = capu
    var sinepw = 0.0; var cosepw = 0.0
    var i = 0
    while (i < 10) {
      sinepw = Math.sin(epw)
      cosepw = Math.cos(epw)
      var delta = (capu - ayn * cosepw + axn * sinepw - epw) /
        (1.0 - cosepw * axn - sinepw * ayn)
      if (Math.abs(delta) > 0.95) delta = if (delta > 0) 0.95 else -0.95
      epw += delta
      i += 1
    }
    sinepw = Math.sin(epw)
    cosepw = Math.cos(epw)

    // ---- short period preliminary quantities ----
    val ecose = axn * cosepw + ayn * sinepw
    val esine = axn * sinepw - ayn * cosepw
    val elsq = axn * axn + ayn * ayn
    val tempSp = 1.0 - elsq
    val pl = a * tempSp
    val r = a * (1.0 - ecose)
    val invR = 1.0 / r
    val betal = Math.sqrt(tempSp)
    val t3 = esine / (1.0 + betal)
    val cosu = a * invR * (cosepw - axn + ayn * t3)
    val sinu = a * invR * (sinepw - ayn - axn * t3)
    val u = Math.atan2(sinu, cosu)
    val sin2u = 2.0 * sinu * cosu
    val cos2u = 2.0 * cosu * cosu - 1.0
    val invPl = 1.0 / pl
    val tsp1 = Ck2 * invPl
    val tsp2 = tsp1 * invPl

    // ---- short period periodics ----
    val rk = r * (1.0 - 1.5 * tsp2 * betal * x3thm1) +
      0.5 * tsp1 * x1mth2 * cos2u
    val uk = u - 0.25 * tsp2 * x7thm1 * sin2u
    val xnodek = xnode + 1.5 * tsp2 * cosio * sin2u
    val xinck = xincl + 1.5 * tsp2 * cosio * sinio * cos2u

    // ---- orientation vectors → position ----
    val sinuk = Math.sin(uk)
    val cosuk = Math.cos(uk)
    val sinik = Math.sin(xinck)
    val cosik = Math.cos(xinck)
    val sinnok = Math.sin(xnodek)
    val cosnok = Math.cos(xnodek)
    val xmx = -sinnok * cosik
    val xmy = cosnok * cosik
    val ux = xmx * sinuk + cosnok * cosuk
    val uy = xmy * sinuk + sinnok * cosuk
    val uz = sinik * sinuk
    Array(rk * ux * Xkmper, rk * uy * Xkmper, rk * uz * Xkmper)
  }

  /** Earth-rotation rate, rad/min (IAU-82 GMST rate) — the single shared
    * site for this constant: overpass geometry (Geo.sgp4Track, as column
    * math) and its driver-side twin (Geo.sgp4TrackLocal) both rotate by
    * `gmst0 + GmstRate * t`.
    */
  val GmstRate = 4.37526908801129966e-3
}

/** Codegen-native SGP4 propagation: the whole init+secular+Kepler+short-
  * period solve is one fused call inside whole-stage codegen, returning
  * the TEME position as ARRAY<DOUBLE>[3] (km).
  */
case class Sgp4Teme(children: Seq[Expression]) extends Expression {
  require(children.size == 8,
    "sgp4_teme(n0_revday, e0, inc_deg, raan_deg, argp_deg, m0_deg, bstar, tsince_min)")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "sgp4_teme"
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = new Array[Double](8)
    var i = 0
    while (i < 8) {
      val v = children(i).eval(input)
      if (v == null) return null
      vs(i) = v.asInstanceOf[Double]
      i += 1
    }
    ArrayData.toArrayData(OrbitMath.propagateTeme(
      vs(0), vs(1), vs(2), vs(3), vs(4), vs(5), vs(6), vs(7)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull.toString).mkString(" || ")
    val argList = evals.map(_.value.toString).mkString(", ")
    val inputCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code = code"""
        $inputCode
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if ($anyNull) { ${ev.isNull} = true; } else {
          ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
            graft.functions.OrbitMath.propagateTeme($argList));
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Sgp4Teme = copy(children = newChildren)
}

object OrbitFunctions {
  /** TEME position [x,y,z] km at `tsince` minutes past epoch. */
  def sgp4_teme(n0: Column, e0: Column, inc: Column, raan: Column,
      argp: Column, m0: Column, bstar: Column, tsince: Column): Column = {
    val in = Seq(n0, e0, inc, raan, argp, m0, bstar, tsince)
      .map(c => Cast(GraftInternal.expr(c), DoubleType))
    GraftInternal.column(Sgp4Teme(in))
  }
}
