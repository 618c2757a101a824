package graft.operators

import graft.{Det, Q, Tables}
import graft.Det._
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftops.GraftInternal.rebase
import org.apache.spark.sql.types._

/** §2.C geospatial ops — odin_common/src/geo.rs re-expressed as codegen'd
  * column math: haversine_distance (geo.rs:167), bearing_from (geo.rs:102),
  * GeoRect containment (geo.rs:216), polygon contains (geo.rs:409), plus
  * the grid binning the GOES-R/HRRR stores imply.
  *
  * The synthetic tables carry no coordinates, so positions derive
  * deterministically from integer columns (identical formula on the DuckDB
  * side — integer modular arithmetic plus IEEE +,-,*,/ is bit-exact across
  * engines). Trig outputs are rounded to 3 decimals, far above libm
  * cross-implementation disagreement (~1e-11 rel).
  */
object Geo {

  // -- position derivation (Spark side) --
  private def evPts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("*"),
      ((col("user_id") * 37 % 140 - 70).cast(DoubleType) + col("value") / lit(1000.0))
        .as("lat"),
      ((col("event_id") * 73 % 360 - 180).cast(DoubleType) + col("value") / lit(2000.0))
        .as("lon"))

  // -- position derivation (DuckDB side; identical op order) --
  private val LAT = "(CAST(user_id*37 % 140 - 70 AS DOUBLE) + value/1000.0)"
  private val LON = "(CAST(event_id*73 % 360 - 180 AS DOUBLE) + value/2000.0)"

  /** Haversine km via the codegen-native graft.functions.HaversineKm —
    * same formula as the DuckDB oracle (rounded to 3 decimals at use).
    */
  private def havC(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    graft.functions.GeoFunctions.haversine_km(lat1, lon1, lat2, lon2)

  private def havS(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""12742.0*asin(sqrt(least(1.0,
       pow(sin((radians($lat2)-radians($lat1))/2),2)
       + cos(radians($lat1))*cos(radians($lat2))
         *pow(sin((radians($lon2)-radians($lon1))/2),2))))"""

  /** Initial bearing in degrees [0,360), rounded to 3 decimals. */
  private def bearC(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val b = degrees(atan2(
      sin(radians(lon2) - radians(lon1)) * cos(radians(lat2)),
      cos(radians(lat1)) * sin(radians(lat2))
        - sin(radians(lat1)) * cos(radians(lat2)) * cos(radians(lon2) - radians(lon1))))
    (b + 360.0) % 360.0
  }

  private def bearS(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""(degrees(atan2(
        sin(radians($lon2)-radians($lon1))*cos(radians($lat2)),
        cos(radians($lat1))*sin(radians($lat2))
        - sin(radians($lat1))*cos(radians($lat2))*cos(radians($lon2)-radians($lon1)))) + 360.0) % 360.0"""

  // station positions from supplier keys (10 fixed "ground stations")
  private[graft] def stationsFor(s: SparkSession, d: String): DataFrame =
    stations(s, d)

  private def stations(s: SparkSession, d: String): DataFrame =
    Tables.t(s, d, "supplier").select(col("s_suppkey"),
      (col("s_suppkey") * 53 % 140 - 70).cast(DoubleType).as("s_lat"),
      (col("s_suppkey") * 97 % 360 - 180).cast(DoubleType).as("s_lon"))

  private val SLAT = "CAST(s_suppkey*53 % 140 - 70 AS DOUBLE)"
  private val SLON = "CAST(s_suppkey*97 % 360 - 180 AS DOUBLE)"

  // -- geohash shared-formula fragments (identical text both engines;
  //    FLOOR-then-CAST everywhere because DuckDB's CAST(double AS BIGINT)
  //    rounds while Spark's truncates) --
  private val GhLatBits =
    "CAST(LEAST(FLOOR((lat + 90.0) / 180.0 * 1048576.0), 1048575.0) AS BIGINT)"
  private val GhLonBits =
    "CAST(LEAST(FLOOR((lon + 180.0) / 360.0 * 1048576.0), 1048575.0) AS BIGINT)"
  /** Morton bit-spread steps (interleave a 20-bit axis into even bit
    * positions): 5 masked shift-or stages, each tiny — NOT the naive
    * 40-term per-bit sum, whose expression tree blew whole-stage codegen
    * out and cost 13 s at sf0.1.
    */
  private val GhSpreadSteps: Seq[(Long, Long)] = Seq(
    (65536L, 281470681808895L),          // (x | x<<16) & 0x0000FFFF0000FFFF
    (256L, 71777214294589695L),          // (x | x<<8)  & 0x00FF00FF00FF00FF
    (16L, 1085102592571150095L),         // (x | x<<4)  & 0x0F0F0F0F0F0F0F0F
    (4L, 3689348814741910323L),          // (x | x<<2)  & 0x3333333333333333
    (2L, 6148914691236517205L))          // (x | x<<1)  & 0x5555555555555555
  private def ghStep(prev: String, mul: Long, mask: Long): String =
    s"((($prev * $mul) | $prev) & $mask)"

  /** Narrow-map half of geo_geohash (exposed for the dev probe). */
  private[graft] def geohashPts(s: SparkSession, d: String): DataFrame = {
    var pts = evPts(s, d)
      .select(col("event_id"), col("lat"), col("lon"))
      .withColumn("sa", expr(GhLatBits))
      .withColumn("sb", expr(GhLonBits))
    GhSpreadSteps.foreach { case (m, mask) =>
      pts = pts
        .withColumn("sa", expr(ghStep("sa", m, mask)))
        .withColumn("sb", expr(ghStep("sb", m, mask)))
    }
    pts
      .withColumn("v", expr("sb * 2 + sa"))
      .withColumn("geohash8", expr(GhChars))
      .withColumn("geohash5", expr("substring(geohash8, 1, 5)"))
  }
  private val GhChars: String =
    "concat(" + (0 until 8).map { i =>
      val div = 1L << (35 - 5 * i)
      s"substring('0123456789bcdefghjkmnpqrstuvwxyz', " +
        s"CAST(CAST(FLOOR(v / $div.0) AS BIGINT) % 32 + 1 AS INT), 1)"
    }.mkString(", ") + ")"

  /** Shared formula text for the shoelace centroid of each station's
    * irregular pentagon (odin_bushfire/src/lib.rs:220 get_centroid via
    * the geo crate's area-weighted Centroid). One string, both engines:
    * Spark parses it with `expr`, the DuckDB oracle embeds it verbatim,
    * and since it is pure +,-,*,/ over rational inputs the doubles are
    * bit-identical with no quantization needed. The per-vertex radial
    * scale (1 + (s_suppkey+k)%7 / 10) keeps the polygon irregular but
    * star-shaped (simple, non-degenerate) for every station.
    */
  private object CentroidK {
    private val dx = Seq(0.0, 0.38, 0.24, -0.24, -0.38)
    private val dy = Seq(0.4, 0.1, -0.3, -0.3, 0.1)
    private def w(k: Int) =
      s"(1.0e0 + CAST((s_suppkey + $k) % 7 AS DOUBLE)/10.0e0)"
    private def x(k: Int) = s"(s_lon + ${dx(k)}e0*${w(k)})"
    private def y(k: Int) = s"(s_lat + ${dy(k)}e0*${w(k)})"
    private def cross(k: Int): String = {
      val k2 = (k + 1) % 5
      s"(${x(k)}*${y(k2)} - ${x(k2)}*${y(k)})"
    }
    private val a2 = (0 until 5).map(cross).mkString("(", " + ", ")")
    val lonF: String =
      (0 until 5).map(k => s"((${x(k)} + ${x((k + 1) % 5)})*${cross(k)})")
        .mkString("(", " + ", ")") + s" / (3.0e0*$a2)"
    val latF: String =
      (0 until 5).map(k => s"((${y(k)} + ${y((k + 1) % 5)})*${cross(k)})")
        .mkString("(", " + ", ")") + s" / (3.0e0*$a2)"
    val areaF: String = s"abs($a2) / 2.0e0"
  }

  private val wTrack = Window.partitionBy(col("user_id"))
    .orderBy(col("ts_sec"), col("event_id"))

  /** Unrolled fixed-8-iteration Vincenty inverse as DuckDB CTE layers —
    * the exact arithmetic sequence of GeoMath.vincentyKm so both engines
    * follow the identical evaluation path (see that method's Scaladoc).
    * Input CTE `vbase` must provide (user_id, event_id, hav_km, ll, su1,
    * cu1, su2, cu2); emits `it8` carrying the converged sigma terms.
    */
  private def vincentyCtes: String = {
    // e-notation forces DOUBLE literals in DuckDB (plain decimals parse as
    // DECIMAL: constant products overflow DECIMAL(38) and decimal division
    // would not be IEEE)
    val F = "(1.0e0/298.257223563e0)"
    val C = "user_id, event_id, hav_km, ll, su1, cu1, su2, cu2"
    val sb = new StringBuilder
    sb.append(s"it0 AS (SELECT $C, ll AS lam FROM vbase),\n")
    for (k <- 1 to 8) {
      val j = k - 1
      val keepFinal = if (k == 8) ", sinsig, cossig, sig, cos2a, cos2sm" else ""
      sb.append(s"""
        p$k AS (SELECT $C, lam, sin(lam) AS sinlam, cos(lam) AS coslam FROM it$j),
        q$k AS (SELECT *, sqrt(pow(cu2*sinlam,2) + pow(cu1*su2 - su1*cu2*coslam,2)) AS sinsig,
                       su1*su2 + cu1*cu2*coslam AS cossig FROM p$k),
        r$k AS (SELECT *, atan2(sinsig, cossig) AS sig,
                       CASE WHEN sinsig = 0 THEN 0.0 ELSE cu1*cu2*sinlam/sinsig END AS sina FROM q$k),
        s$k AS (SELECT *, 1.0 - sina*sina AS cos2a FROM r$k),
        t$k AS (SELECT *, CASE WHEN cos2a = 0 THEN 0.0 ELSE cossig - 2.0*su1*su2/cos2a END AS cos2sm FROM s$k),
        u$k AS (SELECT *, $F/16.0*cos2a*(4.0 + $F*(4.0 - 3.0*cos2a)) AS cc FROM t$k),
        it$k AS (SELECT $C,
                       ll + (1.0-cc)*$F*sina*(sig + cc*sinsig*(cos2sm + cc*cossig*(-1.0 + 2.0*cos2sm*cos2sm))) AS lam$keepFinal
                 FROM u$k),""")
    }
    sb.toString
  }

  /** Shared WGS84 transverse-Mercator (Krüger exact-form) formula text —
    * forward AND inverse — used VERBATIM by the Spark side (`expr`) and
    * the DuckDB oracles, so both engines follow the same arithmetic path.
    * Hyperbolics are spelled in exp/ln form (DuckDB has no sinh/cosh/
    * atanh). Mirrors odin_common/src/utm.rs: geo_to_utm_zone (:142),
    * utm_to_geo (:192), utm_zone special cases (:87), latitude_band
    * (:121); series coefficients are the published Krüger/Karney n-series.
    */
  private[operators] object UtmK {
    private def c(d: Double): String = {
      val s = d.toString; if (s.contains("E")) s else s + "e0"
    }
    private val n  = (1.0 / 298.257223563) / (2.0 - 1.0 / 298.257223563)
    private val n2 = n * n
    private val n3 = n2 * n
    private val n4 = n2 * n2
    private val K  = c(0.9996 * (6378137.0 / (1.0 + n)) * (1.0 + n2 / 4.0 + n4 / 64.0))
    private val CC = c(2.0 * math.sqrt(n) / (1.0 + n))
    private val A1 = c(n / 2.0 - 2.0 / 3.0 * n2 + 5.0 / 16.0 * n3)
    private val A2 = c(13.0 / 48.0 * n2 - 3.0 / 5.0 * n3)
    private val A3 = c(61.0 / 240.0 * n3)
    private val B1 = c(n / 2.0 - 2.0 / 3.0 * n2 + 37.0 / 96.0 * n3)
    private val B2 = c(n2 / 48.0 + n3 / 15.0)
    private val B3 = c(17.0 / 480.0 * n3)
    private val D1 = c(2.0 * n - 2.0 / 3.0 * n2 - 2.0 * n3)
    private val D2 = c(7.0 / 3.0 * n2 - 8.0 / 5.0 * n3)
    private val D3 = c(56.0 / 15.0 * n3)

    /** UTM zone with the published Norway/Svalbard exceptions. */
    def zoneExpr(lat: String, lon: String): String = s"""
      CASE WHEN $lat > 55.0 AND $lat < 64.0 AND $lon > 2.0 AND $lon < 6.0 THEN 32
           WHEN $lat > 71.0 AND $lon >= 6.0 AND $lon < 9.0 THEN 31
           WHEN $lat > 71.0 AND (($lon >= 9.0 AND $lon < 12.0) OR ($lon >= 18.0 AND $lon < 21.0)) THEN 33
           WHEN $lat > 71.0 AND (($lon >= 21.0 AND $lon < 24.0) OR ($lon >= 30.0 AND $lon < 33.0)) THEN 35
           ELSE CAST(floor(($lon + 180.0)/6.0) AS BIGINT) % 60 + 1 END"""

    /** MGRS latitude band letter (C..X skipping I/O; A/B/Y/Z polar). */
    def bandExpr(lat: String, lon: String): String = s"""
      CASE WHEN $lat < -80.0 THEN (CASE WHEN $lon < 0.0 THEN 'A' ELSE 'B' END)
           WHEN $lat >= 84.0 THEN (CASE WHEN $lon < 0.0 THEN 'Y' ELSE 'Z' END)
           WHEN $lat >= 72.0 THEN 'X'
           ELSE substr('CDEFGHJKLMNPQRSTUVW', CAST(floor(($lat + 80.0)/8.0) AS INT) + 1, 1) END"""

    /** Forward steps: (lat, lon, utm_zone) → utm_easting / utm_northing. */
    def fwdSteps(lat: String, lon: String): Seq[(String, String)] = Seq(
      "u_dlam" -> s"radians($lon) - radians(CAST(utm_zone*6 - 183 AS DOUBLE))",
      "u_sphi" -> s"sin(radians($lat))",
      "u_targ" -> s"0.5*ln((1.0 + u_sphi)/(1.0 - u_sphi)) - $CC*(0.5*ln((1.0 + $CC*u_sphi)/(1.0 - $CC*u_sphi)))",
      "u_t"    -> "(exp(u_targ) - exp(-u_targ))/2.0",
      "u_xi"   -> "atan(u_t/cos(u_dlam))",
      "u_etaa" -> "sin(u_dlam)/sqrt(1.0 + u_t*u_t)",
      "u_eta"  -> "0.5*ln((1.0 + u_etaa)/(1.0 - u_etaa))",
      "u_s2"   -> "(exp(2.0*u_eta) - exp(-2.0*u_eta))/2.0",
      "u_c2"   -> "(exp(2.0*u_eta) + exp(-2.0*u_eta))/2.0",
      "u_s4"   -> "(exp(4.0*u_eta) - exp(-4.0*u_eta))/2.0",
      "u_c4"   -> "(exp(4.0*u_eta) + exp(-4.0*u_eta))/2.0",
      "u_s6"   -> "(exp(6.0*u_eta) - exp(-6.0*u_eta))/2.0",
      "u_c6"   -> "(exp(6.0*u_eta) + exp(-6.0*u_eta))/2.0",
      "utm_easting" -> s"500000.0 + $K*(u_eta + $A1*cos(2.0*u_xi)*u_s2 + $A2*cos(4.0*u_xi)*u_s4 + $A3*cos(6.0*u_xi)*u_s6)",
      "utm_northing" -> s"(CASE WHEN $lat < 0.0 THEN 10000000.0 ELSE 0.0 END) + $K*(u_xi + $A1*sin(2.0*u_xi)*u_c2 + $A2*sin(4.0*u_xi)*u_c4 + $A3*sin(6.0*u_xi)*u_c6)")

    /** Inverse steps: (utm_zone, is_south, utm_easting, utm_northing) →
      * lat_rt / lon_rt degrees.
      */
    val invSteps: Seq[(String, String)] = Seq(
      "v_xi"  -> s"(utm_northing - (CASE WHEN is_south THEN 10000000.0 ELSE 0.0 END))/$K",
      "v_eta" -> s"(utm_easting - 500000.0)/$K",
      "v_s2"  -> "(exp(2.0*v_eta) - exp(-2.0*v_eta))/2.0",
      "v_c2"  -> "(exp(2.0*v_eta) + exp(-2.0*v_eta))/2.0",
      "v_s4"  -> "(exp(4.0*v_eta) - exp(-4.0*v_eta))/2.0",
      "v_c4"  -> "(exp(4.0*v_eta) + exp(-4.0*v_eta))/2.0",
      "v_s6"  -> "(exp(6.0*v_eta) - exp(-6.0*v_eta))/2.0",
      "v_c6"  -> "(exp(6.0*v_eta) + exp(-6.0*v_eta))/2.0",
      "v_xip"  -> s"v_xi - ($B1*sin(2.0*v_xi)*v_c2 + $B2*sin(4.0*v_xi)*v_c4 + $B3*sin(6.0*v_xi)*v_c6)",
      "v_etap" -> s"v_eta - ($B1*cos(2.0*v_xi)*v_s2 + $B2*cos(4.0*v_xi)*v_s4 + $B3*cos(6.0*v_xi)*v_s6)",
      "v_shp"  -> "(exp(v_etap) - exp(-v_etap))/2.0",
      "v_chp"  -> "(exp(v_etap) + exp(-v_etap))/2.0",
      "v_chi"  -> "asin(sin(v_xip)/v_chp)",
      "lat_rt" -> s"degrees(v_chi + $D1*sin(2.0*v_chi) + $D2*sin(4.0*v_chi) + $D3*sin(6.0*v_chi))",
      "lon_rt" -> s"CAST(utm_zone*6 - 183 AS DOUBLE) + degrees(atan(v_shp/cos(v_xip)))")

    /** Apply steps as a withColumn chain (Spark side). */
    def apply(df: DataFrame, steps: Seq[(String, String)]): DataFrame =
      steps.foldLeft(df) { case (acc, (nm, ex)) => acc.withColumn(nm, expr(ex)) }

    /** Render steps as chained CTE layers (DuckDB side) → (text, lastName). */
    def ctes(base: String, steps: Seq[(String, String)], pfx: String): (String, String) = {
      val text = steps.zipWithIndex.map { case ((nm, ex), i) =>
        val from = if (i == 0) base else s"$pfx${i - 1}"
        s"$pfx$i AS (SELECT *, $ex AS $nm FROM $from)"
      }.mkString(",\n")
      (text, s"$pfx${steps.size - 1}")
    }
  }

  /** GOES-R fixed-grid (scan/elevation angle) → geodetic projection
    * constants and shared formula text (both engines evaluate the same
    * strings). Geometry per the published geostationary projection
    * (GOES-R PUG L2+ vol. 5 p.23); mirrors odin_goesr/src/geo.rs:93.
    */
  private[graft] object GoesK {
    private def c(d: Double): String = {
      val s = d.toString; if (s.contains("E")) s else s + "e0"
    }
    private val rEq  = 6378137.0
    private val rPol = 6356752.31414
    private val R2   = c((rEq / rPol) * (rEq / rPol))
    private val Hs   = 35786023.0 + rEq
    private val H    = c(Hs)
    private val CC   = c(Hs * Hs - rEq * rEq)
    private val LON0 = c(Math.toRadians(-137.0)) // GOES-West

    // synthetic full-disk scan angles (±0.15 rad) from integer columns
    val X = "(CAST(event_id*31 % 2000 - 1000 AS DOUBLE)/1000.0)*0.15"
    val Y = "(CAST(user_id*17 % 2000 - 1000 AS DOUBLE)/1000.0)*0.15"

    /** Through the quadratic discriminant (off-disk test happens here). */
    val discSteps: Seq[(String, String)] = Seq(
      "g_sx" -> "sin(scan_x)", "g_cx" -> "cos(scan_x)",
      "g_sy" -> "sin(scan_y)", "g_cy" -> "cos(scan_y)",
      "g_s2x" -> "g_sx*g_sx", "g_s2y" -> "g_sy*g_sy",
      "g_a" -> s"g_s2x + (1.0 - g_s2x)*((1.0 - g_s2y) + $R2*g_s2y)",
      "g_b" -> s"-2.0*$H*g_cx*g_cy",
      "g_disc" -> s"g_b*g_b - 4.0*g_a*$CC")

    /** Ellipsoid intersection → geodetic degrees (needs discSteps first). */
    val geoSteps: Seq[(String, String)] = Seq(
      "g_rs" -> "(-g_b - sqrt(g_disc))/(2.0*g_a)",
      "g_px" -> "g_rs*g_cx*g_cy",
      "g_py" -> "-g_rs*g_sx",
      "g_pz" -> "g_rs*g_cx*g_sy",
      "glat" -> s"degrees(atan($R2*g_pz/sqrt(($H - g_px)*($H - g_px) + g_py*g_py)))",
      "glon" -> s"degrees($LON0 - atan(g_py/($H - g_px)))")

    def apply1(df: DataFrame, steps: Seq[(String, String)]): DataFrame =
      steps.foldLeft(df) { case (acc, (nm, ex)) => acc.withColumn(nm, expr(ex)) }
  }

  /** WGS84 → UTM forward projection (Krüger exact form), with the
    * Norway/Svalbard zone exceptions and the MGRS latitude band. Adds
    * utm_zone / utm_band / utm_easting / utm_northing; pure codegen'd
    * column arithmetic. Valid for lat in [-80, 84].
    *
    * Intentional divergence from the reference: odin's geo_to_utm
    * (utm.rs:142) projects around the NAIVE zone's central meridian even
    * in the Norway/Svalbard exception regions; here easting/northing use
    * the exception-corrected zone so the reported zone and the projection
    * agree (coordinates land in the grid cell they claim). Callers who
    * need reference-exact output in those regions can project with
    * `UtmK.fwdSteps` around `floor((lon+180)/6)+1` directly.
    */
  def withUtm(df: DataFrame, lat: Column, lon: Column): DataFrame = {
    val base = df
      .withColumn("__glat", lat.cast(DoubleType))
      .withColumn("__glon", lon.cast(DoubleType))
      .withColumn("utm_zone", expr(UtmK.zoneExpr("__glat", "__glon")))
      .withColumn("utm_band", expr(UtmK.bandExpr("__glat", "__glon")))
    val steps = UtmK.fwdSteps("__glat", "__glon")
    UtmK(base, steps)
      .drop("__glat" +: "__glon" +: steps.map(_._1).filter(_.startsWith("u_")): _*)
  }

  /** UTM → WGS84 inverse (Krüger exact form). Needs the zone and the
    * hemisphere flag (southern rows carry the 10,000 km false northing).
    * Adds lat_rt / lon_rt degree columns.
    */
  def withUtmInverse(df: DataFrame, zone: Column, isSouth: Column,
      easting: Column, northing: Column): DataFrame = {
    val base = df
      .withColumn("utm_zone", zone)
      .withColumn("is_south", isSouth)
      .withColumn("utm_easting", easting.cast(DoubleType))
      .withColumn("utm_northing", northing.cast(DoubleType))
    UtmK(base, UtmK.invSteps)
      .drop(UtmK.invSteps.map(_._1).filter(_.startsWith("v_")): _*)
  }

  /** SGP4-propagated ground track for a 5-satellite LEO constellation at
    * 1-minute steps over 24 h — the track table the reference's overpass
    * machinery generates by calling sgp4 per step
    * (odin_orbital/src/orbitinfo.rs:91 get_orbits → overpass.rs:318).
    * Elements are deterministic per sat_id (ISS-class orbits, RAAN-
    * spread constellation); TEME → subpoint via GMST rotation and three
    * unrolled geodetic-latitude iterations — all codegen column math on
    * top of the fused Sgp4Teme expression.
    */
  private[graft] def sgp4Track(s: SparkSession): DataFrame = {
    import graft.functions.OrbitFunctions.sgp4_teme
    val gmst0 = 1.7321 // epoch GMST (rad) — synthetic constellation epoch
    val wEarth = graft.functions.OrbitMath.GmstRate // rad/min (IAU-82 rate, shared site)
    val sats = s.range(5).select(col("id").cast(IntegerType).as("sat_id"))
    val mins = s.range(1440).select(col("id").cast(DoubleType).as("t_min"))
    val track = sats.crossJoin(mins)
      .withColumn("p", sgp4_teme(
        lit(15.2) - col("sat_id") * 0.1, // rev/day: slight period spread
        lit(0.001), lit(51.6) + col("sat_id") * 2.0,
        col("sat_id") * 72.0, col("sat_id") * 30.0, col("sat_id") * 50.0,
        lit(1.0e-5), col("t_min")))
      .withColumn("px", col("p")(0)).withColumn("py", col("p")(1))
      .withColumn("pz", col("p")(2))
      .withColumn("rho", sqrt(col("px") * col("px") + col("py") * col("py")))
      // earth-fixed longitude: TEME right ascension minus GMST
      .withColumn("tlon",
        ((degrees(atan2(col("py"), col("px")) - (lit(gmst0) + lit(wEarth) * col("t_min")))
          % 360.0 + 540.0) % 360.0) - 180.0)
    // geodetic latitude: three fixed iterations of the standard
    // phi <- atan2(z + N e^2 sin phi, rho) refinement
    val e2 = 0.0066943
    val aE = 6378.135
    val it = (1 to 3).foldLeft(track.withColumn("phi", atan2(col("pz"), col("rho")))) {
      case (df, _) =>
        df.withColumn("nrad", lit(aE) / sqrt(lit(1.0) - lit(e2) * pow(sin(col("phi")), 2)))
          .withColumn("phi", atan2(col("pz") + col("nrad") * lit(e2) * sin(col("phi")), col("rho")))
    }
    it.withColumn("tlat", degrees(col("phi")))
      .withColumn("alt_km", col("rho") / cos(col("phi")) - col("nrad"))
      .select(col("sat_id"), col("t_min").cast(IntegerType).as("minute"),
        col("tlat"), col("tlon"), col("alt_km"))
  }

  /** Driver-side twin of [[sgp4Track]]: same `OrbitMath.propagateTeme`
    * kernel, same subpoint arithmetic in the same operation order, so
    * every (tlat, tlon) is bit-identical to the column pipeline's output
    * (asserted exhaustively in OverpassSpec). This is what lets
    * geo_overpass carry a real DuckDB oracle: the 7 200-row track is
    * emitted as exact double literals in a VALUES table, and the oracle
    * recomputes visibility brute-force — which also independently proves
    * the Spark side's ±1 latitude-band pruning loses no visible pair.
    */
  private[graft] lazy val sgp4TrackLocal: IndexedSeq[(Int, Int, Double, Double)] = {
    val gmst0 = 1.7321
    val wEarth = graft.functions.OrbitMath.GmstRate
    val e2 = 0.0066943
    val aE = 6378.135
    for { sat <- 0 until 5; m <- 0 until 1440 } yield {
      val t = m.toDouble
      val p = graft.functions.OrbitMath.propagateTeme(
        15.2 - sat * 0.1, 0.001, 51.6 + sat * 2.0,
        sat * 72.0, sat * 30.0, sat * 50.0, 1.0e-5, t)
      val px = p(0); val py = p(1); val pz = p(2)
      val rho = math.sqrt(px * px + py * py)
      val tlon = ((math.toDegrees(math.atan2(py, px) - (gmst0 + wEarth * t))
        % 360.0 + 540.0) % 360.0) - 180.0
      var phi = math.atan2(pz, rho)
      var i = 0
      while (i < 3) {
        val nrad = aE / math.sqrt(1.0 - e2 * math.pow(math.sin(phi), 2.0))
        phi = math.atan2(pz + nrad * e2 * math.sin(phi), rho)
        i += 1
      }
      (sat, m, math.toDegrees(phi), tlon)
    }
  }

  /** Exact round-trip double literal for DuckDB (e-notation so the parser
    * types it DOUBLE, not DECIMAL — see geo_geodesic's oracle note).
    */
  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E")) s.replace("E", "e") else s + "e0"
  }

  private lazy val overpassOracle: String = {
    val rows = sgp4TrackLocal
      .map { case (s, m, la, lo) => s"($s,$m,${dlit(la)},${dlit(lo)})" }
      .mkString(",")
    s"""WITH track(sat_id, minute, tlat, tlon) AS (VALUES $rows),
        st AS (SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon FROM supplier),
        pairs AS (
          SELECT s.s_suppkey, t.sat_id, t.minute,
                 CAST(FLOOR((${havS("s.s_lat", "s.s_lon", "t.tlat", "t.tlon")}) * 1024.0) AS BIGINT) AS dist_q
          FROM st s CROSS JOIN track t)
        SELECT s_suppkey, sat_id,
               MIN(minute) AS first_visible_min,
               CAST(COUNT(*) AS BIGINT) AS n_visible_min,
               round(MIN(dist_q)/1024.0, 3) AS min_dist_km
        FROM pairs
        WHERE dist_q <= 1024000
        GROUP BY s_suppkey, sat_id
        ORDER BY s_suppkey, sat_id"""
  }

  /** geo_look_angles oracle: the same VALUES track as geo_overpass,
    * brute-force paired against every station — independently proving the
    * Spark side's latitude-band pruning loses no visible pair — with the
    * identical az/el/range trig text.
    */
  private lazy val lookAnglesOracle: String = {
    val rows = sgp4TrackLocal
      .map { case (s, m, la, lo) => s"($s,$m,${dlit(la)},${dlit(lo)})" }
      .mkString(",")
    s"""WITH track(sat_id, minute, tlat, tlon) AS (VALUES $rows),
        st AS (SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon FROM supplier),
        pairs AS (
          SELECT s.s_suppkey, t.sat_id, t.minute,
                 s.s_lat, s.s_lon, t.tlat, t.tlon,
                 round(${havS("s.s_lat", "s.s_lon", "t.tlat", "t.tlon")}, 3)
                   AS gd_km
          FROM st s CROSS JOIN track t),
        ang AS (
          SELECT *, gd_km / 6371.0e0 AS theta
          FROM pairs WHERE gd_km <= 1000.0),
        scored AS (
          SELECT s_suppkey, sat_id, minute, gd_km,
                 round(${bearS("s_lat", "s_lon", "tlat", "tlon")}, 3) AS az_deg,
                 round(degrees(atan2(cos(theta) - 6371.0e0/6921.0e0,
                   sin(theta))), 3) AS el_deg,
                 round(sqrt(6371.0e0*6371.0e0 + 6921.0e0*6921.0e0
                   - 2.0e0*6371.0e0*6921.0e0*cos(theta)), 3) AS range_km
          FROM ang)
        SELECT s_suppkey, sat_id, minute, gd_km, az_deg, el_deg, range_km
        FROM scored WHERE el_deg >= 25.0
        ORDER BY s_suppkey, sat_id, minute"""
  }

  /** Marching-squares case table rendered as shared SQL CASE text — the
    * contour extraction odin_wind runs on forecast grids
    * (odin_wind/src/actor.rs:306 create_contour_json /
    * write_windspeed_contour). Corners of the 2×2 block anchored at cell
    * (ci,cj): bl=(cj,ci) br=(cj+1,ci) tr=(cj+1,ci+1) tl=(cj,ci+1);
    * `iso` is the threshold column. Each crossed edge's crossing point is
    * linear interpolation (iso - z1)/(z2 - z1) — integer corners and a
    * half-integer threshold, so the arithmetic is pure rational IEEE,
    * bit-identical across engines, and the denominator is never zero
    * inside its guarding branch. Saddles resolve with the fixed
    * center-low pairing (no center sampling), the deterministic variant.
    * Returns the CASE expression text for segment `seg` (0/1) coordinate
    * `coord` (0=x1,1=y1,2=x2,3=y2), in grid units.
    */
  private[graft] def marchingCase(seg: Int, coord: Int): String = {
    // edge crossing points (x, y) in grid units
    val B = ("(cj + (iso - bl)/(br - bl))", "CAST(ci AS DOUBLE)")
    val R = ("CAST(cj + 1 AS DOUBLE)", "(ci + (iso - br)/(tr - br))")
    val T = ("(cj + (iso - tl)/(tr - tl))", "CAST(ci + 1 AS DOUBLE)")
    val L = ("CAST(cj AS DOUBLE)", "(ci + (iso - bl)/(tl - bl))")
    val whens = (1 to 14).flatMap { idx =>
      val hb = Seq(8, 4, 2, 1).map(m => (idx & m) != 0) // bl, br, tr, tl
      val Seq(bl, br, tr, tl) = hb
      val crossed = Seq(
        (bl != br) -> B, (br != tr) -> R, (tl != tr) -> T, (bl != tl) -> L)
        .collect { case (true, e) => e }
      val segs: Seq[((String, String), (String, String))] =
        if (crossed.size == 2) Seq((crossed(0), crossed(1)))
        else if (bl) Seq((L, B), (R, T)) // saddle bl+tr, center-low
        else Seq((B, R), (T, L)) // saddle br+tl, center-low
      if (seg < segs.size) {
        val (p, q) = segs(seg)
        val e = coord match {
          case 0 => p._1; case 1 => p._2; case 2 => q._1; case 3 => q._2
        }
        Some(s"WHEN $idx THEN $e")
      } else None
    }
    s"CASE midx ${whens.mkString(" ")} ELSE NULL END"
  }

  /** Edge-key twin of [[marchingCase]]: each interpolated contour endpoint
    * lies on exactly one lattice edge, so the INTEGER edge id — (kind,
    * row, col) packed into a BIGINT — identifies it exactly, with no
    * floating-point node keys. Same case table and saddle convention as
    * marchingCase, so rings assemble from precisely the segments
    * geo_contour emits. end 0 = first endpoint, 1 = second.
    */
  private[graft] def marchingEdgeKey(seg: Int, end: Int): String = {
    def h(ci: String, cj: String) = s"((($ci + 1000) * 4096) + ($cj + 1000)) * 2"
    def v(ci: String, cj: String) = s"((($ci + 1000) * 4096) + ($cj + 1000)) * 2 + 1"
    val B = h("ci", "cj"); val R = v("ci", "cj + 1")
    val T = h("ci + 1", "cj"); val L = v("ci", "cj")
    val whens = (1 to 14).flatMap { idx =>
      val hb = Seq(8, 4, 2, 1).map(m => (idx & m) != 0)
      val Seq(bl, br, tr, tl) = hb
      val crossed = Seq(
        (bl != br) -> B, (br != tr) -> R, (tl != tr) -> T, (bl != tl) -> L)
        .collect { case (true, e) => e }
      val segs: Seq[(String, String)] =
        if (crossed.size == 2) Seq((crossed(0), crossed(1)))
        else if (bl) Seq((L, B), (R, T))
        else Seq((B, R), (T, L))
      if (seg < segs.size) {
        val (p, q) = segs(seg)
        Some(s"WHEN $idx THEN CAST(${if (end == 0) p else q} AS BIGINT)")
      } else None
    }
    s"CASE midx ${whens.mkString(" ")} ELSE NULL END"
  }

  /** Shared SQL fragments for ADS-B Compact Position Reporting (CPR),
    * the airborne-position encoding every Mode S extended-squitter
    * decoder must invert before odin_adsb sees a latitude/longitude
    * (sbs.rs lines carry already-decoded positions; the raw-frame path in
    * odin_adsb/src/rs1090.rs delegates this decode). Public algorithm:
    * ICAO Annex 10 Vol III / Doc 9871 airborne CPR with Nb=17, NZ=15.
    * All fragments are pure +,-,*,/ /floor chains except the NL zone
    * lookup, whose acos lands on an integer via floor — identical text is
    * evaluated by both engines.
    */
  private[operators] object CprK {
    // e-notation everywhere: DuckDB types plain decimal literals DECIMAL,
    // which would silently switch the whole chain off IEEE arithmetic
    // (same convention as vincentyCtes / UtmK)
    val P17 = "131072.0e0" // 2^17 (Nb = 17)
    /** Always-positive modulus (SQL % is sign-of-dividend). */
    def MOD(x: String, y: String) = s"(($x) - ($y)*floor(($x)/($y)))"
    /** Longitude zone count NL(lat) — Doc 9871 transition-latitude form. */
    def NL(lat: String): String =
      s"""CASE WHEN abs($lat) > 87.0e0 THEN 1 WHEN abs($lat) = 87.0e0 THEN 2
              WHEN abs($lat) < 1.0e-9 THEN 59
              ELSE CAST(floor(2.0e0*pi()/acos(1.0e0 - (1.0e0-cos(pi()/30.0e0))
                /(cos(radians($lat))*cos(radians($lat))))) AS INT) END"""
    def dlat(i: Int): String = if (i == 0) "6.0e0" else "(360.0e0/59.0e0)"
    /** 17-bit latitude code for format i over truth column tlat. */
    def yz(i: Int): String = {
      val d = dlat(i)
      s"CAST(${MOD(s"floor($P17*${MOD("tlat", d)}/$d + 0.5e0)", P17)} AS BIGINT)"
    }
    /** Encoder's quantized latitude (what the airborne sender uses for
      * its own NL) for format i, given yz$i. */
    def rlatEnc(i: Int): String =
      s"(${dlat(i)}*(yz$i/$P17 + floor(tlat/${dlat(i)})))"
    /** 17-bit longitude code for format i, given nl$i (zone count at the
      * encoder's quantized latitude). */
    def xz(i: Int): String = {
      val d = s"(360.0e0/greatest(nl$i - $i, 1))"
      s"CAST(${MOD(s"floor($P17*${MOD("tlon", d)}/$d + 0.5e0)", P17)} AS BIGINT)"
    }
    // ---- global-decode fragments (identical text, both engines) ----
    val J = s"floor((59.0e0*yz0 - 60.0e0*yz1)/$P17 + 0.5e0)"
    val RLAT0R = s"6.0e0*(${MOD("j", "60.0e0")} + yz0/$P17)"
    val RLAT1R = s"(360.0e0/59.0e0)*(${MOD("j", "59.0e0")} + yz1/$P17)"
    def ADJLAT(c: String) =
      s"CASE WHEN ${c}r >= 270.0e0 THEN ${c}r - 360.0e0 ELSE ${c}r END"
    val M =
      s"floor((xz0*CAST(dnl0 - 1 AS DOUBLE) - xz1*CAST(dnl0 AS DOUBLE))/$P17 + 0.5e0)"
    val RLONR = s"(360.0e0/ni)*(${MOD("m", "CAST(ni AS DOUBLE)")} + xz0/$P17)"
    val RLON = "CASE WHEN rlonr >= 180.0e0 THEN rlonr - 360.0e0 ELSE rlonr END"
    // ---- local (single-frame vs reference) decode fragments ----
    val LJ = s"(floor(ref_lat/6.0e0) + floor(0.5e0 + ${MOD("ref_lat", "6.0e0")}/6.0e0 - yz0/$P17))"
    val LRLAT = s"(6.0e0*(jl + yz0/$P17))"
    val LM =
      s"(floor(ref_lon/(360.0e0/ni)) + floor(0.5e0 + ${MOD("ref_lon", "(360.0e0/ni)")}/(360.0e0/ni) - xz0/$P17))"
    val LRLON = s"((360.0e0/ni)*(ml + xz0/$P17))"
    val LATERRL = "CAST(round(abs(rlat - tlat)*1000000.0e0) AS BIGINT)"
    val LONERRL =
      s"CAST(round(abs(${MOD("rlon - tlon + 180.0e0", "360.0e0")} - 180.0e0)*1000000.0e0) AS BIGINT)"
    // structural validity: reference within a half zone of truth (and for
    // longitude, the decoder's zone count agreeing with the encoder's)
    val INLAT = "(abs(tlat - ref_lat) < 3.0e0)"
    val INLON =
      s"((abs(${MOD("tlon - ref_lon + 180.0e0", "360.0e0")} - 180.0e0) < (360.0e0/ni)/2.0e0) AND nl0 = dnl)"
    val NLOUT = "CASE WHEN zone_ok THEN dnl0 ELSE -1 END"
    val LONOUT = "CASE WHEN zone_ok THEN round(rlon, 6) ELSE -999.0e0 END"
    val LATERR = "CAST(round(abs(rlat0 - tlat)*1000000.0e0) AS BIGINT)"
    val LONERR =
      s"""CASE WHEN zone_ok THEN CAST(round(abs(${MOD("rlon - tlon + 180.0e0", "360.0e0")}
         - 180.0e0)*1000000.0e0) AS BIGINT) ELSE -1 END"""
  }

  /** Encode-then-globally-decode CPR over a frame of (event_id, tlat,
    * tlon) truth positions — the pipeline behind geo_cpr_decode, exposed
    * so specs can sweep adversarial latitudes (zone transitions, high
    * bands) beyond what the test tables carry.
    */
  private[graft] def cprDecode(t: DataFrame): DataFrame = {
    import CprK._
    t.withColumn("yz0", expr(yz(0))).withColumn("yz1", expr(yz(1)))
      .withColumn("nl0", expr(NL(rlatEnc(0))))
      .withColumn("nl1", expr(NL(rlatEnc(1))))
      .withColumn("xz0", expr(xz(0))).withColumn("xz1", expr(xz(1)))
      .withColumn("j", expr(J))
      .withColumn("rlat0r", expr(RLAT0R))
      .withColumn("rlat1r", expr(RLAT1R))
      .withColumn("rlat0", expr(ADJLAT("rlat0")))
      .withColumn("rlat1", expr(ADJLAT("rlat1")))
      .withColumn("dnl0", expr(NL("rlat0")))
      .withColumn("dnl1", expr(NL("rlat1")))
      .withColumn("zone_ok", expr("dnl0 = dnl1"))
      .withColumn("m", expr(M))
      .withColumn("ni", expr("greatest(dnl0, 1)"))
      .withColumn("rlonr", expr(RLONR))
      .withColumn("rlon", expr(RLON))
      .select(col("event_id"), col("yz0"), col("xz0"), col("yz1"), col("xz1"),
        col("zone_ok"),
        expr(NLOUT).as("nl"),
        expr("round(rlat0, 6)").as("lat_dec"),
        expr(LONOUT).as("lon_dec"),
        expr(LATERR).as("lat_err_udeg"),
        expr(LONERR).as("lon_err_udeg"))
      .orderBy(col("event_id"))
  }

  /** Shared SQL fragments for the Sentinel-2 tile codec + catalog
    * (odin_orbital/src/copernicus.rs:21 tile_enc / :33 tile_dec). The
    * 5-char tile id is zone (2 digits) + latitude band + 2 square letters
    * (MGRS alphabet, I/O excluded); centers derive from part keys. Byte
    * shifts are 0/8/16/32/40 — the reference's layout, byte 3 unused.
    * Shifts are spelled as exact double divisions (< 2^53) so the text
    * runs identically on both engines.
    */
  private[operators] object TileK {
    private val B = "'CDEFGHJKLMNPQRSTUVWX'"  // 20 latitude bands
    private val S = "'ABCDEFGHJKLMNPQRSTUVWXYZ'" // 24 square letters
    val tileId: String =
      s"""concat(lpad(CAST(p_partkey % 60 + 1 AS STRING), 2, '0'),
         substr($B, CAST(p_partkey % 20 AS INT) + 1, 1),
         substr($S, CAST(CAST(floor(p_partkey/20.0e0) AS BIGINT) % 24 AS INT) + 1, 1),
         substr($S, CAST(CAST(floor(p_partkey/480.0e0) AS BIGINT) % 24 AS INT) + 1, 1))"""
    val enc: String =
      """ascii(substr(tile_id, 1, 1)) + ascii(substr(tile_id, 2, 1))*256
         + ascii(substr(tile_id, 3, 1))*65536
         + ascii(substr(tile_id, 4, 1))*4294967296
         + ascii(substr(tile_id, 5, 1))*1099511627776"""
    val dec: String =
      """concat(chr(CAST(enc % 256 AS INT)),
         chr(CAST(CAST(floor(enc/256.0e0) AS BIGINT) % 256 AS INT)),
         chr(CAST(CAST(floor(enc/65536.0e0) AS BIGINT) % 256 AS INT)),
         chr(CAST(CAST(floor(enc/4294967296.0e0) AS BIGINT) % 256 AS INT)),
         chr(CAST(CAST(floor(enc/1099511627776.0e0) AS BIGINT) % 256 AS INT)))"""
    val tlat =
      "CAST(p_partkey*53 % 160 - 80 AS DOUBLE) + CAST(p_partkey % 7 AS DOUBLE)/10.0e0"
    val tlon =
      "CAST(p_partkey*97 % 360 - 180 AS DOUBLE) + CAST(p_partkey % 11 AS DOUBLE)/20.0e0"
  }

  /** Shared formula chain for geo_swath_width — one (name, expression)
    * step list evaluated in identical order by Spark withColumns and the
    * DuckDB oracle's stacked CTEs. Mirrors compute_swath_internal
    * (odin_orbital/src/overpass.rs:500): c0/c1/c2 naming kept.
    */
  private[operators] object SwathK {
    private val A2 = "(6378137.0e0*6378137.0e0)"          // equatorial r²
    private val B2 = "(6356752.3142451793e0*6356752.3142451793e0)" // polar r²
    private val Scan = "radians(56.28e0)"                 // VIIRS max scan
    val steps: Seq[(String, String)] = Seq(
      "slat" -> "(CAST(p_partkey*53 % 160 - 80 AS DOUBLE) + CAST(p_partkey % 5 AS DOUBLE)/10.0e0)",
      "slon" -> "CAST(p_partkey*97 % 360 - 180 AS DOUBLE)",
      "h" -> "(700000.0e0 + CAST(p_partkey % 200 AS DOUBLE)*500.0e0)",
      "nrad" -> s"($A2/sqrt($A2*cos(radians(slat))*cos(radians(slat)) + $B2*sin(radians(slat))*sin(radians(slat))))",
      "x" -> "((nrad + h)*cos(radians(slat))*cos(radians(slon)))",
      "y" -> "((nrad + h)*cos(radians(slat))*sin(radians(slon)))",
      "z" -> s"(($B2/$A2*nrad + h)*sin(radians(slat)))",
      "dist2" -> "(x*x + y*y + z*z)",
      "dist" -> "sqrt(dist2)",
      // ellipsoid-corrected local earth radius at the subpoint direction
      "r" -> s"sqrt(1.0e0/((z*z/dist2)/$B2 + ((x*x + y*y)/dist2)/$A2))",
      "c1s" -> "(r*r - dist2)",
      "c2s" -> s"(dist*cos($Scan))",
      "sat_dist" -> "(c2s - sqrt(c2s*c2s + c1s))",
      "alpha" -> s"asin(sin($Scan)/r*sat_dist)")
  }

  /** Shared SQL fragments for TLE synthesis + parse (geo_tle_parse).
    * Layout per the public two-line-element format; only the checksum
    * fold differs per engine (higher-order function names).
    */
  private[operators] object TleK {
    /** zero-padded int field */
    private def zp(v: String, w: Int) = s"lpad(CAST($v AS STRING), $w, '0')"
    /** "III.FFFF" fixed-point field from a scaled int, int part width 3 */
    private def fx4(v: String) =
      s"concat(lpad(CAST(CAST(floor(($v)/10000.0e0) AS BIGINT) AS STRING), 3, ' '), '.', ${zp(s"($v) % 10000", 4)})"
    // line-2 element fields scaled to ints (deterministic from the key)
    val fields: Seq[(String, String)] = Seq(
      "satnum" -> "(p_partkey % 100000)",
      "inc4" -> "(p_partkey*137 % 1800000)",   // [0, 180) deg ×1e4
      "raan4" -> "(p_partkey*211 % 3600000)",  // [0, 360) deg ×1e4
      "ecc7" -> "(p_partkey*7919 % 10000000)", // implied leading 0.
      "argp4" -> "(p_partkey*307 % 3600000)",
      "ma4" -> "(p_partkey*401 % 3600000)",
      "mm8" -> "(1500000000 + p_partkey % 10000000)", // [15.0, 15.1) ×1e8
      "rev" -> "(p_partkey % 100000)",
      "doyi" -> "(1 + p_partkey % 365)",
      "doyf8" -> "(p_partkey*37 % 100000000)",
      "bman5" -> "(p_partkey*7 % 100000)",     // bstar mantissa .NNNNN
      "bexp" -> "(p_partkey % 6)")             // bstar exponent 10^-e
    /** 68-char line 1 (before checksum): epoch + drag terms. */
    val line1: String =
      s"""concat('1 ', ${zp("satnum", 5)}, 'U 24001A   24', ${zp("doyi", 3)}, '.',
         ${zp("doyf8", 8)}, '  .00001234  00000-0  ', ${zp("bman5", 5)}, '-',
         CAST(bexp AS STRING), ' 0 ', lpad(CAST(p_partkey % 10000 AS STRING), 4, ' '))"""
    /** 68-char line 2 (before checksum): the orbital elements. */
    val line2: String =
      s"""concat('2 ', ${zp("satnum", 5)}, ' ', ${fx4("inc4")}, ' ', ${fx4("raan4")},
         ' ', ${zp("ecc7", 7)}, ' ', ${fx4("argp4")}, ' ', ${fx4("ma4")}, ' ',
         lpad(CAST(CAST(floor(mm8/100000000.0e0) AS BIGINT) AS STRING), 2, ' '), '.',
         ${zp("mm8 % 100000000", 8)}, ${zp("rev", 5)})"""
    /** mod-10 checksum term for char i of `c` — digits count their value,
      * '-' counts 1 (the TLE rule). */
    def ckTerm(c: String, i: String): String =
      s"""CASE WHEN substring($c, $i, 1) BETWEEN '0' AND '9'
              THEN ascii(substring($c, $i, 1)) - 48
              WHEN substring($c, $i, 1) = '-' THEN 1 ELSE 0 END"""
    /** fixed-width "III.FFFF" column back to ×1e4 int */
    def p4(c: String, start: Int): String =
      s"CAST(replace(trim(substring($c, $start, 8)), '.', '') AS BIGINT)"
    /** bstar: ±0.NNNNN × 10^-e decoded with exact power literals */
    val bstarParse: String =
      s"""(CAST(substring(l1, 55, 5) AS BIGINT)/100000.0e0) *
          (CASE substring(l1, 61, 1) WHEN '0' THEN 1.0e0 WHEN '1' THEN 1.0e-1
           WHEN '2' THEN 1.0e-2 WHEN '3' THEN 1.0e-3 WHEN '4' THEN 1.0e-4
           WHEN '5' THEN 1.0e-5 ELSE 1.0e-6 END) *
          (CASE WHEN substring(l1, 54, 1) = '-' THEN -1.0e0 ELSE 1.0e0 END)"""
  }

  /** geo_cpa per-cell density cap: a (time-bucket, 1°-cell) whose latest-
    * fix membership exceeds this is excluded from the CPA pair join and
    * reported by geo_cpa_overflow instead. The grid join's pair work per
    * cell is ≤ 9·K², so the query's cost is O(n·K) regardless of how hot
    * one airport hub gets — the guard a 100 TB track deployment ships
    * (the r8 ×100 sweep measured Σc² growing 78× for 10× data under the
    * hub geometry; the output itself is quadratic in cell density, so
    * listing it unbounded is wrong at scale, not just slow). K is far
    * above any gate-scale density (max observed: 4 at sf0.01, 9 at
    * sf0.1), so gate outputs are byte-identical to the uncapped query.
    */
  private val CpaCellCap = 64L

  /** Latest per-(user, 30-min bucket) fix + finite-difference velocity on
    * the hub-converging synthetic track (rational arithmetic only — bit-
    * exact cross-engine): entities share one of 8 "airports" and drift
    * linearly. Shared by geo_cpa and geo_cpa_overflow.
    */
  private def cpaLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_sec"), col("event_id"))
    val fixes = Tables.events(s, d)
      .withColumn("hub", col("user_id") % 8)
      .withColumn("lat",
        (col("hub") * 13 % 120 - 60).cast(DoubleType)
          + ((col("user_id") % 17) - 8) / lit(20.0)
          + (col("ts_sec") % 3600) / lit(3600.0)
            * ((col("user_id") % 5) - 2) / lit(10.0))
      .withColumn("lon",
        (col("hub") * 29 % 340 - 170).cast(DoubleType)
          + ((col("user_id") % 23) - 11) / lit(20.0)
          + (col("ts_sec") % 3600) / lit(3600.0)
            * ((col("user_id") % 7) - 3) / lit(10.0))
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        col("lat"), col("lon"))
      .withColumn("plat", lag(col("lat"), 1).over(w))
      .withColumn("plon", lag(col("lon"), 1).over(w))
      .withColumn("pts", lag(col("ts_sec"), 1).over(w))
      .filter(col("pts").isNotNull && col("ts_sec") > col("pts"))
      .withColumn("vlat",
        (col("lat") - col("plat")) / ((col("ts_sec") - col("pts")) / lit(60.0)))
      .withColumn("vlon",
        (col("lon") - col("plon")) / ((col("ts_sec") - col("pts")) / lit(60.0)))
      .withColumn("tb", expr("ts_sec div 1800"))
    fixes
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("tb"))
          .orderBy(col("ts_sec").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("tb"), col("lat"), col("lon"),
        col("vlat"), col("vlon"),
        floor(col("lat")).cast(LongType).as("cl"),
        floor(col("lon")).cast(LongType).as("cn"))
  }

  /** Per-(tb, cell) membership counts over cpaLatest. */
  private def cpaDensity(s: SparkSession, d: String): DataFrame =
    cpaLatest(s, d).groupBy(col("tb"), col("cl"), col("cn"))
      .agg(count(lit(1)).as("n_entities"))

  /** cpaLatest minus the members of overdense cells (the density cap).
    * One count-window on the cell key — cheaper than a groupBy + join
    * (measured at sf0.1: 4.1 s vs 7.1 s for the whole query; one
    * exchange instead of two, and the cap costs ~nothing vs uncapped).
    */
  private def cpaLatestCapped(s: SparkSession, d: String): DataFrame =
    cpaLatest(s, d)
      .withColumn("cell_n", count(lit(1)).over(
        Window.partitionBy(col("tb"), col("cl"), col("cn"))))
      .filter(col("cell_n") <= CpaCellCap)
      .drop("cell_n")

  /** Oracle CTE chain up to `latest` / `dens` / `kept` — the DuckDB twin
    * of cpaLatest/cpaDensity/cpaLatestCapped, shared by the geo_cpa and
    * geo_cpa_overflow oracles.
    */
  private val CPA_LATEST_CTES = s"""
        raw AS (
          SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 user_id % 8 AS hub
          FROM events),
        cpa_pts AS (
          SELECT user_id, event_id, ts_sec,
                 CAST(hub*13 % 120 - 60 AS DOUBLE)
                   + ((user_id % 17) - 8) / 20.0
                   + (ts_sec % 3600) / 3600.0 * ((user_id % 5) - 2) / 10.0
                   AS lat,
                 CAST(hub*29 % 340 - 170 AS DOUBLE)
                   + ((user_id % 23) - 11) / 20.0
                   + (ts_sec % 3600) / 3600.0 * ((user_id % 7) - 3) / 10.0
                   AS lon
          FROM raw),
        fixes AS (
          SELECT *,
                 (lat - lag(lat) OVER w)
                   / ((ts_sec - lag(ts_sec) OVER w) / 60.0) AS vlat,
                 (lon - lag(lon) OVER w)
                   / ((ts_sec - lag(ts_sec) OVER w) / 60.0) AS vlon,
                 lag(ts_sec) OVER w AS prev_ts,
                 ts_sec // 1800 AS tb
          FROM cpa_pts
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
          QUALIFY prev_ts IS NOT NULL AND ts_sec > prev_ts),
        latest AS (
          SELECT user_id, tb, lat, lon, vlat, vlon,
                 CAST(floor(lat) AS BIGINT) AS cl,
                 CAST(floor(lon) AS BIGINT) AS cn
          FROM fixes
          QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, tb
                    ORDER BY ts_sec DESC, event_id DESC) = 1),
        dens AS (
          SELECT tb, cl, cn, COUNT(*) AS n_entities
          FROM latest GROUP BY 1, 2, 3),
        kept AS (
          SELECT l.* FROM latest l
          JOIN dens dd ON dd.tb = l.tb AND dd.cl = l.cl AND dd.cn = l.cn
          WHERE dd.n_entities <= $CpaCellCap)"""

  /** Per-(day, corridor) membership cap for the geo_convoys pair join
    * (see the query's derivation comment). 64 = the geo_cpa density-cap
    * precedent; sf0.1 max occupancy is 11, so the cap is inert at every
    * gate SF and engages only on overdense fleets (×100: 1044). Declared
    * BEFORE defs: the oracle strings interpolate it eagerly at object
    * init, so a later declaration would read as 0.
    */
  private[graft] final val ConvoyCapK = 64

  /** Keys cubic-convolution weight (a = −0.5, Catmull-Rom — GDAL's
    * cubic): weight of the tap at integer offset `c` ∈ −1..2 for
    * fraction `t` ∈ [0,1). ONE SQL fragment interpolated into both the
    * Spark plan and the DuckDB oracle, so the expression tree — and
    * every IEEE intermediate — is identical across engines.
    */
  private def CubicW(c: String, t: String): String =
    s"""(CASE $c
        WHEN -1 THEN ((-($t*$t*$t) + 2.0e0*($t*$t)) - $t) / 2.0e0
        WHEN 0  THEN ((3.0e0*($t*$t*$t) - 5.0e0*($t*$t)) + 2.0e0) / 2.0e0
        WHEN 1  THEN ((-3.0e0*($t*$t*$t) + 4.0e0*($t*$t)) + $t) / 2.0e0
        ELSE (($t*$t*$t) - ($t*$t)) / 2.0e0 END)"""

  /** Lanczos-3 weight (GDAL's Lanczos): sinc(x)·sinc(x/3) at
    * x = c − t for tap offset `c` ∈ −2..3, fraction `t` ∈ [0,1).
    * sin() is transcendental, so unlike CubicW the raw IEEE result is
    * not guaranteed bit-identical across libm implementations — the
    * weight is QUANTIZED to 6 decimals via floor(w·1e6 + 0.5)/1e6, an
    * integer-exact spelling whose every step (multiply, add, floor,
    * divide) is the same IEEE operation in both engines — unlike
    * round(w, 6), whose implementations differ (Spark: BigDecimal
    * HALF_UP on the shortest-decimal repr; DuckDB: multiply-based
    * half-away) and can disagree exactly at a .5e-6 boundary (ADVICE
    * r12). Products and the fixed-order 36-term sum downstream are then
    * identical IEEE on both sides. One fragment interpolated into both
    * engines, like CubicW. Residual risk, accepted and documented: if
    * the two engines' libm sin() results straddle a floor boundary
    * (|Δ| ~1 ulp at w·1e6 + 0.5 ≈ integer) the quantized weights can
    * still differ — irreducible without shipping a table-driven sin;
    * the gate corpus plus both DuckDB TZ runs have never hit it.
    */
  private def LanczosW(c: String, t: String): String =
    s"""(floor((CASE WHEN abs(CAST($c AS DOUBLE) - $t) < 1e-12 THEN 1.0e0
        ELSE 3.0e0 * sin(3.141592653589793e0 * (CAST($c AS DOUBLE) - $t))
             * sin(3.141592653589793e0 * (CAST($c AS DOUBLE) - $t) / 3.0e0)
             / (9.869604401089358e0 * (CAST($c AS DOUBLE) - $t)
                * (CAST($c AS DOUBLE) - $t)) END) * 1.0e6 + 0.5e0)
        / 1.0e6)"""

  /** Geo's raster layer, stated once for every grid query (the odin_dem,
    * odin_hrrr and odin_gdal-warp shapes: grid binning, grid aggregation,
    * tap lookup):
    *  - the synthetic lattices: the 1° grid (gi, gj) with its DEM and u/v
    *    wind formulas, the 200×300 source raster (si, sj) with its `% 97`
    *    nodata holes and its ×4 decimation, and the 50×40 UTM target
    *    lattice (ti, tj) with its source-cell position (fx, fy);
    *  - the tap sampler: probe × taps ⋈ grid with one separable weight,
    *    pivoted into a fixed tap order so every float sum adds in ONE
    *    order on both engines;
    *  - the 2° event-density cells (ci, cj, z) and their neighbour shift.
    * The DuckDB fragments are written separately, not derived from the
    * Column code; an oracle uses one only where its text is the same.
    */
  private[graft] object Raster {
    /** Every (a, b) over two integer ranges: the cells a raster lies on. */
    def lattice(s: SparkSession, a: String, as: Range, b: String, bs: Range): DataFrame =
      s.range(as.head, as.last + 1).select(col("id").as(a))
        .crossJoin(s.range(bs.head, bs.last + 1).select(col("id").as(b)))

    /** The 1° grid, (gi, gj) over [−70, 70] × [−180, 180]. */
    def grid(s: SparkSession): DataFrame = lattice(s, "gi", -70 to 70, "gj", -180 to 180)
    /** Synthetic DEM over the 1° grid: an integer in [0, 500). */
    val dem: Column = ((col("gi") * 31 + col("gj") * 17) % 500 + 500) % 500
    /** Synthetic u/v wind over the 1° grid: exact quarter-integers. */
    val windU: Column = (((col("gi") * 13 + col("gj") * 7) % 41 + 41) % 41 - 20) / 4.0
    val windV: Column = (((col("gi") * 5 + col("gj") * 11) % 37 + 37) % 37 - 18) / 4.0
    /** DuckDB 1° grid: a CTE body selecting gi, gj and `cols`. */
    def gridSql(cols: String*): String = s"""
          SELECT gi.i AS gi, gj.j AS gj,
                 ${cols.mkString(",\n                 ")}
          FROM generate_series(-70, 70) AS gi(i),
               generate_series(-180, 180) AS gj(j)"""
    val DemSql = "((gi.i*31 + gj.j*17) % 500 + 500) % 500"
    val WindSql = Seq("(((gi.i*13 + gj.j*7) % 41 + 41) % 41 - 20) / 4.0 AS gu",
      "(((gi.i*5 + gj.j*11) % 37 + 37) % 37 - 18) / 4.0 AS gv")

    /** The 200×300 source raster (si, sj), 1 km UTM zone-10 cells: column
      * `as` holds `value`, NULL in the ~1% `% 97` nodata holes.
      */
    def source(s: SparkSession, value: String = "CAST((si*31 + sj*17) % 500 AS DOUBLE) + 50.0",
        as: String = "v"): DataFrame =
      lattice(s, "si", 0 until 200, "sj", 0 until 300)
        .withColumn(as, expr(s"CASE WHEN (si*7 + sj*11) % 97 = 0 THEN NULL ELSE $value END"))
    /** DuckDB source raster: a CTE body. */
    def sourceSql(value: String = "CAST((si.a*31 + sj.b*17) % 500 AS DOUBLE) + 50.0",
        as: String = "v"): String = s"""
          SELECT si.a AS si, sj.b AS sj,
                 CASE WHEN (si.a*7 + sj.b*11) % 97 = 0 THEN NULL
                      ELSE $value
                 END AS $as
          FROM generate_series(0, 199) AS si(a),
               generate_series(0, 299) AS sj(b)"""
    /** The ×4 decimation: source rows grouped by their target cell
      * (ti, tj) = (si DIV 4, sj DIV 4), then by `more`.
      */
    def decimated(src: DataFrame, more: Column*): RelationalGroupedDataset =
      src.groupBy(Seq(expr("si DIV 4").as("ti"), expr("sj DIV 4").as("tj")) ++ more: _*)
    /** A ×4 downsample of the source raster: per target cell the count of
      * non-null members, `valid` (any member) and `value`, an aggregate
      * over `v`.
      */
    def decimate(s: SparkSession, value: Column): DataFrame =
      decimated(source(s)).agg(count(col("v")).as("n_valid"), value.as("value"))
        .select(col("ti"), col("tj"), col("n_valid"), (col("n_valid") > 0).as("valid"),
          col("value"))
        .orderBy(col("ti"), col("tj"))

    /** The 50×40 UTM target lattice: (ti, tj) every 0.05° from (36.025°,
      * −122.975°), Krüger-forward (the UtmK chain) to its fractional
      * source cell (fx, fy); easting/northing are mm-rounded first so a
      * last-ulp libm wiggle cannot move a cell.
      */
    def utmTarget(s: SparkSession): DataFrame =
      withUtm(lattice(s, "ti", 0 until 50, "tj", 0 until 40)
          .withColumn("lat", expr("36.025e0 + ti * 0.05e0"))
          .withColumn("lon", expr("-122.975e0 + tj * 0.05e0")), col("lat"), col("lon"))
        .withColumn("fx", expr("(round(utm_easting, 3) - 500000.0e0) / 1000.0e0"))
        .withColumn("fy", expr("(round(utm_northing, 3) - 4000000.0e0) / 1000.0e0"))
    private val utmFwd = UtmK.ctes("uz", UtmK.fwdSteps("lat", "lon"), "rf")
    /** DuckDB UTM target: the CTEs tgt, uz and the forward chain. */
    val UtmTargetSql: String = s"""tgt AS (
          SELECT ti.a AS ti, tj.b AS tj,
                 36.025e0 + ti.a * 0.05e0 AS lat,
                 -122.975e0 + tj.b * 0.05e0 AS lon
          FROM generate_series(0, 49) AS ti(a),
               generate_series(0, 39) AS tj(b)),
        uz AS (SELECT *, ${UtmK.zoneExpr("lat", "lon")} AS utm_zone
               FROM tgt),
        ${utmFwd._1}"""
    /** The forward chain's last CTE. */
    val UtmLast: String = utmFwd._2
    /** DuckDB target cells: a CTE body with each target's source cell
      * (i, j) and fractions (di, dj).
      */
    val UtmCellsSql: String = s"""
          SELECT ti, tj, lat, lon,
                 CAST(floor((round(utm_easting, 3) - 500000.0e0)
                   / 1000.0e0) AS BIGINT) AS i,
                 CAST(floor((round(utm_northing, 3) - 4000000.0e0)
                   / 1000.0e0) AS BIGINT) AS j,
                 (round(utm_easting, 3) - 500000.0e0) / 1000.0e0
                   - floor((round(utm_easting, 3) - 500000.0e0)
                     / 1000.0e0) AS di,
                 (round(utm_northing, 3) - 4000000.0e0) / 1000.0e0
                   - floor((round(utm_northing, 3) - 4000000.0e0)
                     / 1000.0e0) AS dj
          FROM $UtmLast"""

    /** A separable tap kernel: the per-axis tap offsets, and the SQL
      * weight of the tap at offset `o` for cell fraction `t`.
      */
    final case class Taps(offs: Seq[Long], weight: (String, String) => String) {
      def n: Int = offs.size * offs.size
    }
    val Bilinear = Taps(Seq(0L, 1L), (o, t) => s"(CASE WHEN $o = 0 THEN 1.0e0 - $t ELSE $t END)")
    val Cubic = Taps(-1L to 2L, CubicW)
    val Lanczos = Taps(-2L to 3L, LanczosW)

    /** The tap sampler: samples `grid` at each probe's position (x, y),
      * in grid cells. A probe gets its cell (i, j) = floor(x, y) and
      * fractions (di, dj), explodes to the kernel's taps (oi, oj) and
      * joins (`how`) the grid row at (i + oi, j + oj); the grid's first
      * two columns are its cell keys. Each row carries `ord`, the tap's
      * row-major index from 0, and its weight `w` =
      * weight(oi, di) · weight(oj, dj). An inner join drops taps off the
      * grid, and a probe with none; a left join keeps them with NULL
      * grid columns.
      */
    def sample(probes: DataFrame, x: Column, y: Column, taps: Taps, grid: DataFrame,
        how: String = "inner"): DataFrame = {
      val offs = array(taps.offs.map(lit): _*)
      val t = probes
        .withColumn("i", floor(x).cast(LongType))
        .withColumn("j", floor(y).cast(LongType))
        .withColumn("di", x - col("i"))
        .withColumn("dj", y - col("j"))
        .withColumn("oi", explode(offs))
        .withColumn("oj", explode(offs))
      val Array(gi, gj) = grid.columns.take(2)
      val o0 = taps.offs.head
      t.join(grid, t("i") + t("oi") === grid(gi) && t("j") + t("oj") === grid(gj), how)
        .withColumn("ord", (col("oi") - o0) * taps.offs.size + (col("oj") - o0))
        .withColumn("w", expr(s"${taps.weight("oi", "di")} * ${taps.weight("oj", "dj")}"))
    }
    /** Tap `k`'s rows. */
    def tap(k: Int): Column = col("ord") === k
    /** Zero-filled per-tap sum: a missing tap reads 0.0 (and 0.0 + x
      * turns −0.0 into 0.0).
      */
    def tapSum(k: Int, x: Column): Column = sum(when(tap(k), x).otherwise(0.0))
    /** Null-keeping per-tap max, an exact selection of the tap's one row:
      * a missing tap reads NULL.
      */
    def tapMax(k: Int, x: Column): Column = max(when(tap(k), x))
    /** One row per probe: sampled taps grouped by `keys`, the `lead`
      * aggregates, then `perTap(k)` for each tap k in order. Each tap
      * lands in its own column, so `chain` adds them in one fixed order
      * (a float SUM's partial-aggregation order is engine-defined).
      */
    def pivot(tapped: DataFrame, keys: Seq[Column], n: Int, lead: Column*)(
        perTap: Int => Seq[Column]): DataFrame = {
      val aggs = lead ++ (0 until n).flatMap(perTap)
      tapped.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    }
    /** ((p0 + p1) + …) + p(n−1): the fixed summand order. */
    def chain(p: String, n: Int): Column = expr((1 until n).foldLeft(s"${p}0")((a, k) => s"($a + $p$k)"))
    /** The nodata-renormalised bilinear reduction: taps off the grid or on
      * a NULL `v` drop out and the other weights renormalise; a probe
      * with no valid tap is NULL with valid = false.
      */
    def renormalised(tapped: DataFrame, keys: String*): DataFrame = {
      def live(k: Int) = tap(k) && col("v").isNotNull
      pivot(tapped, keys.map(col), Bilinear.n)(k => Seq(
          sum(when(live(k), col("w")).otherwise(0.0)).as(s"w$k"),
          sum(when(live(k), col("w") * col("v")).otherwise(0.0)).as(s"v$k")))
        .withColumn("wsum", chain("w", Bilinear.n))
        .select(keys.map(col) :+ (col("wsum") > 0.0).as("valid")
          :+ when(col("wsum") > 0.0, chain("v", Bilinear.n) / col("wsum")).as("value"): _*)
    }

    /** The 2° event-density cells: each occupied cell (ci, cj) and its
      * event count `z`.
      */
    def density(s: SparkSession, d: String, z: String = "z"): DataFrame =
      evPts(s, d)
        .groupBy(floor(col("lat") / 2.0).cast(LongType).as("ci"),
          floor(col("lon") / 2.0).cast(LongType).as("cj"))
        .agg(count(lit(1)).as(z))
    /** DuckDB density cells: a CTE body. */
    val DensitySql = s"""
          SELECT CAST(FLOOR($LAT/2.0) AS BIGINT) AS ci,
                 CAST(FLOOR($LON/2.0) AS BIGINT) AS cj, COUNT(*) AS z
          FROM events GROUP BY 1, 2"""
    /** The neighbour shift: joined on (ci, cj), cell (ci, cj) reads the
      * `z` of cell (ci + di, cj + dj) as `as` — an equi-join on the cell
      * key, never a windowed scan of the raster.
      */
    private def shifted(cells: DataFrame, di: Int, dj: Int, as: String): DataFrame =
      cells.select((col("ci") - di).as("ci"), (col("cj") - dj).as("cj"), col("z").as(as))
    /** The central-difference gradient (dzdx, dzdy) of every cell with
      * all 4 neighbours.
      */
    def gradient(cells: DataFrame): DataFrame =
      cells
        .join(shifted(cells, 0, 1, "z_e"), Seq("ci", "cj"))
        .join(shifted(cells, 0, -1, "z_w"), Seq("ci", "cj"))
        .join(shifted(cells, 1, 0, "z_n"), Seq("ci", "cj"))
        .join(shifted(cells, -1, 0, "z_s"), Seq("ci", "cj"))
        .withColumn("dzdx", (col("z_e") - col("z_w")).cast(DoubleType) / 2.0)
        .withColumn("dzdy", (col("z_n") - col("z_s")).cast(DoubleType) / 2.0)
    /** The marching-squares block frame: per 2×2 block (corners bl, br,
      * tr, tl from cell (ci, cj) up) and iso level, the case index `midx`
      * of the blocks the isoline crosses.
      */
    def blocks(cells: DataFrame): DataFrame =
      cells.withColumnRenamed("z", "bl")
        .join(shifted(cells, 0, 1, "br"), Seq("ci", "cj"))
        .join(shifted(cells, 1, 1, "tr"), Seq("ci", "cj"))
        .join(shifted(cells, 1, 0, "tl"), Seq("ci", "cj"))
        .withColumn("iso", explode(array(lit(1.5), lit(3.5), lit(7.5))))
        .withColumn("midx", expr(
          """CAST(CASE WHEN bl >= iso THEN 8 ELSE 0 END
             + CASE WHEN br >= iso THEN 4 ELSE 0 END
             + CASE WHEN tr >= iso THEN 2 ELSE 0 END
             + CASE WHEN tl >= iso THEN 1 ELSE 0 END AS INT)"""))
        .filter(col("midx") > 0 && col("midx") < 15)
    /** DuckDB block frame over the `cells` CTE: a CTE body. */
    val BlocksSql = """
          SELECT c.ci, c.cj, c.z AS bl, e.z AS br, ne.z AS tr, n_.z AS tl,
                 t.iso,
                 CAST(CASE WHEN c.z >= t.iso THEN 8 ELSE 0 END
                    + CASE WHEN e.z >= t.iso THEN 4 ELSE 0 END
                    + CASE WHEN ne.z >= t.iso THEN 2 ELSE 0 END
                    + CASE WHEN n_.z >= t.iso THEN 1 ELSE 0 END AS INT) AS midx
          FROM cells c
          JOIN cells e  ON e.ci = c.ci     AND e.cj = c.cj + 1
          JOIN cells ne ON ne.ci = c.ci + 1 AND ne.cj = c.cj + 1
          JOIN cells n_ ON n_.ci = c.ci + 1 AND n_.cj = c.cj
          CROSS JOIN (VALUES (1.5e0), (3.5e0), (7.5e0)) t(iso)
          WHERE CAST(CASE WHEN c.z >= t.iso THEN 8 ELSE 0 END
                   + CASE WHEN e.z >= t.iso THEN 4 ELSE 0 END
                   + CASE WHEN ne.z >= t.iso THEN 2 ELSE 0 END
                   + CASE WHEN n_.z >= t.iso THEN 1 ELSE 0 END AS INT)
                BETWEEN 1 AND 14"""
  }

  val defs: Seq[(String, Q)] = Seq(

    // ----- geo_contour: marching-squares isoline extraction --------------
    // odin_wind/src/actor.rs:306 create_contour_json: wind-speed contour
    // polygons from forecast grids. Field = per-cell event density (the
    // same integer grid geo_grid_stencil differentiates); per 2×2 block
    // and threshold, the marching-squares case emits 0-2 isoline segments
    // with rational-interpolated endpoints. Scale shape: blocks assemble
    // from 3 equi-joins keyed on the shifted cell id (the stencil
    // pattern) — the contour sweep shuffles on the grid key, never a
    // global scan; thresholds explode on the already-blocked frame.
    // Emitted in grid units and degrees (cell size 2°), ordered
    // deterministically; all arithmetic is integer/rational so the oracle
    // hash-matches without rounding.
    "geo_contour" -> Q(
      build = (s, d) => {
        val blocks = Raster.blocks(Raster.density(s, d))
        // build both segments' coordinates from the shared case table
        val withCoords = blocks
          .withColumn("seg", explode(expr("sequence(0, 1)")))
          .withColumn("x1", when(col("seg") === 0, expr(marchingCase(0, 0)))
            .otherwise(expr(marchingCase(1, 0))))
          .withColumn("y1", when(col("seg") === 0, expr(marchingCase(0, 1)))
            .otherwise(expr(marchingCase(1, 1))))
          .withColumn("x2", when(col("seg") === 0, expr(marchingCase(0, 2)))
            .otherwise(expr(marchingCase(1, 2))))
          .withColumn("y2", when(col("seg") === 0, expr(marchingCase(0, 3)))
            .otherwise(expr(marchingCase(1, 3))))
          .filter(col("x1").isNotNull)
        withCoords.select(col("iso"), col("ci"), col("cj"),
          col("seg").cast(IntegerType).as("seg"),
          (col("x1") * 2.0).as("lon1"), (col("y1") * 2.0).as("lat1"),
          (col("x2") * 2.0).as("lon2"), (col("y2") * 2.0).as("lat2"))
          .orderBy(col("iso"), col("ci"), col("cj"), col("seg"))
      },
      oracle = Some({
        def segSql(seg: Int): String =
          s"""SELECT iso, ci, cj, $seg AS seg,
                ${marchingCase(seg, 0)} AS x1, ${marchingCase(seg, 1)} AS y1,
                ${marchingCase(seg, 2)} AS x2, ${marchingCase(seg, 3)} AS y2
              FROM blocks"""
        s"""
        WITH cells AS (${Raster.DensitySql}),
        blocks AS (${Raster.BlocksSql}),
        segs AS (${segSql(0)} UNION ALL ${segSql(1)})
        SELECT iso, ci, cj, seg, x1*2.0 AS lon1, y1*2.0 AS lat1,
               x2*2.0 AS lon2, y2*2.0 AS lat2
        FROM segs WHERE x1 IS NOT NULL
        ORDER BY iso, ci, cj, seg"""
      })),

    // ----- geo_contour_rings: contour polygon assembly -------------------
    // The second half of odin_wind's contour product (actor.rs:306
    // create_contour_json emits closed contour POLYGONS, not loose
    // segments): chain geo_contour's marching-squares segments into
    // rings. Because every interpolated endpoint lies on exactly one
    // lattice edge, the INTEGER edge id is an exact node key (no float
    // joins), and ring assembly is connected components over the
    // segment graph — the same checkpointed pointer-jumping closure the
    // dedup pipeline uses (O(log diameter) rounds at any scale, never a
    // driver-side walk). Output: per (iso, ring) the segment/node counts
    // and closedness — closed iff every node has degree 2.
    "geo_contour_rings" -> Q(
      build = (s, d) => {
        val blocks = Raster.blocks(Raster.density(s, d))
        val segEdges = blocks
          .withColumn("seg", explode(expr("sequence(0, 1)")))
          .withColumn("n1", when(col("seg") === 0, expr(marchingEdgeKey(0, 0)))
            .otherwise(expr(marchingEdgeKey(1, 0))))
          .withColumn("n2", when(col("seg") === 0, expr(marchingEdgeKey(0, 1)))
            .otherwise(expr(marchingEdgeKey(1, 1))))
          .filter(col("n1").isNotNull)
          .withColumn("iso_idx", expr(
            "CAST(CASE WHEN iso = 1.5D THEN 0 WHEN iso = 3.5D THEN 1 ELSE 2 END AS BIGINT)"))
          .select(col("iso"),
            (col("n1") * 3 + col("iso_idx")).as("src"),
            (col("n2") * 3 + col("iso_idx")).as("dst"))
        val nodes = segEdges.select(col("src").as("node"))
          .union(segEdges.select(col("dst").as("node"))).distinct()
        val edges = segEdges.select(col("src"), col("dst"))
          .union(segEdges.select(col("dst").as("src"), col("src").as("dst")))
        val cc = TextOps.connectedComponents(nodes, edges)
        val ringNodes = cc.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
        segEdges
          .join(cc.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("iso"), col("label"))
          .agg(count(lit(1)).as("n_segs"))
          .join(ringNodes, Seq("label"))
          .select(col("iso"), col("label").as("ring_id"),
            col("n_nodes"), col("n_segs"),
            (col("n_segs") === col("n_nodes")).as("closed"))
          .orderBy(col("iso"), col("ring_id"))
      },
      oracle = Some({
        def segSql(seg: Int): String =
          s"""SELECT iso, ${marchingEdgeKey(seg, 0)} AS n1,
                ${marchingEdgeKey(seg, 1)} AS n2
              FROM blocks"""
        s"""
        WITH RECURSIVE cells AS (${Raster.DensitySql}),
        blocks AS (${Raster.BlocksSql}),
        se AS (${segSql(0)} UNION ALL ${segSql(1)}),
        segedges AS (
          SELECT iso, n1*3 + ii AS src, n2*3 + ii AS dst
          FROM (SELECT *, CAST(CASE WHEN iso = 1.5 THEN 0 WHEN iso = 3.5 THEN 1
                                    ELSE 2 END AS BIGINT) AS ii
                FROM se WHERE n1 IS NOT NULL)),
        nodes AS (SELECT DISTINCT src AS node FROM
                  (SELECT src FROM segedges UNION ALL SELECT dst FROM segedges) u(src)),
        edges2 AS (SELECT src AS s, dst AS t FROM segedges
                   UNION ALL SELECT dst, src FROM segedges),
        walk(node, lbl) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT w.node, e.t FROM walk w JOIN edges2 e ON e.s = w.lbl),
        cc AS (SELECT node, MIN(lbl) AS label FROM walk GROUP BY 1),
        ringnodes AS (SELECT label, COUNT(*) AS n_nodes FROM cc GROUP BY 1),
        rings AS (
          SELECT s.iso, c.label AS ring_id, COUNT(*) AS n_segs
          FROM segedges s JOIN cc c ON c.node = s.src
          GROUP BY 1, 2)
        SELECT r.iso, r.ring_id, n.n_nodes, r.n_segs,
               (r.n_segs = n.n_nodes) AS closed
        FROM rings r JOIN ringnodes n ON n.label = r.ring_id
        ORDER BY r.iso, r.ring_id"""
      })),

    // ----- geo_overpass: SGP4 next-overpass prediction -------------------
    // The reference's overpass prediction (odin_orbital/src/overpass.rs:318
    // compute_overpasses): when does each satellite next pass within range
    // of each ground station, and for how long? Track = sgp4Track (real
    // SGP4, spec'd against published test vectors). Scale shape: the track
    // is small and broadcast (n_sats × 1440 rows/day regardless of data
    // size); stations are the data-sized side; the pairing is an
    // equi-join on 10° latitude bands (a pair within the 1000 km
    // visibility radius is never more than 9° of latitude apart, so ±1
    // band replication of the broadcast side loses nothing) — no
    // station×track cross product at any scale.
    "geo_overpass" -> Q(
      build = (s, d) => {
        val st = stations(s, d)
          .withColumn("band", floor(col("s_lat") / 10.0).cast(LongType))
        val tr = sgp4Track(s)
          .withColumn("di", explode(expr("sequence(-1, 1)")))
          .withColumn("band", floor(col("tlat") / 10.0).cast(LongType) + col("di"))
        st.join(broadcast(tr), Seq("band"))
          .withColumn("dist_q",
            floor(havC(col("s_lat"), col("s_lon"), col("tlat"), col("tlon")) * 1024.0)
              .cast(LongType))
          .filter(col("dist_q") <= 1024000L) // within 1000 km => visible
          .groupBy(col("s_suppkey"), col("sat_id"))
          .agg(min(col("minute")).as("first_visible_min"),
            count(lit(1)).cast(LongType).as("n_visible_min"),
            min(col("dist_q")).as("min_q"))
          .select(col("s_suppkey"), col("sat_id"), col("first_visible_min"),
            col("n_visible_min"), round(col("min_q") / 1024.0, 3).as("min_dist_km"))
          .orderBy(col("s_suppkey"), col("sat_id"))
      },
      oracle = Some(overpassOracle)),

    // ----- geo_look_angles: ground-station az/el/range schedule ----------
    // The pointing solution behind every overpass product (odin_orbital's
    // overpass machinery feeds antenna/sensor scheduling): for each
    // (ground station, visible track minute), azimuth = initial great-
    // circle bearing station -> subpoint, elevation from the spherical
    // central angle against the constellation's nominal 550 km altitude
    // (el = atan2(cos th - R/(R+H), sin th)), slant range by the law of
    // cosines. Candidates come from the SAME +-1 latitude-band join as
    // geo_overpass (O(stations x track/band), never stations x 7200),
    // ground distance is quantized to 3 decimals BEFORE the trig chain so
    // the el/range outputs are engine-identical, and the el >= 25 deg
    // visibility cut compares the ROUNDED degree value on both sides.
    "geo_look_angles" -> Q(
      build = (s, d) => {
        val st = stations(s, d)
          .withColumn("band", floor(col("s_lat") / 10.0).cast(LongType))
        val tr = sgp4Track(s)
          .withColumn("di", explode(expr("sequence(-1, 1)")))
          .withColumn("band", floor(col("tlat") / 10.0).cast(LongType) + col("di"))
        st.join(broadcast(tr), Seq("band"))
          .withColumn("gd_km",
            round(havC(col("s_lat"), col("s_lon"), col("tlat"), col("tlon")), 3))
          .filter(col("gd_km") <= 1000.0)
          .withColumn("theta", expr("gd_km / 6371.0e0"))
          .withColumn("az_deg",
            round(bearC(col("s_lat"), col("s_lon"), col("tlat"), col("tlon")), 3))
          .withColumn("el_deg", expr(
            "round(degrees(atan2(cos(theta) - 6371.0e0/6921.0e0, sin(theta))), 3)"))
          .withColumn("range_km", expr(
            """round(sqrt(6371.0e0*6371.0e0 + 6921.0e0*6921.0e0
               - 2.0e0*6371.0e0*6921.0e0*cos(theta)), 3)"""))
          .filter(col("el_deg") >= 25.0)
          .select(col("s_suppkey"), col("sat_id"), col("minute"),
            col("gd_km"), col("az_deg"), col("el_deg"), col("range_km"))
          .orderBy(col("s_suppkey"), col("sat_id"), col("minute"))
      },
      oracle = Some(lookAnglesOracle)),

    // ----- geo_track_simplify: bounded Douglas-Peucker -------------------
    // Track polyline simplification — what a serving layer runs before
    // shipping a 10k-point aircraft track to a display (the tracks
    // odin_adsb assembles and odin_cesium renders). Douglas-Peucker with
    // a BOUNDED 3 split rounds: each round every segment finds its
    // max-deviation interior point (argmax struct, quantized squared
    // perpendicular deviation) and splits where deviation exceeds the
    // 0.05-degree tolerance. Segments carry their endpoint coordinates,
    // so a round is ONE segment x interior-point range join + one argmax
    // groupBy — no per-track recursion, plan depth O(1) per round via
    // checkpoint. The oracle unrolls the identical 3 rounds as CTE
    // stages. Output: the simplified polyline's kept points.
    "geo_track_simplify" -> Q(
      build = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_sec"), col("event_id"))
        val pts = rebase(
          evPts(s, d)
            .select(col("user_id"), col("ts_sec"), col("event_id"),
              col("lat"), col("lon"))
            .withColumn("rn", row_number().over(w))
            .select(col("user_id"), col("rn"), col("lat"), col("lon")))
        val ends = pts.groupBy(col("user_id"))
          .agg(min(col("rn")).as("lo"), max(col("rn")).as("hi"))
        val p1 = pts.select(col("user_id"), col("rn").as("lo"),
          col("lat").as("x1"), col("lon").as("y1"))
        val p2 = pts.select(col("user_id"), col("rn").as("hi"),
          col("lat").as("x2"), col("lon").as("y2"))
        var segs = ends.join(p1, Seq("user_id", "lo"))
          .join(p2, Seq("user_id", "hi"))
          .select(col("user_id"), col("lo"), col("hi"),
            col("x1"), col("y1"), col("x2"), col("y2"))
        for (_ <- 1 to 3) {
          val cand = segs.join(pts, Seq("user_id"))
            .filter(col("rn") > col("lo") && col("rn") < col("hi"))
            .withColumn("devq", expr(DpK.devq))
          val best = cand
            .groupBy(col("user_id"), col("lo"), col("hi"))
            .agg(max(struct(col("devq"), col("rn"), col("lat"), col("lon")))
              .as("b"))
            .select(col("user_id"), col("lo"), col("hi"),
              col("b.devq").as("maxdev"), col("b.rn").as("m"),
              col("b.lat").as("mlat"), col("b.lon").as("mlon"))
          val joined = segs.join(best, Seq("user_id", "lo", "hi"), "left")
          val keeps = joined
            .filter(col("maxdev").isNull || col("maxdev") <= DpK.epsQ)
            .select(col("user_id"), col("lo"), col("hi"),
              col("x1"), col("y1"), col("x2"), col("y2"))
          val splits = joined.filter(col("maxdev") > DpK.epsQ)
          val lefts = splits.select(col("user_id"), col("lo"),
            col("m").as("hi"), col("x1"), col("y1"),
            col("mlat").as("x2"), col("mlon").as("y2"))
          val rights = splits.select(col("user_id"), col("m").as("lo"),
            col("hi"), col("mlat").as("x1"), col("mlon").as("y1"),
            col("x2"), col("y2"))
          segs = rebase(keeps.union(lefts).union(rights))
        }
        segs.select(col("user_id"), col("lo").as("rn"),
            col("x1").as("lat"), col("y1").as("lon"))
          .union(segs.select(col("user_id"), col("hi").as("rn"),
            col("x2").as("lat"), col("y2").as("lon")))
          .distinct()
          .orderBy(col("user_id"), col("rn"))
      },
      oracle = Some {
        // every CTE is MATERIALIZED and referenced at most twice per
        // round (cand + the split/keep pass), so DuckDB cannot inline
        // the round chain exponentially (it OOM'd at sf0.1 on the naive
        // three-branch form)
        def round(k: Int): String = s"""cand$k AS MATERIALIZED (
          SELECT s.user_id, s.lo, s.hi, p.rn, p.lat, p.lon, ${DpK.devq}
          FROM seg${k - 1} s JOIN pts p ON p.user_id = s.user_id
            AND p.rn > s.lo AND p.rn < s.hi),
        best$k AS MATERIALIZED (
          SELECT user_id, lo, hi, devq AS maxdev, rn AS m,
                 lat AS mlat, lon AS mlon
          FROM cand$k
          QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, lo, hi
            ORDER BY devq DESC, rn DESC, lat DESC, lon DESC) = 1),
        seg$k AS MATERIALIZED (
          SELECT s.user_id,
                 CASE WHEN part.p = 2 THEN b.m ELSE s.lo END AS lo,
                 CASE WHEN b.maxdev > ${DpK.epsQ} AND part.p = 1
                      THEN b.m ELSE s.hi END AS hi,
                 CASE WHEN part.p = 2 THEN b.mlat ELSE s.x1 END AS x1,
                 CASE WHEN part.p = 2 THEN b.mlon ELSE s.y1 END AS y1,
                 CASE WHEN b.maxdev > ${DpK.epsQ} AND part.p = 1
                      THEN b.mlat ELSE s.x2 END AS x2,
                 CASE WHEN b.maxdev > ${DpK.epsQ} AND part.p = 1
                      THEN b.mlon ELSE s.y2 END AS y2
          FROM seg${k - 1} s
          LEFT JOIN best$k b
            ON s.user_id = b.user_id AND s.lo = b.lo AND s.hi = b.hi
          CROSS JOIN generate_series(1, 2) AS part(p)
          WHERE part.p = 1 OR (b.maxdev IS NOT NULL AND b.maxdev > ${DpK.epsQ}))"""
        s"""
        WITH pts AS MATERIALIZED (
          SELECT user_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn,
                 $LAT AS lat, $LON AS lon
          FROM events),
        ends AS (SELECT user_id, MIN(rn) AS lo, MAX(rn) AS hi
                 FROM pts GROUP BY 1),
        seg0 AS MATERIALIZED (
          SELECT e.user_id, e.lo, e.hi, a.lat AS x1, a.lon AS y1,
                 b.lat AS x2, b.lon AS y2
          FROM ends e
          JOIN pts a ON a.user_id = e.user_id AND a.rn = e.lo
          JOIN pts b ON b.user_id = e.user_id AND b.rn = e.hi),
        ${round(1)}, ${round(2)}, ${round(3)}
        SELECT DISTINCT user_id, rn, lat, lon FROM (
          SELECT user_id, lo AS rn, x1 AS lat, y1 AS lon FROM seg3
          UNION ALL
          SELECT user_id, hi AS rn, x2 AS lat, y2 AS lon FROM seg3)
        ORDER BY user_id, rn"""
      }),

    // ----- geo_line_of_sight: DEM terrain visibility ---------------------
    // The fire-camera viewshed question odin_dem exists to answer: can
    // station S see point P, or does terrain block the sight line? Each
    // (station, sampled event) pair probes the synthetic DEM at 9 points
    // along the line (the geo_dem_bilinear 4-corner interpolation, same
    // fixed summand order), compares terrain against the linearly
    // interpolated sight line between the 20 m observer mast and the
    // 10 m target, and reports the worst obstruction. Determinism: every
    // probe is the proven bilinear double chain; the obstruction max and
    // the visibility flag derive from those values with no new rounding.
    // Scale shape: targets sample 1-in-37 (the realistic probe-set
    // shape), 9 probes per pair join the broadcastable grid on the cell
    // key — O(pairs·9), no grid scan per pair.
    "geo_line_of_sight" -> Q(
      build = (s, d) => {
        val grid = Raster.grid(s).select(col("gi"), col("gj"), (Raster.dem + 100.0).as("elev"))
        val targets = evPts(s, d)
          .filter(col("event_id") % 37 === 0)
          .select(col("event_id"), col("lat").as("tlat"), col("lon").as("tlon"))
        val pairs = stations(s, d).crossJoin(targets)
          .filter(abs(col("s_lat") - col("tlat")) < 15.0
            && abs(col("s_lon") - col("tlon")) < 15.0)
        val samples = pairs
          .withColumn("k", explode(expr("sequence(0, 8)")))
          .withColumn("f", expr("CAST(k AS DOUBLE)/8.0"))
          .withColumn("plat", expr("s_lat + (tlat - s_lat)*f"))
          .withColumn("plon", expr("s_lon + (tlon - s_lon)*f"))
        val keys = Seq(col("s_suppkey"), col("event_id"), col("k"))
        val probed = Raster.pivot(Raster.sample(samples, col("plat"), col("plon"),
            Raster.Bilinear, grid), keys, 4)(t =>
            Seq(Raster.tapSum(t, col("w") * col("elev")).as(s"e$t")))
          .select(keys :+ Raster.chain("e", 4).as("terr"): _*)
        val wide = probed.groupBy(col("s_suppkey"), col("event_id"))
          .agg(sum(when(col("k") === 0, col("terr")).otherwise(0.0)).as("t0"),
            (1 to 8).map(k =>
              sum(when(col("k") === k, col("terr")).otherwise(0.0)).as(s"t$k")): _*)
          .filter(expr("t0 > 0.0 AND t8 > 0.0")) // both ends on the grid
        val obsK = (1 to 7).map(k =>
          s"(t$k - ((t0 + 20.0) + ((t8 + 10.0) - (t0 + 20.0))*(CAST($k AS DOUBLE)/8.0)))")
        wide.selectExpr("s_suppkey", "event_id",
            "t0 + 20.0 AS h_obs", "t8 + 10.0 AS h_tgt",
            s"greatest(${obsK.mkString(", ")}) AS max_obstruction")
          .withColumn("visible", col("max_obstruction") <= 0.0)
          .orderBy(col("s_suppkey"), col("event_id"))
      },
      oracle = Some {
        val obsK = (1 to 7).map(k =>
          s"(t$k - ((t0 + 20.0) + ((t8 + 10.0) - (t0 + 20.0))*(CAST($k AS DOUBLE)/8.0)))")
        val tK = (0 to 8).map(k =>
          s"SUM(CASE WHEN k = $k THEN terr ELSE 0.0 END) AS t$k").mkString(", ")
        s"""
        WITH grid AS (${Raster.gridSql(s"CAST(${Raster.DemSql} AS DOUBLE) + 100.0 AS elev")}),
        targets AS (
          SELECT event_id, $LAT AS tlat, $LON AS tlon FROM events
          WHERE event_id % 37 = 0),
        st AS (SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon FROM supplier),
        pairs AS (
          SELECT * FROM st s CROSS JOIN targets t
          WHERE abs(s.s_lat - t.tlat) < 15.0 AND abs(s.s_lon - t.tlon) < 15.0),
        samples AS (
          SELECT s_suppkey, event_id, g.k, CAST(g.k AS DOUBLE)/8.0 AS f,
                 s_lat + (tlat - s_lat)*(CAST(g.k AS DOUBLE)/8.0) AS plat,
                 s_lon + (tlon - s_lon)*(CAST(g.k AS DOUBLE)/8.0) AS plon
          FROM pairs, generate_series(0, 8) AS g(k)),
        cells AS (
          SELECT *, CAST(floor(plat) AS BIGINT) AS i,
                 CAST(floor(plon) AS BIGINT) AS j,
                 plat - CAST(floor(plat) AS BIGINT) AS di,
                 plon - CAST(floor(plon) AS BIGINT) AS dj
          FROM samples),
        probed AS (
          SELECT s_suppkey, event_id, k,
                 SUM(CASE WHEN c.ci = 0 AND c.cj = 0
                     THEN (1.0 - di)*(1.0 - dj)*g.elev ELSE 0.0 END)
               + SUM(CASE WHEN c.ci = 0 AND c.cj = 1
                     THEN (1.0 - di)*dj*g.elev ELSE 0.0 END)
               + SUM(CASE WHEN c.ci = 1 AND c.cj = 0
                     THEN di*(1.0 - dj)*g.elev ELSE 0.0 END)
               + SUM(CASE WHEN c.ci = 1 AND c.cj = 1
                     THEN di*dj*g.elev ELSE 0.0 END) AS terr
          FROM cells, (SELECT a.ci, b.cj FROM generate_series(0, 1) a(ci),
                       generate_series(0, 1) b(cj)) c
          JOIN grid g ON g.gi = cells.i + c.ci AND g.gj = cells.j + c.cj
          GROUP BY 1, 2, 3),
        wide AS (
          SELECT s_suppkey, event_id, $tK
          FROM probed GROUP BY 1, 2
          HAVING SUM(CASE WHEN k = 0 THEN terr ELSE 0.0 END) > 0.0
             AND SUM(CASE WHEN k = 8 THEN terr ELSE 0.0 END) > 0.0)
        SELECT s_suppkey, event_id, t0 + 20.0 AS h_obs, t8 + 10.0 AS h_tgt,
               greatest(${obsK.mkString(", ")}) AS max_obstruction,
               greatest(${obsK.mkString(", ")}) <= 0.0 AS visible
        FROM wide ORDER BY s_suppkey, event_id"""
      }),

    // ----- geo_orbit_nodes: equator/pole crossing interpolation ----------
    // The orbit-characterization pass odin_orbital runs over every
    // propagated trajectory (orbitinfo.rs:223 interpolate_node — the
    // ascending-node time/longitude from the track pair straddling the
    // equator; :244 interpolate_pole — the max-latitude instant from the
    // latitude-rate sign flip, vz re-expressed as the track's
    // per-minute latitude difference since the column track carries
    // positions, not TEME velocities). Both formulas are applied as
    // IDENTICAL text on both engines over track samples that are
    // bit-identical by construction (OverpassSpec proves the driver twin
    // == the column pipeline), so every interpolated crossing matches
    // with no rounding. Scale shape: one per-satellite window over the
    // track, crossings filtered in-stream — no joins.
    "geo_orbit_nodes" -> Q(
      build = (s, d) => {
        val w = Window.partitionBy(col("sat_id")).orderBy(col("t1"))
        val tr = sgp4Track(s)
          .select(col("sat_id"), col("minute").cast(DoubleType).as("t1"),
            col("tlat").as("lat1"), col("tlon").as("lon1"))
          .withColumn("lat2", lead(col("lat1"), 1).over(w))
          .withColumn("lon2", lead(col("lon1"), 1).over(w))
          .withColumn("lat0", lag(col("lat1"), 1).over(w))
          .withColumn("lat3", lead(col("lat1"), 2).over(w))
          .filter(col("lat2").isNotNull)
        val nodes = tr
          .filter(col("lat1") < 0.0 && col("lat2") >= 0.0
            && abs(col("lon2") - col("lon1")) < 180.0)
          .selectExpr("sat_id", "'node' AS kind", OrbitNodeK.nodeT,
            OrbitNodeK.nodeV)
        val poles = tr
          .filter(col("lat0").isNotNull && col("lat3").isNotNull)
          .selectExpr("sat_id", "t1", "lat1", "lat2",
            "(lat2 - lat0) / 2.0 AS vz1", "(lat3 - lat1) / 2.0 AS vz2")
          .filter(col("vz1") > 0.0 && col("vz2") <= 0.0
            && col("vz1") =!= col("vz2"))
          .selectExpr("sat_id", "'pole' AS kind", OrbitNodeK.poleT,
            OrbitNodeK.poleV)
        nodes.union(poles).orderBy(col("sat_id"), col("kind"), col("t"))
      },
      oracle = Some {
        val rows = sgp4TrackLocal
          .map { case (s, m, la, lo) => s"($s,$m,${dlit(la)},${dlit(lo)})" }
          .mkString(",")
        s"""WITH track(sat_id, minute, tlat, tlon) AS (VALUES $rows),
        tr AS (
          SELECT sat_id, CAST(minute AS DOUBLE) AS t1,
                 tlat AS lat1, tlon AS lon1,
                 lead(tlat, 1) OVER w AS lat2, lead(tlon, 1) OVER w AS lon2,
                 lag(tlat, 1) OVER w AS lat0, lead(tlat, 2) OVER w AS lat3
          FROM track WINDOW w AS (PARTITION BY sat_id ORDER BY minute)
          QUALIFY lat2 IS NOT NULL),
        nodes AS (
          SELECT sat_id, 'node' AS kind, ${OrbitNodeK.nodeT}, ${OrbitNodeK.nodeV}
          FROM tr
          WHERE lat1 < 0.0 AND lat2 >= 0.0 AND abs(lon2 - lon1) < 180.0),
        pv AS (
          SELECT sat_id, t1, lat1, lat2,
                 (lat2 - lat0) / 2.0 AS vz1, (lat3 - lat1) / 2.0 AS vz2
          FROM tr WHERE lat0 IS NOT NULL AND lat3 IS NOT NULL),
        poles AS (
          SELECT sat_id, 'pole' AS kind, ${OrbitNodeK.poleT}, ${OrbitNodeK.poleV}
          FROM pv
          WHERE vz1 > 0.0 AND vz2 <= 0.0 AND vz1 <> vz2)
        SELECT * FROM nodes UNION ALL SELECT * FROM poles
        ORDER BY sat_id, kind, t"""
      }),

    // ----- geo_cpr_decode: ADS-B CPR airborne position decode ------------
    // The encode→decode round trip of Compact Position Reporting — the
    // 17-bit even/odd frame-pair scheme every 1090ES decoder inverts
    // before odin_adsb sees a position (odin_adsb/src/rs1090.rs delegates
    // this to its frame decoder; sbs.rs receives the result). Per event:
    // encode the truth position as both formats (the encoder uses NL at
    // its own quantized latitude, Doc 9871 §C.2.6), then globally decode
    // the pair — zone index j from the two latitude codes, NL agreement
    // check (no fix when the pair straddles a zone transition, as a real
    // decoder rejects), longitude from the even code. Everything is
    // rational IEEE arithmetic except the NL floor(acos) zone lookup,
    // shared-text on both engines; decode error vs truth is emitted in
    // micro-degrees and spec-bounded by the CPR quantization step.
    // Scale shape: pure per-row column math, no shuffle but the output
    // ORDER BY.
    "geo_cpr_decode" -> Q(
      build = (s, d) =>
        cprDecode(evPts(s, d).select(col("event_id"),
          col("lat").as("tlat"), col("lon").as("tlon"))),
      oracle = Some({
        import CprK._
        s"""
        WITH t AS (SELECT event_id, $LAT AS tlat, $LON AS tlon FROM events),
        e1 AS (SELECT *, ${yz(0)} AS yz0, ${yz(1)} AS yz1 FROM t),
        e2 AS (SELECT *, ${NL(rlatEnc(0))} AS nl0, ${NL(rlatEnc(1))} AS nl1 FROM e1),
        e3 AS (SELECT *, ${xz(0)} AS xz0, ${xz(1)} AS xz1 FROM e2),
        d1 AS (SELECT *, $J AS j FROM e3),
        d2 AS (SELECT *, $RLAT0R AS rlat0r, $RLAT1R AS rlat1r FROM d1),
        d3 AS (SELECT *, ${ADJLAT("rlat0")} AS rlat0, ${ADJLAT("rlat1")} AS rlat1
               FROM d2),
        d4 AS (SELECT *, ${NL("rlat0")} AS dnl0, ${NL("rlat1")} AS dnl1 FROM d3),
        d5 AS (SELECT *, (dnl0 = dnl1) AS zone_ok, $M AS m,
                 greatest(dnl0, 1) AS ni FROM d4),
        d6 AS (SELECT *, $RLONR AS rlonr FROM d5),
        d7 AS (SELECT *, $RLON AS rlon FROM d6)
        SELECT event_id, yz0, xz0, yz1, xz1, zone_ok,
               $NLOUT AS nl,
               round(rlat0, 6) AS lat_dec,
               $LONOUT AS lon_dec,
               $LATERR AS lat_err_udeg,
               $LONERR AS lon_err_udeg
        FROM d7 ORDER BY event_id"""
      })),

    // ----- geo_tle_parse: TLE extraction + element parse -----------------
    // The reference's TLE ingestion (odin_orbital/src/tle_store.rs:39
    // TLE_LINES_RE pulls TLE_LINE1/2 out of the JSON gp responses; :187
    // TLE::load_3line parses them): per satellite, a JSON envelope is
    // synthesized carrying format-exact TLE lines (fixed columns, implied
    // decimals, the bstar ±.NNNNN×10^±E drag field, mod-10 checksums with
    // the digits+'-' rule), then the envelope is regexp-extracted and the
    // lines parsed back to typed elements — the columns SGP4 consumes.
    // Checksum verification folds over the 68 payload chars with a
    // higher-order aggregate (no explode, no shuffle); everything else is
    // shared formula text. Pure per-row column math: 1 shuffle (ORDER BY).
    "geo_tle_parse" -> Q(
      build = (s, d) => {
        import TleK._
        val base = TleK.fields.foldLeft(
          Tables.t(s, d, "part").select(col("p_partkey"))) {
          case (df, (n, ex)) => df.withColumn(n, expr(ex))
        }
        val env = base
          .withColumn("l1b", expr(line1)).withColumn("l2b", expr(line2))
          .withColumn("ck1", expr(
            s"""aggregate(transform(sequence(1, 68), i -> ${ckTerm("l1b", "i")}),
               0, (a, x) -> a + x) % 10"""))
          .withColumn("ck2", expr(
            s"""aggregate(transform(sequence(1, 68), i -> ${ckTerm("l2b", "i")}),
               0, (a, x) -> a + x) % 10"""))
          .withColumn("envelope", expr(
            """concat('{"TLE_LINE0": "SAT-', CAST(p_partkey AS STRING),
               '", "TLE_LINE1": "', l1b, CAST(ck1 AS STRING),
               '", "TLE_LINE2": "', l2b, CAST(ck2 AS STRING), '"}')"""))
        val lines = env.select(col("p_partkey").as("sat_key"),
          expr("""regexp_extract(envelope, '"TLE_LINE1": "([^"]+)"', 1)""").as("l1"),
          expr("""regexp_extract(envelope, '"TLE_LINE2": "([^"]+)"', 1)""").as("l2"))
        lines
          .withColumn("cksum1", expr(
            s"""aggregate(transform(sequence(1, 68), i -> ${ckTerm("l1", "i")}),
               0, (a, x) -> a + x) % 10"""))
          .withColumn("cksum2", expr(
            s"""aggregate(transform(sequence(1, 68), i -> ${ckTerm("l2", "i")}),
               0, (a, x) -> a + x) % 10"""))
          .select(col("sat_key"),
            expr("CAST(substring(l2, 3, 5) AS BIGINT)").as("satnum"),
            expr("2000 + CAST(substring(l1, 19, 2) AS BIGINT)").as("epoch_year"),
            expr("""CAST(substring(l1, 21, 3) AS BIGINT)
               + CAST(substring(l1, 25, 8) AS BIGINT)/100000000.0e0""").as("epoch_doy"),
            expr(bstarParse).as("bstar"),
            expr(s"${p4("l2", 9)}/10000.0e0").as("incl_deg"),
            expr(s"${p4("l2", 18)}/10000.0e0").as("raan_deg"),
            expr("CAST(substring(l2, 27, 7) AS BIGINT)/10000000.0e0").as("ecc"),
            expr(s"${p4("l2", 35)}/10000.0e0").as("argp_deg"),
            expr(s"${p4("l2", 44)}/10000.0e0").as("ma_deg"),
            expr("""CAST(replace(trim(substring(l2, 53, 11)), '.', '') AS BIGINT)
               /100000000.0e0""").as("mean_motion"),
            expr("CAST(substring(l2, 64, 5) AS BIGINT)").as("rev"),
            expr("""1440.0e0/(CAST(replace(trim(substring(l2, 53, 11)), '.', '')
               AS BIGINT)/100000000.0e0)""").as("period_min"),
            expr("cksum1 = CAST(substring(l1, 69, 1) AS INT)").as("ck1_ok"),
            expr("cksum2 = CAST(substring(l2, 69, 1) AS INT)").as("ck2_ok"))
          .orderBy(col("sat_key"))
      },
      oracle = Some({
        import TleK._
        val fieldSel = TleK.fields.map { case (n, ex) => s"$ex AS $n" }.mkString(",\n          ")
        def ckList(c: String) =
          s"CAST(list_sum(list_transform(generate_series(1, 68), i -> ${ckTerm(c, "i")})) AS INT) % 10"
        s"""
        WITH base AS (
          SELECT p_partkey,
          $fieldSel
          FROM part),
        built AS (SELECT p_partkey, $line1 AS l1b, $line2 AS l2b FROM base),
        ck AS (SELECT *, ${ckList("l1b")} AS ck1, ${ckList("l2b")} AS ck2 FROM built),
        env AS (
          SELECT p_partkey, concat('{"TLE_LINE0": "SAT-', CAST(p_partkey AS STRING),
                 '", "TLE_LINE1": "', l1b, CAST(ck1 AS STRING),
                 '", "TLE_LINE2": "', l2b, CAST(ck2 AS STRING), '"}') AS envelope
          FROM ck),
        lines AS (
          SELECT p_partkey AS sat_key,
                 regexp_extract(envelope, '"TLE_LINE1": "([^"]+)"', 1) AS l1,
                 regexp_extract(envelope, '"TLE_LINE2": "([^"]+)"', 1) AS l2
          FROM env),
        parsed AS (
          SELECT *, ${ckList("l1")} AS cksum1, ${ckList("l2")} AS cksum2 FROM lines)
        SELECT sat_key,
               CAST(substring(l2, 3, 5) AS BIGINT) AS satnum,
               2000 + CAST(substring(l1, 19, 2) AS BIGINT) AS epoch_year,
               CAST(substring(l1, 21, 3) AS BIGINT)
                 + CAST(substring(l1, 25, 8) AS BIGINT)/100000000.0e0 AS epoch_doy,
               $bstarParse AS bstar,
               ${p4("l2", 9)}/10000.0e0 AS incl_deg,
               ${p4("l2", 18)}/10000.0e0 AS raan_deg,
               CAST(substring(l2, 27, 7) AS BIGINT)/10000000.0e0 AS ecc,
               ${p4("l2", 35)}/10000.0e0 AS argp_deg,
               ${p4("l2", 44)}/10000.0e0 AS ma_deg,
               CAST(replace(trim(substring(l2, 53, 11)), '.', '') AS BIGINT)
                 /100000000.0e0 AS mean_motion,
               CAST(substring(l2, 64, 5) AS BIGINT) AS rev,
               1440.0e0/(CAST(replace(trim(substring(l2, 53, 11)), '.', '')
                 AS BIGINT)/100000000.0e0) AS period_min,
               (cksum1 = CAST(substring(l1, 69, 1) AS INT)) AS ck1_ok,
               (cksum2 = CAST(substring(l2, 69, 1) AS INT)) AS ck2_ok
        FROM parsed
        ORDER BY sat_key"""
      })),

    // ----- geo_cpr_local: single-frame CPR decode vs last known fix ------
    // The second half of the CPR algorithm (Doc 9871 §C.2.6.7, the path
    // odin_adsb's decoder takes after a first global fix): one even frame
    // plus a reference position decode locally by picking the zone index
    // nearest the reference. The reference here is the aircraft's
    // previous fix (lag over the track — exactly the state a live
    // decoder holds). Local decode is structurally valid only within a
    // half zone of the reference; the emitted in-zone flags make that
    // boundary first-class, and the spec asserts decode error is at
    // quantization level exactly when the flags hold. Per-entity lag is
    // the only shuffle besides the output ORDER BY.
    "geo_cpr_local" -> Q(
      build = (s, d) => {
        import CprK._
        val t = evPts(s, d)
          .withColumn("ref_lat", lag(col("lat"), 1).over(wTrack))
          .withColumn("ref_lon", lag(col("lon"), 1).over(wTrack))
          .filter(col("ref_lat").isNotNull)
          .select(col("user_id"), col("event_id"),
            col("lat").as("tlat"), col("lon").as("tlon"),
            col("ref_lat"), col("ref_lon"))
        t.withColumn("yz0", expr(yz(0)))
          .withColumn("nl0", expr(NL(rlatEnc(0))))
          .withColumn("xz0", expr(xz(0)))
          .withColumn("jl", expr(LJ))
          .withColumn("rlat", expr(LRLAT))
          .withColumn("dnl", expr(NL("rlat")))
          .withColumn("ni", expr("greatest(dnl, 1)"))
          .withColumn("ml", expr(LM))
          .withColumn("rlon", expr(LRLON))
          .select(col("user_id"), col("event_id"), col("yz0"), col("xz0"),
            expr("round(rlat, 6)").as("lat_dec"),
            expr("round(rlon, 6)").as("lon_dec"),
            expr(LATERRL).as("lat_err_udeg"),
            expr(LONERRL).as("lon_err_udeg"),
            expr(INLAT).as("in_lat_zone"),
            expr(INLON).as("in_lon_zone"))
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some({
        import CprK._
        s"""
        WITH pts AS (
          SELECT user_id, event_id, $LAT AS tlat, $LON AS tlon,
                 lag($LAT) OVER (PARTITION BY user_id
                                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS ref_lat,
                 lag($LON) OVER (PARTITION BY user_id
                                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS ref_lon
          FROM events),
        t AS (SELECT * FROM pts WHERE ref_lat IS NOT NULL),
        e1 AS (SELECT *, ${yz(0)} AS yz0 FROM t),
        e2 AS (SELECT *, ${NL(rlatEnc(0))} AS nl0 FROM e1),
        e3 AS (SELECT *, ${xz(0)} AS xz0 FROM e2),
        d1 AS (SELECT *, $LJ AS jl FROM e3),
        d2 AS (SELECT *, $LRLAT AS rlat FROM d1),
        d3 AS (SELECT *, ${NL("rlat")} AS dnl FROM d2),
        d4 AS (SELECT *, greatest(dnl, 1) AS ni FROM d3),
        d5 AS (SELECT *, $LM AS ml FROM d4),
        d6 AS (SELECT *, $LRLON AS rlon FROM d5)
        SELECT user_id, event_id, yz0, xz0,
               round(rlat, 6) AS lat_dec,
               round(rlon, 6) AS lon_dec,
               $LATERRL AS lat_err_udeg,
               $LONERRL AS lon_err_udeg,
               $INLAT AS in_lat_zone,
               $INLON AS in_lon_zone
        FROM d6
        ORDER BY user_id, event_id"""
      })),

    // ----- geo_overpass_tiles: tile-id codec + track→tile radius query ---
    // odin_orbital/src/copernicus.rs: tile_enc (:21) packs the 5-char
    // Sentinel-2 tile id into a u64 at byte shifts 0/8/16/32/40 (byte 3
    // unused — mirrored exactly), tile_dec (:33) inverts it, and
    // get_overpass_tiles (:51) walks the overpass ground track collecting
    // the DISTINCT tiles within a fixed radius of any track point (a
    // HashSet over kd-tree hits). Re-expressed: the tile catalog (id,
    // center) derives from part keys and is broadcast — the kd-tree's
    // role; the radius search is the same ±1 latitude-band bucketed
    // equi-join geo_overpass uses (a 300 km hit is never >3° of latitude
    // away), so no track×catalog cross product at any scale; the distinct
    // is a groupBy on (track=user, tile). The emitted tile_id is DECODED
    // from the packed code, so the oracle hash-checks the codec round
    // trip, and the oracle's unpruned cross join proves the band prune
    // lossless.
    "geo_overpass_tiles" -> Q(
      build = (s, d) => {
        // 4° grid cells, tile side replicated ±1 lat cell and a
        // latitude-aware lon span (geo_swath_cover's bucketing): a 300 km
        // hit spans ≤2.73° of latitude, and events carry |lat| ≤ 70.2 so
        // no tile above |lat| 74 can pair — the cos clamp there bounds
        // replication instead of letting polar tiles explode it. The
        // catalog grows with SF, so a latitude band alone would leave an
        // O(points × tiles/band) join — measured 109 s at sf0.1 vs ~2 s
        // with the 2-D bucketing; the oracle's unpruned cross join proves
        // the prune loses nothing.
        val cell = 4.0
        // one projection a dependency level (each explode needs its own)
        val tiles = Tables.t(s, d, "part")
          .select(col("p_partkey"), expr(TileK.tileId).as("tile_id"),
            expr(TileK.tlat).as("t_lat"), expr(TileK.tlon).as("t_lon"))
          .select(col("*"), expr(TileK.enc).as("enc"),
            ceil(lit(320.0)
              / (lit(110.0) * cos(radians(least(abs(col("t_lat")) + 4.1, lit(74.0)))))
              / cell).cast(LongType).as("dn"),
            explode(expr("sequence(-1, 1)")).as("di"))
          .select(col("*"), explode(expr("sequence(-dn, dn)")).as("dj"),
            (floor(col("t_lat") / cell).cast(LongType) + col("di")).as("ci"))
          .withColumn("cj",
            (((floor(col("t_lon") / cell).cast(LongType) + col("dj") + 45) % 90 + 90) % 90) - 45)
        val track = evPts(s, d)
          .select(col("user_id"), col("lat"), col("lon"),
            floor(col("lat") / cell).cast(LongType).as("ci"),
            floor(col("lon") / cell).cast(LongType).as("cj"))
        track.join(broadcast(tiles), Seq("ci", "cj"))
          .withColumn("dist_q",
            floor(havC(col("lat"), col("lon"), col("t_lat"), col("t_lon")) * 1024.0)
              .cast(LongType))
          .filter(col("dist_q") <= 307200L) // within 300 km
          .groupBy(col("user_id"), col("enc"))
          .agg(count(lit(1)).as("n_track_pts"), min(col("dist_q")).as("min_q"))
          .select(col("user_id"), col("enc").as("tile_enc"),
            expr(TileK.dec).as("tile_id"), col("n_track_pts"),
            expr("round(min_q/1024.0e0, 3)").as("min_dist_km"))
          .orderBy(col("user_id"), col("tile_enc"))
      },
      oracle = Some(s"""
        WITH tiles AS (
          SELECT ${TileK.tileId} AS tile_id, ${TileK.tlat} AS t_lat,
                 ${TileK.tlon} AS t_lon
          FROM part),
        enc AS (SELECT *, ${TileK.enc} AS enc FROM tiles),
        trk AS (SELECT user_id, $LAT AS lat, $LON AS lon FROM events),
        hits AS (
          SELECT k.user_id, e.enc,
                 CAST(FLOOR((${havS("k.lat", "k.lon", "e.t_lat", "e.t_lon")})
                   * 1024.0e0) AS BIGINT) AS dist_q
          FROM trk k CROSS JOIN enc e)
        SELECT user_id, enc AS tile_enc, ${TileK.dec} AS tile_id,
               CAST(COUNT(*) AS BIGINT) AS n_track_pts,
               round(MIN(dist_q)/1024.0e0, 3) AS min_dist_km
        FROM hits WHERE dist_q <= 307200
        GROUP BY user_id, enc
        ORDER BY user_id, tile_enc""")),

    // ----- geo_swath_width: scan-geometry swath computation --------------
    // odin_orbital/src/overpass.rs:500 compute_swath_internal: from a
    // satellite ECEF position and the instrument's max scan angle, the
    // ellipsoid-corrected local earth radius (WGS84 polar/equatorial mix
    // by the position's z share), the slant range to the scan horizon
    // point, the ground swath half-width r·α, and the orbit-normal
    // distance tan(α)·dist. Satellite sample positions derive from part
    // keys (geodetic → ECEF by the geo_ecef formula at 700-800 km
    // altitude); the whole op is per-row column math in one shared
    // formula text — VIIRS-class max scan 56.28°. Trig-bearing outputs
    // rounded to 3 decimals (§5).
    "geo_swath_width" -> Q(
      build = (s, d) => {
        val base = Tables.t(s, d, "part").select(col("p_partkey"))
        SwathK.steps.foldLeft(base) { case (df, (name, ex)) =>
          df.withColumn(name, expr(ex))
        }
          .select(col("p_partkey").as("sat_key"), col("slat"), col("slon"),
            expr("round(h/1000.0e0, 3)").as("alt_km"),
            expr("round(r/1000.0e0, 3)").as("r_km"),
            expr("round(sat_dist/1000.0e0, 3)").as("sat_dist_km"),
            expr("round(r*alpha/1000.0e0, 3)").as("swath_km"),
            expr("round(tan(alpha)*dist/1000.0e0, 3)").as("norm_dist_km"))
          .orderBy(col("sat_key"))
      },
      oracle = Some({
        val ctes = SwathK.steps.zipWithIndex.map { case ((name, ex), i) =>
          val prev = if (i == 0) "base" else s"c${i - 1}"
          s"c$i AS (SELECT *, $ex AS $name FROM $prev)"
        }.mkString(",\n        ")
        s"""
        WITH base AS (SELECT p_partkey FROM part),
        $ctes
        SELECT p_partkey AS sat_key, slat, slon,
               round(h/1000.0e0, 3) AS alt_km,
               round(r/1000.0e0, 3) AS r_km,
               round(sat_dist/1000.0e0, 3) AS sat_dist_km,
               round(r*alpha/1000.0e0, 3) AS swath_km,
               round(tan(alpha)*dist/1000.0e0, 3) AS norm_dist_km
        FROM c${SwathK.steps.size - 1}
        ORDER BY sat_key"""
      })),

    // ----- geo_bbox: GeoRect containment filter --------------------------
    "geo_bbox" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .filter(col("lat") >= -20.0 && col("lat") <= 40.0
            && col("lon") >= -60.0 && col("lon") <= 60.0)
          .select(col("event_id"), col("user_id"), col("lat"), col("lon"))
          .orderBy(col("event_id")),
      oracle = Some(s"""
        SELECT event_id, user_id, $LAT AS lat, $LON AS lon FROM events
        WHERE $LAT >= -20.0 AND $LAT <= 40.0 AND $LON >= -60.0 AND $LON <= 60.0
        ORDER BY event_id""")),

    // ----- geo_haversine: per-track segment lengths ----------------------
    "geo_haversine" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .withColumn("plat", lag(col("lat"), 1).over(wTrack))
          .withColumn("plon", lag(col("lon"), 1).over(wTrack))
          .filter(col("plat").isNotNull)
          .select(col("user_id"), col("event_id"),
            round(havC(col("plat"), col("plon"), col("lat"), col("lon")), 3)
              .as("seg_km"))
          .orderBy(col("user_id"), col("event_id")),
      oracle = Some(s"""
        SELECT user_id, event_id,
               round(${havS("plat", "plon", "lat", "lon")}, 3) AS seg_km
        FROM (
          SELECT user_id, event_id, lat, lon,
                 LAG(lat,1) OVER w AS plat, LAG(lon,1) OVER w AS plon
          FROM (SELECT user_id, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                       $LAT AS lat, $LON AS lon FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        WHERE plat IS NOT NULL
        ORDER BY user_id, event_id"""),
      bench = true),

    // ----- geo_bearing: course between consecutive positions -------------
    "geo_bearing" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .withColumn("plat", lag(col("lat"), 1).over(wTrack))
          .withColumn("plon", lag(col("lon"), 1).over(wTrack))
          .filter(col("plat").isNotNull)
          .select(col("user_id"), col("event_id"),
            round(bearC(col("plat"), col("plon"), col("lat"), col("lon")), 3)
              .as("bearing_deg"))
          .orderBy(col("user_id"), col("event_id")),
      oracle = Some(s"""
        SELECT user_id, event_id,
               round(${bearS("plat", "plon", "lat", "lon")}, 3) AS bearing_deg
        FROM (
          SELECT user_id, event_id, lat, lon,
                 LAG(lat,1) OVER w AS plat, LAG(lon,1) OVER w AS plon
          FROM (SELECT user_id, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                       $LAT AS lat, $LON AS lon FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        WHERE plat IS NOT NULL
        ORDER BY user_id, event_id""")),

    // ----- geo_grid_agg: 5°-cell binning + per-cell aggregation ----------
    "geo_grid_agg" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .withColumn("cell_lat", floor(col("lat") / 5.0).cast(LongType))
          .withColumn("cell_lon", floor(col("lon") / 5.0).cast(LongType))
          .groupBy(col("cell_lat"), col("cell_lon"))
          .agg(count(lit(1)).as("n_points"), qsum(col("value")).as("val_sum"))
          .orderBy(col("cell_lat"), col("cell_lon")),
      oracle = Some(s"""
        SELECT CAST(floor($LAT/5.0) AS BIGINT) AS cell_lat,
               CAST(floor($LON/5.0) AS BIGINT) AS cell_lon,
               COUNT(*) AS n_points, ${QSUM("value")} AS val_sum
        FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = true),

    // ----- geo_hotspot_cells: top-density cells (hotspot map ranking) ----
    // The "where is it burning most" rollup over the gridded hotspot store
    // (odin_goesr gridding + display ranking): rank 5-degree cells by point
    // count, keep the top 10 with rank and share-of-total. Partial (map-
    // side) agg then a tiny global top-k — TakeOrdered, no full sort.
    "geo_hotspot_cells" -> Q(
      build = (s, d) => {
        val cells = evPts(s, d)
          .withColumn("cell_lat", floor(col("lat") / 5.0).cast(LongType))
          .withColumn("cell_lon", floor(col("lon") / 5.0).cast(LongType))
          .groupBy(col("cell_lat"), col("cell_lon"))
          .agg(count(lit(1)).as("n_points"))
        val total = cells.agg(sum(col("n_points")).as("n_total"))
        val w = Window.orderBy(col("n_points").desc, col("cell_lat"), col("cell_lon"))
        cells.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("rank"), col("cell_lat"), col("cell_lon"), col("n_points"),
            (col("n_points").cast(DoubleType) / col("n_total")).as("share"))
          .orderBy(col("rank"))
      },
      oracle = Some(s"""
        WITH cells AS (
          SELECT CAST(floor($LAT/5.0) AS BIGINT) AS cell_lat,
                 CAST(floor($LON/5.0) AS BIGINT) AS cell_lon,
                 COUNT(*) AS n_points
          FROM events GROUP BY 1, 2),
        total AS (SELECT CAST(SUM(n_points) AS BIGINT) AS n_total FROM cells)
        SELECT rank, cell_lat, cell_lon, n_points,
               CAST(n_points AS DOUBLE) / n_total AS share
        FROM (
          SELECT c.*, t.n_total,
                 CAST(ROW_NUMBER() OVER (ORDER BY n_points DESC, cell_lat, cell_lon)
                      AS INT) AS rank
          FROM cells c, total t)
        WHERE rank <= 10 ORDER BY rank""")),

    // ----- geo_hotspot_clusters: fire-event clustering of hot cells ------
    // odin_fires groups satellite hotspot detections into fire events by
    // spatial adjacency. Re-expressed: 5-degree cells whose density exceeds
    // a Poisson band (mu + 2*sqrt(mu), data-derived so it adapts to SF),
    // 8-neighbor adjacency edges via offset-explode + equi-join (never a
    // theta join — the scale shape), then the shared connectedComponents
    // (pointer-jumped label propagation). Per-cluster rollup: cell count,
    // point total, cell-index bounding box. Oracle: DuckDB recursive-CTE
    // reachability closure over the same hot set.
    "geo_hotspot_clusters" -> Q(
      build = (s, d) => {
        val cells = evPts(s, d)
          .withColumn("cla", floor(col("lat") / 5.0).cast(LongType))
          .withColumn("clo", floor(col("lon") / 5.0).cast(LongType))
          .groupBy(col("cla"), col("clo"))
          .agg(count(lit(1)).as("n"))
        val mu = cells.agg(
          (sum(col("n")).cast(DoubleType) / count(lit(1))).as("mu"))
        val hot = cells.crossJoin(broadcast(mu))
          .filter(col("n").cast(DoubleType) >= col("mu") + lit(2.0) * sqrt(col("mu")))
          .withColumn("cell_id", (col("cla") + 100L) * 1000L + (col("clo") + 200L))
          .localCheckpoint(false) // reused 3x (nodes, edges, rollup)
        val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1),
          (0, 1), (1, -1), (1, 0), (1, 1))
        val nbrs = hot.select(col("cell_id").as("src"),
            explode(array(offs.map { case (da, db) =>
              struct(lit(da.toLong).as("da"), lit(db.toLong).as("db"))
            }: _*)).as("o"),
            col("cla"), col("clo"))
          .select(col("src"),
            ((col("cla") + col("o.da") + 100L) * 1000L
              + (col("clo") + col("o.db") + 200L)).as("dst"))
        val edges = nbrs.join(hot.select(col("cell_id").as("dst")), Seq("dst"))
          .select(col("src"), col("dst"))
        val lbl = TextOps.connectedComponents(hot.select(col("cell_id").as("node")), edges)
        hot.join(lbl, hot("cell_id") === lbl("node"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("total_points"),
            min(col("cla")).as("lat_cell_min"), max(col("cla")).as("lat_cell_max"),
            min(col("clo")).as("lon_cell_min"), max(col("clo")).as("lon_cell_max"))
          .select(col("label").as("cluster_id"), col("n_cells"), col("total_points"),
            col("lat_cell_min"), col("lat_cell_max"),
            col("lon_cell_min"), col("lon_cell_max"))
          .orderBy(col("cluster_id"))
      },
      oracle = Some(s"""
        WITH RECURSIVE cells AS (
          SELECT CAST(floor($LAT/5.0) AS BIGINT) AS cla,
                 CAST(floor($LON/5.0) AS BIGINT) AS clo,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        stats AS (SELECT CAST(SUM(n) AS DOUBLE)/COUNT(*) AS mu FROM cells),
        hot AS (SELECT cla, clo, n, (cla+100)*1000 + (clo+200) AS cell_id
                FROM cells, stats
                WHERE CAST(n AS DOUBLE) >= mu + 2.0*sqrt(mu)),
        edges AS (SELECT a.cell_id AS s, b.cell_id AS t
                  FROM hot a JOIN hot b
                  ON abs(a.cla-b.cla) <= 1 AND abs(a.clo-b.clo) <= 1
                     AND a.cell_id <> b.cell_id),
        walk(node, lbl) AS (
          SELECT cell_id, cell_id FROM hot
          UNION
          SELECT w.node, e.t FROM walk w JOIN edges e ON e.s = w.lbl),
        cc AS (SELECT node, MIN(lbl) AS cluster_id FROM walk GROUP BY 1)
        SELECT cc.cluster_id, COUNT(*) AS n_cells,
               CAST(SUM(h.n) AS BIGINT) AS total_points,
               MIN(h.cla) AS lat_cell_min, MAX(h.cla) AS lat_cell_max,
               MIN(h.clo) AS lon_cell_min, MAX(h.clo) AS lon_cell_max
        FROM cc JOIN hot h ON h.cell_id = cc.node
        GROUP BY 1 ORDER BY 1""")),

    // ----- geo_nearest: nearest ground station per sampled point ---------
    // Broadcast the tiny station table; at scale the same op grid-buckets
    // both sides first (see SURVEY §4).
    "geo_nearest" -> Q(
      build = (s, d) => {
        val pts = evPts(s, d).filter(col("event_id") % 37 === 0)
          .select(col("event_id"), col("lat"), col("lon"))
        val joined = pts.crossJoin(broadcast(stations(s, d)))
          .withColumn("dist_km",
            round(havC(col("lat"), col("lon"), col("s_lat"), col("s_lon")), 3))
        // argmin as a struct-min aggregate: lexicographic (dist, station)
        // min equals the window row_number ordering, but partial-aggregates
        // map-side — no per-event sort, no window shuffle of all candidates
        joined.groupBy(col("event_id"))
          .agg(min(struct(col("dist_km"), col("s_suppkey"))).as("m"))
          .select(col("event_id"), col("m.s_suppkey").as("nearest_station"),
            col("m.dist_km").as("dist_km"))
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        SELECT event_id, nearest_station, dist_km FROM (
          SELECT e.event_id, s.s_suppkey AS nearest_station,
                 round(${havS("e.lat", "e.lon", "s.s_lat", "s.s_lon")}, 3) AS dist_km,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                   ORDER BY round(${havS("e.lat", "e.lon", "s.s_lat", "s.s_lon")}, 3),
                            s.s_suppkey) AS rn
          FROM (SELECT event_id, $LAT AS lat, $LON AS lon FROM events
                WHERE event_id % 37 = 0) e
          CROSS JOIN (SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon FROM supplier) s)
        WHERE rn = 1 ORDER BY event_id""")),

    // ----- geo_closest_point: closest point on segment (geo.rs:179) ------
    // ClosestGeoPoint re-expressed: project each event onto a fixed
    // planar segment, clamp to the segment, report the foot point and
    // distance. Pure +,-,*,/,sqrt — bit-identical across engines, no
    // rounding needed.
    "geo_closest_point" -> Q(
      build = (s, d) => {
        val (aLat, aLon, bLat, bLon) = (-30.0, -60.0, 40.0, 60.0)
        val num = (col("lat") - aLat) * (bLat - aLat) + (col("lon") - aLon) * (bLon - aLon)
        val den = lit((bLat - aLat) * (bLat - aLat) + (bLon - aLon) * (bLon - aLon))
        val t = least(lit(1.0), greatest(lit(0.0), num / den))
        val cLat = t * (bLat - aLat) + aLat
        val cLon = t * (bLon - aLon) + aLon
        evPts(s, d)
          .select(col("event_id"), t.as("t"),
            cLat.as("c_lat"), cLon.as("c_lon"),
            sqrt((col("lat") - cLat) * (col("lat") - cLat)
              + (col("lon") - cLon) * (col("lon") - cLon)).as("planar_dist"))
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        SELECT event_id, t, t*70.0 + -30.0 AS c_lat, t*120.0 + -60.0 AS c_lon,
               sqrt((lat - (t*70.0 + -30.0))*(lat - (t*70.0 + -30.0))
                    + (lon - (t*120.0 + -60.0))*(lon - (t*120.0 + -60.0))) AS planar_dist
        FROM (
          SELECT event_id, lat, lon,
                 least(1.0, greatest(0.0,
                   ((lat - -30.0)*70.0 + (lon - -60.0)*120.0) / 19300.0)) AS t
          FROM (SELECT event_id, $LAT AS lat, $LON AS lon FROM events))
        ORDER BY event_id""")),

    // ----- geo_utm: WGS84 → UTM projection (odin_common/src/utm.rs) ------
    // Krüger exact-form forward with Norway/Svalbard zone exceptions and
    // the MGRS band letter, all codegen'd column math (no UDF). Hash-
    // checked: the oracle replays the IDENTICAL formula text (UtmK) in
    // DuckDB; cm rounding absorbs cross-libm ulp noise. The spec pins
    // known geodetic fixtures to ±1 m on top.
    "geo_utm" -> Q(
      build = (s, d) => {
        val pts = evPts(s, d).filter(col("lat") > -80.0 && col("lat") < 84.0)
        Geo.withUtm(pts, col("lat"), col("lon"))
          .select(col("event_id"), col("utm_zone"), col("utm_band").as("band"),
            round(col("utm_easting"), 2).as("easting_m"),
            round(col("utm_northing"), 2).as("northing_m"))
          .orderBy(col("event_id"))
      },
      oracle = Some({
        val (fw, last) = UtmK.ctes("uz", UtmK.fwdSteps("lat", "lon"), "uf")
        s"""
        WITH upts AS (SELECT event_id, $LAT AS lat, $LON AS lon FROM events
                      WHERE $LAT > -80.0 AND $LAT < 84.0),
        uz AS (SELECT *, ${UtmK.zoneExpr("lat", "lon")} AS utm_zone,
                      ${UtmK.bandExpr("lat", "lon")} AS band FROM upts),
        $fw
        SELECT event_id, utm_zone, band,
               round(utm_easting, 2) AS easting_m,
               round(utm_northing, 2) AS northing_m
        FROM $last ORDER BY event_id"""
      })),

    // ----- geo_utm_roundtrip: UTM inverse closes the loop ----------------
    // utm_to_geo (odin_common/src/utm.rs:192): forward-project every event
    // position, invert it, and emit the recovered degrees — the spec
    // asserts sub-mm closure; the oracle replays the identical forward +
    // inverse formula text in DuckDB. 6-decimal rounding is boundary-safe:
    // the synthetic lon/lat are exact multiples of 5e-6/1e-5 (EVEN multiples
    // of the 5e-7 round-6 half-step), so the sub-1e-8-deg closure error
    // cannot reach a rounding boundary (round-5 would sit ON the boundary).
    "geo_utm_roundtrip" -> Q(
      build = (s, d) => {
        val pts = evPts(s, d).filter(col("lat") > -80.0 && col("lat") < 84.0)
        val fwd = Geo.withUtm(pts, col("lat"), col("lon"))
          .withColumn("is_south", col("lat") < 0.0)
        UtmK(fwd, UtmK.invSteps)
          .select(col("event_id"),
            round(col("lat_rt"), 6).as("lat_rt"),
            round(col("lon_rt"), 6).as("lon_rt"))
          .orderBy(col("event_id"))
      },
      oracle = Some({
        val (fw, lastF) = UtmK.ctes("uz", UtmK.fwdSteps("lat", "lon"), "uf")
        val (inv, lastI) = UtmK.ctes("ui0", UtmK.invSteps, "uv")
        s"""
        WITH upts AS (SELECT event_id, $LAT AS lat, $LON AS lon FROM events
                      WHERE $LAT > -80.0 AND $LAT < 84.0),
        uz AS (SELECT *, ${UtmK.zoneExpr("lat", "lon")} AS utm_zone FROM upts),
        $fw,
        ui0 AS (SELECT *, lat < 0.0 AS is_south FROM $lastF),
        $inv
        SELECT event_id, round(lat_rt, 6) AS lat_rt, round(lon_rt, 6) AS lon_rt
        FROM $lastI ORDER BY event_id"""
      })),

    // ----- geo_swath_cover: orbital swath coverage test ------------------
    // odin_orbital/src/overpass.rs:148 closest_track_point / :535
    // compute_swath: "was probe point P inside the sensor swath" — the
    // FIRMS hotspot-attribution join. Ground track synthesized from part
    // keys (inclination-bounded sinusoid, |lat| <= 60); a probe is covered
    // when its closest track point is within the 400 km swath half-width.
    // Scale shape: NO all-pairs scan — both sides bucket on 4° grid cells,
    // track points replicate to +-1 lat cells and a latitude-aware lon
    // neighborhood (ceil(400km / cell width at that latitude), wrapping at
    // the antimeridian), then one equi-join + per-probe argmin. The 400 km
    // cap guarantees every covered pair meets in some shared cell, so the
    // bucketed min equals the brute-force min the DuckDB oracle computes.
    // Distances quantize to 1/1024 km BIGINT before compare/argmin so the
    // threshold and tie-breaks are integer-exact across engines.
    "geo_swath_cover" -> Q(
      build = (s, d) => {
        val cell = 4.0
        val probes = evPts(s, d)
          .select(col("user_id"), col("event_id"), col("lat"), col("lon"))
          .withColumn("ci", floor(col("lat") / cell).cast(LongType))
          .withColumn("cj", floor(col("lon") / cell).cast(LongType))
        val track = Tables.t(s, d, "part").select(
          col("p_partkey").as("t_key"),
          (lit(60.0) * sin(radians((col("p_partkey") * 7 % 360).cast(DoubleType))))
            .as("tlat"),
          (col("p_partkey") * 23 % 360 - 180).cast(DoubleType).as("tlon"))
        val trep = track
          .withColumn("dn", ceil(lit(400.0)
            / (lit(110.0) * cos(radians(least(abs(col("tlat")) + 3.7, lit(64.0)))))
            / cell).cast(LongType))
          .withColumn("di", explode(expr("sequence(-1, 1)")))
          .withColumn("dj", explode(expr("sequence(-dn, dn)")))
          .withColumn("ci", floor(col("tlat") / cell).cast(LongType) + col("di"))
          // 360/4 = 90 lon cells in [-45, 44]: wrap replicas across the
          // antimeridian so trans-dateline coverage is not missed
          .withColumn("cj",
            (((floor(col("tlon") / cell).cast(LongType) + col("dj") + 45) % 90 + 90) % 90) - 45)
        probes.join(trep, Seq("ci", "cj"))
          .withColumn("dist_q",
            floor(havC(col("lat"), col("lon"), col("tlat"), col("tlon")) * 1024.0)
              .cast(LongType))
          .filter(col("dist_q") <= 409600L) // 400 km * 1024
          .groupBy(col("user_id"), col("event_id"))
          .agg(min(struct(col("dist_q"), col("t_key"))).as("m"))
          .select(col("user_id"), col("event_id"),
            col("m.t_key").as("track_key"),
            round(col("m.dist_q") / 1024.0, 3).as("dist_km"))
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some(s"""
        WITH probes AS (SELECT user_id, event_id, $LAT AS lat, $LON AS lon FROM events),
        track AS (SELECT p_partkey AS t_key,
                         60.0*sin(radians(CAST(p_partkey*7 % 360 AS DOUBLE))) AS tlat,
                         CAST(p_partkey*23 % 360 - 180 AS DOUBLE) AS tlon FROM part),
        pairs AS (
          SELECT user_id, event_id, t_key,
                 CAST(FLOOR(${havS("lat", "lon", "tlat", "tlon")} * 1024.0) AS BIGINT) AS dist_q
          FROM probes, track),
        cov AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_id
                                             ORDER BY dist_q, t_key) AS rn
                FROM pairs WHERE dist_q <= 409600)
        SELECT user_id, event_id, t_key AS track_key,
               round(dist_q/1024.0, 3) AS dist_km
        FROM cov WHERE rn = 1
        ORDER BY user_id, event_id""")),

    // ----- geo_track_bearing: bearing to the closest track point ---------
    // odin_orbital/src/overpass.rs:165 bearing_to_closest_track_point —
    // the "which way is the satellite ground track from here" query the
    // overpass UI asks per point. Same grid-bucketed closest-point search
    // as geo_swath_cover (the track point rides along in the argmin
    // struct behind the unique (dist, key) prefix), then the initial
    // great-circle bearing to it, [0, 360) rounded to 3 decimals.
    "geo_track_bearing" -> Q(
      build = (s, d) => {
        val cell = 4.0
        val probes = evPts(s, d)
          .select(col("user_id"), col("event_id"), col("lat"), col("lon"))
          .withColumn("ci", floor(col("lat") / cell).cast(LongType))
          .withColumn("cj", floor(col("lon") / cell).cast(LongType))
        val track = Tables.t(s, d, "part").select(
          col("p_partkey").as("t_key"),
          (lit(60.0) * sin(radians((col("p_partkey") * 7 % 360).cast(DoubleType))))
            .as("tlat"),
          (col("p_partkey") * 23 % 360 - 180).cast(DoubleType).as("tlon"))
        val trep = track
          .withColumn("dn", ceil(lit(400.0)
            / (lit(110.0) * cos(radians(least(abs(col("tlat")) + 3.7, lit(64.0)))))
            / cell).cast(LongType))
          .withColumn("di", explode(expr("sequence(-1, 1)")))
          .withColumn("dj", explode(expr("sequence(-dn, dn)")))
          .withColumn("ci", floor(col("tlat") / cell).cast(LongType) + col("di"))
          .withColumn("cj",
            (((floor(col("tlon") / cell).cast(LongType) + col("dj") + 45) % 90 + 90) % 90) - 45)
        probes.join(trep, Seq("ci", "cj"))
          .withColumn("dist_q",
            floor(havC(col("lat"), col("lon"), col("tlat"), col("tlon")) * 1024.0)
              .cast(LongType))
          .filter(col("dist_q") <= 409600L)
          .groupBy(col("user_id"), col("event_id"), col("lat"), col("lon"))
          .agg(min(struct(col("dist_q"), col("t_key"), col("tlat"), col("tlon"))).as("m"))
          .select(col("user_id"), col("event_id"),
            col("m.t_key").as("track_key"),
            round(col("m.dist_q") / 1024.0, 3).as("dist_km"),
            round(bearC(col("lat"), col("lon"), col("m.tlat"), col("m.tlon")), 3)
              .as("bearing_deg"))
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some(s"""
        WITH probes AS (SELECT user_id, event_id, $LAT AS lat, $LON AS lon FROM events),
        track AS (SELECT p_partkey AS t_key,
                         60.0e0*sin(radians(CAST(p_partkey*7 % 360 AS DOUBLE))) AS tlat,
                         CAST(p_partkey*23 % 360 - 180 AS DOUBLE) AS tlon FROM part),
        pairs AS (
          SELECT user_id, event_id, lat, lon, t_key, tlat, tlon,
                 CAST(FLOOR(${havS("lat", "lon", "tlat", "tlon")} * 1024.0e0) AS BIGINT) AS dist_q
          FROM probes, track),
        cov AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_id
                                             ORDER BY dist_q, t_key) AS rn
                FROM pairs WHERE dist_q <= 409600)
        SELECT user_id, event_id, t_key AS track_key,
               round(dist_q/1024.0e0, 3) AS dist_km,
               round(${bearS("lat", "lon", "tlat", "tlon")}, 3) AS bearing_deg
        FROM cov WHERE rn = 1
        ORDER BY user_id, event_id""")),

    // ----- geo_turn_rate: normalized turn angle per track segment --------
    // odin_common/src/angle.rs:28 normalize_180 applied to the change of
    // consecutive segment bearings (bearing_from at geo.rs:102) — the
    // track-QC turn metric an aircraft display derives per update. Both
    // bearings are rounded to 3 decimals BEFORE the difference (§5: the
    // rounded values are the cross-engine-stable quantities, so their
    // difference and the (-180, 180] normalization are exact), then the
    // turn rate divides by the segment duration. Two consecutive lag
    // windows share one per-entity shuffle.
    "geo_turn_rate" -> Q(
      build = (s, d) => {
        val seg = evPts(s, d)
          .withColumn("plat", lag(col("lat"), 1).over(wTrack))
          .withColumn("plon", lag(col("lon"), 1).over(wTrack))
          .withColumn("pts", lag(col("ts_sec"), 1).over(wTrack))
          .filter(col("plat").isNotNull)
          .withColumn("brg",
            round(bearC(col("plat"), col("plon"), col("lat"), col("lon")), 3))
        seg
          .withColumn("pbrg", lag(col("brg"), 1).over(wTrack))
          .filter(col("pbrg").isNotNull && col("ts_sec") > col("pts"))
          .select(col("user_id"), col("event_id"),
            col("brg").as("bearing_deg"),
            // normalize_180: wrap the bearing change into (-180, 180]
            expr("brg - pbrg - 360.0e0*floor((brg - pbrg + 180.0e0)/360.0e0)")
              .as("turn_deg"),
            (col("ts_sec") - col("pts")).as("dt_sec"))
          .withColumn("turn_rate_dps",
            expr("round(turn_deg/CAST(dt_sec AS DOUBLE), 6) + 0.0e0")) // +0.0 folds -0.0 (signed-zero drift)
          .withColumn("sharp", abs(col("turn_deg")) > 90.0)
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some(s"""
        WITH pts AS (
          SELECT user_id, event_id, $LAT AS lat, $LON AS lon,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
          FROM events),
        lagged AS (
          SELECT *, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
                 lag(ts_sec) OVER w AS pts
          FROM pts
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
        seg AS (
          SELECT user_id, event_id, ts_sec, pts,
                 round(${bearS("plat", "plon", "lat", "lon")}, 3) AS brg
          FROM lagged WHERE plat IS NOT NULL),
        turns AS (
          SELECT user_id, event_id, ts_sec, pts, brg,
                 lag(brg) OVER (PARTITION BY user_id
                                ORDER BY ts_sec, event_id) AS pbrg
          FROM seg)
        SELECT user_id, event_id, brg AS bearing_deg,
               brg - pbrg - 360.0e0*floor((brg - pbrg + 180.0e0)/360.0e0) AS turn_deg,
               ts_sec - pts AS dt_sec,
               round((brg - pbrg - 360.0e0*floor((brg - pbrg + 180.0e0)/360.0e0))
                 /CAST(ts_sec - pts AS DOUBLE), 6) + 0.0e0 AS turn_rate_dps,
               abs(brg - pbrg - 360.0e0*floor((brg - pbrg + 180.0e0)/360.0e0))
                 > 90.0e0 AS sharp
        FROM turns
        WHERE pbrg IS NOT NULL AND ts_sec > pts
        ORDER BY user_id, event_id""")),

    // ----- geo_geojson: GeoJSON FeatureCollection ingest -----------------
    // odin_geolayer/src/lib.rs: GeoJSON text in, typed vertex rows out.
    // Per nation, a FeatureCollection is assembled (a Point + a pentagon
    // Polygon per supplier station), then parsed back through the real
    // reader (graft.sources.GeoJson: schema'd from_json + normalization +
    // ring explode — no UDFs). The oracle recomputes the expected vertices
    // DIRECTLY from the tables, so any parsing/explode defect breaks the
    // hash: the query proves construct→parse→explode is the identity.
    // Coordinates survive the text hop exactly because double→string→
    // double round-trips in IEEE; feature order is fixed by array_sort.
    "geo_geojson" -> Q(
      build = (s, d) => {
        val st = Tables.t(s, d, "supplier").select(
          col("s_suppkey"), col("s_nationkey"),
          (col("s_suppkey") * 53 % 140 - 70).cast(DoubleType).as("s_lat"),
          (col("s_suppkey") * 97 % 360 - 180).cast(DoubleType).as("s_lon"))
        val dy = Seq(0.4, 0.1, -0.3, -0.3, 0.1, 0.4)
        val dx = Seq(0.0, 0.38, 0.24, -0.24, -0.38, 0.0)
        val ring = (0 until 6).map(k =>
          concat(lit("["), (col("s_lon") + dx(k)).cast(StringType), lit(","),
            (col("s_lat") + dy(k)).cast(StringType), lit("]")))
        val ringStr = concat(lit("[["), concat_ws(",", ring: _*), lit("]]"))
        val pointFeat = concat(lit("""{"type":"Feature","properties":{"fid":""""),
          col("s_suppkey").cast(StringType),
          lit(""""},"geometry":{"type":"Point","coordinates":["""),
          col("s_lon").cast(StringType), lit(","),
          col("s_lat").cast(StringType), lit("]}}"))
        val polyFeat = concat(lit("""{"type":"Feature","properties":{"fid":""""),
          col("s_suppkey").cast(StringType),
          lit(""""},"geometry":{"type":"Polygon","coordinates":"""),
          ringStr, lit("}}"))
        val fcs = st
          .select(col("s_nationkey"), col("s_suppkey"),
            pointFeat.as("pf"), polyFeat.as("gf"))
          .groupBy(col("s_nationkey"))
          .agg(array_sort(collect_list(
            struct(col("s_suppkey"), col("pf"), col("gf")))).as("fs"))
          .withColumn("fc",
            concat(lit("""{"type":"FeatureCollection","features":["""),
              array_join(expr("flatten(transform(fs, x -> array(x.pf, x.gf)))"), ","),
              lit("]}")))
        graft.sources.GeoJson.parse(fcs, col("fc"))
          .select(col("s_nationkey").as("nation_key"),
            col("properties")("fid").as("fid"),
            col("geom_type"), col("ring_idx"), col("pt_idx"),
            col("lon"), col("lat"))
          .orderBy(col("nation_key"), col("fid"), col("geom_type"),
            col("ring_idx"), col("pt_idx"))
      },
      oracle = Some(s"""
        WITH st AS (SELECT s_suppkey, s_nationkey, $SLAT AS s_lat, $SLON AS s_lon
                    FROM supplier),
        offs AS (SELECT * FROM (VALUES (0, 0.0, 0.4), (1, 0.38, 0.1), (2, 0.24, -0.3),
                                       (3, -0.24, -0.3), (4, -0.38, 0.1), (5, 0.0, 0.4))
                 o(i, dx, dy)),
        vx AS (
          SELECT s_nationkey AS nation_key, CAST(s_suppkey AS VARCHAR) AS fid,
                 'Point' AS geom_type, 0 AS ring_idx, 0 AS pt_idx,
                 s_lon AS lon, s_lat AS lat
          FROM st
          UNION ALL
          SELECT s_nationkey, CAST(s_suppkey AS VARCHAR), 'Polygon', 0, o.i,
                 s_lon + o.dx, s_lat + o.dy
          FROM st, offs o)
        SELECT * FROM vx
        ORDER BY nation_key, fid, geom_type, ring_idx, pt_idx""")),

    // ----- geo_polygon_area: spherical polygon + circle area -------------
    // GeoPolygon/GeoLine area (odin_common/src/geo.rs:232 via the geo
    // crate's geodesic area) and GeoCircle::area (geo.rs:325), re-expressed
    // as the Chamberlain–Duquette spherical-excess shoelace over the ring
    // edges of each station's pentagon: area = |Σ (λ2−λ1)(2 + sinφ1 +
    // sinφ2)| · R²/2. Each edge term quantizes to 2^-40 fixed point before
    // the per-polygon SUM, so the aggregation is integer-exact and order-
    // free on both engines; one narrow shuffle keyed on the polygon.
    "geo_polygon_area" -> Q(
      build = (s, d) => {
        val dy = Seq(0.4, 0.1, -0.3, -0.3, 0.1)
        val dx = Seq(0.0, 0.38, 0.24, -0.24, -0.38)
        val q = 1099511627776.0 // 2^40
        val r2half = 6371.0088 * 6371.0088 / 2.0
        val terms = (0 until 5).map { k =>
          val k2 = (k + 1) % 5
          floor((radians(col("s_lon") + dx(k2)) - radians(col("s_lon") + dx(k)))
            * (lit(2.0) + sin(radians(col("s_lat") + dy(k)))
              + sin(radians(col("s_lat") + dy(k2)))) * q).cast(LongType)
        }
        stations(s, d)
          .select(col("s_suppkey"), terms.reduce(_ + _).as("qsum"),
            (col("s_suppkey") % 50 + 10).cast(DoubleType).as("r_km"))
          .select(col("s_suppkey"),
            round(abs(col("qsum")) / q * r2half, 3).as("poly_area_km2"),
            round(lit(math.Pi) * col("r_km") * col("r_km"), 3).as("circle_area_km2"))
          .orderBy(col("s_suppkey"))
      },
      oracle = Some(s"""
        WITH st AS (SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon FROM supplier),
        edges AS (SELECT * FROM (VALUES
          (0.0, 0.4, 0.38, 0.1), (0.38, 0.1, 0.24, -0.3),
          (0.24, -0.3, -0.24, -0.3), (-0.24, -0.3, -0.38, 0.1),
          (-0.38, 0.1, 0.0, 0.4)) e(dx1, dy1, dx2, dy2)),
        q AS (
          SELECT s_suppkey,
                 CAST(SUM(CAST(FLOOR((radians(s_lon + dx2) - radians(s_lon + dx1))
                   * (2.0 + sin(radians(s_lat + dy1)) + sin(radians(s_lat + dy2)))
                   * 1099511627776.0) AS BIGINT)) AS BIGINT) AS qsum,
                 CAST(s_suppkey % 50 + 10 AS DOUBLE) AS r_km
          FROM st, edges
          GROUP BY s_suppkey)
        SELECT s_suppkey,
               round(abs(qsum)/1099511627776.0 * ${6371.0088 * 6371.0088 / 2.0}, 3)
                 AS poly_area_km2,
               round(pi() * r_km * r_km, 3) AS circle_area_km2
        FROM q ORDER BY s_suppkey""")),

    // ----- geo_polygon_centroid: planar shoelace centroid ----------------
    // odin_bushfire/src/lib.rs:220 get_centroid: every bushfire perimeter
    // feature gets the area-weighted (shoelace) centroid of its polygon
    // via the geo crate's Centroid. Re-expressed as shared-formula column
    // math over each station's irregular pentagon (per-vertex radial
    // scale derived from the station key, so the shoelace is
    // non-trivial): the IDENTICAL formula text evaluates on both engines,
    // and it is pure +,-,*,/ on rational inputs — IEEE-deterministic, no
    // trig hazard — so the raw doubles hash-match unrounded. Scale shape:
    // a narrow per-row map over the scan, no shuffle.
    "geo_polygon_centroid" -> Q(
      build = (s, d) =>
        stations(s, d).select(col("s_suppkey"),
          expr(CentroidK.lonF).as("centroid_lon"),
          expr(CentroidK.latF).as("centroid_lat"),
          expr(CentroidK.areaF).as("area_deg2"))
          .orderBy(col("s_suppkey")),
      oracle = Some(s"""
        WITH st AS (SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon FROM supplier)
        SELECT s_suppkey, ${CentroidK.lonF} AS centroid_lon,
               ${CentroidK.latF} AS centroid_lat,
               ${CentroidK.areaF} AS area_deg2
        FROM st ORDER BY s_suppkey""")),

    // ----- geo_multipoly_centroid: MultiPolygon area-weighted merge ------
    // odin_bushfire/src/lib.rs:227: a MultiPolygon's centroid is the
    // area-weighted combination of its parts' centroids. Parts here are
    // the per-station pentagons grouped per nation; each part emits
    // fixed-point (centroid·area, area) terms — floor at 2^-20 makes the
    // per-nation SUM integer-exact and order-free — and the merged
    // centroid is one integer-ratio division at the end. Scale shape:
    // map-side-combinable partial aggregation keyed on the group; this is
    // exactly how a perimeter-set centroid merge distributes at 100 TB
    // (no part list ever materializes on one node).
    "geo_multipoly_centroid" -> Q(
      build = (s, d) =>
        Tables.t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"),
          (col("s_suppkey") * 53 % 140 - 70).cast(DoubleType).as("s_lat"),
          (col("s_suppkey") * 97 % 360 - 180).cast(DoubleType).as("s_lon"))
          .select(col("s_nationkey"),
            expr(s"CAST(FLOOR((${CentroidK.lonF}) * (${CentroidK.areaF}) * 1048576.0e0) AS BIGINT)").as("qwx"),
            expr(s"CAST(FLOOR((${CentroidK.latF}) * (${CentroidK.areaF}) * 1048576.0e0) AS BIGINT)").as("qwy"),
            expr(s"CAST(FLOOR((${CentroidK.areaF}) * 1048576.0e0) AS BIGINT)").as("qa"))
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_parts"),
            (sum(col("qwx")).cast(DoubleType) / sum(col("qa")).cast(DoubleType)).as("centroid_lon"),
            (sum(col("qwy")).cast(DoubleType) / sum(col("qa")).cast(DoubleType)).as("centroid_lat"),
            (sum(col("qa")).cast(DoubleType) / lit(1048576.0)).as("area_deg2"))
          .orderBy(col("s_nationkey")),
      oracle = Some(s"""
        WITH st AS (SELECT s_suppkey, s_nationkey, $SLAT AS s_lat, $SLON AS s_lon
                    FROM supplier),
        parts AS (
          SELECT s_nationkey,
                 CAST(FLOOR((${CentroidK.lonF}) * (${CentroidK.areaF}) * 1048576.0e0) AS BIGINT) AS qwx,
                 CAST(FLOOR((${CentroidK.latF}) * (${CentroidK.areaF}) * 1048576.0e0) AS BIGINT) AS qwy,
                 CAST(FLOOR((${CentroidK.areaF}) * 1048576.0e0) AS BIGINT) AS qa
          FROM st)
        SELECT s_nationkey, COUNT(*) AS n_parts,
               CAST(SUM(qwx) AS DOUBLE)/CAST(SUM(qa) AS DOUBLE) AS centroid_lon,
               CAST(SUM(qwy) AS DOUBLE)/CAST(SUM(qa) AS DOUBLE) AS centroid_lat,
               CAST(SUM(qa) AS DOUBLE)/1048576.0e0 AS area_deg2
        FROM parts GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // ----- geo_grid_stencil: raster slope/aspect (DEM gradient) ----------
    // The stencil computation odin_dem/odin_wind run on elevation/wind
    // grids: per cell, the central-difference gradient from the 4
    // neighbors, then slope = atan(|∇z|) and aspect = atan2(dzdy, dzdx).
    // The grid is the per-cell event density (an integer field, exact on
    // both engines). Scale shape: a stencil over a distributed raster is
    // 4 equi-joins keyed on the shifted cell id — each neighbor lookup
    // shuffles on the grid key, never a windowed scan over the whole
    // raster; this is how a 100 TB HRRR/DEM sweep parallelizes.
    "geo_grid_stencil" -> Q(
      build = (s, d) =>
        Raster.gradient(Raster.density(s, d))
          .select(col("ci"), col("cj"), col("z"), col("dzdx"), col("dzdy"),
            round(degrees(atan(sqrt(col("dzdx") * col("dzdx")
              + col("dzdy") * col("dzdy")))), 3).as("slope_deg"),
            round((degrees(atan2(col("dzdy"), col("dzdx"))) + 360.0) % 360.0, 3)
              .as("aspect_deg"))
          .orderBy(col("ci"), col("cj")),
      oracle = Some(s"""
        WITH cells AS (${Raster.DensitySql}),
        g AS (
          SELECT c.ci, c.cj, c.z,
                 (e.z - w.z)/2.0 AS dzdx, (n_.z - s_.z)/2.0 AS dzdy
          FROM cells c
          JOIN cells e  ON e.ci = c.ci AND e.cj = c.cj + 1
          JOIN cells w  ON w.ci = c.ci AND w.cj = c.cj - 1
          JOIN cells n_ ON n_.ci = c.ci + 1 AND n_.cj = c.cj
          JOIN cells s_ ON s_.ci = c.ci - 1 AND s_.cj = c.cj)
        SELECT ci, cj, z, dzdx, dzdy,
               round(degrees(atan(sqrt(dzdx*dzdx + dzdy*dzdy))), 3) AS slope_deg,
               round((degrees(atan2(dzdy, dzdx)) + 360.0) % 360.0, 3) AS aspect_deg
        FROM g ORDER BY ci, cj""")),

    // ----- geo_goes_filenames: GOES-R archive filename parse -------------
    // odin_goesr/src/lib.rs:328 parse_filename + :350 parse_goesr_dtg:
    // every archived GOES-R product file encodes (system, instrument,
    // level, product, mode, satellite, start/end/create DTG) in its name,
    // and the replay importer drives entirely off that parse. Here each
    // event synthesizes a filename (the archive-listing shape), then the
    // parse is pure regexp_extract + integer date math — no timestamp
    // parser, so the epoch reconstruction (days-from-civil × 86400 +
    // in-day seconds) is identical in both engines. Narrow map over the
    // scan: the 100 TB shape of indexing an object-store archive listing.
    "geo_goes_filenames" -> Q(
      build = (s, d) => {
        def dtg(sec: Column): Column = {
          val t = timestamp_seconds(sec)
          concat(
            lpad(year(t).cast(StringType), 4, "0"),
            lpad(dayofyear(t).cast(StringType), 3, "0"),
            lpad(hour(t).cast(StringType), 2, "0"),
            lpad(minute(t).cast(StringType), 2, "0"),
            lpad(second(t).cast(StringType), 2, "0"), lit("0"))
        }
        val named = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts_sec"))
          .select(col("event_id"), concat(
            lit("OR_ABI-L2-"),
            when(col("event_type").isin("click", "view"), "FDCC")
              .otherwise("FDCF"),
            lit("-M6_G"), (lit(16) + col("user_id") % 2).cast(StringType),
            lit("_s"), dtg(col("ts_sec")),
            lit("_e"), dtg(col("ts_sec") + 300),
            lit("_c"), dtg(col("ts_sec") + 330), lit(".nc")).as("fname"))
        val re = "^OR_([A-Z]+)-(L[0-9])-([A-Z]+)-M([0-9])_G([0-9]+)_s([0-9]{14})_e([0-9]{14})_c([0-9]{14})\\.nc$"
        def dtgSec(g: Column): Column = {
          val y = substring(g, 1, 4).cast(IntegerType)
          val doy = substring(g, 5, 3).cast(IntegerType)
          val hh = substring(g, 8, 2).cast(IntegerType)
          val mi = substring(g, 10, 2).cast(IntegerType)
          val ss = substring(g, 12, 2).cast(IntegerType)
          ((datediff(make_date(y, lit(1), lit(1)), to_date(lit("1970-01-01")))
            .cast(LongType) + (doy - 1)) * 86400L
            + hh * 3600L + mi * 60L + ss)
        }
        named.select(col("event_id"), col("fname"),
            regexp_extract(col("fname"), re, 1).as("instrument"),
            regexp_extract(col("fname"), re, 2).as("level"),
            regexp_extract(col("fname"), re, 3).as("product"),
            regexp_extract(col("fname"), re, 4).cast(IntegerType).as("mode"),
            regexp_extract(col("fname"), re, 5).cast(IntegerType).as("sat_id"),
            dtgSec(regexp_extract(col("fname"), re, 6)).as("start_sec"),
            dtgSec(regexp_extract(col("fname"), re, 8)).as("create_sec"))
          .orderBy(col("event_id"))
      },
      oracle = Some({
        // note: SparkEntry applies stripMargin to oracle text, so no line
        // here may BEGIN with '|' — concatenation operators go at line ends
        def dtg(x: String): String = {
          val t = s"make_timestamp(CAST(($x) AS BIGINT) * 1000000)"
          s"""lpad(CAST(year($t) AS VARCHAR), 4, '0') ||
              lpad(CAST(dayofyear($t) AS VARCHAR), 3, '0') ||
              lpad(CAST(hour($t) AS VARCHAR), 2, '0') ||
              lpad(CAST(minute($t) AS VARCHAR), 2, '0') ||
              lpad(CAST(second($t) AS VARCHAR), 2, '0') || '0'"""
        }
        val re = """^OR_([A-Z]+)-(L[0-9])-([A-Z]+)-M([0-9])_G([0-9]+)_s([0-9]{14})_e([0-9]{14})_c([0-9]{14})\.nc$"""
        def dtgSec(g: String): String =
          s"""(CAST(make_date(CAST(substr($g,1,4) AS INT), 1, 1)
                 - DATE '1970-01-01' AS BIGINT)
               + CAST(substr($g,5,3) AS INT) - 1) * 86400
              + CAST(substr($g,8,2) AS INT) * 3600
              + CAST(substr($g,10,2) AS INT) * 60
              + CAST(substr($g,12,2) AS INT)"""
        s"""
        WITH named AS (
          SELECT event_id,
                 'OR_ABI-L2-' ||
                 (CASE WHEN event_type IN ('click','view') THEN 'FDCC'
                       ELSE 'FDCF' END) ||
                 '-M6_G' || CAST(16 + user_id % 2 AS VARCHAR) ||
                 '_s' || ${dtg("ts_sec")} || '_e' || ${dtg("ts_sec + 300")} ||
                 '_c' || ${dtg("ts_sec + 330")} || '.nc' AS fname
          FROM (SELECT event_id, user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events))
        SELECT event_id, fname,
               regexp_extract(fname, '$re', 1) AS instrument,
               regexp_extract(fname, '$re', 2) AS level,
               regexp_extract(fname, '$re', 3) AS product,
               CAST(regexp_extract(fname, '$re', 4) AS INT) AS mode,
               CAST(regexp_extract(fname, '$re', 5) AS INT) AS sat_id,
               ${dtgSec(s"regexp_extract(fname, '$re', 6)")} AS start_sec,
               ${dtgSec(s"regexp_extract(fname, '$re', 8)")} AS create_sec
        FROM named ORDER BY event_id"""
      })),

    // ----- geo_fill_nodata: IDW fill of missing raster cells -------------
    // odin_gdal/src/lib.rs:811 fill_nodata (GDALFillNodata): fill nodata
    // raster cells by inverse-distance weighting of valid cells within a
    // search radius. Re-expressed on the synthetic DEM grid with a
    // deterministic ~4% nodata mask: each missing cell joins its ≤24
    // present neighbors within Chebyshev radius 2 (keyed equi-join on the
    // offset cell id — the stencil pattern, no scan-squared), weight
    // 1/d². The possible weights {1, ½, ¼, ⅕, ⅛} are exact decimals, so
    // weighted sums aggregate in DECIMAL — order-free and bit-identical
    // cross-engine with no quantization. Cells with no valid neighbor
    // stay unfilled (dropped), as GDAL does beyond max_dist.
    "geo_fill_nodata" -> Q(
      build = (s, d) => {
        val base = Raster.grid(s).select(col("gi"), col("gj"), (Raster.dem + 100.0).as("elev"),
          ((((col("gi") * 7 + col("gj") * 13) % 23) + 23) % 23 === 0).as("missing"))
        val present = base.filter(!col("missing"))
          .select(col("gi").as("pi"), col("gj").as("pj"), col("elev"))
        val missing = base.filter(col("missing")).select(col("gi"), col("gj"))
        val nbrs = missing
          .withColumn("di", explode(expr("sequence(-2, 2)")))
          .withColumn("dj", explode(expr("sequence(-2, 2)")))
          .filter(col("di") =!= 0 || col("dj") =!= 0)
          .join(present, col("gi") + col("di") === col("pi")
            && col("gj") + col("dj") === col("pj"))
          .withColumn("d2", col("di") * col("di") + col("dj") * col("dj"))
          .withColumn("w", expr(
            """CAST(CASE d2 WHEN 1 THEN 1.0 WHEN 2 THEN 0.5 WHEN 4 THEN 0.25
                            WHEN 5 THEN 0.2 ELSE 0.125 END AS DECIMAL(18,3))"""))
          .withColumn("wz", col("w") * col("elev").cast(DecimalType(18, 3)))
        nbrs.groupBy(col("gi"), col("gj"))
          .agg(count(lit(1)).as("n_neighbors"),
            (sum(col("wz")).cast(DoubleType) / sum(col("w")).cast(DoubleType))
              .as("filled"))
          .orderBy(col("gi"), col("gj"))
      },
      oracle = Some(s"""
        WITH base AS (${Raster.gridSql(s"CAST(${Raster.DemSql} AS DOUBLE) + 100.0 AS elev",
          "(((gi.i*7 + gj.j*13) % 23) + 23) % 23 = 0 AS missing")}),
        nbrs AS (
          SELECT m.gi, m.gj,
                 di.d*di.d + dj.d*dj.d AS d2, p.elev
          FROM (SELECT gi, gj FROM base WHERE missing) m,
               generate_series(-2, 2) AS di(d), generate_series(-2, 2) AS dj(d)
          JOIN base p ON p.gi = m.gi + di.d AND p.gj = m.gj + dj.d
                      AND NOT p.missing
          WHERE di.d != 0 OR dj.d != 0),
        weighted AS (
          SELECT gi, gj,
                 CAST(CASE d2 WHEN 1 THEN 1.0 WHEN 2 THEN 0.5 WHEN 4 THEN 0.25
                              WHEN 5 THEN 0.2 ELSE 0.125 END AS DECIMAL(18,3)) AS w,
                 CAST(elev AS DECIMAL(18,3)) AS z
          FROM nbrs)
        SELECT gi, gj, COUNT(*) AS n_neighbors,
               CAST(SUM(w*z) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS filled
        FROM weighted GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ----- geo_goes_project: GOES-R fixed-grid → geodetic ----------------
    // The satellite-pixel geolocation every GOES-R hotspot carries
    // (odin_goesr/src/geo.rs:93 geo_from_instrument_angles; published
    // geostationary projection, GOES-R PUG L2+ vol. 5 p.23): scan/elevation
    // angles → ellipsoid intersection → lat/lon. Shared formula text runs
    // verbatim on both engines (UtmK technique); off-disk pixels are
    // dropped on the quadratic discriminant with a wide limb margin so
    // ulp-level trig noise can never flip row membership. Pure narrow
    // column math over the scan — the shape of geolocating a full-disk
    // raster at 100 TB.
    "geo_goes_project" -> Q(
      build = (s, d) => {
        val base = Tables.events(s, d)
          .withColumn("scan_x", expr(GoesK.X))
          .withColumn("scan_y", expr(GoesK.Y))
        val disc = GoesK.apply1(base, GoesK.discSteps)
          .filter(col("g_disc") >= 1.0e10)
        GoesK.apply1(disc, GoesK.geoSteps)
          .select(col("event_id"), col("scan_x"), col("scan_y"),
            round(col("glat"), 4).as("lat_deg"),
            round(col("glon"), 4).as("lon_deg"))
          .orderBy(col("event_id"))
      },
      oracle = Some({
        val (d1, l1) = UtmK.ctes("gb", GoesK.discSteps, "gd")
        val (d2, l2) = UtmK.ctes("gf", GoesK.geoSteps, "gg")
        s"""
        WITH gb AS (SELECT event_id, ${GoesK.X} AS scan_x, ${GoesK.Y} AS scan_y
                    FROM events),
        $d1,
        gf AS (SELECT * FROM $l1 WHERE g_disc >= 1.0e10),
        $d2
        SELECT event_id, scan_x, scan_y,
               round(glat, 4) AS lat_deg, round(glon, 4) AS lon_deg
        FROM $l2 ORDER BY event_id"""
      })),

    // ----- geo_polygon: point-in-convex-polygon --------------------------
    // Winding test per odin_common/src/geo.rs:409 `contains`; a convex
    // pentagon, all cross products <= 0 going clockwise. Pure arithmetic →
    // hash-checked against the identical predicate in DuckDB.
    "geo_polygon" -> Q(
      build = (s, d) => {
        // clockwise convex pentagon
        val poly = Seq((0.0, -40.0), (30.0, -10.0), (20.0, 30.0), (-20.0, 30.0), (-30.0, -10.0))
        val edges = poly.zip(poly.tail :+ poly.head)
        val inside = edges.map { case ((y1, x1), (y2, x2)) =>
          ((lit(x2) - lit(x1)) * (col("lat") - lit(y1))
            - (lit(y2) - lit(y1)) * (col("lon") - lit(x1))) <= 0.0
        }.reduce(_ && _)
        evPts(s, d)
          .filter(inside)
          .select(col("event_id"), col("lat"), col("lon"))
          .orderBy(col("event_id"))
      },
      oracle = {
        val poly = Seq((0.0, -40.0), (30.0, -10.0), (20.0, 30.0), (-20.0, 30.0), (-30.0, -10.0))
        val edges = poly.zip(poly.tail :+ poly.head)
        val pred = edges.map { case ((y1, x1), (y2, x2)) =>
          s"(($x2 - $x1)*(lat - $y1) - ($y2 - $y1)*(lon - $x1)) <= 0.0"
        }.mkString(" AND ")
        Some(s"""
          SELECT event_id, lat, lon
          FROM (SELECT event_id, $LAT AS lat, $LON AS lon FROM events)
          WHERE $pred
          ORDER BY event_id""")
      }),

    // ----- geo_dem_bilinear: grid lookup + bilinear interpolation --------
    // The odin_dem / odin_wind probe: sample a raster (here a synthetic
    // 1-degree DEM realized as a 50k-row grid TABLE, the post-GDAL-decode
    // shape) at each event position via bilinear interpolation of the 4
    // surrounding cells. The probe explodes to its 4 corner keys and
    // equi-joins the grid — the co-partitionable O(4n) shape that scales to
    // a continental 1-arcsecond raster, vs. the driver-side array lookup a
    // native engine does. Pure +,-,*,/ arithmetic: bit-identical, no
    // rounding.
    "geo_dem_bilinear" -> Q(
      build = (s, d) => {
        val grid = Raster.grid(s).select(col("gi"), col("gj"), (Raster.dem + 100.0).as("elev"))
        val probes = evPts(s, d).select(col("event_id"), col("lat"), col("lon"))
        val keys = Seq(col("event_id"), col("lat"), col("lon"))
        Raster.pivot(Raster.sample(probes, col("lat"), col("lon"), Raster.Bilinear, grid),
            keys, 4)(t => Seq(Raster.tapSum(t, col("w") * col("elev")).as(s"e$t")))
          .select(keys :+ Raster.chain("e", 4).as("elev_m"): _*)
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH grid AS (${Raster.gridSql(s"CAST(${Raster.DemSql} AS DOUBLE) + 100.0 AS elev")}),
        probes AS (
          SELECT event_id, lat, lon,
                 CAST(floor(lat) AS BIGINT) AS i, CAST(floor(lon) AS BIGINT) AS j,
                 lat - CAST(floor(lat) AS BIGINT) AS di,
                 lon - CAST(floor(lon) AS BIGINT) AS dj
          FROM (SELECT event_id, $LAT AS lat, $LON AS lon FROM events)),
        corners AS (
          SELECT p.*, ci.c AS ci, cj.c AS cj
          FROM probes p, generate_series(0, 1) AS ci(c), generate_series(0, 1) AS cj(c)),
        weighted AS (
          SELECT c.event_id, c.lat, c.lon, c.ci*2 + c.cj AS ord,
                 (CASE WHEN c.ci = 0 THEN 1.0 - c.di ELSE c.di END)
                 * (CASE WHEN c.cj = 0 THEN 1.0 - c.dj ELSE c.dj END) * g.elev AS we
          FROM corners c JOIN grid g ON c.i + c.ci = g.gi AND c.j + c.cj = g.gj)
        SELECT event_id, lat, lon,
               SUM(CASE WHEN ord = 0 THEN we ELSE 0.0 END)
               + SUM(CASE WHEN ord = 1 THEN we ELSE 0.0 END)
               + SUM(CASE WHEN ord = 2 THEN we ELSE 0.0 END)
               + SUM(CASE WHEN ord = 3 THEN we ELSE 0.0 END) AS elev_m
        FROM weighted
        GROUP BY event_id, lat, lon
        ORDER BY event_id""")),

    // ----- geo_grid_resample: grid-to-grid raster warp (reproject) -------
    // SimpleWarpBuilder::exec / warp_to_raster_info (odin_gdal/src/
    // warp.rs:316/:751): regrid a source raster in one SRS onto a target
    // extent/resolution in another — the HRRR-Lambert-onto-DEM-latlon
    // overlay every raster consumer hits first. Source here is a 1 km UTM
    // zone-10 grid (200x300 cells, ~1% nodata holes); target is a 0.05
    // deg lat/lon grid. Per target-cell CENTER: Krüger forward (the
    // in-tree UtmK chain, identical text both engines) -> fractional
    // source cell -> 4-corner bilinear gather on the geo_dem_bilinear
    // equi-join shape. Nodata semantics (warp.rs's warp_to_wgs84 note:
    // lat/lon extents never map cleanly): corners off-grid or in holes
    // are excluded and the remaining weights RENORMALIZE; a cell with no
    // valid corner emits NULL + valid=false. Easting/northing are mm-
    // rounded before the floor so a last-ulp libm wiggle cannot flip a
    // source cell. Scale shape: target cells partition freely, the
    // source side is a broadcast (one zone's grid; at 100x the join key
    // (i,j) bucket-co-locates both sides), the only shuffle is the
    // 4-row-per-cell corner agg.
    "geo_grid_resample" -> Q(
      build = (s, d) => {
        val wt = Raster.sample(Raster.utmTarget(s), col("fx"), col("fy"), Raster.Bilinear,
          broadcast(Raster.source(s)), "left")
        Raster.renormalised(wt, "ti", "tj", "lat", "lon").orderBy(col("ti"), col("tj"))
      },
      oracle = Some({
        s"""
        WITH ${Raster.UtmTargetSql},
        src AS (${Raster.sourceSql()}),
        cells AS (${Raster.UtmCellsSql}),
        corners AS (
          SELECT c.*, ci.c AS ci, cj.c AS cj
          FROM cells c, generate_series(0, 1) AS ci(c),
               generate_series(0, 1) AS cj(c)),
        wt AS (
          SELECT c.ti, c.tj, c.lat, c.lon, c.ci*2 + c.cj AS ord, s.v,
                 (CASE WHEN c.ci = 0 THEN 1.0e0 - c.di ELSE c.di END)
                 * (CASE WHEN c.cj = 0 THEN 1.0e0 - c.dj ELSE c.dj END) AS w
          FROM corners c LEFT JOIN src s
            ON c.i + c.ci = s.si AND c.j + c.cj = s.sj),
        agg AS (
          SELECT ti, tj, lat, lon,
                 SUM(CASE WHEN ord = 0 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w0,
                 SUM(CASE WHEN ord = 0 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v0,
                 SUM(CASE WHEN ord = 1 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w1,
                 SUM(CASE WHEN ord = 1 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v1,
                 SUM(CASE WHEN ord = 2 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w2,
                 SUM(CASE WHEN ord = 2 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v2,
                 SUM(CASE WHEN ord = 3 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w3,
                 SUM(CASE WHEN ord = 3 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v3
          FROM wt GROUP BY 1, 2, 3, 4)
        SELECT ti, tj, lat, lon,
               ((w0 + w1) + w2) + w3 > 0.0e0 AS valid,
               CASE WHEN ((w0 + w1) + w2) + w3 > 0.0e0
                    THEN (((v0 + v1) + v2) + v3) / (((w0 + w1) + w2) + w3)
               END AS value
        FROM agg ORDER BY ti, tj"""
      })),

    // ----- geo_resample_nearest: nearest-neighbor warp kernel -----------
    // odin_gdal/src/warp.rs:35-45 exposes GDAL's ResampleAlg enum; after
    // bilinear (geo_grid_resample), NEAREST is the kernel a real user
    // hits first — it is the only correct choice for CATEGORICAL rasters
    // (fire masks, land-cover classes), where averaging invents classes.
    // Same warp geometry as geo_grid_resample (UTM-projected target
    // lattice over a 1 km source grid): each target cell takes the
    // single source sample nearest its projected position
    // (floor(f + 0.5), the round-half-up GDAL uses), and nodata passes
    // through untouched — exactly how class rasters must behave. Scale
    // shape: one broadcast hash join target×1 source cell, no explode.
    "geo_resample_nearest" -> Q(
      build = (s, d) => {
        val proj = Raster.utmTarget(s)
          .withColumn("ni", expr("CAST(floor(fx + 0.5e0) AS BIGINT)"))
          .withColumn("nj", expr("CAST(floor(fy + 0.5e0) AS BIGINT)"))
        val src = Raster.source(s)
        proj.join(broadcast(src),
            proj("ni") === src("si") && proj("nj") === src("sj"), "left")
          .select(col("ti"), col("tj"), col("lat"), col("lon"),
            col("v").isNotNull.as("valid"), col("v").as("value"))
          .orderBy(col("ti"), col("tj"))
      },
      oracle = Some({
        s"""
        WITH ${Raster.UtmTargetSql},
        src AS (${Raster.sourceSql()}),
        cells AS (
          SELECT ti, tj, lat, lon,
                 CAST(floor((round(utm_easting, 3) - 500000.0e0)
                   / 1000.0e0 + 0.5e0) AS BIGINT) AS ni,
                 CAST(floor((round(utm_northing, 3) - 4000000.0e0)
                   / 1000.0e0 + 0.5e0) AS BIGINT) AS nj
          FROM ${Raster.UtmLast})
        SELECT c.ti, c.tj, c.lat, c.lon,
               s.v IS NOT NULL AS valid, s.v AS value
        FROM cells c LEFT JOIN src s ON c.ni = s.si AND c.nj = s.sj
        ORDER BY c.ti, c.tj"""
      })),

    // ----- geo_resample_cubic: cubic-convolution warp kernel ------------
    // Third ResampleAlg (warp.rs:35-45 Cubic): Keys cubic convolution
    // with a = −0.5 (Catmull-Rom — GDAL's cubic), the kernel for
    // upsampling smooth continuous fields (DEMs, temperature grids)
    // where bilinear's gradient discontinuities show. Same UTM warp
    // geometry; each target takes the 4×4 tap neighborhood
    // (offsets −1..2), separable weights from one engine-shared
    // polynomial fragment. Negative lobes make nodata renormalization
    // ill-defined, so the strict contract applies: a target is valid
    // only when all 16 taps exist and are non-null (GDAL's
    // all-valid fast path); else NULL+valid=false. Scale shape: 16
    // broadcast-hash-joined taps per target, one groupBy — no explode
    // beyond the fixed 16.
    "geo_resample_cubic" -> Q(
      build = (s, d) => {
        // one row per (target, ord): max() is exact selection, and the
        // 16-term chain adds in ONE fixed order on both engines
        Raster.pivot(Raster.sample(Raster.utmTarget(s), col("fx"), col("fy"), Raster.Cubic,
            broadcast(Raster.source(s)), "left"), Seq(col("ti"), col("tj"), col("lat"), col("lon")),
            16, count(col("v")).as("n_valid"))(k =>
            Seq(Raster.tapMax(k, col("w") * col("v")).as(s"p$k")))
          .select(col("ti"), col("tj"), col("lat"), col("lon"),
            (col("n_valid") === 16).as("valid"),
            when(col("n_valid") === 16, Raster.chain("p", 16)).as("value"))
          .orderBy(col("ti"), col("tj"))
      },
      oracle = Some({
        s"""
        WITH ${Raster.UtmTargetSql},
        src AS (${Raster.sourceSql()}),
        cells AS (${Raster.UtmCellsSql}),
        taps AS (
          SELECT c.*, ci.c AS ci, cj.c AS cj,
                 (ci.c + 1) * 4 + cj.c + 1 AS ord,
                 ${CubicW("ci.c", "c.di")} AS wx,
                 ${CubicW("cj.c", "c.dj")} AS wy
          FROM cells c, generate_series(-1, 2) AS ci(c),
               generate_series(-1, 2) AS cj(c)),
        agg AS (
          SELECT t.ti, t.tj, t.lat, t.lon, COUNT(s.v) AS n_valid,
                 ${(0 until 16).map(k =>
                   s"MAX(CASE WHEN t.ord = $k THEN t.wx * t.wy * s.v END) AS p$k")
                   .mkString(", ")}
          FROM taps t LEFT JOIN src s
            ON t.i + t.ci = s.si AND t.j + t.cj = s.sj
          GROUP BY 1, 2, 3, 4)
        SELECT ti, tj, lat, lon, n_valid = 16 AS valid,
               CASE WHEN n_valid = 16
                    THEN ${(1 until 16).foldLeft("p0")((a, k) => s"($a + p$k)")}
               END AS value
        FROM agg ORDER BY ti, tj"""
      })),

    // ----- geo_resample_average: averaging downsample kernel ------------
    // The other ResampleAlg a real user hits (warp.rs:35-45 Average):
    // DOWNSAMPLING a continuous raster (DEM 1 km → 4 km) where bilinear
    // would alias — every source sample inside the target footprint
    // contributes equally, and nodata renormalizes (mean over the
    // non-null members, GDAL's average semantics). Integer decimation
    // geometry (factor 4 both axes), the canonical DEM pyramid step.
    // Exact cross-engine: integer-valued samples sum exactly, the
    // count-weighted division is the single IEEE op. Scale shape: ONE
    // map-side-combinable groupBy over the source grid keyed on the
    // target cell — linear, no join at all.
    "geo_resample_average" -> Q(
      build = (s, d) =>
        Raster.decimate(s, expr("CASE WHEN count(v) > 0 THEN sum(v) / count(v) END")),
      oracle = Some(s"""
        WITH src AS (${Raster.sourceSql()})
        SELECT si // 4 AS ti, sj // 4 AS tj,
               COUNT(v) AS n_valid, COUNT(v) > 0 AS valid,
               CASE WHEN COUNT(v) > 0 THEN SUM(v) / COUNT(v) END AS value
        FROM src GROUP BY 1, 2 ORDER BY ti, tj""")),

    // ----- geo_resample_mode: majority downsample kernel ----------------
    // ResampleAlg Mode (warp.rs:35-45): downsampling a CATEGORICAL
    // raster (land cover, fire mask, QC flags) where averaging is
    // meaningless — the target cell takes the most frequent source
    // value in its footprint. Ties break to the smallest value
    // (deterministic; GDAL leaves tie order unspecified, a contract a
    // distributed engine must pin). Nodata excluded; valid = any
    // non-null member. Exact integers end to end. Scale shape: two
    // map-side-combinable groupBys (cell-value counts, then the
    // min-struct argmax) — linear, no join against the raster.
    "geo_resample_mode" -> Q(
      build = (s, d) => {
        val src = Raster.source(s, "CAST((si*31 + sj*17) % 25 AS BIGINT)", "vi")
        val tot = Raster.decimated(src).agg(count(col("vi")).as("n_valid"))
        val mode = Raster.decimated(src.filter(col("vi").isNotNull), col("vi"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("m", struct((-col("cnt")).as("nc"), col("vi").as("mv")))
          .groupBy(col("ti"), col("tj"))
          .agg(min(col("m")).as("m"))
          .select(col("ti"), col("tj"), col("m.mv").as("value"),
            (-col("m.nc")).as("mode_count"))
        tot.join(mode, Seq("ti", "tj"), "left")
          .select(col("ti"), col("tj"), col("n_valid"),
            (col("n_valid") > 0).as("valid"), col("value"),
            col("mode_count"))
          .orderBy(col("ti"), col("tj"))
      },
      oracle = Some(s"""
        WITH src AS (${Raster.sourceSql("CAST((si.a*31 + sj.b*17) % 25 AS BIGINT)", "vi")}),
        tot AS (
          SELECT si // 4 AS ti, sj // 4 AS tj, COUNT(vi) AS n_valid
          FROM src GROUP BY 1, 2),
        cnts AS (
          SELECT si // 4 AS ti, sj // 4 AS tj, vi, COUNT(*) AS cnt
          FROM src WHERE vi IS NOT NULL GROUP BY 1, 2, 3),
        md AS (
          SELECT ti, tj, vi AS value, cnt AS mode_count,
                 ROW_NUMBER() OVER (PARTITION BY ti, tj
                   ORDER BY cnt DESC, vi ASC) AS rn
          FROM cnts)
        SELECT t.ti, t.tj, t.n_valid, t.n_valid > 0 AS valid,
               m.value, m.mode_count
        FROM tot t LEFT JOIN md m
          ON m.ti = t.ti AND m.tj = t.tj AND m.rn = 1
        ORDER BY t.ti, t.tj""")),

    // ----- geo_resample_min / _max / _med: order-statistic kernels ------
    // The remaining ResampleAlg trio (warp.rs:35-45 Min/Max/Med):
    // downsampling where the extreme or the robust middle is the
    // product — Max for hazard rasters (worst fire-danger class in the
    // coarse cell), Min for clearance/visibility floors, Med as the
    // outlier-immune alternative to Average. Same integer-decimation
    // geometry and nodata semantics as geo_resample_average (aggregate
    // over the non-null members; valid = any member). Exact
    // cross-engine: min/max are order statistics on exactly-represented
    // doubles; med interpolates the two middle members with the SAME
    // pos = 0.5·(n−1) formula in Spark's exact percentile and DuckDB's
    // quantile_cont, and on integer-valued doubles every interpolation
    // step is exact IEEE. Scale shape: min/max are ONE map-side-
    // combinable groupBy (partial min/max per partition — constant
    // shuffle rows per cell); med buffers per-group members, bounded by
    // the 4×4 footprint = 16 values, so the sort-based aggregate is
    // constant work per cell — linear, no join.
    "geo_resample_min" -> Q(
      build = (s, d) => Raster.decimate(s, min(col("v"))),
      oracle = Some(s"""
        WITH src AS (${Raster.sourceSql()})
        SELECT si // 4 AS ti, sj // 4 AS tj,
               COUNT(v) AS n_valid, COUNT(v) > 0 AS valid, MIN(v) AS value
        FROM src GROUP BY 1, 2 ORDER BY ti, tj""")),

    "geo_resample_max" -> Q(
      build = (s, d) => Raster.decimate(s, max(col("v"))),
      oracle = Some(s"""
        WITH src AS (${Raster.sourceSql()})
        SELECT si // 4 AS ti, sj // 4 AS tj,
               COUNT(v) AS n_valid, COUNT(v) > 0 AS valid, MAX(v) AS value
        FROM src GROUP BY 1, 2 ORDER BY ti, tj""")),

    "geo_resample_med" -> Q(
      build = (s, d) => Raster.decimate(s, expr("percentile(v, 0.5e0)")),
      oracle = Some(s"""
        WITH src AS (${Raster.sourceSql()})
        SELECT si // 4 AS ti, sj // 4 AS tj,
               COUNT(v) AS n_valid, COUNT(v) > 0 AS valid,
               quantile_cont(v, 0.5e0) AS value
        FROM src GROUP BY 1, 2 ORDER BY ti, tj""")),

    // ----- geo_resample_lanczos: Lanczos-3 warp kernel ------------------
    // ResampleAlg Lanczos (warp.rs:35-45): the high-fidelity upsample
    // for imagery where cubic still blurs — 6×6 sinc-windowed taps
    // (offsets −2..3) with per-target weight normalization (Σwv / Σw,
    // GDAL's kernel sum). Same UTM warp geometry and all-36-taps-valid
    // strict contract as geo_resample_cubic (negative lobes make nodata
    // renormalization ill-defined). Weights come from the QUANTIZED
    // LanczosW fragment (see its scaladoc: sin() is the one
    // transcendental, pinned by 6-decimal rounding shared by both
    // engines); both Σ run in ONE fixed 36-term order via the pivot
    // trick. Scale shape: 36 broadcast-hash-joined taps per target, one
    // groupBy — fixed fan-out, no data-sized explode.
    "geo_resample_lanczos" -> Q(
      build = (s, d) => {
        Raster.pivot(Raster.sample(Raster.utmTarget(s), col("fx"), col("fy"), Raster.Lanczos,
            broadcast(Raster.source(s)), "left"), Seq(col("ti"), col("tj"), col("lat"), col("lon")),
            36, count(col("v")).as("n_valid"))(k => Seq(
            Raster.tapMax(k, col("w") * col("v")).as(s"p$k"),
            Raster.tapMax(k, col("w")).as(s"q$k")))
          .select(col("ti"), col("tj"), col("lat"), col("lon"),
            (col("n_valid") === 36).as("valid"),
            when(col("n_valid") === 36, Raster.chain("p", 36) / Raster.chain("q", 36))
              .as("value"))
          .orderBy(col("ti"), col("tj"))
      },
      oracle = Some({
        s"""
        WITH ${Raster.UtmTargetSql},
        src AS (${Raster.sourceSql()}),
        cells AS (${Raster.UtmCellsSql}),
        taps AS (
          SELECT c.*, ci.c AS ci, cj.c AS cj,
                 (ci.c + 2) * 6 + cj.c + 2 AS ord,
                 ${LanczosW("ci.c", "c.di")} AS wx,
                 ${LanczosW("cj.c", "c.dj")} AS wy
          FROM cells c, generate_series(-2, 3) AS ci(c),
               generate_series(-2, 3) AS cj(c)),
        agg AS (
          SELECT t.ti, t.tj, t.lat, t.lon, COUNT(s.v) AS n_valid,
                 ${(0 until 36).map(k =>
                   s"MAX(CASE WHEN t.ord = $k THEN t.wx * t.wy * s.v END) AS p$k")
                   .mkString(", ")},
                 ${(0 until 36).map(k =>
                   s"MAX(CASE WHEN t.ord = $k THEN t.wx * t.wy END) AS q$k")
                   .mkString(", ")}
          FROM taps t LEFT JOIN src s
            ON t.i + t.ci = s.si AND t.j + t.cj = s.sj
          GROUP BY 1, 2, 3, 4)
        SELECT ti, tj, lat, lon, n_valid = 36 AS valid,
               CASE WHEN n_valid = 36
                    THEN (${(1 until 36).foldLeft("p0")((a, k) => s"($a + p$k)")})
                       / (${(1 until 36).foldLeft("q0")((a, k) => s"($a + q$k)")})
               END AS value
        FROM agg ORDER BY ti, tj"""
      })),

    // ----- geo_zonal_stats: raster reduction over polygon zones ---------
    // Zonal statistics — the raster consumer's other half next to the
    // warp (odin_gdal's dataset reductions feeding per-perimeter /
    // per-admin-area summaries): aggregate every raster cell falling in
    // each zone. Zones are bounded (admin areas, fire perimeters), so
    // the scale-right join EXPLODES each zone into its covered integer
    // cell ids and hash-joins on (gi, gj) — no range predicate, no
    // zone x full-raster pairs; the raster side streams, the zone-cell
    // side is broadcast. Stats stay exact: integer elevation sums,
    // count-ratio threshold share, one final division.
    "geo_zonal_stats" -> Q(
      build = (s, d) => {
        val grid = Raster.grid(s).select(col("gi"), col("gj"), Raster.dem.as("elev_i"))
        val zoneCells = Tables.t(s, d, "nation")
          .select(col("n_nationkey"),
            expr("CAST(n_nationkey*23 % 100 - 50 AS BIGINT)").as("lat0"),
            expr("CAST(n_nationkey*61 % 300 - 150 AS BIGINT)").as("lon0"))
          .withColumn("gi", explode(expr("sequence(lat0, lat0 + 9)")))
          .withColumn("gj", explode(expr("sequence(lon0, lon0 + 9)")))
          .select(col("n_nationkey"), col("gi"), col("gj"))
        grid.join(broadcast(zoneCells), Seq("gi", "gj"))
          .groupBy(col("n_nationkey"))
          .agg(count(lit(1)).as("n_cells"),
            min(col("elev_i")).as("min_elev"),
            max(col("elev_i")).as("max_elev"),
            sum(col("elev_i")).as("sum_elev"),
            sum(when(col("elev_i") >= 400, 1L).otherwise(0L)).as("n_high"))
          .select(col("n_nationkey"), col("n_cells"), col("min_elev"),
            col("max_elev"),
            (col("sum_elev").cast(DoubleType) / col("n_cells"))
              .as("mean_elev"),
            col("n_high"))
          .orderBy(col("n_nationkey"))
      },
      oracle = Some(s"""
        WITH grid AS (${Raster.gridSql(s"${Raster.DemSql} AS elev_i")}),
        zones AS (
          SELECT n_nationkey,
                 CAST(n_nationkey*23 % 100 - 50 AS BIGINT) AS lat0,
                 CAST(n_nationkey*61 % 300 - 150 AS BIGINT) AS lon0
          FROM nation),
        zcells AS (
          SELECT z.n_nationkey, z.lat0 + di.a AS gi, z.lon0 + dj.b AS gj
          FROM zones z, generate_series(0, 9) AS di(a),
               generate_series(0, 9) AS dj(b))
        SELECT z.n_nationkey, COUNT(*) AS n_cells,
               MIN(g.elev_i) AS min_elev, MAX(g.elev_i) AS max_elev,
               CAST(SUM(g.elev_i) AS DOUBLE) / COUNT(*) AS mean_elev,
               CAST(SUM(CASE WHEN g.elev_i >= 400 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_high
        FROM zcells z JOIN grid g ON g.gi = z.gi AND g.gj = z.gj
        GROUP BY 1 ORDER BY 1""")),

    // ----- geo_cross_track: XTD/ATD against the entity's leg -------------
    // The navigation pair every track conformance monitor computes
    // (aviation XTE, maritime route adherence): for each interior fix,
    // the signed CROSS-track distance from the great circle through the
    // entity's first and last positions, and the ALONG-track distance of
    // its abeam point — how far off the filed leg, and how far down it.
    // Standard spherical forms (Ed Williams' Aviation Formulary):
    // xtd = asin(sin(d13)·sin(θ13−θ12)), atd = acos(cos(d13)/cos(xtd)).
    // Distance and both bearings are 3-decimal-quantized BEFORE the trig
    // re-entry (the geo_hotspot_footprint discipline) so the chain is
    // engine-identical. Shape: endpoints via one combinable struct
    // min/max groupBy, broadcast back, everything else narrow.
    "geo_cross_track" -> Q(
      build = (s, d) => {
        val pts = evPts(s, d)
          .select(col("user_id"), col("event_id"), col("ts_sec"),
            col("lat"), col("lon"))
        val ends = pts.groupBy(col("user_id"))
          .agg(min(struct(col("ts_sec"), col("event_id"), col("lat"),
            col("lon"))).as("s"),
            max(struct(col("ts_sec"), col("event_id"), col("lat"),
              col("lon"))).as("e"))
          .select(col("user_id"),
            col("s.lat").as("slat"), col("s.lon").as("slon"),
            col("s.event_id").as("sid"),
            col("e.lat").as("elat"), col("e.lon").as("elon"),
            col("e.event_id").as("eid"))
          .filter(col("sid") =!= col("eid"))
        pts.join(broadcast(ends), Seq("user_id"))
          .filter(col("event_id") =!= col("sid")
            && col("event_id") =!= col("eid"))
          .withColumn("d13",
            round(havC(col("slat"), col("slon"), col("lat"), col("lon")), 3))
          .withColumn("t13",
            round(bearC(col("slat"), col("slon"), col("lat"), col("lon")), 3))
          .withColumn("t12",
            round(bearC(col("slat"), col("slon"), col("elat"), col("elon")), 3))
          .withColumn("xtd_km", expr(XtdK.xtd))
          .withColumn("atd_km", expr(XtdK.atd))
          .select(col("user_id"), col("event_id"), col("d13"),
            col("xtd_km"), col("atd_km"))
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some(s"""
        WITH pts AS (
          SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, $LAT AS lat, $LON AS lon
          FROM events),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts_sec, event_id) AS rf,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts_sec DESC, event_id DESC) AS rl
          FROM pts),
        ends AS (
          SELECT f.user_id, f.lat AS slat, f.lon AS slon, f.event_id AS sid,
                 l.lat AS elat, l.lon AS elon, l.event_id AS eid
          FROM (SELECT * FROM ranked WHERE rf = 1) f
          JOIN (SELECT * FROM ranked WHERE rl = 1) l
            ON l.user_id = f.user_id
          WHERE f.event_id <> l.event_id),
        q AS (
          SELECT p.user_id, p.event_id,
                 round(${havS("e.slat", "e.slon", "p.lat", "p.lon")}, 3)
                   AS d13,
                 round(${bearS("e.slat", "e.slon", "p.lat", "p.lon")}, 3)
                   AS t13,
                 round(${bearS("e.slat", "e.slon", "e.elat", "e.elon")}, 3)
                   AS t12
          FROM pts p JOIN ends e ON e.user_id = p.user_id
          WHERE p.event_id <> e.sid AND p.event_id <> e.eid)
        SELECT user_id, event_id, d13,
               ${XtdK.xtd} AS xtd_km,
               ${XtdK.atd} AS atd_km
        FROM q ORDER BY user_id, event_id""")),

    // ----- geo_terrain_indices: TRI / TPI landform classification --------
    // The terrain indices a DEM consumer derives right after slope/aspect
    // (geo_grid_stencil): TRI (Riley) = mean absolute elevation
    // difference to the 8 neighbors — the ruggedness a routing/fire
    // model weights — and TPI = cell minus neighborhood mean, whose sign
    // classifies ridge / valley / flat. Both ride on ONE 8-offset
    // stencil equi-join over the integer cell keys; TRI's sum and TPI
    // scaled by 8 (8*elev - sum_neighbors) stay exact BIGINTs, so the
    // landform CASE is engine-identical and the only double is TRI's
    // final /8 (exact: 2^-3). Interior cells only (HAVING 8 neighbors),
    // the same border discipline as the stencil ops.
    "geo_terrain_indices" -> Q(
      build = (s, d) => {
        val grid = Raster.grid(s).select(col("gi"), col("gj"), Raster.dem.as("elev"))
        val offs = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
          (1, -1), (1, 0), (1, 1))
        val probes = grid
          .withColumn("o", explode(array(offs.map { case (a, b) =>
            struct(lit(a).as("da"), lit(b).as("db")) }: _*)))
          .select(col("gi"), col("gj"), col("elev"),
            (col("gi") + col("o.da")).as("ni"),
            (col("gj") + col("o.db")).as("nj"))
        val neigh = grid.select(col("gi").as("ni"), col("gj").as("nj"),
          col("elev").as("nelev"))
        probes.join(neigh, Seq("ni", "nj"))
          .groupBy(col("gi"), col("gj"), col("elev"))
          .agg(count(lit(1)).as("nn"),
            sum(abs(col("elev") - col("nelev"))).as("sum_abs_diff"),
            sum(col("nelev")).as("sum_neigh"))
          .filter(col("nn") === 8)
          .withColumn("tri", col("sum_abs_diff").cast(DoubleType) / 8.0)
          .withColumn("tpi8", col("elev") * 8 - col("sum_neigh"))
          .withColumn("landform", expr(
            """CASE WHEN tpi8 > 400 THEN 'ridge'
                    WHEN tpi8 < -400 THEN 'valley'
                    ELSE 'flat' END"""))
          .select(col("gi"), col("gj"), col("elev"), col("sum_abs_diff"),
            col("tri"), col("tpi8"), col("landform"))
          .orderBy(col("gi"), col("gj"))
      },
      oracle = Some(s"""
        WITH grid AS (${Raster.gridSql(s"${Raster.DemSql} AS elev")}),
        offs(da, db) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1),
                                (1,-1), (1,0), (1,1)),
        probes AS (
          SELECT g.gi, g.gj, g.elev,
                 g.gi + o.da AS ni, g.gj + o.db AS nj
          FROM grid g CROSS JOIN offs o),
        agg AS (
          SELECT p.gi, p.gj, p.elev, COUNT(*) AS nn,
                 CAST(SUM(abs(p.elev - n.elev)) AS BIGINT) AS sum_abs_diff,
                 CAST(SUM(n.elev) AS BIGINT) AS sum_neigh
          FROM probes p JOIN grid n ON n.gi = p.ni AND n.gj = p.nj
          GROUP BY 1, 2, 3 HAVING COUNT(*) = 8)
        SELECT gi, gj, CAST(elev AS BIGINT) AS elev, sum_abs_diff,
               CAST(sum_abs_diff AS DOUBLE) / 8.0 AS tri,
               elev * 8 - sum_neigh AS tpi8,
               CASE WHEN elev * 8 - sum_neigh > 400 THEN 'ridge'
                    WHEN elev * 8 - sum_neigh < -400 THEN 'valley'
                    ELSE 'flat' END AS landform
        FROM agg ORDER BY gi, gj""")),

    // ----- geo_wind_vector: u/v forecast grid -> speed/dir at probes -----
    // odin_wind's vector product (lib.rs:224 huvw_vector_suffix; actor.rs
    // wind_service serves per-point speed+direction derived from the
    // WindNinja/HRRR u,v component grids). Here the post-GRIB2-decode u/v
    // grid (the shape sources.Grib2Provider emits) is sampled at each
    // event position via the same 4-corner bilinear equi-join as
    // geo_dem_bilinear — one pass interpolates BOTH components — then
    // speed = sqrt(u²+v²) (IEEE-exact on exact inputs) and meteorological
    // direction = atan2 rounded to 3 decimals (below the libm
    // disagreement threshold). Scale shape: O(4n) equi-join against a
    // broadcastable grid, no shuffle beyond the probe aggregation.
    "geo_wind_vector" -> Q(
      build = (s, d) => {
        val grid = Raster.grid(s).select(col("gi"), col("gj"), Raster.windU.as("gu"),
          Raster.windV.as("gv"))
        val probes = evPts(s, d).select(col("event_id"), col("lat"), col("lon"))
        val interp = Raster.pivot(Raster.sample(probes, col("lat"), col("lon"),
            Raster.Bilinear, grid), Seq(col("event_id"), col("lat"), col("lon")), 4)(t => Seq(
            Raster.tapSum(t, col("w") * col("gu")).as(s"u$t"),
            Raster.tapSum(t, col("w") * col("gv")).as(s"v$t")))
          .select(col("event_id"), Raster.chain("u", 4).as("ui"), Raster.chain("v", 4).as("vi"))
        interp.select(col("event_id"),
            round(sqrt(col("ui") * col("ui") + col("vi") * col("vi")), 3)
              .as("speed_ms"),
            round((degrees(atan2(-col("ui"), -col("vi"))) + 360.0) % 360.0, 3)
              .as("dir_deg"))
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH grid AS (${Raster.gridSql(Raster.WindSql: _*)}),
        probes AS (
          SELECT event_id, lat, lon,
                 CAST(floor(lat) AS BIGINT) AS i, CAST(floor(lon) AS BIGINT) AS j,
                 lat - CAST(floor(lat) AS BIGINT) AS di,
                 lon - CAST(floor(lon) AS BIGINT) AS dj
          FROM (SELECT event_id, $LAT AS lat, $LON AS lon FROM events)),
        corners AS (
          SELECT p.*, ci.c AS ci, cj.c AS cj
          FROM probes p, generate_series(0, 1) AS ci(c), generate_series(0, 1) AS cj(c)),
        weighted AS (
          SELECT c.event_id, c.lat, c.lon, c.ci*2 + c.cj AS ord,
                 (CASE WHEN c.ci = 0 THEN 1.0 - c.di ELSE c.di END)
                 * (CASE WHEN c.cj = 0 THEN 1.0 - c.dj ELSE c.dj END) AS w,
                 g.gu, g.gv
          FROM corners c JOIN grid g ON c.i + c.ci = g.gi AND c.j + c.cj = g.gj),
        interp AS (
          SELECT event_id,
                 SUM(CASE WHEN ord = 0 THEN w*gu ELSE 0.0 END)
                 + SUM(CASE WHEN ord = 1 THEN w*gu ELSE 0.0 END)
                 + SUM(CASE WHEN ord = 2 THEN w*gu ELSE 0.0 END)
                 + SUM(CASE WHEN ord = 3 THEN w*gu ELSE 0.0 END) AS ui,
                 SUM(CASE WHEN ord = 0 THEN w*gv ELSE 0.0 END)
                 + SUM(CASE WHEN ord = 1 THEN w*gv ELSE 0.0 END)
                 + SUM(CASE WHEN ord = 2 THEN w*gv ELSE 0.0 END)
                 + SUM(CASE WHEN ord = 3 THEN w*gv ELSE 0.0 END) AS vi
          FROM weighted GROUP BY event_id, lat, lon)
        SELECT event_id,
               round(sqrt(ui*ui + vi*vi), 3) AS speed_ms,
               round((degrees(atan2(-ui, -vi)) + 360.0) % 360.0, 3) AS dir_deg
        FROM interp ORDER BY event_id"""),
      bench = true),

    // ----- geo_wind_streamline: particle advection over the u/v grid -----
    // odin_wind's animated vector product (wind_service.rs streams the
    // huvw vector field that the client advects particles through): trace
    // each seed through K Euler steps of pos += (v,u)·dt with the wind
    // bilinearly interpolated at the current position. Every step is the
    // same broadcastable 4-corner equi-join as geo_wind_vector — pure
    // +,-,*,/ so the whole trajectory is bit-exact cross-engine, no
    // rounding. Steps rebase (O(1) plan depth); a particle
    // leaving the grid simply drops out of the inner join, identically in
    // both engines. Scale shape: O(4·seeds) per step against a broadcast
    // grid — no shuffle growth with step count.
    "geo_wind_streamline" -> Q(
      build = (s, d) => {
        val K = 6
        val grid = Raster.grid(s).select(col("gi"), col("gj"), Raster.windU.as("gu"),
          Raster.windV.as("gv"))
        def advect(pos: DataFrame): DataFrame =
          Raster.pivot(Raster.sample(pos, col("lat"), col("lon"), Raster.Bilinear, grid),
              Seq(col("event_id"), col("lat"), col("lon")), 4)(t => Seq(
              Raster.tapSum(t, col("w") * col("gu")).as(s"u$t"),
              Raster.tapSum(t, col("w") * col("gv")).as(s"v$t")))
            .select(col("event_id"), (col("lat") + Raster.chain("v", 4) * 0.05).as("lat"),
              (col("lon") + Raster.chain("u", 4) * 0.05).as("lon"))
        var pos = rebase(evPts(s, d)
          .filter(col("event_id") % 37 === 0)
          .select(col("event_id"), col("lat"), col("lon")))
        var out = pos.withColumn("step", lit(0))
        for (k <- 1 to K) {
          pos = rebase(advect(pos))
          out = out.union(pos.withColumn("step", lit(k)))
        }
        out.select(col("event_id"), col("step"), col("lat"), col("lon"))
          .orderBy(col("event_id"), col("step"))
      },
      oracle = Some({
        val K = 6
        val steps = (0 until K).map { k =>
          s"""
          prb$k AS MATERIALIZED (
            SELECT event_id, lat, lon,
                   CAST(floor(lat) AS BIGINT) AS i, CAST(floor(lon) AS BIGINT) AS j,
                   lat - CAST(floor(lat) AS BIGINT) AS di,
                   lon - CAST(floor(lon) AS BIGINT) AS dj
            FROM pos$k),
          wei$k AS MATERIALIZED (
            SELECT c.event_id, c.lat, c.lon, c.ci*2 + c.cj AS ord,
                   (CASE WHEN c.ci = 0 THEN 1.0 - c.di ELSE c.di END)
                   * (CASE WHEN c.cj = 0 THEN 1.0 - c.dj ELSE c.dj END) AS w,
                   g.gu, g.gv
            FROM (SELECT p.*, ci.c AS ci, cj.c AS cj
                  FROM prb$k p, generate_series(0, 1) AS ci(c),
                       generate_series(0, 1) AS cj(c)) c
            JOIN grid g ON c.i + c.ci = g.gi AND c.j + c.cj = g.gj),
          pos${k + 1} AS MATERIALIZED (
            SELECT event_id,
                   lat + (SUM(CASE WHEN ord = 0 THEN w*gv ELSE 0.0 END)
                        + SUM(CASE WHEN ord = 1 THEN w*gv ELSE 0.0 END)
                        + SUM(CASE WHEN ord = 2 THEN w*gv ELSE 0.0 END)
                        + SUM(CASE WHEN ord = 3 THEN w*gv ELSE 0.0 END)) * 0.05 AS lat,
                   lon + (SUM(CASE WHEN ord = 0 THEN w*gu ELSE 0.0 END)
                        + SUM(CASE WHEN ord = 1 THEN w*gu ELSE 0.0 END)
                        + SUM(CASE WHEN ord = 2 THEN w*gu ELSE 0.0 END)
                        + SUM(CASE WHEN ord = 3 THEN w*gu ELSE 0.0 END)) * 0.05 AS lon
            FROM wei$k GROUP BY event_id, lat, lon)"""
        }.mkString(",")
        val union = (0 to K)
          .map(k => s"SELECT event_id, $k AS step, lat, lon FROM pos$k")
          .mkString(" UNION ALL ")
        s"""
        WITH grid AS MATERIALIZED (${Raster.gridSql(Raster.WindSql: _*)}),
        pos0 AS MATERIALIZED (
          SELECT event_id, $LAT AS lat, $LON AS lon
          FROM events WHERE event_id % 37 = 0),$steps
        SELECT event_id, step, lat, lon FROM ($union)
        ORDER BY event_id, step"""
      })),

    // ----- geo_ecef: geodetic -> ECEF cartesian --------------------------
    // WGS84 ellipsoid conversion (odin_common/src/cartesian3.rs:595
    // `From<&Cartographic> for Cartesian3`, constants geo_constants.rs:24),
    // the transform every Cesium-facing track needs. Trig -> rounded to
    // 3 decimals (mm). Narrow map over the scan, no shuffle except the
    // deterministic output order.
    "geo_ecef" -> Q(
      build = (s, d) => {
        val a2 = 6378137.0 * 6378137.0
        val b2 = 6356752.3142451793 * 6356752.3142451793
        val phi = radians(col("lat"))
        val lam = radians(col("lon"))
        val h = col("value") // reading as height-above-ellipsoid meters
        val n = lit(a2) / sqrt(lit(a2) * cos(phi) * cos(phi)
          + lit(b2) * sin(phi) * sin(phi))
        evPts(s, d)
          .withColumn("x", round((n + h) * cos(phi) * cos(lam), 3))
          .withColumn("y", round((n + h) * cos(phi) * sin(lam), 3))
          .withColumn("z", round((lit(b2) / lit(a2) * n + h) * sin(phi), 3))
          .select(col("event_id"), col("lat"), col("lon"), col("x"), col("y"),
            col("z"))
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        SELECT event_id, lat, lon,
               round((n + value)*cos(radians(lat))*cos(radians(lon)), 3) AS x,
               round((n + value)*cos(radians(lat))*sin(radians(lon)), 3) AS y,
               round((${6356752.3142451793 * 6356752.3142451793}/${6378137.0 * 6378137.0}*n + value)*sin(radians(lat)), 3) AS z
        FROM (
          SELECT event_id, lat, lon, value,
                 ${6378137.0 * 6378137.0} / sqrt(${6378137.0 * 6378137.0}*cos(radians(lat))*cos(radians(lat))
                   + ${6356752.3142451793 * 6356752.3142451793}*sin(radians(lat))*sin(radians(lat))) AS n
          FROM (SELECT event_id, value, $LAT AS lat, $LON AS lon FROM events))
        ORDER BY event_id""")),

    // ----- geo_proximity_pairs: grid-bucketed proximity join -------------
    // Conflict/encounter detection (the adsb "close aircraft" query): pairs
    // of events in the same 10-min frame within 25 km. The self-join is
    // keyed on (time bucket, 1-degree grid cell) with the probe side
    // replicated to its 3x3 neighborhood — O(n·9) shuffle rows instead of
    // O(n^2) pairs, the only shape that survives 100 TB of track data. At
    // this data's |lat| <= 70, 25 km never spans more than one 1-degree
    // cell boundary, so the candidate set is exact (antimeridian pairs
    // excepted, as in any grid index).
    "geo_proximity_pairs" -> Q(
      build = (s, d) => {
        val pts = evPts(s, d)
          .select(col("event_id"), expr("ts_sec div 600").as("tb"),
            col("lat"), col("lon"),
            floor(col("lat")).cast(LongType).as("cl"),
            floor(col("lon")).cast(LongType).as("cn"))
        val probe = pts
          .withColumn("dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(col("event_id"), col("tb"), col("lat"), col("lon"),
            (col("cl") + col("dlat")).as("cl"), (col("cn") + col("dlon")).as("cn"))
        pts.as("a").join(probe.as("b"),
            col("a.tb") === col("b.tb")
              && col("a.cl") === col("b.cl") && col("a.cn") === col("b.cn")
              && col("a.event_id") < col("b.event_id"))
          .withColumn("dist_km",
            round(havC(col("a.lat"), col("a.lon"), col("b.lat"), col("b.lon")), 3))
          .filter(col("dist_km") <= 25.0)
          .select(col("a.event_id").as("event_a"), col("b.event_id").as("event_b"),
            col("a.tb").as("tb"), col("dist_km"))
          .orderBy(col("event_a"), col("event_b"))
      },
      oracle = Some(s"""
        WITH pts AS (
          SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) // 600 AS tb,
                 $LAT AS lat, $LON AS lon,
                 CAST(floor($LAT) AS BIGINT) AS cl,
                 CAST(floor($LON) AS BIGINT) AS cn
          FROM events),
        probe AS (
          SELECT event_id, tb, lat, lon, cl + g1.d AS cl, cn + g2.d AS cn
          FROM pts, generate_series(-1, 1) AS g1(d), generate_series(-1, 1) AS g2(d))
        SELECT a.event_id AS event_a, b.event_id AS event_b, a.tb AS tb,
               round(${havS("a.lat", "a.lon", "b.lat", "b.lon")}, 3) AS dist_km
        FROM pts a JOIN probe b
          ON a.tb = b.tb AND a.cl = b.cl AND a.cn = b.cn
         AND a.event_id < b.event_id
        WHERE round(${havS("a.lat", "a.lon", "b.lat", "b.lon")}, 3) <= 25.0
        ORDER BY event_a, event_b""")),

    // ----- geo_proximity_capped: the density-capped production form ------
    // geo_proximity_pairs is the SIXTH output-bound pair listing (r11
    // ×1000: 402 s, >100× for 10× data — per-(10-min, 1°-cell) event
    // density grows with the corpus, so the pair OUTPUT is quadratic; no
    // plan beats its own output size). Production guard = the geo_cpa
    // precedent: cells whose event count exceeds K=64 are excluded from
    // the pair join wholesale and reported by geo_proximity_overflow.
    // One count-window on the cell key (no extra groupBy+join); the
    // shared dens logic is formula-identical in the oracle, so gate
    // outputs hash-match by construction whether or not any cell trips.
    "geo_proximity_capped" -> Q(
      build = (s, d) => {
        val pts = evPts(s, d)
          .select(col("event_id"), expr("ts_sec div 600").as("tb"),
            col("lat"), col("lon"),
            floor(col("lat")).cast(LongType).as("cl"),
            floor(col("lon")).cast(LongType).as("cn"))
          .withColumn("cell_n", count(lit(1)).over(
            Window.partitionBy(col("tb"), col("cl"), col("cn"))))
          .filter(col("cell_n") <= CpaCellCap)
          .drop("cell_n")
        val probe = pts
          .withColumn("dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(col("event_id"), col("tb"), col("lat"), col("lon"),
            (col("cl") + col("dlat")).as("cl"), (col("cn") + col("dlon")).as("cn"))
        pts.as("a").join(probe.as("b"),
            col("a.tb") === col("b.tb")
              && col("a.cl") === col("b.cl") && col("a.cn") === col("b.cn")
              && col("a.event_id") < col("b.event_id"))
          .withColumn("dist_km",
            round(havC(col("a.lat"), col("a.lon"), col("b.lat"), col("b.lon")), 3))
          .filter(col("dist_km") <= 25.0)
          .select(col("a.event_id").as("event_a"), col("b.event_id").as("event_b"),
            col("a.tb").as("tb"), col("dist_km"))
          .orderBy(col("event_a"), col("event_b"))
      },
      oracle = Some(s"""
        WITH pts0 AS (
          SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) // 600 AS tb,
                 $LAT AS lat, $LON AS lon,
                 CAST(floor($LAT) AS BIGINT) AS cl,
                 CAST(floor($LON) AS BIGINT) AS cn
          FROM events),
        dens AS (
          SELECT tb, cl, cn, COUNT(*) AS n FROM pts0 GROUP BY 1, 2, 3),
        pts AS (
          SELECT p.* FROM pts0 p
          JOIN dens dd ON dd.tb = p.tb AND dd.cl = p.cl AND dd.cn = p.cn
          WHERE dd.n <= $CpaCellCap),
        probe AS (
          SELECT event_id, tb, lat, lon, cl + g1.d AS cl, cn + g2.d AS cn
          FROM pts, generate_series(-1, 1) AS g1(d), generate_series(-1, 1) AS g2(d))
        SELECT a.event_id AS event_a, b.event_id AS event_b, a.tb AS tb,
               round(${havS("a.lat", "a.lon", "b.lat", "b.lon")}, 3) AS dist_km
        FROM pts a JOIN probe b
          ON a.tb = b.tb AND a.cl = b.cl AND a.cn = b.cn
         AND a.event_id < b.event_id
        WHERE round(${havS("a.lat", "a.lon", "b.lat", "b.lon")}, 3) <= 25.0
        ORDER BY event_a, event_b""")),

    // ----- geo_proximity_overflow: the cap's audit twin -------------------
    // Every pair-capable (10-min bucket, cell) with its event count and
    // whether the cap excluded it — what geo_proximity_capped declined to
    // pair, for operator triage (geo_cpa_overflow pattern). One linear
    // groupBy; no pair join.
    "geo_proximity_overflow" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .select(expr("ts_sec div 600").as("tb"),
            floor(col("lat")).cast(LongType).as("cl"),
            floor(col("lon")).cast(LongType).as("cn"))
          .groupBy(col("tb"), col("cl"), col("cn"))
          .agg(count(lit(1)).as("n_events"))
          .filter(col("n_events") >= 2)
          .select(col("tb"), col("cl"), col("cn"), col("n_events"),
            (col("n_events") > CpaCellCap).as("capped"))
          .orderBy(col("tb"), col("cl"), col("cn")),
      oracle = Some(s"""
        WITH pts0 AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) // 600 AS tb,
                 CAST(floor($LAT) AS BIGINT) AS cl,
                 CAST(floor($LON) AS BIGINT) AS cn
          FROM events)
        SELECT tb, cl, cn, CAST(COUNT(*) AS BIGINT) AS n_events,
               COUNT(*) > $CpaCellCap AS capped
        FROM pts0 GROUP BY 1, 2, 3
        HAVING COUNT(*) >= 2
        ORDER BY tb, cl, cn""")),

    // ----- geo_track_envelope: per-track bounding rect (GeoRect) ---------
    // GeoRect::from_min_max over each entity's track (geo.rs:216) plus the
    // diagonal extent — the viewport query every track display needs.
    "geo_track_envelope" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_points"),
            min(col("lat")).as("south"), max(col("lat")).as("north"),
            min(col("lon")).as("west"), max(col("lon")).as("east"))
          .withColumn("diag_km",
            round(havC(col("south"), col("west"), col("north"), col("east")), 3))
          // spherical rect area (GeoRect::area, geo.rs:232):
          // R^2 (sin N - sin S) dLon
          .withColumn("rect_area_km2",
            round(lit(6371.0 * 6371.0)
              * (sin(radians(col("north"))) - sin(radians(col("south"))))
              * radians(col("east") - col("west")), 3))
          .orderBy(col("user_id")),
      oracle = Some(s"""
        SELECT user_id, n_points, south, north, west, east,
               round(${havS("south", "west", "north", "east")}, 3) AS diag_km,
               round(${6371.0 * 6371.0}
                     * (sin(radians(north)) - sin(radians(south)))
                     * radians(east - west), 3) AS rect_area_km2
        FROM (
          SELECT user_id, COUNT(*) AS n_points,
                 MIN(lat) AS south, MAX(lat) AS north,
                 MIN(lon) AS west, MAX(lon) AS east
          FROM (SELECT user_id, $LAT AS lat, $LON AS lon FROM events)
          GROUP BY 1)
        ORDER BY user_id""")),

    // ----- geo_cell_transitions: grid-cell flow matrix -------------------
    // Mobility rollup over the gridded world (where do tracks move next?):
    // consecutive fixes per track mapped to 5-degree cells, transitions
    // counted. The flow matrix behind movement prediction / corridor maps.
    // One lag window keyed on the entity + one partial agg.
    "geo_cell_transitions" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .withColumn("cl", floor(col("lat") / 5.0).cast(LongType))
          .withColumn("cn", floor(col("lon") / 5.0).cast(LongType))
          .withColumn("pcl", lag(col("cl"), 1).over(wTrack))
          .withColumn("pcn", lag(col("cn"), 1).over(wTrack))
          .filter(col("pcl").isNotNull
            && (col("pcl") =!= col("cl") || col("pcn") =!= col("cn")))
          .groupBy(col("pcl"), col("pcn"), col("cl"), col("cn"))
          .agg(count(lit(1)).as("n_transitions"))
          .orderBy(col("pcl"), col("pcn"), col("cl"), col("cn")),
      oracle = Some(s"""
        SELECT pcl, pcn, cl, cn, COUNT(*) AS n_transitions
        FROM (
          SELECT cl, cn,
                 LAG(cl, 1) OVER w AS pcl, LAG(cn, 1) OVER w AS pcn
          FROM (SELECT user_id, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                       CAST(floor($LAT/5.0) AS BIGINT) AS cl,
                       CAST(floor($LON/5.0) AS BIGINT) AS cn
                FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        WHERE pcl IS NOT NULL AND (pcl <> cl OR pcn <> cn)
        GROUP BY 1, 2, 3, 4
        ORDER BY pcl, pcn, cl, cn""")),

    // ----- geo_speed: track speed + GPS-glitch flag ----------------------
    // Track QC every ingest needs (gpshub/adsb position updates): segment
    // speed from consecutive fixes; speeds beyond a physical bound flag
    // the fix as a glitch (teleporting sensor = bad decode / id collision).
    // Same single window shuffle as geo_haversine.
    "geo_speed" -> Q(
      build = (s, d) =>
        evPts(s, d)
          .withColumn("plat", lag(col("lat"), 1).over(wTrack))
          .withColumn("plon", lag(col("lon"), 1).over(wTrack))
          .withColumn("pts", lag(col("ts_sec"), 1).over(wTrack))
          .filter(col("plat").isNotNull && col("ts_sec") > col("pts"))
          .withColumn("speed_kmh",
            round(havC(col("plat"), col("plon"), col("lat"), col("lon"))
              / (col("ts_sec") - col("pts")) * 3600.0, 3))
          .select(col("user_id"), col("event_id"), col("speed_kmh"),
            (col("speed_kmh") > 1000.0).as("glitch"))
          .orderBy(col("user_id"), col("event_id")),
      oracle = Some(s"""
        SELECT user_id, event_id,
               round(${havS("plat", "plon", "lat", "lon")}
                     / (ts_sec - pts) * 3600.0, 3) AS speed_kmh,
               round(${havS("plat", "plon", "lat", "lon")}
                     / (ts_sec - pts) * 3600.0, 3) > 1000.0 AS glitch
        FROM (
          SELECT user_id, event_id, ts_sec, lat, lon,
                 LAG(lat, 1) OVER w AS plat, LAG(lon, 1) OVER w AS plon,
                 LAG(ts_sec, 1) OVER w AS pts
          FROM (SELECT user_id, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                       $LAT AS lat, $LON AS lon FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        WHERE plat IS NOT NULL AND ts_sec > pts
        ORDER BY user_id, event_id""")),

    // ----- geo_closing_rate: range-rate tracking (adsb.rs) ---------------
    // The closing-rate state ODIN keeps per aircraft update
    // (odin_adsb/src/adsb.rs:126,144 AirborneVelocity -> groundspeed /
    // vertical_rate merge): rate of change of the distance to a
    // reference point (station 1 at (-17,-83), derived like geo_nearest's
    // stations) between consecutive fixes. Negative = approaching. One
    // window shuffle keyed on the entity. Determinism: the lag-difference
    // of two haversines amplifies the ~ulp cross-engine trig disagreement
    // by 3600/dt, so quantize the distance to fixed-point BIGINT (1/1024
    // km ~ 1 m) BEFORE the lag — the subtraction is then integer-exact
    // and the trailing /1024.0 /dt *3600.0 chain is bit-identical. Every
    // emitted double derives from dist_q (never the raw trig double), and
    // rounds are followed by `+ 0.0`: DuckDB's round() preserves the sign
    // of tiny negatives (round(-1e-4, 3) = -0.0) while Spark's
    // BigDecimal-based round never emits -0.0 — equal under ==, different
    // bits under a hash compare. (+(-0.0) + 0.0 = +0.0 in IEEE on both.)
    "geo_closing_rate" -> Q(
      build = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_sec"), col("event_id"))
        evPts(s, d)
          .withColumn("dist_raw", havC(col("lat"), col("lon"), lit(-17.0), lit(-83.0)))
          .withColumn("dist_q", floor(col("dist_raw") * 1024.0).cast("long"))
          .withColumn("prev_q", lag(col("dist_q"), 1).over(w))
          .withColumn("prev_ts", lag(col("ts_sec"), 1).over(w))
          .filter(col("prev_ts").isNotNull && col("ts_sec") > col("prev_ts"))
          .withColumn("closing_kmh",
            round((col("dist_q") - col("prev_q")) / 1024.0
              / (col("ts_sec") - col("prev_ts")) * 3600.0, 3) + 0.0)
          .select(col("user_id"), col("event_id"), col("ts_sec"),
            (round(col("dist_q") / 1024.0, 3) + 0.0).as("dist_km"), col("closing_kmh"),
            (col("closing_kmh") < 0.0).as("approaching"))
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some(s"""
        SELECT user_id, event_id, ts_sec,
               round(dist_q / 1024.0, 3) + 0.0 AS dist_km,
               round((dist_q - prev_q) / 1024.0 / (ts_sec - prev_ts) * 3600.0, 3) + 0.0 AS closing_kmh,
               round((dist_q - prev_q) / 1024.0 / (ts_sec - prev_ts) * 3600.0, 3) + 0.0 < 0.0 AS approaching
        FROM (
          SELECT user_id, event_id, ts_sec, dist_q,
                 LAG(dist_q, 1) OVER w AS prev_q,
                 LAG(ts_sec, 1) OVER w AS prev_ts
          FROM (
            SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                   CAST(FLOOR(dist_raw * 1024.0) AS BIGINT) AS dist_q
            FROM (
              SELECT user_id, event_id, ts,
                     ${havS(LAT, LON, "-17.0", "-83.0")} AS dist_raw
              FROM events))
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        WHERE prev_ts IS NOT NULL AND ts_sec > prev_ts
        ORDER BY user_id, event_id""")),

    // ----- geo_geodesic: ellipsoidal vs spherical segment length ---------
    // The reference computes true WGS84 geodesic distances alongside the
    // haversine (odin_common/src/geo.rs:173 GeoLine::geodesic_distance);
    // long / high-latitude tracks see up to ~0.5% haversine error, which
    // matters for fuel/ETA-grade track math. Per segment: haversine km,
    // Vincenty geodesic km (graft.functions.GeodesicKm — the whole fixed-
    // iteration solve is one codegen'd call), and the excess in metres.
    // Segments beyond 15000 km (near-antipodal Vincenty singular band)
    // are filtered on the already-rounded haversine, identically on both
    // engines. Same single per-entity window shuffle as geo_haversine.
    "geo_geodesic" -> Q(
      build = (s, d) => {
        val seg = evPts(s, d)
          .withColumn("plat", lag(col("lat"), 1).over(wTrack))
          .withColumn("plon", lag(col("lon"), 1).over(wTrack))
          .filter(col("plat").isNotNull)
          .withColumn("hav_km",
            round(havC(col("plat"), col("plon"), col("lat"), col("lon")), 3))
          .filter(col("hav_km") < 15000.0)
        seg
          .withColumn("geodesic_km", round(graft.functions.GeoFunctions
            .geodesic_km(col("plat"), col("plon"), col("lat"), col("lon")), 3))
          .select(col("user_id"), col("event_id"), col("hav_km"), col("geodesic_km"),
            round((col("geodesic_km") - col("hav_km")) * 1000.0, 1).as("excess_m"))
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some(s"""
        WITH vseg AS (
          SELECT user_id, event_id, lat, lon, plat, plon,
                 round(${havS("plat", "plon", "lat", "lon")}, 3) AS hav_km
          FROM (
            SELECT user_id, event_id, ts_sec, lat, lon,
                   LAG(lat, 1) OVER w AS plat, LAG(lon, 1) OVER w AS plon
            FROM (SELECT user_id, event_id,
                         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                         $LAT AS lat, $LON AS lon FROM events)
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
          WHERE plat IS NOT NULL),
        vbase AS (
          SELECT user_id, event_id, hav_km,
                 radians(lon) - radians(plon) AS ll,
                 sin(atan((1.0e0 - (1.0e0/298.257223563e0))*tan(radians(plat)))) AS su1,
                 cos(atan((1.0e0 - (1.0e0/298.257223563e0))*tan(radians(plat)))) AS cu1,
                 sin(atan((1.0e0 - (1.0e0/298.257223563e0))*tan(radians(lat)))) AS su2,
                 cos(atan((1.0e0 - (1.0e0/298.257223563e0))*tan(radians(lat)))) AS cu2
          FROM vseg WHERE hav_km < 15000.0),
        $vincentyCtes
        fin1 AS (SELECT *, cos2a*(6378137.0e0*6378137.0e0 - 6356752.314245e0*6356752.314245e0)
                             /(6356752.314245e0*6356752.314245e0) AS usq FROM it8),
        fin2 AS (SELECT *,
                   1.0 + usq/16384.0*(4096.0 + usq*(-768.0 + usq*(320.0 - 175.0*usq))) AS biga,
                   usq/1024.0*(256.0 + usq*(-128.0 + usq*(74.0 - 47.0*usq))) AS bigb FROM fin1),
        fin3 AS (SELECT *,
                   bigb*sinsig*(cos2sm + bigb/4.0*(cossig*(-1.0 + 2.0*cos2sm*cos2sm)
                     - bigb/6.0*cos2sm*(-3.0 + 4.0*sinsig*sinsig)*(-3.0 + 4.0*cos2sm*cos2sm))) AS dsig
                 FROM fin2)
        SELECT user_id, event_id, hav_km,
               round(6356752.314245e0*biga*(sig - dsig)/1000.0, 3) AS geodesic_km,
               round((round(6356752.314245e0*biga*(sig - dsig)/1000.0, 3) - hav_km)*1000.0, 1) AS excess_m
        FROM fin3
        ORDER BY user_id, event_id""")),

    // ----- geo_perimeter_growth: fire-perimeter growth rate --------------
    // odin_bushfire/src/lib.rs: each Bushfire update carries (date, area,
    // perimeter) and the store keeps a per-fire history ring
    // (max_history); the product consumers care about is how fast each
    // fire grows between consecutive perimeter snapshots. Re-expressed:
    // each event is a perimeter snapshot of incident `user_id` — a
    // hexagonal ring of radius r(value) around the incident's fixed
    // center — whose spherical area uses the same Chamberlain–Duquette
    // fixed-point scheme as geo_polygon_area (edge terms floored at 2^-40
    // before the sum). The per-snapshot area stays an INTEGER (qarea)
    // through the lag, so the consecutive-snapshot delta and the per-hour
    // growth rate derive from integer differences only — the
    // geo_closing_rate lesson applied from the start. Scale shape: one
    // map-side-combinable edge aggregation keyed on the snapshot, one
    // bounded lag window per incident.
    "geo_perimeter_growth" -> Q(
      build = (s, d) => {
        val ax = Seq(0.0, 0.866, 0.866, 0.0, -0.866, -0.866)
        val ay = Seq(1.0, 0.5, -0.5, -1.0, -0.5, 0.5)
        val q = 1099511627776.0 // 2^40
        val r2half = 6371.0088 * 6371.0088 / 2.0
        val snaps = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_sec"),
            (col("user_id") * 37 % 140 - 70).cast(DoubleType).as("clat"),
            (col("user_id") * 91 % 360 - 180).cast(DoubleType).as("clon"),
            (lit(0.05) + col("value") / lit(5000.0)).as("r"))
        val terms = (0 until 6).map { k =>
          val k2 = (k + 1) % 6
          floor((radians(col("clon") + col("r") * ax(k2))
            - radians(col("clon") + col("r") * ax(k)))
            * (lit(2.0) + sin(radians(col("clat") + col("r") * ay(k)))
              + sin(radians(col("clat") + col("r") * ay(k2)))) * q).cast(LongType)
        }
        val areas = snaps.select(col("user_id"), col("event_id"), col("ts_sec"),
          abs(terms.reduce(_ + _)).as("qarea"))
        val byFire = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_sec"), col("event_id"))
        areas
          .withColumn("prev_qarea", lag(col("qarea"), 1).over(byFire))
          .withColumn("prev_ts", lag(col("ts_sec"), 1).over(byFire))
          .filter(col("prev_qarea").isNotNull && col("ts_sec") > col("prev_ts"))
          .select(col("user_id"), col("event_id"), col("ts_sec"),
            round(col("qarea") / q * r2half, 3).as("area_km2"),
            // `+ 0.0` folds DuckDB's -0.0 (its round() keeps the sign of
            // tiny negatives; Spark's BigDecimal round never emits -0.0)
            // into +0.0 on both engines — the geo_closing_rate lesson
            (round((col("qarea") - col("prev_qarea")) / q * r2half, 3) + 0.0)
              .as("darea_km2"),
            (round((col("qarea") - col("prev_qarea")) / q * r2half
              * lit(3600.0) / (col("ts_sec") - col("prev_ts")).cast(DoubleType), 3)
              + 0.0).as("growth_km2_h"))
          .orderBy(col("user_id"), col("event_id"))
      },
      oracle = Some(s"""
        WITH snaps AS (
          SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 CAST(user_id*37 % 140 - 70 AS DOUBLE) AS clat,
                 CAST(user_id*91 % 360 - 180 AS DOUBLE) AS clon,
                 0.05 + value/5000.0 AS r
          FROM events),
        edges AS (SELECT * FROM (VALUES
          (0.0, 1.0, 0.866, 0.5), (0.866, 0.5, 0.866, -0.5),
          (0.866, -0.5, 0.0, -1.0), (0.0, -1.0, -0.866, -0.5),
          (-0.866, -0.5, -0.866, 0.5), (-0.866, 0.5, 0.0, 1.0))
          e(ax1, ay1, ax2, ay2)),
        areas AS (
          SELECT user_id, event_id, ts_sec,
                 abs(CAST(SUM(CAST(FLOOR((radians(clon + r*ax2) - radians(clon + r*ax1))
                   * (2.0 + sin(radians(clat + r*ay1)) + sin(radians(clat + r*ay2)))
                   * 1099511627776.0) AS BIGINT)) AS BIGINT)) AS qarea
          FROM snaps, edges
          GROUP BY user_id, event_id, ts_sec),
        lagd AS (
          SELECT user_id, event_id, ts_sec, qarea,
                 lag(qarea) OVER w AS prev_qarea,
                 lag(ts_sec) OVER w AS prev_ts
          FROM areas
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        SELECT user_id, event_id, ts_sec,
               round(qarea/1099511627776.0 * ${6371.0088 * 6371.0088 / 2.0}, 3)
                 AS area_km2,
               round((qarea - prev_qarea)/1099511627776.0
                 * ${6371.0088 * 6371.0088 / 2.0}, 3) + 0.0 AS darea_km2,
               round((qarea - prev_qarea)/1099511627776.0
                 * ${6371.0088 * 6371.0088 / 2.0}
                 * 3600.0 / CAST(ts_sec - prev_ts AS DOUBLE), 3) + 0.0
                 AS growth_km2_h
        FROM lagd
        WHERE prev_qarea IS NOT NULL AND ts_sec > prev_ts
        ORDER BY user_id, event_id""")),

    // ----- geo_geohash: base32 geohash cell encoding ---------------------
    // The interop cell index every geo stack speaks (complements the
    // integer lat/lon grid the hotspot ops use): 40-bit lon/lat bit
    // interleave → 8 base32 characters, plus a 5-char-prefix rollup.
    // The interleave is one generated shared-formula expression — pure
    // integer multiplies/divides, identical text both engines, so the
    // string is hash-exact with no quantization. Narrow map + one
    // combinable groupBy for the rollup.
    "geo_geohash" -> Q(
      build = (s, d) => {
        // cell counts via a partition-only window, NOT a self-join: the
        // encode chain is evaluated once and travels through the one
        // shuffle as a materialized column — a cells self-join fused
        // both sides' full chains into one codegen stage and ran 7 s at
        // sf0.1 (JIT gives up on the huge fused method)
        geohashPts(s, d)
          .withColumn("n_in_cell",
            count(lit(1)).over(Window.partitionBy(col("geohash5"))))
          .select(col("event_id"), col("lat"), col("lon"),
            col("geohash8"), col("geohash5"), col("n_in_cell"))
          .orderBy(col("event_id"))
      },
      oracle = Some {
        val chain = GhSpreadSteps.zipWithIndex.map { case ((m, mask), k) =>
          s"""s${k + 1} AS (
               SELECT event_id, lat, lon,
                      ${ghStep("sa", m, mask)} AS sa,
                      ${ghStep("sb", m, mask)} AS sb
               FROM s$k)"""
        }.mkString(",\n")
        s"""
        WITH pts AS (
          SELECT event_id, $LAT AS lat, $LON AS lon FROM events),
        s0 AS (
          SELECT event_id, lat, lon,
                 $GhLatBits AS sa,
                 $GhLonBits AS sb
          FROM pts),
        $chain,
        enc AS (
          SELECT event_id, lat, lon, sb * 2 + sa AS v FROM s5),
        g AS (
          SELECT event_id, lat, lon, $GhChars AS geohash8,
                 substring($GhChars, 1, 5) AS geohash5
          FROM enc)
        SELECT event_id, lat, lon, geohash8, geohash5,
               COUNT(*) OVER (PARTITION BY geohash5) AS n_in_cell
        FROM g ORDER BY event_id"""
      })
  ,

    // ----- geo_cpa: closest-point-of-approach prediction -----------------
    // The predictive half of encounter detection (odin_adsb's closing-rate
    // monitoring, gpshub track state): from each entity's latest fix and
    // finite-difference velocity, solve the linear-motion CPA for every
    // grid-bucketed candidate pair — t* = clamp(-(dp·dv)/|dv|², 0, 30 min),
    // d* = |dp + dv·t*|. Velocities come from one lag window per entity
    // (shuffle keyed on user_id); pairing reuses the 3×3-replicated
    // 1-degree grid bucket join of geo_proximity_pairs — O(n·9) candidate
    // rows, never all-pairs, the only shape that survives 100 TB of track
    // data. Determinism: the sole transcendental input (cos of the pair
    // midpoint latitude) is rounded to 6 decimals immediately; everything
    // downstream is IEEE +,-,*,/,sqrt on identical doubles, so both
    // engines agree bit-for-bit and the final round(.,3) is display-only.
    "geo_cpa" -> Q(
      build = (s, d) => {
        // the density cap (CpaCellCap) drops overdense cells from the
        // pair join entirely; geo_cpa_overflow is the audit of what was
        // dropped. At gate SFs no cell comes near the cap (max observed
        // 9 at sf0.1 vs 64), so the output is byte-identical to the
        // uncapped query there — spec'd in CpaCapSpec.
        val latest = cpaLatestCapped(s, d)
        val probe = latest
          .withColumn("dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(col("user_id"), col("tb"), col("lat"), col("lon"),
            col("vlat"), col("vlon"),
            (col("cl") + col("dlat")).as("cl"), (col("cn") + col("dlon")).as("cn"))
        latest.as("a").join(probe.as("b"),
            col("a.tb") === col("b.tb")
              && col("a.cl") === col("b.cl") && col("a.cn") === col("b.cn")
              && col("a.user_id") < col("b.user_id"))
          .withColumn("kx",
            round(cos(radians((col("a.lat") + col("b.lat")) / 2.0)), 6) * 111.195)
          .withColumn("dx", (col("b.lon") - col("a.lon")) * col("kx"))
          .withColumn("dy", (col("b.lat") - col("a.lat")) * 111.195)
          .withColumn("dvx", (col("b.vlon") - col("a.vlon")) * col("kx"))
          .withColumn("dvy", (col("b.vlat") - col("a.vlat")) * 111.195)
          .withColumn("den", col("dvx") * col("dvx") + col("dvy") * col("dvy"))
          .withColumn("tc",
            when(col("den") <= 1e-12, 0.0).otherwise(
              least(greatest(-(col("dx") * col("dvx") + col("dy") * col("dvy"))
                / col("den"), lit(0.0)), lit(30.0)) + lit(0.0)))
          // + 0.0 canonicalizes -0.0 (co-located pairs make the numerator
          // -0.0; Spark's greatest orders -0.0 < 0.0, DuckDB's is IEEE —
          // first divergence observed at ×100 where replicas co-locate)
          .withColumn("dc",
            sqrt(pow(col("dx") + col("dvx") * col("tc"), 2)
              + pow(col("dy") + col("dvy") * col("tc"), 2)))
          .filter(col("dc") <= 100.0)
          .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
            col("a.tb").as("tb"),
            round(col("tc"), 3).as("t_cpa_min"),
            round(col("dc"), 3).as("d_cpa_km"))
          .orderBy(col("user_a"), col("user_b"), col("tb"))
      },
      oracle = Some(s"""
        WITH $CPA_LATEST_CTES,
        probe AS (
          SELECT user_id, tb, lat, lon, vlat, vlon,
                 cl + g1.d AS cl, cn + g2.d AS cn
          FROM kept, generate_series(-1, 1) AS g1(d),
               generate_series(-1, 1) AS g2(d)),
        cand AS (
          SELECT a.user_id AS user_a, b.user_id AS user_b, a.tb AS tb,
                 round(cos(radians((a.lat + b.lat) / 2.0)), 6) * 111.195 AS kx,
                 b.lat - a.lat AS dlat, b.lon - a.lon AS dlon,
                 b.vlat - a.vlat AS dvlat, b.vlon - a.vlon AS dvlon
          FROM kept a JOIN probe b
            ON a.tb = b.tb AND a.cl = b.cl AND a.cn = b.cn
           AND a.user_id < b.user_id),
        cpa AS (
          SELECT user_a, user_b, tb,
                 dlon * kx AS dx, dlat * 111.195 AS dy,
                 dvlon * kx AS dvx, dvlat * 111.195 AS dvy
          FROM cand),
        solved AS (
          SELECT user_a, user_b, tb, dx, dy, dvx, dvy,
                 CASE WHEN dvx*dvx + dvy*dvy <= 1e-12 THEN 0.0
                      ELSE least(greatest(-(dx*dvx + dy*dvy)
                             / (dvx*dvx + dvy*dvy), 0.0), 30.0) + 0.0
                      END AS tc
          FROM cpa)
        SELECT user_a, user_b, tb,
               round(tc, 3) AS t_cpa_min,
               round(sqrt(pow(dx + dvx*tc, 2) + pow(dy + dvy*tc, 2)), 3)
                 AS d_cpa_km
        FROM solved
        WHERE sqrt(pow(dx + dvx*tc, 2) + pow(dy + dvy*tc, 2)) <= 100.0
        ORDER BY user_a, user_b, tb""")),

    // ----- geo_cpa_overflow: density audit of the CPA cell cap -----------
    // The other half of geo_cpa's production guard: every pair-capable
    // (time-bucket, cell) with its entity count and whether it tripped
    // the CpaCellCap exclusion. At gate SFs no cell is capped (max
    // density 9 vs 64) so the report is all-false; at a hot-hub scale the
    // capped rows are exactly the cells geo_cpa declined to pair —
    // operators triage those (tighten the bucket, shrink the cell, raise
    // the cap) instead of paying an unbounded quadratic listing. One
    // linear groupBy over the shared latest-fix frame; no pair join.
    "geo_cpa_overflow" -> Q(
      build = (s, d) =>
        cpaDensity(s, d)
          .filter(col("n_entities") >= 2)
          .select(col("tb"), col("cl"), col("cn"), col("n_entities"),
            (col("n_entities") > CpaCellCap).as("capped"))
          .orderBy(col("tb"), col("cl"), col("cn")),
      oracle = Some(s"""
        WITH $CPA_LATEST_CTES
        SELECT tb, cl, cn, CAST(n_entities AS BIGINT) AS n_entities,
               n_entities > $CpaCellCap AS capped
        FROM dens WHERE n_entities >= 2
        ORDER BY tb, cl, cn""")),

    // ----- geo_viirs_ingest: FIRMS VIIRS hotspot CSV ingest --------------
    // The raw-record decode of the FIRMS VIIRS active-fire product
    // (odin_orbital/src/firms.rs:117 RawViirsHotspot field order, :134
    // get_confidence l/n/h mapping, :145 get_sat_id NORAD lookup, :532
    // get_acq_utc_datetime [H]HMM reconstruction, :181 Kelvin/MW unit
    // wrap). A 13-field CSV line is synthesized per event (integer-scaled
    // numerics so the text is engine-stable), then parsed back exactly the
    // way the reference decodes a downloaded FIRMS file: split, typed
    // casts, confidence/satellite enum mapping, date+[H]HMM -> epoch.
    // Rows whose satellite or confidence code is unknown are dropped, as
    // to_hotspot's Option chain drops them (firms.rs:437). Scale shape:
    // pure per-row string/column math, no shuffle but the output ORDER BY.
    "geo_viirs_ingest" -> Q(
      build = (s, d) => {
        val base = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"), col("ts_sec"))
          // the reference drops records whose satellite or confidence code
          // is unknown (firms.rs:437 Option chain); those are exactly the
          // 'X'/'x' synthesis arms, so the drop is applied on the RAW id
          // columns where it pushes down to the scan — filtering on the
          // parsed CASE columns instead would inline the whole line
          // synthesis (per-row datetime formatter included) into a
          // non-codegen predicate, measured 30x slower at sf0.1
          .filter(col("event_id") % 4 =!= 3 && col("user_id") % 4 =!= 3)
        base
          .withColumn("line", expr(ViirsK.line(
            DateK.dateStr("ts_sec", "div"))))
          .select(col("event_id"), col("line"))
          .withColumn("acq_epoch", expr(ViirsK.acqEpoch(
            DateK.epochFromDate("split_part(line, ',', 6)", "div"))))
          .selectExpr("event_id" +: ViirsK.parsed: _*)
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT event_id, user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        lines AS (
          SELECT event_id,
                 ${ViirsK.line(DateK.dateStr("ts_sec", "//"))} AS line
          FROM base),
        withEpoch AS (
          SELECT event_id, line,
                 ${ViirsK.acqEpoch(
                   DateK.epochFromDate("split_part(line, ',', 6)", "//"))}
                   AS acq_epoch
          FROM lines),
        parsed AS (
          SELECT event_id, ${ViirsK.parsed.mkString(", ")} FROM withEpoch)
        SELECT * FROM parsed
        WHERE sat_id IS NOT NULL AND conf IS NOT NULL
        ORDER BY event_id""")),

    // ----- geo_hotspot_footprint: hotspot ground-footprint quad ----------
    // compute_footprint (odin_orbital/src/firms.rs:477): the ECEF pixel
    // footprint every ingested VIIRS hotspot gets — local east/north unit
    // frame at the point (odin_common/src/cartesian3.rs:283 en_units),
    // corners at +-track/2 (east) and +-scan/2 (north), rotated around
    // the local up axis by MINUS the bearing to the closest ground-track
    // point (firms.rs:490 passes -alpha; rotate_all at cartesian3.rs:311
    // is the half-angle Rodrigues form), then rounded to integer meters
    // (round_all n_digits=0). The closest-track-point bearing reuses the
    // geo_track_bearing machinery: 4-degree grid-bucketed candidate join
    // + struct-min argmin (vs the oracle's brute-force pairs), bearing
    // rounded to 3 decimals BEFORE the trig re-entry so the rotation
    // angle is cross-engine-stable. Scale: O(n) bucketed candidates,
    // one argmin shuffle — never event x track pairs.
    "geo_hotspot_footprint" -> Q(
      build = (s, d) => {
        val cell = 4.0
        val probes = evPts(s, d)
          .select(col("user_id"), col("event_id"), col("lat"), col("lon"))
          .withColumn("ci", floor(col("lat") / cell).cast(LongType))
          .withColumn("cj", floor(col("lon") / cell).cast(LongType))
        val track = Tables.t(s, d, "part").select(
          col("p_partkey").as("t_key"),
          (lit(60.0) * sin(radians((col("p_partkey") * 7 % 360).cast(DoubleType))))
            .as("tlat"),
          (col("p_partkey") * 23 % 360 - 180).cast(DoubleType).as("tlon"))
        val trep = track
          .withColumn("dn", ceil(lit(400.0)
            / (lit(110.0) * cos(radians(least(abs(col("tlat")) + 3.7, lit(64.0)))))
            / cell).cast(LongType))
          .withColumn("di", explode(expr("sequence(-1, 1)")))
          .withColumn("dj", explode(expr("sequence(-dn, dn)")))
          .withColumn("ci", floor(col("tlat") / cell).cast(LongType) + col("di"))
          .withColumn("cj",
            (((floor(col("tlon") / cell).cast(LongType) + col("dj") + 45) % 90 + 90) % 90) - 45)
        probes.join(trep, Seq("ci", "cj"))
          .withColumn("dist_q",
            floor(havC(col("lat"), col("lon"), col("tlat"), col("tlon")) * 1024.0)
              .cast(LongType))
          .filter(col("dist_q") <= 409600L)
          .groupBy(col("user_id"), col("event_id"), col("lat"), col("lon"))
          .agg(min(struct(col("dist_q"), col("t_key"), col("tlat"), col("tlon"))).as("m"))
          .select(col("user_id"), col("event_id"), col("lat"), col("lon"),
            col("m.t_key").as("track_key"),
            round(bearC(col("lat"), col("lon"), col("m.tlat"), col("m.tlon")), 3)
              .as("brg3"))
          .withColumn("track_m", expr(FootK.trackM))
          .withColumn("scan_m", expr(FootK.scanM))
          .selectExpr(Seq("event_id", "track_key") ++ FootK.chain: _*)
          .selectExpr(Seq("event_id", "track_key") ++ FootK.out: _*)
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH probes AS (SELECT user_id, event_id, $LAT AS lat, $LON AS lon FROM events),
        track AS (SELECT p_partkey AS t_key,
                         60.0e0*sin(radians(CAST(p_partkey*7 % 360 AS DOUBLE))) AS tlat,
                         CAST(p_partkey*23 % 360 - 180 AS DOUBLE) AS tlon FROM part),
        pairs AS (
          SELECT user_id, event_id, lat, lon, t_key, tlat, tlon,
                 CAST(FLOOR(${havS("lat", "lon", "tlat", "tlon")} * 1024.0e0) AS BIGINT) AS dist_q
          FROM probes, track),
        cov AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_id
                                             ORDER BY dist_q, t_key) AS rn
                FROM pairs WHERE dist_q <= 409600),
        best AS (
          SELECT user_id, event_id, lat, lon, t_key AS track_key,
                 round(${bearS("lat", "lon", "tlat", "tlon")}, 3) AS brg3,
                 ${FootK.trackM} AS track_m, ${FootK.scanM} AS scan_m
          FROM cov WHERE rn = 1),
        chain AS (
          SELECT event_id, track_key, ${FootK.chain.mkString(", ")} FROM best)
        SELECT event_id, track_key, ${FootK.out.mkString(", ")}
        FROM chain ORDER BY event_id"""))
  ) ++ Seq(

    // ----- geo_tile_pyramid: all-zoom-level tile rollup in one pass ------
    // The map-tile heat pyramid behind every slippy-map overlay: Cesium's
    // GeographicTilingScheme (plate carree, 2^(z+1) x 2^z tiles at level
    // z — the scheme odin_cesium imagery layers address) aggregated for
    // levels 4..10 in ONE aggregation: the finest-level tile id is
    // computed once with exact linear floor math, coarser ids are integer
    // bit-shifts of it (floor-nesting identity), and a 7-level explode
    // feeds a single groupBy. At 100 TB this builds the whole pyramid
    // with one shuffle instead of one scan per zoom level; counts and
    // 2-decimal sums aggregate exactly.
    "geo_tile_pyramid" -> Q(
      build = (s, d) => {
        val pts = evPts(s, d).select(col("value"),
          expr(PyrK.t10x).as("t10x"), expr(PyrK.t10y).as("t10y"))
        pts
          .withColumn("z", explode(expr("sequence(4, 10)")))
          .withColumn("tx", expr("shiftright(t10x, CAST(10 - z AS INT))"))
          .withColumn("ty", expr("shiftright(t10y, CAST(10 - z AS INT))"))
          .groupBy(col("z"), col("tx"), col("ty"))
          .agg(count(lit(1)).as("n_points"), dsum(col("value")).as("val_sum"))
          .orderBy(col("z"), col("tx"), col("ty"))
      },
      oracle = Some(s"""
        WITH pts AS (
          SELECT value, $LAT AS lat, $LON AS lon FROM events),
        t10 AS (
          SELECT value, ${PyrK.t10x} AS t10x, ${PyrK.t10y} AS t10y
          FROM pts),
        lv AS (
          SELECT value, g.z AS z,
                 t10x >> CAST(10 - g.z AS INT) AS tx,
                 t10y >> CAST(10 - g.z AS INT) AS ty
          FROM t10 CROSS JOIN generate_series(4, 10) AS g(z))
        SELECT z, tx, ty, COUNT(*) AS n_points,
               ${DSUM("value")} AS val_sum
        FROM lv GROUP BY 1, 2, 3 ORDER BY z, tx, ty""")),

    // ----- geo_rhumb: loxodrome legs between consecutive fixes -----------
    // Rhumb-line (constant-bearing) distance and course per track leg —
    // what a navigation display shows next to the great-circle numbers
    // (odin_common/geo.rs carries the gc pair; the loxodrome is its
    // constant-heading complement). Mercator-stretched latitude via
    // ln(tan(pi/4 + phi/2)), the E-W degenerate case handled by the
    // standard q -> cos(phi) limit, antimeridian-crossing dlon folded to
    // [-pi, pi]. Every stage is ONE shared formula text evaluated by both
    // engines, outputs rounded to 3 decimals — the geo_geodesic scheme.
    "geo_rhumb" -> Q(
      build = (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_sec"), col("event_id"))
        evPts(s, d)
          .select(col("user_id"), col("ts_sec"), col("event_id"),
            col("lat"), col("lon"))
          .withColumn("plat", lag(col("lat"), 1).over(w))
          .withColumn("plon", lag(col("lon"), 1).over(w))
          .filter(col("plat").isNotNull)
          .withColumn("dphi", expr(RhumbK.dphi))
          .withColumn("dpsi", expr(RhumbK.dpsi))
          .withColumn("dl0", expr(RhumbK.dl0))
          .withColumn("q", expr(RhumbK.q))
          .withColumn("dl", expr(RhumbK.dl))
          .select(col("user_id"), col("ts_sec"), col("event_id"),
            expr(s"round(${RhumbK.dist}, 3)").as("rhumb_km"),
            expr(s"round(${RhumbK.brg}, 3)").as("rhumb_brg"),
            expr(s"round(${havS("plat", "plon", "lat", "lon")}, 3)")
              .as("gc_km"))
          .orderBy(col("user_id"), col("ts_sec"), col("event_id"))
      },
      oracle = Some(s"""
        WITH pts AS (
          SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 event_id, $LAT AS lat, $LON AS lon
          FROM events),
        legs AS (
          SELECT *,
                 lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
          FROM pts
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
          QUALIFY plat IS NOT NULL),
        s1 AS (
          SELECT *, ${RhumbK.dphi} AS dphi, ${RhumbK.dpsi} AS dpsi,
                 ${RhumbK.dl0} AS dl0
          FROM legs),
        s2 AS (
          SELECT *, ${RhumbK.q} AS q, ${RhumbK.dl} AS dl FROM s1)
        SELECT user_id, ts_sec, event_id,
               round(${RhumbK.dist}, 3) AS rhumb_km,
               round(${RhumbK.brg}, 3) AS rhumb_brg,
               round(${havS("plat", "plon", "lat", "lon")}, 3) AS gc_km
        FROM s2 ORDER BY user_id, ts_sec, event_id""")),

    // ----- geo_idw: inverse-distance-weighted field interpolation --------
    // Shepard/IDW interpolation of a sparse station field at every
    // observation point — the classic station-to-grid estimator behind
    // wind/temperature surfaces (odin_wind consumes exactly such
    // station-interpolated fields). The 10-station dimension broadcasts
    // (never shuffles the fact side); per-probe weights 1/(d^2 + eps)
    // are floor-quantized to 2^-40 BIGINTs so the weighted sums are
    // order-free integer math, and the final estimate is one IEEE
    // division rounded to 3 decimals. At scale: K stations means xK
    // row replication under a broadcast — for large K swap in the
    // geo_nearest grid-bucketed K-NN path instead.
    "geo_idw" -> Q(
      build = (s, d) => {
        val st = stations(s, d)
          .withColumn("s_val", expr("CAST(s_suppkey*31 % 100 AS BIGINT)"))
        evPts(s, d)
          .select(col("event_id"), col("lat"), col("lon"))
          .crossJoin(broadcast(st))
          .withColumn("wq", expr(IdwK.wq))
          .groupBy(col("event_id"))
          .agg(sum(col("wq") * col("s_val")).as("num"),
            sum(col("wq")).as("den"), count(lit(1)).as("n_stations"))
          .select(col("event_id"), col("n_stations"),
            expr("round(CAST(num AS DOUBLE)/CAST(den AS DOUBLE), 3)")
              .as("idw_est"))
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH probes AS (
          SELECT event_id, $LAT AS lat, $LON AS lon FROM events),
        st AS (
          SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon,
                 CAST(s_suppkey*31 % 100 AS BIGINT) AS s_val
          FROM supplier),
        pairs AS (
          SELECT event_id, s_val, ${IdwK.wq} AS wq
          FROM probes CROSS JOIN st)
        SELECT event_id, COUNT(*) AS n_stations,
               round(CAST(SUM(wq * s_val) AS DOUBLE)
                     / CAST(SUM(wq) AS DOUBLE), 3) AS idw_est
        FROM pairs GROUP BY 1 ORDER BY event_id"""))
  ) ++ Seq(

    // ----- geo_route_snap: linear referencing along a route polyline -----
    // Map-matching's core primitive (and the multi-segment generalization
    // of geo_closest_point / odin_common geo.rs:179): snap every
    // observation to its closest segment of a 20-segment reference route,
    // reporting the segment, the clamped projection fraction, the
    // along-route distance (cumulative segment starts + t*seglen) and the
    // cross-track offset. The route is a broadcast dimension (its
    // 21-row build may use a global window; the fact side never
    // shuffles); the per-point argmin is a struct-min fold over pure
    // +,-,*,/,sqrt doubles — bit-identical cross-engine, no rounding
    // needed. Cumulative route length is integer-quantized so the
    // prefix sum is order-free.
    "geo_route_snap" -> Q(
      build = (s, d) => {
        val wOrd = Window.orderBy(col("t_key"))
        val verts = Tables.t(s, d, "part")
          .filter(col("p_partkey") <= 21)
          .select(col("p_partkey").as("t_key"))
          .withColumn("vx", expr(RouteK.vx))
          .withColumn("vy", expr(RouteK.vy))
        val segs = verts
          .withColumn("ex", lead(col("vx"), 1).over(wOrd))
          .withColumn("ey", lead(col("vy"), 1).over(wOrd))
          .filter(col("ex").isNotNull)
          .select(col("t_key").as("seg_i"), col("vx").as("ax"),
            col("vy").as("ay"), col("ex"), col("ey"))
          .withColumn("dx", expr("ex - ax"))
          .withColumn("dy", expr("ey - ay"))
          .withColumn("len2", expr("dx*dx + dy*dy"))
          .withColumn("seglen", expr("sqrt(len2)"))
          .withColumn("slq", expr("CAST(FLOOR(seglen * 1048576.0) AS BIGINT)"))
          .withColumn("start_q", coalesce(sum(col("slq")).over(
            Window.orderBy(col("seg_i"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val pts = evPts(s, d)
          .select(col("event_id"),
            expr(RouteK.px).as("px"), expr(RouteK.py).as("py"))
        pts.crossJoin(broadcast(segs))
          .withColumn("traw", expr(RouteK.traw))
          .withColumn("tt", expr(RouteK.tt))
          .withColumn("fx", expr("ax + tt*dx"))
          .withColumn("fy", expr("ay + tt*dy"))
          .withColumn("d2", expr("(px - fx)*(px - fx) + (py - fy)*(py - fy)"))
          .withColumn("along", expr(RouteK.along))
          .withColumn("m", struct(col("d2"), col("seg_i").as("si"),
            col("tt").as("tv"), col("along").as("al")))
          .groupBy(col("event_id"))
          .agg(min(col("m")).as("m"))
          .select(col("event_id"), col("m.si").as("seg_i"),
            col("m.tv").as("t_frac"), col("m.al").as("along_m"),
            expr("sqrt(m.d2)").as("cross_m"))
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH verts AS (
          SELECT p_partkey AS t_key, ${RouteK.vx} AS vx, ${RouteK.vy} AS vy
          FROM part WHERE p_partkey <= 21),
        segs0 AS (
          SELECT *, lead(vx) OVER (ORDER BY t_key) AS ex,
                 lead(vy) OVER (ORDER BY t_key) AS ey
          FROM verts),
        segs1 AS (
          SELECT t_key AS seg_i, vx AS ax, vy AS ay, ex, ey,
                 ex - vx AS dx, ey - vy AS dy
          FROM segs0 WHERE ex IS NOT NULL),
        segs2 AS (
          SELECT *, dx*dx + dy*dy AS len2, sqrt(dx*dx + dy*dy) AS seglen,
                 CAST(FLOOR(sqrt(dx*dx + dy*dy) * 1048576.0) AS BIGINT) AS slq
          FROM segs1),
        segs AS (
          SELECT *, COALESCE(SUM(slq) OVER (ORDER BY seg_i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS start_q
          FROM segs2),
        pts AS (
          SELECT event_id, $LAT AS lat, $LON AS lon FROM events),
        pts2 AS (
          SELECT event_id, ${RouteK.px} AS px, ${RouteK.py} AS py FROM pts),
        proj0 AS (
          SELECT p.event_id, s.*, p.px, p.py, ${RouteK.traw} AS traw
          FROM pts2 p CROSS JOIN segs s),
        proj1 AS (SELECT *, ${RouteK.tt} AS tt FROM proj0),
        proj2 AS (
          SELECT *, (px - (ax + tt*dx))*(px - (ax + tt*dx))
                  + (py - (ay + tt*dy))*(py - (ay + tt*dy)) AS d2,
                 ${RouteK.along} AS along
          FROM proj1),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                   ORDER BY d2, seg_i) AS rn
          FROM proj2)
        SELECT event_id, seg_i, tt AS t_frac, along AS along_m,
               sqrt(d2) AS cross_m
        FROM ranked WHERE rn = 1 ORDER BY event_id"""))
  ) ++ Seq(

    // ----- geo_kde_smooth: separable-kernel heatmap smoothing ------------
    // The smoothing pass between raw grid counts (geo_grid_agg) and a
    // rendered hotspot heatmap: convolve the 1-degree cell counts with
    // the separable binomial 3x3 kernel (1-2-1 x 1-2-1, total weight 16
    // — the discrete Gaussian every image pipeline uses). Re-expressed
    // scatter-side: each non-empty cell explodes its 9 weighted
    // contributions and ONE groupBy re-gathers them — O(9 x occupied
    // cells), never a dense-grid scan, and pure integer weights so the
    // result is exact. The raw count rides along as the w=4 center
    // contribution divided back out.
    "geo_kde_smooth" -> Q(
      build = (s, d) => {
        val offsets = (for { di <- -1 to 1; dj <- -1 to 1 } yield {
          val wgt = (2 - math.abs(di)) * (2 - math.abs(dj))
          s"named_struct('di', ${di}L, 'dj', ${dj}L, 'w', ${wgt}L)"
        }).mkString("array(", ", ", ")")
        val cells = evPts(s, d)
          .select(floor(col("lon")).cast(LongType).as("cx"),
            floor(col("lat")).cast(LongType).as("cy"))
          .groupBy(col("cx"), col("cy"))
          .agg(count(lit(1)).as("n"))
        cells
          .withColumn("o", explode(expr(offsets)))
          .groupBy((col("cx") + col("o.di")).as("cx"),
            (col("cy") + col("o.dj")).as("cy"))
          .agg(sum(col("n") * col("o.w")).as("sm16"),
            sum(when(col("o.di") === 0 && col("o.dj") === 0,
              col("n") * col("o.w")).otherwise(0L)).as("c4"))
          .select(col("cx"), col("cy"), expr("c4 div 4").as("n_raw"),
            col("sm16"), (col("sm16") / 16.0).as("density"))
          .orderBy(col("cx"), col("cy"))
      },
      oracle = Some(s"""
        WITH pts AS (
          SELECT CAST(FLOOR($LON) AS BIGINT) AS cx,
                 CAST(FLOOR($LAT) AS BIGINT) AS cy
          FROM events),
        cells AS (SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY 1, 2),
        k(di, dj, w) AS (VALUES
          (-1,-1,1), (-1,0,2), (-1,1,1),
          (0,-1,2), (0,0,4), (0,1,2),
          (1,-1,1), (1,0,2), (1,1,1)),
        scat AS (
          SELECT c.cx + k.di AS cx, c.cy + k.dj AS cy,
                 c.n * k.w AS contrib,
                 CASE WHEN k.di = 0 AND k.dj = 0 THEN c.n * k.w
                      ELSE 0 END AS center
          FROM cells c CROSS JOIN k)
        SELECT cx, cy,
               CAST(SUM(center) // 4 AS BIGINT) AS n_raw,
               CAST(SUM(contrib) AS BIGINT) AS sm16,
               SUM(contrib) / 16.0 AS density
        FROM scat GROUP BY 1, 2 ORDER BY cx, cy""")),

    // ----- geo_solar_angles: solar position + day/night flag -------------
    // The day/night discriminator every satellite fire/cloud product
    // applies per pixel (GOES-R ABI fire detection masks by solar zenith;
    // odin_goesr's hotspot pipeline consumes day-night-flagged pixels).
    // Simplified NOAA model: declination from the annual cosine (no
    // equation-of-time), hour angle from the UTC day fraction plus
    // longitude. The whole formula is ONE shared text both engines
    // evaluate — pure column math, no join, no shuffle; trig rounds to 3
    // decimals per §5.
    "geo_solar_angles" -> Q(
      build = (s, d) => {
        // phase reduced mod 360 BEFORE the trig: double fmod is an EXACT
        // operation on both engines, while cos of a ~19,000-degree raw
        // phase hits each libm's large-argument reduction, which differs
        // at ~1e-6 — far above the 3-decimal round guard.
        def decl(dayT: String) =
          s"-23.44 * cos(radians((($dayT + 10.0) * (360.0e0/365.25e0)) % 360.0))"
        val day = "(CAST(ts_sec div 86400 AS DOUBLE) + CAST(ts_sec % 86400 AS DOUBLE)/86400.0)"
        val ha = "(CAST(ts_sec % 86400 AS DOUBLE)/86400.0*360.0 - 180.0 + lon)"
        val dc = decl(day)
        val el = s"""degrees(asin(
          sin(radians(lat))*sin(radians($dc))
          + cos(radians(lat))*cos(radians($dc))*cos(radians($ha))))"""
        evPts(s, d)
          .select(col("event_id"), col("user_id"), col("ts_sec"),
            col("lat"), col("lon"))
          .withColumn("ha_deg", expr(ha))
          .withColumn("decl_deg", expr(s"round($dc, 3)"))
          .withColumn("elev_deg", expr(s"round($el, 3)"))
          .withColumn("daylight", expr(s"round($el, 3) > 0.0"))
          .select(col("event_id"), col("user_id"), col("ts_sec"),
            col("ha_deg"), col("decl_deg"), col("elev_deg"), col("daylight"))
          .orderBy(col("event_id"))
      },
      oracle = Some {
        val ts = "CAST(floor(epoch(ts)) AS BIGINT)"
        val day = s"(CAST($ts // 86400 AS DOUBLE) + CAST($ts % 86400 AS DOUBLE)/86400.0)"
        val dc = s"-23.44 * cos(radians((($day + 10.0) * (360.0e0/365.25e0)) % 360.0))"
        val ha = s"(CAST($ts % 86400 AS DOUBLE)/86400.0*360.0 - 180.0 + $LON)"
        val el = s"""degrees(asin(
          sin(radians($LAT))*sin(radians($dc))
          + cos(radians($LAT))*cos(radians($dc))*cos(radians($ha))))"""
        s"""
        SELECT event_id, user_id, $ts AS ts_sec,
               $ha AS ha_deg,
               round($dc, 3) AS decl_deg,
               round($el, 3) AS elev_deg,
               round($el, 3) > 0.0 AS daylight
        FROM events ORDER BY event_id"""
      }),

    // ----- geo_brightness_temp: IR radiance -> brightness temperature ----
    // The Planck inversion every GOES-R/Himawari IR channel runs before
    // any fire/cloud threshold (ABI L1b radiances -> Tb, PUG vol. 3 eq.
    // 3-5: Tb = (fk2/ln(fk1/L + 1) - bc1)/bc2, representative band-13
    // longwave constants). Pure per-row column math inside codegen; the
    // one transcendental (ln) rounds to 2 decimals; the hot-pixel flag
    // compares the ROUNDED value so both engines flag identically.
    "geo_brightness_temp" -> Q(
      build = (s, d) => {
        val tb = "(3698.19 / ln(202263.0/(20.0 + value) + 1.0) - 0.5) / 0.9991"
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
          .withColumn("radiance", lit(20.0) + col("value"))
          .withColumn("tb_k", expr(s"round($tb, 2)"))
          .withColumn("is_hot", expr(s"round($tb, 2) > 408.0"))
          .select(col("event_id"), col("user_id"), col("radiance"),
            col("tb_k"), col("is_hot"))
          .orderBy(col("event_id"))
      },
      oracle = Some {
        val tb = "(3698.19 / ln(202263.0/(20.0 + value) + 1.0) - 0.5) / 0.9991"
        s"""
        SELECT event_id, user_id, 20.0 + value AS radiance,
               round($tb, 2) AS tb_k,
               round($tb, 2) > 408.0 AS is_hot
        FROM events ORDER BY event_id"""
      }),

    // ----- geo_parallax_correct: cloud-height parallax shift -------------
    // Geostationary pixel geolocation assigns a cloud to the surface point
    // UNDER the slant ray; correcting by cloud height moves it
    // height/tan(elevation) away from the sub-satellite point (the
    // standard GEO parallax correction applied before comparing satellite
    // cloud/fire pixels with ground truth). Elevation from the
    // great-circle angle to the sub-satellite point (spherical, GOES-East
    // at 75.0W); the shift is applied planar (km -> degrees at the pixel
    // latitude), valid for the <=7 km cloud heights synthesized here. One
    // pass of column math, no shuffle; satellite-visibility filter keeps
    // tan(el) well away from 0.
    "geo_parallax_correct" -> Q(
      build = (s, d) => {
        val cpsi = "(cos(radians(lat))*cos(radians(lon - (-75.0))))"
        val el = s"atan2($cpsi - 6371.0e0/42157.0e0, sqrt(1.0 - $cpsi*$cpsi))"
        val dkm = s"((value/50.0) * cos($el)/sin($el))"
        // bearing pixel -> sub-satellite point, then shift the OPPOSITE way
        val brg = s"""atan2(sin(radians((-75.0) - lon))*cos(0.0),
          cos(radians(lat))*sin(0.0)
          - sin(radians(lat))*cos(0.0)*cos(radians((-75.0) - lon)))"""
        evPts(s, d)
          .select(col("event_id"), col("user_id"), col("lat"), col("lon"),
            col("value"))
          .withColumn("cloud_km", col("value") / 50.0)
          .withColumn("elev_deg", expr(s"round(degrees($el), 3)"))
          .filter(expr(s"round(degrees($el), 3) > 15.0"))
          .withColumn("shift_km", expr(s"round($dkm, 3)"))
          .withColumn("lat_c", expr(
            s"round(lat - $dkm*cos($brg)/111.195, 4)"))
          .withColumn("lon_c", expr(
            s"round(lon - $dkm*sin($brg)/(111.195*cos(radians(lat))), 4)"))
          .select(col("event_id"), col("user_id"), col("cloud_km"),
            col("elev_deg"), col("shift_km"), col("lat_c"), col("lon_c"))
          .orderBy(col("event_id"))
      },
      oracle = Some {
        val cpsi = s"(cos(radians($LAT))*cos(radians($LON - (-75.0))))"
        val el = s"atan2($cpsi - 6371.0e0/42157.0e0, sqrt(1.0 - $cpsi*$cpsi))"
        val dkm = s"((value/50.0) * cos($el)/sin($el))"
        val brg = s"""atan2(sin(radians((-75.0) - $LON))*cos(0.0),
          cos(radians($LAT))*sin(0.0)
          - sin(radians($LAT))*cos(0.0)*cos(radians((-75.0) - $LON)))"""
        s"""
        SELECT event_id, user_id, value/50.0 AS cloud_km,
               round(degrees($el), 3) AS elev_deg,
               round($dkm, 3) AS shift_km,
               round($LAT - $dkm*cos($brg)/111.195, 4) AS lat_c,
               round($LON - $dkm*sin($brg)/(111.195*cos(radians($LAT))), 4)
                 AS lon_c
        FROM events
        WHERE round(degrees($el), 3) > 15.0
        ORDER BY event_id"""
      }),

    // ----- geo_fence_crossings: exact segment-fence intersection ---------
    // Geofence/airspace boundary crossing detection (the alerting join
    // behind "track entered the fire perimeter"): each consecutive track
    // segment is tested against 25 fence segments derived from nation
    // keys. The intersection predicate is four exact-integer orientation
    // tests on 1e-5-degree fixed-point coordinates — cross products of
    // BIGINTs, no floating point anywhere, so the result is hash-exact by
    // construction. Fences broadcast (tiny dimension); cost is one
    // column-math pass over segments x 25 — linear in the fact table.
    "geo_fence_crossings" -> Q(
      build = (s, d) => {
        val seg = evPts(s, d)
          .select(col("user_id"), col("event_id"), col("ts_sec"),
            expr("CAST(FLOOR(lon*100000.0) AS BIGINT)").as("px"),
            expr("CAST(FLOOR(lat*100000.0) AS BIGINT)").as("py"))
          .withColumn("e2", lead(col("event_id"), 1).over(wTrack))
          .withColumn("qx", lead(col("px"), 1).over(wTrack))
          .withColumn("qy", lead(col("py"), 1).over(wTrack))
          .filter(col("e2").isNotNull)
        val fences = Tables.t(s, d, "nation").select(
          col("n_nationkey").as("fence"),
          expr("(n_nationkey*41 % 140 - 70) * 100000").as("ax"),
          expr("(n_nationkey*89 % 360 - 180) * 100000").as("ay"),
          expr("(n_nationkey*59 % 140 - 70) * 100000").as("bx"),
          expr("(n_nationkey*67 % 360 - 180) * 100000").as("by"))
        def o(ax: String, ay: String, bx: String, by: String,
            cx: String, cy: String) =
          s"sign(($bx-$ax)*($cy-$ay) - ($by-$ay)*($cx-$ax))"
        seg.crossJoin(broadcast(fences))
          .filter(expr(
            s"${o("px", "py", "qx", "qy", "ax", "ay")} * ${o("px", "py", "qx", "qy", "bx", "by")} < 0 AND " +
            s"${o("ax", "ay", "bx", "by", "px", "py")} * ${o("ax", "ay", "bx", "by", "qx", "qy")} < 0"))
          .select(col("user_id"), col("event_id").as("e_from"),
            col("e2").as("e_to"), col("fence"), col("ts_sec"))
          .orderBy(col("user_id"), col("e_from"), col("fence"))
      },
      oracle = Some {
        val ts = "CAST(floor(epoch(ts)) AS BIGINT)"
        def o(ax: String, ay: String, bx: String, by: String,
            cx: String, cy: String) =
          s"sign(($bx-$ax)*($cy-$ay) - ($by-$ay)*($cx-$ax))"
        s"""
        WITH pts AS (
          SELECT user_id, event_id, $ts AS ts_sec,
                 CAST(FLOOR($LON*100000.0) AS BIGINT) AS px,
                 CAST(FLOOR($LAT*100000.0) AS BIGINT) AS py
          FROM events),
        seg AS (
          SELECT user_id, event_id, ts_sec, px, py,
                 LEAD(event_id, 1) OVER w AS e2,
                 LEAD(px, 1) OVER w AS qx,
                 LEAD(py, 1) OVER w AS qy
          FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
        fences AS (
          SELECT n_nationkey AS fence,
                 (n_nationkey*41 % 140 - 70) * 100000 AS ax,
                 (n_nationkey*89 % 360 - 180) * 100000 AS ay,
                 (n_nationkey*59 % 140 - 70) * 100000 AS bx,
                 (n_nationkey*67 % 360 - 180) * 100000 AS by
          FROM nation)
        SELECT s.user_id, s.event_id AS e_from, s.e2 AS e_to,
               f.fence, s.ts_sec
        FROM seg s CROSS JOIN fences f
        WHERE s.e2 IS NOT NULL
          AND ${o("s.px", "s.py", "s.qx", "s.qy", "f.ax", "f.ay")}
            * ${o("s.px", "s.py", "s.qx", "s.qy", "f.bx", "f.by")} < 0
          AND ${o("f.ax", "f.ay", "f.bx", "f.by", "s.px", "s.py")}
            * ${o("f.ax", "f.ay", "f.bx", "f.by", "s.qx", "s.qy")} < 0
        ORDER BY s.user_id, e_from, f.fence"""
      }),

    // ----- geo_hexbin: hexagonal grid binning ----------------------------
    // The H3-style hex aggregation (hexes tile density isotropically where
    // geo_grid_agg's squares bias along axes): pointy-top axial coords
    // q = (x/sqrt(3) - y/3)/h, r = (2y/3)/h, then cube rounding (round
    // each axis, re-derive the one with the largest rounding error from
    // the other two so q+r+s = 0 holds). sqrt and all divisions are
    // exact-deterministic IEEE; the integer round is FLOOR(x+0.5) (exact)
    // so the bin id needs no quantization guard at all. One map +
    // map-side-combinable groupBy — the planetary-scale heatmap shape.
    "geo_hexbin" -> Q(
      build = (s, d) => {
        val q0 = "((lon / sqrt(3.0e0) - lat / 3.0e0) / 2.5e0)"
        val r0 = "((2.0e0 * lat / 3.0e0) / 2.5e0)"
        val hex = hexRound(q0, r0)
        evPts(s, d)
          .select(col("event_id"),
            expr(hex._1).as("hq"), expr(hex._2).as("hr"),
            expr("CAST(FLOOR(lat*100000.0) AS BIGINT)").as("latq"),
            expr("CAST(FLOOR(lon*100000.0) AS BIGINT)").as("lonq"))
          .groupBy(col("hq"), col("hr"))
          .agg(count(lit(1)).as("n_points"),
            (sum(col("latq")).cast(DoubleType) / (count(lit(1)) * 100000.0))
              .as("mean_lat"),
            (sum(col("lonq")).cast(DoubleType) / (count(lit(1)) * 100000.0))
              .as("mean_lon"))
          .orderBy(col("hq"), col("hr"))
      },
      oracle = Some {
        val q0 = s"(($LON / sqrt(3.0e0) - $LAT / 3.0e0) / 2.5e0)"
        val r0 = s"((2.0e0 * $LAT / 3.0e0) / 2.5e0)"
        val hex = hexRound(q0, r0)
        s"""
        WITH b AS (
          SELECT event_id, ${hex._1} AS hq, ${hex._2} AS hr,
                 CAST(FLOOR($LAT*100000.0) AS BIGINT) AS latq,
                 CAST(FLOOR($LON*100000.0) AS BIGINT) AS lonq
          FROM events)
        SELECT hq, hr, COUNT(*) AS n_points,
               CAST(SUM(latq) AS DOUBLE) / (COUNT(*) * 100000.0) AS mean_lat,
               CAST(SUM(lonq) AS DOUBLE) / (COUNT(*) * 100000.0) AS mean_lon
        FROM b GROUP BY 1, 2 ORDER BY hq, hr"""
      }),

    // ----- geo_gc_waypoints: great-circle route densification ------------
    // Intermediate points along the geodesic between consecutive ground
    // stations (the slerp form: interpolate on the unit sphere through
    // ECEF, the route-densification every flight/overpass display runs
    // before drawing). One window lead pairs the stations, a 4-fraction
    // explode emits the waypoints; the whole spherical interpolation is
    // one shared formula text, rounded to 4 decimals per §5.
    "geo_gc_waypoints" -> Q(
      build = (s, d) => {
        val delta = """(2.0e0*asin(sqrt(least(1.0e0,
          pow(sin((radians(lat2)-radians(lat1))/2),2)
          + cos(radians(lat1))*cos(radians(lat2))
            *pow(sin((radians(lon2)-radians(lon1))/2),2)))))"""
        val a = s"(sin((1.0e0 - f) * $delta) / sin($delta))"
        val b = s"(sin(f * $delta) / sin($delta))"
        val x = s"($a*cos(radians(lat1))*cos(radians(lon1)) + $b*cos(radians(lat2))*cos(radians(lon2)))"
        val y = s"($a*cos(radians(lat1))*sin(radians(lon1)) + $b*cos(radians(lat2))*sin(radians(lon2)))"
        val z = s"($a*sin(radians(lat1)) + $b*sin(radians(lat2)))"
        val w = Window.orderBy(col("s_suppkey"))
        stationsFor(s, d)
          .withColumn("k2", lead(col("s_suppkey"), 1).over(w))
          .withColumn("lat2", lead(col("s_lat"), 1).over(w))
          .withColumn("lon2", lead(col("s_lon"), 1).over(w))
          .filter(col("k2").isNotNull)
          .select(col("s_suppkey").as("leg"), col("k2"),
            col("s_lat").as("lat1"), col("s_lon").as("lon1"),
            col("lat2"), col("lon2"))
          .withColumn("f", explode(expr(
            "array(0.2e0, 0.4e0, 0.6e0, 0.8e0)")))
          .filter(expr(s"$delta > 0.0e0")) // degenerate leg guard
          .withColumn("w_lat", expr(
            s"round(degrees(atan2($z, sqrt($x*$x + $y*$y))), 4)"))
          .withColumn("w_lon", expr(s"round(degrees(atan2($y, $x)), 4)"))
          .select(col("leg"), col("k2").as("leg_to"), col("f"),
            col("w_lat"), col("w_lon"))
          .orderBy(col("leg"), col("f"))
      },
      oracle = Some {
        val delta = """(2.0e0*asin(sqrt(least(1.0e0,
          pow(sin((radians(lat2)-radians(lat1))/2),2)
          + cos(radians(lat1))*cos(radians(lat2))
            *pow(sin((radians(lon2)-radians(lon1))/2),2)))))"""
        val a = s"(sin((1.0e0 - f) * $delta) / sin($delta))"
        val b = s"(sin(f * $delta) / sin($delta))"
        val x = s"($a*cos(radians(lat1))*cos(radians(lon1)) + $b*cos(radians(lat2))*cos(radians(lon2)))"
        val y = s"($a*cos(radians(lat1))*sin(radians(lon1)) + $b*cos(radians(lat2))*sin(radians(lon2)))"
        val z = s"($a*sin(radians(lat1)) + $b*sin(radians(lat2)))"
        s"""
        WITH st AS (
          SELECT s_suppkey, $SLAT AS lat, $SLON AS lon FROM supplier),
        legs AS (
          SELECT s_suppkey AS leg,
                 LEAD(s_suppkey, 1) OVER w AS leg_to,
                 lat AS lat1, lon AS lon1,
                 LEAD(lat, 1) OVER w AS lat2, LEAD(lon, 1) OVER w AS lon2
          FROM st WINDOW w AS (ORDER BY s_suppkey)),
        wp AS (
          SELECT l.*, f.f FROM legs l
          CROSS JOIN (VALUES (0.2e0), (0.4e0), (0.6e0), (0.8e0)) AS f(f)
          WHERE l.leg_to IS NOT NULL AND $delta > 0.0e0)
        SELECT leg, leg_to, f,
               round(degrees(atan2($z, sqrt($x*$x + $y*$y))), 4) AS w_lat,
               round(degrees(atan2($y, $x)), 4) AS w_lon
        FROM wp ORDER BY leg, f"""
      }),

    // ----- geo_hillshade: analytic terrain shading -----------------------
    // The hillshade render every DEM/terrain layer ships (GDAL defaults:
    // sun azimuth 315°, altitude 45°): shade = cos(zen)cos(slope) +
    // sin(zen)sin(slope)cos(az - aspect), scaled to 0-255 and clamped.
    // Composes geo_grid_stencil's 4-neighbor gradient (same 3 grid-keyed
    // equi-joins — the distributed-raster stencil shape) with one more
    // shared-formula trig layer; the emitted shade rounds to 2, and the
    // clamp compares the ROUNDED value so both engines clip identically.
    "geo_hillshade" -> Q(
      build = (s, d) =>
        Raster.gradient(Raster.density(s, d))
          .select(col("ci"), col("cj"), col("dzdx"), col("dzdy"),
            expr(HillshadeK.shade).as("shade"))
          .orderBy(col("ci"), col("cj")),
      oracle = Some {
        s"""
        WITH cells AS (${Raster.DensitySql}),
        g AS (
          SELECT c.ci, c.cj,
                 (e.z - w.z)/2.0 AS dzdx, (n_.z - s_.z)/2.0 AS dzdy
          FROM cells c
          JOIN cells e  ON e.ci = c.ci AND e.cj = c.cj + 1
          JOIN cells w  ON w.ci = c.ci AND w.cj = c.cj - 1
          JOIN cells n_ ON n_.ci = c.ci + 1 AND n_.cj = c.cj
          JOIN cells s_ ON s_.ci = c.ci - 1 AND s_.cj = c.cj)
        SELECT ci, cj, dzdx, dzdy,
               ${HillshadeK.shade} AS shade
        FROM g ORDER BY ci, cj"""
      }),

    // ----- geo_coverage_gap: sensor-network coverage holes ---------------
    // Which observed areas does no ground station serve? Every occupied 2°
    // cell measures its nearest of the 10 broadcast stations
    // (center-of-cell haversine); the 20 worst-served cells are the
    // coverage gaps a network planner fills first (a RANKING, not an
    // absolute radius, so the report stays meaningful as station density
    // grows with SF). Argmin via quantized-distance struct-min (the
    // geo_nearest discipline); cost is cells x stations against a
    // broadcast dimension, then a TakeOrdered top-20 — linear in the
    // grid, no pair blowup, no global sort.
    "geo_coverage_gap" -> Q(
      build = (s, d) => {
        val cells = Raster.density(s, d, "n_events")
          .withColumn("clat", col("ci").cast(DoubleType) * 2.0 + 1.0)
          .withColumn("clon", col("cj").cast(DoubleType) * 2.0 + 1.0)
        // planning tier: the first 100 station keys — the dimension stays
        // dimension-sized as supplier count grows with SF (1000 stations
        // at sf0.1 made the cells x stations product the bench's #3 cost)
        val st = stationsFor(s, d).filter(col("s_suppkey") <= 100)
        cells.crossJoin(broadcast(st))
          .withColumn("dq", floor(
            havC(col("clat"), col("clon"), col("s_lat"), col("s_lon"))
              * 1024.0).cast(LongType))
          .groupBy(col("ci"), col("cj"))
          .agg(max(col("n_events")).as("n_events"),
            min(struct(col("dq"), col("s_suppkey"))).as("m"))
          .select(col("ci"), col("cj"), col("n_events"),
            col("m.s_suppkey").as("nearest_station"),
            (col("m.dq").cast(DoubleType) / 1024.0).as("dist_km"))
          .orderBy(col("dist_km").desc, col("ci"), col("cj"))
          .limit(20)
      },
      oracle = Some(s"""
        WITH cells AS (
          SELECT CAST(FLOOR($LAT/2.0) AS BIGINT) AS ci,
                 CAST(FLOOR($LON/2.0) AS BIGINT) AS cj,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2),
        cc AS (
          SELECT ci, cj, n_events,
                 CAST(ci AS DOUBLE)*2.0 + 1.0 AS clat,
                 CAST(cj AS DOUBLE)*2.0 + 1.0 AS clon
          FROM cells),
        st AS (SELECT s_suppkey, $SLAT AS s_lat, $SLON AS s_lon
               FROM supplier WHERE s_suppkey <= 100),
        dists AS (
          SELECT c.ci, c.cj, c.n_events, s.s_suppkey,
                 CAST(FLOOR(${havS("c.clat", "c.clon", "s.s_lat", "s.s_lon")}
                   * 1024.0) AS BIGINT) AS dq
          FROM cc c CROSS JOIN st s),
        best AS (
          SELECT ci, cj, n_events, s_suppkey, dq,
                 ROW_NUMBER() OVER (PARTITION BY ci, cj
                   ORDER BY dq, s_suppkey) AS rn
          FROM dists)
        SELECT ci, cj, n_events, s_suppkey AS nearest_station,
               CAST(dq AS DOUBLE) / 1024.0 AS dist_km
        FROM best WHERE rn = 1
        ORDER BY dist_km DESC, ci, cj LIMIT 20""")),

    // ----- geo_wind_rose: 16-sector movement-direction histogram ---------
    // The wind-rose / movement-rose panel every wind and traffic display
    // draws (odin_wind's vector field rendered as direction frequency):
    // per entity, bin consecutive-fix bearings into 16 compass sectors
    // and surface the dominant sector and its share. The sector floors
    // the SAME 3-decimal-rounded bearing both engines share, so binning
    // is cross-engine stable; one window pass + one keyed groupBy.
    "geo_wind_rose" -> Q(
      build = (s, d) => {
        val p = evPts(s, d)
          .select(col("user_id"), col("ts_sec"), col("event_id"),
            col("lat"), col("lon"))
          .withColumn("lat2", lead(col("lat"), 1).over(wTrack))
          .withColumn("lon2", lead(col("lon"), 1).over(wTrack))
          .filter(col("lat2").isNotNull)
          .withColumn("brg",
            round(bearC(col("lat"), col("lon"), col("lat2"), col("lon2")), 3))
          .withColumn("sector",
            expr("CAST(least(15, FLOOR(brg / 22.5e0)) AS BIGINT)"))
        val hist = p.groupBy(col("user_id"), col("sector"))
          .agg(count(lit(1)).as("n"))
        val tot = hist.groupBy(col("user_id"))
          .agg(sum(col("n")).as("n_legs"),
            max(struct(col("n"), col("sector"))).as("m"))
        hist.join(tot, "user_id")
          .select(col("user_id"), col("sector"), col("n"), col("n_legs"),
            (col("n").cast(DoubleType) / col("n_legs")).as("share"),
            (col("sector") === col("m.sector")).as("dominant"))
          .orderBy(col("user_id"), col("sector"))
      },
      oracle = Some {
        val brg = bearS("lat", "lon", "lat2", "lon2")
        s"""
        WITH pts AS (
          SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 $LAT AS lat, $LON AS lon
          FROM events),
        legs AS (
          SELECT user_id,
                 lat, lon,
                 LEAD(lat, 1) OVER w AS lat2, LEAD(lon, 1) OVER w AS lon2
          FROM pts WINDOW w AS (PARTITION BY user_id
                                ORDER BY ts_sec, event_id)),
        sect AS (
          SELECT user_id,
                 CAST(LEAST(15, FLOOR(round($brg, 3) / 22.5e0)) AS BIGINT)
                   AS sector
          FROM legs WHERE lat2 IS NOT NULL),
        hist AS (
          SELECT user_id, sector, COUNT(*) AS n FROM sect GROUP BY 1, 2),
        dom AS (
          SELECT user_id, sector AS dom_sector,
                 CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_legs,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY n DESC, sector DESC) AS rn
          FROM hist)
        SELECT h.user_id, h.sector, h.n, t.n_legs,
               CAST(h.n AS DOUBLE) / t.n_legs AS share,
               h.sector = t.dom_sector AS dominant
        FROM hist h JOIN (SELECT * FROM dom WHERE rn = 1) t
          ON h.user_id = t.user_id
        ORDER BY h.user_id, h.sector"""
      }),

    // ----- geo_error_ellipse: position-scatter covariance ellipse --------
    // The 1-sigma error ellipse of each entity's position cloud (track
    // confidence rendering, sensor-accuracy QA): 2x2 covariance from
    // exact fixed-point moments, eigenvalues in CLOSED FORM
    // ((tr ± sqrt(tr² − 4·det))/2 — no iteration), orientation from
    // atan2(2sxy, sxx−syy)/2. Everything through the moments is integer-
    // exact; the eigen step is sqrt/atan2 in one shared expression order,
    // angle rounded to 3. One entity-keyed aggregate — the map-side-
    // combinable shape.
    "geo_error_ellipse" -> Q(
      build = (s, d) => {
        val m = evPts(s, d)
          .select(col("user_id"),
            expr("CAST(FLOOR(lat*100000.0) AS BIGINT)").as("x"),
            expr("CAST(FLOOR(lon*100000.0) AS BIGINT)").as("y"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
          .filter(col("n") >= 3)
        val cxx = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) / 1.0e10"
        val cyy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) / 1.0e10"
        val cxy = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) / 1.0e10"
        val tr = s"($cxx + $cyy)"
        val det = s"($cxx * $cyy - $cxy * $cxy)"
        val disc = s"sqrt(greatest(0.0e0, $tr * $tr - 4.0e0 * $det))"
        m.withColumn("var_major", expr(s"($tr + $disc) / 2.0e0"))
          .withColumn("var_minor", expr(s"($tr - $disc) / 2.0e0"))
          .withColumn("angle_deg", expr(
            s"round(degrees(atan2(2.0e0 * $cxy, $cxx - $cyy) / 2.0e0), 3)"))
          .select(col("user_id"), col("n"), col("var_major"),
            col("var_minor"), col("angle_deg"))
          .orderBy(col("user_id"))
      },
      oracle = Some {
        val cxx = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) / 1.0e10"
        val cyy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) / 1.0e10"
        val cxy = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) / 1.0e10"
        val tr = s"($cxx + $cyy)"
        val det = s"($cxx * $cyy - $cxy * $cxy)"
        val disc = s"sqrt(greatest(0.0e0, $tr * $tr - 4.0e0 * $det))"
        s"""
        WITH pts AS (
          SELECT user_id,
                 CAST(FLOOR($LAT*100000.0) AS BIGINT) AS x,
                 CAST(FLOOR($LON*100000.0) AS BIGINT) AS y
          FROM events),
        m AS (
          SELECT user_id, COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
                 SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
                 SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
          FROM pts GROUP BY 1 HAVING COUNT(*) >= 3)
        SELECT user_id, n,
               ($tr + $disc) / 2.0e0 AS var_major,
               ($tr - $disc) / 2.0e0 AS var_minor,
               round(degrees(atan2(2.0e0 * $cxy, $cxx - $cyy) / 2.0e0), 3)
                 AS angle_deg
        FROM m ORDER BY user_id"""
      }),

    // ----- geo_advect_step: semi-Lagrangian transport --------------------
    // One advection step of the event-density field under the analytic
    // u/v wind (the transport kernel behind smoke/plume forecasting —
    // odin_wind's grids exist to drive exactly this): each cell
    // backtracks along the wind to its departure point and bilinearly
    // samples the density there (semi-Lagrangian = unconditionally
    // stable, any dt). The wind components are exact quarter-integers and
    // dt=0.5, so departure fractions are exact dyadic rationals and the
    // interpolated density is bit-exact with NO rounding anywhere.
    // Scale shape: 4 corner equi-joins against the density grid itself —
    // the distributed-stencil pattern, cells never all-pairs.
    "geo_advect_step" -> Q(
      build = (s, d) => {
        val cells = evPts(s, d)
          .groupBy(floor(col("lat")).cast(LongType).as("ci"),
            floor(col("lon")).cast(LongType).as("cj"))
          .agg(count(lit(1)).as("z"))
        val dep = cells
          .withColumn("dep_i", expr(AdvectK.depI))
          .withColumn("dep_j", expr(AdvectK.depJ))
        val src = cells.select(col("ci").as("si"), col("cj").as("sj"),
          col("z").as("sz"))
        Raster.sample(dep, col("dep_i"), col("dep_j"), Raster.Bilinear, src, "left")
          .groupBy(col("ci"), col("cj"))
          .agg(max(col("z")).as("z_old"),
            sum(col("w") * coalesce(col("sz"), lit(0L))).as("z_new"))
          .filter(col("z_new") > 0.0)
          .orderBy(col("ci"), col("cj"))
      },
      oracle = Some {
        s"""
        WITH cells AS (
          SELECT CAST(FLOOR($LAT) AS BIGINT) AS ci,
                 CAST(FLOOR($LON) AS BIGINT) AS cj, COUNT(*) AS z
          FROM events GROUP BY 1, 2),
        dep AS (
          SELECT ci, cj, z,
                 ${AdvectK.depI} AS di,
                 ${AdvectK.depJ} AS dj
          FROM cells),
        frac AS (
          SELECT ci, cj, z, di, dj,
                 CAST(FLOOR(di) AS BIGINT) AS fi,
                 CAST(FLOOR(dj) AS BIGINT) AS fj,
                 di - CAST(FLOOR(di) AS BIGINT) AS ri,
                 dj - CAST(FLOOR(dj) AS BIGINT) AS rj
          FROM dep),
        corners AS (
          SELECT f.*, o.oi, o.oj,
                 (CASE WHEN o.oi = 0 THEN 1.0e0 - f.ri ELSE f.ri END)
                 * (CASE WHEN o.oj = 0 THEN 1.0e0 - f.rj ELSE f.rj END) AS w
          FROM frac f CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1))
            AS o(oi, oj))
        SELECT c.ci, c.cj, MAX(c.z) AS z_old,
               SUM(c.w * COALESCE(s.z, 0)) AS z_new
        FROM corners c
        LEFT JOIN cells s ON s.ci = c.fi + c.oi AND s.cj = c.fj + c.oj
        GROUP BY 1, 2
        HAVING SUM(c.w * COALESCE(s.z, 0)) > 0.0
        ORDER BY c.ci, c.cj"""
      }),

    // ----- geo_convoys: entities traveling together ----------------------
    // Convoy/flock detection (the moving-object-database classic): pairs
    // of entities whose daily last fix lands in the SAME 1° latitude
    // corridor on >=3 CONSECUTIVE days (the corridor axis is the stable
    // component of the synthetic tracks; real feeds would key on the full
    // 2-D cell). Each entity contributes one fix per day (struct-max
    // argmax), pairs form from an equi-join keyed on (day, corridor), and
    // persistence is the rn-difference islands trick over each pair's day
    // sequence. Everything integer-exact.
    //
    // Density cap (r10, the geo_cpa r9 pattern): corridor occupancy is
    // bounded by FLEET density, not space — the r10 ×100 sweep measured
    // max occupancy 11 → 1044 (pairs ×10⁴, 377 s). Each (day, corridor)
    // keeps its K=64 lowest-user_id members in the pair join (one
    // row_number window, identical SQL both engines — inert below K:
    // sf0.1 max is 11); members beyond K surface in the
    // geo_convoys_overflow audit, so overdense corridors are REPORTED
    // rather than silently quadratic. ×100: 377 s → see BENCH_NOTES r10.
    "geo_convoys" -> Q(
      build = (s, d) => {
        val perDay = convoyPerDay(s, d)
        val wCap = Window.partitionBy(col("dy"), col("ci"))
          .orderBy(col("user_id"))
        val capped = perDay
          .withColumn("rk", row_number().over(wCap))
          .filter(col("rk") <= ConvoyCapK).drop("rk")
        val pairs = capped.as("a")
          .join(capped.as("b"), col("a.dy") === col("b.dy")
            && col("a.ci") === col("b.ci")
            && col("a.user_id") < col("b.user_id"))
          .select(col("a.user_id").as("u1"), col("b.user_id").as("u2"),
            col("a.dy").as("dy"), col("a.ci").as("corridor"))
        val w = Window.partitionBy(col("u1"), col("u2")).orderBy(col("dy"))
        pairs
          .withColumn("grp", col("dy") - row_number().over(w))
          .groupBy(col("u1"), col("u2"), col("grp"))
          .agg(min(col("dy")).as("start_day"), count(lit(1)).as("len_days"),
            min(col("corridor")).as("corridor"))
          .filter(col("len_days") >= 3)
          .select(col("u1"), col("u2"), col("start_day"), col("len_days"),
            col("corridor"))
          .orderBy(col("u1"), col("u2"), col("start_day"))
      },
      oracle = Some(s"""
        WITH pts AS (
          SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 event_id,
                 CAST(FLOOR($LAT) AS BIGINT) AS ci
          FROM events),
        ph AS (
          SELECT user_id, ts_sec // 86400 AS dy, ci FROM (
            SELECT user_id, ts_sec, ci,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts_sec // 86400
                     ORDER BY ts_sec DESC, event_id DESC) AS rn
            FROM pts) WHERE rn = 1),
        capped AS (
          SELECT user_id, dy, ci FROM (
            SELECT user_id, dy, ci,
                   ROW_NUMBER() OVER (PARTITION BY dy, ci ORDER BY user_id)
                     AS rk
            FROM ph) WHERE rk <= $ConvoyCapK),
        pairs AS (
          SELECT a.user_id AS u1, b.user_id AS u2, a.dy, a.ci AS corridor
          FROM capped a JOIN capped b
            ON a.dy = b.dy AND a.ci = b.ci
           AND a.user_id < b.user_id),
        runs AS (
          SELECT u1, u2, dy, corridor,
                 dy - ROW_NUMBER() OVER (PARTITION BY u1, u2 ORDER BY dy)
                   AS grp
          FROM pairs)
        SELECT u1, u2, MIN(dy) AS start_day, COUNT(*) AS len_days,
               MIN(corridor) AS corridor
        FROM runs GROUP BY u1, u2, grp
        HAVING COUNT(*) >= 3
        ORDER BY u1, u2, start_day""")),

    // ----- geo_convoys_overflow: the density-cap audit twin ---------------
    // Every (day, corridor) whose occupancy exceeds ConvoyCapK, with its
    // occupancy and how many members the cap excluded from the convoy
    // pair join — the geo_cpa_overflow pattern: capped density is
    // REPORTED, never silently dropped. Empty at gate SFs (max occupancy
    // 11 < 64); engages at ×100 where it was cross-engine verified.
    "geo_convoys_overflow" -> Q(
      build = (s, d) =>
        convoyPerDay(s, d)
          .groupBy(col("dy"), col("ci").as("corridor"))
          .agg(count(lit(1)).as("occupancy"))
          .filter(col("occupancy") > ConvoyCapK)
          .withColumn("excluded", col("occupancy") - ConvoyCapK)
          .orderBy(col("dy"), col("corridor")),
      oracle = Some(s"""
        WITH pts AS (
          SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 event_id,
                 CAST(FLOOR($LAT) AS BIGINT) AS ci
          FROM events),
        ph AS (
          SELECT user_id, ts_sec // 86400 AS dy, ci FROM (
            SELECT user_id, ts_sec, ci,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts_sec // 86400
                     ORDER BY ts_sec DESC, event_id DESC) AS rn
            FROM pts) WHERE rn = 1)
        SELECT dy, ci AS corridor, CAST(COUNT(*) AS BIGINT) AS occupancy,
               CAST(COUNT(*) - $ConvoyCapK AS BIGINT) AS excluded
        FROM ph GROUP BY dy, ci
        HAVING COUNT(*) > $ConvoyCapK
        ORDER BY dy, corridor""")),

    // ----- geo_himawari_filenames: Himawari L2WLF feed codec -------------
    // The JAXA Himawari wildfire feed's full codec round trip, the last
    // named feed in the reference's coverage map: hotspot filename
    // synthesis with the timeline minute floored to 10
    // (odin_himawari/src/lib.rs:318 hotspot_filename), the remote FTP
    // directory layout /pub/himawari/L2/WLF/<VER>/<YYYYMM>/<DD>/<hh>
    // (lib.rs:344 remote_dir_name), the filename -> observation-time
    // parse (lib.rs:49 HS_RE / :323 date_of_hotspots), and the 14-field
    // raw hotspot CSV record decode (lib.rs:69 RawHimawariHotspot ->
    // :120 HimawariHotspot try_from, which silently drops records whose
    // level/reliability/quality enum codes don't deserialize). All
    // record numerics ride the line as integer-built fixed-point text
    // (HimK), so synthesis and re-parse are bit-identical cross-engine;
    // epochs come from make_date + pure integer arithmetic on both
    // engines. Scale shape: per-row codec map over the scan, one
    // OrderBy — no joins, no shuffles beyond the final sort. The Spark
    // side applies the enum-validity drop on the RAW synthesis arms
    // (event_id%7, user_id%7) where it pushes to the scan; the oracle
    // filters on the PARSED enum codes, proving the decode path end to
    // end (the geo_viirs_ingest pattern).
    "geo_himawari_filenames" -> Q(
      build = (s, d) => {
        val base = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"), col("ts_sec"))
          .filter(col("event_id") % 7 =!= 6 && col("user_id") % 7 =!= 6)
          .withColumn("tl_sec", col("ts_sec") - col("ts_sec") % 600)
        val named = base
          .withColumn("fname", expr(HimK.fname("timestamp_seconds(tl_sec)")))
          .withColumn("rdir", expr(HimK.rdir("timestamp_seconds(tl_sec)")))
          .withColumn("line", expr(HimK.line("timestamp_seconds(ts_sec)")))
        val sparkDays = (y: String, m: String, dd: String) =>
          s"CAST(datediff(make_date($y, $m, $dd), DATE '1970-01-01') AS BIGINT)"
        named
          .withColumn("file_epoch", expr(HimK.fileEpoch(sparkDays)))
          .withColumn("obs_epoch", expr(HimK.obsEpoch(sparkDays)))
          .selectExpr(Seq("event_id", "fname", "rdir", "file_epoch",
            "obs_epoch") ++ HimK.parsed: _*)
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT event_id, user_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT) % 600 AS tl_sec
          FROM events),
        named AS (
          SELECT event_id, user_id, value, ts_sec,
                 ${HimK.fname("make_timestamp(tl_sec * 1000000)")} AS fname,
                 ${HimK.rdir("make_timestamp(tl_sec * 1000000)")} AS rdir,
                 ${HimK.line("make_timestamp(ts_sec * 1000000)")} AS line
          FROM base),
        stamped AS (
          SELECT *,
                 ${HimK.fileEpoch((y, m, dd) =>
                   s"CAST(make_date($y, $m, $dd) - DATE '1970-01-01' AS BIGINT)")}
                   AS file_epoch,
                 ${HimK.obsEpoch((y, m, dd) =>
                   s"CAST(make_date($y, $m, $dd) - DATE '1970-01-01' AS BIGINT)")}
                   AS obs_epoch
          FROM named),
        parsed AS (
          SELECT event_id, fname, rdir, file_epoch, obs_epoch,
                 ${HimK.parsed.mkString(", ")}
          FROM stamped)
        SELECT * FROM parsed
        WHERE level IN (1, 2, 3) AND reliability IN (1, 3, 5)
          AND qf IN (0, 1, 2)
        ORDER BY event_id""")),

    // ----- geo_warp_lcc: Lambert-conformal → WGS84 raster warp -----------
    // odin_gdal/src/warp.rs:316 (SimpleWarpBuilder) reprojects between
    // arbitrary SRSes via PROJ; no GDAL ships in this container, so the
    // repo covers the reference's ACTUALLY-USED raster SRSes as named
    // pure-SQL warp paths: UTM↔WGS84 (geo_grid_resample — the DEM case)
    // and, here, the HRRR CONUS Lambert conformal conic (the GRIB2
    // template-3.30 grid src_grib2 decodes; odin_hrrr feeds exactly this
    // projection to every HRRR consumer). Source: a 160×120 synthetic
    // 3 km LCC grid (~1.1% nodata holes) anchored at fwd(35.2°,−112.3°);
    // target: a 0.05° lat/lon grid. Per target-cell center: LccK forward
    // (identical SQL text both engines, mm-rounded) → fractional source
    // cell → 4-corner bilinear; corners in nodata holes drop and the
    // remaining weights RENORMALIZE; no valid corner → NULL+valid=false.
    // Scale shape = geo_grid_resample's: target cells partition freely,
    // the source grid broadcasts (one shuffle for the corner agg; at
    // 100× bucket-co-locate both sides on (i, j)).
    "geo_warp_lcc" -> Q(
      build = (s, d) => {
        val tgt = Raster.lattice(s, "ti", 0 until 50, "tj", 0 until 60)
          .withColumn("lat", expr("36.0e0 + ti * 0.05e0"))
          .withColumn("lon", expr("-111.0e0 + tj * 0.05e0"))
          .withColumn("fx", expr(s"(${LccK.x("lat", "lon")} - ${LccK.x0}) / 3000.0e0"))
          .withColumn("fy", expr(s"(${LccK.y("lat", "lon")} - ${LccK.y0}) / 3000.0e0"))
        val src = Raster.lattice(s, "si", 0 until 160, "sj", 0 until 120)
          .withColumn("v", expr("CASE WHEN (si*13 + sj*7) % 89 = 0 THEN NULL ELSE CAST((si*23 + sj*41) % 400 AS DOUBLE) / 4.0e0 + 200.0e0 END"))
        val wt = Raster.sample(tgt, col("fx"), col("fy"), Raster.Bilinear, broadcast(src), "left")
        Raster.renormalised(wt, "ti", "tj", "lat", "lon").orderBy(col("ti"), col("tj"))
      },
      oracle = Some(s"""
        WITH tgt AS (
          SELECT ti.a AS ti, tj.b AS tj,
                 36.0e0 + ti.a * 0.05e0 AS lat,
                 -111.0e0 + tj.b * 0.05e0 AS lon
          FROM generate_series(0, 49) AS ti(a),
               generate_series(0, 59) AS tj(b)),
        fwd AS (
          SELECT ti, tj, lat, lon,
                 (${LccK.x("lat", "lon")} - ${LccK.x0}) / 3000.0e0 AS fx,
                 (${LccK.y("lat", "lon")} - ${LccK.y0}) / 3000.0e0 AS fy
          FROM tgt),
        cells AS (
          SELECT ti, tj, lat, lon,
                 CAST(floor(fx) AS BIGINT) AS i,
                 CAST(floor(fy) AS BIGINT) AS j,
                 fx - floor(fx) AS di,
                 fy - floor(fy) AS dj
          FROM fwd),
        src AS (
          SELECT si.a AS si, sj.b AS sj,
                 CASE WHEN (si.a*13 + sj.b*7) % 89 = 0 THEN NULL
                      ELSE CAST((si.a*23 + sj.b*41) % 400 AS DOUBLE) / 4.0e0
                           + 200.0e0
                 END AS v
          FROM generate_series(0, 159) AS si(a),
               generate_series(0, 119) AS sj(b)),
        corners AS (
          SELECT c.*, ci.c AS ci, cj.c AS cj
          FROM cells c, generate_series(0, 1) AS ci(c),
               generate_series(0, 1) AS cj(c)),
        wt AS (
          SELECT c.ti, c.tj, c.lat, c.lon, c.ci*2 + c.cj AS ord, s.v,
                 (CASE WHEN c.ci = 0 THEN 1.0e0 - c.di ELSE c.di END)
                 * (CASE WHEN c.cj = 0 THEN 1.0e0 - c.dj ELSE c.dj END) AS w
          FROM corners c LEFT JOIN src s
            ON c.i + c.ci = s.si AND c.j + c.cj = s.sj),
        agg AS (
          SELECT ti, tj, lat, lon,
                 SUM(CASE WHEN ord = 0 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w0,
                 SUM(CASE WHEN ord = 0 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v0,
                 SUM(CASE WHEN ord = 1 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w1,
                 SUM(CASE WHEN ord = 1 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v1,
                 SUM(CASE WHEN ord = 2 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w2,
                 SUM(CASE WHEN ord = 2 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v2,
                 SUM(CASE WHEN ord = 3 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w3,
                 SUM(CASE WHEN ord = 3 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v3
          FROM wt GROUP BY 1, 2, 3, 4)
        SELECT ti, tj, lat, lon,
               ((w0 + w1) + w2) + w3 > 0.0e0 AS valid,
               CASE WHEN ((w0 + w1) + w2) + w3 > 0.0e0
                    THEN (((v0 + v1) + v2) + v3) / (((w0 + w1) + w2) + w3)
               END AS value
        FROM agg ORDER BY ti, tj""")),

    // ----- geo_warp_ps: polar-stereographic → WGS84 raster warp ----------
    // Third named SRS path (with geo_grid_resample's UTM and
    // geo_warp_lcc's Lambert conformal), completing the GRIB grid-
    // definition trio a weather-data consumer meets: template 3.20
    // polar stereographic, here the NDFD Alaska convention (60°N
    // standard parallel, LoV −150°, 5 km cells — the high-latitude grid
    // where Lambert breaks down). Same skeleton: PsK forward (Snyder
    // spherical, engine-shared SQL, mm-rounded) → fractional source
    // cell → 4-corner bilinear with nodata renormalization; same
    // broadcast-source / free-partitioning scale shape.
    "geo_warp_ps" -> Q(
      build = (s, d) => {
        val tgt = Raster.lattice(s, "ti", 0 until 80, "tj", 0 until 60)
          .withColumn("lat", expr("58.0e0 + ti * 0.05e0"))
          .withColumn("lon", expr("-160.0e0 + tj * 0.25e0"))
          .withColumn("fx", expr(s"(${PsK.x("lat", "lon")} - ${PsK.x0}) / 5000.0e0"))
          .withColumn("fy", expr(s"(${PsK.y("lat", "lon")} - ${PsK.y0}) / 5000.0e0"))
        val src = Raster.lattice(s, "si", 0 until 230, "sj", 0 until 110)
          .withColumn("v", expr("CASE WHEN (si*17 + sj*29) % 83 = 0 THEN NULL ELSE CAST((si*19 + sj*47) % 600 AS DOUBLE) / 8.0e0 - 30.0e0 END"))
        val wt = Raster.sample(tgt, col("fx"), col("fy"), Raster.Bilinear, broadcast(src), "left")
        Raster.renormalised(wt, "ti", "tj", "lat", "lon").orderBy(col("ti"), col("tj"))
      },
      oracle = Some(s"""
        WITH tgt AS (
          SELECT ti.a AS ti, tj.b AS tj,
                 58.0e0 + ti.a * 0.05e0 AS lat,
                 -160.0e0 + tj.b * 0.25e0 AS lon
          FROM generate_series(0, 79) AS ti(a),
               generate_series(0, 59) AS tj(b)),
        fwd AS (
          SELECT ti, tj, lat, lon,
                 (${PsK.x("lat", "lon")} - ${PsK.x0}) / 5000.0e0 AS fx,
                 (${PsK.y("lat", "lon")} - ${PsK.y0}) / 5000.0e0 AS fy
          FROM tgt),
        cells AS (
          SELECT ti, tj, lat, lon,
                 CAST(floor(fx) AS BIGINT) AS i,
                 CAST(floor(fy) AS BIGINT) AS j,
                 fx - floor(fx) AS di,
                 fy - floor(fy) AS dj
          FROM fwd),
        src AS (
          SELECT si.a AS si, sj.b AS sj,
                 CASE WHEN (si.a*17 + sj.b*29) % 83 = 0 THEN NULL
                      ELSE CAST((si.a*19 + sj.b*47) % 600 AS DOUBLE) / 8.0e0
                           - 30.0e0
                 END AS v
          FROM generate_series(0, 229) AS si(a),
               generate_series(0, 109) AS sj(b)),
        corners AS (
          SELECT c.*, ci.c AS ci, cj.c AS cj
          FROM cells c, generate_series(0, 1) AS ci(c),
               generate_series(0, 1) AS cj(c)),
        wt AS (
          SELECT c.ti, c.tj, c.lat, c.lon, c.ci*2 + c.cj AS ord, s.v,
                 (CASE WHEN c.ci = 0 THEN 1.0e0 - c.di ELSE c.di END)
                 * (CASE WHEN c.cj = 0 THEN 1.0e0 - c.dj ELSE c.dj END) AS w
          FROM corners c LEFT JOIN src s
            ON c.i + c.ci = s.si AND c.j + c.cj = s.sj),
        agg AS (
          SELECT ti, tj, lat, lon,
                 SUM(CASE WHEN ord = 0 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w0,
                 SUM(CASE WHEN ord = 0 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v0,
                 SUM(CASE WHEN ord = 1 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w1,
                 SUM(CASE WHEN ord = 1 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v1,
                 SUM(CASE WHEN ord = 2 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w2,
                 SUM(CASE WHEN ord = 2 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v2,
                 SUM(CASE WHEN ord = 3 AND v IS NOT NULL THEN w ELSE 0.0e0 END) AS w3,
                 SUM(CASE WHEN ord = 3 AND v IS NOT NULL THEN w*v ELSE 0.0e0 END) AS v3
          FROM wt GROUP BY 1, 2, 3, 4)
        SELECT ti, tj, lat, lon,
               ((w0 + w1) + w2) + w3 > 0.0e0 AS valid,
               CASE WHEN ((w0 + w1) + w2) + w3 > 0.0e0
                    THEN (((v0 + v1) + v2) + v3) / (((w0 + w1) + w2) + w3)
               END AS value
        FROM agg ORDER BY ti, tj""")),

    // ----- src_grib2_ps: GRIB2 template-3.20 grid, end-to-end ------------
    // The reader-side twin of geo_warp_ps: a polar-stereographic GRIB2
    // file (NDFD Alaska convention — LaD 60°N, LoV −150°, 5 km cells,
    // PNG packing 5.41) is decoded by Grib2Provider and every cell's
    // value AND geolocation are oracle-checked. Values round-trip
    // exactly (dyadic quantization, see fixture); cell lat/lons are
    // recomputed by the engine-shared PsInvK inverse SQL (identical text
    // both engines, micro-degree rounded), and `geo_ok` asserts the
    // reader's own Snyder inverse (Grib2.PsMath, the Scala form of the
    // same formula) agrees within 1e-6° — so a reader geolocation bug
    // breaks the hash. Single tiny file: the scan is one partition; at
    // scale the provider fans out file x message (MultiFileSourcesSpec).
    "src_grib2_ps" -> Q(
      build = (s, _) => {
        val xS = PsInvK.x("col"); val yS = PsInvK.y("row")
        s.read.format("graft.sources.Grib2Provider")
          .option("path", psFixturePath).load()
          .select(col("row"), col("col"), col("lat"), col("lon"), col("value"))
          .withColumn("lat_sql", expr(PsInvK.lat(xS, yS)))
          .withColumn("lon_sql", expr(PsInvK.lon(xS, yS)))
          .select(col("row").cast("long").as("gi"),
            col("col").cast("long").as("gj"),
            expr("round(lat_sql, 6)").as("lat6"),
            expr("round(lon_sql, 6)").as("lon6"),
            col("value"),
            expr("abs(lat - lat_sql) < 1.0e-6 AND abs(lon - lon_sql) < 1.0e-6")
              .as("geo_ok"))
          .orderBy(col("gi"), col("gj"))
      },
      oracle = Some(s"""
        WITH cells AS (
          SELECT r.a AS gi, c.b AS gj
          FROM generate_series(0, 24) AS r(a), generate_series(0, 39) AS c(b)),
        pos AS (
          SELECT gi, gj, ${PsInvK.x("gj")} AS x, ${PsInvK.y("gi")} AS y
          FROM cells)
        SELECT gi, gj,
               round(${PsInvK.lat("x", "y")}, 6) AS lat6,
               round(${PsInvK.lon("x", "y")}, 6) AS lon6,
               CAST((gi*19 + gj*47) % 600 AS DOUBLE)/4.0e0 - 30.0e0 AS value,
               TRUE AS geo_ok
        FROM pos ORDER BY gi, gj""")),

    // ----- src_grib2_rle: GRIB2 run-length packing (5.200), end-to-end ---
    // The categorical-product read path (NDFD weather type, JMA radar
    // intensity — products odin_goesr/odin_wx-class consumers ingest):
    // a template-5.200 run-length-packed lat/lon grid is decoded by
    // Grib2Provider and every cell's value and geolocation are
    // oracle-checked. The fixture exercises the whole template: a
    // 300-cell run whose repeat count needs TWO base-249 digits, the
    // short mixed-level runs, and level-0 in-stream missing (no
    // section-6 bitmap — null value). Levels decode exactly (2-octet
    // scaled representatives / 10^1); the lat/lon recomputation is the
    // same IEEE (la1 − r·dj) in both engines.
    "src_grib2_rle" -> Q(
      build = (s, _) =>
        s.read.format("graft.sources.Grib2Provider")
          .option("path", rleFixturePath).load()
          .select(col("row").cast("long").as("gi"),
            col("col").cast("long").as("gj"),
            expr("round(lat, 6)").as("lat6"),
            expr("round(lon, 6)").as("lon6"),
            col("value"))
          .orderBy(col("gi"), col("gj")),
      oracle = Some("""
        WITH cells AS (
          SELECT r.a AS gi, c.b AS gj
          FROM generate_series(0, 29) AS r(a), generate_series(0, 19) AS c(b))
        SELECT gi, gj,
               round(60.0e0 - gi * 0.1e0, 6) AS lat6,
               round(-100.0e0 + gj * 0.1e0, 6) AS lon6,
               CASE WHEN gi >= 15 AND (gi*5 + gj*11) % 37 = 0 THEN NULL
                    WHEN gi < 15 THEN 25.0e0
                    ELSE CAST(((gi*3 + gj // 4) % 6) * 5 + 10 AS DOUBLE)
               END AS value
        FROM cells ORDER BY gi, gj""")),

    // ----- src_geotiff_dem: GeoTIFF int16 DEM read, end-to-end ------------
    // Full-oracle twin for the GeoTIFF reader (the src_grib2_ps pattern):
    // a signed-int16 DEM in the SRTM/ASTER production combination —
    // LZW-compressed with horizontal predictor 2 — is decoded by
    // GeoTiffProvider and every cell's value AND georeference is
    // driver-hash-checked against the closed-form fixture definition.
    // Exercises the whole decode chain (strip scan, LZW, h16 predictor,
    // int16 samples, tiepoint/scale geolocation) cross-engine each round.
    "src_geotiff_dem" -> Q(
      build = (s, _) =>
        s.read.format("graft.sources.GeoTiffProvider")
          .option("path", demFixturePath).load()
          .select(col("row").cast("long").as("gi"),
            col("col").cast("long").as("gj"),
            col("lon"), col("lat"), col("value"))
          .orderBy(col("gi"), col("gj")),
      oracle = Some("""
        SELECT r.a AS gi, c.b AS gj,
               -120.0e0 + c.b * 0.01e0 AS lon,
               45.0e0 - r.a * 0.01e0 AS lat,
               CAST(r.a*3 + c.b//2 + (r.a*31 + c.b*7) % 11 - 40 AS DOUBLE)
                 AS value
        FROM generate_series(0, 39) AS r(a), generate_series(0, 59) AS c(b)
        ORDER BY gi, gj""")),

    // ----- src_geotiff_rgb: multi-band GeoTIFF read, end-to-end ----------
    // Full-oracle twin for the MULTI-BAND GeoTIFF path (r11): an RGB
    // orthophoto-shaped fixture — 3 uint8 bands, chunky interleaved,
    // LZW + channel-strided horizontal predictor 2, the GDAL default
    // combo for compressed RGB — is decoded by GeoTiffProvider and every
    // (cell, band) sample plus its geolocation is driver-hash-checked
    // against the closed-form band formula. Exercises per-sample
    // BitsPerSample/SampleFormat arrays, SamplesPerPixel,
    // PlanarConfiguration, and the spp-strided predictor in one gate.
    "src_geotiff_rgb" -> Q(
      build = (s, _) =>
        s.read.format("graft.sources.GeoTiffProvider")
          .option("path", rgbFixturePath).load()
          .select(col("row").cast("long").as("gi"),
            col("col").cast("long").as("gj"),
            col("band").cast("long").as("gb"),
            col("lon"), col("lat"), col("value"))
          .orderBy(col("gi"), col("gj"), col("gb")),
      oracle = Some("""
        SELECT r.a AS gi, c.b AS gj, bb.k AS gb,
               10.0e0 + c.b * 0.02e0 AS lon,
               20.0e0 - r.a * 0.02e0 AS lat,
               CAST((r.a*7 + c.b*13 + bb.k*41 + (r.a*c.b + bb.k) % 29) % 256
                 AS DOUBLE) AS value
        FROM generate_series(0, 19) AS r(a), generate_series(0, 29) AS c(b),
             generate_series(0, 2) AS bb(k)
        ORDER BY gi, gj, gb""")),

    // ----- src_netcdf_goes: netCDF-4/HDF5 read, end-to-end ----------------
    // Full-oracle twin for the HDF5-backed NetCDF reader: a GOES-R-shaped
    // fixture (scaled-int16 grids, chunked + gzip(+shuffle), float grid,
    // _FillValue semantics) is decoded by NetcdfProvider and every cell's
    // raw AND physical value is driver-hash-checked against the
    // closed-form definition. With Hdf5GoldenSpec (structure) this closes
    // the matched-pair caveat from the VALUE side: the decode chain —
    // superblock walk, chunk B-tree, gzip, shuffle, scale/offset/fill —
    // must reproduce pure-SQL arithmetic every round.
    "src_netcdf_goes" -> Q(
      build = (s, _) =>
        s.read.format("graft.sources.NetcdfProvider")
          .option("path", goesFixturePath).load()
          .select(col("var"), col("i").cast("long").as("gi"),
            col("j").cast("long").as("gj"), col("raw"), col("value"))
          .orderBy(col("var"), col("gi"), col("gj")),
      oracle = Some("""
        WITH cells AS (
          SELECT i.a AS gi, j.b AS gj
          FROM generate_series(0, 19) AS i(a), generate_series(0, 29) AS j(b))
        SELECT 'Mask' AS var, gi, gj,
               CAST((gi*13 + gj*7) % 50 AS BIGINT) AS raw,
               CAST((gi*13 + gj*7) % 50 AS DOUBLE) AS value
        FROM cells
        UNION ALL
        SELECT 'Power' AS var, gi, gj,
               CASE WHEN (gi + gj) % 9 = 0 THEN CAST(-1 AS BIGINT)
                    ELSE CAST((gi*3 + gj) % 60 AS BIGINT) END AS raw,
               CASE WHEN (gi + gj) % 9 = 0 THEN NULL
                    ELSE CAST((gi*3 + gj) % 60 AS DOUBLE) * 0.25e0 + 100.0e0
               END AS value
        FROM cells
        UNION ALL
        SELECT 'Temp' AS var, gi, gj,
               CAST(NULL AS BIGINT) AS raw,
               CAST((gi*5 + gj*3) % 40 AS DOUBLE) * 0.25e0 AS value
        FROM cells
        ORDER BY var, gi, gj"""))
  )

  /** The src_geotiff_dem fixture: 60×40 signed-int16 DEM, LZW +
    * horizontal predictor 2 (what `gdal_translate -co COMPRESS=LZW -co
    * PREDICTOR=2` emits), elevation = r·3 + c/2 + (r·31+c·7) mod 11 − 40
    * (integer-exact both engines). Pure function of source; written once
    * per JVM.
    */
  private lazy val demFixturePath: String = {
    val f = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_src_geotiff_dem.tif")
    val data = Array.tabulate(40 * 60) { k =>
      val r = k / 60; val c = k % 60
      (r * 3 + c / 2 + (r * 31 + c * 7) % 11 - 40).toShort
    }
    graft.sources.GeoTiff.writeInt16(f.toString, 60, 40, data,
      originLon = -120.0, originLat = 45.0, sx = 0.01, sy = 0.01,
      rowsPerStrip = 16, lzw = true, predictor2 = true)
    f.toString
  }

  /** The src_geotiff_rgb fixture: 3-band uint8 chunky RGB, 20×30, LZW +
    * horizontal predictor 2 (channel-strided). Pure function of source;
    * written once per JVM.
    */
  private lazy val rgbFixturePath: String = {
    val f = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_src_geotiff_rgb.tif")
    val (h, w) = (20, 30)
    val bands = (0 until 3).map(b => Array.tabulate(h * w) { k =>
      val r = k / w; val c = k % w
      ((r * 7 + c * 13 + b * 41 + (r * c + b) % 29) % 256).toByte
    })
    graft.sources.GeoTiff.writeBands8(f.toString, w, h, bands,
      originLon = 10.0, originLat = 20.0, sx = 0.02, sy = 0.02,
      rowsPerStrip = 8, lzw = true, predictor2 = true)
    f.toString
  }

  /** The src_netcdf_goes fixture: netCDF-4/HDF5 with the GOES-R L2 value
    * semantics — Mask (int16, chunked 8×8, gzip+shuffle, unscaled),
    * Power (int16, chunked 8×8, gzip, scale 0.25 / offset 100 /
    * _FillValue −1 — all dyadic, so raw·scale+offset is exact), Temp
    * (float32 contiguous, quarter-steps exact in float). Pure function
    * of source; written once per JVM.
    */
  private lazy val goesFixturePath: String = {
    val f = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_src_netcdf_goes.nc")
    val (h, w) = (20, 30)
    def grid(g: (Int, Int) => Double) =
      Array.tabulate(h * w)(k => g(k / w, k % w))
    graft.sources.Hdf5.write(f.toString, Seq(
      graft.sources.Hdf5.H5WVar("Mask", graft.sources.Netcdf.NcShort,
        Seq(h, w), grid((i, j) => ((i * 13 + j * 7) % 50).toDouble),
        chunkDims = Seq(8, 8), gzip = true, shuffle = true),
      graft.sources.Hdf5.H5WVar("Power", graft.sources.Netcdf.NcShort,
        Seq(h, w), grid((i, j) =>
          if ((i + j) % 9 == 0) -1.0 else ((i * 3 + j) % 60).toDouble),
        chunkDims = Seq(8, 8), gzip = true,
        scale = Some(0.25), offset = Some(100.0), fill = Some(-1.0)),
      graft.sources.Hdf5.H5WVar("Temp", graft.sources.Netcdf.NcFloat,
        Seq(h, w), grid((i, j) => ((i * 5 + j * 3) % 40) * 0.25))))
    f.toString
  }

  /** Shared daily-last-fix frame for geo_convoys and its overflow audit:
    * per (user, day), the corridor of the (ts_sec, event_id)-max fix.
    */
  private def convoyPerDay(s: SparkSession, d: String): DataFrame =
    evPts(s, d)
      .select(col("user_id"), expr("ts_sec div 86400").as("dy"),
        col("ts_sec"), col("event_id"),
        expr("CAST(FLOOR(lat) AS BIGINT)").as("ci"))
      .groupBy(col("user_id"), col("dy"))
      .agg(max(struct(col("ts_sec"), col("event_id"), col("ci"))).as("m"))
      .select(col("user_id"), col("dy"), col("m.ci").as("ci"))

  /** The committed-in-code src_grib2_ps fixture: a 40×25 template-3.20
    * grid anchored at (57°N, 163°W), v(r,c) = ((r·19 + c·47) mod 600)/4
    * − 30 — dyadic steps at decScale 2, so PNG packing round-trips every
    * value bit-exactly ((25k−3000)/100 is correctly rounded to the exact
    * dyadic (k−120)/4). Written once per JVM to the tmpdir; a pure
    * function of source (no RNG, no clock).
    */
  private lazy val psFixturePath: String = {
    val f = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_src_grib2_ps.grib2")
    val vals = Array.tabulate(25 * 40) { i =>
      ((i / 40) * 19 + (i % 40) * 47) % 600 / 4.0 - 30.0
    }
    graft.sources.Grib2.write(f.toString, Seq(graft.sources.Grib2.Field(
      discipline = 0, category = 0, parameter = 0, levelType = 1, level = 0,
      year = 2026, month = 8, day = 15, hour = 0, forecastHour = 0,
      ni = 40, nj = 25, la1Deg = 57.0, lo1Deg = -163.0,
      diDeg = 0.0, djDeg = 0.0, values = vals,
      decScale = 2, nBits = 16, packing = 41,
      ps = Some(graft.sources.Grib2.Ps(60.0, -150.0, 5000.0, 5000.0)))))
    f.toString
  }

  /** The committed-in-code src_grib2_rle fixture: a 20×30 template-3.0
    * lat/lon grid (60°N/−100°E anchor, 0.1° cells) run-length packed
    * with level values (5.200, decScale 1). Rows 0–14 are one constant
    * category (a 300-cell run → two base-249 repeat digits); rows 15+
    * cycle 6 categories in length-4 runs with scattered level-0 missing
    * cells. Values are multiples of 5 at decScale 1, so every level
    * representative divides back exactly. Written once per JVM.
    */
  private lazy val rleFixturePath: String = {
    val f = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_src_grib2_rle.grib2")
    val vals = Array.tabulate(30 * 20) { i =>
      val r = i / 20; val c = i % 20
      if (r < 15) 25.0
      else if ((r * 5 + c * 11) % 37 == 0) Double.NaN
      else ((r * 3 + c / 4) % 6) * 5.0 + 10.0
    }
    graft.sources.Grib2.write(f.toString, Seq(graft.sources.Grib2.Field(
      discipline = 0, category = 1, parameter = 192, levelType = 1, level = 0,
      year = 2026, month = 8, day = 16, hour = 0, forecastHour = 0,
      ni = 20, nj = 30, la1Deg = 60.0, lo1Deg = -100.0,
      diDeg = 0.1, djDeg = 0.1, values = vals,
      decScale = 1, packing = 200)))
    f.toString
  }

  /** Engine-shared polar-stereographic INVERSE fragments (Snyder 1987,
    * eq. 20-14/20-16 with 21-15 ρ), fixed to the src_grib2_ps fixture
    * conventions: LaD 60°N, LoV −150°, anchor cell (57°N, 163°W), 5 km
    * spacing. The anchor forward is UNROUNDED (unlike PsK's mm-rounded
    * warp fragments) because it must reproduce the reader's
    * Grib2.PsMath.forward arithmetic exactly.
    */
  private[graft] object PsInvK {
    private val K0 = "((1.0e0 + sin(radians(60.0e0))) / 2.0e0)"
    private def rho(lat: String) =
      s"(2.0e0 * 6371229.0e0 * $K0 * tan(pi()/4.0e0 - radians($lat)/2.0e0))"
    private def dl(lon: String) = s"(radians($lon) - radians(-150.0e0))"
    private val x1 = s"(${rho("57.0e0")} * sin(${dl("-163.0e0")}))"
    private val y1 = s"(0.0e0 - ${rho("57.0e0")} * cos(${dl("-163.0e0")}))"
    def x(colE: String): String = s"($x1 + ($colE) * 5000.0e0)"
    def y(rowE: String): String = s"($y1 + ($rowE) * 5000.0e0)"
    def lat(xE: String, yE: String): String =
      s"""(90.0e0 - degrees(2.0e0 * atan(
         sqrt(($xE)*($xE) + ($yE)*($yE))
         / (2.0e0 * 6371229.0e0 * $K0))))"""
    def lon(xE: String, yE: String): String =
      s"(-150.0e0 + degrees(atan2($xE, 0.0e0 - ($yE))))"
  }

  /** Cube rounding for axial hex coords as one shared formula pair: round
    * q, r, s=-q-r to integers (FLOOR(x+0.5) — exact), then re-derive the
    * axis with the largest rounding error from the other two. Returns the
    * (hq, hr) SQL fragments.
    */
  private def hexRound(q0: String, r0: String): (String, String) = {
    val s0 = s"(-($q0) - ($r0))"
    def R(x: String) = s"CAST(FLOOR(($x) + 0.5e0) AS BIGINT)"
    val (rq, rr, rs) = (R(q0), R(r0), R(s0))
    val dq = s"abs(CAST($rq AS DOUBLE) - ($q0))"
    val dr = s"abs(CAST($rr AS DOUBLE) - ($r0))"
    val ds = s"abs(CAST($rs AS DOUBLE) - ($s0))"
    val hq = s"CASE WHEN $dq > $dr AND $dq > $ds THEN -($rr) - ($rs) ELSE $rq END"
    val hr = s"CASE WHEN $dq > $dr AND $dq > $ds THEN $rr WHEN $dr > $ds THEN -($rq) - ($rs) ELSE $rr END"
    (hq, hr)
  }

  /** Engine-shared fragments for the Himawari L2WLF codec round trip
    * (geo_himawari_filenames): filename / remote-dir synthesis
    * (odin_himawari/src/lib.rs:318/:344), fixed-position filename parse
    * (the layout HS_RE at lib.rs:49 matches is positionally fixed, so
    * the parse is substr-based — identical text on both engines, which
    * a regex literal could not be: Spark SQL strings process backslash
    * escapes, DuckDB's don't), and the 14-field raw hotspot record
    * (lib.rs:69 RawHimawariHotspot field order). Record numerics ride
    * as integer-built fixed-point text so no raw double is ever
    * formatted.
    */
  private[graft] object HimK {
    /** integer hundredths -> fixed 2-decimal string, sign-aware. */
    private def fp2(c: String): String = s"""concat(
      CASE WHEN ($c) < 0 THEN '-' ELSE '' END,
      CAST(CAST(floor(abs($c) / 100.0) AS BIGINT) AS STRING), '.',
      lpad(CAST(abs($c) % 100 AS STRING), 2, '0'))"""

    /** Hnn_YYYYMMDD_hhmm_L2WLFVER_FLDK.xxxxx_yyyyy.csv (lib.rs:304).
      * Deliberate deviation: the reference's hotspot_filename formats the
      * literal 'L2WLFVER_FLDK..' (VER unsubstituted, doubled dot — a bug
      * in lib.rs:318); this synthesis emits the JAXA naming convention
      * the reference's own HS_RE parser (lib.rs:92) actually accepts. */
    def fname(t: String): String = s"""concat('H09_',
      lpad(CAST(year($t) AS STRING), 4, '0'),
      lpad(CAST(month($t) AS STRING), 2, '0'),
      lpad(CAST(day($t) AS STRING), 2, '0'), '_',
      lpad(CAST(hour($t) AS STRING), 2, '0'),
      lpad(CAST(minute($t) AS STRING), 2, '0'),
      '_L2WLF010_FLDK.06001_06001.csv')"""

    /** /pub/himawari/L2/WLF/<VER>/<YYYYMM>/<DD>/<hh> (lib.rs:344). */
    def rdir(t: String): String = s"""concat('/pub/himawari/L2/WLF/010/',
      lpad(CAST(year($t) AS STRING), 4, '0'),
      lpad(CAST(month($t) AS STRING), 2, '0'), '/',
      lpad(CAST(day($t) AS STRING), 2, '0'), '/',
      lpad(CAST(hour($t) AS STRING), 2, '0'))"""

    /** 14-field raw record: id,year,month,day,hhmm,lat,lon,area,volcano,
      * level,reliability,frp,qf,hc (lib.rs:69). The level/reliability
      * arms include out-of-enum codes (9 / 2) on event_id%7=6 /
      * user_id%7=6 rows — the records try_from drops (lib.rs:120).
      */
    def line(t: String): String = s"""concat_ws(',',
      CAST(event_id AS STRING),
      CAST(year($t) AS STRING),
      CAST(month($t) AS STRING),
      CAST(day($t) AS STRING),
      CAST(CAST(floor((ts_sec % 86400) / 3600.0) AS BIGINT) * 100
           + CAST(floor((ts_sec % 3600) / 60.0) AS BIGINT) AS STRING),
      ${fp2("event_id * 7 % 12000 - 6000")},
      ${fp2("event_id * 13 % 36000 - 18000")},
      ${fp2("user_id * 17 % 2500")},
      CAST(user_id % 4 AS STRING),
      CAST(CASE WHEN event_id % 7 = 6 THEN 9
                ELSE event_id % 3 + 1 END AS STRING),
      CAST(CASE WHEN user_id % 7 = 6 THEN 2
                ELSE (user_id % 3) * 2 + 1 END AS STRING),
      ${fp2("event_id * 31 % 100000")},
      CAST(event_id % 3 AS STRING),
      CAST(event_id % 97 AS STRING))"""

    /** filename -> epoch sec (date_of_hotspots, lib.rs:323); `days` is
      * the engine's days-since-epoch form over (y, m, d) fragments.
      */
    def fileEpoch(days: (String, String, String) => String): String = {
      val y = "CAST(substr(fname, 5, 4) AS INT)"
      val m = "CAST(substr(fname, 9, 2) AS INT)"
      val d = "CAST(substr(fname, 11, 2) AS INT)"
      s"""(${days(y, m, d)} * 86400
        + CAST(substr(fname, 14, 2) AS BIGINT) * 3600
        + CAST(substr(fname, 16, 2) AS BIGINT) * 60)"""
    }

    /** record fields 2-5 -> epoch sec (try_from date logic, lib.rs:121). */
    def obsEpoch(days: (String, String, String) => String): String = {
      val y = "CAST(split_part(line, ',', 2) AS INT)"
      val m = "CAST(split_part(line, ',', 3) AS INT)"
      val d = "CAST(split_part(line, ',', 4) AS INT)"
      val t = "CAST(split_part(line, ',', 5) AS BIGINT)"
      s"""(${days(y, m, d)} * 86400
        + CAST(floor($t / 100.0) AS BIGINT) * 3600 + ($t % 100) * 60)"""
    }

    /** typed decode of the record tail (identical text both engines). */
    val parsed: Seq[String] = Seq(
      "CAST(split_part(line, ',', 1) AS BIGINT) AS hs_id",
      "CAST(split_part(line, ',', 6) AS DOUBLE) AS lat",
      "CAST(split_part(line, ',', 7) AS DOUBLE) AS lon",
      "CAST(split_part(line, ',', 8) AS DOUBLE) AS area_km2",
      "CAST(split_part(line, ',', 9) AS BIGINT) AS volcano",
      "CAST(split_part(line, ',', 10) AS BIGINT) AS level",
      "CAST(split_part(line, ',', 11) AS BIGINT) AS reliability",
      "CAST(split_part(line, ',', 12) AS DOUBLE) AS frp_mw",
      "CAST(split_part(line, ',', 13) AS BIGINT) AS qf",
      "CAST(split_part(line, ',', 14) AS BIGINT) AS hc")
  }

  /** Engine-shared Lambert-conformal-conic forward fragments (Snyder
    * 1987 eq. 15-1..15-4, spherical, one standard parallel), fixed to
    * the HRRR CONUS projection the GRIB2 template-3.30 reader
    * (sources/Grib2Provider.LccMath) already decodes: latin1 = latin2 =
    * 38.5°N → n = sin(38.5°), LoV = −97.5°, sphere R = 6371229 m.
    * Identical SQL text on both engines; outputs are mm-rounded so a
    * last-ulp libm wiggle cannot flip a downstream cell floor (the
    * UtmK/geo_grid_resample idiom). Valid away from the antimeridian
    * wrap (CONUS lons — no wrap normalization in SQL).
    */
  private[graft] object LccK {
    private val N = "sin(radians(38.5e0))"
    private val F = s"(cos(radians(38.5e0)) " +
      s"* pow(tan(pi()/4.0e0 + radians(38.5e0)/2.0e0), $N) / $N)"
    private def rho(phi: String) =
      s"(6371229.0e0 * $F / pow(tan(pi()/4.0e0 + ($phi)/2.0e0), $N))"
    private val rho0 = rho("radians(38.5e0)")
    private def th(lon: String) =
      s"($N * (radians($lon) - radians(-97.5e0)))"
    /** mm-rounded easting / northing (m) from lat/lon degree exprs. */
    def x(lat: String, lon: String): String =
      s"round(${rho(s"radians($lat)")} * sin(${th(lon)}), 3)"
    def y(lat: String, lon: String): String =
      s"round($rho0 - ${rho(s"radians($lat)")} * cos(${th(lon)}), 3)"
    /** warp-grid origin: first cell center of the synthetic 3 km grid. */
    val x0: String = x("35.2e0", "-112.3e0")
    val y0: String = y("35.2e0", "-112.3e0")
  }

  /** Engine-shared polar-stereographic forward fragments (Snyder 1987
    * eq. 21-8/21-9, spherical, north polar aspect), fixed to the NDFD
    * Alaska grid convention (GRIB2 template 3.20): standard parallel
    * 60°N → k0 = (1+sin 60°)/2, orientation LoV = −150°, sphere
    * R = 6371229 m. Same mm-rounding contract as LccK/UtmK.
    */
  private[graft] object PsK {
    private val K0 = "((1.0e0 + sin(radians(60.0e0))) / 2.0e0)"
    private def rho(lat: String) =
      s"(2.0e0 * 6371229.0e0 * $K0 * tan(pi()/4.0e0 - radians($lat)/2.0e0))"
    private def dl(lon: String) = s"(radians($lon) - radians(-150.0e0))"
    def x(lat: String, lon: String): String =
      s"round(${rho(lat)} * sin(${dl(lon)}), 3)"
    def y(lat: String, lon: String): String =
      s"round(0.0e0 - ${rho(lat)} * cos(${dl(lon)}), 3)"
    /** warp-grid origin: first cell center of the synthetic 5 km grid. */
    val x0: String = x("57.0e0", "-163.0e0")
    val y0: String = y("57.0e0", "-163.0e0")
  }

  /** Engine-shared fragments for the FIRMS VIIRS CSV round trip
    * (firms.rs:117 field order). Numeric fields ride the line as
    * integer-scaled text (micro-degrees, deci-Kelvin, meters, centi-MW)
    * so synthesis never formats a raw double; the parse applies the
    * reference's unit conversions.
    */
  /** Engine-shared pure-integer civil-date fragments (Howard Hinnant's
    * public-domain civil_from_days / days_from_civil algorithms): the
    * 'yyyy-MM-dd' date string and its inverse epoch are computed with
    * BIGINT div/mod only — no strftime/strptime/from_unixtime, no
    * date/timestamp type, no session-TZ surface, and therefore no
    * cross-engine or cross-version datetime behavior to diverge. The
    * `div` parameter is the one non-shared token ("div" Spark, "//"
    * DuckDB). Valid for non-negative epoch seconds (all testdata).
    */
  private[graft] object DateK {
    /** 'yyyy-MM-dd' from a non-negative epoch-seconds expression. */
    def dateStr(tsSec: String, div: String): String = {
      val z = s"(($tsSec) $div 86400 + 719468)"
      val era = s"($z $div 146097)"
      val doe = s"($z - $era*146097)"
      val yoe =
        s"(($doe - $doe $div 1460 + $doe $div 36524 - $doe $div 146096) $div 365)"
      val doy = s"($doe - (365*$yoe + $yoe $div 4 - $yoe $div 100))"
      val mp = s"((5*$doy + 2) $div 153)"
      val dd = s"($doy - (153*$mp + 2) $div 5 + 1)"
      val mm = s"($mp + CASE WHEN $mp < 10 THEN 3 ELSE -9 END)"
      val yy = s"($yoe + $era*400 + CASE WHEN $mm <= 2 THEN 1 ELSE 0 END)"
      s"""concat(lpad(CAST($yy AS STRING), 4, '0'), '-',
         lpad(CAST($mm AS STRING), 2, '0'), '-',
         lpad(CAST($dd AS STRING), 2, '0'))"""
    }

    /** Midnight epoch seconds from a 'yyyy-MM-dd' string expression
      * (fixed-position substr decode, pure integer days_from_civil). */
    def epochFromDate(ds: String, div: String): String = {
      val y = s"CAST(substr($ds, 1, 4) AS BIGINT)"
      val m = s"CAST(substr($ds, 6, 2) AS BIGINT)"
      val d = s"CAST(substr($ds, 9, 2) AS BIGINT)"
      val ya = s"($y - CASE WHEN $m <= 2 THEN 1 ELSE 0 END)"
      val era = s"($ya $div 400)"
      val yoe = s"($ya - $era*400)"
      val doy =
        s"((153*($m + CASE WHEN $m > 2 THEN -3 ELSE 9 END) + 2) $div 5 + $d - 1)"
      val doe = s"($yoe*365 + $yoe $div 4 - $yoe $div 100 + $doy)"
      s"(($era*146097 + $doe - 719468) * 86400)"
    }
  }

  private[graft] object ViirsK {
    /** 13-field raw VIIRS CSV line (integer-scaled numerics). All decimal
      * literals carry the e0 suffix (§5): a bare `100000.0` is a DECIMAL
      * literal in DuckDB, and whether int/DECIMAL arithmetic stays DECIMAL
      * (exact, object-typed in pandas) or folds to DOUBLE is a DuckDB
      * version detail — e0 forces DOUBLE in both engines, always. */
    def line(dateF: String): String = s"""concat_ws(',',
      CAST(CAST(floor((CAST(user_id*37 % 140 - 70 AS DOUBLE) + value/1000.0e0)
        * 100000.0e0) AS BIGINT) AS STRING),
      CAST(CAST(floor((CAST(event_id*73 % 360 - 180 AS DOUBLE) + value/2000.0e0)
        * 100000.0e0) AS BIGINT) AS STRING),
      CAST(2950 + event_id % 500 AS STRING),
      CAST(375 + event_id*7 % 225 AS STRING),
      CAST(375 + user_id*11 % 225 AS STRING),
      $dateF,
      CAST(CAST(floor((ts_sec % 86400) / 3600.0e0) AS BIGINT) * 100
           + CAST(floor((ts_sec % 3600) / 60.0e0) AS BIGINT) AS STRING),
      CASE CAST(event_id % 4 AS INT) WHEN 0 THEN 'N' WHEN 1 THEN 'N20'
           WHEN 2 THEN 'N21' ELSE 'X' END,
      CASE CAST(user_id % 4 AS INT) WHEN 0 THEN 'l' WHEN 1 THEN 'n'
           WHEN 2 THEN 'h' ELSE 'x' END,
      '2.0NRT',
      CAST(2750 + user_id % 400 AS STRING),
      CAST(CAST(floor(value * 100.0 + 0.5e0) AS BIGINT) AS STRING),
      CASE WHEN (ts_sec % 86400) >= 21600 AND (ts_sec % 86400) < 64800
           THEN 'D' ELSE 'N' END)"""

    /** acq datetime: date epoch + [H]HMM offset (firms.rs:532). */
    def acqEpoch(dateEpochF: String): String = s"""($dateEpochF
      + CAST(floor(CAST(split_part(line, ',', 7) AS BIGINT) / 100.0e0) AS BIGINT) * 3600
      + (CAST(split_part(line, ',', 7) AS BIGINT) % 100) * 60)"""

    /** Typed decode of the line (identical text both engines). */
    val parsed: Seq[String] = Seq(
      "CAST(split_part(line, ',', 1) AS BIGINT) / 100000.0e0 AS lat",
      "CAST(split_part(line, ',', 2) AS BIGINT) / 100000.0e0 AS lon",
      "CAST(split_part(line, ',', 3) AS BIGINT) / 10.0e0 AS bright_ti4_k",
      "CAST(split_part(line, ',', 4) AS BIGINT) AS scan_m",
      "CAST(split_part(line, ',', 5) AS BIGINT) AS track_m",
      "acq_epoch",
      """CASE split_part(line, ',', 8) WHEN 'N21' THEN 54234
         WHEN 'N20' THEN 43013 WHEN 'N' THEN 37849 END AS sat_id""",
      """CASE split_part(line, ',', 9) WHEN 'l' THEN 'Low' WHEN 'n' THEN 'Medium'
         WHEN 'h' THEN 'High' END AS conf""",
      "CAST(split_part(line, ',', 11) AS BIGINT) / 10.0e0 AS bright_ti5_k",
      "CAST(split_part(line, ',', 12) AS BIGINT) / 100.0e0 AS frp_mw",
      "split_part(line, ',', 13) = 'D' AS is_day")
  }

  /** Engine-shared cross/along-track fragments (geo_cross_track):
    * spherical XTD/ATD over 3-decimal-quantized distance d13 (km) and
    * bearings t13/t12 (deg) — identical text both engines; the acos
    * argument is clamped against last-ulp overshoot.
    */
  /** geo_hillshade's shade text, read by its builder and its oracle:
    * GDAL's default sun (azimuth 315°, altitude 45°) over the gradient
    * (dzdx, dzdy), scaled to 0-255, rounded to 2 and clamped at 0.
    */
  private object HillshadeK {
    private val slope = "atan(sqrt(dzdx*dzdx + dzdy*dzdy))"
    private val aspect = "atan2(dzdy, -dzdx)"
    val shade: String =
      s"""greatest(0.0e0, round(255.0e0 * (cos(radians(45.0e0))*cos($slope)
              + sin(radians(45.0e0))*sin($slope)
                *cos(radians(315.0e0) - $aspect)), 2))"""
  }

  /** geo_advect_step's departure point, read by its builder and its
    * oracle: cell (ci, cj) backtracked half a step along the analytic
    * quarter-integer wind (gu, gv).
    */
  private object AdvectK {
    private val gu = "CAST(((ci*13 + cj*7) % 41 + 41) % 41 - 20 AS DOUBLE) / 4.0e0"
    private val gv = "CAST(((ci*5 + cj*11) % 37 + 37) % 37 - 18 AS DOUBLE) / 4.0e0"
    val depI: String = s"CAST(ci AS DOUBLE) - ($gv) * 0.5e0"
    val depJ: String = s"CAST(cj AS DOUBLE) - ($gu) * 0.5e0"
  }

  private object XtdK {
    private val xa = "asin(sin(d13/6371.0e0) * sin(radians(t13 - t12)))"
    // + 0.0e0 folds IEEE -0.0 (DuckDB's round of a tiny negative) onto
    // +0.0 (Spark's BigDecimal round has no signed zero) — the driver's
    // hash is signbit-exact
    val xtd: String = s"(round($xa * 6371.0e0, 3) + 0.0e0)"
    val atd: String =
      s"(round(acos(least(1.0e0, greatest(-1.0e0, cos(d13/6371.0e0) / cos($xa)))) * 6371.0e0, 3) + 0.0e0)"
  }

  /** Engine-shared Douglas-Peucker fragments: quantized squared
    * perpendicular deviation of point (lat,lon) from chord
    * (x1,y1)-(x2,y2) (planar cross product over the chord length;
    * degenerate chords fall back to endpoint distance), and the
    * 0.05-degree tolerance in the same 2^20 fixed-point domain.
    */
  private object DpK {
    private val dx = "(x2 - x1)"; private val dy = "(y2 - y1)"
    private val len2 = s"($dx*$dx + $dy*$dy)"
    private val cross = s"($dx*(lon - y1) - (lat - x1)*$dy)"
    val devq: String =
      s"""CAST(FLOOR(CASE WHEN $len2 = 0.0
         THEN (lat - x1)*(lat - x1) + (lon - y1)*(lon - y1)
         ELSE $cross*$cross / $len2 END * 1048576.0) AS BIGINT) AS devq"""
    val epsQ = 2621L // floor(0.05^2 * 2^20)
  }

  /** Engine-shared formula fragments for the orbit-crossing
    * interpolations (orbitinfo.rs:223 interpolate_node / :244
    * interpolate_pole, dt = 1 minute step, latitude-rate standing in for
    * vz). Identical text on both engines over bit-identical track
    * samples — no rounding needed anywhere.
    */
  private object OrbitNodeK {
    private val dlon = "(lon2 - lon1)"
    private val dlat = "(lat2 - lat1)"
    private val lonOff = s"(0.0 - (lat1 * $dlon / $dlat))"
    val nodeV = s"lon1 + $lonOff AS v"
    val nodeT = s"t1 + 1.0 * sqrt(lat1*lat1 + $lonOff*$lonOff)" +
      s" / sqrt($dlon*$dlon + $dlat*$dlat) AS t"
    private val aFrac = "((1.0 / (vz2 - vz1)) * (0.0 - vz1))"
    val poleT = s"t1 + $aFrac AS t"
    val poleV = s"lat1 + (lat2 - lat1) * $aFrac AS v"
  }

  /** Engine-shared fragments for compute_footprint (firms.rs:477):
    * geodetic -> ECEF (h=0), en_units local frame (cartesian3.rs:283),
    * corner offsets, half-angle Rodrigues rotation by -bearing
    * (cartesian3.rs:311), integer-meter rounding (round_all 0).
    * Emitted as one flat select chain; every fragment is identical text
    * on both engines so the double-op sequence matches bit for bit (the
    * only libm calls are sin/cos of the PRE-ROUNDED bearing and of the
    * derived latitudes, whose 1-ulp spread is 9 orders of magnitude
    * below the integer-meter rounding boundary).
    */
  /** Shared route-snap fragments: synthetic 21-vertex route from part
    * keys (monotone x, deterministic meander y), planar point mapping,
    * and the projection chain — each stage one formula text evaluated
    * by both engines; everything is +,-,*,/ and sqrt, so no rounding.
    */
  private object RouteK {
    val vx = "CAST(t_key*3 AS DOUBLE)"
    val vy = "CAST((t_key*t_key*7) % 40 - 20 AS DOUBLE)"
    val px = "((lon + 180.0)/360.0*60.0 + 1.5)"
    val py = "(lat/3.5)"
    val traw = "((px - ax)*dx + (py - ay)*dy)/len2"
    val tt = "LEAST(GREATEST(traw, 0.0), 1.0)"
    val along = "(CAST(start_q AS DOUBLE)/1048576.0 + tt*seglen)"
  }

  /** Shared plate-carree tiling fragments (Cesium GeographicTilingScheme,
    * level 10 = 2048 x 1024): exact linear floor math, clamped at the
    * +180/+90 edge. Coarser levels derive by integer shifts.
    */
  private object PyrK {
    val t10x: String =
      "CAST(LEAST(FLOOR((lon + 180.0)/360.0*2048.0), 2047.0) AS BIGINT)"
    val t10y: String =
      "CAST(LEAST(FLOOR((90.0 - lat)/180.0*1024.0), 1023.0) AS BIGINT)"
  }

  /** Shared rhumb-line fragments over (plat, plon) -> (lat, lon): each
    * stage is one formula text evaluated by both engines.
    */
  private object RhumbK {
    val dphi = "(radians(lat) - radians(plat))"
    val dpsi = "ln(tan(pi()/4.0 + radians(lat)/2.0)" +
      " / tan(pi()/4.0 + radians(plat)/2.0))"
    val dl0 = "(radians(lon) - radians(plon))"
    val q = "CASE WHEN abs(dpsi) > 1.0e-12 THEN dphi/dpsi" +
      " ELSE cos(radians(plat)) END"
    val dl = "CASE WHEN dl0 > pi() THEN dl0 - 2.0*pi()" +
      " WHEN dl0 < -pi() THEN dl0 + 2.0*pi() ELSE dl0 END"
    val dist = "sqrt(dphi*dphi + q*q*dl*dl) * 6371.0"
    val brg = "(degrees(atan2(dl, dpsi)) + 360.0) % 360.0"
  }

  /** IDW weight 1/(d_km^2 + 25) floor-quantized to 2^-40 (order-free
    * integer sums; min station weight ~2.5e-9 still carries ~2.7e3
    * quanta). One shared text both engines.
    */
  private object IdwK {
    val wq: String = "CAST(FLOOR(1.0/(" +
      s"pow(${havS("lat", "lon", "s_lat", "s_lon")}, 2) + 25.0)" +
      " * 1099511627776.0) AS BIGINT)"
  }

  private object FootK {
    val trackM = "CAST(375 + event_id*7 % 225 AS DOUBLE)"
    val scanM = "CAST(375 + user_id*11 % 225 AS DOUBLE)"
    private val A2 = "40680631590769.0"             // 6378137^2
    private val B2 = "40408299984661.453"           // 6356752.3142451793^2
    /** Stage-1 select list: everything up to the rotated corners. */
    val chain: Seq[String] = {
      val n = s"($A2 / sqrt($A2*cos(radians(lat))*cos(radians(lat)) + $B2*sin(radians(lat))*sin(radians(lat))))"
      val px = s"($n*cos(radians(lat))*cos(radians(lon)))"
      val py = s"($n*cos(radians(lat))*sin(radians(lon)))"
      val pz = s"($B2/$A2*$n*sin(radians(lat)))"
      Seq(s"$px AS px", s"$py AS py", s"$pz AS pz",
        s"sqrt($px*$px + $py*$py + $pz*$pz) AS len",
        "track_m", "scan_m", "brg3")
    }
    /** Stage-2 select list: unit frame, corners, rotation, rounding. */
    val out: Seq[String] = {
      val ux = "(px/len)"; val uy = "(py/len)"; val uz = "(pz/len)"
      // north = unit((0,0,len/uz) - p); east = u x north
      val nx0 = "(0.0 - px)"; val ny0 = "(0.0 - py)"; val nz0 = "(len/(pz/len) - pz)"
      val nlen = s"sqrt($nx0*$nx0 + $ny0*$ny0 + $nz0*$nz0)"
      val nx = s"($nx0/$nlen)"; val ny = s"($ny0/$nlen)"; val nz = s"($nz0/$nlen)"
      val ex = s"($uy*$nz - $uz*$ny)"
      val ey = s"($uz*$nx - $ux*$nz)"
      val ez = s"($ux*$ny - $uy*$nx)"
      // rotation by -brg3 (half-angle Rodrigues coefficients)
      val a2 = "(0.0 - radians(brg3))/2.0"
      val rb = s"(2.0*cos($a2)*sin($a2))"
      val rc = s"(2.0*sin($a2)*sin($a2))"
      val names = Seq("ws", "es", "en", "wn")
      val signs = Seq(("-", "-"), ("+", "-"), ("+", "+"), ("-", "+"))
      names.zip(signs).flatMap { case (nm, (sw, sh)) =>
        val vx = s"(px $sw $ex*track_m/2.0 $sh $nx*scan_m/2.0)"
        val vy = s"(py $sw $ey*track_m/2.0 $sh $ny*scan_m/2.0)"
        val vz = s"(pz $sw $ez*track_m/2.0 $sh $nz*scan_m/2.0)"
        val cx = s"($uy*$vz - $uz*$vy)"
        val cy = s"($uz*$vx - $ux*$vz)"
        val cz = s"($ux*$vy - $uy*$vx)"
        val ccx = s"($uy*$cz - $uz*$cy)"
        val ccy = s"($uz*$cx - $ux*$cz)"
        val ccz = s"($ux*$cy - $uy*$cx)"
        Seq(
          s"CAST(round($vx + $cx*$rb + $ccx*$rc, 0) AS BIGINT) AS ${nm}_x",
          s"CAST(round($vy + $cy*$rb + $ccy*$rc, 0) AS BIGINT) AS ${nm}_y",
          s"CAST(round($vz + $cz*$rb + $ccz*$rc, 0) AS BIGINT) AS ${nm}_z")
      }
    }
  }
}
