package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed batch twin of the stream_cpa monitor, for the scale-tier
  * parity gate: computes the EXACT pair set [[graft.streaming.Streams.cpaEvents]]
  * emits over an in-order replay of the events table, as a plain Spark
  * batch job — so a 100 M-event (×1000) replay can be checked
  * byte-identical (count + order-insensitive content hash) against a
  * second, independent, fully-distributed computation instead of the
  * driver-side brute force StreamReplaySpec uses at gate SFs.
  *
  * Faithfulness argument (each stream semantic, mapped to batch):
  *  - Feed order: StreamBench replays events sorted by (ts_sec, event_id)
  *    in fixed-size micro-batches; here the same sort assigns each event
  *    its micro-batch index (pos / batchRows).
  *  - Late drops / watermark eviction: with an in-order feed the
  *    watermark (max seen − lateness) always trails the next batch's
  *    minimum event time, so no row is ever late; a stored fix is evicted
  *    only when ts + band < watermark, i.e. only when every future
  *    arrival is already outside the ±band — eviction removes no pairs.
  *    The batch twin therefore pairs purely on |Δts| ≤ band.
  *  - Density-cap admission: the stream admits per (cell, tb) the first
  *    `cellCap` distinct home users (8×cellCap for probe copies) in
  *    arrival order, which under the sorted replay is exactly
  *    (micro-batch index, ts_sec, user_id) — reproduced here as a
  *    row_number window over each copy class's first appearance. An
  *    admission set is never revived after eviction (a post-eviction
  *    arrival's own tb is necessarily newer), so first-appearance rank
  *    is the complete admission story.
  *  - Pairing: a pair (a home, b any copy, user_a < user_b, both
  *    admitted, |Δts| ≤ band) is emitted exactly once, in a's home cell —
  *    the join below, with the operator's own clamped-solve arithmetic
  *    (round-6 midpoint cosine, clamp [0, 30] min, −0.0 canonicalized,
  *    round-3 display) spelled in Catalyst expressions whose runtime
  *    (BigDecimal HALF_UP round, Math.pow/sqrt, IEEE + − * /) is
  *    bit-identical to the scala.math calls in the stateful operator.
  *
  * Position/velocity derivation is the literally-same Scala function the
  * replay uses ([[StreamBench.fixOf]]), mapped over the distributed
  * Dataset — no re-spelled formula to drift.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_STREAM_BATCH=… runMain
  * graft.CpaParity — prints the same `n / hash` pair the
  * SPARK_GRAFT_STREAM_HASH=1 replay prints for stream_cpa.
  */
object CpaParity {

  /** One row of the replayed fix feed plus its micro-batch index. */
  case class FixAt(user_id: Long, ts_sec: Long, lat: Double, lon: Double,
      vlat: Double, vlon: Double, chunk: Long)

  /** (row count, order-insensitive content hash): sum over rows of
    * xxhash64(all columns, left-to-right) accumulated exactly in
    * DECIMAL(38,0) — 1e8 rows × |hash| ≤ 2^63 stays 27 digits under the
    * 38-digit ceiling. Column ORDER is part of the contract: callers must
    * present the same schema on both sides.
    */
  def hashAgg(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast(DecimalType(38, 0))).as("h")).head()
    (r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** The replayed fix feed with its micro-batch index: replay order =
    * (ts_sec, event_id), chunk = pos / batchRows. RDD sortBy +
    * zipWithIndex keeps the global-position assignment distributed (no
    * single-partition window over the full feed).
    */
  def fixesFor(spark: SparkSession, sfDir: String,
      batchRows: Int): Dataset[FixAt] = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts_sec"), col("user_id"),
        col("event_type"), col("value"))
      .as[graft.streaming.Streams.Ev]
      .rdd
      .sortBy(e => (e.ts_sec, e.event_id))
      .zipWithIndex()
      .map { case (e, pos) =>
        val f = StreamBench.fixOf(e)
        FixAt(f.user_id, f.ts_sec, f.lat, f.lon, f.vlat, f.vlon,
          pos / batchRows)
      }
      .toDS()
  }

  /** The batch pair set, in [[graft.streaming.Streams.cpaStream]]'s exact
    * output schema (user_a, user_b, ts_a, ts_b, t_cpa_min, d_cpa_km).
    *
    * `tbRange = Some((lo, hi))` computes only the pairs whose HOME side
    * falls in 30-min buckets [lo, hi) — with input widened one bucket
    * each way so every admission set and every ±band partner of an
    * owned pair is fully present (admission is (cell, tb)-local and
    * band < bucket width, so tb-aligned slices are EXACT). The ×1000
    * tier runs as a sum of slices because the full 2.7-billion-row
    * replicated join doesn't fit this box's /tmp — count and the
    * additive content hash compose across slices; a cluster would run
    * it unsliced.
    */
  def pairs(spark: SparkSession, fixesAll: Dataset[FixAt],
      maxKm: Double = 100.0, bandSec: Long = 900L,
      cellCap: Int = 64, tbRange: Option[(Long, Long)] = None): DataFrame = {
    // slice halo: one bucket each side covers every partner and every
    // admission member of an owned pair (chunk indexes stay GLOBAL —
    // they were assigned over the full feed, before any slicing)
    val fixes = tbRange.fold(fixesAll) { case (lo, hi) =>
      fixesAll.filter(col("ts_sec") >= (lo - 1) * 1800L
        && col("ts_sec") < (hi + 1) * 1800L)
    }

    val home = fixes.toDF()
      .withColumn("hcl", floor(col("lat")).cast("long"))
      .withColumn("hcn", floor(col("lon")).cast("long"))
      .withColumn("tb", floor(col("ts_sec") / 1800.0).cast("long"))

    // the 3×3 replication: home copy lands in its own cell, the 8 probe
    // copies in the neighbors — same shape as the stateful operator's
    // pre-shuffle explode
    val copies = home
      .withColumn("dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("cl", col("hcl") + col("dlat"))
      .withColumn("cn", col("hcn") + col("dlon"))
      .withColumn("home", col("dlat") === 0L && col("dlon") === 0L)
      .drop("dlat", "dlon", "hcl", "hcn")

    // admission: first `cap` distinct users per (cell, tb) in arrival
    // order (chunk, ts, user) — one groupBy + one window per copy class
    def adm(cls: DataFrame, cap: Int): DataFrame = cls
      .groupBy("cl", "cn", "tb", "user_id")
      .agg(min(struct(col("chunk"), col("ts_sec"))).as("first"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cl", "cn", "tb")
          .orderBy(col("first.chunk"), col("first.ts_sec"), col("user_id"))))
      .filter(col("rk") <= cap)
      .select("cl", "cn", "tb", "user_id")

    val admKeys = Seq("cl", "cn", "tb", "user_id")
    val homeAdmitted = copies.filter(col("home"))
      .join(adm(copies.filter(col("home")), cellCap), admKeys)
    val probeAdmitted = copies.filter(!col("home"))
      .join(adm(copies.filter(!col("home")), 8 * cellCap), admKeys)
    val admittedCopies = homeAdmitted.unionByName(probeAdmitted)

    // the pair join: a = admitted home fix (its own cell), b = any
    // admitted copy co-located in that cell, smaller user is always the
    // home side — one emission per unordered fix pair, as in the stream.
    // The ±band constraint joins on a band-bucket equi-key (b replicated
    // to its 3 adjacent buckets): without it each cell joins its ENTIRE
    // history against itself — the per-cell quadratic the stream's state
    // eviction avoids by construction. |Δbucket| ≤ 1 is implied by
    // |Δts| ≤ band, and a given (a, b) matches exactly one replica, so
    // the key adds no rows and drops the quadratic term.
    val aB = homeAdmitted
      .withColumn("bb", floor(col("ts_sec") / bandSec.toDouble).cast("long"))
    val bB = admittedCopies
      .withColumn("dbb", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("bb",
        floor(col("ts_sec") / bandSec.toDouble).cast("long") + col("dbb"))
      .drop("dbb")
    val joined = aB.as("a").join(bB.as("b"),
        col("a.cl") === col("b.cl") && col("a.cn") === col("b.cn")
          && col("a.bb") === col("b.bb")
          && col("a.user_id") < col("b.user_id")
          && abs(col("a.ts_sec") - col("b.ts_sec")) <= bandSec)
    tbRange.fold(joined) { case (lo, hi) =>
      joined.filter(col("a.tb") >= lo && col("a.tb") < hi)
    }
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
      .withColumn("dc",
        sqrt(pow(col("dx") + col("dvx") * col("tc"), 2)
          + pow(col("dy") + col("dvy") * col("tc"), 2)))
      .filter(col("dc") <= maxKm)
      .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
        timestamp_seconds(col("a.ts_sec")).as("ts_a"),
        timestamp_seconds(col("b.ts_sec")).as("ts_b"),
        round(col("tc"), 3).as("t_cpa_min"),
        round(col("dc"), 3).as("d_cpa_km"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH", "20000").toInt
    val spark = GraftSession()
    // SPARK_GRAFT_CPA_SLICES=N runs the tb-sliced form (see pairs());
    // count and the additive hash compose exactly across slices
    val slices = sys.env.getOrElse("SPARK_GRAFT_CPA_SLICES", "1").toInt
    val t0 = System.nanoTime()
    val (n, h) =
      if (slices <= 1) hashAgg(pairs(spark, fixesFor(spark, sfDir, batchRows)))
      else {
        // materialize the chunk-indexed feed ONCE (the global sort is
        // the expensive part; slices then read it back with a
        // pushed-down ts filter instead of re-sorting 100 M rows each)
        import spark.implicits._
        val fxPath = s"/tmp/cpa_parity_fixes_${System.nanoTime()}"
        fixesFor(spark, sfDir, batchRows)
          .write.mode("overwrite").parquet(fxPath)
        val fx = spark.read.parquet(fxPath).as[FixAt]
        val mm = Tables.events(spark, sfDir)
          .agg(min(col("ts_sec")), max(col("ts_sec"))).head()
        val tbLo = Math.floorDiv(mm.getLong(0), 1800L)
        val tbHi = Math.floorDiv(mm.getLong(1), 1800L) + 1
        val step = math.max(1L, (tbHi - tbLo + slices - 1) / slices)
        var total = 0L
        var sum = java.math.BigDecimal.ZERO
        var lo = tbLo
        var k = 0
        while (lo < tbHi) {
          val hi = math.min(tbHi, lo + step)
          val (sn, sh) = hashAgg(pairs(spark, fx, tbRange = Some((lo, hi))))
          total += sn
          sum = sum.add(sh)
          System.err.println(
            s"[cpa-parity] slice $k tb[$lo,$hi): $sn pairs, running $total")
          lo = hi
          k += 1
        }
        try {
          import scala.reflect.io.Directory
          new Directory(new java.io.File(fxPath)).deleteRecursively()
        } catch { case _: Exception => }
        (total, sum)
      }
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"cpa_parity","sf":"$sfDir","batch_rows":$batchRows,""" +
      s""""slices":$slices,"pairs":$n,"hash":"${h.toPlainString}",""" +
      s""""sec":${f"$sec%.1f"}}""")
    spark.stop()
  }
}
