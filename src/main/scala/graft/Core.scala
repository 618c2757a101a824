package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftops.GraftInternal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One engine operator: a Spark DataFrame builder plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  *
  * `build` takes (session, sfDir) and must be fully declarative — no
  * `.collect()`, no driver-side loops — so Catalyst/AQE stay in charge of
  * the physical plan at any scale.
  *
  * `oracle` is by-name and evaluated on first use, so building the query
  * catalog costs nothing for it: several oracles embed lookup tables that
  * are computed by running the image codecs and inference chains.
  */
final class Q(
    val build: (SparkSession, String) => DataFrame,
    oracleSql: => Option[String],
    val bench: Boolean) {
  lazy val oracle: Option[String] = oracleSql
}

object Q {
  def apply(build: (SparkSession, String) => DataFrame,
      oracle: => Option[String], bench: Boolean = false): Q =
    new Q(build, oracle, bench)
}

/** Determinism helpers: make Spark results bit-identical to the DuckDB
  * oracle so the driver's value-hash comparison passes.
  *
  * - Money/quantity columns in the test data carry exactly 2 decimals, so
  *   aggregating them as DECIMAL is exact and order-independent; the final
  *   cast back to DOUBLE is then deterministic on both engines.
  * - Arbitrary doubles are summed in fixed point (floor(x*2^20) as BIGINT)
  *   — floor of an IEEE double is exact, integer sums are order-free.
  * - Anything transcendental (trig for geo math) is rounded well below the
  *   libm disagreement threshold before comparison/aggregation.
  */
object Det {
  val P: DecimalType = DecimalType(12, 2) // money / quantity (2-decimal data)
  val R: DecimalType = DecimalType(4, 2)  // rate factors like (1 - discount)

  def decP(c: Column): Column = c.cast(P)
  def decR(c: Column): Column = c.cast(R)
  /** Exact sum of a 2-decimal column, emitted as DOUBLE. */
  def dsum(c: Column): Column = sum(decP(c)).cast(DoubleType)
  /** Exact average of a 2-decimal column (exact sum / count). */
  def davg(c: Column): Column = sum(decP(c)).cast(DoubleType) / count(c)
  /** Order-independent fixed-point sum for arbitrary doubles. */
  def qsum(c: Column): Column =
    sum(floor(c * lit(1048576d)).cast(LongType)).cast(DoubleType) / lit(1048576d)

  // Matching DuckDB SQL fragments.
  def DSUM(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(12,2))) AS DOUBLE)"
  def DAVG(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(12,2))) AS DOUBLE)/COUNT($x)"
  def QSUM(x: String): String = s"CAST(SUM(CAST(FLOOR(($x)*1048576) AS BIGINT)) AS DOUBLE)/1048576"

  /** Distributed exact rank + prefix sum — the one shared implementation
    * of the house idiom (global form pioneered by q53_abc_analysis,
    * per-group form by TextOps.groupRank) for ranking over a frame whose
    * size grows with the corpus, where a plain partition-less
    * `Window.orderBy` would funnel every row through one task.
    *
    * Appends to `df`:
    *   - `rn`    1-based exact rank of the row within its `grp` slice
    *             (whole frame when `grp` is empty), ordered by `ord`
    *   - `n_grp` total rows in the slice
    *   - when `value` is set: `prefix` (sum of `value` over the strictly
    *     preceding rows — exclusive prefix sum) and `gtot` (slice total)
    *
    * Shape: range-partition on (grp ++ ord) so slices sort-split across
    * the cluster; per-(partition, grp) counts/sums collapse to a
    * partitions×groups offset table (bounded: its window runs over
    * partition ids, never data rows); global rank = broadcast offset +
    * within-partition row_number. `ord` (with `grp`) MUST be a total
    * order — equal keys split across a range boundary would otherwise
    * make the rank nondeterministic.
    *
    * Partition count follows spark.sql.shuffle.partitions (clamped ≥ 1).
    * Bound: pid is derived as monotonically_increasing_id >> 33, i.e. at
    * most 2^33 rows per partition — at 8 B rows/partition the shuffle
    * partition count must rise long before the id layout breaks, and the
    * assert_true guard below fails loudly rather than corrupting ranks.
    */
  def rankPrefix(df: DataFrame, grp: Seq[Column], ord: Seq[Column],
      value: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val np = math.max(1, df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
    val gN = if (grp.isEmpty) Seq("_gz") else grp.indices.map(i => s"_g$i")
    val oN = ord.indices.map(i => s"_o$i")
    var t = df
    (if (grp.isEmpty) Seq(lit(0): Column) else grp).zip(gN)
      .foreach { case (c, n) => t = t.withColumn(n, c) }
    ord.zip(oN).foreach { case (c, n) => t = t.withColumn(n, c) }
    value.foreach(v => t = t.withColumn("_v", v))
    val gCols = gN.map(col)
    val rangeCols = (gN ++ oN).map(col)
    // localCheckpoint (eager), NOT a plain lineage: `base` feeds both the
    // offsets aggregate and the final rank join, and rows carry a
    // partition-derived _pid. RangePartitioner samples its bounds with a
    // seed derived from the RDD instance, so if the two consumer branches
    // ever RECOMPUTE the exchange instead of reusing it (observed under
    // AQE at sf0.1: 14/5000 rows landed in different pids per branch and
    // dropped out of the inner join), the offset table and the data rows
    // disagree. Materializing once makes _pid a fact of the data; cost =
    // one local materialization of the frame being ranked (it is consumed
    // 2-3× anyway).
    val base = t.repartitionByRange(np, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .localCheckpoint()
    val rawCnt = base.groupBy((col("_pid") +: gCols): _*)
      .agg(count(lit(1)).as("_rawcnt"),
        value.map(_ => sum(col("_v"))).getOrElse(lit(0L)).as("_psum"))
    // The 2^33 id-layout bound is per PARTITION, not per (partition,
    // group): id overflow spills rows into the next _pid label even when
    // every (pid, grp) slice stays small. Guard on the per-pid total (≤ np
    // rows, broadcast back); assert_true is NULL on success so the add is
    // a no-op, and raises before any rank is silently corrupted.
    val pidTot = rawCnt.groupBy(col("_pid"))
      .agg(sum(col("_rawcnt")).as("_ptot"))
    val raw = rawCnt.join(broadcast(pidTot), Seq("_pid"))
      .withColumn("_pcnt", col("_rawcnt") + coalesce(
        assert_true(col("_ptot") < lit(1L << 33)).cast(LongType), lit(0L)))
    // offsets via a running sum over _pid WITHIN each group: the window is
    // partitioned on grp (never partition-less), its frame holds ≤ np rows
    // per group, and the offsets frame stays O(np × G) — G = group
    // cardinality, so the broadcast below is data-bounded only through G.
    // PRECONDITION: callers pass low-cardinality grp (lang, source, flag
    // buckets — G in the tens); a high-cardinality grp would make the
    // broadcast O(np × G) rows. For that case use an ordinary window
    // rank (groups fit in one task) — this idiom exists for few-groups ×
    // many-rows slices where a per-group window would hot-spot one task.
    val wOffP = Window.partitionBy(gCols: _*).orderBy(col("_pid"))
    val wOffAll = wOffP.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = raw
      .withColumn("_roff", coalesce(sum(col("_pcnt")).over(
        wOffP.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_grp", sum(col("_pcnt")).over(wOffAll))
      .withColumn("_voff", coalesce(sum(col("_psum")).over(
        wOffP.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("gtot", sum(col("_psum")).over(wOffAll))
    val keys = "_pid" +: gN
    val wLoc = Window.partitionBy(keys.map(col): _*).orderBy(oN.map(col): _*)
    val offCols = keys.map(col) ++ Seq(col("_roff"), col("n_grp")) ++
      (if (value.isDefined) Seq(col("_voff"), col("gtot")) else Nil)
    var out = base
      .withColumn("_rnin", row_number().over(wLoc))
      .join(broadcast(offs.select(offCols: _*)), keys)
      .withColumn("rn", col("_roff") + col("_rnin"))
    if (value.isDefined) out = out.withColumn("prefix",
      col("_voff") + coalesce(sum(col("_v")).over(
        wLoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    out.drop(Seq("_mid", "_pid", "_rnin", "_roff", "_voff", "_v")
      ++ gN ++ oN: _*)
    // (when value is unset, gtot never materializes: it is pruned with
    // the un-selected offs columns)
  }
}

/** Schema'd loaders for the driver-generated test tables.
  *
  * ALL event-time math runs on floored epoch seconds (`ts_sec` BIGINT),
  * which DuckDB reproduces exactly via floor(epoch(ts)). The driver has
  * shipped `events.ts` in two physical forms across rounds —
  * nanosecond-precision INT64 (which Spark's vectorized reader only
  * accepts as raw nanos via legacy.parquet.nanosAsLong) and plain
  * timestamp[us] (TIMESTAMP_NTZ) — so the loader derives `ts_sec` from
  * whichever type the file actually carries.
  */
object Tables {
  /** The SQL settings Parquet schema conversion reads; a relation resolved
    * under one combination of them must not serve another. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")
  private[graft] val relations = new ConcurrentHashMap[
    (SparkSession, String, Long, Long, Seq[Option[String]]), LogicalRelation]()
  /** The contexts whose stop drops their sessions' relations. */
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** Reads `dir/name.parquet` through a relation resolved once per
    * session, file version (path, modification time, length) and read
    * settings, as Spark's session catalog keeps its tables' relations.
    * Resolving lists the file and, without a schema, runs a job over its
    * footers: every builder call would pay both. Each call gets a
    * `newInstance()` copy of the relation, with fresh attribute ids, so
    * two reads of one file self-join. A file rewritten in place gets a
    * relation of its own; a context's stop drops its sessions' entries.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val sc = spark.sparkContext
    val st = p.getFileSystem(sc.hadoopConfiguration).getFileStatus(p)
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        relations.keySet.removeIf(_._1.sparkContext eq sc)
        watched.remove(sc)
      }
    })
    val key = (spark, st.getPath.toString, st.getModificationTime, st.getLen,
      schemaConfs.map(spark.conf.getOption))
    val rel = relations.computeIfAbsent(key,
      _ => spark.read.parquet(path).queryExecution.analyzed.asInstanceOf[LogicalRelation])
    GraftInternal.ofRows(spark, rel.newInstance())
  }

  /** events with `ts_sec` (epoch seconds, BIGINT) derived from `ts`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => // raw nanos (nanosAsLong)
        df.withColumn("ts_sec", expr("ts div 1000000000"))
      case _ => // TIMESTAMP / TIMESTAMP_NTZ: session TZ is UTC everywhere
        df.withColumn("ts_sec",
          expr("unix_micros(cast(ts as timestamp)) div 1000000"))
    }
  }
}
