package graft

import org.apache.spark.sql.SparkSession

/** The one session definition for graft's mains and specs, so that the
  * oracle gate (`Verify`), the specs and the timed surfaces (`Bench`,
  * `StreamBench`) run under the same engine settings. The settings are
  * the ones perfbench's harness times, key for key.
  */
object GraftSession {

  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Size-based AQE coalescing instead of parallelism-first.
    // parallelismFirst=true (the default) keeps up to `cpus` post-shuffle
    // partitions however tiny the data, so every stage of a sub-second
    // query schedules `cpus` tasks; size-based coalescing targets
    // advisoryPartitionSizeInBytes at any scale. No before/after
    // measurement of these two settings has been committed yet.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    // The Janino class cache defaults to 100 entries; an iterative query
    // (CC / BPE / Lloyd rounds x 3 timed runs) generates several hundred
    // classes, so a small cache recompiles the same round plans. The
    // cache is keyed on generated source and bounded (LRU). No
    // before/after measurement of this setting has been committed yet.
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with [[settings]] plus `extra` on top;
    * `cpus` defaults to `$SPARK_GRAFT_CPUS`, else 4.
    */
  def apply(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val all = settings(cpus) ++ extra
    val builder = SparkSession.builder().master(s"local[$cpus]")
    all.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    // ERROR, not WARN: the partition-less Window ops over tiny aggregated
    // frames (all 15 audited safe — see VERDICT r4) each emit a
    // `WindowExec: No Partition Defined` WARN per run, ~2000 chars of
    // which overflowed Bench's ~2KB output capture in r4 and lost its
    // parsed bench entry (BENCH_r04 parsed:null)
    spark.sparkContext.setLogLevel("ERROR")
    check(spark, ("spark.master" -> s"local[$cpus]") +: all)
    spark
  }

  /** A static setting is silently ignored when getOrCreate returns an
    * existing session: check that each one took effect.
    */
  def check(spark: SparkSession, expected: Seq[(String, String)]): Unit =
    expected.foreach { case (k, v) =>
      val got = live(spark, k)
      require(got == v, s"session setting $k is $got, expected $v")
    }

  /** A setting's live value: SQL settings from the session, core ones
    * from the running SparkContext (getOrCreate copies a core option into
    * the session's SQL conf even when the context never saw it).
    */
  def live(spark: SparkSession, k: String): String =
    if (k.startsWith("spark.sql.")) spark.conf.get(k)
    else spark.sparkContext.getConf.getOption(k).getOrElse("unset")
}
