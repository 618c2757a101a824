package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark harness. It drives graft only through its public entry
  * points (`SparkEntry.queries`, `graft.streaming.Streams`, the
  * `graft.functions` kernels) on the committed tables, one client thread,
  * and prints one JSON result line last on stdout.
  *
  * {{{
  * Harness run <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir>
  * Harness fingerprints <dataDir> <outFile> [dumpDir]
  * Harness survey <dataDir> <outFile>
  * Harness selftest
  * }}}
  */
object Harness {
  val Root: Path = Paths.get("perfbench")

  /** The session settings `graft.Bench` uses, at local[k]. Placement of
    * scratch files (`spark.local.dir`, warehouse) is added so that a run
    * writes only inside its checkout.
    */
  def settings(k: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> k.toString,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings", "events")

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def newSession(k: Int, scratch: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$k]")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
    settings(k).foreach { case (key, v) => b.config(key, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a static setting is silently ignored when getOrCreate returns an
    // existing session: check that each one took effect
    settings(k).foreach { case (key, v) =>
      val got = spark.conf.get(key)
      require(got == v, s"session setting $key is $got, expected $v")
    }
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Persisted RDDs left behind by an operation: count and bytes, then
    * drop them (as `graft.Bench` does) so the next operation starts clean.
    */
  def dropLeftovers(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs
    if (left.isEmpty) (0, 0L)
    else {
      val ids = left.keySet
      val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      left.values.foreach(_.unpersist(blocking = false))
      (left.size, bytes)
    }
  }

  def codegenNs: Long = CodeGenerator.compileTime
  def codegenClasses: Long = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount

  def epochMs(ns: Long, clock: (Long, Long)): Double =
    clock._1 + (ns - clock._2) / 1e6

  def main(argv: Array[String]): Unit = {
    val code = try {
      argv.headOption match {
        case Some("run") => Run(argv.drop(1))
        case Some("fingerprints") => Fingerprints(argv.drop(1))
        case Some("survey") => Survey(argv.drop(1))
        case Some("selftest") => SelfTest.run()
        case other => System.err.println(s"unknown mode $other"); 2
      }
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] fatal: $t")
        t.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(code)
  }

  def writeString(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Driver heap in use after a full collection, in MiB. Spark frees
    * shuffle and broadcast state asynchronously once their owners are
    * collected, so collect until the figure stops falling.
    */
  def heapRetainedMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var next = used()
    var rounds = 2
    while (next < last * 0.99 && rounds < 10) { last = next; next = used(); rounds += 1 }
    next
  }

  def queryMap: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries
}
