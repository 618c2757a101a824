package graft
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // warm-up, untimed: JIT, codegen, and the schema `Tables` resolves once
    // per file (Spark itself caches no inferred Parquet schema)
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        Tables.t(spark, sfDir, t).count()
      }
      Tables.events(spark, sfDir).count() // nanos flag + index
      SparkEntry.queries("q1_agg")(spark, sfDir).count()
    } catch { case _: Throwable => }
    // steady-state timing: best of 3 back-to-back runs per query
    // (JMH-style min; run 1 absorbs codegen+JIT of the query's fresh
    // classes, runs 2-3 measure steady state). A GC between queries keeps
    // one query's shuffle-buffer collection out of the next one's timing.
    val runs = 3
    // opt-in subset for standalone re-timing (comma-separated names);
    // the driver never sets this, so the per-round contract is unchanged
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1).map { case (name, fn) =>
      // iterative queries (CC, k-means, BPE, streamline) localCheckpoint
      // per round and those blocks outlive the query; once a few such
      // queries have run, the block manager carries GBs of dead blocks
      // and later queries pay eviction+GC for them (measured: 1.7 s
      // geo_wind_streamline → 20 s inside the full suite, 2.3 s again
      // standalone). Dropping leftover persisted RDDs between queries
      // makes per-query times order-independent.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      // a query that throws is recorded as failed, never timed: its
      // elapsed time until the throw would read as a fast run
      val outcome: Either[String, Double] =
        try {
          Right((1 to runs).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }.min)
        } catch { case e: Throwable => Left(e.toString) }
      // progress to stderr so a truncated capture still shows the tail
      outcome match {
        case Right(best) => System.err.println(f"[bench] $name%-28s ${best}%.3f s")
        case Left(err) => System.err.println(s"[bench] $name FAILED: $err")
      }
      name -> outcome
    }
    val timed = results.collect { case (n, Right(best)) => n -> best }
    val failed = results.collect { case (n, Left(_)) => n }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} failed, not in total: ${failed.mkString(", ")}")
    // Locale.ROOT: a comma-decimal default locale would make the line
    // invalid JSON (ADVICE r3)
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // full per-query map in its own file; stdout gets ONLY the headline
    // subset: the driver's capture window is ~2KB and the 132-query map
    // (~3.5KB) overflowed it every round so far (BENCH_r{1,2,3}.json all
    // record parsed:null) — the printed line must fit the window
    val full =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${qmap(timed)},"sf":"$sfDir","runs":$runs,"n_queries":${results.size},"failed":$failedJson}"""
    // a filtered re-timing run must not clobber the full-suite record
    if (only.isEmpty)
      Files.write(Paths.get("BENCH_FULL.json"),
        full.getBytes(StandardCharsets.UTF_8))
    val headline = SparkEntry.benchQueries.toSet
    // a filtered run (SPARK_GRAFT_BENCH_QUERIES) marks itself and drops the
    // queries_full pointer — its headline must not read as a full-suite
    // record to anything parsing stdout (ADVICE r9)
    val tail =
      if (only.isEmpty) ""","queries_full":"BENCH_FULL.json"""" else ""","filtered":true"""
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${qmap(timed.filter(r => headline(r._1)))},"sf":"$sfDir","runs":$runs,"n_queries":${results.size},"n_failed":${failed.size}$tail}"""
    println(line)
    // make the JSON line the LAST thing in the combined capture: flush
    // stdout before spark.stop() can interleave anything after it
    System.out.flush()
    spark.stop()
  }
}
