package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.streaming.Streams

/** Sustained-throughput benchmark for the live monitors: replay the
  * events table (event-time order) through each streaming operator in
  * fixed-size micro-batches via MemoryStream, force full computation per
  * batch with a counting foreachBatch sink, and report events/sec over
  * the steady-state phase (first batch is untimed warm-up — it absorbs
  * codegen, state-store init, and the first shuffle).
  *
  * Not wired to the driver: this is the BENCH_NOTES protocol for the
  * streaming side, the analogue of the batch ×100 tiers. Run:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt "runMain graft.StreamBench"
  * Optional: SPARK_GRAFT_STREAM_BATCH (rows per micro-batch, default
  * 20000), SPARK_GRAFT_STREAM_MONITORS (comma list to filter).
  */
object StreamBench {

  /** Deterministic position derivation shared with the batch operators
    * (Geo.evPts formula): reused by [[CpaParity]] so the ×1000 stream/batch
    * parity check runs the literally-same Scala code on both sides.
    */
  def fixEvOf(e: Streams.Ev): Streams.FixEv = {
    val lat = (e.user_id * 37 % 140 - 70).toDouble + e.value / 1000.0
    val lon = (e.event_id * 73 % 360 - 180).toDouble + e.value / 2000.0
    Streams.FixEv(e.user_id, e.event_id, e.ts_sec, lat, lon)
  }

  /** Fix with the small deterministic hash-walk velocity (≤ 0.06 deg/min,
    * the replay-spec convention). Shared with [[CpaParity]].
    */
  def fixOf(e: Streams.Ev): Streams.Fix = {
    val f = fixEvOf(e)
    def h(k: Long): Long = {
      var z = k + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def frac(k: Long): Double = (h(k) >>> 11).toDouble / (1L << 53).toDouble
    Streams.Fix(f.user_id, f.ts_sec, f.lat, f.lon,
      0.12 * frac(e.event_id * 31 + 1) - 0.06,
      0.12 * frac(e.event_id * 31 + 2) - 0.06)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH", "20000").toInt
    val only = sys.env.get("SPARK_GRAFT_STREAM_MONITORS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession(extra =
      // the replay feed is collected driver-side by design (a MemoryStream
      // needs the records in hand); the ×1000 tier's 100 M events exceed
      // the 1g default. Harness-only — no registered operator collects.
      Seq("spark.driver.maxResultSize" -> "32g") ++
      // SPARK_GRAFT_STREAM_STATESTORE=rocksdb benches the provider a
      // production cluster runs large keyed state on (bundled rocksdbjni);
      // default is the in-memory HDFS-backed provider
      (if (sys.env.get("SPARK_GRAFT_STREAM_STATESTORE").contains("rocksdb"))
        Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil))
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // one replay buffer for all monitors: the full feed in event-time
    // order, exactly what a live source would deliver
    val evs: Array[Streams.Ev] = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts_sec"), col("user_id"),
        col("event_type"), col("value"))
      .as[Streams.Ev]
      .collect()
      .sortBy(e => (e.ts_sec, e.event_id))
    require(evs.nonEmpty, s"empty events table under $sfDir")
    val chunks = evs.grouped(batchRows).toArray
    // the first chunk is untimed warm-up, so a single-chunk feed would
    // time 0 rows and divide by ~0 (NaN/Infinity breaks the JSON line)
    require(chunks.length >= 2,
      s"feed (${evs.length} events) fits in one micro-batch of $batchRows; " +
        "lower SPARK_GRAFT_STREAM_BATCH so at least one timed batch follows " +
        "the warm-up batch")
    System.err.println(
      s"[sbench] feed: ${evs.length} events, ${chunks.length} batches of <= $batchRows")

    // camera frames for the inference monitors: the period-768 synthetic
    // PNG set, encoded ONCE — feed records share references, so 10 M
    // events cost ~50 MB of driver heap, not 10 M encodes
    lazy val pngLut: Array[Array[Byte]] = {
      import graft.functions.ImageCodec
      (0 until 768).map(m => ImageCodec.toPng(ImageCodec.docFrame(m))).toArray
    }
    def inferInOf(e: Streams.Ev): Streams.InferIn =
      Streams.InferIn(e.event_id, pngLut((e.event_id % 768L).toInt))

    // 12 fixed meridian/parallel fence segments across the ±70/±180 box,
    // 1e-5-degree fixed point (the fenceStream convention)
    val fences: Seq[Streams.FenceSeg] =
      (0 until 6).map { i =>
        val lonq = ((i * 60 - 150).toLong) * 100000L
        Streams.FenceSeg(i, lonq, -70L * 100000L, lonq, 70L * 100000L)
      } ++ (0 until 6).map { i =>
        val latq = ((i * 24 - 60).toLong) * 100000L
        Streams.FenceSeg(6 + i, -180L * 100000L, latq, 180L * 100000L, latq)
      }

    // document feed for the stateful dedup monitors (r12): the documents
    // table in doc_id order, chunked like the event feed; loaded lazily so
    // event-only runs never touch it. content hash = md5(text), the batch
    // twins' convention.
    lazy val docChunks: Array[Array[(Long, String)]] = {
      val rows = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      // the doc table is ~100x smaller than events: size chunks so the
      // feed always spans >= ~5 micro-batches (>= 1 timed after warm-up)
      val chunkSize = math.min(batchRows, math.max(1, (rows.length + 4) / 5))
      System.err.println(
        s"[sbench] doc feed: ${rows.length} docs, chunks of $chunkSize")
      rows.grouped(chunkSize).toArray
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    /** Replay a feed through a query built on `stream`; returns
      * (name, events/sec).
      */
    def benchFeed[S, T](name: String, feed: => Array[Array[S]],
        mkStream: () => (MemoryStream[T], DataFrame),
        toIn: S => T,
        mode: OutputMode): Option[(String, Double)] = {
      if (!only.forall(_.contains(name))) return None
      val chunks = feed
      val outRows = new java.util.concurrent.atomic.AtomicLong(0L)
      // SPARK_GRAFT_STREAM_HASH=1: also fold an order-insensitive content
      // hash over every output batch (one agg pass — same plan cost class
      // as the count) so a scale-tier replay can be checked byte-identical
      // against its batch twin (CpaParity) without persisting the output
      val hashOut = sys.env.get("SPARK_GRAFT_STREAM_HASH").contains("1")
      val outHash = new java.util.concurrent.atomic.AtomicReference(
        java.math.BigDecimal.ZERO)
      val (mem, out) = mkStream()
      val q: StreamingQuery = out.writeStream
        .outputMode(mode)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (hashOut) {
            val (n, h) = CpaParity.hashAgg(df)
            outRows.addAndGet(n)
            outHash.updateAndGet(_.add(h))
          } else outRows.addAndGet(df.count())
          ()
        }
        .start()
      // warm-up: first chunk untimed
      mem.addData(chunks.head.toSeq.map(toIn))
      q.processAllAvailable()
      val timedRows = chunks.drop(1).map(_.length.toLong).sum
      val t0 = System.nanoTime()
      chunks.drop(1).foreach { c =>
        mem.addData(c.toSeq.map(toIn))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      q.stop()
      val rate = timedRows / sec
      System.err.println(f"[sbench] $name%-22s ${rate / 1000.0}%9.1f k-events/s  " +
        f"($timedRows rows, ${chunks.length - 1} batches, $sec%.1f s, out=${outRows.get()})" +
        (if (hashOut) s" out_hash=${outHash.get().toPlainString}" else ""))
      Some(name -> rate)
    }

    def bench[T](name: String,
        mkStream: () => (MemoryStream[T], DataFrame),
        toIn: Streams.Ev => T,
        mode: OutputMode): Option[(String, Double)] =
      benchFeed[Streams.Ev, T](name, chunks, mkStream, toIn, mode)

    val results = Seq(
      bench[Streams.Ev]("stream_latest_state", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.latestState(m.toDS()).toDF())
      }, identity, OutputMode.Update()),
      bench[Streams.Ev]("stream_dedup", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.dedupStream(m.toDF()))
      }, identity, OutputMode.Append()),
      bench[Streams.Ev]("stream_windowed_agg", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.windowedAgg(m.toDF()))
      }, identity, OutputMode.Update()),
      bench[Streams.Ev]("stream_session", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.sessionStream(m.toDF()))
      }, identity, OutputMode.Append()),
      bench[Streams.Ev]("stream_threshold", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.thresholdAlarm(m.toDS(), threshold = 90.0).toDF())
      }, identity, OutputMode.Append()),
      bench[Streams.FixEv]("stream_fence", () => {
        val m = MemoryStream[Streams.FixEv]
        (m, Streams.fenceStream(m.toDS(), fences).toDF())
      }, fixEvOf, OutputMode.Append()),
      bench[Streams.Fix]("stream_cpa", () => {
        val m = MemoryStream[Streams.Fix]
        (m, Streams.cpaStream(m.toDS()))
      }, fixOf, OutputMode.Append()),
      bench[Streams.InferIn]("stream_batch_infer", () => {
        val m = MemoryStream[Streams.InferIn]
        (m, Streams.batchInferStream(m.toDS()).toDF())
      }, inferInOf, OutputMode.Append()),
      bench[Streams.InferIn]("stream_conv_infer", () => {
        val m = MemoryStream[Streams.InferIn]
        (m, Streams.convInferStream(m.toDS()).toDF())
      }, inferInOf, OutputMode.Append()),
      bench[Streams.InferIn]("stream_cnn2_infer", () => {
        val m = MemoryStream[Streams.InferIn]
        (m, Streams.cnn2InferStream(m.toDS()).toDF())
      }, inferInOf, OutputMode.Append()),
      // the stateful distinct/top-k/robust-filter/forecast monitors
      // (r12: every bounded-state claim carries a measured rate)
      bench[Streams.Ev]("stream_kmv_distinct", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.kmvDistinctStream(m.toDS()).toDF())
      }, identity, OutputMode.Update()),
      bench[Streams.Ev]("stream_topk", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.topkStream(m.toDS()).toDF())
      }, identity, OutputMode.Update()),
      bench[Streams.Ev]("stream_hampel", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.hampelStream(m.toDS()).toDF())
      }, identity, OutputMode.Append()),
      bench[Streams.Ev]("stream_holt", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.holtStream(m.toDS()).toDF())
      }, identity, OutputMode.Append()),
      // document-feed dedup monitors (r12): exact soft-dedup counters and
      // MinHash-LSH near-dup over the documents table, doc_id order
      benchFeed[(Long, String), Streams.DocIn]("stream_soft_dedup",
        docChunks, () => {
          val m = MemoryStream[Streams.DocIn]
          (m, Streams.softDedupStream(m.toDS()).toDF())
        }, { case (id, text) =>
          // pseudo event time = doc_id + 1: ids start at 0 and a ts at
          // exactly the initial watermark (0) sits on Spark's late-row
          // boundary — shift so the feed is strictly above it
          Streams.DocIn(id, md5hex(text), id + 1L) },
        OutputMode.Append()),
      benchFeed[(Long, String), (Long, String)]("stream_lsh_dedup",
        docChunks, () => {
          val m = MemoryStream[(Long, String)]
          (m, Streams.lshDedupStream(
            m.toDF().toDF("doc_id", "text")).toDF())
        }, identity, OutputMode.Append()),
      // fleet-cardinality tier (r13): the sketch monitors re-keyed by
      // user_id — the odin_adsb per-aircraft shape (sbs.rs:69
      // process_msgs is a per-aircraft loop, not a per-type one) — so
      // the measured rate reflects real keyed parallelism instead of
      // event_type's 5-key ceiling. Items: distinct events per entity
      // (kmv), heavy event ids per entity (topk).
      bench[Streams.Ev]("stream_kmv_distinct_ukey", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.kmvDistinctStream(m.toDS(),
          keyOf = e => java.lang.Long.toString(e.user_id),
          itemOf = _.event_id).toDF())
      }, identity, OutputMode.Update()),
      bench[Streams.Ev]("stream_topk_ukey", () => {
        val m = MemoryStream[Streams.Ev]
        (m, Streams.topkStream(m.toDS(),
          keyOf = e => java.lang.Long.toString(e.user_id),
          itemOf = _.event_id).toDF())
      }, identity, OutputMode.Update())
    ).flatten

    def f1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val line = results.map { case (k, v) => "\"" + k + "\":" + f1(v) }
      .mkString(
        s"""{"metric":"events_per_sec","sf":"$sfDir","batch_rows":$batchRows,"n_events":${evs.length},"monitors":{""",
        ",", "}}")
    println(line)
    System.out.flush()
    spark.stop()
  }
}
