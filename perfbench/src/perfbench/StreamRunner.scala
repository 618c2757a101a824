package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.ImageCodec
import graft.streaming.Streams

import Harness._

/** Closed-loop replay through `graft.streaming.Streams` monitors, one at a
  * time: the event-time-ordered events feed in fixed-size micro-batches. Each batch is one operation,
  * timed from `addData` to sink completion; the first batch of every
  * monitor is its warm-up and is not timed. The sink fingerprints every
  * batch, and a monitor whose summed fingerprint mismatches fails all of
  * its batches.
  */
final class StreamRunner(wl: Workload, expected: Expected, data: String,
    scratch: Path) extends Runner {
  private var evs: Array[Streams.Ev] = Array.empty
  private var pngs: Array[Array[Byte]] = Array.empty
  /** Summed output fingerprint of each monitor's latest replay. */
  val fingerprints = scala.collection.mutable.Map.empty[String, Fp]

  def warmUpPass: Boolean = false

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    evs = spark.read.parquet(s"$data/events.parquet")
      .select(col("event_id"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_sec"),
        col("user_id"), col("event_type"), col("value"))
      .as[Streams.Ev].collect().sortBy(e => (e.ts_sec, e.event_id))
    // camera frames: the period-768 synthetic set the mm_* queries use
    pngs = (0 until 768).map(m => ImageCodec.toPng(
      ImageCodec.syntheticImage(m.toLong, 32 + (m % 3) * 16, 32))).toArray
    wl.members.foreach(m => require(Monitors.contains(m), s"unknown monitor $m"))
    require(Monitors.keySet == StreamRunner.Names, "monitor table out of step with Names")
  }

  private def chunks[T](xs: Array[T], n: Int): Array[Seq[T]] =
    xs.grouped(n).map(_.toSeq).toArray

  /** A monitor: its feed, already chunked, and the stream it runs. */
  private final case class Monitor[T](feed: () => Array[Seq[T]],
      start: SQLContext => (MemoryStream[T], DataFrame), mode: OutputMode)

  private def evMonitor(f: Dataset[Streams.Ev] => DataFrame,
      mode: OutputMode): Monitor[Streams.Ev] =
    Monitor(() => chunks(evs, wl.batchRows), { implicit ctx =>
      import ctx.sparkSession.implicits._
      val m = MemoryStream[Streams.Ev]
      (m, f(m.toDS()))
    }, mode)

  private val Monitors: Map[String, Monitor[_]] = Map(
    "latest_state" -> evMonitor(ds => Streams.latestState(ds).toDF(), OutputMode.Update()),
    "cnn2_infer" -> Monitor[Streams.InferIn](() => chunks(evs.map(e =>
      Streams.InferIn(e.event_id, pngs((e.event_id % 768L).toInt))), wl.batchRows),
      { implicit ctx =>
        import ctx.sparkSession.implicits._
        val m = MemoryStream[Streams.InferIn]
        (m, Streams.cnn2InferStream(m.toDS()).toDF())
      }, OutputMode.Append()))

  def pass(spark: SparkSession, order: Seq[String], tag: String,
      tracing: Boolean): PassOut = {
    val p0 = System.nanoTime()
    val per = order.map(name => runMonitor(spark, name,
      Monitors(name).asInstanceOf[Monitor[Any]], tag))
    val wall = (System.nanoTime() - p0) / 1e9
    val ops = per.flatMap(_._1)
    PassOut(wall, ops, per.flatMap(_._1.drop(1)),
      if (tracing) per.flatMap(_._2) else Nil,
      per.map(_._3).sum, per.map(_._4))
  }

  private def runMonitor(spark: SparkSession, name: String, mon: Monitor[Any],
      tag: String): (Seq[OpOutcome], Seq[OpTrace], Long, String) = {
    val feed = mon.feed()
    val acc = new AtomicReference(Fingerprint.Zero)
    val exec = s"${wl.name}-$tag-$name"
    val (mem, df) = mon.start(spark.sqlContext)
    val q = df.writeStream.outputMode(mon.mode)
      .option("checkpointLocation", scratch.resolve(s"ckpt-$exec").toString)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val fp = Fingerprint.of(b)
        acc.updateAndGet(_ + fp)
        ()
      }.start()
    val id = q.id.toString
    val ops = Seq.newBuilder[(OpOutcome, OpTrace)]
    var error: Option[String] = None
    try {
      feed.zipWithIndex.foreach { case (batch, i) =>
        val clock = (System.currentTimeMillis(), System.nanoTime())
        val cg0 = codegenNs
        val cc0 = codegenClasses
        val n0 = System.nanoTime()
        val ok = error.isEmpty && (try {
          mem.addData(batch)
          q.processAllAvailable()
          true
        } catch {
          case t: Throwable =>
            error = Some(s"$name threw ${t.toString.take(300)}"); false
        })
        val n1 = System.nanoTime()
        val op = OpOutcome(s"$name#$i", (n1 - n0) / 1e9, ok, batch.size)
        ops += op -> OpTrace(s"$exec-$i", name, epochMs(n0, clock),
          epochMs(n0, clock), epochMs(n1, clock), epochMs(n1, clock),
          System.currentTimeMillis() - clock._1.toDouble,
          (codegenNs - cg0) / 1e9, codegenClasses - cc0, 0, 0L, ok, id)
      }
    } finally q.stop()
    fingerprints(s"stream:$name") = acc.get()
    if (error.isEmpty) error = expected.check(s"stream:$name", acc.get())
    error.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    val all = ops.result().map { case (o, t) =>
      if (error.isEmpty) (o, t) else (o.copy(ok = false, error = error.get), t.copy(ok = false))
    }
    (all.map(_._1), all.map(_._2), feed.map(_.size.toLong).sum, id)
  }
}

object StreamRunner {
  val Names: Set[String] = Set("latest_state", "cnn2_infer")
}
