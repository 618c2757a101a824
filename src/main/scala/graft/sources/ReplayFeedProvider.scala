package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 batch source modeling ODIN's archived sensor feeds
  * (odin_goesr/src/live_importer.rs, odin_sentinel archive replay): a
  * deterministic record stream addressed by (day, station), exposed as
  * `spark.read.format("graft.sources.ReplayFeedProvider")`.
  *
  * Scale features a 100 TB archive source needs, all implemented here:
  * - one InputPartition per (day, station) shard — the natural parallel
  *   unit of a feed archive, so a 1000-executor cluster fans out evenly;
  * - partition pruning from pushed filters (`ts_sec` range, `station`
  *   equality) — a time-windowed query plans only its shards;
  * - column pruning (SupportsPushDownRequiredColumns) — readers
  *   materialize only requested fields.
  * Records are splitmix64-derived, so reads are reproducible across
  * retries/executors (the same property ODIN gets from archived files).
  *
  * Options: start (epoch sec, default 1704067200), days (4), stations (8),
  * eventsPerDay (256).
  */
class ReplayFeedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplayFeed.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ReplayFeedTable(properties.asScala.toMap)
}

object ReplayFeed {
  val SCHEMA: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_sec", LongType, nullable = false),
    StructField("station", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** The feed's shape; its cells are one (day, station) shard's events. */
final case class ReplayFeedConf(start: Long, days: Int, stations: Int,
    eventsPerDay: Int) extends CellSource {
  override def cells(partition: InputPartition): Cells = {
    val p = partition.asInstanceOf[ReplayFeedPartition]
    val shard = p.day.toLong * stations + p.station
    new Cells {
      private var i = -1
      private def eventId = shard * eventsPerDay + i
      override def next(): Boolean = { i += 1; i < eventsPerDay }
      override def column(name: String, at: Int): GenericInternalRow => Unit =
        name match {
          case "event_id" => _.setLong(at, eventId)
          case "ts_sec" =>
            _.setLong(at, start + p.day.toLong * 86400 + (i.toLong * 86400) / eventsPerDay)
          case "station" => _.setInt(at, p.station)
          case "value" => _.setDouble(at,
            (ReplayFeed.splitmix64(eventId) >>> 11).toDouble / (1L << 53).toDouble * 200.0)
        }
    }
  }
}

class ReplayFeedTable(props: Map[String, String]) extends Table with SupportsRead {
  private val conf = ReplayFeedConf(
    props.getOrElse("start", "1704067200").toLong,
    props.getOrElse("days", "4").toInt,
    props.getOrElse("stations", "8").toInt,
    props.getOrElse("eventsperday", props.getOrElse("eventsPerDay", "256")).toInt)

  override def name(): String = s"replay_feed(${conf.days}d x ${conf.stations}st)"
  override def schema(): StructType = ReplayFeed.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ReplayFeedScanBuilder(conf)
}

class ReplayFeedScanBuilder(conf: ReplayFeedConf) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ReplayFeed.SCHEMA

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept ts_sec bounds + station equality for shard pruning; report
    // everything as residual so Spark still applies exact row filtering
    pushed = filters.filter {
      case EqualTo("station", _) | EqualTo("ts_sec", _) => true
      case GreaterThan("ts_sec", _) | GreaterThanOrEqual("ts_sec", _) => true
      case LessThan("ts_sec", _) | LessThanOrEqual("ts_sec", _) => true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new ReplayFeedScan(conf, pushed, required)
}

case class ReplayFeedPartition(day: Int, station: Int) extends InputPartition

class ReplayFeedScan(conf: ReplayFeedConf, pushed: Array[Filter],
    required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ReplayFeedScan pushed=[${pushed.mkString(", ")}] read=[${required.fieldNames.mkString(",")}]"

  /** Shard-level pruning from the pushed predicates. */
  override def planInputPartitions(): Array[InputPartition] = {
    var stationEq: Option[Int] = None
    var tsLo = Long.MinValue
    var tsHi = Long.MaxValue
    pushed.foreach {
      case EqualTo("station", v: Int) => stationEq = Some(v)
      case EqualTo("station", v: Integer) => stationEq = Some(v.intValue)
      case EqualTo("ts_sec", v: Long) =>
        tsLo = math.max(tsLo, v); tsHi = math.min(tsHi, v)
      case GreaterThan("ts_sec", v: Long) => tsLo = math.max(tsLo, v + 1)
      case GreaterThanOrEqual("ts_sec", v: Long) => tsLo = math.max(tsLo, v)
      case LessThan("ts_sec", v: Long) => tsHi = math.min(tsHi, v - 1)
      case LessThanOrEqual("ts_sec", v: Long) => tsHi = math.min(tsHi, v)
      case _ =>
    }
    (for {
      day <- 0 until conf.days
      dayLo = conf.start + day.toLong * 86400
      dayHi = dayLo + 86399
      if dayHi >= tsLo && dayLo <= tsHi // day shard overlaps the time range
      st <- 0 until conf.stations
      if stationEq.forall(_ == st)
    } yield ReplayFeedPartition(day, st): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellReaderFactory(conf, required.fieldNames)

  /** Streaming surface: the same archive replayed through Structured
    * Streaming — ODIN's live_importer shape (archived feed re-delivered in
    * time order) on the micro-batch engine. Offsets are day ticks and the
    * source is fully STATELESS: `latestOffset` is always the archive end,
    * so resume position comes solely from the engine's offset/commit log
    * and a restart re-plans exactly the uncommitted day range (re-reads
    * are identical because the generator is deterministic) — exactly-once
    * with no source-side bookkeeping to lose.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ReplayFeedMicroBatchStream(conf, required.fieldNames)
}

class TickOffset(val tick: Long) extends Offset {
  override def json(): String = tick.toString
}

class ReplayFeedMicroBatchStream(conf: ReplayFeedConf, cols: Array[String])
    extends MicroBatchStream {
  override def initialOffset(): Offset = new TickOffset(0L)
  override def latestOffset(): Offset = new TickOffset(conf.days.toLong)
  override def deserializeOffset(json: String): Offset =
    new TickOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TickOffset].tick.toInt
    val e = end.asInstanceOf[TickOffset].tick.toInt
    (for (day <- s until e; st <- 0 until conf.stations)
      yield ReplayFeedPartition(day, st): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CellReaderFactory(conf, cols)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
