package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.Onnx

/** §2.G — ODIN's live importers re-expressed as Structured Streaming.
  *
  * The reference runs continuous actors that fold each incoming record
  * into per-entity state (odin_adsb/src/actor.rs aircraft store,
  * odin_sentinel live_connector.rs, odin_goesr live_importer.rs). Here the
  * same semantics are watermarked streaming queries over the `events`
  * schema: state lives in Spark's state store, sharded by the entity key,
  * so a 1000-executor cluster scales it horizontally.
  */
object Streams {

  case class Ev(event_id: Long, ts_sec: Long, user_id: Long,
      event_type: String, value: Double)

  case class EntityState(user_id: Long, last_event_id: Long, last_ts_sec: Long,
      last_value: Double, n_seen: Long)

  /** stream_latest_state: mapGroupsWithState latest-per-entity store —
    * the streaming form of ts_latest_per_key.
    */
  def latestState(events: Dataset[Ev]): Dataset[EntityState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[EntityState, EntityState](GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[EntityState]) =>
          val prev = state.getOption.getOrElse(EntityState(uid, -1L, Long.MinValue, 0.0, 0L))
          // fold in event-time order with event_id tiebreak (replay-safe)
          val next = batch.toSeq.sortBy(e => (e.ts_sec, e.event_id))
            .foldLeft(prev) { (st, e) =>
              val n = st.n_seen + 1
              if (e.ts_sec > st.last_ts_sec ||
                (e.ts_sec == st.last_ts_sec && e.event_id > st.last_event_id))
                EntityState(uid, e.event_id, e.ts_sec, e.value, n)
              else st.copy(n_seen = n)
            }
          state.update(next)
          next
      }
  }

  /** stream_windowed_agg: watermarked tumbling-window aggregation —
    * the streaming form of ts_tumbling.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("val_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("val_sum"))

  /** stream_enrich: watermarked stream-stream join — live events enriched
    * with the reference stream's records from the trailing hour (the
    * live-feed merge ODIN's actors do by holding both stores in memory).
    * Both states are bounded by watermark + range condition, so executors
    * hold O(window) state per key however long the streams run.
    */
  def enrichStream(events: DataFrame, refs: DataFrame): DataFrame = {
    val e = events
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "1 hour")
    val r = refs
      .withColumn("ref_ts", timestamp_seconds(col("ref_sec")))
      .withWatermark("ref_ts", "1 hour")
    e.join(r,
      col("user_id") === col("ref_user_id")
        && col("ref_ts") >= col("ts") - expr("INTERVAL 1 HOUR")
        && col("ref_ts") <= col("ts"),
      "inner")
  }

  /** stream_static_enrich: live feed joined against a broadcast static
    * dimension (sensor registry, aircraft metadata — ODIN's config stores).
    * The static side is planned as a broadcast hash join under every
    * micro-batch: no streaming state at all, and the dim can be refreshed
    * by restarting the query — the standard shape for slowly-changing
    * reference data at scale.
    */
  def enrichStatic(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** stream_sessions: gap-based session windows (the streaming form of
    * ts_sessionize — track legs assembled live, sessions emitted once the
    * watermark passes their gap).
    */
  def sessionStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("val_sum"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("val_sum"))

  case class DocIn(doc_id: Long, content_hash: String, ts_sec: Long = 0L)
  case class DocCopy(doc_id: Long, content_hash: String, copy_idx: Long)
  /** internal: DocIn + the watermark column (encoders need it public). */
  case class DocInW(doc_id: Long, content_hash: String,
      ts_sec: Long, ts: java.sql.Timestamp)

  /** stream_soft_dedup: streaming duplicate-pressure counter — the
    * streaming form of doc_soft_dedup. Keyed by content hash, each
    * arriving doc is emitted with its 1-based copy index (copy_idx = 1 is
    * an exact-dedup filter; the batch soft-dedup weight for a cluster of
    * size n is recoverable downstream from max(copy_idx)). Within a batch
    * arrivals order by doc_id so replays are deterministic. State is one
    * counter per hash; with `ttl` set (seconds of EVENT-time idleness) a
    * counter whose hash has gone quiet is evicted by watermark +
    * event-time timeout — the suite's stream_cpa pattern — so the state
    * store is bounded by the active-duplication horizon AND eviction is
    * deterministic on replay. (r12: this replaced a ProcessingTimeTimeout
    * design — processing-time eviction is replay-nondeterministic, and
    * its configured-timeout flag makes the engine treat EVERY batch as
    * requiring another, so processAllAvailable-driven harnesses livelock
    * in continuous no-data batches. Event time has neither defect.)
    * `ttl = None` keeps counters forever, the mode the exact-equivalence
    * spec uses.
    */
  def softDedupStream(docs: Dataset[DocIn],
      ttl: Option[Long] = Some(3600L)): Dataset[DocCopy] = {
    import docs.sparkSession.implicits._
    ttl match {
      case None =>
        docs.groupByKey(_.content_hash)
          .flatMapGroupsWithState[Long, DocCopy](OutputMode.Append,
              GroupStateTimeout.NoTimeout) {
            (h, batch, state: GroupState[Long]) =>
              var n = state.getOption.getOrElse(0L)
              val out = batch.toSeq.sortBy(_.doc_id).map { dd =>
                n += 1; DocCopy(dd.doc_id, h, n)
              }
              state.update(n)
              out.iterator
          }
      case Some(ttlSec) =>
        docs.toDF()
          .withColumn("ts", timestamp_seconds(col("ts_sec")))
          .withWatermark("ts", s"$ttlSec seconds")
          .as[DocInW]
          .groupByKey(_.content_hash)
          .flatMapGroupsWithState[(Long, Long), DocCopy](OutputMode.Append,
              GroupStateTimeout.EventTimeTimeout) {
            (h, batch, state: GroupState[(Long, Long)]) =>
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else {
                // state = (count, max event time seen): the timeout must
                // be ttl past the NEWEST copy ever seen, not this batch's
                // max — a later in-watermark batch carrying only older
                // timestamps must not pull eviction earlier (ADVICE r12)
                var (n, maxTs) = state.getOption.getOrElse((0L, Long.MinValue))
                val rows = batch.toSeq.sortBy(_.doc_id)
                val out = rows.map { dd => n += 1; DocCopy(dd.doc_id, h, n) }
                maxTs = math.max(maxTs, rows.iterator.map(_.ts_sec).max)
                state.update((n, maxTs))
                // evict when event time moves ttl past the newest copy;
                // the timeout must sit strictly above the watermark
                state.setTimeoutTimestamp(math.max(
                  (maxTs + ttlSec) * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
                out.iterator
              }
          }
    }
  }

  case class RepairedSample(user_id: Long, event_id: Long, ts_sec: Long,
      value: Double, local_median: Double, is_outlier: Boolean,
      repaired: Double)

  /** stream_hampel: streaming despiking — the live twin of ts_hampel.
    * Each entity buffers its last 7 samples (event-time ordered within a
    * batch, carried across batches in the state store); when the window
    * fills, the CENTER sample is emitted repaired (3-sample latency — the
    * price of a centered filter on a live feed). Same integer-cents
    * median/MAD math as the batch op: sorted-pick medians on 7 elements,
    * |x−med|·10000 > 44478·MAD. State is ≤ 7 samples per entity —
    * bounded, sharded by key, constant per-record work.
    */
  def hampelStream(events: Dataset[Ev]): Dataset[RepairedSample] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[(Long, Long, Long, Double)], RepairedSample](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[Seq[(Long, Long, Long, Double)]]) =>
          var buf = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[RepairedSample]
          batch.toSeq.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
            val c = math.floor(e.value * 100.0 + 0.5).toLong
            buf = buf :+ ((e.ts_sec, e.event_id, c, e.value))
            if (buf.length == 7) {
              val cs = buf.map(_._3)
              val med = cs.sorted.apply(3)
              val mad = cs.map(x => math.abs(x - med)).sorted.apply(3)
              val (ts, eid, cc, v) = buf(3)
              val outlier = math.abs(cc - med) * 10000L > mad * 44478L
              out += RepairedSample(uid, eid, ts, v, med / 100.0, outlier,
                (if (outlier) med else cc) / 100.0)
              buf = buf.tail
            }
          }
          state.update(buf)
          out.iterator
      }
  }

  /** stream_dedup: at-least-once feed → exactly-once records, the
    * streaming form of ts_dedup (replayed ODIN archives re-deliver).
    * State is bounded by the watermark horizon.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  case class Alarm(user_id: Long, event_id: Long, ts_sec: Long,
      value: Double, prev_value: Double)

  /** stream_threshold: stateful upward-crossing detector — the streaming
    * form of ts_threshold_alarm (odin_sentinel/src/alarm.rs semantics).
    */
  def thresholdAlarm(events: Dataset[Ev], threshold: Double): Dataset[Alarm] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, Alarm](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[Double]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_sec, e.event_id))
          var prev = state.getOption
          val alarms = sorted.flatMap { e =>
            val out = prev match {
              case Some(p) if e.value >= threshold && p < threshold =>
                Some(Alarm(uid, e.event_id, e.ts_sec, e.value, p))
              case _ => None
            }
            prev = Some(e.value)
            out
          }
          prev.foreach(state.update)
          alarms.iterator
      }
  }

  case class Drift(user_id: Long, event_id: Long, ts_sec: Long,
      cum_dev: Double, n_seen: Long)

  /** stream_cusum: streaming CUSUM drift detector — the streaming form of
    * ts_changepoint (and of odin_sentinel's long-horizon sensor
    * monitoring). Each entity folds deviations from a reference mean into
    * running state in the state store; the first |cum_dev| >= threshold
    * crossing emits a Drift row and latches, so one sustained level shift
    * alarms exactly once. State is 3 scalars per entity — sharded by the
    * key, constant per-record work, horizontally scalable.
    */
  def cusumMonitor(events: Dataset[Ev], refMean: Double,
      threshold: Double): Dataset[Drift] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Long, Boolean), Drift](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[(Double, Long, Boolean)]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_sec, e.event_id))
          var (cum, n, alarmed) = state.getOption.getOrElse((0.0, 0L, false))
          val out = scala.collection.mutable.ArrayBuffer.empty[Drift]
          sorted.foreach { e =>
            cum += e.value - refMean
            n += 1
            if (!alarmed && math.abs(cum) >= threshold) {
              out += Drift(uid, e.event_id, e.ts_sec, cum, n)
              alarmed = true
            }
          }
          state.update((cum, n, alarmed))
          out.iterator
      }
  }

  case class SchedState(hist: Seq[Long], n_seen: Long)
  case class SchedUpdate(user_id: Long, n_seen: Long, sched: Seq[Int],
      next_minute: Int)

  /** stream_schedule: live hourly-schedule learning — the streaming twin
    * of ts_hourly_schedule (odin_common/schedule.rs get_hourly_schedule +
    * get_next_hourly_event_dtg). ODIN's live importers ADAPT their poll
    * cadence from observed arrivals; here the per-entity minute-of-hour
    * histogram is mapGroupsWithState state (61 longs), each micro-batch
    * folds its arrivals in (round-up minute, as the reference), and the
    * emitted update carries the current right-edge-compacted schedule and
    * the predicted next poll minute after the latest arrival. State is
    * O(61) per entity and shards across the state store like every other
    * keyed stream here.
    */
  def scheduleLearner(events: Dataset[Ev]): Dataset[SchedUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SchedState, SchedUpdate](GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[SchedState]) =>
          val st = state.getOption.getOrElse(SchedState(Vector.fill(61)(0L), 0L))
          val hist = st.hist.toArray
          var lastMin = -1
          var n = st.n_seen
          batch.toSeq.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
            val m = ((e.ts_sec % 3600) / 60
              + (if (e.ts_sec % 60 > 0) 1 else 0)).toInt
            hist(m) += 1
            lastMin = (e.ts_sec % 3600 / 60).toInt
            n += 1
          }
          // right-edge compaction (schedule.rs RightEdge): spans of
          // consecutive non-zero minutes collapse to their right edge
          val sched = (0 to 60).filter(m => hist(m) > 0 &&
            (m == 60 || hist(m + 1) == 0))
          val next =
            if (sched.isEmpty || lastMin < 0) -1
            else sched.find(_ > lastMin).getOrElse(sched.head + 60) % 60
          state.update(SchedState(hist.toVector, n))
          SchedUpdate(uid, n, sched, next)
      }
  }

  case class NearDup(doc_id: Long, keeper_id: Long, band: Int)

  /** stream_lsh_dedup: streaming MinHash-LSH near-dup detection — the
    * live-feed twin of doc_minhash_lsh, for ingest-time dedup of a
    * document stream (the reference's live importers re-deliver and
    * overlap; a training-data pipeline dedups the firehose the same
    * way). Same signature scheme as the batch op (32-perm minhash, 8
    * four-row bands, xxhash64 band keys); state is ONE long per occupied
    * (band, band-signature) bucket — the keeper (min doc_id seen). Every
    * later arrival in an occupied bucket emits a candidate pair against
    * the keeper, at most once per band, and buckets shard horizontally
    * across the state store like every other keyed stream here.
    */
  def lshDedupStream(docs: DataFrame): Dataset[NearDup] = {
    import docs.sparkSession.implicits._
    val bands = 8
    val sigs = docs
      .filter(length(col("text")) >= 20)
      .select(col("doc_id"),
        graft.functions.TextFunctions.minhash_signature(col("text")).as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * 4 until (b + 1) * 4).map(i =>
          element_at(col("sig"), i + 1)): _*).as("sig"))
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("bsig"))
      .as[(Long, Int, Long)]
    banded.groupByKey { case (_, band, bsig) => (band, bsig) }
      .flatMapGroupsWithState[Long, NearDup](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state: GroupState[Long]) =>
          val ids = rows.map(_._1).toSeq.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDup]
          var keeper = state.getOption.getOrElse(Long.MaxValue)
          ids.foreach { id =>
            if (keeper == Long.MaxValue) keeper = id
            else if (id != keeper) {
              // late-arriving smaller id becomes the new keeper; the
              // displaced one is reported as its duplicate
              if (id < keeper) { out += NearDup(keeper, id, band); keeper = id }
              else out += NearDup(id, keeper, band)
            }
          }
          if (keeper != Long.MaxValue) state.update(keeper)
          out.iterator
      }
  }

  /** One parsed SBS message — the typed result of sbs.rs:151 parse_msg;
    * each transmission type populates only its own fields.
    */
  case class SbsMsg(icao24: String, ts_sec: Long, event_id: Long, mt: Int,
      callsign: Option[String], lat: Option[Double], lon: Option[Double],
      alt_ft: Option[Long], gs_kt: Option[Long], track_deg: Option[Long],
      vrate_fpm: Option[Long])

  /** Live per-aircraft state — the DashMap<String,Aircraft> entry of
    * odin_adsb/src/sbs.rs:69 process_msgs.
    */
  case class AircraftState(icao24: String, callsign: Option[String],
      lat: Option[Double], lon: Option[Double], alt_ft: Option[Long],
      gs_kt: Option[Long], track_deg: Option[Long], vrate_fpm: Option[Long],
      last_update_sec: Long, last_pos_sec: Option[Long],
      n_msgs: Long, n_pos: Long)

  /** stream_sbs_state: live SBS feed → per-aircraft state store — the
    * streaming twin of ts_sbs_merge and the direct re-expression of the
    * reference's ingest loop (odin_adsb/src/sbs.rs:97 process_next_line →
    * adsb.rs:128 AdsbData::update): each field keeps the latest message
    * that carried it; only position messages advance the store timestamp
    * (adsb.rs:139). State is sharded by icao24 in Spark's state store —
    * the DashMap scaled horizontally.
    */
  def sbsStateStream(msgs: Dataset[SbsMsg]): Dataset[AircraftState] = {
    import msgs.sparkSession.implicits._
    msgs.groupByKey(_.icao24)
      .mapGroupsWithState[AircraftState, AircraftState](GroupStateTimeout.NoTimeout) {
        (icao, batch, state: GroupState[AircraftState]) =>
          val prev = state.getOption.getOrElse(AircraftState(icao, None, None,
            None, None, None, None, None, Long.MinValue, None, 0L, 0L))
          // fold in event-time order with event-id tiebreak (replay-safe,
          // matching the batch twin's window order)
          val next = batch.toSeq.sortBy(m => (m.ts_sec, m.event_id))
            .foldLeft(prev) { (st, m) =>
              val hasPos = m.lat.isDefined && m.lon.isDefined
              st.copy(
                callsign = m.callsign.orElse(st.callsign),
                lat = m.lat.orElse(st.lat), lon = m.lon.orElse(st.lon),
                alt_ft = m.alt_ft.orElse(st.alt_ft),
                gs_kt = m.gs_kt.orElse(st.gs_kt),
                track_deg = m.track_deg.orElse(st.track_deg),
                vrate_fpm = m.vrate_fpm.orElse(st.vrate_fpm),
                last_update_sec = math.max(st.last_update_sec, m.ts_sec),
                last_pos_sec = if (hasPos) Some(m.ts_sec) else st.last_pos_sec,
                n_msgs = st.n_msgs + 1,
                n_pos = st.n_pos + (if (hasPos) 1L else 0L))
            }
          state.update(next)
          next
      }
  }

  case class SensorEv(event_id: Long, ts_sec: Long, user_id: Long,
      sensor: Long, is_alarm: Boolean)
  case class EvAlarmState(last3: Seq[Long], reported: Map[String, Long])
  case class NewAlarm(user_id: Long, event_id: Long, ts_sec: Long,
      sensor: Long, ev_sig: String)

  /** stream_alarm_evidence: the live form of ts_alarm_evidence —
    * odin_sentinel/src/alarm.rs:199 check_new_alarm run as per-device
    * state. The reference keeps a VecDeque of ReportedAlarms per monitor;
    * here the state store holds, per device, the last 3 observed sensors
    * (the evidence the next alarm will cite) and a map of reported
    * (sensor, evidence-signature) -> reported ts. An incoming alarm is
    * emitted unless the SAME sensor+evidence pair was reported within
    * `newAlarmSec` (reference semantics: the stored time is the REPORTED
    * alarm's, so a long burst re-alarms once per window, and differing
    * evidence always alarms); entries older than `oldAlarmSec` are
    * retained out, bounding state exactly like the reference's
    * retain_mut cleanup. State per device = 3 longs + a small map.
    */
  def alarmEvidence(events: Dataset[SensorEv], newAlarmSec: Long = 3600L,
      oldAlarmSec: Long = 7200L): Dataset[NewAlarm] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EvAlarmState, NewAlarm](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[EvAlarmState]) =>
          var st = state.getOption.getOrElse(EvAlarmState(Nil, Map.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[NewAlarm]
          batch.toSeq.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
            // evidence = the 3 events preceding this one (batch-twin parity)
            val sig = (st.last3.padTo(3, -1L)).distinct.sorted.mkString("-")
            if (e.is_alarm) {
              val key = s"${e.sensor}|$sig"
              // clean up old reported alarms first (alarm.rs retain_mut)
              val live = st.reported.filter {
                case (_, ts) => e.ts_sec - ts < oldAlarmSec
              }
              val dup = live.get(key).exists(ts =>
                e.ts_sec - ts < newAlarmSec)
              if (!dup) {
                out += NewAlarm(uid, e.event_id, e.ts_sec, e.sensor, sig)
                st = st.copy(reported = live + (key -> e.ts_sec))
              } else st = st.copy(reported = live)
            }
            st = st.copy(last3 = (e.sensor +: st.last3).take(3))
          }
          state.update(st)
          out.iterator
      }
  }

  case class EvT(event_id: Long, ts_sec: Long, user_id: Long,
      event_type: String, value: Double, ts: java.sql.Timestamp)

  case class OfflineAlarm(user_id: Long, last_event_id: Long,
      last_ts_sec: Long, deadline_sec: Long)

  /** stream_gap_alarm: device-offline detection via EVENT-TIME state
    * timeout — the streaming form of ts_heartbeat_uptime's gap scan
    * (odin_n5/odin_sentinel device monitors: "no report for N minutes →
    * raise"). Unlike every polling re-expression, nothing scans idle
    * state: the state store itself fires the group callback when the
    * watermark passes last_seen + gap, so a fleet of 10M mostly-silent
    * devices costs zero per-batch work until a deadline actually lapses
    * — the only offline-detector shape that scales. State is removed on
    * alarm (re-registration restarts the clock).
    */
  def gapAlarm(events: Dataset[Ev], gapSec: Long = 1800L,
      lateness: String = "10 minutes"): Dataset[OfflineAlarm] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .as[EvT]
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EntityState, OfflineAlarm](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, batch, state: GroupState[EntityState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(OfflineAlarm(uid, st.last_event_id,
              st.last_ts_sec, st.last_ts_sec + gapSec))
          } else {
            val prev = state.getOption
              .getOrElse(EntityState(uid, -1L, Long.MinValue, 0.0, 0L))
            val next = batch.foldLeft(prev) { (st, e) =>
              if (e.ts_sec > st.last_ts_sec ||
                (e.ts_sec == st.last_ts_sec && e.event_id > st.last_event_id))
                EntityState(uid, e.event_id, e.ts_sec, e.value, st.n_seen + 1)
              else st.copy(n_seen = st.n_seen + 1)
            }
            state.update(next)
            state.setTimeoutTimestamp((next.last_ts_sec + gapSec) * 1000L)
            Iterator.empty
          }
      }
  }

  case class DocEv(doc_id: Long, lang: String, text: String)
  case class DriftState(counts: Seq[Long], n_base: Long)
  case class DriftReport(lang: String, n_base: Long, n_batch: Long,
      kl_nats: Double, drifted: Boolean)

  /** stream_drift: live corpus-mix drift alarm — the streaming twin of
    * doc_drift_kl. Per language, the state store holds the cumulative
    * 256-bucket hashed-vocabulary histogram; each micro-batch scores
    * KL(batch ‖ history) with Laplace smoothing over the full bucket
    * domain BEFORE folding its tokens in, so a feed that suddenly ships
    * different text alarms on the batch that changed. State is O(256)
    * longs per language — the same bounded-state shape as the schedule
    * learner. The first batch per language seeds the baseline and emits
    * no score.
    */
  def driftStream(docs: Dataset[DocEv], threshold: Double = 0.05)
      : Dataset[DriftReport] = {
    import docs.sparkSession.implicits._
    def bucket(term: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (md.digest(term.getBytes("UTF-8"))(0) & 0xFF)
    }
    docs
      .groupByKey(_.lang)
      .flatMapGroupsWithState[DriftState, DriftReport](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang, batch, state: GroupState[DriftState]) =>
          val bc = new Array[Long](256)
          var nBatch = 0L
          batch.foreach(_.text.split(" ").iterator.filter(_.nonEmpty)
            .foreach { t => bc(bucket(t)) += 1; nBatch += 1 })
          val out = state.getOption match {
            case Some(st) if nBatch > 0 =>
              val nb = st.n_base
              var kl = 0.0
              var i = 0
              while (i < 256) {
                val p = (bc(i) + 1.0) / (nBatch + 256.0)
                val q = (st.counts(i) + 1.0) / (nb + 256.0)
                kl += p * math.log(p / q)
                i += 1
              }
              Iterator.single(
                DriftReport(lang, nb, nBatch, kl, kl > threshold))
            case _ => Iterator.empty
          }
          val prev = state.getOption.getOrElse(DriftState(Vector.fill(256)(0L), 0L))
          state.update(DriftState(
            prev.counts.zipWithIndex.map { case (c, i) => c + bc(i) },
            prev.n_base + nBatch))
          out
      }
  }

  case class HoltState(level: Double, trend: Double, n: Long)
  case class Smoothed(user_id: Long, event_id: Long, ts_sec: Long,
      value: Double, level: Double, trend: Double, forecast_1: Double)

  /** stream_holt: live Holt level+trend smoothing per entity — the
    * infinite-horizon streaming twin of ts_holt (which unrolls a finite
    * window for the batch/oracle path). State per entity is the exact
    * (level, trend) recursion pair: each arrival folds in time order
    * within the micro-batch, emitting the smoothed state and one-step
    * forecast per event. O(1) state per key — the same per-entity
    * sharding as every keyed stream here; late events within a batch are
    * ordered, across batches they extend the recursion as received
    * (streaming semantics: the smoother consumes the feed order).
    */
  def holtStream(events: Dataset[Ev], alpha: Double = 0.5,
      beta: Double = 0.3): Dataset[Smoothed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[HoltState, Smoothed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[HoltState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_sec, e.event_id))
          var st = state.getOption.getOrElse(HoltState(0.0, 0.0, 0L))
          val out = sorted.map { e =>
            st = if (st.n == 0L) HoltState(e.value, 0.0, 1L)
            else {
              val lPrev = st.level
              val l = alpha * e.value + (1.0 - alpha) * (st.level + st.trend)
              val b = beta * (l - lPrev) + (1.0 - beta) * st.trend
              HoltState(l, b, st.n + 1)
            }
            Smoothed(uid, e.event_id, e.ts_sec, e.value,
              st.level, st.trend, st.level + st.trend)
          }
          state.update(st)
          out.iterator
      }
  }

  case class SsCounter(user_id: Long, est: Long, err: Long)
  case class TopKState(counters: Seq[SsCounter], n_seen: Long)
  case class TopKOut(event_type: String, n_seen: Long,
      top_users: Seq[Long], top_counts: Seq[Long], top_errs: Seq[Long])

  /** stream_upsert_sink: foreachBatch keyed-upsert materialization — the
    * streaming MERGE pattern that maintains a queryable latest-state
    * table from an event stream. Each micro-batch folds into the current
    * snapshot (union -> struct-max latest per key) and commits through
    * Sources.commitVersion's atomic log, with the batchId AS the version:
    * a replayed batch after restart finds its version already published
    * and becomes a no-op — exactly-once table state on top of
    * at-least-once batch delivery. State lives in the table, not the
    * driver; the fold is one keyed aggregate per batch.
    */
  def upsertBatch(batch: DataFrame, batchId: Long, tablePath: String): Long = {
    val spark = batch.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_sec",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val cur = graft.sources.Sources.readVersion(spark, tablePath, schema)
    val next = cur.unionByName(
        batch.select(col("user_id"), col("event_id"), col("ts_sec"),
          col("value")))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_sec"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.ts_sec").as("ts_sec"), col("m.value").as("value"))
    // batchId as the version: replay-idempotent
    graft.sources.Sources.commitVersion(next, tablePath, Some(batchId))
  }

  /** stream_interval_join: watermarked stream-stream event-time join —
    * command events matched to acknowledgement events of the same entity
    * arriving within `horizonSec`. The time-range predicate plus BOTH
    * watermarks lets Spark expire join state (a cmd older than watermark -
    * horizon can never match again), so state is bounded per entity even
    * on an unbounded feed — the canonical two-feed correlation ODIN's
    * importers do imperatively (live track updates joined to the archive
    * replay of the matching window).
    */
  def intervalJoinStream(cmds: Dataset[Ev], acks: Dataset[Ev],
      horizonSec: Long = 600L, lateness: String = "10 minutes"): DataFrame = {
    val c = cmds.toDF()
      .select(col("user_id").as("c_user"), col("event_id").as("cmd_id"),
        timestamp_seconds(col("ts_sec")).as("cmd_ts"),
        col("value").as("cmd_value"))
      .withWatermark("cmd_ts", lateness)
    val a = acks.toDF()
      .select(col("user_id").as("a_user"), col("event_id").as("ack_id"),
        timestamp_seconds(col("ts_sec")).as("ack_ts"),
        col("value").as("ack_value"))
      .withWatermark("ack_ts", lateness)
    c.join(a, expr(
      s"""c_user = a_user
          AND ack_ts >= cmd_ts
          AND ack_ts <= cmd_ts + interval $horizonSec seconds"""))
      .select(col("c_user").as("user_id"), col("cmd_id"), col("ack_id"),
        col("cmd_ts"), col("ack_ts"), col("cmd_value"), col("ack_value"),
        (unix_timestamp(col("ack_ts")) - unix_timestamp(col("cmd_ts")))
          .as("latency_sec"))
  }

  case class KmvState(hashes: Vector[Long], n_seen: Long)
  case class KmvOut(event_type: String, n_seen: Long, n_kept: Int,
      estimate: Double)

  /** stream_kmv_distinct: bounded-state streaming distinct-count — the
    * mapGroupsWithState twin of q51_kmv_distinct. Per event type the
    * state is the k=64 smallest 48-bit hashes of the user ids seen (12
    * md5 hex chars, same space as the batch sketch), so cardinality
    * estimation over an unbounded feed costs 64 longs per key — and the
    * state UNION of two executors' sketches is again a valid sketch (the
    * merge property the batch query proves). Emits the running estimate
    * after each batch.
    */
  def kmvDistinctStream(events: Dataset[Ev], k: Int = 64,
      keyOf: Ev => String = _.event_type,
      itemOf: Ev => Long = _.user_id): Dataset[KmvOut] = {
    // keyOf/itemOf default to the registered per-type distinct-user
    // semantics; StreamBench's fleet-cardinality tier re-keys by
    // user_id (the odin_adsb per-aircraft loop, sbs.rs:69) with
    // distinct events as the sketched item
    import events.sparkSession.implicits._
    def hash48(uid: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
      md.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    events.groupByKey(keyOf)
      .mapGroupsWithState[KmvState, KmvOut](GroupStateTimeout.NoTimeout) {
        case (etype, it, state) =>
          var st = state.getOption.getOrElse(KmvState(Vector.empty, 0L))
          var hs = st.hashes
          var n = st.n_seen
          it.foreach { e =>
            val h = hash48(itemOf(e))
            n += 1
            if (!hs.contains(h)) hs = (hs :+ h).sorted.take(k)
          }
          st = KmvState(hs, n)
          state.update(st)
          val est =
            if (hs.size < k) hs.size.toDouble
            else (k - 1).toDouble * 281474976710656.0 / hs.last
          KmvOut(etype, n, hs.size, est)
      }
  }

  /** stream_topk: bounded-memory heavy hitters per event type via the
    * SpaceSaving summary (Metwally et al. 2005) held in
    * mapGroupsWithState — the streaming answer to "who dominates this
    * feed right now" that never stores more than `capacity` counters
    * per key no matter how many distinct entities flow past (the
    * property that matters on an unbounded 100 TB/day feed; an exact
    * groupBy state would grow without bound). Any entity with true
    * frequency > n_seen/capacity is guaranteed present; `err` bounds
    * each estimate's overcount. Batches fold in (ts, event_id) order so
    * replay is deterministic; emits the current top-5 per type after
    * each batch.
    */
  def topkStream(events: Dataset[Ev], capacity: Int = 16,
      keyOf: Ev => String = _.event_type,
      itemOf: Ev => Long = _.user_id): Dataset[TopKOut] = {
    // keyOf/itemOf as in kmvDistinctStream: defaults preserve the
    // registered semantics, the bench re-keys by entity for the
    // fleet-cardinality tier
    import events.sparkSession.implicits._
    events
      .groupByKey(keyOf)
      .mapGroupsWithState[TopKState, TopKOut](GroupStateTimeout.NoTimeout) {
        (etype, batch, state: GroupState[TopKState]) =>
          var st = state.getOption.getOrElse(TopKState(Seq.empty, 0L))
          var cs = st.counters.toVector
          batch.toSeq.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
            val item = itemOf(e)
            val i = cs.indexWhere(_.user_id == item)
            if (i >= 0) cs = cs.updated(i, cs(i).copy(est = cs(i).est + 1))
            else if (cs.size < capacity) cs :+= SsCounter(item, 1L, 0L)
            else {
              // evict the min-estimate counter (largest user_id on ties:
              // deterministic) and inherit its estimate as the error bound
              val victim = cs.minBy(c => (c.est, -c.user_id))
              val j = cs.indexOf(victim)
              cs = cs.updated(j,
                SsCounter(item, victim.est + 1, victim.est))
            }
            st = st.copy(n_seen = st.n_seen + 1)
          }
          st = st.copy(counters = cs)
          state.update(st)
          val top = cs.sortBy(c => (-c.est, c.user_id)).take(5)
          TopKOut(etype, st.n_seen, top.map(_.user_id), top.map(_.est),
            top.map(_.err))
      }
  }

  case class FemsObs(station_id: Long, fuel_model: String, ts_sec: Long,
      event_id: Long, is_forecast: Boolean, erc: Double)
  case class FemsState(actual: Option[FemsObs], forecasts: Seq[FemsObs])
  case class FemsSnapshot(station_id: Long, fuel_model: String,
      n_obs: Long, actual_ts: Option[Long], n_forecasts: Long,
      latest_erc: Option[Double])

  /** stream_fems_obs: live FEMS/NFDRS observation store — the streaming
    * twin of fems_nfdrs_obs, re-expressing the reference's retention loop
    * (odin_fems/src/lib.rs:884 update_station_nfdrs_obs, :902 sort_in):
    * per (station, fuel model), state holds exactly ONE latest actual
    * observation plus the date-sorted forecast window; a newer actual
    * replaces the stored one ("we only keep the latest actual
    * observation"), an older actual is ignored, forecasts insert in date
    * order. State is bounded: 1 + forecast-window entries per key
    * regardless of feed length. Batches fold in (ts, event) order for
    * replay determinism; forecasts older than the stored actual are
    * dropped the way the reference's window re-query discards them.
    */
  def femsObsStream(obs: Dataset[FemsObs]): Dataset[FemsSnapshot] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(o => (o.station_id, o.fuel_model))
      .mapGroupsWithState[FemsState, FemsSnapshot](GroupStateTimeout.NoTimeout) {
        case ((sid, fm), batch, state: GroupState[FemsState]) =>
          var st = state.getOption.getOrElse(FemsState(None, Nil))
          batch.toSeq.sortBy(o => (o.ts_sec, o.event_id)).foreach { o =>
            if (!o.is_forecast) {
              // only keep the latest actual observation (lib.rs:899)
              if (st.actual.forall(_.ts_sec < o.ts_sec))
                st = st.copy(actual = Some(o),
                  // a new actual invalidates forecasts at or before it
                  forecasts = st.forecasts.filter(_.ts_sec > o.ts_sec))
            } else if (st.actual.forall(_.ts_sec < o.ts_sec)) {
              // sort_in by date (lib.rs:902), event-id tiebreak
              st = st.copy(forecasts =
                (st.forecasts :+ o).sortBy(f => (f.ts_sec, f.event_id)))
            }
          }
          state.update(st)
          FemsSnapshot(sid, fm,
            st.forecasts.size.toLong + st.actual.size.toLong,
            st.actual.map(_.ts_sec), st.forecasts.size.toLong,
            st.forecasts.lastOption.orElse(st.actual).map(_.erc))
      }
  }

  case class InferIn(doc_id: Long, png: Array[Byte])
  case class InferOut(doc_id: Long, batch_len: Int, pred_class: Int,
      logit0: Double, logit1: Double, logit2: Double, logit3: Double)

  /** Live micro-batch model scoring — the streaming twin of the batch
    * inference operators, and the shape the reference actually runs
    * (odin_onnx's SmokeDetector scores a LIVE camera feed: each arriving
    * image batch goes through one ort::Session the actor holds open).
    * Stateless per-record transform, so it composes with any upstream
    * watermark/dedup stage: within each micro-batch partition, records
    * buffer into fixed-size-32 batches (tail handled), and each batch is
    * one `scorer.score` — real ImageIO decode, one run of the committed
    * session, loaded once per executor JVM and shared with the batch
    * operator (the ort lifecycle). Undecodable payloads score as a zero
    * input rather than failing the stream. Outputs are bit-identical to
    * the batch operator's.
    */
  def inferStream(in: Dataset[InferIn], scorer: Onnx.Scorer)
      : Dataset[InferOut] = {
    import in.sparkSession.implicits._
    in.mapPartitions { it =>
      it.grouped(32).flatMap { batch =>
        batch.zip(scorer.score(batch.map(_.png))).map { case (r, v) =>
          InferOut(r.doc_id, batch.length, v.indexOf(v.max),
            v(0), v(1), v(2), v(3))
        }
      }
    }
  }

  /** stream_batch_infer: smoke_mlp.onnx, the twin of mm_batch_infer. */
  def batchInferStream(in: Dataset[InferIn]): Dataset[InferOut] =
    inferStream(in, Onnx.Scorer.Mlp)

  /** stream_conv_infer: smoke_cnn.onnx, the twin of mm_conv_infer. */
  def convInferStream(in: Dataset[InferIn]): Dataset[InferOut] =
    inferStream(in, Onnx.Scorer.Cnn)

  /** stream_cnn2_infer: smoke_cnn2.onnx, the twin of mm_cnn2_infer. */
  def cnn2InferStream(in: Dataset[InferIn]): Dataset[InferOut] =
    inferStream(in, Onnx.Scorer.Cnn2)

  case class FenceSeg(fence: Int, ax: Long, ay: Long, bx: Long, by: Long)
  case class FixEv(user_id: Long, event_id: Long, ts_sec: Long,
      lat: Double, lon: Double)
  case class Crossing(user_id: Long, e_from: Long, e_to: Long,
      fence: Int, ts_sec: Long)
  case class FenceState(event_id: Long, ts_sec: Long, px: Long, py: Long)

  /** stream_fence: live geofence/perimeter crossing alerts (streaming
    * twin of geo_fence_crossings — "track entered the fire perimeter",
    * the alerting the reference's track actors do imperatively). State =
    * ONE last fix per entity; each arriving fix closes a track segment
    * and tests it against the broadcast fence set with the batch
    * operator's exact-integer orientation predicate (1e-5-degree
    * fixed-point cross products in Long — bit-identical decisions, no
    * floating point). Constant state and O(|fences|) work per record.
    */
  def fenceStream(fixes: Dataset[FixEv], fences: Seq[FenceSeg])
      : Dataset[Crossing] = {
    val spark = fixes.sparkSession
    import spark.implicits._
    def cross(p: FenceState, qx: Long, qy: Long, f: FenceSeg): Boolean = {
      def o(ax: Long, ay: Long, bx: Long, by: Long,
          cx: Long, cy: Long): Int =
        java.lang.Long.signum((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))
      o(p.px, p.py, qx, qy, f.ax, f.ay) * o(p.px, p.py, qx, qy, f.bx, f.by) < 0 &&
        o(f.ax, f.ay, f.bx, f.by, p.px, p.py) * o(f.ax, f.ay, f.bx, f.by, qx, qy) < 0
    }
    fixes.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[FixEv], state: GroupState[FenceState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_sec, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Crossing]
          var prev = state.getOption
          // Event-time guard across micro-batches: a late fix whose
          // (ts_sec, event_id) is <= the stored state's key would regress
          // state and emit a time-backwards segment, diverging from the
          // batch twin (geo_fence_crossings) whose segments are strictly
          // (ts_sec, event_id)-ordered. State only moves forward.
          val fresh = prev match {
            case Some(p) => sorted.filter(e =>
              e.ts_sec > p.ts_sec ||
                (e.ts_sec == p.ts_sec && e.event_id > p.event_id))
            case None => sorted
          }
          fresh.foreach { e =>
            val qx = math.floor(e.lon * 100000.0).toLong
            val qy = math.floor(e.lat * 100000.0).toLong
            prev.foreach { p =>
              fences.foreach { f =>
                if (cross(p, qx, qy, f))
                  out += Crossing(e.user_id, p.event_id, e.event_id,
                    f.fence, p.ts_sec)
              }
            }
            prev = Some(FenceState(e.event_id, e.ts_sec, qx, qy))
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  case class Fix(user_id: Long, ts_sec: Long, lat: Double, lon: Double,
      vlat: Double, vlon: Double)

  /** One fix replicated into a grid cell's pairing scope. `home` is true
    * on the copy landing in the fix's own 1° cell, false on the 8
    * neighbor-cell copies.
    */
  case class CpaIn(cl: Long, cn: Long, user_id: Long, ts_sec: Long,
      ts: java.sql.Timestamp, lat: Double, lon: Double,
      vlat: Double, vlon: Double, home: Boolean)

  case class CpaStoredFix(user_id: Long, ts_sec: Long, lat: Double,
      lon: Double, vlat: Double, vlon: Double, home: Boolean)

  case class CpaTbUser(tb: Long, user_id: Long)

  /** Per-cell CPA state: the fixes still inside the pairing band plus
    * the per-time-bucket keeper sets that enforce the density cap.
    */
  case class CpaCellState(fixes: Seq[CpaStoredFix],
      homeAdm: Seq[CpaTbUser], probeAdm: Seq[CpaTbUser])

  /** Pair or overflow event from the per-cell CPA monitor. kind="pair"
    * rows carry the encounter; kind="over" rows carry a home fix the
    * density cap rejected (user_a / ts_a_sec are the rejected fix).
    */
  case class CpaEvent(kind: String, user_a: Long, user_b: Long,
      ts_a_sec: Long, ts_b_sec: Long, t_cpa_min: Double, d_cpa_km: Double,
      tb: Long, cl: Long, cn: Long)

  /** stream_cpa core: LIVE closest-point-of-approach monitoring — the
    * streaming twin of geo_cpa and the shape of odin_adsb's closing-rate
    * watch (each incoming track fix is immediately checked against every
    * recent fix in its spatial neighborhood). Each fix is replicated to
    * its 3×3 neighbor 1° cells (home copy + 8 probe copies) and the
    * stream is keyed by cell; one flatMapGroupsWithState stage per cell
    * holds the fixes still inside the ±`bandSec` event-time band and
    * pairs every arriving copy against them with the batch operator's
    * exact clamped-solve arithmetic (round-6 midpoint cosine, clamp to
    * [0, 30] min, -0.0 canonicalization, round-3 display). A pair
    * (a, b), user_a < user_b, is emitted exactly once — in user_a's home
    * cell when user_b's copy reaches it — matching the batch twin's
    * home-side × 3×3-probe join.
    *
    * Density cap (the guard geo_cpa needed twice and geo_convoys once —
    * uncapped pair output is quadratic in per-cell entity density, and
    * in the live path an overdense cell stalls the micro-batch): per
    * (cell, 30-min time bucket) at most `cellCap` distinct HOME users are
    * admitted to pairing; later home fixes in a tripped bucket are
    * rejected to the kind="over" side-output (cpaOverflowStream) instead
    * of pairing. Probe copies get an 8×`cellCap` keeper set — it only
    * rejects when some neighbor cell is itself over the cap, so pair
    * output is EXACTLY the uncapped set whenever every cell in a fix's
    * 3×3 catchment holds ≤ `cellCap` distinct users per bucket
    * (StreamReplaySpec pins this parity; gate-scale densities peak at 9
    * vs 64). State per cell is bounded by ≤ 9·cellCap admitted users ×
    * their fixes in band; watermark eviction (a fix older than
    * watermark − band can never pair again) plus an event-time timeout
    * bounds it by density × band — never feed length.
    */
  def cpaEvents(fixes: Dataset[Fix], maxKm: Double = 100.0,
      bandSec: Long = 900L, lateness: String = "10 minutes",
      cellCap: Int = 64): Dataset[CpaEvent] = {
    val spark = fixes.sparkSession
    import spark.implicits._
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def r3(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue

    val replicated = fixes.toDF()
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", lateness)
      .withColumn("hcl", floor(col("lat")).cast("long"))
      .withColumn("hcn", floor(col("lon")).cast("long"))
      .withColumn("dlat", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dlon", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select((col("hcl") + col("dlat")).as("cl"),
        (col("hcn") + col("dlon")).as("cn"),
        col("user_id"), col("ts_sec"), col("ts"),
        col("lat"), col("lon"), col("vlat"), col("vlon"),
        (col("dlat") === 0L && col("dlon") === 0L).as("home"))
      .as[CpaIn]

    replicated.groupByKey(r => (r.cl, r.cn))
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), it: Iterator[CpaIn],
            state: GroupState[CpaCellState]) =>
          val (cellL, cellN) = key
          val wmMs = state.getCurrentWatermarkMs()
          val prev = state.getOption
            .getOrElse(CpaCellState(Nil, Nil, Nil))
          // watermark eviction: a stored fix can only pair with arrivals
          // whose ts >= watermark, so ts + band < watermark is dead;
          // a keeper bucket whose span (+band) is behind the watermark
          // can never gain a member either
          val live = prev.fixes
            .filter(f => (f.ts_sec + bandSec) * 1000L >= wmMs)
          def liveAdm(adm: Seq[CpaTbUser]) = adm.filter(a =>
            ((a.tb + 1) * 1800L + bandSec) * 1000L >= wmMs)
          val stored = scala.collection.mutable.ArrayBuffer(live: _*)
          val homeAdm = scala.collection.mutable.Map.empty[Long,
            scala.collection.mutable.LinkedHashSet[Long]]
          val probeAdm = scala.collection.mutable.Map.empty[Long,
            scala.collection.mutable.LinkedHashSet[Long]]
          liveAdm(prev.homeAdm).foreach(a => homeAdm
            .getOrElseUpdate(a.tb, scala.collection.mutable.LinkedHashSet
              .empty[Long]) += a.user_id)
          liveAdm(prev.probeAdm).foreach(a => probeAdm
            .getOrElseUpdate(a.tb, scala.collection.mutable.LinkedHashSet
              .empty[Long]) += a.user_id)

          val out = scala.collection.mutable.ArrayBuffer.empty[CpaEvent]
          // deterministic in-batch order; late rows (below watermark)
          // are dropped exactly as the stream-stream join would drop them
          val incoming = it.toSeq
            .filter(_.ts_sec * 1000L >= wmMs)
            .sortBy(r => (r.ts_sec, r.user_id, !r.home))
          incoming.foreach { r =>
            val tb = Math.floorDiv(r.ts_sec, 1800L)
            val adm = if (r.home) homeAdm else probeAdm
            val cap = if (r.home) cellCap else 8 * cellCap
            val set = adm.getOrElseUpdate(tb,
              scala.collection.mutable.LinkedHashSet.empty[Long])
            if (set.contains(r.user_id) || set.size < cap) {
              set += r.user_id
              stored.foreach { s =>
                if (s.user_id != r.user_id
                    && math.abs(s.ts_sec - r.ts_sec) <= bandSec) {
                  // the pair's home side is "a"; user_a < user_b picks
                  // the one cell (home(a)) where the pair is emitted
                  val ab =
                    if (r.home && r.user_id < s.user_id)
                      Some((CpaStoredFix(r.user_id, r.ts_sec, r.lat, r.lon,
                        r.vlat, r.vlon, r.home), s))
                    else if (s.home && s.user_id < r.user_id)
                      Some((s, CpaStoredFix(r.user_id, r.ts_sec, r.lat,
                        r.lon, r.vlat, r.vlon, r.home)))
                    else None
                  ab.foreach { case (a, b) =>
                    val kx =
                      r6(math.cos(math.toRadians((a.lat + b.lat) / 2.0))) *
                        111.195
                    val dx = (b.lon - a.lon) * kx
                    val dy = (b.lat - a.lat) * 111.195
                    val dvx = (b.vlon - a.vlon) * kx
                    val dvy = (b.vlat - a.vlat) * 111.195
                    val den = dvx * dvx + dvy * dvy
                    val t = if (den <= 1e-12) 0.0
                      else math.min(math.max(-(dx * dvx + dy * dvy) / den,
                        0.0), 30.0) + 0.0
                    val dKm = math.sqrt(math.pow(dx + dvx * t, 2)
                      + math.pow(dy + dvy * t, 2))
                    if (dKm <= maxKm)
                      out += CpaEvent("pair", a.user_id, b.user_id,
                        a.ts_sec, b.ts_sec, r3(t), r3(dKm),
                        tb, cellL, cellN)
                  }
                }
              }
              stored += CpaStoredFix(r.user_id, r.ts_sec, r.lat, r.lon,
                r.vlat, r.vlon, r.home)
            } else if (r.home) {
              out += CpaEvent("over", r.user_id, -1L, r.ts_sec, -1L,
                0.0, 0.0, tb, cellL, cellN)
            } // a rejected probe's home cell reports it — stay silent
          }

          val admSeq = (m: scala.collection.mutable.Map[Long,
              scala.collection.mutable.LinkedHashSet[Long]]) =>
            m.toSeq.sortBy(_._1)
              .flatMap { case (tb, us) => us.toSeq.map(CpaTbUser(tb, _)) }
          if (stored.isEmpty && homeAdm.valuesIterator.forall(_.isEmpty)
              && probeAdm.valuesIterator.forall(_.isEmpty)) {
            state.remove()
          } else {
            state.update(CpaCellState(stored.toSeq,
              admSeq(homeAdm), admSeq(probeAdm)))
            val horizon = (stored.map(_.ts_sec + bandSec) ++
              homeAdm.keys.map(tb => (tb + 1) * 1800L + bandSec) ++
              probeAdm.keys.map(tb => (tb + 1) * 1800L + bandSec)).max
            state.setTimeoutTimestamp(
              math.max(horizon * 1000L + 1000L, wmMs + 1000L))
          }
          out.iterator
      }
  }

  /** stream_cpa: the pair alarms from [[cpaEvents]] in the batch twin's
    * output schema (user_a, user_b, ts_a, ts_b, t_cpa_min, d_cpa_km).
    */
  def cpaStream(fixes: Dataset[Fix], maxKm: Double = 100.0,
      bandSec: Long = 900L, lateness: String = "10 minutes",
      cellCap: Int = 64): DataFrame =
    cpaEvents(fixes, maxKm, bandSec, lateness, cellCap)
      .filter(col("kind") === "pair")
      .select(col("user_a"), col("user_b"),
        timestamp_seconds(col("ts_a_sec")).as("ts_a"),
        timestamp_seconds(col("ts_b_sec")).as("ts_b"),
        col("t_cpa_min"), col("d_cpa_km"))

  /** stream_cpa_overflow: the density-cap audit side of [[cpaEvents]] —
    * the live twin of geo_cpa_overflow. One row per home fix the cap
    * rejected: the (time-bucket, cell) that tripped, the entity, and the
    * fix time. Operators triage these (shrink the cell, raise the cap)
    * instead of paying an unbounded quadratic pair listing.
    */
  def cpaOverflowStream(fixes: Dataset[Fix], maxKm: Double = 100.0,
      bandSec: Long = 900L, lateness: String = "10 minutes",
      cellCap: Int = 64): DataFrame =
    cpaEvents(fixes, maxKm, bandSec, lateness, cellCap)
      .filter(col("kind") === "over")
      .select(col("tb"), col("cl"), col("cn"),
        col("user_a").as("user_id"),
        timestamp_seconds(col("ts_a_sec")).as("ts"))
}
