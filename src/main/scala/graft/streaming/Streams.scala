package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Voyages

/** Typed event row for the custom-state operators. */
case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Open-session state carried across micro-batches (epoch micros). */
case class SessionState(start: Long, last: Long, n: Long, sum: Double)

/** Emitted closed session. */
case class SessionOut(user_id: Long, n_events: Long,
    t_start: java.sql.Timestamp, t_end: java.sql.Timestamp,
    total_value: Double)

/** Funnel progression state: earliest qualifying epoch-micros per
  * stage, -1 = not reached. */
case class FunnelState(t1: Long, t2: Long, t3: Long)

/** Emitted stage completion. */
case class FunnelOut(user_id: Long, stage: String, ts: java.sql.Timestamp)

/** Open-voyage state: origin zone, last report micros, last zone,
  * points so far. */
case class VoyageState(oZone: String, last: Long, dZone: String, n: Long)

/** Emitted closed voyage with its OD endpoints. */
case class VoyageOut(user_id: Long, o_zone: String, d_zone: String,
    n_points: Long)

/** Last-seen event type per user (transition-pair state); `last` is
  * the per-key event-time high-water mark for the late-event guard. */
case class TransitionState(lastType: String, last: Long)

/** Last known purchase value per user (gap-fill state); -1 = none
  * yet. `last` is the event-time high-water mark. */
case class GapFillState(value: Double, hasValue: Boolean, last: Long)

/** Per-vessel zone-presence state: the set of polygon zones the
  * vessel is currently inside, plus the event-time high-water mark. */
case class ZoneEntryState(inside: Map[String, Boolean], last: Long)

/** Emitted zone entry (a rising inside-edge). */
case class ZoneEntryOut(user_id: Long, zone: String,
    ts: java.sql.Timestamp)

/** Emitted gap-filled event. */
case class GapFillOut(user_id: Long, event_id: Long, event_type: String,
    last_purchase_value: java.lang.Double)

/** Emitted transition pair. */
case class TransitionOut(user_id: Long, from_type: String, to_type: String)

/** Structured-Streaming twins of the Category-H batch operators
  * (SURVEY.md §2.1.H): the same event-stream semantics expressed over
  * an unbounded source with watermarks.
  *
  * Each transform takes ANY events-shaped DataFrame — batch or
  * streaming — so the batch queries in operators.EventOps and these
  * streaming twins share semantics by construction; StreamingSpec
  * feeds a MemoryStream through them and asserts batch == stream.
  *
  * Production shape at 100 TB: readStream over a partitioned file/
  * Kafka source, watermark bounds state, session/dedup state is
  * per-key (user_id) so it scales horizontally with shuffle
  * partitions.
  */
object Streams {

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** One key's micro-batch input in event-time order, as
    * (epoch micros, row): the input is unordered, and (ts, event_id)
    * is the batch queries' total order. */
  private def inEventTime(it: Iterator[EventRow]): Seq[(Long, EventRow)] =
    it.map(e => (micros(e.ts), e)).toSeq
      .sortBy { case (t, e) => (t, e.event_id) }

  private def toTs(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(m / 1000000L * 1000L)
    t.setNanos((m % 1000000L).toInt * 1000)
    t
  }

  /** File-source entry: stream the events table from a directory of
    * parquet files. The schema is pinned from a RAW batch read (the
    * PHYSICAL schema — pinning the post-conversion timestamp schema
    * would mis-read a bigint-nanos file), then
    * [[graft.Tables.normalizeEvents]] applies the batch loader's
    * per-vintage ts normalization on the stream. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // Session-lifetime conf flip, documented at Tables.ensureNanosAsLong.
    graft.Tables.ensureNanosAsLong(spark)
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // The file source monitors a DIRECTORY; pathGlobFilter pins it to
    // the events table within the shared scale-factor dir.
    graft.Tables.normalizeEvents(spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** 1-hour tumbling counts+sums per event type (twin of
    * stream_tumbling). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("w.start").as("bucket"), col("event_type"),
        col("n"), col("total_value"))

  /** 1-hour windows sliding every 15 min (twin of stream_sliding). */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("total_value"))

  /** 30-min-gap sessionization per user via session_window (twin of
    * stream_session's lag+running-sum construction). */
  def session(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("t_start"), max("ts").as("t_end"),
        round(sum("value"), 2).as("total_value"))
      .select(col("user_id"), col("n_events"),
        col("t_start"), col("t_end"), col("total_value"))

  /** Keep-first dedup by (user_id, event_type) within the watermark
    * (twin of stream_dedup; streaming keeps the first ARRIVED row,
    * which equals first-by-ts when the feed is ts-ordered). */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type", "event_id", "ts")

  /** The per-vessel event-time fold every custom-state twin runs on:
    * groups the events by `user_id`, replays each key's micro-batch
    * in (ts, event_id) order and writes the key's last state back.
    * `step(uid, emit)` is called once per key and micro-batch; it
    * returns the per-report update `(state, t, report) => state`,
    * with `t` the report's epoch µs and `state` None before the key's
    * first report, and emits output through `emit`. State is one `S`
    * per key, so the store holds O(active keys) rows, never O(events),
    * and keys shard across shuffle partitions. The last state per key
    * stays in the store when input ends (NoTimeout; production would
    * emit it on a timeout).
    *
    * LATE EVENTS: `mark` reads the state's event-time high-water
    * mark. A report below the stored mark is a cross-micro-batch
    * straggler and is DROPPED before `step` sees it, the policy the
    * engine's watermark applies to late rows before stateful ops.
    * Kept, a stale report would extend an open voyage and drag its
    * `last` and `d_zone` backwards, emit a transition pair out of
    * sequence or roll a carried value back. Within a micro-batch the
    * replay order handles disorder, so stream == batch parity needs
    * only that batches arrive per key non-overlapping in event time
    * (StreamingSpec proves parity on ordered splits and pins the drop
    * on a crafted straggler for every twin). A twin without a mark
    * sees every report. */
  private def fold[S <: Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[EventRow], mark: Option[S => Long])(
      step: (Long, O => Unit) => (Option[S], Long, EventRow) => S)
      : Dataset[O] =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EventRow], state: GroupState[S]) =>
          val out = Seq.newBuilder[O]
          val update = step(uid, out += _)
          var cur = state.getOption
          inEventTime(it).foreach { case (t, e) =>
            if (!cur.exists(s => mark.exists(t < _(s))))
              cur = Some(update(cur, t, e))
          }
          cur.foreach(state.update)
          out.result().iterator
      }(Encoders.product[S], Encoders.product[O])

  /** The >30-min split on top of [[fold]], for sessions and voyages:
    * a report more than [[Voyages.GapMicros]] after the open
    * segment's `last` report closes it (`close` emits it) and opens
    * the next; any other report `extend`s the open segment. `last` is
    * also the fold's mark. */
  private def gapSplit[S <: Product : TypeTag, O <: Product : TypeTag](
      events: Dataset[EventRow], last: S => Long)(
      open: (Long, EventRow) => S, extend: (S, Long, EventRow) => S,
      close: (Long, S) => O): Dataset[O] =
    fold[S, O](events, Some(last)) { (uid, emit) => (cur, t, e) =>
      cur match {
        case Some(s) if t - last(s) <= Voyages.GapMicros => extend(s, t, e)
        case Some(s) => emit(close(uid, s)); open(t, e)
        case None => open(t, e)
      }
    }

  /** Sessionization with EXPLICIT custom state ([[fold]]) — the escape
    * hatch for session semantics `session_window` can't express (e.g.
    * value-dependent gaps, session caps). Per-key state is one open
    * session; closed sessions emit as soon as the gap that closes them
    * is seen. The final open session per user stays in state. */
  def statefulSessions(events: Dataset[EventRow]): Dataset[SessionOut] =
    gapSplit[SessionState, SessionOut](events, _.last)(
      open = (t, e) => SessionState(t, t, 1, e.value),
      extend = (s, t, e) =>
        s.copy(last = t, n = s.n + 1, sum = s.sum + e.value),
      close = (uid, s) => SessionOut(uid, s.n, toTs(s.start), toTs(s.last),
        math.round(s.sum * 100).toDouble / 100))

  /** Streaming twin of geo_od_matrix's per-voyage collapse: voyages
    * close and emit their (origin zone, destination zone, points) the
    * moment the >30-min report gap that ends them arrives — the
    * live shipping-lanes feed (the OD matrix is a downstream
    * aggregation of this stream). Same state discipline as
    * [[statefulSessions]]: one open voyage per vessel, the final open
    * voyage stays in state when input ends. */
  def statefulVoyages(events: Dataset[EventRow]): Dataset[VoyageOut] =
    gapSplit[VoyageState, VoyageOut](events, _.last)(
      open = (t, e) => {
        val z = Voyages.zoneOf(e.event_id)
        VoyageState(z, t, z, 1)
      },
      extend = (v, t, e) =>
        v.copy(last = t, dZone = Voyages.zoneOf(e.event_id), n = v.n + 1),
      close = (uid, v) => VoyageOut(uid, v.oZone, v.dZone, v.n))

  /** Streaming twin of events_markov's pair stream: each event emits
    * the (previous type → this type) transition for its user the
    * moment it arrives; the batch transition MATRIX is the tiny
    * (from, to) aggregation of this stream. State per key is ONE
    * string plus the event-time mark. The live form of sequence
    * mining (a downstream windowed agg gives per-hour transition
    * matrices for drift detection). */
  def statefulTransitions(events: Dataset[EventRow]): Dataset[TransitionOut] =
    fold[TransitionState, TransitionOut](events, Some(_.last)) {
      (uid, emit) => (prev, t, e) =>
        prev.foreach(p => emit(TransitionOut(uid, p.lastType, e.event_type)))
        TransitionState(e.event_type, t)
    }

  /** Streaming twin of window_gap_fill (last-observation-carried-
    * forward): every event emits the user's last KNOWN purchase value
    * the moment it arrives — the live sensor-repair feed. State per
    * key is one double + the event-time mark. StreamingSpec proves
    * the emitted stream equals the batch LOCF window across split
    * micro-batches. */
  def statefulGapFill(events: Dataset[EventRow]): Dataset[GapFillOut] =
    fold[GapFillState, GapFillOut](events, Some(_.last)) {
      (uid, emit) => (prev, t, e) =>
        val s =
          if (e.event_type == "purchase")
            GapFillState(e.value, hasValue = true, t)
          else prev.fold(GapFillState(0.0, false, t))(_.copy(last = t))
        emit(GapFillOut(uid, e.event_id, e.event_type,
          if (s.hasValue) Double.box(s.value) else null))
        s
    }

  /** Streaming twin of geo_zone_entries (port-call counting): a
    * vessel's report emits a (zone, entry) record the moment it
    * crosses INTO a polygon zone — the live berth/port-arrival feed.
    * Per-key state is the vessel's current inside-set (|zones|
    * booleans) + the event-time mark. The ray cast is
    * GeoOps.insideOf — the plain-Scala twin of the native RayCast
    * expression, so stream == batch parity (StreamingSpec, split
    * micro-batches) transitively proves all three formulations
    * agree. An absent zone key counts as outside, so a vessel's
    * first inside report IS an entry — the batch lag-null semantics. */
  def statefulZoneEntries(events: Dataset[EventRow]): Dataset[ZoneEntryOut] = {
    val zones = graft.operators.GeoOps.zonePolygons
    fold[ZoneEntryState, ZoneEntryOut](events, Some(_.last)) {
      (uid, emit) => (prev, t, e) =>
        val (px, py) = Voyages.pxpy(e.event_id)
        val now = zones.map { case (z, verts) =>
          z -> graft.operators.GeoOps.insideOf(verts, px, py)
        }.toMap
        val before = prev.fold(Map.empty[String, Boolean])(_.inside)
        now.foreach { case (z, in) =>
          if (in && !before.getOrElse(z, false))
            emit(ZoneEntryOut(uid, z, e.ts))
        }
        ZoneEntryState(now, t)
    }
  }

  /** Streaming twin of events_funnel: per-user funnel PROGRESSION
    * with explicit state — a completion record emits the moment a
    * user's earliest qualifying event for a stage is seen (stage k
    * must strictly follow the user's stage-(k−1) time, the batch
    * query's semantics). State per key is three epoch-micros longs,
    * O(active users) total. It has no mark, so [[fold]] drops no
    * report: a late first view still sets t1, as the batch `min`
    * does. Greedy in-order processing equals the batch min-based
    * formulation when the feed is ts-ordered (same caveat as
    * [[dedup]]); an out-of-order view behind the watermark could
    * lower t1 in batch but not here — production would pair this
    * with a watermark-delayed source sort. */
  def statefulFunnel(events: Dataset[EventRow]): Dataset[FunnelOut] =
    fold[FunnelState, FunnelOut](events, None) {
      (uid, emit) => (prev, t, e) =>
        val s = prev.getOrElse(FunnelState(-1L, -1L, -1L))
        if (e.event_type == "view" && s.t1 < 0) {
          emit(FunnelOut(uid, "1_view", toTs(t)))
          s.copy(t1 = t)
        } else if (e.event_type == "click"
            && s.t1 >= 0 && s.t2 < 0 && t > s.t1) {
          emit(FunnelOut(uid, "2_click", toTs(t)))
          s.copy(t2 = t)
        } else if (e.event_type == "purchase"
            && s.t2 >= 0 && s.t3 < 0 && t > s.t2) {
          emit(FunnelOut(uid, "3_purchase", toTs(t)))
          s.copy(t3 = t)
        } else s
    }

  /** Stream-stream interval self-join (streaming twin of
    * join_theta_range): each click paired with the same user's views
    * in the following 30 min. Both sides carry watermarks AND the join
    * condition bounds event time on both ends, so the engine can
    * evict join state — the required shape for unbounded
    * stream-stream joins (state is O(events within the interval +
    * watermark), not O(stream)). Works identically on a batch frame
    * (watermarks are a no-op there), which is what the parity test
    * exploits. */
  def intervalJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    clicks.join(views,
        col("c_user") === col("v_user")
          && col("v_ts") > col("c_ts")
          && col("v_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("c_user").as("user_id"),
        col("c_id"), col("v_id"), col("c_ts"), col("v_ts"))
  }

  /** Idempotent streaming sink: every micro-batch is MERGEd into the
    * parquet target by key via [[graft.sources.IO.upsertParquet]].
    * Because the upsert is idempotent per batch, a replayed
    * micro-batch (at-least-once delivery after a restart) converges
    * to the same target state — exactly-once BY IDEMPOTENCE, the
    * standard pattern when the sink has no transaction log. */
  def upsertSink(df: DataFrame, targetPath: String, keyCols: Seq[String],
      versionCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.IO.upsertParquet(batch.sparkSession, targetPath,
          batch, keyCols, versionCol)
      }

  /** Watermark late-data drop (twin of stream_late_filter): events
    * older than the watermark delay behind the max seen ts are
    * discarded by the engine before any stateful op. */
  def lateFiltered(events: DataFrame, delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("event_id"), col("ts"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select("event_id", "ts", "event_type")
}
