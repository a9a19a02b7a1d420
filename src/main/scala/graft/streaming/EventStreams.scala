package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** §2.F Structured Streaming pipelines over an events-shaped stream
  * (event_id, ts: timestamp, user_id, event_type, value).
  *
  * Scale design: windowed counts shuffle on (window, event_type) with
  * partial aggregation and watermark-bounded state; sessionization
  * keys state by user_id and evicts via watermark + event-time
  * timeout, so state size is O(active users). Both run identically against Kafka/file
  * sources at cluster scale — the source is a parameter, not a design
  * assumption.
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)
  case class ClosedSession(user_id: Long, start_ts: Long, end_ts: Long, n_events: Long)
  case class UserEpoch(user_id: Long, n_events: Long, total_micros: Long,
    first_ts: Long, last_ts: Long)

  /** Tumbling 1-hour windowed counts with a 2-hour watermark. Works on
    * any streaming DataFrame with (ts, event_type, value). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Batch twin of [[windowedCounts]] (no watermark — complete data):
    * used by specs to assert stream ≡ batch semantics. */
  def windowedCounts0Batch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Exactly-once event ingestion: drop duplicate event_ids arriving
    * within the watermark window (at-least-once sources — Kafka
    * redelivery, retried log shippers — make this the standard first
    * stage of an ingestion pipeline). State is one entry per event_id
    * seen inside the delay window and the watermark evicts it, so
    * state size is rate×delay-bounded, independent of stream
    * lifetime. */
  def dedupedEvents(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Windowed heavy hitters on a text stream: per tumbling window, the
    * approximate hot tokens via the mergeable Misra–Gries aggregate
    * (graft.functions.MisraGries). The state store holds ONE
    * fixed-capacity summary per open window — bounded regardless of
    * how many distinct tokens the window saw, where an exact
    * per-(window, token) count would grow state with the token domain.
    * The watermark closes windows and evicts their summaries; the
    * survivor guarantee (any token with in-window frequency >
    * n/(cap+1) is present) holds per window because MG merges
    * associatively across micro-batches. */
  def windowedHotTokens(texts: DataFrame, capacity: Int = 64): DataFrame = {
    texts
      .withWatermark("ts", "2 hours")
      .select(col("ts"), explode(
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(call_function("graft_heavyhitters", col("token"), lit(capacity)).as("hh"))
      .select(col("window.start").as("window_start"), posexplode(col("hh")))
      .select(col("window_start"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.item").as("token"), col("col.est").as("est_count"))
  }

  /** Streaming windowed EXACT distinct users — q62's bitmap aggregate
    * inside a streaming aggregation. Spark refuses COUNT(DISTINCT) in
    * streaming queries outright (exact distinct state would be
    * per-id rows the planner can't bound); the mergeable bitmap turns
    * it into an ordinary associative aggregate whose state is ONE
    * dense bitset per open (window, event_type) group — merged
    * incrementally across micro-batches, evicted with the window at
    * watermark close. State is id-domain/8 bytes per group with the
    * 8 MiB MaxBits failsafe; for sparse 64-bit domains, dictionary-
    * encode upstream or chunk-key the group and sum cards in a batch
    * query over the sink (q62's container layout — chained streaming
    * aggregations are not the supported shape). */
  def windowedDistinctUsers(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(expr("graft_bitmap_card(graft_bitmap(user_id))").as("n_users"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_users"))
  }

  /** Stream-static enrichment join: each event decorated with its
    * user's dimension attributes (segment, account tier, …). The
    * static side is a plain batch DataFrame: Spark re-plans it into
    * every micro-batch and broadcasts it (dim ≪ stream), so the join
    * keeps NO streaming state at all — no watermark required, nothing
    * to evict. At scale the static side's freshness is a re-read
    * cadence choice (file source re-lists per batch); the join itself
    * stays a broadcast hash join no matter how long the stream runs.
    * Left-outer so unknown users pass through un-enriched rather than
    * silently dropping. */
  def enrichedEvents(events: DataFrame, dims: DataFrame): DataFrame =
    events.join(broadcast(dims), Seq("user_id"), "left_outer")

  /** Stream-stream interval join: each purchase joined to the clicks
    * it follows within `horizonHours`, per user. BOTH sides carry a
    * watermark and the join condition bounds purchase_ts relative to
    * click_ts, so Spark derives a state-eviction horizon for each
    * side — buffered clicks older than watermark−horizon and buffered
    * purchases older than watermark are dropped from the join state.
    * Without the time bound the state would grow with the full history
    * of both streams; with it, state is O(rate × (horizon + delay)),
    * stream-lifetime-independent — the only viable shape at 100 TB.
    * Shuffles hash-partitioned on user_id like any equi-join. */
  def purchaseAttribution(events: DataFrame, horizonHours: Int = 1,
      delay: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", delay)
    clicks.join(purchases,
        expr(s"""c_user = p_user AND purchase_ts >= click_ts
                 AND purchase_ts <= click_ts + interval $horizonHours hour"""))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Stateful gap-based sessionization (30-min inactivity): mirrors
    * CoreQueries.q21Sessionize batch semantics. Emits the running
    * per-user session/event counters.
    *
    * State eviction: with `watermarkDelay = Some(d)` the stream gets an
    * event-time watermark and EventTimeTimeout — once the watermark
    * passes (last-seen + gap) the user's counter state is REMOVED, so
    * state is O(users active within one gap+delay window), not O(every
    * user ever seen). The trade: an evicted user who returns restarts
    * their cumulative counters from zero — correct per-session
    * semantics either way (any post-eviction event is necessarily a
    * NEW session, since the watermark already passed last+gap; a
    * pre-eviction late event would be dropped by the watermark before
    * reaching this function), but lifetime totals become
    * per-activity-epoch totals. Exact lifetime counters at bounded
    * state is what q40's incremental batch aggregate is for.
    *
    * With `watermarkDelay = None` (NoTimeout) the counters are exact
    * over the whole stream and state never evicts — only for bounded
    * replays. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
      watermarkDelay: Option[String] = None): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes.toLong * 60L * 1000L

    def update(userId: Long, evs: Iterator[Event],
        state: GroupState[(Long, Long, Long)]): Iterator[SessionUpdate] = {
      if (state.hasTimedOut) {
        // watermark passed last-seen + gap: no on-time event can extend
        // the current session — drop the counters, emit nothing
        state.remove()
        return Iterator.empty
      }
      // state = (lastTsMs, nSessions, nEvents)
      var (lastTs, nSessions, nEvents) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
      evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        if (lastTs == Long.MinValue || t - lastTs > gapMs) nSessions += 1
        nEvents += 1
        lastTs = t
      }
      state.update((lastTs, nSessions, nEvents))
      if (watermarkDelay.isDefined)
        // never arm in the past (see closedSessions)
        state.setTimeoutTimestamp(
          math.max(lastTs + gapMs, state.getCurrentWatermarkMs() + 1L))
      Iterator.single(SessionUpdate(userId, nSessions, nEvents))
    }

    val src = watermarkDelay.fold(events)(d => events.withWatermark("ts", d))
    val timeout = if (watermarkDelay.isDefined) GroupStateTimeout.EventTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), timeout)(update)
  }

  /** Closed-session emission via flatMapGroupsWithState: state holds
    * only the OPEN session per user (start, last-seen, count); a batch
    * may close zero or many sessions for a user, hence flatMap.
    *
    * State eviction: with `watermarkDelay = Some(d)` the stream gets an
    * event-time watermark and EventTimeTimeout — each update arms a
    * timeout at (last-seen + gap), so once the watermark passes the
    * point where no on-time event could extend the open session, the
    * session is emitted as closed and its state REMOVED. State is then
    * O(users active within one gap+delay window), not O(users ever
    * seen) — the difference between bounded and unbounded state at
    * 100 TB of events. Events older than the watermark are dropped by
    * Spark before reaching the state function (standard late-data
    * semantics); a dropped late event can neither extend nor resurrect
    * a closed session.
    *
    * With `watermarkDelay = None` (NoTimeout) semantics are exact for
    * in-order sources (e.g. log segments per user partition) and state
    * never evicts — only for bounded replays. Late events inside one
    * batch are ordered before folding either way; matches
    * CoreQueries.q21Sessionize. */
  def closedSessions(events: Dataset[Event], gapMinutes: Int = 30,
      watermarkDelay: Option[String] = None): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes.toLong * 60L * 1000L

    def update(userId: Long, evs: Iterator[Event],
        state: GroupState[(Long, Long, Long)]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        // watermark passed last-seen + gap: the open session is closed
        val out = state.getOption
          .map { case (s0, last, n) => ClosedSession(userId, s0, last, n) }
        state.remove()
        return out.iterator
      }
      // state = (openStartMs, openLastMs, openCount)
      var open = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        open match {
          case Some((s0, last, n)) if t - last <= gapMs =>
            open = Some((s0, t, n + 1))
          case Some((s0, last, n)) =>
            out += ClosedSession(userId, s0, last, n)
            open = Some((t, t, 1L))
          case None =>
            open = Some((t, t, 1L))
        }
      }
      open.foreach { o =>
        state.update(o)
        if (watermarkDelay.isDefined)
          // never arm in the past: the watermark may already be beyond
          // last+gap when this key's event was itself near-late
          state.setTimeoutTimestamp(
            math.max(o._2 + gapMs, state.getCurrentWatermarkMs() + 1L))
      }
      out.iterator
    }

    val src = watermarkDelay.fold(events)(d => events.withWatermark("ts", d))
    val timeout = if (watermarkDelay.isDefined) GroupStateTimeout.EventTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(update)
  }

  /** st8's custom-state running totals WITH idle-state retirement —
    * the live-deployment form st8's own scaladoc calls for: per-user
    * GroupState (n, total_micros, first, last) plus an
    * EventTimeTimeout armed at last-seen + idle gap (closedSessions'
    * eviction pattern applied to arbitrary custom state). Once the
    * watermark proves the user idle, the accumulated totals emit as
    * one "activity epoch" row and the state is REMOVED — store size is
    * O(users active within idle+delay), never O(users ever seen), the
    * bounded-state requirement at 100 TB of events. A user returning
    * after retirement re-opens cleanly: any post-retirement event is
    * on-time by construction (the watermark only passed last + idle,
    * so a LATER event is fresh) and starts a new epoch from zero;
    * whole-lifetime totals at bounded state are q40's incremental
    * batch aggregate's job, not a streaming store's. Values in exact
    * integer micro-units (st8's convention) so epoch rows are
    * bit-deterministic under any batch split. */
  def userTotalsRetiring(events: Dataset[Event], idleMinutes: Int = 60,
      delay: String = "10 minutes"): Dataset[UserEpoch] = {
    import events.sparkSession.implicits._
    val idleMs = idleMinutes.toLong * 60L * 1000L

    def update(userId: Long, evs: Iterator[Event],
        state: GroupState[(Long, Long, Long, Long)]): Iterator[UserEpoch] = {
      if (state.hasTimedOut) {
        // watermark passed last-seen + idle: the epoch is complete
        val out = state.getOption.map { case (n, tot, first, last) =>
          UserEpoch(userId, n, tot, first, last) }
        state.remove()
        return out.iterator
      }
      var (n, tot, first, last) =
        state.getOption.getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
      evs.foreach { e =>
        n += 1; tot += math.round(e.value * 1e6)
        val t = e.ts.getTime
        first = math.min(first, t); last = math.max(last, t)
      }
      state.update((n, tot, first, last))
      // never arm in the past (see closedSessions)
      state.setTimeoutTimestamp(
        math.max(last + idleMs, state.getCurrentWatermarkMs() + 1L))
      Iterator.empty
    }

    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Session aggregation via Spark's NATIVE session_window — the
    * declarative twin of [[closedSessions]]: Catalyst merges
    * gap-extended intervals per (user, session) in the streaming
    * aggregation state store, the watermark closes sessions and emits
    * one aggregate row each (Append mode). State is one row per OPEN
    * session — same O(active users) bound as the custom state
    * machine, with none of its code: partial merges, late-data
    * handling and eviction all come from the engine. Prefer this form
    * whenever the per-session result is expressible as an aggregate;
    * flatMapGroupsWithState stays for custom state machines
    * (mid-session emission, running per-user counters). Session end =
    * last event + gap (the window's closure), where [[closedSessions]]
    * reports the last EVENT time — offset by exactly the gap. */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30,
      delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"),
        col("n_events"), col("total_value"))
}
