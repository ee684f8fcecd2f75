package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.functions.ExactDecimalCast

/** Structured Streaming pipelines over the events stream — the
  * streaming side of §2.6 (Analytic.tumblingWindow / sessionize are
  * the batch analogs the driver oracle-checks; these are the
  * readStream-shaped versions, covered by StreamingSpec with a
  * MemoryStream source and memory sink).
  *
  * Scale design: the watermark bounds state for the windowed agg
  * (late data beyond 2h is dropped, closed windows are evicted); the
  * sessionizer keeps one open session per user in the state store and
  * closes it either by an observed gap (in-batch) or by event-time
  * timeout once the watermark passes last-event + gap.
  */
object EventStream {

  /** typed event for the stateful path. */
  case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                event_type: String, value: Double)

  /** emitted closed session. */
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        start_sec: Long, end_sec: Long, session_value: Double)

  /** per-user state: sessions emitted so far + the open session. */
  case class UserState(counter: Long, n: Long, startSec: Long, lastSec: Long, value: Double)

  /** Watermarked streaming exact dedup on event_id — the streaming
    * twin of Dedup.exactDedup. Duplicates arriving within the
    * watermark horizon are dropped; dedup state is evicted once the
    * watermark passes, so state stays bounded by (arrival rate ×
    * horizon) no matter how long the stream runs — the property that
    * makes exact dedup feasible on an unbounded 100 TB/day feed,
    * where an unwatermarked dropDuplicates would grow state forever. */
  def dedupe(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: each streaming event picks up its
    * user's attributes from a static (batch) dimension. Stateless —
    * the static side is broadcast to every task and re-read per
    * micro-batch; the stream side never buffers, so this costs the
    * same as a map regardless of stream length. */
  def enrich(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("segment"),
        col("event_type"), col("value"))

  /** Stream-stream interval join: purchases joined to the same
    * user's clicks in the preceding hour, BOTH sides unbounded
    * streams — the streaming twin of Analytic.rangeJoin. The
    * watermarks plus the two-sided time constraint are what make
    * this feasible at scale: they bound how long each side's rows
    * stay in the join state store (a click older than the watermark
    * + 1h can never match a future purchase and is evicted), so
    * state stays proportional to the time horizon, not the stream
    * length. */
  def streamAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("gap_sec"))
  }

  /** LEFT OUTER stream-stream interval join — the attribution shape
    * that must also surface the NEGATIVE space ("purchases with no
    * preceding click" — exactly the rows a conversion-quality monitor
    * alerts on). Same state-eviction story as the inner form: the
    * outer side's null-padded rows can only emit once the watermark
    * proves no future click can match, so unmatched purchases arrive
    * late by one watermark horizon but state stays bounded by the
    * horizon. This delayed-null contract is the price of outer
    * semantics on unbounded inputs, and is why the test advances the
    * watermark with sentinels before asserting the unmatched set. */
  def streamAttributionLeftOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"),
      "leftOuter")
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("gap_sec"))
  }

  /** Tumbling 1-hour windowed counts with a 2h watermark — the
    * streaming twin of Analytic.tumblingWindow. */
  def hourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("win.start")).as("hour_sec"),
        col("event_type"), col("n_events"))

  /** Sliding 1-hour windows on a 30-minute slide with a 2h
    * watermark — the streaming twin of Analytic.slidingWindow (the
    * identical window() expression under readStream: each event
    * expands into width/slide = 2 windows BEFORE the agg, state is
    * per open window and evicted once the watermark passes). */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** per-user lifetime profile emitted by the transformWithState
    * processor; value travels as exact CENTS so the final /100.0 is
    * the same IEEE double the batch DECIMAL(18,2) sum casts to. */
  case class UserTotals(user_id: Long, n_events: Long, n_purchases: Long,
      types: List[String], total_cents: Long, first_sec: Long, last_sec: Long)

  /** Arbitrary-state v2 (`transformWithState`, the Spark 4 successor
    * to mapGroupsWithState): one ValueState slot per user holds the
    * running profile; every micro-batch folds its rows in and emits
    * the updated totals (Update mode — downstream keeps the latest).
    * State is per-key in the state store (RocksDB provider — the
    * backend this API requires — keeps it off-heap and spillable), so
    * lifetime profiles over an unbounded stream cost O(active users),
    * not O(events). The streaming twin of Analytic.userStats;
    * StreamingSpec proves the final emissions equal the batch
    * profile exactly. */
  class UserStatsProcessor extends StatefulProcessor[Long, Ev, UserTotals] {
    @transient private var state: ValueState[UserTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserTotals]("totals",
        Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[UserTotals] = {
      var st = if (state.exists()) state.get()
        else UserTotals(key, 0L, 0L, Nil, 0L, Long.MaxValue, Long.MinValue)
      for (e <- rows) {
        val sec = e.ts.getTime / 1000
        st = UserTotals(key,
          st.n_events + 1,
          st.n_purchases + (if (e.event_type == "purchase") 1L else 0L),
          if (st.types.contains(e.event_type)) st.types else e.event_type :: st.types,
          // the batch twin's DECIMAL(18,2) cast, in cents
          st.total_cents + ExactDecimalCast.halfUpUnscaled(e.value, 2),
          math.min(st.first_sec, sec),
          math.max(st.last_sec, sec))
      }
      state.update(st)
      Iterator.single(st)
    }
  }

  /** per-user lifetime profile stream (see [[UserStatsProcessor]]). */
  def userTotals(events: Dataset[Ev]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** per-(user, event_type) running count emitted by the MapState
    * processor. */
  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** MapState flavor of arbitrary-state v2: where [[UserStatsProcessor]]
    * holds one monolithic ValueState row per user, this keeps a
    * per-user MAP keyed by event_type in the state store — the shape
    * for per-key sub-structures whose key set is unknown upfront
    * (feature counters, per-campaign tallies). The practical 100 TB
    * difference: MapState reads/writes touch only the sub-keys a
    * micro-batch actually updates (point lookups in the RocksDB
    * store), while a ValueState map-in-a-row would deserialize and
    * rewrite the whole map on every event. Update mode re-emits only
    * the touched (user, type) rows per batch. */
  class TypeCountsProcessor extends StatefulProcessor[Long, Ev, TypeCount] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("type_counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet[String]()
      for (e <- rows) {
        val n = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, n + 1)
        touched += e.event_type
      }
      // materialize before returning: the iterator must not read
      // MapState lazily after the handle moves to the next key
      touched.toList.map(t => TypeCount(key, t, counts.getValue(t))).iterator
    }
  }

  /** per-(user, type) count stream (see [[TypeCountsProcessor]]). */
  def typeCounts(events: Dataset[Ev]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** running funnel/pattern totals for one user (streaming twin of
    * Analytic.patternMatch; has_gap_funnel as 0/1 long for parity). */
  case class FunnelOut(user_id: Long, n_events: Long, n_strict_funnels: Long,
      has_gap_funnel: Long, max_error_run: Long)

  /** the O(1) per-user CEP state: NO event history is retained —
    * each regex of the batch twin collapses to a constant-size
    * automaton (last-2 letters for the strict 'vcp' scan, a 0/1/2/3
    * stage for the gapped v…c…p, current+max run length for 'e+'). */
  case class FunnelState(nEvents: Long, strict: Long, last2: String,
      gapStage: Long, errRun: Long, maxErr: Long)

  /** Streaming CEP — the continuous MATCH_RECOGNIZE twin of the
    * batch [[graft.queries.Analytic.patternMatch]]: strict
    * view→click→purchase conversions, gapped-funnel stage, longest
    * error run, per user over an unbounded stream. The batch op
    * regex-scans a materialized per-user sequence; here every
    * pattern runs as a constant-size automaton folded over events in
    * event-time order, so state is O(active users), never O(events)
    * — the property that lets the same analytics run on the live
    * feed. Rows inside a batch are (ts, event_id)-sorted before the
    * fold (pure function of event time, not arrival order);
    * ACROSS batches the processor assumes in-order delivery per key,
    * the contract watermark-aligned CEP (Flink's included) runs on.
    * StreamingSpec proves the final emissions equal the batch op on
    * the same events exactly. */
  class FunnelProcessor extends StatefulProcessor[Long, Ev, FunnelOut] {
    @transient private var state: ValueState[FunnelState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      var st = if (state.exists()) state.get()
        else FunnelState(0L, 0L, "", 0L, 0L, 0L)
      for (e <- rows.toSeq.sortBy(ev =>
          (ev.ts.getTime, ev.ts.getNanos, ev.event_id))) {
        val c = e.event_type.charAt(0)
        // strict 'vcp': non-overlapping left-to-right scan ≡ reset
        // the 2-letter window after a match (regexp_extract_all
        // resumes AFTER the matched span)
        val (strict, last2) =
          if (c == 'p' && st.last2 == "vc") (st.strict + 1, "")
          else (st.strict, (st.last2 + c).takeRight(2))
        val gapStage = st.gapStage match {
          case 0L => if (c == 'v') 1L else 0L
          case 1L => if (c == 'c') 2L else 1L
          case 2L => if (c == 'p') 3L else 2L
          case s => s
        }
        val errRun = if (c == 'e') st.errRun + 1 else 0L
        st = FunnelState(st.nEvents + 1, strict, last2, gapStage,
          errRun, math.max(st.maxErr, errRun))
      }
      state.update(st)
      Iterator.single(FunnelOut(key, st.nEvents, st.strict,
        if (st.gapStage == 3L) 1L else 0L, st.maxErr))
    }
  }

  /** per-user running CEP pattern stream (see [[FunnelProcessor]]). */
  def funnels(events: Dataset[Ev]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** one retained purchase in the ListState ring buffer. */
  case class PurchaseEntry(sec: Long, event_id: Long, value: Double)
  /** a user's most recent purchases, event-time ascending; n_seen is
    * the lifetime purchase count (strictly increasing per emission —
    * the downstream "which emission is newest" tiebreaker). */
  case class RecentOut(user_id: Long, n_seen: Long, recent_values: List[Double])

  /** ListState flavor of arbitrary-state v2 — the bounded per-key
    * HISTORY shape (recent purchases for a realtime feature vector,
    * last-N errors for alerting): the state store keeps an ordered
    * list per user, appends are cheap, and the processor trims to the
    * newest `keep` entries so state stays O(users · keep) forever —
    * the discipline an unbounded stream demands. Rows inside a batch
    * are sorted by (sec, event_id) before merging so the retained set
    * is a pure function of event time, never arrival order. */
  class RecentPurchasesProcessor(keep: Int = 3)
      extends StatefulProcessor[Long, Ev, RecentOut] {
    @transient private var recent: ListState[PurchaseEntry] = _
    @transient private var nSeen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[PurchaseEntry]("recent_purchases",
        Encoders.product[PurchaseEntry], TTLConfig.NONE)
      nSeen = getHandle.getValueState[Long]("n_seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[RecentOut] = {
      val incoming = rows.filter(_.event_type == "purchase")
        .map(e => PurchaseEntry(e.ts.getTime / 1000, e.event_id, e.value)).toSeq
      if (incoming.isEmpty) Iterator.empty
      else {
        val merged = (recent.get().toSeq ++ incoming)
          .sortBy(p => (p.sec, p.event_id)).takeRight(keep)
        recent.put(merged.toArray)
        val seen = (if (nSeen.exists()) nSeen.get() else 0L) + incoming.size
        nSeen.update(seen)
        Iterator.single(RecentOut(key, seen, merged.map(_.value).toList))
      }
    }
  }

  /** recent-purchase history stream (see [[RecentPurchasesProcessor]]). */
  def recentPurchases(events: Dataset[Ev]): Dataset[RecentOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentPurchasesProcessor(), TimeMode.None(),
        OutputMode.Update())
  }

  /** Gap-based sessionizer on the arbitrary-state v2 TIMER API:
    * same semantics as [[sessionize]] (the flatMapGroupsWithState
    * form below), but inactivity is detected by an EVENT-TIME TIMER
    * registered at lastSec + gap — the v2 replacement for
    * GroupStateTimeout. Each batch folds its rows (sorted by event
    * time, closing sessions at in-batch gaps), then re-arms exactly
    * one timer for the open session's quiet deadline (stale timers
    * deleted first — a timer outliving its session would close the
    * wrong one). When the watermark passes a deadline,
    * handleExpiredTimer closes the session and clears state, so state
    * is O(users with an open session) and every session closes even
    * if its user never returns — the property a lifetime-unbounded
    * stream needs. StreamingSpec pins the full session set to the
    * batch sessionize output, same as the v1 test. */
  class SessionizerV2Processor(gapSec: Long = 1800)
      extends StatefulProcessor[Long, Ev, SessionOut] {
    @transient private var open: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[UserState]("open_session",
        Encoders.product[UserState], TTLConfig.NONE)

    private def close(userId: Long, st: UserState): SessionOut =
      SessionOut(userId, st.counter + 1, st.n, st.startSec, st.lastSec,
        // rounded to cents as the batch twin's DECIMAL(18,2) cast rounds
        ExactDecimalCast.halfUpUnscaled(st.value, 2) / 100.0)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var cur = if (open.exists()) Some(open.get()) else None
      val closed = Seq.newBuilder[SessionOut]
      for (e <- sorted) {
        val sec = e.ts.getTime / 1000
        cur match {
          case Some(st) if sec - st.lastSec <= gapSec =>
            cur = Some(st.copy(n = st.n + 1, lastSec = sec, value = st.value + e.value))
          case Some(st) =>
            closed += close(key, st)
            cur = Some(UserState(st.counter + 1, 1, sec, sec, e.value))
          case None =>
            cur = Some(UserState(0, 1, sec, sec, e.value))
        }
      }
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      cur.foreach { st =>
        open.update(st)
        getHandle.registerTimer((st.lastSec + gapSec) * 1000 + 1)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      // stale timers are deleted on every update, so a firing timer
      // always refers to the CURRENT open session's quiet deadline
      if (!open.exists()) Iterator.empty
      else {
        val st = open.get()
        open.clear()
        Iterator.single(close(key, st))
      }
    }
  }

  /** timer-driven session stream (see [[SessionizerV2Processor]]). */
  def sessionizeV2(events: Dataset[Ev], gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new SessionizerV2Processor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Gap-based sessionizer (30-min inactivity) via
    * flatMapGroupsWithState with event-time timeout — the streaming
    * twin of Analytic.sessionize (same session numbering: sessions
    * are indexed per user in event-time order). */
  def sessionize(events: Dataset[Ev], gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def close(userId: Long, st: UserState): SessionOut =
      SessionOut(userId, st.counter + 1, st.n, st.startSec, st.lastSec,
        // rounded to cents as the batch twin's DECIMAL(18,2) cast rounds
        ExactDecimalCast.halfUpUnscaled(st.value, 2) / 100.0)

    def fn(userId: Long, evs: Iterator[Ev], state: GroupState[UserState]): Iterator[SessionOut] = {
      if (evs.isEmpty && state.hasTimedOut) {
        val out = state.getOption.map(close(userId, _)).iterator
        state.remove()
        return out
      }
      val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var open = state.getOption
      val closed = Seq.newBuilder[SessionOut]
      for (e <- sorted) {
        val sec = e.ts.getTime / 1000
        open match {
          case Some(st) if sec - st.lastSec <= gapSec =>
            open = Some(st.copy(n = st.n + 1, lastSec = sec, value = st.value + e.value))
          case Some(st) =>
            closed += close(userId, st)
            open = Some(UserState(st.counter + 1, 1, sec, sec, e.value))
          case None =>
            open = Some(UserState(0, 1, sec, sec, e.value))
        }
      }
      open.foreach { st =>
        state.update(st)
        state.setTimeoutTimestamp((st.lastSec + gapSec) * 1000 + 1)
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
