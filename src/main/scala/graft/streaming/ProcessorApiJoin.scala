package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.StreamingOps.Event

/** The Processor-API topology of the reference, re-expressed as one
  * keyed stateful operator.
  *
  * Reference: ClickstreamJoinExample.scala —
  * `PvWindowProcessor` (:303-312) stores page views in a windowed
  * store; `EvJoinProcessor` (:314-365) drops duplicate events within a
  * dedup window, looks up the stored views in the join window, and
  * emits the enriched event (None fields when no view matched).
  *
  * Here the two RocksDB window stores become one typed state value per
  * user key inside `flatMapGroupsWithState`; retention is explicit
  * pruning below the watermark-derived horizon (see [[advance]]).
  * Views are 'view' events,
  * clicks are 'click' events; at-least-once duplicates are detected by
  * event_id within the dedup window, like the reference's EvPvKey
  * store.
  *
  * Scale: state is partitioned by user_id across executors and bounded
  * by the two windows — identical behavior to the Streams topology's
  * partition-per-task model, with Spark checkpointing underneath.
  */
object ProcessorApiJoin {

  case class EnrichedClick(
      click_id: Long,
      user_id: Long,
      click_ts: Timestamp,
      view_id: Option[Long],
      view_ts: Option[Timestamp]
  )

  /** views: (event_id, ts-millis); seenClicks: click event_id → ts-millis. */
  case class JoinState(views: List[(Long, Long)], seenClicks: Map[Long, Long], maxTs: Long)

  /** One micro-batch of the per-key state machine, as a pure function:
    * restore event-time order, store views, dedup + join clicks, then
    * prune both stores below the retention horizon — the property that
    * keeps state bounded at any input volume, asserted directly by
    * ProcessorApiJoinSpec's retention tests.
    *
    * The horizon is `watermarkMs − max(joinMs, dedupMs)` when a
    * watermark is known (every future admitted event has ts ≥ watermark,
    * so its dedup/join lookback can never reach below that), falling
    * back to per-key maxTs when it is not (`watermarkMs = 0`). Pruning
    * on per-key maxTs ALONE would be wrong under at-least-once
    * delivery: a redelivered click above the watermark but below the
    * key's max event time would find its dedup entry already pruned and
    * be emitted twice.
    */
  def advance(
      user: Long,
      st0: JoinState,
      batch: Seq[Event],
      joinMs: Long,
      dedupMs: Long,
      watermarkMs: Long = 0L
  ): (JoinState, Seq[EnrichedClick]) = {
    var st = st0
    val out = Seq.newBuilder[EnrichedClick]
    // per-key arrival order (Kafka guarantees it per partition;
    // micro-batches deliver unordered, so restore event-time order)
    batch.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      val t = e.ts.getTime
      st = st.copy(maxTs = math.max(st.maxTs, t))
      e.event_type match {
        case "view" =>
          // PvWindowProcessor.process: pvStore.put(key, pv)
          st = st.copy(views = (e.event_id, t) :: st.views)
        case "click" =>
          // EvJoinProcessor.isNotDuplicate: evPvStore.fetch(key, t-w, t)
          val isDup = st.seenClicks.get(e.event_id).exists(prev => t - prev <= dedupMs)
          if (!isDup) {
            // EvJoinProcessor.storedPvs(...).find: view within [t-w, t]
            val matched = st.views
              .filter { case (_, vt) => vt <= t && vt >= t - joinMs }
              .sortBy { case (id, vt) => (-vt, -id) }
              .headOption
            out += EnrichedClick(
              e.event_id,
              user,
              e.ts,
              matched.map(_._1),
              matched.map(m => new Timestamp(m._2))
            )
            st = st.copy(seenClicks = st.seenClicks + (e.event_id -> t))
          }
        case _ => // other event types pass through the topology unused
      }
    }
    // retention: prune both stores below the window horizons
    val timeBase = if (watermarkMs > 0) watermarkMs else st.maxTs
    val horizon = timeBase - math.max(joinMs, dedupMs)
    st = st.copy(
      views = st.views.filter(_._2 >= horizon),
      seenClicks = st.seenClicks.filter(_._2 >= horizon)
    )
    (st, out.result())
  }

  /** The user-keyed single-stage variant: state keyed by user_id alone,
    * clicks matched against "any view in the join window" — the a2-style
    * simplification. Kept as the simpler topology; [[apply]] is the
    * composite-key topology matching the reference's exact key structure.
    * The [[JoinState]] is kept as bytes ([[StateBytes]]); a checkpoint
    * that stored it as a struct cannot be resumed.
    */
  def userKeyed(
      events: Dataset[Event],
      joinWindowSec: Long = 15,
      dedupWindowSec: Long = 5,
      watermarkDelay: String = "10 minutes"
  ): Dataset[EnrichedClick] = {
    import events.sparkSession.implicits._
    val joinMs = joinWindowSec * 1000
    val dedupMs = dedupWindowSec * 1000
    val codec = StateBytes[JoinState]

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Byte], EnrichedClick](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) { (user: Long, rows: Iterator[Event], state: GroupState[Array[Byte]]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val st0 = state.getOption.map(codec.decode).getOrElse(JoinState(Nil, Map.empty, 0L))
          val (st, out) =
            advance(user, st0, rows.toSeq, joinMs, dedupMs, state.getCurrentWatermarkMs())
          state.update(codec.encode(st))
          state.setTimeoutTimestamp(st.maxTs + 2 * math.max(joinMs, dedupMs))
          out.iterator
        }
      }
  }

  // --------------------------------------------------------------------
  // Composite-key topology — the reference's exact key structure.
  //
  // ClickstreamJoinExample.scala:208-219 re-keys both streams from
  // ClientKey to the composite (clientId, pvId) via selectKey (a Kafka
  // repartition topic); :339-341 the Processor variant re-keys the same
  // way before EvJoinProcessor. The dedup store is keyed EvPvKey
  // (clientId, pvId, evId). Here:
  //   [[attribute]]   = the selectKey analogue: a per-user state
  //     machine stamps each click with its pv_id by last-view
  //     attribution (what the reference's client-side tracker does when
  //     it writes Ev.pvId);
  //   [[joinAdvance]] = the EvJoinProcessor against one composite
  //     PvKey(user_id, pv_id): the page view for that pv plus the
  //     per-(user, pv, ev) dedup store, exactly the PvWindowProcessor +
  //     EvJoinProcessor store pair.
  // Both run in ONE flatMapGroupsWithState keyed by user_id: the
  // composite key only refines user_id, so every (user, pv) store nests
  // inside its user's state and the re-key needs no repartition of its
  // own — the one shuffle into the user-keyed operator carries both.
  // --------------------------------------------------------------------

  /** The reference's composite key (PvKey): pv_id = -1 marks a click
    * with no attributable page view (no prior view in the lookback).
    */
  case class PvKey(user_id: Long, pv_id: Long)

  /** An attributed event: views carry their own event_id as pv_id. */
  case class Attributed(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, pv_id: Long)

  /** The attribution store: recent views (event_id, ts-millis) per user. */
  case class AttributionState(views: List[(Long, Long)], maxTs: Long)

  /** The store of one composite key: the page view (if it arrived) and
    * the EvPvKey dedup store (click event_id → ts-millis).
    */
  case class PvJoinState(viewTs: Long, viewSeen: Boolean, seenClicks: Map[Long, Long], maxTs: Long)

  /** Attribution as a pure function: stamp each event with its pv_id.
    * Views attribute to themselves; a click attributes to the latest
    * view at-or-before it — "latest" in (ts, event_id) order, the same
    * tie rule as the batch attribution window in
    * [[graft.operators.EventStreamOps.a11PvEquiJoin]] (last view in the
    * frame ordered by (ts, event_id) up to the current row).
    *
    * Retention: views below `horizon − lookbackMs` are pruned after the
    * batch — a click admitted later (ts ≥ watermark) that would have
    * attributed to a pruned view is necessarily outside [[joinAdvance]]'s
    * join window too (lookbackMs = the join window), so it emits the same
    * None either way and the output is invariant to the pruning.
    */
  def attribute(
      st0: AttributionState,
      batch: Seq[Event],
      lookbackMs: Long,
      watermarkMs: Long = 0L
  ): (AttributionState, Seq[Attributed]) = {
    var views = st0.views
    var maxTs = st0.maxTs
    val out = Seq.newBuilder[Attributed]
    batch.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      val t = e.ts.getTime
      maxTs = math.max(maxTs, t)
      e.event_type match {
        case "view" =>
          views = (e.event_id, t) :: views
          out += Attributed(e.event_id, e.ts, e.user_id, e.event_type, e.event_id)
        case "click" =>
          // latest view with (vt, vid) lex-before (t, clickId); ids are
          // unique so strict comparison is exact
          val attributed = views
            .filter { case (vid, vt) => vt < t || (vt == t && vid < e.event_id) }
            .sortBy { case (vid, vt) => (-vt, -vid) }
            .headOption
          out += Attributed(e.event_id, e.ts, e.user_id, e.event_type, attributed.map(_._1).getOrElse(-1L))
        case _ => // other event types pass through the topology unused
      }
    }
    val horizon = (if (watermarkMs > 0) watermarkMs else maxTs) - lookbackMs
    (AttributionState(views.filter(_._2 >= horizon), maxTs), out.result())
  }

  /** The join step as a pure function: the EvJoinProcessor against one
    * composite key. The page view for this pv is stored when it arrives
    * (PvWindowProcessor.process); each click is deduped by event_id
    * within the dedup window against the per-(user, pv, ev) store
    * (EvJoinProcessor.isNotDuplicate over EvPvKey), then joined to the
    * stored view iff the view exists and lies within `[t − joinMs, t]`
    * (WindowStore.fetch) — None fields otherwise, the reference's
    * `EvPv(ev, None)` branch.
    */
  def joinAdvance(
      key: PvKey,
      st0: PvJoinState,
      batch: Seq[Attributed],
      joinMs: Long,
      dedupMs: Long,
      watermarkMs: Long = 0L
  ): (PvJoinState, Seq[EnrichedClick]) = {
    var st = st0
    val out = Seq.newBuilder[EnrichedClick]
    batch.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      val t = e.ts.getTime
      st = st.copy(maxTs = math.max(st.maxTs, t))
      e.event_type match {
        case "view" =>
          // first-wins under redelivery: the store already holds this pv
          if (!st.viewSeen) st = st.copy(viewTs = t, viewSeen = true)
        case "click" =>
          val isDup = st.seenClicks.get(e.event_id).exists(prev => t - prev <= dedupMs)
          if (!isDup) {
            val matched = st.viewSeen && st.viewTs <= t && st.viewTs >= t - joinMs
            out += EnrichedClick(
              e.event_id,
              key.user_id,
              e.ts,
              if (matched) Some(key.pv_id) else None,
              if (matched) Some(new Timestamp(st.viewTs)) else None
            )
            st = st.copy(seenClicks = st.seenClicks + (e.event_id -> t))
          }
        case _ =>
      }
    }
    // retention: dedup entries below the watermark horizon can never be
    // probed again; the view can be dropped once no admissible click
    // (ts ≥ watermark) can still fall in its join window
    val timeBase = if (watermarkMs > 0) watermarkMs else st.maxTs
    st = st.copy(seenClicks = st.seenClicks.filter(_._2 >= timeBase - math.max(joinMs, dedupMs)))
    if (st.viewSeen && st.viewTs < timeBase - joinMs) st = st.copy(viewSeen = false, viewTs = 0L)
    (st, out.result())
  }

  /** The composite-key topology: last-view attribution, then the
    * windowed join + dedup per (user_id, pv_id) — the reference's exact
    * key structure (PvKey / EvPvKey stores) — as one
    * `flatMapGroupsWithState` keyed by user_id, which Spark runs under
    * its default stateful-operator checks. Each user's state is its
    * [[AttributionState]] and a [[PvJoinState]] per pv_id, kept as
    * bytes ([[StateBytes]]); each batch runs [[attribute]] over the
    * user's rows, then [[joinAdvance]] over the rows of each pv_id.
    *
    * Only views and clicks enter the operator, so they alone set the
    * watermark: a purchase later in event time than every click does
    * not make the next clicks late. Other event types therefore move
    * neither the attribution store's maxTs nor its pruning, which the
    * two chained operators this replaced let them do; that can change
    * whether a click redelivered after its first copy was attributed to
    * a view outside its join window is emitted again.
    *
    * Each store is reset to empty once the watermark passes its deadline
    * — the attribution store's maxTs + 2·join, a pv's maxTs +
    * 2·max(join, dedup) — and the user's timeout is the earliest pending
    * one, so each store expires in the batch where its own timeout fired
    * in the chained form, whatever else the user holds. Expiry emits nothing; it decides whether a later click finds
    * an old view to attribute to, and so in which pv's dedup store it
    * lands.
    *
    * Spec: ProcessorApiJoinSpec (scenario, redelivery, stream-batch
    * parity with a11's oracle-gated semantics, and the same output as
    * the two chained operators this replaced). A checkpoint written by
    * those two operators is refused on restart with
    * `STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA` and emits
    * nothing; one that stored the state as a struct cannot be resumed
    * either.
    */
  def apply(
      events: Dataset[Event],
      joinWindowSec: Long = 15,
      dedupWindowSec: Long = 5,
      watermarkDelay: String = "10 minutes"
  ): Dataset[EnrichedClick] = {
    import events.sparkSession.implicits._
    val joinMs = joinWindowSec * 1000
    val dedupMs = dedupWindowSec * 1000
    val codec = StateBytes[(AttributionState, Map[Long, PvJoinState])]
    val noViews = AttributionState(Nil, 0L)
    val noPv = PvJoinState(0L, viewSeen = false, Map.empty, 0L)
    def attributionDeadline(a: AttributionState) = a.maxTs + 2 * joinMs
    def pvDeadline(p: PvJoinState) = p.maxTs + 2 * math.max(joinMs, dedupMs)

    events
      .filter(col("event_type").isin("view", "click"))
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Byte], EnrichedClick](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) { (user: Long, rows: Iterator[Event], state: GroupState[Array[Byte]]) =>
        val watermarkMs = state.getCurrentWatermarkMs()
        val (attribution0, pvs0) = state.getOption.map(codec.decode).getOrElse((noViews, Map.empty[Long, PvJoinState]))
        val (attribution, attributed) =
          if (state.hasTimedOut) (attribution0, Nil) else attribute(attribution0, rows.toSeq, joinMs, watermarkMs)
        val joined = attributed.groupBy(_.pv_id).map { case (pv, batch) =>
          pv -> joinAdvance(PvKey(user, pv), pvs0.getOrElse(pv, noPv), batch, joinMs, dedupMs, watermarkMs)
        }
        val liveAttribution = Some(attribution).filter(a => a != noViews && attributionDeadline(a) >= watermarkMs)
        val pvs = (pvs0 ++ joined.map { case (pv, (st, _)) => pv -> st }).filter { case (_, p) => pvDeadline(p) >= watermarkMs }
        val deadlines = liveAttribution.map(attributionDeadline) ++ pvs.values.map(pvDeadline)
        if (deadlines.isEmpty) state.remove()
        else {
          state.update(codec.encode((liveAttribution.getOrElse(noViews), pvs)))
          state.setTimeoutTimestamp(deadlines.min)
        }
        joined.valuesIterator.flatMap(_._2)
      }
  }
}
