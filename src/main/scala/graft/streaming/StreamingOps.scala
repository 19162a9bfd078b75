package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType, StructField, StructType}

/** Structured Streaming re-expressions of the reference topologies
  * (SURVEY.md §2 D-series).
  *
  * Reference: /root/reference/src/main/scala/example —
  * DeduplicationExample.scala:96-142 (windowed first-wins dedup over a
  * WindowStore) and ClickstreamJoinExample.scala:163-270 (windowed
  * join + dedup, Processor API and DSL).
  *
  * The Kafka Streams state stores map to Spark's keyed state:
  * `flatMapGroupsWithState` holds exactly the per-key bit the
  * reference's WindowStore guard held, with event-time timeout playing
  * the role of retention; windowed aggregation + watermark replaces
  * `TimeWindows.of(...).until(...)`; a keyed interval join over the
  * union of both sides replaces `JoinWindows`. State is partitioned by
  * key across executors, so the topology scales horizontally exactly like a
  * Streams app scales by task — but with Spark's shuffle service and
  * checkpointing underneath.
  */
object StreamingOps {

  /** The event record used by the streaming operators (mirrors the
    * events table / the reference's keyed messages).
    */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class DedupKey(user_id: Long, event_type: String, window_start: Long)

  /** Windowed first-wins dedup — DeduplicationExample.DeduplicationProcessor
    * (:126-142): forward a record only if its key has not been seen in
    * the current window; state expires via event-time timeout (the
    * WindowStore's retention).
    *
    * Semantics note: like the reference, "first" means first ARRIVAL —
    * a later-arriving record with an earlier event time inside an
    * already-claimed window is dropped, not swapped in (Kafka Streams
    * forwards whatever reached the processor first). Within one
    * micro-batch, arrival order is undefined, so the event-time minimum
    * is taken for determinism. The batch analogue
    * ([[graft.operators.EventStreamOps.a1DedupWindowed]]) has no
    * arrival order at all and always keeps the event-time minimum; the
    * two agree exactly when records arrive in event-time order (the
    * replay case StreamingSpec's stream-batch dedup parity verifies),
    * and differ only for out-of-order arrivals across micro-batches —
    * where the reference itself is arrival-dependent.
    */
  def firstWinsDedup(
      events: Dataset[Event],
      windowSec: Long,
      watermarkDelay: String = "30 minutes"
  ): Dataset[Event] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => DedupKey(e.user_id, e.event_type, e.ts.getTime / 1000 / windowSec * windowSec))
      .flatMapGroupsWithState[Boolean, Event](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: DedupKey, rows: Iterator[Event], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            // duplicate within the window: drop — but RE-SET the timeout:
            // Spark re-creates GroupState with no stored timeout each
            // invocation and persists whatever this call sets, so
            // returning without setting it would CLEAR the expiry and
            // leak this key's seen-bit forever (unbounded state under
            // at-least-once delivery, the input this operator exists for)
            state.setTimeoutTimestamp((key.window_start + 2 * windowSec) * 1000)
            Iterator.empty
          } else {
            state.update(true)
            // retain the seen-bit until the window is past the watermark
            state.setTimeoutTimestamp((key.window_start + 2 * windowSec) * 1000)
            // first within this micro-batch: earliest by (ts, event_id)
            Iterator.single(rows.minBy(e => (e.ts.getTime, e.event_id)))
          }
      }
  }

  /** Built-in variant: Spark's own watermark-backed dedup operator —
    * semantically the reference's guard with arrival-order wins.
    */
  def dropDuplicatesDedup(events: Dataset[Event], watermarkDelay: String): Dataset[Event] =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Windowed stream-stream LEFT join —
    * ClickstreamJoinExample.clickstreamJoinDsl (:199-270): events
    * (clicks) enriched with the page view that precedes them within
    * `joinWindowSec`; unmatched clicks emit null view columns once the
    * watermark closes the window.
    *
    * CONTRACT: one output row per (click, matching view) pair — the
    * stream-stream interval-join semantics (a click with two views in
    * its window emits twice). Append mode cannot reduce to a single
    * best match (a non-windowed per-click aggregation over a
    * stream-stream join is unsupported); for the exact
    * latest-view-per-click reduction use [[ProcessorApiJoin]]
    * (streaming) or [[graft.operators.EventStreamOps.a2ClickstreamJoin]]
    * (batch).
    *
    * Input frames: clicks(click_id, user_id, click_ts),
    * views(v_id, v_user, v_ts); any further columns pass through. The
    * output is Spark's `leftOuter` join of the two on
    * `user_id = v_user AND v_ts BETWEEN click_ts - W AND click_ts`, row
    * for row, with that join's schema; it runs as one keyed state
    * operator ([[intervalJoin]]). A checkpoint written by the Spark
    * stream-stream join this replaced cannot be resumed: the restart
    * fails with an error and emits nothing. Nor can one whose state was
    * written as a struct of two lists, before the state was kept as
    * bytes ([[StateBytes]]).
    */
  def clickstreamLeftJoin(clicks: DataFrame, views: DataFrame, joinWindowSec: Long): DataFrame =
    intervalJoin(clicks, views, joinWindowSec, fullOuter = false)

  /** Windowed stream-stream FULL OUTER join — Kafka Streams
    * `outerJoin`, the DSL sibling of [[clickstreamLeftJoin]] (the
    * reference demonstrates leftJoin,
    * ClickstreamJoinExample.scala:234): in-window pairs emit as they
    * match; an unmatched row of EITHER side emits with a null opposite
    * side once the watermark proves no match can still arrive — the
    * streaming form of the batch
    * [[graft.operators.EventStreamOps.a14OuterJoin]] decomposition
    * (which exists only because BATCH Spark lacks a non-equi
    * full-outer strategy). The output is Spark's `fullOuter`
    * stream-stream join, row for row; as with [[clickstreamLeftJoin]],
    * a checkpoint written by that Spark join, or with the state as a
    * struct rather than bytes, cannot be resumed.
    */
  def clickstreamOuterJoin(clicks: DataFrame, views: DataFrame, joinWindowSec: Long): DataFrame =
    intervalJoin(clicks, views, joinWindowSec, fullOuter = true)

  /** The interval join of [[clickstreamLeftJoin]] and
    * [[clickstreamOuterJoin]] as one `flatMapGroupsWithState` keyed by
    * user, instead of Spark's symmetric hash join (which keeps four
    * state stores per partition and, on every copy of its physical
    * plan, broadcasts the Hadoop configuration: 24 broadcasts per
    * micro-batch, most of a small batch's planning time).
    *
    * Both watermarked sides are unioned into one stream of (key, event
    * time, click row, view row), so the operator sees the watermark and
    * drops late rows itself. Per user the state holds the clicks and
    * the views still inside retention, each with its event time and
    * whether it has matched, kept as bytes ([[intervalJoinCodec]]). A
    * micro-batch reproduces the Spark join exactly:
    *   - new clicks match the stored views, then new views match the
    *     stored clicks, this batch's included;
    *   - the state watermarks are Spark's own for this condition
    *     (`StreamingJoinHelper`, one ms below the bound for a non-strict
    *     inequality): a click leaves once `click_ts <= watermark - 1 ms`,
    *     a view once `v_ts + W <= watermark - 1 ms`;
    *   - a new row already past that bound (it arrived between the
    *     previous batch's watermark, which filters late rows, and this
    *     one's) still matches this batch's rows and then leaves;
    *   - a leaving click that never matched emits with null view
    *     columns, and under full outer so does a leaving view, with
    *     null click columns.
    * The event-time timeout is the earliest pending departure, so a
    * user with no new rows is visited exactly when a row of theirs
    * leaves. Rows with a null event time can never match or leave, so
    * they are not stored. A null user matches nothing; here alone the
    * operator departs from Spark's full outer join, which pairs a
    * null-user click with a null-user view (its left outer join drops
    * null-user views before joining).
    */
  private def intervalJoin(clicks: DataFrame, views: DataFrame, joinWindowSec: Long, fullOuter: Boolean): DataFrame = {
    val c = clicks.withWatermark("click_ts", "10 minutes")
    val v = views.withWatermark("v_ts", "10 minutes")
    val sides = c
      .select(
        col("user_id").as("key"),
        col("click_ts").as("time"),
        struct(col("*")).as("click"),
        lit(null).cast(v.schema).as("view")
      )
      .union(
        v.select(
          col("v_user").as("key"),
          col("v_ts").as("time"),
          lit(null).cast(c.schema).as("click"),
          struct(col("*")).as("view")
        )
      )
    val outType = StructType(
      c.schema.fields.map(f => if (fullOuter) f.copy(nullable = true) else f) ++
        v.schema.fields.map(_.copy(nullable = true))
    )
    val joined = sides
      .groupBy(col("key"))
      .as[Row, Row](Encoders.row(sides.select("key").schema), Encoders.row(sides.schema))
      .flatMapGroupsWithState[Array[Byte], Row](OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        IntervalJoinState(joinWindowSec * 1000000L, fullOuter, c.schema.length, v.schema.length, intervalJoinCodec(c.schema, v.schema))
      )(Encoders.BINARY, Encoders.row(outType))
    // the join's output keeps each side's event-time column metadata
    joined.select(outType.fields.toSeq.zip(joined.columns).map { case (f, n) =>
      joined.col(n).as(f.name, f.metadata)
    }: _*)
  }

  /** The codec of [[intervalJoin]]'s per-user state for click and view
    * rows of these schemas: a row of two lists, the clicks and the
    * views, each entry the row's event time in µs, whether it has
    * matched, and the row.
    */
  private[graft] def intervalJoinCodec(clicks: StructType, views: StructType): StateBytes[Row] = {
    def pending(row: StructType) = ArrayType(
      StructType(
        Seq(
          StructField("us", LongType, nullable = false),
          StructField("matched", BooleanType, nullable = false),
          StructField("row", row, nullable = false)
        )
      ),
      containsNull = false
    )
    StateBytes(
      Encoders.row(
        StructType(
          Seq(StructField("clicks", pending(clicks), nullable = false), StructField("views", pending(views), nullable = false))
        )
      )
    )
  }

  /** A row waiting in [[intervalJoin]]'s state. */
  private final class Pending(val us: Long, var matched: Boolean, val row: Row)

  /** [[intervalJoin]]'s per-user state function; `windowUs` is W in µs. */
  private final case class IntervalJoinState(
      windowUs: Long,
      fullOuter: Boolean,
      clickWidth: Int,
      viewWidth: Int,
      codec: StateBytes[Row]
  ) extends ((Row, Iterator[Row], GroupState[Array[Byte]]) => Iterator[Row]) {

    /** The watermark (ms) a row leaves after: Spark evicts once
      * `us <= (watermark - 1) * 1000`, i.e. once the watermark exceeds
      * ⌈us / 1000⌉.
      */
    private def leavesAfter(us: Long): Long = Math.floorDiv(us + 999L, 1000L)

    private def clickLeavesAfter(p: Pending): Long = leavesAfter(p.us)

    private def viewLeavesAfter(p: Pending): Long = leavesAfter(p.us + windowUs)

    private def inWindow(click: Pending, view: Pending): Boolean = view.us <= click.us && view.us >= click.us - windowUs

    private def pair(click: Row, view: Row): Row =
      Row.fromSeq((if (click == null) Seq.fill(clickWidth)(null) else click.toSeq) ++
        (if (view == null) Seq.fill(viewWidth)(null) else view.toSeq))

    def apply(key: Row, rows: Iterator[Row], state: GroupState[Array[Byte]]): Iterator[Row] = {
      val watermark = state.getCurrentWatermarkMs()
      val stored = state.getOption.map(codec.decode)
      def load(i: Int): mutable.ArrayBuffer[Pending] =
        mutable.ArrayBuffer.from(
          stored.iterator.flatMap(_.getSeq[Row](i)).map(p => new Pending(p.getLong(0), p.getBoolean(1), p.getStruct(2)))
        )
      val clicks = load(0)
      val views = load(1)
      val out = mutable.ArrayBuffer.empty[Row]
      if (!state.hasTimedOut) {
        val matchable = !key.isNullAt(0)
        def tryPair(click: Pending, view: Pending): Unit =
          if (matchable && inWindow(click, view)) {
            out += pair(click.row, view.row)
            click.matched = true
            view.matched = true
          }
        // Spark's join order: this batch's clicks meet the stored views,
        // then this batch's views meet every click
        val newViews = mutable.ArrayBuffer.empty[Pending]
        rows.foreach { r =>
          if (!r.isNullAt(1)) {
            val us = DateTimeUtils.anyToMicros(r.get(1))
            if (r.isNullAt(3)) {
              val click = new Pending(us, false, r.getStruct(2))
              views.foreach(tryPair(click, _))
              clicks += click
            } else newViews += new Pending(us, false, r.getStruct(3))
          }
        }
        newViews.foreach { view => clicks.foreach(tryPair(_, view)); views += view }
      }
      clicks.filterInPlace { p =>
        val stays = clickLeavesAfter(p) >= watermark
        if (!stays && !p.matched) out += pair(p.row, null)
        stays
      }
      views.filterInPlace { p =>
        val stays = viewLeavesAfter(p) >= watermark
        if (!stays && fullOuter && !p.matched) out += pair(null, p.row)
        stays
      }
      if (clicks.isEmpty && views.isEmpty) state.remove()
      else {
        def rowsOf(ps: mutable.ArrayBuffer[Pending]) = ps.toSeq.map(p => Row(p.us, p.matched, p.row))
        state.update(codec.encode(Row(rowsOf(clicks), rowsOf(views))))
        val next = (clicks.iterator.map(clickLeavesAfter) ++ views.iterator.map(viewLeavesAfter)).min
        state.setTimeoutTimestamp(math.max(next, 1L))
      }
      out.iterator
    }
  }

  /** Tumbling-window aggregation with watermark — the
    * `groupByKey.windowedBy(TimeWindows...).reduce` surface. Append
    * mode: a window only emits once the watermark passes its end (the
    * reference's `until()` retention).
    */
  def windowedCounts(events: DataFrame, windowDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.functions.ExactAgg.moneySum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n"),
        col("sum_value")
      )

  /** Session-window aggregation (SessionWindows surface). */
  def sessionCounts(events: DataFrame, gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"),
        col("n")
      )

  /** A document row for the streaming quota (mirrors c28's projection
    * of the documents table).
    */
  case class DocRow(doc_id: Long, source: String, n_chars: Long)

  /** One quota update: the key's current top-k after a micro-batch
    * that changed it, with a per-key update sequence so a sink can
    * identify the latest emission.
    */
  case class QuotaUpdate(source: String, seq: Long, doc_ids: Seq[Long], n_chars: Seq[Long])

  /** Streaming per-domain quota — the incremental form of the batch
    * [[graft.operators.Sampling.c28DomainQuota]] (and of the native
    * batch TopKPerKey operator): per-key state is ONLY the current
    * top-k under (n_chars DESC, doc_id ASC) — the same bounded-memory
    * contract as the batch operator's heaps, whatever the stream's
    * length — folded one row at a time (never buffering a batch's
    * group). Runs in Update mode with no watermark: a quota has no
    * event-time horizon, new documents may always displace old ones.
    * StreamingSpec replays the documents table and asserts each key's
    * LAST emission equals the batch quota row-for-row. The state is kept
    * as bytes ([[StateBytes]]); a checkpoint that stored it as a
    * (seq, top-k) struct cannot be resumed.
    */
  def streamingDomainQuota(docs: Dataset[DocRow], k: Int): Dataset[QuotaUpdate] = {
    import docs.sparkSession.implicits._
    val codec = StateBytes[(Long, Seq[(Long, Long)])]
    docs
      .groupByKey(_.source)
      .mapGroupsWithState[Array[Byte], QuotaUpdate](GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[DocRow], state: GroupState[Array[Byte]]) =>
          val (seq0, prev) = state.getOption.map(codec.decode).getOrElse((0L, Seq.empty[(Long, Long)]))
          // insert each row into the sorted top-k, truncating at k:
          // O(k) memory and O(k) work per row, independent of batch size
          val merged = rows.foldLeft(prev) { (acc, r) =>
            val entry = (r.n_chars, r.doc_id)
            // at-least-once: a redelivered document must not occupy two
            // quota slots (same guard role as the reference's dedup store)
            if (acc.contains(entry)) acc
            else {
              val pos = acc.indexWhere { case (n, id) => n < r.n_chars || (n == r.n_chars && id > r.doc_id) }
              val inserted = if (pos < 0) acc :+ entry else (acc.take(pos) :+ entry) ++ acc.drop(pos)
              inserted.take(k)
            }
          }
          val seq = seq0 + 1
          state.update(codec.encode((seq, merged)))
          QuotaUpdate(source, seq, merged.map(_._2), merged.map(_._1))
      }
  }

  /** A funnel event: user key, stage name, event time as epoch
    * MICROseconds (longs fold through state without timestamp-encoder
    * friction; the µs resolution is the source table's).
    */
  case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)

  /** One funnel update per user per micro-batch that touched the user:
    * current first-arrival times per stage (−1 = stage not reached) and
    * the derived ordered-progression verdicts, with a per-key sequence
    * so a sink keeps the latest.
    */
  case class FunnelUpdate(
      user_id: Long,
      seq: Long,
      first_view: Long,
      first_click: Long,
      first_purchase: Long,
      view_then_click: Boolean,
      full_funnel: Boolean
  )

  /** Streaming funnel — a9's conversion analysis as an incremental
    * operator: per-user state is THREE longs (the first-arrival time of
    * each stage), folded by MIN as events arrive. Because min is
    * commutative, associative and idempotent, the final state is
    * arrival-order independent AND redelivery-proof by construction —
    * the strongest delivery contract in the module (quota/budget need
    * explicit redelivery floors; the funnel's merge IS one). Verdicts
    * mirror the batch a9 definitions exactly: view→click = both stages
    * reached with first_click strictly after first_view; full funnel
    * additionally first_purchase strictly after first_click. Update
    * mode, no watermark (a funnel has no event-time horizon — a late
    * view may still legitimately predate the first click). The global
    * a9 counts are the sink-side fold of each user's LAST emission —
    * state stays per-user and bounded; nothing global accumulates in
    * the stream.
    */
  def streamingFunnel(events: Dataset[FunnelEvent]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    val Unset = Long.MaxValue
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long, Long), FunnelUpdate](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[(Long, Long, Long, Long)]) =>
          val (seq0, v0, c0, p0) = state.getOption.getOrElse((0L, Unset, Unset, Unset))
          var v = v0; var c = c0; var p = p0
          rows.foreach { r =>
            r.event_type match {
              case "view"     => v = math.min(v, r.ts_us)
              case "click"    => c = math.min(c, r.ts_us)
              case "purchase" => p = math.min(p, r.ts_us)
              case _          => ()
            }
          }
          val seq = seq0 + 1
          state.update((seq, v, c, p))
          def emit(x: Long) = if (x == Unset) -1L else x
          FunnelUpdate(
            uid,
            seq,
            emit(v),
            emit(c),
            emit(p),
            v != Unset && c != Unset && c > v,
            v != Unset && c != Unset && p != Unset && c > v && p > c
          )
      }
  }

  /** A token occurrence for the streaming heavy-hitter sketch; `key`
    * partitions the state (a language, a source — or one constant for
    * corpus-global hitters).
    */
  case class TokenOcc(key: String, token: String)

  /** Per-batch heavy-hitter emission: the current Misra-Gries summary
    * for `key` — candidate tokens (sorted), their lower-bound counts,
    * and the stream total the guarantee is relative to.
    */
  case class HeavyHittersUpdate(
      key: String,
      seq: Long,
      total: Long,
      tokens: Seq[String],
      lower_counts: Seq[Long]
  )

  /** Streaming heavy hitters — c41's candidate sketch as an
    * incremental operator: per-key state is ONE Misra-Gries table of at
    * most `capacity` counters ([[graft.functions.MisraGries]] — the
    * same algorithm object the batch Catalyst aggregate delegates to),
    * folded row-by-row, whatever the stream's length. Because
    * sequential MG over micro-batches IS single-pass MG over the
    * concatenated stream (state carries across batches), the batch
    * guarantee transfers: after any batch, every token with true
    * delivered count > total/(capacity+1) is in the emitted candidate
    * set, counts underestimating by at most that bound. A consumer
    * needing exact counts re-counts the bounded candidate set — c41's
    * verify pass — against its store of record.
    *
    * Delivery contract: the sketch counts DELIVERIES. Unlike the quota
    * and budget streams there is no per-row id to build a redelivery
    * floor from (a token occurrence is not unique), so at-least-once
    * redelivery inflates counts — superset-of-heavy-hitters still
    * holds for the delivered multiset. Deduplicate upstream
    * (dropDuplicatesWithinWatermark on the source's record id) for
    * effectively-once counting. Update mode, no watermark. The state is
    * kept as bytes ([[StateBytes]]); a checkpoint that stored it as a
    * (seq, total, counters) struct cannot be resumed.
    */
  def streamingHeavyHitters(toks: Dataset[TokenOcc], capacity: Int): Dataset[HeavyHittersUpdate] = {
    import toks.sparkSession.implicits._
    val codec = StateBytes[(Long, Long, Map[String, Long])]
    toks
      .groupByKey(_.key)
      .mapGroupsWithState[Array[Byte], HeavyHittersUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[TokenOcc], state: GroupState[Array[Byte]]) =>
        val (seq0, total0, prev) = state.getOption.map(codec.decode).getOrElse((0L, 0L, Map.empty[String, Long]))
        val buf = scala.collection.mutable.HashMap.from(prev)
        var total = total0
        rows.foreach { r =>
          graft.functions.MisraGries.updateOne(buf, r.token, capacity)(identity)
          total += 1
        }
        val seq = seq0 + 1
        state.update(codec.encode((seq, total, buf.toMap)))
        val sorted = buf.toSeq.sortBy(_._1)
        HeavyHittersUpdate(key, seq, total, sorted.map(_._1), sorted.map(_._2))
      }
  }

  /** A scored document for the streaming budget fill (the batch
    * [[graft.operators.Sampling.budgetFill]] projection for c30).
    */
  case class BudgetDoc(doc_id: Long, lang: String, n_tokens: Long, q: Double)

  /** An admission: the document plus its running per-language token
    * total at admission time — c30's output row.
    */
  case class BudgetAdmit(doc_id: Long, lang: String, n_tokens: Long, cum_tokens: Long)

  /** Streaming per-language token-budget fill — the incremental form of
    * the batch [[graft.operators.Sampling.budgetFill]] flat-cumsum cut.
    * Per-language state is THREE scalars — (spent tokens, last q, last
    * doc_id) — whatever the stream's length: the batch operator's
    * banded two-phase plan exists to avoid a giant per-lang sort, and
    * the streaming form needs no sort at all because the replay
    * CONTRACT is (q DESC, doc_id ASC) order per language (the order a
    * curation build emits its scored corpus in). Under that contract
    * the admitted set is row-for-row c30's batch cut: every arriving
    * row advances `spent` by its tokens — admitted or not, exactly the
    * flat window cumsum — and a language whose cumulative total passed
    * the budget stays closed. The (last q, last doc_id) floor makes
    * at-least-once delivery safe: a redelivered or out-of-order row
    * sits at-or-before the floor and is dropped, the same guard role
    * as the dedup store in the reference's processor
    * (DeduplicationExample.scala:100-139). Rows WITHIN a micro-batch are
    * sorted (bounded by batch size), so only cross-batch order is the
    * caller's contract. Update mode, no watermark — budgets have no
    * event-time horizon.
    */
  def streamingBudgetFill(docs: Dataset[BudgetDoc], budget: Long): Dataset[BudgetAdmit] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.lang)
      .flatMapGroupsWithState[(Long, Double, Long), BudgetAdmit](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (lang: String, rows: Iterator[BudgetDoc], state: GroupState[(Long, Double, Long)]) =>
        var (spent, lastQ, lastId) =
          state.getOption.getOrElse((0L, Double.PositiveInfinity, Long.MinValue))
        val admitted = Seq.newBuilder[BudgetAdmit]
        rows.toSeq.sortBy(r => (-r.q, r.doc_id)).foreach { r =>
          val inOrder = r.q < lastQ || (r.q == lastQ && r.doc_id > lastId)
          if (inOrder) {
            spent += r.n_tokens
            lastQ = r.q
            lastId = r.doc_id
            if (spent <= budget) admitted += BudgetAdmit(r.doc_id, lang, r.n_tokens, spent)
          }
          // else: at-or-before the floor — a redelivery under the
          // in-order replay contract; admitting it twice would
          // double-charge the budget
        }
        state.update((spent, lastQ, lastId))
        admitted.result().iterator
      }
  }

  /** One (band, bucket) occupancy probe for the streaming near-dup
    * admission — a doc's LSH band keys
    * ([[graft.operators.TextDedup.bandKeyFrame]]) exploded upstream,
    * so the stream collides in exactly the buckets the batch candidate
    * join would.
    */
  case class BandRow(doc_id: Long, band_idx: Int, bkey: Long)

  /** Per-probe verdict: `dup_of == -1` means this doc owns the bucket
    * (first arrival — admitted on this band); otherwise the owning
    * doc_id it collided with (a near-dup SUSPECT pair, to be exactly
    * verified downstream like the batch pass verifies its candidates).
    */
  case class BandVerdict(doc_id: Long, band_idx: Int, bkey: Long, dup_of: Long)

  /** Streaming near-dup admission — c3's LSH candidate detection as an
    * incremental operator: per-(band, bucket) state is ONE long (the
    * first-arrived owner), so a new document is a near-dup suspect iff
    * any of its [[graft.operators.TextDedup.MinHashParams.Bands]]
    * probes lands in an owned bucket — the streaming analogue of the
    * batch banded self-join, with the SAME signature pipeline feeding
    * both. Ownership is first-arrival (the reference's dedup-store
    * semantics: first seen wins); under in-order replay by doc_id that
    * coincides with the batch min-id canonical, and the suspect set
    * equals the batch candidate-pair doc_b set row-for-row
    * (spec-asserted). Redelivery of an owner re-emits its own
    * admission verdict, never a self-collision. State size is
    * O(distinct buckets) — the same growth law as any
    * dedup-against-history store (c26's hash history), RocksDB-backed
    * by default; a retention policy (drop buckets idle > horizon) maps
    * to GroupStateTimeout if the corpus contract allows forgetting.
    * Update mode, no watermark.
    */
  def streamingLshAdmission(rows: Dataset[BandRow]): Dataset[BandVerdict] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(r => (r.band_idx, r.bkey))
      .flatMapGroupsWithState[Long, BandVerdict](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (key: (Int, Long), it: Iterator[BandRow], state: GroupState[Long]) =>
        var owner = state.getOption.getOrElse(-1L)
        val out = Seq.newBuilder[BandVerdict]
        // fold in doc_id order so a batch's verdicts are independent of
        // shuffle iteration order (same determinism posture as the
        // budget stream's in-batch sort)
        it.toSeq.sortBy(_.doc_id).foreach { r =>
          if (owner == -1L || r.doc_id == owner) {
            owner = r.doc_id
            out += BandVerdict(r.doc_id, key._1, key._2, -1L)
          } else out += BandVerdict(r.doc_id, key._1, key._2, owner)
        }
        state.update(owner)
        out.result().iterator
      }
  }

  /** A document's full band-key array — the probe row for
    * [[streamingIndexedAdmission]] (the per-band [[BandRow]] explosion
    * happens inside, where the static join needs it).
    */
  case class DocBands(doc_id: Long, bkeys: Seq[Long])

  /** Streaming near-dup admission AGAINST THE PERSISTED HISTORY INDEX —
    * the missing half of the steady-state deployment story:
    * [[streamingLshAdmission]] catches intra-stream collisions from
    * per-bucket state built from scratch, while THIS leg probes each
    * arriving document into the band index s20 persisted on disk
    * (`TextDedup.s20IndexDir`), as a stream-static join — stateless,
    * because history is the static side; a nightly batch job re-runs
    * s20 to fold the day's admissions into the index. The plan is
    * LITERALLY the batch serve's probe: the same
    * [[graft.operators.TextDedup.indexCrossPairs]] call on a streaming
    * frame, so stream suspect pairs equal the batch serve's
    * cross-pairs row-for-row on the same documents (StreamingSpec
    * asserts set equality). Emits raw (doc_id, doc_h) suspect pairs;
    * exact Jaccard verification happens downstream exactly like the
    * batch pass.
    */
  def streamingIndexedAdmission(docs: Dataset[DocBands], indexDir: String): DataFrame = {
    val index = graft.sources.Tables.parquet(docs.sparkSession, s"$indexDir/bands")
    graft.operators.TextDedup.indexCrossPairs(docs.toDF(), index)
  }

  /** A weighted document for the streaming reservoir — the batch c46
    * priority columns ([[graft.operators.Sampling.weightedPriorities]])
    * computed upstream, so the stream never recomputes a priority.
    */
  case class WeightedDocRow(doc_id: Long, lang: String, weight: Long, priority: Double)

  /** One reservoir update: the key's current weighted sample after a
    * micro-batch that changed it, with a per-key update sequence so a
    * sink can identify the latest emission.
    */
  case class SampleUpdate(
      lang: String,
      seq: Long,
      doc_ids: Seq[Long],
      weights: Seq[Long],
      priorities: Seq[Double]
  )

  /** Streaming weighted sampling without replacement — the streaming
    * form Efraimidis-Spirakis (IPL 2006) designed A-Res FOR: keeping
    * the k largest priority keys u^(1/w) online IS the weighted
    * reservoir, so per-key state is ONLY the current top-k under
    * (priority DESC, doc_id ASC) — the same bounded-memory contract as
    * the batch [[graft.operators.Sampling.c46WeightedSample]]'s native
    * TopKPerKey heaps, whatever the stream's length, folded one row at
    * a time. A doc's priority is deterministic (salted-md5 coin), so
    * at-least-once redelivery is absorbed by the same
    * already-in-reservoir guard as the quota stream. Update mode, no
    * watermark: a reservoir has no event-time horizon. The state is kept
    * as bytes ([[StateBytes]]); a checkpoint that stored it as a
    * (seq, reservoir) struct cannot be resumed.
    */
  def streamingWeightedSample(docs: Dataset[WeightedDocRow], k: Int): Dataset[SampleUpdate] = {
    import docs.sparkSession.implicits._
    val codec = StateBytes[(Long, Seq[(Double, Long, Long)])]
    docs
      .groupByKey(_.lang)
      .mapGroupsWithState[Array[Byte], SampleUpdate](GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[WeightedDocRow], state: GroupState[Array[Byte]]) =>
          val (seq0, prev) = state.getOption.map(codec.decode).getOrElse((0L, Seq.empty[(Double, Long, Long)]))
          // insert each row into the sorted reservoir, truncating at k:
          // O(k) memory and O(k) work per row, independent of batch size
          val merged = rows.foldLeft(prev) { (acc, r) =>
            // redelivery guard: a doc's priority is deterministic, so
            // id-presence is enough — it must not occupy two slots
            if (acc.exists(_._2 == r.doc_id)) acc
            else {
              val entry = (r.priority, r.doc_id, r.weight)
              val pos = acc.indexWhere { case (p, id, _) =>
                p < r.priority || (p == r.priority && id > r.doc_id)
              }
              val inserted = if (pos < 0) acc :+ entry else (acc.take(pos) :+ entry) ++ acc.drop(pos)
              inserted.take(k)
            }
          }
          val seq = seq0 + 1
          state.update(codec.encode((seq, merged)))
          SampleUpdate(lang, seq, merged.map(_._2), merged.map(_._3), merged.map(_._1))
      }
  }

  /** One chunk occurrence for the streaming chunk dedup — the batch
    * chunk grid ([[graft.operators.TextAnalysis.chunked]]) computed
    * upstream as a row-local transform, so the stream and the batch
    * rewrite share one chunk definition.
    */
  case class ChunkRow(doc_id: Long, chunk_idx: Long, chunk_md5: String)

  /** Per-chunk verdict: survives = this (doc, idx) holds the canonical
    * copy of its content; otherwise (c_doc, c_idx) is the canonical
    * holder it duplicates — the ids-only record the rewrite stage
    * (c43's reassembly) consumes.
    */
  case class ChunkVerdict(doc_id: Long, chunk_idx: Long, survives: Boolean, c_doc: Long, c_idx: Long)

  /** Streaming chunk-level dedup — the incremental form of c38's
    * measurement and c43's rewrite verdict (CCNet line dedup as a
    * stream): per-chunk-hash state is ONE (doc_id, chunk_idx) pair —
    * the canonical holder — so an arriving chunk survives iff its hash
    * was never seen, O(1) state and work per chunk whatever the
    * corpus length. Ownership is first-arrival with a lexicographic
    * in-batch tiebreak, which under in-order replay by (doc_id,
    * chunk_idx) coincides exactly with the batch survivor rule
    * (lexicographic-min holder, spec-asserted row-for-row vs c38's
    * verdicts). Redelivery of the canonical holder re-emits its own
    * survival, never a self-collision — the same at-least-once guard
    * as the LSH admission's owner re-probe. State is keyed by the
    * 128-bit content hash (text never enters state), RocksDB-backed by
    * default; growth is O(distinct chunks) — the dedup-against-history
    * law (c26/c44's store), with GroupStateTimeout as the forgetting
    * knob where the corpus contract allows a horizon. Update mode.
    */
  def streamingChunkDedup(chunks: Dataset[ChunkRow]): Dataset[ChunkVerdict] = {
    import chunks.sparkSession.implicits._
    chunks
      .groupByKey(_.chunk_md5)
      .flatMapGroupsWithState[(Long, Long), ChunkVerdict](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (_: String, it: Iterator[ChunkRow], state: GroupState[(Long, Long)]) =>
        var owner = state.getOption.getOrElse((-1L, -1L))
        val out = Seq.newBuilder[ChunkVerdict]
        // fold in (doc, idx) order so a batch's verdicts are independent
        // of shuffle iteration order (the admission streams' posture)
        it.toSeq.sortBy(r => (r.doc_id, r.chunk_idx)).foreach { r =>
          if (owner._1 == -1L || (r.doc_id, r.chunk_idx) == owner) {
            owner = (r.doc_id, r.chunk_idx)
            out += ChunkVerdict(r.doc_id, r.chunk_idx, survives = true, r.doc_id, r.chunk_idx)
          } else out += ChunkVerdict(r.doc_id, r.chunk_idx, survives = false, owner._1, owner._2)
        }
        state.update(owner)
        out.result().iterator
      }
  }

  /** One head-fingerprinted doc (c68's projection) arriving on a stream. */
  case class HeadRow(doc_id: Long, head_md5: String, full_md5: String)

  /** Current family verdict for a head fingerprint after each batch. */
  case class HeadFamilyUpdate(
      head_md5: String,
      n_docs: Long,
      n_variants: Long,
      keep_doc_id: Long,
      is_family: Boolean
  )

  /** StreamingPrefixDedup: c68's truncation-family detector as an
    * incremental operator — per head fingerprint the state is the set
    * of member doc ids and distinct full-text hashes seen so far (state
    * ∝ the family's own size and variant count — the duplication
    * structure itself, the same growth law as the chunk-holder and
    * LSH-bucket states; heads with one member stay two entries). Each
    * batch re-emits the head's CURRENT verdict: member count, variant
    * count, canonical min id, and whether the head now qualifies as a
    * family (≥ 2 docs AND ≥ 2 variants — exact-copy groups stay
    * non-families, c1's business). Sets make the fold idempotent, so
    * redelivery can never inflate counts and the last emission under
    * in-order replay equals the batch c68 row exactly (spec-verified).
    * The state is kept as bytes ([[StateBytes]]); a checkpoint that
    * stored it as a (docs, hashes) struct cannot be resumed.
    */
  def streamingPrefixDedup(rows: Dataset[HeadRow]): Dataset[HeadFamilyUpdate] = {
    import rows.sparkSession.implicits._
    val codec = StateBytes[(Set[Long], Set[String])]
    rows
      .groupByKey(_.head_md5)
      .flatMapGroupsWithState[Array[Byte], HeadFamilyUpdate](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout
      ) { (head: String, it: Iterator[HeadRow], state: GroupState[Array[Byte]]) =>
        var (docs, fulls) = state.getOption.map(codec.decode).getOrElse((Set.empty[Long], Set.empty[String]))
        it.foreach { r =>
          docs += r.doc_id
          fulls += r.full_md5
        }
        state.update(codec.encode((docs, fulls)))
        Iterator.single(
          HeadFamilyUpdate(
            head,
            docs.size.toLong,
            fulls.size.toLong,
            docs.min,
            docs.size >= 2 && fulls.size >= 2
          )
        )
      }
  }

  /** Mixed click/view record for [[streamingAsofEnrich]] (one keyed
    * stream, the reference's topology shape).
    */
  case class AsofIn(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

  /** A click enriched with the latest at-or-before view (None when no
    * view within tolerance).
    */
  case class AsofOut(
      click_id: Long,
      user_id: Long,
      ts: Timestamp,
      view_id: Option[Long],
      view_ts: Option[Timestamp]
  )

  /** Streaming AS-OF enrich — the online form of
    * [[graft.operators.AsOfJoin]] / the a13 gate: per user, state is
    * ONLY the newest view seen (two longs — the KTable-style
    * "latest value per key" the reference's Processor API keeps in its
    * store, ClickstreamJoinExample.scala:333-352), and every click
    * emits exactly once, enriched with that view when it is
    * at-or-before the click within `toleranceMs`, null otherwise.
    * Contrast with the stream-stream interval join
    * ([[clickstreamLeftJoin]]): that emits every in-window pair and
    * buffers the whole window on both sides; this reduces to the
    * single LATEST match with O(1) state per user — the right
    * operator when the question is "which view produced this click".
    *
    * Within a micro-batch, rows process in event-time order (views
    * before clicks at equal timestamps — a13's at-or-before tie), so
    * under in-order replay the emissions equal the batch a13 rows
    * row-for-row (StreamingSpec). Re-delivered views can never corrupt
    * state (max-(ts, id) fold is idempotent); a re-delivered click
    * re-emits the same enrichment — at-least-once, deduplicable
    * downstream by click_id.
    */
  def streamingAsofEnrich(events: Dataset[AsofIn], toleranceMs: Long): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AsofOut](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AsofIn], state: GroupState[(Long, Long)]) =>
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
          it.toSeq
            .sortBy(e => (e.ts.getTime, if (e.event_type == "view") 0 else 1, e.event_id))
            .foreach { e =>
              if (e.event_type == "view") {
                val t = e.ts.getTime
                if (cur.forall(c => t > c._1 || (t == c._1 && e.event_id > c._2)))
                  cur = Some((t, e.event_id))
              } else {
                val m = cur.filter(c => c._1 <= e.ts.getTime && c._1 >= e.ts.getTime - toleranceMs)
                out += AsofOut(e.event_id, user, e.ts, m.map(_._2), m.map(c => new Timestamp(c._1)))
              }
            }
          cur.foreach(state.update)
          out.iterator
      }
  }
}
