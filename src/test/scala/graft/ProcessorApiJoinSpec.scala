package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Dataset, functions => F}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryException}

import graft.sources.Tables
import graft.streaming.{ProcessorApiJoin, StateBytes}
import graft.streaming.ProcessorApiJoin.EnrichedClick
import graft.streaming.StreamingOps.Event

/** Replays the reference producer's exact scenario
  * (ClickstreamJoinExample.clickstream:115-161) through both
  * Processor-API analogues — the user-keyed single-stage variant and
  * the composite-key (user_id, pv_id) topology matching the
  * reference's PvKey/EvPvKey store structure — plus stream-batch
  * parity of the composite topology against a11's attribution + join
  * semantics on the sf0.001 events table, an at-least-once redelivery
  * case across micro-batches, and the same output as the two chained
  * operators the composite topology once ran as, kept here as the
  * reference — whose checkpoint it refuses.
  */
class ProcessorApiJoinSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  private def runScenario(topology: Dataset[Event] => Dataset[EnrichedClick], name: String): Map[Long, Option[Long]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val q = topology(input.toDS())
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .start()

    input.addData(
      // main page view (sendPv pv1)
      Event(100, ts(100), 1, "view", 0),
      // impressions collected almost immediately (ev0, ev1, ev2)
      Event(101, ts(101), 1, "click", 0),
      Event(102, ts(101), 1, "click", 0),
      Event(103, ts(102), 1, "click", 0),
      // duplicated event, welcome to distributed world (ev1 again)
      Event(102, ts(103), 1, "click", 0),
      // client clicks on the offer within the join window
      Event(104, ts(110), 1, "click", 0),
      // out-of-order: event arrives before its page view
      Event(105, ts(119), 1, "click", 0),
      // offer page view
      Event(200, ts(120), 1, "view", 0),
      // impression on the new page joins the NEW view
      Event(106, ts(121), 1, "click", 0),
      // purchase after a coffee break longer than the join window
      Event(107, ts(140), 1, "click", 0)
    )
    q.processAllAvailable()

    val rows = spark
      .table(name)
      .as[EnrichedClick]
      .collect()
    q.stop()
    assert(rows.length == 7, s"expected 7 enriched clicks, got ${rows.toSeq}")
    rows.map(r => r.click_id -> r.view_id).toMap
  }

  private def assertScenario(rows: Map[Long, Option[Long]]): Unit = {
    assert(rows(101L).contains(100L)) // impression joins pv1
    assert(rows(103L).contains(100L))
    assert(rows.count(_._1 == 102L) == 1) // duplicate dropped: emitted once
    assert(rows(104L).contains(100L)) // click 10s later still in window
    assert(rows(105L).isEmpty) // out-of-order: view not stored yet → None
    assert(rows(106L).contains(200L)) // joins the newest view
    assert(rows(107L).isEmpty) // 20s after pv2: window (15s) closed → None
  }

  test("reference clickstream scenario: composite-key topology") {
    assertScenario(runScenario(ProcessorApiJoin(_, joinWindowSec = 15, dedupWindowSec = 5), "papi_out"))
  }

  test("reference clickstream scenario: user-keyed topology") {
    assertScenario(runScenario(ProcessorApiJoin.userKeyed(_, joinWindowSec = 15, dedupWindowSec = 5), "papi_user_out"))
  }

  // --- stream-batch parity: the composite topology replayed over the
  // sf0.001 events table must agree click-for-click with the batch
  // attribution + windowed-join semantics that a11 gates on the DuckDB
  // oracle (EventStreamOps.a11PvEquiJoin: last-view attribution per
  // user in (ts, event_id) order, then the composite-key equi-join).

  test("stream-batch parity with a11 attribution semantics on sf0.001 events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val joinSec = 6L * 3600 // a11's attribution window, as the join window
    val joinMsL = joinSec * 1000L

    // all 1000 events, replayed in event-time order across 5 micro-batches
    val all = Tables
      .events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", F.coalesce($"value", F.lit(0.0)).as("value"))
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))

    val input = MemoryStream[Event]
    val q = ProcessorApiJoin(input.toDS(), joinWindowSec = joinSec, dedupWindowSec = 60, watermarkDelay = "1 hour")
      .writeStream
      .format("memory")
      .queryName("papi_parity")
      .outputMode("append")
      .start()
    all.grouped(200).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val got = spark
      .table("papi_parity")
      .as[EnrichedClick]
      .collect()
      .map(r => (r.click_id, r.user_id, r.click_ts.getTime, r.view_id, r.view_ts.map(_.getTime)))
      .toSet
    q.stop()

    // batch expectation at the stream's millisecond precision: last view
    // at-or-before each click in (t_ms, event_id) order, matched iff
    // within the join window — a11's semantics with joinSec as the window
    val ev = Tables
      .events(spark, sf0001)
      .filter($"event_type".isin("view", "click"))
      .select($"event_id", $"ts", $"user_id", $"event_type", F.expr("unix_micros(ts) div 1000").as("t_ms"))
    val w = Window
      .partitionBy($"user_id")
      .orderBy($"t_ms", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = ev
      .withColumn("pv_id", F.last(F.when($"event_type" === "view", $"event_id"), ignoreNulls = true).over(w))
      .withColumn("pv_tms", F.last(F.when($"event_type" === "view", $"t_ms"), ignoreNulls = true).over(w))
      .filter($"event_type" === "click")
      .withColumn("matched", $"pv_id".isNotNull && $"pv_tms" >= $"t_ms" - joinMsL)
      .select($"event_id", $"user_id", $"t_ms", F.when($"matched", $"pv_id").as("view_id"), F.when($"matched", $"pv_tms").as("view_tms"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toSet

    assert(expected.nonEmpty && expected.exists(_._4.isDefined), "degenerate scenario: no matched clicks")
    assert(expected.exists(_._4.isEmpty), "degenerate scenario: every click matched")
    val missing = expected -- got
    val extra = got -- expected
    assert(missing.isEmpty && extra.isEmpty, s"stream-batch divergence — missing=${missing.take(5)} extra=${extra.take(5)}")
  }

  test("composite topology: at-least-once redelivery across micro-batches emits once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val q = ProcessorApiJoin(input.toDS(), joinWindowSec = 15, dedupWindowSec = 30)
      .writeStream
      .format("memory")
      .queryName("papi_redeliver")
      .outputMode("append")
      .start()
    input.addData(Event(100, ts(100), 1, "view", 0), Event(101, ts(110), 1, "click", 0))
    q.processAllAvailable()
    // at-least-once: both the view and the click are redelivered in a
    // LATER micro-batch; the (user, pv, ev) dedup store must swallow the
    // click and the pv store is first-wins on the view
    input.addData(Event(100, ts(100), 1, "view", 0), Event(101, ts(110), 1, "click", 0))
    q.processAllAvailable()
    input.addData(Event(102, ts(112), 1, "click", 0))
    q.processAllAvailable()

    val rows = spark.table("papi_redeliver").as[EnrichedClick].collect()
    q.stop()
    assert(rows.length == 2, s"redelivered click re-emitted: ${rows.toSeq}")
    val byId = rows.map(r => r.click_id -> r.view_id).toMap
    assert(byId(101L).contains(100L))
    assert(byId(102L).contains(100L))
  }

  // --- the composite topology against the two chained operators it once
  // ran as: attribution keyed by user_id, then the join + dedup re-keyed
  // by (user_id, pv_id), the watermark applied again in between

  /** The chained form, as it ran before the topology was one operator.
    * Spark refuses a chain of flatMapGroupsWithState operators unless
    * its stateful-operator correctness check is off, so a query over it
    * runs inside [[withChainCheckOff]].
    */
  private def chainedApply(joinWindowSec: Long, dedupWindowSec: Long, watermarkDelay: String)(
      events: Dataset[Event]
  ): Dataset[EnrichedClick] = {
    import spark.implicits._
    import ProcessorApiJoin._
    val joinMs = joinWindowSec * 1000
    val dedupMs = dedupWindowSec * 1000
    val attributionCodec = StateBytes[AttributionState]
    val joinCodec = StateBytes[PvJoinState]
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Array[Byte], Attributed](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[Event], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st0 = state.getOption.map(attributionCodec.decode).getOrElse(AttributionState(Nil, 0L))
            val (st, out) = attribute(st0, rows.toSeq, joinMs, state.getCurrentWatermarkMs())
            state.update(attributionCodec.encode(st))
            state.setTimeoutTimestamp(st.maxTs + 2 * joinMs)
            out.iterator
          }
      }
      .withWatermark("ts", watermarkDelay)
      .groupByKey(a => PvKey(a.user_id, a.pv_id))
      .flatMapGroupsWithState[Array[Byte], EnrichedClick](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: PvKey, rows: Iterator[Attributed], state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st0 = state.getOption.map(joinCodec.decode).getOrElse(PvJoinState(0L, viewSeen = false, Map.empty, 0L))
            val (st, out) = joinAdvance(key, st0, rows.toSeq, joinMs, dedupMs, state.getCurrentWatermarkMs())
            state.update(joinCodec.encode(st))
            state.setTimeoutTimestamp(st.maxTs + 2 * math.max(joinMs, dedupMs))
            out.iterator
          }
      }
  }

  /** Runs `body`, which must span a [[chainedApply]] query from start to
    * stop (Spark checks the chain on the stream thread, not at start),
    * with the chained-operator check off.
    */
  private def withChainCheckOff[T](body: => T): T = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private case class Run(rows: Seq[String], dropped: Long, plan: Seq[String])

  private var queries = 0

  /** Runs `topology` over `batches`, one append and
    * `processAllAvailable` each, into a memory sink; `checkpoint` is
    * reused across runs when given.
    */
  private def drive(
      topology: Dataset[Event] => Dataset[EnrichedClick],
      batches: Seq[Seq[Event]],
      input: MemoryStream[Event] = null,
      checkpoint: String = null
  ): Run = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = Option(input).getOrElse(MemoryStream[Event])
    queries += 1
    val name = s"papi_drive_$queries"
    val writer = topology(in.toDS()).writeStream.format("memory").queryName(name).outputMode("append")
    val q = Option(checkpoint).fold(writer)(writer.option("checkpointLocation", _)).start()
    try {
      batches.foreach { b =>
        in.addData(b)
        q.processAllAvailable()
      }
      Run(
        spark.table(name).as[EnrichedClick].collect().map(_.toString).toSeq.sorted,
        q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.collect { case p => p.getClass.getSimpleName }
      )
    } finally q.stop()
  }

  private val T0 = 1700000000L

  private def at(sec: Double): Timestamp = new Timestamp(((T0 + sec) * 1000).toLong)

  /** Eight seeded micro-batches 30 s of event time apart, then one far
    * in the future that expires every store. Each holds, over four
    * users:
    *   - a purchase 5 s after the batch's time, the batch's max event time;
    *   - views and clicks up to 40 s old, so out of order across batches;
    *   - a purchase alone for some users, for others none;
    *   - a click 90 s old, behind the watermark once it has moved;
    *   - redelivered copies of earlier views and clicks.
    */
  private def seededBatches(seed: Long): Seq[Seq[Event]] = {
    val rnd = new Random(seed)
    var id = 0L
    val seen = mutable.ArrayBuffer.empty[Event]
    def event(user: Long, sec: Double, kind: String): Event = {
      id += 1
      Event(id, at(sec), user, kind, 0.0)
    }
    val live = (0 until 8).map { b =>
      val now = 100 + 30 * b
      val out = mutable.ArrayBuffer(event(rnd.nextInt(4).toLong, now + 5, "purchase"))
      for (user <- 0L until 4L) {
        if (rnd.nextInt(3) == 0) out += event(user, now - rnd.nextInt(40000) / 1000.0, "purchase")
        if (rnd.nextBoolean())
          for (_ <- 0 until 1 + rnd.nextInt(4))
            out += event(user, now - rnd.nextInt(40000) / 1000.0, if (rnd.nextInt(3) == 0) "view" else "click")
      }
      out += event(rnd.nextInt(4).toLong, now - 90, "click")
      val joinable = seen.filter(e => e.event_type == "view" || e.event_type == "click")
      if (joinable.nonEmpty) for (_ <- 0 until 3) out += joinable(rnd.nextInt(joinable.size))
      seen ++= out
      rnd.shuffle(out.toSeq)
    }
    live :+ Seq(event(0L, 10000, "click"), event(0L, 10000, "purchase"))
  }

  private val windows = Seq((15L, 5L, "20 seconds"), (20L, 30L, "30 seconds"))

  for ((seed, (joinSec, dedupSec, delay)) <- Seq(1L, 2L).zip(windows))
    test(s"one keyed operator gives the chained operators' output (seed $seed: join ${joinSec}s, dedup ${dedupSec}s, delay $delay)") {
      val data = seededBatches(seed)
      val (chained, one) = withStatefulStreamingSettings {
        (
          withChainCheckOff(drive(chainedApply(joinSec, dedupSec, delay), data)),
          drive(ProcessorApiJoin(_, joinSec, dedupSec, delay), data)
        )
      }
      assert(one.rows == chained.rows, s"only one operator: ${one.rows.diff(chained.rows)}; only chained: ${chained.rows.diff(one.rows)}")
      assert(one.plan.count(_ == "FlatMapGroupsWithStateExec") == 1, one.plan)
      assert(chained.plan.count(_ == "FlatMapGroupsWithStateExec") == 2, chained.plan)
      // the data reaches every case the join distinguishes
      assert(one.dropped > 0, "no late row was dropped")
      assert(one.rows.exists(_.endsWith(",None,None)")) && one.rows.exists(!_.endsWith(",None,None)")), "no matched or no unmatched click")
    }

  test("the attribution store expires in the batch the chained operators timed it out, whatever else the user holds") {
    def e(id: Long, sec: Double, user: Long, kind: String) = Event(id, at(sec), user, kind, 0.0)
    // join 10 s, dedup 30 s: user 1's attribution store is due at 101 + 20
    // s, its pv stores at 101 + 60 s; another user's click moves the
    // watermark to 125 s in between
    val data = Seq(
      Seq(e(1, 100, 1, "view"), e(2, 101, 1, "click"), e(3, 200, 3, "purchase")),
      Seq(e(50, 130, 2, "click")),
      Seq(e(51, 131, 2, "click")),
      // the view expired with the store, so this click attributes to no view…
      Seq(e(4, 127, 1, "click"), e(52, 90, 2, "click")),
      // …and its redelivered copy finds it in that pv's dedup store
      Seq(e(4, 127, 1, "click"))
    )
    val (chained, one) = withStatefulStreamingSettings {
      (withChainCheckOff(drive(chainedApply(10, 30, "5 seconds"), data)), drive(ProcessorApiJoin(_, 10, 30, "5 seconds"), data))
    }
    assert(one.rows == chained.rows, s"only one operator: ${one.rows.diff(chained.rows)}; only chained: ${chained.rows.diff(one.rows)}")
    assert(one.rows.count(_.startsWith("EnrichedClick(4,")) == 1, one.rows)
  }

  test("a checkpoint written by the two chained operators is refused on restart, with no output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = seededBatches(3L)
    val ckpt = Files.createTempDirectory("graft_papi_ckpt").toString
    val in = MemoryStream[Event]
    withStatefulStreamingSettings {
      val before = withChainCheckOff(drive(chainedApply(15, 5, "20 seconds"), data.take(4), in, ckpt))
      assert(before.rows.nonEmpty)
      val emitted = mutable.ArrayBuffer.empty[String]
      val q = ProcessorApiJoin(in.toDS(), 15, 5, "20 seconds").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: Dataset[EnrichedClick], _: Long) =>
          val rows = df.collect().map(_.toString)
          emitted.synchronized(emitted ++= rows)
          ()
        }
        .start()
      val error =
        try intercept[StreamingQueryException] {
            in.addData(data(4))
            q.processAllAvailable()
          }
        finally q.stop()
      assert(error.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"), error.getMessage)
      assert(emitted.isEmpty, s"the restart emitted ${emitted.size} rows")
    }
  }

  // --- state retention: the property that keeps per-key state bounded at
  // any input volume (reference bounds its stores the same way via
  // persistentWindowStore retention, ClickstreamJoinExample.scala:272-301)

  private val joinMs = 15000L
  private val dedupMs = 5000L

  test("retention: views and seenClicks below the horizon are pruned after each batch") {
    val batch1 = Seq(
      Event(1, ts(100), 1, "view", 0),
      Event(2, ts(101), 1, "click", 0),
      Event(3, ts(105), 1, "view", 0)
    )
    val (st1, _) = ProcessorApiJoin.advance(1L, ProcessorApiJoin.JoinState(Nil, Map.empty, 0L), batch1, joinMs, dedupMs)
    assert(st1.views.map(_._1).toSet == Set(1L, 3L)) // both inside the 15s horizon
    assert(st1.seenClicks.keySet == Set(2L))

    // a much later batch advances maxTs far past every stored entry
    val batch2 = Seq(Event(10, ts(200), 1, "view", 0), Event(11, ts(201), 1, "click", 0))
    val (st2, _) = ProcessorApiJoin.advance(1L, st1, batch2, joinMs, dedupMs)
    assert(st2.maxTs == 201000L)
    val horizon = st2.maxTs - math.max(joinMs, dedupMs)
    assert(st2.views.forall(_._2 >= horizon), s"stale view survived: ${st2.views}")
    assert(st2.seenClicks.values.forall(_ >= horizon), s"stale click survived: ${st2.seenClicks}")
    // state SHRANK: the old view/click are gone, only the new entries remain
    assert(st2.views.map(_._1) == List(10L))
    assert(st2.seenClicks.keySet == Set(11L))
  }

  test("retention honors the watermark: a redelivered click above the watermark is still deduped") {
    // batch 1: click A at t=100s
    val (st1, out1) =
      ProcessorApiJoin.advance(1L, ProcessorApiJoin.JoinState(Nil, Map.empty, 0L),
        Seq(Event(1, ts(100), 1, "click", 0)), joinMs, dedupMs, watermarkMs = 0L)
    assert(out1.size == 1)
    // batch 2: a later view advances per-key maxTs to 120s, but the
    // WATERMARK lags at 95s — maxTs-based pruning would drop A's dedup
    // entry (horizon 105s); watermark-based pruning retains it (80s)
    val (st2, _) =
      ProcessorApiJoin.advance(1L, st1, Seq(Event(2, ts(120), 1, "view", 0)), joinMs, dedupMs,
        watermarkMs = 95000L)
    assert(st2.seenClicks.contains(1L), "dedup entry above the watermark horizon must survive")
    // batch 3: at-least-once redelivery of click A (t=100s >= watermark) — must NOT re-emit
    val (_, out3) =
      ProcessorApiJoin.advance(1L, st2, Seq(Event(1, ts(100), 1, "click", 0)), joinMs, dedupMs,
        watermarkMs = 95000L)
    assert(out3.isEmpty, s"redelivered click re-emitted: $out3")
  }

  test("retention: state size stays bounded under a long stream of batches") {
    var st = ProcessorApiJoin.JoinState(Nil, Map.empty, 0L)
    var maxViews = 0
    var maxClicks = 0
    // 200 batches, 1 view + 1 click per second — unbounded state would grow to 200+
    (0 until 200).foreach { i =>
      val t = 1000L + i * 10
      val batch = (0 until 10).flatMap { j =>
        Seq(
          Event(i * 100 + j * 2, ts(t + j), 1, "view", 0),
          Event(i * 100 + j * 2 + 1, ts(t + j), 1, "click", 0)
        )
      }
      st = ProcessorApiJoin.advance(1L, st, batch, joinMs, dedupMs)._1
      maxViews = math.max(maxViews, st.views.size)
      maxClicks = math.max(maxClicks, st.seenClicks.size)
    }
    // horizon is 15s and density is 1 view/sec → ≤ ~16 retained + in-batch 10
    assert(maxViews <= 30, s"views grew to $maxViews — retention not bounding state")
    assert(maxClicks <= 30, s"seenClicks grew to $maxClicks — retention not bounding state")
  }

  test("retention: composite-key stage-2 state prunes the dedup store and expires the view") {
    val key = ProcessorApiJoin.PvKey(1L, 10L)
    def att(id: Long, sec: Long, typ: String) =
      ProcessorApiJoin.Attributed(id, ts(sec), 1L, typ, 10L)
    val (st1, out1) = ProcessorApiJoin.joinAdvance(key,
      ProcessorApiJoin.PvJoinState(0L, viewSeen = false, Map.empty, 0L),
      Seq(att(10, 100, "view"), att(11, 105, "click")), joinMs, dedupMs)
    assert(out1.map(_.view_id) == Seq(Some(10L)))
    assert(st1.viewSeen && st1.seenClicks.keySet == Set(11L))
    // far-future batch: dedup entries below the horizon pruned, view expired
    val (st2, out2) = ProcessorApiJoin.joinAdvance(key, st1, Seq(att(12, 500, "click")), joinMs, dedupMs)
    assert(out2.map(_.view_id) == Seq(None)) // view outside the join window
    assert(!st2.viewSeen, "expired view must be dropped from state")
    assert(st2.seenClicks.keySet == Set(12L), s"stale dedup entries survived: ${st2.seenClicks}")
  }

  test("retention: composite-key stage-2 honors a lagging watermark for redelivery") {
    val key = ProcessorApiJoin.PvKey(1L, 10L)
    def att(id: Long, sec: Long, typ: String) =
      ProcessorApiJoin.Attributed(id, ts(sec), 1L, typ, 10L)
    val (st1, out1) = ProcessorApiJoin.joinAdvance(key,
      ProcessorApiJoin.PvJoinState(0L, viewSeen = false, Map.empty, 0L),
      Seq(att(10, 100, "view"), att(11, 105, "click")), joinMs, dedupMs, watermarkMs = 0L)
    assert(out1.size == 1)
    // maxTs jumps ahead but the watermark lags at 95s: the dedup entry and
    // the view (joinable by an admitted click down to 95s) must survive
    val (st2, _) = ProcessorApiJoin.joinAdvance(key, st1, Seq(att(12, 120, "click")), joinMs, dedupMs,
      watermarkMs = 95000L)
    assert(st2.seenClicks.contains(11L), "dedup entry above the watermark horizon must survive")
    assert(st2.viewSeen, "view still joinable by an admissible click must survive")
    val (_, out3) = ProcessorApiJoin.joinAdvance(key, st2, Seq(att(11, 105, "click")), joinMs, dedupMs,
      watermarkMs = 95000L)
    assert(out3.isEmpty, s"redelivered click re-emitted: $out3")
  }

  // --- attribution as a pure function

  test("attribute: views self-attribute, clicks take the latest view, ties break on event_id") {
    val batch = Seq(
      Event(10, ts(100), 1, "view", 0),
      Event(20, ts(105), 1, "view", 0),
      Event(21, ts(105), 1, "click", 0), // same ms as view 20, larger id → sees view 20
      Event(19, ts(105), 1, "click", 0), // same ms as view 20, SMALLER id → view 20 excluded, falls to view 10
      Event(30, ts(110), 1, "click", 0)
    )
    val (_, out) = ProcessorApiJoin.attribute(ProcessorApiJoin.AttributionState(Nil, 0L), batch, 15000L)
    val byId = out.map(a => a.event_id -> a.pv_id).toMap
    assert(byId(10L) == 10L && byId(20L) == 20L) // views carry their own id
    assert(byId(21L) == 20L)
    assert(byId(19L) == 10L)
    assert(byId(30L) == 20L)
  }

  test("attribute: click with no prior view gets pv_id = -1; pruning keeps output invariant") {
    val (st1, out1) = ProcessorApiJoin.attribute(ProcessorApiJoin.AttributionState(Nil, 0L),
      Seq(Event(1, ts(100), 1, "click", 0)), 15000L)
    assert(out1.head.pv_id == -1L)
    // a view, then a batch far in the future: the view is pruned…
    val (st2, _) = ProcessorApiJoin.attribute(st1, Seq(Event(2, ts(101), 1, "view", 0)), 15000L)
    val (st3, out3) = ProcessorApiJoin.attribute(st2, Seq(Event(3, ts(500), 1, "click", 0)), 15000L)
    assert(st3.views.isEmpty, s"stale views survived: ${st3.views}")
    // …and the click that would have attributed to it is outside the join
    // window anyway, so -1 vs the pruned id yields the same None downstream
    assert(out3.head.pv_id == -1L || out3.head.pv_id == 2L)
  }
}
