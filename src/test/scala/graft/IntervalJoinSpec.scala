package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{col, expr, lit, struct}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType, StructField, StructType}

import graft.streaming.StreamingOps

/** [[StreamingOps.clickstreamLeftJoin]] and
  * [[StreamingOps.clickstreamOuterJoin]] against the Spark stream-stream
  * join they replaced, kept here as the reference: the same output
  * multiset, schema and late-row drops on the same seeded micro-batches,
  * from one keyed state operator — and a checkpoint of the Spark join, or
  * one that kept the join's state as a struct rather than as bytes, is
  * refused, not resumed.
  */
class IntervalJoinSpec extends SparkSpec {
  import IntervalJoinSpec._

  private val WindowSec = 60L

  /** The Spark stream-stream join the graft operator replaced. */
  private def sparkJoin(joinType: String)(clicks: DataFrame, views: DataFrame): DataFrame =
    clicks
      .withWatermark("click_ts", "10 minutes")
      .join(
        views.withWatermark("v_ts", "10 minutes"),
        expr(s"user_id = v_user AND v_ts BETWEEN click_ts - INTERVAL $WindowSec SECONDS AND click_ts"),
        joinType
      )

  private def graftJoin(joinType: String)(clicks: DataFrame, views: DataFrame): DataFrame =
    if (joinType == "fullOuter") StreamingOps.clickstreamOuterJoin(clicks, views, WindowSec)
    else StreamingOps.clickstreamLeftJoin(clicks, views, WindowSec)

  /** Clicks and views from one stream, so one append is one micro-batch,
    * each side with a pass-through column.
    */
  private def sides(in: DataFrame): (DataFrame, DataFrame) = (
    in.where(col("click")).select(col("id").as("click_id"), col("user").as("user_id"), col("ts").as("click_ts"), col("extra").as("ref")),
    in.where(!col("click")).select(col("id").as("v_id"), col("user").as("v_user"), col("ts").as("v_ts"), col("extra").as("page"))
  )

  private case class Run(rows: Seq[String], schema: String, dropped: Long, plan: Seq[String])

  private var queries = 0

  /** Runs `join` over `batches`, one append and `processAllAvailable`
    * each, into a memory sink; `checkpoint` is reused across runs when
    * given.
    */
  private def drive(
      join: (DataFrame, DataFrame) => DataFrame,
      batches: Seq[Seq[In]],
      input: MemoryStream[In] = null,
      checkpoint: String = null
  ): Run = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = Option(input).getOrElse(MemoryStream[In])
    queries += 1
    val name = s"interval_join_$queries"
    val (clicks, views) = sides(in.toDF())
    val writer = join(clicks, views).writeStream.format("memory").queryName(name).outputMode("append")
    val q = Option(checkpoint).fold(writer)(writer.option("checkpointLocation", _)).start()
    try {
      batches.foreach { b =>
        in.addData(b)
        q.processAllAvailable()
      }
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        .collect { case p => p.getClass.getSimpleName }
      Run(
        spark.table(name).collect().map(_.toString).toSeq.sorted,
        spark.table(name).schema.json,
        q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
        plan
      )
    } finally q.stop()
  }

  private def withPartitions[T](n: Int)(body: => T): T = {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  private def withNoDataBatches[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  for (joinType <- Seq("leftOuter", "fullOuter"); noData <- Seq(true, false))
    test(s"the keyed operator gives Spark's $joinType stream-stream join output, schema and late drops (no-data batches $noData)") {
      val data = batches(seed = if (noData) 11L else 12L)
      val (reference, graft) = withStatefulStreamingSettings(withPartitions(2)(withNoDataBatches(noData) {
        (drive(sparkJoin(joinType), data), drive(graftJoin(joinType), data))
      }))
      assert(graft.schema == reference.schema)
      assert(graft.rows == reference.rows, s"only graft: ${graft.rows.diff(reference.rows)}; only Spark: ${reference.rows.diff(graft.rows)}")
      assert(graft.dropped == reference.dropped)
      assert(graft.plan.count(_ == "FlatMapGroupsWithStateExec") == 1, graft.plan)
      assert(!graft.plan.exists(_.startsWith("StreamingSymmetricHashJoin")), graft.plan)
      assert(reference.plan.exists(_.startsWith("StreamingSymmetricHashJoin")), reference.plan)
      // the data reaches every case the join distinguishes
      val matched = graft.rows.count(r => !r.startsWith("[null") && !r.endsWith(",null,null,null,null]"))
      assert(matched > 0 && graft.rows.exists(_.endsWith(",null,null,null,null]")), "no matched or no unmatched click")
      if (joinType == "fullOuter") assert(graft.rows.exists(_.startsWith("[null")), "no unmatched view")
      assert(graft.dropped > 0, "no row was past the watermark")
    }

  test("a null user matches nothing: unmatched under both joins, where Spark's full outer join pairs null users") {
    def row(click: Boolean, id: Long, user: Option[Long], ms: Long) = In(click, id, user, at(ms), "")
    val data = Seq(
      Seq(row(true, 1, Some(1), 100000), row(false, 2, None, 90000), row(true, 3, None, 100000), row(false, 4, Some(1), 95000)),
      Seq(row(true, 5, Some(2), 90 * Minute), row(false, 6, Some(2), 90 * Minute))
    )
    // (click_id, v_id) of each output row
    def run(join: (DataFrame, DataFrame) => DataFrame): Seq[String] =
      drive(join, data).rows.map { r => val f = r.stripPrefix("[").split(","); s"${f(0)}-${f(4)}" }.sorted
    val left = run(graftJoin("leftOuter"))
    assert(left == run(sparkJoin("leftOuter")))
    assert(left == Seq("1-4", "3-null", "5-6"))
    assert(run(graftJoin("fullOuter")) == Seq("1-4", "3-null", "5-6", "null-2"))
    assert(run(sparkJoin("fullOuter")) == Seq("1-4", "3-2", "5-6"))
  }

  test("per-user state holds only rows inside retention: window x rate, not stream length") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    for (outer <- Seq(false, true)) withClue(if (outer) "full outer: " else "left: ") {
      val ckpt = Files.createTempDirectory("graft_join_state").toString
      val in = MemoryStream[In]
      val (clicks, views) = sides(in.toDF())
      val join = graftJoin(if (outer) "fullOuter" else "leftOuter")(clicks, views)
      val q = join.writeStream.format("noop").option("checkpointLocation", ckpt).start()
      // rows held across all users' click and view lists, read back from
      // the checkpoint's state store and decoded by the join's codec
      val codec = StreamingOps.intervalJoinCodec(clicks.schema, views.schema)
      def held(): Long = spark.read.format("statestore").load(ckpt)
        .select("value.groupState.value")
        .collect()
        .map { r => val st = codec.decode(r.getAs[Array[Byte]](0)); st.getSeq(0).size.toLong + st.getSeq(1).size }
        .sum
      // 40 steps of 60 s event time, 10 users with a click and a view each
      // per step: 40 min of stream against a 10 min watermark + 60 s window
      val heldByStep = (0 until 40).map { step =>
        in.addData((0 until 10).flatMap { u =>
          Seq(
            In(click = false, step * 100L + u, Some(u.toLong), at(step * Minute + u * 3000L), "v"),
            In(click = true, step * 100L + 50 + u, Some(u.toLong), at(step * Minute + 30000L + u * 3000L), "c")
          )
        })
        q.processAllAvailable()
        if (step % 10 == 9) held() else -1L
      }.filter(_ >= 0)
      q.stop()
      // a click stays until the watermark (10 min behind) passes it, a view
      // 60 s longer: 11 steps of each, 10 rows a step, once it has filled
      assert(heldByStep.forall(_ <= 13 * 20), heldByStep)
      assert(heldByStep.drop(1).forall(_ >= 10 * 20), heldByStep)
      assert(heldByStep.last <= heldByStep(1), s"state still growing: $heldByStep")
    }
  }

  /** An operator shaped like [[StreamingOps.clickstreamLeftJoin]], the
    * same union of both sides keyed by user, whose state is stored with
    * Spark's struct-of-lists encoder instead of as bytes: each user's
    * clicks and views, unmatched. It emits nothing.
    */
  private def structStateJoin(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", "10 minutes")
    val v = views.withWatermark("v_ts", "10 minutes")
    val sides = c
      .select(col("user_id").as("key"), col("click_ts").as("time"), struct(col("*")).as("click"), lit(null).cast(v.schema).as("view"))
      .union(v.select(col("v_user").as("key"), col("v_ts").as("time"), lit(null).cast(c.schema).as("click"), struct(col("*")).as("view")))
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
    val stateType = StructType(
      Seq(StructField("clicks", pending(c.schema), nullable = false), StructField("views", pending(v.schema), nullable = false))
    )
    val outType = StructType(c.schema.fields ++ v.schema.fields.map(_.copy(nullable = true)))
    sides
      .groupBy(col("key"))
      .as[Row, Row](Encoders.row(sides.select("key").schema), Encoders.row(sides.schema))
      .flatMapGroupsWithState[Row, Row](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val timed = rows.filter(!_.isNullAt(1)).toSeq
          def side(i: Int) = state.getOption.fold(Seq.empty[Row])(_.getSeq[Row](i - 2)) ++
            timed.filter(!_.isNullAt(i)).map(r => Row(DateTimeUtils.anyToMicros(r.get(1)), false, r.getStruct(i)))
          state.update(Row(side(2), side(3)))
          state.setTimeoutTimestamp(T0 + 24 * 60 * Minute)
          Iterator.empty
      }(Encoders.row(stateType), Encoders.row(outType))
  }

  /** Writes a checkpoint with `old` over four seeded batches, then
    * restarts [[StreamingOps.clickstreamLeftJoin]] on it with one more;
    * returns the first run, the restart's error and what it emitted.
    */
  private def restartLeftJoin(old: (DataFrame, DataFrame) => DataFrame): (Run, StreamingQueryException, Seq[String]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = batches(seed = 13L)
    val ckpt = Files.createTempDirectory("graft_join_ckpt").toString
    val in = MemoryStream[In]
    withStatefulStreamingSettings(withPartitions(2) {
      val before = drive(old, data.take(4), in, ckpt)
      val emitted = mutable.ArrayBuffer.empty[String]
      val (clicks, views) = sides(in.toDF())
      val q: StreamingQuery = StreamingOps
        .clickstreamLeftJoin(clicks, views, WindowSec)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
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
      (before, error, emitted.toSeq)
    })
  }

  test("a checkpoint written by the Spark stream-stream join is refused, with no output") {
    val (before, error, emitted) = restartLeftJoin(sparkJoin("leftOuter"))
    assert(before.rows.nonEmpty)
    assert(error.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"), error.getMessage)
    assert(emitted.isEmpty, s"the restart emitted ${emitted.size} rows")
  }

  test("a checkpoint whose join state is a struct of lists, not bytes, is refused, with no output") {
    val (before, error, emitted) = restartLeftJoin(structStateJoin)
    assert(before.rows.isEmpty && before.plan.count(_ == "FlatMapGroupsWithStateExec") == 1, before)
    assert(error.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), error.getMessage)
    assert(emitted.isEmpty, s"the restart emitted ${emitted.size} rows")
  }
}

object IntervalJoinSpec {

  /** One row of the combined click/view stream. */
  case class In(click: Boolean, id: Long, user: Option[Long], ts: Timestamp, extra: String)

  private val T0 = 1700000000000L

  private val Minute = 60000L

  /** `ms` after the start of the stream, plus `us` microseconds. */
  private def at(ms: Long, us: Int = 0): Timestamp = {
    val t = new Timestamp(T0 + ms)
    t.setNanos(t.getNanos + us * 1000)
    t
  }

  /** 12 seeded micro-batches, 150 s of event time apart, against the
    * 10-minute watermark and a 60 s window, then two far-future batches
    * that close every window. Each batch holds:
    *   - an anchor click at the batch's time, so the watermark after it
    *     is exactly 10 minutes earlier;
    *   - clicks and views up to 14 minutes old, so some arrive out of
    *     order within the watermark and some past it, over 4 users;
    *   - for an earlier click, views at exactly `click_ts - W` and
    *     `click_ts`, just outside both bounds, and a second in-window
    *     view, arriving after the click;
    *   - rows at and within a millisecond of the previous anchor's
    *     watermark and view retention bound, sub-millisecond ones too;
    *   - redelivered copies of earlier rows.
    */
  def batches(seed: Long): Seq[Seq[In]] = {
    val rnd = new Random(seed)
    var id = 0L
    val seen = mutable.ArrayBuffer.empty[In]
    def row(click: Boolean, user: Long, ts: Timestamp): In = {
      id += 1
      In(click, id, Some(user), ts, s"${if (click) "ref" else "page"}$id")
    }
    val window = 60000L
    val live = (0 until 12).map { b =>
      val now = 15 * Minute + b * 150000L
      val watermark = now - 150000L - 10 * Minute
      val out = mutable.ArrayBuffer.empty[In]
      out += row(click = true, rnd.nextInt(4).toLong, at(now))
      for (_ <- 0 until 8) out += row(rnd.nextBoolean(), rnd.nextInt(4).toLong, at(now - rnd.nextInt(14 * 60000), rnd.nextInt(1000)))
      seen.filter(_.click).lastOption.foreach { c =>
        val ms = c.ts.getTime - T0
        Seq(-window, 0L, -window - 1, 1L, -window / 2).foreach(d => out += row(click = false, c.user.get, at(ms + d)))
      }
      for (d <- Seq(-1L, 0L, 1L); us <- Seq(0, 500)) {
        out += row(click = true, rnd.nextInt(4).toLong, at(watermark + d, us))
        out += row(click = false, rnd.nextInt(4).toLong, at(watermark - window + d, us))
      }
      if (seen.nonEmpty) for (_ <- 0 until 3) out += seen(rnd.nextInt(seen.size))
      seen ++= out
      rnd.shuffle(out.toSeq)
    }
    val end = 15 * Minute + 12 * 150000L + 60 * Minute
    live ++ Seq(
      Seq(In(click = true, 90001L, Some(99L), at(end), "flush"), In(click = false, 90002L, Some(99L), at(end), "flush")),
      Seq(
        In(click = true, 90003L, Some(99L), at(end + 60 * Minute), "flush"),
        In(click = false, 90004L, Some(99L), at(end + 60 * Minute), "flush")
      )
    )
  }
}
