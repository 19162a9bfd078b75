package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.streaming.{ProcessorApiJoin, StateBytes, StreamingOps}
import graft.streaming.ProcessorApiJoin.JoinState
import graft.streaming.StreamingOps._

/** [[StateBytes]]: a state value comes back as it went in, and the
  * operators that keep their state through it compile no state code
  * once warm — Spark's own per-batch state deserializer of a collection
  * would compile again in every micro-batch.
  */
class StateBytesSpec extends SparkSpec {
  import StateBytesSpec._

  private def roundTrip[S](codec: StateBytes[S], values: S*): Unit =
    values.foreach(v => assert(codec.decode(codec.encode(v)) == v))

  /** The codec as a task receives it: Java-serialized in its closure. */
  private def shipped[S](codec: StateBytes[S]): StateBytes[S] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(codec)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[StateBytes[S]]
  }

  test("a state value decodes to what was encoded: case classes, tuples, lists, maps, sets and rows") {
    import spark.implicits._
    roundTrip(StateBytes[JoinState], JoinState(Nil, Map.empty, 0L), JoinState(List((1L, 2L), (3L, -4L)), Map(5L -> 6L, 7L -> 8L), 9L))
    roundTrip(StateBytes[(Set[Long], Set[String])], (Set.empty[Long], Set.empty[String]), (Set(1L, 2L), Set("a", "b")))
    roundTrip(StateBytes[(Long, Long, Map[String, Long])], (3L, 4L, Map("x" -> 1L, "y" -> 2L)))
    roundTrip(StateBytes[(Long, Seq[(Double, Long, Long)])], (1L, Seq((0.5, 2L, 3L), (0.25, 4L, 5L))))
    val clicks = new StructType().add("click_id", LongType).add("user_id", LongType).add("click_ts", TimestampType)
    val views = new StructType().add("v_id", LongType).add("v_user", LongType).add("page", StringType)
    val join = StreamingOps.intervalJoinCodec(clicks, views)
    val state = Row(
      Seq(Row(1000L, true, Row(1L, 2L, new Timestamp(1L))), Row(2000L, false, Row(3L, null, null))),
      Seq(Row(500L, false, Row(4L, 2L, "home")))
    )
    roundTrip(join, state, Row(Nil, Nil))
    // a copy shipped to a task decodes what the driver's copy encoded
    assert(shipped(join).decode(join.encode(state)) == state)
    // encoding twice returns distinct arrays, never a reused buffer
    val a = join.encode(state)
    val b = join.encode(Row(Nil, Nil))
    assert(join.decode(a) == state && !(a eq b))
  }

  /** Runs `op` over `batches`, one append and `processAllAvailable`
    * each, and returns the classes Janino compiled for each append.
    */
  private def compilesPerAppend[T: Encoder](op: DataFrame => DataFrame, mode: String, batches: Seq[Seq[T]]): Seq[Long] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[T]
    val q = op(in.toDF()).writeStream
      .format("noop")
      .outputMode(mode)
      .option("checkpointLocation", Files.createTempDirectory("graft_state_bytes").toString)
      .start()
    try batches.map { b =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      in.addData(b)
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    } finally q.stop()
  }

  /** 7 appends of 12 rows, `row(append, i)`. */
  private def appends[T](row: (Int, Int) => T): Seq[Seq[T]] = (0 until 7).map(a => (0 until 12).map(i => row(a, i)))

  /** Events of 4 users, each append 20 minutes of event time on from
    * the last, so the watermark advances and earlier state times out.
    */
  private val events = appends { (a, i) =>
    Event(a * 1000L + i, new Timestamp(T0 + a * 20 * Minute + i * 1000L), i % 4, if (i % 3 == 0) "view" else "click", 1.0)
  }

  test("once warm, an append compiles at most the watermark predicate of each event-time stateful operator, and nothing without one") {
    import spark.implicits._
    // (name, event-time stateful operators, compiles of each append)
    val runs: Seq[(String, Int, Seq[Long])] = withStatefulStreamingSettings {
      Seq(
        ("firstWinsDedup", 1, compilesPerAppend[Event](df => firstWinsDedup(df.as[Event], windowSec = 60).toDF(), "append", events)),
        ("clickstreamLeftJoin", 1, compilesPerAppend[Event](
          { df =>
            val clicks = df.where(col("event_type") === "click").select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
            val views = df.where(col("event_type") === "view").select(col("event_id").as("v_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
            clickstreamLeftJoin(clicks, views, joinWindowSec = 60)
          },
          "append",
          events
        )),
        ("ProcessorApiJoin.userKeyed", 1, compilesPerAppend[Event](df => ProcessorApiJoin.userKeyed(df.as[Event]).toDF(), "append", events)),
        ("ProcessorApiJoin.apply", 1, compilesPerAppend[Event](df => ProcessorApiJoin(df.as[Event]).toDF(), "append", events)),
        ("streamingDomainQuota", 0, compilesPerAppend[DocRow](
          df => streamingDomainQuota(df.as[DocRow], k = 3).toDF(), "update",
          appends((a, i) => DocRow(a * 100L + i, s"s${i % 4}", (a * 7 + i) % 11))
        )),
        ("streamingHeavyHitters", 0, compilesPerAppend[TokenOcc](
          df => streamingHeavyHitters(df.as[TokenOcc], capacity = 3).toDF(), "update",
          appends((a, i) => TokenOcc(s"k${i % 4}", s"t${(a + i) % 5}"))
        )),
        ("streamingWeightedSample", 0, compilesPerAppend[WeightedDocRow](
          df => streamingWeightedSample(df.as[WeightedDocRow], k = 3).toDF(), "update",
          appends((a, i) => WeightedDocRow(a * 100L + i, s"l${i % 4}", 1L + i, ((a * 13 + i * 7) % 17) / 17.0))
        )),
        ("streamingPrefixDedup", 0, compilesPerAppend[HeadRow](
          df => streamingPrefixDedup(df.as[HeadRow]).toDF(), "update",
          appends((a, i) => HeadRow(a * 100L + i, s"h${i % 4}", s"f${(a + i) % 3}"))
        ))
      )
    }
    info(runs.map { case (name, _, counts) => s"$name ${counts.mkString(",")}" }.mkString("; "))
    // two appends warm up: the first compiles the plan, the second the
    // paths that only stored state takes
    val over = runs.filter { case (_, bound, counts) => counts.drop(2).exists(_ > bound) }
    assert(over.isEmpty, s"(operator, bound, compiles per append): ${over.mkString("; ")}")
  }
}

object StateBytesSpec {

  private val T0 = 1700000000000L

  private val Minute = 60000L
}
