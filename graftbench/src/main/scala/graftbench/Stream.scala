package graftbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.core.GraftSession
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** A click or a view, as the join topology's single input stream carries them. */
final case class Tagged(click: Boolean, id: Long, user: Long, ts: Timestamp)

/** The stream replay: the events table in event-time order.
  *
  * The dedup topology receives every event plus a seeded share of
  * redelivered copies. A copy follows its original by up to
  * [[Replay.MaxRedeliveryGap]] events, and never by more than
  * [[Replay.MaxRedeliverySec]] of event time, well inside the 30-minute
  * watermark delay: no copy is dropped as late, and first-wins output
  * does not depend on where micro-batches split the input. The join
  * topology receives the click and view events, without copies, on one
  * stream, so that one append is one offset for both sides.
  */
final class Replay(events: Array[Event], seed: Long) {
  import Replay._

  val dedupInput: Array[Event] = {
    val rnd = new scala.util.Random(seed)
    val after = mutable.Map.empty[Int, List[Event]].withDefaultValue(Nil)
    for (i <- events.indices if rnd.nextDouble() < RedeliveredShare) {
      var j = math.min(events.length - 1, i + 1 + rnd.nextInt(MaxRedeliveryGap))
      while (j > i && events(j).ts.getTime - events(i).ts.getTime > MaxRedeliverySec * 1000) j -= 1
      after(j) = events(i) :: after(j)
    }
    events.indices.flatMap(i => events(i) +: after(i).reverse).toArray
  }

  val joinInput: Array[Tagged] = events.collect {
    case e if e.event_type == "click" || e.event_type == "view" => Tagged(e.event_type == "click", e.event_id, e.user_id, e.ts)
  }
}

object Replay {
  val RedeliveredShare = 0.05
  val MaxRedeliveryGap = 8
  val MaxRedeliverySec = 600L

  def load(spark: SparkSession, dataDir: String, limit: Int, seed: Long): Replay = {
    import spark.implicits._
    val events = graft.sources.Tables
      .events(spark, dataDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
      .take(limit)
    new Replay(events, seed)
  }
}

/** How one topology is driven: a priming append that absorbs query
  * start-up, `warmChunks` untimed and then `chunks` timed closed-loop
  * appends of `chunkRows` rows, then the rest of the replay offered open
  * loop at `rate` rows/s.
  */
final case class LegPlan(primeRows: Int, warmChunks: Int, chunks: Int, chunkRows: Int, rate: Double)

/** What one topology's run measured. */
final case class LegResult(
    topology: String,
    closedRows: Long,
    chunkS: Seq[Double],
    closedBatches: Seq[StreamingQueryProgress],
    openBatches: Seq[StreamingQueryProgress],
    progress: Seq[StreamingQueryProgress],
    output: Fingerprint,
    lagsMs: Seq[Double],
    backlogMax: Long,
    generatorLateMs: Double
)

object Stream {

  val Topologies = Seq("dedup", "join")

  private var queries = 0

  private val TickMs = 50.0

  private val FlushTime = Timestamp.valueOf("2100-01-01 00:00:00").getTime

  /** Starts `topology` on a MemoryStream, writing to a memory sink;
    * returns the query, the input stream, and the sink's table name.
    */
  private def start(spark: SparkSession, topology: String, tmp: String): (StreamingQuery, MemoryStream[Any], String) = {
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    queries += 1
    val name = s"${topology}_$queries"
    def sink(df: DataFrame): StreamingQuery =
      df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/checkpoints/$name")
        .start()
    topology match {
      case "dedup" =>
        val in = MemoryStream[Event]
        (sink(StreamingOps.firstWinsDedup(in.toDS(), windowSec = 900).toDF()), in.asInstanceOf[MemoryStream[Any]], name)
      case "join" =>
        val in = MemoryStream[Tagged]
        val tagged = in.toDF()
        val clicks = tagged.where(col("click")).select(col("id").as("click_id"), col("user").as("user_id"), col("ts").as("click_ts"))
        val views = tagged.where(!col("click")).select(col("id").as("v_id"), col("user").as("v_user"), col("ts").as("v_ts"))
        (sink(StreamingOps.clickstreamLeftJoin(clicks, views, joinWindowSec = 600)), in.asInstanceOf[MemoryStream[Any]], name)
    }
  }

  /** Runs one topology over the replay as `plan` says and returns what
    * it measured, with the fingerprint of the sink's output.
    * `beforeChunk(i)` runs before timed closed-loop chunk i is appended.
    */
  def run(
      spark: SparkSession,
      replay: Replay,
      topology: String,
      plan: LegPlan,
      cpus: Int,
      tmp: String,
      beforeChunk: Int => Unit
  ): LegResult = {
    val input: Seq[Any] = if (topology == "dedup") replay.dedupInput.toSeq else replay.joinInput.toSeq
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    // the library's deployment rule: partitions follow per-batch volume
    spark.conf.set("spark.sql.shuffle.partitions", GraftSession.streamingShufflePartitions(plan.chunkRows, cpus).toString)
    val (query, in, name) =
      try start(spark, topology, tmp)
      finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    var last = -1L // offset of the latest append
    def append(rows: Seq[Any]): Long = { last = in.addData(rows).json().toLong; last }
    try {
      var at = 0
      def next(n: Int): Seq[Any] = { val rows = input.slice(at, at + math.min(n, input.size - at)); at += rows.size; rows }

      append(next(plan.primeRows))
      query.processAllAvailable()
      // JIT warm-up of this topology's micro-batch path
      for (_ <- 0 until plan.warmChunks) {
        append(next(plan.chunkRows))
        query.processAllAvailable()
      }
      val primed = last

      val closedFrom = at
      val chunkS = (0 until plan.chunks).map { i =>
        beforeChunk(i)
        val t0 = System.nanoTime()
        append(next(plan.chunkRows))
        query.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      val closedEnd = last
      val closedRows = at - closedFrom

      // open loop: one generator thread appends the rest on a fixed schedule
      val open = next(input.size - at)
      val appends = mutable.ArrayBuffer.empty[(Int, Int, Long, Double)] // rows [from, until), offset, append ms
      val t0Ns = System.nanoTime()
      val t0Ms = System.currentTimeMillis().toDouble
      def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
      def schedMs(i: Int): Double = t0Ms + i * 1000.0 / plan.rate
      var late = 0.0
      // the rows due at each tick go out in one append, as from a producer
      // that flushes every TickMs: each append is one MemoryStream offset
      // and one input partition of the batch that reads it
      val generator = new Thread(() => {
        var sent = 0
        while (sent < open.size) {
          val now = nowMs()
          val due = math.min(open.size, math.floor((now - t0Ms) * plan.rate / 1000.0).toInt + 1)
          if (due > sent) {
            val offset = append(open.slice(sent, due))
            val done = nowMs()
            late = math.max(late, done - schedMs(sent))
            appends += ((sent, due, offset, done))
            sent = due
          }
          LockSupport.parkNanos((TickMs * 1e6).toLong)
        }
      }, "graftbench-generator")
      generator.start()
      generator.join()
      query.processAllAvailable()
      val openEnd = last

      // far-future rows that move the watermark past the replay: the
      // first sets the watermark, the batch of the second runs under it
      // and emits what the replay still holds
      if (topology == "join") for (k <- 1 to 2) {
        val ts = new Timestamp(FlushTime + k * 1000L)
        append(Seq(Tagged(click = true, -k, -k, ts), Tagged(click = false, -k, -k, ts)))
        query.processAllAvailable()
      }
      query.stop()
      def endOffset(p: StreamingQueryProgress): Long = Option(p.sources.head.endOffset).fold(-1L)(_.toLong)
      val progress = query.recentProgress.toSeq.filter(p => p.numInputRows > 0 && endOffset(p) <= openEnd).sortBy(_.batchId)
      val output = if (topology == "join") spark.table(name).where(col("click_id") >= 0) else spark.table(name)
      val fingerprint = Fingerprint.of(output)

      val closedBatches = progress.filter(p => endOffset(p) > primed && endOffset(p) <= closedEnd)
      val openBatches = progress.filter(p => endOffset(p) > closedEnd && endOffset(p) <= openEnd)
      val ends = openBatches.map { p =>
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        (start, start + p.durationMs.get("triggerExecution").toDouble, endOffset(p), p.numInputRows)
      }
      // a row's lag: from its scheduled send time to the end of the batch that consumed it
      val lags = appends.toSeq.flatMap { case (from, until, offset, _) =>
        ends.find(_._3 >= offset).toSeq.flatMap(b => (from until until).map(i => b._2 - schedMs(i)))
      }
      // rows offered by each batch's start, minus rows consumed before it
      val backlogMax = ends
        .foldLeft((0L, 0L)) { case ((max, consumed), (start, _, _, n)) =>
          val offered = appends.filter(_._4 <= start).map(a => (a._2 - a._1).toLong).sum
          (math.max(max, offered - consumed), consumed + n)
        }
        ._1
      LegResult(topology, closedRows.toLong, chunkS, closedBatches, openBatches, progress, fingerprint, lags, backlogMax, late)
    } finally {
      if (query.isActive) query.stop()
      spark.catalog.dropTempView(name)
    }
  }
}
