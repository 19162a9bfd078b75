package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.GraftSession
import graft.streaming.{ProcessorApiJoin, StreamingOps}
import graft.streaming.StreamingOps.Event

/** Streaming throughput benchmark — the performance number the
  * reference topologies are actually deployed for (the semantic
  * contract lives in StreamingSpec/ProcessorApiJoinSpec; this main
  * publishes rows/sec, per-batch latency and peak state size).
  *
  * Method: the events table (ts-sorted — a topic replay arrives in
  * rough event-time order) is fed through MemoryStream in N equal
  * chunks, one `processAllAvailable()` per chunk, so every topology
  * sees the identical arrival schedule and each chunk is (at least)
  * one micro-batch with real watermark advance and state
  * expiry between chunks. Sink is noop — the number measures the
  * topology, not a collector. Per topology: total wall seconds over
  * all chunks, rows_in/sec, p50 of triggerExecution ms across
  * batches, and the PEAK state-store row count (the bounded-state
  * claim made measurable: dedup/join state must plateau under
  * retention, not grow with rows seen).
  *
  * Prints ONE JSON line, BASELINE.md §"streaming throughput" records
  * the quiet-run numbers.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32
  *   runMain graft.StreamBench [chunks]
  */
object StreamBench {

  case class TopoResult(
      name: String,
      rowsIn: Long,
      sec: Double,
      batches: Int,
      p50BatchMs: Long,
      maxStateRows: Long
  ) {
    def json: String = {
      val rps = if (sec > 0) rowsIn / sec else -1.0
      s""""$name":{"rows_in":$rowsIn,"sec":${f"$sec%.3f"},"rows_per_sec":${f"$rps%.0f"},""" +
        s""""batches":$batches,"p50_batch_ms":$p50BatchMs,"max_state_rows":$maxStateRows}"""
    }
  }

  /** Feed chunks through the query (started by `start` AFTER the first
    * chunk is queued, so the first batch has data) and collect the
    * progress metrics.
    */
  private def drive[T](
      name: String,
      chunks: Seq[Seq[T]],
      stream: MemoryStream[T],
      start: () => StreamingQuery
  ): TopoResult = {
    val t0 = System.nanoTime()
    val q = start()
    chunks.foreach { c =>
      stream.addData(c)
      q.processAllAvailable()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    val batchMs = progs
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      .sorted
    val maxState = progs
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
      .foldLeft(0L)(math.max)
    q.stop()
    TopoResult(
      name,
      chunks.map(_.size.toLong).sum,
      sec,
      progs.length,
      if (batchMs.nonEmpty) batchMs(batchMs.length / 2) else -1L,
      maxState
    )
  }

  private def noopSink(df: DataFrame): StreamingQuery =
    df.writeStream
      .format("noop")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_sbench_ckpt").toString)
      .start()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val nChunks = args.headOption.map(_.toInt).getOrElse(20)
    val spark: SparkSession = GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the replay corpus: ts-ordered events, collected once (driver-held
    // replay is the harness, not the operator — a production run reads
    // the topic; the topologies under test never see the driver array)
    val events: Array[Event] = graft.sources.Tables
      .events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    def chunked[T](xs: Array[T]): Seq[Seq[T]] = {
      val size = math.max(1, math.ceil(xs.length.toDouble / nChunks).toInt)
      xs.grouped(size).map(_.toSeq).toSeq
    }
    val eventChunks = chunked(events)

    // the round-11 deployment rule, applied: streaming shuffle
    // partitions follow per-batch volume, not cores (state-store
    // commits are per partition per batch — see GraftSession scaladoc;
    // the batch replay collect above already ran on the cores-sized
    // default)
    val rowsPerBatch = math.max(1, math.ceil(events.length.toDouble / nChunks).toLong)
    val streamParts = GraftSession.streamingShufflePartitions(rowsPerBatch, cpus)
    // the streaming-sized setting is scoped to this bench: restore the
    // caller's value afterwards, or a batch query run later on the
    // shared session would silently inherit a 2-partition shuffle
    val priorShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", streamParts.toString)

    val results = scala.collection.mutable.ArrayBuffer.empty[TopoResult]
    // a drive that throws must not leave the shared session at the
    // streaming-sized shuffle setting for whoever reuses it
    try {

      // 1. windowed first-wins dedup (DeduplicationExample topology)
      locally {
        val in = MemoryStream[Event]
        results += drive(
          "first_wins_dedup",
          eventChunks,
          in,
          () => noopSink(StreamingOps.firstWinsDedup(in.toDS(), windowSec = 900).toDF())
        )
      }

      // 2. tumbling windowed counts + exact money sum
      locally {
        val in = MemoryStream[Event]
        results += drive(
          "windowed_counts",
          eventChunks,
          in,
          () => noopSink(StreamingOps.windowedCounts(in.toDS().toDF(), "15 minutes", "10 minutes"))
        )
      }

      // 3. stream-stream interval LEFT join (clickstream enrich): clicks
      // against views, both legs replayed on the same schedule. The
      // view leg rides a second MemoryStream fed in lockstep (chunk i of
      // both legs before each processAllAvailable).
      locally {
        val clicks = MemoryStream[(Long, Long, Timestamp)]
        val views = MemoryStream[(Long, Long, Timestamp)]
        val clickChunks = chunked(
          events.collect { case e if e.event_type == "click" => (e.event_id, e.user_id, e.ts) }
        )
        val viewChunks = chunked(
          events.collect { case e if e.event_type == "view" => (e.event_id, e.user_id, e.ts) }
        )
        val t0 = System.nanoTime()
        val q = noopSink(
          StreamingOps.clickstreamLeftJoin(
            clicks.toDS().toDF("click_id", "user_id", "click_ts"),
            views.toDS().toDF("v_id", "v_user", "v_ts"),
            joinWindowSec = 600
          )
        )
        clickChunks.zipAll(viewChunks, Seq.empty, Seq.empty).foreach { case (c, v) =>
          if (c.nonEmpty) clicks.addData(c)
          if (v.nonEmpty) views.addData(v)
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val progs = q.recentProgress.filter(_.numInputRows > 0)
        val batchMs = progs.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong)).sorted
        val maxState = progs.flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal)).foldLeft(0L)(math.max)
        q.stop()
        results += TopoResult(
          "interval_left_join",
          (clickChunks.map(_.size.toLong) ++ viewChunks.map(_.size.toLong)).sum,
          sec,
          progs.length,
          if (batchMs.nonEmpty) batchMs(batchMs.length / 2) else -1L,
          maxState
        )
      }

      // 4. Processor-API composite-key topology (attribution, then the
      // (user, pv) join + dedup — the reference's PvKey/EvPvKey stores —
      // in one user-keyed operator)
      locally {
        val in = MemoryStream[Event]
        results += drive(
          "processor_api_join",
          eventChunks,
          in,
          () => noopSink(ProcessorApiJoin(in.toDS(), joinWindowSec = 600, dedupWindowSec = 60).toDF())
        )
      }

    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", priorShufflePartitions)
    }

    val topoJson = results.map(_.json).mkString("{", ",", "}")
    println(
      s"""{"metric":"stream_throughput","unit":"rows_per_sec","sf":"$sfDir","cpus":$cpus,"chunks":$nChunks,"stream_partitions":$streamParts,"topologies":$topoJson}"""
    )
  }
}
