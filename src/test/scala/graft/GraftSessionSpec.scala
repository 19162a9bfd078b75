package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.GraftSession
import graft.streaming.{ProcessorApiJoin, StreamingOps}
import graft.streaming.StreamingOps.Event

/** The stateful-streaming settings of [[GraftSession]]: a reused session
  * gets all of them, and under them the reference topologies give the
  * same output whether or not the query stops and restarts from its
  * checkpoint at every batch boundary, including a checkpoint written
  * before changelog checkpointing was on.
  */
class GraftSessionSpec extends SparkSpec {
  import GraftSessionSpec.Tagged

  private val Changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  test("a reused session reports every stateful streaming setting") {
    val conf = spark.conf.getAll
    val hadoop = spark.sparkContext.hadoopConfiguration
    val fsKeys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val fsPrior = fsKeys.map(k => k -> Option(hadoop.get(k)))
    val (strategies, optimizations) = (spark.experimental.extraStrategies, spark.experimental.extraOptimizations)
    try {
      val reused = GraftSession.getOrCreate()
      assert(reused eq spark)
      val newHadoopConf = reused.sessionState.newHadoopConf()
      GraftSession.StatefulStreamingSettings.foreach {
        case (k, v) if k.startsWith("spark.hadoop.") =>
          assert(reused.sparkContext.hadoopConfiguration.get(k.stripPrefix("spark.hadoop.")) == v, k)
          assert(newHadoopConf.get(k.stripPrefix("spark.hadoop.")) == v, k)
        case (k, v) => assert(reused.conf.get(k) == v, k)
      }
      assert(GraftSession.StatefulStreamingSettings.map(_._1).toSet == Set(
        "spark.sql.streaming.stateStore.providerClass",
        Changelog,
        "spark.hadoop.fs.file.impl",
        "spark.hadoop.fs.AbstractFileSystem.file.impl"
      ))
    } finally {
      // give the rest of the suite back the session it was built with
      spark.conf.getAll.foreach { case (k, v) =>
        if (!conf.get(k).contains(v) && spark.conf.isModifiable(k))
          conf.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      fsPrior.foreach { case (k, v) => v.fold(hadoop.unset(k))(hadoop.set(k, _)) }
      spark.experimental.extraStrategies = strategies
      spark.experimental.extraOptimizations = optimizations
    }
  }

  /** Runs `topology` over `chunks`, one append per chunk, into a
    * `foreachBatch` sink keyed by batch id (a replayed batch replaces
    * its first attempt), and returns the output rows as a sorted
    * multiset. The query starts, from the same checkpoint, before every
    * chunk index in `starts` (which holds 0); `changelog(i)` is the
    * changelog setting of the start before chunk i.
    */
  private def run[T: Encoder](
      chunks: Seq[Seq[T]],
      topology: Dataset[T] => DataFrame,
      starts: Set[Int],
      changelog: Int => Boolean = _ => true
  ): (Seq[String], String) = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    val input = MemoryStream[T]
    val out = mutable.Map.empty[Long, Seq[String]]
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect().map(_.toString).toSeq
      out.synchronized(out(id) = rows)
    }
    def start() = topology(input.toDS()).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink)
      .start()
    withStatefulStreamingSettings {
      val prior = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        var q: StreamingQuery = null
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          if (starts(i)) {
            if (q != null) q.stop()
            spark.conf.set(Changelog, changelog(i).toString)
            q = start()
          }
          input.addData(chunk)
          q.processAllAvailable()
        }
        q.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    }
    (out.values.flatten.toSeq.sorted, ckpt)
  }

  private def ts(sec: Long): Timestamp = new Timestamp(1700000000000L + sec * 1000L)

  /** 8 chunks of 40 events, 7 users × 2 types, 20 s apart, every 5th a
    * redelivered copy of an event up to 6 positions back, then a
    * far-future event that closes every window.
    */
  private val dedupChunks: Seq[Seq[Event]] = {
    val events = (0 until 320).map { i =>
      val j = if (i % 5 == 4) i - 1 - i / 5 % 6 else i
      Event(j.toLong, ts(j * 20L), (j % 7).toLong, if (j % 3 == 0) "click" else "view", j.toDouble)
    }
    events.grouped(40).toSeq :+ Seq(Event(9999L, ts(1000000L), 0L, "click", 0.0))
  }

  /** Clicks and views on one stream, so one append is one offset: 8
    * chunks of 30, 5 users, 30 s apart, a third of them clicks, then a
    * far-future click and view that flush the unmatched clicks.
    */
  private val joinChunks: Seq[Seq[Tagged]] = {
    val rows = (0 until 240).map(i => Tagged(i.toLong, (i % 5).toLong, ts(i * 30L), i % 3 == 0))
    rows.grouped(30).toSeq :+ Seq(Tagged(9998L, 0L, ts(1000000L), click = false), Tagged(9999L, 0L, ts(1000000L), click = true))
  }

  private def dedup(ds: Dataset[Event]): DataFrame = StreamingOps.firstWinsDedup(ds, windowSec = 900).toDF()

  private def join(ds: Dataset[Tagged]): DataFrame = {
    val tagged = ds.toDF()
    val clicks = tagged.where(col("click")).select(col("id").as("click_id"), col("user").as("user_id"), col("ts").as("click_ts"))
    val views = tagged.where(!col("click")).select(col("id").as("v_id"), col("user").as("v_user"), col("ts").as("v_ts"))
    StreamingOps.clickstreamLeftJoin(clicks, views, joinWindowSec = 600)
  }

  private def checkRestarts[T: Encoder](chunks: Seq[Seq[T]], topology: Dataset[T] => DataFrame): Seq[String] = {
    val (uninterrupted, _) = run(chunks, topology, starts = Set(0))
    val (restarted, _) = run(chunks, topology, starts = chunks.indices.toSet)
    assert(restarted == uninterrupted, s"restarted ${restarted.size} rows vs ${uninterrupted.size}")
    uninterrupted
  }

  test("firstWinsDedup gives the same output when stopped and restarted at every batch boundary") {
    import spark.implicits._
    val out = checkRestarts(dedupChunks, dedup)
    val distinctInput = dedupChunks.flatten.map(_.event_id).distinct.size
    assert(out.nonEmpty && out.size < distinctInput, s"${out.size} rows of $distinctInput distinct events")
  }

  test("clickstreamLeftJoin gives the same output when stopped and restarted at every batch boundary") {
    import spark.implicits._
    val out = checkRestarts(joinChunks, join)
    assert(out.exists(_.endsWith(",null,null,null]")), "no unmatched click was emitted")
    assert(out.exists(!_.endsWith(",null,null,null]")), "no click matched a view")
  }

  test("ProcessorApiJoin gives the same output when stopped and restarted at every batch boundary") {
    import spark.implicits._
    val out = checkRestarts(dedupChunks, (ds: Dataset[Event]) => ProcessorApiJoin(ds, joinWindowSec = 600, dedupWindowSec = 60).toDF())
    assert(out.exists(_.endsWith(",null,null]")), "no unmatched click was emitted")
    assert(out.exists(!_.endsWith(",null,null]")), "no click matched a view")
  }

  /** Writes the first half of the checkpoint with changelog
    * checkpointing off and resumes with it on; the output is the
    * uninterrupted run's, and the state directory holds RocksDB
    * snapshots from the first run and changelog files from the second.
    */
  private def checkChangelogSwitch[T: Encoder](chunks: Seq[Seq[T]], topology: Dataset[T] => DataFrame): Unit = {
    val (uninterrupted, _) = run(chunks, topology, starts = Set(0))
    val (switched, ckpt) = run(chunks, topology, starts = Set(0, 4), changelog = _ >= 4)
    assert(switched == uninterrupted)
    val files = Files.walk(java.nio.file.Paths.get(ckpt, "state")).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(files.exists(_.endsWith(".zip")), "no snapshot from the changelog-off run")
    assert(files.exists(_.endsWith(".changelog")), "no changelog from the changelog-on run")
  }

  test("a checkpoint written with changelog checkpointing off resumes with it on, output unchanged") {
    import spark.implicits._
    withClue("dedup: ")(checkChangelogSwitch(dedupChunks, dedup))
    withClue("join: ")(checkChangelogSwitch(joinChunks, join))
  }
}

object GraftSessionSpec {
  case class Tagged(id: Long, user: Long, ts: Timestamp, click: Boolean)
}
