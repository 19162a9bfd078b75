package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingSink
import graft.streaming.StreamingOps.Event

/** The exactly-once sink across a real stop/restart: the second query
  * resumes from the checkpoint, so committed batches are not replayed
  * and the output contains every input row exactly once.
  */
class StreamingSinkSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("idempotent parquet sink survives restart without duplicating batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val out = Files.createTempDirectory("graft_sink_out").toString
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString

    val input = MemoryStream[Event]
    input.addData(Event(1, ts(10), 1, "view", 0), Event(2, ts(11), 1, "click", 0))
    val q1 = StreamingSink.idempotentParquet(input.toDF(), out, ckpt).start()
    q1.awaitTermination()

    // restart from the same checkpoint with more data: batch 0 must not rerun
    input.addData(Event(3, ts(12), 2, "view", 0))
    val q2 = StreamingSink.idempotentParquet(input.toDF(), out, ckpt).start()
    q2.awaitTermination()

    val result = spark.read.parquet(out)
    assert(result.count() == 3)
    assert(result.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // batch dirs are the partition layout
    assert(new java.io.File(out).listFiles().count(_.getName.startsWith("batch_id=")) >= 1)
  }

  test("upsert sink folds batches into a versioned table and survives restart (streaming MERGE)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val table = Files.createTempDirectory("graft_upsert_table").toString
    val ckpt = Files.createTempDirectory("graft_upsert_ckpt").toString

    val input = MemoryStream[(Long, Long, Double)]
    def writer() = StreamingSink.upsertParquet(
      input.toDF().toDF("k", "seq", "v"), Seq("k"), "seq", table, ckpt)

    // batch 0: keys 1..5; batch 1: update 2,4 (+ an in-batch loser for
    // key 2 that the seq winner must drop) and insert 6
    input.addData((1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0), (4L, 1L, 40.0), (5L, 1L, 50.0))
    writer().start().awaitTermination()
    input.addData((2L, 2L, 21.0), (2L, 3L, 22.0), (4L, 2L, 41.0), (6L, 2L, 60.0))
    writer().start().awaitTermination()

    def state() = StreamingSink
      .upsertTable(spark, table)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
      .toMap
    val expected = Map(1L -> 10.0, 2L -> 22.0, 3L -> 30.0, 4L -> 41.0, 5L -> 50.0, 6L -> 60.0)
    assert(state() == expected, s"merged state diverged: ${state()}")

    // restart with no new data: committed batches must not re-merge
    writer().start().awaitTermination()
    assert(state() == expected)
  }

  test("manifest-append sink: one O(delta) commit per batch, restart-safe, base files byte-stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.hadoop.fs.Path

    val table = Files.createTempDirectory("graft_manifest_sink").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_manifest_ckpt").toString
    val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    def files(sub: String) = fs
      .listStatus(new Path(s"$table/$sub"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
      .toSet
    def state() =
      graft.sources.Formats.readManifestTable(spark, table).as[(Long, Double)].collect().toSet

    val input = MemoryStream[(Long, Double)]
    def writer() = StreamingSink.manifestAppendSink(input.toDF().toDF("k", "v"), table, ckpt)

    input.addData((1L, 10.0), (2L, 20.0))
    writer().start().awaitTermination()
    assert(state() == Set((1L, 10.0), (2L, 20.0)))
    val v1Files = files("data_v=1")

    input.addData((3L, 30.0))
    writer().start().awaitTermination()
    assert(state() == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // the O(delta) property holds under streaming commits too: the
    // second batch's append left batch 1's data files untouched
    assert(files("data_v=1") == v1Files, "streaming append rewrote a committed batch")
    assert(fs.exists(new Path(s"$table/m=1.txt")) && fs.exists(new Path(s"$table/m=2.txt")))
    // earlier stream positions stay time-travelable
    assert(
      graft.sources.Formats.readManifestVersion(spark, table, 1L).as[(Long, Double)].collect().toSet ==
        Set((1L, 10.0), (2L, 20.0))
    )

    // restart from the same checkpoint with no new data: no re-append
    writer().start().awaitTermination()
    assert(state() == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    assert(!fs.exists(new Path(s"$table/m=3.txt")), "restart re-committed a version")
  }

  test("a stale marker from a DIFFERENT checkpoint does not suppress the write") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val out = Files.createTempDirectory("graft_sink_out2").toString

    // run 1: checkpoint A commits batch 0 with events 1-2
    val inA = MemoryStream[Event]
    inA.addData(Event(1, ts(10), 1, "view", 0), Event(2, ts(11), 1, "click", 0))
    val ckptA = Files.createTempDirectory("graft_sink_ckptA").toString
    StreamingSink.idempotentParquet(inA.toDF(), out, ckptA).start().awaitTermination()

    // run 2: FRESH checkpoint B reuses the same outDir — its batch 0 holds
    // DIFFERENT data; the old run's commit marker must not swallow it
    val inB = MemoryStream[Event]
    inB.addData(Event(7, ts(20), 3, "view", 0))
    val ckptB = Files.createTempDirectory("graft_sink_ckptB").toString
    StreamingSink.idempotentParquet(inB.toDF(), out, ckptB).start().awaitTermination()

    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(7L), s"batch 0 must be REWRITTEN by the new run, got $ids")
  }
}
