package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.sources.Tables

/** `Tables` infers each table's schema once per application: later
  * reads of unchanged files submit no job, give the schema Spark's own
  * inference gives, and a rewritten file or a session with different
  * inference confs gets Spark's inference again.
  */
class TablesSpec extends SparkSpec {

  private val tableNames =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `body`'s result and the number of jobs it submitted on this thread. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSpec")
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A fresh directory holding copies of `names`' sf0.001 files, so that
    * no earlier read in this application has seen them.
    */
  private def freshCopy(names: String*): String = {
    val dir = Files.createTempDirectory("graft_tables_spec")
    names.foreach(n => Files.copy(Paths.get(s"$sf0001/$n.parquet"), dir.resolve(s"$n.parquet")))
    dir.toString
  }

  test("a second read of an unchanged table builds its DataFrame without a job") {
    val dir = freshCopy("nation")
    val (_, first) = jobsDuring(Tables.nation(spark, dir))
    val (df, second) = jobsDuring(Tables.nation(spark, dir))
    assert(first >= 1)
    assert(second == 0)
    assert(df.count() == spark.read.parquet(s"$dir/nation.parquet").count())
  }

  test("the cached schema equals Spark's inference for every table, nullability and metadata included") {
    val dir = freshCopy(tableNames: _*)
    tableNames.foreach { n =>
      Tables.table(spark, dir, n)
      val (df, jobs) = jobsDuring(Tables.table(spark, dir, n))
      assert(jobs == 0, n)
      assert(df.schema.json == spark.read.parquet(s"$dir/$n.parquet").schema.json, n)
    }
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
  }

  test("a table rewritten at the same path is read with its new schema and rows") {
    val dir = freshCopy("nation", "region")
    val table = Paths.get(s"$dir/t.parquet")
    Files.copy(Paths.get(s"$dir/nation.parquet"), table)
    assert(Tables.table(spark, dir, "t").columns.toSeq == spark.read.parquet(s"$dir/nation.parquet").columns.toSeq)
    Files.copy(Paths.get(s"$dir/region.parquet"), table, StandardCopyOption.REPLACE_EXISTING)
    val (df, jobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(jobs >= 1)
    val region = spark.read.parquet(s"$dir/region.parquet")
    assert(df.schema.json == region.schema.json)
    assert(df.collect().toSeq.sortBy(_.toString) == region.collect().toSeq.sortBy(_.toString))

    // a directory overwritten by Spark with a different schema
    val out = s"$dir/w.parquet"
    spark.range(3).selectExpr("id", "id * 2 as twice").write.parquet(out)
    assert(Tables.table(spark, dir, "w").columns.toSeq == Seq("id", "twice"))
    spark.range(5).selectExpr("id", "cast(id as string) as name", "id * 0.5 as half").write.mode("overwrite").parquet(out)
    val w = Tables.table(spark, dir, "w")
    assert(w.columns.toSeq == Seq("id", "name", "half"))
    assert(w.count() == 5)
  }

  test("a session with a different nanosAsLong gets its own inference") {
    val dir = Files.createTempDirectory("graft_tables_spec_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }"
    )
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/nanos.parquet")).withType(schema).withConf(new Configuration()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    finally writer.close()

    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(Tables.table(spark, dir, "nanos").schema("ts").dataType == LongType)
    val (_, cachedJobs) = jobsDuring(Tables.table(spark, dir, "nanos"))
    assert(cachedJobs == 0)

    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val own = intercept[Exception](other.read.parquet(s"$dir/nanos.parquet"))
    val viaTables = intercept[Exception](Tables.table(other, dir, "nanos"))
    assert(own.getMessage.contains("TIMESTAMP(NANOS"))
    assert(viaTables.getMessage == own.getMessage)
  }
}
