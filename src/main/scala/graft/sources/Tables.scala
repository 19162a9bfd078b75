package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

import graft.core.AppScopedCache

/** Table loaders over the driver-generated parquet star schema.
  *
  * Each loader is a parquet scan whose schema is resolved once per
  * application (see [[parquet]]): column pruning and predicate
  * pushdown happen in Catalyst, so callers `select`/`filter` freely and
  * the scan reads only what the query needs. At 100 TB these would be
  * partitioned/bucketed tables behind a catalog; the API is the same.
  */
object Tables {

  private val schemas = new AppScopedCache[StructType]

  /** The session confs Spark's parquet schema inference reads
    * (`ParquetUtils.inferSchema` and the footer-to-Catalyst converter):
    * a session whose values differ may infer a different schema.
    */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive"
  )

  /** Reads the parquet data at `path` (a file or a directory, no glob)
    * with its schema inferred at most once per application. Spark's
    * own inference submits a job that reads a footer on every
    * `spark.read.parquet`, even of an unchanged file; here the first
    * read infers exactly as Spark does, and every later read passes
    * that schema to `spark.read.schema(..)`, which lists the files but
    * runs no job. Spark applies `asNullable` to a given schema as to an
    * inferred one, so the plans are the same.
    *
    * The schema is kept in an [[AppScopedCache]] keyed on the path, the
    * (name, length, modification time) of every file under it and the
    * values of `InferenceConfs`: a rewritten table, or a session that
    * would infer differently, gets Spark's inference again. A copy that
    * keeps a file's length and modification time is not noticed.
    *
    * For the inputs graft owns: the star-schema tables and the index
    * artifacts it persists. [[Formats]] and
    * [[graft.streaming.StreamingSink]] stay on `spark.read.parquet`:
    * they exercise storage protocols, where partition discovery,
    * `mergeSchema` and versioned directories are the point.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    filesUnder(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val confs = InferenceConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")
        var inferred: Option[DataFrame] = None
        val schema = schemas.getOrElseUpdate(spark.sparkContext, (path +: files ++: confs).mkString("\n")) {
          val df = spark.read.parquet(path)
          inferred = Some(df)
          df.schema
        }
        inferred.getOrElse(spark.read.schema(schema).parquet(path))
    }

  /** "path length mtime" of every file under `path`, sorted; None when
    * the path does not exist, so the read fails with Spark's own error.
    */
  private def filesUnder(spark: SparkSession, path: String): Option[Seq[String]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option.when(fs.exists(p)) {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        files += s"${f.getPath} ${f.getLen} ${f.getModificationTime}"
      }
      files.result().sorted
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical layouts: parquet
    * TIMESTAMP(NANOS) (no native Spark type — read as long nanos via the
    * `nanosAsLong` conf in [[graft.core.GraftSession]] and truncated to
    * microseconds, the same truncation DuckDB applies casting
    * TIMESTAMP_NS→TIMESTAMP) and plain TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). Adapt on the observed type so both layouts surface
    * the identical TIMESTAMP column — the session timezone is pinned to
    * UTC, so the NTZ→LTZ cast is value-preserving.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", expr("cast(ts as timestamp)"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
