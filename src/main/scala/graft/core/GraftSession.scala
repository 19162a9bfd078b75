package graft.core

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local testing runs `local[N]`; the settings below are the ones that
  * matter identically on a 1000-executor cluster: AQE (runtime
  * coalescing + skew-join splitting), partition sizing, and broadcast
  * threshold. `shufflePartitions` should be ~2-3x total cores on a real
  * cluster; here it defaults to the local core count.
  */
object GraftSession {

  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.ts is parquet TIMESTAMP(NANOS): read as long nanos, see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(StatefulStreamingSettings.toMap)
      // native SQL functions + the TopKPerKey planner strategy
      .withExtensions(new graft.plans.GraftExtensions)

  /** The settings every stateful streaming query of a graft session
    * runs under; [[builder]] and the reuse branch of [[getOrCreate]]
    * both apply this one list.
    *
    *  - Keyed state lives in RocksDB, not on the JVM heap. The
    *    reference runs its window stores on RocksDB for the same reason
    *    (ClickstreamJoinExample.scala:281-299,
    *    Stores.persistentWindowStore): at 100 TB of keyed state the
    *    in-memory HDFSBackedStateStore is an executor OOM, while
    *    RocksDB spills to local disk. Spark ships the provider and its
    *    JNI in core.
    *  - Changelog checkpointing: a commit appends one changelog file
    *    per store instead of flushing, zipping and uploading a RocksDB
    *    snapshot and deleting its local copy. Snapshots still happen,
    *    every `minDeltasForSnapshot` batches, on the maintenance thread.
    *    Checkpoints written with it off stay readable.
    *  - Local (`file`) checkpoints go through [[ForkFreeLocalFileSystem]]
    *    and [[ForkFreeLocalFs]], which start no `chmod`/`readlink`
    *    process per file. Other schemes are untouched.
    *
    * Together they took one `graftbench` stream run from 5 953 process
    * starts to 40 (37 of them `rm -rf` of RocksDB working directories)
    * and its traced state-commit p50 from 385 to 19 ms (BASELINE.md,
    * "Interval-join gap: root cause").
    */
  val StatefulStreamingSettings: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName
  )

  /** Applies [[StatefulStreamingSettings]] to a running session: the
    * `spark.hadoop.*` ones to its Hadoop configuration, the rest to its
    * SQL conf.
    */
  def applyStatefulStreamingSettings(spark: SparkSession): Unit =
    StatefulStreamingSettings.foreach {
      case (k, v) if k.startsWith("spark.hadoop.") =>
        spark.sparkContext.hadoopConfiguration.set(k.stripPrefix("spark.hadoop."), v)
      case (k, v) => spark.conf.set(k, v)
    }

  /** Measured constant behind [[streamingShufflePartitions]]: target
    * rows per shuffle partition per micro-batch. Every streaming state
    * operator commits its state store(s) once per PARTITION per batch,
    * and each commit has a fixed cost — at 5 k-row batches a cores-sized
    * 32 partitions paid 128 store commits for ~160 rows of work each
    * (Spark's symmetric stream-stream join, which the interval joins then
    * ran on, keeps four stores), and dropping to 8 partitions lifted the
    * interval join 2.8× with identical results (round 11). The interval
    * joins are now one keyed state operator and commit one store per
    * partition, as dedup does. Most of that fixed cost turned out to be
    * process forks of Hadoop's local filesystem, not RocksDB fsync; with
    * [[StatefulStreamingSettings]] a commit forks nothing, but it still
    * writes one file per store, so the rule stands (its 640 was not
    * re-measured). 640 puts the measured sweet spot (5 000 rows → 8
    * partitions) on the curve and leaves large batches cores-bound,
    * where the default is right.
    */
  val StreamTargetRowsPerPartition = 640L

  /** Streaming shuffle partitions sized to PER-BATCH VOLUME, not
    * cores (the deployment rule BASELINE.md documents): partitions =
    * ⌈rowsPerBatch / [[StreamTargetRowsPerPartition]]⌉ clamped to
    * [2, cores]. Batch queries keep the cores-sized default — this
    * applies to `writeStream` topologies, where state-store commit
    * count is partitions × stores regardless of data volume. Set it
    * on the session before starting a streaming query:
    * `spark.conf.set("spark.sql.shuffle.partitions",
    * GraftSession.streamingShufflePartitions(rowsPerBatch, cores))`
    * — streaming fixes the partition count at first start from this
    * conf (it persists in the checkpoint thereafter).
    */
  def streamingShufflePartitions(rowsPerBatch: Long, cores: Int): Int = {
    val byVolume = ((rowsPerBatch + StreamTargetRowsPerPartition - 1) / StreamTargetRowsPerPartition).toInt
    math.max(2, math.min(cores, byVolume))
  }

  def getOrCreate(): SparkSession = {
    val preexisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = builder().getOrCreate()
    if (preexisting.contains(spark)) {
      // getOrCreate returned a session built elsewhere: withExtensions was
      // silently ignored, so the native SQL functions and the TopKPerKey
      // strategy would be missing — inject them through the runtime paths
      // (idempotent), keeping every GraftSession capability available on
      // reused sessions too
      graft.plans.GraftExtensions.functions.foreach { case (name, info, fb) =>
        org.apache.spark.sql.graft.shims.registerFunction(spark, name, info, fb)
      }
      if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKey.TopKPerKeyStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ graft.plans.TopKPerKey.TopKPerKeyStrategy
      }
      if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKPerKey.RowNumberLimitToTopK)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.TopKPerKey.RowNumberLimitToTopK
      }
      // the state-store settings are read from the session conf at each
      // query start, and FileContext, which streaming checkpoints write
      // through, resolves its filesystem from the Hadoop conf at each
      // lookup, so they apply to reused sessions at runtime as well (a
      // `file` FileSystem already in Hadoop's cache stays in use)
      applyStatefulStreamingSettings(spark)
    }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
