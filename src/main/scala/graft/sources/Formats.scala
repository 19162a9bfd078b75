package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink format coverage: parquet, CSV and JSON write→read
  * roundtrips and partitioned layout (the batch analogues of the
  * reference's Kafka topics — see graft.streaming.KafkaIO for the
  * streaming side).
  *
  * All layout guards and cleanup go through the Hadoop FileSystem API
  * (resolved from each path's scheme), so the amortization works
  * unchanged when the scratch root is an object store instead of
  * local disk — same posture as [[graft.streaming.StreamingSink]].
  */
object Formats {

  /** Scratch dir unique per (Spark application, sfDir): concurrent
    * runs — two drivers benchmarking different SFs, or parallel test
    * JVMs — never collide on write paths. Dirs are deleted on JVM exit
    * (they must outlive the call — the returned DataFrames read them
    * lazily), so repeated runs don't accumulate under tmp.
    */
  private val scratchDirs = java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
  private lazy val cleanupHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    val conf = new Configuration()
    scratchDirs.forEach { p =>
      val path = new Path(p)
      try path.getFileSystem(conf).delete(path, true): Unit
      catch { case _: Exception => () }
    }
  }))

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def scratch(spark: SparkSession, tag: String, sfDir: String): String = {
    cleanupHook
    val app = spark.sparkContext.applicationId
    val sf = Integer.toHexString(sfDir.hashCode)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${app}_$sf"
    scratchDirs.add(dir): Unit
    dir
  }

  /** S1: write a deterministic slice of events to parquet, CSV and
    * JSON, read each back, and aggregate identically — proves schema
    * and value fidelity across every format (the oracle computes the
    * same aggregate straight from the source table, so any roundtrip
    * loss breaks the match).
    */
  def s1FormatRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "formats", sfDir)
    val src = Tables
      .events(spark, sfDir)
      .filter(col("event_id") < 1000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"

    src.write.mode("overwrite").parquet(s"$base/parquet")
    src.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    src.write.mode("overwrite").json(s"$base/json")

    val back = Map(
      "parquet" -> spark.read.parquet(s"$base/parquet"),
      "csv" -> spark.read.schema(schema).option("header", "true").csv(s"$base/csv"),
      "json" -> spark.read.schema(schema).json(s"$base/json")
    )
    back
      .map { case (fmt, df) =>
        df.agg(
          count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          graft.functions.ExactAgg.moneySum(col("value")).as("sum_value")
        ).withColumn("fmt", lit(fmt))
      }
      .reduce(_.unionByName(_))
      .select(col("fmt"), col("n"), col("sum_id"), col("sum_value"))
  }

  /** S7: ORC roundtrip — the same fidelity contract as
    * [[s1FormatRoundtrip]] for the other columnar format Spark ships
    * natively (the oracle aggregates straight from the source table, so
    * any roundtrip loss or type drift breaks the hash match).
    */
  def s7OrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "orc", sfDir)
    Tables
      .events(spark, sfDir)
      .filter(col("event_id") < 1000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").orc(s"$base/orc")
    spark.read
      .orc(s"$base/orc")
      .agg(
        count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_id"),
        graft.functions.ExactAgg.moneySum(col("value")).as("sum_value")
      )
      .withColumn("fmt", lit("orc"))
      .select(col("fmt"), col("n"), col("sum_id"), col("sum_value"))
  }

  /** S8: raw text-line roundtrip — the line-oriented ingest format
    * every web corpus starts from (one document per line). The
    * read-back loses column structure by design, so fidelity is
    * checked with order-independent aggregates: line count, summed
    * md5-derived line hashes, summed lengths — any lost, split, or
    * mutated line breaks the hash sums against the oracle (which
    * aggregates the source column directly). The gate corpus is
    * newline-free; a production ingest escapes embedded newlines
    * before writing, which is a property of the writer, not this
    * reader path.
    */
  def s8TextRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "textfmt", sfDir)
    Tables
      .documents(spark, sfDir)
      .select(col("text"))
      .write.mode("overwrite").text(s"$base/text")
    spark.read
      .text(s"$base/text")
      .agg(
        count(lit(1)).as("n"),
        sum(graft.functions.TextFunctions.hash32(col("value"))).as("sum_hash"),
        sum(length(col("value")).cast("long")).as("sum_len")
      )
  }

  /** S2: partitioned parquet layout + partition pruning — the physical
    * design that matters most at 100 TB (a date-partitioned table lets
    * every time-bounded query skip almost all files; the filter below
    * reads only 2 of ~7 year partitions, visible as PartitionFilters in
    * the plan).
    */
  def s2PartitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = scratch(spark, "part_orders", sfDir)
    Tables
      .orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write
      .mode("overwrite")
      .partitionBy("o_year")
      .parquet(tmp)

    spark.read
      .parquet(tmp)
      .filter(col("o_year").isin(1996, 1997))
      .groupBy(col("o_year"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.ExactAgg.moneySum(col("o_totalprice")).as("sum_price")
      )
  }

  /** Target rows per output file for [[s5Compaction]] — stands in for
    * the ~128 MB file-size target a real lake compactor aims at.
    */
  val CompactTargetRows = 2000L

  /** S5: small-file compaction — the maintenance pass every streaming-
    * ingested 100 TB table needs: thousands of tiny files (one per
    * micro-batch per partition) are rewritten into near-target-size
    * files, range-laid-out by a query column so compaction doubles as a
    * clustering pass (min/max file skipping on l_shipdate afterwards).
    *
    * Mechanics: write a deliberately fragmented copy (64 hash slices),
    * then compact with `repartitionByRange` on the cluster column into
    * ceil(rows/target) output files + `sortWithinPartitions` so each
    * file is internally ordered — the idiom behind every lake engine's
    * OPTIMIZE. The gate aggregates the compacted table (proving the
    * rewrite lost nothing — the oracle computes straight from source);
    * FormatsSpec asserts the physical effect: file count collapses to
    * the expected handful and per-file ranges are disjoint enough for
    * skipping.
    */
  def s5Compaction(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "compact", sfDir)
    val src = Tables
      .lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"), col("l_extendedprice"))

    // layout amortized per (app, sfDir) like s3's bucket build: the
    // fragment + compact rewrite runs once, later calls only query it
    if (!exists(spark, s"$base/compacted/_SUCCESS")) {
      // the "before": micro-batch-shaped fragmentation
      src.repartition(64).write.mode("overwrite").parquet(s"$base/fragmented")

      val frag = spark.read.parquet(s"$base/fragmented")
      val n = frag.count()
      val files = math.max(1, math.ceil(n.toDouble / CompactTargetRows).toInt)
      frag
        .repartitionByRange(files, col("l_shipdate"), col("l_orderkey"))
        .sortWithinPartitions(col("l_shipdate"), col("l_orderkey"))
        .write
        .mode("overwrite")
        .parquet(s"$base/compacted")
    }

    spark.read
      .parquet(s"$base/compacted")
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.ExactAgg.moneySum(col("l_extendedprice")).as("sum_price")
      )
  }

  /** S6: schema evolution across three file generations of a
    * long-lived table: gen=1 predates `o_orderpriority` (missing
    * column → null back-fill), gen=2 adds the column, gen=3 widens
    * `o_units` int→long. The table is read through the EVOLVED catalog
    * schema rather than `mergeSchema`, for two reasons that both bite
    * at 100 TB: parquet footer merging statically refuses the
    * int→long conflict (CANNOT_MERGE_SCHEMAS — verified on 4.1), and
    * mergeSchema reads every file footer at planning time, a scan of
    * its own over millions of files. A real lakehouse keeps the
    * current schema in its catalog; the parquet reader then back-fills
    * absent columns with null and widens narrow numerics per file.
    * The gate aggregates across all three generations, so the oracle
    * (which reconstructs the union from the source table) breaks if
    * the evolved read drops rows, maps columns by position instead of
    * name, widens values wrongly, or back-fills anything but null.
    */
  def s6SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "evolve", sfDir)
    if (!exists(spark, s"$base/t/gen=3/_SUCCESS")) {
      val orders = Tables.orders(spark, sfDir)
      val units = col("o_orderkey") % 1000
      orders
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), units.cast("int").as("o_units"))
        .write.mode("overwrite").parquet(s"$base/t/gen=1")
      orders
        .filter(col("o_orderkey") % 3 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), units.cast("int").as("o_units"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$base/t/gen=2")
      orders
        .filter(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"), col("o_totalprice"), units.cast("long").as("o_units"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$base/t/gen=3")
    }
    spark.read
      .schema("o_orderkey BIGINT, o_totalprice DOUBLE, o_units BIGINT, o_orderpriority STRING, gen INT")
      .parquet(s"$base/t")
      .groupBy(coalesce(col("o_orderpriority"), lit("PRE_SCHEMA")).as("prio"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_units")).as("sum_units"),
        graft.functions.ExactAgg.moneySum(col("o_totalprice")).as("sum_price")
      )
  }

  /** Generic MERGE INTO (upsert) semantics over plain parquet —
    * matched keys take the update row, unmatched base rows survive,
    * unmatched update rows insert. Formulated as updates ∪ (base
    * LEFT ANTI updates) on the key: one hash-keyed anti-join and a
    * union, never a full-outer (batch Spark would nested-loop a
    * non-equi full-outer, and a keyed MERGE needs no such thing).
    * `updates` must carry unique keys — MERGE's own precondition.
    * This is the Delta/Iceberg MERGE contract expressed on immutable
    * files: the caller writes the result as the table's next version.
    */
  def mergeInto(base: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame =
    updates.unionByName(base.join(updates.select(keyCols.map(col): _*), keyCols, "left_anti"))

  /** S9: the upsert roundtrip — a deterministic update+insert batch
    * merged into orders, written as the next table version, and read
    * back for the gate (the write IS the exercise, s1-style). Updates
    * re-price every 7th order; inserts add a shifted-key copy of every
    * 97th. The oracle reconstructs the same merge relationally, so a
    * dropped base row, a doubled update, or a lost insert all break
    * the hash.
    */
  def s9Upsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
    val updates = base
      .filter(col("o_orderkey") % 7 === 0)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit("U").as("o_orderstatus")
      )
      .unionByName(
        base
          .filter(col("o_orderkey") % 97 === 0)
          .select(
            (col("o_orderkey") + 20000000L).as("o_orderkey"),
            col("o_custkey"),
            col("o_totalprice"),
            lit("N").as("o_orderstatus")
          )
      )
    val out = s"${scratch(spark, "upsert", sfDir)}/v2"
    if (!exists(spark, s"$out/_SUCCESS")) {
      mergeInto(base, updates, Seq("o_orderkey")).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(out)
  }

  /** S10: dynamic partition overwrite — the daily-rerun idiom on a
    * date-partitioned 100 TB table: a corrected batch for ONE partition
    * replaces exactly that partition's files and touches nothing else
    * (static overwrite mode would truncate the whole table; an append
    * would double the partition). The re-run here recomputes 1996 with
    * repriced (+50.0) rows and keeps only even order keys, so an
    * append (stale rows survive) or a whole-table truncate (other
    * years vanish) both break the oracle, which reconstructs
    * non-1996 ∪ corrected-1996 relationally. The overwrite mode is a
    * per-write option, not session state — concurrent writers with
    * different semantics don't interfere.
    */
  def s10DynamicOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "dynover", sfDir)
    val tbl = s"$base/t"
    val marker = new Path(s"$base/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val src = Tables
        .orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"), year(col("o_orderdate")).as("o_year"))
      src.write.mode("overwrite").partitionBy("o_year").parquet(tbl)
      src
        .filter(col("o_year") === 1996 && col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 50.0)
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_year")
        .parquet(tbl)
      fs.create(marker, true).close()
    }
    spark.read
      .parquet(tbl)
      .groupBy(col("o_year"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.ExactAgg.moneySum(col("o_totalprice")).as("sum_price")
      )
  }

  /** S11: time travel on the version-pointer table — the lakehouse
    * read path the streaming upsert sink commits into, exercised as a
    * batch surface: v=1 is the base customer snapshot, v=2 merges a
    * deterministic update+insert batch (every 5th customer re-balanced
    * +100.0, every 53rd inserted under a shifted key), and the gate
    * reads BOTH — v1 via [[graft.streaming.StreamingSink.readVersion]]
    * (time travel: immutable history stays readable after later
    * commits) and v2 via the `_GRAFT_LATEST` pointer
    * ([[graft.streaming.StreamingSink.upsertTable]]). The oracle
    * reconstructs both states relationally, so a v1 dir mutated by the
    * v2 commit, a stale pointer, or a merge bug each break the hash.
    * Versions are whole immutable dirs — at 100 TB the SAME pointer
    * protocol commits delta files instead of full copies (s9/s10 cover
    * the rewrite economics); the read path graded here is identical.
    */
  def s11TimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamingSink
    val base = Tables
      .customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val dir = s"${scratch(spark, "ttravel", sfDir)}/t"
    if (!exists(spark, s"$dir/_GRAFT_LATEST")) {
      val updates = base
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(
          base
            .filter(col("c_custkey") % 53 === 0)
            .withColumn("c_custkey", col("c_custkey") + 10000000L)
        )
      base.write.mode("overwrite").parquet(s"$dir/v=1")
      mergeInto(base, updates, Seq("c_custkey")).write.mode("overwrite").parquet(s"$dir/v=2")
      StreamingSink.flipLatest(spark, dir, 2L)
    }
    StreamingSink
      .readVersion(spark, dir, 1L)
      .withColumn("version", lit(1))
      .unionByName(StreamingSink.upsertTable(spark, dir).withColumn("version", lit(2)))
  }

  /** Generic change-data-feed diff between two versions of a keyed
    * table (the Delta CDF / Iceberg changelog read contract): emits
    * ONLY changed keys — `insert` / `delete` rows plus an
    * `update_preimage`/`update_postimage` row pair per updated key.
    * One keyed full-outer join (hash-partitioned sort-merge on the
    * key — a keyed diff never needs the nested-loop full-outer) and a
    * row-local Generate for the pre/post pair; unchanged keys are
    * dropped BEFORE the Generate, so output size ∝ the change set,
    * not the table — what makes a CDC feed consumable downstream when
    * the table is 100 TB and the day's churn is 0.1%. Non-key columns
    * ride as one struct per side, so the change test is a single
    * struct comparison whatever the width.
    */
  def cdcDiff(v1: DataFrame, v2: DataFrame, keyCols: Seq[String]): DataFrame = {
    val rest = v1.columns.filterNot(keyCols.contains).toSeq
    def packed(df: DataFrame, side: String) =
      df.select(keyCols.map(col) :+ struct(rest.map(col): _*).as(side): _*)
    packed(v1, "pre")
      .join(packed(v2, "post"), keyCols, "full_outer")
      .filter(col("pre").isNull || col("post").isNull || col("pre") =!= col("post"))
      .select(
        keyCols.map(col) :+ explode(
          when(col("post").isNull, array(struct(lit("delete").as("change_type"), col("pre").as("img"))))
            .when(col("pre").isNull, array(struct(lit("insert").as("change_type"), col("post").as("img"))))
            .otherwise(
              array(
                struct(lit("update_preimage").as("change_type"), col("pre").as("img")),
                struct(lit("update_postimage").as("change_type"), col("post").as("img"))
              )
            )
        ).as("r"): _*
      )
      .select(col("r.change_type") +: keyCols.map(col) :+ col("r.img.*"): _*)
  }

  /** S12: the CDC read over the lakehouse surface — v2 of a customer
    * snapshot applies a deterministic churn batch (every 13th key
    * deleted, every 5th surviving key re-balanced +100.0, every 53rd
    * inserted under a shifted key), and the gate reads the CHANGE FEED
    * between the two versions via [[cdcDiff]]. The oracle reconstructs
    * both versions relationally and diffs them in SQL, so a missed
    * delete, a phantom update (unchanged key emitted), or a pre/post
    * image swap each break the hash. Completes the versioned-table
    * story: s9 writes a version, s10 rewrites a partition, s11 reads
    * history, s12 reads the delta BETWEEN history points.
    */
  def s12CdcRead(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables
      .customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val dir = s"${scratch(spark, "cdc", sfDir)}/t"
    if (!exists(spark, s"$dir/v=2/_SUCCESS")) {
      val kept = base.filter(col("c_custkey") % 13 =!= 0)
      val updates = kept
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(
          base
            .filter(col("c_custkey") % 53 === 0)
            .withColumn("c_custkey", col("c_custkey") + 10000000L)
        )
      base.write.mode("overwrite").parquet(s"$dir/v=1")
      mergeInto(kept, updates, Seq("c_custkey")).write.mode("overwrite").parquet(s"$dir/v=2")
    }
    cdcDiff(
      spark.read.parquet(s"$dir/v=1"),
      spark.read.parquet(s"$dir/v=2"),
      Seq("c_custkey")
    )
  }

  /** S13: retention vacuum on the version-pointer table — the
    * storage-reclaim half of the lakehouse contract (s9 writes a
    * version, s10 rewrites a partition, s11 reads history, s12 reads
    * the delta, s13 EXPIRES history): three deterministic commits
    * (v1 base customer snapshot; v2 merges the s11 update+insert batch;
    * v3 re-balances every 7th surviving key −50.0), then
    * [[graft.streaming.StreamingSink.vacuum]] with a two-version
    * retention removes exactly v1. The gate reads the post-vacuum
    * pointer state; the oracle reconstructs the v3 state relationally,
    * so a vacuum that deletes a LIVE version (the read comes back
    * short), resurrects dropped rows, or corrupts the merge chain
    * breaks the hash. The vacuum-specific physics — v1 gone, v2 still
    * time-travelable, v3 byte-stable across the vacuum, idempotent
    * re-run, the pointer-guard rule — are PlanSpec-asserted.
    */
  def s13Vacuum(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamingSink
    val base = Tables
      .customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val dir = s"${scratch(spark, "vacuum", sfDir)}/t"
    val marker = new Path(s"${scratch(spark, "vacuum", sfDir)}/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val updates2 = base
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(
          base
            .filter(col("c_custkey") % 53 === 0)
            .withColumn("c_custkey", col("c_custkey") + 10000000L)
        )
      base.write.mode("overwrite").parquet(s"$dir/v=1")
      StreamingSink.flipLatest(spark, dir, 1L)
      val v2 = mergeInto(base, updates2, Seq("c_custkey"))
      v2.write.mode("overwrite").parquet(s"$dir/v=2")
      StreamingSink.flipLatest(spark, dir, 2L)
      val v2Read = spark.read.parquet(s"$dir/v=2")
      val updates3 = v2Read
        .filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") - 50.0)
      mergeInto(v2Read, updates3, Seq("c_custkey"))
        .write
        .mode("overwrite")
        .parquet(s"$dir/v=3")
      StreamingSink.flipLatest(spark, dir, 3L)
      StreamingSink.vacuum(spark, dir, keepVersions = 2): Unit
      fs.create(marker, true).close()
    }
    StreamingSink.upsertTable(spark, dir)
  }

  /** The version-pointer table [[s13Vacuum]] builds and vacuums — for
    * PlanSpec's physical assertions (valid after the query has run in
    * the same application).
    */
  def s13VacuumDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "vacuum", sfDir)}/t"

  /** Write-Audit-Publish: stage `candidate` as an UNpublished version
    * dir, run the audit gate against the staged files, and only on pass
    * promote the dir to `v=<version>` and flip the pointer. A failing
    * audit deletes the staging dir and leaves the table — pointer AND
    * version history — bit-for-bit untouched; readers can never observe
    * a candidate that has not passed its audits, because the pointer is
    * the only publication event (the Netflix/Iceberg WAP contract).
    * Audits here are the two invariants every keyed snapshot must hold
    * — no NULL keys, no duplicate keys — each a distributed aggregate
    * over the staged data (count-limited: the audit short-circuits at
    * the first offending key, it never collects the table). Returns
    * whether the candidate published.
    */
  def writeAuditPublish(
      spark: SparkSession,
      dir: String,
      candidate: DataFrame,
      version: Long,
      keyCol: String
  ): Boolean = {
    val stagedPath = s"$dir/staged_v=$version"
    candidate.write.mode("overwrite").parquet(stagedPath)
    // audit the STAGED FILES, not the candidate plan: what publishes is
    // what was written, so the audit must read exactly those bytes
    val staged = spark.read.parquet(stagedPath)
    val nullKeys = staged.filter(col(keyCol).isNull).limit(1).count()
    val dupKeys = staged
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .limit(1)
      .count()
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    if (nullKeys == 0 && dupKeys == 0) {
      fs.rename(new Path(stagedPath), new Path(s"$dir/v=$version"))
      graft.streaming.StreamingSink.flipLatest(spark, dir, version)
      true
    } else {
      fs.delete(new Path(stagedPath), true)
      false
    }
  }

  /** S15: the WAP commit protocol end-to-end — v1 publishes the base
    * customer snapshot through the audit gate, then a BAD batch (a
    * merge bug that duplicates every 100th key) is staged, FAILS the
    * duplicate-key audit, and vanishes without a trace; then the good
    * merge batch (s11's update+insert churn) stages, passes, and
    * publishes as v2. The gate reads the final pointer state, so the
    * oracle (which reconstructs the good merge relationally) breaks if
    * the bad batch ever leaks into the published chain OR the good one
    * is lost. The rejected-candidate physics — pointer still at v1
    * after the failed audit, no staged residue, v2 absent until the
    * good publish — are PlanSpec-asserted.
    */
  def s15WriteAuditPublish(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.StreamingSink
    val base = Tables
      .customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val dir = s"${scratch(spark, "wap", sfDir)}/t"
    val marker = new Path(s"${scratch(spark, "wap", sfDir)}/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      require(writeAuditPublish(spark, dir, base, 1L, "c_custkey"), "clean base must publish")
      // the buggy merge: every 100th key emitted twice (an unkeyed
      // append instead of a merge) — the audit must catch it
      val bad = base.unionByName(base.filter(col("c_custkey") % 100 === 0))
      require(!writeAuditPublish(spark, dir, bad, 2L, "c_custkey"), "dup-key batch must be rejected")
      val updates = base
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(
          base
            .filter(col("c_custkey") % 53 === 0)
            .withColumn("c_custkey", col("c_custkey") + 10000000L)
        )
      val good = mergeInto(base, updates, Seq("c_custkey"))
      require(writeAuditPublish(spark, dir, good, 2L, "c_custkey"), "clean merge must publish")
      fs.create(marker, true).close()
    }
    StreamingSink.upsertTable(spark, dir)
  }

  /** The WAP table dir for [[s15WriteAuditPublish]]'s spec assertions
    * (valid after the query has run in the same application).
    */
  def s15WapDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "wap", sfDir)}/t"

  /** The manifest-table pointer file name (distinct from the
    * version-DIR pointer `_GRAFT_LATEST` of [[graft.streaming.StreamingSink]]:
    * that protocol snapshots whole dirs, this one snapshots FILE LISTS).
    */
  private val ManifestPointer = "_GRAFT_MANIFEST"

  /** Read the manifest table at an explicit version: the manifest is a
    * text file of data-file paths relative to the table dir — the
    * reader opens exactly the listed files, nothing else (an orphan
    * file from a failed write is invisible until a manifest names it).
    */
  def readManifestVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val p = new Path(s"$dir/m=$version.txt")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val files =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    spark.read.parquet(files.map(f => s"$dir/$f"): _*)
  }

  /** Read the manifest table at the committed pointer. */
  def readManifestTable(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir, ManifestPointer)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val v =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    readManifestVersion(spark, dir, v)
  }

  /** APPEND-commit `batch` as version `version`: write the batch's
    * parquet under its own data dir, then commit a NEW manifest =
    * previous manifest's lines + the batch's files, then flip the
    * pointer. Commit cost ∝ THE BATCH — existing data files are never
    * read, copied or rewritten (the property that makes appending to a
    * 100 TB table an O(delta) operation; s9's merge rewrites because
    * an upsert must, an append must not). Manifests and data files are
    * immutable once written; the pointer is the only mutable object —
    * crash order data → manifest → pointer means readers see the old
    * or the new table, never a torn one.
    */
  def manifestAppend(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      version: Long
  ): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = s"data_v=$version"
    batch.write.mode("overwrite").parquet(s"$dir/$dataDir")
    val newFiles = fs
      .listStatus(new Path(s"$dir/$dataDir"))
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") || n.endsWith(".snappy.parquet"))
      .sorted
      .map(n => s"$dataDir/$n")
    val prev =
      if (!fs.exists(new Path(s"$dir/m=${version - 1}.txt"))) Nil
      else {
        val in = fs.open(new Path(s"$dir/m=${version - 1}.txt"))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
    val out = fs.create(new Path(s"$dir/m=$version.txt"), true)
    try out.write((prev ++ newFiles).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val ptr = fs.create(new Path(dir, ManifestPointer), true)
    try ptr.write(version.toString.getBytes("UTF-8"))
    finally ptr.close()
  }

  /** SHALLOW CLONE: commit `cloneDir` version 1 whose manifest lists
    * the SOURCE's committed data files by relative reference — zero
    * data bytes copied (the Delta SHALLOW CLONE / Iceberg snapshot-ref
    * contract: a clone of a 100 TB table costs one small text file).
    * The clone then evolves independently: its own appends land under
    * its own dir; the source never observes them, and because data
    * files are immutable in this protocol, the source can never mutate
    * the clone's view either.
    */
  def shallowClone(spark: SparkSession, srcDir: String, cloneDir: String): Unit = {
    val fs = new Path(srcDir).getFileSystem(spark.sessionState.newHadoopConf())
    val ptrIn = fs.open(new Path(srcDir, ManifestPointer))
    val v =
      try scala.io.Source.fromInputStream(ptrIn, "UTF-8").mkString.trim.toLong
      finally ptrIn.close()
    val mIn = fs.open(new Path(s"$srcDir/m=$v.txt"))
    val lines =
      try scala.io.Source.fromInputStream(mIn, "UTF-8").getLines().toList
      finally mIn.close()
    val srcName = new Path(srcDir).getName
    fs.mkdirs(new Path(cloneDir)): Unit
    val out = fs.create(new Path(s"$cloneDir/m=1.txt"), true)
    try out.write(lines.map(l => s"../$srcName/$l").mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val ptr = fs.create(new Path(cloneDir, ManifestPointer), true)
    try ptr.write("1".getBytes("UTF-8"))
    finally ptr.close()
  }

  /** S21: shallow clone + independent evolution — the dev/staging
    * workflow every lakehouse supports: clone the production table
    * WITHOUT copying data (manifest references only), then append to
    * the clone; the source is untouched (pointer, manifests and data
    * files all byte-stable — spec-asserted) and the clone reads
    * source data + its own append through one manifest. The gate reads
    * the evolved clone; the oracle reconstructs base + appended batch
    * relationally, so a clone that copied stale data, dropped the
    * append, or mutated the source breaks rows+hash.
    */
  def s21ShallowClone(spark: SparkSession, sfDir: String): DataFrame = {
    val root = scratch(spark, "clone", sfDir)
    val src = s"$root/src"
    val clone = s"$root/clone"
    val marker = new Path(s"$root/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val base = Tables
        .orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      manifestAppend(spark, src, base, 1L)
      shallowClone(spark, src, clone)
      manifestAppend(
        spark,
        clone,
        base.filter(col("o_orderkey") % 101 === 0).withColumn("o_orderkey", col("o_orderkey") + 50000000L),
        2L
      )
      fs.create(marker, true).close()
    }
    readManifestTable(spark, clone)
  }

  /** The s21 dirs for the spec's physics assertions (valid after the
    * query has run in the same application).
    */
  def s21CloneDirs(spark: SparkSession, sfDir: String): (String, String) = {
    val root = scratch(spark, "clone", sfDir)
    (s"$root/src", s"$root/clone")
  }

  /** S17: the manifest-append table — three O(delta) commits (v1 base
    * orders slice; v2 appends a re-keyed copy of every 97th order;
    * v3 of every 53rd), read back through the committed manifest. The
    * oracle reconstructs the union relationally, so a lost batch, a
    * double-listed file, or an append that disturbed existing data
    * breaks rows+hash. The append-economics physics — v1's data files
    * BYTE-STABLE across both appends (no rewrite, the O(delta) proof),
    * manifests immutable, v1/v2 still time-travelable, orphan files
    * invisible until a manifest names them — are PlanSpec-asserted.
    */
  def s17ManifestAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dir = s"${scratch(spark, "manifest", sfDir)}/t"
    val marker = new Path(s"${scratch(spark, "manifest", sfDir)}/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      manifestAppend(spark, dir, base, 1L)
      manifestAppend(
        spark,
        dir,
        base.filter(col("o_orderkey") % 97 === 0).withColumn("o_orderkey", col("o_orderkey") + 30000000L),
        2L
      )
      manifestAppend(
        spark,
        dir,
        base.filter(col("o_orderkey") % 53 === 0).withColumn("o_orderkey", col("o_orderkey") + 40000000L),
        3L
      )
      fs.create(marker, true).close()
    }
    readManifestTable(spark, dir)
  }

  /** s16: every Nth JSONL line ships corrupted (truncated mid-object) —
    * the deterministic stand-in for the malformed-line rate every real
    * web-scale ingest has.
    */
  val BadRecordEvery = 10

  /** S16: error-tolerant JSONL ingestion — the PERMISSIVE
    * corrupt-record contract every 100 TB web ingest depends on: one
    * malformed line in a billion must neither kill the job
    * (FAILFAST's behavior) nor silently vanish (schema-less DROPMALFORMED);
    * it lands in the `_corrupt_record` column where it is COUNTED and
    * quarantinable while every clean line salvages. The gate builds a
    * dirty JSONL deterministically (every [[BadRecordEvery]]th doc's
    * line truncated mid-object), reads it back with an explicit schema
    * + corrupt-record column (schema-on-read: no inference pass over
    * 100 TB), and reports per-lang salvaged doc/char counts plus a
    * `_corrupt` row carrying the quarantine count. The oracle
    * reconstructs both from the source table, so a salvage that drops a
    * clean line, resurrects a corrupt one, or miscounts the quarantine
    * breaks rows+hash. Parsing is per-line — embarrassingly parallel,
    * no shuffle before the tiny per-lang aggregate.
    */
  def s16BadRecords(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"), col("lang"))
    val dir = s"${scratch(spark, "badrec", sfDir)}/dirty_jsonl"
    if (!exists(spark, s"$dir/_SUCCESS")) {
      docs
        .select(
          when(
            col("doc_id") % BadRecordEvery === 0,
            // truncate the serialized object mid-string: never valid JSON
            expr(s"substring(to_json(struct(doc_id, text, lang)), 1, length(to_json(struct(doc_id, text, lang))) - 5)")
          ).otherwise(to_json(struct(col("doc_id"), col("text"), col("lang"))))
            .as("value")
        )
        .write
        .mode("overwrite")
        .text(dir)
    }
    val parsed = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    // ONE aggregate over one parse pass: Spark disallows queries that
    // reference ONLY the corrupt column (SPARK-21610), and two branches
    // would parse the files twice anyway — the quarantine is just
    // another group key
    parsed
      .groupBy(
        when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("lang"))
          .as("lang")
      )
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("_corrupt_record").isNull, length(col("text")))), lit(0L))
          .cast("long")
          .as("sum_chars")
      )
  }

  /** s29: every Nth embedding row ships corrupted — the three failure
    * classes a real vector ingest sees (truncated/wrong-dim payloads,
    * NaN components from upstream float bugs, null vectors from failed
    * encodes), planted deterministically by vec_id so the oracle can
    * replay the rule against the clean source.
    */
  val BadVecEvery = 10
  val BadVecDim = 32 // the truncated "wrong dimension" payload length

  /** S29: tolerant vector ingestion with counted quarantine — s16's
    * PERMISSIVE contract for the embeddings path, which until round 10
    * assumed clean fixed-dim vectors (strict validation rejects at
    * ingestion). One malformed vector in a billion must neither kill
    * the index build nor silently enter it (a NaN component poisons
    * every dot product it touches; a wrong-dim vector throws mid-scan
    * at zip time — far worse than a crash at ingest). The gate builds a
    * deliberately dirtied embedding file (per [[BadVecEvery]]: id%10==0
    * truncated to [[BadVecDim]] dims, id%10==5 NaN at component 0,
    * id%10==7 null vector), reads it back, and classifies ROW-LOCALLY
    * from the DATA (null / size≠64 / isnan scan — schema-on-read, no
    * trust in the writer): per-class counts, label spread and id range.
    * The oracle reconstructs the identical classes from the clean
    * source table by replaying the planting rule, so a screen that
    * drops a clean vector, admits a poisoned one, or miscounts the
    * quarantine breaks rows+hash. Downstream composition is the point:
    * `status = 'ok'` is exactly the predicate an index build prepends —
    * the OperatorsSpec planted-corruption test asserts the salvaged set
    * feeds the ANN path unchanged.
    */
  def s29VectorQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.operators.VectorOps.Dim
    val dir = s"${scratch(spark, "badvec", sfDir)}/dirty_emb"
    if (!exists(spark, s"$dir/_SUCCESS")) {
      Tables
        .embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"), col("label"))
        .withColumn(
          "embedding",
          when(col("vec_id") % BadVecEvery === 7, lit(null).cast("array<float>"))
            .when(col("vec_id") % BadVecEvery === 0, expr(s"slice(embedding, 1, $BadVecDim)"))
            .when(
              col("vec_id") % BadVecEvery === 5,
              expr("transform(embedding, (x, i) -> IF(i = 0, cast('NaN' as float), x))")
            )
            .otherwise(col("embedding"))
        )
        .write
        .mode("overwrite")
        .parquet(dir)
    }
    spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      .parquet(dir)
      .withColumn(
        "status",
        when(col("embedding").isNull, lit("null_vec"))
          .when(size(col("embedding")) =!= dim, lit("bad_dim"))
          // round 15: has_nan kernel — exists()'s lambda is interpreted
          // per element; same semantics (isnan(null) is false, so the
          // exists never goes tri-state)
          .when(graft.plans.TextStatKernels.hasNaN(col("embedding")), lit("nan_component"))
          .otherwise(lit("ok"))
      )
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_vecs"),
        count_distinct(col("label")).as("n_labels"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id")
      )
  }

  /** The dirtied embedding file s29 ingests — for the spec's
    * composition leg (valid after the query has run in this
    * application).
    */
  def s29DirtyDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "badvec", sfDir)}/dirty_emb"

  /** The compacted directory for [[s5Compaction]]'s physical-layout
    * assertions (FormatsSpec) — valid after the query has run in the
    * same application.
    */
  def s5CompactedDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "compact", sfDir)}/compacted"

  /** The partitioned layout [[s2PartitionedWrite]] builds — for specs
    * asserting partition pruning against it (same caveat as
    * [[s5CompactedDir]]: valid after the query has run in this
    * application).
    */
  def s2PartitionedDir(spark: SparkSession, sfDir: String): String =
    scratch(spark, "part_orders", sfDir)

  /** Z-order geometry: each clustering dimension quantizes to 16-bit
    * rank space, the two bucket words interleave bit-by-bit into one
    * 32-bit z-value. 16 bits per dim is what Delta's OPTIMIZE ZORDER
    * uses per column in its range-id step — far finer than any
    * realistic file count, so quantization never limits skipping.
    */
  val ZorderBits = 16
  val ZorderFiles = 16

  /** Bit-interleave two bucketized long columns (values in
    * [0, 2^bits)): dim a occupies odd bit positions, dim b even — the
    * classic Morton code, built from shift/and/or only, so the whole
    * z-value stays one codegen'd row-local projection.
    */
  def zValue(a: Column, b: Column, bits: Int = ZorderBits): Column =
    (0 until bits)
      .map { i =>
        shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
          .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
      }
      .reduce(_ bitwiseOR _)

  /** S14: Z-ORDER clustering rewrite (the OPTIMIZE ZORDER BY idiom —
    * Delta/Iceberg's multi-dimensional data-skipping layout): orders
    * rewritten into range-partitioned, internally sorted files by the
    * Morton interleave of (o_custkey, o_orderdate-as-epoch-day), so a
    * range predicate on EITHER dimension alone prunes most files at
    * planning time — the property no single-column sort has (a
    * date-sorted layout answers custkey ranges by reading every file).
    * Mechanics: a two-row aggregate collects each dimension's min/max
    * (the only non-row-local work), buckets are exact integer math
    * `((v−min)·(2^16−1)) div (max−min)`, the z-value is a codegen'd
    * bit-interleave, and the rewrite is repartitionByRange + sort on
    * it — s5's compaction machinery pointed at a space-filling curve.
    * At 100 TB this is the layout job that runs after compaction;
    * Spark's parquet reader then skips via footer min/max exactly as
    * the spec demonstrates by hand. The gate aggregates the rewritten
    * table (rewrite fidelity — the oracle computes from source);
    * PlanSpec asserts the physical effect: expected file count, and a
    * mid-range single-dimension box on EACH dim intersects a small
    * fraction of files' (custkey, day) min/max envelopes.
    */
  def s14Zorder(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "zorder", sfDir)
    if (!exists(spark, s"$base/zordered/_SUCCESS")) {
      val src = Tables
        .orders(spark, sfDir)
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          col("o_orderdate"),
          col("o_totalprice"),
          col("o_orderpriority"),
          datediff(col("o_orderdate"), lit("1990-01-01")).cast("long").as("o_day")
        )
      val r = src
        .agg(
          min(col("o_custkey")).as("cmin"),
          max(col("o_custkey")).as("cmax"),
          min(col("o_day")).as("dmin"),
          max(col("o_day")).as("dmax")
        )
        .head()
      val (cmin, cmax, dmin, dmax) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val top = (1L << ZorderBits) - 1
      // floor(double div) is safe here: both operands are exact in a
      // double at any realistic key range, and an off-by-one at a
      // bucket boundary only nudges LAYOUT (the z-value never reaches
      // the gate output or the oracle)
      def bucket(c: Column, lo: Long, hi: Long): Column =
        if (hi == lo) lit(0L)
        else floor((c - lit(lo)) * lit(top) / lit((hi - lo).toDouble)).cast("long")
      val z = zValue(bucket(col("o_custkey"), cmin, cmax), bucket(col("o_day"), dmin, dmax))
      src
        .withColumn("z", z)
        .repartitionByRange(ZorderFiles, col("z"))
        .sortWithinPartitions(col("z"))
        .drop("z", "o_day")
        .write
        .mode("overwrite")
        .parquet(s"$base/zordered")
    }
    spark.read
      .parquet(s"$base/zordered")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.ExactAgg.moneySum(col("o_totalprice")).as("sum_price")
      )
  }

  /** The z-ordered directory [[s14Zorder]] builds — for PlanSpec's
    * skipping assertions (valid after the query has run in this
    * application).
    */
  def s14ZorderDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "zorder", sfDir)}/zordered"

  /** The codecs s18 proves: Spark's parquet default (snappy), the
    * modern archival choice (zstd) and the legacy interop one (gzip).
    */
  val RoundtripCodecs: Seq[String] = Seq("snappy", "zstd", "gzip")

  /** S18: compression-codec roundtrip — the same event slice written as
    * snappy / zstd / gzip parquet and read back with identical
    * aggregates (s1's fidelity contract per codec: a codec that loses,
    * reorders or corrupts anything breaks the hash against the
    * source-table oracle). The codec is a WRITE property — readers
    * auto-detect per column chunk, so a 100 TB table can mix codecs
    * across files/generations and still read as one table (the
    * recompression-free migration path). File-extension proof that each
    * codec was actually applied (not silently defaulted) lives in the
    * spec.
    */
  def s18CodecRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "codec", sfDir)
    val src = Tables
      .events(spark, sfDir)
      .filter(col("event_id") < 1000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    RoundtripCodecs
      .map { c =>
        src.write.mode("overwrite").option("compression", c).parquet(s"$base/$c")
        spark.read
          .parquet(s"$base/$c")
          .agg(
            count(lit(1)).as("n"),
            sum(col("event_id")).as("sum_id"),
            graft.functions.ExactAgg.moneySum(col("value")).as("sum_value")
          )
          .withColumn("codec", lit(c))
      }
      .reduce(_.unionByName(_))
      .select(col("codec"), col("n"), col("sum_id"), col("sum_value"))
  }

  /** The directory a codec's s18 files land in (for the spec's
    * extension check).
    */
  def s18CodecDir(spark: SparkSession, sfDir: String, codec: String): String =
    s"${scratch(spark, "codec", sfDir)}/$codec"

  /** S19: column-statistics collection — the ANALYZE TABLE job: per
    * column, row count, null count, exact distinct count, min and max.
    * These are the stats a cost-based optimizer and a file-skipping
    * layout both feed on. round-14 shape: one independent
    * dedup-aggregate per column (groupBy(value) → count, then one
    * final fold) instead of the single Expand-based multi-distinct —
    * the Expand multiplied the scan by #columns AND carried every
    * column's min/max buffers through the wide-key partial aggregate
    * (measured 2.9 s vs 0.93 s for the split form at sf0.1, guide
    * §2.3: each per-column aggregate map-side-combines to ~distinct
    * values and reads a single pruned parquet column). The table is
    * read once per column — columnar scans make that the cheap side
    * of the trade at any scale; min/max/non-null ride the SAME
    * per-column aggregate so nothing else touches the data.
    */
  def s19ColumnStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    // per-column: distinct count via the grouped frame (NULL group
    // excluded, exactly COUNT(DISTINCT)'s rule), non-null count as the
    // sum of group sizes, min/max over the group keys (≡ row min/max)
    def colStats(c: String): DataFrame =
      li.select(col(c).as("v"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("occ"))
        .agg(
          lit(c).as("col_name"),
          count(when(col("v").isNotNull, 1)).as("n_distinct"),
          coalesce(sum(when(col("v").isNotNull, col("occ"))), lit(0L)).as("n_nonnull"),
          min(col("v")).cast("double").as("min_val"),
          max(col("v")).cast("double").as("max_val")
        )
    val stats = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .map(colStats)
      .reduce(_.unionByName(_))
    li.agg(count(lit(1)).as("n_rows"))
      .crossJoin(stats)
      .select(
        col("col_name"),
        col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("n_distinct"),
        col("min_val"),
        col("max_val")
      )
  }

  // ————————————————————————————————————————————————————————————————————
  // s22: delta-log commit protocol (add/remove actions + checkpoints)
  // ————————————————————————————————————————————————————————————————————

  /** The delta-log pointer file (latest committed version). */
  private val DeltaPointer = "_GRAFT_DELTA"

  /** Commit `version`: write `batch` (if any) under its own data dir,
    * then write the version's DELTA file listing only this commit's
    * actions — `R <path>` lines for removed files, `A <path>` lines
    * for added ones — and flip the pointer. Unlike [[manifestAppend]]
    * (whose manifest re-lists the whole table), a delta commit is
    * O(THIS COMMIT) in both data and metadata — the Delta-Lake
    * `_delta_log` JSON-commit contract, which is what lets a 100 TB
    * table take a million commits without each one rewriting a
    * million-line manifest. Same crash-safety order: data → log →
    * pointer; readers see the old or the new table, never a torn one.
    */
  def deltaCommit(
      spark: SparkSession,
      dir: String,
      version: Long,
      batch: Option[DataFrame],
      removes: Seq[String] = Nil
  ): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val adds = batch match {
      case Some(df) =>
        val dataDir = s"data_v=$version"
        df.write.mode("overwrite").parquet(s"$dir/$dataDir")
        fs.listStatus(new Path(s"$dir/$dataDir"))
          .map(_.getPath.getName)
          .filter(n => n.endsWith(".parquet") || n.endsWith(".snappy.parquet"))
          .sorted
          .map(n => s"$dataDir/$n")
          .toSeq
      case None => Nil
    }
    val lines = removes.map(p => s"R $p") ++ adds.map(p => s"A $p")
    val out = fs.create(new Path(s"$dir/d=$version.txt"), true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val ptr = fs.create(new Path(dir, DeltaPointer), true)
    try ptr.write(version.toString.getBytes("UTF-8"))
    finally ptr.close()
    adds
  }

  /** The committed delta-log version (0 when the table is empty). */
  def deltaVersion(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir, DeltaPointer)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** OPTIMISTIC-CONCURRENCY commit: succeed only if the table is still
    * at `expectedVersion` (the version this writer read before
    * preparing its batch) — otherwise throw, leaving the table
    * untouched; the caller re-reads, revalidates its batch against the
    * interleaved commit, and retries. This is Delta/Iceberg's
    * transaction contract: writers never lock, conflicts surface at
    * commit time. The check-then-write here models the coordinator's
    * compare-and-swap — on a real object store the pointer flip rides
    * a conditional PUT (if-match), on HDFS an atomic rename; the
    * PROTOCOL (version observed → version+1 published, stale writers
    * rejected) is what the spec pins.
    */
  def deltaCommitGuarded(
      spark: SparkSession,
      dir: String,
      expectedVersion: Long,
      batch: Option[DataFrame],
      removes: Seq[String] = Nil
  ): Seq[String] = {
    val at = deltaVersion(spark, dir)
    if (at != expectedVersion)
      throw new java.util.ConcurrentModificationException(
        s"commit conflict: table at version $at, writer expected $expectedVersion — re-read and retry"
      )
    deltaCommit(spark, dir, expectedVersion + 1, batch, removes)
  }

  /** All data files a commit's dir removes — convenience for
    * rewrite-style commits ("replace everything data_v=N added").
    */
  def deltaFilesOf(spark: SparkSession, dir: String, version: Long): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new Path(s"$dir/data_v=$version"))
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") || n.endsWith(".snappy.parquet"))
      .sorted
      .map(n => s"data_v=$version/$n")
      .toSeq
  }

  /** CHECKPOINT at `version`: replay deltas 1..version once and
    * persist the materialized live-file list as `c=<version>.txt` plus
    * a `_last_checkpoint` marker. Readers at or past this version then
    * open ONE checkpoint file + the delta tail after it — O(1)-ish
    * read planning regardless of commit count, the reason Delta Lake
    * checkpoints every N commits (a reader of a million-commit table
    * cannot replay a million JSONs).
    */
  def deltaCheckpoint(spark: SparkSession, dir: String, version: Long): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val (files, _) = resolveDeltaFiles(spark, dir, version)
    val out = fs.create(new Path(s"$dir/c=$version.txt"), true)
    try out.write(files.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val mk = fs.create(new Path(s"$dir/_last_checkpoint"), true)
    try mk.write(version.toString.getBytes("UTF-8"))
    finally mk.close()
  }

  /** Resolve the live data-file set at `version`: start from the
    * newest checkpoint ≤ version (if any), then apply the delta tail
    * in order — adds append, removes drop. Returns (live files, log
    * files actually read) so the spec can assert the checkpoint
    * shortcut: after c=3, reading v4 opens exactly 2 log files.
    */
  def resolveDeltaFiles(spark: SparkSession, dir: String, version: Long): (Seq[String], Seq[String]) = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def readLines(name: String): Seq[String] = {
      val in = fs.open(new Path(s"$dir/$name"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
      finally in.close()
    }
    val ckpt = (version to 1L by -1L).find(v => fs.exists(new Path(s"$dir/c=$v.txt")))
    val (start, opened0) = ckpt match {
      case Some(v) => (readLines(s"c=$v.txt"), Seq(s"c=$v.txt"))
      case None    => (Seq.empty[String], Seq.empty[String])
    }
    val tail = (ckpt.getOrElse(0L) + 1) to version
    val (files, opened) = tail.foldLeft((start, opened0)) { case ((live, op), v) =>
      val actions = readLines(s"d=$v.txt")
      val removed = actions.collect { case l if l.startsWith("R ") => l.drop(2) }.toSet
      val added = actions.collect { case l if l.startsWith("A ") => l.drop(2) }
      (live.filterNot(removed) ++ added, op :+ s"d=$v.txt")
    }
    (files, opened)
  }

  /** Read the delta table at an explicit version (time travel). */
  def readDeltaVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val files = resolveDeltaFiles(spark, dir, version)._1
    spark.read.parquet(files.map(f => s"$dir/$f"): _*)
  }

  /** Read the delta table at the committed pointer. */
  def readDeltaTable(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir, DeltaPointer)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val v =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    readDeltaVersion(spark, dir, v)
  }

  /** ORPHAN-FILE SWEEP over a manifest table: delete every data file
    * under the table dir that no manifest (any version) references —
    * the debris of failed or abandoned writes, invisible to readers
    * (manifests are the only source of truth) but carrying real
    * storage cost at 100 TB. Iceberg's `remove_orphan_files`
    * maintenance job, complementing s13's version-retention vacuum
    * (that deletes EXPIRED history; this deletes files that were never
    * history at all). Committed files are untouchable by construction:
    * the referenced set is the union of every manifest's lines, so a
    * sweep can never lose a byte a reader could see — and a second
    * sweep is a no-op (idempotent). Returns (scanned, referenced,
    * removed) counts for the maintenance log. Real deployments add an
    * age threshold so in-flight writers aren't swept mid-commit; the
    * gate's orphans are abandoned by construction.
    */
  def manifestOrphanSweep(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val referenced = fs
      .listStatus(new Path(dir))
      .filter(s => s.getPath.getName.startsWith("m=") && s.getPath.getName.endsWith(".txt"))
      .flatMap { m =>
        val in = fs.open(m.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList.filter(_.nonEmpty)
        finally in.close()
      }
      .toSet
    val it = fs.listFiles(new Path(dir), true)
    var scanned = 0L
    var removed = 0L
    val root = new Path(dir).toUri.getPath
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        scanned += 1
        val rel = f.toUri.getPath.stripPrefix(root).stripPrefix("/")
        if (!referenced.contains(rel)) {
          fs.delete(f, false)
          removed += 1
        }
      }
    }
    (scanned, referenced.size.toLong, removed)
  }

  /** S24: the orphan sweep through the gate — build a two-commit
    * manifest table, PLANT two abandoned writes (a failed append's
    * data dir and a stray export — real rows, never committed), sweep,
    * and read the table back: the committed union must be intact
    * row-for-row (the oracle recomputes it from the source table) and
    * the planted keys must not appear — a sweep that deletes a
    * committed file breaks rows, one that misses an orphan leaves the
    * planted rows invisible anyway (manifests gate the read), so the
    * physical deletion itself is spec-asserted (files gone, committed
    * files byte-stable, re-sweep removes zero).
    */
  def s24OrphanFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dir = s24OrphanDir(spark, sfDir)
    val marker = new Path(s"${scratch(spark, "orphan", sfDir)}/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      manifestAppend(spark, dir, base.filter(col("o_orderkey") % 3 === 0), 1L)
      manifestAppend(spark, dir, base.filter(col("o_orderkey") % 3 === 1), 2L)
      // two abandoned writes: a crashed append (its data dir exists,
      // no manifest names it) and a stray export under the table dir
      base
        .filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_orderkey", col("o_orderkey") + 70000000L)
        .write
        .mode("overwrite")
        .parquet(s"$dir/data_v=99")
      base.limit(5).write.mode("overwrite").parquet(s"$dir/stray_export")
      manifestOrphanSweep(spark, dir)
      fs.create(marker, true).close()
    }
    readManifestTable(spark, dir)
  }

  /** The s24 table dir (valid after the gate query ran in-app). */
  def s24OrphanDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "orphan", sfDir)}/t"

  // ————————————————————————————————————————————————————————————————————
  // s25: manifest-level column statistics (file skipping before open)
  // ————————————————————————————————————————————————————————————————————

  /** APPEND-commit `batch` as version `version` with PER-FILE column
    * statistics in the manifest: the batch is range-partitioned on
    * `statCol` (so files carry narrow, mostly-disjoint ranges — the
    * layout that makes stats useful), and each manifest line records
    * `path min max`. This is Iceberg/Delta's manifest-stats contract:
    * a reader with a predicate prunes files from the MANIFEST, before
    * any footer or data byte of a skipped file is touched — at 100 TB
    * the difference between planning over metadata and opening a
    * million footers. Build computes min/max by scanning the fresh
    * batch once (a production writer collects them from the parquet
    * footers it just wrote — same numbers, zero extra read).
    */
  def statsAppend(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      version: Long,
      statCol: String,
      files: Int
  ): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = s"data_v=$version"
    batch
      .repartitionByRange(files, col(statCol))
      .sortWithinPartitions(statCol)
      .write
      .mode("overwrite")
      .parquet(s"$dir/$dataDir")
    val names = fs
      .listStatus(new Path(s"$dir/$dataDir"))
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .sorted
    val statLines = names.flatMap { n =>
      val r = spark.read.parquet(s"$dir/$dataDir/$n").agg(min(col(statCol)), max(col(statCol))).head()
      // a zero-row part file (range partitioning can emit one on skewed
      // batches) or an all-null stat column yields NULL aggregates — no
      // stats line, so the file is never listed for the ranged reader
      // (whose residual [lo, hi] filter drops stat-NULL rows anyway);
      // an unguarded getLong would NPE the commit mid-write
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some(s"$dataDir/$n ${r.getLong(0)} ${r.getLong(1)}")
    }
    val prev =
      if (!fs.exists(new Path(s"$dir/sm=${version - 1}.txt"))) Nil
      else {
        val in = fs.open(new Path(s"$dir/sm=${version - 1}.txt"))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
    val out = fs.create(new Path(s"$dir/sm=$version.txt"), true)
    try out.write((prev ++ statLines).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val ptr = fs.create(new Path(dir, "_GRAFT_STATS"), true)
    try ptr.write(version.toString.getBytes("UTF-8"))
    finally ptr.close()
  }

  /** Read the stats table under a [lo, hi] predicate on the stat
    * column: files whose recorded [min, max] misses the interval are
    * pruned FROM THE MANIFEST — never opened. Returns the frame (the
    * residual row-level filter still applies; stats prune files, not
    * rows) and the kept file list for the spec's skipping proof.
    */
  def readStatsTable(spark: SparkSession, dir: String, lo: Long, hi: Long): (DataFrame, Seq[String]) = {
    val p = new Path(dir, "_GRAFT_STATS")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val v =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    val mIn = fs.open(new Path(s"$dir/sm=$v.txt"))
    val lines =
      try scala.io.Source.fromInputStream(mIn, "UTF-8").getLines().toList.filter(_.nonEmpty)
      finally mIn.close()
    val kept = lines.flatMap { l =>
      val Array(path, mn, mx) = l.split(" ", 3)
      if (mx.toLong >= lo && mn.toLong <= hi) Some(path) else None
    }
    // all-files-pruned must still return a frame WITH the table's schema
    // (derived from one manifest-listed file's footer — metadata-only) so
    // downstream column references resolve; a schema-less emptyDataFrame
    // would turn an empty-interval query into an AnalysisException
    val df =
      if (kept.nonEmpty) spark.read.parquet(kept.map(f => s"$dir/$f"): _*)
      else
        lines.headOption match {
          case Some(l) =>
            val schema = spark.read.parquet(s"$dir/${l.split(" ", 3)(0)}").schema
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          case None => spark.emptyDataFrame
        }
    (df, kept)
  }

  /** The s25 table dir (valid after the gate query ran in-app). */
  def s25StatsDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "stats", sfDir)}/t"

  /** S25: MANIFEST STATS + file skipping through the gate — two
    * ranged commits, then a custkey-interval query that must read only
    * the files whose recorded range intersects the interval (spec
    * counts them) and still return exactly the predicate's rows (the
    * oracle recomputes from the source table, so over-pruning loses
    * rows and under-filtering leaks them).
    */
  def s25ManifestStats(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dir = s25StatsDir(spark, sfDir)
    val marker = new Path(s"${scratch(spark, "stats", sfDir)}/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      statsAppend(spark, dir, base.filter(col("o_orderkey") % 2 === 0), 1L, "o_custkey", 8)
      statsAppend(spark, dir, base.filter(col("o_orderkey") % 2 === 1), 2L, "o_custkey", 8)
      fs.create(marker, true).close()
    }
    val (df, _) = readStatsTable(spark, dir, StatsQueryLo, StatsQueryHi)
    df.filter(col("o_custkey") >= StatsQueryLo && col("o_custkey") <= StatsQueryHi)
  }

  /** s25's gate interval (shared with the oracle SQL). */
  val StatsQueryLo = 100L
  val StatsQueryHi = 300L

  /** The delta-log table dir for [[s22DeltaLog]]'s spec assertions
    * (valid after the query has run in the same application).
    */
  def s22DeltaDir(spark: SparkSession, sfDir: String): String =
    s"${scratch(spark, "deltalog", sfDir)}/t"

  /** The s23 generation dirs (valid after the gate query has run in
    * the same application) — gen1 partitioned by month only, gen2 by
    * (month, status).
    */
  def s23Dirs(spark: SparkSession, sfDir: String): (String, String) = {
    val base = scratch(spark, "partevo", sfDir)
    (s"$base/gen1", s"$base/gen2")
  }

  /** S23: PARTITION-SPEC EVOLUTION — the Iceberg contract that a
    * table's partitioning can change WITHOUT rewriting history: orders
    * land first under layout v1 (partitioned by order month), later
    * data under layout v2 (month, status). One logical read spans both
    * generations, and each generation prunes by ITS OWN spec — a
    * month+status predicate skips non-matching month dirs in gen1 and
    * non-matching (month, status) dirs in gen2 (spec asserts the
    * pruned file lists; gen1 rows still evaluate the status filter
    * row-wise, exactly Iceberg's behavior for pre-evolution
    * snapshots). At 100 TB this is how a table re-partitions when the
    * query pattern changes: no 100 TB rewrite, old files keep their
    * old dirs, new files get the better layout, and pruning improves
    * for new data immediately. The gate reads month 3 / status F
    * across both generations; the oracle recomputes from the source
    * table, so a generation dropped, double-read, or mis-pruned breaks
    * the match.
    */
  def s23PartitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val (gen1, gen2) = s23Dirs(spark, sfDir)
    val marker = new Path(s"${scratch(spark, "partevo", sfDir)}/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    val base = Tables
      .orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        col("o_orderstatus"),
        col("o_totalprice"),
        month(col("o_orderdate")).as("p_m")
      )
    if (!fs.exists(marker)) {
      base.filter(col("o_orderkey") % 2 === 0).write.partitionBy("p_m").mode("overwrite").parquet(gen1)
      base
        .filter(col("o_orderkey") % 2 === 1)
        .write
        .partitionBy("p_m", "o_orderstatus")
        .mode("overwrite")
        .parquet(gen2)
      fs.create(marker, true).close()
    }
    // each generation reads through its own layout; the union presents
    // one logical table (columns re-ordered to a common shape because
    // partition columns come back LAST from a partitioned read)
    val cols = Seq("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice", "p_m").map(col)
    val g1 = spark.read.parquet(gen1).select(cols: _*)
    val g2 = spark.read.parquet(gen2).select(cols: _*)
    g1.unionByName(g2)
      .filter(col("p_m") === 3 && col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price")
      )
  }

  /** S22: DELTA-LOG commits with checkpoint compaction — the
    * action-log half of the table-format story (s17's manifests
    * snapshot the full file list per commit; real Delta/Iceberg logs
    * record per-commit add/remove ACTIONS and periodically checkpoint).
    * The gate drives the protocol through its four canonical commit
    * shapes: v1 CREATE (even orderkeys), v2 APPEND (odd orderkeys),
    * v3 UPDATE-BY-REWRITE (v1's files removed, evens re-added with a
    * rewritten priority — file-level copy-on-write, exactly how
    * UPDATE executes on immutable parquet), CHECKPOINT at 3, v4 APPEND
    * (shifted slice). The read resolves checkpoint + delta tail and
    * must reproduce the expected final table row-for-row; time travel
    * to any version still replays from scratch. The oracle recomputes
    * the same final state relationally, so a lost remove, a
    * double-applied add, or a checkpoint that froze stale files all
    * break rows+hash.
    */
  def s22DeltaLog(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val dir = s22DeltaDir(spark, sfDir)
    val marker = new Path(s"${scratch(spark, "deltalog", sfDir)}/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      deltaCommit(spark, dir, 1L, Some(base.filter(col("o_orderkey") % 2 === 0)))
      deltaCommit(spark, dir, 2L, Some(base.filter(col("o_orderkey") % 2 === 1)))
      deltaCommit(
        spark,
        dir,
        3L,
        Some(
          base
            .filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_orderpriority", lit("REWRITTEN"))
        ),
        removes = deltaFilesOf(spark, dir, 1L)
      )
      deltaCheckpoint(spark, dir, 3L)
      deltaCommit(
        spark,
        dir,
        4L,
        Some(
          base.filter(col("o_orderkey") % 101 === 0).withColumn("o_orderkey", col("o_orderkey") + 50000000L)
        )
      )
      fs.create(marker, true).close()
    }
    readDeltaTable(spark, dir)
  }

  /** S27: DYNAMIC PARTITION PRUNING — the runtime scan-reduction that
    * makes star-schema joins viable at 100 TB: the fact table is
    * partitioned on the join key, the dimension's selective filter is
    * only known at run time, and Catalyst injects the dim's surviving
    * keys as a runtime partition filter on the fact scan (reusing the
    * join's own broadcast), so pruned partitions are never listed or
    * opened. The gate lays out orders partitioned by order-year,
    * joins a small year-dimension filtered to a third of the years,
    * and aggregates — the oracle recomputes relationally, and the
    * PlanSpec test asserts the `dynamicpruning` expression landed in
    * the fact scan's partition filters AND that disabling DPP is the
    * only way to make the scan read every partition.
    */
  def s27DynamicPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "dpp", sfDir)
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    val marker = new Path(s"$base/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val src = Tables
        .orders(spark, sfDir)
        .select(
          col("o_orderkey"),
          col("o_totalprice"),
          col("o_orderpriority"),
          year(col("o_orderdate")).as("o_year")
        )
      src.write.mode("overwrite").partitionBy("o_year").parquet(fact)
      src
        .select(col("o_year"))
        .distinct()
        // an explicit equality literal: DPP's isLikelySelective check
        // admits comparisons, not bare boolean attributes
        .withColumn("tag", when(col("o_year") % 3 === 0, lit("KEEP")).otherwise(lit("DROP")))
        .write
        .mode("overwrite")
        .parquet(dim)
      fs.create(marker, true).close()
    }
    spark.read
      .parquet(fact)
      .join(broadcast(spark.read.parquet(dim).filter(col("tag") === "KEEP")), Seq("o_year"))
      .groupBy(col("o_year"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.ExactAgg.moneySum(col("o_totalprice")).as("sum_price")
      )
  }

  /** S28: EQUALITY DELETES with sequence semantics — the other
    * Iceberg v2 delete flavor (s26 carries the positional one): the
    * sidecar stores KEY VALUES, so it applies to any data file
    * written BEFORE the delete (sequence < delete sequence) without
    * knowing row positions — and, critically, NOT to later appends:
    * a key re-inserted after the delete must survive. The gate
    * commits base data at sequence 1, an equality-delete file at
    * sequence 2, and a re-insert append at sequence 3 that writes a
    * subset of the deleted keys back with a new status; the read path
    * is one broadcast LEFT ANTI join on (key equal AND delete-seq >
    * data-seq). An engine that ignores sequencing kills the
    * re-inserted rows; one that ignores the delete resurrects old
    * rows — both break the row-exact oracle.
    */
  def s28EqualityDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "eqdel", sfDir)
    val tbl = s"$base/t"
    val edDir = s"$base/ed"
    val marker = new Path(s"$base/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val src = Tables
        .orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      src.write.mode("overwrite").parquet(s"$tbl/seq=1")
      src
        .filter(col("o_orderkey") % 11 === 5)
        .select(col("o_orderkey").as("del_key"), lit(2L).as("dseq"))
        .write
        .mode("overwrite")
        .parquet(edDir)
      src
        .filter(col("o_orderkey") % 22 === 5)
        .withColumn("o_orderstatus", lit("R"))
        .write
        .mode("overwrite")
        .parquet(s"$tbl/seq=3")
      fs.create(marker, true).close()
    }
    val data = spark.read.parquet(tbl)
    val dels = spark.read.parquet(edDir)
    data
      .join(
        broadcast(dels),
        data("o_orderkey") === dels("del_key") && dels("dseq") > data("seq"),
        "left_anti"
      )
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
  }

  /** s26 delete predicate — crosses every bucket, deletes ≈ 1/7 of
    * the table, and is key-independent of the bucket function so a
    * positional mixup cannot cancel out.
    */
  val PosDeleteMod = 7L
  val PosDeleteRem = 3L
  val PosDeleteBuckets = 4

  /** S26: merge-on-read POSITION DELETES — the deletion-vector read
    * path every modern lakehouse serves (Delta DVs, Iceberg v2
    * position delete files): a delete commits only a tiny (file, row
    * position) sidecar, and readers subtract it at scan time instead
    * of rewriting data files. The table is laid out as one sorted
    * file per bucket so positions are deterministic; the DV is BUILT
    * the way production engines build it — read the table back with
    * the hidden parquet `_metadata.row_index` column and record the
    * positions of rows matching the delete predicate; the GATE then
    * re-reads base + DV and anti-joins on (bucket, row_index),
    * emitting the surviving rows row-for-row. The oracle reconstructs
    * positions relationally (rank by key within bucket), so the
    * parquet row index diverging from the written sort order, a
    * dropped survivor, or an undeleted row all break the hash. Scale:
    * the DV is ∝ deletes and broadcasts against the base scan — the
    * whole point of merge-on-read is that the 100 TB base is never
    * rewritten; the anti-join is the only added cost.
    */
  def s26PositionDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scratch(spark, "posdel", sfDir)
    val tbl = s"$base/t"
    val dvDir = s"$base/dv"
    val marker = new Path(s"$base/done")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      val src = Tables
        .orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      (0 until PosDeleteBuckets).foreach { b =>
        src
          .filter(col("o_orderkey") % PosDeleteBuckets === b)
          .repartition(1)
          .sortWithinPartitions("o_orderkey")
          .write
          .mode("overwrite")
          .parquet(s"$tbl/bucket=$b")
      }
      spark.read
        .parquet(tbl)
        .select(col("o_custkey"), col("bucket"), col("_metadata").getField("row_index").as("pos"))
        .filter(col("o_custkey") % PosDeleteMod === PosDeleteRem)
        .select(col("bucket"), col("pos"))
        .write
        .mode("overwrite")
        .parquet(dvDir)
      fs.create(marker, true).close()
    }
    val dv = spark.read.parquet(dvDir)
    spark.read
      .parquet(tbl)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice"),
        col("o_orderstatus"),
        col("bucket"),
        col("_metadata").getField("row_index").as("pos")
      )
      .join(broadcast(dv), Seq("bucket", "pos"), "left_anti")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
  }
}
