package graft

import org.apache.spark.sql.DataFrame

import graft.operators._

/** Physical-plan audit: the properties that decide whether these
  * operators survive a 100x scale-up — dims broadcast, filters reach
  * the parquet scan, columns prune, and nothing degenerates into a
  * cartesian product (except c5's intentional brute-force baseline).
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Queries whose physical plan may contain an interpreted
    * higher-order-function lambda (`lambdafunction(`), each with the
    * reason it is allowed to keep one. Everything else must stay
    * lambda-free: Spark's transform/filter/aggregate/exists are
    * CodegenFallback — an interpreted per-element closure on a hot
    * path — and rounds 14/15 swept them into codegen'd kernels
    * (TokenKernels / TextStatKernels / PqKernels / CountBelow). This
    * lint keeps a future round from quietly reintroducing one.
    */
  private val lambdaAllowed: Map[String, String] = Map(
    // b45_listagg's per-group name-sort transform lives inside the
    // aggregate result expression and does not surface in
    // executedPlan.toString — it is per-GROUP output work over ≤5 TopK
    // survivors either way, so it needs no entry here
    "c56_bpe_pairs" -> "per-WORD substr positions over the deduplicated vocabulary (bounded by alphabet/word length), not the corpus token stream",
    "c111_unigram_segment" -> "amortized trained-segmenter serve: the DP fold runs over the ≤43-row vocab array per doc, charged per (app, sfDir)",
    "c65_doc_embedding" -> "per-CHUNK md5/conv staging (stride 24 → ~1/24th of tokens); the md5 digest dominates each lambda body",
    "c77_source_drift" -> "same per-chunk md5Embed staging as c65, over two bounded halves",
    "c43_chunk_dedup_rewrite" -> "per-CHUNK removed-list membership + slice reassembly; chunk count and removed list are both corpus-bounded"
  )

  test("lint: no interpreted lambda (lambdafunction) in any query plan outside the documented allowlist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p =
        try plan(fn(spark, sf0001))
        catch { case e: Throwable => fail(s"$name: plan construction failed: ${e.getMessage}") }
      if (p.contains("lambdafunction(") && !lambdaAllowed.contains(name)) Some(name) else None
    }
    assert(
      offenders.isEmpty,
      s"interpreted HOF lambda reintroduced on: ${offenders.mkString(", ")} — " +
        "replace with a codegen'd kernel (see graft.plans.TextStatKernels) or document it in lambdaAllowed"
    )
    // the allowlist must not go stale: every entry still has a lambda
    val stale = lambdaAllowed.keys.toSeq.sorted.filterNot { name =>
      plan(SparkEntry.queries(name)(spark, sf0001)).contains("lambdafunction(")
    }
    assert(stale.isEmpty, s"allowlist entries no longer needed (remove them): ${stale.mkString(", ")}")
  }

  test("b1: filter and projection pushed to the parquet scan") {
    val p = plan(Relational.b1AggPricing(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey")) // unused columns pruned
  }

  test("b2/b3: dimension joins broadcast, no cartesian") {
    Seq(Relational.b2JoinTopn _, Relational.b3MultiJoin _).foreach { q =>
      val p = plan(q(spark, sf0001))
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("b4: semi/anti joins planned as LeftSemi/LeftAnti (no row blowup)") {
    val p = plan(Relational.b4SemiAntiJoin(spark, sf0001))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("a7: stream-dim enrichment broadcasts the dim, events never shuffle pre-agg") {
    val p = plan(EventStreamOps.a7StreamEnrichDim(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("whole-stage codegen active on the scan+agg pipeline") {
    val df = Relational.b1AggPricing(spark, sf0001)
    df.collect() // AQE only annotates codegen stages in the final executed plan
    val p = plan(df)
    // codegen stages print as "*(n)" in the executed plan
    assert(p.contains("*("))
    // and aggregation is partial (map-side) before the exchange
    assert(p.contains("partial_sum"))
  }

  test("dedup family: no cartesian products anywhere") {
    Seq(
      TextDedup.c1DedupExact _,
      TextDedup.c2NgramJaccard _,
      TextDedup.c3MinHashLsh _,
      TextDedup.c4SimHash _
    ).foreach { q =>
      val p = plan(q(spark, sf0001))
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    }
  }

  test("c6: queries broadcast against candidates (stream side never shuffles)") {
    val p = plan(VectorOps.c6AnnBruteforce(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("c7: LSH bucket join is a hash join on the bucket key, not a cross join") {
    val p = plan(VectorOps.c7AnnLsh(spark, sf0001))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Join") )
  }

  test("a11: Ev-Pv join is a pure equi-join on the composite (user, pv) key") {
    val df = EventStreamOps.a11PvEquiJoin(spark, sf0001)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    // the reference's key structure: every join condition is pure equality
    // (the interval filter runs BEFORE the join, not inside it)
    joins.foreach { j =>
      val cond = j.condition.map(_.toString).getOrElse("")
      assert(!cond.contains(">=") && !cond.contains("<="),
        s"range predicate leaked into the join condition: $cond")
    }
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("a12: interval join is a keyed equi-join on chunks, never a nested loop") {
    val p = plan(EventStreamOps.a12RangeJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "the chunk bucketization exists precisely so the interval predicate never plans as a cross join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
  }

  test("a12: no-broadcast fallback shuffles BOTH sides on chunk — still no nested loop") {
    // model a large incident side: kill auto-broadcast so the dropped
    // hint must plan the documented chunk-keyed shuffle join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(EventStreamOps.a12RangeJoin(spark, sf0001, broadcastIncidents = false))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "interval predicate degenerated into a nested loop without the broadcast hint")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "expected the chunk-keyed shuffle join in the fallback plan")
      assert(!p.contains("BroadcastHashJoin"),
        "incident side still broadcast — the fallback parameter is not reaching the join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a12: fallback plan returns the same rows as the broadcast plan") {
    val a = EventStreamOps.a12RangeJoin(spark, sf001).collect().toSet
    val b = EventStreamOps.a12RangeJoin(spark, sf001, broadcastIncidents = false).collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("c21: eval shingles broadcast against the streaming corpus side") {
    val df = Sampling.c21Decontamination(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "benchmark-sized eval set must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("s9: mergeInto plans a keyed LEFT ANTI join — never a full-outer nested loop") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_totalprice"))
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
    val df = graft.sources.Formats.mergeInto(base, updates, Seq("o_orderkey"))
    df.collect()
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"anti-join missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("s26: position deletes — DV broadcasts into a LEFT ANTI probe; survivors are exactly the non-deleted rows") {
    import org.apache.spark.sql.functions.col
    val df = graft.sources.Formats.s26PositionDeletes(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"merge-on-read subtract missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the deletes-sized DV must broadcast against the base scan:\n$p")
    // the DV was built through _metadata.row_index — survivors must be
    // row-for-row the predicate complement, so a positional mixup
    // (row_index diverging from the written sort order) deletes the
    // WRONG rows and fails here even when counts agree
    val survivors = df.collect().map(_.getLong(0)).toSet
    val expected = graft.sources.Tables
      .orders(spark, sf0001)
      .filter(!(col("o_custkey") % graft.sources.Formats.PosDeleteMod === graft.sources.Formats.PosDeleteRem))
      .select(col("o_orderkey"))
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(survivors == expected, s"missed=${(expected -- survivors).take(3)} extra=${(survivors -- expected).take(3)}")
  }

  test("s27: dynamic partition pruning lands in the fact scan's partition filters; pruning never changes results") {
    import org.apache.spark.sql.functions.{col, year}
    val df = graft.sources.Formats.s27DynamicPruning(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("dynamicpruning"), s"runtime partition filter missing from the fact scan:\n$p")
    // result parity with the relational recompute — pruning is a scan
    // optimization, never a semantics change
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val expected = graft.sources.Tables
      .orders(spark, sf0001)
      .select(year(col("o_orderdate")).as("y"))
      .filter(col("y") % 3 === 0)
      .groupBy(col("y"))
      .count()
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .toMap
    assert(got.view.mapValues(identity).toMap.keySet == expected.keySet)
    expected.foreach { case (y, n) => assert(got(y) == n, s"year $y count diverged under pruning") }
  }

  test("s28: equality deletes — broadcast anti with the sequence guard; re-inserts survive, stale rows die") {
    import org.apache.spark.sql.functions.col
    val df = graft.sources.Formats.s28EqualityDeletes(spark, sf0001)
    val p = { df.collect(); plan(df) }
    assert(p.contains("LeftAnti"), s"equality-delete subtract missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the deletes-sized sidecar must broadcast:\n$p")
    val rows = df.collect().map(r => (r.getLong(0), r.getString(3)))
    val byKey = rows.groupBy(_._1)
    val keys = graft.sources.Tables.orders(spark, sf0001).select(col("o_orderkey")).collect().map(_.getLong(0))
    keys.foreach { k =>
      if (k % 22 == 5)
        // deleted at seq 2, re-inserted at seq 3: exactly one survivor, the new row
        assert(byKey(k).map(_._2).toSeq == Seq("R"), s"re-inserted key $k lost or duplicated: ${byKey.get(k)}")
      else if (k % 11 == 5)
        assert(!byKey.contains(k), s"deleted key $k resurrected")
      else
        assert(byKey(k).length == 1 && byKey(k).head._2 != "R", s"untouched key $k mutated: ${byKey.get(k)}")
    }
  }

  test("a14: full-outer windowed join decomposes into keyed joins — no nested loop") {
    val df = EventStreamOps.a14OuterJoin(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"full-outer degenerated into a cross join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"full-outer degenerated into a nested loop:\n$p")
  }

  test("c37: importance scoring pass is a pure narrow scan — classifier is a broadcast literal, no exchange") {
    val df = TextAnalysis.c37ImportanceScore(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"),
      s"the scoring pass must not shuffle the corpus (the classifier is driver-built):\n$p")
    assert(!p.contains("Join"), s"the scoring pass must not join:\n$p")
  }

  test("c36: temperature mix never shuffles the corpus — histogram aggregates, thresholds broadcast") {
    val df = Sampling.c36TemperatureMix(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"per-lang thresholds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side must not shuffle for the join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("c35: SemDeDup pair join is keyed on the cluster id — work is cluster-bound, never corpus²") {
    val df = VectorOps.c35SemDedup(spark, sf0001)
    df.collect()
    val p = plan(df)
    // the only cross join allowed is the broadcast of the 25 centroids;
    // the PAIR stage must meet on list_id
    assert(!p.contains("CartesianProduct"), s"pair stage degenerated into a cross join:\n$p")
    assert(p.contains("list_id"), p)
  }

  test("c17: embedding near-dup LSH path has no nested-loop stage at any n") {
    val p = plan(VectorOps.c17EmbeddingDedupLsh(spark, sf0001))
    assert(!p.contains("CartesianProduct"), "candidate generation degenerated into a cross join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "candidate generation degenerated into a nested loop")
  }

  test("b9: no window partitioned only by the ~5-value segment key") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = Relational.b9Percentiles(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    // the only window allowed sorts a single located bucket — partition
    // arity ≥ 2 means no task ever sorts a whole segment
    windows.foreach(w =>
      assert(w.partitionSpec.length >= 2,
        s"window partitioned by ${w.partitionSpec.mkString(",")} sorts entire segments in ~5 tasks"))
  }

  test("b5: the declarative rank query plans the native TopK prune under graft's rewrite") {
    // mirror a GraftSession: the rewrite registered through the runtime
    // extension point (idempotent — GraftSql.register does the same)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKPerKey.RowNumberLimitToTopK)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.TopKPerKey.RowNumberLimitToTopK
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKey.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKey.TopKPerKeyStrategy
    }
    val df = Relational.b5WindowRank(spark, sf0001)
    val p = plan(df)
    assert(p.contains("TopKPerKey "),
      s"rank-limit rewrite missed — the final window would sort whole classes:\n$p")
    assert(df.collect().length <= 15)
  }

  test("b17: native top-k plans as partial heap -> exchange -> final heap, no sort") {
    val df = Relational.b17TopkNative(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("TopKPerKey "), p.linesIterator.take(8).mkString("\n"))
    // partial + final pair with the key exchange between them (AQE
    // prints the pair once per plan section)
    assert("TopKPerKey \\[".r.findAllIn(p).size >= 2)
    assert(p.contains(", true") && p.contains(", false"))
    assert(p.contains("Exchange hashpartitioning"))
    // and no sort operator anywhere — the heap replaces it
    assert(!p.contains("Sort "), "native top-k must not sort key partitions")
  }

  test("TopKPerKey equals the rank-window formulation on randomized data (10 seeded trials)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val rnd = new scala.util.Random(123)
    (1 to 10).foreach { trial =>
      val nKeys = 1 + rnd.nextInt(8)
      val n = 200 + rnd.nextInt(2000)
      val k = 1 + rnd.nextInt(7)
      // duplicate values on purpose — the unique id must break ties
      val rows = (0 until n).map(i => (s"k${rnd.nextInt(nKeys)}", rnd.nextInt(50).toDouble, i.toLong))
      val df = rows.toDF("key", "value", "id").repartition(1 + rnd.nextInt(7))
      val native = graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), Seq(("value", false), ("id", true)), k)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val w = W.partitionBy(col("key")).orderBy(col("value").desc, col("id"))
      val windowed = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("key"), col("value"), col("id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(native == windowed, s"trial $trial (nKeys=$nKeys n=$n k=$k): " +
        s"missing=${(windowed -- native).take(3)} extra=${(native -- windowed).take(3)}")
    }
  }

  test("b21: the declarative RANK query plans the native ties-aware TopK prune") {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKPerKey.RowNumberLimitToTopK)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.TopKPerKey.RowNumberLimitToTopK
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKey.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKey.TopKPerKeyStrategy
    }
    val df = Relational.b21RankTies(spark, sf0001)
    val p = plan(df)
    assert(p.contains("TopKPerKey "),
      s"rank-limit rewrite missed — the final window would sort whole flags:\n$p")
    val rows = df.collect()
    // ties at the boundary: rank <= 3 over coarse quantities keeps far
    // more than 3 rows per flag, and every kept row has rk in 1..3
    assert(rows.length > 9, s"expected boundary ties, got ${rows.length} rows")
    assert(rows.forall(_.getInt(1) <= 3))
  }

  test("b51: the declarative DENSE_RANK query plans the native group-heap TopK prune") {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKPerKey.RowNumberLimitToTopK)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.TopKPerKey.RowNumberLimitToTopK
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKey.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKey.TopKPerKeyStrategy
    }
    val df = Relational.b51DenseTopk(spark, sf0001)
    val p = plan(df)
    assert(p.contains("TopKPerKey "),
      s"dense-rank-limit rewrite missed — the final window would sort whole partitions:\n$p")
    val rows = df.collect()
    // dense_rank keeps EVERY row in the first 3 distinct quantity values
    // per linestatus — far more than 3 rows per partition, drk in 1..3,
    // and per partition exactly 3 distinct quantities survive
    assert(rows.length > 9, s"expected whole tied groups, got ${rows.length} rows")
    assert(rows.forall(_.getInt(1) <= 3))
    val perPartition = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(4)).distinct.size)
    assert(perPartition.values.forall(_ == 3), s"distinct quantities per partition: ${perPartition.toMap}")
  }

  test("TopKPerKey rank/dense_rank modes equal the window formulations on randomized data (10 seeded trials)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val rnd = new scala.util.Random(321)
    (1 to 10).foreach { trial =>
      val nKeys = 1 + rnd.nextInt(6)
      val n = 200 + rnd.nextInt(1500)
      val k = 1 + rnd.nextInt(5)
      // VERY coarse values (≤ 12 distinct) — boundary ties and whole
      // tied groups are the point; no unique tiebreak on purpose
      val rows = (0 until n).map(i => (s"k${rnd.nextInt(nKeys)}", rnd.nextInt(12).toDouble, i.toLong))
      val df = rows.toDF("key", "value", "id").repartition(1 + rnd.nextInt(5))
      val w = W.partitionBy(col("key")).orderBy(col("value").desc)
      def collected(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val nativeRank = collected(graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), Seq(("value", false)), k, mode = graft.plans.TopKPerKey.RankMode))
      val windowRank = collected(df.withColumn("rk", rank().over(w)).filter(col("rk") <= k)
        .select(col("key"), col("value"), col("id")))
      assert(nativeRank == windowRank, s"trial $trial rank (nKeys=$nKeys n=$n k=$k): " +
        s"missing=${(windowRank -- nativeRank).take(3)} extra=${(nativeRank -- windowRank).take(3)}")
      val nativeDense = collected(graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), Seq(("value", false)), k, mode = graft.plans.TopKPerKey.DenseRankMode))
      val windowDense = collected(df.withColumn("dk", dense_rank().over(w)).filter(col("dk") <= k)
        .select(col("key"), col("value"), col("id")))
      assert(nativeDense == windowDense, s"trial $trial dense (nKeys=$nKeys n=$n k=$k): " +
        s"missing=${(windowDense -- nativeDense).take(3)} extra=${(nativeDense -- windowDense).take(3)}")
    }
  }

  test("TopKPerKey rank mode stays exact under partial flush and sortedFinal") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    spark.conf.set(graft.plans.TopKPerKey.MaxKeysConfKey, "5")
    try {
      val rnd = new scala.util.Random(99)
      val rows = (0 until 4000).map(i => (s"k${rnd.nextInt(150)}", rnd.nextInt(8).toDouble, i.toLong))
      val df = rows.toDF("key", "value", "id").repartition(4)
      val native = graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), Seq(("value", false)), 3,
          sortedFinal = true, mode = graft.plans.TopKPerKey.RankMode)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val w = W.partitionBy(col("key")).orderBy(col("value").desc)
      val windowed = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
        .select(col("key"), col("value"), col("id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(native == windowed,
        s"flush epochs broke rank exactness: missing=${(windowed -- native).take(3)} extra=${(native -- windowed).take(3)}")
    } finally spark.conf.unset(graft.plans.TopKPerKey.MaxKeysConfKey)
  }

  test("TopKPerKey dense mode stays exact under partial flush and sortedFinal") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    spark.conf.set(graft.plans.TopKPerKey.MaxKeysConfKey, "5")
    try {
      val rnd = new scala.util.Random(271)
      val rows = (0 until 4000).map(i => (s"k${rnd.nextInt(150)}", rnd.nextInt(8).toDouble, i.toLong))
      val df = rows.toDF("key", "value", "id").repartition(4)
      val native = graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), Seq(("value", false)), 3,
          sortedFinal = true, mode = graft.plans.TopKPerKey.DenseRankMode)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val w = W.partitionBy(col("key")).orderBy(col("value").desc)
      val windowed = df.withColumn("dk", dense_rank().over(w)).filter(col("dk") <= 3)
        .select(col("key"), col("value"), col("id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(native == windowed,
        s"flush epochs broke dense exactness: missing=${(windowed -- native).take(3)} extra=${(native -- windowed).take(3)}")
    } finally spark.conf.unset(graft.plans.TopKPerKey.MaxKeysConfKey)
  }

  test("dense_rank SQL shape rewrites to the native prune and matches the declarative result") {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.TopKPerKey.RowNumberLimitToTopK)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.TopKPerKey.RowNumberLimitToTopK
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKey.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKey.TopKPerKeyStrategy
    }
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 1000).map(i => (s"k${rnd.nextInt(4)}", rnd.nextInt(10).toDouble, i.toLong))
    val df = rows.toDF("key", "value", "id").repartition(3)
    val w = W.partitionBy(col("key")).orderBy(col("value").desc)
    val pruned = df.withColumn("dk", dense_rank().over(w)).filter(col("dk") <= 2)
    assert(plan(pruned).contains("TopKPerKey "), s"dense_rank rewrite missed:\n${plan(pruned)}")
    val got = pruned.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
    // recomputed dense_rank values on the survivors must equal the
    // unrewritten window's (downward-closed prune keeps every earlier group)
    val expected = {
      val prev = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations =
        prev.filterNot(_ == graft.plans.TopKPerKey.RowNumberLimitToTopK)
      try df.withColumn("dk", dense_rank().over(w)).filter(col("dk") <= 2)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
      finally spark.experimental.extraOptimizations = prev
    }
    assert(got == expected)
  }

  test("TopKPerKey sortedFinal mode equals hash mode and plans the spillable key sort") {
    val sparkS = spark
    import sparkS.implicits._
    val rnd = new scala.util.Random(77)
    val rows = (0 until 3000).map(i => (s"k${rnd.nextInt(500)}", rnd.nextInt(40).toDouble, i.toLong))
    val df = rows.toDF("key", "value", "id").repartition(6)
    val hash = graft.plans.TopKPerKey
      .topKPerKey(df, Seq("key"), Seq(("value", false), ("id", true)), 3)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val sorted = graft.plans.TopKPerKey
      .topKPerKey(df, Seq("key"), Seq(("value", false), ("id", true)), 3, sortedFinal = true)
    val sortedRows = sorted.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(hash == sortedRows)
    // the final phase runs over a key sort (Spark's spilling external
    // sort) — O(k) operator memory at any key cardinality
    assert(plan(sorted).contains("Sort "), "sortedFinal must require the key-sorted child")
  }

  test("TopKPerKey partial flush-on-overflow stays exact (maxKeysInMemory=7)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    spark.conf.set(graft.plans.TopKPerKey.MaxKeysConfKey, "7")
    try {
      val rnd = new scala.util.Random(55)
      // 200 distinct keys vs a 7-heap cap → dozens of flush epochs per task
      val rows = (0 until 4000).map(i => (s"k${rnd.nextInt(200)}", rnd.nextInt(30).toDouble, i.toLong))
      val df = rows.toDF("key", "value", "id").repartition(5)
      val native = graft.plans.TopKPerKey
        .topKPerKey(df, Seq("key"), Seq(("value", false), ("id", true)), 4, sortedFinal = true)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val w = W.partitionBy(col("key")).orderBy(col("value").desc, col("id"))
      val windowed = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
        .select(col("key"), col("value"), col("id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      assert(native == windowed,
        s"flush epochs broke exactness: missing=${(windowed -- native).take(3)} extra=${(native -- windowed).take(3)}")
    } finally spark.conf.unset(graft.plans.TopKPerKey.MaxKeysConfKey)
  }

  test("TopKPerKey reports numOutputRows SQL metrics") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val sparkS = spark
    import sparkS.implicits._
    // AQE wraps finished stages in leaf QueryStageExec nodes that plain
    // collect() cannot descend into — turn it off to inspect the execs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (top, execs) =
      try {
        val df = (0 until 100).map(i => (s"k${i % 4}", i.toDouble, i.toLong)).toDF("key", "value", "id")
        val t = graft.plans.TopKPerKey.topKPerKey(df, Seq("key"), Seq(("value", false), ("id", true)), 2)
        assert(t.collect().length == 8)
        def unwrap(p: SparkPlan): SparkPlan = p match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case o => o
        }
        (t, unwrap(t.queryExecution.executedPlan).collect {
          case x: graft.plans.TopKPerKey.TopKPerKeyExec => x
        })
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(execs.nonEmpty, "no TopKPerKeyExec in the executed plan")
    val finalExec = execs.find(!_.partial)
    assert(finalExec.exists(_.metrics("numOutputRows").value == 8),
      s"final numOutputRows = ${finalExec.map(_.metrics("numOutputRows").value)}")
  }

  test("topKPerKey resolves case-insensitively and rejects ambiguity") {
    import org.apache.spark.sql.functions.col
    val sparkS = spark
    import sparkS.implicits._
    val df = (0 until 10).map(i => (s"k${i % 2}", i.toLong)).toDF("key", "id")
    // session default resolver is case-insensitive → KEY resolves
    val r = graft.plans.TopKPerKey.topKPerKey(df, Seq("KEY"), Seq(("ID", false)), 1).collect()
    assert(r.length == 2)
    val dup = df.select(col("key"), col("id").as("x"), col("id").cast("int").as("X"))
    val ex = intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.topKPerKey(dup, Seq("key"), Seq(("x", false)), 1)
    }
    assert(ex.getMessage.contains("ambiguous"))
  }

  test("b17: native top-k result equals the rank-window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val native = Relational.b17TopkNative(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val windowed = graft.sources.Tables.orders(spark, sf0001)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(native == windowed)
  }

  test("c40: shuffled packing keeps the two-phase shape — no whole-corpus single-partition window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = Sampling.c40ShuffledPacking(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        "global running-offset window must sit over the bucket aggregate, not the corpus")
    }
  }

  test("c41: sketch pass is a two-phase bounded aggregate; exact pass prunes to candidates pre-shuffle") {
    import org.apache.spark.sql.functions.{col, count, explode, lit}
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val sketchPlan = graft.sources.Tables
      .documents(spark, sf0001)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .agg(graft.plans.FreqItemsAgg.freqItemCandidates(col("token"), 256), count(lit(1)))
      .queryExecution
      .executedPlan
      .toString
    // partial + final ObjectHashAggregate = map-side combine with a
    // bounded (≤ capacity-entry) summary per task, never the vocab tail
    assert("ObjectHashAggregate".r.findAllMatchIn(sketchPlan).size >= 2, sketchPlan)
    assert(sketchPlan.contains("partial_freq_item_candidates"), sketchPlan)
    val exact = TextAnalysis.c41HeavyHitters(spark, sf0001)
    val candFilters = exact.queryExecution.optimizedPlan.collect {
      case f: LFilter if f.condition.exists {
            case _: In | _: InSet => true
            case _                => false
          } =>
        f
    }
    assert(candFilters.nonEmpty, "exact pass must filter to sketch candidates before counting")
  }

  test("s10: dynamic partition overwrite rewrites only partitions present in the batch") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_dynover_spec").toString
    try {
      Seq((1, 10, "a"), (2, 20, "b"))
        .toDF("k", "v", "p")
        .write.mode("overwrite").partitionBy("p").parquet(dir)
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def listing(p: String) =
        fs.listStatus(new Path(s"$dir/p=$p")).map(s => (s.getPath.getName, s.getModificationTime)).toSet
      val aBefore = listing("a")
      Seq((3, 30, "b"))
        .toDF("k", "v", "p")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("p").parquet(dir)
      // untouched partition: same files, same mtimes — no rewrite
      assert(listing("a") == aBefore)
      // present partition fully replaced, not appended
      val back = spark.read.parquet(dir).select("k", "v", "p").as[(Int, Int, String)].collect().toSet
      assert(back == Set((1, 10, "a"), (3, 30, "b")))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
  }

  test("c45: quality-canonical selection plans the native top-k, one survivor per cluster") {
    import org.apache.spark.sql.functions.col
    val df = TextAnalysis.c45QualityCanonical(spark, sf0001)
    val rows = df.collect()
    // native heap argmax, not a window sort over cluster partitions
    assert(plan(df).contains("TopKPerKey"), plan(df))
    // exactly one survivor per cluster, and survivors span every doc
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster.values.forall(_.length == 1))
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    val clustered = TextAnalysis.c16DedupClusters(spark, sf0001).collect()
    val nClusters = clustered.map(_.getAs[Long]("cluster_id")).distinct.length
    val nInClusters = clustered.length
    assert(rows.length == nDocs - nInClusters + nClusters)
    // the survivor is the argmax-quality member, not the min-id member:
    // verify against a direct per-cluster max computed row-at-a-time
    val quality = TextAnalysis
      .c9TextQuality(spark, sf0001)
      .select(col("doc_id"), col("quality_score"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score"))
      .toMap
    val members = clustered
      .groupBy(_.getAs[Long]("cluster_id"))
      .map { case (cid, rs) => cid -> rs.map(_.getAs[Long]("doc_id")).sorted }
    members.foreach { case (cid, docs) =>
      val want = docs.maxBy(d => (quality(d), -d))
      val got = rows.find(_.getAs[Long]("cluster_id") == cid).get.getAs[Long]("doc_id")
      assert(got == want, s"cluster $cid: kept $got, best-quality member is $want")
    }
  }

  test("c46: weighted sample plans the native top-k and matches a row-at-a-time E-S ranking") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c46WeightedSample(spark, sf0001)
    assert(plan(df).contains("TopKPerKey"), plan(df))
    val rows = df.collect()
    val quality = TextAnalysis
      .c9TextQuality(spark, sf0001)
      .select(col("doc_id"), col("quality_score"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score"))
      .toMap
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("lang"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang")))
    def md5hex(s: String) =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
    def wp(id: Long): (Long, Double) = {
      val u = java.lang.Long.parseLong(md5hex(s"wsamp_$id").substring(0, 8), 16).toDouble / 4294967296.0
      val q = quality(id)
      val w =
        if (q >= Sampling.WeightHighQuality) 4L else if (q >= Sampling.WeightMidQuality) 2L else 1L
      (w, if (w == 4L) math.sqrt(math.sqrt(u)) else if (w == 2L) math.sqrt(u) else u)
    }
    val want = docs
      .groupBy(_._2)
      .toSeq
      .flatMap { case (lang, ds) =>
        ds.toSeq
          .map { case (id, _) => val (w, p) = wp(id); (lang, id, w, p) }
          .sortBy { case (_, id, _, p) => (-p, id) }
          .take(Sampling.WeightedSampleK)
      }
      .toSet
    val got = rows
      .map(r =>
        (
          r.getAs[String]("lang"),
          r.getAs[Long]("doc_id"),
          r.getAs[Long]("weight"),
          r.getAs[Double]("priority")
        )
      )
      .toSet
    assert(got == want)
  }

  test("c47: duplicated-span coverage matches a row-at-a-time reconstruction") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.{rollCoeffs, RollP}
    val W = TextAnalysis.DupSpanW
    val df = TextAnalysis.c47DupSpans(spark, sf0001)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    val got = df
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_tokens"), r.getAs[Double]("dup_frac")))
      )
      .toMap
    def h32(s: String) = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val ks = rollCoeffs(W)
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val byDoc = docs.map { case (id, text) =>
      val ht = text.split(" ", -1).map(h32)
      val occ = (0 to ht.length - W).map(i => i -> (0 until W).map(j => ht(i + j) * ks(j)).sum % RollP)
      (id, ht.length, occ)
    }
    val counts = byDoc.flatMap(_._3.map(_._2)).groupBy(identity).view.mapValues(_.length).toMap
    val want = byDoc.flatMap { case (id, n, occ) =>
      val covered = occ.filter(o => counts(o._2) >= 2).flatMap(o => o._1 until o._1 + W).toSet.size
      if (covered > 0) Some(id -> ((n.toLong, covered.toLong, covered.toDouble / n))) else None
    }.toMap
    assert(got == want)
    assert(want.nonEmpty) // the gate data actually exercises the operator
    // exact whole-doc duplicates are fully covered
    val fullDups = docs
      .groupBy(_._2)
      .values
      .filter(g => g.length >= 2 && g.head._2.split(" ", -1).length >= W)
      .flatMap(_.map(_._1))
    fullDups.foreach(id => assert(got(id)._3 == 1.0, s"doc $id"))
  }

  test("c48: vocab coverage — zero-exchange scoring scan, matches a row-at-a-time reconstruction") {
    val df = TextAnalysis.c48VocabCoverage(spark, sf0001)
    // the vocabulary is a bounded literal: the scoring pass must be one
    // row-local scan — no join, no exchange of any kind
    val p = plan(df)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
    val got = df
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") -> ((
          r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_in_vocab"),
          r.getAs[Long]("n_oov_types"),
          r.getAs[Double]("coverage")
        ))
      )
      .toMap
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val freq = docs
      .flatMap(_._2.split(" ", -1))
      .groupBy(identity)
      .view
      .mapValues(_.length)
      .toSeq
    val vocab = freq.sortBy { case (t, n) => (-n, t) }.take(TextAnalysis.VocabV).map(_._1).toSet
    val want = docs.map { case (id, text) =>
      val w = text.split(" ", -1)
      val inV = w.count(vocab.contains)
      val oov = w.filterNot(vocab.contains).distinct.length
      id -> ((w.length.toLong, inV.toLong, oov.toLong, if (w.nonEmpty) inV.toDouble / w.length else 0.0))
    }.toMap
    assert(got == want)
    // the corpus actually exercises both sides of the vocabulary
    assert(want.values.exists(v => v._2 > 0) && want.values.exists(v => v._3 > 0))
    assert(want.values.exists(v => v._4 > 0.0 && v._4 < 1.0))
  }

  test("s12: CDC diff — keyed full-outer (no nested loop), only changed keys, pre/post pair per update") {
    import org.apache.spark.sql.functions.col
    val df = graft.sources.Formats.s12CdcRead(spark, sf0001)
    val p = plan(df)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    val rows = df.collect()
    val keys = graft.sources.Tables
      .customer(spark, sf0001)
      .select(col("c_custkey"))
      .collect()
      .map(_.getLong(0))
    val nDel = keys.count(_ % 13 == 0)
    val nIns = keys.count(_ % 53 == 0)
    val nUpd = keys.count(k => k % 13 != 0 && k % 5 == 0)
    def ofType(t: String) = rows.filter(_.getAs[String]("change_type") == t)
    assert(ofType("delete").length == nDel)
    assert(ofType("insert").length == nIns)
    assert(ofType("update_preimage").length == nUpd)
    assert(ofType("update_postimage").length == nUpd)
    assert(rows.length == nDel + nIns + 2 * nUpd) // nothing else leaks through
    // every update key carries exactly one pre and one post image, +100.0 apart
    val pre = ofType("update_preimage").map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("c_acctbal")).toMap
    val post = ofType("update_postimage").map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("c_acctbal")).toMap
    assert(pre.keySet == post.keySet && pre.size == nUpd)
    pre.foreach { case (k, b) => assert(post(k) == b + 100.0, s"key $k") }
    // inserted keys live above the shift and delete keys are the %13 stratum
    assert(ofType("insert").forall(_.getAs[Long]("c_custkey") >= 10000000L))
    assert(ofType("delete").forall(_.getAs[Long]("c_custkey") % 13 == 0))
  }

  test("s11: time travel — v1 byte-stable across the v2 commit, pointer reads v2") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.streaming.StreamingSink
    val dir = java.nio.file.Files.createTempDirectory("graft_ttravel_spec").toString + "/t"
    try {
      val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
      v1.write.parquet(s"$dir/v=1")
      StreamingSink.flipLatest(spark, dir, 1L)
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def v1Files = fs
        .listStatus(new Path(s"$dir/v=1"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
      val before = v1Files
      // commit v2 (an upsert of k=2 plus an insert), flip the pointer
      val v2 = graft.sources.Formats
        .mergeInto(v1, Seq((2L, 99.0), (3L, 30.0)).toDF("k", "bal"), Seq("k"))
      v2.write.parquet(s"$dir/v=2")
      StreamingSink.flipLatest(spark, dir, 2L)
      // history is immutable: identical files, lengths, mtimes
      assert(v1Files == before)
      // time travel reads the OLD state; the pointer reads the new one
      assert(
        StreamingSink.readVersion(spark, dir, 1L).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0))
      )
      assert(
        StreamingSink.upsertTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 99.0), (3L, 30.0))
      )
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s13: vacuum — expired gone, retained byte-stable + readable, pointer-guard, idempotent") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.streaming.StreamingSink
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum_spec").toString + "/t"
    try {
      val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
      v1.write.parquet(s"$dir/v=1")
      StreamingSink.flipLatest(spark, dir, 1L)
      val v2 = graft.sources.Formats
        .mergeInto(v1, Seq((2L, 99.0)).toDF("k", "bal"), Seq("k"))
      v2.write.parquet(s"$dir/v=2")
      StreamingSink.flipLatest(spark, dir, 2L)
      spark.read.parquet(s"$dir/v=2").write.parquet(s"$dir/v=3")
      StreamingSink.flipLatest(spark, dir, 3L)
      // an in-flight commit past the pointer: data written, not flipped
      spark.read.parquet(s"$dir/v=3").write.parquet(s"$dir/v=4")
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def files(v: Long) = fs
        .listStatus(new Path(s"$dir/v=$v"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
      val v2Before = files(2L)
      val v3Before = files(3L)
      // retention 2 counted from the POINTER (v3): only v1 expires —
      // v4 is uncommitted and must be neither counted nor deleted
      assert(StreamingSink.vacuum(spark, dir, keepVersions = 2) == Seq(1L))
      assert(!fs.exists(new Path(s"$dir/v=1")), "expired version dir survived the vacuum")
      assert(fs.exists(new Path(s"$dir/v=4")), "vacuum deleted an in-flight (post-pointer) commit")
      // retained history byte-stable and still time-travelable
      assert(files(2L) == v2Before && files(3L) == v3Before)
      assert(
        StreamingSink.readVersion(spark, dir, 2L).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 99.0))
      )
      assert(
        StreamingSink.upsertTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 99.0))
      )
      // idempotent: nothing below the retention line remains
      assert(StreamingSink.vacuum(spark, dir, keepVersions = 2).isEmpty)
      assert(StreamingSink.listVersions(spark, dir) == Seq(2L, 3L, 4L))
      intercept[IllegalArgumentException](StreamingSink.vacuum(spark, dir, keepVersions = 0))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s15: WAP — failed audit leaves pointer/history/staging untouched; both audits fire; publish is pointer-only") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.streaming.StreamingSink
    val dir = java.nio.file.Files.createTempDirectory("graft_wap_spec").toString + "/t"
    try {
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
      assert(graft.sources.Formats.writeAuditPublish(spark, dir, v1, 1L, "k"))
      assert(StreamingSink.currentVersion(spark, dir) == 1L)
      // duplicate-key candidate: rejected, and the table is untouched
      val dup = Seq((1L, 10.0), (2L, 20.0), (2L, 99.0)).toDF("k", "bal")
      assert(!graft.sources.Formats.writeAuditPublish(spark, dir, dup, 2L, "k"))
      assert(StreamingSink.currentVersion(spark, dir) == 1L, "failed audit moved the pointer")
      assert(!fs.exists(new Path(s"$dir/v=2")), "rejected candidate published a version dir")
      assert(!fs.exists(new Path(s"$dir/staged_v=2")), "rejected candidate left staging residue")
      // null-key candidate: the other audit fires
      val nul = Seq((Some(1L), 10.0), (None, 20.0))
        .toDF("k", "bal")
      assert(!graft.sources.Formats.writeAuditPublish(spark, dir, nul, 2L, "k"))
      assert(StreamingSink.currentVersion(spark, dir) == 1L)
      // a clean candidate for the SAME version number then publishes
      val good = Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)).toDF("k", "bal")
      assert(graft.sources.Formats.writeAuditPublish(spark, dir, good, 2L, "k"))
      assert(StreamingSink.currentVersion(spark, dir) == 2L)
      assert(!fs.exists(new Path(s"$dir/staged_v=2")), "publish left the staging dir behind")
      assert(
        StreamingSink.upsertTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 99.0), (3L, 30.0))
      )
      // history intact: v1 still time-travelable after the churn
      assert(
        StreamingSink.readVersion(spark, dir, 1L).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0))
      )
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s15: gate table — rejected bad batch leaves no trace; v1 and v2 published") {
    import graft.streaming.StreamingSink
    val df = graft.sources.Formats.s15WriteAuditPublish(spark, sf0001)
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val base = graft.sources.Tables
      .customer(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("c_custkey"), org.apache.spark.sql.functions.col("c_nationkey"), org.apache.spark.sql.functions.col("c_acctbal"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val want = base.map { case (k, n, b) => if (k % 5 == 0) (k, n, b + 100.0) else (k, n, b) } ++
      base.collect { case (k, n, b) if k % 53 == 0 => (k + 10000000L, n, b) }
    assert(got == want.toSet)
    val dir = graft.sources.Formats.s15WapDir(spark, sf0001)
    assert(StreamingSink.listVersions(spark, dir) == Seq(1L, 2L))
    assert(StreamingSink.currentVersion(spark, dir) == 2L)
  }

  test("s17: manifest append — O(delta) commits: base files byte-stable, time travel intact, orphans invisible") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_spec").toString + "/t"
    try {
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def files(sub: String) = fs
        .listStatus(new Path(s"$dir/$sub"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
      val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")
      graft.sources.Formats.manifestAppend(spark, dir, v1, 1L)
      val v1Files = files("data_v=1")
      graft.sources.Formats.manifestAppend(spark, dir, Seq((3L, 30.0)).toDF("k", "bal"), 2L)
      graft.sources.Formats.manifestAppend(spark, dir, Seq((4L, 40.0)).toDF("k", "bal"), 3L)
      // the O(delta) proof: two appends later, v1's data files are
      // byte-for-byte untouched (same names, lengths, mtimes)
      assert(files("data_v=1") == v1Files, "append rewrote existing data files")
      assert(
        graft.sources.Formats.readManifestTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      )
      // manifests are immutable history: v1 and v2 still time-travel
      assert(
        graft.sources.Formats.readManifestVersion(spark, dir, 1L).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0))
      )
      assert(
        graft.sources.Formats.readManifestVersion(spark, dir, 2L).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0), (3L, 30.0))
      )
      // an orphan data file (failed write, never committed) is invisible
      Seq((99L, 99.0)).toDF("k", "bal").write.parquet(s"$dir/data_orphan")
      assert(
        graft.sources.Formats.readManifestTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)),
        "uncommitted file leaked into the read"
      )
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s17: gate table — the committed union re-derived; append chain files grow, never rewrite") {
    import org.apache.spark.sql.functions.col
    val df = graft.sources.Formats.s17ManifestAppend(spark, sf0001)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = base ++
      base.collect { case (k, c, p) if k % 97 == 0 => (k + 30000000L, c, p) } ++
      base.collect { case (k, c, p) if k % 53 == 0 => (k + 40000000L, c, p) }
    assert(got == want.toSet)
  }

  test("s22: delta log — removes drop files, checkpoint shortcut reads 2 log files, time travel replays") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_deltalog_spec").toString + "/t"
    try {
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def dataFiles(sub: String) = fs
        .listStatus(new Path(s"$dir/$sub"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
      val F = graft.sources.Formats
      F.deltaCommit(spark, dir, 1L, Some(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal")))
      val v1Files = dataFiles("data_v=1")
      F.deltaCommit(spark, dir, 2L, Some(Seq((3L, 30.0)).toDF("k", "bal")))
      // v3: copy-on-write UPDATE — v1's files removed, corrected rows added
      F.deltaCommit(
        spark,
        dir,
        3L,
        Some(Seq((1L, 11.0), (2L, 22.0)).toDF("k", "bal")),
        removes = F.deltaFilesOf(spark, dir, 1L)
      )
      F.deltaCheckpoint(spark, dir, 3L)
      F.deltaCommit(spark, dir, 4L, Some(Seq((4L, 40.0)).toDF("k", "bal")))
      // data files are immutable: the removed generation still exists on
      // disk byte-for-byte (vacuum is a separate concern, s13) — the
      // REMOVE is purely logical
      assert(dataFiles("data_v=1") == v1Files, "remove mutated data files")
      assert(
        F.readDeltaTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 11.0), (2L, 22.0), (3L, 30.0), (4L, 40.0)),
        "final state wrong"
      )
      // the checkpoint shortcut: resolving v4 must open EXACTLY the
      // checkpoint and the one delta after it, not the full history
      val (_, opened) = F.resolveDeltaFiles(spark, dir, 4L)
      assert(opened == Seq("c=3.txt", "d=4.txt"), s"read planning opened $opened")
      // time travel before the checkpoint replays the delta chain
      assert(
        F.readDeltaVersion(spark, dir, 2L).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0), (3L, 30.0))
      )
      val (_, opened2) = F.resolveDeltaFiles(spark, dir, 2L)
      assert(opened2 == Seq("d=1.txt", "d=2.txt"), s"pre-checkpoint resolve opened $opened2")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s22: optimistic concurrency — a stale writer's commit is rejected, table state untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_occ_spec").toString + "/t"
    try {
      val F = graft.sources.Formats
      F.deltaCommit(spark, dir, 1L, Some(Seq((1L, 10.0)).toDF("k", "bal")))
      F.deltaCommit(spark, dir, 2L, Some(Seq((2L, 20.0)).toDF("k", "bal")))
      // two writers both observe v2 and prepare commits
      val observedA = F.deltaVersion(spark, dir)
      val observedB = F.deltaVersion(spark, dir)
      assert(observedA == 2L && observedB == 2L)
      // writer A wins the race
      F.deltaCommitGuarded(spark, dir, observedA, Some(Seq((3L, 30.0)).toDF("k", "bal")))
      // writer B's commit must be REJECTED (stale expected version)...
      val e = intercept[java.util.ConcurrentModificationException] {
        F.deltaCommitGuarded(spark, dir, observedB, Some(Seq((4L, 99.0)).toDF("k", "bal")))
      }
      assert(e.getMessage.contains("conflict"))
      // ...and the table shows exactly A's history: B's rows absent,
      // version unchanged since A's commit
      assert(F.deltaVersion(spark, dir) == 3L)
      assert(
        F.readDeltaTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0), (3L, 30.0))
      )
      // B retries correctly: re-read, commit against the current version
      F.deltaCommitGuarded(spark, dir, F.deltaVersion(spark, dir), Some(Seq((4L, 40.0)).toDF("k", "bal")))
      assert(
        F.readDeltaTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      )
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s25: manifest stats — interval read opens only intersecting files; content exact") {
    import org.apache.spark.sql.functions.col
    val F = graft.sources.Formats
    // run the gate query first so the table exists in this app
    val got = F
      .s25ManifestStats(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val want = graft.sources.Tables
      .orders(spark, sf0001)
      .filter(col("o_custkey") >= F.StatsQueryLo && col("o_custkey") <= F.StatsQueryHi)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("o_orderkey")), r.getLong(r.fieldIndex("o_custkey"))))
      .toSet
    assert(got == want && got.nonEmpty)
    val dir = F.s25StatsDir(spark, sf0001)
    // the skipping proof: a narrow interval keeps strictly fewer files
    // than the table holds, and every kept file's recorded range
    // really intersects — re-derived from the manifest text itself
    val (_, keptNarrow) = F.readStatsTable(spark, dir, F.StatsQueryLo, F.StatsQueryHi)
    val (_, keptAll) = F.readStatsTable(spark, dir, Long.MinValue, Long.MaxValue)
    assert(keptNarrow.nonEmpty && keptNarrow.size < keptAll.size,
      s"stats pruned nothing: ${keptNarrow.size} of ${keptAll.size}")
    // an interval past the data prunes EVERYTHING
    val (_, keptNone) = F.readStatsTable(spark, dir, Long.MaxValue - 1, Long.MaxValue)
    assert(keptNone.isEmpty, "out-of-range interval must keep no files")
    // pruning must never lose a row: the full-scan filter agrees
    val full = F
      .readStatsTable(spark, dir, Long.MinValue, Long.MaxValue)
      ._1
      .filter(col("o_custkey") >= F.StatsQueryLo && col("o_custkey") <= F.StatsQueryHi)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(full == got, "file pruning changed the result")
    // an all-pruned interval must still RESOLVE: the empty frame carries
    // the table schema (from a manifest-listed footer), so the gate's
    // residual column filter is an empty result, not an AnalysisException
    val (emptyDf, _) = F.readStatsTable(spark, dir, Long.MaxValue - 1, Long.MaxValue)
    assert(emptyDf.columns.toSet == Set("o_orderkey", "o_custkey", "o_totalprice"))
    assert(emptyDf.filter(col("o_custkey") >= F.StatsQueryLo).count() == 0L)
  }

  test("s25: stats commit survives NULL-stat batches — no line listed, ranged read unaffected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val F = graft.sources.Formats
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_null_spec").toString + "/t"
    try {
      // v1: real stats; v2: the stat column is ALL NULL — min/max aggregate
      // to NULL and an unguarded commit would NPE mid-write
      F.statsAppend(spark, dir, Seq((1L, 10L), (2L, 20L)).toDF("id", "k"), 1L, "k", 2)
      F.statsAppend(
        spark,
        dir,
        Seq((3L, Option.empty[Long]), (4L, Option.empty[Long])).toDF("id", "k"),
        2L,
        "k",
        2
      )
      val (df, kept) = F.readStatsTable(spark, dir, 0L, 100L)
      // the null batch contributed no manifest line (its rows are
      // stat-NULL — the residual [lo, hi] filter would drop them anyway),
      // and the ranged read still serves v1 exactly
      assert(kept.forall(_.startsWith("data_v=1/")), s"null-stat file listed: $kept")
      assert(
        df.filter(col("k") >= 0L && col("k") <= 100L).collect().map(_.getLong(0)).toSet == Set(1L, 2L)
      )
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s24: orphan sweep — orphans physically deleted, committed files byte-stable, idempotent") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_orphan_spec").toString + "/t"
    try {
      val F = graft.sources.Formats
      val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      def files(sub: String) = fs
        .listStatus(new Path(s"$dir/$sub"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .toSet
      F.manifestAppend(spark, dir, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal"), 1L)
      F.manifestAppend(spark, dir, Seq((3L, 30.0)).toDF("k", "bal"), 2L)
      val committed = files("data_v=1") ++ files("data_v=2")
      // plant an abandoned write (no manifest names it)
      Seq((99L, 99.0)).toDF("k", "bal").write.parquet(s"$dir/data_orphan")
      val planted = files("data_orphan")
      assert(planted.nonEmpty)
      val (scanned, referenced, removed) = F.manifestOrphanSweep(spark, dir)
      assert(removed == planted.size.toLong, s"removed $removed of ${planted.size} orphans")
      assert(scanned == committed.size + planted.size && referenced == committed.size)
      // orphans physically gone, committed files byte-stable
      assert(!fs.listFiles(new Path(dir), true).hasNext || files("data_v=1") ++ files("data_v=2") == committed)
      val remaining = {
        val it = fs.listFiles(new Path(dir), true)
        var n = 0
        while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        n
      }
      assert(remaining == committed.size, "a committed file was swept or an orphan survived")
      // reader unaffected; a second sweep removes nothing
      assert(
        F.readManifestTable(spark, dir).as[(Long, Double)].collect().toSet ==
          Set((1L, 10.0), (2L, 20.0), (3L, 30.0))
      )
      assert(F.manifestOrphanSweep(spark, dir)._3 == 0L, "sweep is not idempotent")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile): Unit
    }
  }

  test("s22: gate table — create/append/rewrite/checkpoint/append re-derived row-for-row") {
    import org.apache.spark.sql.functions.col
    val got = graft.sources.Formats
      .s22DeltaLog(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    val base = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val want = base.collect { case (k, _, p) if k % 2 == 0 => (k, "REWRITTEN", p) } ++
      base.filter(_._1 % 2 == 1) ++
      base.collect { case (k, pr, p) if k % 101 == 0 => (k + 50000000L, pr, p) }
    assert(got == want.toSet)
    assert(want.exists(_._2 == "REWRITTEN"))
  }

  test("s23: partition evolution — each generation prunes by its own spec; union re-derived") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.hadoop.fs.Path
    val df = graft.sources.Formats.s23PartitionEvolution(spark, sf0001)
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // content: month-3 F orders across BOTH generations (odd + even keys)
    val want = graft.sources.Tables
      .orders(spark, sf0001)
      .collect()
      .filter { r =>
        val m = r.getAs[Any](r.fieldIndex("o_orderdate")) match {
          case t: java.sql.Timestamp      => t.toLocalDateTime.getMonthValue
          case d: java.time.LocalDateTime => d.getMonthValue
        }
        m == 3 && r.getString(r.fieldIndex("o_orderstatus")) == "F"
      }
      .groupBy(_.getString(5))
      .view
      .mapValues(_.length.toLong)
      .toMap
    assert(got == want && got.nonEmpty)
    val (gen1, gen2) = graft.sources.Formats.s23Dirs(spark, sf0001)
    val fs = new Path(gen1).getFileSystem(spark.sessionState.newHadoopConf())
    def parquetCount(dir: String): Int = {
      val it = fs.listFiles(new Path(dir), true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    // AQE wraps finished stages in leaf QueryStageExec nodes plain
    // collect() cannot descend into — unwrap to the final plan first
    def deepScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      p match {
        case a: AdaptiveSparkPlanExec => deepScans(a.executedPlan)
        case q: QueryStageExec        => deepScans(q.plan)
        case f: FileSourceScanExec    => Seq(f)
        case o                        => o.children.flatMap(deepScans)
      }
    }
    val scans = deepScans(df.queryExecution.executedPlan)
    assert(scans.size == 2, s"expected two generation scans, got ${scans.size}")
    def prunedFiles(f: FileSourceScanExec): Int =
      f.relation.location.listFiles(f.partitionFilters, f.dataFilters).map(_.files.size).sum
    val byRoot = scans.map(f => f.relation.location.rootPaths.head.toString -> f).toMap
    val g1 = byRoot.find(_._1.contains("gen1")).map(_._2).get
    val g2 = byRoot.find(_._1.contains("gen2")).map(_._2).get
    // gen1 (layout: month) prunes to the p_m=3 dirs — strictly fewer
    // than the full table, exactly the month partition's files
    assert(prunedFiles(g1) == parquetCount(s"$gen1/p_m=3"))
    assert(prunedFiles(g1) < parquetCount(gen1))
    // gen2 (layout: month, status) prunes on BOTH dims
    assert(prunedFiles(g2) == parquetCount(s"$gen2/p_m=3/o_orderstatus=F"))
    assert(prunedFiles(g2) < parquetCount(s"$gen2/p_m=3"), "status dim must prune further in gen2")
  }

  test("c64: per-lang top-fraction — two-phase bucket rank equals the naive global window; boundary-only sort") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c64QualityTopFrac(spark, sf001)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // naive definition: per-lang global rank by (quality DESC, doc_id)
    val scored = graft.operators.TextAnalysis
      .qualityScored(
        graft.sources.Tables.documents(spark, sf001).select(col("doc_id"), col("text"), col("lang"))
      )
      .select(col("lang"), col("doc_id"), col("quality_score"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = scored
      .groupBy(_._1)
      .toSeq
      .flatMap { case (_, vs) =>
        val k = (vs.length * Sampling.QTopNum + Sampling.QTopDen - 1) / Sampling.QTopDen
        vs.sortBy { case (_, id, q) => (-q, id) }.take(k).toSeq
      }
      .toSet
    assert(rows == want)
    // the fraction contract holds per language
    val perLang = scored.groupBy(_._1).view.mapValues(_.length).toMap
    rows.groupBy(_._1).foreach { case (l, kept) =>
      assert(kept.size == (perLang(l) * Sampling.QTopNum + Sampling.QTopDen - 1) / Sampling.QTopDen)
    }
    // the only corpus-side window is over the boundary-bucket filter —
    // the bulk passes sort-free (the cumulative window runs on the tiny
    // per-(lang, bucket) count frame)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c64: randomized trials — two-phase selection ≡ naive window, boundary ties and rounding cases planted") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919)
      val langs = Seq("aa", "bb", "cc", "dd")
      // scores drawn from a grid that INCLUDES exact bucket edges
      // (k/1024) and duplicated values — the tie cases the threshold
      // logic must not double-count; lang sizes hit every k_l rounding
      // residue (n mod 10 ∈ 0..9)
      val rows = (0 until 500).map { i =>
        val q =
          if (rnd.nextBoolean()) rnd.nextInt(Sampling.QBuckets + 1).toDouble / Sampling.QBuckets
          else math.rint(rnd.nextDouble() * 10000) / 10000.0
        (i.toLong, langs(rnd.nextInt(langs.length)), q)
      } ++ (500 until 507).map(i => (i.toLong, "ee", 0.5)) // tiny lang, all tied
      val got = Sampling
        .c64QualityTopFracFrom(rows.toDF("doc_id", "lang", "quality_score"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val want = rows
        .groupBy(_._2)
        .toSeq
        .flatMap { case (_, vs) =>
          val k = (vs.length * Sampling.QTopNum + Sampling.QTopDen - 1) / Sampling.QTopDen
          vs.sortBy { case (id, _, q) => (-q, id) }.take(k).map { case (id, l, q) => (l, id, q) }
        }
        .toSet
      assert(got == want, s"seed $seed diverged from the naive window definition")
    }
  }

  test("c59: randomized trials — containment verdicts ≡ brute force over random shingle sets") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed * 104729)
      // random sets over a small hash universe so overlaps are common;
      // sizes from 1..40 so the small/big tie-break and the threshold
      // integer math see many configurations
      val sets = (0 until 60).map { id =>
        val n = 1 + rnd.nextInt(40)
        id.toLong -> Iterator.continually(rnd.nextInt(120).toLong).take(n * 2).toSet.take(n)
      }
      val df = sets.flatMap { case (id, hs) => hs.map(h => (id, h)) }.toDF("doc_id", "h")
      val got = TextDedup
        .c59ContainmentFrom(df)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
        .toMap
      val want = (for {
        (a, ha) <- sets.iterator
        (b, hb) <- sets.iterator if a < b
        common = (ha & hb).size
        small = math.min(ha.size, hb.size)
        if common * TextDedup.ContainDen >= small * TextDedup.ContainNum
      } yield {
        val (ds, dbg, ns, nb) =
          if (ha.size <= hb.size) (a, b, ha.size.toLong, hb.size.toLong)
          else (b, a, hb.size.toLong, ha.size.toLong)
        (ds, dbg) -> ((ns, nb, common.toLong, common.toDouble / small))
      }).toMap
      assert(got == want, s"seed $seed diverged from brute-force containment")
    }
  }

  test("b41: randomized trials — spine covers exactly [min,max] months with zero-fill on random gap patterns") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed * 31337)
      val months = (0 until 36).filter(_ => rnd.nextBoolean())
      val chosen = if (months.isEmpty) Seq(0) else months
      val orders = chosen.flatMap { m =>
        (0 until 1 + rnd.nextInt(3)).map { _ =>
          (f"${2000 + m / 12}-${m % 12 + 1}%02d-${1 + rnd.nextInt(28)}%02d 00:00:00",
            (1 + rnd.nextInt(1000)).toDouble)
        }
      }
      orders
        .toDF("d", "o_totalprice")
        .select(col("d").cast("timestamp_ntz").as("o_orderdate"), col("o_totalprice"))
        .createOrReplaceTempView("orders_b41_rand")
      val got = spark
        .sql(GraftSql.b41SqlOn("orders_b41_rand"))
        .collect()
        .map { r =>
          val m = r.get(0) match {
            case t: java.sql.Timestamp => t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
            case d: java.time.LocalDateTime => d.toLocalDate
          }
          m -> ((r.getLong(1), r.getDouble(2)))
        }
        .toMap
      val byMonth = orders
        .groupBy(o => java.time.LocalDate.parse(o._1.take(10)).withDayOfMonth(1))
        .view
        .mapValues(vs => (vs.size.toLong, vs.map(o => BigDecimal(o._2).setScale(2)).sum.toDouble))
        .toMap
      val lo = byMonth.keys.min
      val hi = byMonth.keys.max
      val want = Iterator
        .iterate(lo)(_.plusMonths(1))
        .takeWhile(!_.isAfter(hi))
        .map(m => m -> byMonth.getOrElse(m, (0L, 0.0)))
        .toMap
      assert(got == want, s"seed $seed: spine diverged on a random gap pattern")
    }
  }

  test("c63: k-anon suppression — no released cell under k, totals preserved, re-derived") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c63KanonReport(spark, sf0001)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("source"), col("lang"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2).split(" ", -1).length.toLong))
    val cells = docs.groupBy(v => (v._1, v._2)).view.mapValues(vs => (vs.size.toLong, vs.map(_._3).sum)).toMap
    val (small, big) = cells.partition(_._2._1 < Sampling.KAnonMin)
    val want = big.map { case ((s, l), v) => (s, l) -> v } ++
      Map(("_suppressed", "_suppressed") -> ((small.values.map(_._1).sum, small.values.map(_._2).sum)))
    assert(rows == want.toMap)
    // the privacy contract: nothing released identifies < k docs…
    rows.foreach { case ((s, _), (n, _)) => if (s != "_suppressed") assert(n >= Sampling.KAnonMin) }
    // …both branches are exercised, and nothing was dropped
    assert(small.nonEmpty && big.nonEmpty)
    assert(rows.values.map(_._1).sum == docs.length.toLong)
  }

  test("s16: bad-record ingestion — clean lines salvage with chars intact, corrupt lines counted, one parse pass") {
    import org.apache.spark.sql.functions.col
    val df = graft.sources.Formats.s16BadRecords(spark, sf0001)
    val rows = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"), col("lang"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val e = graft.sources.Formats.BadRecordEvery
    val clean = docs.filter(_._1 % e != 0)
    val want = clean
      .groupBy(_._3)
      .map { case (l, vs) => l -> ((vs.length.toLong, vs.map(_._2.length.toLong).sum)) } ++
      Map("_corrupt" -> ((docs.count(_._1 % e == 0).toLong, 0L)))
    assert(rows == want.toMap)
    assert(rows("_corrupt")._1 > 0, "gate data must produce actual quarantined lines")
    // exactly one JSON parse of the files feeds both branches (AQE
    // prints the Initial Plan again below the final one — count the
    // final section only)
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.linesIterator.count(_.contains("FileScan json")) == 1, s"the quarantine must not re-parse:\n$p")
  }

  test("s13: gate query — post-vacuum read equals the merge chain; only v2 and v3 remain") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamingSink
    val df = graft.sources.Formats.s13Vacuum(spark, sf0001)
    val got = df
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    // re-derive the v3 state row-at-a-time from the raw customer table
    val base = graft.sources.Tables
      .customer(spark, sf0001)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val v2 = base.map { case (k, n, b) => if (k % 5 == 0) (k, n, b + 100.0) else (k, n, b) } ++
      base.collect { case (k, n, b) if k % 53 == 0 => (k + 10000000L, n, b) }
    val v3 = v2.map { case (k, n, b) => if (k % 7 == 0) (k, n, b - 50.0) else (k, n, b) }
    assert(got == v3.toSet)
    // vacuum physics on the gate table: v1 expired, v2/v3 remain
    val dir = graft.sources.Formats.s13VacuumDir(spark, sf0001)
    assert(StreamingSink.listVersions(spark, dir) == Seq(2L, 3L))
  }

  test("c44: bloom admission — history never shuffles, verdict equals the plain anti-join") {
    import org.apache.spark.sql.functions.{col, md5, min, struct}
    val df = Sampling.c44BloomDedup(spark, sf0001)
    val got = df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[String]("h"))).toSet
    val p = plan(df)
    // codegen'd bloom probe present on BOTH branches (definite-keep filter + candidate filter)
    assert("might_contain".r.findAllIn(p).size >= 2, p)
    // every join broadcasts; the history side never rides a shuffled join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the bloom is a pruning accelerator, never an oracle: row-for-row
    // equal to the plain c26-shaped anti-join
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
    val isNew = col("doc_id") % Sampling.IncrEvery === 0
    val want = docs
      .filter(isNew)
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("lang"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"), col("h"))
      .join(docs.filter(!isNew).select(col("h")), Seq("h"), "left_anti")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[String]("h")))
      .toSet
    assert(got == want)
  }

  test("c44: planted dups exercise every admission branch of bloomAdmit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // history holds h1..h3; batch has a true dup (h1), an intra-batch
    // dup pair (h9 twice — min doc_id wins), and definite-new rows
    val history = Seq("h1", "h2", "h3").toDF("h")
    val batch = Seq(
      (10L, "en", "h1"), // rejected: in history
      (11L, "de", "h9"), // admitted: canonical holder of h9
      (15L, "fr", "h9"), // dropped: loses intra-batch canonicalization
      (12L, "en", "h7"), // admitted
      (13L, "it", "h8")  // admitted
    ).toDF("doc_id", "lang", "h")
    val got = Sampling
      .bloomAdmit(history, batch)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[String]("h")))
      .toSet
    assert(got == Set((11L, "de", "h9"), (12L, "en", "h7"), (13L, "it", "h8")))
    // empty-candidate edge: batch entirely new
    val allNew = Seq((20L, "en", "x1"), (21L, "de", "x2")).toDF("doc_id", "lang", "h")
    assert(Sampling.bloomAdmit(history, allNew).count() == 2)
    // full-rejection edge: batch entirely historical
    val allOld = Seq((30L, "en", "h2")).toDF("doc_id", "lang", "h")
    assert(Sampling.bloomAdmit(history, allOld).count() == 0)
    // history rows with repeats must not double-admit or double-reject
    val dupHist = Seq("h1", "h1", "h2").toDF("h")
    assert(Sampling.bloomAdmit(dupHist, batch).select(col("doc_id")).collect().map(_.getLong(0)).toSet == Set(11L, 12L, 13L))
  }

  test("c43: rewrite verdict travels as ids — document text never rides a shuffle") {
    import org.apache.spark.sql.functions.col
    val df = TextAnalysis.c43ChunkDedupRewrite(spark, sf0001)
    df.collect()
    val p = plan(df)
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text") && !line.contains("kept_w"), s"text rode a shuffle: $line")
    }
    // the removed-list frame (docs that lose a chunk) broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    // removal really happens on this corpus (it plants duplicates), and
    // untouched docs reassemble to their own text verbatim
    val src = graft.sources.Tables
      .documents(spark, sf0001)
      .select(
        col("doc_id"),
        org.apache.spark.sql.functions.md5(col("text")).as("src_md5")
      )
    val joined = df.join(src, "doc_id").collect()
    assert(joined.exists(_.getAs[Long]("n_removed") > 0))
    joined.filter(_.getAs[Long]("n_removed") == 0).foreach { r =>
      assert(r.getAs[String]("cleaned_md5") == r.getAs[String]("src_md5"),
        s"doc ${r.getAs[Long]("doc_id")}: untouched doc must reassemble verbatim")
    }
  }

  test("c42: epoch mix is row-local — no exchange anywhere in the plan") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c42EpochMix(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), s"the mix must never shuffle the corpus:\n$p")
    // epoch semantics spot checks: 1.0-epoch langs copy exactly once,
    // integer+fraction langs land between floor and ceil of e·n
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val nEn = docs.filter(col("lang") === "en").count()
    val outEn = df.filter(col("lang") === "en").count()
    assert(outEn == nEn)
    val nDe = docs.filter(col("lang") === "de").count()
    val outDe = df.filter(col("lang") === "de").count()
    assert(outDe >= 2 * nDe && outDe <= 3 * nDe, s"de: $outDe copies of $nDe docs at epochs 2.5")
  }

  test("c25: prefix sum is two-phase — no whole-corpus single-partition window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = Sampling.c25SequencePacking(spark, sf0001)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    // a window with no partitioning runs in ONE task — it may only ever
    // see the tiny bucket-level aggregate, never raw document rows
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collect { case a: Aggregate => a }.nonEmpty,
        "global running-offset window must sit over the bucket aggregate, not the corpus")
    }
    // and the per-row cumsum is partitioned (scales with the corpus)
    assert(windows.exists(_.partitionSpec.nonEmpty))
  }

  test("b19: engine-side Q17 form stays a shared-aggregate join — no per-row subquery, no nested loop") {
    // b19SqlCorrelated runs Q17EngineSql (round 14's shared per-partkey
    // aggregate), which contains no correlated subquery by construction;
    // this asserts the ENGINE shape stays nested-loop-free. The original
    // correlated capability is covered by the Q17Sql test below.
    val df = GraftSql.b19SqlCorrelated(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("ScalarSubquery"),
      "engine-side Q17 must not reintroduce a per-outer-row subquery")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("b19 capability: the ORIGINAL correlated Q17Sql decorrelates — no per-row subquery, no nested loop") {
    // the oracle-side SQL keeps the correlated scalar subquery; this is
    // the decorrelation capability b19 was written to cover (the engine
    // entry now runs Q17EngineSql, so without this test the capability
    // assertion would be vacuous — round-14 ADVICE)
    val df = GraftSql.sql(spark, sf0001, GraftSql.Q17Sql)
    df.collect()
    val p = plan(df)
    assert(!p.contains("ScalarSubquery"),
      "correlated aggregate still executes per outer row — decorrelation failed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("b23: Q21-shape EXISTS/NOT EXISTS decorrelate to keyed semi + anti joins; values re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b23SqlQ21(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not decorrelate to an anti join:\n$p")
    assert(!p.contains("CartesianProduct"))
    // semantics re-derived against the ORIGINAL correlated definition
    val li = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val ordF = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .collect()
      .collect { case r if r.getString(1) == "F" => r.getLong(0) }
      .toSet
    val byOrder = li.groupBy(_._1)
    val want = li
      .filter { case (ok, sk, rf) =>
        rf == "R" && ordF.contains(ok) &&
        byOrder(ok).exists { case (_, sk2, _) => sk2 != sk } &&
        !byOrder(ok).exists { case (_, sk3, rf3) => sk3 != sk && rf3 == "R" }
      }
      .groupBy(_._2)
      .view
      .mapValues(_.size.toLong)
      .toMap
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantTop = want.toSeq.sortBy { case (sk, n) => (-n, sk) }.take(20).toMap
    assert(got == wantTop, s"got $got want $wantTop")
    assert(wantTop.nonEmpty, "Q21 predicate never binds at sf0.001")
  }

  test("b24: Q22-shape NOT EXISTS decorrelates to a keyed anti join; scalar subqueries run once") {
    val df = GraftSql.b24SqlQ22(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not decorrelate to an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the balance-threshold subqueries are uncorrelated: they must plan
    // as once-executed subquery stages, never per-row re-execution
    assert(p.contains("Subquery") || p.contains("subquery"), p)
  }

  test("b26: Q18-shape — one shared per-order aggregate (no second lineitem pass); deterministic top-100; values re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b26SqlQ18(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    // round-14 shape: the HAVING-IN filter and the output sum read the
    // SAME per-order aggregate — exactly one lineitem scan in the
    // executed (final) plan section (the AQE string repeats the tree
    // under "== Initial Plan ==", which would double-count)
    assert(p.split("== Initial Plan ==").head.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem")) <= 1,
      s"lineitem must be scanned once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // re-derive from the raw tables: quantity sums over integral values
    // are exact, so an independent Scala fold must agree bit-for-bit
    val li = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_quantity"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val qtyByOrder = li.groupBy(_._1).view.mapValues(_.map(x => BigDecimal(x._2)).sum).toMap
    val big = qtyByOrder.filter(_._2 > 200).keySet
    assert(big.nonEmpty, "threshold never binds at sf0.001 — raise data volume or lower it")
    rows.foreach { r =>
      val ok = r.getLong(r.fieldIndex("o_orderkey"))
      assert(big.contains(ok), s"order $ok under threshold leaked through the semi join")
      assert(r.getDouble(r.fieldIndex("sum_qty")) == qtyByOrder(ok).toDouble, s"order $ok")
    }
    // the ORDER BY is total → the LIMIT 100 cut is the global top slice
    val prices = rows.map(r => r.getDouble(r.fieldIndex("o_totalprice")))
    assert(prices.sameElements(prices.sortBy(-(_: Double))))
    assert(rows.length == math.min(big.size, 100))
  }

  test("b27: Q15-shape scalar MAX runs once; winners re-derived from exact decimal sums") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b27SqlQ15(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(p.contains("Subquery") || p.contains("subquery"),
      s"the MAX threshold must plan as a once-executed subquery stage:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // re-derive the winner set with exact decimal arithmetic
    val li = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
      .collect()
    val lo = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1996, 4, 1, 0, 0)
    val rev = li
      .filter { r =>
        val d = r.getAs[java.time.LocalDateTime](3); !d.isBefore(lo) && d.isBefore(hi)
      }
      .groupBy(_.getLong(0))
      .view
      .mapValues(
        _.map(r => BigDecimal(r.getDouble(1)).setScale(2) * (1 - BigDecimal(r.getDouble(2)).setScale(2))).sum
      )
      .toMap
    assert(rev.nonEmpty)
    val maxRev = rev.values.max
    val winners = rev.filter(_._2 == maxRev).keySet
    assert(rows.map(_.getLong(0)).toSet == winners)
    rows.foreach(r => assert(r.getDouble(r.fieldIndex("total_revenue")) == maxRev.toDouble))
  }

  test("b28: Q7-shape dims broadcast, cross-dim OR never degenerates; revenue re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b28SqlQ7(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"the nation/supplier dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the cross-dim nation-pair OR degenerated into a product:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"date filter did not reach the lineitem scan:\n$p")
    // re-derive with exact decimal arithmetic over the raw tables
    val sup = graft.sources.Tables
      .supplier(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("s_suppkey")) -> r.getInt(r.fieldIndex("s_nationkey")))
      .toMap
    val custNat = graft.sources.Tables
      .customer(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("c_custkey")) -> r.getInt(r.fieldIndex("c_nationkey")))
      .toMap
    val ordCust = graft.sources.Tables
      .orders(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("o_orderkey")) -> r.getLong(r.fieldIndex("o_custkey")))
      .toMap
    val lo = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1998, 1, 1, 0, 0)
    val want = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
      .collect()
      .flatMap { r =>
        val d = r.getAs[java.time.LocalDateTime](4)
        val sn = sup(r.getLong(1))
        val cn = custNat(ordCust(r.getLong(0)))
        val pair = (sn == 13 && cn == 19) || (sn == 19 && cn == 13)
        if (pair && !d.isBefore(lo) && d.isBefore(hi))
          Some(
            (
              (s"NATION_$sn", s"NATION_$cn", d.getYear.toLong),
              BigDecimal(r.getDouble(2)).setScale(2) * (1 - BigDecimal(r.getDouble(3)).setScale(2))
            )
          )
        else None
      }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).sum.toDouble)
      .toMap
    val got = rows
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2)), r.getDouble(r.fieldIndex("revenue"))))
      .toMap
    assert(got == want)
    assert(want.size >= 4, "both pair directions and several years must appear")
  }

  test("b29: Q10-shape filters push to both scans; top-20 deterministic; revenue re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b29SqlQ10(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)")
      || p.contains("EqualTo(l_returnflag,R)"), s"returnflag filter did not reach the lineitem scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must plan as TakeOrdered, not a global sort:\n$p")
    // re-derive with exact decimal arithmetic
    val ordOk = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .collect()
      .flatMap { r =>
        val d = r.getAs[java.time.LocalDateTime](2)
        if (!d.isBefore(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          d.isBefore(java.time.LocalDateTime.of(1996, 7, 1, 0, 0)))
          Some(r.getLong(0) -> r.getLong(1))
        else None
      }
      .toMap
    val custRows = graft.sources.Tables
      .customer(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("c_custkey")) ->
        ((r.getString(r.fieldIndex("c_name")), r.getInt(r.fieldIndex("c_nationkey")))))
      .toMap
    val byCust = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
      .collect()
      .flatMap { r =>
        if (r.getString(3) == "R") ordOk.get(r.getLong(0)).map { ck =>
          ck -> (BigDecimal(r.getDouble(1)).setScale(2) * (1 - BigDecimal(r.getDouble(2)).setScale(2)))
        } else None
      }
      .groupBy(_._1)
      .view
      .mapValues(vs => (vs.map(_._2).sum.toDouble, vs.size.toLong))
      .toMap
    val want = byCust.toSeq
      .sortBy { case (ck, (rev, _)) => (-rev, ck) }
      .take(20)
      .map { case (ck, (rev, n)) => (ck, custRows(ck)._1, s"NATION_${custRows(ck)._2}", rev, n) }
    val got = rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getLong(4))).toSeq
    assert(got == want)
    assert(got.size == 20)
  }

  test("c49: mix report — one keyed shuffle, text never rides it; shares re-derived and sum to 1") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c49SourceMix(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text rode a shuffle: $line")
    }
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("source"), col("lang"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2).split(" ", -1).length.toLong))
    val cells = docs.groupBy(d => (d._1, d._2)).view.mapValues(ds => (ds.size.toLong, ds.map(_._3).sum)).toMap
    val total = cells.values.map(_._2).sum
    val want = cells.map { case ((s, l), (nd, nt)) => (s, l, nd, nt, nt.toDouble / total) }.toSet
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == want)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    assert(rows.length > 1)
  }

  test("b30: Q12-shape conditional aggregation — one pass, pushed date filter, counts re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b30SqlQ12(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_sum"), s"the CASE counts must combine map-side:\n$p")
    val lo = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1997, 1, 1, 0, 0)
    val prio = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val want = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .collect()
      .filter { r =>
        val d = r.getAs[java.time.LocalDateTime](2); !d.isBefore(lo) && d.isBefore(hi)
      }
      .groupBy(_.getString(1))
      .view
      .mapValues { rs =>
        val hi2 = rs.count(r => Set("1-URGENT", "2-HIGH")(prio(r.getLong(0))))
        (hi2.toLong, (rs.size - hi2).toLong)
      }
      .toMap
    val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    assert(got.size == 2 && got.values.forall(v => v._1 > 0 && v._2 > 0))
  }

  test("b31: Q5-shape local-supplier constraint — no cartesian, dims broadcast, revenue re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b31SqlQ5(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), s"region/nation/supplier dims must broadcast:\n$p")
    val supNat = graft.sources.Tables
      .supplier(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("s_suppkey")) -> r.getInt(r.fieldIndex("s_nationkey")))
      .toMap
    val custNat = graft.sources.Tables
      .customer(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("c_custkey")) -> r.getInt(r.fieldIndex("c_nationkey")))
      .toMap
    val natRegion = graft.sources.Tables
      .nation(spark, sf0001)
      .collect()
      .map(r => r.getInt(r.fieldIndex("n_nationkey")) -> r.getInt(r.fieldIndex("n_regionkey")))
      .toMap
    val asiaRegion = graft.sources.Tables
      .region(spark, sf0001)
      .collect()
      .collectFirst { case r if r.getString(r.fieldIndex("r_name")) == "ASIA" => r.getInt(r.fieldIndex("r_regionkey")) }
      .get
    val lo = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1998, 1, 1, 0, 0)
    val ordOk = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .collect()
      .flatMap { r =>
        val d = r.getAs[java.time.LocalDateTime](2)
        if (!d.isBefore(lo) && d.isBefore(hi)) Some(r.getLong(0) -> r.getLong(1)) else None
      }
      .toMap
    val want = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .flatMap { r =>
        for {
          ck <- ordOk.get(r.getLong(0))
          cn = custNat(ck)
          if supNat(r.getLong(1)) == cn && natRegion(cn) == asiaRegion
        } yield (s"NATION_$cn", BigDecimal(r.getDouble(2)).setScale(2) * (1 - BigDecimal(r.getDouble(3)).setScale(2)))
      }
      .groupBy(_._1)
      .view
      .mapValues(vs => (vs.map(_._2).sum.toDouble, vs.size.toLong))
      .toMap
    val got = rows.map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got == want)
    assert(want.nonEmpty, "the local-supplier constraint must be satisfiable in the gate data")
  }

  test("c50: length histogram — exact log2 buckets, one keyed shuffle, re-derived row-at-a-time") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c50LengthHistogram(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("partial_sum"), s"histogram must combine map-side:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text rode a shuffle: $line")
    }
    val want = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("lang"), col("text"))
      .collect()
      .map { r =>
        val nt = r.getString(1).split(" ", -1).length.toLong
        ((r.getString(0), 63 - java.lang.Long.numberOfLeadingZeros(nt).toLong), nt)
      }
      .groupBy(_._1)
      .view
      .mapValues { vs =>
        val ls = vs.map(_._2)
        (ls.size.toLong, ls.sum, ls.min, ls.max)
      }
      .toMap
    val got = rows
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == want)
    assert(want.keys.map(_._2).toSet.size >= 3, "several length buckets must be populated")
  }

  test("b32: Q8-shape market share — no cartesian in the 7-way join, shares re-derived exactly") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b32SqlQ8(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"))
    // re-derive every year's share with exact decimal arithmetic
    def kv[A](df2: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.Row => A): Seq[A] =
      df2.collect().toSeq.map(f)
    val partType = kv(
      graft.sources.Tables.part(spark, sf0001).select(col("p_partkey"), col("p_type")),
      r => r.getLong(0) -> r.getString(1)
    ).toMap
    val supNat = kv(
      graft.sources.Tables.supplier(spark, sf0001).select(col("s_suppkey"), col("s_nationkey")),
      r => r.getLong(0) -> r.getInt(1)
    ).toMap
    val custNat = kv(
      graft.sources.Tables.customer(spark, sf0001).select(col("c_custkey"), col("c_nationkey")),
      r => r.getLong(0) -> r.getInt(1)
    ).toMap
    val natRegion = kv(
      graft.sources.Tables.nation(spark, sf0001).select(col("n_nationkey"), col("n_regionkey")),
      r => r.getInt(0) -> r.getInt(1)
    ).toMap
    val asia = kv(
      graft.sources.Tables.region(spark, sf0001).select(col("r_regionkey"), col("r_name")),
      r => (r.getInt(0), r.getString(1))
    ).collectFirst { case (k, "ASIA") => k }.get
    val ords = kv(
      graft.sources.Tables.orders(spark, sf0001).select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
      r => r.getLong(0) -> ((r.getLong(1), r.getAs[java.time.LocalDateTime](2).getYear.toLong))
    ).toMap
    val flat = kv(
      graft.sources.Tables
        .lineitem(spark, sf0001)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount")),
      r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    ).flatMap { case (ok, pk, sk, ep, di) =>
      val (ck, year) = ords(ok)
      val cn = custNat(ck)
      if (partType(pk) == "PROMO" && natRegion(cn) == asia)
        Some((year, supNat(sk), BigDecimal(ep).setScale(2) * (1 - BigDecimal(di).setScale(2))))
      else None
    }
    val want = flat
      .groupBy(_._1)
      .view
      .mapValues { vs =>
        val tot = vs.map(_._3).sum
        val num = vs.filter(_._2 == 13).map(_._3).sum
        (num.toDouble / tot.toDouble, tot.toDouble)
      }
      .toMap
    val got = rows.map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got == want)
    assert(want.nonEmpty && want.values.exists(_._1 > 0.0))
  }

  test("b33: Q19-shape disjunctive cross-table predicate — keyed join, never a cartesian; re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b33SqlQ19(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the OR-of-conjunctions must stay a residual filter on the partkey join:\n$p")
    val part = graft.sources.Tables
      .part(spark, sf0001)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    val hits = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .filter { r =>
        val (brand, size) = part(r.getLong(0))
        val q = r.getDouble(1)
        (brand == "Brand#13" && size >= 1 && size <= 15 && q >= 1 && q <= 30) ||
        (brand == "Brand#21" && size >= 1 && size <= 25 && q >= 10 && q <= 40) ||
        (brand == "Brand#34" && size >= 1 && size <= 35 && q >= 20 && q <= 50)
      }
    val rev = hits.map(r => BigDecimal(r.getDouble(2)).setScale(2) * (1 - BigDecimal(r.getDouble(3)).setScale(2))).sum
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == hits.length.toLong && rows(0).getDouble(1) == rev.toDouble)
    assert(hits.nonEmpty)
  }

  test("c51: cluster-size distribution folds c16 exactly; members reconcile with the label count") {
    val sizes = TextAnalysis
      .c51ClusterSizes(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("n_members") -> r.getAs[Long]("n_clusters"))
      .toMap
    val labels = TextAnalysis
      .c16DedupClusters(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
    val want = labels
      .groupBy(_._2)
      .view
      .mapValues(_.size.toLong)
      .values
      .groupBy(identity)
      .view
      .mapValues(_.size.toLong)
      .toMap
    assert(sizes == want)
    // every member is accounted for, and clusters are ≥ 2 by construction
    assert(sizes.map { case (m, c) => m * c }.sum == labels.length.toLong)
    assert(sizes.nonEmpty && sizes.keys.min >= 2L)
  }

  test("c26: incremental dedup anti-join stays hash-keyed — no nested loop, text never shuffles") {
    val df = Sampling.c26DedupIncremental(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // every exchange moves only hashes/ids — the text column must be
    // projected away before any shuffle
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text rode a shuffle: $line")
    }
  }

  test("c19: stratified sample is a pure narrow scan — no exchange anywhere") {
    val p = plan(Sampling.c19StratifiedSample(spark, sf0001))
    assert(!p.contains("Exchange"), "hash-Bernoulli sampling must not shuffle")
  }

  test("s3: bucketed join runs with no shuffle exchange on either side") {
    val df = ScaleJoins.s3BucketedJoin(spark, sf0001)
    df.collect()
    val p = plan(df)
    // the only exchange allowed is the final single-partition agg shuffle;
    // the join itself must read buckets directly
    val joinSection = p.substring(p.indexOf("SortMergeJoin").max(0))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"))
    if (p.contains("SortMergeJoin")) assert(!joinSection.contains("Exchange hashpartitioning"))
  }

  test("s5: compaction collapses 64 fragments into ~target-size, range-clustered files") {
    import graft.sources.Formats
    Formats.s5Compaction(spark, sf0001).collect() // builds the layout
    val dir = new java.io.File(Formats.s5CompactedDir(spark, sf0001))
    val fragDir = new java.io.File(dir.getParent, "fragmented")
    def parquets(d: java.io.File) = Option(d.listFiles()).get.filter(_.getName.endsWith(".parquet"))
    assert(parquets(fragDir).length == 64, "before-state: micro-batch fragmentation missing")

    val files = parquets(dir)
    val n = spark.read.parquet(dir.toString).count()
    val expected = math.max(1, math.ceil(n.toDouble / Formats.CompactTargetRows).toInt)
    assert(files.length <= expected && files.length < 16,
      s"compaction left ${files.length} files for $n rows (target $expected)")
    // range clustering: per-file l_shipdate spans may touch only at
    // boundaries (repartitionByRange), so min/max skipping works
    val ranges = files.toSeq
      .map { f =>
        // ISO timestamp strings compare lexicographically in time order
        // (and dodge the TIMESTAMP vs TIMESTAMP_NTZ JVM class split)
        val r = spark.read.parquet(f.toString)
          .selectExpr("min(cast(l_shipdate as string)) lo", "max(cast(l_shipdate as string)) hi")
          .head()
        (r.getString(0), r.getString(1))
      }
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aHi), (bLo, _)) =>
        assert(bLo >= aHi, s"file ranges overlap beyond the boundary: $aHi > $bLo")
      case _ =>
    }
  }

  test("c2: the shingle-df cap is a partial-agg hot list + anti-join (hot-key bound before the self-join)") {
    val capped = TextDedup.cappedShingleIndex(spark, sf0001, TextDedup.MaxShingleDf)
    val p = plan(capped)
    // the hot-list aggregate must pre-reduce map-side (partial_count),
    // so a single boilerplate shingle never concentrates its raw rows
    // on one reducer, and the cap itself must be an anti-join — never
    // a row-preserving window buffering the hot key's group
    assert(p.contains("partial_count"), s"hot-list count not map-side partial:\n$p")
    assert(p.contains("LeftAnti"), s"df cap is not an anti-join:\n$p")
    assert(!p.contains("Window"), s"df cap must not buffer per-key groups:\n$p")
  }

  test("c2/c59: shared shingle index builds once, serves from parquet, and matches the from-scratch rows") {
    val c2 = TextDedup.c2NgramJaccard(spark, sf0001)
    val c2Rows = c2.collect() // first touch forces the build
    val dir = TextDedup.shingleIndexDir(spark, sf0001)
    assert(new java.io.File(dir).exists(), s"index artifact not written under $dir")
    // both consumers' SERVE plans read the persisted index and compute
    // no shingles (no tokenization, no shingle hashing — the build/serve
    // split's whole point)
    for ((name, df) <- Seq(
        "c2" -> TextDedup.c2NgramJaccard(spark, sf0001),
        "c59" -> TextDedup.c59Containment(spark, sf0001)
      )) {
      val p = plan(df)
      assert(p.contains("graft_shingleindex"), s"$name serve plan does not read the index artifact:\n$p")
      assert(!p.contains("md5_tokens") && !p.contains("rolling_poly_hash"),
        s"$name serve plan recomputes shingles:\n$p")
    }
    // served rows are identical to the from-scratch compute
    val fresh = TextDedup.c2NgramJaccardCapped(spark, sf0001, TextDedup.MaxShingleDf).collect()
    assert(c2Rows.toSet == fresh.toSet, "served c2 diverges from the from-scratch compute")
  }

  test("c29: the ADC stage broadcasts the 10 queries — never a shuffled cartesian") {
    val df = VectorOps.c29AnnPq(spark, sf001)
    val p = plan(df)
    assert(p.contains("TopKPerKey"), s"shortlist prune missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"ADC scan degenerated to a cartesian:\n$p")
  }

  test("c27: repetition signal is a zero-shuffle narrow scan") {
    val df = TextAnalysis.c27DocRepetition(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), s"c27 must not shuffle:\n$p")
  }

  test("c28: domain quota plans the native TopKPerKey, no per-domain sort, cap holds") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c28DomainQuota(spark, sf001)
    val p = plan(df)
    assert(p.contains("TopKPerKey"), s"native operator missing:\n$p")
    assert(!p.contains("Sort") && !p.contains("Window"), s"quota must not sort whole domains:\n$p")
    assert(df.groupBy(col("source")).count().filter(col("count") > Sampling.DomainQuota).count() == 0)
  }

  test("c24: quantizer training sample is a narrow scan+filter — no Sort, no TakeOrdered, no exchange") {
    import org.apache.spark.sql.functions.{col, transform}
    val cands = graft.sources.Tables
      .embeddings(spark, sf001)
      .select(
        col("vec_id").as("neighbor_id"),
        graft.plans.ArrayNormalize.arrayNormalize(transform(col("embedding"), _.cast("double"))).as("vn")
      )
    val n = cands.count()
    val sampleN = 50
    assert(n > sampleN, s"need the thresholded branch: corpus $n <= sampleN $sampleN")
    val sample = VectorOps.trainingSample(cands, sampleN)
    val p = plan(sample)
    assert(!p.contains("Sort ") && !p.contains("TakeOrderedAndProject"),
      "training sample must never sort the corpus or merge it driver-ward:\n" + p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Exchange"), "hash-threshold sampling must not shuffle")
    // the threshold is sized from the corpus count: ~sampleN rows survive
    val got = sample.count()
    assert(got >= sampleN / 2 && got <= sampleN * 2, s"sample size $got far from target $sampleN (n=$n)")
  }

  test("s4: salted join equals the plain join (semantics preserved under salting)") {
    import org.apache.spark.sql.functions._
    val salted = ScaleJoins.s4SaltedJoin(spark, sf0001).orderBy("segment").collect()
    val plain = graft.sources.Tables
      .events(spark, sf0001)
      .join(
        graft.sources.Tables.customer(spark, sf0001),
        col("user_id") === col("c_custkey")
      )
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")
      )
      .orderBy("segment")
      .collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("b34: Q9-shape profit — part filter pushed, dims broadcast, profit re-derived exactly") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b34SqlQ9(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"part/supplier/nation must broadcast:\n$p")
    assert(p.contains("StringContains") || p.contains("Contains(p_name"), s"LIKE filter must push to the part scan:\n$p")
    val gearParts = graft.sources.Tables
      .part(spark, sf0001)
      .collect()
      .flatMap(r =>
        if (r.getString(r.fieldIndex("p_name")).contains("gear"))
          Some(r.getLong(r.fieldIndex("p_partkey")) -> BigDecimal(r.getDouble(r.fieldIndex("p_retailprice"))).setScale(2))
        else None
      )
      .toMap
    val supNat = graft.sources.Tables
      .supplier(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("s_suppkey")) -> r.getInt(r.fieldIndex("s_nationkey")))
      .toMap
    val ordYear = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderdate"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[java.time.LocalDateTime](1).getYear.toLong)
      .toMap
    val want = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .flatMap { r =>
        gearParts.get(r.getLong(1)).map { retail =>
          val amount = BigDecimal(r.getDouble(4)).setScale(2) * (1 - BigDecimal(r.getDouble(5)).setScale(2)) -
            retail * BigDecimal(r.getDouble(3)).setScale(2)
          ((s"NATION_${supNat(r.getLong(2))}", ordYear(r.getLong(0))), amount)
        }
      }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).sum.toDouble)
      .toMap
    val got = rows.map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("b35: Q2-shape min-cost supplier — decorrelated (no per-row subquery), ties kept, re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b35SqlQ2(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // Catalyst must rewrite the correlated MIN to an aggregate+join —
    // a surviving per-row scalar subquery would re-run the 4-table
    // inner join once per outer row
    assert(!df.queryExecution.optimizedPlan.toString.contains("scalar-subquery"), df.queryExecution.optimizedPlan.toString)
    val parts = graft.sources.Tables
      .part(spark, sf0001)
      .collect()
      .flatMap { r =>
        if (r.getInt(r.fieldIndex("p_size")) <= 15 && r.getString(r.fieldIndex("p_type")) == "LARGE")
          Some(r.getLong(r.fieldIndex("p_partkey")))
        else None
      }
      .toSet
    val sup = graft.sources.Tables
      .supplier(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("s_suppkey")) ->
        ((r.getString(r.fieldIndex("s_name")), r.getInt(r.fieldIndex("s_nationkey")), r.getDouble(r.fieldIndex("s_acctbal")))))
      .toMap
    val natRegion = graft.sources.Tables
      .nation(spark, sf0001)
      .collect()
      .map(r => r.getInt(r.fieldIndex("n_nationkey")) -> r.getInt(r.fieldIndex("n_regionkey")))
      .toMap
    val eurRegion = graft.sources.Tables
      .region(spark, sf0001)
      .collect()
      .collectFirst { case r if r.getString(r.fieldIndex("r_name")) == "EUROPE" => r.getInt(r.fieldIndex("r_regionkey")) }
      .get
    val cost = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), BigDecimal(r.getDouble(2)).setScale(2)))
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).sum)
      .toMap
    val eurCost = cost.filter { case ((_, sk), _) => natRegion(sup(sk)._2) == eurRegion }
    val minPerPart = eurCost.groupBy(_._1._1).view.mapValues(_.values.min).toMap
    val want = eurCost.collect {
      case ((pk, sk), c) if parts(pk) && c == minPerPart(pk) =>
        (pk, sup(sk)._1) -> ((sup(sk)._3, s"NATION_${sup(sk)._2}", c.toDouble))
    }.toMap
    val wantTop = want.toSeq
      .map { case ((pk, sname), (bal, nat, c)) => (bal, nat, sname, pk, c) }
      .sortBy { case (bal, nat, sname, pk, _) => (-bal, nat, sname, pk) }
      .take(100)
    val got = rows.map(r => (r.getDouble(0), r.getString(2), r.getString(1), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == wantTop)
    assert(wantTop.nonEmpty)
  }

  test("b36: Q16-shape supplier count — NOT IN plans as an anti join, counts re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b36SqlQ16(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), s"NOT IN must plan as an anti join:\n$p")
    val excl = graft.sources.Tables
      .supplier(spark, sf0001)
      .collect()
      .flatMap(r =>
        if (r.getDouble(r.fieldIndex("s_acctbal")) < 0.0) Some(r.getLong(r.fieldIndex("s_suppkey"))) else None
      )
      .toSet
    val sizes = Set(1, 4, 9, 14, 19, 23, 36, 45)
    val pinfo = graft.sources.Tables
      .part(spark, sf0001)
      .collect()
      .flatMap { r =>
        val (b, t, s) =
          (r.getString(r.fieldIndex("p_brand")), r.getString(r.fieldIndex("p_type")), r.getInt(r.fieldIndex("p_size")))
        if (b != "Brand#13" && t != "PROMO" && sizes(s)) Some(r.getLong(r.fieldIndex("p_partkey")) -> ((b, t, s)))
        else None
      }
      .toMap
    val want = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_partkey"), col("l_suppkey"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .distinct
      .flatMap { case (pk, sk) => if (!excl(sk)) pinfo.get(pk).map(_ -> sk) else None }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).distinct.length.toLong)
      .toMap
    val got = rows.map(r => ((r.getString(0), r.getString(1), r.getInt(2)), r.getLong(3))).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("b37: Q20-shape nested subqueries — semi joins, dominance rule re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b37SqlQ20(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), s"the IN subqueries must plan as semi joins:\n$p")
    val redParts = graft.sources.Tables
      .part(spark, sf0001)
      .collect()
      .flatMap(r =>
        if (r.getString(r.fieldIndex("p_name")).startsWith("red")) Some(r.getLong(r.fieldIndex("p_partkey"))) else None
      )
      .toSet
    val lo = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1997, 1, 1, 0, 0)
    val li96 = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_shipdate"))
      .collect()
      .flatMap { r =>
        val d = r.getAs[java.time.LocalDateTime](3)
        if (!d.isBefore(lo) && d.isBefore(hi))
          Some((r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(2)).setScale(2)))
        else None
      }
    val partTot = li96.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pairQty = li96.groupBy(v => (v._1, v._2)).view.mapValues(_.map(_._3).sum).toMap
    val qualSupp = pairQty.collect {
      case ((pk, sk), q) if redParts(pk) && q * 2 > partTot(pk) => sk
    }.toSet
    val supName = graft.sources.Tables
      .supplier(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("s_suppkey")) -> ((r.getString(r.fieldIndex("s_name")), r.getInt(r.fieldIndex("s_nationkey")))))
      .toMap
    val want = qualSupp.toSeq
      .map(sk => (supName(sk)._1, s"NATION_${supName(sk)._2}"))
      .sortBy(_._1)
    val got = rows.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("b38: Q11-shape value threshold — scalar evaluated once, threshold re-derived in decimal") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b38SqlQ11(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the uncorrelated total must appear as a one-shot Subquery stage
    assert(p.contains("Subquery"), s"the SUM threshold must run as a once-executed subquery:\n$p")
    val supNat = graft.sources.Tables
      .supplier(spark, sf0001)
      .collect()
      .map(r => r.getLong(r.fieldIndex("s_suppkey")) -> r.getInt(r.fieldIndex("s_nationkey")))
      .toMap
    val nat7 = graft.sources.Tables
      .nation(spark, sf0001)
      .collect()
      .collectFirst { case r if r.getString(r.fieldIndex("n_name")) == "NATION_3" => r.getInt(r.fieldIndex("n_nationkey")) }
      .get
    val perPart = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .collect()
      .flatMap { r =>
        if (supNat(r.getLong(1)) == nat7) Some(r.getLong(0) -> BigDecimal(r.getDouble(2)).setScale(2)) else None
      }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).sum)
      .toMap
    val total = perPart.values.sum
    val want = perPart.toSeq
      .collect { case (pk, v) if v * 1000 > total => (pk, v.toDouble) }
      .sortBy { case (pk, v) => (-v, pk) }
    val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("b39: Q4-shape EXISTS — one semi join carrying the cross-table inequality, re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b39SqlQ4(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    val lo = java.time.LocalDateTime.of(1997, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1997, 4, 1, 0, 0)
    val ords = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect()
      .flatMap { r =>
        val d = r.getAs[java.time.LocalDateTime](1)
        if (!d.isBefore(lo) && d.isBefore(hi)) Some(r.getLong(0) -> ((d, r.getString(2)))) else None
      }
      .toMap
    val late = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_shipdate"))
      .collect()
      .flatMap { r =>
        ords.get(r.getLong(0)).flatMap { case (od, _) =>
          if (r.getAs[java.time.LocalDateTime](1).isAfter(od.plusDays(60))) Some(r.getLong(0)) else None
        }
      }
      .toSet
    val want = ords.collect { case (ok, (_, prio)) if late(ok) => prio }
      .groupBy(identity)
      .view
      .mapValues(_.size.toLong)
      .toMap
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("c52: corpus split — row-local assignment, one census shuffle, disjoint + exhaustive") {
    import org.apache.spark.sql.functions.col
    val df = Sampling.c52CorpusSplit(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), s"census must combine map-side:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text rode the census shuffle: $line")
    }
    def h32(s: String) = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = docs
      .map { case (id, lang, text) =>
        val b = h32(s"split_$id") % 1000
        val split =
          if (b < Sampling.SplitTrainPerMille) "train" else if (b < Sampling.SplitValPerMille) "val" else "test"
        ((split, lang), text.split(" ", -1).length.toLong)
      }
      .groupBy(_._1)
      .view
      .mapValues(vs => (vs.size.toLong, vs.map(_._2).sum))
      .toMap
    val got = rows.map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    // disjoint + exhaustive: every doc lands in exactly one split, and
    // all three splits are populated at gate scale
    assert(got.values.map(_._1).sum == docs.length.toLong)
    assert(got.keys.map(_._1).toSet == Set("train", "val", "test"))
  }

  test("c53: boilerplate coverage — text never shuffles, per-source scope re-derived row-at-a-time") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.{rollCoeffs, RollP}
    val df = TextAnalysis.c53Boilerplate(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text rode a shuffle: $line")
    }
    def h32(s: String) = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val ks = rollCoeffs(TextAnalysis.BoilerplateN)
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val pos = docs.map { case (id, src, text) =>
      val ht = text.split(" ", -1).map(h32)
      val hs = (0 to ht.length - TextAnalysis.BoilerplateN)
        .map(i => (0 until TextAnalysis.BoilerplateN).map(j => ht(i + j) * ks(j)).sum % RollP)
      (id, src, hs)
    }
    val hot = pos
      .flatMap { case (id, src, hs) => hs.distinct.map(h => (src, h) -> id) }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).distinct.length)
      .filter(_._2 >= TextAnalysis.BoilerplateDfMin)
      .keySet
    val want = pos.flatMap { case (id, src, hs) =>
      if (hs.isEmpty) None
      else {
        val b = hs.count(h => hot((src, h))).toLong
        Some(id -> ((hs.length.toLong, b, b.toDouble / hs.length)))
      }
    }.toMap
    val got = rows
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == want)
    assert(want.values.exists(_._2 > 0), "the gate data must contain actual boilerplate hits")
    assert(want.values.exists(_._2 == 0), "and clean docs")
  }

  test("meta: EVERY gate query plans scale-safe — nested-loop joins and global windows only where documented") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // Nested-loop shapes (CartesianProduct / BroadcastNestedLoopJoin)
    // allowed ONLY where one side is provably tiny or the cartesian IS
    // the operator's definition. Every entry documents why it is safe
    // at 100 TB; everything else must plan hash/sort-merge joins.
    val allowNestedLoop: Map[String, String] = Map(
      "c5_dedup_embedding" -> "intentional exact all-pairs baseline; c17 is the scale path",
      "c6_ann_bruteforce" -> "broadcast ≤10-query set × corpus stream; the ANN correctness baseline",
      "c54_ann_filtered" -> "broadcast ≤10-query set, label-keyed hash join does the pruning",
      "c13_sql_vector" -> "single-row query-vector frame crossed with the corpus scan",
      "c15_bigram_lm" -> "single-row corpus-total frame broadcast back",
      "c49_source_mix" -> "single-row token-total frame broadcast back",
      "c52_corpus_split" -> "no join at all (guard: entry present only for doc clarity)",
      "b9_percentiles" -> "single-row sketch-edge frame broadcast back",
      "b11_scalar_subquery" -> "uncorrelated scalar threshold broadcast back",
      "c21_decontamination" -> "broadcast eval-shingle set vs corpus; eval sets are small by contract",
      "c36_temperature_mix" -> "per-lang threshold frame (≤ #langs rows) broadcast back",
      "c30_token_budget" -> "≤51-row band-offset frame broadcast back",
      "c32_curation_e2e" -> "c30's band-offset frame inside the composition",
      "c25_sequence_packing" -> "≤#buckets-row offset table broadcast back",
      "c40_shuffled_packing" -> "≤1024-row hash-bucket offset table broadcast back",
      "c39_embedding_outliers" -> "single-row p10-floor frame broadcast back",
      "b12_approx_sketch" -> "single-row sketch frame broadcast back",
      "a8_event_time_stats" -> "single-row watermark (max ts) frame broadcast back",
      "c14_tfidf" -> "single-row corpus doc-count frame broadcast back",
      "s19_column_stats" -> "single-row per-column stat frames crossed with the row-count frame (the c76 idiom, not a data join; r14 split-aggregate shape)",
      "c18_ann_ivf" -> "broadcast coarse quantizer (≤k centroid rows) + ≤10-query frame",
      "c24_ann_ivf_trained" -> "broadcast trained quantizer (bounded index artifact; see c24 spec)",
      "c29_ann_pq" -> "broadcast ≤10-query frame over the 8-code ADC scan (see c29 spec)",
      "c35_semdedup" -> "broadcast seeded-centroid frame for the cluster assignment",
      "c57_rag_retrieval" -> "broadcast 2-query frame × chunk stream (c6's posture on the chunk index)",
      "c60_hard_negatives" -> "broadcast ≤10-anchor frame; label DISequality can't be a key, evaluated in-stream",
      "c61_knn_graph" -> "driver-held centroid literals since round 10 (entry kept for provenance); the corpus-sized meet is a keyed list_id join",
      "c69_cluster_purity" -> "broadcast seeded-centroid frame for the cluster assignment (c35's shape)",
      "c74_ann_recall" -> "composes c6/c7/c18 — inherits c6's broadcast ≤10-query baseline",
      "c76_dedup_card" -> "five single-row summary frames crossed (the c14 idiom, not a data join)",
      "c77_source_drift" -> "pairwise join over the #sources-row centroid frame (tiny by definition)",
      "c78_bitext_margin" -> "exact-baseline cross of the two sides (documented; c90 is the served IVF scale path)",
      "c90_bitext_margin_ivf" -> "driver-held centroid literals since round 10 (entry kept for provenance); the corpus-sized meets are keyed list_id joins",
      "c82_semantic_decontam" -> "broadcast eval-vector set vs corpus; eval sets are small by contract (c21's posture)",
      "c87_ann_jl" -> "broadcast ≤10-query frame; the corpus streams its 4x-smaller sketch column (c6's posture)",
      "c96_dedup_embedding_ivf" -> "driver-held centroid literals since round 10 (entry kept for provenance); the corpus-sized pair meet is a keyed list_id join (c61's posture)",
      "c97_cross_rerank" -> "inherits c57's broadcast 2-query × chunk-stream first stage; the pair scorer touches only the k-per-query shortlist",
      "c98_hybrid_rrf" -> "inherits c57's broadcast 2-query × chunk-stream first stage; the fusion itself joins two bounded top-k lists",
      "c101_ann_imi" -> "broadcast ≤2·halfK half-codebook frames × the ≤10-query battery (cell ranking only — corpus assignment is the row-local CentroidTopK kernel; the corpus-sized meet is a keyed (aid, bid) join)",
      "c106_ann_imi_trained" -> "c101's cell-ranking posture with TRAINED half-codebooks (driver arrays → local frames): broadcast ≤2·halfK rows × the ≤10-query battery; corpus assignment stays the row-local kernel, the corpus-sized meet a keyed (aid, bid) join",
      "c108_ann_imi_adc" -> "c106's cell-ranking posture verbatim (broadcast ≤2·halfK half-codebook rows × the ≤10-query battery); corpus assignment + residual encode are row-local projections against driver-held structures, the corpus-sized meet a keyed (aid, bid) join over 8-int codes"
    )
    // Unpartitioned windows are allowed only over an AGGREGATED frame
    // (bucket/band offsets — rows ∝ buckets, not corpus); a global
    // window over raw rows is the single-task sort that kills at scale.
    val allowGlobalWindowOverRaw: Map[String, String] = Map.empty
    // Document text must never ride an exchange (hash it, chunk it,
    // band it — then shuffle the digests): queries here are the ones
    // whose CONTRACT is to emit text (redaction, rewrite, roundtrip),
    // where the text column through the final exchange IS the output.
    val allowTextShuffle: Map[String, String] = Map(
      "c22_pii_redact" -> "the redacted text IS the output contract",
      "c43_chunk_dedup_rewrite" -> "the rewritten text IS the output contract",
      "s1_format_roundtrip" -> "roundtrip fidelity requires writing the text",
      "s8_text_roundtrip" -> "roundtrip fidelity requires writing the text"
    )
    val failures = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      val qe = fn(spark, sf0001).queryExecution
      val p = qe.executedPlan.toString
      val nested = p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      if (nested && !allowNestedLoop.contains(n))
        failures += s"$n: undocumented nested-loop join"
      qe.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          val overAgg = w.collect { case a: Aggregate => a }.nonEmpty
          if (!overAgg && !allowGlobalWindowOverRaw.contains(n))
            failures += s"$n: global window over a non-aggregated frame"
        }
      val textRides = qe.executedPlan
        .collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
        .exists(_.output.exists(_.name == "text"))
      if (textRides && !allowTextShuffle.contains(n))
        failures += s"$n: document text rides an exchange"
    }
    assert(failures.result().isEmpty, failures.result().mkString("\n"))
  }

  test("c58: decontamination report — eval-axis leak audit re-derived; clean items kept at zero") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions.{rollCoeffs, RollP}
    val df = Sampling.c58DecontamReport(spark, sf001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    def h32(s: String) = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val ks = rollCoeffs(TextDedup.ShingleSize)
    val docs = graft.sources.Tables
      .documents(spark, sf001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val ht = r.getString(1).split(" ", -1).map(h32)
        val hs = (0 to ht.length - TextDedup.ShingleSize)
          .map(i => (0 until TextDedup.ShingleSize).map(j => ht(i + j) * ks(j)).sum % RollP)
          .toSet
        (r.getLong(0), hs)
      }
    val ev = docs.filter(_._1 % Sampling.EvalEvery == 0)
    val corpus = docs.filter(_._1 % Sampling.EvalEvery != 0)
    val want = ev.map { case (id, hs) =>
      val partners = corpus.filter(c => c._2.exists(hs)).map(_._1)
      val leaked = hs.count(h => corpus.exists(_._2(h)))
      id -> ((partners.length.toLong, leaked.toLong, hs.size.toLong, leaked.toDouble / hs.size))
    }.toMap
    val got = rows
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == want)
    assert(want.values.exists(_._2 > 0), "gate data must contain an actual leak")
    assert(want.values.exists(_._2 == 0), "and clean eval items reported at zero")
  }

  test("c57: RAG retrieval — row-local chunk+embed (no pre-topk shuffle), exact top-k re-derived") {
    import org.apache.spark.sql.functions.col
    val df = VectorOps.c57RagRetrieval(spark, sf0001)
    val rows = df.collect()
    // the served query reads the amortized localCheckpoint (Scan
    // ExistingRDD — the shortlist is computed once per (app, sfDir)
    // for c57/c97/c98), so the plan contract is audited on the
    // COMPUTE path that built it
    val p = plan(VectorOps.ragShortlistCompute(spark, sf0001))
    // chunking and embedding are row-local; the only exchange is the
    // bounded top-k partial/final pair and the tiny rank window
    assert(p.contains("TopKPerKey ["), s"retrieval must rank on the native top-k:\n$p")
    def h32md5(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def embed(hex: String): Array[Double] = {
      val v = Array.tabulate(VectorOps.RagDims)(j =>
        java.lang.Long.parseLong(hex.substring(j * 4, j * 4 + 4), 16).toDouble - 32768.0
      )
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val cs = TextAnalysis.ChunkSize
    val st = TextAnalysis.ChunkStride
    val chunks = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .flatMap { r =>
        val w = r.getString(1).split(" ", -1)
        val nc = math.max(math.ceil((w.length - cs).toDouble / st).toInt, 0) + 1
        (0 until nc).map { ci =>
          val cw = w.slice(ci * st, ci * st + cs)
          (r.getLong(0), ci.toLong, embed(h32md5(cw.mkString(" "))))
        }
      }
    val want = VectorOps.RagQueryTexts.zipWithIndex.flatMap { case (t, qi) =>
      val qv = embed(h32md5(t))
      chunks
        .map { case (d, ci, cv) => (d, ci, qv.zip(cv).map { case (a, b) => a * b }.sum) }
        .sortBy { case (d, ci, cos) => (-cos, d, ci) }
        .take(VectorOps.RagTopK)
        .zipWithIndex
        .map { case ((d, ci, cos), i) => (qi.toLong, d, ci, (i + 1).toLong, cos) }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == want)
    assert(got.size == VectorOps.RagQueryTexts.size * VectorOps.RagTopK)
  }

  test("c56: BPE pair counts — corpus collapses to vocab first, pairs re-derived row-at-a-time") {
    import org.apache.spark.sql.functions.col
    val df = TextAnalysis.c56BpePairs(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text rode a shuffle: $line")
    }
    val vocab = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("text"))
      .collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity)
      .view
      .mapValues(_.length.toLong)
    val counts = vocab.toSeq
      .flatMap { case (w, c) => (0 until w.length - 1).map(i => w.substring(i, i + 2) -> c) }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).sum)
      .toMap
    val want = counts.toSeq
      .sortBy { case (pr, n) => (-n, pr) }
      .take(TextAnalysis.BpeTopPairs)
      .zipWithIndex
      .map { case ((pr, n), i) => (pr, n, (i + 1).toLong) }
    val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(want.size == TextAnalysis.BpeTopPairs)
  }

  test("b40: grouping sets — two-phase: Expand over the finest-grouping partial, all four sets re-derived") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b40GroupingSets(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(p.contains("Expand"), s"grouping sets must plan one Expand:\n$p")
    // count exchanges in the executed (final) section only — after
    // collect() the AQE plan string repeats the tree under
    // "== Initial Plan ==", which would double-count
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"two agg exchanges max:\n$p")
    // round-14 two-phase shape: the Expand's input is the finest-grouping
    // AGGREGATE, not the fact-table scan — grouping sets never multiply
    // lineitem rows (guide §2.3). In the printed tree the Expand line must
    // be followed by a HashAggregate line before any FileScan line.
    val lines = p.linesIterator.toSeq
    val iExpand = lines.indexWhere(_.contains("Expand"))
    val iScan = lines.indexWhere(_.contains("FileScan"))
    val aggBetween = lines.slice(iExpand + 1, iScan).exists(_.contains("HashAggregate"))
    assert(iExpand >= 0 && iScan > iExpand && aggBetween,
      s"Expand must consume the pre-aggregate, not the scan:\n$p")
    val li = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), BigDecimal(r.getDouble(2)).setScale(2)))
    def agg(key: ((String, String, BigDecimal)) => (String, String)) =
      li.groupBy(key).view.mapValues(vs => (vs.map(_._3).sum.toDouble, vs.size.toLong)).toMap
    val want =
      agg(v => (v._1, v._2)).map { case ((f, s), v) => ((f, s, 0L, 0L), v) } ++
        agg(v => (v._1, null)).map { case ((f, _), v) => ((f, null, 0L, 1L), v) } ++
        agg(v => (null, v._2)).map { case ((_, s), v) => ((null, s, 1L, 0L), v) } ++
        Map((null: String, null: String, 1L, 1L) ->
          ((li.map(_._3).sum.toDouble, li.length.toLong)))
    val got = rows.map { r =>
      ((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)), (r.getDouble(4), r.getLong(5)))
    }.toMap
    assert(got == want.map { case ((a, b, c, d), v) => ((a, b, c, d), v) })
  }

  test("b41: recursive month spine — UnionLoop plans, rows re-derived, planted gap month zero-fills") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = GraftSql.b41RecursiveCte(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(p.contains("UnionLoop"), s"WITH RECURSIVE must plan the native UnionLoop:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // re-derive: month spine from the data's own bounds, decimal sums,
    // explicit zero rows for empty months. date_trunc emits LTZ even on
    // NTZ input (value-preserving in the UTC session) — accept both.
    def localDate(v: Any): java.time.LocalDate = v match {
      case t: java.sql.Timestamp => t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      case d: java.time.LocalDateTime => d.toLocalDate
    }
    val orders = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderdate"), col("o_totalprice"))
      .collect()
      .map { r =>
        val m = localDate(r.get(0)).withDayOfMonth(1)
        (m, BigDecimal(r.getDouble(1)).setScale(2))
      }
    val lo = orders.map(_._1).min
    val hi = orders.map(_._1).max
    val byMonth = orders.groupBy(_._1).view.mapValues(vs => (vs.size.toLong, vs.map(_._2).sum)).toMap
    val want = Iterator
      .iterate(lo)(_.plusMonths(1))
      .takeWhile(!_.isAfter(hi))
      .map { m =>
        val (n, rev) = byMonth.getOrElse(m, (0L, BigDecimal(0)))
        m -> ((n, rev.toDouble))
      }
      .toMap
    val got = rows.map { r =>
      val m = localDate(r.get(0))
      m -> ((r.getLong(1), r.getDouble(2)))
    }.toMap
    assert(got == want)
    assert(got.size == java.time.temporal.ChronoUnit.MONTHS.between(lo, hi) + 1)

    // the gate corpus has orders in every month — plant a gap so the
    // zero-fill branch is exercised: Jan and Mar populated, Feb empty
    Seq(
      ("1995-01-15 00:00:00", 10.0),
      ("1995-03-02 00:00:00", 20.0),
      ("1995-03-20 00:00:00", 30.0)
    ).toDF("d", "o_totalprice")
      .select(col("d").cast("timestamp_ntz").as("o_orderdate"), col("o_totalprice"))
      .createOrReplaceTempView("orders_b41_gap")
    val gap = spark
      .sql(GraftSql.b41SqlOn("orders_b41_gap"))
      .collect()
      .map(r => localDate(r.get(0)) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(
      gap == Map(
        java.time.LocalDate.of(1995, 1, 1) -> ((1L, 10.0)),
        java.time.LocalDate.of(1995, 2, 1) -> ((0L, 0.0)),
        java.time.LocalDate.of(1995, 3, 1) -> ((2L, 50.0))
      )
    )
  }

  test("c55: near-dup admission — verdicts re-derived from the pair set; planted intra-batch branch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val every = graft.operators.Sampling.IncrEvery
    val df = TextDedup.c55NearDupIncremental(spark, sf001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val got = df
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val pairs = TextDedup
      .c3MinHashLsh(spark, sf001)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)]
      .collect()
    val langs = graft.sources.Tables
      .documents(spark, sf001)
      .select(col("doc_id"), col("lang"))
      .as[(Long, String)]
      .collect()
      .toMap
    val mem = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val want = mem
      .filter { case (d, o) => d % every == 0 && (o % every != 0 || o < d) }
      .groupBy(_._1)
      .map { case (d, os) =>
        val hist = os.count(_._2 % every != 0).toLong
        val batch = os.count(_._2 % every == 0).toLong
        d -> ((langs(d), hist, batch, os.map(_._2).min))
      }
    assert(got == want.toMap)
    assert(want.nonEmpty && want.values.exists(_._2 > 0), "gate data must reject against history")

    // the intra-batch branch is absent from the gate corpus — plant it:
    // docs 10 and 20 are both batch members and near-dups; 20 must be
    // rejected by 10 (min-id canonical), 10 admitted (no blocker)
    val planted = Seq((10L, 20L), (7L, 30L)).toDF("doc_a", "doc_b")
    val docs = Seq((10L, "en"), (20L, "en"), (30L, "de"), (7L, "de")).toDF("doc_id", "lang")
    val verdict = TextDedup
      .c55NearDupIncrementalFrom(planted, docs, every)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(verdict == Map(20L -> ((0L, 1L, 10L)), 30L -> ((1L, 0L, 7L))))
  }

  test("c59: containment — re-derived row-at-a-time; planted quotation pair that Jaccard misses") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.functions.TextFunctions.{rollCoeffs, RollP}
    val df = TextDedup.c59Containment(spark, sf001)
    val rows = df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    def h32(s: String) = {
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val ks = rollCoeffs(TextDedup.ShingleSize)
    val docs = graft.sources.Tables
      .documents(spark, sf001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val ht = r.getString(1).split(" ", -1).map(h32)
        val hs = (0 to ht.length - TextDedup.ShingleSize)
          .map(i => (0 until TextDedup.ShingleSize).map(j => ht(i + j) * ks(j)).sum % RollP)
          .toSet
        (r.getLong(0), hs)
      }
    // the gate corpus is under the df cap (asserted by the c2 spec), so
    // the capped index equals the full index here
    val want = (for {
      (a, ha) <- docs.iterator
      (b, hb) <- docs.iterator if a < b
      common = (ha & hb).size
      small = math.min(ha.size, hb.size)
      if small > 0 && common * TextDedup.ContainDen >= small * TextDedup.ContainNum
    } yield {
      val (ds, dbg, ns, nb) =
        if (ha.size <= hb.size) (a, b, ha.size.toLong, hb.size.toLong)
        else (b, a, hb.size.toLong, ha.size.toLong)
      (ds, dbg) -> ((ns, nb, common.toLong, common.toDouble / small))
    }).toMap
    val got = rows.map { r =>
      (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    }.toMap
    assert(got == want)
    assert(want.nonEmpty, "gate data must contain at least one containment pair")

    // plant the shape this operator exists for: doc 1 (10 shingles)
    // fully inside doc 2 (100 shingles) — containment 1.0, Jaccard 0.1,
    // far below c2/c3's 0.8 near-dup bar
    val small = (0L until 10L).map(h => (1L, h))
    val big = (0L until 100L).map(h => (2L, h))
    val other = Seq((3L, 500L)) // unrelated doc, shares nothing
    val planted = TextDedup
      .c59ContainmentFrom((small ++ big ++ other).toDF("doc_id", "h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(planted == Map((1L, 2L) -> ((10L, 100L, 10L, 1.0))))
  }

  test("s14: z-order layout — expected file count; single-dim ranges skip most files on BOTH dims") {
    import org.apache.spark.sql.functions.{col, datediff, input_file_name, lit, max, min}
    val df = graft.sources.Formats.s14Zorder(spark, sf0001)
    // content fidelity is the oracle's job; run it so the layout exists
    val got = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = graft.sources.Tables
      .orders(spark, sf0001)
      .collect()
      .map(r => (r.getString(r.fieldIndex("o_orderpriority")), BigDecimal(r.getDouble(r.fieldIndex("o_totalprice"))).setScale(2)))
      .groupBy(_._1)
      .view
      .mapValues(vs => (vs.size.toLong, vs.map(_._2).sum.toDouble))
      .toMap
    assert(got == want)

    val dir = graft.sources.Formats.s14ZorderDir(spark, sf0001)
    val perFile = spark.read
      .parquet(dir)
      .select(
        input_file_name().as("f"),
        col("o_custkey"),
        datediff(col("o_orderdate"), lit("1990-01-01")).cast("long").as("d")
      )
      .groupBy(col("f"))
      .agg(
        min(col("o_custkey")).as("cmin"), max(col("o_custkey")).as("cmax"),
        min(col("d")).as("dmin"), max(col("d")).as("dmax")
      )
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(perFile.length == graft.sources.Formats.ZorderFiles, s"got ${perFile.length} files")

    val cLo = perFile.map(_._1).min; val cHi = perFile.map(_._2).max
    val dLo = perFile.map(_._3).min; val dHi = perFile.map(_._4).max
    // a mid-range band covering ~1/4 of ONE dimension: a z-ordered
    // layout bounds both dims per file, so most files' envelopes miss
    // the band; any single-column sort would leave the OTHER dim
    // unbounded per file (every file intersects)
    def touchFrac(band: (Long, Long), lo: Seq[Long], hi: Seq[Long]): Double =
      lo.zip(hi).count { case (l, h) => h >= band._1 && l <= band._2 }.toDouble / perFile.length
    // the band sits INSIDE one top-level curve quadrant (5/16..7/16):
    // a band straddling the grid midline touches two quadrant columns
    // by construction — that is curve geometry, not a layout failure
    val cBand = (cLo + (cHi - cLo) * 5 / 16, cLo + (cHi - cLo) * 7 / 16)
    val dBand = (dLo + (dHi - dLo) * 5 / 16, dLo + (dHi - dLo) * 7 / 16)
    val cFrac = touchFrac(cBand, perFile.map(_._1).toSeq, perFile.map(_._2).toSeq)
    val dFrac = touchFrac(dBand, perFile.map(_._3).toSeq, perFile.map(_._4).toSeq)
    assert(cFrac <= 0.5, s"custkey band touches $cFrac of files — no skipping on dim 1")
    assert(dFrac <= 0.5, s"date band touches $dFrac of files — no skipping on dim 2")
  }

  test("c54: filtered ANN — label is the join key (no cartesian), exact filtered top-k re-derived") {
    import org.apache.spark.sql.functions.col
    val df = VectorOps.c54AnnFiltered(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    // c6's baseline is an intentional broadcast cartesian; the filtered
    // variant must NOT be — the predicate becomes the key
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"queries must broadcast on the label key:\n$p")
    val e = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](2).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), r.getInt(1), v.map(_ / n))
      }
    val queries = e.filter(_._1 < VectorOps.NumQueryVecs)
    val cands = e.filter(_._1 >= VectorOps.NumQueryVecs)
    val want = queries.flatMap { case (qid, ql, qv) =>
      cands
        .filter(_._2 == ql)
        .map { case (cid, _, cv) => (cid, qv.zip(cv).map { case (a, b) => a * b }.sum) }
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(VectorOps.TopK)
        .zipWithIndex
        .map { case ((cid, cos), i) => (qid, cid, (i + 1).toLong, cos) }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // cosines compare exactly: both sides sum left-to-right over the
    // same normalized doubles
    assert(got == want)
    // every query's neighbor list is label-homogeneous with the query
    val lbl = e.map(v => v._1 -> v._2).toMap
    rows.foreach(r => assert(lbl(r.getLong(1)) == lbl(r.getLong(0))))
  }

  test("b42: LATERAL agg — decorrelated to one keyed aggregate join; orderless customers keep their row") {
    import org.apache.spark.sql.functions.col
    val df = GraftSql.b42LateralAgg(spark, sf0001)
    val rows = df
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!df.queryExecution.optimizedPlan.toString.contains("LateralJoin"), "lateral did not decorrelate")
    val custs = graft.sources.Tables
      .customer(spark, sf0001)
      .select(col("c_custkey"))
      .collect()
      .map(_.getLong(0))
    val orders = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_custkey"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(2)))
      .groupBy(_._1)
    val want = custs.map { c =>
      val os = orders.getOrElse(c, Array.empty[(Long, BigDecimal)])
      c -> ((os.length.toLong, if (os.isEmpty) None else Some(os.map(_._2).max.toDouble)))
    }.toMap
    assert(rows == want)
    assert(rows.size == custs.length)

    // the lateral's defining property vs join+groupBy: a customer with
    // NO orders still yields its (0, NULL) row — plant one, since the
    // gate corpus has orders for every customer
    import spark.implicits._
    Seq(1L, 2L).toDF("c_custkey").createOrReplaceTempView("cust_b42")
    Seq((1L, 10.0)).toDF("o_custkey", "o_totalprice").createOrReplaceTempView("ord_b42")
    val planted = spark
      .sql(GraftSql.b42SqlOn("cust_b42", "ord_b42"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(planted == Map(1L -> ((1L, Some(10.0))), 2L -> ((0L, None))))
  }

  test("c86/c79: the map-only scans plan with ZERO exchanges") {
    // THE property of both: sketching / classifying 100 TB is a pure
    // map — no shuffle anywhere in the plan
    val pJl = plan(VectorOps.c86JlProjection(spark, sf0001))
    assert(!pJl.contains("Exchange"), s"JL projection must be exchange-free:\n$pJl")
    val pQc = plan(TextAnalysis.c79LinearQuality(spark, sf0001))
    assert(!pQc.contains("Exchange"), s"linear-quality inference must be exchange-free:\n$pQc")
  }

  test("c65: doc embedding — whole pass row-local (zero exchanges), pooled dims re-derived exactly") {
    import org.apache.spark.sql.functions.col
    val df = VectorOps.c65DocEmbedding(spark, sf0001)
    val rows = df.collect()
    // THE property: embedding 100 TB is a pure map — no exchange at all
    val p = plan(df)
    assert(!p.contains("Exchange"), s"doc embedding must be exchange-free:\n$p")
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cs = TextAnalysis.ChunkSize
    val st = TextAnalysis.ChunkStride
    val want = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        val nc = math.max(math.ceil((w.length - cs).toDouble / st).toInt, 0) + 1
        val sums = new Array[Long](VectorOps.RagDims)
        (0 until nc).foreach { ci =>
          val h = md5hex(w.slice(ci * st, ci * st + cs).mkString(" "))
          (0 until VectorOps.RagDims).foreach { j =>
            sums(j) += java.lang.Long.parseLong(h.substring(j * 4, j * 4 + 4), 16) - 32768L
          }
        }
        val mv = sums.map(_.toDouble / nc)
        val norm = math.sqrt(mv.zip(mv).map { case (a, b) => a * b }.sum)
        (r.getLong(0), (nc.toLong, mv.map(_ / norm).toSeq))
      }
      .toMap
    val got = rows.map { r =>
      (r.getLong(0), (r.getLong(1), (0 until VectorOps.RagDims).map(j => r.getDouble(2 + j))))
    }.toMap
    assert(got == want)
  }

  test("c62: dataset card — one Expand + one agg exchange, text pre-counted, all four marginals re-derived") {
    import org.apache.spark.sql.functions.col
    val df = TextAnalysis.c62DatasetCard(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(p.contains("Expand"), s"grouping sets must plan one Expand:\n$p")
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 2, s"one agg exchange (+AQE read):\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach { line =>
      assert(!line.contains("text"), s"text rode a shuffle: $line")
    }
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("source"), col("lang"), col("text"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2).split(" ", -1).length.toLong, r.getLong(3)))
    def cell(vs: Array[(String, String, Long, Long)]) =
      (vs.length.toLong, vs.map(_._3).sum, vs.map(_._4).sum,
        vs.count(_._3 < TextAnalysis.ShortDocTokens).toLong)
    val want =
      docs.groupBy(v => (v._1, v._2)).map { case ((s, l), vs) => (s, l, 0L, 0L) -> cell(vs) } ++
        docs.groupBy(_._1).map { case (s, vs) => (s, null, 0L, 1L) -> cell(vs) } ++
        docs.groupBy(_._2).map { case (l, vs) => (null, l, 1L, 0L) -> cell(vs) } ++
        Map((null: String, null: String, 1L, 1L) -> cell(docs))
    val got = rows.map { r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    }.toMap
    assert(got == want.toMap)
  }

  test("c62: GROUPING() markers separate a planted data-NULL lang from the aggregated-away NULLs") {
    import spark.implicits._
    // two docs with lang = NULL, one with 'en' — without the markers,
    // the (src, NULL) cell row and the (src) rollup row are identical
    // tuples; the markers are the only disambiguation (the BI contract
    // b40/c62 exist to honor)
    val base = Seq(
      ("s1", Some("en"), 10L, 100L),
      ("s1", None, 5L, 50L),
      ("s1", None, 7L, 70L)
    ).toDF("source", "lang", "nt", "n_chars")
    val rows = TextAnalysis
      .c62DatasetCardFrom(base)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) -> ((r.getLong(4), r.getLong(5))))
      .toMap
    // the DATA-null cell: lang NULL but g_lang = 0 (lang was grouped ON)
    assert(rows(("s1", null, 0L, 0L)) == ((2L, 12L)))
    // the rollup row: lang NULL because aggregated away — g_lang = 1
    assert(rows(("s1", null, 0L, 1L)) == ((3L, 22L)))
    // both NULL-lang rows coexist, distinguished ONLY by the marker
    assert(rows(("s1", "en", 0L, 0L)) == ((1L, 10L)))
    assert(rows((null, null, 1L, 1L)) == ((3L, 22L)))
  }

  test("c61: kNN graph — probe heaps on the native top-k, keyed list join, graph re-derived exactly") {
    import org.apache.spark.sql.functions.col
    val df = VectorOps.c61KnnGraph(spark, sf0001)
    val rows = df.collect()
    val p = plan(df)
    assert(p.contains("TopKPerKey ["), s"probe selection must ride the native top-k:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val e = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), v.map(_ / n))
      }
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val cent = e.filter(_._1 < VectorOps.KnnGraphLists)
    def rankedLists(v: Array[Double]) =
      cent.map { case (cid, cv) => (cid, dot(v, cv)) }.sortBy { case (cid, c) => (-c, cid) }
    val asg = e.map { case (id, v) => id -> rankedLists(v).head._1 }.toMap
    val members = e.groupBy { case (id, _) => asg(id) }
    val want = e.flatMap { case (qid, qv) =>
      val probed = rankedLists(qv).take(VectorOps.KnnGraphProbes).map(_._1)
      probed
        .flatMap(members.getOrElse(_, Array.empty[(Long, Array[Double])]))
        .filter(_._1 != qid)
        .map { case (nid, nv) => (nid, dot(qv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(VectorOps.KnnGraphK)
        .zipWithIndex
        .map { case ((nid, c), i) => (qid, nid, (i + 1).toLong, c) }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    // a graph, not a query result: (almost) every vector has neighbors
    assert(rows.map(_.getLong(0)).distinct.length >= e.length - 1)
  }

  test("c60: hard negatives — exact different-label top-k re-derived; no same-label row survives") {
    import org.apache.spark.sql.functions.col
    val df = VectorOps.c60HardNegatives(spark, sf0001)
    val rows = df.collect()
    val e = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map { r =>
        val v = r.getSeq[Float](2).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (r.getLong(0), r.getInt(1), v.map(_ / n))
      }
    val queries = e.filter(_._1 < VectorOps.NumQueryVecs)
    val cands = e.filter(_._1 >= VectorOps.NumQueryVecs)
    val want = queries.flatMap { case (qid, ql, qv) =>
      cands
        .filter(_._2 != ql)
        .map { case (cid, _, cv) => (cid, qv.zip(cv).map { case (a, b) => a * b }.sum) }
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(VectorOps.TopK)
        .zipWithIndex
        .map { case ((cid, cos), i) => (qid, cid, (i + 1).toLong, cos) }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    // the defining property: NO neighbor shares its anchor's label
    val lbl = e.map(v => v._1 -> v._2).toMap
    rows.foreach(r => assert(lbl(r.getLong(1)) != lbl(r.getLong(0))))
    // and the negatives are HARD: each anchor's list is the global
    // different-label maximum, so its top-1 cosine must be ≥ every
    // different-label candidate's cosine (sanity on the re-derivation)
    assert(rows.count(_.getLong(2) == 1L) == queries.length)
  }

  test("planted skew: one user = 30% of events — AQE splits a2's hot partition, s4's salt spreads it, results identical") {
    import org.apache.spark.sql.functions._
    val sparkS = spark
    import sparkS.implicits._
    // hostile corpus: user 7 holds 30% of all events; the rest spread
    // over ~400 users. hash(user_id) lands nearly a third of BOTH join
    // sides of the user-keyed a2 join in one reducer — the shape that
    // serializes a 1000-executor cluster behind one straggler task.
    val dir = java.nio.file.Files.createTempDirectory("graft_skew_spec").toString
    val hot = 7L
    val n = 8000
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val ev = (0 until n).map { i =>
      val uid = if (i % 10 < 3) hot else 100L + (i % 397)
      val et = if (i % 2 == 0) "view" else "click"
      (i.toLong, java.sql.Timestamp.from(t0.plusSeconds(i * 20L)), uid, et, (i % 600).toDouble, s"""{"k": ${i % 100}}""")
    }
    ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4)
      .write
      .mode("overwrite")
      .parquet(s"$dir/events.parquet")
    (0 until 600)
      .map(i => (i.toLong, f"Customer#$i%09d", i % 25, 100.0, Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")(i % 5)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write
      .mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.coalescePartitions.enabled"
    )
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    try {
      // thresholds scaled to the test corpus (production defaults are
      // 256 MB / 5x); force=on so a required child distribution can't
      // veto the split; no broadcast (the dim must SHUFFLE to exhibit
      // skew) and no re-coalescing of the split partitions
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      def rows(df: org.apache.spark.sql.DataFrame): Set[String] = df.collect().map(_.toString).toSet
      // a2: the user-keyed windowed join — AQE must split the hot
      // reducer (skew=true in the FINAL adaptive plan, only readable
      // after execution)
      val a2 = EventStreamOps.a2ClickstreamJoin(spark, dir)
      val a2Skew = rows(a2)
      val a2Plan = a2.queryExecution.executedPlan.toString
      assert(a2Plan.contains("skew=true"), s"AQE skew split did not fire on a2's hot join:\n$a2Plan")
      // a11: the composite (user_id, pv_id) join key self-balances —
      // the hot user's rows hash across reducers by pv_id, so no split
      // is needed; the windowed attribution still sorts the hot user in
      // one task (bounded by that user's history, the documented cost)
      val a11Skew = rows(EventStreamOps.a11PvEquiJoin(spark, dir))
      // s4: the salted join spreads the hot key over SaltBuckets
      // reducer groups STRUCTURALLY (no AQE needed): every salt value
      // appears for the hot user's fact rows
      val s4 = ScaleJoins.s4SaltedJoin(spark, dir)
      val s4Skew = rows(s4)
      val hotSalts = graft.sources.Tables
        .events(spark, dir)
        .filter(col("user_id") === hot)
        .select(pmod(col("event_id"), lit(ScaleJoins.SaltBuckets)).cast("int"))
        .distinct()
        .count()
      assert(hotSalts == ScaleJoins.SaltBuckets, s"hot key spread over $hotSalts of ${ScaleJoins.SaltBuckets} salt groups")
      assert(s4.queryExecution.executedPlan.toString.contains("salt"), "salt key absent from s4's executed join")
      // results must be IDENTICAL with the whole adaptive machinery off
      // (skew handling changes partitioning, never semantics)
      conf.set("spark.sql.adaptive.enabled", "false")
      assert(rows(EventStreamOps.a2ClickstreamJoin(spark, dir)) == a2Skew, "a2: AQE skew split changed the result")
      assert(rows(EventStreamOps.a11PvEquiJoin(spark, dir)) == a11Skew, "a11: AQE changed the result")
      assert(rows(ScaleJoins.s4SaltedJoin(spark, dir)) == s4Skew, "s4: AQE changed the result")
      // and the salted join must agree with the plain unsalted join
      val plain = graft.sources.Tables
        .events(spark, dir)
        .join(
          graft.sources.Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey")
        )
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"), graft.functions.ExactAgg.moneySum(col("value")).as("sum_value"))
      assert(rows(plain) == s4Skew, "s4: salting changed the join semantics")
    } finally {
      restore()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    }
  }

  test("c100 bpe segment: the returned plan replays NO corpus scan — training is a cached checkpoint") {
    // c99 trains (and caches) the tokenizer for this (app, sfDir);
    // c100 must then aggregate over the localCheckpointed segmentation
    // only. A parquet scan in c100's plan means the full corpus scan +
    // 12 re-segmentations silently re-run per downstream consumer.
    graft.operators.TextAnalysis.c99BpeTrain(spark, sf0001).collect()
    val plan = graft.operators.TextAnalysis
      .c100BpeSegment(spark, sf0001)
      .queryExecution
      .executedPlan
      .toString
    assert(
      !plan.contains("FileScan parquet") && !plan.contains("BatchScan"),
      s"c100 replays a corpus scan:\n$plan"
    )
    assert(plan.contains("ExistingRDD") || plan.contains("Scan"), s"expected a checkpoint scan:\n$plan")
  }
}
