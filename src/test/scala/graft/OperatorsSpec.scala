package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Batch operator invariants on the sf0.001 test tables. The DuckDB
  * oracle (driver-side) checks exact values; these specs pin the
  * semantic properties that must hold at any scale factor.
  */
class OperatorsSpec extends SparkSpec {

  test("md5_prefix_long kernel ≡ conv(substring(md5(s),1,n),16,10) — ascii, unicode, empty, null (r14)") {
    import spark.implicits._
    val samples = Seq(
      "hello", "", " ", "a b  c", "token", "日本語テキスト", "émoji 🚀 mix",
      "0", "-1", "the quick brown fox", "x" * 5000, null
    ).toDF("s")
    Seq(8, 15).foreach { n =>
      val both = samples.select(
        graft.plans.Md5PrefixLongExpr.md5PrefixLong(col("s"), n).as("kernel"),
        conv(substring(md5(col("s")), 1, n), 16, 10).cast("long").as("declarative")
      )
      val bad = both.filter(!(col("kernel") <=> col("declarative"))).count()
      assert(bad == 0, s"md5_prefix_long($n) diverges from the declarative chain")
    }
  }

  test("b1 pricing summary: one row per (returnflag, linestatus), positive sums") {
    val df = Relational.b1AggPricing(spark, sf0001).cache()
    val n = df.count()
    assert(n > 0 && n <= 6)
    assert(df.filter(col("sum_qty") <= 0 || col("count_order") <= 0).count() == 0)
    assert(df.select("l_returnflag", "l_linestatus").distinct().count() == n)
  }

  test("b2 top-n: at most 10 rows, revenue strictly ordered with orderkey tiebreak") {
    val rows = Relational.b2JoinTopn(spark, sf0001).collect()
    assert(rows.length <= 10 && rows.nonEmpty)
    val revs = rows.map(r => (r.getDouble(r.fieldIndex("revenue")), r.getLong(r.fieldIndex("l_orderkey"))))
    assert(revs.sliding(2).forall {
      case Array((r1, k1), (r2, k2)) => r1 > r2 || (r1 == r2 && k1 < k2)
      case _ => true
    })
  }

  test("b4 semi/anti: every kept customer has an urgent order and no F order") {
    val kept = Relational.b4SemiAntiJoin(spark, sf0001)
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val violating = kept
      .join(orders.filter(col("o_orderstatus") === "F"), col("c_custkey") === col("o_custkey"), "left_semi")
    assert(violating.count() == 0)
    val noUrgent = kept
      .join(
        orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"),
        "left_anti"
      )
    assert(noUrgent.count() == 0)
  }

  test("a1 windowed dedup: kept events are unique per (user, type, window) and are the earliest") {
    val df = EventStreamOps.a1DedupWindowed(spark, sf0001).cache()
    assert(df.count() > 0)
    assert(df.groupBy("user_id", "event_type", "window_start").count().filter(col("count") > 1).count() == 0)
    // kept_ts lies inside [window_start, window_start + 15 min)
    assert(
      df.filter(
        col("kept_ts") < col("window_start") ||
          col("kept_ts") >= col("window_start") + expr("INTERVAL 15 MINUTES")
      ).count() == 0
    )
  }

  test("a2 clickstream join: view always precedes click within 10 minutes, or is null") {
    val df = EventStreamOps.a2ClickstreamJoin(spark, sf0001).cache()
    assert(df.count() > 0)
    val matched = df.filter(col("view_id").isNotNull)
    assert(
      matched
        .filter(
          col("view_ts") > col("click_ts") ||
            col("view_ts") < col("click_ts") - expr("INTERVAL 10 MINUTES")
        )
        .count() == 0
    )
    // every click appears exactly once (left join did not duplicate)
    assert(df.groupBy("click_id").count().filter(col("count") > 1).count() == 0)
  }

  test("a6 sessions: no session spans a gap >= 30 minutes and sessions don't overlap") {
    val df = EventStreamOps.a6SessionWindow(spark, sf0001)
    val bad = df
      .withColumn(
        "next_start",
        lead(col("session_start"), 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("session_start")
        )
      )
      .filter(col("next_start").isNotNull &&
        col("next_start").cast("long") - col("last_event_ts").cast("long") < 1800)
    assert(bad.count() == 0)
  }

  test("a5 hopping windows: every event lands in exactly 4 windows") {
    val ev = graft.sources.Tables.events(spark, sf0001)
    val total = EventStreamOps
      .a5HoppingWindow(spark, sf0001)
      .agg(sum("n"))
      .head()
      .getLong(0)
    assert(total == 4 * ev.count())
  }

  test("a8 watermark: no emitted window end is within 10 minutes of max event time") {
    import graft.sources.Tables
    val maxTs = Tables.events(spark, sf0001).agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val bad = EventStreamOps
      .a8EventTimeStats(spark, sf0001)
      .filter(unix_timestamp(col("window_start")) + 900 > maxTs - 600)
    assert(bad.count() == 0)
  }

  test("c16 clusters: every member pairs with something in its own cluster (soundness)") {
    val clusters = TextAnalysis.c16DedupClusters(spark, sf0001)
    val pairs = TextDedup.c2NgramJaccard(spark, sf0001)
    // the canonical label is a member of the cluster and minimal
    assert(clusters.filter(col("cluster_id") > col("doc_id")).count() == 0)
    // every near-dup pair ends up in the same cluster
    val joined = pairs
      .join(clusters.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), "doc_a")
      .join(clusters.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), "doc_b")
    assert(joined.filter(col("ca") =!= col("cb")).count() == 0)
  }

  test("c27 repetition: looping text scores near 1, distinct text scores 0") {
    import spark.implicits._
    val looping = (1 to 40).flatMap(_ => Seq("a", "b", "c", "d", "e")).mkString(" ")
    val distinctText = (1 to 200).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, looping), (2L, distinctText)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("c27rep").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis
      .c27DocRepetition(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(3))
      .toMap
    // 200 tokens of a 5-token loop: 196 shingles, 5 distinct → ratio 191/196
    assert(rows(1L) > 0.95, s"looping doc scored ${rows(1L)}")
    assert(rows(2L) == 0.0, s"all-distinct doc scored ${rows(2L)}")
  }

  test("c31 chunking: window boundaries, overlap, and short-tail math are exact") {
    import spark.implicits._
    // 80 tokens with size 32 / stride 24: chunks [0,32), [24,56), [48,80) — nc = ceil((80-32)/24)+1 = 3
    val docs = Seq((1L, (0 until 80).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("c31chunk").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis
      .c31DocChunking(spark, dir)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(rows.map(r => (r._1, r._2)).toSeq == Seq((0L, 32L), (1L, 32L), (2L, 32L)))
    def md5Of(range: Range) = {
      val s = range.map(i => s"t$i").mkString(" ")
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(rows(0)._3 == md5Of(0 until 32))
    assert(rows(1)._3 == md5Of(24 until 56))
    assert(rows(2)._3 == md5Of(48 until 80))
  }

  test("c30 token budget: two-phase banded plan equals the flat per-language cumsum") {
    import org.apache.spark.sql.expressions.Window
    val got = Sampling
      .c30TokenBudget(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val t = TextAnalysis
      .qualityScored(graft.sources.Tables.documents(spark, sf0001).select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score").as("q"))
    val w = Window
      .partitionBy(col("lang"))
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = t
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= Sampling.TokenBudgetPerLang)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == flat, s"banded != flat: missing=${(flat -- got).take(3)} extra=${(got -- flat).take(3)}")
    // the budget binds and is respected per language
    val perLang = got.groupBy(_._2).view.mapValues(_.toSeq.map(_._3).sum)
    assert(perLang.values.forall(_ <= Sampling.TokenBudgetPerLang))
    assert(got.nonEmpty && perLang.nonEmpty)
  }

  test("c16 From-variant clusters pairs from any detector (c4 SimHash pairs)") {
    val pairs = TextDedup.c4SimHash(spark, sf0001).select(col("doc_a"), col("doc_b")).cache()
    val clusters = TextAnalysis.c16DedupClustersFrom(pairs).cache()
    // labels minimal and every pair lands in one cluster — the same
    // soundness contract as the c3-backed gate
    assert(clusters.filter(col("cluster_id") > col("doc_id")).count() == 0)
    val joined = pairs
      .join(clusters.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), "doc_a")
      .join(clusters.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), "doc_b")
    assert(joined.filter(col("ca") =!= col("cb")).count() == 0)
  }

  test("budgetFill equals the flat cumsum on randomized data (8 seeded trials)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 100 + rnd.nextInt(400)
      val nKeys = 1 + rnd.nextInt(6)
      val budget = 50L + rnd.nextInt(500)
      val rows = (0 until n).map { i =>
        (i.toLong, s"k${rnd.nextInt(nKeys)}", rnd.nextDouble(), 1L + rnd.nextInt(20))
      }
      val df = rows.toDF("id", "key", "score", "amt")
      val got = Sampling
        .budgetFill(df, "key", "score", "id", "amt", budget)
        .select(col("id"), col("cum"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val w = Window
        .partitionBy(col("key"))
        .orderBy(col("score").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("cum", sum(col("amt")).over(w))
        .filter(col("cum") <= budget)
        .select(col("id"), col("cum"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(got == expected,
        s"seed=$seed budget=$budget: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    }
  }

  test("budgetFill zero-amount boundary: rows with cum == budget survive band pruning") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // keys where the cumulative total lands EXACTLY on the budget, then
    // zero-amount rows follow: the flat cumsum keeps them (cum == budget),
    // so the banded plan's offset pruning must use <=, not <
    val rows = Seq(
      // key a: fills the budget exactly at high score, zero-amount rows after
      (0L, "a", 0.9, 10L), (1L, "a", 0.8, 0L), (2L, "a", 0.7, 0L), (3L, "a", 0.6, 5L),
      // key b: zero-amount rows scored BELOW an over-budget row stay dropped
      (4L, "b", 0.9, 11L), (5L, "b", 0.5, 0L)
    ).toDF("id", "key", "score", "amt")
    val budget = 10L
    val got = Sampling
      .budgetFill(rows, "key", "score", "id", "amt", budget)
      .select(col("id"), col("cum"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val w = Window
      .partitionBy(col("key"))
      .orderBy(col("score").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = rows
      .withColumn("cum", sum(col("amt")).over(w))
      .filter(col("cum") <= budget)
      .select(col("id"), col("cum"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == flat, s"missing=${flat -- got} extra=${got -- flat}")
    // the interesting rows, stated explicitly: 0 fills the budget, the
    // zero-amount 1 and 2 ride the boundary, 3 overflows; 4 never fits
    assert(got == Set((0L, 10L), (1L, 10L), (2L, 10L)))
  }

  test("c36 temperature mix: smallest language keeps rate 1, thresholds fall with size") {
    val docs = graft.sources.Tables.documents(spark, sf001).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Sampling.c36TemperatureMix(spark, sf001).collect()
    assert(out.nonEmpty)
    // every kept row satisfies its own recorded threshold
    assert(out.forall(r => r.getLong(2) < r.getLong(3)))
    val thr = out.map(r => r.getString(1) -> r.getLong(3)).toMap
    val minLang = counts.minBy(_._2)._1
    assert(thr(minLang) == Sampling.MixBucketSpace,
      s"smallest language $minLang must keep everything, thr=${thr(minLang)}")
    // thresholds are monotone non-increasing in language size
    thr.keys.foreach { l =>
      assert(counts(l) >= counts(minLang) && thr(l) <= thr(minLang))
    }
    // kept counts track n_l * r_l = sqrt(n_min * n_l) within hash noise
    val kept = out.groupBy(_.getString(1)).view.mapValues(_.length.toDouble).toMap
    kept.foreach { case (l, k) =>
      val expect = math.sqrt(counts(minLang).toDouble * counts(l))
      assert(math.abs(k - expect) / expect < 0.15,
        f"$l kept $k%.0f vs expected ~$expect%.0f")
    }
  }

  test("c37 importance score: bounds hold and the target domain separates") {
    val rows = TextAnalysis.c37ImportanceScore(spark, sf001).collect()
    val n = graft.sources.Tables.documents(spark, sf001).count()
    assert(rows.length == n, "one score row per document")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "n_ind must not exceed n_tokens")
      val a = r.getDouble(4)
      assert(a >= 0.0 && a <= 1.0, s"affinity $a out of [0,1]")
    }
    // the classifier must actually find the target: en documents score
    // higher on average than the rest (they DEFINE the target buckets)
    val (en, rest) = rows.partition(_.getString(1) == TextAnalysis.ImportanceTargetLang)
    val enMean = en.map(_.getDouble(4)).sum / en.length
    val restMean = rest.map(_.getDouble(4)).sum / rest.length
    // margin sized to the synthetic corpus: the languages share most
    // of their vocabulary, so the real-data gap (disjoint vocab) is
    // far larger than this floor
    assert(enMean > restMean + 0.02,
      f"no target separation: en $enMean%.3f vs rest $restMean%.3f")
  }

  test("mergeInto: updates win on key, base survives unmatched, inserts append") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
    val updates = Seq((2L, "B", 99.0), (9L, "n", 1.0)).toDF("k", "s", "v")
    val merged = graft.sources.Formats
      .mergeInto(base, updates, Seq("k"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(merged == Set((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (9L, "n", 1.0)))
  }

  test("c38 chunk dedup: bounds hold and duplicate counts reconcile with the distinct-md5 total") {
    val rows = TextAnalysis.c38ChunkDedup(spark, sf001).collect()
    val n = graft.sources.Tables.documents(spark, sf001).count()
    assert(rows.length == n, "one row per document")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_dup_chunks must not exceed n_chunks")
      val ratio = r.getDouble(3)
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // exact reconciliation: every chunk instance beyond its md5's
    // canonical one is a duplicate, so the per-doc duplicate counts
    // must sum to (total instances − distinct md5s)
    val ch = TextAnalysis
      .chunked(graft.sources.Tables.documents(spark, sf001).select(col("doc_id"), col("text")))
    val total = ch.count()
    val distinctMd5 = ch.select(col("chunk_md5")).distinct().count()
    val dupSum = rows.map(_.getLong(2)).sum
    assert(dupSum == total - distinctMd5,
      s"dup accounting broke: sum=$dupSum expected=${total - distinctMd5}")
    assert(dupSum > 0, "test data lost its partial-overlap documents?")
  }

  test("c1 exact dedup: copies counted, canonical id is minimal") {
    val df = TextDedup.c1DedupExact(spark, sf0001)
    val total = graft.sources.Tables.documents(spark, sf0001).count()
    assert(df.agg(sum("n_copies")).head().getLong(0) == total)
  }

  test("c2/c3: LSH candidate generation loses no near-dup pair found exhaustively") {
    val exhaustive = TextDedup.c2NgramJaccard(spark, sf0001).select("doc_a", "doc_b").collect().toSet
    val lsh = TextDedup.c3MinHashLsh(spark, sf0001).select("doc_a", "doc_b").collect().toSet
    assert(exhaustive == lsh)
  }

  test("c2 df cap: boilerplate shingles over the cap are dropped before the self-join") {
    import spark.implicits._
    // 4 docs = 50 shared boilerplate tokens + 2 unique tokens each:
    // every pair shares 46 pure-boilerplate shingles (J = 46/50 ≥ 0.8),
    // so uncapped c2 pairs all of them — exactly the hot-shingle
    // explosion shape. With the cap below the df of the boilerplate
    // shingles (df = 4), those shingles leave the index and no pair
    // survives; the default cap (1000) leaves the gate tables untouched.
    val boiler = (1 to 50).map(i => s"b$i").mkString(" ")
    val docs = (1 to 4).map(i => (i.toLong, s"$boiler u${i}x u${i}y")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("c2cap").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(TextDedup.c2NgramJaccardCapped(spark, dir, maxDf = Int.MaxValue).count() == 6)
    assert(TextDedup.c2NgramJaccardCapped(spark, dir, maxDf = 3).count() == 0)
  }

  test("c4 simhash: hamming bounded and symmetric-free (a < b)") {
    val df = TextDedup.c4SimHash(spark, sf0001).cache()
    assert(df.filter(col("hamming") > TextDedup.HammingMax).count() == 0)
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("c92 wide simhash: pigeonhole candidates are EXHAUSTIVE — output equals the brute-force pair set") {
    // the whole point of the widened geometry is that it changes the
    // JOIN VOLUME and nothing else: every pair within the summed
    // 120-bit hamming bound must survive the 10-block candidate path
    val sigs = TextDedup
      .simHashSignaturesWide(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (for {
      (a, a1, a2) <- sigs
      (b, b1, b2) <- sigs
      if a < b
      h = java.lang.Long.bitCount(a1 ^ b1) + java.lang.Long.bitCount(a2 ^ b2)
      if h <= TextDedup.HammingMax
    } yield (a, b, h.toLong)).toSet
    val got = TextDedup
      .c92DedupSimhashWide(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == expected, s"missed=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(expected.nonEmpty, "gate corpus must contain wide-threshold near-dups")
    // and the bar really is stricter than c4's: the wide pair set is a
    // (doc_a, doc_b)-subset of the 60-bit one
    val narrow = TextDedup.c4SimHash(spark, sf0001).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.forall { case (a, b, _) => narrow((a, b)) })
  }

  test("c93 refined simhash: hot-bucket refinement is exact, once-only, and actually engages") {
    // identical contract to c92 — the refinement may only change the
    // candidate join volume, never the pair set or its multiplicity
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (sf <- Seq(sf0001, sf001)) {
      val got = pairs(TextDedup.c93DedupSimhashRefined(spark, sf))
      assert(got.length == got.toSet.size, s"duplicate emits at $sf") // once-only, no distinct() to hide behind
      assert(got.toSet == pairs(TextDedup.c92DedupSimhashWide(spark, sf)).toSet, s"pair set diverges at $sf")
    }
    // the refinement must ENGAGE at the gate SF — otherwise this spec
    // only ever exercises the cold path; the decision is the
    // operator's own measured cost rule (refineBucketKeys)
    val blocks = TextDedup.wideBlocks(TextDedup.simHashSignaturesWide(spark, sf001))
    val refined = TextDedup.refineBucketKeys(blocks).count()
    assert(refined > 0, "no bucket wins the refine cost rule at sf0.01 — refinement untested")
  }

  test("c93 at sf0.1: level 1 refines at scale, level 2 correctly prices out, pair set equals c92's") {
    // sf0.1: hundreds of buckets refine (level-1 at scale); the
    // synthetic geometry's half-blocks are as correlated as its
    // blocks, so the level-2 rescue correctly prices OUT everywhere
    // here (hot2 = 0 is the RIGHT answer — asserted, since a rescue
    // that fired on this geometry would be paying 16× re-key for
    // nothing). The half-block path itself is exercised by the
    // planted-geometry spec below.
    val sf01 = "/root/testdata/sf0.1"
    val sig = TextDedup.simHashSignaturesWide(spark, sf01).localCheckpoint()
    val blocks = TextDedup.wideBlocks(sig).localCheckpoint()
    val (_, refineKeys, hot2Keys) = TextDedup.refinePlan(blocks)
    assert(refineKeys.count() > 0, "no bucket refines at sf0.1 — level 1 untested at scale")
    assert(hot2Keys.count() == 0,
      "level-2 rescue fired on the fully-correlated synthetic geometry — the cost rule is mispricing")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = pairs(TextDedup.c93DedupSimhashRefined(spark, sf01))
    assert(got.length == got.toSet.size, "duplicate emits at sf0.1")
    assert(
      got.toSet == pairs(TextDedup.c92DedupSimhashWide(spark, sf01)).toSet,
      "pair set diverges at sf0.1"
    )
  }

  test("c93 planted geometry: pairs route through cold, hot-cold AND hot-hot; set equals brute force") {
    import spark.implicits._
    def h64(seed: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d).getLong() & ((1L << 60) - 1)
    }
    val v0 = 0xabcL
    val v1 = 0x123L
    val fixed24 = (v1 << 12) | v0 // blocks 0 and 1 of s1
    // group A: one bucket (block 0) where block 1 ALSO correlates —
    // the Zipf-correlated-pair shape — but the remaining blocks (and
    // all their half-blocks) spread randomly: level 1 alone can't
    // shrink the (0,1) sub-bucket, the half-block rescue can
    val groupA = (1L to 100L).map { i =>
      (i, fixed24 | ((h64(s"a1_$i") >> 24) << 24), h64(s"a2_$i"))
    }
    // the hot-hot pair: group-A members identical except 2 bits inside
    // s2's block 2 (global block 7) — hamming 2, first intact 0,
    // second intact 1, (0,1) sub-bucket is the rescued one
    val hh = Seq(
      (201L, fixed24 | ((h64(s"hh1") >> 24) << 24), h64(s"hh2")),
      (202L, fixed24 | ((h64(s"hh1") >> 24) << 24), h64(s"hh2") ^ (3L << 24))
    )
    // the hot-cold pair: share block 0 (the refined bucket) but NOT
    // block 1 (one flipped bit there) — second intact is block 2,
    // whose sub-bucket is tiny (cold): routed via hot-cold
    val hcBase = (h64(s"hc1") >> 24) << 24
    val hc = Seq(
      (301L, fixed24 | hcBase, h64(s"hc2")),
      (302L, (fixed24 ^ (1L << 12)) | hcBase, h64(s"hc2"))
    )
    // the cold pair: a private 2-member bucket, exact copies
    val cold = Seq((401L, h64(s"cd1"), h64(s"cd2")), (402L, h64(s"cd1"), h64(s"cd2")))
    val all = groupA ++ hh ++ hc ++ cold
    val sig = all.toDF("doc_id", "s1", "s2")
    // the operator's own decisions: the planted bucket must refine and
    // its (0, 1) sub-bucket must win the half-block rescue
    val (_, refineKeys, hot2Keys) = TextDedup.refinePlan(TextDedup.wideBlocks(sig).localCheckpoint())
    val rk = refineKeys.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(rk.contains((0, v0)), s"planted bucket (0, $v0) must refine, got $rk")
    val h2 = hot2Keys.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(h2.contains((0, v0, 1, v1)), s"planted sub-bucket must win the level-2 rescue, got $h2")
    // pair set == exhaustive JVM brute force, emitted once each
    val expected = (for {
      (a, s1a, s2a) <- all
      (b, s1b, s2b) <- all
      if a < b
      ham = java.lang.Long.bitCount(s1a ^ s1b) + java.lang.Long.bitCount(s2a ^ s2b)
      if ham <= TextDedup.HammingMax
    } yield (a, b, ham.toLong)).toSet
    assert(expected.size >= 3, s"planting must produce all three routed pairs, got $expected")
    val got = TextDedup
      .simhashRefinedPairs(sig)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.toSet.size, "duplicate emits on the planted geometry")
    assert(got.toSet == expected, s"pair set diverges: missing=${expected -- got.toSet} extra=${got.toSet -- expected}")
    assert(got.toSet.contains((201L, 202L, 2L)) && got.toSet.contains((401L, 402L, 0L)))
    assert(got.exists(p => p._1 == 301L && p._2 == 302L))
  }

  test("b52 null semantics: NULL groups once, meets NULL through <=>, and sorts first — JVM re-derived") {
    val keys = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderkey"))
      .collect()
      .map(_.getLong(0) % 5)
    val expected = keys.groupBy(k => if (k == 0) None else Some(k)).map { case (k, xs) => k -> xs.length.toLong }
    val rows = Relational.b52NullSemantics(spark, sf0001).collect()
    val got = rows.map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> ((r.getLong(1), r.getLong(3)))).toMap
    // the null-safe dim keeps exactly {NULL, 1, 3}: NULL survived the
    // join (ordinary equality would have dropped it) as ONE group
    assert(got.keySet == Set(None, Some(1L), Some(3L)))
    got.foreach { case (k, (n, _)) => assert(n == expected(k), s"group $k count diverged") }
    // NULLS FIRST: the null group ranks 1, then 1, then 3
    assert(got(None)._2 == 1L && got(Some(1L))._2 == 2L && got(Some(3L))._2 == 3L)
  }

  test("c94 json extract: JVM re-derivation exact; PERMISSIVE null accounting on planted bad payloads") {
    // gate-shape re-derivation: parse the payloads in plain JVM code
    // and recompute all six aggregates bit-exactly
    val raw = sources.Tables
      .events(spark, sf0001)
      .select(col("event_type"), col("props"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    val kRe = """\{\s*"k"\s*:\s*(-?\d+)\s*\}""".r
    val expected = raw
      .groupBy(_._1)
      .map { case (et, rows) =>
        val ks = rows.flatMap(r => kRe.findFirstMatchIn(r._2).map(_.group(1).toLong))
        et -> (rows.length.toLong, ks.length.toLong, ks.sum, ks.min, ks.max, ks.distinct.length.toLong)
      }
    val got = Relational
      .c94JsonExtract(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got == expected)
    // the gate corpus is all well-formed — plant the failure modes the
    // PERMISSIVE accounting exists for: broken JSON, a missing key,
    // a non-integer value, and a NULL payload
    import spark.implicits._
    val planted = Seq(
      ("click", """{"k": 7}"""),
      ("click", """{"k": 7}"""),
      ("click", """{"k": 9}"""),
      ("click", """not json at all"""),
      ("click", """{"other": 3}"""),
      ("click", null),
      ("view", """{"k": "str"}""")
    ).toDF("event_type", "props")
    val rows = Relational
      .c94JsonExtractFrom(planted)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    val click = rows("click")
    assert(click.getLong(1) == 6L, "n_events counts every row, parseable or not")
    assert(click.getLong(2) == 3L, "n_parsed counts only payloads that yield k")
    assert(click.getLong(3) == 23L && click.getLong(4) == 7L && click.getLong(5) == 9L)
    assert(click.getLong(6) == 2L, "distinct over valid k only")
    val view = rows("view")
    assert(view.getLong(1) == 1L && view.getLong(2) == 0L, "non-integer k parses to NULL")
    assert(view.isNullAt(3) && view.isNullAt(4) && view.isNullAt(5) && view.getLong(6) == 0L)
  }

  test("c95 variant: gate parity with the fixed-schema path; per-binding NULL typing on planted payloads") {
    // the schema-flexible decode must agree with c94's fixed-schema
    // parse wherever both bind the same field
    val fixed = Relational
      .c94JsonExtract(spark, sf0001)
      .select(col("event_type"), col("n_events"), col("sum_k"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val variant = Relational
      .c95VariantExtract(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    assert(variant.keySet == fixed.keySet)
    variant.foreach { case (et, r) =>
      assert((r.getLong(1), r.getLong(3)) == fixed(et), s"variant path diverges from from_json at $et")
      assert(r.getLong(2) == r.getLong(1), "gate corpus is all-valid JSON")
    }
    // planted decode/typing failure modes: a malformed payload NULLs
    // the VARIANT itself; a type-mismatched value NULLs only the
    // binding that asked for the wrong type
    import spark.implicits._
    val planted = Seq(
      ("click", """{"k": 7}"""),
      ("click", """{"k": 9}"""),
      ("click", """{broken"""),
      ("click", """{"other": 3}"""),
      ("click", """{"k": "zz"}""")
    ).toDF("event_type", "props")
    val row = Relational.c95VariantExtractFrom(planted).collect().head
    assert(row.getLong(1) == 5L, "n_events counts every row")
    assert(row.getLong(2) == 4L, "only the malformed payload fails the variant decode")
    assert(row.getLong(3) == 16L, "bigint binding sums only type-valid k")
    assert(row.getString(4) == "zz", "string binding of the same field sees the mismatched value")
  }

  test("c96 IVF near-dup: sound subset of exact, once-only, candidate mass bounded, recall floor holds") {
    for (sf <- Seq(sf0001, sf001)) {
      val exact = VectorOps
        .c5EmbeddingDedup(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val got = VectorOps.c96DedupEmbeddingIvf(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == got.map(t => (t._1, t._2)).toSet.size, s"duplicate pair emits at $sf")
      // soundness: every emitted pair is a true near-dup with the
      // exact-path cosine, bit for bit
      got.foreach { case (a, b, cos) =>
        assert(a < b && exact.get((a, b)).contains(cos), s"unsound pair ($a,$b) at $sf")
      }
      // the measured coverage floor on the ISOTROPIC synthetic corpus
      // (0.43 / 0.57 at sf0.001 / sf0.01 with R = 2 of 25 lists);
      // clustered real embeddings co-locate near-dups — R and lists
      // are the knobs (R = 4 measures 0.93 at sf0.01)
      assert(got.length.toDouble / exact.size >= 0.4, s"recall collapsed at $sf: ${got.length}/${exact.size}")
    }
    // structural: the candidate mass is the R²/lists fraction of the
    // pair space, not all-pairs — the property that makes lists ∝ √n
    // an O(n^1.5) pass
    val vecsN = graft.sources.Tables.embeddings(spark, sf001).count()
    val allPairs = vecsN * (vecsN - 1) / 2
    val candidates = candidateCountC96(sf001)
    assert(
      candidates <= allPairs * 4.0 / VectorOps.C96Lists * 1.5,
      s"candidate mass $candidates exceeds the R²/lists bound (allPairs=$allPairs)"
    )
  }

  /** Distinct shared-list candidate pairs under c96's quantizer —
    * recomputed from the same seeded assignment the operator uses.
    */
  private def candidateCountC96(sf: String): Long = {
    import graft.plans.ArrayDotProduct.arrayDot
    import graft.plans.ArrayNormalize.arrayNormalize
    val e = graft.sources.Tables
      .embeddings(spark, sf)
      .select(
        col("vec_id"),
        arrayNormalize(transform(col("embedding"), _.cast("double"))).as("vn")
      )
    val cent = e.filter(col("vec_id") < VectorOps.C96Lists).select(col("vec_id").as("cid"), col("vn").as("cv"))
    val asg = graft.plans.TopKPerKey
      .topKPerKey(
        e.crossJoin(broadcast(cent))
          .withColumn("cos_c", arrayDot(col("vn"), col("cv")))
          .select(col("vec_id"), col("cid"), col("cos_c")),
        keyCols = Seq("vec_id"),
        orderBy = Seq(("cos_c", false), ("cid", true)),
        k = 2
      )
      .select(col("vec_id"), col("cid"))
    asg
      .select(col("cid"), col("vec_id").as("va"))
      .join(asg.select(col("cid"), col("vec_id").as("vb")), "cid")
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"))
      .distinct()
      .count()
  }

  test("c97 rerank: permutes c57's shortlist per query; pair scores re-derived bit-exactly in JVM") {
    def md5hex(s: String): String =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
    val shortlist = VectorOps
      .c57RagRetrieval(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val reranked = VectorOps.c97CrossRerank(spark, sf0001).collect()
    // same membership per query, ranks 1..k, ordered by ce_score desc
    assert(
      reranked.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == shortlist.toSet,
      "rerank changed the candidate set — the expensive stage may only re-order"
    )
    reranked.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(5))
      assert(sorted.map(_.getLong(5)).toSeq == (1L to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x.getDouble(4) >= y.getDouble(4)
        case _ => true
      })
    }
    // re-derive every pair score outside Spark: re-chunk the doc text
    // with the same grid, md5 the (query md5 | chunk md5) pair, first
    // 8 hex digits over 2^32
    val texts = graft.sources.Tables
      .documents(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .toMap
    reranked.foreach { r =>
      val (q, doc, ci) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val w = texts(doc).split(" ", -1) // exact string_split semantics, empties kept
      val cw = w.slice((ci * TextAnalysis.ChunkStride).toInt, (ci * TextAnalysis.ChunkStride).toInt + TextAnalysis.ChunkSize)
      val h = md5hex(cw.mkString(" "))
      val qh = md5hex(VectorOps.RagQueryTexts(q.toInt))
      val expected = java.lang.Long.parseLong(md5hex(s"$qh|$h").take(8), 16).toDouble / VectorOps.CeNorm
      assert(r.getDouble(4) == expected, s"ce_score diverged for query $q doc $doc chunk $ci")
    }
  }

  test("s29 quarantine: planted classes detected exactly; salvaged set feeds the ANN path unchanged") {
    val e = graft.sources.Formats.BadVecEvery
    val out = graft.sources.Formats
      .s29VectorQuarantine(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val src = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    def cls(id: Long): String =
      if (id % e == 7) "null_vec"
      else if (id % e == 0) "bad_dim"
      else if (id % e == 5) "nan_component"
      else "ok"
    val want = src.groupBy { case (id, _) => cls(id) }.map { case (k, xs) =>
      k -> ((xs.length.toLong, xs.map(_._2).distinct.length.toLong, xs.map(_._1).min, xs.map(_._1).max))
    }
    assert(out == want, s"class accounting diverged: got=$out want=$want")
    assert(out.keySet == Set("ok", "bad_dim", "nan_component", "null_vec"), "all four classes must be planted at gate SF")

    // composition: the status='ok' predicate IS the index-build screen —
    // the ANN baseline over the salvaged rows of the DIRTY file must
    // equal the baseline over the clean subset of the source
    import graft.plans.ArrayNormalize.arrayNormalize
    def prep(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), arrayNormalize(expr("transform(embedding, x -> cast(x as double))")).as("vn"))
    val salvaged = prep(
      spark.read
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
        .parquet(graft.sources.Formats.s29DirtyDir(spark, sf0001))
        .filter(
          col("embedding").isNotNull &&
            size(col("embedding")) === VectorOps.Dim &&
            !expr("exists(embedding, x -> isnan(x))")
        )
    )
    val clean = prep(
      graft.sources.Tables
        .embeddings(spark, sf0001)
        .filter(!(col("vec_id") % e).isin(0, 5, 7))
    )
    def ann(base: org.apache.spark.sql.DataFrame) =
      VectorOps
        .annBruteforce(
          base.filter(col("vec_id") >= VectorOps.NumQueryVecs).select(col("vec_id").as("neighbor_id"), col("vn")),
          base.filter(col("vec_id") < VectorOps.NumQueryVecs).select(col("vec_id").as("query_id"), col("vn").as("qv")),
          5
        )
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    assert(ann(salvaged) == ann(clean), "salvaged ANN output diverged from the clean-subset baseline")
  }

  test("c98 RRF: fused ranks re-derived bit-exactly from the two input lists") {
    val dense = VectorOps
      .c57RagRetrieval(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // (query, doc, chunk rank)
    // doc-level dense ranks: order docs by best chunk rank, then doc_id
    val denseDoc: Map[(Long, Long), Long] = dense
      .groupBy(_._1)
      .flatMap { case (q, rs) =>
        rs.groupBy(_._2)
          .map { case (doc, cs) => (doc, cs.map(_._3).min) }
          .toSeq
          .sortBy { case (doc, mr) => (mr, doc) }
          .zipWithIndex
          .map { case ((doc, _), i) => (q, doc) -> (i + 1).toLong }
      }
    val sparseDoc: Map[(Long, Long), Long] = TextAnalysis
      .c91Bm25(spark, sf0001)
      .filter(col("query_id") < VectorOps.RagQueryTexts.size)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the exact float contract: one correctly-rounded division per
    // term, dense term + sparse term in that order
    def term(r: Option[Long]): Double = r.fold(0.0)(rk => 1.0 / (VectorOps.RrfK + rk))
    val expected = (denseDoc.keySet ++ sparseDoc.keySet).toSeq
      .map { case k @ (q, doc) =>
        (q, doc, denseDoc.get(k), sparseDoc.get(k), term(denseDoc.get(k)) + term(sparseDoc.get(k)))
      }
      .groupBy(_._1)
      .flatMap { case (_, rows) =>
        rows
          .sortBy { case (_, doc, _, _, s) => (-s, doc) }
          .zipWithIndex
          .map { case ((q, doc, dr, br, s), i) => (q, doc) -> ((dr, br, s, (i + 1).toLong)) }
      }
    val fused = VectorOps.c98HybridRrf(spark, sf0001).collect()
    assert(fused.length == expected.size, "fused candidate set size diverged")
    fused.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val (dr, br, s, fr) = expected(k)
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) == dr, s"dense_rank diverged at $k")
      assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) == br, s"bm25_rank diverged at $k")
      assert(r.getDouble(4) == s, s"rrf_score diverged at $k") // bit-exact
      assert(r.getLong(5) == fr, s"fused_rank diverged at $k")
    }
    // fusion must actually mix: at least one doc per battery present in
    // only one of the two lists (otherwise the gate degenerates)
    assert(fused.exists(_.isNullAt(2)) && fused.exists(_.isNullAt(3)), "both lists identical — fusion untested")
  }

  test("c6 ANN: exactly top-k ranks per query, cosine non-increasing in rank") {
    val rows = VectorOps.c6AnnBruteforce(spark, sf0001).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x.getDouble(3) >= y.getDouble(3)
        case _ => true
      })
    }
  }

  test("c8 langid: prediction always carries a maximal score") {
    val df = TextAnalysis.c8TextLangid(spark, sf0001)
    val langs = TextAnalysis.Markers.map(_._1)
    val best = greatest(langs.map(l => col(s"s_$l")): _*)
    val predScore = coalesce(langs.map(l => when(col("pred_lang") === l, col(s"s_$l"))): _*)
    assert(df.filter(predScore < best).count() == 0)
  }

  test("c12 multimodal: features in range for every doc") {
    val df = Multimodal.c12MultimodalDecode(spark, sf0001).cache()
    assert(df.count() == graft.sources.Tables.documents(spark, sf0001).count())
    assert(df.filter(col("brightness") < 0 || col("brightness") > 1).count() == 0)
    assert(df.filter(col("width") < 16 || col("height") < 16 || col("n_frames") < 1).count() == 0)
  }

  test("b12 sketches: HLL within 5x rsd of exact; quantiles hit their rank window") {
    val ev = graft.sources.Tables.events(spark, sf001)
    val exact = ev
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val rows = Relational.b12ApproxSketch(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val et = r.getString(0)
      val approx = r.getLong(1)
      val err = math.abs(approx - exact(et)).toDouble / exact(et)
      assert(err <= 0.10, s"$et: approx=$approx exact=${exact(et)} err=$err (rsd=0.02)")
      // rank check: the fraction of values <= the approx quantile must
      // sit inside the quantile's accuracy window (1/1000 rank error,
      // widened for ties/finite n)
      val vals = ev.filter(col("event_type") === et)
      val n = vals.count().toDouble
      val fr50 = vals.filter(col("value") <= r.getDouble(2)).count() / n
      val fr99 = vals.filter(col("value") <= r.getDouble(3)).count() / n
      assert(fr50 >= 0.47 && fr50 <= 0.53, s"$et p50 rank fraction $fr50")
      assert(fr99 >= 0.97, s"$et p99 rank fraction $fr99")
    }
  }

  test("c19 stratified sample: deterministic, rate-bounded per stratum") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    val s1 = Sampling.c19StratifiedSample(spark, sf001).collect().map(_.getLong(0)).sorted.toSeq
    val s2 = Sampling.c19StratifiedSample(spark, sf001).collect().map(_.getLong(0)).sorted.toSeq
    assert(s1 == s2, "hash-Bernoulli sample must be identical across runs")
    val perLang = Sampling
      .c19StratifiedSample(spark, sf001)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val totals = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      val rate = if (lang == "en") 0.3 else 0.8
      val expected = totals(lang) * rate
      // binomial-ish tolerance at these stratum sizes
      assert(math.abs(n - expected) <= totals(lang) * 0.15 + 5, s"$lang: sampled $n of ${totals(lang)} (rate $rate)")
    }
  }

  test("c20 pipeline: stats cover only deduped, quality-filtered, sampled docs") {
    val rows = Sampling.c20TrainingPipeline(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0) // n_docs
      assert(r.getDouble(3) >= Sampling.QualityThreshold) // min_quality respects the filter
      assert(r.getDouble(4) >= r.getDouble(3))
    }
  }

  test("observed curation: telemetry matches independent counts, zero extra scans") {
    val (df, inObs, outObs) = Sampling.observedCurationE2e(spark, sf001)
    val rows = df.collect()
    val in = inObs.get
    val out = outObs.get

    val scoredAll = Sampling.scoredCurationInput(spark, sf001)
    assert(in("n_docs") == scoredAll.count())
    assert(
      in("n_quality_rejected") ==
        scoredAll.filter(col("quality_score") < Sampling.QualityThreshold).count()
    )
    assert(
      in("tokens_seen") ==
        scoredAll.agg(sum(col("n_tokens"))).head().getLong(0)
    )
    assert(out("n_admitted") == rows.length.toLong)
    assert(out("tokens_admitted") == rows.map(_.getLong(rows.head.fieldIndex("n_tokens"))).sum)

    // same admissions as the unobserved flagship
    val flagship = Sampling.c32CurationE2e(spark, sf001)
    assert(
      rows.map(_.getLong(rows.head.fieldIndex("doc_id"))).toSet ==
        flagship.collect().map(r => r.getLong(r.fieldIndex("doc_id"))).toSet
    )
    // telemetry is free: exactly as many file scans as the flagship plan
    def nScans(p: org.apache.spark.sql.DataFrame) =
      "Scan ".r.findAllMatchIn(p.queryExecution.executedPlan.toString).size
    assert(nScans(df) == nScans(flagship))
  }

  test("b43 distributed NTILE equals the declarative window (8 seeded trials incl. n <= tiles and heavy ties)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val tiles = 2 + rnd.nextInt(5) // 2..6
      // group 0 forces the n <= tiles edge (ELSE branch unreachable);
      // the others sweep sizes so every n mod tiles residue occurs
      val groups = (0 until 5).map { g =>
        (s"p$g", if (g == 0) 1 + rnd.nextInt(tiles) else 1 + rnd.nextInt(60))
      }
      var id = 0L
      val rows = groups.flatMap { case (p, n) =>
        (0 until n).map { _ =>
          id += 1
          // coarse prices: many exact ties AND many bucket collisions,
          // so in-bucket ranks and cross-bucket offsets both matter
          (p, id, rnd.nextInt(8) * 997.0 + (if (rnd.nextBoolean()) 0.0 else rnd.nextInt(3) * 250.0))
        }
      }
      val df = rows.toDF("o_orderpriority", "o_orderkey", "o_totalprice")
      val got = Relational
        .b43NtileFrom(df, tiles)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
        .toMap
      val w = Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val expected = df
        .withColumn("quartile", ntile(tiles).over(w).cast("long"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
        .toMap
      assert(got == expected, s"seed=$seed tiles=$tiles: ${(expected.toSet -- got.toSet).take(3)}")
    }
  }

  test("b44 value windows: navigation columns re-derived from each customer's ordered history") {
    import spark.implicits._
    // plant a single-order customer — the gate corpus has none, and it
    // is the row where all three null/degenerate branches fire at once
    val base = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val planted = Seq((-1L, -10L, java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast(base.schema("o_orderdate").dataType))
    val rows = Relational.b44ValueWindowsFrom(base.unionByName(planted)).collect()
    val byCust = rows.groupBy(_.getLong(0))
    def epoch(r: org.apache.spark.sql.Row): Long = r.get(2) match {
      case t: java.sql.Timestamp => t.getTime
      case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case t: java.time.Instant => t.toEpochMilli
    }
    byCust.foreach { case (_, rs) =>
      val ordered = rs.sortBy(r => (epoch(r), r.getLong(1)))
      val keys = ordered.map(_.getLong(1))
      ordered.zipWithIndex.foreach { case (r, i) =>
        def optKey(idx: Int): Option[Long] = if (r.isNullAt(idx)) None else Some(r.getLong(idx))
        assert(optKey(3) == (if (i + 1 < keys.length) Some(keys(i + 1)) else None), "next_orderkey")
        assert(r.getLong(4) == keys.head, "first_orderkey is the running first")
        assert(r.getLong(5) == keys.last, "latest_orderkey spans the whole history")
        assert(optKey(6) == keys.lift(1), "second_orderkey = NTH_VALUE(2) over the full frame")
      }
    }
    assert(byCust.exists(_._2.length == 1), "single-order customers must exercise the null branches")
  }

  test("b45 listagg: top-5 string re-derived exactly; order imposed, never collect_list order") {
    val got = Relational
      .b45Listagg(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
      .toMap
    val sup = graft.sources.Tables
      .supplier(spark, sf001)
      .join(graft.sources.Tables.nation(spark, sf001), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val expected = sup.groupBy(_._1).map { case (nation, xs) =>
      val top = xs.sortBy(x => (-x._4, x._2)).take(5)
      val sum = top.map(x => BigDecimal(x._4).setScale(2)).sum.toDouble
      nation -> ((top.length.toLong, top.map(_._3).mkString(","), sum))
    }
    assert(got == expected)
    assert(expected.values.exists(_._1 == 5L), "at least one nation must hit the k=5 bound")
  }

  test("c66 gopher signals: re-derived row-at-a-time; planted docs fire every rule branch") {
    import spark.implicits._
    val planted = Seq(
      (-1L, "short doc"), // n_words rule
      (-2L, "ab " * 59 + "ab"), // mean_word_len < 3 AND unique_ratio
      (-3L, ("supercalifragilistic " * 59).trim), // mean_word_len > 10
      (-4L, (1 to 60).map(i => f"word$i%03d").mkString(" ")) // clean: no rule fires (7-char words)
    ).toDF("doc_id", "text")
    val base = graft.sources.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val rows = TextAnalysis.c66GopherSignalsFrom(base.unionByName(planted)).collect()
    val texts = (base.collect().map(r => (r.getLong(0), r.getString(1))) ++
      planted.collect().map(r => (r.getLong(0), r.getString(1)))).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val w = texts(r.getLong(0)).split(" ", -1)
      val sumLen = w.map(_.length.toLong).sum
      val mean = sumLen.toDouble / w.length
      val uniq = w.distinct.length.toDouble / w.length
      assert(r.getLong(1) == w.length.toLong, "n_words")
      assert(r.getLong(2) == w.distinct.length.toLong, "n_unique_words")
      assert(r.getLong(3) == w.map(_.length).max.toLong, "max_word_len")
      assert(r.getLong(4) == w.count(_.exists(_.isLetter)).toLong, "n_alpha_words")
      assert(r.getLong(5) == w.count(x => x.nonEmpty && x.forall(c => c >= '0' && c <= '9')).toLong, "n_numeric_words")
      assert(r.getLong(6) == w.count(x => x.nonEmpty && x.head >= 'A' && x.head <= 'Z').toLong, "n_cap_words")
      assert(r.getDouble(7) == mean, "mean_word_len")
      assert(r.getDouble(8) == uniq, "unique_ratio")
      val flag = w.length < TextAnalysis.GopherMinWords ||
        mean < TextAnalysis.GopherMinMeanWordLen || mean > TextAnalysis.GopherMaxMeanWordLen ||
        uniq < TextAnalysis.GopherMinUniqueRatio
      assert(r.getBoolean(9) == flag, s"gopher_flagged for ${r.getLong(0)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getBoolean(9)).toMap
    assert(byId(-1L) && byId(-2L) && byId(-3L) && !byId(-4L), "planted branches")
  }

  test("c67 mojibake: re-derived row-at-a-time; planted corruption fires each detector") {
    import spark.implicits._
    val planted = Seq(
      (-1L, "clean ascii text that is long enough to stay unflagged ok"),
      (-2L, "broken � decode � here padding padding padding padding"), // replacement chars
      (-3L, "control" + "\u0001" + "char doc padding padding padding padding padding p"), // control byte
      (-4L, "latin1 mojibake cafÃ© style padding padding padding pad"), // Ã-pair signature
      (-5L, "世界世界世界") // low ascii ratio
    ).toDF("doc_id", "text")
    val base = graft.sources.Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val rows = TextAnalysis.c67MojibakeFrom(base.unionByName(planted)).collect()
    val texts = (base.collect().map(r => (r.getLong(0), r.getString(1))) ++
      planted.collect().map(r => (r.getLong(0), r.getString(1)))).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val t = texts(r.getLong(0))
      val nAscii = t.count(c => c >= ' ' && c <= '~').toLong
      val nRepl = t.count(_ == '�').toLong
      val nCtl = t.count(_ <= '\u001f').toLong
      val nMoji = "Ã.".r.findAllIn(t).length.toLong
      val ratio = if (t.isEmpty) 1.0 else nAscii.toDouble / t.length
      assert(r.getLong(1) == t.length.toLong, "n_chars")
      assert(r.getLong(2) == nAscii, "n_ascii_printable")
      assert(r.getLong(3) == nRepl, "n_replacement")
      assert(r.getLong(4) == nCtl, "n_control")
      assert(r.getLong(5) == nMoji, s"n_mojibake for ${r.getLong(0)}")
      assert(r.getDouble(6) == ratio, "ascii_ratio")
      val suspect = nRepl > 0 || nCtl > 0 || nMoji > 0 || ratio < TextAnalysis.MojibakeMinAsciiRatio
      assert(r.getBoolean(7) == suspect, s"encoding_suspect for ${r.getLong(0)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    assert(!byId(-1L) && byId(-2L) && byId(-3L) && byId(-4L) && byId(-5L), "planted branches")
  }

  test("c68 prefix dedup: families re-derived; planted exact-copy-only group excluded") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the gate corpus has truncation families but zero exact dups —
    // plant an exact-copy pair (same head AND same full text) to prove
    // the n_variants >= 2 clause excludes what is c1's business
    val copyText = (1 to 40).map(i => s"copy$i").mkString(" ")
    val planted = Seq((-1L, copyText), (-2L, copyText)).toDF("doc_id", "text")
    val base = graft.sources.Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val docs = (base.collect().map(r => (r.getLong(0), r.getString(1))) ++
      Seq((-1L, copyText), (-2L, copyText)))
    val byHead = docs
      .map { case (id, t) =>
        (md5hex(t.split(" ", -1).take(TextDedup.HeadTokens).mkString(" ")), md5hex(t), id)
      }
      .groupBy(_._1)
    val expected = byHead.collect {
      case (hh, xs) if xs.length >= 2 && xs.map(_._2).distinct.length >= 2 =>
        hh -> ((xs.length.toLong, xs.map(_._2).distinct.length.toLong, xs.map(_._3).min))
    }
    val got = TextDedup
      .c68PrefixDedupFrom(base.unionByName(planted))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected.toMap)
    assert(expected.nonEmpty, "gate data must contain truncation families")
    val copyHead = md5hex(copyText.split(" ", -1).take(TextDedup.HeadTokens).mkString(" "))
    assert(!got.contains(copyHead), "the exact-copy-only group must be excluded")
  }

  test("s18 codec roundtrip: every codec actually applied (file extensions) and stats identical") {
    val rows = graft.sources.Formats.s18CodecRoundtrip(spark, sf0001).collect()
    assert(rows.length == graft.sources.Formats.RoundtripCodecs.length)
    val stats = rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).distinct
    assert(stats.length == 1, "all codecs must read back the identical aggregates")
    val extFor = Map("snappy" -> ".snappy.parquet", "zstd" -> ".zstd.parquet", "gzip" -> ".gz.parquet")
    graft.sources.Formats.RoundtripCodecs.foreach { c =>
      val dir = new java.io.File(graft.sources.Formats.s18CodecDir(spark, sf0001, c))
      val files = Option(dir.listFiles()).getOrElse(Array.empty).map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.nonEmpty && files.forall(_.endsWith(extFor(c))),
        s"$c files ${files.toSeq} must carry ${extFor(c)} — otherwise the codec silently defaulted")
    }
  }

  test("s19 column stats: ANALYZE report re-derived exactly; split per-column aggregates (r14)") {
    val li = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .collect()
    def stats(get: org.apache.spark.sql.Row => Double, name: String) = {
      val vs = li.map(get)
      name -> ((li.length.toLong, 0L, vs.distinct.length.toLong, vs.min, vs.max))
    }
    val expected = Map(
      stats(_.getLong(0).toDouble, "l_orderkey"),
      stats(_.getDouble(1), "l_quantity"),
      stats(_.getDouble(2), "l_extendedprice"),
      stats(_.getDouble(3), "l_discount")
    )
    val df = graft.sources.Formats.s19ColumnStats(spark, sf0001)
    val got = df
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got == expected)
    // round-14 shape: one independent dedup aggregate per column (the
    // Expand multi-distinct carried every column's min/max buffers
    // through a 5×-multiplied wide-key partial aggregate — measured 3×
    // slower, OPTIMIZATION_r14.md §10). No Expand; each of the four
    // per-column aggregates reads its own pruned scan.
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Expand"), "split per-column aggregates must not plan an Expand")
    assert("Scan ".r.findAllMatchIn(p).size <= 5, "one pruned scan per column + the row count")
  }

  test("b46 multi-distinct: split posture — no Expand, checkpointed join serves all four aggregates") {
    // round 15 (OPTIMIZATION_r15.md §2): the Expand multi-distinct lost
    // to the split posture at both 32 and 8 cores (2.31/1.96 s vs
    // 1.58/1.34 s at sf0.1), so b46 now materializes the narrow joined
    // frame once and runs per-distinct dedup aggregates over it —
    // lineitem and orders are scanned exactly once (the checkpoint),
    // and no 4x row expansion rides any exchange.
    val df = GraftSql.b46MultiDistinct(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Expand"), "split posture must not plan an Expand")
    assert(!p.contains("Scan parquet"), "all aggregates must read the checkpointed frame, not re-scan tables")
    assert(df.count() > 0)
  }

  test("c71 edit verify: Levenshtein re-derived per pair in the JVM") {
    def lev(a: String, b: String): Long = {
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (j <- 0 to b.length) prev(j) = j
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length) {
          val cost = if (a(i - 1) == b(j - 1)) 0 else 1
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        }
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length).toLong
    }
    val texts = graft.sources.Tables
      .documents(spark, sf001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toMap
    val rows = TextDedup.c71EditVerify(spark, sf001).collect()
    assert(rows.nonEmpty, "the pair set must be non-empty at sf0.01")
    rows.foreach { r =>
      val (a, b) = (texts(r.getLong(0)), texts(r.getLong(1)))
      val d = lev(a, b)
      assert(r.getLong(3) == d, s"edit_distance for (${r.getLong(0)}, ${r.getLong(1)})")
      val sim = 1.0 - d.toDouble / math.max(a.length, b.length)
      assert(r.getDouble(4) == sim, "edit_sim")
      assert(r.getBoolean(5) == (sim >= TextDedup.EditSimThreshold), "edit_confirmed")
    }
    assert(rows.exists(_.getBoolean(5)), "gate pairs must contain edit-confirmed near-dups")
  }

  test("c72 packing efficiency: every candidate length re-derived from the length list") {
    val lens = graft.sources.Tables
      .documents(spark, sf0001)
      .select(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .collect()
      .map(_.getLong(0))
    val expected = Sampling.PackCandidateLengths.map { l =>
      val kept = lens.map(n => math.min(n, l.toLong)).sum
      val bins = (kept + l - 1) / l
      l.toLong -> ((lens.length.toLong, lens.sum, lens.count(_ > l).toLong,
        lens.map(n => math.max(n - l, 0L)).sum, kept, bins, bins * l - kept,
        kept.toDouble / (bins * l)))
    }.toMap
    val got = Sampling
      .c72PackingEfficiency(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getDouble(8))))
      .toMap
    assert(got == expected)
    assert(expected.values.exists(_._3 > 0), "some candidate length must truncate some doc")
  }

  test("b47 native mode: re-derived from value counts; plans the native top-k, no window") {
    val li = graft.sources.Tables
      .lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expected = li.groupBy(_._1).map { case (f, xs) =>
      val counts = xs.groupBy(_._2).map { case (q, ys) => (q, ys.length.toLong) }
      val (q, n) = counts.toSeq.minBy { case (q, n) => (-n, q) }
      f -> ((q, n))
    }
    val df = Relational.b47ModeNative(spark, sf0001)
    val got = df.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got == expected)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftTopKPerKey") || p.contains("TopKPerKey"), "mode must run on the native operator")
    assert(!p.contains("Window"), "no rank window anywhere in the mode plan")
  }

  test("b48 ratio-to-report: shares re-derived; the plan contains NO window node") {
    val df = Relational.b48RatioToReport(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "the decomposition must replace the partition-only window")
    val rows = df.collect()
    val byPrio = rows.groupBy(_.getString(0))
    byPrio.foreach { case (_, rs) =>
      val total = rs.map(r => BigDecimal(r.getDouble(2)).setScale(2)).sum.toDouble
      rs.foreach { r =>
        assert(r.getDouble(3) == total, "prio_total is the exact decimal group sum")
        assert(r.getDouble(4) == BigDecimal(r.getDouble(2)).setScale(2).toDouble / total, "share")
      }
      val shareSum = rs.map(_.getDouble(4)).sum
      assert(math.abs(shareSum - 1.0) < 1e-9, s"shares must sum to ~1, got $shareSum")
    }
  }

  test("s20 persisted band index: serve plan reads the index and matches c55 verbatim") {
    val df = TextDedup.s20NearDupIndex(spark, sf001)
    val got = df.collect().map(_.toSeq).toSet
    val batch = TextDedup.c55NearDupIncremental(spark, sf001).collect().map(_.toSeq).toSet
    assert(got == batch, "index-served verdicts must equal the from-scratch c55 run")
    assert(got.nonEmpty, "gate data must reject at least one batch doc")
    // the serve half, driven against the prebuilt index in isolation:
    // its plan must scan the index parquet (history signatures come
    // from disk, not recomputation)
    val app = spark.sparkContext.applicationId
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bandindex_${app}_${Integer.toHexString(sf001.hashCode)}"
    val serve = TextDedup.serveNearDupIndex(spark, sf001, dir, graft.operators.Sampling.IncrEvery)
    assert(serve.queryExecution.executedPlan.toString.contains("graft_bandindex_"),
      "the serve plan must read the persisted index")
    assert(serve.collect().map(_.toSeq).toSet == batch)
  }

  test("c73 split leakage: planted cross-split near-dup fires the hit branch; report re-derived") {
    import spark.implicits._
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest
        .getInstance("MD5").digest(s"split_$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1000
    }
    // hunt ids by the REAL coin: one train doc, one leaking test doc
    // (sharing hashes with the train doc), one clean test doc
    val trainId = (10000000L to 10001000L).find(bucket(_) < Sampling.SplitTrainPerMille).get
    val testIds = (10000000L to 10002000L).filter(bucket(_) >= Sampling.SplitValPerMille).take(2)
    val (leakyId, cleanId) = (testIds(0), testIds(1))
    val planted =
      (1L to 10L).map(h => (trainId, h * 31)) ++ // train shingles
        ((1L to 5L).map(h => (leakyId, h * 31)) ++ (1L to 3L).map(h => (leakyId, 100000L + h))) ++
        (1L to 7L).map(h => (cleanId, 200000L + h))
    val got = Sampling
      .c73SplitLeakageFrom(planted.toDF("doc_id", "h"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == Map(
      leakyId -> ((1L, 5L, 8L, 5.0 / 8)),
      cleanId -> ((0L, 0L, 7L, 0.0))
    ))
    // and the gate-corpus report at sf0.01 keeps its clean rows at zero
    val gate = Sampling.c73SplitLeakage(spark, sf001).collect()
    assert(gate.nonEmpty && gate.forall(_.getLong(3) > 0))
  }

  test("s21 shallow clone: zero bytes copied, source untouched, clone time-travels to pre-append") {
    val cloned = graft.sources.Formats.s21ShallowClone(spark, sf001)
    val nCloned = cloned.count()
    val (src, clone) = graft.sources.Formats.s21CloneDirs(spark, sf001)
    def read(p: String) = {
      val f = scala.io.Source.fromFile(p, "UTF-8"); try f.mkString.trim finally f.close()
    }
    // source untouched: pointer still 1, no v2 data dir ever appeared
    assert(read(s"$src/_GRAFT_MANIFEST") == "1")
    assert(!new java.io.File(s"$src/data_v=2").exists())
    // clone committed at 2, and its v1 manifest references the SOURCE's
    // files relatively — nothing was copied under the clone
    assert(read(s"$clone/_GRAFT_MANIFEST") == "2")
    val m1 = read(s"$clone/m=1.txt").split("\n")
    assert(m1.nonEmpty && m1.forall(_.startsWith("../src/")), "clone v1 must reference source files")
    assert(!new java.io.File(s"$clone/data_v=1").exists(), "a shallow clone copies no data")
    // clone time travel: v1 == the source's committed content
    val srcRows = graft.sources.Formats.readManifestTable(spark, src).count()
    val cloneV1 = graft.sources.Formats.readManifestVersion(spark, clone, 1L).count()
    assert(cloneV1 == srcRows)
    // and the evolved clone = source + its own append, invisible to source
    val nOrders = graft.sources.Tables.orders(spark, sf001).count()
    assert(srcRows == nOrders)
    assert(nCloned > nOrders, "the clone's append must be visible in the clone")
  }

  test("b49 multiset set-ops: bag semantics re-derived; multiplicities genuinely survive") {
    val orders = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val hv = orders.filter(_._2 > 150000).map(_._1)
    val urg = orders.filter(_._3 == "1-URGENT").map(_._1)
    def bagIntersect(a: Seq[Long], b: Seq[Long]): Long = {
      val cb = b.groupBy(identity).map { case (k, v) => (k, v.length) }
      a.groupBy(identity).map { case (k, v) => math.min(v.length, cb.getOrElse(k, 0)) }.sum.toLong
    }
    def bagExcept(a: Seq[Long], b: Seq[Long]): Long = {
      val cb = b.groupBy(identity).map { case (k, v) => (k, v.length) }
      a.groupBy(identity).map { case (k, v) => math.max(v.length - cb.getOrElse(k, 0), 0) }.sum.toLong
    }
    val got = GraftSql
      .b49SetOpsAll(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got("both_all")._1 == bagIntersect(hv.toSeq, urg.toSeq))
    assert(got("hv_only_all")._1 == bagExcept(hv.toSeq, urg.toSeq))
    assert(got.values.exists(v => v._1 > v._2), "multiset counts must exceed key counts somewhere — else ALL is vacuous here")
  }

  test("c74 ANN recall report: hits re-derived; LSH zero-miss and IVF above its floor") {
    val exact = VectorOps
      .c6AnnBruteforce(spark, sf001)
      .filter(col("rank") <= 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("query_id"), col("neighbor_id"))
        .collect()
        .count(r => exact((r.getLong(0), r.getLong(1))))
        .toLong
    val got = VectorOps
      .c74AnnRecall(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got("lsh")._2 == hits(VectorOps.c7AnnLsh(spark, sf001)))
    assert(got("ivf")._2 == hits(VectorOps.c18AnnIvf(spark, sf001)))
    assert(got("lsh")._3 == 1.0, "c7 is adjudicated zero-miss at the test SFs")
    assert(got("ivf")._3 >= 0.9, "c18's recall floor")
  }

  test("c75 langid margin: runner-up and flag re-derived from the marker scores") {
    val scores = TextAnalysis
      .c8TextLangid(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (2 to 6).map(r.getLong).toVector)
      .toMap
    val rows = TextAnalysis.c75LangidMargin(spark, sf0001).collect()
    assert(rows.length == scores.size)
    rows.foreach { r =>
      val ss = scores(r.getLong(0)).sorted.reverse
      assert(r.getLong(2) == ss(0), "top_score")
      assert(r.getLong(3) == ss(1), "second_score")
      assert(r.getLong(4) == ss(0) - ss(1), "margin")
      assert(r.getBoolean(5) == (ss(0) - ss(1) < TextAnalysis.LangidMarginMin || ss(0) == 0))
    }
    val flags = rows.map(_.getBoolean(5))
    assert(flags.contains(true) && flags.contains(false), "both confidence branches on gate data")
  }

  test("c76 dedup card: every cell reconciles with its member operator") {
    val row = TextDedup.c76DedupCard(spark, sf001).collect().head
    val docs = graft.sources.Tables.documents(spark, sf001)
    val nDocs = docs.count()
    val nDistinct = docs.select(md5(col("text"))).distinct().count()
    assert(row.getLong(0) == nDocs)
    assert(row.getLong(1) == nDistinct)
    assert(row.getLong(2) == nDocs - nDistinct)
    assert(row.getLong(3) == TextDedup.c3MinHashLsh(spark, sf001).count())
    val clusters = TextAnalysis.c16DedupClusters(spark, sf001)
    assert(row.getLong(4) == clusters.count())
    assert(row.getLong(5) == clusters.select(col("cluster_id")).distinct().count())
    assert(row.getLong(6) == TextDedup.c68PrefixDedup(spark, sf001).count())
    val ch = TextAnalysis
      .c38ChunkDedup(spark, sf001)
      .agg(sum(col("n_chunks")), sum(col("n_dup_chunks")))
      .head()
    assert(row.getLong(7) == ch.getLong(0) && row.getLong(8) == ch.getLong(1))
    assert(row.getDouble(9) == ch.getLong(1).toDouble / ch.getLong(0))
    assert(row.getLong(3) > 0 && row.getLong(8) > 0, "gate data must contain duplication")
  }

  test("c77 source drift: integer centroid cosines re-derived dim-by-dim in the JVM") {
    import graft.operators.TextAnalysis.{ChunkSize, ChunkStride}
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("source"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sums = scala.collection.mutable.Map[String, (Long, Array[BigInt])]()
    docs.foreach { case (src, text) =>
      val w = text.split(" ", -1)
      val nc = math.max(math.ceil((w.length - ChunkSize).toDouble / ChunkStride).toInt, 0) + 1
      val (n0, d0) = sums.getOrElseUpdate(src, (0L, Array.fill(graft.operators.VectorOps.RagDims)(BigInt(0))))
      var n = n0
      (0 until nc).foreach { ci =>
        val h = md5hex(w.slice(ci * ChunkStride, ci * ChunkStride + ChunkSize).mkString(" "))
        (0 until graft.operators.VectorOps.RagDims).foreach { j =>
          d0(j) += BigInt(java.lang.Long.parseLong(h.substring(j * 4, j * 4 + 4), 16) - 32768L)
        }
        n += 1
      }
      sums(src) = (n, d0)
    }
    val expected = (for {
      (sa, (na, da)) <- sums.toSeq
      (sb, (nb, db)) <- sums.toSeq
      if sa < sb
    } yield {
      val dot = (0 until da.length).map(j => da(j) * db(j)).sum
      val qa = da.map(x => x * x).sum
      val qb = db.map(x => x * x).sum
      (sa, sb) -> ((na, nb, dot.toDouble / (math.sqrt(qa.toDouble) * math.sqrt(qb.toDouble))))
    }).toMap
    val got = VectorOps
      .c77SourceDrift(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("c69 cluster purity: majority vote re-derived from c39's assignment (same seeded quantizer)") {
    // c39 emits the same (vec_id → list_id) assignment; folding labels
    // over it in the JVM re-derives every c69 row in exact integer math
    val asg = VectorOps
      .c39EmbeddingOutliers(spark, sf0001)
      .select(col("vec_id"), col("list_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select(col("vec_id"), col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .toMap
    val expected = asg.groupBy(_._2).map { case (list, xs) =>
      val byLabel = xs.groupBy(x => labels(x._1)).map { case (l, ys) => (l, ys.length) }
      val (ml, mc) = byLabel.toSeq.minBy { case (l, c) => (-c, l) }
      list -> ((xs.length.toLong, ml.toLong, mc.toLong, mc.toDouble / xs.length))
    }
    val got = VectorOps
      .c69ClusterPurity(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == expected)
    assert(expected.values.map(_._1).sum == labels.size.toLong, "every vector lands in exactly one list")
    assert(expected.values.exists(_._4 < 1.0), "gate data must contain an impure cluster")
  }

  test("c70 embedding quant: codes re-derived dim-by-dim; reconstruction bound holds") {
    val vecs = graft.sources.Tables
      .embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toMap
    val rows = VectorOps.c70EmbeddingQuant(spark, sf0001).collect()
    assert(rows.length == vecs.size)
    rows.foreach { r =>
      val v = vecs(r.getLong(0))
      val maxabs = v.map(math.abs).max
      val codes =
        if (maxabs == 0) v.map(_ => 0L)
        else v.map(x => math.floor(x * 127.0 / maxabs).toLong)
      assert(r.getDouble(1) == maxabs, "maxabs")
      assert(r.getLong(2) == codes.sum, s"code_sum for ${r.getLong(0)}")
      assert(r.getLong(3) == codes.min, "code_min")
      assert(r.getLong(4) == codes.max, "code_max")
      assert(r.getLong(5) == codes.count(_ == 0L).toLong, "n_zero_codes")
      // the int8 contract: every code fits and reconstructs within one step
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (maxabs > 0) v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x - c * maxabs / 127.0) <= maxabs / 127.0 + 1e-12)
      }
    }
  }

  test("c78 bitext margins: re-derived bit-exactly in the JVM (denominators, margins, best match)") {
    import graft.operators.VectorOps.{BitextMarginK, BitextMarginThreshold, BitextSrcLabels}
    val vecs = graft.sources.Tables
      .embeddings(spark, sf0001)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
        var q = 0.0
        v.foreach(x => q += x * x) // sequential IEEE fold — ArrayNormalize's order
        val n = math.sqrt(q)
        (r.getLong(r.fieldIndex("vec_id")), r.getInt(r.fieldIndex("label")), v.map(_ / n))
      }
    val src = vecs.filter(_._2 < BitextSrcLabels)
    val tgt = vecs.filter(_._2 >= BitextSrcLabels)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cos = (for { (si, _, sv) <- src; (ti, _, tv) <- tgt } yield (si, ti) -> dot(sv, tv)).toMap
    def denom(anchors: Array[Long], others: Array[Long], key: ((Long, Long)) => (Long, Long)): Map[Long, Double] =
      anchors.map { a =>
        val top = others
          .map(o => (cos(key((a, o))), o))
          .sortBy { case (c, o) => (-c, o) }
          .take(BitextMarginK)
          .map(_._1)
        a -> top.reduceLeft(_ + _) / BitextMarginK.toDouble
      }.toMap
    val ds = denom(src.map(_._1), tgt.map(_._1), identity)
    val dt = denom(tgt.map(_._1), src.map(_._1), { case (t, s) => (s, t) })
    val expected = src.map(_._1).map { s =>
      val best = tgt
        .map(_._1)
        .map { t => (cos((s, t)) / ((ds(s) + dt(t)) / 2.0), t) }
        .minBy { case (m, t) => (-m, t) }
      s -> ((best._2, cos((s, best._2)), best._1, if (best._1 >= BitextMarginThreshold) 1 else 0))
    }.toMap
    val got = VectorOps
      .c78BitextMargin(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4))))
      .toMap
    assert(got == expected)
    assert(expected.size == src.length && expected.nonEmpty)
  }

  test("c79 linear quality: md5 weight sums re-derived exactly; score bounded in [-1, 1]") {
    import graft.operators.TextAnalysis.{QcDim, QcScale}
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h32(s: String) = java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)
    val expected = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        val sum = w.map { t =>
          val bucket = h32(t) % QcDim
          h32(s"qw#$bucket") % (2 * QcScale + 1) - QcScale
        }.sum
        r.getLong(0) -> ((w.length.toLong, sum))
      }
      .toMap
    val got = TextAnalysis
      .c79LinearQuality(spark, sf0001)
      .collect()
      .map { r =>
        val score = r.getDouble(r.fieldIndex("qc_score"))
        assert(score >= -1.0 && score <= 1.0, s"score out of [-1,1]: $score")
        assert((score > 0.0) == (r.getInt(r.fieldIndex("admit")) == 1))
        r.getLong(r.fieldIndex("doc_id")) ->
          ((r.getLong(r.fieldIndex("n_tokens")), r.getLong(r.fieldIndex("w_sum"))))
      }
      .toMap
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("c107 trained quality: trained weights separate a planted vocabulary signal the md5 weights score at chance") {
    import spark.implicits._
    import graft.operators.TextAnalysis.QcDim
    // planted signal: positive docs draw from the g* vocabulary,
    // negative docs from z* — label is a pure function of vocabulary,
    // which a hashed-BoW linear model can learn exactly and c79's
    // md5-derived stand-in weights know nothing about. 20 train docs
    // per class, 10 held-out per class (DIFFERENT token subsets of the
    // same vocabularies, so held-out docs aren't byte-copies).
    def doc(vocab: String, salt: Int, n: Int) = (0 until n).map(i => s"$vocab${(i * 7 + salt) % 40}").mkString(" ")
    val train = (0 until 20).map(i => (i.toLong, 1, doc("g", i, 30))) ++
      (20 until 40).map(i => (i.toLong, 0, doc("z", i, 30)))
    val held = (100 until 110).map(i => (i.toLong, 1, doc("g", i * 3 + 1, 25))) ++
      (110 until 120).map(i => (i.toLong, 0, doc("z", i * 3 + 1, 25)))
    val trainDf = train.toDF("doc_id", "label", "text")
      .withColumn("w", graft.functions.TextFunctions.tokens(col("text")))
    val wq = TextAnalysis
      .trainedQualityWeightFrame(trainDf.select(col("label"), col("w")))
      .collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1))
      .toMap
    val weights = Array.tabulate(QcDim)(b => wq.getOrElse(b, 0L))
    assert(weights.exists(_ > 0L) && weights.exists(_ < 0L), "training produced a degenerate weight vector")
    val heldDf = held.toDF("doc_id", "label", "text")
    val trainedAdmit = TextAnalysis
      .trainedQualityScored(heldDf.select(col("doc_id"), col("text")), weights)
      .collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getInt(r.fieldIndex("admit")))
      .toMap
    val labels = held.map { case (id, l, _) => id -> l }.toMap
    val trainedAcc = labels.count { case (id, l) => trainedAdmit(id) == l }.toDouble / labels.size
    assert(trainedAcc == 1.0, s"trained weights must separate the planted signal perfectly, acc=$trainedAcc")
    // the md5 stand-in weights (c79) have no access to the label and
    // must NOT classify the plant — at least one mistake on the 20
    // held-out docs (a deterministic assertion: the plant is fixed)
    val md5Admit = TextAnalysis
      .linearQualityScored(heldDf.select(col("doc_id"), col("text")))
      .collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getInt(r.fieldIndex("admit")))
      .toMap
    val md5Acc = labels.count { case (id, l) => md5Admit(id) == l }.toDouble / labels.size
    assert(md5Acc < 1.0, s"md5 weights accidentally classify the plant perfectly — change the plant vocab")
    assert(trainedAcc > md5Acc, s"trained ($trainedAcc) must beat md5 stand-in ($md5Acc)")
  }

  test("c109 unigram trainer: learned pieces beat chars-only fertility on a compositional plant; deterministic") {
    import spark.implicits._
    import graft.operators.TextAnalysis.{UniMaxWordLen, unigramTrain}
    // compositional vocabulary: words are concatenations of 2-char
    // morphemes — exactly the structure a unigram trainer exists to
    // discover. Frequencies make the morphemes dominant substrings.
    val morphemes = Seq("ab", "cd", "ef", "gh")
    val words = (for {
      m1 <- morphemes; m2 <- morphemes if m1 != m2
    } yield (m1 + m2, 50L)) ++
      Seq(("abcdef", 30L), ("x", 9L), ("a" * (UniMaxWordLen + 2), 1L)) // 1-char + overlong edge rows
    val vocab = words.toDF("w", "cnt")
    val (inv, _) = unigramTrain(vocab)
    val (inv2, _) = unigramTrain(vocab)
    assert(inv == inv2, "training must be deterministic run-to-run")
    val multis = inv.filter(_._1.length >= 2)
    assert(multis.nonEmpty, "no multi-char pieces survived training")
    assert(
      morphemes.forall(m => inv.exists(p => p._1 == m && p._2 > 0L) || inv.exists(p => p._1.contains(m) && p._2 > 0L)),
      s"planted morphemes not represented in the learned inventory: $inv"
    )
    // fertility: the learned segmentation must compress vs chars-only
    // (the overlong word is screened from the trainer on both sides)
    val charTotal = words.filter(_._1.length <= UniMaxWordLen).map { case (w, c) => w.length * c }.sum
    val pieceTotal = inv.map(_._2).sum
    assert(
      pieceTotal < charTotal,
      s"learned pieces must beat chars-only fertility: $pieceTotal pieces vs $charTotal chars"
    )
    // every word's Viterbi mass is conserved: piece counts sum to at
    // most the char total and at least the word count (≥ 1 piece/word)
    assert(pieceTotal >= words.filter(_._1.length <= UniMaxWordLen).map(_._2).sum)
    // probabilities are a valid Laplace distribution over the inventory
    val probSum = inv.map(_._3).sum
    assert(probSum <= 1.0 + 1e-9, s"Laplace probs must not exceed 1: $probSum")
    inv.foreach { case (piece, n, p) => assert(p > 0.0 && n >= 0L, s"invalid row ($piece, $n, $p)") }

    // c111 apply pass over the same plant: every word segments into
    // trained pieces covering it exactly, multi-char pieces do the
    // heavy lifting (corpus-weighted fertility beats chars-only), and
    // the fingerprint is deterministic
    val invPieces = inv.map(_._1).toSet
    val seg = TextAnalysis
      .unigramSegmented(vocab.filter(length($"w") <= UniMaxWordLen), inv)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(seg.nonEmpty)
    seg.foreach { case (w, _, nChars, nPieces, fp) =>
      assert(nPieces >= 1 && nPieces <= nChars, s"$w: $nPieces pieces over $nChars chars")
      assert(fp.length == 32, s"$w: fingerprint not md5")
    }
    val segTotal = seg.map { case (_, c, _, np, _) => c * np }.sum
    val segChars = seg.map { case (_, c, nc, _, _) => c * nc }.sum
    assert(segTotal < segChars, s"apply fertility must beat chars-only: $segTotal vs $segChars")
    val seg2 = TextAnalysis
      .unigramSegmented(vocab.filter(length($"w") <= UniMaxWordLen), inv)
      .collect()
      .map(r => (r.getString(0), r.getString(4)))
      .toMap
    assert(seg.forall { case (w, _, _, _, fp) => seg2(w) == fp }, "apply must be deterministic")
    // the word 'abcd' (or any morpheme pair) must segment WITHOUT
    // falling back to single chars — its pieces are in the inventory
    val abcd = seg.find(_._1 == "abcd")
    assert(abcd.exists(_._4 <= 2), s"'abcd' should segment into <= 2 trained pieces, got ${abcd.map(_._4)}")
    assert(invPieces.exists(p => p.length >= 2 && "abcd".contains(p)), "no multi-char piece covers the plant")
  }

  test("c109 seed selection: driver traffic bounded — multi-char prune is engine-side and matches a full-frame reference") {
    import spark.implicits._
    import graft.operators.TextAnalysis.{UniMaxPieceLen, UniSeedCandidates, uniSeedFrames}
    // a vocabulary whose distinct-substring frame (what an unbounded
    // seed step would collect) far exceeds chars + UniSeedCandidates
    val words = (0 until 400).map(i => (f"w$i%03dabcd", (i % 7 + 1).toLong))
    val (charsDf, seedsDf) = uniSeedFrames(words.toDF("w", "cnt"))
    // the prune is IN THE PLAN: orderBy+limit plans as a per-partition
    // top-K (TakeOrderedAndProject), never a full collect
    val plan = seedsDf.queryExecution.executedPlan.toString
    assert(
      plan.contains("TakeOrderedAndProject") || plan.contains(s"GlobalLimit $UniSeedCandidates"),
      s"seed prune must be engine-side (TakeOrdered/GlobalLimit), plan was:\n$plan"
    )
    val seeds = seedsDf.collect().map(r => r.getString(0) -> r.getLong(1))
    assert(seeds.length == UniSeedCandidates, s"expected exactly $UniSeedCandidates seeds, got ${seeds.length}")
    assert(seeds.forall(_._1.length >= 2))
    // the engine-side top-48 equals the full-frame driver reference
    // (the pre-refactor selection): same (n DESC, piece) key
    val occRef = words
      .flatMap { case (w, cnt) =>
        for {
          i <- 0 until w.length
          l <- 1 to UniMaxPieceLen
          if i + l <= w.length
        } yield (w.substring(i, i + l), cnt)
      }
      .groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).sum }
    val refSeeds = occRef.toSeq
      .filter(_._1.length >= 2)
      .sortBy { case (piece, n) => (-n, piece) }
      .take(UniSeedCandidates)
    assert(
      seeds.sortBy { case (p, n) => (-n, p) }.toSeq == refSeeds,
      "engine-side seed prune must select the identical inventory"
    )
    // the chars frame is alphabet-bounded: exactly the distinct chars
    val chars = charsDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val refChars = occRef.filter(_._1.length == 1)
    assert(chars == refChars, "chars frame must carry exact per-char occurrence counts")
  }

  test("c91 BM25: rational-idf scores re-derived bit-for-bit in the JVM; top-k selection exact") {
    import graft.operators.TextAnalysis.{Bm25K1, Bm25B, Bm25TopK, Bm25Queries}
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val terms = Bm25Queries.flatMap(_._2.split(" ")).distinct
    val n = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val idf = terms.map(t => t -> ((n - df(t) + 0.5) / (df(t) + 0.5))).toMap
    // the EXACT operation order of the operator (and the oracle): norm
    // once per doc, per-term rational products, left fold over terms
    val expected: Map[(Long, Long), Double] = (for {
      (qid, text) <- Bm25Queries
      (id, w) <- docs
      score = {
        val norm = Bm25K1 * ((1.0 - Bm25B) + (Bm25B * (w.length.toLong.toDouble / avgdl)))
        text
          .split(" ")
          .toSeq
          .map { t =>
            val tf = w.count(_ == t).toLong.toDouble
            idf(t) * ((tf * (Bm25K1 + 1.0)) / (tf + norm))
          }
          .reduceLeft(_ + _)
      }
      if score > 0.0
    } yield (qid, id) -> score).toMap
    val expectedTop = expected.keys
      .groupBy(_._1)
      .flatMap { case (_, ks) =>
        ks.toSeq
          .map(k => (k, expected(k)))
          .sortBy { case ((_, id), s) => (-s, id) }
          .take(Bm25TopK)
          .zipWithIndex
          .map { case ((k, s), i) => k -> ((i + 1L, s)) }
      }
    val q = TextAnalysis.c91Bm25(spark, sf0001)
    val got = q
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == expectedTop, s"missing=${(expectedTop.keySet -- got.keySet).take(3)} extra=${(got.keySet -- expectedTop.keySet).take(3)}")
    assert(got.nonEmpty && Bm25Queries.forall { case (qid, _) => got.keys.exists(_._1 == qid) })
    // the scale contract: only heap survivors reach an exchange
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerKey "),
      "BM25 top-k must plan the native bounded heap")
  }

  test("b50 distribution windows: two-phase equals declarative percent_rank/cume_dist; edge partitions") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    def declarative(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"), col("o_orderkey"))
      df.select(
        col("o_orderpriority"),
        col("o_orderkey"),
        col("o_totalprice"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume_dist")
      )
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1)) -> ((r.getDouble(3), r.getDouble(4)))
    val input = graft.sources.Tables
      .orders(spark, sf0001)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val got = Relational.b50DistWindowsFrom(input).collect().map(key).toMap
    val want = declarative(input).collect().map(key).toMap
    assert(got == want && got.nonEmpty)
    // planted edges: a single-row partition (pct_rank = 0 by SQL
    // convention) and a two-row one spanning a bucket boundary
    val planted = Seq(
      ("solo", 1L, 500.0),
      ("pair", 2L, 999.99),
      ("pair", 3L, 1000.01)
    ).toDF("o_orderpriority", "o_orderkey", "o_totalprice")
    val gp = Relational.b50DistWindowsFrom(planted).collect().map(key).toMap
    assert(gp(("solo", 1L)) == ((0.0, 1.0)))
    assert(gp(("pair", 2L)) == ((0.0, 0.5)) && gp(("pair", 3L)) == ((1.0, 1.0)))
  }

  test("c83 normalized dedup: planted case/punct/space variants collapse; raw-exact families preserved") {
    import spark.implicits._
    val planted = Seq(
      (100L, "The Quick Brown Fox"),
      (101L, "the quick  brown fox!!"),   // re-cased, re-spaced, re-punctuated
      (102L, "the, quick. brown; fox"),   // re-punctuated only
      (103L, "The Quick Brown Fox"),      // RAW exact dup of 100
      (200L, "a different document")
    ).toDF("doc_id", "text")
    val got = TextDedup
      .c83NormalizedDedupFrom(planted)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // one family of four (canonical 100: 4 copies, 3 raw variants), one singleton
    assert(got == Map(100L -> ((4L, 3L)), 200L -> ((1L, 1L))))
    // on the gate corpus the family count can never exceed c1's raw count
    val nNorm = TextDedup.c83NormalizedDedup(spark, sf0001).count()
    val nRaw = TextDedup.c1DedupExact(spark, sf0001).count()
    assert(nNorm <= nRaw && nNorm > 0)
  }

  test("c86 JL projection: sketches re-derived bit-exactly; corpus distance distortion bounded") {
    import graft.operators.VectorOps.{jlSigns, JlDim}
    val scale = 1.0 / math.sqrt(JlDim.toDouble)
    val vecs = graft.sources.Tables
      .embeddings(spark, sf0001)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")), r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val expected = vecs.map { case (id, v) => id -> jlSigns.map(row => dot(v, row) * scale).toArray }.toMap
    val got = VectorOps
      .c86JlProjection(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> (1 to JlDim).map(j => r.getDouble(j)).toArray)
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, p) => assert(p.sameElements(expected(id)), s"vec $id sketch diverged") }
    // JL contract on the actual corpus: squared distances survive the
    // 64→16 sketch with bounded typical distortion (fixed data ⇒ the
    // measured bound is deterministic; 2/k variance ⇒ sd ~0.35)
    def d2(a: Array[Double], b: Array[Double]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sample = vecs.take(40)
    val ratios = for {
      (ia, va) <- sample; (ib, vb) <- sample if ia < ib
    } yield d2(expected(ia), expected(ib)) / d2(va, vb)
    val medAbs = ratios.map(r => math.abs(r - 1.0)).sorted.apply(ratios.length / 2)
    assert(medAbs < 0.4, s"median distortion $medAbs — sketch is not distance-preserving")
    assert(ratios.forall(_ > 0.0))
  }

  test("c88 winnowing: summaries re-derived exactly; shared-run guarantee on planted docs") {
    import graft.operators.TextAnalysis.WinnowW
    import graft.operators.TextDedup.ShingleSize
    import spark.implicits._
    def md5h32(s: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8), 16)
    def rollingHashes(text: String): Seq[Long] = {
      val ht = text.split(" ", -1).map(md5h32(_)).toSeq
      val ks = graft.functions.TextFunctions.rollCoeffs(ShingleSize)
      val p = graft.functions.TextFunctions.RollP
      (0 to ht.length - ShingleSize).map { i =>
        ks.zipWithIndex.map { case (k, j) => ht(i + j) * k }.sum % p
      }
    }
    def winnow(text: String): Set[Long] = {
      val hs = rollingHashes(text)
      (0 to hs.length - WinnowW).map(i => hs.slice(i, i + WinnowW).min).toSet
    }
    // per-doc summaries on the gate corpus re-derived exactly
    val expected = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val sel = winnow(r.getString(1))
        r.getLong(0) -> ((sel.size.toLong,
          if (sel.isEmpty) None else Some(sel.min),
          if (sel.isEmpty) None else Some(sel.sum % graft.operators.TextDedup.MinHashParams.P)))
      }
      .toMap
    val got = TextAnalysis
      .c88Winnowing(spark, sf0001)
      .collect()
      .map { r =>
        r.getLong(0) -> ((r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
      }
      .toMap
    assert(got == expected && got.nonEmpty)
    // THE winnowing guarantee: two docs sharing a run of
    // W + ShingleSize - 1 tokens share at least one fingerprint —
    // planted with disjoint surroundings
    val run = (1 to WinnowW + ShingleSize - 1).map(i => s"shared$i").mkString(" ")
    val docA = s"alpha beta gamma delta epsilon $run zeta eta theta iota kappa"
    val docB = s"one two three four five $run six seven eight nine ten"
    assert((winnow(docA) & winnow(docB)).nonEmpty, "planted shared run produced no common fingerprint")
    // and the operator's summaries on the planted docs match the mirror
    val gotPlanted = TextAnalysis
      .c88WinnowingFrom(Seq((1L, docA), (2L, docB)).toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    assert(gotPlanted == Map(1L -> winnow(docA).size.toLong, 2L -> winnow(docB).size.toLong))
  }

  test("c89 MOSS pairs: a lifted paragraph fires at near-zero Jaccard; pairs re-derived on the corpus") {
    import graft.operators.TextAnalysis.{MossMinShared, WinnowW}
    import graft.operators.TextDedup.ShingleSize
    import spark.implicits._
    // a 20-token "paragraph" lifted into two long, otherwise-disjoint docs
    val para = (1 to 20).map(i => s"lifted$i").mkString(" ")
    val docA = (1 to 80).map(i => s"alpha$i").mkString(" ") + " " + para + " " + (1 to 80).map(i => s"omega$i").mkString(" ")
    val docB = (1 to 80).map(i => s"beta$i").mkString(" ") + " " + para + " " + (1 to 80).map(i => s"psi$i").mkString(" ")
    val planted = Seq((1L, docA), (2L, docB), (3L, "an unrelated third document entirely")).toDF("doc_id", "text")
    val got = TextAnalysis
      .c89MossPairsFrom(planted)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.keySet == Set((1L, 2L)), s"expected exactly the lifted pair, got ${got.keySet}")
    assert(got((1L, 2L)) >= MossMinShared)
    // whole-doc Jaccard on the same pair is tiny — the cell this
    // operator exists for (shared 5-gram shingles ≈ 16 of ~356)
    val sh = (t: String) => t.split(" ").sliding(ShingleSize).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(docA), sh(docB))
    val jac = (sa & sb).size.toDouble / (sa | sb).size
    assert(jac < 0.1, f"planted pair unexpectedly similar whole-doc (jaccard $jac%.3f)")
    // corpus pairs re-derived from the winnowing mirror
    def md5h32x(s: String) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 8), 16)
    def winnowSet(text: String): Set[Long] = {
      val ht = text.split(" ", -1).map(md5h32x(_)).toSeq
      val ks = graft.functions.TextFunctions.rollCoeffs(ShingleSize)
      val p = graft.functions.TextFunctions.RollP
      val hs = (0 to ht.length - ShingleSize).map(i => ks.zipWithIndex.map { case (k, j) => ht(i + j) * k }.sum % p)
      (0 to hs.length - WinnowW).map(i => hs.slice(i, i + WinnowW).min).toSet
    }
    val corpus = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> winnowSet(r.getString(1)))
    val dfCount = corpus.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    val cap = graft.operators.TextDedup.MaxShingleDf
    val expected = (for {
      (ia, fa) <- corpus; (ib, fb) <- corpus if ia < ib
      common = (fa & fb).count(h => dfCount(h) <= cap)
      if common >= MossMinShared
    } yield (ia, ib) -> common.toLong).toMap
    val gotCorpus = TextAnalysis
      .c89MossPairs(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(gotCorpus == expected)
  }

  test("c85 dedup sweep: survival counts re-derived from the pair set; monotone; floor = full set") {
    import graft.operators.TextDedup.SweepThresholds
    val pairs = TextDedup
      .c3MinHashLsh(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val expected = SweepThresholds.map { t =>
      val surv = pairs.filter(_._3 >= t)
      t -> ((surv.length.toLong, surv.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong))
    }.toMap
    val got = TextDedup
      .c85DedupSweep(spark, sf0001)
      .collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == expected)
    // monotone: raising the cutoff can only shrink both counts
    val sorted = SweepThresholds.sorted.map(got)
    assert(sorted.sliding(2).forall { case Seq(a, b) => b._1 <= a._1 && b._2 <= a._2; case _ => true })
    // the floor threshold IS the verification floor: nothing is cut
    assert(got(SweepThresholds.min) == ((pairs.length.toLong, pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)))
    assert(pairs.nonEmpty)
  }

  test("c82 semantic decontamination: max/argmax over the eval set re-derived bit-exactly") {
    import graft.operators.VectorOps.{NumQueryVecs, SemanticLeakThreshold}
    val vecs = graft.sources.Tables
      .embeddings(spark, sf0001)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
        var q = 0.0
        v.foreach(x => q += x * x)
        val n = math.sqrt(q)
        (r.getLong(r.fieldIndex("vec_id")), v.map(_ / n))
      }
    val eval0 = vecs.filter(_._1 < NumQueryVecs)
    val corpus = vecs.filter(_._1 >= NumQueryVecs)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val expected = corpus.map { case (id, cv) =>
      val (c, e) = eval0.map { case (eid, ev) => (dot(cv, ev), eid) }.minBy { case (c, eid) => (-c, eid) }
      id -> ((e, c, if (c >= SemanticLeakThreshold) 1 else 0))
    }.toMap
    val got = VectorOps
      .c82SemanticDecontam(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3))))
      .toMap
    assert(got == expected)
    assert(expected.size == corpus.length && expected.nonEmpty)
  }

  test("b50/c80: two-phase rank machinery equals declarative windows on randomized data (6 seeded trials)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // group sizes hit every n mod 3 case incl. n < 3; values collide
      // across bucket boundaries (mod 7 → many floor-bucket repeats)
      val rows = (0 until 5).flatMap { g =>
        val n = Seq(1, 2, 3, 4, 7, 30)(rnd.nextInt(6))
        (0 until n).map(i => (s"g$g", rnd.nextLong().abs % 100000, (rnd.nextInt(2100) / 7).toDouble + rnd.nextInt(3) * 0.25))
      }
      val df = rows.toDF("o_orderpriority", "o_orderkey", "o_totalprice").dropDuplicates("o_orderpriority", "o_orderkey")
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"), col("o_orderkey"))
      def k(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
      val gotDist = Relational.b50DistWindowsFrom(df).collect().map(r => k(r) -> ((r.getDouble(3), r.getDouble(4)))).toMap
      val wantDist = df
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          percent_rank().over(w).as("p"), cume_dist().over(w).as("c"))
        .collect().map(r => k(r) -> ((r.getDouble(3), r.getDouble(4)))).toMap
      assert(gotDist == wantDist, s"b50 trial $seed diverged")
      // same frame through the c80 tiler (lang=group, lm_score=value)
      val scored = df.select(col("o_orderkey").as("doc_id"), col("o_orderpriority").as("lang"), col("o_totalprice").as("lm_score"))
      val wt = Window.partitionBy(col("lang")).orderBy(col("lm_score"), col("doc_id"))
      val gotT = Sampling.c80CcnetBucketsFrom(scored).collect().map(r => (r.getString(1), r.getLong(0)) -> r.getString(3)).toMap
      val wantT = scored
        .withColumn("tl", ntile(Sampling.CcnetTiles).over(wt))
        .collect()
        .map(r => (r.getString(1), r.getLong(0)) ->
          (r.getInt(3) match { case 1 => "tail"; case 2 => "middle"; case _ => "head" }))
        .toMap
      assert(gotT == wantT, s"c80 trial $seed diverged")
    }
  }

  test("c81 token fertility: per-lang exact counts re-derived; ratios consistent") {
    val re = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]".r
    val expected = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("lang"), col("text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (l, docs) =>
        val texts = docs.map(_._2)
        l -> ((
          texts.length.toLong,
          texts.map(_.split(" ", -1).length.toLong).sum,
          texts.map(t => re.findAllIn(t).size.toLong).sum,
          texts.map(_.length.toLong).sum
        ))
      }
    val got = TextAnalysis
      .c81TokenFertility(spark, sf0001)
      .collect()
      .map { r =>
        val (nb, nw, nc) = (r.getLong(3), r.getLong(2), r.getLong(4))
        assert(r.getDouble(5) == nb.toDouble / nw, "fertility must be the exact ratio of the counts")
        assert(r.getDouble(6) == nc.toDouble / nb, "chars_per_subtoken must be the exact ratio")
        r.getString(0) -> ((r.getLong(1), nw, nb, nc))
      }
      .toMap
    assert(got == expected)
    assert(expected.size >= 2)
  }

  test("c80 ccnet buckets: two-phase tiling equals the declarative NTILE window; thirds balanced") {
    import org.apache.spark.sql.expressions.Window
    val got = Sampling.c80CcnetBuckets(spark, sf0001).cache()
    val scores = TextAnalysis
      .c15BigramLmScore(spark, sf0001)
      .join(graft.sources.Tables.documents(spark, sf0001).select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang")).orderBy(col("lm_score"), col("doc_id"))
    val expected = scores
      .withColumn("tl", ntile(graft.operators.Sampling.CcnetTiles).over(w))
      .select(
        col("doc_id"),
        when(col("tl") === 1, "tail").when(col("tl") === 2, "middle").otherwise("head").as("ppl_bucket")
      )
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(gotMap == expected)
    // per (lang, bucket) sizes differ by at most 1 within a language
    val sizes = got
      .groupBy(col("lang"), col("ppl_bucket"))
      .count()
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) => l -> rows.map(_.getLong(2)) }
    sizes.foreach { case (l, ns) =>
      assert(ns.length == graft.operators.Sampling.CcnetTiles, s"$l missing a bucket: ${ns.toSeq}")
      assert(ns.max - ns.min <= 1, s"$l buckets unbalanced: ${ns.toSeq}")
    }
    assert(sizes.nonEmpty)
  }

  test("c102 CDC chunking: re-derived in plain JVM; insertion re-syncs boundaries where fixed chunks lose everything") {
    import TextAnalysis.{CdcWindow, CdcDivisor}
    // plain-JVM reference chunker (md5 strings, same window polynomial)
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val ks = graft.functions.TextFunctions.rollCoeffs(CdcWindow)
    def refChunks(text: String): Seq[(String, Int)] = {
      val toks = text.split(" ", -1)
      val n = toks.length
      val ht = toks.map(h32)
      val rh = (1 to n - (CdcWindow - 1)).map { i =>
        (0 until CdcWindow).map(j => ht(i - 1 + j) * ks(j)).sum % graft.functions.TextFunctions.RollP
      }
      val bpos = (CdcWindow to n - 1).filter(p => rh(p - CdcWindow) % CdcDivisor == 0)
      val starts = 1 +: bpos.map(_ + 1)
      val ends = bpos :+ n
      starts.zip(ends).map { case (s, e) => (md5hex(toks.slice(s - 1, e).mkString(" ")), e - s + 1) }
    }
    // gate parity: the whole corpus aggregate re-derived row-at-a-time
    val docs = graft.sources.Tables.documents(spark, sf001).select(col("doc_id"), col("text")).collect()
    val want = scala.collection.mutable.Map.empty[String, (Long, Set[Long], Long, Long)]
    docs.foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      refChunks(text).foreach { case (m, l) =>
        val (occ, ds, keep, _) = want.getOrElse(m, (0L, Set.empty[Long], Long.MaxValue, 0L))
        want(m) = (occ + 1, ds + id, math.min(keep, id), l.toLong)
      }
    }
    val wantDup = want.collect { case (m, (occ, ds, keep, l)) if occ >= 2 => m -> ((occ, ds.size.toLong, keep, l)) }
    val got = TextAnalysis
      .c102CdcChunkDedup(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == wantDup.toMap, s"CDC dedup diverges: got ${got.size} want ${wantDup.size}")
    assert(got.nonEmpty, "gate corpus must contain duplicated CDC chunks (exact-dup pairs exist)")

    // the CDC property: a copy with an inserted preamble re-synchronizes
    import spark.implicits._
    val base = (1 to 60).map(i => s"w${i * 7 % 53}x$i").mkString(" ")
    val pair = Seq((1L, base), (2L, s"zza zzb zzc $base")).toDF("doc_id", "text")
    val cdcShared = TextAnalysis
      .cdcChunks(pair)
      .groupBy(col("chunk_md5"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") === 2)
      .count()
    val fixedShared = TextAnalysis
      .chunked(pair)
      .groupBy(col("chunk_md5"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") === 2)
      .count()
    assert(cdcShared >= 2, s"CDC must re-sync after the insertion (shared chunks = $cdcShared)")
    assert(fixedShared == 0, s"fixed-width chunks must all shift (shared = $fixedShared) — else the contrast proves nothing")
    // and the reference agrees on the planted pair
    val sharedRef = refChunks(base).map(_._1).toSet & refChunks(s"zza zzb zzc $base").map(_._1).toSet
    assert(sharedRef.size.toLong == cdcShared)
  }

  test("c99 bpe train: the full merge sequence re-derived in plain JVM, greedy left-to-right") {
    val got = TextAnalysis
      .c99BpeTrain(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    // reference trainer: word counts -> symbol lists -> argmax pair ->
    // greedy left-to-right merge (the semantics the double-space
    // replace encoding implements)
    val wc = graft.sources.Tables
      .documents(spark, sf001)
      .select(col("text"))
      .collect()
      .flatMap(_.getString(0).split(" ", -1))
      .filter(_.nonEmpty)
      .groupBy(identity)
      .map { case (w, ws) => w -> ws.length.toLong }
    var seg: Seq[(Vector[String], Long)] = wc.toSeq.map { case (w, c) =>
      (w.map(_.toString).toVector :+ TextAnalysis.BpeEndOfWord, c)
    }
    def mergeLR(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val want = Seq.newBuilder[(Long, String, String, String, Long)]
    var round = 1
    var done = false
    while (round <= TextAnalysis.BpeTrainRounds && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      seg.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) { // ALL adjacent occurrences count, overlap included
          val k = (syms(i), syms(i + 1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // tie-break by UTF-8 BYTE order, not Scala's UTF-16 compareTo:
        // Spark and DuckDB both collate strings by UTF-8 binary, and
        // for symbols mixing U+E000..U+FFFF with supplementary-plane
        // characters the two orders diverge (harmless on the ASCII
        // gate corpus, a latent trap on any non-ASCII corpus)
        val utf8: Ordering[String] = (a: String, b: String) => {
          val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          java.util.Arrays.compareUnsigned(x, y)
        }
        val ((l, r), n) = pairCounts.minBy { case ((l, r), n) => (-n, l, r) }(
          Ordering.Tuple3(implicitly[Ordering[Long]], utf8, utf8)
        )
        want += ((round.toLong, l, r, l + r, n))
        seg = seg.map { case (syms, c) => (mergeLR(syms, l, r), c) }
        round += 1
      }
    }
    assert(got == want.result(), s"merge table diverges\ngot:  $got")
    assert(got.length == TextAnalysis.BpeTrainRounds, "gate corpus must fill every round")
    // the trainer must get past char-char merges: later rounds must
    // consume previously-merged symbols, or the loop isn't really
    // iterating
    assert(got.exists { case (_, l, r, _, _) => l.length > 1 || r.replace(TextAnalysis.BpeEndOfWord, "").length > 1 },
      "no merge consumed a merged symbol — the iteration is untested")
    // c100 = applying the trained merges: per-symbol corpus token
    // counts over the SAME final segmentation
    val gotSeg = TextAnalysis
      .c100BpeSegment(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val wantSeg = scala.collection.mutable.Map.empty[String, (Long, Long)]
    seg.foreach { case (syms, c) =>
      syms.foreach { sym =>
        val (t, o) = wantSeg.getOrElse(sym, (0L, 0L))
        wantSeg(sym) = (t + c, o + 1)
      }
    }
    assert(gotSeg == wantSeg.toMap, "segmentation counts diverge")
    // the segmentation must actually use merged symbols, and token
    // count must undercut the char count (merges compress)
    assert(gotSeg.keys.exists(s => s.replace(TextAnalysis.BpeEndOfWord, "").length > 1))
    val nChars = wc.map { case (w, c) => (w.length + 1).toLong * c }.sum
    assert(gotSeg.values.map(_._1).sum < nChars, "BPE apply must compress vs char-level")
  }

  test("c105 perceptual dhash: planted near-identical frames pair with small hamming; far payloads don't") {
    import spark.implicits._
    // doc ids multiples of 3 = the image rows (c12's fmt convention).
    // Doc 3 and doc 6 share a 70-token prefix — a truncation family:
    // doc 6 is 10 tokens shorter, so grid cells past its length wrap
    // to the payload head and only the wrapped cells' gradients can
    // differ. A real decoder shows exactly this shape for a
    // padded/cropped image: most of the thumbnail identical, a border
    // band different.
    val prefix = (0 until 70).map(i => s"t$i")
    val docA = (prefix ++ (70 until 80).map(i => s"a$i")).mkString(" ")   // 80 tokens
    val docB = prefix.take(60).mkString(" ")                              // 60 tokens: cells 60..62 wrap
    val docFar = (0 until 80).map(i => s"z$i").mkString(" ")              // unrelated content
    val docs = Seq((3L, docA), (6L, docB), (9L, docFar), (4L, docA)).toDF("doc_id", "text")
    val sigs = Multimodal
      .imageDhashSignatures(docs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(sigs.keySet == Set(3L, 6L, 9L), "doc 4 is not an image row and must not be hashed")
    val hamAB = java.lang.Long.bitCount(sigs(3L) ^ sigs(6L))
    val hamAF = java.lang.Long.bitCount(sigs(3L) ^ sigs(9L))
    // cells 60..62 sit in row 6, cols 6..8 — at most 3 gradient bits
    // can flip (the wrap also shifts every cell of doc B whose index
    // mod 60 differs... none do below 60), so the family is WELL
    // within the served threshold while unrelated content is far out
    assert(hamAB > 0 && hamAB <= 3, s"truncation family hamming $hamAB not in (0, 3]")
    assert(hamAF > Multimodal.PhashHammingMax, s"unrelated payloads at hamming $hamAF — grid not discriminating")
    val pairs = Multimodal
      .dhashPairsFrom(Multimodal.imageDhashSignatures(docs))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pairs == Set((3L, 6L, hamAB.toLong)), s"expected exactly the planted family pair, got $pairs")
    // banding boundary: hamming == threshold is kept, threshold+1 dropped,
    // and a pair differing ONLY inside one band is found once (emit-once)
    val base = 0L
    def flipLow(k: Int): Long = (1L << k) - 1 // k one-bits in band 0 (+ band 1 for k > 7)
    val planted = Seq(
      (10L, base),
      (11L, flipLow(Multimodal.PhashHammingMax)),     // hamming 7 == max → kept
      (12L, flipLow(Multimodal.PhashHammingMax + 1)), // hamming 8 vs base → dropped
      (13L, base)                                     // exact dup of 10 → hamming 0
    ).toDF("doc_id", "dhash")
    val got = Multimodal
      .dhashPairsFrom(planted)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.toSet.size, "duplicate emits — first-matching-band algebra broken")
    val gotSet = got.toSet
    assert(gotSet.contains((10L, 11L, Multimodal.PhashHammingMax.toLong)), s"boundary pair missing: $gotSet")
    assert(gotSet.contains((10L, 13L, 0L)) && gotSet.contains((11L, 13L, Multimodal.PhashHammingMax.toLong)))
    assert(!gotSet.exists { case (a, b, _) => Set(a, b).contains(12L) && Set(a, b).contains(10L) },
      s"hamming ${Multimodal.PhashHammingMax + 1} pair must be dropped: $gotSet")
  }

  test("c105 refinement: a planted hot band bucket refines and the pair set is byte-identical to brute force") {
    import spark.implicits._
    // 200 signatures all sharing band 0 (bits 0..6 = 85) — one hot
    // (band, value) bucket well above DhashHotFloor — with the other
    // 49 bits spread by a multiplicative hash so the sub-band census
    // prices the re-key IN. Planted families: 3001 = 3000 with 3 bits
    // flipped inside band 3 (hamming 3), 3002 = an exact copy of the
    // doc-5 signature (hamming 0), 3003 = 7 bits flipped across SIX
    // bands of doc 10's signature (hamming 7 == max, kept), 3004 = 8
    // bits flipped on doc 20's (dropped).
    def spread(i: Long): Long = ((i * 0x9E3779B97F4A7C15L) >>> 15) & ((1L << 49) - 1)
    val bandVal = 85L
    def sig(i: Long): Long = (spread(i) << 7) | bandVal
    val base = (0L until 200L).map(i => (i, sig(i)))
    val planted = Seq(
      3001L -> (sig(3000) ^ (0x7L << (3 * 7))), // 3 bits inside band 3 of doc 3000's signature
      3002L -> sig(5),
      3003L -> (sig(10) ^ ((1L << 8) | (1L << 15) | (1L << 22) | (1L << 29) | (1L << 36) | (1L << 43) | (1L << 44))),
      3004L -> (sig(20) ^ ((0xFL << 8) | (0xFL << 22)))
    )
    val all = base ++ Seq(3000L -> sig(3000)) ++ planted
    val sigs = all.toDF("doc_id", "dhash")
    // brute-force reference: exhaustive pairs at hamming <= max
    val ref = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= Multimodal.PhashHammingMax
    } yield (a, b, h.toLong)).toSet
    assert(ref.exists(_._3 == 0L) && ref.exists(_._3 == Multimodal.PhashHammingMax.toLong),
      "plant must cover hamming 0 and the threshold boundary")
    val got = Multimodal
      .dhashPairsFrom(sigs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.toSet.size, s"duplicate emits across cold/hot paths")
    assert(got.toSet == ref, s"refined pair set diverges: missing=${ref -- got.toSet} extra=${got.toSet -- ref}")
    // the decision must actually have fired on this geometry — the
    // routing (not just the cold path) is what this test pins
    val blockCols = (0 until Multimodal.PhashBands).map { i =>
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit(i).as("block_idx"),
        org.apache.spark.sql.functions
          .shiftright(org.apache.spark.sql.functions.col("dhash"), i * Multimodal.PhashBandBits)
          .bitwiseAND((1L << Multimodal.PhashBandBits) - 1)
          .as("bval")
      )
    }
    val blocks = sigs
      .select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("dhash"),
        org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.array(blockCols: _*)).as("b")
      )
      .select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("dhash"),
        org.apache.spark.sql.functions.col("b.block_idx").as("bi"),
        org.apache.spark.sql.functions.col("b.bval").as("bv")
      )
    val refineKeys = Multimodal.dhashRefinePlan(blocks)._2.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(refineKeys.contains((0, bandVal)), s"the planted hot bucket (0, $bandVal) must refine, got ${refineKeys.toSeq}")
  }

  test("c110 wide dhash: truncation family pairs through the full H+V pipeline; hot bucket matches brute force") {
    import spark.implicits._
    // full-pipeline leg: c105's planted truncation family — the wrap
    // perturbs ≤ 3 horizontal and ≤ 3 vertical gradient bits (row-6
    // cells 6..8 and their row-5 vertical neighbors), so the family
    // stays within the combined threshold while unrelated content is
    // far outside on BOTH packs
    val prefix = (0 until 70).map(i => s"t$i")
    val docA = (prefix ++ (70 until 80).map(i => s"a$i")).mkString(" ")
    val docB = prefix.take(60).mkString(" ")
    val docFar = (0 until 80).map(i => s"z$i").mkString(" ")
    val docs = Seq((3L, docA), (6L, docB), (9L, docFar)).toDF("doc_id", "text")
    val sigs = Multimodal.imageDhashWideSignatures(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(ham(sigs(3L), sigs(6L)) > 0 && ham(sigs(3L), sigs(6L)) <= Multimodal.PhashHammingMax,
      s"family combined hamming ${ham(sigs(3L), sigs(6L))} outside (0, ${Multimodal.PhashHammingMax}]")
    assert(ham(sigs(3L), sigs(9L)) > Multimodal.PhashHammingMax, "unrelated payloads too close in H+V")
    // the gate exercises the sfDir entry point; here drive the frame path
    val got = Multimodal.dhashWidePairsFrom(Multimodal.imageDhashWideSignatures(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((3L, 6L, ham(sigs(3L), sigs(6L)).toLong)), s"expected exactly the planted pair, got $got")

    // hot-bucket brute-force parity: 200 signatures sharing the full
    // 14-bit H band 0, other bits spread; planted exact copy, a 3-bit
    // h family, a 7-bit family split across h and v (threshold kept),
    // an 8-bit one (dropped)
    def spread(i: Long, salt: Long): Long = ((i * 0x9E3779B97F4A7C15L + salt) >>> 15)
    val bandVal = 5285L
    def hs(i: Long): Long = ((spread(i, 7) & ((1L << 42) - 1)) << 14) | bandVal
    def vs(i: Long): Long = spread(i, 13) & ((1L << 54) - 1)
    val base = (0L until 200L).map(i => (i, hs(i), vs(i)))
    val planted = Seq(
      (3001L, hs(0) ^ (0x7L << 21), vs(0)),                       // 3 bits in h band 3
      (3002L, hs(5), vs(5)),                                      // exact copy
      (3003L, hs(10) ^ ((1L << 8) | (1L << 22) | (1L << 36)), vs(10) ^ ((1L << 1) | (1L << 13) | (1L << 25) | (1L << 40))), // 3+4 = 7 == max
      (3004L, hs(20) ^ (0xFL << 8), vs(20) ^ (0xFL << 20))        // 8 bits → dropped
    )
    val all = base ++ planted
    val ref = (for {
      (a, ha2, va) <- all; (b, hb2, vb) <- all if a < b
      hm = java.lang.Long.bitCount(ha2 ^ hb2) + java.lang.Long.bitCount(va ^ vb)
      if hm <= Multimodal.PhashHammingMax
    } yield (a, b, hm.toLong)).toSet
    assert(ref.exists(_._3 == 0L) && ref.exists(_._3 == Multimodal.PhashHammingMax.toLong))
    val gotHot = Multimodal.dhashWidePairsFrom(all.toDF("doc_id", "h", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotHot.length == gotHot.toSet.size, "duplicate emits across cold/hot paths")
    assert(gotHot.toSet == ref, s"missing=${ref -- gotHot.toSet} extra=${gotHot.toSet -- ref}")
    // the decision must actually have fired — pin the hot routing
    val bandStructs = Multimodal.WideBandLayout.zipWithIndex.map { case ((s, off, w), i) =>
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit(i).as("band_idx"),
        org.apache.spark.sql.functions
          .shiftright(col(s), off)
          .bitwiseAND((1L << w) - 1)
          .as("bval")
      )
    }
    val blocks = all
      .toDF("doc_id", "h", "v")
      .select(
        col("doc_id"), col("h"), col("v"),
        org.apache.spark.sql.functions
          .explode(org.apache.spark.sql.functions.array(bandStructs: _*))
          .as("b")
      )
      .select(col("doc_id"), col("h"), col("v"), col("b.band_idx").as("bi"), col("b.bval").as("bv"))
    val rk = Multimodal.wideRefinePlan(blocks)._2.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rk.contains((0, bandVal)), s"the planted hot bucket (0, $bandVal) must refine, got ${rk.toSeq}")
  }

  test("c103 exactsubstr: a 60-token repeat is ONE maximal span, not W-window fragments") {
    import spark.implicits._
    val W = TextAnalysis.DupSpanW
    // unique fillers everywhere else, one 60-token block lifted verbatim
    // from doc 1 into the middle of doc 2
    val block = (0 until 60).map(i => s"dup$i")
    val doc1 = ((0 until 20).map(i => s"a$i") ++ block ++ (0 until 20).map(i => s"b$i")).mkString(" ")
    val doc2 = ((0 until 35).map(i => s"c$i") ++ block ++ (0 until 10).map(i => s"d$i")).mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val got = TextAnalysis
      .exactSubstrSpansFrom(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._2))
      .toSeq
    // doc 1: block occupies 1-based tokens 21..80 → span_start 21,
    // span_end 80, len 60, 60-W+1 = 56 consecutive windows.
    // doc 2: tokens 36..95.
    assert(
      got == Seq(
        (1L, 21L, 80L, 60L, (60 - W + 1).toLong),
        (2L, 36L, 95L, 60L, (60 - W + 1).toLong)
      ),
      s"expected one MAXIMAL 60-token span per doc, got $got"
    )
    // adjacent DISTINCT repeats merge into the covered interval (union
    // semantics — what the removal stage cuts), while a gap splits spans
    val doc3 = (block.take(30) ++ Seq("gapx") ++ block.drop(30)).mkString(" ")
    val got3 = TextAnalysis
      .exactSubstrSpansFrom(Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text"))
      .filter(col("doc_id") === 3L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(3)))
      .sortBy(_._1)
      .toSeq
    // doc 3 = first 30 dup tokens, a fresh token, last 30: two spans of
    // 30, split at the gap (windows crossing 'gapx' occur once)
    assert(got3 == Seq((1L, 30L), (32L, 30L)), s"gap must split maximal spans: $got3")
  }

  test("bpe degenerate corpus: pair counts exhaust at k < rounds, segmentation survives (oracle LEFT JOIN semantics)") {
    import spark.implicits._
    // Two single-char words: round 1 merges (a,</w>), round 2 (b,</w>),
    // round 3 finds NO adjacent pair — the loop must stop with the
    // round-2 segmentation intact, exactly what the oracle's
    // LEFT JOIN ON TRUE + COALESCE keeps (an inner/cross join against
    // the empty t3 would collapse seg to zero rows).
    val docs = Seq((1L, "a a b"), (2L, "a")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe_degen").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (merges, seg) = TextAnalysis.bpeTrainUncached(spark, dir, TextAnalysis.BpeTrainRounds)
    assert(merges.length == 2, s"expected exhaustion after 2 merges, got $merges")
    assert(merges(0) == ((1L, "a", TextAnalysis.BpeEndOfWord, 3L)))
    assert(merges(1) == ((2L, "b", TextAnalysis.BpeEndOfWord, 1L)))
    // the surviving segmentation: vocab rows unchanged through the
    // empty rounds — the JVM mirror of the oracle's seg12 == seg2
    val got = seg.collect().map(r => (r.getLong(0), r.getString(1).trim)).toSet
    val eow = TextAnalysis.BpeEndOfWord
    assert(got == Set((3L, s"a$eow"), (1L, s"b$eow")), s"segmentation collapsed or diverged: $got")
    // and the c100 aggregate over it stays non-empty with exact counts
    val segCounts = seg
      .select(explode(split(trim(col("s")), "  ")).as("symbol"), col("cnt"))
      .groupBy(col("symbol"))
      .agg(sum(col("cnt")).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    assert(segCounts == Map(s"a$eow" -> 3L, s"b$eow" -> 1L))
  }

  test("bpe merge tie-break is UTF-8 byte order: non-BMP planted case where UTF-16 order diverges") {
    import spark.implicits._
    // U+E000 encodes as EF 80 80; U+1F600 (non-BMP) as F0 9F 98 80 —
    // UTF-8 byte order puts U+E000 FIRST. Java's compareTo works on
    // UTF-16 code units, where U+E000 (0xE000) sorts AFTER the
    // surrogate pair's 0xD83D — the two orders genuinely diverge here,
    // so a UTF-16 reference would pick the wrong round-1 merge.
    val priv = "\uE000"
    val emoji = new String(Character.toChars(0x1F600))
    assert(priv.compareTo(emoji) > 0, "UTF-16 order: private-use AFTER the surrogate pair")
    val utf8Lt = java.util.Arrays.compareUnsigned(
      priv.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      emoji.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ) < 0
    assert(utf8Lt, "UTF-8 byte order: private-use FIRST")
    // both words appear once → both round-1 candidate pairs tie at
    // n = 1 and the lhs tie-break alone decides the argmax
    val docs = Seq((1L, priv), (2L, emoji)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe_nonbmp").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (merges, _) = TextAnalysis.bpeTrainUncached(spark, dir, TextAnalysis.BpeTrainRounds)
    assert(merges.nonEmpty)
    assert(
      merges.head == ((1L, priv, TextAnalysis.BpeEndOfWord, 1L)),
      s"round-1 argmax must follow UTF-8 binary order (Spark/DuckDB collation), got ${merges.head}"
    )
    // the UTF-16 order would have merged the emoji first — round 2
    // picks it up, confirming both candidates were live
    assert(merges(1) == ((2L, emoji, TextAnalysis.BpeEndOfWord, 1L)))
  }
}
