package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Streaming semantics against the reference topologies, driven through
  * MemoryStream micro-batches so arrival order and out-of-order
  * delivery are controlled exactly like the reference's producer
  * script (ClickstreamJoinExample.clickstream:115-161 sends a page
  * view, impressions, a duplicate, an out-of-order event and a late
  * event).
  */
class StreamingSpec extends SparkSpec {

  test("streaming shuffle partitions follow per-batch volume (the measured store-commit rule)") {
    import graft.core.GraftSession.streamingShufflePartitions
    // the measured round-11 sweet spot: 5k-row batches → 8 partitions
    assert(streamingShufflePartitions(5000, 32) == 8)
    // large batches become cores-bound — the batch default is right there
    assert(streamingShufflePartitions(20000, 32) == 32)
    assert(streamingShufflePartitions(1000000, 32) == 32)
    // tiny batches never drop below 2 (no single-task stateful topology)
    assert(streamingShufflePartitions(1, 32) == 2)
    assert(streamingShufflePartitions(100, 32) == 2)
    // fewer cores clamp from above
    assert(streamingShufflePartitions(20000, 4) == 4)
  }

  test("a started stateful query runs at the streaming shuffle-partition rule's size") {
    import spark.implicits._
    // the conf set at query START is what the state operator runs at
    // (and persists in the checkpoint thereafter) — assert it on a
    // live stateful query via the progress metrics
    implicit val sqlCtx = spark.sqlContext
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", graft.core.GraftSession.streamingShufflePartitions(100, 32).toString)
      val in = MemoryStream[Event]
      in.addData(Event(1L, ts(10), 1L, "view", 1.0))
      val q = StreamingOps
        .windowedCounts(in.toDS().toDF(), "15 minutes", "10 minutes")
        .writeStream
        .format("noop")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(progress.nonEmpty, "no stateful progress recorded")
      val parts = progress.last.stateOperators.head.numShufflePartitions
      assert(parts == 2L, s"state operator ran at $parts shuffle partitions, expected the rule's 2")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("firstWinsDedup drops in-window duplicates, forwards first arrival (DeduplicationExample)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val q = StreamingOps
      .firstWinsDedup(input.toDS(), windowSec = 15)
      .writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()

    // batch 1: key (1, click) twice in the same 15s window + another key
    input.addData(
      Event(1, ts(100), 1, "click", 1.0),
      Event(2, ts(105), 1, "click", 2.0), // duplicate: same window
      Event(3, ts(103), 2, "view", 3.0)
    )
    q.processAllAvailable()
    // batch 2: same key again in-window (drop), and in a NEW window (keep)
    input.addData(
      Event(4, ts(107), 1, "click", 4.0), // still window [90,105): no — [105,120): dup of 2? window = 105
      Event(5, ts(130), 1, "click", 5.0) // window [120,135): new → keep
    )
    q.processAllAvailable()

    val out = spark.table("dedup_out").as[Event].collect().map(_.event_id).toSet
    q.stop()
    // windows of 15s: ev1 @[90,105) kept; ev2 @[105,120) first of its window kept;
    // ev3 kept; ev4 @[105,120) duplicate dropped; ev5 @[120,135) kept
    assert(out == Set(1L, 2L, 3L, 5L))
  }

  test("stateful dedup runs unchanged on the RocksDB state store (GraftSession's default)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the settings are read at query start; scope them here so the
    // rest of the suite keeps the default store
    withStatefulStreamingSettings {
      val input = MemoryStream[Event]
      val q = StreamingOps
        .firstWinsDedup(input.toDS(), windowSec = 15)
        .writeStream
        .format("memory")
        .queryName("dedup_rocksdb_out")
        .outputMode("append")
        .start()
      input.addData(
        Event(1, ts(100), 1, "click", 1.0),
        Event(2, ts(105), 1, "click", 2.0),
        Event(3, ts(103), 2, "view", 3.0)
      )
      q.processAllAvailable()
      input.addData(
        Event(4, ts(107), 1, "click", 4.0), // in-window duplicate of ev2 → dropped
        Event(5, ts(130), 1, "click", 5.0)
      )
      q.processAllAvailable()

      // same output contract as the default-store leg above...
      val out = spark.table("dedup_rocksdb_out").as[Event].collect().map(_.event_id).toSet
      assert(out == Set(1L, 2L, 3L, 5L))
      // ...and proof the state actually lived in RocksDB: the provider
      // publishes rocksdb* custom metrics in the operator progress
      val rocksMetrics = q.recentProgress
        .flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
        .filter(_.startsWith("rocksdb"))
      q.stop()
      assert(rocksMetrics.nonEmpty, "no rocksdb custom metrics in state operator progress")
    }
  }

  test("clickstreamLeftJoin enriches clicks with preceding view, null when absent (ClickstreamJoinExample)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val views = MemoryStream[(Long, Long, Timestamp)]
    val cDf = clicks.toDF().toDF("click_id", "user_id", "click_ts")
    val vDf = views.toDF().toDF("v_id", "v_user", "v_ts")

    val q = StreamingOps
      .clickstreamLeftJoin(cDf, vDf, joinWindowSec = 15)
      .writeStream
      .format("memory")
      .queryName("join_out")
      .outputMode("append")
      .start()

    // view at t=100 for user 1; click at t=110 joins it.
    // click at t=200 for user 2 has no view → must emit with nulls
    // once the watermark passes.
    views.addData((501L, 1L, ts(100)))
    clicks.addData((601L, 1L, ts(110)), (602L, 2L, ts(200)))
    q.processAllAvailable()
    // advance watermark far past 200 so the unmatched click is emitted
    views.addData((502L, 9L, ts(10000)))
    clicks.addData((603L, 9L, ts(10000)))
    q.processAllAvailable()

    val rows = spark
      .table("join_out")
      .select(col("click_id"), col("v_id"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    q.stop()
    assert(rows(601L) == 501L) // matched within window
    assert(rows(602L) == -1L) // left-outer null emission
  }

  test("clickstreamOuterJoin emits unmatched rows of BOTH sides once the watermark closes (outerJoin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val views = MemoryStream[(Long, Long, Timestamp)]
    val cDf = clicks.toDF().toDF("click_id", "user_id", "click_ts")
    val vDf = views.toDF().toDF("v_id", "v_user", "v_ts")

    val q = StreamingOps
      .clickstreamOuterJoin(cDf, vDf, joinWindowSec = 15)
      .writeStream
      .format("memory")
      .queryName("outer_join_out")
      .outputMode("append")
      .start()

    // user 1: view+click pair within window; user 2: click with no
    // view; user 3: view with no click — the full-outer contract needs
    // BOTH orphans emitted with a null opposite side after the
    // watermark proves no match can arrive
    views.addData((501L, 1L, ts(100)), (503L, 3L, ts(150)))
    clicks.addData((601L, 1L, ts(110)), (602L, 2L, ts(200)))
    q.processAllAvailable()
    views.addData((502L, 9L, ts(10000)))
    clicks.addData((603L, 9L, ts(10000)))
    q.processAllAvailable()

    val rows = spark
      .table("outer_join_out")
      .select(col("click_id"), col("v_id"))
      .collect()
      .map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0)) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    q.stop()
    assert(rows.contains((601L, 501L)), s"matched pair missing: $rows")
    assert(rows.contains((602L, -1L)), s"unmatched click not emitted: $rows")
    assert(rows.contains((-1L, 503L)), s"unmatched view not emitted: $rows")
  }

  test("windowedCounts emits closed windows only (append + watermark)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val q = StreamingOps
      .windowedCounts(input.toDF(), "15 seconds", "5 seconds")
      .writeStream
      .format("memory")
      .queryName("wc_out")
      .outputMode("append")
      .start()

    input.addData(
      Event(1, ts(100), 1, "click", 1.0),
      Event(2, ts(101), 2, "click", 2.0),
      Event(3, ts(104), 1, "view", 3.0)
    )
    q.processAllAvailable()
    // nothing emitted yet: watermark (104-5=99) has not passed window end 105
    assert(spark.table("wc_out").count() == 0)

    input.addData(Event(9, ts(200), 3, "view", 1.0)) // watermark → 195, closes [90,105)
    q.processAllAvailable()
    val rows = spark
      .table("wc_out")
      .collect()
      .map(r => (r.getString(1), r.getLong(2)))
      .toMap
    q.stop()
    assert(rows == Map("click" -> 2L, "view" -> 1L))
  }

  test("dropDuplicatesDedup emits an event redelivered inside the watermark once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val q = StreamingOps
      .dropDuplicatesDedup(input.toDS(), "10 seconds")
      .writeStream
      .format("memory")
      .queryName("ddw_out")
      .outputMode("append")
      .start()
    input.addData(Event(1, ts(100), 1, "click", 1.0), Event(2, ts(101), 2, "click", 2.0))
    q.processAllAvailable()
    // event 1 again: the watermark is 101 - 10 = 91, so its key is still held
    input.addData(Event(1, ts(100), 1, "click", 1.0), Event(3, ts(103), 1, "view", 3.0))
    q.processAllAvailable()
    val ids = spark.table("ddw_out").as[Event].collect().map(_.event_id).sorted.toSeq
    q.stop()
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("sessionCounts over an in-order replay of sf0.001 events equals the batch a6 sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = graft.sources.Tables
      .events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event]
      .collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val input = MemoryStream[Event]
    val q = StreamingOps
      .sessionCounts(input.toDF(), "30 minutes", "0 seconds")
      .writeStream
      .format("memory")
      .queryName("sessions_out")
      .outputMode("append")
      .start()
    events.grouped(100).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // an event an hour past the last moves the watermark past every
    // session's end, so the last sessions close too
    input.addData(Event(-1, new Timestamp(events.last.ts.getTime + 3600 * 1000L), -1, "end", 0.0))
    q.processAllAvailable()
    val streamed = spark
      .table("sessions_out")
      .filter($"user_id" =!= -1)
      .select($"user_id", $"session_start", $"n")
      .as[(Long, Timestamp, Long)]
      .collect()
    q.stop()
    val batch = graft.operators.EventStreamOps
      .a6SessionWindow(spark, sf0001)
      .select($"user_id", $"session_start", $"n_events")
      .as[(Long, Timestamp, Long)]
      .collect()
    val (missing, extra) = (batch.toSet.diff(streamed.toSet), streamed.toSet.diff(batch.toSet))
    assert(missing.isEmpty && extra.isEmpty, s"missing=${missing.take(5)} extra=${extra.take(5)}")
    assert(streamed.length == batch.length)
  }

  test("an AvailableNow run of windowedCounts emits the windows its watermark closed, under the stateful streaming settings") {
    // the windows close in the no-data batch after the data batch, so
    // this fails if the settings turn spark.sql.streaming.noDataMicroBatches.enabled off
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = withStatefulStreamingSettings {
      val input = MemoryStream[Event]
      input.addData(Event(1, ts(100), 1, "click", 1.0), Event(2, ts(101), 2, "click", 2.0), Event(3, ts(104), 1, "view", 3.0))
      input.addData(Event(9, ts(200), 3, "view", 1.0))
      val q = StreamingOps
        .windowedCounts(input.toDF(), "15 seconds", "5 seconds")
        .writeStream
        .format("memory")
        .queryName("wc_available_now")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table("wc_available_now").collect().map(r => (r.getString(1), r.getLong(2))).toMap
    }
    // the watermark (200 - 5 = 195) closed [90, 105) and nothing later
    assert(rows == Map("click" -> 2L, "view" -> 1L))
  }

  test("streaming domain quota matches the batch c28 result (stream-batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.sources.Tables
      .documents(spark, sf001)
      .select($"doc_id", $"source", $"n_chars")
      .as[StreamingOps.DocRow]
      .collect()

    val input = MemoryStream[StreamingOps.DocRow]
    val q = StreamingOps
      .streamingDomainQuota(input.toDS(), graft.operators.Sampling.DomainQuota)
      .writeStream
      .format("memory")
      .queryName("quota_out")
      .outputMode("update")
      .start()
    docs.grouped(150).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // redeliver a slice — the state dedup must keep the quota stable
    input.addData(docs.take(50).toSeq)
    q.processAllAvailable()

    val updates = spark.table("quota_out").as[StreamingOps.QuotaUpdate].collect()
    q.stop()
    val streamed = updates
      .groupBy(_.source)
      .map { case (_, us) => us.maxBy(_.seq) }
      .flatMap(u => u.doc_ids.map(id => (u.source, id)))
      .toSet
    val batch = graft.operators.Sampling
      .c28DomainQuota(spark, sf001)
      .collect()
      .map(r => (r.getString(r.fieldIndex("source")), r.getLong(r.fieldIndex("doc_id"))))
      .toSet
    assert(streamed == batch,
      s"quota divergence: missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
  }

  test("streaming heavy hitters: chunked fold equals single-pass MG; guarantee holds per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // skewed synthetic stream, two state keys, capacity far below the
    // vocabulary so decrement epochs actually fire
    val cap = 8
    val rnd = new scala.util.Random(31)
    val occs = (1 to 6000).map { _ =>
      val key = if (rnd.nextBoolean()) "en" else "de"
      val u = rnd.nextDouble()
      val tok =
        if (u < 0.55) s"${key}_hot_${rnd.nextInt(3)}"
        else s"${key}_cold_${rnd.nextInt(800)}"
      StreamingOps.TokenOcc(key, tok)
    }

    val input = MemoryStream[StreamingOps.TokenOcc]
    val q = StreamingOps
      .streamingHeavyHitters(input.toDS(), cap)
      .writeStream
      .format("memory")
      .queryName("hh_out")
      .outputMode("update")
      .start()
    occs.grouped(700).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val updates = spark.table("hh_out").as[StreamingOps.HeavyHittersUpdate].collect()
    q.stop()

    Seq("en", "de").foreach { key =>
      val last = updates.filter(_.key == key).maxBy(_.seq)
      val mine = occs.filter(_.key == key)
      assert(last.total == mine.size.toLong)
      assert(last.tokens.size <= cap)
      // chunked stateful fold ≡ one sequential MG pass over the
      // concatenated stream — exact state equality, not just overlap
      val ref = scala.collection.mutable.HashMap.empty[String, Long]
      mine.foreach(o => graft.functions.MisraGries.updateOne(ref, o.token, cap)(identity))
      assert(last.tokens.zip(last.lower_counts).toMap == ref.toMap)
      // and the MG guarantee: every token above total/(cap+1) is present
      val trueCounts = mine.groupBy(_.token).view.mapValues(_.size.toLong)
      val guaranteed = trueCounts.collect { case (t, c) if c > last.total / (cap + 1) => t }.toSet
      assert(guaranteed.nonEmpty && guaranteed.subsetOf(last.tokens.toSet),
        s"$key missing=${guaranteed -- last.tokens.toSet}")
    }
  }

  test("streaming budget fill matches the batch c30 cut under in-order replay (+ redelivery)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the same scored projection c30 feeds to budgetFill, replayed in
    // the contract order: (q DESC, doc_id) globally gives every
    // language its in-order subsequence
    val scored = graft.operators.TextAnalysis
      .qualityScored(
        graft.sources.Tables
          .documents(spark, sf001)
          .select($"doc_id", $"lang", $"text")
      )
      .select($"doc_id", $"lang", $"n_tokens", $"quality_score".as("q"))
      .as[StreamingOps.BudgetDoc]
      .collect()
      .sortBy(r => (-r.q, r.doc_id))

    val input = MemoryStream[StreamingOps.BudgetDoc]
    val q = StreamingOps
      .streamingBudgetFill(input.toDS(), graft.operators.Sampling.TokenBudgetPerLang)
      .writeStream
      .format("memory")
      .queryName("budget_out")
      .outputMode("update")
      .start()
    val chunks = scored.grouped(120).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
      // redeliver an already-processed slice mid-stream: the floor
      // guard must drop it without double-charging any budget
      if (i == 2) {
        input.addData(chunks(1).toSeq)
        q.processAllAvailable()
      }
    }
    val streamed = spark
      .table("budget_out")
      .as[StreamingOps.BudgetAdmit]
      .collect()
      .map(a => (a.doc_id, a.lang, a.n_tokens, a.cum_tokens))
      .toSet
    q.stop()
    val batch = graft.operators.Sampling
      .c30TokenBudget(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch,
      s"budget divergence: missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
  }

  test("repetition scoring and chunking are stream-applicable (stream-batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .collect()

    val input = MemoryStream[(Long, String)]
    val streamDocs = input.toDS().toDF("doc_id", "text")
    val qRep = graft.operators.TextAnalysis
      .repetitionScored(streamDocs)
      .writeStream.format("memory").queryName("rep_out").outputMode("append").start()
    val qChunk = graft.operators.TextAnalysis
      .chunked(streamDocs)
      .writeStream.format("memory").queryName("chunk_out").outputMode("append").start()
    docs.grouped(20).foreach { chunk =>
      input.addData(chunk.toSeq)
      qRep.processAllAvailable()
      qChunk.processAllAvailable()
    }
    val repStream = spark.table("rep_out").collect().map(_.toSeq).toSet
    val chunkStream = spark.table("chunk_out").collect().map(_.toSeq).toSet
    qRep.stop(); qChunk.stop()
    val repBatch = graft.operators.TextAnalysis.c27DocRepetition(spark, sf0001).collect().map(_.toSeq).toSet
    val chunkBatch = graft.operators.TextAnalysis.c31DocChunking(spark, sf0001).collect().map(_.toSeq).toSet
    assert(repStream == repBatch)
    assert(chunkStream == chunkBatch)
  }

  test("multimodal decode is stream-applicable (stream-batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val media = graft.sources.Tables
      .documents(spark, sf0001)
      .select(
        $"doc_id",
        element_at(array(lit("image"), lit("audio"), lit("video")), ($"doc_id" % 3 + 1).cast("int")).as("fmt"),
        encode($"text", "UTF-8").as("media"),
        length(encode($"text", "UTF-8")).cast("long").as("n_bytes")
      )
      .as[Multimodal.MediaRow]
      .collect()

    val input = MemoryStream[Multimodal.MediaRow]
    val q = Multimodal
      .decodeFeatures(input.toDS())
      .writeStream
      .format("memory")
      .queryName("decode_out")
      .outputMode("append")
      .start()
    media.grouped(120).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("decode_out").collect().map(_.toSeq).toSet
    q.stop()
    val batch = Multimodal.c12MultimodalDecode(spark, sf0001).collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("streaming quota is arrival-order independent (shuffled replay, 2 seeds)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select($"doc_id", $"source", $"n_chars")
      .as[StreamingOps.DocRow]
      .collect()
    val batch = graft.operators.Sampling
      .c28DomainQuota(spark, sf0001)
      .collect()
      .map(r => (r.getString(r.fieldIndex("source")), r.getLong(r.fieldIndex("doc_id"))))
      .toSet
    Seq(7, 42).foreach { seed =>
      val shuffled = new scala.util.Random(seed).shuffle(docs.toSeq)
      val input = MemoryStream[StreamingOps.DocRow]
      val q = StreamingOps
        .streamingDomainQuota(input.toDS(), graft.operators.Sampling.DomainQuota)
        .writeStream
        .format("memory")
        .queryName(s"quota_shuf_$seed")
        .outputMode("update")
        .start()
      shuffled.grouped(37).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark
        .table(s"quota_shuf_$seed")
        .as[StreamingOps.QuotaUpdate]
        .collect()
        .groupBy(_.source)
        .map { case (_, us) => us.maxBy(_.seq) }
        .flatMap(u => u.doc_ids.map(id => (u.source, id)))
        .toSet
      q.stop()
      assert(streamed == batch, s"seed=$seed: arrival order changed the quota")
    }
  }

  test("streaming LSH admission: suspects equal the batch candidate doc_b set under in-order replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, posexplode}

    val bkeys = graft.operators.TextDedup
      .bandKeyFrame(graft.operators.TextDedup.shingleHashes(spark, sf0001))
    val rows = bkeys
      .select(col("doc_id"), posexplode(col("bkeys")).as(Seq("band_idx", "bkey")))
      .as[StreamingOps.BandRow]
      .collect()
      .sortBy(_.doc_id)
    val batchCand = graft.operators.TextDedup
      .lshCandidatePairs(bkeys)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wantSuspects = batchCand.map(_._2).toSet

    val input = MemoryStream[StreamingOps.BandRow]
    val q = StreamingOps
      .streamingLshAdmission(input.toDS())
      .writeStream
      .format("memory")
      .queryName("lsh_adm_out")
      .outputMode("update")
      .start()
    rows.grouped(500).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // redeliver the first docs' probes — owners re-emit their own
    // admission, never a self-collision, so the suspect set is stable
    input.addData(rows.take(100).toSeq)
    q.processAllAvailable()

    val verdicts = spark.table("lsh_adm_out").as[StreamingOps.BandVerdict].collect()
    q.stop()
    val suspects = verdicts.filter(_.dup_of >= 0).map(_.doc_id).toSet
    assert(suspects == wantSuspects,
      s"suspect divergence: missing=${(wantSuspects -- suspects).take(5)} extra=${(suspects -- wantSuspects).take(5)}")
    assert(wantSuspects.nonEmpty, "gate data must actually exercise the collision path")
    // every collision names an owner that is a batch doc_a partner of
    // that suspect (in-order replay → owner is the min-id bucket member)
    val pairSet = batchCand.toSet
    verdicts.filter(_.dup_of >= 0).foreach { v =>
      assert(pairSet.contains((v.dup_of, v.doc_id)), s"verdict $v names a non-candidate owner")
    }
  }

  test("streaming indexed admission: stream suspects equal s20's batch serve cross-pairs on the same batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val every = graft.operators.Sampling.IncrEvery
    // build the persisted index (idempotent per (app, sfDir)); the serve
    // result itself is oracle-gated as s20 — here we need the on-disk
    // artifact the stream loads as its static side
    graft.operators.TextDedup.s20NearDupIndex(spark, sf001).collect()
    val dir = graft.operators.TextDedup.s20IndexDir(spark, sf001)
    val batchKeys = graft.operators.TextDedup
      .bandKeyFrame(
        graft.operators.TextDedup.shingleHashes(spark, sf001).filter(col("doc_id") % every === 0)
      )
    val want = graft.operators.TextDedup
      .indexCrossPairs(batchKeys, spark.read.parquet(s"$dir/bands"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(want.nonEmpty, "gate data must actually exercise the history-collision path")

    val docs = batchKeys.as[StreamingOps.DocBands].collect().sortBy(_.doc_id)
    val input = MemoryStream[StreamingOps.DocBands]
    val q = StreamingOps
      .streamingIndexedAdmission(input.toDS(), dir)
      .writeStream
      .format("memory")
      .queryName("idx_adm_out")
      .outputMode("append")
      .start()
    docs.grouped(10).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // stateless leg: redelivery re-emits the same pairs, never new ones
    input.addData(docs.take(5).toSeq)
    q.processAllAvailable()
    val got = spark.table("idx_adm_out").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(
      got == want,
      s"stream/batch divergence: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}"
    )
  }

  test("streaming LSH admission: single owner per bucket under shuffled replay (2 seeds)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, posexplode}
    val rows = graft.operators.TextDedup
      .bandKeyFrame(graft.operators.TextDedup.shingleHashes(spark, sf0001))
      .select(col("doc_id"), posexplode(col("bkeys")).as(Seq("band_idx", "bkey")))
      .as[StreamingOps.BandRow]
      .collect()
    Seq(7, 42).foreach { seed =>
      val shuffled = new scala.util.Random(seed).shuffle(rows.toSeq)
      val input = MemoryStream[StreamingOps.BandRow]
      val q = StreamingOps
        .streamingLshAdmission(input.toDS())
        .writeStream
        .format("memory")
        .queryName(s"lsh_adm_shuf_$seed")
        .outputMode("update")
        .start()
      shuffled.grouped(700).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val verdicts = spark.table(s"lsh_adm_shuf_$seed").as[StreamingOps.BandVerdict].collect()
      q.stop()
      // whatever the arrival order: exactly one owner per bucket, and
      // every non-owner verdict points at that bucket's owner
      verdicts.groupBy(v => (v.band_idx, v.bkey)).foreach { case (bucket, vs) =>
        val owners = vs.filter(_.dup_of == -1L).map(_.doc_id).distinct
        assert(owners.size == 1, s"bucket $bucket has ${owners.size} owners")
        vs.filter(_.dup_of >= 0).foreach(v => assert(v.dup_of == owners.head, s"bucket $bucket verdict $v"))
      }
    }
  }

  test("streaming weighted sample matches the batch c46 result (stream-batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.operators.Sampling
      .weightedPriorities(spark, sf001)
      .select($"doc_id", $"lang", $"weight", $"priority")
      .as[StreamingOps.WeightedDocRow]
      .collect()

    val input = MemoryStream[StreamingOps.WeightedDocRow]
    val q = StreamingOps
      .streamingWeightedSample(input.toDS(), graft.operators.Sampling.WeightedSampleK)
      .writeStream
      .format("memory")
      .queryName("wsamp_out")
      .outputMode("update")
      .start()
    docs.grouped(150).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // redeliver a slice — the reservoir guard must keep the sample stable
    input.addData(docs.take(50).toSeq)
    q.processAllAvailable()

    val updates = spark.table("wsamp_out").as[StreamingOps.SampleUpdate].collect()
    q.stop()
    val streamed = updates
      .groupBy(_.lang)
      .map { case (_, us) => us.maxBy(_.seq) }
      .flatMap(u => u.doc_ids.zip(u.weights).zip(u.priorities).map { case ((id, w), p) => (u.lang, id, w, p) })
      .toSet
    val batch = graft.operators.Sampling
      .c46WeightedSample(spark, sf001)
      .collect()
      .map(r =>
        (
          r.getString(r.fieldIndex("lang")),
          r.getLong(r.fieldIndex("doc_id")),
          r.getLong(r.fieldIndex("weight")),
          r.getDouble(r.fieldIndex("priority"))
        )
      )
      .toSet
    assert(streamed == batch,
      s"reservoir divergence: missing=${(batch -- streamed).take(5)} extra=${(streamed -- batch).take(5)}")
  }

  test("streaming weighted sample is arrival-order independent (shuffled replay, 2 seeds)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.operators.Sampling
      .weightedPriorities(spark, sf0001)
      .select($"doc_id", $"lang", $"weight", $"priority")
      .as[StreamingOps.WeightedDocRow]
      .collect()
    val batch = graft.operators.Sampling
      .c46WeightedSample(spark, sf0001)
      .collect()
      .map(r => (r.getString(r.fieldIndex("lang")), r.getLong(r.fieldIndex("doc_id"))))
      .toSet
    Seq(7, 42).foreach { seed =>
      val shuffled = new scala.util.Random(seed).shuffle(docs.toSeq)
      val input = MemoryStream[StreamingOps.WeightedDocRow]
      val q = StreamingOps
        .streamingWeightedSample(input.toDS(), graft.operators.Sampling.WeightedSampleK)
        .writeStream
        .format("memory")
        .queryName(s"wsamp_shuf_$seed")
        .outputMode("update")
        .start()
      shuffled.grouped(37).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark
        .table(s"wsamp_shuf_$seed")
        .as[StreamingOps.SampleUpdate]
        .collect()
        .groupBy(_.lang)
        .map { case (_, us) => us.maxBy(_.seq) }
        .flatMap(u => u.doc_ids.map(id => (u.lang, id)))
        .toSet
      q.stop()
      assert(streamed == batch, s"seed=$seed: arrival order changed the sample")
    }
  }

  test("batch and streaming dedup agree on the same input (stream-batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Seq(
      Event(1, ts(10), 1, "a", 0), Event(2, ts(12), 1, "a", 0), Event(3, ts(20), 1, "a", 0),
      Event(4, ts(11), 2, "b", 0), Event(5, ts(14), 2, "b", 0), Event(6, ts(44), 2, "b", 0)
    )
    // batch semantics: first per (user, type, 15s window)
    val batch = events
      .groupBy(e => (e.user_id, e.event_type, e.ts.getTime / 1000 / 15 * 15))
      .map { case (_, es) => es.minBy(e => (e.ts.getTime, e.event_id)).event_id }
      .toSet

    val input = MemoryStream[Event]
    val q = StreamingOps
      .firstWinsDedup(input.toDS(), windowSec = 15)
      .writeStream
      .format("memory")
      .queryName("parity_out")
      .outputMode("append")
      .start()
    input.addData(events: _*)
    q.processAllAvailable()
    val streamed = spark.table("parity_out").as[Event].collect().map(_.event_id).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming curation pipeline matches the batch c20 semantics (stream-batch parity)") {
    import graft.operators.Sampling
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the sf0.001 corpus has no duplicate texts, so inject them: every
    // 7th doc gets an ADJACENT-id copy (lands in the SAME micro-batch —
    // exercises min-of-batch dedup), every 13th a far-id copy (lands
    // BATCHES LATER — exercises the cross-batch seen-state)
    val base = graft.sources.Tables
      .documents(spark, sf0001)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .collect()
    val rows = base
      .flatMap { case (id, text) =>
        Seq((id * 2, text)) ++
          (if (id % 7 == 0) Seq((id * 2 + 1, text)) else Nil) ++
          (if (id % 13 == 0) Seq((100000L + id, text)) else Nil)
      }
      .sortBy(_._1)
    val staticDf = rows.toSeq.toDF("doc_id", "text")
    val batchRows = Sampling
      .curationRows(staticDf)
      .as[(Long, String, Long, Double)]
      .collect()
      .toSet
    assert(batchRows.nonEmpty)

    val input = MemoryStream[(Long, String)]
    val q = Sampling
      .curationStream(input.toDS().toDF("doc_id", "text"))
      .writeStream
      .format("memory")
      .queryName("curation_out")
      .outputMode("append")
      .start()
    rows.grouped(250).foreach { chunk =>
      input.addData(chunk.toSeq: _*)
      q.processAllAvailable()
    }
    val streamed = spark
      .table("curation_out")
      .as[(Long, String, Long, Double)]
      .collect()
      .toSet
    q.stop()

    // row-for-row parity, including bit-identical quality doubles
    assert(streamed == batchRows,
      s"missing=${(batchRows -- streamed).take(3)} extra=${(streamed -- batchRows).take(3)}")
    // and the dedup actually bit: every surviving id is an even original —
    // injected odd/far twins were all swallowed in favor of the min id
    assert(streamed.forall { case (id, _, _, _) => id % 2 == 0 && id < 100000L },
      "a duplicate copy survived the keep-min dedup")
    // the aggregate view (what c20 reports) agrees too
    val aggB = Sampling.curationStats(Sampling.curationRows(staticDf)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val aggS = Sampling.curationStats(spark.table("curation_out")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(aggB == aggS)
  }

  test("stratified sample predicate is stream-applicable (stream-batch parity)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = (0L until 300L).map(i => (i, if (i % 3 == 0) "en" else "de"))
    val batch = docs.toDF("doc_id", "lang")
      .filter(graft.operators.Sampling.stratifiedKeep(col("doc_id"), col("lang")))
      .as[(Long, String)].collect().toSet
    assert(batch.nonEmpty && batch.size < docs.size)

    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "lang")
      .filter(graft.operators.Sampling.stratifiedKeep(col("doc_id"), col("lang")))
      .writeStream.format("memory").queryName("sample_out").outputMode("append").start()
    // two micro-batches — the stateless predicate must not care
    input.addData(docs.take(150): _*)
    q.processAllAvailable()
    input.addData(docs.drop(150): _*)
    q.processAllAvailable()
    val streamed = spark.table("sample_out").as[(Long, String)].collect().toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming funnel: last emissions match batch a9 per-user and in aggregate; order/redelivery-proof") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.Tables
      .events(spark, sf0001)
      .select(
        col("user_id"),
        col("event_type"),
        // epoch micros of the LTZ-cast ts (UTC session: value-preserving)
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("ts_us")
      )
      .as[StreamingOps.FunnelEvent]
      .collect()

    def runReplay(ordered: Seq[StreamingOps.FunnelEvent], name: String) = {
      val input = MemoryStream[StreamingOps.FunnelEvent]
      val q = StreamingOps
        .streamingFunnel(input.toDS())
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
      ordered.grouped(200).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // redeliver a slice: min-merge must make this a no-op on state
      input.addData(ordered.take(100))
      q.processAllAvailable()
      val last = spark
        .table(name)
        .as[StreamingOps.FunnelUpdate]
        .collect()
        .groupBy(_.user_id)
        .map { case (_, us) => us.maxBy(_.seq) }
        .toSeq
      q.stop()
      last
    }

    val inOrder = runReplay(events.sortBy(_.ts_us).toSeq, "funnel_out")
    val shuffled = runReplay(
      events.sortBy(e => e.hashCode.toLong * 2654435761L).toSeq,
      "funnel_out_shuf"
    )
    // per-user verdicts re-derived from the raw events
    val byUser = events.groupBy(_.user_id)
    val want = byUser.map { case (uid, es) =>
      def firstOf(t: String) = es.filter(_.event_type == t).map(_.ts_us).minOption.getOrElse(-1L)
      val (v, c, p) = (firstOf("view"), firstOf("click"), firstOf("purchase"))
      (uid, v, c, p, v >= 0 && c >= 0 && c > v, v >= 0 && c >= 0 && p >= 0 && c > v && p > c)
    }.toSet
    def proj(us: Seq[StreamingOps.FunnelUpdate]) =
      us.map(u => (u.user_id, u.first_view, u.first_click, u.first_purchase, u.view_then_click, u.full_funnel)).toSet
    assert(proj(inOrder) == want)
    assert(proj(shuffled) == want, "funnel state must be arrival-order independent")
    // aggregate parity with the batch a9 gate row
    val a9 = graft.operators.EventStreamOps.a9Funnel(spark, sf0001).collect().head
    assert(inOrder.count(_.first_view >= 0).toLong == a9.getLong(0))
    assert(inOrder.count(_.view_then_click).toLong == a9.getLong(1))
    assert(inOrder.count(_.full_funnel).toLong == a9.getLong(2))
    assert(a9.getLong(2) > 0, "gate data must contain full-funnel users")
  }

  test("streaming decontamination matches the batch c21 result (stream-batch parity)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val every = graft.operators.Sampling.EvalEvery
    // the fixed eval artifact: collected distinct eval shingle hashes
    // (bounded by the eval-sets-are-small contract)
    val evalHashes = graft.operators.TextDedup
      .shingleHashes(spark, sf0001)
      .filter(col("doc_id") % every === 0)
      .select(col("h"))
      .distinct()
      .as[Long]
      .collect()
      .toSeq
    val corpus = graft.sources.Tables
      .documents(spark, sf0001)
      .filter(col("doc_id") % every =!= 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .collect()

    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Sampling
      .decontaminationScored(input.toDS().toDF("doc_id", "text"), evalHashes)
      .writeStream
      .format("memory")
      .queryName("decontam_out")
      .outputMode("append")
      .start()
    corpus.grouped(40).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("decontam_out").collect().map(_.toSeq).toSet
    q.stop()
    val batch = graft.operators.Sampling.c21Decontamination(spark, sf0001).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty, "gate data must contain contaminated docs")
  }

  test("streaming chunk dedup: in-order replay matches the batch survivor rule row-for-row") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val chunks = graft.operators.TextAnalysis
      .chunked(graft.sources.Tables.documents(spark, sf001).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"))
      .as[StreamingOps.ChunkRow]
      .collect()
      .sortBy(r => (r.doc_id, r.chunk_idx))

    val input = MemoryStream[StreamingOps.ChunkRow]
    val q = StreamingOps
      .streamingChunkDedup(input.toDS())
      .writeStream
      .format("memory")
      .queryName("chunk_out")
      .outputMode("update")
      .start()
    chunks.grouped(400).foreach { c =>
      input.addData(c.toSeq)
      q.processAllAvailable()
    }
    // redeliver a slice (canonical holders AND dups) — owners must
    // re-emit their own survival, dups the same canonical, no state drift
    input.addData(chunks.take(60).toSeq)
    q.processAllAvailable()
    val verdicts = spark.table("chunk_out").as[StreamingOps.ChunkVerdict].collect()
    q.stop()

    // every emission for a (doc, idx) must be identical (redelivery-stable)
    val byKey = verdicts.groupBy(v => (v.doc_id, v.chunk_idx))
    byKey.values.foreach(vs => assert(vs.toSet.size == 1, s"verdict drifted: $vs"))
    val last = byKey.view.mapValues(_.head).toMap

    // the batch survivor rule: canonical = lexicographic-min holder
    val canon = chunks
      .groupBy(_.chunk_md5)
      .map { case (h, cs) => h -> cs.map(c => (c.doc_id, c.chunk_idx)).min }
    chunks.foreach { c =>
      val v = last((c.doc_id, c.chunk_idx))
      assert(v.survives == (canon(c.chunk_md5) == ((c.doc_id, c.chunk_idx))), s"$c -> $v")
      assert((v.c_doc, v.c_idx) == canon(c.chunk_md5), s"$c -> $v")
    }

    // and the measurement reconciles with batch c38 per doc
    val streamedDups = last.values
      .groupBy(_.doc_id)
      .view
      .mapValues(vs => (vs.size.toLong, vs.count(!_.survives).toLong))
      .toMap
    val batch = graft.operators.TextAnalysis
      .c38ChunkDedup(spark, sf001)
      .collect()
      .map(r =>
        r.getLong(r.fieldIndex("doc_id")) ->
          ((r.getLong(r.fieldIndex("n_chunks")), r.getLong(r.fieldIndex("n_dup_chunks"))))
      )
      .toMap
    assert(streamedDups == batch)
    assert(chunks.exists(c => canon(c.chunk_md5) != ((c.doc_id, c.chunk_idx))), "gate data must contain dup chunks")
  }

  test("streaming CDC chunk dedup: row-local cdcChunks + the shared chunk-holder state matches batch c102") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the SAME stateful operator as the fixed-grid stream — CDC only
    // changes the row-local chunker upstream, which is the point: the
    // chunk definition is swappable, the dedup state law is shared
    val chunks = graft.operators.TextAnalysis
      .cdcChunks(graft.sources.Tables.documents(spark, sf001).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"))
      .as[StreamingOps.ChunkRow]
      .collect()
      .sortBy(r => (r.doc_id, r.chunk_idx))

    val input = MemoryStream[StreamingOps.ChunkRow]
    val q = StreamingOps
      .streamingChunkDedup(input.toDS())
      .writeStream
      .format("memory")
      .queryName("cdc_chunk_out")
      .outputMode("update")
      .start()
    chunks.grouped(500).foreach { c =>
      input.addData(c.toSeq)
      q.processAllAvailable()
    }
    val verdicts = spark.table("cdc_chunk_out").as[StreamingOps.ChunkVerdict].collect()
    q.stop()
    val last = verdicts.groupBy(v => (v.doc_id, v.chunk_idx)).view.mapValues(_.head).toMap

    // batch c102 reconciliation: per duplicated content hash, the
    // stream's non-survivor count must equal n_occurrences − 1 and the
    // canonical doc must equal keep_doc_id
    val byMd5 = chunks.groupBy(_.chunk_md5)
    val batch = graft.operators.TextAnalysis
      .c102CdcChunkDedup(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3))))
      .toMap
    assert(batch.nonEmpty)
    batch.foreach { case (md5, (occ, keep)) =>
      val cs = byMd5(md5)
      assert(cs.length.toLong == occ)
      val survivors = cs.filter(c => last((c.doc_id, c.chunk_idx)).survives)
      assert(survivors.length == 1 && survivors.head.doc_id == keep, s"$md5: $survivors vs keep=$keep")
    }
    // chunks whose content never duplicates must all survive
    byMd5.filterNot { case (m, _) => batch.contains(m) }.values.flatten.foreach { c =>
      assert(last((c.doc_id, c.chunk_idx)).survives)
    }
  }

  /** Shared harness for the stateless screens: drive a (doc_id, text)
    * transform through a MemoryStream in chunks and return all rows.
    * Stateless transforms need no watermark, no state store, and no
    * output-mode subtlety — parity with batch is the whole contract.
    */
  private def streamStateless(
      rows: Array[(Long, String)],
      name: String
  )(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = transform(input.toDS().toDF("doc_id", "text"))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .start()
    rows.grouped(40).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val out = spark.table(name).collect().map(_.toSeq).toSet
    q.stop()
    out
  }

  test("streaming prefix dedup: families converge to the batch c68 verdicts; redelivery-stable") {
    import org.apache.spark.sql.functions.{array_join, col, md5, slice}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val heads = graft.sources.Tables
      .documents(spark, sf001)
      .select(
        col("doc_id"),
        md5(array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, graft.operators.TextDedup.HeadTokens), " ")).as("head_md5"),
        md5(col("text")).as("full_md5")
      )
      .as[StreamingOps.HeadRow]
      .collect()
      .sortBy(_.doc_id)
    val input = MemoryStream[StreamingOps.HeadRow]
    val q = StreamingOps
      .streamingPrefixDedup(input.toDS())
      .writeStream
      .format("memory")
      .queryName("prefix_out")
      .outputMode("update")
      .start()
    heads.grouped(100).foreach { c =>
      input.addData(c.toSeq)
      q.processAllAvailable()
    }
    val beforeRedelivery = spark.table("prefix_out").as[StreamingOps.HeadFamilyUpdate].collect()
    // redeliver a slice: the set-based fold is idempotent, so verdicts
    // must not drift (counts cannot inflate)
    input.addData(heads.take(50).toSeq)
    q.processAllAvailable()
    val all = spark.table("prefix_out").as[StreamingOps.HeadFamilyUpdate].collect()
    q.stop()
    def lastPerHead(vs: Array[StreamingOps.HeadFamilyUpdate]) =
      vs.zipWithIndex.groupBy(_._1.head_md5).map { case (h, xs) => h -> xs.maxBy(_._2)._1 }
    val last = lastPerHead(all)
    assert(
      lastPerHead(beforeRedelivery).forall { case (h, v) => last(h) == v },
      "redelivery drifted a verdict"
    )
    val streamedFamilies = last.values
      .filter(_.is_family)
      .map(v => v.head_md5 -> ((v.n_docs, v.n_variants, v.keep_doc_id)))
      .toMap
    val batch = graft.operators.TextDedup
      .c68PrefixDedup(spark, sf001)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(streamedFamilies == batch)
    assert(batch.nonEmpty, "gate data must contain truncation families")
  }

  test("streaming PII redaction matches batch c22 row-for-row (stateless screen parity)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // plant live PII (the sf0.001 corpus is clean) so the hit branches
    // stream through the same path as the clean bulk
    val planted = Array(
      (-1L, "contact bob@example.com or call 5551234567 today"),
      (-2L, "account 123456789012 belongs to eve@corp.example.org")
    )
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1))) ++ planted
    val streamed = streamStateless(docs, "pii_out")(graft.operators.Sampling.piiScored)
    val batch = graft.operators.Sampling
      .piiScored(docs.toSeq.toDF("doc_id", "text"))
      .collect()
      .map(_.toSeq)
      .toSet
    assert(streamed == batch)
    assert(batch.exists(r => r(1).asInstanceOf[Long] > 0 && r(2).asInstanceOf[Long] > 0),
      "planted docs must fire both detectors")
  }

  test("streaming variant decode screen matches batch row-for-row, malformed payloads included") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // gate events + planted decode/typing failures — the streaming
    // ingest must classify them identically to the batch screen
    val rows = graft.sources.Tables
      .events(spark, sf0001)
      .select(col("event_type"), col("props"))
      .collect()
      .map(r => (r.getString(0), r.getString(1))) ++ Array(
      ("click", """{broken"""),
      ("click", """{"other": 3}"""),
      ("view", """{"k": "zz"}""")
    )
    val input = MemoryStream[(String, String)]
    val q = graft.operators.Relational
      .variantScreen(input.toDS().toDF("event_type", "props"))
      .writeStream
      .format("memory")
      .queryName("variant_screen_out")
      .outputMode("append")
      .start()
    rows.grouped(500).foreach { c =>
      input.addData(c.toSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("variant_screen_out").collect().map(_.toSeq)
    q.stop()
    val batch = graft.operators.Relational
      .variantScreen(rows.toSeq.toDF("event_type", "props"))
      .collect()
      .map(_.toSeq)
    // multiset parity (duplicate payloads are legitimate rows)
    def bag(xs: Array[Seq[Any]]) = xs.groupBy(identity).view.mapValues(_.length).toMap
    assert(bag(streamed) == bag(batch))
    assert(batch.exists(r => r(1) == false), "planted malformed row must stream through the invalid branch")
  }

  test("streaming gopher signals match batch c66 row-for-row (stateless screen parity)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val streamed = streamStateless(docs, "gopher_out")(graft.operators.TextAnalysis.c66GopherSignalsFrom)
    val batch = graft.operators.TextAnalysis.c66GopherSignals(spark, sf0001).collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("streaming linear quality matches batch c79 row-for-row (stateless screen parity)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def screen(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis
        .linearQualityScored(df)
        .select(col("doc_id"), col("n_tokens"), col("w_sum"), col("qc_score"), col("admit"))
    val streamed = streamStateless(docs, "qc_out")(screen)
    val batch = graft.operators.TextAnalysis
      .c79LinearQuality(spark, sf0001)
      .select(col("doc_id"), col("n_tokens"), col("w_sum"), col("qc_score"), col("admit"))
      .collect()
      .map(_.toSeq)
      .toSet
    assert(streamed == batch)
    assert(batch.exists(_(4).asInstanceOf[Int] == 1) && batch.exists(_(4).asInstanceOf[Int] == 0),
      "gate data must exercise both admit branches")
  }

  test("streaming trained-quality screen matches batch c107 row-for-row (train batch, serve stream)") {
    import org.apache.spark.sql.functions.col
    // the deployment shape: weights trained ONCE in batch (the
    // driver-held artifact), the stream scored row-locally against
    // the broadcast literal — c107's serve path verbatim
    val weights = graft.operators.TextAnalysis.trainedQualityWeightsFor(spark, sf0001)
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def screen(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis
        .trainedQualityScored(df, weights)
        .select(col("doc_id"), col("n_tokens"), col("w_sum"), col("qc_score"), col("admit"))
    val streamed = streamStateless(docs, "tqc_out")(screen)
    val batch = graft.operators.TextAnalysis
      .c107TrainedQuality(spark, sf0001)
      .collect()
      .map(_.toSeq)
      .toSet
    assert(streamed == batch)
    assert(batch.exists(_(4).asInstanceOf[Int] == 1) && batch.exists(_(4).asInstanceOf[Int] == 0),
      "gate data must exercise both admit branches")
  }

  test("streaming as-of: late older views never regress state; redelivered clicks re-emit identically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.AsofIn]
    val q = StreamingOps
      .streamingAsofEnrich(input.toDS(), toleranceMs = 600000L)
      .writeStream
      .format("memory")
      .queryName("asof_sem_out")
      .outputMode("append")
      .start()
    def in(id: Long, sec: Long, tpe: String) = StreamingOps.AsofIn(id, ts(sec), 7L, tpe)
    // two views then a click: the click binds to the NEWEST view by event time
    input.addData(in(1, 100, "view"), in(2, 300, "view"))
    q.processAllAvailable()
    input.addData(in(10, 400, "click"))
    q.processAllAvailable()
    // a LATE view with an OLDER event time arrives: state must not regress
    input.addData(in(3, 200, "view"))
    q.processAllAvailable()
    input.addData(in(11, 500, "click"))
    q.processAllAvailable()
    // at-least-once: the first click is redelivered — same enrichment again
    input.addData(in(10, 400, "click"))
    q.processAllAvailable()
    val out = spark.table("asof_sem_out").as[StreamingOps.AsofOut].collect().sortBy(_.ts.getTime)
    q.stop()
    assert(out.map(o => (o.click_id, o.view_id)).toSeq == Seq((10L, Some(2L)), (10L, Some(2L)), (11L, Some(2L))).sortBy(_._1))
    assert(out.forall(_.view_ts.contains(ts(300))), "late older view must never displace the newer one")
  }

  test("streaming semantic decontam matches batch c82 row-for-row (stateless screen parity)") {
    import org.apache.spark.sql.functions.{col, transform => atransform}
    import graft.plans.ArrayNormalize.arrayNormalize
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evals = graft.operators.VectorOps.collectEvalVecs(spark, sf0001)
    val corpus = graft.sources.Tables
      .embeddings(spark, sf0001)
      .filter(col("vec_id") >= graft.operators.VectorOps.NumQueryVecs)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = graft.operators.VectorOps
      .semanticDecontamScreen(evals)(
        input
          .toDS()
          .select(
            col("_1").as("vec_id"),
            arrayNormalize(atransform(col("_2"), _.cast("double"))).as("vn")
          )
      )
      .writeStream
      .format("memory")
      .queryName("semdecontam_out")
      .outputMode("append")
      .start()
    corpus.grouped(100).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("semdecontam_out").collect().map(_.toSeq).toSet
    q.stop()
    val batch = graft.operators.VectorOps.c82SemanticDecontam(spark, sf0001).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming epoch mix matches batch c42 row-for-row (stateless upsampling parity)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables
      .documents(spark, sf0001)
      .select(col("doc_id"), col("lang"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Sampling
      .epochCopies(input.toDS().toDF("doc_id", "lang"))
      .writeStream
      .format("memory")
      .queryName("epoch_out")
      .outputMode("append")
      .start()
    docs.grouped(40).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("epoch_out").collect().map(_.toSeq).toSet
    q.stop()
    val batch = graft.operators.Sampling.c42EpochMix(spark, sf0001).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.exists(_(2).asInstanceOf[Long] > 0), "gate data must contain multi-copy docs")
  }

  test("streaming as-of enrich matches batch a13 row-for-row under in-order replay; view redelivery idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.Tables
      .events(spark, sf0001)
      .filter(col("event_type").isin("view", "click"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[StreamingOps.AsofIn]
      .collect()
      // in-order replay: event time, views before clicks at equal times
      .sortBy(e => (e.ts.getTime, if (e.event_type == "view") 0 else 1, e.event_id))
    val input = MemoryStream[StreamingOps.AsofIn]
    val q = StreamingOps
      .streamingAsofEnrich(input.toDS(), toleranceMs = 600000L)
      .writeStream
      .format("memory")
      .queryName("asof_out")
      .outputMode("append")
      .start()
    events.grouped(200).foreach { chunk =>
      input.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val beforeRedelivery = spark.table("asof_out").count()
    // redeliver a prefix of the VIEWS: the max-(ts, id) state fold is
    // idempotent, so no new emissions and no state corruption
    input.addData(events.filter(_.event_type == "view").take(50).toSeq)
    q.processAllAvailable()
    val streamed = spark.table("asof_out")
      .as[StreamingOps.AsofOut]
      .collect()
    q.stop()
    assert(streamed.length == beforeRedelivery, "redelivered views must not re-emit")
    val streamedMap = streamed.map(o => o.click_id -> ((o.view_id, o.view_ts.map(_.getTime)))).toMap
    val batch = graft.operators.EventStreamOps
      .a13AsofJoin(spark, sf0001)
      .collect()
      .map { r =>
        val vid = if (r.isNullAt(r.fieldIndex("right_view_id"))) None else Some(r.getLong(r.fieldIndex("right_view_id")))
        val vts =
          if (r.isNullAt(r.fieldIndex("right_vts"))) None
          else Some(r.getTimestamp(r.fieldIndex("right_vts")).getTime)
        r.getLong(r.fieldIndex("click_id")) -> ((vid, vts))
      }
      .toMap
    assert(streamedMap == batch)
    assert(batch.exists(_._2._1.isDefined), "gate data must contain matched clicks")
    assert(batch.exists(_._2._1.isEmpty), "gate data must contain unmatched clicks")
  }

  test("interval-join state is bounded by window x rate, not stream length (retention contract, metrics level)") {
    // the reference's retention contract
    // (DeduplicationExample.scala:126-142: store retention = window
    // span, not topic length) proven at the METRICS level for both
    // stream-stream joins: replay hours of event time at constant rate
    // and assert the state operator's row count PLATEAUS at
    // ~(watermark + join window) x rate while total ingest keeps
    // growing — the difference between state ∝ stream length (leaks,
    // dies at 100 TB replay) and state ∝ retention horizon. The joins
    // keep one state row per user, so this row count is the users with
    // rows in retention; IntervalJoinSpec bounds the rows each user holds.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def run(outer: Boolean): (Seq[Long], Long) = {
      val clicks = MemoryStream[(Long, Long, Timestamp)]
      val views = MemoryStream[(Long, Long, Timestamp)]
      val cDf = clicks.toDF().toDF("click_id", "user_id", "click_ts")
      val vDf = views.toDF().toDF("v_id", "v_user", "v_ts")
      val join =
        if (outer) StreamingOps.clickstreamOuterJoin(cDf, vDf, joinWindowSec = 60)
        else StreamingOps.clickstreamLeftJoin(cDf, vDf, joinWindowSec = 60)
      val name = if (outer) "state_bound_outer" else "state_bound_left"
      val q = join.writeStream.format("memory").queryName(name).outputMode("append").start()
      // 40 steps of 60 s event time, 10 clicks + 10 views per step —
      // 40 min of stream against a 10 min watermark + 60 s window
      val stateByStep = (0 until 40).map { step =>
        val base = step * 60L
        views.addData((0 until 10).map(i => (step * 100L + i, i.toLong, ts(base + i * 3))): _*)
        clicks.addData((0 until 10).map(i => (step * 100L + 50 + i, i.toLong, ts(base + 30 + i * 3))): _*)
        q.processAllAvailable()
        Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)).sum
      }
      q.stop()
      (stateByStep, 40L * 20L)
    }

    for (outer <- Seq(false, true)) {
      val (state, ingested) = run(outer)
      val label = if (outer) "outer" else "left"
      // warm-up: state grows until the watermark horizon fills
      // (~11 min = 11 steps); after that it must plateau
      val warm = state.drop(15)
      val peak = warm.max
      // retention bound: (10 min watermark + 60 s window + watermark
      // lag of one step) x 20 rows/step ≈ 260 rows; 2x slop for
      // eviction granularity — NOT a function of the 800 ingested
      val bound = 2L * 13L * 20L
      assert(peak <= bound, s"$label join state peak $peak exceeds retention bound $bound (ingested $ingested)")
      // anti-leak: doubling the replayed stream must not grow state —
      // the last quarter's max is no higher than the plateau's start
      val plateau = warm.take(5).max
      assert(warm.takeRight(5).max <= plateau * 3 / 2,
        s"$label join state still growing at end of replay: ${warm.mkString(",")}")
      assert(peak < ingested / 2, s"$label join state ∝ stream length ($peak of $ingested rows)")
    }
  }
}
