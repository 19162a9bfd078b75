package graft.streaming

import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.streaming.StreamingOps.Event

/** Runnable streaming entry point: replays the events table as a file
  * stream (the container stand-in for the Kafka topic — swap in
  * [[KafkaIO.source]] on a real cluster) and runs the reference
  * topologies incrementally: windowed first-wins dedup and windowed
  * counts. Prints one summary line per topology.
  *
  * Usage: runMain graft.streaming.StreamingDemo [sfDir]
  */
object StreamingDemo {

  /** The deployment partition rule applied to the demo's replay shape:
    * AvailableNow over one file = ONE micro-batch of the whole table,
    * so rowsPerBatch is the table row count; SPARK_GRAFT_STREAM_
    * PARTITIONS overrides for reproducing the cores-sized worst case
    * BASELINE.md records. Factored so StreamingSpec can assert the
    * sizing (and the override) without running the demo.
    */
  def demoShufflePartitions(rowsPerBatch: Long, cores: Int, env: Map[String, String] = sys.env): Int =
    env
      .get("SPARK_GRAFT_STREAM_PARTITIONS")
      .map(_.toInt)
      .getOrElse(GraftSession.streamingShufflePartitions(rowsPerBatch, cores))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.getOrCreate()
    import spark.implicits._

    // the round-11 deployment rule, exercised on the file-stream path:
    // streaming shuffle partitions follow per-batch volume, not cores
    // (state stores commit once per partition per batch — see
    // GraftSession.streamingShufflePartitions). The demo's batch
    // parity reads run at this size too — at demo scale that is the
    // right size for them as well.
    val replayRows = graft.sources.Tables.events(spark, sfDir).count()
    val streamParts = demoShufflePartitions(replayRows, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", streamParts.toString)

    // file-stream source over the parquet table (ts is TIMESTAMP(MICROS),
    // surfaced NTZ; the UTC session makes the LTZ cast value-preserving —
    // same adaptation as Tables.events)
    val raw = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val events = raw
      .select(
        col("event_id"),
        expr("cast(ts as timestamp)").as("ts"),
        col("user_id"),
        col("event_type"),
        col("value")
      )
      .as[Event]

    val dedup = StreamingOps
      .firstWinsDedup(events, windowSec = 900)
      .writeStream
      .format("memory")
      .queryName("demo_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    dedup.awaitTermination()

    val counts = StreamingOps
      .windowedCounts(events.toDF(), "15 minutes", "10 minutes")
      .writeStream
      .format("memory")
      .queryName("demo_counts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    counts.awaitTermination()

    // as-of enrich: every click keyed to its latest at-or-before view
    // (O(1) state per user — the online a13)
    val asof = StreamingOps
      .streamingAsofEnrich(
        events
          .filter(col("event_type").isin("view", "click"))
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
          .as[StreamingOps.AsofIn],
        toleranceMs = 600000L
      )
      .writeStream
      .format("memory")
      .queryName("demo_asof")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    asof.awaitTermination()

    // Processor-API topology: stateful join+dedup per user key
    // (join window widened to 10 min for the synthetic event density)
    // the wrapper must span AWAIT, not just start(): the chained-
    // stateful correctness check runs lazily on the stream-execution
    // thread, and a wrapper that restores the conf right after
    // start() returns races it (measured: the demo lost that race)
    ProcessorApiJoin.withChainedStatefulAllowed(spark) {
      val papi = ProcessorApiJoin(events, joinWindowSec = 600, dedupWindowSec = 60)
        .writeStream
        .format("memory")
        .queryName("demo_papi")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      papi.awaitTermination()
    }

    // incremental funnel over the replayed events: per-user min-merge
    // state, last emissions folded to the a9 aggregate — parity is
    // exact because min-merge is arrival-order independent
    val funnel = StreamingOps
      .streamingFunnel(
        events
          .toDF()
          .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("ts_us"))
          .as[StreamingOps.FunnelEvent]
      )
      .writeStream
      .format("memory")
      .queryName("demo_funnel")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    funnel.awaitTermination()
    val lastFunnel = spark
      .table("demo_funnel")
      .as[StreamingOps.FunnelUpdate]
      .collect()
      .groupBy(_.user_id)
      .map { case (_, us) => us.maxBy(_.seq) }
    val a9Row = graft.operators.EventStreamOps.a9Funnel(spark, sfDir).collect().head
    require(
      lastFunnel.count(_.first_view >= 0).toLong == a9Row.getLong(0) &&
        lastFunnel.count(_.view_then_click).toLong == a9Row.getLong(1) &&
        lastFunnel.count(_.full_funnel).toLong == a9Row.getLong(2),
      "stream-batch funnel divergence"
    )

    // curation pipeline as a stream: quality filter → keep-min dedup →
    // stratified sample over the documents table replayed as files —
    // the same predicates c20 runs in batch (StreamingSpec asserts
    // row-for-row parity)
    val docStream = spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id"), col("text"))
    val curation = graft.operators.Sampling
      .curationStream(docStream)
      .writeStream
      .format("memory")
      .queryName("demo_curation")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    curation.awaitTermination()
    val nCurated = spark.table("demo_curation").count()
    val nCuratedBatch = graft.operators.Sampling
      .curationRows(graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .count()
    require(nCurated == nCuratedBatch, s"stream-batch curation divergence: $nCurated vs $nCuratedBatch")

    // incremental per-domain quota over the same replayed documents;
    // each key's last emission must equal the batch c28 quota
    val quotaStream = spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .as[StreamingOps.DocRow]
    val quota = StreamingOps
      .streamingDomainQuota(quotaStream, graft.operators.Sampling.DomainQuota)
      .writeStream
      .format("memory")
      .queryName("demo_quota")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    quota.awaitTermination()
    val lastPerSource = spark
      .table("demo_quota")
      .as[StreamingOps.QuotaUpdate]
      .collect()
      .groupBy(_.source)
      .map { case (_, us) => us.maxBy(_.seq) }
    val nQuota = lastPerSource.map(_.doc_ids.size).sum
    val nQuotaBatch = graft.operators.Sampling.c28DomainQuota(spark, sfDir).count()
    require(nQuota.toLong == nQuotaBatch, s"stream-batch quota divergence: $nQuota vs $nQuotaBatch")

    // stateless decontamination screening over the replayed corpus:
    // the eval shingle set is a fixed batch-collected artifact, each
    // arriving doc scores row-locally — emissions must equal the batch
    // c21 rows exactly (order-free: the transform is stateless)
    val evalHashes = graft.operators.TextDedup
      .shingleHashes(spark, sfDir)
      .filter(col("doc_id") % graft.operators.Sampling.EvalEvery === 0)
      .select(col("h"))
      .distinct()
      .as[Long]
      .collect()
      .toSeq
    val decontamStream = spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") % graft.operators.Sampling.EvalEvery =!= 0)
      .select(col("doc_id"), col("text"))
    val decontam = graft.operators.Sampling
      .decontaminationScored(decontamStream, evalHashes)
      .writeStream
      .format("memory")
      .queryName("demo_decontam")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    decontam.awaitTermination()
    val decontamStreamed = spark.table("demo_decontam").collect().map(_.toSeq).toSet
    val decontamBatch =
      graft.operators.Sampling.c21Decontamination(spark, sfDir).collect().map(_.toSeq).toSet
    require(
      decontamStreamed == decontamBatch,
      s"stream-batch decontamination divergence: ${decontamStreamed.size} vs ${decontamBatch.size}"
    )

    // incremental token-budget fill over the replayed documents. A file
    // stream arrives in file order, not the (q DESC, doc_id) replay
    // contract that gives batch parity (StreamingSpec covers that), so
    // the demo asserts the budget INVARIANT: per-language admitted
    // tokens never exceed the budget, and something was admitted
    val budgetStream = graft.operators.TextAnalysis
      .qualityScored(
        spark.readStream
          .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
          .select(col("doc_id"), col("lang"), col("text"))
      )
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score").as("q"))
      .as[StreamingOps.BudgetDoc]
    val budget = StreamingOps
      .streamingBudgetFill(budgetStream, graft.operators.Sampling.TokenBudgetPerLang)
      .writeStream
      .format("memory")
      .queryName("demo_budget")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    budget.awaitTermination()
    val admits = spark.table("demo_budget").as[StreamingOps.BudgetAdmit].collect()
    val nBudget = admits.length
    require(nBudget > 0, "budget fill admitted nothing")
    admits.groupBy(_.lang).foreach { case (lang, as) =>
      val tok = as.map(_.n_tokens).sum
      require(tok <= graft.operators.Sampling.TokenBudgetPerLang,
        s"budget overrun for $lang: $tok")
    }

    // streaming weighted reservoir over the replayed documents: the
    // priority columns are row-local (weightedPrioritiesFrom), the
    // reservoir fold is order-independent for a fixed input set, so
    // each lang's last emission must equal the batch c46 sample exactly
    val wsampStream = graft.operators.Sampling
      .weightedPrioritiesFrom(
        spark.readStream
          .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
          .select(col("doc_id"), col("lang"), col("text"))
      )
      .select(col("doc_id"), col("lang"), col("weight"), col("priority"))
      .as[StreamingOps.WeightedDocRow]
    val wsamp = StreamingOps
      .streamingWeightedSample(wsampStream, graft.operators.Sampling.WeightedSampleK)
      .writeStream
      .format("memory")
      .queryName("demo_wsamp")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    wsamp.awaitTermination()
    val wsampStreamed = spark
      .table("demo_wsamp")
      .as[StreamingOps.SampleUpdate]
      .collect()
      .groupBy(_.lang)
      .map { case (_, us) => us.maxBy(_.seq) }
      .flatMap(u => u.doc_ids.map(id => (u.lang, id)))
      .toSet
    val wsampBatch = graft.operators.Sampling
      .c46WeightedSample(spark, sfDir)
      .select(col("lang"), col("doc_id"))
      .as[(String, Long)]
      .collect()
      .toSet
    val nWsamp = wsampStreamed.size
    require(wsampStreamed == wsampBatch,
      s"stream-batch reservoir divergence: ${(wsampBatch -- wsampStreamed).take(3)}")

    // streaming near-dup admission: band keys computed in batch (the
    // operator's input contract — signatures are an upstream concern),
    // replayed as a stream; the suspect set must equal the batch LSH
    // candidate doc_b set (single-file replay folds in doc_id order)
    val bkeysDir = java.nio.file.Files.createTempDirectory("graft_demo_bkeys").toString
    graft.operators.TextDedup
      .bandKeyFrame(graft.operators.TextDedup.shingleHashes(spark, sfDir))
      .select(col("doc_id"), posexplode(col("bkeys")).as(Seq("band_idx", "bkey")))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(bkeysDir)
    val admStream = spark.readStream
      .schema("doc_id BIGINT, band_idx INT, bkey BIGINT")
      .parquet(bkeysDir)
      .as[StreamingOps.BandRow]
    val adm = StreamingOps
      .streamingLshAdmission(admStream)
      .writeStream
      .format("memory")
      .queryName("demo_lsh_adm")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    adm.awaitTermination()
    val suspects = spark
      .table("demo_lsh_adm")
      .as[StreamingOps.BandVerdict]
      .collect()
      .filter(_.dup_of >= 0)
      .map(_.doc_id)
      .toSet
    val batchSuspects = graft.operators.TextDedup
      .lshCandidatePairs(
        graft.operators.TextDedup.bandKeyFrame(graft.operators.TextDedup.shingleHashes(spark, sfDir))
      )
      .select(col("doc_b"))
      .as[Long]
      .collect()
      .toSet
    val nSuspects = suspects.size
    require(suspects == batchSuspects,
      s"stream-batch admission divergence: ${(batchSuspects -- suspects).take(3)}")

    // streaming chunk-level dedup: the chunk grid is a row-local
    // transform computed in batch (shared definition), replayed as a
    // stream; the surviving (doc, idx) set must equal the batch
    // lexicographic-min canonical set (single-file replay folds in
    // (doc, idx) order inside the one group batch)
    val chunksDir = java.nio.file.Files.createTempDirectory("graft_demo_chunks").toString
    graft.operators.TextAnalysis
      .chunked(graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(chunksDir)
    val chunkStream = spark.readStream
      .schema("doc_id BIGINT, chunk_idx BIGINT, chunk_md5 STRING")
      .parquet(chunksDir)
      .as[StreamingOps.ChunkRow]
    val cdq = StreamingOps
      .streamingChunkDedup(chunkStream)
      .writeStream
      .format("memory")
      .queryName("demo_chunk_dedup")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    cdq.awaitTermination()
    val chunkSurvivors = spark
      .table("demo_chunk_dedup")
      .as[StreamingOps.ChunkVerdict]
      .collect()
      .filter(_.survives)
      .map(v => (v.doc_id, v.chunk_idx))
      .toSet
    val batchSurvivors = spark
      .read
      .parquet(chunksDir)
      .groupBy(col("chunk_md5"))
      .agg(org.apache.spark.sql.functions.min(struct(col("doc_id"), col("chunk_idx"))).as("c"))
      .select(col("c.doc_id"), col("c.chunk_idx"))
      .as[(Long, Long)]
      .collect()
      .toSet
    val nChunkSurv = chunkSurvivors.size
    require(chunkSurvivors == batchSurvivors,
      s"stream-batch chunk-dedup divergence: ${(batchSurvivors -- chunkSurvivors).take(3)}")

    // stateless PII screen over the replayed corpus — row-local
    // regexp counting + redaction fingerprints, so the emissions must
    // equal batch c22 exactly regardless of arrival order
    val piiQ = graft.operators.Sampling
      .piiScored(
        spark.readStream
          .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
          .select(col("doc_id"), col("text"))
      )
      .writeStream
      .format("memory")
      .queryName("demo_pii")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    piiQ.awaitTermination()
    val piiStreamed = spark.table("demo_pii").collect().map(_.toSeq).toSet
    val piiBatch = graft.operators.Sampling.c22PiiRedact(spark, sfDir).collect().map(_.toSeq).toSet
    require(piiStreamed == piiBatch,
      s"stream-batch PII divergence: ${piiStreamed.size} vs ${piiBatch.size}")
    val nPiiHits = spark
      .table("demo_pii")
      .filter(col("n_emails") > 0 || col("n_digit_runs") > 0)
      .count()

    // stateless epoch-mix upsampling over the replayed corpus — the
    // copy fan-out is a row-local when-chain + Generate, so the emitted
    // copy set must equal batch c42 exactly
    val epochQ = graft.operators.Sampling
      .epochCopies(
        spark.readStream
          .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .option("pathGlobFilter", "documents.parquet")
          .parquet(sfDir)
          .select(col("doc_id"), col("lang"))
      )
      .writeStream
      .format("memory")
      .queryName("demo_epoch")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    epochQ.awaitTermination()
    val epochStreamed = spark.table("demo_epoch").collect().map(_.toSeq).toSet
    val epochBatch = graft.operators.Sampling.c42EpochMix(spark, sfDir).collect().map(_.toSeq).toSet
    require(epochStreamed == epochBatch,
      s"stream-batch epoch-mix divergence: ${epochStreamed.size} vs ${epochBatch.size}")
    val nEpochCopies = epochStreamed.size

    // streaming MERGE INTO: the replayed documents upsert into a
    // versioned table keyed on doc_id (seq = doc_id — one batch here;
    // StreamingSinkSpec drives the multi-batch fold + restart legs);
    // the committed version must hold exactly one row per key
    val upsertTableDir = java.nio.file.Files.createTempDirectory("graft_demo_upsert").toString
    val upsertCkpt = java.nio.file.Files.createTempDirectory("graft_demo_upsert_ckpt").toString
    val upsertStream = spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .select(col("doc_id"), col("doc_id").as("seq"), col("source"), col("n_chars"))
    StreamingSink
      .upsertParquet(upsertStream, Seq("doc_id"), "seq", upsertTableDir, upsertCkpt)
      .start()
      .awaitTermination()
    val nUpsert = StreamingSink.upsertTable(spark, upsertTableDir).count()
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    require(nUpsert == nDocs, s"upsert table lost rows: $nUpsert vs $nDocs")

    // exactly-once parquet sink for the deduped stream
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_demo_sink").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_demo_ckpt").toString
    val sink = StreamingSink
      .idempotentParquet(
        StreamingOps.firstWinsDedup(events, windowSec = 900).toDF(),
        sinkDir,
        ckptDir
      )
      .start()
    sink.awaitTermination()
    val nSunk = spark.read.parquet(sinkDir).count()

    val nDedup = spark.table("demo_dedup").count()
    val nWindows = spark.table("demo_counts").count()
    val nAsof = spark.table("demo_asof").count()
    val nAsofMatched = spark.table("demo_asof").filter("view_id IS NOT NULL").count()
    val nClicks = spark.table("demo_papi").count()
    val nJoined = spark.table("demo_papi").filter("view_id IS NOT NULL").count()
    val total = replayRows
    println(
      s"""{"streaming_demo":{"stream_partitions":$streamParts,"input_events":$total,"deduped_kept":$nDedup,"closed_windows":$nWindows,"asof_clicks":$nAsof,"asof_with_view":$nAsofMatched,"enriched_clicks":$nClicks,"clicks_with_view":$nJoined,"funnel_users":${lastFunnel.size},"full_funnels":${lastFunnel.count(_.full_funnel)},"curated_docs":$nCurated,"contaminated_docs":${decontamStreamed.size},"quota_docs":$nQuota,"budget_admits":$nBudget,"reservoir_docs":$nWsamp,"neardup_suspects":$nSuspects,"chunk_survivors":$nChunkSurv,"pii_hit_docs":$nPiiHits,"epoch_copies":$nEpochCopies,"upsert_rows":$nUpsert,"sink_rows":$nSunk}}"""
    )
    spark.stop()
  }
}
