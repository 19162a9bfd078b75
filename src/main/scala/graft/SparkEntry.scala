package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{EventStreamOps, Multimodal, Relational, Sampling, ScaleJoins, TextAnalysis, TextDedup, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    // the flagship composition: quality gate → keep-min dedup (native
    // k=1 prune) → domain quota (native TopKPerKey) → token budget
    Sampling.c32CurationE2e(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_dedup_windowed" -> (EventStreamOps.a1DedupWindowed _),
    "a2_clickstream_join" -> (EventStreamOps.a2ClickstreamJoin _),
    "a11_pv_equi_join" -> (EventStreamOps.a11PvEquiJoin _),
    "a12_range_join" -> ((s, d) => EventStreamOps.a12RangeJoin(s, d)),
    "a13_asof_join" -> (EventStreamOps.a13AsofJoin _),
    "a14_outer_join" -> (EventStreamOps.a14OuterJoin _),
    "a3_selectkey_repartition" -> (EventStreamOps.a3SelectKeyRepartition _),
    "a4_windowed_reduce" -> (EventStreamOps.a4WindowedReduce _),
    "a5_hopping_window" -> (EventStreamOps.a5HoppingWindow _),
    "a6_session_window" -> (EventStreamOps.a6SessionWindow _),
    "a7_stream_enrich_dim" -> (EventStreamOps.a7StreamEnrichDim _),
    "a8_event_time_stats" -> (EventStreamOps.a8EventTimeStats _),
    "a9_funnel" -> (EventStreamOps.a9Funnel _),
    "a10_cohort" -> (EventStreamOps.a10Cohort _),
    "c14_tfidf" -> (TextAnalysis.c14TfIdf _),
    "c15_bigram_lm" -> (TextAnalysis.c15BigramLmScore _),
    "c16_dedup_clusters" -> (TextAnalysis.c16DedupClusters _),
    "c51_cluster_sizes" -> (TextAnalysis.c51ClusterSizes _),
    "c52_corpus_split" -> (Sampling.c52CorpusSplit _),
    "c53_boilerplate" -> (TextAnalysis.c53Boilerplate _),
    "c54_ann_filtered" -> (VectorOps.c54AnnFiltered _),
    "b1_agg_pricing" -> (Relational.b1AggPricing _),
    "b2_join_topn" -> (Relational.b2JoinTopn _),
    "b3_multi_join" -> (Relational.b3MultiJoin _),
    "b4_semi_anti_join" -> (Relational.b4SemiAntiJoin _),
    "b5_window_rank" -> (Relational.b5WindowRank _),
    "b6_rollup" -> (Relational.b6Rollup _),
    "b7_pivot" -> (Relational.b7Pivot _),
    "b8_set_ops" -> (Relational.b8SetOps _),
    "b9_percentiles" -> (Relational.b9Percentiles _),
    "b10_string_date" -> (Relational.b10StringDate _),
    "b11_scalar_subquery" -> (Relational.b11ScalarSubquery _),
    "b12_approx_sketch" -> (Relational.b12ApproxSketch _),
    "b16_promo_revenue" -> (Relational.b16PromoRevenue _),
    "b17_topk_native" -> (Relational.b17TopkNative _),
    "b18_custdist" -> (Relational.b18Custdist _),
    "b14_cube" -> (Relational.b14Cube _),
    "b15_running_sum" -> (Relational.b15RunningSum _),
    "b20_rolling_window" -> (Relational.b20RollingWindow _),
    "b21_rank_ties" -> (Relational.b21RankTies _),
    "b51_dense_topk" -> (Relational.b51DenseTopk _),
    "b22_order_gaps" -> (Relational.b22OrderGaps _),
    "b23_sql_q21" -> (GraftSql.b23SqlQ21 _),
    "b24_sql_q22" -> (GraftSql.b24SqlQ22 _),
    "b26_sql_q18" -> (GraftSql.b26SqlQ18 _),
    "b27_sql_q15" -> (GraftSql.b27SqlQ15 _),
    "b28_sql_q7" -> (GraftSql.b28SqlQ7 _),
    "b29_sql_q10" -> (GraftSql.b29SqlQ10 _),
    "b30_sql_q12" -> (GraftSql.b30SqlQ12 _),
    "b31_sql_q5" -> (GraftSql.b31SqlQ5 _),
    "b32_sql_q8" -> (GraftSql.b32SqlQ8 _),
    "b33_sql_q19" -> (GraftSql.b33SqlQ19 _),
    "b34_sql_q9" -> (GraftSql.b34SqlQ9 _),
    "b35_sql_q2" -> (GraftSql.b35SqlQ2 _),
    "b36_sql_q16" -> (GraftSql.b36SqlQ16 _),
    "b37_sql_q20" -> (GraftSql.b37SqlQ20 _),
    "b38_sql_q11" -> (GraftSql.b38SqlQ11 _),
    "b39_sql_q4" -> (GraftSql.b39SqlQ4 _),
    "b40_grouping_sets" -> (GraftSql.b40GroupingSets _),
    "b41_recursive_cte" -> (GraftSql.b41RecursiveCte _),
    "c50_length_histogram" -> (Sampling.c50LengthHistogram _),
    "c49_source_mix" -> (Sampling.c49SourceMix _),
    "c1_dedup_exact" -> (TextDedup.c1DedupExact _),
    "c2_dedup_ngram_jaccard" -> (TextDedup.c2NgramJaccard _),
    "c3_dedup_minhash_lsh" -> (TextDedup.c3MinHashLsh _),
    "c4_dedup_simhash" -> (TextDedup.c4SimHash _),
    "c5_dedup_embedding" -> (VectorOps.c5EmbeddingDedup _),
    "c6_ann_bruteforce" -> (VectorOps.c6AnnBruteforce _),
    "c7_ann_lsh" -> ((s, d) => VectorOps.c7AnnLsh(s, d)),
    "c17_dedup_embedding_lsh" -> ((s, d) => VectorOps.c17EmbeddingDedupLsh(s, d)),
    "c18_ann_ivf" -> ((s, d) => VectorOps.c18AnnIvf(s, d)),
    "c101_ann_imi" -> ((s, d) => VectorOps.c101AnnImi(s, d)),
    "c35_semdedup" -> (VectorOps.c35SemDedup _),
    "c39_embedding_outliers" -> (VectorOps.c39EmbeddingOutliers _),
    "c24_ann_ivf_trained" -> ((s, d) => VectorOps.c24AnnIvfTrained(s, d)),
    "c29_ann_pq" -> (VectorOps.c29AnnPq _),
    "c19_stratified_sample" -> (Sampling.c19StratifiedSample _),
    "c36_temperature_mix" -> (Sampling.c36TemperatureMix _),
    "c37_importance_score" -> (TextAnalysis.c37ImportanceScore _),
    "c38_chunk_dedup" -> (TextAnalysis.c38ChunkDedup _),
    "c40_shuffled_packing" -> (Sampling.c40ShuffledPacking _),
    "c41_heavy_hitters" -> (TextAnalysis.c41HeavyHitters _),
    "c42_epoch_mix" -> (Sampling.c42EpochMix _),
    "c43_chunk_dedup_rewrite" -> (TextAnalysis.c43ChunkDedupRewrite _),
    "c44_bloom_dedup" -> (Sampling.c44BloomDedup _),
    "c45_quality_canonical" -> (TextAnalysis.c45QualityCanonical _),
    "c46_weighted_sample" -> (Sampling.c46WeightedSample _),
    "c47_dup_spans" -> (TextAnalysis.c47DupSpans _),
    "c103_exactsubstr_spans" -> (TextAnalysis.c103ExactSubstrSpans _),
    "c104_ann_ivfadc" -> (VectorOps.c104AnnIvfAdc _),
    "c106_ann_imi_trained" -> (VectorOps.c106AnnImiTrained _),
    "c107_trained_quality" -> (TextAnalysis.c107TrainedQuality _),
    "c108_ann_imi_adc" -> (VectorOps.c108AnnImiAdc _),
    "c109_unigram_train" -> (TextAnalysis.c109UnigramTrain _),
    "c110_image_dhash_wide" -> (Multimodal.c110ImageDhashWidePairs _),
    "c111_unigram_segment" -> (TextAnalysis.c111UnigramSegment _),
    "c48_vocab_coverage" -> (TextAnalysis.c48VocabCoverage _),
    "b25_unpivot" -> (Relational.b25Unpivot _),
    "c20_training_pipeline" -> (Sampling.c20TrainingPipeline _),
    "c21_decontamination" -> (Sampling.c21Decontamination _),
    "c58_decontam_report" -> (Sampling.c58DecontamReport _),
    "c25_sequence_packing" -> (Sampling.c25SequencePacking _),
    "c26_dedup_incremental" -> (Sampling.c26DedupIncremental _),
    "c27_doc_repetition" -> (TextAnalysis.c27DocRepetition _),
    "c28_domain_quota" -> (Sampling.c28DomainQuota _),
    "c30_token_budget" -> (Sampling.c30TokenBudget _),
    "c31_doc_chunking" -> (TextAnalysis.c31DocChunking _),
    "c32_curation_e2e" -> (Sampling.c32CurationE2e _),
    "c33_canonical_corpus" -> (TextAnalysis.c33CanonicalCorpus _),
    "c34_cross_source_neardups" -> (TextDedup.c34CrossSourceNearDups _),
    "c55_neardup_incremental" -> (TextDedup.c55NearDupIncremental _),
    "c59_containment" -> (TextDedup.c59Containment _),
    "c56_bpe_pairs" -> (TextAnalysis.c56BpePairs _),
    "c57_rag_retrieval" -> (VectorOps.c57RagRetrieval _),
    "c60_hard_negatives" -> (VectorOps.c60HardNegatives _),
    "c61_knn_graph" -> (VectorOps.c61KnnGraph _),
    "c62_dataset_card" -> (TextAnalysis.c62DatasetCard _),
    "c23_frame_sample" -> (Multimodal.c23FrameSample _),
    "c22_pii_redact" -> (Sampling.c22PiiRedact _),
    "c8_text_langid" -> (TextAnalysis.c8TextLangid _),
    "c9_text_quality" -> (TextAnalysis.c9TextQuality _),
    "c10_text_tokens" -> (TextAnalysis.c10TextTokens _),
    "c11_text_fingerprint" -> (TextAnalysis.c11TextFingerprint _),
    "c12_multimodal_decode" -> (Multimodal.c12MultimodalDecode _),
    "c105_image_dhash_pairs" -> (Multimodal.c105ImageDhashPairs _),
    "b13_sql_q6" -> (GraftSql.b13SqlQ6 _),
    "b19_sql_correlated" -> (GraftSql.b19SqlCorrelated _),
    "c13_sql_vector" -> (GraftSql.c13SqlVector _),
    "s1_format_roundtrip" -> (graft.sources.Formats.s1FormatRoundtrip _),
    "s2_partitioned_write" -> (graft.sources.Formats.s2PartitionedWrite _),
    "s3_bucketed_join" -> (ScaleJoins.s3BucketedJoin _),
    "s4_salted_join" -> (ScaleJoins.s4SaltedJoin _),
    "s5_compaction" -> (graft.sources.Formats.s5Compaction _),
    "s6_schema_evolution" -> (graft.sources.Formats.s6SchemaEvolution _),
    "s7_orc_roundtrip" -> (graft.sources.Formats.s7OrcRoundtrip _),
    "s8_text_roundtrip" -> (graft.sources.Formats.s8TextRoundtrip _),
    "s9_upsert" -> (graft.sources.Formats.s9Upsert _),
    "s10_dynamic_overwrite" -> (graft.sources.Formats.s10DynamicOverwrite _),
    "s11_time_travel" -> (graft.sources.Formats.s11TimeTravel _),
    "s12_cdc_read" -> (graft.sources.Formats.s12CdcRead _),
    "s13_vacuum" -> (graft.sources.Formats.s13Vacuum _),
    "s14_zorder" -> (graft.sources.Formats.s14Zorder _),
    "s15_write_audit_publish" -> (graft.sources.Formats.s15WriteAuditPublish _),
    "s16_bad_records" -> (graft.sources.Formats.s16BadRecords _),
    "s29_vector_quarantine" -> (graft.sources.Formats.s29VectorQuarantine _),
    "s17_manifest_append" -> (graft.sources.Formats.s17ManifestAppend _),
    "s22_delta_log" -> (graft.sources.Formats.s22DeltaLog _),
    "s23_partition_evolution" -> (graft.sources.Formats.s23PartitionEvolution _),
    "s24_orphan_files" -> (graft.sources.Formats.s24OrphanFiles _),
    "s25_manifest_stats" -> (graft.sources.Formats.s25ManifestStats _),
    "c81_token_fertility" -> (TextAnalysis.c81TokenFertility _),
    "c63_kanon_report" -> (Sampling.c63KanonReport _),
    "c64_quality_topfrac" -> (Sampling.c64QualityTopFrac _),
    "c65_doc_embedding" -> (VectorOps.c65DocEmbedding _),
    "b42_lateral_agg" -> (GraftSql.b42LateralAgg _),
    "b43_ntile" -> (Relational.b43Ntile _),
    "b44_value_windows" -> (Relational.b44ValueWindows _),
    "b45_listagg" -> (Relational.b45Listagg _),
    "c66_gopher_signals" -> (TextAnalysis.c66GopherSignals _),
    "c67_mojibake" -> (TextAnalysis.c67Mojibake _),
    "c68_prefix_dedup" -> (TextDedup.c68PrefixDedup _),
    "c69_cluster_purity" -> (VectorOps.c69ClusterPurity _),
    "c70_embedding_quant" -> (VectorOps.c70EmbeddingQuant _),
    "b46_multi_distinct" -> (GraftSql.b46MultiDistinct _),
    "c71_edit_verify" -> (TextDedup.c71EditVerify _),
    "c72_packing_efficiency" -> (Sampling.c72PackingEfficiency _),
    "s18_codec_roundtrip" -> (graft.sources.Formats.s18CodecRoundtrip _),
    "s19_column_stats" -> (graft.sources.Formats.s19ColumnStats _),
    "b47_mode_native" -> (Relational.b47ModeNative _),
    "b48_ratio_to_report" -> (Relational.b48RatioToReport _),
    "s20_neardup_index" -> (TextDedup.s20NearDupIndex _),
    "c73_split_leakage" -> (Sampling.c73SplitLeakage _),
    "s21_shallow_clone" -> (graft.sources.Formats.s21ShallowClone _),
    "b49_set_ops_all" -> (GraftSql.b49SetOpsAll _),
    "b50_dist_windows" -> (Relational.b50DistWindows _),
    "c74_ann_recall" -> (VectorOps.c74AnnRecall _),
    "c75_langid_margin" -> (TextAnalysis.c75LangidMargin _),
    "c76_dedup_card" -> (TextDedup.c76DedupCard _),
    "c77_source_drift" -> (VectorOps.c77SourceDrift _),
    "c78_bitext_margin" -> (VectorOps.c78BitextMargin _),
    "c79_linear_quality" -> (TextAnalysis.c79LinearQuality _),
    "c80_ccnet_buckets" -> (Sampling.c80CcnetBuckets _),
    "c82_semantic_decontam" -> (VectorOps.c82SemanticDecontam _),
    "c83_normalized_dedup" -> (TextDedup.c83NormalizedDedup _),
    "c84_lang_confusion" -> (TextAnalysis.c84LangConfusion _),
    "c85_dedup_sweep" -> (TextDedup.c85DedupSweep _),
    "c86_jl_projection" -> (VectorOps.c86JlProjection _),
    "c87_ann_jl" -> ((s, d) => VectorOps.c87AnnJl(s, d)),
    "c88_winnowing" -> (TextAnalysis.c88Winnowing _),
    "c89_moss_pairs" -> (TextAnalysis.c89MossPairs _),
    "c90_bitext_margin_ivf" -> ((s, d) => VectorOps.c90BitextMarginIvf(s, d)),
    "c91_bm25" -> (TextAnalysis.c91Bm25 _),
    "c92_dedup_simhash_wide" -> (TextDedup.c92DedupSimhashWide _),
    "c93_dedup_simhash_refined" -> (TextDedup.c93DedupSimhashRefined _),
    "c94_json_extract" -> (Relational.c94JsonExtract _),
    "c95_variant_extract" -> (Relational.c95VariantExtract _),
    "c96_dedup_embedding_ivf" -> ((s, d) => VectorOps.c96DedupEmbeddingIvf(s, d)),
    "s26_position_deletes" -> (graft.sources.Formats.s26PositionDeletes _),
    "s27_dynamic_pruning" -> (graft.sources.Formats.s27DynamicPruning _),
    "s28_equality_deletes" -> (graft.sources.Formats.s28EqualityDeletes _),
    "c97_cross_rerank" -> (VectorOps.c97CrossRerank _),
    "c98_hybrid_rrf" -> (VectorOps.c98HybridRrf _),
    "c99_bpe_train" -> (TextAnalysis.c99BpeTrain _),
    "c100_bpe_segment" -> (TextAnalysis.c100BpeSegment _),
    "c102_cdc_chunk_dedup" -> (TextAnalysis.c102CdcChunkDedup _),
    "b52_null_semantics" -> (Relational.b52NullSemantics _)
  )

  /** DuckDB-runnable oracle SQL per query (same column names as the
    * Spark result — the driver's compare sorts columns by name).
    * Non-SQL-expressible queries are omitted → weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "a1_dedup_windowed" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
        |w AS (SELECT *, epoch_ms(CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 900) * 900 AS BIGINT) * 1000) AS window_start FROM ev),
        |ranked AS (SELECT user_id, event_type, window_start, event_id, ts,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type, window_start ORDER BY ts, event_id) AS rn FROM w)
        |SELECT user_id, event_type, window_start, event_id AS kept_event_id, ts AS kept_ts
        |FROM ranked WHERE rn = 1""".stripMargin,
    "a2_clickstream_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
        |clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM ev WHERE event_type = 'click'),
        |views AS (SELECT event_id AS v_id, user_id AS v_user, ts AS v_ts FROM ev WHERE event_type = 'view'),
        |ranked AS (
        |  SELECT c.click_id, v.v_id, v.v_ts,
        |         ROW_NUMBER() OVER (PARTITION BY c.click_id ORDER BY v.v_ts DESC, v.v_id DESC) AS rn
        |  FROM clicks c JOIN views v ON c.user_id = v.v_user
        |   AND v.v_ts <= c.click_ts AND v.v_ts >= c.click_ts - INTERVAL 10 MINUTE)
        |SELECT c.click_id, c.user_id, c.click_ts, b.v_id AS view_id, b.v_ts AS view_ts
        |FROM clicks c LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) b USING (click_id)""".stripMargin,
    // the flat FULL JOIN definition; the Spark side decomposes it into
    // keyed joins because Spark has no non-equi full-outer strategy
    "a14_outer_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
        |clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM ev WHERE event_type = 'click'),
        |views AS (SELECT event_id AS v_id, user_id AS v_user, ts AS v_ts FROM ev WHERE event_type = 'view')
        |SELECT COALESCE(c.user_id, v.v_user) AS user_id,
        |  c.click_id, c.click_ts, v.v_id AS view_id, v.v_ts AS view_ts
        |FROM clicks c FULL JOIN views v ON c.user_id = v.v_user
        |  AND v.v_ts <= c.click_ts AND v.v_ts >= c.click_ts - INTERVAL 10 MINUTE""".stripMargin,
    "a13_asof_join" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
        |clicks AS (SELECT user_id, ts, event_id AS click_id FROM ev WHERE event_type = 'click'),
        |views AS (SELECT user_id, ts AS vts, max(event_id) AS view_id FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
        |m AS (SELECT c.click_id, v.view_id, v.vts,
        |  ROW_NUMBER() OVER (PARTITION BY c.click_id ORDER BY v.vts DESC) AS rn
        |  FROM clicks c JOIN views v ON c.user_id = v.user_id AND v.vts <= c.ts AND v.vts >= c.ts - INTERVAL 10 MINUTE)
        |SELECT c.user_id, c.ts, c.click_id, b.view_id AS right_view_id, b.vts AS right_vts
        |FROM clicks c LEFT JOIN (SELECT * FROM m WHERE rn = 1) b USING (click_id)""".stripMargin,
    "a12_range_join" ->
      s"""WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |w AS (SELECT CAST(floor(epoch(ts) / ${EventStreamOps.RangeChunkSec}) AS BIGINT) AS incident_id, count(*) AS n_err, min(ts) AS spike_ts
        |      FROM ev WHERE event_type = 'error' GROUP BY 1),
        |inc AS (SELECT incident_id, spike_ts - INTERVAL 5 MINUTE AS lo, spike_ts + INTERVAL 10 MINUTE AS hi
        |        FROM w WHERE n_err >= ${EventStreamOps.RangeErrThreshold})
        |SELECT i.incident_id, i.lo AS incident_start, COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users
        |FROM inc i JOIN ev e ON e.ts >= i.lo AND e.ts < i.hi
        |GROUP BY 1, 2""".stripMargin,
    "a11_pv_equi_join" ->
      s"""WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events WHERE event_type IN ('view', 'click')),
        |attr AS (SELECT *,
        |  LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_id,
        |  LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_ts
        | FROM ev),
        |clicks AS (SELECT user_id, pv_id, ts, value FROM attr WHERE event_type = 'click' AND pv_id IS NOT NULL AND ts <= pv_ts + INTERVAL ${EventStreamOps.PvAttributionHours} HOUR),
        |views AS (SELECT user_id, event_id AS pv_id, value AS pv_value FROM ev WHERE event_type = 'view')
        |SELECT c.user_id, c.pv_id, v.pv_value, COUNT(*) AS n_clicks, MIN(c.ts) AS first_click_ts, MAX(c.ts) AS last_click_ts,
        |  CAST(CAST(SUM(CAST(c.value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_click_value
        |FROM clicks c JOIN views v ON c.user_id = v.user_id AND c.pv_id = v.pv_id
        |GROUP BY 1, 2, 3""".stripMargin,
    "a3_selectkey_repartition" ->
      """SELECT event_type || '#' || CAST(user_id % 7 AS VARCHAR) AS part_key,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "a4_windowed_reduce" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
        |w AS (SELECT *, epoch_ms(CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) * 3600 AS BIGINT) * 1000) AS window_start FROM ev),
        |ranked AS (SELECT user_id, window_start, event_id, event_type,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, window_start ORDER BY ts, event_id) AS rn FROM w)
        |SELECT user_id, window_start, event_id AS first_event_id, event_type AS first_event_type
        |FROM ranked WHERE rn = 1""".stripMargin,
    "a5_hopping_window" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |hop AS (SELECT ev.*, k FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
        |SELECT epoch_ms(CAST((floor(CAST(floor(epoch(ts)) AS BIGINT) / 900) - k) * 900 * 1000 AS BIGINT)) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM hop GROUP BY 1, 2""".stripMargin,
    "a6_session_window" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) >= 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM ev),
        |sessions AS (
        |  SELECT user_id, ts, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS last_event_ts, COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, session_seq""".stripMargin,
    "a7_stream_enrich_dim" ->
      """SELECT COALESCE(c_mktsegment, 'unknown') AS segment, event_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "a8_event_time_stats" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
        |wm AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) - 600 AS wm_sec FROM ev),
        |w AS (SELECT *, floor(CAST(floor(epoch(ts)) AS BIGINT) / 900) * 900 AS ws_sec FROM ev)
        |SELECT epoch_ms(CAST(ws_sec * 1000 AS BIGINT)) AS window_start, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM w, wm WHERE ws_sec + 900 <= wm_sec
        |GROUP BY 1""".stripMargin,
    "a9_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |u AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |FROM ev GROUP BY user_id)
        |SELECT COUNT(first_view) AS n_view,
        |  COUNT(CASE WHEN first_click > first_view THEN 1 END) AS n_view_then_click,
        |  COUNT(CASE WHEN first_click > first_view AND first_purchase > first_click THEN 1 END) AS n_full_funnel
        |FROM u""".stripMargin,
    "a10_cohort" ->
      """WITH ev AS (SELECT user_id,
        |  CAST(floor(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) / 604800) AS BIGINT) AS week
        |FROM events),
        |fw AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT cohort_week, ev.week - cohort_week AS week_offset, COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN fw USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "c14_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term, tf, df,
        |  CAST(tf AS DOUBLE) * (SELECT n FROM nd) / df AS score FROM tf JOIN df USING (term)),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank FROM scored)
        |SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= 3""".stripMargin,
    "b1_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "b2_join_topn" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "b3_multi_join" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "b4_semi_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "b5_window_rank" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3""".stripMargin,
    "b21_rank_ties" ->
      """SELECT l_returnflag, rk, l_orderkey, l_linenumber, l_quantity
        |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |        RANK() OVER (PARTITION BY l_returnflag
        |                     ORDER BY l_quantity DESC) AS rk
        |      FROM lineitem)
        |WHERE rk <= 3""".stripMargin,
    "b51_dense_topk" ->
      """SELECT l_linestatus, drk, l_orderkey, l_linenumber, l_quantity
        |FROM (SELECT l_linestatus, l_orderkey, l_linenumber, l_quantity,
        |        DENSE_RANK() OVER (PARTITION BY l_linestatus
        |                           ORDER BY l_quantity DESC) AS drk
        |      FROM lineitem)
        |WHERE drk <= 3""".stripMargin,
    // same ANSI text both engines (GraftSql.Q21Sql) — counts only, no
    // float anywhere
    "b23_sql_q21" -> GraftSql.Q21Sql,
    "b24_sql_q22" -> GraftSql.Q22Sql,
    "b26_sql_q18" -> GraftSql.Q18Sql,
    "b27_sql_q15" -> GraftSql.Q15Sql,
    "b28_sql_q7" -> GraftSql.Q7Sql,
    "b29_sql_q10" -> GraftSql.Q10Sql,
    "b30_sql_q12" -> GraftSql.Q12Sql,
    "b31_sql_q5" -> GraftSql.Q5Sql,
    "b32_sql_q8" -> GraftSql.Q8Sql,
    "b33_sql_q19" -> GraftSql.Q19Sql,
    "b34_sql_q9" -> GraftSql.Q9Sql,
    "b35_sql_q2" -> GraftSql.Q2Sql,
    "b36_sql_q16" -> GraftSql.Q16Sql,
    "b37_sql_q20" -> GraftSql.Q20Sql,
    "b38_sql_q11" -> GraftSql.Q11Sql,
    "b39_sql_q4" -> GraftSql.Q4Sql,
    "b40_grouping_sets" -> GraftSql.GroupingSetsSql,
    "b41_recursive_cte" -> GraftSql.RecursiveSpineSql,
    // floor(log2) as length(bin(n))-1: integer/string ops only — libm
    // log rounds differently across engines, bin() cannot
    "c50_length_histogram" ->
      """SELECT lang, CAST(length(bin(nt)) - 1 AS BIGINT) AS len_bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
        |  MIN(nt) AS min_len, MAX(nt) AS max_len
        |FROM (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    // SUM(BIGINT) widens to HUGEINT in DuckDB → CAST back (the round-6
    // lesson); the share divides the same two exact longs both engines
    "c49_source_mix" ->
      """WITH t AS (SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST((SELECT SUM(n_tokens) FROM t) AS BIGINT) AS token_share
        |FROM t""".stripMargin,
    // gap in epoch seconds (exact integers) — day-granularity datediff
    // rounds differently between engines at boundaries
    "b22_order_gaps" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderdate) OVER w AS prev_ts,
        |  CAST(epoch(o_orderdate) - epoch(lag(o_orderdate) OVER w) AS BIGINT) AS gap_seconds
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    // NTILE's declarative definition; the Spark side computes the same
    // tile from a two-phase distributed rank (no whole-priority sort)
    "b43_ntile" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        |FROM orders""".stripMargin,
    "b44_value_windows" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_orderkey,
        |  LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS latest_orderkey,
        |  NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_orderkey
        |FROM orders""".stripMargin,
    // ordered LISTAGG over the rank-bounded frame — the string order is
    // part of the contract, so the ORDER BY lives inside the aggregate
    "b45_listagg" ->
      """WITH top AS (
        |  SELECT n_name, s_suppkey, s_name, s_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) AS rn
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, COUNT(*) AS n_top,
        |  string_agg(s_name, ',' ORDER BY s_acctbal DESC, s_suppkey) AS top_names,
        |  CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_top_bal
        |FROM top WHERE rn <= 5
        |GROUP BY n_name""".stripMargin,
    "b6_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "b7_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
        |FROM events
        |GROUP BY user_id""".stripMargin,
    "b8_set_ops" ->
      """WITH high_value AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000),
        |     urgent AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |     tagged AS (
        |       SELECT o_orderkey, 'both' AS tag FROM (SELECT * FROM high_value INTERSECT SELECT * FROM urgent)
        |       UNION ALL
        |       SELECT o_orderkey, 'high_only' AS tag FROM (SELECT * FROM high_value EXCEPT SELECT * FROM urgent))
        |SELECT tag, COUNT(*) AS n FROM tagged GROUP BY tag""".stripMargin,
    "b9_percentiles" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer),
        |nd AS (SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations FROM customer GROUP BY c_mktsegment),
        |med AS (SELECT c_mktsegment, c_acctbal AS median_bal FROM ranked WHERE rn = CEIL(n * 0.5)),
        |p90 AS (SELECT c_mktsegment, c_acctbal AS p90_bal FROM ranked WHERE rn = CEIL(n * 0.9))
        |SELECT c_mktsegment, n_nations, median_bal, p90_bal
        |FROM nd JOIN med USING (c_mktsegment) JOIN p90 USING (c_mktsegment)""".stripMargin,
    "b10_string_date" ->
      """SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS month, upper(event_type) AS etype,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    // NULLS FIRST is explicit: Spark's ascending default, DuckDB's is
    // NULLS LAST — relying on either engine's default is the bug
    "b52_null_semantics" ->
      """WITH t AS (SELECT nullif(o_orderkey % 5, 0) AS k, o_totalprice FROM orders),
        |g AS (SELECT k, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |  FROM t GROUP BY k),
        |d AS (SELECT * FROM (VALUES (CAST(NULL AS BIGINT)), (CAST(1 AS BIGINT)), (CAST(3 AS BIGINT))) AS v(dk))
        |SELECT k, n, sum_price,
        |  CAST(RANK() OVER (ORDER BY k ASC NULLS FIRST) AS BIGINT) AS rk
        |FROM g JOIN d ON g.k IS NOT DISTINCT FROM d.dk""".stripMargin,
    "c94_json_extract" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_parsed,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(DISTINCT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
        |FROM events
        |GROUP BY event_type""".stripMargin,
    "c95_variant_extract" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  COUNT(CASE WHEN json_valid(props) THEN 1 END) AS n_valid,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(json_extract_string(props, '$.k')) AS max_k_str
        |FROM events
        |GROUP BY event_type""".stripMargin,
    "b11_scalar_subquery" ->
      """WITH class_avg AS (
        |  SELECT o_orderpriority AS prio,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, COUNT(*) AS n_above
        |FROM orders JOIN class_avg ON o_orderpriority = prio
        |WHERE o_totalprice > avg_price * 1.5
        |GROUP BY o_orderpriority""".stripMargin,
    "c1_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    // word-length mean = exact long sum / exact count, divided ONCE in
    // double — identical in both engines; every other column is integer
    "c66_gopher_signals" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_unique_words,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_word_chars,
        |  CAST(list_max(list_transform(w, x -> length(x))) AS BIGINT) AS max_word_len,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$$'))) AS BIGINT) AS n_numeric_words,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '^[A-Z]'))) AS BIGINT) AS n_cap_words
        |FROM d)
        |SELECT doc_id, n_words, n_unique_words, max_word_len, n_alpha_words, n_numeric_words, n_cap_words,
        |  CAST(sum_word_chars AS DOUBLE) / n_words AS mean_word_len,
        |  CAST(n_unique_words AS DOUBLE) / n_words AS unique_ratio,
        |  (n_words < ${TextAnalysis.GopherMinWords}
        |    OR CAST(sum_word_chars AS DOUBLE) / n_words < ${TextAnalysis.GopherMinMeanWordLen}
        |    OR CAST(sum_word_chars AS DOUBLE) / n_words > ${TextAnalysis.GopherMaxMeanWordLen}
        |    OR CAST(n_unique_words AS DOUBLE) / n_words < ${TextAnalysis.GopherMinUniqueRatio}) AS gopher_flagged
        |FROM m""".stripMargin,
    // U+FFFD embedded as a literal char in both engines' expressions;
    // counts are length arithmetic (exact), the one ratio divides two
    // exact longs in double
    "c67_mojibake" ->
      s"""SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^ -~]', '', 'g')) AS BIGINT) AS n_ascii_printable,
        |  CAST(length(text) - length(regexp_replace(text, '�', '', 'g')) AS BIGINT) AS n_replacement,
        |  CAST(length(text) - length(regexp_replace(text, '[\\x00-\\x1f]', '', 'g')) AS BIGINT) AS n_control,
        |  CAST(len(regexp_extract_all(text, 'Ã.')) AS BIGINT) AS n_mojibake,
        |  CASE WHEN length(text) = 0 THEN 1.0
        |       ELSE CAST(length(regexp_replace(text, '[^ -~]', '', 'g')) AS DOUBLE) / length(text) END AS ascii_ratio,
        |  (length(text) - length(regexp_replace(text, '�', '', 'g')) > 0
        |    OR length(text) - length(regexp_replace(text, '[\\x00-\\x1f]', '', 'g')) > 0
        |    OR len(regexp_extract_all(text, 'Ã.')) > 0
        |    OR (CASE WHEN length(text) = 0 THEN 1.0
        |             ELSE CAST(length(regexp_replace(text, '[^ -~]', '', 'g')) AS DOUBLE) / length(text) END)
        |       < ${TextAnalysis.MojibakeMinAsciiRatio}) AS encoding_suspect
        |FROM documents""".stripMargin,
    "c68_prefix_dedup" -> OracleGen.c68PrefixDedup,
    "c2_dedup_ngram_jaccard" -> OracleGen.c2NgramJaccard,
    "c3_dedup_minhash_lsh" -> OracleGen.c3MinHashLsh,
    "c85_dedup_sweep" -> OracleGen.c85DedupSweep,
    "c86_jl_projection" -> OracleGen.c86JlProjection,
    "c87_ann_jl" -> OracleGen.c87AnnJl,
    "c88_winnowing" -> OracleGen.c88Winnowing,
    "c89_moss_pairs" -> OracleGen.c89MossPairs,
    "c90_bitext_margin_ivf" -> OracleGen.c90BitextMarginIvf,
    "c91_bm25" -> OracleGen.c91Bm25,
    "c98_hybrid_rrf" -> OracleGen.c98HybridRrf,
    "c99_bpe_train" -> OracleGen.c99BpeTrain,
    "c100_bpe_segment" -> OracleGen.c100BpeSegment,
    "c102_cdc_chunk_dedup" -> OracleGen.c102CdcChunkDedup,
    "c92_dedup_simhash_wide" -> OracleGen.c92DedupSimhashWide,
    // c93 serves the SAME exact pair set as c92 (recursive hot-bucket
    // refinement changes candidate generation, not the contract), so
    // it gates on the identical oracle
    "c93_dedup_simhash_refined" -> OracleGen.c92DedupSimhashWide,
    "c4_dedup_simhash" -> OracleGen.c4SimHash,
    "c5_dedup_embedding" -> OracleGen.c5EmbeddingDedup,
    // the LSH path produces the SAME pair set (zero bucket misses at
    // the test SFs — deterministic planes, verified in VectorRecallSpec)
    "c17_dedup_embedding_lsh" -> OracleGen.c5EmbeddingDedup,
    "c96_dedup_embedding_ivf" -> OracleGen.c96DedupEmbeddingIvf,
    "c6_ann_bruteforce" -> OracleGen.c6AnnBruteforce,
    "c18_ann_ivf" -> OracleGen.c18AnnIvf,
    "c101_ann_imi" -> OracleGen.c101AnnImi,
    "c24_ann_ivf_trained" -> OracleGen.c24AnnIvfTrained,
    "c35_semdedup" -> OracleGen.c35SemDedup,
    "c39_embedding_outliers" -> OracleGen.c39EmbeddingOutliers,
    "c69_cluster_purity" -> OracleGen.c69ClusterPurity,
    "c70_embedding_quant" -> OracleGen.c70EmbeddingQuant,
    // same ANSI text both engines (year cast BIGINT per the width rule)
    "b46_multi_distinct" -> GraftSql.MultiDistinctSql,
    "c71_edit_verify" -> OracleGen.c71EditVerify,
    "c72_packing_efficiency" ->
      s"""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) nt FROM documents),
        |x AS (SELECT c.ctx_len, t.nt FROM t CROSS JOIN (SELECT unnest([${Sampling.PackCandidateLengths.mkString(", ")}]) AS ctx_len) c),
        |g AS (SELECT CAST(ctx_len AS BIGINT) AS ctx_len, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  COUNT(*) FILTER (WHERE nt > ctx_len) AS n_truncated,
        |  CAST(SUM(CASE WHEN nt > ctx_len THEN nt - ctx_len ELSE 0 END) AS BIGINT) AS tokens_lost,
        |  CAST(SUM(least(nt, ctx_len)) AS BIGINT) AS tokens_kept
        |FROM x GROUP BY 1)
        |SELECT ctx_len, n_docs, total_tokens, n_truncated, tokens_lost, tokens_kept,
        |  (tokens_kept + ctx_len - 1) // ctx_len AS n_bins,
        |  ((tokens_kept + ctx_len - 1) // ctx_len) * ctx_len - tokens_kept AS pad_waste,
        |  CAST(tokens_kept AS DOUBLE) / (((tokens_kept + ctx_len - 1) // ctx_len) * ctx_len) AS efficiency
        |FROM g""".stripMargin,
    "s18_codec_roundtrip" ->
      s"""WITH a AS (SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |  FROM events WHERE event_id < 1000)
        |SELECT c.codec, a.n, a.sum_id, a.sum_value
        |FROM a CROSS JOIN (SELECT unnest([${graft.sources.Formats.RoundtripCodecs.map(c => s"'$c'").mkString(", ")}]) AS codec) c""".stripMargin,
    "s19_column_stats" ->
      """WITH s AS (SELECT l_orderkey, l_quantity, l_extendedprice, l_discount FROM lineitem)
        |SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows, COUNT(*) - COUNT(l_orderkey) AS n_null,
        |  COUNT(DISTINCT l_orderkey) AS n_distinct, CAST(MIN(l_orderkey) AS DOUBLE) AS min_val, CAST(MAX(l_orderkey) AS DOUBLE) AS max_val FROM s
        |UNION ALL
        |SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
        |  COUNT(DISTINCT l_quantity), CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE) FROM s
        |UNION ALL
        |SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
        |  COUNT(DISTINCT l_extendedprice), CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE) FROM s
        |UNION ALL
        |SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
        |  COUNT(DISTINCT l_discount), CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE) FROM s""".stripMargin,
    "c29_ann_pq" -> OracleGen.c29AnnPq,
    // adjudicated zero-miss vs the exact top-5 at both test SFs → the
    // exact oracle applies (see OracleGen.c7AnnLsh)
    "c7_ann_lsh" -> OracleGen.c7AnnLsh,
    "c21_decontamination" -> OracleGen.c21Decontamination,
    "c58_decontam_report" -> OracleGen.c58DecontamReport,
    "c25_sequence_packing" -> OracleGen.c25SequencePacking,
    "c40_shuffled_packing" -> OracleGen.c40ShuffledPacking,
    "c41_heavy_hitters" -> OracleGen.c41HeavyHitters,
    "c42_epoch_mix" -> OracleGen.c42EpochMix,
    "c43_chunk_dedup_rewrite" -> OracleGen.c43ChunkDedupRewrite,
    "c44_bloom_dedup" -> OracleGen.c44BloomDedup,
    "c45_quality_canonical" -> OracleGen.c45QualityCanonical,
    "c46_weighted_sample" -> OracleGen.c46WeightedSample,
    "c47_dup_spans" -> OracleGen.c47DupSpans,
    "c103_exactsubstr_spans" -> OracleGen.c103ExactSubstrSpans,
    "c104_ann_ivfadc" -> OracleGen.c104AnnIvfAdc,
    "c106_ann_imi_trained" -> OracleGen.c106AnnImiTrained,
    "c107_trained_quality" -> OracleGen.c107TrainedQuality,
    "c108_ann_imi_adc" -> OracleGen.c108AnnImiAdc,
    "c109_unigram_train" -> OracleGen.c109UnigramTrain,
    "c110_image_dhash_wide" -> OracleGen.c110ImageDhashWidePairs,
    "c111_unigram_segment" -> OracleGen.c111UnigramSegment,
    "c48_vocab_coverage" -> OracleGen.c48VocabCoverage,
    "b25_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n FROM events
        |WHERE event_type IN ('view', 'click', 'purchase', 'signup', 'error')
        |GROUP BY 1, 2""".stripMargin,
    "c26_dedup_incremental" -> OracleGen.c26DedupIncremental,
    "c27_doc_repetition" -> OracleGen.c27DocRepetition,
    "c31_doc_chunking" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |n AS (SELECT doc_id, w, greatest(CAST(ceil(CAST(len(w) - ${TextAnalysis.ChunkSize} AS DOUBLE) / ${TextAnalysis.ChunkStride}) AS INT), 0) + 1 AS nc FROM d),
        |c AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS ci FROM n),
        |s AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  list_slice(w, ci * ${TextAnalysis.ChunkStride} + 1, ci * ${TextAnalysis.ChunkStride} + ${TextAnalysis.ChunkSize}) AS cw
        |FROM c)
        |SELECT doc_id, chunk_idx, CAST(len(cw) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(cw, ' ')) AS chunk_md5
        |FROM s""".stripMargin,
    // quality gate -> keep-min dedup -> domain quota -> token budget,
    // each stage the flat declarative definition of its library operator
    "c32_curation_e2e" ->
      s"""WITH d AS (SELECT doc_id, lang, source, text, string_split(text, ' ') w FROM documents),
        |m AS (SELECT doc_id, lang, source, text,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM d),
        |s AS (SELECT doc_id, lang, source, text, n_tokens,
        |  CASE WHEN n_chars = 0 THEN 0.0 ELSE
        |    CAST(n_stop AS DOUBLE) / n_tokens * 0.4 +
        |    CAST(alpha_chars AS DOUBLE) / n_chars * 0.3 +
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3 END AS q
        |FROM m),
        |f AS (SELECT * FROM s WHERE q >= ${Sampling.QualityThreshold}),
        |dd AS (SELECT doc_id, lang, source, n_tokens, q FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f) WHERE rn = 1),
        |qt AS (SELECT doc_id, lang, source, n_tokens, q FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn FROM dd) WHERE rn <= ${Sampling.DomainQuota}),
        |b AS (SELECT doc_id, lang, source, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |FROM qt)
        |SELECT doc_id, lang, source, n_tokens, cum_tokens FROM b WHERE cum_tokens <= ${Sampling.TokenBudgetPerLang}""".stripMargin,
    // the flat cumulative-sum definition; the Spark side's two-phase
    // banded plan computes exactly this cut (floor is monotone in q)
    "c30_token_budget" ->
      s"""WITH d AS (SELECT doc_id, lang, text, string_split(text, ' ') w FROM documents),
        |m AS (SELECT doc_id, lang,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM d),
        |s AS (SELECT doc_id, lang, n_tokens,
        |  CASE WHEN n_chars = 0 THEN 0.0 ELSE
        |    CAST(n_stop AS DOUBLE) / n_tokens * 0.4 +
        |    CAST(alpha_chars AS DOUBLE) / n_chars * 0.3 +
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3 END AS q
        |FROM m),
        |c AS (SELECT doc_id, lang, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY q DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |FROM s)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c WHERE cum_tokens <= ${Sampling.TokenBudgetPerLang}""".stripMargin,
    "c28_domain_quota" ->
      s"""SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= ${Sampling.DomainQuota}""".stripMargin,
    "s7_orc_roundtrip" ->
      """SELECT 'orc' AS fmt, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id < 1000""".stripMargin,
    "s8_text_roundtrip" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)) AS BIGINT) AS sum_hash,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len
        |FROM documents""".stripMargin,
    "c23_frame_sample" ->
      s"""WITH m AS (SELECT doc_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS fmt,
        |  CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS cs
        |FROM documents),
        |v AS (SELECT doc_id, CAST(16 + cs % ${Multimodal.WidthSpan} AS INT) AS width, CAST(16 + (cs // 7) % ${Multimodal.HeightSpan} AS INT) AS height,
        |  CAST(1 + cs % ${Multimodal.FrameSpan} AS INT) AS n_frames
        |FROM m WHERE fmt = 'video'),
        |f AS (SELECT doc_id, n_frames, width, height,
        |  least(n_frames, ${Multimodal.FrameBudget}) AS cnt, unnest(generate_series(0, least(n_frames, ${Multimodal.FrameBudget}) - 1)) AS i
        |FROM v)
        |SELECT doc_id,
        |  CAST(i * n_frames // cnt AS BIGINT) AS frame_idx,
        |  n_frames,
        |  CAST(width * ${Multimodal.SizeBudget} // greatest(width, height) AS INT) AS resized_w,
        |  CAST(height * ${Multimodal.SizeBudget} // greatest(width, height) AS INT) AS resized_h,
        |  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i * n_frames // cnt AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS DOUBLE) / 255.0 AS frame_score
        |FROM f""".stripMargin,
    "c22_pii_redact" -> OracleGen.c22PiiRedact,
    "c19_stratified_sample" ->
      s"""SELECT doc_id, lang,
        |  CAST(concat('0x', substr(md5('sample_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5('sample_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
        |  < CASE WHEN lang = 'en' THEN ${Sampling.EnRatePerMille} ELSE ${Sampling.DefaultRatePerMille} END""".stripMargin,
    // T=2 on purpose: sqrt is correctly rounded in IEEE so both engines
    // compute the identical integer threshold (a general pow would not be)
    "c36_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |mn AS (SELECT min(n) AS n_min FROM c),
        |r AS (SELECT lang, CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n) * ${Sampling.MixBucketSpace}) AS BIGINT) AS thr FROM c, mn),
        |b AS (SELECT doc_id, lang,
        |  CAST(concat('0x', substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % ${Sampling.MixBucketSpace} AS bucket
        |FROM documents)
        |SELECT b.doc_id, b.lang, b.bucket, r.thr FROM b JOIN r USING (lang) WHERE b.bucket < r.thr""".stripMargin,
    // the indicative-bucket classifier in exact integer arithmetic
    // (HUGEINT cross products here, DECIMAL/BigInt on the Spark side)
    "c37_importance_score" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
        |tok AS (SELECT doc_id, lang, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % ${TextAnalysis.ImportanceBuckets} AS b
        |  FROM (SELECT doc_id, lang, unnest(w) AS t FROM d)),
        |stats AS (SELECT b, count(*) AS cr, count(*) FILTER (WHERE lang = '${TextAnalysis.ImportanceTargetLang}') AS ct
        |  FROM tok GROUP BY b),
        |tot AS (SELECT CAST(sum(cr) AS HUGEINT) AS tr, CAST(sum(ct) AS HUGEINT) AS tt FROM stats),
        |ind AS (SELECT b FROM stats, tot WHERE CAST(ct AS HUGEINT) * tr > CAST(cr AS HUGEINT) * tt),
        |nt AS (SELECT doc_id, lang, count(*) AS n_tokens FROM tok GROUP BY 1, 2),
        |ni AS (SELECT doc_id, count(*) AS n_ind FROM tok JOIN ind USING (b) GROUP BY 1)
        |SELECT nt.doc_id, nt.lang, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(ni.n_ind, 0) AS BIGINT) AS n_ind,
        |  CAST(COALESCE(ni.n_ind, 0) AS DOUBLE) / nt.n_tokens AS affinity
        |FROM nt LEFT JOIN ni USING (doc_id)""".stripMargin,
    // c31's chunk definition + lexicographic-min canonical instance
    // the relational statement of MERGE: updates win on key, base
    // survives unmatched, inserts append
    "s9_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice, 'U' AS o_orderstatus
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_custkey, o_totalprice, 'N'
        |  FROM base WHERE o_orderkey % 97 = 0)
        |SELECT * FROM upd
        |UNION ALL
        |SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)""".stripMargin,
    // equality delete applies only to sequence-1 rows; the sequence-3
    // re-insert of every 22nd key survives with its new status
    "s28_equality_deletes" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM base WHERE o_orderkey % 11 <> 5
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, 'R' AS o_orderstatus
        |FROM base WHERE o_orderkey % 22 = 5""".stripMargin,
    // keep-years = years divisible by 3; the fact side is recomputed
    // from source (pruning must never change results, only scan cost)
    "s27_dynamic_pruning" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) % 3 = 0
        |GROUP BY 1""".stripMargin,
    // positions reconstructed relationally: rank by key within bucket
    // must equal the parquet row index of the sorted single-file write
    "s26_position_deletes" ->
      s"""WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
         |  o_orderkey % ${graft.sources.Formats.PosDeleteBuckets} AS bucket FROM orders),
         |p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY o_orderkey) - 1 AS pos FROM b),
         |dv AS (SELECT bucket, pos FROM p
         |  WHERE o_custkey % ${graft.sources.Formats.PosDeleteMod} = ${graft.sources.Formats.PosDeleteRem})
         |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         |FROM p WHERE NOT EXISTS (
         |  SELECT 1 FROM dv WHERE dv.bucket = p.bucket AND dv.pos = p.pos)""".stripMargin,
    "b50_dist_windows" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS pct_rank,
        |  CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS cume_dist
        |FROM orders""".stripMargin,
    "s25_manifest_stats" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |WHERE o_custkey >= ${graft.sources.Formats.StatsQueryLo} AND o_custkey <= ${graft.sources.Formats.StatsQueryHi}""".stripMargin,
    // committed two-commit union only — the planted orphan keys
    // (+70000000) must be absent after the sweep
    "s24_orphan_files" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1""".stripMargin,
    "s23_partition_evolution" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE month(o_orderdate) = 3 AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin,
    "c81_token_fertility" ->
      """WITH d AS (SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS nb,
        |  CAST(length(text) AS BIGINT) AS nc
        |FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(nw) AS BIGINT) AS total_words,
        |  CAST(SUM(nb) AS BIGINT) AS total_subtokens,
        |  CAST(SUM(nc) AS BIGINT) AS total_chars,
        |  CAST(CAST(SUM(nb) AS BIGINT) AS DOUBLE) / CAST(SUM(nw) AS BIGINT) AS fertility,
        |  CAST(CAST(SUM(nc) AS BIGINT) AS DOUBLE) / CAST(SUM(nb) AS BIGINT) AS chars_per_subtoken
        |FROM d GROUP BY lang""".stripMargin,
    // final state after v1 create / v2 append / v3 rewrite-update /
    // checkpoint / v4 append — prices pass through untouched, so the
    // compare is float-op-free
    "s22_delta_log" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders)
        |SELECT o_orderkey, 'REWRITTEN' AS o_orderpriority, o_totalprice FROM base WHERE o_orderkey % 2 = 0
        |UNION ALL SELECT o_orderkey, o_orderpriority, o_totalprice FROM base WHERE o_orderkey % 2 = 1
        |UNION ALL SELECT o_orderkey + 50000000, o_orderpriority, o_totalprice FROM base WHERE o_orderkey % 101 = 0""".stripMargin,
    "c38_chunk_dedup" -> OracleGen.c38ChunkDedup,
    "c20_training_pipeline" ->
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') w FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM d),
        |qs AS (SELECT doc_id, n_tokens,
        |  CASE WHEN n_chars = 0 THEN 0.0 ELSE
        |    CAST(n_stop AS DOUBLE) / n_tokens * 0.4 +
        |    CAST(alpha_chars AS DOUBLE) / n_chars * 0.3 +
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3 END AS quality_score
        |FROM m),
        |sc AS (SELECT doc_id,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(w, t -> t = 'data' OR t = 'table')) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(w, t -> t = 'merge' OR t = 'line')) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(w, t -> t = 'order' OR t = 'group')) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(w, t -> t = 'key' OR t = 'value')) AS BIGINT) AS s_zh
        |FROM d),
        |lang AS (SELECT doc_id,
        |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_en AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       ELSE 'zh' END AS pred_lang
        |FROM sc),
        |kept AS (SELECT d.doc_id, d.text, qs.n_tokens, qs.quality_score
        |  FROM d JOIN qs USING (doc_id) WHERE qs.quality_score >= ${Sampling.QualityThreshold}),
        |canonical AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
        |samp AS (SELECT k.doc_id, k.n_tokens, k.quality_score, l.pred_lang
        |  FROM kept k JOIN canonical USING (doc_id) JOIN lang l USING (doc_id)
        |  WHERE CAST(concat('0x', substr(md5('sample_' || CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
        |    < CASE WHEN l.pred_lang = 'en' THEN ${Sampling.EnRatePerMille} ELSE ${Sampling.DefaultRatePerMille} END)
        |SELECT pred_lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  MIN(quality_score) AS min_quality, MAX(quality_score) AS max_quality
        |FROM samp GROUP BY 1""".stripMargin,
    // c8's scorer + argmax wrapped in the (labeled, predicted) rollup —
    // the CASE mirrors c8's oracle text exactly (same tie-break order)
    "c84_lang_confusion" ->
      """WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(w, t -> t = 'data' OR t = 'table')) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(w, t -> t = 'merge' OR t = 'line')) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(w, t -> t = 'order' OR t = 'group')) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(w, t -> t = 'key' OR t = 'value')) AS BIGINT) AS s_zh
        |FROM docs),
        |p AS (SELECT doc_id, lang,
        |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_en AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       ELSE 'zh' END AS pred_lang
        |FROM s)
        |SELECT lang, pred_lang, COUNT(*) AS n_docs
        |FROM p GROUP BY lang, pred_lang""".stripMargin,
    "c8_text_langid" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(w, t -> t = 'data' OR t = 'table')) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(w, t -> t = 'merge' OR t = 'line')) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(w, t -> t = 'order' OR t = 'group')) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(w, t -> t = 'key' OR t = 'value')) AS BIGINT) AS s_zh
        |FROM docs)
        |SELECT doc_id,
        |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_en AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       ELSE 'zh' END AS pred_lang,
        |  s_en, s_es, s_fr, s_de, s_zh
        |FROM s""".stripMargin,
    "c9_text_quality" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') w FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM d)
        |SELECT doc_id, n_tokens, n_stop, alpha_chars, n_chars,
        |  CASE WHEN n_chars = 0 THEN 0.0 ELSE
        |    CAST(n_stop AS DOUBLE) / n_tokens * 0.4 +
        |    CAST(alpha_chars AS DOUBLE) / n_chars * 0.3 +
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3 END AS quality_score
        |FROM m""".stripMargin,
    "c10_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "c11_text_fingerprint" -> OracleGen.c11Fingerprint,
    // mirrors Multimodal.decodeStub: features from the first 32 bits of
    // md5(payload), payload = UTF-8 text bytes
    "c12_multimodal_decode" ->
      s"""WITH m AS (SELECT doc_id,
        |  (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INT)] AS fmt,
        |  CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS cs
        |FROM documents)
        |SELECT doc_id, fmt,
        |  CAST(16 + cs % ${Multimodal.WidthSpan} AS INT) AS width,
        |  CAST(16 + (cs // 7) % ${Multimodal.HeightSpan} AS INT) AS height,
        |  CAST(CASE WHEN fmt = 'video' THEN 1 + cs % ${Multimodal.FrameSpan} ELSE 1 END AS INT) AS n_frames,
        |  CAST(cs % 256 AS DOUBLE) / 255.0 AS brightness
        |FROM m""".stripMargin,
    "c105_image_dhash_pairs" -> OracleGen.c105ImageDhashPairs,
    "c15_bigram_lm" -> OracleGen.c15BigramLm,
    "c16_dedup_clusters" -> OracleGen.c16Clusters,
    "c51_cluster_sizes" -> OracleGen.c51ClusterSizes,
    // same salted-md5 coin as the Spark column (c19's idiom, 'split_' salt)
    "c52_corpus_split" ->
      s"""WITH d AS (SELECT
        |  CASE WHEN CAST(concat('0x', substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < ${Sampling.SplitTrainPerMille} THEN 'train'
        |       WHEN CAST(concat('0x', substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < ${Sampling.SplitValPerMille} THEN 'val'
        |       ELSE 'test' END AS split,
        |  lang, len(string_split(text, ' ')) AS nt
        |FROM documents)
        |SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
        |FROM d GROUP BY split, lang""".stripMargin,
    // c21's rolling-shingle arithmetic, scoped per source; positions keep
    // multiplicity (no DISTINCT) because coverage counts positions
    "c53_boilerplate" ->
      s"""WITH docs AS (SELECT doc_id, source, string_split(text, ' ') w FROM documents),
        |toks AS (SELECT doc_id, source, list_transform(w, t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)) AS ht FROM docs),
        |pos AS (SELECT doc_id, source, unnest(list_transform(
        |  generate_series(1, greatest(len(ht) - 4, 0)),
        |  i -> (ht[i + 0] * 1185921 + ht[i + 1] * 35937 + ht[i + 2] * 1089 + ht[i + 3] * 33 + ht[i + 4] * 1) % 4294967311)) AS h FROM toks),
        |hot AS (SELECT source, h FROM (
        |  SELECT source, h, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY source, h) t
        |  WHERE df >= ${TextAnalysis.BoilerplateDfMin}),
        |tot AS (SELECT doc_id, COUNT(*) AS n_pos FROM pos GROUP BY doc_id),
        |boil AS (SELECT p.doc_id, COUNT(*) AS n_boiler FROM pos p JOIN hot USING (source, h) GROUP BY p.doc_id)
        |SELECT t.doc_id, t.n_pos, COALESCE(b.n_boiler, 0) AS n_boiler,
        |  CAST(COALESCE(b.n_boiler, 0) AS DOUBLE) / t.n_pos AS boiler_frac
        |FROM tot t LEFT JOIN boil b USING (doc_id)""".stripMargin,
    // c6's exact scoring with the label predicate as the join key
    "c54_ann_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |nm AS (SELECT vec_id, label, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM e),
        |q AS (SELECT vec_id AS query_id, label, vn AS qv FROM nm WHERE vec_id < ${VectorOps.NumQueryVecs}),
        |c AS (SELECT vec_id AS neighbor_id, label, vn AS cv FROM nm WHERE vec_id >= ${VectorOps.NumQueryVecs}),
        |s AS (SELECT query_id, neighbor_id, list_dot_product(qv, cv) AS cos
        |  FROM q JOIN c USING (label))
        |SELECT query_id, neighbor_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
        |  cos
        |FROM s
        |QUALIFY rank <= ${VectorOps.TopK}""".stripMargin,
    "c33_canonical_corpus" -> OracleGen.c33CanonicalCorpus,
    "c34_cross_source_neardups" -> OracleGen.c34CrossSourceNearDups,
    "c55_neardup_incremental" -> OracleGen.c55NearDupIncremental,
    // the persisted-index serve path produces c55's verdicts verbatim —
    // same oracle (the index changes WHERE signatures come from, not
    // what a near-dup is)
    "s20_neardup_index" -> OracleGen.c55NearDupIncremental,
    "c73_split_leakage" -> OracleGen.c73SplitLeakage,
    "b49_set_ops_all" -> GraftSql.SetOpsAllSql,
    "c74_ann_recall" -> OracleGen.c74AnnRecall,
    "c76_dedup_card" -> OracleGen.c76DedupCard,
    "c77_source_drift" -> OracleGen.c77SourceDrift,
    "c78_bitext_margin" -> OracleGen.c78BitextMargin,
    "c79_linear_quality" -> OracleGen.c79LinearQuality,
    "c80_ccnet_buckets" -> OracleGen.c80CcnetBuckets,
    "c82_semantic_decontam" -> OracleGen.c82SemanticDecontam,
    "c83_normalized_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT md5(text)) AS n_raw_variants
        |FROM documents GROUP BY 1""".stripMargin,
    // c8's marker scores + a row-local descending sort for the runner-up
    "c75_langid_margin" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(w, t -> t = 'data' OR t = 'table')) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(w, t -> t = 'merge' OR t = 'line')) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(w, t -> t = 'order' OR t = 'group')) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(w, t -> t = 'key' OR t = 'value')) AS BIGINT) AS s_zh
        |FROM docs),
        |p AS (SELECT doc_id,
        |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_en AND s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
        |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       ELSE 'zh' END AS pred_lang,
        |  list_sort([s_en, s_es, s_fr, s_de, s_zh], 'DESC') AS ss
        |FROM s)
        |SELECT doc_id, pred_lang, ss[1] AS top_score, ss[2] AS second_score,
        |  ss[1] - ss[2] AS margin,
        |  (ss[1] - ss[2] < ${TextAnalysis.LangidMarginMin} OR ss[1] = 0) AS low_confidence
        |FROM p""".stripMargin,
    // the clone's committed view = source base + the clone's own append;
    // a clone that copied stale data, lost the append, or disturbed the
    // source breaks rows+hash
    "s21_shallow_clone" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |UNION ALL
        |SELECT o_orderkey + 50000000, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 101 = 0""".stripMargin,
    "b47_mode_native" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, COUNT(*) AS n_occurrences FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY n_occurrences DESC, l_quantity) AS rn FROM c)
        |SELECT l_returnflag, l_quantity AS mode_quantity, n_occurrences FROM r WHERE rn = 1""".stripMargin,
    // the oracle states the declarative window form; the Spark side
    // computes the same shares from the broadcast totals decomposition
    "b48_ratio_to_report" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_orderpriority) AS VARCHAR) AS DOUBLE) AS prio_total,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |    / CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_orderpriority) AS VARCHAR) AS DOUBLE) AS price_share
        |FROM orders""".stripMargin,
    "c59_containment" -> OracleGen.c59Containment,
    "c60_hard_negatives" -> OracleGen.c60HardNegatives,
    "c61_knn_graph" -> OracleGen.c61KnnGraph,
    "c64_quality_topfrac" -> OracleGen.c64QualityTopFrac,
    "c65_doc_embedding" -> OracleGen.c65DocEmbedding,
    "b42_lateral_agg" -> GraftSql.LateralSql,
    // SUM(BIGINT)→HUGEINT and COUNT/GROUPING width casts per the
    // round-6 widening meta-spec
    "c62_dataset_card" -> {
      val st = TextAnalysis.ShortDocTokens
      s"""SELECT source, lang,
         |  CAST(GROUPING(source) AS BIGINT) AS g_source,
         |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
         |  CAST(COUNT(CASE WHEN len(string_split(text, ' ')) < $st THEN 1 END) AS BIGINT) AS n_short_docs
         |FROM documents
         |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())""".stripMargin
    },
    // c31's chunk grid + the md5 stub-encoder on both sides + c6's
    // exact cosine rank — the whole retrieval pipeline recomputed
    "c57_rag_retrieval" -> {
      val cs = TextAnalysis.ChunkSize
      val st = TextAnalysis.ChunkStride
      val embed =
        s"""list_transform(generate_series(0, ${VectorOps.RagDims - 1}),
           |  j -> CAST(CAST(concat('0x', substr(h, CAST(j * 4 + 1 AS INT), 4)) AS BIGINT) AS DOUBLE) - 32768.0)""".stripMargin
      val values = VectorOps.RagQueryTexts.zipWithIndex
        .map { case (t, i) => s"($i, '$t')" }
        .mkString(", ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |n AS (SELECT doc_id, w, greatest(CAST(ceil(CAST(len(w) - $cs AS DOUBLE) / $st) AS INT), 0) + 1 AS nc FROM d),
        |c AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS ci FROM n),
        |s AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  md5(array_to_string(list_slice(w, ci * $st + 1, ci * $st + $cs), ' ')) AS h FROM c),
        |ce AS (SELECT doc_id, chunk_idx, $embed AS v FROM s),
        |cn AS (SELECT doc_id, chunk_idx, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv FROM ce),
        |q AS (SELECT CAST(query_id AS BIGINT) AS query_id, md5(qtext) AS h FROM (VALUES $values) AS t(query_id, qtext)),
        |qe AS (SELECT query_id, $embed AS v FROM q),
        |qn AS (SELECT query_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv FROM qe),
        |sc AS (SELECT query_id, doc_id, chunk_idx, list_dot_product(qv, cv) AS cos FROM qn, cn)
        |SELECT query_id, doc_id, chunk_idx,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id, chunk_idx) AS BIGINT) AS rank,
        |  cos
        |FROM sc
        |QUALIFY rank <= ${VectorOps.RagTopK}""".stripMargin
    },
    // c57's shortlist with the hashes carried + the md5 pair scorer:
    // first 8 hex digits over 2^32 — an exact double in both engines
    "c97_cross_rerank" -> {
      val cs = TextAnalysis.ChunkSize
      val st = TextAnalysis.ChunkStride
      val embed =
        s"""list_transform(generate_series(0, ${VectorOps.RagDims - 1}),
           |  j -> CAST(CAST(concat('0x', substr(h, CAST(j * 4 + 1 AS INT), 4)) AS BIGINT) AS DOUBLE) - 32768.0)""".stripMargin
      val values = VectorOps.RagQueryTexts.zipWithIndex
        .map { case (t, i) => s"($i, '$t')" }
        .mkString(", ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |n AS (SELECT doc_id, w, greatest(CAST(ceil(CAST(len(w) - $cs AS DOUBLE) / $st) AS INT), 0) + 1 AS nc FROM d),
        |c AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS ci FROM n),
        |s AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  md5(array_to_string(list_slice(w, ci * $st + 1, ci * $st + $cs), ' ')) AS h FROM c),
        |ce AS (SELECT doc_id, chunk_idx, h, $embed AS v FROM s),
        |cn AS (SELECT doc_id, chunk_idx, h, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv FROM ce),
        |q AS (SELECT CAST(query_id AS BIGINT) AS query_id, md5(qtext) AS h FROM (VALUES $values) AS t(query_id, qtext)),
        |qe AS (SELECT query_id, h AS qh, $embed AS v FROM q),
        |qn AS (SELECT query_id, qh, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS qv FROM qe),
        |sc AS (SELECT query_id, qh, doc_id, chunk_idx, h, list_dot_product(qv, cv) AS cos FROM qn, cn),
        |top AS (SELECT query_id, qh, doc_id, chunk_idx, h,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id, chunk_idx) AS BIGINT) AS first_rank
        |  FROM sc QUALIFY first_rank <= ${VectorOps.RagTopK}),
        |scored AS (SELECT query_id, doc_id, chunk_idx, first_rank,
        |  CAST(concat('0x', substr(md5(concat(qh, '|', h)), 1, 8)) AS BIGINT) / 4294967296.0 AS ce_score
        |  FROM top)
        |SELECT query_id, doc_id, chunk_idx, first_rank, ce_score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ce_score DESC, doc_id, chunk_idx) AS BIGINT) AS rank
        |FROM scored""".stripMargin
    },
    // vocabulary-weighted adjacent-char pairs; the window mirrors the
    // Spark rank exactly (n DESC, pair) so ties cut identically
    "c56_bpe_pairs" ->
      s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w),
        |p AS (SELECT unnest(list_transform(
        |    generate_series(1, greatest(length(w) - 1, 0)),
        |    i -> substr(w, CAST(i AS INT), 2))) AS pair, cnt FROM wc),
        |agg AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n FROM p GROUP BY pair)
        |SELECT pair, n,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
        |FROM agg
        |QUALIFY rank <= ${TextAnalysis.BpeTopPairs}""".stripMargin,
    "b14_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "b15_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_total
        |FROM orders
        |WHERE o_custkey < 100""".stripMargin,
    "b20_rolling_window" ->
      s"""SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS rolling_90d,
        |  COUNT(*) OVER w AS n_orders_90d
        |FROM orders
        |WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL ${graft.operators.Relational.RollingDays} DAYS PRECEDING AND CURRENT ROW)""".stripMargin,
    "b18_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "b17_topk_native" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "b16_promo_revenue" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) ELSE 0 END) AS DOUBLE)
        |  / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS promo_revenue,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE) AS total_revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,
    // same text object the Spark side executes — cannot drift
    "b13_sql_q6" -> GraftSql.Q6Sql,
    // same text both engines — the dialect-shared subset
    "b19_sql_correlated" -> GraftSql.Q17Sql,
    "c13_sql_vector" ->
      """WITH e AS (SELECT vec_id,
        |             list_transform(CAST(embedding AS DOUBLE[]),
        |               x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))) AS vn
        |           FROM embeddings),
        |q AS (SELECT vn AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id AS neighbor_id, list_dot_product(e.vn, q.qv) AS cos
        |FROM e CROSS JOIN q
        |WHERE e.vec_id >= 10
        |ORDER BY cos DESC, neighbor_id
        |LIMIT 5""".stripMargin,
    "s1_format_roundtrip" ->
      """WITH src AS (SELECT event_id, user_id, event_type, value FROM events WHERE event_id < 1000),
        |agg AS (SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id,
        |               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |        FROM src)
        |SELECT 'parquet' AS fmt, n, sum_id, sum_value FROM agg
        |UNION ALL SELECT 'csv', n, sum_id, sum_value FROM agg
        |UNION ALL SELECT 'json', n, sum_id, sum_value FROM agg""".stripMargin,
    "s2_partitioned_write" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) IN (1996, 1997)
        |GROUP BY 1""".stripMargin,
    // s5 aggregates the COMPACTED copy; the oracle reads the source
    // table directly, so any row lost or mutated by the rewrite breaks
    // the hash (layout effects asserted separately in PlanSpec)
    "s5_compaction" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY 1""".stripMargin,
    // rewrite fidelity: the z-ordered table must aggregate identically
    // to the source (the z-value is layout only, never content)
    "s14_zorder" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin,
    // reconstructs the schema-merged union: even keys predate the
    // o_orderpriority column (null-backfilled), odd keys carry it
    "s6_schema_evolution" ->
      """WITH m AS (
        |  SELECT o_totalprice, o_orderkey % 1000 AS o_units, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_totalprice, o_orderkey % 1000, o_orderpriority FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_totalprice, o_orderkey % 1000, o_orderpriority FROM orders WHERE o_orderkey % 3 = 2)
        |SELECT COALESCE(o_orderpriority, 'PRE_SCHEMA') AS prio, COUNT(*) AS n,
        |  CAST(SUM(o_units) AS BIGINT) AS sum_units,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM m GROUP BY 1""".stripMargin,
    // non-1996 partitions untouched; 1996 replaced by the corrected
    // batch (even keys only, repriced) — append or truncate both break
    "s10_dynamic_overwrite" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS o_year FROM orders),
        |m AS (
        |  SELECT o_totalprice, o_year FROM t WHERE o_year <> 1996
        |  UNION ALL
        |  SELECT o_totalprice + 50.0, o_year FROM t WHERE o_year = 1996 AND o_orderkey % 2 = 0)
        |SELECT o_year, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM m GROUP BY 1""".stripMargin,
    // v1 = base snapshot (still readable after the v2 commit), v2 = the
    // merged state behind the pointer — a mutated v1, stale pointer, or
    // merge bug each breaks the hash
    "s11_time_travel" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal FROM base WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_nationkey, c_acctbal FROM base WHERE c_custkey % 53 = 0),
        |v2 AS (SELECT * FROM upd
        |  UNION ALL
        |  SELECT b.* FROM base b WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = b.c_custkey))
        |SELECT 1 AS version, * FROM base
        |UNION ALL
        |SELECT 2 AS version, * FROM v2""".stripMargin,
    // the published WAP chain = base then the GOOD merge; the rejected
    // duplicate-key batch must leave no trace in the final state — a
    // leaked bad candidate doubles keys and breaks rows + hash
    "s15_write_audit_publish" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal FROM base WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_nationkey, c_acctbal FROM base WHERE c_custkey % 53 = 0),
        |v2 AS (SELECT * FROM upd
        |  UNION ALL
        |  SELECT b.* FROM base b WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = b.c_custkey))
        |SELECT * FROM v2""".stripMargin,
    // the three-commit append chain reconstructed relationally: a lost
    // batch, a double-listed file, or a disturbed base breaks the hash
    "s17_manifest_append" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |UNION ALL
        |SELECT o_orderkey + 30000000, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 97 = 0
        |UNION ALL
        |SELECT o_orderkey + 40000000, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 53 = 0""".stripMargin,
    // suppressed cells merge into the complementary bucket; totals are
    // preserved (suppress-don't-drop), so a dropped small cell breaks
    // BOTH the bucket row and the corpus reconciliation
    "c63_kanon_report" -> {
      val k = Sampling.KAnonMin
      s"""WITH cells AS (SELECT source, lang, COUNT(*) AS cn,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ct
         |  FROM documents GROUP BY 1, 2)
         |SELECT CASE WHEN cn < $k THEN '_suppressed' ELSE source END AS source,
         |  CASE WHEN cn < $k THEN '_suppressed' ELSE lang END AS lang,
         |  CAST(SUM(cn) AS BIGINT) AS n_docs,
         |  CAST(SUM(ct) AS BIGINT) AS n_tokens
         |FROM cells GROUP BY 1, 2""".stripMargin
    },
    // the salvage set and quarantine count reconstructed from the
    // source table: every non-corrupted doc must survive ingestion with
    // its chars intact, every corrupted line must be counted
    "s16_bad_records" -> {
      val e = graft.sources.Formats.BadRecordEvery
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
         |FROM documents WHERE doc_id % $e <> 0 GROUP BY lang
         |UNION ALL
         |SELECT '_corrupt' AS lang, COUNT(*) AS n_docs, 0 AS sum_chars
         |FROM documents WHERE doc_id % $e = 0""".stripMargin
    },
    // the quarantine classes replayed from the planting rule against
    // the clean source (the classes are disjoint residues, so rule
    // order is irrelevant)
    "s29_vector_quarantine" -> {
      val e = graft.sources.Formats.BadVecEvery
      s"""SELECT CASE WHEN vec_id % $e = 7 THEN 'null_vec'
         |  WHEN vec_id % $e = 0 THEN 'bad_dim'
         |  WHEN vec_id % $e = 5 THEN 'nan_component'
         |  ELSE 'ok' END AS status,
         |  COUNT(*) AS n_vecs,
         |  CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
         |  MIN(vec_id) AS min_vec_id,
         |  MAX(vec_id) AS max_vec_id
         |FROM embeddings
         |GROUP BY 1""".stripMargin
    },
    // the post-vacuum pointer state = the v3 merge chain reconstructed
    // relationally — a vacuum that deletes a live version, resurrects
    // dropped rows, or corrupts the chain each breaks the hash
    "s13_vacuum" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal FROM base WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_nationkey, c_acctbal FROM base WHERE c_custkey % 53 = 0),
        |v2 AS (SELECT * FROM upd
        |  UNION ALL
        |  SELECT b.* FROM base b WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = b.c_custkey))
        |SELECT c_custkey, c_nationkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal - 50.0 ELSE c_acctbal END AS c_acctbal
        |FROM v2""".stripMargin,
    // the CDC feed between the reconstructed versions: only changed
    // keys, update keys as a pre/post image pair — a missed delete, a
    // phantom update, or a swapped image each breaks the hash
    "s12_cdc_read" ->
      """WITH v1 AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
        |kept AS (SELECT * FROM v1 WHERE c_custkey % 13 <> 0),
        |upd AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal + 100.0 AS c_acctbal FROM kept WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, c_nationkey, c_acctbal FROM v1 WHERE c_custkey % 53 = 0),
        |v2 AS (SELECT * FROM upd
        |  UNION ALL
        |  SELECT k.* FROM kept k WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = k.c_custkey)),
        |pairs AS (SELECT a.c_custkey, a.c_nationkey AS pn, a.c_acctbal AS pb,
        |    b.c_nationkey AS qn, b.c_acctbal AS qb
        |  FROM v1 a JOIN v2 b ON a.c_custkey = b.c_custkey
        |  WHERE a.c_nationkey <> b.c_nationkey OR a.c_acctbal <> b.c_acctbal)
        |SELECT 'delete' AS change_type, a.* FROM v1 a
        |  WHERE NOT EXISTS (SELECT 1 FROM v2 b WHERE b.c_custkey = a.c_custkey)
        |UNION ALL
        |SELECT 'insert' AS change_type, b.* FROM v2 b
        |  WHERE NOT EXISTS (SELECT 1 FROM v1 a WHERE a.c_custkey = b.c_custkey)
        |UNION ALL
        |SELECT 'update_preimage' AS change_type, c_custkey, pn AS c_nationkey, pb AS c_acctbal FROM pairs
        |UNION ALL
        |SELECT 'update_postimage' AS change_type, c_custkey, qn AS c_nationkey, qb AS c_acctbal FROM pairs""".stripMargin,
    "s3_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "s4_salted_join" ->
      """SELECT c_mktsegment AS segment, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin
  )
}
