package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * Every key in [[queries]] has a DuckDB-dialect twin in [[oracleSql]]
  * (when SQL-expressible) run by the driver over the same parquet tables;
  * the pair must hash-match. Determinism discipline (tie-breakers, pinned
  * null ordering, decimal casts, string-formatted timestamps) per
  * SURVEY.md §7.4.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.report1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1/2.2 scans + expressions
    "s1_scan_project" -> (Queries.s1ScanProject _),
    "p3_literal_column" -> (Queries.p3Literal _),
    "p4_case_classification" -> (Queries.p4CaseClassification _),
    "p6_date_parse" -> (Queries.p6DateParse _),
    "p9_date_format" -> (Queries.p9DateFormat _),
    // §2.3 filters
    "f1_filter_eq" -> (Queries.f1FilterEq _),
    "f2_conjunctive_filter" -> (Queries.f2Conjunctive _),
    "f4_in_list" -> (Queries.f4InList _),
    "f5_isnull_filter" -> (Queries.f5IsNullFilter _),
    // §2.4 joins
    "j1_left_join_sentinel" -> (Queries.j1LeftJoinSentinel _),
    "j2_semi_join" -> (Queries.j2SemiJoin _),
    "j3_anti_join" -> (Queries.j3AntiJoin _),
    "j7_bloom_prune" -> (Queries.j7BloomPrune _),
    "j5_full_outer" -> (Queries.j5FullOuter _),
    "j6_salted_join" -> (Queries.j6SaltedJoin _),
    "j6_salted_join_adaptive" -> (Queries.j6SaltedJoinAdaptive _),
    "agg_quartiles_manual" -> (Queries.aggQuartilesManual _),
    "qa_profile_numeric" -> (Queries.qaProfileNumeric _),
    // §2.5/2.7 windows / sort / limit
    "w1_latest_per_key" -> (Queries.w1LatestPerKey _),
    "w1_latest_per_key_salted" -> (Queries.w1LatestPerKeySalted _),
    "w1_latest_per_key_adaptive" -> (Queries.w1LatestPerKeyAdaptive _),
    "w2_topk_per_key" -> (Queries.w2TopKPerKey _),
    "w2_topk_native" -> (Queries.w2TopKPerKeyNative _),
    "w3_running_total" -> (Queries.w3RunningTotal _),
    "w4_window_suite" -> (Queries.wWindowSuite _),
    "agg_stats" -> (Queries.aggStats _),
    "q_array_agg" -> (Queries.qArrayAgg _),
    "q_correlated_subquery" -> (Queries.qCorrelatedSubquery _),
    "q_pivot_sales" -> (Queries.qPivotSales _),
    "q_unpivot_metrics" -> (Queries.qUnpivotMetrics _),
    "q_datetime_fns" -> (Queries.qDatetimeFns _),
    "q_string_fns" -> (Queries.qStringFns _),
    "o1_limit_topk" -> (Queries.o1LimitTopK _),
    // §2.6 aggregations / QA
    "a1_count_star" -> (Queries.a1CountStar _),
    "a2_distinct_count_literal" -> (Queries.a2DistinctCountLiteral _),
    "a3_group_having_duplicates" -> (Queries.a3GroupHavingDuplicates _),
    "a4_parse_failure_count" -> (Queries.a4ParseFailureCount _),
    "qa_uniqueness_views" -> (Queries.qaUniquenessViews _),
    "qa_parse_failure_sample" -> (Queries.qaParseFailureSample _),
    "qa_profile_activities" -> (ExtQueries.qaProfileActivities _),
    "qa_profile_activities_exact" -> (ExtQueries.qaProfileActivitiesExact _),
    // full reference pipeline (staging views + reports)
    "pipeline_clean_accounts" -> (Queries.pipelineCleanAccounts _),
    "pipeline_contacts_primary" -> (Queries.pipelineContactsPrimary _),
    "pipeline_incremental_primary" -> (Queries.pipelineIncrementalPrimary _),
    "pipeline_history_scd2" -> (Queries.pipelineContactHistoryScd2 _),
    "pipeline_contacts_field" -> (Queries.pipelineContactsField _),
    "pipeline_contacts_promise" -> (Queries.pipelineContactsPromise _),
    "pipeline_contacts_restructure" -> (Queries.pipelineContactsRestructure _),
    "report1_mortgage_portfolio" -> (Queries.report1 _),
    "report2_restructuring_pipeline" -> (Queries.report2 _),
    "report3_commercial_promises" -> (Queries.report3 _),
    // analytics / bench
    "q1_pricing_summary" -> (Queries.q1PricingSummary _),
    "q3_topk_revenue" -> (Queries.q3TopkRevenue _),
    "q5_multijoin_agg" -> (Queries.q5MultijoinAgg _),
    "q_rollup_sales" -> (Queries.qRollupSales _),
    "q_cube_sales" -> (Queries.qCubeSales _),
    "q_grouping_sets" -> (Queries.qGroupingSets _),
    "events_sliding_agg" -> (Queries.eventsSlidingAgg _),
    "events_gap_fill" -> (Queries.eventsGapFill _),
    // r23: exact-dyadic time-decayed engagement score — the recency
    // weighting a freshness-biased sampler ranks on
    "events_decayed_score" -> (ExtQueries.eventsDecayedScore _),
    // r23: LTTB downsample (parallel mean-anchor variant) — ≤60
    // shape-preserving points per series, exact integer triangles
    "events_downsample_lttb" -> (ExtQueries.eventsDownsampleLttb _),
    "events_user_growth" -> (Queries.eventsUserGrowth _),
    "events_anomaly_zscore" -> (Queries.eventsAnomalyZscore _),
    "events_cohort_retention" -> (Queries.eventsCohortRetention _),
    "events_funnel" -> (Queries.eventsFunnel _),
    "report1_from_bucketed" -> (Queries.report1FromBucketed _),
    "q_set_ops" -> (Queries.qSetOps _),
    "events_hourly_agg" -> (Queries.eventsHourlyAgg _),
    "source_json_roundtrip" -> (Queries.sourceJsonRoundtrip _),
    "source_orc_roundtrip" -> (Queries.sourceOrcRoundtrip _),
    "source_csv_roundtrip" -> (Queries.sourceCsvRoundtrip _),
    "source_partitioned_roundtrip" -> (Queries.sourcePartitionedRoundtrip _),
    "events_sessionize" -> (Queries.eventsSessionize _),
    "events_json_extract" -> (Queries.eventsJsonExtract _),
    "events_asof_join" -> (Queries.eventsAsofJoin _),
    "events_interval_join" -> (Queries.eventsIntervalJoin _),
    "events_regression" -> (Queries.eventsRegression _),
    // LLM-data-pipeline extensions
    "dedup_exact" -> (ExtQueries.dedupExact _),
    "dedup_ngram_jaccard" -> (ExtQueries.dedupNgramJaccard _),
    "dedup_minhash_lsh" -> (ExtQueries.dedupMinhashLsh _),
    "dedup_ngram_verified" -> (ExtQueries.dedupNgramVerified _),
    "dedup_simhash" -> (ExtQueries.dedupSimhash _),
    "dedup_image_phash" -> (ExtQueries.dedupImagePhash _),
    "dedup_video_phash" -> (ExtQueries.dedupVideoPhash _),
    "dedup_audio_phash" -> (ExtQueries.dedupAudioPhash _),
    "pipeline_dedup_image_incremental" -> (ExtQueries.pipelineDedupImageIncremental _),
    "streaming_dedup_phash" -> (ExtQueries.streamingDedupPhash _),
    "dedup_embedding_cosine" -> (ExtQueries.dedupEmbeddingCosine _),
    "dedup_clusters" -> (ExtQueries.dedupClusters _),
    "dedup_clusters_star" -> (ExtQueries.dedupClustersStar _),
    "graph_pagerank" -> (ExtQueries.graphPageRank _),
    "dedup_semantic" -> (ExtQueries.dedupSemantic _),
    "pipeline_dedup_canonical" -> (ExtQueries.pipelineDedupCanonical _),
    "pipeline_dedup_weights" -> (ExtQueries.pipelineDedupWeights _),
    "pipeline_dedup_incremental" -> (ExtQueries.pipelineDedupIncremental _),
    "pipeline_dedup_embedding_incremental" -> (ExtQueries.pipelineDedupEmbeddingIncremental _),
    "pipeline_dedup_published" -> (ExtQueries.pipelineDedupPublished _),
    "pipeline_dedup_exact_incremental" -> (ExtQueries.pipelineDedupExactIncremental _),
    "pipeline_state_publish" -> (ExtQueries.pipelineStatePublish _),
    "streaming_dedup_bands" -> (ExtQueries.streamingDedupBands _),
    "pipeline_dedup_incremental_clusters" -> (ExtQueries.pipelineDedupIncrementalClusters _),
    "pipeline_dedup_incremental_weights" -> (ExtQueries.pipelineDedupIncrementalWeights _),
    "streaming_dedup_bands_stateful" -> (ExtQueries.streamingDedupBandsStateful _),
    "streaming_dedup_bands_tws" -> (ExtQueries.streamingDedupBandsTws _),
    "text_bpe_merges" -> (ExtQueries.textBpeMerges _),
    "text_bpe_train" -> (ExtQueries.textBpeTrain _),
    "text_bpe_encode" -> (ExtQueries.textBpeEncode _),
    "text_chunks" -> (ExtQueries.textChunks _),
    "text_token_count" -> (ExtQueries.textTokenCount _),
    "text_quality_score" -> (ExtQueries.textQualityScore _),
    // r23: HTML boilerplate strip — comments, tags, entities,
    // whitespace; the first (cheapest) pass of a web-scrape funnel
    "text_html_strip" -> (ExtQueries.textHtmlStrip _),
    // r23: embedding drift QA — per-dim fixed-point sum shift between
    // snapshots, top-8 drifted dims (the encoder-regression detector)
    "qa_embedding_drift" -> (ExtQueries.qaEmbeddingDrift _),
    // r23: week-over-week movers — integer weekly deltas per
    // event_type, top-8 by absolute move (the trend sweep)
    "events_wow_movers" -> (ExtQueries.eventsWowMovers _),
    // r23: sequence-length histogram — the packing planner's input
    // (per-bin doc counts, token totals, integer ppm shares)
    "text_length_histogram" -> (ExtQueries.textLengthHistogram _),
    // r23: the dataset card — one integer-exact (metric, value) table
    // per corpus release
    "pipeline_dataset_card" -> (ExtQueries.pipelineDatasetCard _),
    "text_quality_filter" -> (ExtQueries.textQualityFilter _),
    "text_lang_id" -> (ExtQueries.textLangId _),
    "text_sentiment" -> (ExtQueries.textSentiment _),
    "text_repetition" -> (ExtQueries.textRepetition _),
    "text_tfidf_topk" -> (ExtQueries.textTfidfTopK _),
    "text_bigram_lm" -> (ExtQueries.textBigramLm _),
    "text_decontaminate" -> (ExtQueries.textDecontaminate _),
    "text_substring_spans" -> (ExtQueries.textSubstringSpans _),
    "text_segment_dedup" -> (ExtQueries.textSegmentDedup _),
    "qa_sketch_reagg" -> (ExtQueries.qaSketchReagg _),
    "agg_quantile_sketch" -> (ExtQueries.aggQuantileSketch _),
    "qa_cms_freq" -> (ExtQueries.qaCmsFreq _),
    "qa_key_skew" -> (ExtQueries.qaKeySkew _),
    "pipeline_snapshot_diff" -> (ExtQueries.pipelineSnapshotDiff _),
    "pipeline_curriculum_bins" -> (ExtQueries.pipelineCurriculumBins _),
    "qa_sketch_set_algebra" -> (ExtQueries.qaSketchSetAlgebra _),
    "events_rolling_distinct" -> (ExtQueries.eventsRollingDistinct _),
    "layout_zorder" -> (ExtQueries.layoutZorder _),
    "text_decontaminate_fuzzy" -> (ExtQueries.textDecontaminateFuzzy _),
    "text_pii_redact" -> (ExtQueries.piiRedact _),
    "sample_source_quota" -> (ExtQueries.sampleSourceQuota _),
    "pack_sequences" -> (ExtQueries.packSequences _),
    "pack_sequences_bpe" -> (ExtQueries.packSequencesBpe _),
    "pack_chunked_sequences" -> (ExtQueries.packChunkedSequences _),
    "mix_upsample" -> (ExtQueries.mixUpsample _),
    "pipeline_prepare_corpus" -> (ExtQueries.pipelinePrepareCorpus _),
    "text_fingerprint" -> (ExtQueries.textFingerprint _),
    "text_vocab_topk" -> (ExtQueries.textVocabTopK _),
    "sample_digest_bernoulli" -> (ExtQueries.sampleDigestBernoulli _),
    // r22: Efraimidis–Spirakis weighted sampling w/o replacement —
    // per-row digest priority u^(1/w), bounded-heap top-B
    "sample_weighted" -> (ExtQueries.sampleWeighted _),
    "pipeline_train_split" -> (ExtQueries.pipelineTrainSplit _),
    "text_rolling_fingerprint" -> (ExtQueries.textRollingFingerprint _),
    "text_bpe_tokens" -> (ExtQueries.textBpeTokens _),
    "sim_cosine_topk" -> (ExtQueries.simCosineTopK _),
    "sim_ann_lsh_topk" -> (ExtQueries.simAnnLshTopK _),
    // r23: mutual-kNN graph over the corpus — banded-LSH blocks,
    // directed top-5, canonical undirected edges with the mutual flag
    "embed_knn_graph" -> (ExtQueries.embedKnnGraph _),
    // r23: communities over the mutual edges — fixed-round min-label
    // components (convergence require()d so the unrolled oracle holds)
    "embed_knn_communities" -> (ExtQueries.embedKnnCommunities _),
    // r23: incremental kNN-graph maintenance — only bucket-touched
    // nodes recompute; incremental = batch by construction
    "embed_knn_incremental" -> (ExtQueries.embedKnnIncremental _),
    "sim_ivf_topk" -> (ExtQueries.simIvfTopK _),
    "sim_ivf_kmeans_topk" -> (ExtQueries.simIvfKmeansTopK _),
    "sim_ivf_stored_topk" -> (ExtQueries.simIvfStoredTopK _),
    "sim_ivf_append_topk" -> (ExtQueries.simIvfAppendTopK _),
    "sim_ivf_drift" -> (ExtQueries.simIvfDrift _),
    "sim_ivf_compact_topk" -> (ExtQueries.simIvfCompactTopK _),
    "sim_ivf_maintain_topk" -> (ExtQueries.simIvfMaintainTopK _),
    "sim_ivf_maintain_retrain" -> (ExtQueries.simIvfMaintainRetrain _),
    "sim_quantized_topk" -> (ExtQueries.simQuantizedTopK _),
    "sim_matryoshka_topk" -> (ExtQueries.simMatryoshkaTopK _),
    "sim_pq_topk" -> (ExtQueries.simPqTopK _),
    "sim_ivfpq_topk" -> (ExtQueries.simIvfpqTopK _),
    "sim_ann_recall" -> (ExtQueries.simAnnRecall _),
    "mine_contrastive_pairs" -> (ExtQueries.mineContrastivePairs _),
    "multimodal_features" -> (ExtQueries.multimodalFeatures _),
    "multimodal_audio" -> (ExtQueries.multimodalAudio _),
    "multimodal_video" -> (ExtQueries.multimodalVideo _),
    "streaming_hourly_agg" -> (ExtQueries.streamingHourlyAgg _),
    "streaming_dedup_events" -> (ExtQueries.streamingDedupEvents _),
    "streaming_enrich_static" -> (ExtQueries.streamingEnrichStatic _),
    "streaming_distinct_users" -> (ExtQueries.streamingDistinctUsers _),
    "streaming_sessionize" -> (ExtQueries.streamingSessionize _),
    "streaming_sessionize_tws" -> (ExtQueries.streamingSessionizeTws _),
    "streaming_session_window" -> (ExtQueries.streamingSessionWindow _),
    "streaming_latest_contact" -> (ExtQueries.streamingLatestContact _),
    "streaming_interval_join" -> (ExtQueries.streamingIntervalJoin _),
    "streaming_interval_join_outer" -> (ExtQueries.streamingIntervalJoinOuter _),
    "streaming_delete_propagate" -> (ExtQueries.streamingDeletePropagate _),
    "pipeline_delete_propagate" -> (ExtQueries.pipelineDeletePropagate _),
    "pipeline_shuffle_deterministic" -> (ExtQueries.pipelineShuffleDeterministic _),
    "mix_temperature" -> (ExtQueries.mixTemperature _),
    "sample_diversity_quota" -> (ExtQueries.sampleDiversityQuota _),
    "qa_snapshot_drift" -> (ExtQueries.qaSnapshotDrift _),
    "pipeline_split_leakage_safe" -> (ExtQueries.pipelineSplitLeakageSafe _),
    // r8: delete propagation into stored state artifacts
    "pipeline_purge_digest_state" -> (ExtQueries.pipelinePurgeDigestState _),
    "pipeline_purge_band_pairs" -> (ExtQueries.pipelinePurgeBandPairs _),
    "pipeline_purge_clusters" -> (ExtQueries.pipelinePurgeClusters _),
    // r19: cluster-aware train/val/test split — near-dup components
    // inherit one split; cross-split pair count require()d zero
    "pipeline_split_by_cluster" -> (ExtQueries.pipelineSplitByCluster _),
    "sim_ivf_purge_topk" -> (ExtQueries.simIvfPurgeTopK _),
    "pipeline_delete_propagate_state" -> (ExtQueries.pipelineDeletePropagateState _),
    // driver r8: trained classifier (rule distillation, one-pass Rocchio)
    "pipeline_classifier_centroid" -> (ExtQueries.pipelineClassifierCentroid _),
    // driver r8: fuzzy entity resolution (deletion-key blocking + exact
    // Levenshtein re-score — no all-pairs scan, no prefix hot block)
    "er_fuzzy_match" -> (ExtQueries.erFuzzyMatch _),
    // driver r8: the five-stage corpus build as one audited plan
    "pipeline_curation_funnel" -> (ExtQueries.pipelineCurationFunnel _),
    // driver r8: tokenizer train -> encode as one composition
    "text_bpe_train_encode" -> (ExtQueries.textBpeTrainEncode _),
    // driver r8: declarative expectation suite (Deequ shape)
    "qa_expectation_suite" -> (ExtQueries.qaExpectationSuite _),
    // driver r8: OPTIMIZE bin-packing planner (compaction next to zorder)
    "layout_compaction" -> (ExtQueries.layoutCompaction _),
    // driver r8: hybrid lexical+vector retrieval, RRF-fused (RAG stack)
    "sim_hybrid_rrf" -> (ExtQueries.simHybridRrf _),
    // driver r8: the expectation suite in-flight (Deequ on streams)
    "streaming_expectation_suite" -> (ExtQueries.streamingExpectationSuite _),
    // driver r8: MERGE INTO semantics (upsert verb) as one outer join
    "pipeline_merge_upsert" -> (ExtQueries.pipelineMergeUpsert _),
    // driver r8: real BM25 (exact integer fixed point) behind the
    // hybrid stack's lexical leg
    "text_bm25_topk" -> (ExtQueries.textBm25TopK _),
    // driver r8: k-anonymity generalization ladder (privacy QA)
    "qa_k_anonymity" -> (ExtQueries.qaKAnonymity _),
    // driver r8: dense global ids without a single-partition sort
    "pipeline_global_ids" -> (ExtQueries.pipelineGlobalIds _),
    // driver r8: exactly-once streaming file-sink commit (idempotent
    // batchId-keyed foreachBatch; the gate reads the committed artifact)
    "streaming_publish_exactly_once" -> (ExtQueries.streamingPublishExactlyOnce _),
    // r22: streaming A-ES weighted sample — commutative top-B fold,
    // gated against the batch oracle verbatim
    "streaming_weighted_sample" ->
      ((s, dir) => graft.streaming.StreamingStage.streamingWeightedSample(s, dir)),
    // driver r8: add-column schema evolution through a mergeSchema read
    "source_schema_evolution" -> (Queries.sourceSchemaEvolution _),
    // driver r8: exact Hamilton-apportionment stratified sampling
    "sample_stratified_proportional" -> (ExtQueries.sampleStratifiedProportional _),
    // driver r8: dynamic-partition-overwrite backfill (repair IO ∝ bad
    // days, untouched partitions byte-identical)
    "pipeline_backfill_overwrite" -> (ExtQueries.pipelineBackfillOverwrite _),
    // driver r8: distributed PCA power iteration in exact fixed point
    "embed_pca_power" -> (ExtQueries.embedPcaPower _),
    // driver r8: gated precision/recall/F1 of the minhash detector
    // against the planted ground truth
    "qa_dedup_eval" -> (ExtQueries.qaDedupEval _),
    // driver r8: append-stable id assignment (ids never renumber)
    "pipeline_global_ids_incremental" -> (ExtQueries.pipelineGlobalIdsIncremental _),
    // driver r8: VERSION AS OF over the WAP history (time travel)
    "pipeline_time_travel" -> (ExtQueries.pipelineTimeTravel _),
    // driver r8: additive-state MV maintenance (fold ∝ batch)
    "pipeline_incremental_mv" -> (ExtQueries.pipelineIncrementalMv _),
    // driver r8: asymmetric containment (quote/subsumption detection)
    "dedup_containment" -> (ExtQueries.dedupContainment _),
    // driver r8: deseasonalized anomaly flags via an exact integer
    // (n·x−S)² > 9·(n·Q−S²) test — no sqrt, no float σ
    "events_anomaly_seasonal" -> (ExtQueries.eventsAnomalySeasonal _),
    // driver r8: source mixing in TOKEN units (greedy digest-order
    // prefix per source under a 600-token budget)
    "mix_token_budget" -> (ExtQueries.mixTokenBudget _),
    // driver r8: OPTIMIZE's rewrite half — compact the fragmented
    // layout, gate the read-back (the E118 planner's executor)
    "layout_compaction_exec" -> (ExtQueries.layoutCompactionExec _),
    // driver r8: retrieve-then-rerank (SQ8 int8-quantized shortlist,
    // exact re-score)
    "sim_rerank_two_stage" -> (ExtQueries.simRerankTwoStage _),
    // r14 (VERDICT r8 #1): the stored/incremental graph-artifact family
    // — query path over the content-keyed stored edge table + degree
    // spine; the edge-batch anti-join append fold; and the drift
    // decision acting on a split that trips the rebuild
    "graph_pagerank_stored" -> (ExtQueries.graphPageRankStored _),
    "graph_pagerank_append" -> (ExtQueries.graphPageRankAppend _),
    "graph_pagerank_maintain" -> (ExtQueries.graphPageRankMaintain _),
    // r14: incremental RANK maintenance — stored rank vector + edge
    // fold + 2 warm rounds instead of a cold start
    "graph_pagerank_warmstart" -> (ExtQueries.graphPageRankWarmstart _),
    // r14 (VERDICT r8 #2): variable-length exact substring repeats by
    // anchored diagonal extension — maximal per-pair match lengths,
    // gated on planted 33/17/9-word repeats
    "text_substring_extend" -> (ExtQueries.textSubstringExtend _),
    // r14: the rewrite half — cut every non-canonical maximal repeat,
    // reassemble survivors (Lee et al.'s removal, substring-granular)
    "text_substring_cut" -> (ExtQueries.textSubstringCut _),
    // r14 (VERDICT r8 #4): the end-to-end corpus build — quality →
    // canonical near-dup removal → fuzzy decontamination → BPE packing
    // → dense global ids → WAP-published pack_group shards, gated by
    // reading the PUBLISHED shards back; plus its per-stage audit
    "pipeline_build_corpus" -> (ExtQueries.pipelineBuildCorpus _),
    "pipeline_build_corpus_audit" -> (ExtQueries.pipelineBuildCorpusAudit _),
    // r14 (VERDICT r8 #5): micro-batch appends as TIME-TRAVELABLE WAP
    // versions — batchId-idempotent commit composed with the version
    // history; the gate reads every pointer-history version back
    "streaming_versioned_publish" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingVersionedPublish(s, d)),
    // r18: stream → manifest-backed table — batchId-idempotent commits
    // into VersionedTable (create then append), stale replay no-ops,
    // every version read through its own manifest
    "streaming_versioned_ingest" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingVersionedIngest(s, d)),
    // r23: the versioned table as a STREAMING SOURCE — readStream over
    // the change feed with version-number offsets, one micro-batch per
    // commit, stream-folded MV ≡ head read
    "streaming_feed_source" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingFeedSource(s, d)),
    // r24: COMPLEX columns through the feed — the array<float>
    // embedding corpus replicated via graft-feed (Spark's own parquet
    // read of the spool), replica ≡ source head; spool custody
    // (vacuum reclaims consumed windows) require()d in-gate
    "streaming_feed_embeddings" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingFeedEmbeddings(s, d)),
    // r23: the medallion hop — bronze change feed streamed into a
    // transformed SILVER versioned table, exactly-once per batch
    "streaming_table_to_table" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingTableToTable(s, d)),
    // r23: the gold hop — the feed streamed into an INCREMENTALLY
    // maintained aggregate versioned table (IVM fold per micro-batch)
    "streaming_gold_agg" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingGoldAgg(s, d)),
    // r24: MIN/MAX in the gold MV — sign-foldable columns keep the
    // delta fold; min/max recompute from silver@window-end for the
    // batch's affected groups only (untouched groups stay cold)
    "streaming_gold_agg_minmax" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingGoldAggMinMax(s, d)),
    // r24: the DECLARATIVE medallion hop — graft-feed piped straight
    // into the graft-table sink (mode=apply), zero user code; the
    // sink runs applyChanges per micro-batch, exactly-once
    "streaming_sink_medallion" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingSinkMedallion(s, d)),
    // r24: initial-snapshot streaming — startingVersion=snapshot emits
    // the table's current content as batch 0, so a from-scratch
    // consumer needs no out-of-band bootstrap (the Delta posture)
    "streaming_feed_snapshot" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingFeedSnapshot(s, d)),
    // r25: per-row commit metadata on the feed — commitVersions=true
    // stamps every row with the version that committed it and its
    // effective writer timestamp (Delta CDF's _commit_version/
    // _commit_timestamp parity)
    "streaming_feed_commit_versions" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingFeedCommitVersions(s, d)),
    // r25: raw out-of-order external CDC through the declarative sink
    // — applySeq resolves the net op per key (highest sequence wins)
    // before each fold; late arrivals lose to the ops superseding them
    "streaming_sink_applyseq" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingSinkApplySeq(s, d)),
    // r25: DLT expectations on the sink — per-batch predicate split
    // into bronze + a quarantine table, both exactly-once by the same
    // batchId watermark (the curation funnel's streaming reject leg)
    "streaming_sink_expectations" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingSinkExpectations(s, d)),
    // r25: timestamp-addressed batch CDF — the change feed between
    // the versions the table had at two instants (Delta table_changes
    // by timestamp), bounds resolved through the commit_ts index
    "layout_feed_by_timestamp" -> (ExtQueries.layoutFeedByTimestamp _),
    // r25: time-addressed zero-copy clone + append-only restore —
    // CLONE/RESTORE ... TIMESTAMP AS OF, bounds via the commit_ts index
    "layout_clone_asof" -> (ExtQueries.layoutCloneAsOf _),
    // r25: transactional band overwrite (Delta replaceWhere) — drop +
    // DV + append under ONE pointer swap; one feed window carries the
    // whole replacement
    "layout_replace_where" -> (ExtQueries.layoutReplaceWhere _),
    // r26: FSCK repair — drop manifest references to externally
    // deleted files; reads refuse before, survivors after, feed
    // windows across the repair refuse (no CDC for data loss)
    "layout_fsck_repair" -> (ExtQueries.layoutFsckRepair _),
    // r23: auto-OPTIMIZE inside the ingest loop — manifest-priced plan
    // consult per trigger, compaction absorbs the small generations,
    // batchId replay watermark inherits across maintenance commits
    "streaming_auto_optimize" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingAutoOptimize(s, d)),
    // r21: stream → MERGE (the CDC-apply sink) — per-batch pre-agg
    // folds into a keyed profile table via batchId-idempotent merges;
    // the oracle is batch-split-independent
    "streaming_merge_apply" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingMergeApply(s, d)),
    // r15: the stored/incremental inverted-index family — BM25 top-k
    // from the content-keyed stored postings + df/stats spines (zero
    // corpus-side exchanges; no query-time tokenize), and the
    // document-batch fold whose global-statistics updates (N, L, df)
    // the full-corpus oracle proves exact
    "text_bm25_stored_topk" -> (ExtQueries.textBm25StoredTopK _),
    "text_bm25_append_topk" -> (ExtQueries.textBm25AppendTopK _),
    // r15: change data feed over the WAP history — insert/update/
    // delete rows for every consecutive version pair, read back from
    // the stored versions (the Delta CDF / changelog-scan verb)
    "pipeline_change_feed" -> (ExtQueries.pipelineChangeFeed _),
    // r15: VACUUM with a retention window — keep the newest two
    // versions, physically reclaim the rest, prove survivors intact
    "pipeline_vacuum_retention" -> (ExtQueries.pipelineVacuumRetention _),
    // r16 (VERDICT r9 #4/#5): delete propagation into the two stored
    // artifacts that only had append folds — BM25 postings/spines and
    // the graph edges/degree spine; both physically rewrite the roster
    // away and fold spine retractions, gated against one-shot
    // computations over the purged corpus
    "text_bm25_purge_topk" -> (ExtQueries.textBm25PurgeTopK _),
    "graph_pagerank_purge" -> (ExtQueries.graphPageRankPurge _),
    // r16: the drift rule for the BM25 index — fold while small,
    // compacting gen-0 rebuild once appends outgrow the base, the
    // decision emitted as exact replayable counts
    "text_bm25_maintain_topk" -> (ExtQueries.textBm25MaintainTopK _),
    // r16: the CDC consumer — a row-image change feed folded over a
    // v1-seeded replica reconstructs the final snapshot exactly
    "pipeline_apply_change_feed" -> (ExtQueries.pipelineApplyChangeFeed _),
    // r16: incremental rank maintenance ACROSS a purge — yesterday's
    // stored ranks warm-start 2 rounds over the purged artifact
    "graph_pagerank_purge_warmstart" -> (ExtQueries.graphPageRankPurgeWarmstart _),
    // r16: the composed compliance audit over BOTH index families —
    // per-artifact before/after/refs/leak counts measured from the
    // purged artifacts on disk; the oracle pins every leak at zero
    "pipeline_purge_indexes_audit" -> (ExtQueries.pipelinePurgeIndexesAudit _),
    // r16: the production RAG stack — BM25 leg from stored postings,
    // IVF leg from stored lists, RRF fusion; zero corpus access at
    // query time
    "sim_hybrid_stored_rrf" -> (ExtQueries.simHybridStoredRrf _),
    // r16: purged-marker compaction into the _BURNED watermark — the
    // burned-number contract survives the fold (next publish = v00005)
    "pipeline_vacuum_compact_markers" -> (ExtQueries.pipelineVacuumCompactMarkers _),
    // r16 (VERDICT r9 #2): vacuum composed with the STREAMING version
    // history — vacuum reclaims an old micro-batch version, a stale
    // batchId replay no-ops against the vacuumed store, and the next
    // batch publishes under a fresh (never-reused) version name
    "streaming_vacuum_replay" ->
      ((s: SparkSession, d: String) => streaming.StreamingStage.streamingVacuumReplay(s, d)),
    // r16: file-level min/max data skipping — range-layout, stored
    // one-row-per-file stats spine, spine-pruned scan; the oracle
    // states the band filter over the raw table so layout + spine +
    // pruning are load-bearing in the hash
    "layout_stats_pruned_scan" -> (ExtQueries.layoutStatsPrunedScan _),
    // r16: bloom-sidecar point-lookup skipping — the file-finding
    // question a targeted delete asks, on a layout where min/max
    // skipping keeps everything; oracle states the IN-list over the
    // raw table so build + storage + probe are load-bearing
    "layout_bloom_pruned_scan" -> (ExtQueries.layoutBloomPrunedScan _),
    // r17: roster-DataFrame targeted delete — the GDPR verb with the
    // doomed ids as a FRAME (distributed bloom probe join + anti-join
    // rewrite), never a driver literal; oracle restates the surviving
    // corpus so probe + rewrite + manifest fold are load-bearing
    "layout_bloom_roster_delete" -> (ExtQueries.layoutBloomRosterDelete _),
    // r17: sidecars composed with WAP versioning — create/append/
    // delete fold one manifest-as-table; every version read through
    // its own manifest, band read pruned off the head manifest
    "layout_versioned_publish" -> (ExtQueries.layoutVersionedPublish _),
    // r18: merge-on-read delete — two stacked deletion-vector commits
    // (no data file rewritten), every read resolving the vector, then
    // compaction materializing it; all four versions + a band read
    "layout_dv_delete" -> (ExtQueries.layoutDvDelete _),
    // r18: multi-writer commit race — conditional publish detects the
    // competing append, loser tombstones + rebases; no lost update,
    // no double apply
    "layout_versioned_occ" -> (ExtQueries.layoutVersionedOcc _),
    // r18: schema evolution across versions — evolved append, merged
    // head read with NULL back-fill, time travel keeps the old schema
    "layout_versioned_schema_evolution" -> (ExtQueries.layoutVersionedSchemaEvolution _),
    // r18: merge-on-read upsert — replace-by-key in one atomic commit
    // (batch appended + replaced rows vectorized, one manifest publish)
    "layout_dv_upsert" -> (ExtQueries.layoutDvUpsert _),
    // r18: physical vacuum — retire old manifests, reclaim every file
    // only they referenced; retained versions read byte-identically
    "layout_versioned_vacuum" -> (ExtQueries.layoutVersionedVacuum _),
    // r18: manifest-derived row-level CDF — inserts from added files,
    // deletes from the DV delta with full old payloads; apply-verified
    "layout_dv_change_feed" -> (ExtQueries.layoutDvChangeFeed _),
    // r18: DV-delete is NOT erasure — the logical ledger vs a content
    // scan of every generation on disk, across dv/compact/vacuum;
    // physical roster bytes reach 0 only after all three verbs
    "layout_dv_purge_audit" -> (ExtQueries.layoutDvPurgeAudit _),
    // r18: MV folded from the change feed alone (⊞inserts ⊟deletes,
    // one outer join); fold == rebuild against the head aggregate
    "layout_mv_from_feed" -> (ExtQueries.layoutMvFromFeed _),
    // r18: stored BM25 maintained off the table's feed — append the
    // insert docs, purge the delete ids, serve top-k vs the head
    // membership's full Robertson oracle
    "layout_index_from_feed" -> (ExtQueries.layoutIndexFromFeed _),
    // r19: table->feed->IVF — the vector-index sibling of
    // layout_index_from_feed, completing derived-state symmetry
    "layout_ivf_from_feed" -> (ExtQueries.layoutIvfFromFeed _),
    // r18: OPTIMIZE as a manifest commit — DV-resolving rewrite under
    // a new layout; band pruning strictly improves (require()d),
    // content identical before/after
    "layout_recluster" -> (ExtQueries.layoutRecluster _),
    // r18: zero-copy clone + divergence — clone references the source
    // files, DV-deletes independently; source head byte-identical
    "layout_shallow_clone" -> (ExtQueries.layoutShallowClone _),
    // r19: OPTIMIZE ZORDER BY — Morton recluster through the manifest
    // commit; box read prunes BOTH dims (require()d strictly better
    // than the linear layout)
    "layout_recluster_zorder" -> (ExtQueries.layoutReclusterZorder _),
    // r19: cross-artifact atomic commit — table + MV pinned behind one
    // coordinator pointer; crash window reads the old consistent pair
    "layout_txn_commit" -> (ExtQueries.layoutTxnCommit _),
    // r19: durable CHECK constraints — versioned properties enforced
    // at commit time; violating commits vetoed atomically
    "layout_table_constraints" -> (ExtQueries.layoutTableConstraints _),
    // r19: metadata-only COUNT/MIN/MAX off the manifest; min/max
    // refuses on a vectored table, returns after compaction
    "layout_metadata_agg" -> (ExtQueries.layoutMetadataAgg _),
    // r19: TIMESTAMP AS OF — commit-stamp resolution with property
    // commits inherited to the preceding stamp's instant
    "layout_time_travel_ts" -> (ExtQueries.layoutTimeTravelTs _),
    // r19: row lineage off the manifest history — _commit_version by
    // first-manifest-listing attribution, broadcast map join
    "layout_commit_lineage" -> (ExtQueries.layoutCommitLineage _),
    // r19: rollback-and-pin — RESTORE as an un-delete commit (feed
    // windows across it refused) + tag custody across vacuum
    "layout_restore_tag" -> (ExtQueries.layoutRestoreTag _),
    // r19: checkpointed feed-consumer loop — bootstrap/fold/replay-noop
    // across three wakes; offset rides the derived commit atomically
    "layout_feed_consumer" -> (ExtQueries.layoutFeedConsumer _),
    // r19: OPTIMIZE bin-packing — small files consolidated (DV-resolving),
    // at-target file passes through with its manifest row verbatim
    "layout_optimize_compact" -> (ExtQueries.layoutOptimizeCompact _),
    // r19: predicate UPDATE as CoW — column-pruned holder probe, band
    // files rewritten through their DVs, untouched rows pass verbatim
    "layout_update_where" -> (ExtQueries.layoutUpdateWhere _),
    // r19: RENAME COLUMN via column mapping — one property commit,
    // zero rewrite; time travel keeps each version's names
    "layout_rename_column" -> (ExtQueries.layoutRenameColumn _),
    // r19: DROP COLUMN as a property commit — reads hide it, time
    // travel keeps it; resurrection + stat-col drops refused
    "layout_drop_column" -> (ExtQueries.layoutDropColumn _),
    // r19: CDF dataChange=false — the feed window SEGMENTS at a
    // content-identical rewrite instead of refusing
    "layout_feed_across_optimize" -> (ExtQueries.layoutFeedAcrossOptimize _),
    // r20: writer-side CDC — the feed window folds across CoW UPDATE /
    // CoW delete via per-commit _change_data rows instead of refusing
    "layout_feed_across_update" -> (ExtQueries.layoutFeedAcrossUpdate _),
    // r21: three-clause MERGE committed merge-on-read (DV + append in
    // one publish; copy-through rows cost zero IO)
    "layout_merge" -> (ExtQueries.layoutMerge _),
    // r21: merge is feed-safe by construction — a spanning window
    // folds it from the manifest algebra alone, no CDC sidecar
    "layout_feed_across_merge" -> (ExtQueries.layoutFeedAcrossMerge _),
    // r21: consumer-aware vacuum — a lagging consumer's offset pins
    // the versions its next window needs against any keepLast
    "layout_vacuum_consumer" -> (ExtQueries.layoutVacuumConsumer _),
    // r21: SCD2 in one merge — the row-granular DV keeps a key's
    // history rows while its current row closes
    "layout_merge_scd2" -> (ExtQueries.layoutMergeScd2 _),
    // r21: DESCRIBE HISTORY — verb stamps joined to each version's
    // actual membership via time travel
    "layout_history" -> (ExtQueries.layoutHistory _),
    // r21: metadata-only band delete — fully-in-band files drop from
    // the manifest unread; only straddlers pay a DV scan
    "layout_delete_band" -> (ExtQueries.layoutDeleteBand _),
    // r22: hidden partitioning — bucket(8, doc_id) declared as table
    // metadata; raw-column point lookups prune through the transform
    // inside the manifest filter
    "layout_hidden_partition" -> (ExtQueries.layoutHiddenPartition _),
    // r22: partition-spec evolution — zero-rewrite bucket declaration;
    // NULL-stat old files survive, post-evolution files prune
    "layout_partition_evolution" -> (ExtQueries.layoutPartitionEvolution _),
    // r22: roster point lookup — union of per-key bucket prunes in
    // one manifest filter (the GDPR batch shape)
    "layout_partition_roster" -> (ExtQueries.layoutPartitionRoster _),
    // r23: dynamic file pruning — the dim side of a star join prunes
    // the fact file set at planning time (band + images + bloom)
    "layout_join_prune" -> (ExtQueries.layoutJoinPrune _),
    // r23: branch + write-audit-publish — stage on a shallow-clone
    // branch, audit the branch read, fast-forward main atomically
    "layout_branch_wap" -> (ExtQueries.layoutBranchWap _),
    // r24: branch REBASE onto a moved main — replay the branch's own
    // change feed over main's head when divergence keys are disjoint;
    // overlap refuses (the safe subset of cherry-pick)
    "layout_branch_rebase" -> (ExtQueries.layoutBranchRebase _),
    // r23: type widening — zero-rewrite INT→BIGINT property commit;
    // narrow files upcast at scan, wide values land immediately
    "layout_type_widening" -> (ExtQueries.layoutTypeWidening _),
    // r23: MERGE with schema evolution — the source's new column lands
    // with the merge commit; untouched rows read it NULL, no rewrite
    "layout_merge_evolve" -> (ExtQueries.layoutMergeEvolve _),
    // r22: triangle census over the near-dup pair graph — transitivity
    // QA for dedup clusters (degree-ordered node iteration)
    "graph_triangles" -> (ExtQueries.graphTriangles _),
    // r22: global transitivity ppm — the one-number dedup-QA dial
    "graph_transitivity" -> (ExtQueries.graphTransitivity _),
    // r22: APPLY CHANGES INTO — CDC table replication, one atomic
    // merge-on-read commit per feed window, exactly-once by offset
    "layout_apply_changes" -> (ExtQueries.layoutApplyChanges _),
    // r23: APPLY CHANGES ... SEQUENCE BY — external out-of-order CDC
    // feed resolved per key by sequence before the atomic fold
    "layout_apply_changes_seq" -> (ExtQueries.layoutApplyChangesSeq _),
    // r22: metadata-only APPROX COUNT DISTINCT — per-file KMV sketches
    // merged from the manifest alone, bit-equal to the direct sketch
    "layout_metadata_distinct" -> (ExtQueries.layoutMetadataDistinct _),
    // r22: Iceberg partitions metadata table — per-value live counts,
    // metadata-only for provably single-value files, scan ∝ the rest
    "layout_partitions_table" -> (ExtQueries.layoutPartitionsTable _),
    // r22: OPTIMIZE ... WHERE — hot-band re-sort, out-of-band files
    // pass through by name; content-identical (feeds segment over it)
    "layout_optimize_where" -> (ExtQueries.layoutOptimizeWhere _)
  )

  /** Subset run by graft.Bench as the headline set (r02: widened so
    * pivot, the window suite, streaming, profiling, embedding dedup and
    * trained-kmeans IVF are timed, not just correctness-gated).
    */
  def benchQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_topk_revenue", "q5_multijoin_agg",
    "w1_latest_per_key", "w3_running_total", "events_hourly_agg",
    "events_sessionize", "report1_mortgage_portfolio",
    "report2_restructuring_pipeline", "report3_commercial_promises",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "text_lang_id", "sim_cosine_topk", "sim_ann_lsh_topk",
    "sim_ivf_topk", "events_asof_join", "q_rollup_sales",
    "events_json_extract", "text_quality_filter", "multimodal_features",
    "q_pivot_sales", "w4_window_suite", "streaming_hourly_agg",
    "qa_profile_activities", "dedup_embedding_cosine", "sim_ivf_kmeans_topk",
    "sim_quantized_topk", "sim_pq_topk", "j7_bloom_prune", "text_vocab_topk", "q_cube_sales",
    "w1_latest_per_key_salted", "pipeline_incremental_primary",
    "text_tfidf_topk", "text_decontaminate", "streaming_interval_join",
    "pipeline_prepare_corpus", "dedup_clusters", "dedup_semantic",
    "streaming_interval_join_outer", "multimodal_video",
    "mine_contrastive_pairs", "pipeline_dedup_canonical", "text_bigram_lm",
    "streaming_session_window", "text_decontaminate_fuzzy",
    "events_anomaly_zscore", "j6_salted_join", "events_gap_fill",
    "text_segment_dedup", "graph_pagerank", "agg_quantile_sketch",
    "layout_zorder", "qa_cms_freq", "qa_key_skew",
    "events_rolling_distinct", "pipeline_snapshot_diff",
    "pipeline_curriculum_bins", "streaming_distinct_users",
    "pipeline_dedup_weights", "text_bpe_merges",
    "pipeline_dedup_incremental", "dedup_ngram_verified",
    "dedup_clusters_star", "pipeline_dedup_exact_incremental",
    "sim_ivf_stored_topk", "streaming_dedup_bands",
    "pipeline_dedup_incremental_clusters",
    "streaming_dedup_bands_stateful", "streaming_dedup_bands_tws",
    // r8: the correctness-only tail — every operator family now has its
    // slowest members timed, so a plan regression there is visible in
    // BENCH, not just "verify feels slow" (VERDICT r5 missing #5)
    "sim_ivfpq_topk", "sim_matryoshka_topk", "events_funnel",
    "events_cohort_retention", "pipeline_dedup_incremental_weights",
    // r9: incremental IVF maintenance (append + drift are the daily
    // path) and the write-audit-publish state chain
    "sim_ivf_append_topk", "sim_ivf_drift", "pipeline_state_publish",
    "dedup_image_phash", "dedup_video_phash", "dedup_audio_phash",
    "pipeline_dedup_image_incremental", "streaming_dedup_phash",
    "pipeline_dedup_published", "text_bpe_encode", "pack_sequences_bpe",
    // r10: the index LIFECYCLE closes — compaction absorbs the appends'
    // small files, maintain acts on the drift trigger (both branches)
    "sim_ivf_compact_topk", "sim_ivf_maintain_topk", "sim_ivf_maintain_retrain",
    "pipeline_dedup_embedding_incremental",
    // r11: compliance purge, deterministic training order, source mixing,
    // diversity-quota curation, snapshot drift QA
    "pipeline_delete_propagate", "pipeline_shuffle_deterministic",
    "mix_temperature", "sample_diversity_quota", "qa_snapshot_drift",
    "pipeline_split_leakage_safe",
    // driver r8: delete propagation into stored state (the headline WAP
    // audit plus the purged-IVF query path; the three per-artifact
    // content gates exercise the same builds and stay correctness-only
    // — see the bench-coverage policy in BASELINE.md)
    "pipeline_delete_propagate_state", "sim_ivf_purge_topk",
    "text_bpe_train",
    // driver r8: the trained-classifier family head (one corpus scan to
    // train + one to score; the timing shows the closed-form shape) and
    // the chunk-then-pack composite (chunk explode + pack window — new
    // work beyond the benched doc-level packer)
    "pipeline_classifier_centroid", "pack_chunked_sequences",
    // driver r8: fuzzy ER — the deletion-key join is the timed shape —
    // and the five-stage funnel (the heaviest composition in the repo)
    "er_fuzzy_match", "pipeline_curation_funnel",
    // driver r8: train->encode times the full tokenizer loop; the
    // expectation suite stays correctness-only (six-row output, its
    // aggregate shape is already timed via qa_profile_activities)
    "text_bpe_train_encode", "sim_hybrid_rrf",
    // driver r8 late adds: BM25 times the inverted-index scoring join;
    // global-ids times the two-phase rank (k-anonymity stays
    // correctness-only: three-row-ladder aggregate, shape already
    // timed via qa_profile_activities — see BASELINE.md policy);
    // PCA times the unrolled distributed power iteration
    "text_bm25_topk", "pipeline_global_ids", "embed_pca_power",
    // r14: the stored-graph query path (VERDICT r8 #1 — the heaviest
    // bench row's fix: reps after the first read only the stored
    // artifact; measured 2.6s vs 6.3s for the one-shot row under the
    // same load). The append/maintain gates stay correctness-only:
    // their per-invocation yesterday-artifact build is fixture cost,
    // and the fold's plan shape (anti-join + spine fold) is asserted
    // in PlanRegressionSpec instead of timed.
    "graph_pagerank_stored",
    // r15: the stored-BM25 query path — same rationale as the stored
    // graph row (reps after the first read only the stored postings +
    // spines; the one-shot text_bm25_topk row keeps timing the
    // in-flow derivation). The append gate stays correctness-only:
    // its yesterday-index build is per-invocation fixture cost.
    "text_bm25_stored_topk",
    // r16: the stored-stack hybrid — times the full artifact-served
    // RAG query path (stored BM25 leg + stored IVF leg + fusion);
    // the in-flow sim_hybrid_rrf row keeps timing the raw derivation
    "sim_hybrid_stored_rrf",
    // r16: data skipping — times the full verb (range layout +
    // manifest build + commit + manifest-pruned band scan), the
    // nightly-OPTIMIZE + query cycle a production table pays
    "layout_stats_pruned_scan",
    // r16: bloom point lookup — layout + manifest build + commit +
    // bloom probe, the delete-planning cycle
    "layout_bloom_pruned_scan",
    // r17: roster-frame targeted delete — probe join + holder rewrite
    // + manifest fold, the GDPR-delete execution cycle
    "layout_bloom_roster_delete",
    // r17: the versioned-table lifecycle — create/append/delete with
    // manifest folds + time-travel reads, the table-format verb cycle
    "layout_versioned_publish",
    // r18: merge-on-read — DV commits + anti-join reads + compaction,
    // the cost model (tiny commit, per-read resolve) is the point
    "layout_dv_delete",
    // r18: the OCC commit loop — conflict, tombstone, rebase, retry;
    // times the multi-writer commit path end to end
    "layout_versioned_occ",
    // r18: merge-on-read upsert — probe + vectorize + batch append in
    // one commit; the MERGE cost model is the point
    "layout_dv_upsert",
    // r18: the CDF pull + apply — manifest diff, DV-delta position
    // join, replica fold; incremental-consumer economics
    "layout_dv_change_feed",
    // r18: the compliance decomposition — three purge verbs + three
    // full content scans of the on-disk generations; the audit cost
    // model is the point
    "layout_dv_purge_audit",
    // r18: table→feed→index — build off v1, fold the feed (append +
    // purge), serve top-k; the derived-state maintenance cycle
    "layout_index_from_feed",
    // r19: the same cycle with the IVF vector index as the derived
    // state — assign-under-frozen-centroids fold + bucketed purge
    "layout_ivf_from_feed",
    // r18: OPTIMIZE as a commit — the DV-resolving rewrite + pruning
    // probes; the maintenance-rewrite cost model is the point
    "layout_recluster",
    // r20: writer-side CDC — times the UPDATE/CoW-delete commits WITH
    // their _change_data emission plus the spanning-window fold; the
    // CDC cost model (∝ matched rows, not table) is the point
    "layout_feed_across_update",
    // r21: the CDC-apply verb — bloom-probed match join + DV + batch
    // in one commit; its cost model (∝ changed band, zero rewrite of
    // existing files) is the 100 TB merge economics
    "layout_merge",
    // r23: corpus-side banded self-join + symmetrization — the one
    // LSH shape where BOTH sides are the corpus (the ANN row's
    // broadcast never exercises the bucket-keyed shuffle join)
    "embed_knn_graph")

  private val lexValues = ExtQueries.langLexicon
    .map { case (w, l) => s"('$w','$l')" }.mkString(", ")

  private val sentLexValues = ExtQueries.sentimentLexicon
    .map { case (w, wt) => s"('$w',$wt)" }.mkString(", ")

  /** DuckDB twins. Pipeline oracles are composed in [[DeriveSql]]. */
  def oracleSql: Map[String, String] = Map(
    "s1_scan_project" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_no, l_quantity AS qty,
        |       l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem""".stripMargin,

    "p3_literal_column" ->
      "SELECT 'COMPANY_NAME' AS company, r_regionkey AS region_key, r_name AS region_name FROM region",

    "p4_case_classification" ->
      """SELECT o_orderkey AS order_key,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN '01.URGENT'
        |       WHEN o_orderpriority = '2-HIGH' THEN '02.HIGH'
        |       WHEN o_orderpriority = '3-MEDIUM' THEN '03.MEDIUM'
        |       ELSE 'UNCLASSIFIED_PRIORITY' END AS priority_class
        |FROM orders""".stripMargin,

    "p6_date_parse" ->
      s"""WITH ${DeriveSql.stgActivities}
         |SELECT src_seq AS event_id, activity_date AS raw_date,
         |  TRY_CAST(substr(activity_date,7,4) || '-' || substr(activity_date,4,2)
         |           || '-' || substr(activity_date,1,2) AS DATE) AS parsed_date
         |FROM stg_activities""".stripMargin,

    "p9_date_format" ->
      "SELECT o_orderkey AS order_key, strftime(o_orderdate, '%Y-%m-%d') AS order_date_iso FROM orders",

    "f1_filter_eq" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_no, l_returnflag AS return_flag
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,

    "f2_conjunctive_filter" ->
      """SELECT o_orderkey AS order_key, o_totalprice AS total_price
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 100000 AND o_orderpriority = '1-URGENT'""".stripMargin,

    "f4_in_list" ->
      """SELECT c_custkey AS cust_key, c_mktsegment AS segment
        |FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')""".stripMargin,

    "f5_isnull_filter" ->
      s"""WITH ${DeriveSql.stgActivities}
         |SELECT src_seq AS event_id, account_id
         |FROM stg_activities WHERE phone_number IS NULL""".stripMargin,

    "j1_left_join_sentinel" ->
      """SELECT o_orderkey AS order_key, o_custkey AS account,
        |  COALESCE(c_mktsegment, 'NO_SEGMENT') AS segment,
        |  CASE WHEN c_custkey IS NOT NULL THEN 'YES' ELSE 'NO' END AS has_rich_customer
        |FROM orders
        |LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c
        |  ON o_custkey = c_custkey""".stripMargin,

    "j2_semi_join" ->
      """SELECT o_orderkey AS order_key, o_totalprice AS total_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin,

    "j7_bloom_prune" ->
      """SELECT l_orderkey AS order_key,
        |  CAST(l_linenumber AS BIGINT) AS line_number,
        |  l_quantity AS quantity
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey
        |                AND o_orderpriority = '1-URGENT'
        |                AND o_totalprice > 150000.0)""".stripMargin,

    "j3_anti_join" ->
      """SELECT o_orderkey AS order_key, o_totalprice AS total_price
        |FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin,

    "j5_full_outer" ->
      """SELECT COALESCE(o_custkey, c_custkey) AS cust_key,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(c_mktsegment, 'NO_SEGMENT') AS segment,
        |  CASE WHEN o_custkey IS NULL THEN 'customer_only'
        |       WHEN c_custkey IS NULL THEN 'orders_only'
        |       ELSE 'both' END AS side
        |FROM (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
        |FULL OUTER JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000) c
        |  ON o_custkey = c_custkey""".stripMargin,

    "agg_quartiles_manual" ->
      """WITH r AS (
        |  SELECT o_orderpriority AS priority, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey ASC NULLS FIRST) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT priority,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN o_totalprice END) AS q1,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN o_totalprice END) AS median,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN o_totalprice END) AS q3
        |FROM r GROUP BY priority""".stripMargin,

    "qa_profile_numeric" ->
      """WITH stacked AS (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS column_name, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem),
        |r AS (
        |  SELECT column_name, value,
        |    ROW_NUMBER() OVER (PARTITION BY column_name
        |      ORDER BY value ASC NULLS FIRST, l_orderkey ASC NULLS FIRST,
        |               l_linenumber ASC NULLS FIRST) AS rn,
        |    COUNT(*) OVER (PARTITION BY column_name) AS n
        |  FROM stacked)
        |SELECT column_name, COUNT(*) AS n_rows,
        |  min(value) AS min_v, max(value) AS max_v,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 / COUNT(*) AS mean_v,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN value END) AS q1,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN value END) AS median,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN value END) AS q3
        |FROM r GROUP BY column_name""".stripMargin,

    "w1_latest_per_key" ->
      """SELECT o_custkey AS account, o_orderkey AS order_key,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice AS total_price
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin,

    // identical oracle as w1: the driver gate itself proves the salted
    // two-phase form is row-identical to the single window
    "w1_latest_per_key_salted" ->
      """SELECT o_custkey AS account, o_orderkey AS order_key,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice AS total_price
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin,

    // identical oracle again: the sampled-histogram router must be
    // invisible in the output whichever plan it picks
    "w1_latest_per_key_adaptive" ->
      """SELECT o_custkey AS account, o_orderkey AS order_key,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice AS total_price
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin,

    "w2_topk_per_key" ->
      """SELECT o_custkey AS account, o_orderkey AS order_key, o_totalprice AS total_price
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,

    // w2's oracle verbatim: the native whole-operator must be
    // row-identical to the window form
    "w2_topk_native" ->
      """SELECT o_custkey AS account, o_orderkey AS order_key, o_totalprice AS total_price
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin,

    "w3_running_total" ->
      """SELECT o_custkey AS account, o_orderkey AS order_key,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_total
        |FROM orders""".stripMargin,

    "w4_window_suite" ->
      """SELECT o_custkey AS account, o_orderkey AS order_key,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC NULLS FIRST)""".stripMargin,

    "q_unpivot_metrics" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales,
        |    MIN(o_totalprice) AS min_price
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT priority, 'n_orders' AS metric, n_orders AS value FROM b
        |UNION ALL SELECT priority, 'total_sales', total_sales FROM b
        |UNION ALL SELECT priority, 'min_price', min_price FROM b""".stripMargin,

    "q_pivot_sales" ->
      """SELECT n_name AS nation_name,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END) AS DOUBLE) / 100.0, 0.0) AS p_1,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END) AS DOUBLE) / 100.0, 0.0) AS p_2,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END) AS DOUBLE) / 100.0, 0.0) AS p_3,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END) AS DOUBLE) / 100.0, 0.0) AS p_4,
        |  COALESCE(CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(round(o_totalprice * 100.0) AS BIGINT) END) AS DOUBLE) / 100.0, 0.0) AS p_5
        |FROM nation
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY n_name""".stripMargin,

    "q_correlated_subquery" ->
      """SELECT o.o_orderkey AS order_key, o.o_custkey AS account,
        |       o.o_totalprice AS total_price
        |FROM orders o
        |WHERE o.o_totalprice > 2.0 * (
        |  SELECT (CAST(SUM(CAST(round(o2.o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
        |           / CAST(COUNT(*) AS DOUBLE)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin,

    "q_array_agg" ->
      """SELECT o_custkey AS account,
        |  array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "q_datetime_fns" ->
      """SELECT o_orderkey AS order_key,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  strftime(o_orderdate + INTERVAL 7 DAY, '%Y-%m-%d') AS plus7,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
        |FROM orders""".stripMargin,

    "q_string_fns" ->
      """SELECT c_custkey AS cust_key,
        |  upper(c_name) AS name_upper,
        |  CAST(length(trim(c_name)) AS BIGINT) AS name_len,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
        |  regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS segment_masked,
        |  CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS seg_dist,
        |  substr(c_name, 1, 8) AS name_prefix
        |FROM customer""".stripMargin,

    "agg_stats" ->
      """SELECT o_orderpriority AS priority,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_price,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "o1_limit_topk" ->
      """SELECT o_orderkey AS order_key, o_totalprice AS total_price
        |FROM orders ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST
        |LIMIT 10""".stripMargin,

    "a1_count_star" -> "SELECT COUNT(*) AS n FROM lineitem",

    "a2_distinct_count_literal" -> "SELECT DISTINCT COUNT(*) AS n FROM lineitem",

    "a3_group_having_duplicates" ->
      s"""WITH ${DeriveSql.stgAccounts}
         |SELECT account_id, COUNT(*) AS n_rows
         |FROM stg_accounts GROUP BY account_id HAVING COUNT(*) > 1""".stripMargin,

    "a4_parse_failure_count" ->
      s"""WITH ${DeriveSql.stgActivities}
         |SELECT COUNT(*) AS n FROM stg_activities
         |WHERE TRY_CAST(substr(activity_date,7,4) || '-' || substr(activity_date,4,2)
         |               || '-' || substr(activity_date,1,2) AS DATE) IS NULL""".stripMargin,

    // qa_profile_activities itself has NO oracle: its HLL distinct counts
    // are engine-specific (rows-only gate); the exact variant hash-gates.
    "qa_profile_activities" -> ExtOracleSql.qaProfileActivitiesKmv,
    "qa_profile_activities_exact" -> ExtOracleSql.qaProfileActivities,

    "qa_parse_failure_sample" -> DeriveSql.withStaging(
      """SELECT account_id, activity_date FROM clean_contacts_primary
        |WHERE activity_date IS NULL
        |ORDER BY account_id ASC NULLS FIRST LIMIT 10""".stripMargin),

    "qa_uniqueness_views" -> DeriveSql.withStaging(
      """SELECT 'clean_accounts' AS view_name, COUNT(*) AS n_rows, COUNT(DISTINCT account_id) AS n_accounts FROM clean_accounts
        |UNION ALL SELECT 'clean_contacts_primary', COUNT(*), COUNT(DISTINCT account_id) FROM clean_contacts_primary
        |UNION ALL SELECT 'clean_contacts_field', COUNT(*), COUNT(DISTINCT account_id) FROM clean_contacts_field
        |UNION ALL SELECT 'clean_contacts_promise', COUNT(*), COUNT(DISTINCT account_id) FROM clean_contacts_promise
        |UNION ALL SELECT 'clean_contacts_restructure', COUNT(*), COUNT(DISTINCT account_id) FROM clean_contacts_restructure""".stripMargin),

    "pipeline_clean_accounts" ->
      s"""WITH ${DeriveSql.stgAccounts},
         |${DeriveSql.cleanAccounts}
         |SELECT * FROM clean_accounts""".stripMargin,

    "pipeline_contacts_primary" -> DeriveSql.withStaging(
      s"SELECT ${DeriveSql.viewCols} FROM clean_contacts_primary"),

    // incremental staging must converge to the identical batch view
    "streaming_latest_contact" -> DeriveSql.withStaging(
      s"SELECT ${DeriveSql.viewCols} FROM clean_contacts_primary"),

    // stream-stream interval join ≡ the batch interval join (µs epochs;
    // 6 h = 21_600_000_000 µs)
    "streaming_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
        |  b.us - a.us AS lag_us
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.us >= a.us AND b.us <= a.us + 21600000000""".stripMargin,

    // decayed score: exact dyadic terms (w * 2^(30-k)) summed as
    // BIGINT — engine-portable, no float pow in either restatement
    "events_decayed_score" ->
      """WITH t AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |      WHEN 'signup' THEN 5 WHEN 'purchase' THEN 10 ELSE 0 END
        |    * CASE WHEN date_diff('day', CAST(ts AS DATE), DATE '2024-01-31')
        |             BETWEEN 0 AND 30
        |           THEN CAST(1 AS BIGINT) <<
        |             (30 - date_diff('day', CAST(ts AS DATE), DATE '2024-01-31'))
        |           ELSE 0 END AS term
        |  FROM events)
        |SELECT user_id, CAST(sum(term) AS BIGINT) AS score_fp
        |FROM t GROUP BY user_id
        |ORDER BY score_fp DESC, user_id ASC
        |LIMIT 100""".stripMargin,

    // LTTB parallel variant: identical integer triangle arithmetic,
    // identical tie-breaks — the per-bucket winner must be exact
    "events_downsample_lttb" ->
      """WITH lo AS (SELECT min(epoch_ns(ts)) AS lo FROM events),
        |hourly AS (
        |  SELECT event_type, (epoch_ns(ts) - lo) // 3600000000000 AS h,
        |    SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS y
        |  FROM events, lo GROUP BY 1, 2),
        |pts AS (SELECT event_type, h, y, h // 12 AS b FROM hourly),
        |bag AS (SELECT event_type, b, SUM(h) AS bt, SUM(y) AS by_,
        |          COUNT(*) AS bn
        |        FROM pts GROUP BY 1, 2),
        |nb AS (SELECT event_type, b,
        |         lag(bt) OVER w AS tp, lag(by_) OVER w AS yp,
        |         lag(bn) OVER w AS np_,
        |         lead(bt) OVER w AS tn, lead(by_) OVER w AS yn,
        |         lead(bn) OVER w AS nn_,
        |         min(b) OVER (PARTITION BY event_type) AS bmin,
        |         max(b) OVER (PARTITION BY event_type) AS bmax
        |       FROM bag WINDOW w AS (PARTITION BY event_type ORDER BY b)),
        |a AS (SELECT p.event_type, p.b, p.h, p.y, bmin, bmax, abs(
        |        (tp * nn_ - np_ * nn_ * p.h) * (yn * np_ - np_ * nn_ * p.y) -
        |        (tn * np_ - np_ * nn_ * p.h) * (yp * nn_ - np_ * nn_ * p.y))
        |        AS area
        |      FROM pts p JOIN nb USING (event_type, b)),
        |r AS (SELECT event_type, h, y,
        |        row_number() OVER (PARTITION BY event_type, b ORDER BY
        |          CASE WHEN b = bmin THEN h
        |               WHEN b = bmax THEN -h
        |               ELSE -coalesce(area, 0) END ASC, h ASC) AS rn
        |      FROM a)
        |SELECT event_type, h, CAST(y AS BIGINT) AS y_fp FROM r
        |WHERE rn = 1""".stripMargin,

    "events_gap_fill" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour_ts, event_type,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        |      FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts, event_type
        |  FROM b CROSS JOIN (SELECT DISTINCT event_type FROM events))
        |SELECT s.event_type, strftime(s.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour,
        |  COALESCE(h.n_events, 0) AS n_events,
        |  last_value(h.sum_value IGNORE NULLS) OVER (PARTITION BY s.event_type
        |    ORDER BY s.hour_ts ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM spine s LEFT JOIN hourly h USING (hour_ts, event_type)""".stripMargin,

    "events_user_growth" ->
      """WITH fs AS (
        |  SELECT user_id, ts, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn
        |  FROM events),
        |news AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    COUNT(*) AS new_users
        |  FROM fs WHERE rn = 1 GROUP BY 1),
        |daily AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    COUNT(DISTINCT user_id) AS dau
        |  FROM events GROUP BY 1)
        |SELECT d.day, d.dau, COALESCE(n.new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM daily d LEFT JOIN news n USING (day)""".stripMargin,

    // mean/var/σ as the identical pinned IEEE op sequence (sqrt is
    // correctly rounded, so the z-score is bit-exact cross-engine)
    "events_anomaly_zscore" ->
      """WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type, value FROM events),
        |hourly AS (
        |  SELECT h AS hour_ts, event_type, COUNT(*) AS n_events
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        |      FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts, event_type
        |  FROM b CROSS JOIN (SELECT DISTINCT event_type FROM events)),
        |base AS (
        |  SELECT s.event_type, s.hour_ts, COALESCE(h.n_events, 0) AS n
        |  FROM spine s LEFT JOIN hourly h USING (hour_ts, event_type)),
        |win AS (
        |  SELECT event_type, hour_ts, n,
        |    SUM(n) OVER tw AS sum_n,
        |    SUM(n * n) OVER tw AS sum_sq,
        |    COUNT(*) OVER tw AS win_n
        |  FROM base
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour_ts ASC NULLS FIRST
        |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(n AS BIGINT) AS n_events,
        |  round(CASE WHEN win_n = 24
        |              AND (CAST(sum_sq AS DOUBLE) / win_n
        |                   - (CAST(sum_n AS DOUBLE) / win_n) * (CAST(sum_n AS DOUBLE) / win_n)) > 0
        |             THEN (CAST(n AS DOUBLE) - CAST(sum_n AS DOUBLE) / win_n)
        |                  / sqrt(CAST(sum_sq AS DOUBLE) / win_n
        |                         - (CAST(sum_n AS DOUBLE) / win_n) * (CAST(sum_n AS DOUBLE) / win_n))
        |        END, 6) AS zscore
        |FROM win""".stripMargin,

    // the oracle is the PLAIN join — proving replicate-and-salt exactness;
    // the adaptive router must land on the identical rows whichever
    // route its histogram picks
    "j6_salted_join_adaptive" ->
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN 1 ELSE user_id END AS user_id, value
        |  FROM events),
        |c AS (SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer)
        |SELECT COALESCE(segment, 'NO_SEGMENT') AS segment,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM ev LEFT JOIN c USING (user_id)
        |GROUP BY 1""".stripMargin,

    "j6_salted_join" ->
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN 1 ELSE user_id END AS user_id, value
        |  FROM events),
        |c AS (SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer)
        |SELECT COALESCE(segment, 'NO_SEGMENT') AS segment,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM ev LEFT JOIN c USING (user_id)
        |GROUP BY 1""".stripMargin,

    "events_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('day', ts) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS d0 FROM ev GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, day FROM ev)
        |SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', f.d0, a.day) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS n_active_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "events_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS v_us FROM ev WHERE event_type = 'view'
        |      GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.us) AS c_us
        |      FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.us > v.v_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.us) AS p_us
        |      FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
        |  (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
        |  (SELECT COUNT(*) FROM p) AS n_purchased_after_click""".stripMargin,

    // session_window semantics: new session iff the µs gap >= 30 min
    // (touching windows do not overlap); window end = last event + gap
    "streaming_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |s AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id,
        |  strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(make_timestamp(MAX(us) + 1800000000), '%Y-%m-%d %H:%M:%S') AS session_end_gap,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "streaming_interval_join_outer" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
        |  b.us - a.us AS lag_us
        |FROM (SELECT * FROM e WHERE event_type = 'click') a
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND b.us >= a.us AND b.us <= a.us + 21600000000""".stripMargin,

    "pipeline_history_scd2" ->
      s"""WITH ${DeriveSql.stgActivities}
         |SELECT account_id,
         |  src_seq AS valid_from_seq,
         |  lead(src_seq, 1) OVER w AS valid_to_seq,
         |  TRY_CAST(substr(activity_date,7,4) || '-' || substr(activity_date,4,2)
         |           || '-' || substr(activity_date,1,2) AS DATE) AS activity_date,
         |  contact_outcome,
         |  (lead(src_seq, 1) OVER w IS NULL) AS is_current
         |FROM stg_activities
         |WINDOW w AS (PARTITION BY account_id
         |  ORDER BY TRY_CAST(substr(activity_date,7,4) || '-' || substr(activity_date,4,2)
         |             || '-' || substr(activity_date,1,2) AS DATE) ASC NULLS FIRST,
         |           src_seq ASC NULLS FIRST)""".stripMargin,

    "q_grouping_sets" ->
      """WITH b AS (SELECT o_orderpriority AS priority, o_orderstatus AS status, o_totalprice
        |           FROM orders)
        |SELECT priority, status,
        |  CAST(GROUPING_ID(priority, status) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales,
        |  COUNT(*) AS n_orders
        |FROM b GROUP BY GROUPING SETS ((priority), (status), ())""".stripMargin,

    // every event lands in the two 2h-long windows starting at its hour
    // and the hour before (slide = 1h, epoch-aligned on both engines)
    "events_sliding_agg" ->
      """WITH w AS (
        |  SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
        |                 date_trunc('hour', ts)]) AS win_start,
        |         event_type, value
        |  FROM events)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    // batch-incremental staging (history + folded delta) must equal the
    // one-shot batch view too
    "pipeline_incremental_primary" -> DeriveSql.withStaging(
      s"SELECT ${DeriveSql.viewCols} FROM clean_contacts_primary"),

    "pipeline_contacts_field" -> DeriveSql.withStaging(
      s"SELECT ${DeriveSql.viewCols} FROM clean_contacts_field"),

    "pipeline_contacts_promise" -> DeriveSql.withStaging(
      s"SELECT ${DeriveSql.viewCols} FROM clean_contacts_promise"),

    "pipeline_contacts_restructure" -> DeriveSql.withStaging(
      s"SELECT ${DeriveSql.viewCols} FROM clean_contacts_restructure"),

    "report1_mortgage_portfolio" -> DeriveSql.report1,
    // the bucketed-artifact path must reproduce the report EXACTLY
    "report1_from_bucketed" -> DeriveSql.report1,

    "q_cube_sales" ->
      """WITH b AS (SELECT o_orderpriority AS priority, o_orderstatus AS status, o_totalprice
        |           FROM orders)
        |SELECT priority, status,
        |  CAST(GROUPING_ID(priority, status) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales,
        |  COUNT(*) AS n_orders
        |FROM b GROUP BY CUBE(priority, status)""".stripMargin,
    "report2_restructuring_pipeline" -> DeriveSql.report2,
    "report3_commercial_promises" -> DeriveSql.report3,

    "q1_pricing_summary" ->
      """SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
        |  CAST(SUM(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk_revenue" ->
      """SELECT l_orderkey AS order_key, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_orderpriority AS priority, revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority)
        |ORDER BY revenue DESC NULLS LAST, l_orderkey ASC NULLS FIRST
        |LIMIT 10""".stripMargin,

    "q5_multijoin_agg" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales,
        |  COUNT(*) AS n_orders
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q_rollup_sales" ->
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_sales,
        |  COUNT(*) AS n_orders
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY ROLLUP(region_name, nation_name)""".stripMargin,

    "q_set_ops" ->
      """SELECT cust_key, 'both' AS tag FROM (
        |  SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |UNION ALL
        |SELECT cust_key, 'open_only' AS tag FROM (
        |  SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |UNION ALL
        |SELECT cust_key, 'big_only' AS tag FROM (
        |  SELECT o_custkey AS cust_key FROM orders WHERE o_totalprice > 150000
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin,

    "events_regression" ->
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS x, COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM h GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        |  (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
        |    / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)) AS r2
        |FROM a""".stripMargin,

    "events_interval_join" ->
      """WITH m AS (SELECT min(epoch_ns(ts)) AS mn FROM events),
        |iv AS (
        |  SELECT r.i AS interval_id,
        |    mn + r.i * 25200000000000 + (r.i % 5) * 3600000000000 AS s,
        |    mn + r.i * 25200000000000 + (r.i % 5) * 3600000000000
        |       + ((r.i % 7) + 1) * 3600000000000 AS e
        |  FROM m CROSS JOIN range(0, 100) r(i)),
        |j AS (
        |  SELECT iv.interval_id, ev.value
        |  FROM events ev JOIN iv
        |    ON epoch_ns(ev.ts) >= iv.s AND epoch_ns(ev.ts) < iv.e)
        |SELECT interval_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM j GROUP BY interval_id""".stripMargin,

    "events_hourly_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    // source/sink roundtrips: the SPARK side goes parquet → JSON/CSV →
    // schema-on-read → agg; the oracle aggregates the parquet directly,
    // so any sink/source infidelity breaks the hash
    "source_json_roundtrip" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "source_orc_roundtrip" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "source_csv_roundtrip" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    // the partitioned-layout roundtrip must reproduce the original
    // table's per-source stats for the filtered partition exactly
    "source_partitioned_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  min(md5(text)) AS min_digest
        |FROM documents WHERE lang = 'en'
        |GROUP BY source""".stripMargin,

    "events_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR date_diff('second', prev_ts, ts) > 1800
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |s AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // compare at µs on BOTH engines (Spark truncates ts_ns DIV 1000, so
    // the oracle must not compare raw ns), and pin equal-µs view ties to
    // the max event_id — same dedup as the Spark side.
    "events_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |  FROM events WHERE event_type = 'purchase'),
        |vr AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
        |      ORDER BY event_id DESC NULLS LAST) AS rn
        |  FROM events WHERE event_type = 'view'),
        |v1 AS (SELECT user_id, ts_us, ts_us AS view_ts_us, value AS view_value
        |       FROM vr WHERE rn = 1)
        |SELECT p.event_id, p.user_id, p.ts_us, p.ts_str, v.view_ts_us, v.view_value
        |FROM p ASOF LEFT JOIN v1 v
        |  ON p.user_id = v.user_id AND v.ts_us <= p.ts_us""".stripMargin,

    "events_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
        |FROM events""".stripMargin,

    "dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
        |    ORDER BY doc_id ASC NULLS FIRST) AS rn
        |  FROM all_docs)
        |SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    (string_split(text, ' '))[6:len(string_split(text, ' '))] AS words
        |  FROM documents WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(words) < 3 THEN []
        |         ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)] END)) AS sh
        |  FROM base),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |counts AS (SELECT sh, COUNT(*) AS c FROM sh GROUP BY sh),
        |shf AS (SELECT sh.doc_id, sh.sh FROM sh JOIN counts USING (sh)
        |        WHERE c BETWEEN 2 AND 500),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS inter
        |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_id_1, doc_id_2,
        |  inter / (s1.n_sh + s2.n_sh - inter) AS jaccard
        |FROM pairs
        |JOIN sizes s1 ON s1.doc_id = doc_id_1
        |JOIN sizes s2 ON s2.doc_id = doc_id_2
        |WHERE inter / (s1.n_sh + s2.n_sh - inter) >= 0.5""".stripMargin,

    // asymmetric containment: same machinery as the Jaccard twin, the
    // smaller-set side must sit (almost) inside the larger
    "dedup_containment" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    (string_split(text, ' '))[6:len(string_split(text, ' '))] AS words
        |  FROM documents WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(words) < 3 THEN []
        |         ELSE [array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)] END)) AS sh
        |  FROM base),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        |counts AS (SELECT sh, COUNT(*) AS c FROM sh GROUP BY sh),
        |shf AS (SELECT sh.doc_id, sh.sh FROM sh JOIN counts USING (sh)
        |        WHERE c BETWEEN 2 AND 500),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS inter
        |  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT
        |  CASE WHEN s1.n_sh < s2.n_sh THEN doc_id_2
        |       WHEN s2.n_sh < s1.n_sh THEN doc_id_1
        |       ELSE greatest(doc_id_1, doc_id_2) END AS container_id,
        |  CASE WHEN s1.n_sh < s2.n_sh THEN doc_id_1
        |       WHEN s2.n_sh < s1.n_sh THEN doc_id_2
        |       ELSE least(doc_id_1, doc_id_2) END AS contained_id,
        |  CAST(least(s1.n_sh, s2.n_sh) AS BIGINT) AS n_contained_sh,
        |  inter / least(s1.n_sh, s2.n_sh) AS containment
        |FROM pairs
        |JOIN sizes s1 ON s1.doc_id = doc_id_1
        |JOIN sizes s2 ON s2.doc_id = doc_id_2
        |WHERE inter / least(s1.n_sh, s2.n_sh) >= 0.9""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_computed
        |FROM documents""".stripMargin,

    "text_quality_score" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS ws_ratio,
        |  (CAST(length(text) AS DOUBLE)
        |     - CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE))
        |    / (CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) + 1.0)
        |    AS avg_token_len
        |FROM documents""".stripMargin,

    // length histogram: integer bins + integer ppm shares
    "text_length_histogram" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT n_tok // 32 AS bin, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(bin_tokens) AS BIGINT) AS total FROM b)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_docs AS BIGINT) AS n_docs,
        |  bin_tokens,
        |  CAST(bin_tokens * 1000000 // total AS BIGINT) AS share_ppm
        |FROM b, t""".stripMargin,
    // wow movers: integer week bins (non-negative day DIV 7, so DIV
    // and // agree), lag deltas, deterministic top-8
    "events_wow_movers" ->
      """WITH c AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |      AS week,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, week, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
        |  FROM c)
        |SELECT event_type, CAST(week AS BIGINT) AS week,
        |  CAST(n AS BIGINT) AS n, CAST(prev_n AS BIGINT) AS prev_n,
        |  CAST(n - prev_n AS BIGINT) AS delta
        |FROM d WHERE prev_n IS NOT NULL
        |ORDER BY abs(n - prev_n) DESC, event_type ASC, week ASC
        |LIMIT 8""".stripMargin,
    // embedding drift: parallel unnests zip dims with values; the
    // fixed-point per-row rounding is the established parity
    "qa_embedding_drift" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 5 = 0 THEN
        |      [CASE WHEN i <= 4 THEN embedding[i] + CAST(0.1 AS FLOAT)
        |            ELSE embedding[i] END
        |       for i in range(1, len(embedding) + 1)]
        |    ELSE embedding END AS embedding
        |  FROM embeddings),
        |fa AS (SELECT unnest(range(0, len(embedding))) AS dim,
        |              unnest(embedding) AS v FROM embeddings),
        |fb AS (SELECT unnest(range(0, len(embedding))) AS dim,
        |              unnest(embedding) AS v FROM b),
        |sa AS (SELECT dim,
        |         SUM(CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
        |           AS sum_a_fp
        |       FROM fa GROUP BY 1),
        |sb AS (SELECT dim,
        |         SUM(CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
        |           AS sum_b_fp
        |       FROM fb GROUP BY 1)
        |SELECT CAST(sa.dim AS BIGINT) AS dim,
        |  CAST(sum_a_fp AS BIGINT) AS sum_a_fp,
        |  CAST(sum_b_fp AS BIGINT) AS sum_b_fp,
        |  CAST(sum_b_fp - sum_a_fp AS BIGINT) AS shift_fp
        |FROM sa JOIN sb USING (dim)
        |ORDER BY abs(sum_b_fp - sum_a_fp) DESC, dim ASC
        |LIMIT 8""".stripMargin,
    // html strip: both engines construct and strip the identical
    // string; 'g' makes DuckDB's regexp_replace global like Spark's
    "text_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><body class="' || lang || '"><h1>Doc ' || doc_id ||
        |    '</h1><p>' || regexp_replace(text, ' the ', ' &amp; ', 'g') ||
        |    '</p><!-- footer --></body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(regexp_replace(html, '<!--.*?-->', ' ', 'g'),
        |                       '<[^>]*>', ' ', 'g'),
        |        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
        |        '&quot;', '"'), '&#39;', ''''),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id,
        |  CAST(length(html) - length(replace(html, '<', '')) AS BIGINT)
        |    AS n_tags,
        |  CAST(length(clean) AS BIGINT) AS clean_len,
        |  substr(clean, 1, 48) AS clean_head
        |FROM c""".stripMargin,
    // dataset card: every metric an exact integer (counts or
    // 1e6-scaled integer-division means) — engine-portable
    "pipeline_dataset_card" ->
      """WITH q AS (
        |  SELECT lang, source, n_chars,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(length(text) AS DOUBLE) AS tlen,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) AS ar,
        |    (CAST(length(text) AS DOUBLE)
        |      - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
        |    len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the','data','order','key','value'))) AS stop_hits
        |  FROM documents),
        |base AS (
        |  SELECT COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
        |    COUNT(DISTINCT source) AS n_sources,
        |    CAST(SUM(n_tok) AS BIGINT) AS token_total,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |    CAST(SUM(CASE WHEN n_tok >= 10 AND n_tok <= 100000
        |      AND mtl >= 2.0 AND mtl <= 12.0 AND ar >= 0.5
        |      AND stop_hits >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS quality_pass
        |  FROM q),
        |dup AS (
        |  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS dup_docs FROM (
        |    SELECT md5(text) AS hh, COUNT(*) AS n FROM documents
        |    GROUP BY 1 HAVING COUNT(*) > 1))
        |SELECT 'chars_total' AS metric, chars_total AS value FROM base
        |UNION ALL SELECT 'dup_docs', dup_docs FROM dup
        |UNION ALL SELECT 'mean_chars_fp', chars_total * 1000000 // n_docs
        |  FROM base
        |UNION ALL SELECT 'n_docs', CAST(n_docs AS BIGINT) FROM base
        |UNION ALL SELECT 'n_langs', CAST(n_langs AS BIGINT) FROM base
        |UNION ALL SELECT 'n_sources', CAST(n_sources AS BIGINT) FROM base
        |UNION ALL SELECT 'quality_pass', quality_pass FROM base
        |UNION ALL SELECT 'token_total', token_total FROM base""".stripMargin,
    "text_quality_filter" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |       w -> w IN ('the','data','order','key','value'))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
        |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        |  (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
        |  (len(string_split(text, ' ')) >= 10 AND len(string_split(text, ' ')) <= 100000
        |   AND (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 2.0
        |   AND (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 12.0
        |   AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |         / CAST(length(text) AS DOUBLE) >= 0.5
        |   AND len(list_filter(string_split(text, ' '),
        |         w -> w IN ('the','data','order','key','value'))) >= 1) AS passes
        |FROM documents""".stripMargin,

    "text_lang_id" ->
      s"""WITH lex(word, lex_lang) AS (VALUES $lexValues),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |hits AS (
         |  SELECT doc_id, lex_lang, COUNT(*) AS hits
         |  FROM tok JOIN lex USING (word) GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id, lex_lang, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY hits DESC NULLS LAST, lex_lang ASC NULLS FIRST) AS rn
         |  FROM hits)
         |SELECT d.doc_id, d.lang AS actual_lang,
         |  COALESCE(b.lex_lang, 'und') AS predicted_lang
         |FROM documents d
         |LEFT JOIN (SELECT doc_id, lex_lang FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin,

    "text_sentiment" ->
      s"""WITH lex(word, weight) AS (VALUES $sentLexValues),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |sc AS (
         |  SELECT doc_id, CAST(SUM(weight) AS BIGINT) AS sentiment_score,
         |    COUNT(*) AS n_sentiment_words
         |  FROM tok JOIN lex USING (word) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(sc.sentiment_score, 0) AS sentiment_score,
         |  COALESCE(sc.n_sentiment_words, 0) AS n_sentiment_words,
         |  CASE WHEN COALESCE(sc.sentiment_score, 0) > 0 THEN 'positive'
         |       WHEN COALESCE(sc.sentiment_score, 0) < 0 THEN 'negative'
         |       ELSE 'neutral' END AS sentiment_label
         |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    "text_repetition" ->
      """SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CASE WHEN len(w) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
        |  END AS dup_token_frac,
        |  CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
        |  END AS dup_2gram_frac,
        |  CASE WHEN len(g3) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
        |  END AS dup_3gram_frac
        |FROM (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) < 2 THEN []::VARCHAR[]
        |         ELSE [w[i] || ' ' || w[i + 1] for i in range(1, len(w))] END AS g2,
        |    CASE WHEN len(w) < 3 THEN []::VARCHAR[]
        |         ELSE [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
        |               for i in range(1, len(w) - 1)] END AS g3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))""".stripMargin,

    "text_pii_redact" ->
      s"""WITH injected AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |              || '@example.com or 555-'
         |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${ExtQueries.piiEmailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${ExtQueries.piiPhonePattern}')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(
         |        regexp_replace(t, '${ExtQueries.piiEmailPattern}', '<EMAIL>', 'g'),
         |        '${ExtQueries.piiPhonePattern}', '<PHONE>', 'g')) AS clean_md5
         |FROM injected""".stripMargin,

    "text_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, word, tf, df, CAST(tf * n AS DOUBLE) / df AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, word, tf, df, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC NULLS LAST, word ASC NULLS FIRST) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, word, tf, df, round(score, 6) AS score
        |FROM r WHERE rank <= 3""".stripMargin,

    "text_substring_spans" -> ExtOracleSql.textSubstringSpans,
    "text_substring_extend" -> ExtOracleSql.textSubstringExtend,
    "text_substring_cut" -> ExtOracleSql.textSubstringCut,
    "pipeline_build_corpus" -> ExtOracleSql.pipelineBuildCorpus,
    "pipeline_build_corpus_audit" -> ExtOracleSql.pipelineBuildCorpusAudit,
    // v00001 = the hourly aggregate over ingest wave 1 (event_id % 2),
    // v00002 = over everything (complete mode): the versioned-publish
    // history replayed from the raw table
    "streaming_versioned_publish" ->
      """WITH a1 AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS fp
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
        |a2 AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS fp
        |  FROM events GROUP BY 1, 2)
        |SELECT 'v00001' AS version, CAST(0 AS BIGINT) AS batch_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(n) AS BIGINT) AS n_events_total,
        |  CAST(SUM(fp) AS BIGINT) AS sum_fp_total
        |FROM a1
        |UNION ALL
        |SELECT 'v00002', 1, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n) AS BIGINT), CAST(SUM(fp) AS BIGINT)
        |FROM a2""".stripMargin,
    // v00001 = wave-1 membership (doc_id % 2 = 0, batch 0 creates the
    // table), v00002 = everything (batch 1 appends); the stale replay
    // published nothing or the v00002 row would double-count
    "streaming_versioned_ingest" ->
      """SELECT 'v00001' AS version, CAST(0 AS BIGINT) AS batch_id,
        |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'v00002', 1, count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin,
    // streaming source over the change feed: the stream-folded MV and
    // the head read state the SAME per-language aggregate — a missed
    // window, double-applied batch, or lost pre-image diverges them
    "streaming_feed_source" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2 AND doc_id % 13 <> 0),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM final GROUP BY lang)
        |SELECT '1_stream_mv' AS slice, lang, n_docs, sum_chars FROM agg
        |UNION ALL
        |SELECT '2_head', lang, n_docs, sum_chars FROM agg""".stripMargin,
    // complex-type feed: the replicated embedding table and the
    // source head state one (dim, in-order sum-of-squares) shape —
    // a dropped window, a lost array element, or a float that
    // diverged in the spool round-trip all break the hash
    "streaming_feed_embeddings" ->
      """WITH final AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 25 = 0 THEN list_reverse(embedding)
        |         ELSE embedding END AS emb
        |  FROM embeddings
        |  WHERE vec_id % 17 <> 0),
        |shaped AS (
        |  SELECT vec_id, CAST(len(emb) AS BIGINT) AS dim,
        |    round(list_reduce(
        |      list_transform(emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |      (acc, x) -> acc + x), 6) AS checksum
        |  FROM final)
        |SELECT '1_replica' AS slice, vec_id, dim, checksum FROM shaped
        |UNION ALL
        |SELECT '2_source', vec_id, dim, checksum FROM shaped""".stripMargin,
    // medallion hop: the streamed-and-transformed silver table and
    // the directly-transformed bronze head state one aggregate
    "streaming_table_to_table" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2 AND doc_id % 13 <> 0),
        |silver AS (
        |  SELECT doc_id, lang, n_chars - n_chars % 100 AS chars_bin FROM final),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |    CAST(sum(chars_bin) AS BIGINT) AS sum_bins
        |  FROM silver GROUP BY lang)
        |SELECT '1_silver' AS slice, lang, n_docs, sum_ids, sum_bins FROM agg
        |UNION ALL
        |SELECT '2_bronze_head', lang, n_docs, sum_ids, sum_bins FROM agg""".stripMargin,
    // auto-optimize ingest: compaction is content-identical, so the
    // head equals the full staged corpus no matter when it fired
    "streaming_auto_optimize" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin,
    // gold hop: the incrementally-folded aggregate table and the
    // directly-aggregated silver head state one rollup
    "streaming_gold_agg" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2 AND doc_id % 13 <> 0),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM final GROUP BY lang)
        |SELECT '1_gold' AS slice, lang, n_docs, sum_chars FROM agg
        |UNION ALL
        |SELECT '2_silver_head', lang, n_docs, sum_chars FROM agg""".stripMargin,
    // gold MV with MIN/MAX: the incrementally-maintained aggregate
    // (counts folded, extrema recomputed per affected group) and the
    // directly-aggregated silver head state one rollup — the
    // one-language delete makes a stale extremum diverge the hash
    "streaming_gold_agg_minmax" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2
        |    AND NOT (doc_id % 13 = 0
        |             AND lang = (SELECT min(lang) FROM documents))),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(min(n_chars) AS BIGINT) AS min_chars,
        |    CAST(max(n_chars) AS BIGINT) AS max_chars
        |  FROM final GROUP BY lang)
        |SELECT '1_gold' AS slice, lang, n_docs, sum_chars, min_chars,
        |  max_chars FROM agg
        |UNION ALL
        |SELECT '2_silver_head', lang, n_docs, sum_chars, min_chars,
        |  max_chars FROM agg""".stripMargin,
    // the declarative sink hop: replica ≡ source head — a missed
    // window, a double-applied batch, or a sink that lost a delete
    // all diverge the slices
    "streaming_sink_medallion" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2 AND doc_id % 13 <> 0),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM final GROUP BY lang)
        |SELECT '1_replica' AS slice, lang, n_docs, sum_ids, sum_chars FROM agg
        |UNION ALL
        |SELECT '2_source', lang, n_docs, sum_ids, sum_chars FROM agg""".stripMargin,
    // initial-snapshot replication: the from-scratch replica (snapshot
    // batch + two window folds) equals the source head — a snapshot
    // that missed pre-stream history or re-emitted on restart diverges
    "streaming_feed_snapshot" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2 AND doc_id % 13 <> 0),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM final GROUP BY lang)
        |SELECT '1_replica' AS slice, lang, n_docs, sum_ids, sum_chars FROM agg
        |UNION ALL
        |SELECT '2_source', lang, n_docs, sum_ids, sum_chars FROM agg""".stripMargin,
    // per-row commit attribution: every feed row charged to the
    // version that committed it, timestamps inheriting the preceding
    // writer stamp — a row on the wrong commit, a lost pre-image, or
    // a timestamp that failed to inherit all diverge the hash
    "streaming_feed_commit_versions" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents)
        |SELECT doc_id, lang, n_chars, 'insert' AS change_type,
        |  'v00002' AS _commit_version,
        |  CAST(1000 AS BIGINT) AS _commit_timestamp,
        |  CAST(2 AS BIGINT) AS _commit_version_num
        |FROM base WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete', 'v00003', 3000, 3
        |FROM base WHERE doc_id % 11 = 0 AND doc_id % 3 < 2
        |UNION ALL
        |SELECT doc_id, lang, n_chars + 1000, 'insert', 'v00003', 3000, 3
        |FROM base WHERE doc_id % 11 = 0 AND doc_id % 3 < 2
        |UNION ALL
        |SELECT doc_id, lang,
        |  n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END,
        |  'delete', 'v00004', 3000, 4
        |FROM base WHERE doc_id % 13 = 0 AND doc_id % 3 < 2""".stripMargin,
    // raw out-of-order CDC net outcome: per key the highest sequence
    // wins — stale deletes under a superseding insert, update pairs,
    // and late re-inserts under a delete all resolve to this content
    "streaming_sink_applyseq" ->
      """SELECT doc_id, lang,
        |  n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |FROM documents
        |WHERE (doc_id % 3 = 0 OR doc_id % 11 = 0) AND doc_id % 13 <> 0""".stripMargin,
    // the expectation split: every row lands on exactly one side of
    // the predicate — a dropped rejection or a double-landed batch
    // diverges either slice
    "streaming_sink_expectations" ->
      """SELECT '1_bronze' AS slice, doc_id, lang, n_chars
        |FROM documents WHERE n_chars % 7 <> 0
        |UNION ALL
        |SELECT '2_quarantine', doc_id, lang, n_chars
        |FROM documents WHERE n_chars % 7 = 0""".stripMargin,
    // the (1500, 3500) window resolves to (v1, v3]: the append's
    // inserts carry FINAL values netted through the window (a key
    // born at v2 and updated at v3 emits one insert, no delete);
    // the merge's updates on v1-resident keys emit delete+insert
    "layout_feed_by_timestamp" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents)
        |SELECT doc_id, lang,
        |  n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars,
        |  'insert' AS change_type
        |FROM base WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, lang, n_chars + 1000, 'insert'
        |FROM base WHERE doc_id % 3 = 0 AND doc_id % 11 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'delete'
        |FROM base WHERE doc_id % 3 = 0 AND doc_id % 11 = 0""".stripMargin,
    // time-addressed clone/restore: the clone reads v2's content, the
    // pre-restore head v3's, the restored source v1's — one wrong
    // bound resolution diverges a slice
    "layout_clone_asof" ->
      """SELECT '1_clone' AS slice, doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 3 < 2
        |UNION ALL
        |SELECT '2_pre_restore_head', doc_id, lang, n_chars FROM documents
        |UNION ALL
        |SELECT '3_restored', doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,
    // transactional band overwrite: the head and the one-window feed
    // application state the SAME reclassified content — a torn
    // replace (band dropped but batch lost, or a split window) would
    // diverge a slice
    "layout_replace_where" ->
      """WITH final AS (
        |  SELECT doc_id,
        |    CASE WHEN n_chars BETWEEN 300 AND 420 THEN 'xx' ELSE lang END AS lang,
        |    n_chars
        |  FROM documents)
        |SELECT '1_head' AS slice, doc_id, lang, n_chars FROM final
        |UNION ALL
        |SELECT '2_feed_applied', doc_id, lang, n_chars FROM final""".stripMargin,
    // FSCK repair: after the de generation's files are externally
    // deleted and the references repaired away, the head is exactly
    // the survivor rows — one row resurrected or over-dropped
    // diverges the hash
    "layout_fsck_repair" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'de'",
    // the merged profile equals the batch per-user aggregate no
    // matter how events split across micro-batches — the exactly-once
    // CDC-apply contract stated directly
    "streaming_merge_apply" ->
      """WITH per_user AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(event_id) AS BIGINT) AS sum_eids
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
        |SELECT n_events, count(*) AS n_users,
        |  CAST(sum(sum_eids) AS BIGINT) AS sum_eids
        |FROM per_user GROUP BY n_events""".stripMargin,
    "text_segment_dedup" -> ExtOracleSql.textSegmentDedup,
    "qa_sketch_reagg" -> ExtOracleSql.qaSketchReagg,
    "agg_quantile_sketch" -> ExtOracleSql.aggQuantileSketch,
    "qa_cms_freq" -> ExtOracleSql.qaCmsFreq,
    "events_rolling_distinct" -> ExtOracleSql.eventsRollingDistinct,
    "pipeline_curriculum_bins" -> ExtOracleSql.pipelineCurriculumBins,
    "qa_sketch_set_algebra" -> ExtOracleSql.qaSketchSetAlgebra,
    "pipeline_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS old_md5 FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) AS new_md5
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
        |    md5('new ' || text) AS new_md5
        |  FROM documents WHERE doc_id % 29 = 0)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.old_md5 IS NULL THEN 'added'
        |       WHEN v2.new_md5 IS NULL THEN 'removed'
        |       WHEN v1.old_md5 <> v2.new_md5 THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  v1.old_md5, v2.new_md5
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin,
    "qa_key_skew" ->
      """WITH c AS (SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
        |           FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tt,
        |             CAST(COUNT(*) AS BIGINT) AS kk FROM c),
        |top AS (SELECT key, n_rows FROM c
        |        ORDER BY n_rows DESC, key ASC LIMIT 10)
        |SELECT key, n_rows,
        |  (n_rows * 1000000) // tt AS share_ppm,
        |  (n_rows * kk * 1000000) // tt AS x_avg_fp
        |FROM top CROSS JOIN t""".stripMargin,
    "layout_zorder" -> ExtOracleSql.layoutZorder,
    "text_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(words) < 8 THEN []::VARCHAR[]
        |                ELSE [array_to_string(words[i:i+7], ' ')
        |                      for i in range(1, len(words) - 6)] END) AS shingle
        |  FROM w),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_overlap
        |  FROM sh s JOIN bench b USING (shingle)
        |  WHERE s.doc_id % 50 <> 0
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(h.n_overlap, 0) AS n_overlap_8grams,
        |  COALESCE(h.n_overlap, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 50 <> 0""".stripMargin,

    "sample_source_quota" ->
      """SELECT source, rank, doc_id, digest FROM (
        |  SELECT source, doc_id, md5(text) AS digest,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(text) ASC NULLS FIRST, doc_id ASC NULLS FIRST) AS rank
        |  FROM documents)
        |WHERE rank <= 10""".stripMargin,

    "pack_sequences" ->
      """SELECT doc_id, pack_group,
        |  CAST(floor(cum_before / 512) AS BIGINT) AS pack_bin, n_tokens
        |FROM (
        |  SELECT doc_id, pack_group, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_group
        |      ORDER BY digest ASC NULLS FIRST, doc_id ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM (
        |    SELECT doc_id,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |      md5(text) AS digest,
        |      CAST(('0x' || substr(md5(text), 1, 1))::UBIGINT AS BIGINT) AS pack_group
        |    FROM documents))""".stripMargin,

    "pack_chunked_sequences" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |ch AS (SELECT doc_id, unnest(range(0, ((len(words) - 1) // 16) + 1)) AS chunk_idx, words
        |       FROM w),
        |c AS (SELECT doc_id, chunk_idx,
        |  CAST(len(words[chunk_idx * 16 + 1 : chunk_idx * 16 + 32]) AS BIGINT) AS n_chunk_words,
        |  md5(array_to_string(words[chunk_idx * 16 + 1 : chunk_idx * 16 + 32], ' ')) AS digest
        |  FROM ch),
        |b AS (SELECT *, CAST(('0x' || substr(digest, 1, 1))::UBIGINT AS BIGINT) AS pack_group
        |      FROM c)
        |SELECT doc_id, chunk_idx, pack_group,
        |  CAST(floor(cum_before / 512) AS BIGINT) AS pack_bin,
        |  n_chunk_words, chunk_idx > 0 AS is_continuation
        |FROM (
        |  SELECT *, COALESCE(SUM(n_chunk_words) OVER (PARTITION BY pack_group
        |    ORDER BY digest ASC NULLS FIRST, doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM b)""".stripMargin,

    // composed corpus prep: quality rules -> exact dedup -> benchmark
    // exclusion + decontamination -> split (restates the gated stages)
    "pipeline_prepare_corpus" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS nt,
        |    (CAST(length(text) AS DOUBLE) - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
        |      / CAST(length(text) AS DOUBLE) AS ar,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the','data','order','key','value'))) AS sw
        |  FROM documents),
        |keep AS (
        |  SELECT doc_id, text FROM base
        |  WHERE doc_id % 50 <> 0 AND nt >= 10 AND nt <= 100000
        |    AND mtl >= 2.0 AND mtl <= 12.0 AND ar >= 0.5 AND sw >= 1),
        |dedup AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id ASC NULLS FIRST) AS rn FROM keep)
        |  WHERE rn = 1),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(words) < 8 THEN []::VARCHAR[]
        |                ELSE [array_to_string(words[i:i+7], ' ')
        |                      for i in range(1, len(words) - 6)] END) AS shingle
        |  FROM w),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
        |contaminated AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (shingle)
        |  WHERE s.doc_id % 50 <> 0)
        |SELECT doc_id, md5(text) AS fingerprint,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, text,
        |        CAST(('0x' || substr(md5(text), 1, 4))::UBIGINT AS BIGINT) % 10 AS b
        |      FROM dedup)
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin,

    "mix_upsample" ->
      """SELECT doc_id, source, weight,
        |  unnest(range(1, weight + 1)) AS copy_idx
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(source), 1, 2))::UBIGINT AS BIGINT) % 3 + 1 AS weight
        |  FROM documents)""".stripMargin,

    "text_fingerprint" ->
      "SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents",

    "sample_digest_bernoulli" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substr(md5(text), 1, 4))::UBIGINT AS BIGINT) < 6553""".stripMargin,

    // Efraimidis–Spirakis A-ES: priority u^(1/w), u from 52 digest
    // bits (exact in a double), w = n_chars; top-100 by priority.
    // Both engines evaluate the same per-row pure expression — no
    // accumulation, so no float order-dependence
    "sample_weighted" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |    pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT
        |           AS BIGINT) + 1.0) / 4503599627370496.0,
        |        1.0 / n_chars) AS k
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars,
        |  CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT) AS sel_rank
        |FROM keyed ORDER BY k DESC, doc_id LIMIT 100""".stripMargin,

    // the streaming fold converges to the batch A-ES sample exactly
    // (commutative top-B merge) — same oracle, any micro-batch split
    "streaming_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |    pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT
        |           AS BIGINT) + 1.0) / 4503599627370496.0,
        |        1.0 / n_chars) AS k
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars,
        |  CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT) AS sel_rank
        |FROM keyed ORDER BY k DESC, doc_id LIMIT 100""".stripMargin,

    "pipeline_train_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5(text), 1, 4))::UBIGINT AS BIGINT) % 10 AS b
        |      FROM documents)""".stripMargin,

    "text_vocab_topk" ->
      """SELECT word, n_occurrences, n_docs FROM (
        |  SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word)
        |ORDER BY n_occurrences DESC NULLS LAST, word ASC NULLS FIRST
        |LIMIT 20""".stripMargin,

    "dedup_minhash_lsh" -> ExtOracleSql.dedupMinhashLsh,
    "dedup_ngram_verified" -> ExtOracleSql.dedupNgramVerified,
    "dedup_clusters" -> ExtOracleSql.dedupClusters,
    // the star-contraction path must land on the IDENTICAL components —
    // same oracle as dedup_clusters by design
    "dedup_clusters_star" -> ExtOracleSql.dedupClusters,
    "graph_pagerank" -> ExtOracleSql.graphPageRank,
    "graph_triangles" -> ExtOracleSql.graphTriangles,
    "graph_transitivity" -> ExtOracleSql.graphTransitivity,
    // the stored and append paths resolve to the identical row set as
    // the one-shot derivation — that equality IS what their gates prove
    "graph_pagerank_stored" -> ExtOracleSql.graphPageRank,
    "graph_pagerank_append" -> ExtOracleSql.graphPageRank,
    "graph_pagerank_maintain" -> ExtOracleSql.graphPageRankMaintain,
    "graph_pagerank_warmstart" -> ExtOracleSql.graphPageRankWarmstart,
    "dedup_semantic" -> ExtOracleSql.dedupSemantic,
    "pipeline_dedup_canonical" -> ExtOracleSql.pipelineDedupCanonical,
    "pipeline_dedup_weights" -> ExtOracleSql.pipelineDedupWeights,
    "pipeline_dedup_incremental" -> ExtOracleSql.pipelineDedupIncremental,
    "pipeline_dedup_embedding_incremental" -> ExtOracleSql.pipelineDedupEmbeddingIncremental,
    // published-storage path must land on the incremental oracle verbatim
    "pipeline_dedup_published" -> ExtOracleSql.pipelineDedupIncremental,
    "pipeline_dedup_exact_incremental" -> ExtOracleSql.pipelineDedupExactIncremental,
    "pipeline_state_publish" -> ExtOracleSql.pipelineStatePublish,
    // r8 state purges: every twin is the full recompute over the purged
    // corpus — the incremental purge must lose nothing and invent
    // nothing relative to a from-scratch rebuild
    "pipeline_purge_digest_state" -> ExtOracleSql.pipelinePurgeDigestState,
    "pipeline_purge_band_pairs" -> ExtOracleSql.pipelinePurgeBandPairs,
    "pipeline_purge_clusters" -> ExtOracleSql.pipelinePurgeClusters,
    "pipeline_split_by_cluster" -> ExtOracleSql.pipelineSplitByCluster,
    "sim_ivf_purge_topk" -> ExtOracleSql.simIvfPurgeTopK,
    "pipeline_delete_propagate_state" -> ExtOracleSql.pipelineDeletePropagateState,
    "pipeline_classifier_centroid" -> ExtOracleSql.classifierCentroid,
    "er_fuzzy_match" -> ExtOracleSql.erFuzzyMatch,
    "pipeline_curation_funnel" -> ExtOracleSql.curationFunnel,
    "text_bpe_train_encode" -> ExtOracleSql.textBpeTrainEncode,
    "qa_expectation_suite" -> ExtOracleSql.qaExpectationSuite,
    "layout_compaction" -> ExtOracleSql.layoutCompaction,
    "sim_hybrid_rrf" -> ExtOracleSql.simHybridRrf,
    "text_bm25_topk" -> ExtOracleSql.textBm25TopK,
    // the stored-index and fold paths must reproduce the one-shot
    // full-corpus computation bit-for-bit — same oracle verbatim
    "text_bm25_stored_topk" -> ExtOracleSql.textBm25TopK,
    "text_bm25_append_topk" -> ExtOracleSql.textBm25TopK,
    "text_bm25_purge_topk" -> ExtOracleSql.textBm25PurgeTopK,
    "layout_index_from_feed" -> ExtOracleSql.layoutIndexFromFeed,
    "layout_ivf_from_feed" -> ExtOracleSql.layoutIvfFromFeed,
    "graph_pagerank_purge" -> ExtOracleSql.graphPageRankPurge,
    "graph_pagerank_purge_warmstart" -> ExtOracleSql.graphPageRankPurgeWarmstart,
    "sim_hybrid_stored_rrf" -> ExtOracleSql.simHybridStoredRrf,
    // deterministic filesystem trace: keepLast=2 of four publishes
    // leaves markers v00001/v00002; compaction folds both into the
    // watermark; the next publish must burn past it to v00005
    "pipeline_vacuum_compact_markers" ->
      """SELECT CAST(2 AS BIGINT) AS n_markers_before,
        |  CAST(2 AS BIGINT) AS n_folded,
        |  CAST(0 AS BIGINT) AS n_markers_after,
        |  'v00005' AS next_version""".stripMargin,
    // the band filter stated over the RAW table — the Spark side's
    // layout write, stored manifest, and file pruning must reproduce it
    "layout_stats_pruned_scan" ->
      """WITH m AS (SELECT max(l_orderkey) AS mk FROM lineitem)
        |SELECT l_returnflag AS rf,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
        |FROM lineitem, m
        |WHERE l_orderkey BETWEEN mk // 5 AND (3 * mk) // 10
        |GROUP BY 1""".stripMargin,
    // the IN-list stated over the RAW table — the Spark side's size-
    // tier layout, stored bloom bitmaps, and no-false-negative file
    // probe must reproduce it
    "layout_bloom_pruned_scan" ->
      """WITH m AS (SELECT max(doc_id) AS mk FROM documents)
        |SELECT doc_id, lang, n_chars
        |FROM documents, m
        |WHERE doc_id IN ((1 * mk) // 7, (2 * mk) // 7, (3 * mk) // 7,
        |                 (4 * mk) // 7, (5 * mk) // 7)""".stripMargin,
    // the surviving corpus stated over the RAW table — the Spark
    // side's roster probe join, holder rewrite, and committed manifest
    // must reproduce it (a missed holder file leaks rows into n_docs,
    // a stale manifest row double-reads a rewritten file)
    "layout_bloom_roster_delete" ->
      """SELECT count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 43 <> 0""".stripMargin,
    // each version's membership restated from the raw table — the
    // Spark side's manifest folds, time-travel reads, and pruned band
    // scan must reproduce all four slices
    "layout_versioned_publish" ->
      """SELECT '1_v00001' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT '2_v00002', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT '3_v00003', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT '4_band', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0
        |  AND n_chars BETWEEN 200 AND 400""".stripMargin,
    // merge-on-read memberships: each DV commit hides exactly the
    // doomed rows, compaction is content-identical, the band read at
    // the compacted head misses nothing
    "layout_dv_delete" ->
      """SELECT '1_v00001' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |UNION ALL
        |SELECT '2_v00002', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0
        |UNION ALL
        |SELECT '3_v00003', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
        |UNION ALL
        |SELECT '4_v00004', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
        |UNION ALL
        |SELECT '5_band', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
        |  AND n_chars BETWEEN 200 AND 400""".stripMargin,
    // the commit race: B's append (v00002) and A's rebased commit
    // (v00004 — v00003 is A's tombstoned first attempt) each land
    // exactly once; the final membership is the full table
    "layout_versioned_occ" ->
      """SELECT '1_v00001' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT '2_v00002', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT '3_v00004', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin,
    // the merged table restated as a CASE-adjusted UNION: replaced
    // rows once with bumped chars, inserts offset past max(doc_id)
    "layout_dv_upsert" ->
      """WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
        |merged AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + o, n_chars FROM documents, off WHERE doc_id % 17 = 0)
        |SELECT '1_head' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged
        |UNION ALL
        |SELECT '2_updated', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM merged, off WHERE doc_id % 13 = 0 AND doc_id < o
        |UNION ALL
        |SELECT '3_inserted', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM merged, off WHERE doc_id >= o""".stripMargin,
    // both ledgers restated per stage: live membership is roster-free
    // from the DV commit on; physical roster bytes persist through
    // compaction (history!) and reach 0 only after the vacuum
    "layout_dv_purge_audit" ->
      """SELECT '1_dv_delete' AS stage,
        |  count(*) AS n_live, CAST(sum(doc_id) AS BIGINT) AS sum_live_ids,
        |  (SELECT count(*) FROM documents WHERE doc_id % 89 = 0) AS n_physical_roster
        |FROM documents WHERE doc_id % 89 <> 0
        |UNION ALL
        |SELECT '2_compact', count(*), CAST(sum(doc_id) AS BIGINT),
        |  (SELECT count(*) FROM documents WHERE doc_id % 89 = 0)
        |FROM documents WHERE doc_id % 89 <> 0
        |UNION ALL
        |SELECT '3_vacuum', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM documents WHERE doc_id % 89 <> 0""".stripMargin,
    // the vetoed state equals v1+constraints; the committed state adds
    // only the VALID batch
    "layout_table_constraints" ->
      """SELECT '1_vetoed' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT '2_committed', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 < 2""".stripMargin,
    // the spanning-window fold equals the head aggregate: nothing
    // double-counted, lost, or leaked at the rewrite boundary
    "layout_feed_across_optimize" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE (doc_id % 3 < 2 AND doc_id % 5 <> 0) OR doc_id % 3 = 2
        |GROUP BY lang""".stripMargin,
    // the fold across the CoW UPDATE + CoW delete equals the head
    // aggregate: CDC pre-images subtract under the OLD lang, post-
    // images add under 'xx', and both CoW rewrites' churned survivors
    // stay out of the feed
    "layout_feed_across_update" ->
      """SELECT CASE WHEN n_chars BETWEEN 200 AND 400 THEN 'xx' ELSE lang END
        |    AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 3 < 2 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0
        |GROUP BY 1""".stripMargin,
    // MERGE routing restated as the three-way union its semantics
    // define: survivors (unmatched, or matched-but-unclaimed),
    // updates (SETs bound to the pre-update pair), inserts (unmatched
    // source under the not-matched condition); deletes vanish
    "layout_merge" ->
      """WITH t AS (SELECT doc_id, lang, n_chars FROM documents
        |           WHERE doc_id % 3 = 0),
        |     sr AS (SELECT doc_id, lang, n_chars + 100000 AS n_chars
        |            FROM documents WHERE doc_id % 2 = 0),
        |     merged AS (
        |       SELECT t.doc_id, t.lang, t.n_chars
        |         FROM t LEFT JOIN sr ON t.doc_id = sr.doc_id
        |        WHERE sr.doc_id IS NULL
        |           OR (sr.n_chars % 7 <> 0 AND t.n_chars % 2 <> 0)
        |       UNION ALL
        |       SELECT t.doc_id, t.lang || '+' AS lang, sr.n_chars
        |         FROM t JOIN sr ON t.doc_id = sr.doc_id
        |        WHERE sr.n_chars % 7 <> 0 AND t.n_chars % 2 = 0
        |       UNION ALL
        |       SELECT sr.doc_id, sr.lang, sr.n_chars
        |         FROM sr LEFT JOIN t ON sr.doc_id = t.doc_id
        |        WHERE t.doc_id IS NULL AND sr.doc_id % 5 <> 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY lang""".stripMargin,
    // the fold across the merge equals the head aggregate: DV'd
    // pre-images subtract, batch post-images/inserts add, and
    // copy-through rows never enter the feed
    "layout_feed_across_merge" ->
      """WITH t AS (SELECT doc_id, lang, n_chars FROM documents
        |           WHERE doc_id % 3 < 2),
        |     sr AS (SELECT doc_id, lang, n_chars + 100000 AS n_chars
        |            FROM documents WHERE doc_id % 2 = 0),
        |     merged AS (
        |       SELECT t.doc_id, t.lang, t.n_chars
        |         FROM t LEFT JOIN sr ON t.doc_id = sr.doc_id
        |        WHERE sr.doc_id IS NULL
        |           OR (sr.n_chars % 7 <> 0 AND t.n_chars % 2 <> 0)
        |       UNION ALL
        |       SELECT t.doc_id, t.lang || '+' AS lang, sr.n_chars
        |         FROM t JOIN sr ON t.doc_id = sr.doc_id
        |        WHERE sr.n_chars % 7 <> 0 AND t.n_chars % 2 = 0
        |       UNION ALL
        |       SELECT sr.doc_id, sr.lang, sr.n_chars
        |         FROM sr LEFT JOIN t ON sr.doc_id = t.doc_id
        |        WHERE t.doc_id IS NULL AND sr.doc_id % 5 <> 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY lang""".stripMargin,
    // the SCD2 state restated as its four-way union: closed old
    // currents, untouched/no-op currents, re-inserted new currents,
    // brand-new keys — history rows surviving is what the row-granular
    // DV buys
    "layout_merge_scd2" ->
      """WITH merged AS (
        |  SELECT lang, 'closed' AS status, doc_id FROM documents
        |   WHERE doc_id % 6 = 0 AND doc_id % 12 <> 0
        |  UNION ALL
        |  SELECT lang, 'current', doc_id FROM documents
        |   WHERE (doc_id % 3 = 0 AND doc_id % 6 <> 0) OR doc_id % 12 = 0
        |  UNION ALL
        |  SELECT coalesce(lang,'') || 'X', 'current', doc_id FROM documents
        |   WHERE doc_id % 6 = 0 AND doc_id % 12 <> 0
        |  UNION ALL
        |  SELECT coalesce(lang,'') || 'X', 'current', doc_id FROM documents
        |   WHERE doc_id % 3 = 2 AND doc_id % 7 = 0)
        |SELECT lang, status, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM merged GROUP BY lang, status""".stripMargin,
    // the survivors of the band delete, stated twice: the head read
    // and the feed fold across the metadata-delete commit must agree
    "layout_delete_band" ->
      """WITH survivors AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2
        |    AND NOT coalesce(n_chars BETWEEN 150 AND 600, false)
        |  GROUP BY lang)
        |SELECT '1_head' AS slice, lang, n_docs, sum_chars FROM survivors
        |UNION ALL
        |SELECT '2_folded', lang, n_docs, sum_chars FROM survivors""".stripMargin,
    // hidden partitioning: each probe's transform-pruned read +
    // exact filter must equal the raw point lookup, and the head
    // aggregate proves the bucket-clustered commits lost nothing
    "layout_hidden_partition" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 3 < 2)
        |SELECT '1_probe_1' AS slice, lang, CAST(1 AS BIGINT) AS n_docs,
        |  CAST(n_chars AS BIGINT) AS sum_chars FROM base WHERE doc_id = 1
        |UNION ALL
        |SELECT '1_probe_300', lang, CAST(1 AS BIGINT),
        |  CAST(n_chars AS BIGINT) FROM base WHERE doc_id = 300
        |UNION ALL
        |SELECT '1_probe_400', lang, CAST(1 AS BIGINT),
        |  CAST(n_chars AS BIGINT) FROM base WHERE doc_id = 400
        |UNION ALL
        |SELECT '2_head', lang, count(*),
        |  CAST(sum(n_chars) AS BIGINT) FROM base GROUP BY lang""".stripMargin,
    // metadata-only approx distinct: the manifest-merged KMV estimate
    // equals the direct sketch over the raw keys bit-for-bit (min-k
    // union losslessness; same 63/(v64/2^52) arithmetic both sides)
    "layout_metadata_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS p
        |  FROM documents WHERE doc_id % 3 < 2),
        |r AS (SELECT p, ROW_NUMBER() OVER (ORDER BY p) AS rn,
        |        COUNT(*) OVER () AS n FROM h)
        |SELECT CASE WHEN MAX(n) < 64 THEN CAST(MAX(n) AS DOUBLE)
        |  ELSE 63.0 / (CAST(list_reduce(
        |    [strpos('0123456789abcdef', substr(MAX(CASE WHEN rn = 64 THEN p END), i, 1)) - 1
        |     for i in range(1, 14)], (a, d) -> a * 16 + d) AS DOUBLE)
        |    / 4503599627370496.0)
        |  END AS n_distinct_est
        |FROM r""".stripMargin,
    // CDC replication: source and replica head aggregates stated from
    // ONE restatement of the four-verb chain — divergence breaks it
    "layout_apply_changes" ->
      """WITH final AS (
        |  SELECT doc_id, lang,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 1000 ELSE 0 END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2 AND doc_id % 13 <> 0 AND doc_id % 17 <> 0),
        |agg AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM final GROUP BY lang)
        |SELECT '1_source' AS slice, lang, n_docs, sum_chars FROM agg
        |UNION ALL
        |SELECT '2_replica', lang, n_docs, sum_chars FROM agg""".stripMargin,
    // SEQUENCE BY: the oracle restates the full per-key resolution —
    // highest seq wins, insert outranks delete at an equal sequence —
    // and both window folds over the bootstrap state
    "layout_apply_changes_seq" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 300),
        |feed1 AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars,
        |    'insert' AS change_type, 1 AS seq FROM documents WHERE doc_id < 100
        |  UNION ALL SELECT doc_id, lang, n_chars, 'delete', 2
        |    FROM documents WHERE doc_id < 100 AND doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, lang, n_chars + 3000, 'insert', 3
        |    FROM documents WHERE doc_id < 100 AND doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000, lang, n_chars, 'insert', 1
        |    FROM documents WHERE doc_id < 20
        |  UNION ALL SELECT doc_id, lang, n_chars + 9000, 'insert', 9
        |    FROM documents WHERE doc_id = 42
        |  UNION ALL SELECT doc_id, lang, n_chars, 'delete', 9
        |    FROM documents WHERE doc_id = 42),
        |feed2 AS (
        |  SELECT doc_id, lang, n_chars, 'delete' AS change_type, 7 AS seq
        |    FROM documents WHERE doc_id >= 200 AND doc_id < 240
        |  UNION ALL SELECT doc_id, lang, n_chars + 500, 'insert', 1
        |    FROM documents WHERE doc_id >= 150 AND doc_id < 160),
        |net1 AS (SELECT doc_id, lang, n_chars, change_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY seq DESC, change_type DESC) AS rn FROM feed1) WHERE rn = 1),
        |net2 AS (SELECT doc_id, lang, n_chars, change_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY seq DESC, change_type DESC) AS rn FROM feed2) WHERE rn = 1),
        |after1 AS (
        |  SELECT b.doc_id, b.lang, b.n_chars FROM base b
        |  WHERE b.doc_id NOT IN (SELECT doc_id FROM net1)
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM net1 WHERE change_type = 'insert'),
        |after2 AS (
        |  SELECT a.doc_id, a.lang, a.n_chars FROM after1 a
        |  WHERE a.doc_id NOT IN (SELECT doc_id FROM net2)
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM net2 WHERE change_type = 'insert')
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM after2 GROUP BY lang""".stripMargin,
    // roster lookup: the pruned read + exact IN must equal the raw
    // point lookups
    "layout_partition_roster" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (1, 300, 400, 451) AND doc_id % 3 < 2""".stripMargin,
    // merge evolution: updates, inserts and the new column in one
    // commit; untouched rows carry NULL for it
    "layout_merge_evolve" ->
      """WITH t0 AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 < 2),
        |src AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars,
        |    n_chars % 7 AS quality
        |  FROM documents WHERE doc_id % 11 = 0),
        |upd AS (
        |  SELECT t0.doc_id, t0.lang,
        |    CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars
        |         ELSE t0.n_chars END AS n_chars,
        |    s.quality AS quality
        |  FROM t0 LEFT JOIN src s USING (doc_id)),
        |ins AS (
        |  SELECT doc_id, lang, n_chars, quality FROM src
        |  WHERE doc_id NOT IN (SELECT doc_id FROM t0)),
        |m AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(quality) AS n_quality,
        |  CAST(sum(quality) AS BIGINT) AS sum_quality
        |FROM m GROUP BY lang""".stripMargin,
    // type widening: the mixed-width table must sum past INT range
    "layout_type_widening" ->
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_small
        |  FROM documents WHERE doc_id % 3 < 2
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars + 3000000000
        |  FROM documents WHERE doc_id % 3 = 2
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_small) AS BIGINT) AS sum_small
        |FROM t GROUP BY lang""".stripMargin,
    // branch WAP: main's head after the fast-forward must equal the
    // branch's audited edits over the raw table
    "layout_branch_wap" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 3 < 2 AND doc_id % 11 <> 0
        |GROUP BY lang""".stripMargin,
    // branch rebase: main ≡ the serial application of both sides'
    // disjoint-key changes (branch deleted %21==0, main %21==3, the
    // post-refusal main delete %21==9)
    "layout_branch_rebase" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 21 NOT IN (0, 3, 9)
        |GROUP BY lang""".stripMargin,
    // dynamic file pruning: the pruned fact read + exact join must
    // equal the raw star join
    "layout_join_prune" ->
      """WITH fact AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 < 2
        |), dim AS (
        |  SELECT doc_id AS k, n_chars % 7 AS w FROM documents
        |  WHERE doc_id BETWEEN 100 AND 199 AND doc_id % 7 = 3
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(w) AS BIGINT) AS sum_w
        |FROM fact JOIN dim ON fact.doc_id = dim.k
        |GROUP BY lang""".stripMargin,
    // partitions metadata table: live rows per truncate(200, n_chars)
    // value — the metadata-only path and the straddler/DV scan path
    // must agree on one total
    "layout_partitions_table" ->
      """SELECT n_chars - n_chars % 200 AS bin_chars,
        |  count(*) AS n_live
        |FROM documents
        |WHERE doc_id % 3 < 2 AND doc_id % 997 <> 0
        |GROUP BY 1""".stripMargin,
    // selective OPTIMIZE: content identity stated twice — the head
    // read and the feed fold across the band rewrite must agree
    "layout_optimize_where" ->
      """WITH survivors AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents
        |  WHERE doc_id % 3 < 2 AND doc_id % 89 <> 0
        |  GROUP BY lang)
        |SELECT '1_head' AS slice, lang, n_docs, sum_chars FROM survivors
        |UNION ALL
        |SELECT '2_folded', lang, n_docs, sum_chars FROM survivors""".stripMargin,
    // partition-spec evolution: a pre-evolution probe (NULL-stat
    // generation, unpruned but correct), a post-evolution probe
    // (pruned generation), and the head aggregate across the mixed
    // manifest
    "layout_partition_evolution" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 3 < 2)
        |SELECT '1_probe_300' AS slice, lang, CAST(1 AS BIGINT) AS n_docs,
        |  CAST(n_chars AS BIGINT) AS sum_chars FROM base WHERE doc_id = 300
        |UNION ALL
        |SELECT '1_probe_400', lang, CAST(1 AS BIGINT),
        |  CAST(n_chars AS BIGINT) FROM base WHERE doc_id = 400
        |UNION ALL
        |SELECT '2_head', lang, count(*),
        |  CAST(sum(n_chars) AS BIGINT) FROM base GROUP BY lang""".stripMargin,
    // every version's verb stamp and exact membership: property
    // commits inherit content, the merge update and the OPTIMIZE
    // rewrite preserve counts
    "layout_history" ->
      """SELECT 'v00001' AS version, 'create' AS verb,
        |  count(*) AS n_rows FROM documents WHERE doc_id % 3 = 0
        |UNION ALL SELECT 'v00002', 'append', count(*)
        |  FROM documents WHERE doc_id % 3 < 2
        |UNION ALL SELECT 'v00003', 'delete-dv', count(*)
        |  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 5 <> 0
        |UNION ALL SELECT 'v00004', 'set-constraint', count(*)
        |  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 5 <> 0
        |UNION ALL SELECT 'v00005', 'merge', count(*)
        |  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 5 <> 0
        |UNION ALL SELECT 'v00006', 'optimize-compact', count(*)
        |  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 5 <> 0""".stripMargin,
    // retention served the consumer's fold exactly once: the MV after
    // the lagging-window fold equals the head aggregate
    "layout_vacuum_consumer" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 3 < 2 AND doc_id % 5 <> 0
        |GROUP BY lang""".stripMargin,
    // the head hides lang entirely; v1 still carries it
    "layout_drop_column" ->
      """SELECT '1_head' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(0 AS BIGINT) AS n_lang
        |FROM documents
        |UNION ALL
        |SELECT '2_v1', count(*), CAST(sum(doc_id) AS BIGINT),
        |  count(lang)
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    // head under the new name, v1 under the old, the band still pruned
    "layout_rename_column" ->
      """SELECT '1_head' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |UNION ALL
        |SELECT '2_v1', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT '3_band', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE n_chars BETWEEN 200 AND 400""".stripMargin,
    // the update lands exactly on the band's live rows; deleted rows
    // must not resurrect updated
    "layout_update_where" ->
      """SELECT CASE WHEN n_chars BETWEEN 200 AND 400 THEN 'xx' ELSE lang END
        |    AS lang,
        |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents WHERE doc_id % 9 <> 0
        |GROUP BY 1""".stripMargin,
    // content identical across the compaction; the band read misses
    // nothing the band owns
    "layout_optimize_compact" ->
      """SELECT '1_head' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 9 <> 0
        |UNION ALL
        |SELECT '2_band', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 9 <> 0
        |  AND n_chars BETWEEN 200 AND 400""".stripMargin,
    // the consumer's MV after three effective wakes == the head
    // aggregate stated directly
    "layout_feed_consumer" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE (doc_id % 3 < 2 AND doc_id % 5 <> 0) OR doc_id % 3 = 2
        |GROUP BY lang""".stripMargin,
    // head = the restored (pre-delete) content; the tagged v1 slice
    // survives keepLast=1
    "layout_restore_tag" ->
      """SELECT '1_head' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |UNION ALL
        |SELECT '2_tag', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    // three stamp probes: create-time, on the property commit (content
    // = the append), after the DV delete
    "layout_time_travel_ts" ->
      """SELECT '1_t100' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT '2_t250', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT '3_t999', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0""".stripMargin,
    // per-introducing-version rollup: the DV delete (v3) introduces no
    // rows and removes %5 rows from v1/v2's files; v4 postdates it
    "layout_commit_lineage" ->
      """SELECT 'v00001' AS _commit_version, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT 'v00002', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT 'v00004', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    // count exact through the DV; min/max only where stats are tight
    "layout_metadata_agg" ->
      """SELECT '1_full' AS slice, count(*) AS n_rows,
        |  min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars
        |FROM documents
        |UNION ALL
        |SELECT '2_after_dv', count(*), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0
        |UNION ALL
        |SELECT '3_compacted', count(*), min(n_chars), max(n_chars)
        |FROM documents WHERE doc_id % 7 <> 0""".stripMargin,
    // the crash window reads the v1 pair; the committed head reads the
    // evolved pair — both MV states restated from the raw table
    "layout_txn_commit" ->
      """SELECT '1_crash' AS slice, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 = 0 GROUP BY lang
        |UNION ALL
        |SELECT '2_committed', lang, count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 < 2 AND doc_id % 5 <> 0
        |GROUP BY lang""".stripMargin,
    // divergence after a zero-copy clone: the source keeps the full
    // membership, the clone hides its vectored rows
    "layout_shallow_clone" ->
      """SELECT '1_source' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |UNION ALL
        |SELECT '2_clone', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 7 <> 0""".stripMargin,
    // content identical across BOTH rewrites (linear then z-order);
    // the box-pruned read misses nothing the box owns
    "layout_recluster_zorder" ->
      """SELECT '1_after' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 9 <> 0
        |UNION ALL
        |SELECT '2_box', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 9 <> 0
        |  AND n_chars BETWEEN 200 AND 400
        |  AND doc_id BETWEEN 100 AND 200""".stripMargin,
    // content identical across the rewrite; the post-recluster band
    // read misses nothing the band owns
    "layout_recluster" ->
      """SELECT '1_before' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents WHERE doc_id % 9 <> 0
        |UNION ALL
        |SELECT '2_after', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 9 <> 0
        |UNION ALL
        |SELECT '3_band', count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE doc_id % 9 <> 0 AND n_chars BETWEEN 200 AND 400""".stripMargin,
    // fold == rebuild: the folded MV must equal the head aggregate
    // computed directly
    "layout_mv_from_feed" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0
        |GROUP BY lang""".stripMargin,
    // the net feed and its application: inserts = appended-and-still-
    // live, deletes = vectored v1 rows, applied = head membership
    "layout_dv_change_feed" ->
      """SELECT '1_inserts' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT '2_deletes', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
        |UNION ALL
        |SELECT '3_applied', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0""".stripMargin,
    // both retained versions' memberships: the DV view (v4) and the
    // compacted head (v5) survive the reclaim byte-identically
    "layout_versioned_vacuum" ->
      """SELECT '1_v00005' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0
        |UNION ALL
        |SELECT '2_v00004', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0""".stripMargin,
    // evolved-append memberships with the same NULL back-fill rule the
    // merged head read applies to pre-evolution files
    "layout_versioned_schema_evolution" ->
      """SELECT '1_v00001' AS slice, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(0 AS BIGINT) AS n_lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT '2_head_legacy', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(0 AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT '3_head_new', count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(count(lang) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    // every count restated from the raw corpus; leaks pinned at 0 —
    // the Spark side measures them from the purged artifacts on disk
    "pipeline_purge_indexes_audit" ->
      """WITH dw AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
        |cs AS (SELECT DISTINCT o_custkey AS ck, 'c' || o_custkey AS a,
        |    's' || l_suppkey AS b
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |p AS (SELECT
        |  (SELECT COUNT(*) FROM dw) AS post_b,
        |  (SELECT COUNT(*) FROM dw WHERE doc_id % 89 <> 0) AS post_a,
        |  (SELECT COUNT(DISTINCT word) FROM dw) AS df_b,
        |  (SELECT COUNT(DISTINCT word) FROM dw WHERE doc_id % 89 <> 0) AS df_a,
        |  (SELECT COUNT(*) FROM documents) AS nd_b,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id % 89 <> 0) AS nd_a,
        |  2 * (SELECT COUNT(*) FROM cs) AS edge_b,
        |  2 * (SELECT COUNT(*) FROM cs WHERE ck % 89 <> 0) AS edge_a,
        |  (SELECT COUNT(*) FROM (SELECT a AS n FROM cs UNION SELECT b FROM cs)) AS spine_b,
        |  (SELECT COUNT(*) FROM (SELECT a AS n FROM cs WHERE ck % 89 <> 0
        |     UNION SELECT b FROM cs WHERE ck % 89 <> 0)) AS spine_a)
        |SELECT 'bm25_postings' AS artifact, CAST(post_b AS BIGINT) AS n_before,
        |  CAST(post_a AS BIGINT) AS n_after,
        |  CAST(post_b - post_a AS BIGINT) AS n_refs_purged,
        |  CAST(0 AS BIGINT) AS n_leaked FROM p
        |UNION ALL SELECT 'bm25_df_spine', df_b, df_a, df_b - df_a, 0 FROM p
        |UNION ALL SELECT 'bm25_stats', nd_b, nd_a, nd_b - nd_a, 0 FROM p
        |UNION ALL SELECT 'graph_edges', edge_b, edge_a, edge_b - edge_a, 0 FROM p
        |UNION ALL SELECT 'graph_spine', spine_b, spine_a, spine_b - spine_a, 0 FROM p""".stripMargin,
    "text_bm25_maintain_topk" -> ExtOracleSql.textBm25MaintainTopK,
    // the applied replica must equal the FINAL snapshot, restated
    // directly from the source table — publish → feed → apply in one
    // hash
    "pipeline_apply_change_feed" ->
      """WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
        |v3 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN (CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) || ' rev3'
        |      ELSE (CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) END AS text
        |  FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT o FROM off), 'new ' || text
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT o FROM off), 'brand ' || text
        |  FROM documents WHERE doc_id % 31 = 0)
        |SELECT doc_id, md5(text) AS text_md5 FROM v3""".stripMargin,
    // vacuum × streaming history: v00001 reclaimed (NULLs — data and
    // meta are gone), v00002 retained (waves 0+1 under complete mode),
    // v00003 current (everything), and the stale batch-0 redelivery
    // after the vacuum published nothing
    "streaming_vacuum_replay" ->
      """WITH a12 AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS fp
        |  FROM events WHERE event_id % 3 IN (0, 1) GROUP BY 1, 2),
        |a AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) AS fp
        |  FROM events GROUP BY 1, 2)
        |SELECT 'v00001' AS version, 'vacuumed' AS status,
        |  CAST(NULL AS BIGINT) AS batch_id, CAST(NULL AS BIGINT) AS n_rows,
        |  CAST(NULL AS BIGINT) AS n_events_total,
        |  CAST(NULL AS BIGINT) AS sum_fp_total
        |UNION ALL
        |SELECT 'v00002', 'retained', 1, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n) AS BIGINT), CAST(SUM(fp) AS BIGINT) FROM a12
        |UNION ALL
        |SELECT 'v00003', 'current', 2, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n) AS BIGINT), CAST(SUM(fp) AS BIGINT) FROM a
        |UNION ALL
        |SELECT 'replay_b00000', 'noop', 0, CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)""".stripMargin,
    "qa_k_anonymity" -> ExtOracleSql.qaKAnonymity,
    "pipeline_global_ids" -> ExtOracleSql.pipelineGlobalIds,
    "sample_stratified_proportional" -> ExtOracleSql.sampleStratifiedProportional,
    "embed_pca_power" -> ExtOracleSql.embedPcaPower,
    "qa_dedup_eval" -> ExtOracleSql.qaDedupEval,
    "pipeline_global_ids_incremental" -> ExtOracleSql.pipelineGlobalIdsIncremental,
    "sim_rerank_two_stage" -> ExtOracleSql.simRerankTwoStage,
    // the superseded version's DISK read-back must equal the source
    // snapshot (immutability across a later publish), and the diff
    // between the two time-travel reads must be exactly the update rule
    "pipeline_time_travel" ->
      """WITH t AS (SELECT c_custkey AS key,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT 'v00001' AS snapshot, COUNT(*) AS n_rows,
        |  CAST(SUM(bal) AS BIGINT) AS sum_bal_fp FROM t
        |UNION ALL
        |SELECT 'v00002', COUNT(*),
        |  CAST(SUM(bal + CASE WHEN key % 7 = 0 THEN 10000 ELSE 0 END) AS BIGINT) FROM t
        |UNION ALL
        |SELECT 'changed', COUNT(*), CAST(SUM(10000) AS BIGINT)
        |FROM t WHERE key % 7 = 0""".stripMargin,
    // change feed: the three version bodies restated as CTEs off the
    // source table; per-pair full-outer digest diffs, unchanged rows
    // not emitted (the CDF contract)
    "pipeline_change_feed" ->
      """WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
        |v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT o FROM off), md5('new ' || text)
        |  FROM documents WHERE doc_id % 29 = 0),
        |v3 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 11 = 0
        |          THEN (CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) || ' rev3'
        |          ELSE (CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END) END) AS h
        |  FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT o FROM off), md5('new ' || text)
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT o FROM off), md5('brand ' || text)
        |  FROM documents WHERE doc_id % 31 = 0),
        |d12 AS (
        |  SELECT 'v00001' AS version_from, 'v00002' AS version_to,
        |    COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.h IS NULL THEN 'insert'
        |         WHEN b.h IS NULL THEN 'delete'
        |         WHEN a.h <> b.h THEN 'update' END AS change,
        |    a.h AS old_md5, b.h AS new_md5
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
        |d23 AS (
        |  SELECT 'v00002' AS version_from, 'v00003' AS version_to,
        |    COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.h IS NULL THEN 'insert'
        |         WHEN b.h IS NULL THEN 'delete'
        |         WHEN a.h <> b.h THEN 'update' END AS change,
        |    a.h AS old_md5, b.h AS new_md5
        |  FROM v2 a FULL OUTER JOIN v3 b ON a.doc_id = b.doc_id)
        |SELECT * FROM d12 WHERE change IS NOT NULL
        |UNION ALL
        |SELECT * FROM d23 WHERE change IS NOT NULL""".stripMargin,
    // vacuum retention: keepLast=2 of four publishes — v1/v2 reclaimed
    // (NULL aggregates: the data is gone), v3 retained, v4 current;
    // survivors' aggregates stated off the source table
    "pipeline_vacuum_retention" ->
      """WITH t AS (SELECT c_custkey AS key,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer)
        |SELECT 'v00001' AS version, 'vacuumed' AS status,
        |  CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS BIGINT) AS sum_bal_fp
        |UNION ALL
        |SELECT 'v00002', 'vacuumed', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |UNION ALL
        |SELECT 'v00003', 'retained', COUNT(*), CAST(SUM(bal) AS BIGINT)
        |FROM t WHERE key % 7 < 3
        |UNION ALL
        |SELECT 'v00004', 'current', COUNT(*), CAST(SUM(bal) AS BIGINT)
        |FROM t WHERE key % 7 < 4""".stripMargin,
    // the compacted table's read-back must equal computing off the
    // source — the rewrite moved bytes, not data
    "layout_compaction_exec" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1""".stripMargin,

    // greedy digest-order token-budget prefix per source: the crossing
    // doc is included (cum BEFORE < budget), replayed via the same
    // exclusive-frame window sum
    "mix_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS digest,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT *,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY digest ASC NULLS FIRST, doc_id ASC NULLS FIRST)
        |      AS BIGINT) AS pick_rank,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY digest ASC NULLS FIRST, doc_id ASC NULLS FIRST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM d)
        |SELECT source, pick_rank, doc_id, n_tokens,
        |  cum_before + n_tokens AS cum_tokens
        |FROM r WHERE cum_before < 600""".stripMargin,

    // the seasonal 3σ test stated in exact integers — both inequality
    // sides replayed, flags must match bit-for-bit
    "events_anomaly_seasonal" ->
      """WITH h AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |    (epoch_ns(ts) % 86400000000000) // 3600000000000 AS hod,
        |    event_type, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2, 3),
        |b AS (
        |  SELECT *,
        |    COUNT(*) OVER (PARTITION BY event_type, hod) AS n,
        |    CAST(SUM(x) OVER (PARTITION BY event_type, hod) AS BIGINT) AS s,
        |    CAST(SUM(x * x) OVER (PARTITION BY event_type, hod) AS BIGINT) AS q
        |  FROM h)
        |SELECT day, hod, event_type, x AS n_events,
        |  (n * x - s) * (n * x - s) AS dev_sq_n2,
        |  9 * (n * q - s * s) AS thr_sq_n2,
        |  (n * x - s) * (n * x - s) > 9 * (n * q - s * s) AS is_anomaly
        |FROM b""".stripMargin,

    // the incremental fold must be indistinguishable from the one-shot
    // aggregate over all events
    "pipeline_incremental_mv" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    // the healed day-partitioned table must equal the clean computation
    // (write -> corrupt -> dynamic-overwrite backfill -> read back)
    "pipeline_backfill_overwrite" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    // the merge-read over both generations must equal computing off the
    // source table directly (gen-1 rows carry the null-filled default)
    "source_schema_evolution" ->
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END
        |    AS event_type_norm,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1""".stripMargin,

    // MERGE semantics: full outer + case-wise resolution; deletions are
    // proven by ABSENCE (missing rows move the sorted-values hash)
    "pipeline_merge_upsert" ->
      """WITH t AS (SELECT c_custkey AS key, c_name AS name,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_fp FROM customer),
        |src AS (
        |  SELECT key, CASE WHEN key % 7 = 0 THEN 'U' ELSE 'D' END AS op,
        |         CAST(NULL AS VARCHAR) AS s_name, bal_fp + 10000 AS s_bal
        |  FROM t WHERE key % 7 <= 1
        |  UNION ALL
        |  SELECT key + 8000000, 'I',
        |         'Inserted#' || CAST(key + 8000000 AS VARCHAR),
        |         (key % 1000) * 100
        |  FROM t WHERE key % 7 = 2),
        |m AS (
        |  SELECT COALESCE(t.key, src.key) AS key, t.name, t.bal_fp,
        |         src.op, src.s_name, src.s_bal
        |  FROM t FULL OUTER JOIN src ON t.key = src.key)
        |SELECT key,
        |  COALESCE(s_name, name) AS name,
        |  CASE WHEN op = 'U' THEN s_bal ELSE COALESCE(bal_fp, s_bal) END AS bal_fp,
        |  CASE WHEN op = 'U' THEN 'updated' WHEN op = 'I' THEN 'inserted'
        |       ELSE 'kept' END AS action
        |FROM m WHERE COALESCE(op, '') <> 'D'""".stripMargin,
    // the in-flight quality metrics must equal the after-the-fact audit
    "streaming_expectation_suite" ->
      """WITH h AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |    COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
        |    CAST(SUM(CASE WHEN event_type NOT IN
        |      ('click','view','purchase','signup','error')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_type
        |  FROM events GROUP BY 1)
        |SELECT hour, n_rows,
        |  n_over * 1000000 // n_rows AS over_limit_ppm,
        |  n_bad_type * 1000000 // n_rows AS bad_type_ppm,
        |  (n_bad_type * 1000000 // n_rows = 0
        |   AND n_over * 1000000 // n_rows <= 200000) AS passed
        |FROM h""".stripMargin,
    "streaming_dedup_bands" -> ExtOracleSql.streamingDedupBands,
    // incremental merge must equal the full re-cluster — canonical's
    // oracle verbatim by the quotient-graph argument
    "pipeline_dedup_incremental_clusters" -> ExtOracleSql.pipelineDedupCanonical,
    "pipeline_dedup_incremental_weights" -> ExtOracleSql.pipelineDedupWeights,
    "streaming_dedup_bands_stateful" -> ExtOracleSql.streamingDedupBandsStateful,
    // tws twin: identical pair-set contract, same oracle — the fMGWS →
    // transformWithState migration equivalence, proven not assumed
    "streaming_dedup_bands_tws" -> ExtOracleSql.streamingDedupBandsStateful,
    "text_bpe_merges" -> ExtOracleSql.textBpeMerges,
    // the learned 10-round table must equal the unrolled data-driven
    // training chain, not just one count
    "text_bpe_train" -> ExtOracleSql.textBpeTrain,
    "text_bpe_encode" -> ExtOracleSql.textBpeEncode,
    "pack_sequences_bpe" -> ExtOracleSql.packSequencesBpe,

    // 32/16 word chunking — same geometry as dedup_clusters' vertices
    "text_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |ch AS (SELECT doc_id, unnest(range(0, ((len(words) - 1) // 16) + 1)) AS chunk_idx, words
        |       FROM w)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(words[chunk_idx * 16 + 1 : chunk_idx * 16 + 32]) AS BIGINT) AS n_chunk_words,
        |  md5(array_to_string(words[chunk_idx * 16 + 1 : chunk_idx * 16 + 32], ' ')) AS chunk_md5
        |FROM ch""".stripMargin,
    "dedup_simhash" -> ExtOracleSql.dedupSimhash,
    "dedup_image_phash" -> ExtOracleSql.dedupImagePhash,
    "dedup_video_phash" -> ExtOracleSql.dedupVideoPhash,
    "dedup_audio_phash" -> ExtOracleSql.dedupAudioPhash,
    "pipeline_dedup_image_incremental" -> ExtOracleSql.pipelineDedupImageIncremental,
    "streaming_dedup_phash" -> ExtOracleSql.streamingDedupPhash,
    "dedup_embedding_cosine" -> ExtOracleSql.dedupEmbeddingCosine,
    "text_rolling_fingerprint" -> ExtOracleSql.textRollingFingerprint,
    "text_bpe_tokens" -> ExtOracleSql.textBpeTokens,
    "sim_cosine_topk" -> ExtOracleSql.simCosineTopK,
    "sim_ann_lsh_topk" -> ExtOracleSql.simAnnLshTopK,
    "embed_knn_graph" -> ExtOracleSql.embedKnnGraph,
    "embed_knn_communities" -> ExtOracleSql.embedKnnCommunities,
    "embed_knn_incremental" -> ExtOracleSql.embedKnnIncremental,
    "sim_ivf_topk" -> ExtOracleSql.simIvfTopK,
    "sim_ivf_kmeans_topk" -> ExtOracleSql.simIvfKmeansTopK,
    // the stored-index path must reproduce the recompute path exactly —
    // same oracle by design (deterministic build, storage is a no-op)
    "sim_ivf_stored_topk" -> ExtOracleSql.simIvfKmeansTopK,
    "sim_ivf_append_topk" -> ExtOracleSql.simIvfAppendTopK,
    "sim_ivf_drift" -> ExtOracleSql.simIvfDrift,
    // compaction is purely physical and generation structure cannot
    // matter under fixed centroids — the append twin holds verbatim
    "sim_ivf_compact_topk" -> ExtOracleSql.simIvfAppendTopK,
    "sim_ivf_maintain_topk" -> ExtOracleSql.simIvfMaintainTopK,
    "sim_ivf_maintain_retrain" -> ExtOracleSql.simIvfMaintainRetrain,
    "sim_quantized_topk" -> ExtOracleSql.simQuantizedTopK,
    "sim_matryoshka_topk" -> ExtOracleSql.simMatryoshkaTopK,
    "sim_pq_topk" -> ExtOracleSql.simPqTopK,
    "sim_ivfpq_topk" -> ExtOracleSql.simIvfpqTopK,
    "sim_ann_recall" -> ExtOracleSql.simAnnRecall,
    "mine_contrastive_pairs" -> ExtOracleSql.mineContrastivePairs,
    "text_bigram_lm" -> ExtOracleSql.textBigramLm,
    "text_decontaminate_fuzzy" -> ExtOracleSql.textDecontaminateFuzzy,
    "multimodal_features" -> ExtOracleSql.multimodalFeatures,

    // digest-contract twin: header fields + frame dims + the sampled-
    // frame pixel sum, all derived from sha256(text) like the generator
    "multimodal_video" ->
      """WITH p AS (
        |  SELECT doc_id, sha256(text) AS hex,
        |    4 + (ascii(substr(sha256(text), 1, 1)) % 8) AS n_frames,
        |    list_extract([4, 5, 8, 10], (ascii(substr(sha256(text), 2, 1)) % 4) + 1) AS fps,
        |    64 + (ascii(substr(sha256(text), 1, 1)) % 8) * 16 AS width,
        |    64 + (ascii(substr(sha256(text), 2, 1)) % 8) * 16 AS height
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(fps AS BIGINT) AS fps,
        |  CAST(n_frames * (1000 // fps) AS BIGINT) AS duration_ms,
        |  CAST((n_frames + 3) // 4 AS BIGINT) AS n_sampled,
        |  CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height,
        |  CAST(((n_frames + 3) // 4) * width * height AS BIGINT) AS sum_frame_px,
        |  hex AS sha256_hex
        |FROM p""".stripMargin,

    // audio digest contract: 8 kHz fixed; n_samples = 800 + (hex0 % 8)·400
    // (always a multiple of 8, so duration_ms = n·1000 // 8000 is exact)
    "multimodal_audio" ->
      """SELECT doc_id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(800 + (ascii(substr(sha256(text), 1, 1)) % 8) * 400 AS BIGINT) AS n_samples,
        |  CAST((800 + (ascii(substr(sha256(text), 1, 1)) % 8) * 400) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  sha256(text) AS sha256_hex
        |FROM documents""".stripMargin,

    // streaming twins: the oracle is the BATCH semantics — streaming
    // (AvailableNow) must converge to the same result.
    "streaming_hourly_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    // the committed exactly-once artifact must hold exactly the batch
    // aggregate — the hourly-agg twin verbatim, proven through the
    // stream -> idempotent commit -> disk -> read-back chain
    "streaming_publish_exactly_once" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "streaming_distinct_users" -> ExtOracleSql.streamingDistinctUsers,

    // stream-static join must equal the batch join+agg
    "streaming_enrich_static" ->
      """SELECT COALESCE(c_mktsegment, 'NO_SEGMENT') AS segment, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // the in-flight purge must equal the batch purge of the same layer;
    // n_leaked re-derives the rule (not the roster) on both sides
    "streaming_delete_propagate" ->
      """SELECT event_type, COUNT(*) AS n_after,
        |  COUNT(CASE WHEN user_id % 97 = 0 THEN 1 END) AS n_leaked
        |FROM events
        |WHERE user_id NOT IN (
        |  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0)
        |GROUP BY 1""".stripMargin,

    "streaming_dedup_events" ->
      """SELECT event_id, user_id, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, value, props
        |FROM events""".stripMargin,

    // identical to the batch events_sessionize oracle: the stateful
    // streaming path must converge to the batch window-function result
    "streaming_sessionize_tws" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR date_diff('second', prev_ts, ts) > 1800
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |s AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "streaming_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR date_diff('second', prev_ts, ts) > 1800
        |                 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |s AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // n_leaked is COMPUTED on both sides (survivors still satisfying the
    // % 97 rule), not a hardcoded 0 — the Spark side derives it from the
    // rule independently of the purge-side roster frame, and the oracle
    // replays that derivation here
    "pipeline_delete_propagate" ->
      s"""WITH ${DeriveSql.stgActivities},
         |roster AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS subject_key
         |           FROM events WHERE user_id % 97 = 0),
         |ev AS (SELECT CAST(user_id AS VARCHAR) AS subject_key FROM events),
         |act AS (SELECT account_id AS subject_key FROM stg_activities)
         |SELECT 'events' AS layer,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ev) AS n_before,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ev
         |   WHERE subject_key NOT IN (SELECT subject_key FROM roster)) AS n_after,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ev
         |   WHERE subject_key IN (SELECT subject_key FROM roster)) AS n_purged,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ev
         |   WHERE subject_key NOT IN (SELECT subject_key FROM roster)
         |     AND TRY_CAST(subject_key AS BIGINT) % 97 = 0) AS n_leaked
         |UNION ALL
         |SELECT 'stg_activities',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM act),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM act
         |   WHERE subject_key NOT IN (SELECT subject_key FROM roster)),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM act
         |   WHERE subject_key IN (SELECT subject_key FROM roster)),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM act
         |   WHERE subject_key NOT IN (SELECT subject_key FROM roster)
         |     AND TRY_CAST(subject_key AS BIGINT) % 97 = 0)""".stripMargin,

    "pipeline_shuffle_deterministic" ->
      """WITH k AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |  CAST(('0x' || substr(shuffle_key, 1, 2))::UBIGINT AS BIGINT) % 32 AS shard,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY CAST(('0x' || substr(shuffle_key, 1, 2))::UBIGINT AS BIGINT) % 32
        |    ORDER BY shuffle_key ASC NULLS FIRST, doc_id ASC NULLS FIRST)
        |    AS BIGINT) AS pos
        |FROM k""".stripMargin,

    "mix_temperature" ->
      """WITH per_source AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_sqrt
        |      FROM per_source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
        |               CAST(SUM(w_sqrt) AS BIGINT) AS sum_w FROM w)
        |SELECT source, n_docs, n_tokens, w_sqrt,
        |  (n_tokens * 1000000) // tt AS share_raw_ppm,
        |  (w_sqrt * 1000000) // sum_w AS share_temp_ppm,
        |  (1000000 * w_sqrt) // sum_w AS alloc_tokens
        |FROM w CROSS JOIN tot
        |ORDER BY source ASC NULLS FIRST""".stripMargin,

    "sample_diversity_quota" -> ExtOracleSql.sampleDiversityQuota,

    "pipeline_split_leakage_safe" -> ExtOracleSql.pipelineSplitLeakageSafe,

    "qa_snapshot_drift" ->
      """WITH per AS (
        |  SELECT source, lang,
        |    CAST(COUNT(*) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT) AS n_old,
        |    CAST(COUNT(*) AS BIGINT) AS n_new
        |  FROM documents GROUP BY source, lang),
        |tot AS (SELECT CAST(SUM(n_old) AS BIGINT) AS tto,
        |               CAST(SUM(n_new) AS BIGINT) AS ttn FROM per)
        |SELECT source, lang, n_old, n_new,
        |  (n_old * 1000000) // tto AS share_old_ppm,
        |  (n_new * 1000000) // ttn AS share_new_ppm,
        |  abs((n_new * 1000000) // ttn - (n_old * 1000000) // tto) AS delta_ppm,
        |  abs((n_new * 1000000) // ttn - (n_old * 1000000) // tto) > 5000 AS drifted
        |FROM per CROSS JOIN tot
        |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin
  )
}
