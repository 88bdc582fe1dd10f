package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AudioCodec, Corpus, Dedup, GraphOps, ImageCodec, IngestDemo, Multimodal, Relational, Similarity, Skew, Sketches, Substrate, Temporal, TextAnalysis, VideoCodec}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * substrate/training-data capability) expressed as a declarative
  * DataFrame program; [[oracleSql]] carries the DuckDB-equivalent ANSI
  * SQL the driver uses for the hash-compare correctness gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Pricing(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // headline TPC-H-shaped
    "q1_pricing" -> (Relational.q1Pricing _),
    "q3_shipping" -> (Relational.q3Shipping _),
    "q5_region" -> (Relational.q5Region _),
    "q14_promo" -> (Relational.q14Promo _),
    "q6_forecast" -> (Relational.q6Forecast _),
    "q10_returns" -> (Relational.q10Returns _),
    "q18_big_orders" -> (Relational.q18BigOrders _),
    "q4_late_orders" -> (Relational.q4LateOrders _),
    "q19_brand_revenue" -> (Relational.q19BrandRevenue _),
    "q17_small_qty" -> (Relational.q17SmallQty _),
    "q21_waiting_suppliers" -> (Relational.q21WaitingSuppliers _),
    "q22_global_sales" -> (Relational.q22GlobalSales _),
    "q15_top_supplier" -> (Relational.q15TopSupplier _),
    "q2_min_cost_supplier" -> (Relational.q2MinCostSupplier _),
    "q7_volume_shipping" -> (Relational.q7VolumeShipping _),
    "q8_market_share" -> (Relational.q8MarketShare _),
    "q9_product_profit" -> (Relational.q9ProductProfit _),
    "q11_important_stock" -> (Relational.q11ImportantStock _),
    "q12_ship_priority" -> (Relational.q12ShipPriority _),
    "q13_cust_distribution" -> (Relational.q13CustDistribution _),
    "q16_supplier_cnt" -> (Relational.q16SupplierCnt _),
    "q20_part_promotion" -> (Relational.q20PartPromotion _),
    // §2.2 filters
    "f1_type_filter" -> (Relational.f1TypeFilter _),
    "f2_error_filter" -> (Relational.f2ErrorFilter _),
    "f3_selector_cascade" -> (Relational.f3SelectorCascade _),
    "f6_dedup_anti" -> (Relational.f6DedupAnti _),
    "f7_meta_anti" -> (Relational.f7MetaAnti _),
    // §2.3 projections
    "p_value_ops" -> (Relational.pValueOps _),
    "p6_json_getitem" -> (Relational.p6JsonGetItem _),
    "p10_array_fold" -> (Relational.p10ArrayFold _),
    "p12_casts" -> (Relational.p12Casts _),
    // §2.4 joins
    "j1_enrich_lookup" -> (Relational.j1EnrichLookup _),
    "j2_collect_list" -> (Relational.j2CollectList _),
    "j4_array_merge" -> (Relational.j4ArrayMerge _),
    // substrate: windows / set ops / time windows
    "w_running" -> (Relational.wRunning _),
    "w_range_sliding" -> (Relational.wRangeSliding _),
    "events_funnel" -> ((s: SparkSession, d: String) => Relational.eventsFunnel(s, d)),
    "events_retention" -> (Relational.eventsRetention _),
    "events_wau" -> (Relational.eventsWau _),
    "events_spike_days" -> (Relational.eventsSpikeDays _),
    "corpus_quality_gate" -> (Corpus.qualityGate _),
    "set_except" -> (Relational.setExcept _),
    "tumbling_window" -> (Relational.tumblingWindow _),
    "sub_sessionize" -> ((s: SparkSession, d: String) => Relational.sessionize(s, d)),
    "sub_session_window" -> ((s: SparkSession, d: String) => Relational.sessionWindowNative(s, d)),
    "scd2_tier_history" -> (Relational.scd2TierHistory _),
    "sub_profile_columns" -> (Substrate.profileColumns _),
    "sub_profile_exact" -> (Substrate.profileColumnsExact _),
    "layout_zorder" -> ((s: SparkSession, d: String) => Substrate.zorderLayout(s, d)),
    // substrate: grouping sets / joins / dates / SQL text / extensions
    "sub_rollup" -> (Substrate.rollup _),
    "sub_cube" -> (Substrate.cubeOp _),
    "sub_pivot" -> (Substrate.pivotLangSource _),
    "sub_semi_join" -> (Substrate.semiJoin _),
    "sub_full_outer" -> (Substrate.fullOuterActivity _),
    "sub_ilike_join" -> (Substrate.ilikeJoin _),
    "sub_date_ops" -> (Substrate.dateOps _),
    "sql_top_customers" -> (Substrate.sqlTopCustomers _),
    "sub_extractor_stats" -> (Substrate.extractorStats _),
    "sub_common_path" -> (Substrate.commonPathByLang _),
    "sub_blake2b" -> (Substrate.blake2bChecksums _),
    "sub_format_bridge" -> (Substrate.formatBridge _),
    "skew_salted_agg" -> (Skew.saltedAgg _),
    "skew_salted_join" -> (Skew.saltedJoin _),
    "sub_percentiles" -> (Skew.percentiles _),
    "sub_approx_aggs" -> (Skew.approxAggs _),
    // full imsc ingestion pipeline (SURVEY §3.2) as one relational query
    "imsc_pipeline" -> (IngestDemo.pipelineQuery _),
    // training-data ops: dedup
    "dedup_exact_keep_first" -> (Dedup.exactKeepFirst _),
    "dedup_exact_groups" -> (Dedup.exactDupGroups _),
    "dedup_ngram_top_pairs" -> ((s, d) => Dedup.ngramJaccardTopPairs(s, d)),
    "dedup_minhash_buckets" -> (Dedup.minhashLshBuckets _),
    "dedup_minhash_est_err" -> ((s: SparkSession, d: String) => Dedup.minhashEstimationError(s, d)),
    "dedup_minhash_keep_first" -> (Dedup.minhashKeepFirst _),
    "dedup_normalized_keep_first" -> (Dedup.normalizedKeepFirst _),
    "dedup_simhash" -> (Dedup.simhash _),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simhashCandidates(s, d)),
    "dedup_cluster_labels" -> (Dedup.clusterLabels _),
    "dedup_chunks_global" -> ((s: SparkSession, d: String) => Dedup.chunksGlobal(s, d)),
    "dedup_fuzzy_neighbors" -> (Dedup.fuzzyNeighbors _),
    "dedup_semantic_keep_first" -> ((s: SparkSession, d: String) => Similarity.semanticDedup(s, d)),
    // training-data ops: corpus preparation
    "corpus_split" -> (Corpus.stratifiedSplit _),
    "corpus_split_leakage" -> (Corpus.splitLeakage _),
    "corpus_split_clustered" -> (Corpus.clusteredSplit _),
    "corpus_split_balance" -> (Corpus.splitBalance _),
    "corpus_split_churn" -> (Corpus.splitChurn _),
    "corpus_pack_bins" -> ((s: SparkSession, d: String) => Corpus.packTokenBins(s, d)),
    "corpus_clean" -> (Corpus.cleanPipeline _),
    "corpus_decontaminate" -> ((s: SparkSession, d: String) => Corpus.decontaminate(s, d)),
    "corpus_lang_balance" -> ((s: SparkSession, d: String) => Corpus.langBalance(s, d)),
    "corpus_temperature_sample" -> ((s: SparkSession, d: String) => Corpus.temperatureSample(s, d)),
    "corpus_vocab_topk" -> ((s: SparkSession, d: String) => Corpus.vocabTopK(s, d)),
    "corpus_bpe_merges" -> ((s: SparkSession, d: String) => Corpus.bpeLearnedMerges(s, d)),
    "corpus_bpe_encode" -> ((s: SparkSession, d: String) => Corpus.bpeEncode(s, d)),
    "corpus_bpe_vocab" -> ((s: SparkSession, d: String) => Corpus.bpeVocab(s, d)),
    "corpus_pmi_topk" -> ((s: SparkSession, d: String) => Corpus.pmiTopK(s, d)),
    "corpus_context_windows" -> ((s: SparkSession, d: String) => Corpus.contextWindows(s, d)),
    "corpus_shuffle_order" -> ((s: SparkSession, d: String) => Corpus.shuffleOrder(s, d)),
    "corpus_source_cap" -> ((s: SparkSession, d: String) => Corpus.sourceCap(s, d)),
    // training-data ops: similarity search
    "ann_brute_topk" -> ((s: SparkSession, d: String) => Similarity.annBruteForceTopK(s, d)),
    "ann_cosine_pairs" -> ((s: SparkSession, d: String) => Similarity.cosineThresholdPairs(s, d)),
    "ann_lsh_topk" -> ((s: SparkSession, d: String) => Similarity.annLshTopK(s, d)),
    "dedup_lsh_verified_pairs" -> ((s: SparkSession, d: String) =>
      Similarity.lshPairsMaterialized(s, d)),
    "ann_ivf_topk" -> ((s: SparkSession, d: String) => Similarity.annIvfTopK(s, d)),
    "ann_ivf_recall" -> ((s: SparkSession, d: String) => Similarity.annIvfRecall(s, d)),
    "ann_ivf_kmeans_topk" -> ((s: SparkSession, d: String) => Similarity.kmeansIvfTopK(s, d)),
    "embed_quantize_int8" -> (Similarity.quantizeInt8 _),
    "embed_pca_power" -> ((s: SparkSession, d: String) => Similarity.pcaPowerTop(s, d)),
    "ann_pq_adc_topk" -> ((s: SparkSession, d: String) => Similarity.pqAdcTopK(s, d)),
    "ann_ivf_pq_topk" -> ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    "sub_intersect" -> (Substrate.intersectOp _),
    // training-data ops: multimodal binary columns
    "mm_meta_stats" -> (Multimodal.metaStats _),
    "mm_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "mm_decode_stats" -> (Multimodal.decodeStub _),
    "mm_resize_plan" -> ((s: SparkSession, d: String) => Multimodal.resizePlan(s, d)),
    "mm_byte_ahash" -> ((s: SparkSession, d: String) => Multimodal.byteAHash(s, d)),
    "mm_decode_image" -> (ImageCodec.decodeImageStats _),
    "mm_image_ahash" -> (ImageCodec.imageAHash _),
    "mm_image_phash" -> (ImageCodec.imagePHash _),
    "dedup_phash_hamming" -> ((s: SparkSession, d: String) =>
      ImageCodec.phashHammingPairs(s, d)),
    "dedup_image_hamming" -> ((s: SparkSession, d: String) => ImageCodec.imageHammingPairs(s, d)),
    "mm_resize_real" -> (ImageCodec.resizeReal _),
    "mm_decode_audio" -> (AudioCodec.decodeAudioStats _),
    "mm_audio_fp" -> (AudioCodec.audioFingerprint _),
    "mm_decode_video" -> (VideoCodec.decodeVideoStats _),
    "mm_video_sample" -> ((s: SparkSession, d: String) => VideoCodec.sampledVideoStats(s, d)),
    "dedup_prefix_jaccard" -> ((s: SparkSession, d: String) =>
      Dedup.prefixJaccardPairs(s, d, tNum = 9, tDen = 10)),
    "corpus_dup_ngrams" -> ((s: SparkSession, d: String) => Corpus.dupNgrams(s, d)),
    // training-data ops: text analysis
    "text_lang_id" -> (TextAnalysis.langId _),
    "text_lang_confusion" -> ((s: SparkSession, d: String) => TextAnalysis.langIdConfusion(s, d)),
    "text_quality" -> (TextAnalysis.qualityScore _),
    "text_tokens" -> (TextAnalysis.tokenStats _),
    "text_fingerprint" -> (TextAnalysis.fingerprint _),
    "text_redact_pii" -> (TextAnalysis.redactPii _),
    "text_repetition" -> (TextAnalysis.repetitionStats _),
    "text_hash_embed" -> ((s: SparkSession, d: String) => TextAnalysis.hashEmbed(s, d)),
    "text_tfidf_topk" -> ((s: SparkSession, d: String) => TextAnalysis.tfidfTopTerms(s, d)),
    "text_bm25_topk" -> ((s: SparkSession, d: String) => TextAnalysis.bm25TopK(s, d)),
    "text_winnow_fp" -> ((s: SparkSession, d: String) => TextAnalysis.winnowFingerprints(s, d)),
    "dedup_winnow_pairs" -> ((s: SparkSession, d: String) => Dedup.winnowSharedPairs(s, d)),
    // The BUILD step of the graph family: materializes the near-dup
    // edge list once per session; the nine graph_* queries consume the
    // memoized table instead of re-deriving the winnow census.
    "graph_edges_build" -> ((s: SparkSession, d: String) =>
      Dedup.winnowEdgesMaterialized(s, d)),
    "graph_pagerank_neardup" -> ((s: SparkSession, d: String) => GraphOps.pagerankNearDup(s, d)),
    "dedup_winnow_recall" -> ((s: SparkSession, d: String) => Dedup.winnowRecallEval(s, d)),
    "dedup_winnow_recall_slice2" -> ((s: SparkSession, d: String) =>
      Dedup.winnowRecallEval(s, d, docIdModulus = 2, docIdResidue = 1)),
    "dedup_containment_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.containmentPairs(s, d)),
    "dedup_substring_spans" -> ((s: SparkSession, d: String) =>
      Dedup.substringSpanStats(s, d)),
    "text_lm_perplexity" -> ((s: SparkSession, d: String) => TextAnalysis.lmPerplexity(s, d)),
    "text_kn_perplexity" -> (TextAnalysis.knPerplexity _),
    "corpus_moore_lewis" -> (TextAnalysis.mooreLewisSelect _),
    "stream_lifecycle_join" -> ((s: SparkSession, d: String) =>
      graft.streaming.LifecycleJoin.batchLifecycle(s, d)),
    "corpus_source_ablation" -> (Corpus.sourceAblation _),
    "dedup_incremental" -> ((s: SparkSession, d: String) =>
      Dedup.incrementalDedupMaterialized(s, d)),
    "dedup_bucket_refresh" -> ((s: SparkSession, d: String) => Dedup.bucketRefresh(s, d)),
    "embed_index_refresh" -> ((s: SparkSession, d: String) => Similarity.indexRefresh(s, d)),
    "embed_cell_refresh" -> (Similarity.cellRefresh _),
    "dedup_fp_refresh" -> (Dedup.fpRefresh _),
    "dedup_cluster_refresh" -> (Dedup.clusterRefresh _),
    "corpus_daily_increment" -> (Dedup.dailyIncrement _),
    "events_mad_outliers" -> (Relational.eventsMadOutliers _),
    "embed_hard_negatives" -> ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)),
    "events_trending_decay" -> ((s: SparkSession, d: String) =>
      Relational.eventsTrendingDecay(s, d)),
    "embed_label_purity" -> ((s: SparkSession, d: String) => Similarity.labelPurity(s, d)),
    "sub_apply_changeset" -> (Relational.applyChangeset _),
    "sub_bloom_advisor" -> (Substrate.bloomAdvisor _),
    "embed_kcenter_coreset" -> ((s: SparkSession, d: String) =>
      Similarity.kcenterCoreset(s, d)),
    "graph_triangles" -> (GraphOps.triangleCounts _),
    // The BUILD step of the link-prediction candidate graph (the
    // minShared=1 recall-frontier pair list) — the graph_edges_build
    // pattern: materialized once per session, cold-charged here by the
    // bench, consumed as a memo scan by graph_link_prediction.
    "graph_candidates_build" -> ((s: SparkSession, d: String) =>
      GraphOps.candidatePairsMaterialized(s, d)),
    "graph_link_prediction" -> ((s: SparkSession, d: String) =>
      GraphOps.linkPrediction(s, d)),
    "embed_silhouette" -> (Similarity.silhouetteSimplified _),
    // round-12 additions: MMR diverse selection, ACF seasonality
    // discovery, b-bit signature-compression calibration
    "embed_mmr_select" -> ((s: SparkSession, d: String) =>
      Similarity.mmrSelect(s, d)),
    "events_acf" -> ((s: SparkSession, d: String) =>
      Relational.eventsAcf(s, d)),
    "dedup_minhash_bbit" -> ((s: SparkSession, d: String) =>
      Dedup.minhashBbitError(s, d)),
    // round-13 additions: the capped-join ALERT channels as declared,
    // oracle-gated queries (each alert row has an oracle) — the monitoring surface a
    // 100 TB operator actually reads next to the prediction/dedup
    // tables. Caps chosen to BITE at every test SF (candidate-graph
    // max degree 36/39/311, LSH bucket max 4/3/14 at sf0.001/0.01/0.1),
    // so the gated rows are non-empty evidence, not vacuous empties.
    "graph_dropped_hubs" -> ((s: SparkSession, d: String) =>
      GraphOps.linkPredictionDroppedHubs(s, d, maxHubDeg = 16)),
    "dedup_oversized_buckets" -> ((s: SparkSession, d: String) =>
      Dedup.oversizedBuckets(Dedup.minhashLshBuckets(s, d), cap = 2)
        .select(org.apache.spark.sql.functions.col("band").cast("long").as("band"),
          org.apache.spark.sql.functions.col("bucket"),
          org.apache.spark.sql.functions.col("n_docs"))),
    "text_zipf_fit" -> ((s: SparkSession, d: String) => TextAnalysis.zipfFit(s, d)),
    "text_hapax_ratio" -> (TextAnalysis.hapaxRatio _),
    "events_dow_profile" -> (Relational.eventsDowProfile _),
    "ann_lsh_multiprobe" -> ((s: SparkSession, d: String) =>
      Similarity.annLshMultiprobe(s, d)),
    "ann_multiprobe_recall" -> (Similarity.annMultiprobeRecall _),
    "corpus_budget_mix" -> ((s: SparkSession, d: String) => Corpus.budgetMix(s, d)),
    "embed_centroid_drift" -> (Similarity.centroidDrift _),
    "events_transition_matrix" -> (Relational.eventsTransitionMatrix _),
    "events_monitor_ensemble" -> (Relational.eventsMonitorEnsemble _),
    "events_seasonal_hampel" -> (Relational.eventsSeasonalHampel _),
    "events_hampel_windowed" -> ((s: SparkSession, d: String) =>
      Relational.eventsHampelWindowed(s, d)),
    "events_level_shift" -> (Relational.eventsLevelShift _),
    "events_seasonality_strength" -> (Relational.eventsSeasonalityStrength _),
    "text_burstiness" -> ((s: SparkSession, d: String) =>
      TextAnalysis.termBurstiness(s, d)),
    "orders_abc_classes" -> (Relational.ordersAbcClasses _),
    "orders_reorder_intervals" -> (Relational.ordersReorderIntervals _),
    "text_ttr_curve" -> ((s: SparkSession, d: String) =>
      TextAnalysis.ttrCurve(s, d)),
    "events_attribution_u" -> (Relational.attributionUShape _),
    "graph_label_prop" -> ((s: SparkSession, d: String) =>
      GraphOps.labelPropagation(s, d)),
    "sub_join_order_advisor" -> (Substrate.joinOrderAdvisor _),
    "graph_kcore" -> ((s: SparkSession, d: String) =>
      GraphOps.kcoreMembership(s, d)),
    "events_forecast_snaive" -> (Relational.forecastSnaiveEval _),
    "orders_rfm_segments" -> (Relational.ordersRfmSegments _),
    "sketch_kmv_setops" -> ((s: SparkSession, d: String) =>
      Sketches.kmvSetOps(s, d)),
    "text_readability" -> (TextAnalysis.readability _),
    "mm_shot_boundaries" -> ((s: SparkSession, d: String) =>
      VideoCodec.shotBoundaries(s, d)),
    "events_user_gini" -> (Relational.eventsUserGini _),
    "graph_core_distance" -> ((s: SparkSession, d: String) =>
      GraphOps.bfsDepthFromCore(s, d)),
    "events_funnel_latency" -> (Relational.funnelLatency _),
    "embed_alignment" -> (Similarity.embedAlignment _),
    "mm_audio_vad" -> ((s: SparkSession, d: String) =>
      AudioCodec.audioVad(s, d)),
    "events_gap_census" -> (Relational.eventsGapCensus _),
    "embed_rank_corr" -> ((s: SparkSession, d: String) =>
      Similarity.rankCorrInt8(s, d)),
    "events_markov_stationary" -> ((s: SparkSession, d: String) =>
      Relational.markovStationary(s, d)),
    "graph_modularity" -> ((s: SparkSession, d: String) =>
      GraphOps.modularity(s, d)),
    "mm_image_entropy" -> (ImageCodec.imageEntropy _),
    "text_ndcg_eval" -> ((s: SparkSession, d: String) =>
      TextAnalysis.ndcgEval(s, d)),
    "events_ohlc_hourly" -> (Relational.eventsOhlcHourly _),
    "mm_crossmodal_audit" -> (Multimodal.crossmodalDedupAudit _),
    "sketch_group_quantiles" -> ((s: SparkSession, d: String) =>
      Sketches.groupHistQuantiles(s, d)),
    "dedup_edit_distance" -> ((s: SparkSession, d: String) =>
      Dedup.editDistancePairs(s, d)),
    "orders_basket_rules" -> (Relational.basketRules _),
    "events_pareto_share" -> (Relational.eventsParetoShare _),
    "embed_kmeans_elbow" -> ((s: SparkSession, d: String) =>
      Similarity.kmeansElbow(s, d)),
    "mm_image_edges" -> (ImageCodec.imageEdgeDensity _),
    "events_streak_census" -> (Relational.eventsStreakCensus _),
    "events_entropy_rate" -> (Relational.eventsEntropyRate _),
    "embed_norm_profile" -> (Similarity.embedNormProfile _),
    "mm_release_funnel" -> (Multimodal.releaseFunnel _),
    "events_new_returning" -> (Relational.eventsNewVsReturning _),
    "text_quality_chi2" -> (TextAnalysis.qualityReadabilityChi2 _),
    "orders_cohort_revenue" -> (Relational.ordersCohortRevenue _),
    "embed_pq_distortion" -> ((s: SparkSession, d: String) =>
      Similarity.pqDistortion(s, d)),
    "events_ab_srm" -> (Relational.eventsAbSrm _),
    "events_ab_lift" -> (Relational.eventsAbLift _),
    "text_winnow_density" -> ((s: SparkSession, d: String) =>
      TextAnalysis.winnowDensity(s, d)),
    "corpus_pack_waste" -> ((s: SparkSession, d: String) =>
      Corpus.packWasteAudit(s, d)),
    "graph_assortativity" -> (GraphOps.degreeAssortativity _),
    "embed_pq_recall" -> (Similarity.pqRecall _),
    "events_stickiness" -> (Relational.eventsStickiness _),
    "sketch_kmv_wau" -> ((s: SparkSession, d: String) =>
      Sketches.kmvWau(s, d)),
    "graph_rich_club" -> ((s: SparkSession, d: String) =>
      GraphOps.richClub(s, d)),
    "events_hour_heatmap" -> (Relational.eventsHourHeatmap _),
    "corpus_temp_sweep" -> ((s: SparkSession, d: String) =>
      Corpus.temperatureSweep(s, d)),
    "orders_backlog_aging" -> (Relational.ordersBacklogAging _),
    "events_funnel_paths" -> ((s: SparkSession, d: String) =>
      Relational.funnelPaths(s, d)),
    "sub_window_funcs" -> (Substrate.windowRankFuncs _),
    "text_entropy_profile" -> (TextAnalysis.entropyProfile _),
    "dedup_keep_best" -> ((s: SparkSession, d: String) => Dedup.keepBestRepresentative(s, d)),
    "events_drift_psi" -> ((s: SparkSession, d: String) => Relational.eventsDriftPsi(s, d)),
    "sketch_hist_quantiles" -> ((s: SparkSession, d: String) => Sketches.histogramQuantiles(s, d)),
    "sketch_group_sample" -> ((s: SparkSession, d: String) => Sketches.groupSample(s, d)),
    "text_quality_model" -> ((s: SparkSession, d: String) => TextAnalysis.qualityModelScore(s, d)),
    "text_char_diversity" -> ((s: SparkSession, d: String) => TextAnalysis.charDiversity(s, d)),
    "text_ngram_novelty" -> ((s: SparkSession, d: String) => TextAnalysis.ngramNovelty(s, d)),
    "corpus_mix_epochs" -> ((s: SparkSession, d: String) => Corpus.mixEpochs(s, d)),
    "corpus_dsir_weights" -> ((s: SparkSession, d: String) => Corpus.dsirWeights(s, d)),
    "corpus_span_corruption" -> ((s: SparkSession, d: String) => Corpus.spanCorruption(s, d)),
    "ann_centroid_outliers" -> ((s: SparkSession, d: String) => Similarity.centroidOutliers(s, d)),
    // temporal joins Spark has no built-in operator for
    "asof_last_click" -> (Temporal.asofLastClick _),
    "asof_join_native" -> (Temporal.asofLastClickNative _),
    "asof_forward_native" -> (Temporal.asofNextClickNative _),
    "asof_nearest_native" -> (Temporal.asofNearestClickNative _),
    "range_incident_stats" -> (Temporal.rangeIncidentStats _),
    "range_join_rule" -> (Temporal.rangeIncidentStatsRule _),
    "range_output_advisor" -> (Temporal.rangeOutputAdvisor _),
    // bounded-state custom aggregates (TypedImperativeAggregate)
    "sketch_kmv_distinct" -> (Sketches.kmvDistinct _),
    "sketch_cms_heavy" -> ((s: SparkSession, d: String) => Sketches.cmsHeavyHitters(s, d)),
    "topk_per_group" -> (Sketches.topKPerGroup _),
    // explicit bloom semi-join reduction (runtime-filter plan shape)
    "j_bloom_prefilter" -> (Relational.bloomPrefilterJoin _),
    // round-8 second wave: funnel retrieval, layout advisor, CDC diff,
    // tokenizer fertility, release dashboard
    "embed_matryoshka_recall" -> ((s: SparkSession, d: String) =>
      Similarity.matryoshkaRecall(s, d)),
    "layout_skip_workload" -> ((s: SparkSession, d: String) =>
      Substrate.layoutSkipWorkload(s, d)),
    "sub_snapshot_diff" -> (Relational.snapshotDiff _),
    "corpus_bpe_fertility" -> ((s: SparkSession, d: String) =>
      Corpus.bpeFertility(s, d)),
    "corpus_report_card" -> (Corpus.reportCard _),
    "range_overlap_agg" -> (Temporal.overlapIncidentPurchases _),
    "sub_incremental_agg" -> (Relational.incrementalAgg _),
    "skew_advisor" -> ((s: SparkSession, d: String) => Skew.skewAdvisor(s, d)),
    "dedup_lsh_curve_advisor" -> ((s: SparkSession, d: String) =>
      Dedup.lshConfigAdvisor(s, d)),
    "corpus_semantic_decontaminate" -> ((s: SparkSession, d: String) =>
      Similarity.semanticDecontaminate(s, d)),
    "text_quality_agreement" -> ((s: SparkSession, d: String) =>
      TextAnalysis.qualityAgreement(s, d)),
    "dedup_cluster_census" -> (Dedup.clusterCensus _),
    // round-8 third wave: vocabulary drift, weighted release sampling,
    // EWMA burst monitoring, kNN-graph embedding audit, model
    // calibration, and the two remaining grouping/melt substrate ops
    "text_vocab_drift" -> ((s: SparkSession, d: String) =>
      TextAnalysis.vocabDrift(s, d)),
    "text_quality_calibration" -> ((s: SparkSession, d: String) =>
      TextAnalysis.qualityCalibration(s, d)),
    "sketch_weighted_sample" -> ((s: SparkSession, d: String) =>
      Sketches.weightedSample(s, d)),
    "events_ewma_burst" -> (Relational.eventsEwmaAnomaly _),
    "embed_knn_agreement" -> ((s: SparkSession, d: String) =>
      Similarity.knnLabelAgreement(s, d)),
    "sub_grouping_sets" -> (Substrate.groupingSetsOp _),
    "sub_unpivot" -> (Substrate.unpivotOp _),
    // round-8 fourth wave: dedup threshold sweep, IVF cell balance,
    // context-window efficiency, tokenizer compression curve
    "dedup_threshold_sweep" -> ((s: SparkSession, d: String) =>
      Dedup.thresholdSweep(s, d)),
    "embed_cell_balance" -> ((s: SparkSession, d: String) =>
      Similarity.cellBalance(s, d)),
    "corpus_window_efficiency" -> ((s: SparkSession, d: String) =>
      Corpus.windowEfficiency(s, d)),
    "corpus_bpe_compression" -> ((s: SparkSession, d: String) =>
      Corpus.bpeCompressionSweep(s, d)),
    // round-8 fifth wave: the two remaining tuning curves — retrieval
    // (recall vs probe width) and curation yield (tokens vs quality bar)
    "ann_nprobe_sweep" -> ((s: SparkSession, d: String) =>
      Similarity.annNprobeSweep(s, d)),
    "corpus_gate_sweep" -> ((s: SparkSession, d: String) =>
      TextAnalysis.gateSweep(s, d)),
    // round-8 sixth wave: the end-to-end curation-funnel integration
    "corpus_release_funnel" -> ((s: SparkSession, d: String) =>
      Corpus.releaseFunnel(s, d)),
    // star-contraction connected components (O(log²) rounds — the
    // 100 TB alternative to diameter-bound min-label propagation)
    "graph_cc_star" -> (GraphOps.ccStarLabels _),
    // semantic dedup tuning curve (embedding twin of the Jaccard sweep)
    "dedup_semantic_sweep" -> ((s: SparkSession, d: String) =>
      Similarity.semanticSweep(s, d)),
    // CUSUM level-shift monitor (third detector class, prefix-sum form)
    "events_cusum_shift" -> ((s: SparkSession, d: String) =>
      Relational.eventsCusumShift(s, d)),
    // class-B width alert: oversized hyperplane-LSH buckets (from the
    // scaling audit — the pair-mass census that turns an undersized
    // plane count into a queryable red row instead of a silent
    // quadratic query; budget bites at every test SF by design)
    "embed_bucket_overflow" -> ((s: SparkSession, d: String) =>
      Similarity.lshBucketOverflow(s, d)),
  )

  /** Queries whose result may legitimately be empty at small scale
    * factors (duplicate/near-dup pairs only exist at sf0.1). */
  def mayBeEmpty: Set[String] = Set(
    "dedup_exact_groups", "ann_cosine_pairs", "dedup_lsh_verified_pairs")

  /** Queries with no oracle BY DESIGN, with the reason the driver/judge
    * can surface. Everything else either has an oracleSql entry or is a
    * bug. */
  def rowsOnly: Map[String, String] = Map.empty
  // (sub_blake2b has an oracle too: DuckDB has no blake2b, so the
  // oracle joins an INDEPENDENTLY-generated expected-digest fixture —
  // Python hashlib.blake2b over the same testdata, fixtures/
  // blake2b_expected.csv — keyed by (doc_id, md5(text)) so a
  // regenerated corpus drops the join rows and fails loudly instead of
  // silently passing stale digests. The digest implementation is also
  // golden-tested against RFC 7693 vectors in Blake2bSpec.)

  /** Headline subset timed by [[Bench]]. */
  def benchQueries: Seq[String] = Seq(
    "q1_pricing", "q3_shipping", "q5_region", "q14_promo", "w_running",
    "j2_collect_list", "dedup_minhash_buckets", "dedup_ngram_top_pairs",
    "dedup_simhash", "ann_brute_topk", "ann_ivf_topk", "text_fingerprint",
    "text_quality", "imsc_pipeline", "mm_decode_stats",
    // round-5 additions (totals across rounds compare per-query, not
    // by the grand total, which grows when the set widens):
    "text_repetition", "text_tfidf_topk", "ann_centroid_outliers",
    "ann_ivf_kmeans_topk", "dedup_normalized_keep_first",
    "corpus_lang_balance", "corpus_temperature_sample",
    "embed_quantize_int8", "ann_pq_adc_topk", "ann_ivf_pq_topk",
    "corpus_vocab_topk", "corpus_bpe_merges", "corpus_pmi_topk",
    "corpus_context_windows",
    "asof_last_click", "range_incident_stats",
    "sketch_kmv_distinct", "topk_per_group",
    "j_bloom_prefilter", "dedup_semantic_keep_first",
    "dedup_chunks_global", "corpus_source_cap",
    "dedup_fuzzy_neighbors", "text_quality_model",
    "asof_join_native",
    // round-6 additions:
    "asof_forward_native", "range_join_rule",
    "text_char_diversity", "text_ngram_novelty", "corpus_mix_epochs",
    "q6_forecast", "q10_returns", "q18_big_orders",
    "mm_byte_ahash", "embed_pca_power", "w_range_sliding",
    "corpus_dsir_weights", "ann_ivf_recall", "dedup_minhash_est_err",
    "corpus_span_corruption", "text_lang_confusion", "events_funnel",
    "q4_late_orders", "q19_brand_revenue", "text_bm25_topk",
    // the family BUILD query runs before its consumers so pass-1
    // consumers read the memo it just (re)built (Bench resets the
    // family memo before each graph_edges_build repeat, so the build
    // query itself always reports cold-build cost):
    "text_winnow_fp", "graph_edges_build", "dedup_winnow_pairs",
    "graph_pagerank_neardup",
    "events_retention", "corpus_quality_gate", "events_wau",
    "dedup_winnow_recall", "sub_full_outer", "events_spike_days",
    // round-6 additions (real media codecs + exact set-similarity):
    "mm_decode_image", "dedup_image_hamming", "mm_decode_audio",
    "dedup_prefix_jaccard", "corpus_dup_ngrams",
    "q17_small_qty", "q21_waiting_suppliers", "q22_global_sales",
    "q15_top_supplier",
    // round-6 additions (the remaining TPC-H classics):
    "q2_min_cost_supplier", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q11_important_stock", "q12_ship_priority",
    "q13_cust_distribution", "q16_supplier_cnt", "q20_part_promotion",
    // round-6 additions (warehouse classics + layout):
    "sub_session_window", "scd2_tier_history", "sub_profile_columns",
    "layout_zorder",
    // round-7 additions (real video codec + CMS heavy hitters + audio fp
    // + BPE tokenizer application):
    "mm_decode_video", "mm_video_sample", "sketch_cms_heavy", "mm_audio_fp",
    "corpus_bpe_encode",
    // round-8 additions (sequential-BPE vocab, the sliced recall eval
    // whose timing demonstrates the calibration-slice escape hatch,
    // and asymmetric containment dedup):
    "corpus_bpe_vocab", "dedup_winnow_recall_slice2",
    "dedup_containment_pairs", "dedup_substring_spans",
    // round-8 additions (CCNet LM perplexity filter, keep-best release,
    // PSI drift monitor, histogram quantile sketch):
    "text_lm_perplexity", "dedup_keep_best", "events_drift_psi",
    "sketch_hist_quantiles", "sketch_group_sample",
    // round-8 additions (matryoshka funnel retrieval, workload-driven
    // layout advisor, CDC snapshot diff, tokenizer fertility, release
    // report card):
    "embed_matryoshka_recall", "layout_skip_workload",
    "sub_snapshot_diff", "corpus_bpe_fertility", "corpus_report_card",
    "range_overlap_agg", "sub_incremental_agg", "skew_advisor",
    "dedup_lsh_curve_advisor", "corpus_semantic_decontaminate",
    // the LSH-pairs family BUILD runs before its consumers (Bench
    // cold-resets it per repeat — without it in the
    // headline set the build cost landed on dedup_cluster_census):
    "text_quality_agreement", "dedup_lsh_verified_pairs",
    "dedup_cluster_census",
    // round-8 additions (vocab drift, weighted sampling, EWMA bursts,
    // kNN-graph audit, calibration, grouping-sets/unpivot substrate):
    "text_vocab_drift", "sketch_weighted_sample", "events_ewma_burst",
    "embed_knn_agreement", "text_quality_calibration",
    "sub_grouping_sets", "sub_unpivot",
    // round-8 additions (threshold sweep, cell balance, window
    // efficiency, compression curve):
    "dedup_threshold_sweep", "embed_cell_balance",
    "corpus_window_efficiency", "corpus_bpe_compression",
    "ann_nprobe_sweep", "corpus_gate_sweep", "corpus_release_funnel",
    "graph_cc_star", "dedup_semantic_sweep", "events_cusum_shift",
    // round-9 additions (lifecycle-join batch twin, leave-one-source-out
    // ablation, incremental new-vs-corpus dedup, Hampel median/MAD
    // monitor, hard-negative mining):
    "stream_lifecycle_join", "corpus_source_ablation", "dedup_incremental",
    "events_mad_outliers", "embed_hard_negatives",
    "events_trending_decay", "embed_label_purity",
    "sub_apply_changeset", "sub_bloom_advisor", "embed_kcenter_coreset",
    "graph_triangles", "text_zipf_fit", "text_hapax_ratio",
    "events_dow_profile", "ann_lsh_multiprobe",
    "corpus_budget_mix", "embed_centroid_drift", "events_transition_matrix",
    "events_monitor_ensemble", "text_entropy_profile", "mm_image_phash",
    "ann_multiprobe_recall", "dedup_phash_hamming",
    // round-9 additions (seasonal Hampel monitor, U-shaped attribution,
    // LPA communities, join-order advisor):
    "events_seasonal_hampel", "events_attribution_u",
    "graph_label_prop", "sub_join_order_advisor",
    "events_funnel_paths", "sub_window_funcs", "text_kn_perplexity",
    "corpus_moore_lewis", "graph_kcore", "events_forecast_snaive",
    "orders_rfm_segments", "sketch_kmv_setops", "text_readability",
    "mm_shot_boundaries", "events_user_gini", "graph_core_distance",
    "events_funnel_latency", "embed_alignment", "mm_audio_vad",
    "events_gap_census", "embed_rank_corr", "events_markov_stationary",
    "graph_modularity", "mm_image_entropy", "text_ndcg_eval",
    "events_ohlc_hourly", "mm_crossmodal_audit", "sketch_group_quantiles",
    "dedup_edit_distance", "orders_basket_rules", "events_pareto_share",
    "embed_kmeans_elbow", "mm_image_edges", "events_streak_census",
    "events_entropy_rate", "embed_norm_profile", "mm_release_funnel",
    "events_new_returning", "text_quality_chi2", "orders_cohort_revenue",
    "embed_pq_distortion", "events_ab_srm", "events_ab_lift",
    "text_winnow_density", "corpus_pack_waste", "graph_assortativity",
    "embed_pq_recall", "events_stickiness", "sketch_kmv_wau",
    "graph_rich_club", "events_hour_heatmap", "corpus_temp_sweep",
    "orders_backlog_aging",
    // round-10 additions:
    "dedup_bucket_refresh", "events_hampel_windowed",
    "events_level_shift", "orders_abc_classes", "text_ttr_curve",
    "embed_index_refresh", "events_seasonality_strength",
    "text_burstiness", "orders_reorder_intervals",
    // round-11 additions (the candidate-graph BUILD runs
    // before its consumer, mirroring graph_edges_build — Bench
    // cold-resets the lp_candidates family per build repeat, so
    // graph_link_prediction reports steady-state marginal cost):
    "dedup_fp_refresh", "corpus_daily_increment",
    "graph_candidates_build", "graph_link_prediction",
    "embed_silhouette",
    // round-12 additions:
    "embed_mmr_select", "events_acf", "dedup_minhash_bbit",
    // round-13 additions (the alert channels — cheap censuses, but the
    // monitoring surface belongs in the headline set it guards):
    "graph_dropped_hubs", "dedup_oversized_buckets",
    // round-15 additions (cell-index IVM + class-D output advisor; the
    // scale-aware-width pair queries are already in the set above):
    "embed_cell_refresh", "range_output_advisor",
    // round-16 additions (split-leakage audit + the cluster-aware split
    // that zeroes it — both ride the winnow edge memo built above):
    "corpus_split_leakage", "corpus_split_clustered",
    // round-17 additions (cluster-label IVM closing the maintained-index
    // family, the split-balance alert declaring the mega-cluster
    // trade-off, and the day-2 split-churn audit the IVM enables):
    "dedup_cluster_refresh", "corpus_split_balance",
    "corpus_split_churn")

  // --- generated DuckDB replicas of the portable-hash queries ----------

  /** Gradient-pixel 8×8 block sums — the shared prefix of the aHash
    * and DCT-pHash replicas (ends defining `b(doc_id, w, h, br, bc,
    * bsum, bn)`). */
  private def imageBlocksCte: String =
    """WITH d AS (SELECT doc_id, CAST(n_chars % 64 + 16 AS INT) AS w,
      |    CAST(n_chars % 48 + 16 AS INT) AS h FROM documents
      |  WHERE doc_id % 10 <> 0),
      |px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y,
      |    (doc_id + xs.x + ys.y) % 256 AS g
      |  FROM d,
      |  LATERAL (SELECT unnest(range(0, w)) AS x) xs,
      |  LATERAL (SELECT unnest(range(0, h)) AS y) ys),
      |b AS (SELECT doc_id, w, h, (y * 8) // h AS br, (x * 8) // w AS bc,
      |    CAST(sum(g) AS BIGINT) AS bsum, count(*) AS bn
      |  FROM px GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  /** Arithmetic replica of the REAL decoded aHash (the PNGs are the
    * deterministic gradient `(doc_id+x+y)%256`, failed-decode docs
    * excluded) — shared by `mm_image_ahash` and `dedup_image_hamming`.
    * Ends defining `ah(doc_id, ahash_hi, ahash_lo)`. */
  private def imageAHashCte: String =
    s"""$imageBlocksCte,
      |t AS (SELECT doc_id, CAST(w AS BIGINT) * h AS n_px,
      |    CAST(sum(bsum) AS BIGINT) AS total FROM b GROUP BY 1, 2),
      |bits AS (SELECT b.doc_id, br * 8 + bc AS bit
      |  FROM b JOIN t USING (doc_id)
      |  WHERE bsum * n_px > total * bn),
      |ah AS (SELECT t.doc_id,
      |  CAST(coalesce(sum(CASE WHEN bit >= 32
      |    THEN 1::BIGINT << CAST(bit - 32 AS INT) END), 0) AS BIGINT) AS ahash_hi,
      |  CAST(coalesce(sum(CASE WHEN bit < 32
      |    THEN 1::BIGINT << CAST(bit AS INT) END), 0) AS BIGINT) AS ahash_lo
      |FROM t LEFT JOIN bits ON t.doc_id = bits.doc_id
      |GROUP BY 1)""".stripMargin

  /** DCT-pHash replica: the same gradient block floor-means, then the
    * separable integer DCT-II with the EXACT [[graft.operators
    * .ImageCodec.DctK]] constants injected as literals (generated from
    * the same array the engine uses — cross-engine parity never
    * depends on two libm `cos` implementations), lower-median AC
    * threshold, bit-packed halves. */
  private def imagePHashOracle: String = {
    val k = graft.operators.ImageCodec.DctK
    val tExprs = (for (u <- 0 until 8; c <- 0 until 8) yield {
      val terms = (0 until 8)
        .map(r => s"(${k(u)(r)}) * m[${r * 8 + c + 1}]").mkString(" + ")
      s"($terms) AS t_${u}_$c"
    }).mkString(",\n  ")
    val dExprs = (for (u <- 0 until 8; v <- 0 until 8) yield {
      val terms = (0 until 8)
        .map(c => s"(${k(v)(c)}) * t_${u}_$c").mkString(" + ")
      s"($terms) AS d_${u}_$v"
    }).mkString(",\n  ")
    val acList = (1 until 64).map(b => s"d_${b / 8}_${b % 8}").mkString(", ")
    val hiTerms = (32 until 64).map(b =>
      s"CASE WHEN d_${b / 8}_${b % 8} > med THEN ${1L << (b - 32)} ELSE 0 END")
      .mkString("\n    + ")
    val loTerms = (1 until 32).map(b =>
      s"CASE WHEN d_${b / 8}_${b % 8} > med THEN ${1L << b} ELSE 0 END")
      .mkString("\n    + ")
    s"""$imageBlocksCte,
       |mm AS (SELECT doc_id, list(bsum // bn ORDER BY br * 8 + bc) AS m
       |  FROM b GROUP BY 1),
       |tt AS (SELECT doc_id,
       |  $tExprs
       |  FROM mm),
       |dd AS (SELECT doc_id,
       |  $dExprs
       |  FROM tt),
       |md AS (SELECT dd.*, list_sort([$acList])[32] AS med FROM dd)
       |SELECT doc_id,
       |  CAST($hiTerms AS BIGINT) AS phash_hi,
       |  CAST($loTerms AS BIGINT) AS phash_lo
       |FROM md""".stripMargin
  }

  /** Winnowing CTE prefix shared by the fingerprint query and the
    * shared-pair join: positional 3-grams, packed (hash, pos) keys,
    * w=4 window minima over full windows. `where` restricts the corpus
    * (e.g. the calibration slice of the sliced recall eval); empty =
    * full corpus. */
  private def winnowCte(where: String = ""): String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents$where),
       |g AS (SELECT doc_id, unnest(generate_series(1, len(w) - 2)) AS i, w FROM ws),
       |gr AS (SELECT doc_id, i, array_to_string(w[i:i+2], ' ') AS gram FROM g
       |  WHERE i - 1 < 32768),
       |k AS (SELECT doc_id, i - 1 AS pos,
       |    ${graft.functions.PortableHash.sqlH48("gram")} * 32768 + (i - 1) AS key
       |  FROM gr),
       |m AS (SELECT doc_id,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
       |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
       |  FROM k)""".stripMargin

  /** [[winnowCte]] without its `WITH ` prefix, for composing the winnow
    * chain AFTER other CTE blocks in one WITH list. */
  private def winnowChain(where: String = ""): String =
    winnowCte(where).stripPrefix("WITH ")

  /** The incremental-dedup ADMISSION CASCADE as a composable CTE block
    * ending in `kept` (the new-slice docs that survive the exact md5
    * gate and the capped-LSH near gate) — the replica shared by the IVM
    * refresh oracles (`dedup_fp_refresh`, the `corpus_daily_increment`
    * stages). Byte-for-byte the `dedup_incremental` chain, with the
    * shingle CTEs prefixed `a_` so the block composes with the winnow
    * chain (which owns ws/g/gr/k/m). */
  private def admissionKeptCtes: String =
    s"""bk0 AS MATERIALIZED (
       |$minhashOracle),
       |hot AS (SELECT band, bucket FROM bk0 GROUP BY 1, 2
       |  HAVING count(*) > 1024),
       |bk AS MATERIALIZED (SELECT * FROM bk0 WHERE NOT EXISTS (
       |  SELECT 1 FROM hot h
       |  WHERE h.band = bk0.band AND h.bucket = bk0.bucket)),
       |ex AS MATERIALIZED (SELECT doc_id, md5(text) AS h FROM documents),
       |exact AS (SELECT n.doc_id, min(c.doc_id) AS exact_of
       |  FROM ex n JOIN ex c ON n.h = c.h AND c.doc_id % 10 >= 2
       |  WHERE n.doc_id % 10 < 2 GROUP BY 1),
       |cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corp_id
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
       |  WHERE x.doc_id % 10 < 2 AND y.doc_id % 10 >= 2),
       |a_ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |a_shs AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
       |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
       |  FROM a_ws WHERE len(w) >= 3),
       |a_szs AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM a_shs GROUP BY 1),
       |ints AS (SELECT c.new_id, c.corp_id, count(*) AS n_int
       |  FROM cand c JOIN a_shs p ON p.doc_id = c.new_id
       |  JOIN a_shs q ON q.doc_id = c.corp_id AND p.s = q.s
       |  GROUP BY 1, 2),
       |near AS (SELECT i.new_id, min(i.corp_id) AS near_of
       |  FROM ints i JOIN a_szs s1 ON s1.doc_id = i.new_id
       |  JOIN a_szs s2 ON s2.doc_id = i.corp_id
       |  WHERE i.n_int * 10 >= 7 * (s1.n_sh + s2.n_sh - i.n_int)
       |  GROUP BY 1),
       |kept AS MATERIALIZED (SELECT d.doc_id FROM documents d
       |  LEFT JOIN exact e ON e.doc_id = d.doc_id
       |  LEFT JOIN near nr ON nr.new_id = d.doc_id
       |  WHERE d.doc_id % 10 < 2
       |    AND e.exact_of IS NULL AND nr.near_of IS NULL)""".stripMargin

  /** Fingerprint-table IVM oracle: the FULL winnow rebuild over
    * corpus ∪ admitted — hash equality against the Spark side's
    * existing ∪ delta union proves refresh ≡ rebuild (winnowing is
    * per-document, so the union IS the rebuild). */
  private def fpRefreshOracle: String =
    s"""WITH $admissionKeptCtes,
       |${winnowChain(
           " WHERE doc_id % 10 >= 2 OR doc_id IN (SELECT doc_id FROM kept)")}
       |SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
       |FROM m WHERE cnt = 4""".stripMargin

  /** Cluster-label IVM oracle: the FULL connected-components REBUILD
    * over the maintained edge table — day-1 edges (hot-fp cap on the
    * day-1 fingerprint table) ∪ the day's edge delta (≥ 1 admitted
    * side, cap on the refreshed table; the append-only contract) —
    * via recursive reachability + min, replayed against the Spark
    * side's incremental label merge. Hash equality IS the
    * refresh ≡ rebuild proof.
    *
    * HAZARD (accepted by design): `reach` holds one row per
    * (node, reachable node) — O(n × component size). Fine at gated
    * SFs; a fixture with a mega near-dup cluster would blow the DuckDB
    * side's memory LOUDLY rather than silently passing (the Spark star
    * contraction stays bounded). `dedup_cluster_census` fronts the
    * size tail before anything trusts the labels. */
  private def clusterRefreshCtes: String =
    s"""WITH RECURSIVE $admissionKeptCtes,
       |${winnowChain(
           " WHERE doc_id % 10 >= 2 OR doc_id IN (SELECT doc_id FROM kept)")},
       |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
       |  FROM m WHERE cnt = 4),
       |fpo0 AS (SELECT * FROM fp WHERE doc_id % 10 >= 2),
       |hoto AS (SELECT fp_hash FROM fpo0 GROUP BY 1 HAVING count(*) > 4096),
       |fpo AS MATERIALIZED (SELECT * FROM fpo0 WHERE fp_hash NOT IN
       |  (SELECT fp_hash FROM hoto)),
       |hotr AS (SELECT fp_hash FROM fp GROUP BY 1 HAVING count(*) > 4096),
       |fpr AS MATERIALIZED (SELECT * FROM fp WHERE fp_hash NOT IN
       |  (SELECT fp_hash FROM hotr)),
       |edo AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM fpo a JOIN fpo b ON a.fp_hash = b.fp_hash
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |edd AS (SELECT id1, id2 FROM (
       |    SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
       |      greatest(a.doc_id, b.doc_id) AS id2, a.fp_hash
       |    FROM fpr a JOIN fpr b ON a.fp_hash = b.fp_hash
       |      AND a.doc_id <> b.doc_id
       |    WHERE a.doc_id % 10 < 2)
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |alle AS MATERIALIZED (SELECT id1, id2 FROM edo
       |  UNION SELECT id1, id2 FROM edd),
       |eds AS (SELECT id1 AS a, id2 AS b FROM alle
       |  UNION ALL SELECT id2 AS a, id1 AS b FROM alle),
       |nodes AS (SELECT doc_id FROM documents
       |  WHERE doc_id % 10 >= 2 OR doc_id IN (SELECT doc_id FROM kept)),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM nodes
       |  UNION
       |  SELECT r.src, eds.b AS dst FROM reach r JOIN eds ON r.dst = eds.a)""".stripMargin

  private def clusterRefreshOracle: String =
    s"""$clusterRefreshCtes
       |SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster
       |FROM reach GROUP BY src""".stripMargin

  /** Split-churn replica: the refresh-CC labels (shared CTE chain
    * above) PLUS a second recursive CC over the day-1-only edges
    * (`edo`), both label sets hashed to splits, migration matrix with
    * admitted docs entering as old_split='new'. Same reach-blowup
    * hazard note as [[clusterRefreshOracle]]. */
  private def splitChurnOracle: String = {
    val hc = graft.functions.PortableHash.sqlH48(
      "concat('csplit:', CAST(cluster AS VARCHAR))")
    def splitCase(src: String, alias: String) =
      s"""SELECT doc_id, CASE WHEN b < 80 THEN 'train'
         |    WHEN b < 90 THEN 'validation' ELSE 'test' END AS $alias
         |  FROM (SELECT doc_id, $hc % 100 AS b FROM $src)""".stripMargin
    s"""$clusterRefreshCtes,
       |lab2 AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster
       |  FROM reach GROUP BY src),
       |eds1 AS (SELECT id1 AS a, id2 AS b FROM edo
       |  UNION ALL SELECT id2 AS a, id1 AS b FROM edo),
       |reach1 AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM documents
       |  WHERE doc_id % 10 >= 2
       |  UNION
       |  SELECT r.src, eds1.b AS dst FROM reach1 r JOIN eds1 ON r.dst = eds1.a),
       |lab1 AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster
       |  FROM reach1 GROUP BY src),
       |s2 AS (${splitCase("lab2", "new_split")}),
       |s1 AS (${splitCase("lab1", "old_split")})
       |SELECT old_split, new_split, CAST(count(*) AS BIGINT) AS n_docs,
       |  old_split <> new_split AND old_split <> 'new' AS is_churn,
       |  CAST(min(doc_id) AS BIGINT) AS example_doc
       |FROM (SELECT s2.doc_id, s2.new_split,
       |    coalesce(s1.old_split, 'new') AS old_split
       |  FROM s2 LEFT JOIN s1 ON s2.doc_id = s1.doc_id)
       |GROUP BY 1, 2""".stripMargin
  }

  /** Vector-index IVM replica (the FULL REBUILD over corpus ∪ admitted;
    * admission = new×corpus bucket-collision + exact-cosine gate) —
    * shared by the declared refresh query and the day-2 increment's
    * `signatures_added` stage. */
  private def embedIndexRefreshOracle: String =
    s"""$lshSigCtes,
       |dup AS (SELECT DISTINCT a.vec_id AS new_id
       |  FROM sig a JOIN sig b ON a.lsh_bucket = b.lsh_bucket
       |    AND a.vec_id % 10 < 2 AND b.vec_id % 10 >= 2
       |  WHERE list_dot_product(a.emb, b.emb) /
       |    (sqrt(list_dot_product(a.emb, a.emb)) *
       |     sqrt(list_dot_product(b.emb, b.emb))) > 0.4)
       |SELECT s.vec_id, em.label, s.lsh_bucket
       |FROM sig s JOIN embeddings em ON s.vec_id = em.vec_id
       |WHERE s.vec_id % 10 >= 2
       |   OR s.vec_id NOT IN (SELECT new_id FROM dup)""".stripMargin

  /** Trained-IVF cell-index IVM replica (refresh ≡ rebuild) — the FULL
    * REBUILD: quantizer trained on the day-0 corpus slice (`et`),
    * assignment over corpus ∪ admitted (`ep`; admission = the SAME
    * new×corpus bucket-collision + exact-cosine gate as the signature
    * index), shard divisor frozen at the corpus count. Hash equality
    * against the Spark side's incremental path proves
    * refresh ≡ rebuild for frozen centroids. Shared by the declared
    * refresh query and the day-2 increment's `cells_touched` stage. */
  private def embedCellRefreshOracle: String = {
    val cos = duckCos("a.emb", "b.emb")
    val extra =
      s"""sig AS (SELECT vec_id, emb, ${lshSigBitsSql(graft.operators.Similarity.Planes)} AS lsh_bucket FROM e),
         |dup AS (SELECT DISTINCT a.vec_id AS new_id
         |  FROM sig a JOIN sig b ON a.lsh_bucket = b.lsh_bucket
         |    AND a.vec_id % 10 < 2 AND b.vec_id % 10 >= 2
         |  WHERE $cos > 0.4),
         |et AS (SELECT vec_id, emb FROM e WHERE vec_id % 10 >= 2),
         |ep AS (SELECT vec_id, emb FROM e WHERE vec_id % 10 >= 2
         |  OR vec_id NOT IN (SELECT new_id FROM dup))""".stripMargin
    s"""${ivfCellCtes(trainSrc = "et", assignSrc = "ep", extraCtes = extra, hashSeeds = true)}
       |SELECT vec_id, cent_id, shard FROM assigned""".stripMargin
  }

  /** Winnow-recall replica, parameterized by the calibration-slice
    * predicate (shared by the full and sliced declared queries —
    * byte-identical chains except the corpus restriction). */
  private def winnowRecallOracle(where: String = ""): String =
    s"""${winnowCte(where)},
      |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
      |  FROM m WHERE cnt = 4),
      |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |sh AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
      |  FROM ws WHERE len(w) >= 3),
      |ns AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |truth AS (SELECT id1, id2
      |  FROM pr JOIN ns t1 ON id1 = t1.doc_id JOIN ns t2 ON id2 = t2.doc_id
      |  WHERE shared * 100 >= 35 * (t1.n_sh + t2.n_sh - shared)),
      |j AS (SELECT coalesce(t.id1, c.id1) AS id1,
      |    CASE WHEN t.id1 IS NULL THEN 0 ELSE 1 END AS in_truth,
      |    CASE WHEN c.id1 IS NULL THEN 0 ELSE 1 END AS in_cand
      |  FROM truth t FULL OUTER JOIN cand c
      |    ON t.id1 = c.id1 AND t.id2 = c.id2),
      |agg AS (SELECT CAST(sum(in_truth) AS BIGINT) AS n_truth,
      |    CAST(sum(in_cand) AS BIGINT) AS n_cand,
      |    CAST(sum(in_truth * in_cand) AS BIGINT) AS n_hit FROM j)
      |SELECT n_truth, n_cand, n_hit,
      |  (n_hit * 1000000) // n_truth AS recall_micro,
      |  (n_hit * 1000000) // n_cand AS precision_micro
      |FROM agg""".stripMargin

  /** PageRank replica: replays the integer fixed-point iteration of
    * [[graft.operators.GraphOps.pagerankNearDup]] — same edge list
    * (winnow-pair graph), same micro-unit floor divisions — so every
    * intermediate rank is bit-identical. */
  private def pagerankOracle(iters: Int = 3): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (SELECT d.doc_id, 150000 + (85 * coalesce(s.s, 0)) // 100 AS r
         |  FROM documents d LEFT JOIN (
         |    SELECT e.dst AS doc_id, CAST(sum(r.r // dg.deg) AS BIGINT) AS s
         |    FROM e JOIN dg ON e.src = dg.src JOIN r${k - 1} r ON e.src = r.doc_id
         |    GROUP BY 1) s ON d.doc_id = s.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""${winnowCte()},
       |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
       |  FROM m WHERE cnt = 4),
       |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM p
       |  UNION ALL SELECT id2, id1 FROM p),
       |dg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),
       |$iterCtes
       |SELECT r$iters.doc_id, r AS rank_micro,
       |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS degree
       |FROM r$iters LEFT JOIN dg ON r$iters.doc_id = dg.src""".stripMargin
  }

  /** Shared CTE block: winnow edges `p`/`e` + `rounds` LPA label
    * rounds ending at `l$rounds` (used by the LPA and modularity
    * replicas). */
  private def lpaCtes(rounds: Int): String = {
    val iterCtes = (1 to rounds).map { k =>
      s"""v$k AS (SELECT e.dst, l.lbl, count(*) AS cnt
         |  FROM e JOIN l${k - 1} l ON e.src = l.doc_id GROUP BY 1, 2),
         |mx$k AS (SELECT dst, max(cnt) AS mx FROM v$k GROUP BY 1),
         |pk$k AS (SELECT v.dst, min(v.lbl) AS new_lbl FROM v$k v
         |  JOIN mx$k m ON v.dst = m.dst AND v.cnt = m.mx GROUP BY 1),
         |l$k AS MATERIALIZED (SELECT l.doc_id,
         |    coalesce(p.new_lbl, l.lbl) AS lbl
         |  FROM l${k - 1} l LEFT JOIN pk$k p ON l.doc_id = p.dst)""".stripMargin
    }.mkString(",\n")
    s"""${winnowCte()},
       |fp AS (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
       |  FROM m WHERE cnt = 4),
       |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |e AS (SELECT id1 AS src, id2 AS dst FROM p
       |  UNION ALL SELECT id2, id1 FROM p),
       |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS lbl FROM documents),
       |$iterCtes""".stripMargin
  }

  /** Label-propagation replica: the same winnow-pair edge list as
    * [[pagerankOracle]], then [[graft.operators.GraphOps.labelPropagation]]'s
    * synchronous lowest-label-wins rounds unrolled as materialized
    * CTEs (each round: vote count → per-node max → min-label pick →
    * left-join carry for isolated docs). */
  private def labelPropOracle(rounds: Int = 4): String =
    s"""${lpaCtes(rounds)},
       |sz AS (SELECT lbl, count(*) AS comm_size FROM l$rounds GROUP BY 1)
       |SELECT f.doc_id, f.lbl AS community, sz.comm_size
       |FROM l$rounds f JOIN sz ON f.lbl = sz.lbl""".stripMargin

  /** Modularity replica: same LPA labels, same edge list, the exact
    * per-community Q term with the sign-safe floor division. */
  private def modularityOracle(rounds: Int = 4): String =
    s"""${lpaCtes(rounds)},
       |mm AS (SELECT count(*) AS m FROM p),
       |deg AS (SELECT doc_id, count(*) AS d FROM (
       |    SELECT id1 AS doc_id FROM p UNION ALL SELECT id2 FROM p)
       |  GROUP BY 1),
       |degc AS (SELECT l.lbl AS community,
       |    CAST(sum(deg.d) AS BIGINT) AS deg_sum, count(*) AS n_nodes
       |  FROM deg JOIN l$rounds l ON deg.doc_id = l.doc_id GROUP BY 1),
       |ein AS (SELECT a.lbl AS community, count(*) AS e_in
       |  FROM p JOIN l$rounds a ON p.id1 = a.doc_id
       |  JOIN l$rounds b ON p.id2 = b.doc_id
       |  WHERE a.lbl = b.lbl GROUP BY 1)
       |SELECT degc.community, n_nodes, deg_sum,
       |  coalesce(ein.e_in, CAST(0 AS BIGINT)) AS e_in,
       |  4 * m * coalesce(ein.e_in, CAST(0 AS BIGINT))
       |    - deg_sum * deg_sum AS q_num,
       |  CASE WHEN 4 * m * coalesce(ein.e_in, CAST(0 AS BIGINT))
       |      - deg_sum * deg_sum >= 0
       |    THEN ((4 * m * coalesce(ein.e_in, CAST(0 AS BIGINT))
       |      - deg_sum * deg_sum) * 1000000) // (4 * m * m)
       |    ELSE -((-(4 * m * coalesce(ein.e_in, CAST(0 AS BIGINT))
       |      - deg_sum * deg_sum) * 1000000) // (4 * m * m))
       |  END AS q_term_micro
       |FROM degc LEFT JOIN ein ON degc.community = ein.community
       |CROSS JOIN mm""".stripMargin

  /** Shared CTE block: winnow shingles → near-dup edge list `e0` →
    * `rounds` k-core peel rounds ending at `e$rounds` (used by both
    * the k-core and the BFS-depth replicas). */
  private def kcorePeelCtes(k: Int, rounds: Int): String = {
    val iterCtes = (1 to rounds).map { r =>
      s"""dg$r AS (SELECT doc_id, count(*) AS deg FROM (
         |    SELECT id1 AS doc_id FROM e${r - 1}
         |    UNION ALL SELECT id2 FROM e${r - 1}) GROUP BY 1),
         |kp$r AS (SELECT doc_id FROM dg$r WHERE deg >= $k),
         |e$r AS MATERIALIZED (SELECT e.id1, e.id2 FROM e${r - 1} e
         |  JOIN kp$r a ON e.id1 = a.doc_id
         |  JOIN kp$r b ON e.id2 = b.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""${winnowCte()},
       |fp AS (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
       |  FROM m WHERE cnt = 4),
       |e0 AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 3),
       |$iterCtes""".stripMargin
  }

  /** K-core replica: the same winnow-pair edge list, then
    * [[graft.operators.GraphOps.kcoreMembership]]'s fixed-count peel
    * rounds unrolled as materialized CTEs (peeling is idempotent at
    * the fixed point, so both engines land on the same core). */
  private def kcoreOracle(k: Int = 3, rounds: Int = 6): String = {
    s"""${kcorePeelCtes(k, rounds)},
       |degf AS (SELECT doc_id, count(*) AS deg_full FROM (
       |    SELECT id1 AS doc_id FROM e0 UNION ALL SELECT id2 FROM e0)
       |  GROUP BY 1),
       |core AS (SELECT doc_id, count(*) AS core_deg FROM (
       |    SELECT id1 AS doc_id FROM e$rounds
       |    UNION ALL SELECT id2 FROM e$rounds) GROUP BY 1)
       |SELECT degf.doc_id, deg_full,
       |  core.doc_id IS NOT NULL AS in_3core,
       |  CAST(coalesce(core.core_deg, 0) AS BIGINT) AS core_deg
       |FROM degf LEFT JOIN core ON degf.doc_id = core.doc_id""".stripMargin
  }

  /** RFM replica: same per-customer triple, same domain-bounded
    * census cutoffs (rank ceil(q·N/5) walked over the partitioned
    * cumulative census), same 1 + #{cutoffs below} scoring and
    * segment CASE. Every sum that DuckDB would widen to HUGEINT is
    * cast back to BIGINT. */
  private def rfmOracle: String = {
    val cutCols = (for (d <- Seq("r", "f", "m"); q <- 1 to 4) yield
      s"max(CASE WHEN dim = '$d' AND q = $q THEN v END) AS ${d}$q")
      .mkString(",\n    ")
    def score(v: String, d: String): String =
      "1 + " + (1 to 4).map(q =>
        s"(CASE WHEN $v > ${d}$q THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH cust AS (
       |  SELECT o_custkey,
       |    (SELECT max(epoch_us(o_orderdate) // 86400000000) FROM orders)
       |      - max(epoch_us(o_orderdate) // 86400000000) AS r_days,
       |    count(*) AS f_cnt,
       |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
       |      AS BIGINT) AS m_cents
       |  FROM orders GROUP BY 1),
       |cust2 AS (SELECT *, m_cents // 10000 AS m_bucket FROM cust),
       |census AS (SELECT dim, v, count(*) AS cnt FROM (
       |    SELECT 'r' AS dim, r_days AS v FROM cust2
       |    UNION ALL SELECT 'f', f_cnt FROM cust2
       |    UNION ALL SELECT 'm', m_bucket FROM cust2) GROUP BY 1, 2),
       |cum AS (SELECT dim, v, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY dim ORDER BY v) AS BIGINT)
       |      AS cum FROM census),
       |cuts AS (SELECT
       |    $cutCols
       |  FROM cum
       |  CROSS JOIN (SELECT count(*) AS n_cust FROM cust2)
       |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS q)
       |  WHERE cum - cnt < (q * n_cust + 4) // 5
       |    AND cum >= (q * n_cust + 4) // 5),
       |scored AS (SELECT o_custkey, m_cents,
       |    CAST(6 - (${score("r_days", "r")}) AS BIGINT) AS r_score,
       |    CAST(${score("f_cnt", "f")} AS BIGINT) AS f_score,
       |    CAST(${score("m_bucket", "m")} AS BIGINT) AS m_score
       |  FROM cust2 CROSS JOIN cuts)
       |SELECT r_score, f_score, m_score, count(*) AS n_cust,
       |  CAST(sum(m_cents) AS BIGINT) AS m_cents_total,
       |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
       |      THEN 'champion'
       |    WHEN f_score >= 4 THEN 'loyal'
       |    WHEN m_score >= 4 THEN 'big_spender'
       |    WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
       |    WHEN r_score <= 2 THEN 'hibernating'
       |    ELSE 'regular' END AS segment
       |FROM scored GROUP BY 1, 2, 3""".stripMargin
  }

  /** BFS-depth replica: the shared peel block seeds depth 0 at the
    * 3-core, then `bfsRounds` unrolled min-propagation rounds over the
    * undirected edge list (idempotent at the fixed point, like the
    * peel itself). */
  private def bfsDepthOracle(k: Int = 3, peelRounds: Int = 6,
      bfsRounds: Int = 4): String = {
    val rounds = (1 to bfsRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT doc_id, min(d) AS d FROM (
         |    SELECT doc_id, d FROM d${r - 1}
         |    UNION ALL
         |    SELECT u.dst AS doc_id, p.d + 1 AS d
         |    FROM d${r - 1} p JOIN und u ON p.doc_id = u.src)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""${kcorePeelCtes(k, peelRounds)},
       |und AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM e0
       |  UNION ALL SELECT id2, id1 FROM e0),
       |nodes AS (SELECT DISTINCT src AS doc_id FROM und),
       |d0 AS MATERIALIZED (SELECT DISTINCT doc_id, CAST(0 AS BIGINT) AS d
       |  FROM (SELECT id1 AS doc_id FROM e$peelRounds
       |    UNION ALL SELECT id2 FROM e$peelRounds)),
       |$rounds
       |SELECT n.doc_id,
       |  CAST(coalesce(f.d, -1) AS BIGINT) AS depth,
       |  f.doc_id IS NOT NULL AS reached
       |FROM nodes n LEFT JOIN d$bfsRounds f ON n.doc_id = f.doc_id""".stripMargin
  }

  /** Shared CTE block: transition census `m` + π₀ + `rounds` unrolled
    * π·P steps ending at `p$rounds` (used by the stationary and
    * entropy-rate replicas). */
  private def markovCtes(rounds: Int): String = {
    val iter = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT m.to_type AS event_type,
         |    CAST(sum((p.pi * m.n) // m.row_total) AS BIGINT) AS pi
         |  FROM p${r - 1} p JOIN m ON p.event_type = m.from_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH s AS (SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS from_type
       |  FROM events),
       |b AS (SELECT from_type, event_type AS to_type, count(*) AS n
       |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
       |  FROM b GROUP BY 1),
       |m AS (SELECT b.from_type, b.to_type, CAST(n AS BIGINT) AS n,
       |    row_total FROM b JOIN t USING (from_type)),
       |tt AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM m),
       |p0 AS MATERIALIZED (SELECT from_type AS event_type,
       |    (max(row_total) * 1000000) // (SELECT t FROM tt) AS pi
       |  FROM m GROUP BY 1),
       |$iter""".stripMargin
  }

  /** Stationary-flow replica: the transition-matrix CTEs, then
    * `rounds` unrolled π·P steps with the identical per-term floor. */
  private def markovStationaryOracle(rounds: Int = 8): String = {
    s"""${markovCtes(rounds)}
       |SELECT p0.event_type, p0.pi AS pi0_micro,
       |  p$rounds.pi AS pi_stat_micro,
       |  abs(p$rounds.pi - p${rounds - 1}.pi) AS delta_micro
       |FROM p0
       |JOIN p$rounds ON p0.event_type = p$rounds.event_type
       |JOIN p${rounds - 1} ON p0.event_type = p${rounds - 1}.event_type""".stripMargin
  }

  /** Shared by the per-modality entry and the multimodal funnel. */
  private def imageEntropyOracle: String = {
      val plogC = graft.operators.TextAnalysis.plog2MicroDuck("c")
      val plogN = graft.operators.TextAnalysis.plog2MicroDuck("n")
      s"""WITH d AS (SELECT doc_id, n_chars % 64 + 16 AS w,
         |    n_chars % 48 + 16 AS h
         |  FROM documents WHERE doc_id % 10 <> 0),
         |xs AS (SELECT unnest(range(0, 80)) AS x),
         |ys AS (SELECT unnest(range(0, 64)) AS y),
         |px AS (SELECT doc_id, (doc_id + x + y) % 256 AS v
         |  FROM d CROSS JOIN xs CROSS JOIN ys WHERE x < w AND y < h),
         |hc AS (SELECT doc_id, v, count(*) AS c FROM px GROUP BY 1, 2),
         |np AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    count(*) AS n_distinct,
         |    CAST(sum(c * ($plogC)) AS BIGINT) AS wsum
         |  FROM hc GROUP BY 1)
         |SELECT doc_id, n AS n_pixels, n_distinct,
         |  ($plogN) - wsum // n AS entropy_micro
         |FROM np""".stripMargin
  }

  private def audioVadOracle: String =
    """WITH d AS (SELECT doc_id, n_chars % 2000 + 500 AS n
        |  FROM documents WHERE doc_id % 10 <> 0),
        |sm AS (SELECT doc_id, i // 80 AS f,
        |    abs((doc_id * 31 + 7 * i) % 65536 - 32768) AS a
        |  FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM d)),
        |fr AS (SELECT doc_id, f, CAST(sum(a) AS BIGINT) AS sum_abs,
        |    count(*) AS len FROM sm GROUP BY 1, 2),
        |sf AS (SELECT doc_id, f, sum_abs < 12288 * len AS silent FROM fr),
        |agg AS (SELECT doc_id, count(*) AS n_frames,
        |    CAST(sum(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_silent
        |  FROM sf GROUP BY 1),
        |runs AS (SELECT doc_id,
        |    f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
        |  FROM sf WHERE silent),
        |rl AS (SELECT doc_id, count(*) AS run_len FROM runs GROUP BY doc_id, grp),
        |lg AS (SELECT doc_id, CAST(max(run_len) AS BIGINT) AS longest
        |  FROM rl GROUP BY 1)
        |SELECT agg.doc_id, n_frames, n_silent,
        |  coalesce(lg.longest, CAST(0 AS BIGINT)) AS longest_silence,
        |  ((n_frames - n_silent) * 1000) // n_frames AS active_milli
        |FROM agg LEFT JOIN lg ON agg.doc_id = lg.doc_id""".stripMargin

  private def shotBoundariesOracle: String =
    """WITH d AS (SELECT doc_id, n_chars % 5 + 2 AS n,
        |    n_chars % 24 + 8 AS w, n_chars % 16 + 8 AS h
        |  FROM documents WHERE doc_id % 10 <> 0),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, n - 1)) AS f FROM d),
        |xs AS (SELECT unnest(range(0, 32)) AS x),
        |ys AS (SELECT unnest(range(0, 24)) AS y),
        |px AS (SELECT doc_id, f, w, h,
        |    (doc_id + 7 * f + x + y) % 256 AS v
        |  FROM fr CROSS JOIN xs CROSS JOIN ys WHERE x < w AND y < h),
        |p AS (SELECT doc_id, f, w, h,
        |    CAST(sum(CASE WHEN v >= 249 THEN 249 ELSE 7 END) AS BIGINT)
        |      AS sad
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, CAST(f AS INTEGER) AS f_from,
        |  CAST(f + 1 AS INTEGER) AS f_to, sad,
        |  sad * 100 // (w * h) AS mad_centi,
        |  sad * 100 // (w * h) >= 1000 AS is_boundary
        |FROM p""".stripMargin

  private def annPqAdcOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
        |sub AS (SELECT vec_id, s, ed[s*16+1 : s*16+16] AS sv
        |  FROM e, range(0, 4) t(s)),
        |cw AS (SELECT CAST(vec_id // 8 AS INT) AS cw_id, s, sv AS cw_sv
        |  FROM sub WHERE vec_id % 8 = 0 AND vec_id < 128),
        |enc0 AS (SELECT x.vec_id, x.s, c.cw_id,
        |    list_dot_product(list_transform(range(1,17), i -> x.sv[i] - c.cw_sv[i]),
        |                     list_transform(range(1,17), i -> x.sv[i] - c.cw_sv[i])) AS d2
        |  FROM sub x JOIN cw c USING (s)),
        |codes AS (SELECT vec_id, s, min({'d': d2, 'c': cw_id}).c AS code
        |  FROM enc0 GROUP BY 1, 2),
        |lut AS (SELECT q.vec_id AS query_id, q.s, c.cw_id,
        |    list_dot_product(list_transform(range(1,17), i -> q.sv[i] - c.cw_sv[i]),
        |                     list_transform(range(1,17), i -> q.sv[i] - c.cw_sv[i])) AS qd2
        |  FROM sub q JOIN cw c USING (s) WHERE q.vec_id < 10),
        |sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id,
        |    sum(CASE WHEN cd.s = 0 THEN l.qd2 END) + sum(CASE WHEN cd.s = 1 THEN l.qd2 END)
        |      + sum(CASE WHEN cd.s = 2 THEN l.qd2 END) + sum(CASE WHEN cd.s = 3 THEN l.qd2 END) AS approx
        |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.cw_id
        |  WHERE cd.vec_id <> l.query_id GROUP BY 1, 2)
        |SELECT query_id, rank, neighbor_id,
        |  floor(approx * 1000000 + 0.5) / 1000000 AS approx_d2
        |FROM (SELECT query_id, neighbor_id, approx,
        |    row_number() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rank
        |  FROM sc) WHERE rank <= 5""".stripMargin

  /** MinHash+LSH replica: same shingles, same md5-derived 48-bit base
    * hash, same 32 (a,b) permutations, same 8×4 banding. */
  private def minhashOracle: String = {
    import graft.operators.Dedup.{Bands, MinhashPerm}
    val h48 = graft.functions.PortableHash.sqlH48("s")
    val rows = MinhashPerm / Bands
    val mins = (0 until MinhashPerm).map(i =>
      s"min((h * ${2 * i + 1} + ${104729L * (i + 1)}) % 2147483647) AS m$i").mkString(", ")
    val bands = (0 until Bands).map(b =>
      s"WHEN $b THEN md5(concat_ws(':', ${(0 until rows).map(k => s"m${b * rows + k}").mkString(", ")}))")
      .mkString(" ")
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
       |  FROM ws WHERE len(w) >= 3),
       |hh AS (SELECT doc_id, $h48 AS h FROM sh),
       |sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id)
       |SELECT doc_id, band, CASE band $bands END AS bucket
       |FROM sig CROSS JOIN (VALUES ${(0 until Bands).map(b => s"($b)").mkString(",")}) AS b(band)""".stripMargin
  }

  /** Minhash estimation-error replica: same signatures/banding as
    * [[minhashOracle]], then per candidate pair the 32-minima agreement
    * vs the exact shingle-set Jaccard. */
  private def minhashEstErrOracle: String = {
    import graft.operators.Dedup.{Bands, MinhashPerm}
    val h48 = graft.functions.PortableHash.sqlH48("s")
    val rows = MinhashPerm / Bands
    val mins = (0 until MinhashPerm).map(i =>
      s"min((h * ${2 * i + 1} + ${104729L * (i + 1)}) % 2147483647) AS m$i").mkString(", ")
    val bandCase = (0 until Bands).map(b =>
      s"WHEN $b THEN md5(concat_ws(':', ${(0 until rows).map(k => s"m${b * rows + k}").mkString(", ")}))")
      .mkString(" ")
    val eq = (0 until MinhashPerm).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val exact = "CAST(coalesce(i.n_int, 0) AS DOUBLE) / (s1.n_sh + s2.n_sh - coalesce(i.n_int, 0))"
    val est = s"CAST(pr.n_equal AS DOUBLE) / $MinhashPerm"
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
       |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
       |  FROM ws WHERE len(w) >= 3),
       |hh AS (SELECT doc_id, $h48 AS h FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
       |bk0 AS MATERIALIZED (SELECT doc_id, band, CASE band $bandCase END AS bucket
       |  FROM sig CROSS JOIN (VALUES ${(0 until Bands).map(b => s"($b)").mkString(",")}) AS t(band)),
       |hot AS (SELECT band, bucket FROM bk0 GROUP BY 1, 2
       |  HAVING count(*) > 1024),
       |bk AS MATERIALIZED (SELECT * FROM bk0 WHERE NOT EXISTS (
       |  SELECT 1 FROM hot h
       |  WHERE h.band = bk0.band AND h.bucket = bk0.bucket)),
       |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id),
       |pairs AS (SELECT c.doc1, c.doc2, ($eq) AS n_equal
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc1 JOIN sig b ON b.doc_id = c.doc2),
       |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |-- candidate-scoped intersections: only ever read via cand, and
       |-- the unrestricted s=s self-join is f-squared on a zipf corpus
       |ints AS (SELECT c.doc1, c.doc2, count(*) AS n_int
       |  FROM cand c JOIN sh p ON p.doc_id = c.doc1
       |  JOIN sh q ON q.doc_id = c.doc2 AND p.s = q.s
       |  GROUP BY 1, 2)
       |SELECT pr.doc1, pr.doc2, CAST(pr.n_equal AS BIGINT) AS n_equal,
       |  floor($est * 10000 + 0.5) / 10000 AS est_jaccard,
       |  floor($exact * 10000 + 0.5) / 10000 AS jaccard,
       |  floor(abs($est - $exact) * 10000 + 0.5) / 10000 AS abs_err
       |FROM pairs pr
       |JOIN szs s1 ON s1.doc_id = pr.doc1
       |JOIN szs s2 ON s2.doc_id = pr.doc2
       |LEFT JOIN ints i ON i.doc1 = pr.doc1 AND i.doc2 = pr.doc2""".stripMargin
  }

  /** Lang-ID replica shared verbatim by the confusion-matrix oracle. */
  private def langIdOracle: String =
    """SELECT doc_id, lang AS declared_lang,
      |  CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
      |       WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
      |       WHEN s_de >= s_es AND s_de > 0 THEN 'de'
      |       WHEN s_es > 0 THEN 'es' ELSE 'und' END AS pred_lang,
      |  cast(s_en as bigint) AS score_en, cast(s_fr as bigint) AS score_fr,
      |  cast(s_de as bigint) AS score_de, cast(s_es as bigint) AS score_es
      |FROM (
      |  SELECT doc_id, lang,
      |    (length(t) - length(replace(t, ' the ', ''))) / 5
      |      + (length(t) - length(replace(t, ' and ', ''))) / 5
      |      + (length(t) - length(replace(t, ' of ', ''))) / 4 AS s_en,
      |    (length(t) - length(replace(t, ' le ', ''))) / 4
      |      + (length(t) - length(replace(t, ' la ', ''))) / 4
      |      + (length(t) - length(replace(t, ' et ', ''))) / 4 AS s_fr,
      |    (length(t) - length(replace(t, ' der ', ''))) / 5
      |      + (length(t) - length(replace(t, ' und ', ''))) / 5
      |      + (length(t) - length(replace(t, ' die ', ''))) / 5 AS s_de,
      |    (length(t) - length(replace(t, ' el ', ''))) / 4
      |      + (length(t) - length(replace(t, ' los ', ''))) / 5
      |      + (length(t) - length(replace(t, ' y ', ''))) / 3 AS s_es
      |  FROM (SELECT doc_id, lang, ' ' || text || ' ' AS t FROM documents))""".stripMargin

  /** SimHash replica: same (doc, word-hash) pre-aggregation, same 48
    * weighted bit votes, same sign fold. */
  private def simhashOracle: String = {
    import graft.operators.Dedup.SimhashBits
    val h48 = graft.functions.PortableHash.sqlH48("w")
    val votes = (0 until SimhashBits).map(b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN cnt ELSE -cnt END) AS b$b").mkString(", ")
    val fold = (0 until SimhashBits).map(b =>
      s"CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |hc AS (SELECT doc_id, $h48 AS h, count(*) AS cnt FROM words GROUP BY 1, 2),
       |votes AS (SELECT doc_id, $votes FROM hc GROUP BY doc_id)
       |SELECT doc_id, CAST($fold AS BIGINT) AS simhash FROM votes""".stripMargin
  }

  /** SimHash banded-candidates replica: same 48-bit simhash, same
    * 3×16-bit hamming-blocking bands, same `<` pair ordering. */
  private def simhashPairsOracle: String = {
    // capHotKeys(1024) mirrored: at zipf-sf1 the simhash band buckets
    // genuinely exceed the cap (measured band-2 max 4115 docs), so an
    // uncapped replica both diverges AND goes O(bucket²) — the exact
    // defect class the sf1 cap gate exists to catch.
    s"""WITH sims AS ($simhashOracle),
       |banded0 AS MATERIALIZED (SELECT doc_id, band,
       |    (simhash >> (band * 16)) & 65535 AS bucket
       |  FROM sims CROSS JOIN (VALUES (0),(1),(2)) AS b(band)),
       |hotb AS (SELECT band, bucket FROM banded0 GROUP BY 1, 2
       |  HAVING count(*) > 1024),
       |banded AS MATERIALIZED (SELECT * FROM banded0 WHERE NOT EXISTS (
       |  SELECT 1 FROM hotb h
       |  WHERE h.band = banded0.band AND h.bucket = banded0.bucket))
       |SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |FROM banded x JOIN banded y
       |  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id""".stripMargin
  }

  /** The p-plane signature SUM expression over a column `emb` — shared
    * by the fixed-width CTE, the scale-aware CTE, and the cell-refresh
    * admission replica. */
  private def lshSigBitsSql(planes: Int): String =
    (0 until planes).map { p =>
      val comp = graft.operators.Similarity.sqlPlaneComponent(p, "i")
      s"CASE WHEN list_dot_product(emb, list_transform(range(0, len(emb)), i -> $comp)) >= 0 THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ")

  /** Shared WITH-prefix for the hyperplane-LSH replicas: same
    * integer-mix plane components, same sign-bit bucket. */
  private def lshSigCtes: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |sig AS (SELECT vec_id, emb, ${lshSigBitsSql(graft.operators.Similarity.Planes)} AS lsh_bucket FROM e)""".stripMargin

  /** SCALE-AWARE signature CTEs — the oracle twin of
    * [[graft.operators.Similarity.planesFor]] (same plane count): the
    * full [[graft.operators.Similarity.MaxPlanes]]-bit signature is
    * computed once and masked to 2^planes buckets with planes from
    * the SAME integer CASE chain over count(*) the Spark side uses.
    * Masking the low p bits equals the p-plane signature bit-for-bit
    * because each plane's component depends only on (plane, dim) —
    * so at the gated SFs (planes = 4) this CTE is value-identical to
    * [[lshSigCtes]], and at sf1 it replays the widened signature. */
  private def lshSigScaledCtes: String = {
    import graft.operators.Similarity.{MaxPlanes, Planes, LshTargetBucket}
    val whens = (Planes until MaxPlanes)
      .map(p => s"WHEN n <= ${LshTargetBucket << p} THEN ${1L << p}").mkString(" ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |np AS (SELECT CASE $whens ELSE ${1L << MaxPlanes} END AS nb
       |  FROM (SELECT count(*) AS n FROM e)),
       |sig AS (SELECT vec_id, emb, (${lshSigBitsSql(MaxPlanes)}) % nb AS lsh_bucket FROM e, np)""".stripMargin
  }

  private def duckCos(a: String, b: String) =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** TRAINED fixed-k IVF cell CTEs — the shared blocking of the whole
    * cell family (mirrors [[graft.operators.Similarity.ivfCentroids]] /
    * `ivfAssignments`): `e` (typed embeddings, + label when asked),
    * `nn` (scalar spacing = n DIV k and nshards = n DIV (k·50)),
    * spacing-seeded `c0`, `iters` unrolled Lloyd CTE pairs (assign via
    * struct-max argmax — ties to the LARGEST cent_id, matching Spark's
    * max(struct) — then exact DECIMAL(38,30) per-dimension means),
    * `cents` = the trained set, and `assigned` (vec_id, emb[, label],
    * cent_id, shard) — the final assignment with the deterministic
    * Knuth-mix pair-join sub-shard. Callers append their own query
    * after a comma.
    *
    * `trainSrc`/`assignSrc` split the training population from the
    * assigned one (both default to the whole corpus `e`) — the
    * refresh ≡ rebuild oracle trains on the day-0 slice and assigns
    * corpus ∪ admitted; `extraCtes` (inserted right after `e`) carries
    * the slice definitions. `nn` (seed spacing AND the frozen shard
    * divisor) is computed over `trainSrc`, mirroring the Spark side's
    * frozen-at-build shard count. */
  private def ivfCellCtes(k: Int = graft.operators.Similarity.IvfK,
      iters: Int = graft.operators.Similarity.IvfIters,
      withLabel: Boolean = false, trainSrc: String = "e",
      assignSrc: String = "e", extraCtes: String = "",
      hashSeeds: Boolean = false): String = {
    val lbl = if (withLabel) ", label" else ""
    def assignCte(name: String, centCte: String, carryLabel: Boolean,
        src: String = trainSrc) = {
      val anyLbl = if (carryLabel) ", any_value(e.label) AS label" else ""
      s"""$name AS (SELECT e.vec_id, any_value(e.emb) AS emb$anyLbl,
         |  (max({'c': ${duckCos("e.emb", "cc.c")}, 'id': cc.cent_id})).id AS cent_id
         |  FROM $src e CROSS JOIN $centCte cc GROUP BY e.vec_id)""".stripMargin
    }
    val training = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"c${i - 1}", carryLabel = false)},
         |m$i AS (SELECT cent_id, pos,
         |  sum(CAST(x AS DECIMAL(38,30)))::DOUBLE / count(*) AS m
         |  FROM (SELECT a.cent_id, unnest(a.emb) AS x,
         |        generate_subscripts(a.emb, 1) AS pos FROM a$i a)
         |  GROUP BY 1, 2),
         |c$i AS (SELECT cent_id, list(m ORDER BY pos) AS c FROM m$i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val extra = if (extraCtes.isEmpty) "" else extraCtes + ",\n"
    // hash-minimum seeds (id-distribution-free — the refresh path's
    // rule) vs the default dense-id spacing seeds; both deterministic
    val c0 =
      if (hashSeeds)
        s"""c0 AS (SELECT vec_id AS cent_id, emb AS c FROM (
           |  SELECT vec_id, emb FROM $trainSrc
           |  ORDER BY (vec_id * 2654435761) % 1000003, vec_id LIMIT $k))""".stripMargin
      else
        s"""c0 AS (SELECT vec_id AS cent_id, emb AS c FROM $trainSrc, nn
           |  WHERE vec_id % spacing = 0 AND vec_id // spacing < $k)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb$lbl FROM embeddings),
       |${extra}nn AS (SELECT greatest(1, count(*) // $k) AS spacing,
       |  greatest(1, count(*) // ${k * graft.operators.Similarity.IvfShardTarget}) AS nshards FROM $trainSrc),
       |$c0,
       |$training,
       |cents AS (SELECT cent_id, c FROM c$iters),
       |${assignCte("af", "cents", carryLabel = withLabel, src = assignSrc)},
       |assigned AS (SELECT af.*,
       |  (vec_id * 2654435761) % 1000003 % nshards AS shard FROM af, nn)""".stripMargin
  }

  /** Trained-IVF top-k replica over the shared cell CTEs: the standard
    * probe (nprobe nearest trained cells per query) + in-cell exact
    * cosine top-k. `iters = 2` mirrors `annIvfTopK` (the build-once
    * quantizer default); `iters = 3` mirrors `kmeansIvfTopK`'s extra
    * convergence step. */
  private def ivfTopKOracle(iters: Int): String =
    s"""${ivfCellCtes(iters = iters)},
       |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
       |pr AS (SELECT query_id, q_emb, cent_id FROM (
       |  SELECT q.query_id, q.q_emb, cc.cent_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${duckCos("q.q_emb", "cc.c")} DESC, cc.cent_id) AS rn
       |  FROM q CROSS JOIN cents cc) WHERE rn <= 2),
       |sc AS (SELECT pr.query_id, af.vec_id AS neighbor_id,
       |    floor((${duckCos("pr.q_emb", "af.emb")}) * 10000 + 0.5) / 10000 AS cos_sim
       |  FROM pr JOIN af USING (cent_id) WHERE af.vec_id <> pr.query_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM sc) WHERE rank <= 5""".stripMargin

  private def ivfKmeansOracle: String = ivfTopKOracle(iters = 3)

  /** Hyperplane-LSH ANN replica: in-bucket cosine top-k. */
  private def annLshOracle: String = {
    s"""$lshSigCtes,
       |q AS (SELECT vec_id AS query_id, emb AS q_emb, lsh_bucket AS q_bucket FROM sig WHERE vec_id < 10),
       |scored AS (
       |  SELECT query_id, s.vec_id AS neighbor_id,
       |    floor((list_dot_product(q_emb, s.emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(s.emb, s.emb)))) * 10000 + 0.5) / 10000 AS cos_sim
       |  FROM sig s JOIN q ON s.lsh_bucket = q.q_bucket AND s.vec_id <> q.query_id)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }

  /** Greedy k-center replica: the k−1 selection rounds unroll into
    * MATERIALIZED CTE pairs (state update via 1-row cross join, then
    * the ORDER BY min_d DESC, vec_id LIMIT 1 argmax — the same
    * max-distance/smaller-id tie-break as Spark's max(struct)). */
  private def kcenterOracle(k: Int = 8): String = {
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val rounds = (1 until k).map { r =>
      s"""s$r AS MATERIALIZED (SELECT s.vec_id, s.emb,
         |  least(s.min_d, 10000 - CAST(floor((${cos("s.emb", "c.ce")}) * 10000 + 0.5) AS BIGINT)) AS min_d
         |  FROM s${r - 1} s CROSS JOIN c${r - 1} c),
         |c$r AS (SELECT vec_id AS cid, emb AS ce, min_d FROM s$r
         |  ORDER BY min_d DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, emb AS ce FROM e ORDER BY vec_id LIMIT 1),
       |s0 AS MATERIALIZED (SELECT vec_id, emb, CAST(20000 AS BIGINT) AS min_d FROM e),
       |$rounds
       |SELECT CAST(0 AS BIGINT) AS round, cid AS center_id,
       |  CAST(20000 AS BIGINT) AS radius_x4 FROM c0
       |${(1 until k).map(r =>
            s"UNION ALL SELECT CAST($r AS BIGINT), cid, min_d FROM c$r")
           .mkString("\n")}""".stripMargin
  }

  /** MMR replica (Carbonell–Goldstein, λ in tenths): query/seed =
    * smallest vec_id (also S₀), k−1 unrolled greedy rounds each
    * picking argmax lam·rel − (10−lam)·max_sim with (score DESC,
    * vec_id) total order — the kcenterOracle chain with a max-sim
    * state instead of min-dist and a static relevance column. */
  private def mmrOracle(k: Int = 8, lam: Int = 7): String = {
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    def x4(e: String) = s"CAST(floor(($e) * 10000 + 0.5) AS BIGINT)"
    val rounds = (1 until k).map { r =>
      s"""c$r AS (SELECT vec_id, emb, rel, ms, $lam*rel - ${10 - lam}*ms AS sc
         |  FROM s${r - 1} WHERE NOT sel ORDER BY sc DESC, vec_id LIMIT 1),
         |s$r AS MATERIALIZED (SELECT s.vec_id, s.emb, s.rel,
         |  greatest(s.ms, ${x4(cos("s.emb", "c.emb"))}) AS ms,
         |  s.sel OR s.vec_id = c.vec_id AS sel
         |  FROM s${r - 1} s CROSS JOIN c$r c)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT vec_id AS qid, emb AS qe FROM e ORDER BY vec_id LIMIT 1),
       |s0 AS MATERIALIZED (SELECT e.vec_id, e.emb,
       |  ${x4(cos("e.emb", "q.qe"))} AS rel, ${x4(cos("e.emb", "q.qe"))} AS ms,
       |  e.vec_id = q.qid AS sel FROM e CROSS JOIN q),
       |$rounds
       |SELECT CAST(0 AS BIGINT) AS round, qid AS vec_id,
       |  CAST(10000 AS BIGINT) AS rel_x4, CAST(10000 AS BIGINT) AS max_sim_x4,
       |  CAST(${lam * 10000 - (10 - lam) * 10000} AS BIGINT) AS mmr_score FROM q
       |${(1 until k).map(r =>
            s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, rel, ms, sc FROM c$r")
           .mkString("\n")}""".stripMargin
  }

  /** b-bit minwise replica: the minhashEstErr chain with the low-bit
    * masked match count and the Li–König unbiased estimator in exact
    * sign-safe milli-units. */
  private def minhashBbitOracle(bBits: Int = 4): String = {
    import graft.operators.Dedup.{Bands, MinhashPerm}
    val h48 = graft.functions.PortableHash.sqlH48("s")
    val rows = MinhashPerm / Bands
    val twoB = 1L << bBits
    val den = MinhashPerm * (twoB - 1)
    val mins = (0 until MinhashPerm).map(i =>
      s"min((h * ${2 * i + 1} + ${104729L * (i + 1)}) % 2147483647) AS m$i").mkString(", ")
    val bandCase = (0 until Bands).map(b =>
      s"WHEN $b THEN md5(concat_ws(':', ${(0 until rows).map(k => s"m${b * rows + k}").mkString(", ")}))")
      .mkString(" ")
    val eqF = (0 until MinhashPerm).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val eqB = (0 until MinhashPerm).map(i =>
      s"CASE WHEN a.m$i % $twoB = b.m$i % $twoB THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
       |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
       |  FROM ws WHERE len(w) >= 3),
       |hh AS (SELECT doc_id, $h48 AS h FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
       |bk0 AS MATERIALIZED (SELECT doc_id, band, CASE band $bandCase END AS bucket
       |  FROM sig CROSS JOIN (VALUES ${(0 until Bands).map(b => s"($b)").mkString(",")}) AS t(band)),
       |hot AS (SELECT band, bucket FROM bk0 GROUP BY 1, 2
       |  HAVING count(*) > 1024),
       |bk AS MATERIALIZED (SELECT * FROM bk0 WHERE NOT EXISTS (
       |  SELECT 1 FROM hot h
       |  WHERE h.band = bk0.band AND h.bucket = bk0.bucket)),
       |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id),
       |pairs AS (SELECT c.doc1, c.doc2, ($eqF) AS nf, ($eqB) AS nb
       |  FROM cand c JOIN sig a ON a.doc_id = c.doc1 JOIN sig b ON b.doc_id = c.doc2),
       |szs AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |-- candidate-scoped intersections (read only via cand; the
       |-- unrestricted s=s self-join is f-squared on a zipf corpus)
       |ints AS (SELECT c.doc1, c.doc2, count(*) AS n_int
       |  FROM cand c JOIN sh p ON p.doc_id = c.doc1
       |  JOIN sh q ON q.doc_id = c.doc2 AND p.s = q.s
       |  GROUP BY 1, 2),
       |t AS (SELECT pr.doc1, pr.doc2,
       |  CAST(pr.nf AS BIGINT) AS n_equal_full, CAST(pr.nb AS BIGINT) AS n_equal_bbit,
       |  CAST((1000 * pr.nf) // $MinhashPerm AS BIGINT) AS est_full_milli,
       |  CAST(CASE WHEN pr.nb * $twoB >= $MinhashPerm
       |    THEN (1000 * (pr.nb * $twoB - $MinhashPerm)) // $den
       |    ELSE -((1000 * ($MinhashPerm - pr.nb * $twoB)) // $den) END AS BIGINT)
       |    AS est_bbit_milli,
       |  CAST((1000 * coalesce(i.n_int, 0)) //
       |    (s1.n_sh + s2.n_sh - coalesce(i.n_int, 0)) AS BIGINT) AS jaccard_milli
       |  FROM pairs pr
       |  JOIN szs s1 ON s1.doc_id = pr.doc1
       |  JOIN szs s2 ON s2.doc_id = pr.doc2
       |  LEFT JOIN ints i ON i.doc1 = pr.doc1 AND i.doc2 = pr.doc2)
       |SELECT doc1, doc2, n_equal_full, n_equal_bbit, est_full_milli,
       |  est_bbit_milli, jaccard_milli,
       |  abs(est_full_milli - jaccard_milli) AS err_full_milli,
       |  abs(est_bbit_milli - jaccard_milli) AS err_bbit_milli
       |FROM t""".stripMargin
  }

  /** Global-mean spike replica — squared terms in HUGEINT to mirror
    * Spark's DECIMAL(38,0) widening. Shared by the declared query and
    * the monitor-ensemble composition. */
  private def spikeDaysOracle: String =
    """WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    count(*) AS c FROM events GROUP BY 1),
      |m AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(c) AS HUGEINT) AS s,
      |    CAST(sum(c * c) AS HUGEINT) AS q FROM d)
      |SELECT day, c AS n_events, CAST(n * c - s AS BIGINT) AS dev_num,
      |  (n*c - s)*(n*c - s) > 9 * (n*q - s*s) AS spike_3sigma,
      |  (n*c - s)*(n*c - s) > (n*q - s*s) AS over_1sigma
      |FROM d CROSS JOIN m""".stripMargin

  /** Hampel median/MAD replica — discrete lower medians, shared by the
    * declared query and the ensemble. */
  private def madOutliersOracle: String =
    """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n FROM events GROUP BY 1, 2),
      |med AS (SELECT event_type, n AS med FROM (
      |  SELECT event_type, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM d) WHERE rn = (cnt + 1) // 2),
      |dev AS (SELECT d.event_type, day, n, med, abs(n - med) AS adev
      |  FROM d JOIN med USING (event_type)),
      |mad AS (SELECT event_type, adev AS mad FROM (
      |  SELECT event_type, adev,
      |    row_number() OVER (PARTITION BY event_type ORDER BY adev, day) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM dev) WHERE rn = (cnt + 1) // 2)
      |SELECT dev.event_type, day, n, med, mad,
      |  adev > 3 * mad AS is_outlier
      |FROM dev JOIN mad USING (event_type)""".stripMargin

  /** EWMA burst replica (3/4-decay integer weights), shared by the
    * declared query and the ensemble. */
  private def ewmaBurstOracle: String =
    """WITH d AS (SELECT event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, day, n,
      |    lag(n, 1) OVER w AS g1, lag(n, 2) OVER w AS g2,
      |    lag(n, 3) OVER w AS g3, lag(n, 4) OVER w AS g4,
      |    lag(n, 5) OVER w AS g5, lag(n, 6) OVER w AS g6,
      |    lag(n, 7) OVER w AS g7
      |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |s AS (SELECT event_type, day, n,
      |    coalesce(g1, 0) * 4096 + coalesce(g2, 0) * 3072
      |      + coalesce(g3, 0) * 2304 + coalesce(g4, 0) * 1728
      |      + coalesce(g5, 0) * 1296 + coalesce(g6, 0) * 972
      |      + coalesce(g7, 0) * 729 AS s,
      |    (CASE WHEN g1 IS NOT NULL THEN 4096 ELSE 0 END)
      |      + (CASE WHEN g2 IS NOT NULL THEN 3072 ELSE 0 END)
      |      + (CASE WHEN g3 IS NOT NULL THEN 2304 ELSE 0 END)
      |      + (CASE WHEN g4 IS NOT NULL THEN 1728 ELSE 0 END)
      |      + (CASE WHEN g5 IS NOT NULL THEN 1296 ELSE 0 END)
      |      + (CASE WHEN g6 IS NOT NULL THEN 972 ELSE 0 END)
      |      + (CASE WHEN g7 IS NOT NULL THEN 729 ELSE 0 END) AS w_tot
      |  FROM l)
      |SELECT event_type, day, n,
      |  CASE WHEN w_tot > 0 THEN (s * 1000) // w_tot END AS ewma_milli,
      |  (w_tot > 0 AND n * w_tot > 2 * s) AS is_burst
      |FROM s""".stripMargin

  /** CUSUM replica via the prefix-sum identity, shared by the declared
    * query and the ensemble. */
  private def cusumShiftOracle: String =
    """WITH d AS (SELECT event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, day, n, row_number() OVER
      |    (PARTITION BY event_type ORDER BY day) AS rn FROM d),
      |cal AS (SELECT event_type,
      |    (CAST(sum(n) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS mean_milli
      |  FROM r WHERE rn <= 14 GROUP BY 1),
      |x AS (SELECT d.event_type, day, n, mean_milli,
      |    n * 1000 - mean_milli - mean_milli // 20 AS dev
      |  FROM d JOIN cal USING (event_type)),
      |c1 AS (SELECT event_type, day, n, mean_milli,
      |    sum(dev) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM x),
      |c2 AS (SELECT *, min(p) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
      |  FROM c1)
      |SELECT event_type, day, n, mean_milli,
      |  CAST(p - least(pmin, 0) AS BIGINT) AS cusum_milli,
      |  (p - least(pmin, 0)) > 3 * mean_milli AS is_shift
      |FROM c2""".stripMargin

  /** Monitor-ensemble replica: the four detector oracles composed as
    * subqueries — byte-identical to the standalone rows, so the
    * ensemble cannot drift from its components. */
  private def monitorEnsembleOracle: String =
    s"""SELECT m.event_type, m.day, m.n,
       |  s.spike_3sigma, m.is_outlier AS mad_outlier,
       |  c.is_shift AS cusum_shift, e.is_burst AS ewma_burst,
       |  CAST((CASE WHEN s.spike_3sigma THEN 1 ELSE 0 END)
       |    + (CASE WHEN m.is_outlier THEN 1 ELSE 0 END)
       |    + (CASE WHEN c.is_shift THEN 1 ELSE 0 END)
       |    + (CASE WHEN e.is_burst THEN 1 ELSE 0 END) AS BIGINT) AS votes
       |FROM ($madOutliersOracle) m
       |JOIN ($cusumShiftOracle) c ON m.event_type = c.event_type AND m.day = c.day
       |JOIN ($ewmaBurstOracle) e ON m.event_type = e.event_type AND m.day = e.day
       |JOIN ($spikeDaysOracle) s ON m.day = s.day""".stripMargin

  /** Multiprobe-LSH replica: home bucket + every one-bit flip on the
    * query side, in-bucket cosine top-5. Shared by the declared query
    * and the recall eval. */
  private def annLshMultiprobeOracle: String = {
    val flips = (-1 until graft.operators.Similarity.Planes).mkString(", ")
    s"""$lshSigCtes,
       |q AS (SELECT vec_id AS query_id, emb AS q_emb, lsh_bucket AS home
       |  FROM sig WHERE vec_id < 10),
       |pr AS (SELECT query_id, q_emb,
       |    CASE WHEN f < 0 THEN home ELSE xor(home, 1 << f) END AS probe_bucket
       |  FROM q CROSS JOIN (SELECT unnest([$flips]) AS f) t),
       |scored AS (SELECT query_id, s.vec_id AS neighbor_id,
       |    floor((list_dot_product(q_emb, s.emb) /
       |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(s.emb, s.emb))))
       |      * 10000 + 0.5) / 10000 AS cos_sim
       |  FROM sig s JOIN pr ON s.lsh_bucket = pr.probe_bucket
       |    AND s.vec_id <> pr.query_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }

  /** Two-stage near-dup replica: same-bucket pairs, exact cosine over
    * candidates only (threshold on the RAW value, rounded for output). */
  private def lshVerifiedPairsOracle: String = {
    s"""$lshSigScaledCtes
       |SELECT a.vec_id AS id1, b.vec_id AS id2,
       |  floor((list_dot_product(a.emb, b.emb) /
       |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))) * 10000 + 0.5) / 10000 AS cos_sim
       |FROM sig a JOIN sig b ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.emb, b.emb) /
       |  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) > 0.4""".stripMargin
  }

  /** Connected-components replica: same verified-pair edges, transitive
    * closure via recursive reachability, cluster = min reachable id. */
  private def clusterLabelsOracle: String = {
    val ctes = lshSigScaledCtes.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$ctes,
       |pairs AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM sig a JOIN sig b ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.emb, b.emb) /
       |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) > 0.4),
       |ed AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2 AS a, id1 AS b FROM pairs),
       |reach AS (
       |  SELECT vec_id AS src, vec_id AS dst FROM e
       |  UNION
       |  SELECT r.src, ed.b AS dst FROM reach r JOIN ed ON r.dst = ed.a)
       |SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS cluster FROM reach GROUP BY src""".stripMargin
  }

  /** Decode-stub replica: byte values reconstructed from sha256 hex
    * pairs; mean via the portable floor-round. */
  private def mmDecodeOracle: String = {
    s"""WITH hx AS (SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
       |    sha256(text) AS h
       |  FROM documents),
       |b AS (SELECT doc_id, modality,
       |    list_transform(range(0, 32), j ->
       |      (strpos('0123456789abcdef', substr(h, 2*j + 1, 1)) - 1) * 16 +
       |      (strpos('0123456789abcdef', substr(h, 2*j + 2, 1)) - 1)) AS bytes
       |  FROM hx)
       |SELECT doc_id, modality, CAST(32 AS INT) AS n_bytes,
       |  floor((CAST(list_sum(bytes) AS DOUBLE) / 32) * 100 + 0.5) / 100 AS mean_byte,
       |  CAST(len(list_distinct(bytes)) // 8 AS INT) AS byte_entropy_bucket
       |FROM b""".stripMargin
  }

  /** ANN replicas shared verbatim by the recall-evaluation oracle. */
  private def annBruteOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT query_id, e.vec_id AS neighbor_id,
      |    floor((list_dot_product(q_emb, emb) /
      |      (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(emb, emb)))) * 10000 + 0.5) / 10000 AS cos_sim
      |  FROM e JOIN q ON e.vec_id <> q.query_id)
      |SELECT query_id, rank, neighbor_id, cos_sim FROM (
      |  SELECT query_id, neighbor_id, cos_sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin

  /** Trained fixed-k IVF probe replica (mirrors annIvfTopK over the
    * build-once quantizer — iters = IvfIters = 2). */
  private def annIvfOracle: String = ivfTopKOracle(iters = 2)

  /** Repo-local fixture path resolved at runtime (user.dir is the sbt
    * project root when Verify runs), overridable via system property —
    * the blake2b oracle must work on any checkout location. */
  private def blake2bFixturePath: String =
    sys.props.getOrElse("graft.blake2b.fixture",
      java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."),
        "fixtures", "blake2b_expected.csv").toString)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "dedup_minhash_buckets" -> minhashOracle,
    "dedup_minhash_est_err" -> minhashEstErrOracle,
    // Keep-first at the minhash level: dominated = any band-bucket
    // collision with a smaller doc_id; survivors via anti-join.
    "dedup_minhash_keep_first" ->
      s"""WITH bk AS MATERIALIZED (
         |$minhashOracle),
         |dom AS (SELECT DISTINCT x.doc_id FROM bk x
         |  JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
         |    AND y.doc_id < x.doc_id)
         |SELECT d.doc_id, d.lang FROM documents d
         |LEFT JOIN dom ON d.doc_id = dom.doc_id
         |WHERE dom.doc_id IS NULL""".stripMargin,
    "dedup_simhash" -> simhashOracle,
    "dedup_simhash_pairs" -> simhashPairsOracle,
    "dedup_cluster_labels" -> clusterLabelsOracle,
    // Star contraction computes the SAME min-id component labels over
    // the same verified-pair graph, so it shares the reachability
    // replica verbatim — the oracle proves algorithm-independence.
    "graph_cc_star" -> clusterLabelsOracle,
    // Size-class census over the same recursive-CC labels.
    "dedup_cluster_census" ->
      s"""SELECT size, count(*) AS n_clusters,
         |  CAST(min(cluster) AS BIGINT) AS example_cluster,
         |  CAST(size * count(*) AS BIGINT) AS n_vectors,
         |  CAST(size * count(*) - count(*) AS BIGINT) AS dup_overhead
         |FROM (SELECT cluster, count(*) AS size FROM (
         |$clusterLabelsOracle
         |) GROUP BY 1) GROUP BY size""".stripMargin,
    "corpus_split" -> {
      val h = graft.functions.PortableHash.sqlH48("concat('split:', CAST(doc_id AS VARCHAR))")
      s"""WITH b AS (SELECT doc_id, lang, $h % 100 AS split_bucket FROM documents)
         |SELECT doc_id, lang, split_bucket,
         |  CASE WHEN split_bucket < 80 THEN 'train'
         |       WHEN split_bucket < 90 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin
    },
    // Near-dup edges (the graph_edges_build replica) joined onto the
    // doc-hash split: edges crossing splits ARE the contamination
    // channel; example pair via the portable packed-struct argmin.
    "corpus_split_leakage" -> {
      val h = graft.functions.PortableHash.sqlH48("concat('split:', CAST(doc_id AS VARCHAR))")
      s"""${winnowCte()},
         |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |ed0 AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |sp AS (SELECT doc_id,
         |    CASE WHEN bucket < 80 THEN 'train'
         |         WHEN bucket < 90 THEN 'validation' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, $h % 100 AS bucket FROM documents)),
         |le AS (SELECT least(s1.split, s2.split) AS split_a,
         |    greatest(s1.split, s2.split) AS split_b, ed0.id1, ed0.id2
         |  FROM ed0 JOIN sp s1 ON ed0.id1 = s1.doc_id
         |           JOIN sp s2 ON ed0.id2 = s2.doc_id)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_edges,
         |  split_a <> split_b AS is_leak,
         |  (min({'i1': id1, 'i2': id2})).i1 AS example_id1,
         |  (min({'i1': id1, 'i2': id2})).i2 AS example_id2
         |FROM le GROUP BY 1, 2""".stripMargin
    },
    // Cluster-aware split: CC labels via recursive reachability + min
    // (the clusterLabelsOracle pattern over the winnow doc graph),
    // split hashed on the LABEL, census + the crossing recount whose
    // replayed zero is the leakage-free proof.
    // HAZARD (accepted by design): the recursive `reach` CTE
    // is O(n × component size) rows — fine at gated SFs, but a fixture
    // with a mega near-dup cluster would blow the DuckDB side's memory
    // LOUDLY rather than silently passing (the Spark star contraction
    // stays bounded); `dedup_cluster_census` + `corpus_split_balance`
    // front the size tail.
    "corpus_split_clustered" -> {
      val ctes = winnowCte().replaceFirst("WITH ", "WITH RECURSIVE ")
      val hc = graft.functions.PortableHash.sqlH48("concat('csplit:', CAST(cluster AS VARCHAR))")
      s"""$ctes,
         |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |ed0 AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |eds AS (SELECT id1 AS a, id2 AS b FROM ed0
         |  UNION ALL SELECT id2 AS a, id1 AS b FROM ed0),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, eds.b AS dst FROM reach r JOIN eds ON r.dst = eds.a),
         |lab AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster
         |  FROM reach GROUP BY src),
         |spl AS MATERIALIZED (SELECT doc_id, cluster,
         |    CASE WHEN bucket < 80 THEN 'train'
         |         WHEN bucket < 90 THEN 'validation' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, cluster, $hc % 100 AS bucket FROM lab)),
         |crossed AS (SELECT CAST(coalesce(sum(
         |      CASE WHEN s1.split <> s2.split THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_cross_edges
         |  FROM ed0 JOIN spl s1 ON ed0.id1 = s1.doc_id
         |           JOIN spl s2 ON ed0.id2 = s2.doc_id)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters, n_cross_edges
         |FROM spl, crossed GROUP BY split, n_cross_edges""".stripMargin
    },
    // Split-balance alert: same label + split CTE chain as the
    // clustered split, then per-(split, cluster) token mass, the
    // |splits|-row census, and all-integer micro-unit shares (BIGINT
    // casts keep every emitted column inside the driver's 64-bit hash
    // domain — DuckDB sum() would otherwise widen to HUGEINT).
    "corpus_split_balance" -> {
      val ctes = winnowCte().replaceFirst("WITH ", "WITH RECURSIVE ")
      val hc = graft.functions.PortableHash.sqlH48("concat('csplit:', CAST(cluster AS VARCHAR))")
      s"""$ctes,
         |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |ed0 AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |eds AS (SELECT id1 AS a, id2 AS b FROM ed0
         |  UNION ALL SELECT id2 AS a, id1 AS b FROM ed0),
         |reach AS (
         |  SELECT doc_id AS src, doc_id AS dst FROM documents
         |  UNION
         |  SELECT r.src, eds.b AS dst FROM reach r JOIN eds ON r.dst = eds.a),
         |lab AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster
         |  FROM reach GROUP BY src),
         |spl AS (SELECT doc_id, cluster,
         |    CASE WHEN bucket < 80 THEN 'train'
         |         WHEN bucket < 90 THEN 'validation' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, cluster, $hc % 100 AS bucket FROM lab)),
         |tk AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |bc AS (SELECT split, cluster, count(*) AS nd,
         |    CAST(sum(n_tokens) AS BIGINT) AS mass
         |  FROM spl JOIN tk USING (doc_id) GROUP BY 1, 2),
         |bs AS MATERIALIZED (SELECT split, CAST(sum(nd) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_clusters,
         |    CAST(sum(mass) AS BIGINT) AS token_mass,
         |    CAST(max(mass) AS BIGINT) AS top_cluster_mass
         |  FROM bc GROUP BY 1),
         |tt AS (SELECT CAST(sum(token_mass) AS BIGINT) AS total_mass FROM bs)
         |SELECT split, n_docs, n_clusters, token_mass,
         |  CAST(token_mass * 1000000 // total_mass AS BIGINT) AS share_micro,
         |  CAST(top_cluster_mass * 1000000 // token_mass AS BIGINT)
         |    AS top_cluster_share_micro,
         |  CAST(CASE WHEN split = 'train' THEN 800000 ELSE 100000 END AS BIGINT)
         |    AS target_micro,
         |  abs(token_mass * 1000000 // total_mass -
         |    CASE WHEN split = 'train' THEN 800000 ELSE 100000 END) > 50000
         |    AS is_skewed,
         |  top_cluster_mass * 1000000 // token_mass > 500000
         |    AS is_cluster_dominated
         |FROM bs, tt""".stripMargin
    },
    "corpus_pack_bins" ->
      """WITH t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT doc_id, lang, shard, tokens,
        |    sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, lang, shard, tokens,
        |  CAST(floor((cum - tokens) / 2048) AS BIGINT) AS bin_id FROM c""".stripMargin,
    // Composed pipeline: the redaction CTE is the text_redact_pii oracle,
    // then the lang filter, length/diversity gate, and content-hash
    // keep-first dedup mirror Corpus.cleanPipeline stage for stage.
    "corpus_clean" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.1.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.7 id ' ||
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') || '77' AS withpii
        |  FROM documents),
        |red AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(withpii,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{8,}\b', '<NUM>', 'g') AS redacted
        |  FROM p),
        |st AS (SELECT d.doc_id, d.lang, r.redacted, md5(d.text) AS content_hash,
        |    len(string_split(d.text, ' ')) AS n_words,
        |    len(list_distinct(string_split(d.text, ' ')))::DOUBLE
        |      / len(string_split(d.text, ' ')) AS dr
        |  FROM documents d JOIN red r ON d.doc_id = r.doc_id
        |  WHERE d.lang IN ('en', 'de', 'fr')),
        |f AS (SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        |  FROM st WHERE n_words >= 5 AND dr > 0.3)
        |SELECT doc_id, lang, CAST(n_words AS INT) AS n_words,
        |  floor((dr) * 10000 + 0.5) / 10000 AS distinct_ratio, redacted
        |FROM f WHERE rn = 1""".stripMargin,
    // Feature-hash embedding: same portable 48-bit hash; all-integer
    // arithmetic so no rounding discipline is needed anywhere.
    "text_hash_embed" -> {
      val h = graft.functions.PortableHash.sqlH48("w")
      s"""WITH wr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |hh AS (SELECT doc_id, $h AS h FROM wr),
         |t AS (SELECT doc_id, h % 64 AS dim, ((h // 64) % 2) * 2 - 1 AS sign FROM hh)
         |SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS weight FROM t
         |GROUP BY 1, 2 HAVING sum(sign) <> 0""".stripMargin
    },
    // Gopher-style repetition signals: 1/2/3-gram instance counts per
    // doc; struct max picks the top bigram with the same (count, then
    // lexicographically largest gram) tie-break as Spark's max(struct).
    "text_repetition" ->
      """WITH ws AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, n_chars, 1 AS g, unnest(w) AS gram FROM ws
        |  UNION ALL
        |  SELECT doc_id, n_chars, 2, unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))])
        |  FROM ws WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT doc_id, n_chars, 3, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
        |  FROM ws WHERE len(w) >= 3),
        |c AS (SELECT doc_id, g, gram, count(*) AS cnt, any_value(n_chars) AS n_chars
        |  FROM g GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, g, sum(cnt) AS total,
        |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_inst,
        |    max({'cnt': cnt, 'gram': gram}) AS top,
        |    any_value(n_chars) AS n_chars
        |  FROM c GROUP BY 1, 2),
        |d AS (SELECT doc_id,
        |    max(CASE WHEN g = 1 THEN dup_inst::DOUBLE / total END) AS dw,
        |    max(CASE WHEN g = 2 THEN top.gram END) AS top_bigram_raw,
        |    max(CASE WHEN g = 2 THEN (top.cnt * length(top.gram))::DOUBLE / n_chars END) AS tb,
        |    max(CASE WHEN g = 3 THEN dup_inst::DOUBLE / total END) AS dt
        |  FROM p GROUP BY doc_id)
        |SELECT doc_id,
        |  floor((coalesce(dw, 0)) * 10000 + 0.5) / 10000 AS dup_word_frac,
        |  coalesce(top_bigram_raw, '') AS top_bigram,
        |  floor((coalesce(tb, 0)) * 10000 + 0.5) / 10000 AS top_bigram_char_frac,
        |  floor((coalesce(dt, 0)) * 10000 + 0.5) / 10000 AS dup_trigram_frac
        |FROM d""".stripMargin,
    // Rational BM25-shaped idf — no log, so the raw double score is
    // bit-identical across engines and safe to rank on.
    "text_tfidf_topk" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS term FROM ws) GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term,
        |    tf::DOUBLE * (n_docs - df + 0.5) / (df + 0.5) AS score
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM s)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term,
        |  floor((score) * 10000 + 0.5) / 10000 AS score
        |FROM r WHERE rank <= 5""".stripMargin,
    // Mirrors bm25TopK: the per-term contribution is the same
    // fixed-order double chain, rounded to 6 digits and summed as
    // DECIMAL so the (query, doc) score is order-independent.
    "text_bm25_topk" ->
      """WITH q(query_id, term) AS (VALUES
        |    (1,'hash'),(1,'join'),(1,'merge'),
        |    (2,'window'),(2,'sort'),(2,'order'),
        |    (3,'stream'),(3,'batch'),(3,'fast'),
        |    (4,'vector'),(4,'query'),(4,'scan')),
        |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT count(*) AS n_docs, sum(len(w)) AS tot FROM ws),
        |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM ws)
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT query_id, doc_id,
        |    CAST(floor((
        |      ((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n_docs)))))
        |    ) * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6)) AS c
        |  FROM tf JOIN q USING (term) JOIN dfc USING (term) CROSS JOIN st),
        |s AS (SELECT query_id, doc_id, sum(c) AS s FROM c GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, s,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
        |  floor(CAST(s AS DOUBLE) * 10000 + 0.5) / 10000 AS score
        |FROM r WHERE rank <= 10""".stripMargin,
    // Same snapshot max + literal bucket boundaries, exact cents.
    "orders_backlog_aging" ->
      """WITH o AS (SELECT o_orderstatus, o_orderpriority,
        |    epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |s AS (SELECT max(day) AS snap_day FROM o),
        |a AS (SELECT o_orderpriority, cents, snap_day - day AS age_days
        |  FROM o CROSS JOIN s WHERE o_orderstatus <> 'F')
        |SELECT o_orderpriority,
        |  CASE WHEN age_days <= 30 THEN '0-30'
        |    WHEN age_days <= 90 THEN '31-90'
        |    WHEN age_days <= 365 THEN '91-365'
        |    ELSE '365+' END AS age_bucket,
        |  count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS value_cents,
        |  max(age_days) AS oldest_days
        |FROM a GROUP BY 1, 2""".stripMargin,
    // Same hash, same three cross-multiplied keep tests (the quartic
    // on the hash's top bits), one UNION ALL block per rung.
    "corpus_temp_sweep" -> {
      val h = graft.functions.PortableHash.sqlH48("concat('temp:', CAST(doc_id AS VARCHAR))")
      val m4 = 1000000L / 1024L
      def rung(tau: Long, keep: String) =
        s"""SELECT CAST($tau AS BIGINT) AS tau_milli, lang,
           |  CAST(max(n_lang) AS BIGINT) AS n_lang,
           |  count(*) AS n_kept,
           |  (count(*) * 1000) // (SELECT count(*) FROM base WHERE $keep)
           |    AS mix_share_milli
           |FROM base WHERE $keep GROUP BY lang""".stripMargin
      s"""WITH cnt AS (SELECT lang, count(*) AS n_lang FROM documents
         |  GROUP BY 1),
         |cp AS (SELECT min(n_lang) AS cap FROM cnt),
         |base AS MATERIALIZED (SELECT d.lang, n_lang, cap,
         |    ($h) % 1000000 AS h,
         |    (($h) % 1000000) // 1024 AS h4
         |  FROM documents d JOIN cnt USING (lang) CROSS JOIN cp)
         |${rung(1000L, "h * n_lang < cap * 1000000")}
         |UNION ALL
         |${rung(500L, "h * h * n_lang < cap * 1000000 * 1000000")}
         |UNION ALL
         |${rung(250L, s"h4 * h4 * h4 * h4 * n_lang < cap * $m4 * $m4 * $m4 * $m4")}""".stripMargin
    },
    // Same epoch-integer grid + weekday totals.
    "events_hour_heatmap" ->
      """WITH c AS (SELECT (epoch_us(ts) // 86400000000) % 7 AS dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT dow, CAST(sum(n) AS BIGINT) AS dow_total
        |  FROM c GROUP BY 1)
        |SELECT c.dow, hour, n, dow_total,
        |  (n * 1000) // dow_total AS share_milli
        |FROM c JOIN t USING (dow)""".stripMargin,
    // Same club membership per rung over the shared winnow pairs.
    "graph_rich_club" -> {
      val rungs = Seq(2, 4, 8).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > $k)
           |    AS n_club,
           |  (SELECT CAST(count(*) AS BIGINT) FROM p
           |    JOIN deg a ON p.id1 = a.doc_id AND a.d > $k
           |    JOIN deg b ON p.id2 = b.doc_id AND b.d > $k) AS e_club,
           |  CASE WHEN (SELECT count(*) FROM deg WHERE d > $k) >= 2
           |    THEN ((SELECT CAST(count(*) AS BIGINT) FROM p
           |        JOIN deg a ON p.id1 = a.doc_id AND a.d > $k
           |        JOIN deg b ON p.id2 = b.doc_id AND b.d > $k) * 2 * 1000)
           |      // ((SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > $k)
           |        * ((SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > $k) - 1))
           |  END AS phi_milli""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""${winnowCte()},
         |fp3 AS (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp3 a JOIN fp3 b ON a.fp_hash = b.fp_hash
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |deg AS MATERIALIZED (SELECT doc_id, count(*) AS d FROM (
         |    SELECT id1 AS doc_id FROM p UNION ALL SELECT id2 FROM p)
         |  GROUP BY 1)
         |$rungs""".stripMargin
    },
    // Same daily top-64 sketches, union-merged per report day by
    // re-ranking, same estimate arithmetic as sketch_kmv_distinct.
    "sketch_kmv_wau" ->
      s"""WITH uh AS (SELECT DISTINCT
         |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |    ${graft.functions.PortableHash.sqlH48("cast(user_id as varchar)")} AS h
         |  FROM events),
         |b AS (SELECT min(day) AS min_day, max(day) AS max_day FROM uh),
         |sk AS (SELECT day, h FROM (SELECT day, h,
         |    row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM uh)
         |  WHERE rn <= 64),
         |fan AS (SELECT DISTINCT day + k AS report_day, h
         |  FROM sk CROSS JOIN (SELECT unnest(range(0, 7)) AS k)),
         |uk AS (SELECT report_day, h,
         |    row_number() OVER (PARTITION BY report_day ORDER BY h) AS rn
         |  FROM fan),
         |m AS (SELECT report_day, CAST(count(*) AS BIGINT) AS k_used,
         |    max(h) AS kth_min
         |  FROM uk CROSS JOIN b
         |  WHERE rn <= 64 AND report_day >= min_day + 6
         |    AND report_day <= max_day
         |  GROUP BY 1),
         |w AS (SELECT report_day, wau FROM (
         |  WITH ud AS (SELECT DISTINCT user_id,
         |      CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
         |  bb AS (SELECT min(day) AS min_day, max(day) AS max_day FROM ud),
         |  f AS (SELECT user_id, day + k AS report_day
         |    FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k))
         |  SELECT report_day, count(DISTINCT user_id) AS wau
         |  FROM f CROSS JOIN bb
         |  WHERE report_day >= min_day + 6 AND report_day <= max_day
         |  GROUP BY 1)),
         |e AS (SELECT m.report_day, k_used, kth_min,
         |    CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
         |      ELSE ${graft.operators.PortableRound.sql(
                "CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE) / kth_min", 4)}
         |    END AS est_wau, w.wau
         |  FROM m JOIN w ON m.report_day = w.report_day)
         |SELECT report_day, k_used, kth_min, est_wau, wau AS exact_wau,
         |  ${graft.operators.PortableRound.sql(
              "(est_wau - CAST(wau AS DOUBLE)) / CAST(wau AS DOUBLE)", 4)} AS rel_err
         |FROM e""".stripMargin,
    // Same WAU fan-out + DAU census, day-keyed join.
    "events_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |b AS (SELECT min(day) AS min_day, max(day) AS max_day FROM ud),
        |f AS (SELECT user_id, day + k AS report_day
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k)),
        |w AS (SELECT report_day, count(DISTINCT user_id) AS wau
        |  FROM f CROSS JOIN b
        |  WHERE report_day >= min_day + 6 AND report_day <= max_day
        |  GROUP BY 1),
        |d AS (SELECT day AS report_day, count(DISTINCT user_id) AS dau
        |  FROM ud GROUP BY 1)
        |SELECT w.report_day, dau, wau,
        |  (dau * 1000) // wau AS stickiness_milli
        |FROM w JOIN d USING (report_day)""".stripMargin,
    // Brute truth vs the PQ-ADC answers, both as scoped subqueries;
    // same rounded-recall arithmetic as the other recall evals.
    "embed_pq_recall" ->
      s"""SELECT bf.query_id, count(*) AS n_true,
         |  count(pq.neighbor_id) AS n_hits,
         |  floor(CAST(count(pq.neighbor_id) AS DOUBLE) / count(*)
         |    * 10000 + 0.5) / 10000 AS recall
         |FROM ($annBruteOracle) bf
         |LEFT JOIN ($annPqAdcOracle) pq
         |  ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
         |GROUP BY bf.query_id""".stripMargin,
    // Same arc-degree moments; the symmetric-marginal identity makes
    // r a pure rational — sign-safe floor division on both engines.
    "graph_assortativity" ->
      s"""${winnowCte()},
         |fp2 AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp2 a JOIN fp2 b ON a.fp_hash = b.fp_hash
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |deg AS MATERIALIZED (SELECT doc_id, count(*) AS d FROM (
         |    SELECT id1 AS doc_id FROM p UNION ALL SELECT id2 FROM p)
         |  GROUP BY 1),
         |arcs AS (SELECT u, v FROM (
         |    SELECT id1 AS u, id2 AS v FROM p
         |    UNION ALL SELECT id2, id1 FROM p)),
         |j AS (SELECT du.d AS du, dv.d AS dv FROM arcs
         |  JOIN deg du ON arcs.u = du.doc_id
         |  JOIN deg dv ON arcs.v = dv.doc_id),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(du * dv) AS BIGINT) AS sxy,
         |    CAST(sum(du) AS BIGINT) AS sx,
         |    CAST(sum(du * du) AS BIGINT) AS sxx FROM j)
         |SELECT m, sxy, sx, sxx,
         |  m * sxy - sx * sx AS r_num,
         |  m * sxx - sx * sx AS r_den,
         |  CASE WHEN m * sxy - sx * sx >= 0
         |    THEN ((m * sxy - sx * sx) * 1000) // (m * sxx - sx * sx)
         |    ELSE -((-(m * sxy - sx * sx) * 1000) // (m * sxx - sx * sx))
         |  END AS assort_milli
         |FROM agg""".stripMargin,
    // Same packer CTE + two rollups, exact integer fill ratio.
    "corpus_pack_waste" ->
      """WITH t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT doc_id, lang, shard, tokens,
        |    sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |b AS (SELECT lang, shard,
        |    CAST(floor((cum - tokens) / 2048) AS BIGINT) AS bin_id,
        |    count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS bin_tokens
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT lang, shard, count(*) AS n_bins,
        |  CAST(sum(bin_tokens) AS BIGINT) AS packed_tokens,
        |  count(*) * 2048 AS capacity_tokens,
        |  (CAST(sum(bin_tokens) AS BIGINT) * 1000) // (count(*) * 2048)
        |    AS fill_milli,
        |  CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens
        |FROM b GROUP BY 1, 2""".stripMargin,
    // The winnow CTE chain's own bookkeeping: window rows with cnt=4
    // are the full windows, distinct wmin among them the fingerprints.
    "text_winnow_density" ->
      s"""${winnowCte()},
         |a AS (SELECT doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN cnt = 4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_windows,
         |    CAST(count(DISTINCT CASE WHEN cnt = 4 THEN wmin END)
         |      AS BIGINT) AS n_fps
         |  FROM m GROUP BY 1)
         |SELECT doc_id, n_grams, n_windows, n_fps,
         |  (n_fps * 1000) // n_windows AS density_milli
         |FROM a WHERE n_windows >= 1""".stripMargin,
    // Same hash assignment + (type, arm) rollup; nonneg cents per the
    // schema contract keep every DIV portable.
    "events_ab_lift" -> {
      val h = graft.functions.PortableHash.sqlH48("'ab:' || CAST(user_id AS VARCHAR)")
      s"""WITH e AS (SELECT event_type, ($h) % 2 AS arm,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |g AS (SELECT event_type,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT)
         |      AS cents_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT)
         |      AS cents_b
         |  FROM e GROUP BY 1)
         |SELECT event_type, n_a, n_b, cents_a, cents_b,
         |  (cents_a * 1000) // n_a AS mean_a_mc,
         |  (cents_b * 1000) // n_b AS mean_b_mc,
         |  (cents_a * 1000) // n_a - (cents_b * 1000) // n_b
         |    AS mean_diff_mc
         |FROM g""".stripMargin
    },
    // Same portable hash split + distinct censuses; the SRM χ² and
    // reach milli are nonneg-DIV integer arithmetic throughout.
    "events_ab_srm" -> {
      val h = graft.functions.PortableHash.sqlH48("'ab:' || CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT user_id, ($h) % 2 AS arm
         |  FROM (SELECT DISTINCT user_id FROM events)),
         |g AS (SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g_b
         |  FROM u),
         |tu AS (SELECT DISTINCT event_type, user_id FROM events),
         |per AS (SELECT event_type,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS users_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS users_b
         |  FROM tu JOIN u USING (user_id) GROUP BY 1)
         |SELECT event_type, users_a, users_b, g_a, g_b,
         |  (users_a * 1000) // g_a AS reach_a_milli,
         |  (users_b * 1000) // g_b AS reach_b_milli,
         |  (users_a * 1000) // g_a - (users_b * 1000) // g_b
         |    AS reach_diff_milli,
         |  ((g_a - g_b) * (g_a - g_b) * 1000) // (g_a + g_b)
         |    AS srm_chi2_milli
         |FROM per CROSS JOIN g""".stripMargin
    },
    // Same encode chain as ann_pq_adc_topk (sub/cw/enc0/struct-min),
    // distortion floored to micro per (vec, s) before the sums.
    "embed_pq_distortion" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
        |sub AS (SELECT vec_id, s, ed[s*16+1 : s*16+16] AS sv
        |  FROM e, range(0, 4) t(s)),
        |cw AS (SELECT CAST(vec_id // 8 AS INT) AS cw_id, s, sv AS cw_sv
        |  FROM sub WHERE vec_id % 8 = 0 AND vec_id < 128),
        |enc0 AS (SELECT x.vec_id, x.s, c.cw_id,
        |    list_dot_product(list_transform(range(1,17), i -> x.sv[i] - c.cw_sv[i]),
        |                     list_transform(range(1,17), i -> x.sv[i] - c.cw_sv[i])) AS d2
        |  FROM sub x JOIN cw c USING (s)),
        |best AS (SELECT vec_id, s,
        |    min({'d': d2, 'c': cw_id}).c AS code,
        |    CAST(floor(min({'d': d2, 'c': cw_id}).d * 1000000 + 0.5)
        |      AS BIGINT) AS md6
        |  FROM enc0 GROUP BY 1, 2),
        |usage AS (SELECT s, code, count(*) AS cnt FROM best GROUP BY 1, 2),
        |us AS (SELECT s, count(*) AS codes_used,
        |    CAST(max(cnt) AS BIGINT) AS top_cnt FROM usage GROUP BY 1)
        |SELECT best.s, count(*) AS n_vecs,
        |  CAST(sum(md6) AS BIGINT) AS total_dist_micro,
        |  CAST(sum(md6) AS BIGINT) // count(*) AS mean_dist_micro,
        |  us.codes_used, (us.top_cnt * 1000) // count(*) AS top_code_share_milli
        |FROM best JOIN us USING (s)
        |GROUP BY best.s, us.codes_used, us.top_cnt""".stripMargin,
    // Same cohort min + rollup, exact cents.
    "orders_cohort_revenue" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |c AS (SELECT o_custkey, min(yr) AS cohort_year FROM o GROUP BY 1)
        |SELECT cohort_year, yr AS order_year,
        |  count(DISTINCT o.o_custkey) AS n_customers,
        |  count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM o JOIN c USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin,
    // Composes the q_micro grade block (ndcg's gr CTE) with the
    // readability band block (renamed rf/rg), then the same
    // no-early-division χ² term.
    "text_quality_chi2" ->
      """WITH gr AS (SELECT doc_id, least(3, CAST(floor((
        |      CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3))
        |      * 10000 + 0.5) AS BIGINT) // 2500) AS qgrade
        |  FROM (SELECT doc_id,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(t) - length(replace(t, ' the ', ''))) / 5
        |      + (length(t) - length(replace(t, ' a ', ''))) / 3
        |      + (length(t) - length(replace(t, ' of ', ''))) / 4
        |      + (length(t) - length(replace(t, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS t FROM documents))),
        |rf AS (SELECT doc_id,
        |    CAST(length(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    greatest(CAST(length(text) - length(replace(text, '.', ''))
        |      + length(text) - length(replace(text, '!', ''))
        |      + length(text) - length(replace(text, '?', ''))
        |      AS BIGINT), 1) AS n_sentences,
        |    CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents),
        |rg AS (SELECT doc_id,
        |    206835 - (1015 * n_words) // n_sentences
        |      - (84600 * n_syllables) // n_words AS flesch_milli
        |  FROM rf WHERE n_words > 0),
        |rb AS (SELECT doc_id,
        |    CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
        |      WHEN flesch_milli >= 70000 THEN 'easy'
        |      WHEN flesch_milli >= 50000 THEN 'medium'
        |      WHEN flesch_milli >= 30000 THEN 'hard'
        |      ELSE 'very_hard' END AS band FROM rg),
        |cells AS (SELECT qgrade, band, count(*) AS obs
        |  FROM rb JOIN gr USING (doc_id) GROUP BY 1, 2),
        |rm AS (SELECT qgrade, CAST(sum(obs) AS BIGINT) AS row_n
        |  FROM cells GROUP BY 1),
        |cm AS (SELECT band, CAST(sum(obs) AS BIGINT) AS col_n
        |  FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells)
        |SELECT qgrade, cells.band, obs, row_n, col_n,
        |  ((obs * n - row_n * col_n) * (obs * n - row_n * col_n) * 1000)
        |    // (n * row_n * col_n) AS chi2_term_milli
        |FROM cells JOIN rm USING (qgrade) JOIN cm ON cells.band = cm.band
        |CROSS JOIN nn""".stripMargin,
    // Same distinct-day census + user-keyed first-day split.
    "events_new_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |g AS (SELECT day,
        |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returning
        |  FROM ud JOIN f USING (user_id) GROUP BY 1)
        |SELECT day, n_new, n_returning,
        |  (n_returning * 1000) // (n_new + n_returning) AS returning_milli
        |FROM g""".stripMargin,
    // Composes the three per-modality replicas (CTE-scoped in their
    // own subqueries, so names can't collide) with the same gates;
    // failed decodes null through the left joins identically.
    "mm_release_funnel" ->
      s"""SELECT d.doc_id, d.doc_id % 10 <> 0 AS decoded,
         |  ie.entropy_micro >= 6000000 AS textured,
         |  av.active_milli >= 900 AS speech_dense,
         |  sb.n_cuts,
         |  sb.n_cuts >= 1 AS has_cuts,
         |  CASE WHEN d.doc_id % 10 <> 0 THEN
         |    ie.entropy_micro >= 6000000 AND av.active_milli >= 900
         |      AND sb.n_cuts >= 1 END AS passed_all
         |FROM documents d
         |LEFT JOIN ($imageEntropyOracle) ie ON d.doc_id = ie.doc_id
         |LEFT JOIN ($audioVadOracle) av ON d.doc_id = av.doc_id
         |LEFT JOIN (SELECT doc_id,
         |    CAST(sum(CASE WHEN is_boundary THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_cuts
         |  FROM ($shotBoundariesOracle) GROUP BY 1) sb
         |  ON d.doc_id = sb.doc_id""".stripMargin,
    // Same centi-norm census + label-partitioned median walk.
    "embed_norm_profile" ->
      """WITH nv AS (SELECT CAST(label AS BIGINT) AS label,
        |    CAST(floor(list_dot_product(embedding::DOUBLE[],
        |      embedding::DOUBLE[]) * 100 + 0.5) AS BIGINT) AS n2c
        |  FROM embeddings),
        |cen AS (SELECT label, n2c, count(*) AS m FROM nv GROUP BY 1, 2),
        |cum AS (SELECT label, n2c, m,
        |    CAST(sum(m) OVER (PARTITION BY label ORDER BY n2c)
        |      AS BIGINT) AS cum FROM cen),
        |tot AS (SELECT label, CAST(sum(m) AS BIGINT) AS n_vecs,
        |    min(n2c) AS min_norm2_centi, max(n2c) AS max_norm2_centi
        |  FROM cen GROUP BY 1)
        |SELECT cum.label, n_vecs, min_norm2_centi,
        |  n2c AS p50_norm2_centi, max_norm2_centi
        |FROM cum JOIN tot ON cum.label = tot.label
        |WHERE cum - m < (n_vecs + 1) // 2 AND cum >= (n_vecs + 1) // 2""".stripMargin,
    // Same census composition: the shared Markov CTE block supplies
    // the matrix and the round-8 π; the conditional entropy divides
    // the weighted plog sum once per row like the Spark side.
    "events_entropy_rate" -> {
      val plogRt = graft.operators.TextAnalysis.plog2MicroDuck("rt")
      val plogNn = graft.operators.TextAnalysis.plog2MicroDuck("nn")
      s"""${markovCtes(8)},
         |ct AS (SELECT from_type AS event_type, max(rt) AS rt,
         |    CAST(sum(term) AS BIGINT) AS tsum FROM (
         |  SELECT from_type, rt, nn, nn * (($plogRt) - ($plogNn)) AS term
         |  FROM (SELECT from_type, n AS nn, row_total AS rt FROM m))
         |  GROUP BY 1)
         |SELECT ct.event_type, p8.pi AS pi_stat_micro,
         |  tsum // rt AS cond_entropy_micro,
         |  (p8.pi * (tsum // rt)) // 1000000 AS contrib_micro
         |FROM ct JOIN p8 ON ct.event_type = p8.event_type""".stripMargin
    },
    // Same user-partitioned gaps-and-islands over the distinct-day census.
    "events_streak_census" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp FROM ud),
        |runs AS (SELECT user_id, grp, count(*) AS run
        |  FROM i GROUP BY 1, 2),
        |best AS (SELECT user_id, CAST(max(run) AS BIGINT) AS best_streak
        |  FROM runs GROUP BY 1)
        |SELECT best_streak, count(*) AS n_users
        |FROM best GROUP BY 1""".stripMargin,
    // Gradient replica of the decoded edge mass: |Δ| is 1 except at
    // the wrap seam (value 255 → 0), horizontally and vertically.
    "mm_image_edges" ->
      """WITH d AS (SELECT doc_id, n_chars % 64 + 16 AS w,
        |    n_chars % 48 + 16 AS h
        |  FROM documents WHERE doc_id % 10 <> 0),
        |xs AS (SELECT unnest(range(0, 80)) AS x),
        |ys AS (SELECT unnest(range(0, 64)) AS y),
        |px AS (SELECT doc_id, w, h, x, y,
        |    (doc_id + x + y) % 256 AS v
        |  FROM d CROSS JOIN xs CROSS JOIN ys WHERE x < w AND y < h),
        |g AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN x + 1 < w THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN y + 1 < h THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pairs,
        |    CAST(sum(CASE WHEN x + 1 < w THEN
        |        CASE WHEN v = 255 THEN 255 ELSE 1 END ELSE 0 END)
        |      + sum(CASE WHEN y + 1 < h THEN
        |        CASE WHEN v = 255 THEN 255 ELSE 1 END ELSE 0 END)
        |      AS BIGINT) AS grad_sum,
        |    CAST(sum(CASE WHEN x + 1 < w AND v = 255 THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN y + 1 < h AND v = 255 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS strong_edges
        |  FROM px GROUP BY 1)
        |SELECT doc_id, n_pairs, grad_sum,
        |  (grad_sum * 100) // n_pairs AS grad_mean_centi, strong_edges
        |FROM g""".stripMargin,
    // Same nested centroid ladder + the list-diff dot product, one
    // UNION ALL block per rung.
    "embed_kmeans_elbow" -> Seq(10, 20, 40).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k_centroids,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CAST(floor(md * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS inertia_x4,
         |  CAST(sum(CAST(floor(md * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         |    // count(*) AS mean_inertia_x4
         |FROM (
         |  SELECT e.vec_id, min(list_dot_product(
         |      [e.emb[i] - c.emb[i] for i in range(1, len(e.emb) + 1)],
         |      [e.emb[i] - c.emb[i] for i in range(1, len(e.emb) + 1)])) AS md
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e
         |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
         |    WHERE vec_id < $k) c ON true
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // Same census cutoff + share scan, every sum cast to BIGINT.
    "events_pareto_share" ->
      """WITH pu AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cen AS (SELECT event_type, c, count(*) AS m FROM pu GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, m,
        |    CAST(sum(m) OVER (PARTITION BY event_type ORDER BY c)
        |      AS BIGINT) AS cum FROM cen),
        |tot AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n_users,
        |    CAST(sum(c * m) AS BIGINT) AS total_events FROM cen GROUP BY 1),
        |cut AS (SELECT cum.event_type, cum.c AS cutoff
        |  FROM cum JOIN tot ON cum.event_type = tot.event_type
        |  WHERE cum - m < (9 * n_users + 9) // 10
        |    AND cum >= (9 * n_users + 9) // 10),
        |sh AS (SELECT pu.event_type, cutoff,
        |    CAST(sum(CASE WHEN c >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_top,
        |    CAST(sum(CASE WHEN c >= cutoff THEN c ELSE 0 END) AS BIGINT)
        |      AS top_events
        |  FROM pu JOIN cut ON pu.event_type = cut.event_type
        |  GROUP BY 1, 2)
        |SELECT sh.event_type, n_users, total_events, cutoff, n_top,
        |  top_events, (top_events * 1000) // total_events AS top_share_milli
        |FROM sh JOIN tot ON sh.event_type = tot.event_type""".stripMargin,
    // Same distinct brand baskets, same integer support/conf/lift.
    "orders_basket_rules" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
        |mg AS (SELECT p_brand, count(*) AS n_b FROM b GROUP BY 1),
        |pr AS (SELECT x.p_brand AS brand_a, y.p_brand AS brand_b,
        |    count(*) AS n_ab
        |  FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
        |    AND x.p_brand <> y.p_brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab, ma.n_b AS n_a, mb.n_b AS n_b,
        |  n_orders,
        |  (n_ab * 1000000) // n_orders AS support_micro,
        |  (n_ab * 1000000) // ma.n_b AS conf_micro,
        |  (n_ab * n_orders * 1000) // (ma.n_b * mb.n_b) AS lift_milli
        |FROM pr
        |JOIN mg ma ON pr.brand_a = ma.p_brand
        |JOIN mg mb ON pr.brand_b = mb.p_brand
        |CROSS JOIN n""".stripMargin,
    // Same winnow candidates + DuckDB's classic levenshtein — the
    // metric itself is exact on both engines.
    "dedup_edit_distance" ->
      s"""${winnowCte()},
         |tfp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |tp AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
         |    count(*) AS n_shared
         |  FROM tfp x JOIN tfp y
         |    ON x.fp_hash = y.fp_hash AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |dd AS (SELECT doc_id, text,
         |    CAST(length(text) AS BIGINT) AS len FROM documents)
         |SELECT tp.id1, tp.id2, tp.n_shared,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |  greatest(a.len, b.len) AS max_len,
         |  (CAST(levenshtein(a.text, b.text) AS BIGINT) * 1000)
         |    // greatest(a.len, b.len) AS edit_milli,
         |  (CAST(levenshtein(a.text, b.text) AS BIGINT) * 1000)
         |    // greatest(a.len, b.len) <= 200 AS is_near
         |FROM tp JOIN dd a ON tp.id1 = a.doc_id
         |JOIN dd b ON tp.id2 = b.doc_id""".stripMargin,
    // Same per-type bin census + partitioned cumulative walk + bin
    // interpolation, all integer cents.
    "sketch_group_quantiles" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |st AS (SELECT event_type, min(c) AS cmin, max(c) AS cmax,
        |    count(*) AS n FROM e GROUP BY 1),
        |bn AS (SELECT e.event_type,
        |    ((c - cmin) * 128) // (cmax - cmin + 1) AS bin,
        |    cmin, cmax, n, count(*) AS cnt
        |  FROM e JOIN st ON e.event_type = st.event_type
        |  GROUP BY 1, 2, 3, 4, 5),
        |cm AS (SELECT event_type, bin, cmin, cmax, n, cnt,
        |    CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type
        |      ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM bn),
        |q AS (SELECT cm.*, qq.q_pct,
        |    (qq.q_pct * n + 99) // 100 AS r
        |  FROM cm CROSS JOIN (SELECT unnest([50, 95]) AS q_pct) qq
        |  WHERE cum_before < (qq.q_pct * n + 99) // 100
        |    AND cum_before + cnt >= (qq.q_pct * n + 99) // 100)
        |SELECT event_type, CAST(q_pct AS BIGINT) AS q_pct, n,
        |  (cmin + (bin * (cmax - cmin + 1)) // 128)
        |    + ((r - cum_before) * (((bin + 1) * (cmax - cmin + 1)) // 128
        |      - (bin * (cmax - cmin + 1)) // 128)) // cnt AS est_cents
        |FROM q""".stripMargin,
    // Composes the winnow pair chain with the image-aHash and
    // (renamed) audio-envelope CTE blocks; nulls propagate through
    // the xor/bit_count exactly like the Spark left joins.
    "mm_crossmodal_audit" ->
      s"""${winnowCte()},
         |${imageAHashCte.stripPrefix("WITH ")},
         |ad AS (SELECT doc_id, CAST(n_chars % 2000 + 500 AS INT) AS n
         |  FROM documents WHERE doc_id % 10 <> 0),
         |asm AS (SELECT doc_id, n, t2.i,
         |    abs(((doc_id * 31 + t2.i * 7) % 65536) - 32768) AS a
         |  FROM ad, LATERAL (SELECT unnest(range(0, n)) AS i) t2),
         |aw AS (SELECT doc_id, n, (i * 64) // n AS b2,
         |    CAST(sum(a) AS BIGINT) AS ws2, count(*) AS wn
         |  FROM asm GROUP BY 1, 2, 3),
         |atot AS (SELECT doc_id, CAST(sum(ws2) AS BIGINT) AS total2
         |  FROM aw GROUP BY 1),
         |abits AS (SELECT aw.doc_id, aw.b2,
         |    CASE WHEN ws2 * n > total2 * wn THEN 1 ELSE 0 END AS bit2
         |  FROM aw JOIN atot ON aw.doc_id = atot.doc_id),
         |afp AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN b2 >= 32 AND bit2 = 1
         |      THEN CAST(1 AS BIGINT) << (b2 - 32) ELSE 0 END) AS BIGINT) AS fp_hi,
         |    CAST(sum(CASE WHEN b2 < 32 AND bit2 = 1
         |      THEN CAST(1 AS BIGINT) << b2 ELSE 0 END) AS BIGINT) AS fp_lo
         |  FROM abits GROUP BY 1),
         |tfp AS (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |tp AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
         |    count(*) AS n_shared
         |  FROM tfp x JOIN tfp y
         |    ON x.fp_hash = y.fp_hash AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT tp.id1, tp.id2, tp.n_shared,
         |  CAST(bit_count(xor(i1.ahash_hi, i2.ahash_hi))
         |    + bit_count(xor(i1.ahash_lo, i2.ahash_lo)) AS INT) AS img_ham,
         |  CAST(bit_count(xor(a1.fp_hi, a2.fp_hi))
         |    + bit_count(xor(a1.fp_lo, a2.fp_lo)) AS INT) AS audio_ham,
         |  CAST(bit_count(xor(i1.ahash_hi, i2.ahash_hi))
         |    + bit_count(xor(i1.ahash_lo, i2.ahash_lo)) AS INT) <= 3 AS img_dup,
         |  CAST(bit_count(xor(a1.fp_hi, a2.fp_hi))
         |    + bit_count(xor(a1.fp_lo, a2.fp_lo)) AS INT) <= 3 AS audio_dup
         |FROM tp
         |LEFT JOIN ah i1 ON tp.id1 = i1.doc_id
         |LEFT JOIN ah i2 ON tp.id2 = i2.doc_id
         |LEFT JOIN afp a1 ON tp.id1 = a1.doc_id
         |LEFT JOIN afp a2 ON tp.id2 = a2.doc_id""".stripMargin,
    // Same struct-lexicographic open/close resolution (µs, event_id,
    // cents), every sum/extreme cast to BIGINT.
    "events_ohlc_hourly" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hr, epoch_us(ts) AS us,
        |    event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, hr, count(*) AS n,
        |  (min({'us': us, 'eid': event_id, 'c': cents})).c AS open_cents,
        |  max(cents) AS high_cents,
        |  min(cents) AS low_cents,
        |  (max({'us': us, 'eid': event_id, 'c': cents})).c AS close_cents
        |FROM e GROUP BY 1, 2""".stripMargin,
    // Same BM25 top-10 chain + the q_micro grade bucket + the literal
    // milli discount table; ideal reorder is a per-query window.
    "text_ndcg_eval" ->
      """WITH q(query_id, term) AS (VALUES
        |    (1,'hash'),(1,'join'),(1,'merge'),
        |    (2,'window'),(2,'sort'),(2,'order'),
        |    (3,'stream'),(3,'batch'),(3,'fast'),
        |    (4,'vector'),(4,'query'),(4,'scan')),
        |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT count(*) AS n_docs, sum(len(w)) AS tot FROM ws),
        |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM ws)
        |  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT query_id, doc_id,
        |    CAST(floor((
        |      ((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / n_docs)))))
        |    ) * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6)) AS c
        |  FROM tf JOIN q USING (term) JOIN dfc USING (term) CROSS JOIN st),
        |s AS (SELECT query_id, doc_id, sum(c) AS s FROM c GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id)
        |      AS rank
        |  FROM s),
        |topk AS (SELECT query_id, doc_id, rank FROM r WHERE rank <= 10),
        |gr AS (SELECT doc_id, least(3, CAST(floor((
        |      CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3))
        |      * 10000 + 0.5) AS BIGINT) // 2500) AS grade
        |  FROM (SELECT doc_id,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(t) - length(replace(t, ' the ', ''))) / 5
        |      + (length(t) - length(replace(t, ' a ', ''))) / 3
        |      + (length(t) - length(replace(t, ' of ', ''))) / 4
        |      + (length(t) - length(replace(t, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS t FROM documents))),
        |dt(rk, disc) AS (VALUES (1,1000),(2,631),(3,500),(4,431),(5,387),
        |    (6,356),(7,333),(8,315),(9,301),(10,289)),
        |j AS (SELECT t.query_id, t.rank, gr.grade,
        |    row_number() OVER (PARTITION BY t.query_id
        |      ORDER BY gr.grade DESC, t.doc_id) AS irank
        |  FROM topk t JOIN gr ON t.doc_id = gr.doc_id),
        |ag AS (SELECT query_id, count(*) AS n_ranked,
        |    CAST(sum(grade * d1.disc) AS BIGINT) AS dcg_milli,
        |    CAST(sum(grade * d2.disc) AS BIGINT) AS idcg_milli
        |  FROM j JOIN dt d1 ON j.rank = d1.rk JOIN dt d2 ON j.irank = d2.rk
        |  GROUP BY 1)
        |SELECT query_id, n_ranked, dcg_milli, idcg_milli,
        |  CASE WHEN idcg_milli > 0
        |    THEN (dcg_milli * 1000) // idcg_milli END AS ndcg_milli
        |FROM ag""".stripMargin,
    // Winnowing: key packs (hash, pos) so the window min is the
    // lexicographic pair min — all integer, bit-identical by design.
    "text_winnow_fp" ->
      s"""${winnowCte()}
        |SELECT DISTINCT doc_id, CAST(wmin % 32768 AS INT) AS pos,
        |  wmin // 32768 AS fp_hash
        |FROM m WHERE cnt = 4""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""${winnowCte()},
        |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
        |  FROM m WHERE cnt = 4),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
        |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, n_shared FROM p WHERE n_shared >= 3
        |ORDER BY n_shared DESC, id1, id2 LIMIT 20""".stripMargin,
    // Full (un-limited) edge list — the graph family's build step.
    "graph_edges_build" ->
      s"""${winnowCte()},
        |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
        |  FROM m WHERE cnt = 4)
        |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
        |FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
    "graph_pagerank_neardup" -> pagerankOracle(),
    // The minShared=1 candidate pair list (the link-prediction build
    // step): the graph_edges_build replica with the HAVING floor at 1.
    "graph_candidates_build" ->
      s"""${winnowCte()},
         |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4)
         |SELECT a.doc_id AS id1, b.doc_id AS id2
         |FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 1""".stripMargin,
    // Alert channel (oracle-gated): candidate-graph hubs above the
    // wedge cap — the degree census over the same minShared=1 pair
    // list, HAVING above the declared low cap so the channel carries
    // rows at every test SF.
    "graph_dropped_hubs" ->
      s"""${winnowCte()},
         |fp AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |e AS (SELECT id1 AS src FROM p UNION ALL SELECT id2 FROM p)
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |FROM e GROUP BY 1 HAVING count(*) > 16""".stripMargin,
    // Alert channel: oversized LSH buckets (the capHotKeys census) at
    // a low cap that bites at every test SF.
    "dedup_oversized_buckets" ->
      s"""WITH bk AS (
         |$minhashOracle)
         |SELECT CAST(band AS BIGINT) AS band, bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM bk GROUP BY 1, 2 HAVING count(*) > 2""".stripMargin,
    // Adamic–Adar replica: same winnow edge list, same integer-micro
    // portable log2 weight (1e12 // plog2micro(deg)), wedge-join
    // candidates, existing edges excluded, total-order top-20.
    "graph_link_prediction" -> {
      val plogDeg = graft.operators.TextAnalysis.plog2MicroDuck("dg.deg")
      s"""${winnowCte()},
         |fp AS (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 1),
         |e AS (SELECT id1 AS src, id2 AS dst FROM p
         |  UNION ALL SELECT id2, id1 FROM p),
         |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |mids AS (SELECT e.dst AS w, e.src AS u,
         |    1000000000000 // ($plogDeg) AS aa_micro
         |  FROM e JOIN dg ON e.dst = dg.src
         |  WHERE dg.deg BETWEEN 2 AND 256),
         |w2 AS (SELECT a.u AS u, b.u AS v, a.aa_micro
         |  FROM mids a JOIN mids b ON a.w = b.w AND a.u < b.u),
         |sc AS (SELECT u AS id1, v AS id2,
         |    CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum(aa_micro) AS BIGINT) AS score_micro
         |  FROM w2 GROUP BY 1, 2),
         |nl AS (SELECT sc.* FROM sc WHERE NOT EXISTS (
         |  SELECT 1 FROM p WHERE p.id1 = sc.id1 AND p.id2 = sc.id2))
         |SELECT id1, id2, n_common, score_micro FROM nl
         |ORDER BY score_micro DESC, id1, id2 LIMIT 20""".stripMargin
    },
    // Composes the winnow CTE chain (candidates) with the exact
    // shingle-Jaccard chain (truth) over the SHARED ws CTE; the
    // threshold test is integer cross-multiplied like the Spark side.
    "dedup_winnow_recall" -> winnowRecallOracle(),
    // The 100 TB shape of the same eval: BOTH sides restricted to the
    // doc_id % 2 = 1 calibration slice (mod 2 keeps the slice truth
    // non-empty at every test SF; an empty-truth slice would divide by
    // zero in recall_micro on both engines).
    "dedup_winnow_recall_slice2" ->
      winnowRecallOracle(" WHERE doc_id % 2 = 1"),
    // Duplicated-substring span stats (Lee et al. 2021): 20-token
    // sliding windows keyed by the portable hash; per-doc duplicated-
    // window count + covered-position fraction, all exact integers.
    // NB the window index column is `wi`, NOT `i`: sqlH48's
    // list_transform lambda binds `i`, which would SHADOW a table
    // column of that name inside the hashed expression (observed as
    // massive false-duplicate classes before the rename).
    "dedup_substring_spans" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w
        |  FROM ws WHERE len(w) >= 20),
        |win AS (SELECT doc_id, n_tokens, unnest(range(1, len(w) - 18)) AS wi, w
        |  FROM tok),
        |wh AS (SELECT doc_id, n_tokens, wi,
        |    ${graft.functions.PortableHash.sqlH48(
             "array_to_string(w[wi:wi+19], ' ')")} AS h FROM win),
        |hc AS (SELECT h FROM wh GROUP BY h HAVING count(*) > 1),
        |dup AS (SELECT doc_id, n_tokens, wi FROM wh JOIN hc USING (h)),
        |pd AS (SELECT doc_id, max(n_tokens) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_dup_windows FROM dup GROUP BY 1),
        |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered FROM (
        |    SELECT DISTINCT doc_id, unnest(range(wi, wi + 20)) AS pos FROM dup)
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, n_dup_windows, covered,
        |  (covered * 1000000) // n_tokens AS covered_pct_micro
        |FROM pd JOIN cov USING (doc_id)
        |ORDER BY covered_pct_micro DESC, doc_id LIMIT 50""".stripMargin,
    // Containment (asymmetric doc-in-doc) dedup: same shared-shingle
    // chain as the Jaccard/truth oracles, scored by
    // shared / min(|A|,|B|) in integer micro-units.
    "dedup_containment_pairs" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
        |  FROM ws WHERE len(w) >= 3),
        |ns AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |c AS (SELECT id1, id2, shared, t1.n_sh AS n1, t2.n_sh AS n2,
        |    (shared * 1000000) // least(t1.n_sh, t2.n_sh) AS containment_micro
        |  FROM pr JOIN ns t1 ON id1 = t1.doc_id JOIN ns t2 ON id2 = t2.doc_id)
        |SELECT id1, id2, shared, n1, n2, containment_micro FROM c
        |WHERE containment_micro >= 700000
        |ORDER BY containment_micro DESC, id1, id2 LIMIT 50""".stripMargin,
    // Per-dimension sums in DECIMAL(38,30) (exact, order-independent);
    // dist2 = list_dot_product(diff, diff) matches Spark's index-order
    // zip_with fold bit for bit (same pattern as the cosine oracles).
    "ann_centroid_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |ex AS (SELECT label, unnest(emb) AS x, generate_subscripts(emb, 1) AS pos FROM e),
        |m AS (SELECT label, pos,
        |    sum(CAST(x AS DECIMAL(38,30)))::DOUBLE / count(*) AS m
        |  FROM ex GROUP BY 1, 2),
        |c AS (SELECT label, list(m ORDER BY pos) AS c FROM m GROUP BY 1),
        |d0 AS (SELECT e.vec_id, e.label,
        |    [e.emb[i] - c.c[i] for i in range(1, len(e.emb) + 1)] AS diff
        |  FROM e JOIN c USING (label)),
        |d AS (SELECT vec_id, label, list_dot_product(diff, diff) AS dist2 FROM d0),
        |r AS (SELECT label, vec_id, dist2,
        |    row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rank
        |  FROM d)
        |SELECT label, CAST(rank AS INT) AS rank, vec_id,
        |  floor((dist2) * 10000 + 0.5) / 10000 AS dist2
        |FROM r WHERE rank <= 10""".stripMargin,
    "ann_ivf_kmeans_topk" -> ivfKmeansOracle,
    // Simplified silhouette: DECIMAL(38,30) centroid means, index-order
    // dist2 folds, one-division x4 ratio floored BEFORE aggregation,
    // sign-safe DIV for the mean — every reported number an integer.
    "embed_silhouette" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |ex AS (SELECT label, unnest(emb) AS x,
        |    generate_subscripts(emb, 1) AS pos FROM e),
        |m AS (SELECT label, pos,
        |    sum(CAST(x AS DECIMAL(38,30)))::DOUBLE / count(*) AS m
        |  FROM ex GROUP BY 1, 2),
        |c AS (SELECT label AS clabel, list(m ORDER BY pos) AS c FROM m GROUP BY 1),
        |d0 AS (SELECT e.vec_id, e.label, c.clabel,
        |    [e.emb[i] - c.c[i] for i in range(1, len(e.emb) + 1)] AS diff
        |  FROM e CROSS JOIN c),
        |d AS (SELECT vec_id, label, clabel,
        |    list_dot_product(diff, diff) AS dist2 FROM d0),
        |own AS (SELECT vec_id, label, dist2 AS a2 FROM d WHERE label = clabel),
        |oth AS (SELECT vec_id, min(dist2) AS b2 FROM d
        |  WHERE label <> clabel GROUP BY 1),
        |s AS (SELECT o.vec_id, o.label,
        |    CASE WHEN greatest(o.a2, t.b2) > 0
        |      THEN CAST(floor((t.b2 - o.a2) / greatest(o.a2, t.b2) * 10000 + 0.5)
        |        AS BIGINT)
        |      ELSE 0 END AS s_x4
        |  FROM own o JOIN oth t USING (vec_id))
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CASE WHEN sum(s_x4) >= 0
        |    THEN CAST(sum(s_x4) AS BIGINT) // count(*)
        |    ELSE -(CAST(-sum(s_x4) AS BIGINT) // count(*)) END AS mean_s_x4,
        |  CAST(min(s_x4) AS BIGINT) AS min_s_x4,
        |  CAST(max(s_x4) AS BIGINT) AS max_s_x4,
        |  CAST(sum(CASE WHEN s_x4 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
        |FROM s GROUP BY label
        |ORDER BY label""".stripMargin,
    // Same distinct-3-gram shingles as the dedup family; eval set =
    // doc_id < 20, contamination = >= 3 shared shingles.
    "corpus_decontaminate" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
        |  FROM ws WHERE len(w) >= 3),
        |tr AS (SELECT doc_id AS train_doc, s FROM sh WHERE doc_id >= 20),
        |ev AS (SELECT doc_id AS eval_doc, s FROM sh WHERE doc_id < 20)
        |SELECT train_doc, eval_doc, count(*) AS n_shared
        |FROM tr JOIN ev USING (s)
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
    "ann_lsh_topk" -> annLshOracle,
    "dedup_lsh_verified_pairs" -> lshVerifiedPairsOracle,
    // Vector-index IVM: oracle = the FULL REBUILD over corpus ∪
    // admitted (admission = the new×corpus bucket-collision +
    // exact-cosine gate); hash equality proves refresh ≡ rebuild.
    "embed_index_refresh" -> embedIndexRefreshOracle,
    // Trained-IVF cell-index IVM: oracle = the FULL
    // REBUILD — quantizer trained on the day-0 corpus slice (`et`),
    // assignment over corpus ∪ admitted (`ep`; admission = the SAME
    // new×corpus bucket-collision + exact-cosine gate as the signature
    // index), shard divisor frozen at the corpus count. Hash equality
    // proves refresh ≡ rebuild for frozen centroids.
    "embed_cell_refresh" -> embedCellRefreshOracle,
    "mm_decode_stats" -> mmDecodeOracle,
    // blake2b-512 has no DuckDB builtin: the oracle joins expected
    // digests generated by an INDEPENDENT implementation (Python
    // hashlib.blake2b, RFC 7693) over the same fixtures, keyed by
    // (doc_id, md5(text)) — a regenerated corpus breaks the join and
    // fails the row-count gate instead of green-lighting stale hashes.
    "sub_blake2b" ->
      // fixture path resolved at Verify time from the working directory
      // (no absolute path, so the one oracle that reads a repo-local
      // file runs from any checkout)
      s"""SELECT d.doc_id, e.blake2b
         |FROM documents d
         |JOIN read_csv('${blake2bFixturePath}',
         |    header=true,
         |    columns={'doc_id': 'BIGINT', 'md5': 'VARCHAR',
         |             'blake2b': 'VARCHAR'}) e
         |  ON d.doc_id = e.doc_id AND md5(d.text) = e.md5""".stripMargin,
    // REAL codec round-trip: the Spark side encodes a genuine PNG per
    // doc (gradient gray (doc_id+x+y)%256, dims from n_chars, every
    // 10th payload truncated) and decodes it with javax.imageio; the
    // oracle replicates the DECODED statistics arithmetically. Any
    // codec bug or failure-channel slip breaks the hash compare.
    "mm_decode_image" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars % 64 + 16 AS INT) AS w,
        |    CAST(n_chars % 48 + 16 AS INT) AS h FROM documents),
        |px AS (SELECT doc_id, w, h, (doc_id + xs.x + ys.y) % 256 AS g
        |  FROM d,
        |  LATERAL (SELECT unnest(range(0, w)) AS x) xs,
        |  LATERAL (SELECT unnest(range(0, h)) AS y) ys),
        |s AS (SELECT doc_id, w, h, CAST(sum(g) AS BIGINT) AS sum_luma
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, doc_id % 10 <> 0 AS ok,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE w END AS width,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE h END AS height,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE CAST(w AS BIGINT) * h END AS n_px,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE sum_luma END AS sum_luma,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE sum_luma * 100 // (CAST(w AS BIGINT) * h) END AS mean_centi
        |FROM s""".stripMargin,
    // Real aHash over decoded pixels: 8x8 block grid via integer floor
    // division, bit set iff block_sum*n_px > total*block_n (exact
    // cross-multiplication), shipped as two 32-bit halves.
    "mm_image_ahash" ->
      s"""$imageAHashCte
         |SELECT doc_id, ahash_hi, ahash_lo FROM ah""".stripMargin,
    // Real DCT pHash over decoded pixels: exact-integer block means,
    // fixed-point DCT with constants injected from ImageCodec.DctK,
    // lower-median AC threshold.
    "mm_image_phash" -> imagePHashOracle,
    // pHash hamming pairs: the aHash-hamming replica over the DCT
    // hash CTE (same banding, same popcount verify).
    "dedup_phash_hamming" ->
      s"""WITH ph AS (
         |$imagePHashOracle),
         |census AS (SELECT phash_hi AS hi, phash_lo AS lo, count(*) AS n_docs,
         |    min(doc_id) AS rep_doc FROM ph GROUP BY 1, 2),
         |bd AS (SELECT hi, lo, n_docs, rep_doc, band,
         |    CASE band WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
         |         WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bval
         |  FROM census CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |pairs AS (SELECT DISTINCT a.hi AS h1, a.lo AS l1, a.n_docs AS n1,
         |    a.rep_doc AS rep_doc1, b.hi AS h2, b.lo AS l2, b.n_docs AS n2,
         |    b.rep_doc AS rep_doc2
         |  FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval
         |    AND (a.hi < b.hi OR (a.hi = b.hi AND a.lo < b.lo)))
         |SELECT rep_doc1, rep_doc2, n1, n2,
         |  CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS INT) AS ham
         |FROM pairs
         |WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 3""".stripMargin,
    // The oracle is the BRUTE-FORCE inverted-index Jaccard join over
    // the same batch/corpus split: the engine's PPJoin prefix filter is
    // lossless, so the gate proves the prefix plan equals the
    // exhaustive one byte-for-byte. Both engines hash tokens to the
    // portable 48-bit value BEFORE set arithmetic (the engine's verify
    // arrays pack longs, not strings), so the mirrored hash keeps the
    // comparison exact even in the ~2⁻⁴⁸ collision corner.
    "dedup_prefix_jaccard" -> {
      val h = graft.functions.PortableHash.sqlH48("tk")
      s"""WITH tok AS (SELECT DISTINCT doc_id, $h AS w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
         |  WHERE tk <> ''),
         |nn AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         |sh AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM tok a JOIN tok b ON a.w = b.w
         |  WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0
         |  GROUP BY 1, 2)
         |SELECT id1, id2, n1.n AS n1, n2.n AS n2, shared,
         |  shared * 1000000 // (n1.n + n2.n - shared) AS jac_micro
         |FROM sh JOIN nn n1 ON sh.id1 = n1.doc_id
         |  JOIN nn n2 ON sh.id2 = n2.doc_id
         |WHERE shared * 19 >= 9 * (n1.n + n2.n)""".stripMargin
    },
    // Repeated 5-gram spans: exact integer counts, (total desc, gram)
    // total order at the LIMIT boundary.
    "corpus_dup_ngrams" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |    i -> array_to_string(w[i:i+4], ' '))) AS gram FROM ws)
        |SELECT gram, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
        |ORDER BY n_total DESC, gram LIMIT 50""".stripMargin,
    // Real resize: the engine decodes, block-averages to 8x8 with exact
    // integer floor-means, re-encodes PNG and decodes AGAIN; the oracle
    // computes the same floor-means arithmetically. Lossless PNG makes
    // the double codec pass invisible — unless the codec is wrong.
    "mm_resize_real" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars % 64 + 16 AS INT) AS w,
        |    CAST(n_chars % 48 + 16 AS INT) AS h FROM documents
        |  WHERE doc_id % 10 <> 0),
        |px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y,
        |    (doc_id + xs.x + ys.y) % 256 AS g
        |  FROM d,
        |  LATERAL (SELECT unnest(range(0, w)) AS x) xs,
        |  LATERAL (SELECT unnest(range(0, h)) AS y) ys),
        |b AS (SELECT doc_id, w, h, (y * 8) // h AS br, (x * 8) // w AS bc,
        |    CAST(sum(g) AS BIGINT) // count(*) AS m
        |  FROM px GROUP BY 1, 2, 3, 4, 5)
        |SELECT doc_id, w AS width, h AS height,
        |  string_agg(CAST(m AS VARCHAR), ',' ORDER BY br, bc) AS thumb
        |FROM b GROUP BY 1, 2, 3""".stripMargin,
    // Real audio: genuine RIFF/WAVE PCM through javax.sound, stats
    // replicated arithmetically (exact integer sums of the recurrence).
    "mm_decode_audio" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars % 2000 + 500 AS INT) AS n
        |  FROM documents),
        |sm AS (SELECT doc_id, n, ((doc_id * 31 + t.i * 7) % 65536) - 32768 AS s
        |  FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) t),
        |a AS (SELECT doc_id, n, CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |    CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |    CAST(max(abs(s)) AS INT) AS peak
        |  FROM sm GROUP BY 1, 2)
        |SELECT doc_id, doc_id % 10 <> 0 AS ok,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE 8000 END AS sample_rate,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE n END AS n_samples,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE sum_abs END AS sum_abs,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE sum_sq END AS sum_sq,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE peak END AS peak
        |FROM a""".stripMargin,
    // Audio envelope fingerprint: 1-D aHash over DECODED |PCM| mass per
    // 64 integer-assigned windows, bit = exact cross-multiplication
    // win_sum*n > total*win_n — replayed from the sample recurrence.
    "mm_audio_fp" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars % 2000 + 500 AS INT) AS n
        |  FROM documents WHERE doc_id % 10 <> 0),
        |sm AS (SELECT doc_id, n, t.i,
        |    abs(((doc_id * 31 + t.i * 7) % 65536) - 32768) AS a
        |  FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) t),
        |w AS (SELECT doc_id, n, (i * 64) // n AS b,
        |    CAST(sum(a) AS BIGINT) AS ws, count(*) AS wn
        |  FROM sm GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, CAST(sum(ws) AS BIGINT) AS total FROM w GROUP BY 1),
        |bits AS (SELECT w.doc_id, w.b,
        |    CASE WHEN ws * n > total * wn THEN 1 ELSE 0 END AS bit
        |  FROM w JOIN tot ON w.doc_id = tot.doc_id)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN b >= 32 AND bit = 1
        |       THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END) AS BIGINT) AS fp_hi,
        |  CAST(sum(CASE WHEN b < 32 AND bit = 1
        |       THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS fp_lo
        |FROM bits GROUP BY 1""".stripMargin,
    // Real video: genuine RIFF/AVI container (avih/strl/movi/idx1) with
    // Motion-PNG frames decoded per-frame through javax.imageio; PNG is
    // lossless so the DECODED pixel (doc_id + 7*frame + x + y) % 256 is
    // replicated arithmetically — any container-walk or frame-codec bug
    // breaks the hash compare.
    "mm_decode_video" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars % 5 + 2 AS INT) AS n,
        |    CAST(n_chars % 24 + 8 AS INT) AS w,
        |    CAST(n_chars % 16 + 8 AS INT) AS h FROM documents),
        |px AS (SELECT doc_id, n, w, h,
        |    (doc_id + 7 * fs.f + xs.x + ys.y) % 256 AS g
        |  FROM d,
        |  LATERAL (SELECT unnest(range(0, n)) AS f) fs,
        |  LATERAL (SELECT unnest(range(0, w)) AS x) xs,
        |  LATERAL (SELECT unnest(range(0, h)) AS y) ys),
        |s AS (SELECT doc_id, n, w, h, CAST(sum(g) AS BIGINT) AS sum_luma
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT doc_id, doc_id % 10 <> 0 AS ok,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE n END AS n_frames,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE w END AS width,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE h END AS height,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE sum_luma END AS sum_luma,
        |  CASE WHEN doc_id % 10 = 0 THEN NULL
        |       ELSE sum_luma * 100 // (CAST(n AS BIGINT) * w * h) END AS mean_centi
        |FROM s""".stripMargin,
    // Sampled decode via the idx1 seek index: only frames 0,2,4,… (cap
    // 4) ever touch the codec — the oracle replays the same sampling.
    // The Scala side's cap is ALSO encoded (`f < every*cap` = 8): with
    // today's nFrames = n_chars%5+2 ≤ 6 the stride yields ≤ 3 frames
    // and the cap never binds, but if the frame-count formula ever
    // grows past 8 frames both engines now truncate identically
    // instead of silently diverging.
    "mm_video_sample" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars % 5 + 2 AS INT) AS n,
        |    CAST(n_chars % 24 + 8 AS INT) AS w,
        |    CAST(n_chars % 16 + 8 AS INT) AS h FROM documents),
        |fs AS (SELECT * FROM (
        |    SELECT doc_id, w, h, unnest(range(0, n, 2)) AS f FROM d)
        |  WHERE f < 2 * 4),
        |px AS (SELECT doc_id, f, (doc_id + 7 * f + xs.x + ys.y) % 256 AS g
        |  FROM fs,
        |  LATERAL (SELECT unnest(range(0, w)) AS x) xs,
        |  LATERAL (SELECT unnest(range(0, h)) AS y) ys),
        |s AS (SELECT doc_id, CAST(count(DISTINCT f) AS INT) AS n_sampled,
        |    CAST(sum(g) AS BIGINT) AS sum_luma FROM px GROUP BY 1),
        |ix AS (SELECT doc_id, string_agg(CAST(f AS VARCHAR), ',' ORDER BY f) AS frame_idxs
        |  FROM fs GROUP BY 1)
        |SELECT s.doc_id, s.doc_id % 10 <> 0 AS ok,
        |  CASE WHEN s.doc_id % 10 = 0 THEN NULL ELSE n_sampled END AS n_sampled,
        |  CASE WHEN s.doc_id % 10 = 0 THEN NULL ELSE frame_idxs END AS frame_idxs,
        |  CASE WHEN s.doc_id % 10 = 0 THEN NULL ELSE sum_luma END AS sum_luma
        |FROM s JOIN ix ON s.doc_id = ix.doc_id""".stripMargin,
    // Image near-dup: census collapse over distinct hashes, 4x16-bit
    // band blocking (pigeonhole covers ham<=3), exact popcount verify.
    "dedup_image_hamming" ->
      s"""$imageAHashCte,
         |census AS (SELECT ahash_hi AS hi, ahash_lo AS lo, count(*) AS n_docs,
         |    min(doc_id) AS rep_doc FROM ah GROUP BY 1, 2),
         |bd AS (SELECT hi, lo, n_docs, rep_doc, band,
         |    CASE band WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
         |         WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS bval
         |  FROM census CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |pairs AS (SELECT DISTINCT a.hi AS h1, a.lo AS l1, a.n_docs AS n1,
         |    a.rep_doc AS rep_doc1, b.hi AS h2, b.lo AS l2, b.n_docs AS n2,
         |    b.rep_doc AS rep_doc2
         |  FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval
         |    AND (a.hi < b.hi OR (a.hi = b.hi AND a.lo < b.lo)))
         |SELECT rep_doc1, rep_doc2, n1, n2,
         |  CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS INT) AS ham
         |FROM pairs
         |WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 3""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double) AS sum_qty,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double) AS sum_base_price,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS sum_disc_price,
        |  floor((cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*)) * 100 + 0.5) / 100 AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region" ->
      """SELECT r_name, n_name,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= '1994-01-01' AND o_orderdate < '1996-01-01'
        |  AND r_name IN ('ASIA', 'EUROPE')
        |GROUP BY r_name, n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q14_promo" ->
      """SELECT p_brand,
        |  cast(round(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
        |    ELSE cast(0 as decimal(18,2)) END), 2) as double) AS promo_revenue,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS total_revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1995-07-01'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q6_forecast" ->
      """SELECT
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(18,2))), 2) as double) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(cast(l_quantity as decimal(18,2))) AS tot_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(cast(l_quantity as decimal(18,2))) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
        |  cast(round(tot_qty, 2) as double) AS tot_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q17 classic (correlated scalar agg, decorrelated): all integer
    // CENTS — DECIMAL·BIGINT widening differs across engines, BIGINT
    // cents do not.
    "q17_small_qty" ->
      """WITH pt AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |li AS (SELECT l_partkey,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |  FROM lineitem JOIN pt ON l_partkey = p_partkey),
        |pp AS (SELECT l_partkey AS agg_partkey, CAST(sum(qty_c) AS BIGINT) AS sum_qty_c,
        |    count(*) AS cnt FROM li GROUP BY 1)
        |SELECT CAST(sum(price_c) AS BIGINT) AS total_price_cents,
        |  count(*) AS n_lines
        |FROM li JOIN pp ON l_partkey = agg_partkey
        |WHERE qty_c * 5 * cnt < sum_qty_c""".stripMargin,
    // q21 classic (EXISTS + NOT EXISTS), adapted to the q4 lateness
    // convention (no commit/receipt dates in this schema).
    "q21_waiting_suppliers" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |census AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supps,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supps
        |  FROM li GROUP BY 1),
        |w AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late)
        |SELECT s_name, count(*) AS numwait
        |FROM w JOIN census USING (l_orderkey)
        |  JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supps > 1 AND n_late_supps = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    // q2 classic (correlated min, decorrelated): the part-supplier
    // relation and its cost derive from lineitem (no partsupp table).
    "q2_min_cost_supplier" ->
      """WITH pt AS (SELECT p_partkey FROM part
        |    WHERE p_size = 15 AND p_type = 'MEDIUM'),
        |cost AS (SELECT l_partkey, l_suppkey,
        |    CAST(min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cost_c
        |  FROM lineitem JOIN pt ON l_partkey = p_partkey GROUP BY 1, 2),
        |mc AS (SELECT l_partkey AS m_partkey, min(cost_c) AS min_cost_c
        |  FROM cost GROUP BY 1)
        |SELECT CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS s_bal_c,
        |  s_name, n_name, l_partkey AS p_partkey, cost_c
        |FROM cost JOIN mc ON l_partkey = m_partkey AND cost_c = min_cost_c
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_bal_c DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    // q7 classic (bidirectional nation pair, per year), e4 cent revenue.
    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |    CAST((1 - CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT)) AS BIGINT)
        |    AS revenue_e4
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7') OR
        |       (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // q8 classic (market share): exact integer numerator/denominator
    // plus a ppm ratio via BIGINT floor division on both engines.
    "q8_market_share" ->
      """WITH li AS (SELECT year(o_orderdate) AS o_year,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      CAST((1 - CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_e4,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        |    AND o_custkey IN (SELECT c_custkey FROM customer
        |      JOIN nation ON c_nationkey = n_nationkey
        |      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'))
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev_e4 ELSE 0 END) AS BIGINT)
        |    AS nation_rev_e4,
        |  CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev_e4 ELSE 0 END) * 1000000
        |    // sum(rev_e4) AS BIGINT) AS share_ppm
        |FROM li GROUP BY 1 ORDER BY 1""".stripMargin,
    // q9 classic (profit per nation-year), cost from p_retailprice.
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      CAST((1 - CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT) -
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS profit_e4
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    // q11 classic (HAVING vs global scalar) as cross-multiplication.
    "q11_important_stock" ->
      """WITH v AS (SELECT l_partkey,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS value_e4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
        |    ON s_nationkey = n_nationkey
        |    WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))
        |  GROUP BY 1)
        |SELECT l_partkey AS p_partkey, value_e4
        |FROM v CROSS JOIN (SELECT CAST(sum(value_e4) AS BIGINT) AS total_e4 FROM v) t
        |WHERE value_e4 * 1000 > total_e4
        |ORDER BY value_e4 DESC, p_partkey LIMIT 100""".stripMargin,
    // q12 classic (conditional counts), q4 lateness, returnflag as mode.
    "q12_ship_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q13 classic (left outer + double aggregation).
    "q13_cust_distribution" ->
      """WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // q16 classic (distinct suppliers per part class); the complaint
    // exclusion = negative-balance suppliers.
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |  JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |    WHERE CAST(s_acctbal AS DECIMAL(18,2)) < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100""".stripMargin,
    // q20 classic (nested-aggregate semi-join): >5% stake in any
    // SMALL part's total shipped quantity during 1996.
    "q20_part_promotion" ->
      """WITH li AS (SELECT l_partkey, l_suppkey, l_shipdate,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c
        |  FROM lineitem WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_type = 'SMALL')),
        |pp AS (SELECT l_partkey AS t_partkey, CAST(sum(qty_c) AS BIGINT) AS total_qty_c
        |  FROM li GROUP BY 1),
        |stake AS (SELECT DISTINCT l_suppkey
        |  FROM (SELECT l_partkey, l_suppkey, CAST(sum(qty_c) AS BIGINT) AS supp_qty_c
        |    FROM li WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |    GROUP BY 1, 2) s
        |    JOIN pp ON l_partkey = t_partkey
        |  WHERE supp_qty_c * 20 > total_qty_c)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM stake)
        |ORDER BY s_suppkey""".stripMargin,
    // Equality against the PARQUET original proves the ORC/CSV/JSON
    // round-trips lossless — format IO inside the correctness gate.
    "sub_format_bridge" ->
      """SELECT f.fmt, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents
        |CROSS JOIN (VALUES ('orc'), ('csv'), ('json')) f(fmt)
        |GROUP BY 1, 2""".stripMargin,
    // q15 classic (view + scalar-subquery-on-aggregate): revenue as a
    // BIGINT product of two exact cent factors, so the max-equality is
    // bit-safe.
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      CAST((1 - CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT)) AS BIGINT)
        |      AS total_revenue_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue_e4
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)""".stripMargin,
    // q22 classic (global scalar + anti-join), segment-grouped; exact
    // BIGINT cents; "inactive" = no order since 2000 (every customer
    // in this corpus has some order, so the literal form is empty).
    "q22_global_sales" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
        |  FROM customer),
        |m AS (SELECT CAST(sum(bal_c) AS BIGINT) AS sum_bal_c, count(*) AS cnt
        |  FROM c WHERE bal_c > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(bal_c) AS BIGINT) AS totacctbal_cents
        |FROM c CROSS JOIN m
        |WHERE bal_c * cnt > sum_bal_c
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderdate >= '2000-01-01')
        |GROUP BY 1""".stripMargin,
    "q19_brand_revenue" ->
      """SELECT
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "f1_type_filter" ->
      "SELECT event_id, event_type, user_id FROM events WHERE substr(event_type, 1, 2) = 'cl'",
    "f2_error_filter" ->
      """SELECT event_type, count(*) AS n,
        |  cast(round(sum(cast(value as decimal(18,2))), 2) as double) AS total_value
        |FROM events WHERE event_type <> 'error' GROUP BY event_type""".stripMargin,
    "f3_selector_cascade" ->
      """SELECT doc_id, source,
        |  CASE WHEN source LIKE 'src1%' THEN 'schema_src1'
        |       WHEN source LIKE '%2%' THEN 'schema_has2'
        |       WHEN lang = 'en' THEN 'schema_en'
        |       ELSE 'fallback' END AS schema_id
        |FROM documents""".stripMargin,
    "f6_dedup_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,
    "f7_meta_anti" ->
      """WITH m AS (SELECT doc_id,
        |    source || '-' || CAST(doc_id % 300 AS VARCHAR) AS meta_value
        |  FROM documents),
        |ex AS (SELECT DISTINCT source || '-' || CAST(doc_id % 300 AS VARCHAR) AS v
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, meta_value FROM m
        |WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.v = m.meta_value)""".stripMargin,
    "p_value_ops" ->
      """SELECT doc_id,
        |  array_to_string(string_split(text, ' ')[1:5], ', ') AS first_words,
        |  upper(lang) AS lang_upper,
        |  substr(replace(text, 'the', 'THE'), 1, 40) AS replaced_head,
        |  string_split(source, '/')[-1] AS basename
        |FROM documents""".stripMargin,
    "p6_json_getitem" ->
      """SELECT event_id, k FROM (
        |  SELECT event_id, cast(json_extract_string(props, '$.k') as bigint) AS k FROM events
        |) WHERE k > 90""".stripMargin,
    "p10_array_fold" ->
      """SELECT doc_id,
        |  cast(list_sum(list_transform(string_split(text, ' '), w -> length(w))) as bigint) AS word_chars,
        |  cast(len(string_split(text, ' ')) as bigint) AS n_words
        |FROM documents""".stripMargin,
    "p12_casts" ->
      """SELECT l_orderkey,
        |  cast(l_linenumber as bigint) AS line_no,
        |  cast(l_quantity as bigint) AS qty_int,
        |  cast(l_quantity as varchar) AS qty_str,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin,
    "j1_enrich_lookup" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j2_collect_list" ->
      """SELECT n_name, array_to_string(list_sort(list(s_name)), ',') AS supplier_names, count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
    "j4_array_merge" ->
      """SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' ')[1:4] || string_split(text, ' ')[3:6])), ',') AS merged_tokens
        |FROM documents""".stripMargin,
    "w_running" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS running_value
        |FROM events""".stripMargin,
    // Funnel: min-per-step is deterministic; all arithmetic on epoch-µs.
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us >= view_us
        |    AND us <= view_us + 3600000000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us >= click_us
        |    AND us <= click_us + 3600000000 GROUP BY 1)
        |SELECT v.user_id, v.view_us, c.click_us, p.purchase_us,
        |  1 + CASE WHEN c.click_us IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN p.purchase_us IS NULL THEN 0 ELSE 1 END AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    // RANGE frame over integer epoch-µs — frame bound is exact on both
    // engines; RANGE includes ts-peers so no tie-break is needed.
    "w_range_sliding" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  count(*) OVER w AS n_10m,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "set_except" ->
      """SELECT c_custkey FROM customer EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n,
        |  cast(round(sum(cast(value as decimal(18,2))), 2) as double) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1)
        |SELECT cohort_week, wk - cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM uw JOIN c ON uw.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    "events_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |b AS (SELECT min(day) AS min_day, max(day) AS max_day FROM ud),
        |f AS (SELECT user_id, day + k AS report_day
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k))
        |SELECT report_day, count(DISTINCT user_id) AS wau
        |FROM f CROSS JOIN b
        |WHERE report_day >= min_day + 6 AND report_day <= max_day
        |GROUP BY 1""".stripMargin,
    // The squared terms run in HUGEINT (int128) to mirror the Spark
    // side's DECIMAL(38,0) widening — both are exact past the Long
    // wrap point of s², so the kσ tests stay exact at any event count
    // whose deviations fit 10^38 (≫ any real corpus).
    "events_spike_days" -> spikeDaysOracle,
    // Same scoring subquery as the text_quality oracle; the decile test
    // is all-integer (rn <= (n+9)//10), no percent_rank double boundary.
    "corpus_quality_gate" ->
      """WITH s AS (SELECT doc_id, lang,
        |  floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |    + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) / 10000 AS quality_score
        |FROM (
        |  SELECT doc_id, lang,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(t) - length(replace(t, ' the ', ''))) / 5
        |      + (length(t) - length(replace(t, ' a ', ''))) / 3
        |      + (length(t) - length(replace(t, ' of ', ''))) / 4
        |      + (length(t) - length(replace(t, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT doc_id, lang, text, ' ' || text || ' ' AS t FROM documents))),
        |r AS (SELECT doc_id, lang, quality_score,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY quality_score DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n_lang
        |  FROM s)
        |SELECT doc_id, lang, quality_score, rn, n_lang
        |FROM r WHERE rn <= (n_lang + 9) // 10""".stripMargin,
    "imsc_pipeline" -> IngestDemo.oracle,
    "sub_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |f AS (SELECT user_id, event_id, ts, sec,
        |    CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (SELECT user_id, sec,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events, max(sec) - min(sec) AS duration_s, min(sec) AS start_s
        |FROM g GROUP BY user_id, session_idx""".stripMargin,
    // Native session_window replica: a session breaks on a gap ≥ 30 min
    // in exact MICROSECONDS (Spark merges only strictly-overlapping
    // windows, so the == boundary starts a new session on both engines).
    "sub_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |f AS (SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |              OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |g AS (SELECT user_id, us,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f)
        |SELECT user_id, min(us) AS start_us,
        |  max(us) + 1800000000 AS end_us, count(*) AS n_events
        |FROM g GROUP BY user_id, island""".stripMargin,
    // SCD2 gaps-and-islands: consecutive same-tier years collapse to
    // validity intervals; cents + integer floor division throughout.
    "scd2_tier_history" ->
      """WITH yearly AS (SELECT o_custkey, year(o_orderdate) AS yr,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT *, CAST(sum(spend_c) OVER (PARTITION BY o_custkey ORDER BY yr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
        |  FROM yearly),
        |t AS (SELECT *, least(cum_c // 5000000, 4) AS tier FROM c),
        |f AS (SELECT *, CASE WHEN lag(tier) OVER (PARTITION BY o_custkey ORDER BY yr)
        |    IS DISTINCT FROM tier THEN 1 ELSE 0 END AS chg FROM t),
        |i AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY yr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM f)
        |SELECT o_custkey AS c_custkey, tier, min(yr) AS from_year,
        |  max(yr) AS to_year, CAST(max(cum_c) AS BIGINT) AS cum_spend_c
        |FROM i GROUP BY o_custkey, island, tier""".stripMargin,
    // ANALYZE-style profiler: per-column stats normalized to integer/
    // date strings so both engines render identically.
    // Sketch-NDV profiler: the KMV estimate is bit-replicable — kth
    // minimum of the DISTINCT portable 48-bit hashes, same CASE and
    // same double arithmetic as the proven sketch_kmv_distinct row.
    "sub_profile_columns" -> {
      val branches = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity_c", "l_extendedprice_c", "l_shipdate", "l_returnflag")
        .map { c =>
          val h = graft.functions.PortableHash.sqlH48(s"CAST($c AS VARCHAR)")
          val est = graft.operators.PortableRound.sql(
            "CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE) / max(h)", 4)
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_null,
             |  (SELECT CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
             |      ELSE $est END
             |    FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
             |      FROM (SELECT DISTINCT $h AS h FROM li WHERE $c IS NOT NULL))
             |    WHERE rn <= 64) AS ndv_est,
             |  CAST(min($c) AS VARCHAR) AS min_v, CAST(max($c) AS VARCHAR) AS max_v
             |FROM li""".stripMargin
        }
      s"""WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
         |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS l_quantity_c,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS l_extendedprice_c,
         |    strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate,
         |    l_returnflag
         |  FROM lineitem)
         |${branches.mkString("\n UNION ALL\n")}""".stripMargin
    },
    "sub_profile_exact" -> {
      val branches = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity_c", "l_extendedprice_c", "l_shipdate", "l_returnflag")
        .map(c =>
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS ndv,
             |  CAST(min($c) AS VARCHAR) AS min_v, CAST(max($c) AS VARCHAR) AS max_v
             |FROM li""".stripMargin)
      s"""WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
         |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS l_quantity_c,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS l_extendedprice_c,
         |    strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate,
         |    l_returnflag
         |  FROM lineitem)
         |${branches.mkString("\n UNION ALL\n")}""".stripMargin
    },
    // Z-order layout replica: the same 16×16-bit Morton interleave as
    // explicit integer arithmetic, same deterministic tie-breaks.
    "layout_zorder" -> {
      val morton = (0 until 16).map(i =>
        s"(((l_partkey >> $i) & 1) * ${1L << (2 * i)}) + " +
          s"(((l_suppkey >> $i) & 1) * ${1L << (2 * i + 1)})").mkString(" + ")
      s"""WITH k AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    CAST($morton AS BIGINT) AS zval FROM lineitem),
         |z AS (SELECT (row_number() OVER (ORDER BY zval, l_orderkey, l_linenumber) - 1) // 4096 AS block,
         |    l_partkey, l_suppkey FROM k),
         |zm AS (SELECT block, min(l_partkey) AS p_min, max(l_partkey) AS p_max,
         |    min(l_suppkey) AS s_min, max(l_suppkey) AS s_max FROM z GROUP BY 1),
         |lin AS (SELECT (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) // 4096 AS block,
         |    l_partkey, l_suppkey FROM k),
         |lm AS (SELECT block, min(l_partkey) AS p_min, max(l_partkey) AS p_max,
         |    min(l_suppkey) AS s_min, max(l_suppkey) AS s_max FROM lin GROUP BY 1)
         |SELECT (SELECT count(*) FROM zm) AS n_blocks,
         |  (SELECT count(*) FROM zm WHERE p_max >= 100 AND p_min <= 150
         |     AND s_max >= 200 AND s_min <= 260) AS z_touched,
         |  (SELECT count(*) FROM lm WHERE p_max >= 100 AND p_min <= 150
         |     AND s_max >= 200 AND s_min <= 260) AS linear_touched""".stripMargin
    },
    "text_redact_pii" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.1.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.7 id ' ||
        |    lpad(CAST(doc_id AS VARCHAR), 8, '0') || '77' AS withpii
        |  FROM documents),
        |r AS (SELECT doc_id, withpii,
        |    regexp_replace(regexp_replace(regexp_replace(withpii,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{8,}\b', '<NUM>', 'g') AS redacted
        |  FROM p)
        |SELECT doc_id, redacted,
        |  CAST(length(withpii) - length(redacted) AS INT) AS chars_removed FROM r""".stripMargin,
    // Normalized keep-first: same regex program (DuckDB needs the 'g'
    // flag to match Spark's replace-all default), same window dedup.
    "dedup_normalized_keep_first" ->
      """WITH n AS (SELECT doc_id, lang,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[.,;:!?''"()-]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
        |  FROM documents),
        |r AS (SELECT doc_id, lang, norm_hash,
        |    row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) AS rn
        |  FROM n)
        |SELECT doc_id, lang, norm_hash FROM r WHERE rn = 1""".stripMargin,
    // Language rebalance: integer cross-multiplied hash threshold —
    // no division anywhere, so both engines compare exactly.
    "corpus_lang_balance" -> {
      val h = graft.functions.PortableHash.sqlH48("concat('bal:', CAST(doc_id AS VARCHAR))")
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |cap AS (SELECT min(n_lang) AS cap FROM c)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN cap
         |WHERE ($h % 1000000) * n_lang < cap * 1000000""".stripMargin
    },
    // τ=0.5 temperature sampling: the sqrt comparison is squared into
    // pure integer arithmetic — (h mod M)²·n_lang < cap·M² — exact in
    // both engines, no pow/sqrt anywhere.
    "corpus_temperature_sample" -> {
      val h = graft.functions.PortableHash.sqlH48("concat('temp:', CAST(doc_id AS VARCHAR))")
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |cap AS (SELECT min(n_lang) AS cap FROM c),
         |hh AS (SELECT doc_id, lang, ($h % 1000000) AS hm FROM documents)
         |SELECT d.doc_id, d.lang
         |FROM hh d JOIN c ON d.lang = c.lang CROSS JOIN cap
         |WHERE hm * hm * n_lang < cap * 1000000 * 1000000""".stripMargin
    },
    // Deterministic shuffle order: shard + second-order key from the
    // same salted portable hash; h < 2^48 so h/shards is exact in
    // double and the truncating cast equals DuckDB's // floor-div.
    "corpus_shuffle_order" -> {
      val h = graft.functions.PortableHash.sqlH48("concat('shuf:', CAST(doc_id AS VARCHAR))")
      s"""WITH k AS (SELECT doc_id, $h % 16 AS shard, $h // 16 AS shuffle_key
         |  FROM documents)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id)
         |    AS pos_in_shard
         |FROM k""".stripMargin
    },
    // Epoch manifest: smallest e in [1,4] with e·n_lang >= n_max, all
    // integer comparisons; the order hash is the shared portable h48.
    "corpus_mix_epochs" -> {
      val h = graft.functions.PortableHash.sqlH48(
        "concat('mix:', CAST(doc_id AS VARCHAR), ':', CAST(epoch AS VARCHAR))")
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |m AS (SELECT max(n_lang) AS n_max FROM c),
         |d AS (SELECT doc_id, dd.lang,
         |    CASE WHEN n_lang * 1 >= n_max THEN 1
         |         WHEN n_lang * 2 >= n_max THEN 2
         |         WHEN n_lang * 3 >= n_max THEN 3 ELSE 4 END AS epochs
         |  FROM documents dd JOIN c USING (lang) CROSS JOIN m),
         |e AS (SELECT doc_id, lang, unnest(range(1, epochs + 1)) AS epoch FROM d)
         |SELECT doc_id, lang, epoch, $h AS ord_hash FROM e""".stripMargin
    },
    // DSIR replica: same hashed bigrams (outer lambda var renamed p —
    // sqlH48's own inner lambda uses i), same micro-scaled integer
    // ratio with floor division on non-negative operands.
    "corpus_dsir_weights" -> {
      val h = graft.functions.PortableHash.sqlH48("'ds:' || w[p] || ' ' || w[p+1]")
      s"""WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |  FROM documents),
         |g AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(w)), p -> $h)) % 4096 AS bucket
         |  FROM ws),
         |c AS (SELECT bucket, count(*) AS cnt_r,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t
         |  FROM g GROUP BY 1),
         |wt AS (SELECT bucket,
         |    (cnt_t + 1) * 1000000 // (cnt_r + 1) AS w_micro FROM c)
         |SELECT doc_id, count(*) AS n_feats,
         |  CAST(sum(w_micro) AS BIGINT) AS score_micro,
         |  floor(CAST(sum(w_micro) AS DOUBLE) / count(*) * 100 + 0.5) / 100
         |    AS avg_weight
         |FROM g JOIN wt USING (bucket)
         |GROUP BY doc_id""".stripMargin
    },
    // Span corruption: pure integer manifest; `//` floor-division on
    // non-negative operands matches Spark's `div`, and the same hash
    // value drives span length and in-segment offset on both engines.
    "corpus_span_corruption" -> {
      val h = graft.functions.PortableHash.sqlH48(
        "concat('span:', CAST(doc_id AS VARCHAR), ':', CAST(span_id AS VARCHAR))")
      s"""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |s AS (SELECT doc_id, n_tokens // 20 AS n_spans,
         |    n_tokens // greatest(n_tokens // 20, 1) AS seg_len
         |  FROM d WHERE n_tokens // 20 > 0),
         |e AS (SELECT doc_id, seg_len, unnest(range(0, n_spans)) AS span_id FROM s),
         |h AS (SELECT doc_id, seg_len, span_id, $h AS hv FROM e)
         |SELECT doc_id, span_id,
         |  span_id * seg_len + hv % (seg_len - (hv % 3 + 2) + 1) AS start_tok,
         |  hv % 3 + 2 AS len_tok,
         |  '<extra_id_' || CAST(span_id AS VARCHAR) || '>' AS sentinel
         |FROM h""".stripMargin
    },
    // Context windows: pure integer manifest; ceil-division spelled as
    // (x + stride − 1) // stride on exact small integers.
    "corpus_context_windows" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |w AS (SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 64 THEN 1
        |         ELSE (n_tokens - 64 + 47) // 48 + 1 END AS n_win FROM d)
        |SELECT doc_id, window_id, window_id * 48 AS start_tok,
        |  least(64, n_tokens - window_id * 48) AS n_tok
        |FROM w, LATERAL (SELECT unnest(range(0, n_win)) AS window_id) t""".stripMargin,
    // Vocabulary head: integer counts, total (n desc, w) order — the
    // LIMIT boundary is deterministic because w is the group key.
    "corpus_vocab_topk" ->
      """SELECT w, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n DESC, w LIMIT 100""".stripMargin,
    // Sequential BPE learning: the oracle unrolls all 16 merge rounds
    // as MATERIALIZED CTEs (pair-count → argmax → rewrite), replaying
    // the learner exactly — `replace` is leftmost-non-overlapping
    // single-pass in BOTH engines and the (n DESC, pair) argmax is a
    // binary-collation total order, so every round's rule and rewrite
    // match bit-for-bit; counts CAST to BIGINT (DuckDB sum promotes to
    // HUGEINT, the round-5 dtype red).
    "corpus_bpe_merges" -> Corpus.bpeOracleSql(16, "merges"),
    // BPE encode: the same 16 unrolled learning rounds; the final
    // working table w16 IS the encode of the whole vocabulary (each
    // rule was applied the moment it was learned — identical to
    // folding the finished rule chain over the initial spaced form),
    // restricted to the frequency head.
    "corpus_bpe_encode" -> Corpus.bpeOracleSql(16, "encode"),
    // The vocab.json half of the tokenizer release: final token
    // inventory from the same 16 unrolled learning rounds.
    "corpus_bpe_vocab" -> Corpus.bpeOracleSql(16, "vocab"),
    // PMI collocations: rank by the rational score N·c_xy/(c_x·c_y)
    // (log is monotone — never evaluated); one exact integer product
    // per side, one IEEE division, ORDER BY the rounded score so the
    // boundary matches the Spark plan exactly.
    "corpus_pmi_topk" ->
      s"""WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |uni AS (SELECT w, count(*) AS c
         |  FROM (SELECT unnest(ws) AS w FROM ws) WHERE w <> '' GROUP BY 1),
         |tot AS (SELECT sum(c) AS n_tokens FROM uni),
         |pr AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c_pair FROM (
         |    SELECT unnest(list_transform(range(1, len(ws)),
         |      i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
         |    FROM ws WHERE len(ws) >= 2)
         |  WHERE p.w1 <> '' AND p.w2 <> '' GROUP BY 1, 2 HAVING count(*) >= 5),
         |sc AS (SELECT w1, w2, c_pair,
         |    ${graft.operators.PortableRound.sql(
              "(c_pair * n_tokens) / (u1.c * u2.c)", 6)} AS pmi_score
         |  FROM pr JOIN uni u1 ON pr.w1 = u1.w JOIN uni u2 ON pr.w2 = u2.w
         |  CROSS JOIN tot)
         |SELECT w1, w2, c_pair, pmi_score FROM sc
         |ORDER BY pmi_score DESC, w1, w2 LIMIT 50""".stripMargin,
    // PQ-ADC: slice → stride-sampled codewords → struct-min argmin
    // encode → query↔codeword LUT join → fixed-order 4-cell sum. The
    // subspace distances are index-order folds (list_dot_product of the
    // diff with itself), the argmin is a lexicographic struct min, and
    // the ADC total is four single-row sums added in fixed syntactic
    // order — every step bit-deterministic on both engines.
    "ann_pq_adc_topk" -> annPqAdcOracle,
    // IVF-PQ: coarse L2 assignment (struct-min argmin over the centroid
    // cross), residual slicing, PQ encode, probed-cell LUT join, and the
    // fixed-order ADC sum — every arithmetic step the bit-deterministic
    // patterns already proven in ann_ivf_topk and ann_pq_adc_topk.
    "ann_ivf_pq_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
        |nn AS (SELECT greatest(1, count(*) // ${graft.operators.Similarity.IvfK}) AS spacing FROM e),
        |cent AS (SELECT vec_id AS cent_id, ed AS c FROM e, nn
        |  WHERE vec_id % spacing = 0 AND vec_id // spacing < ${graft.operators.Similarity.IvfK}),
        |asg0 AS (SELECT e.vec_id, c.cent_id,
        |    list_dot_product(list_transform(range(1,65), i -> e.ed[i] - c.c[i]),
        |                     list_transform(range(1,65), i -> e.ed[i] - c.c[i])) AS d2
        |  FROM e CROSS JOIN cent c),
        |asg AS (SELECT vec_id, min({'d': d2, 'c': cent_id}).c AS cent_id
        |  FROM asg0 GROUP BY 1),
        |res AS (SELECT a.vec_id, a.cent_id,
        |    list_transform(range(1,65), i -> e.ed[i] - c.c[i]) AS r
        |  FROM asg a JOIN e USING (vec_id) JOIN cent c USING (cent_id)),
        |sub AS (SELECT vec_id, cent_id, s, r[s*16+1 : s*16+16] AS sv
        |  FROM res, range(0, 4) t(s)),
        |cw AS (SELECT CAST(vec_id // 8 AS INT) AS cw_id, s, sv AS cw_sv
        |  FROM sub WHERE vec_id % 8 = 0 AND vec_id < 128),
        |enc0 AS (SELECT x.vec_id, x.cent_id, x.s, c.cw_id,
        |    list_dot_product(list_transform(range(1,17), i -> x.sv[i] - c.cw_sv[i]),
        |                     list_transform(range(1,17), i -> x.sv[i] - c.cw_sv[i])) AS d2
        |  FROM sub x JOIN cw c USING (s)),
        |codes AS (SELECT vec_id, cent_id, s, min({'d': d2, 'c': cw_id}).c AS code
        |  FROM enc0 GROUP BY 1, 2, 3),
        |qp0 AS (SELECT e.vec_id AS query_id, e.ed AS qe, c.cent_id,
        |    list_dot_product(list_transform(range(1,65), i -> e.ed[i] - c.c[i]),
        |                     list_transform(range(1,65), i -> e.ed[i] - c.c[i])) AS d
        |  FROM e CROSS JOIN cent c WHERE e.vec_id < 10),
        |qp AS (SELECT query_id, qe, cent_id FROM (SELECT query_id, qe, cent_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d, cent_id) AS rn
        |  FROM qp0) WHERE rn <= 2),
        |qres AS (SELECT p.query_id, p.cent_id,
        |    list_transform(range(1,65), i -> p.qe[i] - c.c[i]) AS qr
        |  FROM qp p JOIN cent c USING (cent_id)),
        |qsub AS (SELECT query_id, cent_id, s, qr[s*16+1 : s*16+16] AS qsv
        |  FROM qres, range(0, 4) t(s)),
        |lut AS (SELECT q.query_id, q.cent_id, q.s, c.cw_id,
        |    list_dot_product(list_transform(range(1,17), i -> q.qsv[i] - c.cw_sv[i]),
        |                     list_transform(range(1,17), i -> q.qsv[i] - c.cw_sv[i])) AS qd2
        |  FROM qsub q JOIN cw c USING (s)),
        |sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id,
        |    sum(CASE WHEN cd.s = 0 THEN l.qd2 END) + sum(CASE WHEN cd.s = 1 THEN l.qd2 END)
        |      + sum(CASE WHEN cd.s = 2 THEN l.qd2 END) + sum(CASE WHEN cd.s = 3 THEN l.qd2 END) AS approx
        |  FROM codes cd JOIN lut l ON cd.cent_id = l.cent_id AND cd.s = l.s AND cd.code = l.cw_id
        |  WHERE cd.vec_id <> l.query_id GROUP BY 1, 2)
        |SELECT query_id, rank, neighbor_id,
        |  floor(approx * 1000000 + 0.5) / 1000000 AS approx_d2
        |FROM (SELECT query_id, neighbor_id, approx,
        |    row_number() OVER (PARTITION BY query_id ORDER BY approx, neighbor_id) AS rank
        |  FROM sc) WHERE rank <= 5""".stripMargin,
    // Int8 quantization: float→double widening, abs/max, one divide and
    // one multiply are bit-deterministic IEEE ops — codes compare with
    // no rounding discipline; only the displayed scale is pround'd. The
    // code vector ships as a CSV string: the driver's row-sort chokes
    // on array-typed cells (pandas can't factorize ndarray — the
    // round-5 harness crash), and a comma join of exact ints carries
    // identical information with a sortable, hashable dtype.
    "embed_quantize_int8" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
         |m AS (SELECT vec_id, ed,
         |    list_max(list_transform(ed, v -> abs(v))) AS max_abs FROM e),
         |s AS (SELECT vec_id, ed,
         |    CASE WHEN max_abs > 0 THEN CAST(127 AS DOUBLE) / max_abs
         |         ELSE 0.0 END AS qs FROM m)
         |SELECT vec_id, ${graft.operators.PortableRound.sql("qs", 6)} AS qscale,
         |  array_to_string(list_transform(ed,
         |    v -> CAST(CAST(floor(v * qs + 0.5) AS INT) AS VARCHAR)), ',') AS codes
         |FROM s""".stripMargin,
    // Power-iteration replica: same 1/1024 quantization, same two
    // passes, same sign-safe (+2^50) floor-division downscale by 2^20.
    "embed_pca_power" ->
      """WITH e AS (SELECT vec_id, t.j AS j,
        |    CAST(floor(CAST(embedding AS DOUBLE[])[t.j] * 1024 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings CROSS JOIN range(1, 65) AS t(j)),
        |y1 AS (SELECT vec_id, CAST(sum(qv) AS BIGINT) AS y FROM e GROUP BY 1),
        |z1 AS (SELECT j, CAST(sum(e.qv * y1.y) AS BIGINT) AS z1
        |  FROM e JOIN y1 USING (vec_id) GROUP BY 1),
        |x1 AS (SELECT j,
        |    (z1 + 1125899906842624) // 1048576 - 1073741824 AS x1 FROM z1),
        |y2 AS (SELECT vec_id, CAST(sum(e.qv * x1.x1) AS BIGINT) AS y2
        |  FROM e JOIN x1 USING (j) GROUP BY 1),
        |z2 AS (SELECT j, CAST(sum(e.qv * y2.y2) AS BIGINT) AS z2
        |  FROM e JOIN y2 USING (vec_id) GROUP BY 1)
        |SELECT x1.j, x1.x1, z2.z2 FROM x1 JOIN z2 USING (j) ORDER BY j""".stripMargin,
    "dedup_exact_keep_first" ->
      """SELECT doc_id, content_hash FROM (
        |  SELECT doc_id, md5(text) AS content_hash,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,
    "dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  list_sort(list(doc_id)) AS doc_ids
        |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    // Mirrors the Spark side's stop-shingle cap (capHotKeys 4096):
    // shingles above the cap leave the UNIVERSE — sizes and
    // intersection alike — so a zipf-hot boilerplate gram shifts the
    // Jaccard identically on both engines instead of blowing the
    // oracle's self-join f-squared.
    "dedup_ngram_top_pairs" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS shingle
        |  FROM ws WHERE len(w) >= 3),
        |hotsh AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) > 4096),
        |sh AS MATERIALIZED (SELECT * FROM sh0
        |  WHERE shingle NOT IN (SELECT shingle FROM hotsh)),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc1, doc2,
        |  floor((n_inter / (n1.n_sh + n2.n_sh - n_inter)) * 10000 + 0.5) / 10000 AS jaccard
        |FROM inter
        |JOIN sizes n1 ON doc1 = n1.doc_id
        |JOIN sizes n2 ON doc2 = n2.doc_id
        |ORDER BY jaccard DESC, doc1, doc2 LIMIT 20""".stripMargin,
    "ann_brute_topk" -> annBruteOracle,
    "sub_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin,
    "ann_ivf_topk" -> annIvfOracle,
    // Recall evaluation composes the two replicas above verbatim: how
    // much of the exact top-k does the probed IVF recover per query.
    "ann_ivf_recall" ->
      s"""SELECT bf.query_id, count(*) AS n_true,
         |  count(ivf.neighbor_id) AS n_hits,
         |  floor(CAST(count(ivf.neighbor_id) AS DOUBLE) / count(*)
         |    * 10000 + 0.5) / 10000 AS recall
         |FROM ($annBruteOracle) bf
         |LEFT JOIN ($annIvfOracle) ivf
         |  ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
         |GROUP BY bf.query_id""".stripMargin,
    "dedup_fuzzy_neighbors" ->
      """WITH n AS (SELECT c_custkey, c_name FROM customer),
        |v AS (SELECT c_custkey, c_name, unnest(list_distinct([c_name] ||
        |    [c_name[1:i-1] || c_name[i+1:len(c_name)] for i in range(1, len(c_name)+1)])) AS variant
        |  FROM n),
        |cand AS (
        |  SELECT DISTINCT a.c_custkey AS id1, b.c_custkey AS id2,
        |    a.c_name AS name1, b.c_name AS name2
        |  FROM v a JOIN v b ON a.variant = b.variant AND a.c_custkey < b.c_custkey)
        |SELECT id1, count(*) AS n_matches, min(id2) AS min_id2
        |FROM cand WHERE levenshtein(name1, name2) <= 1
        |GROUP BY id1""".stripMargin,
    "text_quality_model" -> {
      val hw = graft.functions.PortableHash.sqlH48("'qw:' || w")
      val hb = graft.functions.PortableHash.sqlH48("'w:' || CAST(bucket AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |b AS (SELECT doc_id, $hw % 1024 AS bucket FROM t),
         |s AS (SELECT doc_id, $hb % 2001 - 1000 AS wm FROM b)
         |SELECT doc_id, CAST(sum(wm) AS BIGINT) AS score_milli,
         |  sum(wm) > 0 AS keep, count(*) AS n_tokens
         |FROM s GROUP BY doc_id""".stripMargin
    },
    // Deterministic per-group sampler: the oracle IS the window
    // formulation the bounded aggregate replaces.
    "sketch_group_sample" -> {
      val h = graft.functions.PortableHash.sqlH48(
        "'gs:' || CAST(event_id AS VARCHAR)")
      s"""WITH h AS (SELECT event_type, event_id, $h AS h48 FROM events),
         |r AS (SELECT event_type, event_id, h48,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY h48, event_id) AS rank
         |  FROM h)
         |SELECT event_type, rank, event_id, h48 FROM r
         |WHERE rank <= 8""".stripMargin
    },
    // Histogram quantile sketch + exact rank twin: integer cents,
    // integer bin mapping and interpolation — bit-replicable.
    "sketch_hist_quantiles" ->
      """WITH li AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |    FROM lineitem),
        |st AS (SELECT min(c) AS cmin, max(c) AS cmax, count(*) AS n FROM li),
        |b AS (SELECT ((c - cmin) * 256) // (cmax - cmin + 1) AS bin,
        |    cmin, cmax, n FROM li CROSS JOIN st),
        |cnt AS (SELECT bin, cmin, cmax, n, count(*) AS cnt FROM b
        |  GROUP BY 1, 2, 3, 4),
        |cum AS (SELECT *, CAST(coalesce(sum(cnt) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM cnt),
        |q AS (SELECT CAST(unnest([25, 50, 75, 90, 99]) AS BIGINT) AS q_pct),
        |sel AS (SELECT q_pct, (q_pct * n + 99) // 100 AS r, bin, cmin, cmax,
        |    cnt, cum_before
        |  FROM cum CROSS JOIN q
        |  WHERE cum_before < (q_pct * n + 99) // 100
        |    AND cum_before + cnt >= (q_pct * n + 99) // 100),
        |est AS (SELECT q_pct, r,
        |    cmin + (bin * (cmax - cmin + 1)) // 256
        |      + ((r - cum_before) * (((bin + 1) * (cmax - cmin + 1)) // 256
        |        - (bin * (cmax - cmin + 1)) // 256)) // cnt AS est_cents,
        |    ((bin + 1) * (cmax - cmin + 1)) // 256
        |      - (bin * (cmax - cmin + 1)) // 256 AS bin_width
        |  FROM sel),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM li)
        |SELECT q_pct, est_cents, rk.c AS exact_cents,
        |  est_cents - rk.c AS err_cents, bin_width
        |FROM est JOIN rk ON rk.rn = est.r""".stripMargin,
    // PSI drift monitor: micro-second midpoint split, fixed-order IEEE
    // binning expression, Laplace-smoothed integer shares, portable
    // log2 — psi_micro is integer-exact on both engines.
    "events_drift_psi" -> {
      val plog = graft.operators.TextAnalysis.plog2MicroDuck("x")
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
         |st AS (SELECT min(us) AS tmin, max(us) AS tmax,
         |    min(value) AS vmin, max(value) AS vmax FROM e),
         |b AS (SELECT event_type,
         |    us < tmin + (tmax - tmin) // 2 AS is_base,
         |    least(greatest(CAST(floor(((value - vmin) * 10) / (vmax - vmin))
         |      AS BIGINT), 0), 9) AS bin
         |  FROM e CROSS JOIN st),
         |cnt AS (SELECT event_type, bin,
         |    CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS c_base,
         |    CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS c_curr
         |  FROM b GROUP BY 1, 2),
         |tot AS (SELECT event_type, CAST(sum(c_base) AS BIGINT) AS n_base,
         |    CAST(sum(c_curr) AS BIGINT) AS n_curr FROM cnt GROUP BY 1),
         |frame AS (SELECT event_type, n_base, n_curr, r.range AS bin
         |  FROM tot CROSS JOIN range(0, 10) r),
         |sm AS (SELECT f.event_type, f.n_base, f.n_curr,
         |    coalesce(c.c_base, 0) + 1 AS cb, coalesce(c.c_curr, 0) + 1 AS cc
         |  FROM frame f LEFT JOIN cnt c
         |    ON f.event_type = c.event_type AND f.bin = c.bin),
         |sx AS (SELECT event_type, n_base, n_curr,
         |    cb * 1000000 // (n_base + 10) AS pm,
         |    cc * 1000000 // (n_curr + 10) AS qm,
         |    greatest((cb * (n_curr + 10) * 1048576) // (cc * (n_base + 10)), 1) AS x
         |  FROM sm),
         |ct AS (SELECT event_type, n_base, n_curr,
         |    (pm - qm) * (($plog) - 20000000) // 1000000 AS c_micro FROM sx)
         |SELECT event_type, max(n_base) AS n_base, max(n_curr) AS n_curr,
         |  CAST(sum(c_micro) AS BIGINT) AS psi_micro
         |FROM ct GROUP BY event_type""".stripMargin
    },
    // Keep-best release pass: recursive-CTE cluster labels (the
    // dedup_cluster_labels oracle, reused as a subquery) joined to the
    // quality-score replica; per-cluster argmax by (quality desc, id).
    "dedup_keep_best" ->
      s"""WITH lab AS (SELECT * FROM ($clusterLabelsOracle)),
         |q AS (SELECT doc_id,
         |    floor((CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
         |      + least(sr * 2.0, 0.3) + least(dr, 0.3)) * 10000 + 0.5) / 10000
         |      AS quality_score
         |  FROM (SELECT doc_id,
         |      (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
         |        / len(string_split(text, ' ')) AS awl,
         |      len(list_distinct(string_split(text, ' ')))::DOUBLE
         |        / len(string_split(text, ' ')) AS dr,
         |      ((length(t) - length(replace(t, ' the ', ''))) / 5
         |        + (length(t) - length(replace(t, ' a ', ''))) / 3
         |        + (length(t) - length(replace(t, ' of ', ''))) / 4
         |        + (length(t) - length(replace(t, ' and ', ''))) / 5)
         |        / len(string_split(text, ' ')) AS sr
         |    FROM (SELECT doc_id, text, ' ' || text || ' ' AS t FROM documents))),
         |r AS (SELECT lab.cluster, lab.vec_id, q.quality_score,
         |    row_number() OVER (PARTITION BY lab.cluster
         |      ORDER BY q.quality_score DESC, lab.vec_id) AS rn
         |  FROM lab JOIN q ON lab.vec_id = q.doc_id)
         |SELECT cluster, max(CASE WHEN rn = 1 THEN vec_id END) AS kept_id,
         |  max(CASE WHEN rn = 1 THEN quality_score END) AS kept_quality,
         |  count(*) AS n_members, count(*) - 1 AS n_dropped
         |FROM r GROUP BY cluster""".stripMargin,
    // CCNet LM perplexity: stupid-backoff bigram LM from the doc_id%5=0
    // reference slice, scored corpus-wide; the log is the integer-exact
    // portable log2 (binary-string MSB + linear mantissa), so score AND
    // bucket replicate bit-for-bit. Tertile cutoffs come from the slice
    // (CCNet's precomputed constants), via the same ntile definition.
    // Batch twin of the watermarked stream-stream lifecycle join: same
    // equi-key + time-range bound, same left-outer null semantics;
    // epoch-micros longs so both engines compare exactly.
    "stream_lifecycle_join" ->
      """WITH s AS (SELECT user_id AS job_id,
        |    'run-' || CAST(event_id AS VARCHAR) AS run_filename,
        |    'instr-' || CAST(user_id % 4 AS VARCHAR) AS instrument_name,
        |    ts AS start_ts
        |  FROM events WHERE event_type = 'view'),
        |f AS (SELECT user_id AS job_id, event_id AS finish_event_id,
        |    ts AS finish_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT f.job_id, finish_event_id, epoch_us(finish_ts) AS finish_us,
        |  run_filename, instrument_name, epoch_us(start_ts) AS start_us,
        |  epoch_ms(finish_ts) - epoch_ms(start_ts) AS run_millis,
        |  start_ts IS NOT NULL AS matched
        |FROM f LEFT JOIN s ON f.job_id = s.job_id
        |  AND finish_ts >= start_ts
        |  AND finish_ts <= start_ts + INTERVAL 4 HOUR""".stripMargin,
    // Leave-one-source-out ablation: the same q_micro scoring CTE as
    // corpus_report_card; all-integer deltas of broadcast totals minus
    // per-source partials (DIV and // agree — every operand nonneg).
    "corpus_source_ablation" ->
      """WITH f AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(t) - length(replace(t, ' the ', ''))) / 5
        |      + (length(t) - length(replace(t, ' a ', ''))) / 3
        |      + (length(t) - length(replace(t, ' of ', ''))) / 4
        |      + (length(t) - length(replace(t, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT source, text, ' ' || text || ' ' AS t FROM documents)),
        |m AS (SELECT source, ws_tokens,
        |    CAST(floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) AS BIGINT) AS q_micro
        |  FROM f),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ws_tokens) AS BIGINT) AS n_toks,
        |    CAST(sum(q_micro) AS BIGINT) AS q_sum FROM m GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(sum(n_toks) AS BIGINT) AS tot_toks,
        |    CAST(sum(q_sum) AS BIGINT) AS tot_q FROM per)
        |SELECT source, tot_docs - n_docs AS docs_without,
        |  tot_toks - n_toks AS tokens_without,
        |  CASE WHEN tot_docs > n_docs
        |    THEN (tot_q - q_sum) // (tot_docs - n_docs) END AS mean_quality_micro_without,
        |  tot_q // tot_docs AS mean_quality_micro_full,
        |  (n_toks * 1000) // tot_toks AS token_share_milli
        |FROM per CROSS JOIN tot""".stripMargin,
    // Incremental (new-vs-corpus) dedup: the exact md5 gate plus the
    // SAME capped LSH bucket table as dedup_threshold_sweep restricted
    // to new×corpus collisions, verified by exact 3-gram Jaccard >= .7.
    "dedup_incremental" ->
      s"""WITH bk0 AS MATERIALIZED (
         |$minhashOracle),
         |hot AS (SELECT band, bucket FROM bk0 GROUP BY 1, 2
         |  HAVING count(*) > 1024),
         |bk AS MATERIALIZED (SELECT * FROM bk0 WHERE NOT EXISTS (
         |  SELECT 1 FROM hot h
         |  WHERE h.band = bk0.band AND h.bucket = bk0.bucket)),
         |ex AS MATERIALIZED (SELECT doc_id, md5(text) AS h FROM documents),
         |exact AS (SELECT n.doc_id, min(c.doc_id) AS exact_of
         |  FROM ex n JOIN ex c ON n.h = c.h AND c.doc_id % 10 >= 2
         |  WHERE n.doc_id % 10 < 2 GROUP BY 1),
         |cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corp_id
         |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
         |  WHERE x.doc_id % 10 < 2 AND y.doc_id % 10 >= 2),
         |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shs AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
         |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
         |  FROM ws WHERE len(w) >= 3),
         |szs AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY 1),
         |ints AS (SELECT c.new_id, c.corp_id, count(*) AS n_int
         |  FROM cand c JOIN shs p ON p.doc_id = c.new_id
         |  JOIN shs q ON q.doc_id = c.corp_id AND p.s = q.s
         |  GROUP BY 1, 2),
         |near AS (SELECT i.new_id, min(i.corp_id) AS near_of
         |  FROM ints i JOIN szs s1 ON s1.doc_id = i.new_id
         |  JOIN szs s2 ON s2.doc_id = i.corp_id
         |  WHERE i.n_int * 10 >= 7 * (s1.n_sh + s2.n_sh - i.n_int)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN e.exact_of IS NOT NULL THEN 'exact'
         |       WHEN nr.near_of IS NOT NULL THEN 'near'
         |       ELSE 'kept' END AS outcome,
         |  coalesce(e.exact_of, nr.near_of) AS dup_of
         |FROM documents d
         |LEFT JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near nr ON nr.new_id = d.doc_id
         |WHERE d.doc_id % 10 < 2""".stripMargin,
    // IVM refresh invariant: the oracle computes the FULL REBUILD of
    // the bucket index over corpus ∪ admitted docs (admission = the
    // same exact/near cascade as dedup_incremental); the Spark side
    // unions the stored corpus index with a delta banding pass over
    // ONLY the admitted slice. Hash equality == refresh ≡ rebuild.
    "dedup_bucket_refresh" ->
      s"""WITH bk0 AS MATERIALIZED (
         |$minhashOracle),
         |hot AS (SELECT band, bucket FROM bk0 GROUP BY 1, 2
         |  HAVING count(*) > 1024),
         |bk AS MATERIALIZED (SELECT * FROM bk0 WHERE NOT EXISTS (
         |  SELECT 1 FROM hot h
         |  WHERE h.band = bk0.band AND h.bucket = bk0.bucket)),
         |ex AS MATERIALIZED (SELECT doc_id, md5(text) AS h FROM documents),
         |exact AS (SELECT n.doc_id, min(c.doc_id) AS exact_of
         |  FROM ex n JOIN ex c ON n.h = c.h AND c.doc_id % 10 >= 2
         |  WHERE n.doc_id % 10 < 2 GROUP BY 1),
         |cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corp_id
         |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
         |  WHERE x.doc_id % 10 < 2 AND y.doc_id % 10 >= 2),
         |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shs AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
         |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
         |  FROM ws WHERE len(w) >= 3),
         |szs AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY 1),
         |ints AS (SELECT c.new_id, c.corp_id, count(*) AS n_int
         |  FROM cand c JOIN shs p ON p.doc_id = c.new_id
         |  JOIN shs q ON q.doc_id = c.corp_id AND p.s = q.s
         |  GROUP BY 1, 2),
         |near AS (SELECT i.new_id, min(i.corp_id) AS near_of
         |  FROM ints i JOIN szs s1 ON s1.doc_id = i.new_id
         |  JOIN szs s2 ON s2.doc_id = i.corp_id
         |  WHERE i.n_int * 10 >= 7 * (s1.n_sh + s2.n_sh - i.n_int)
         |  GROUP BY 1),
         |kept AS (SELECT d.doc_id FROM documents d
         |  LEFT JOIN exact e ON e.doc_id = d.doc_id
         |  LEFT JOIN near nr ON nr.new_id = d.doc_id
         |  WHERE d.doc_id % 10 < 2
         |    AND e.exact_of IS NULL AND nr.near_of IS NULL)
         |SELECT doc_id, band, bucket FROM bk0
         |WHERE doc_id % 10 >= 2
         |   OR doc_id IN (SELECT doc_id FROM kept)""".stripMargin,
    // Fingerprint-table IVM: oracle = FULL winnow rebuild over
    // corpus ∪ admitted; Spark side = stored corpus fingerprints ∪ a
    // delta pass over only the admitted slice. Hash equality proves
    // refresh ≡ rebuild (completes the maintained-index trio).
    "dedup_fp_refresh" -> fpRefreshOracle,
    "dedup_cluster_refresh" -> clusterRefreshOracle,
    "corpus_split_churn" -> splitChurnOracle,
    // Day-2 incremental integration: each stage's already-proven
    // replica scoped in its own derived table (DuckDB allows WITH
    // inside a derived table), counted. The edge delta counts
    // fingerprint pairs with >= 3 shared fps and >= 1 admitted side
    // over the refreshed table — corpus-corpus pair counts cannot
    // change when docs are only added, so this IS the edge-list delta.
    "corpus_daily_increment" ->
      s"""SELECT stage, n FROM (
         |SELECT 'docs_admitted' AS stage, CAST(count(*) AS BIGINT) AS n
         |FROM (WITH $admissionKeptCtes SELECT doc_id FROM kept)
         |UNION ALL
         |SELECT 'buckets_added', CAST(count(*) AS BIGINT)
         |FROM (WITH $admissionKeptCtes
         |  SELECT b.doc_id FROM bk0 b JOIN kept k ON b.doc_id = k.doc_id)
         |UNION ALL
         |SELECT 'fingerprints_added', CAST(count(*) AS BIGINT)
         |FROM (WITH $admissionKeptCtes,
         |  ${winnowChain(" WHERE doc_id IN (SELECT doc_id FROM kept)")}
         |  SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4)
         |UNION ALL
         |SELECT 'signatures_added', CAST(count(*) AS BIGINT)
         |FROM ($embedIndexRefreshOracle) WHERE vec_id % 10 < 2
         |UNION ALL
         |SELECT 'cells_touched', CAST(count(DISTINCT cent_id) AS BIGINT)
         |FROM ($embedCellRefreshOracle) WHERE vec_id % 10 < 2
         |UNION ALL
         |SELECT 'clusters_touched', CAST(count(DISTINCT cluster) AS BIGINT)
         |FROM ($clusterRefreshOracle) WHERE doc_id % 10 < 2
         |UNION ALL
         |SELECT 'edges_added', CAST(count(*) AS BIGINT)
         |FROM (WITH $admissionKeptCtes,
         |  ${winnowChain(
              " WHERE doc_id % 10 >= 2 OR doc_id IN (SELECT doc_id FROM kept)")},
         |  rf AS (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |    FROM m WHERE cnt = 4),
         |  pe AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
         |      greatest(a.doc_id, b.doc_id) AS id2, a.fp_hash
         |    FROM rf a JOIN rf b ON a.fp_hash = b.fp_hash
         |      AND a.doc_id <> b.doc_id
         |    WHERE a.doc_id % 10 < 2)
         |  SELECT id1, id2 FROM pe GROUP BY 1, 2 HAVING count(*) >= 3)
         |) ORDER BY stage""".stripMargin,
    // Hampel median/MAD outliers: both medians are the DISCRETE lower
    // median — rank (cnt+1)//2 in (value, day) order — so every number
    // is an integer shared bit-for-bit (no interpolated percentile).
    "events_mad_outliers" -> madOutliersOracle,
    "events_seasonal_hampel" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, n, day % 7 AS dow FROM d),
        |dm AS (SELECT event_type, dow, n AS dow_med FROM (
        |  SELECT event_type, dow, n, day,
        |    row_number() OVER (PARTITION BY event_type, dow
        |      ORDER BY n, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type, dow) AS cnt
        |  FROM d2) WHERE rn = (cnt + 1) // 2),
        |r AS (SELECT d2.event_type, day, d2.dow, n, dow_med,
        |    n - dow_med AS resid
        |  FROM d2 JOIN dm USING (event_type, dow)),
        |mr AS (SELECT event_type, resid AS med_r FROM (
        |  SELECT event_type, resid, day,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY resid, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM r) WHERE rn = (cnt + 1) // 2),
        |dv AS (SELECT r.event_type, day, dow, n, dow_med, resid, med_r,
        |    abs(resid - med_r) AS adev
        |  FROM r JOIN mr USING (event_type)),
        |md AS (SELECT event_type, adev AS mad_r FROM (
        |  SELECT event_type, adev, day,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY adev, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM dv) WHERE rn = (cnt + 1) // 2)
        |SELECT dv.event_type, day, dow, n, dow_med, resid, med_r, mad_r,
        |  adev > 3 * mad_r AS is_anom
        |FROM dv JOIN md USING (event_type)""".stripMargin,
    // The windowed Hampel: identical math per win = day // 28 block,
    // so each median reads at most 28 daily counts per key.
    "events_hampel_windowed" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, n, day % 7 AS dow,
        |    day // 28 AS win FROM d),
        |dm AS (SELECT event_type, win, dow, n AS dow_med FROM (
        |  SELECT event_type, win, dow, n, day,
        |    row_number() OVER (PARTITION BY event_type, win, dow
        |      ORDER BY n, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type, win, dow) AS cnt
        |  FROM d2) WHERE rn = (cnt + 1) // 2),
        |r AS (SELECT d2.event_type, win, day, d2.dow, n, dow_med,
        |    n - dow_med AS resid
        |  FROM d2 JOIN dm USING (event_type, win, dow)),
        |mr AS (SELECT event_type, win, resid AS med_r FROM (
        |  SELECT event_type, win, resid, day,
        |    row_number() OVER (PARTITION BY event_type, win
        |      ORDER BY resid, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type, win) AS cnt
        |  FROM r) WHERE rn = (cnt + 1) // 2),
        |dv AS (SELECT r.event_type, win, day, dow, n, dow_med, resid, med_r,
        |    abs(resid - med_r) AS adev
        |  FROM r JOIN mr USING (event_type, win)),
        |md AS (SELECT event_type, win, adev AS mad_r FROM (
        |  SELECT event_type, win, adev, day,
        |    row_number() OVER (PARTITION BY event_type, win
        |      ORDER BY adev, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type, win) AS cnt
        |  FROM dv) WHERE rn = (cnt + 1) // 2)
        |SELECT dv.event_type, win, day, dow, n, dow_med, resid, med_r, mad_r,
        |  adev > 3 * mad_r AS is_anom
        |FROM dv JOIN md USING (event_type, win)""".stripMargin,
    // Depth-1 binary segmentation: maximize S_l²/n_l + S_r²/n_r in
    // exact integer milli; argmax via the lexicographic struct max
    // (ties -> earliest day through the negated-day field).
    "events_level_shift" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS s_tot,
        |    count(*) AS n_tot FROM d GROUP BY 1),
        |p AS (SELECT d.event_type, day,
        |    CAST(sum(n) OVER (PARTITION BY d.event_type ORDER BY day)
        |      AS BIGINT) AS s_l,
        |    CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY day)
        |      AS BIGINT) AS n_l,
        |    s_tot, n_tot
        |  FROM d JOIN t USING (event_type)),
        |f AS (SELECT event_type, day, s_l, n_l, s_tot, n_tot,
        |    (s_l * s_l * 1000) // n_l +
        |    ((s_tot - s_l) * (s_tot - s_l) * 1000) // (n_tot - n_l) AS fm
        |  FROM p WHERE n_l < n_tot),
        |b AS (SELECT event_type, max({'f': fm, 'nd': -day, 'day': day,
        |    's_l': s_l, 'n_l': n_l, 's_tot': s_tot, 'n_tot': n_tot}) AS bs
        |  FROM f GROUP BY 1)
        |SELECT event_type, (bs).day AS split_day, (bs).n_tot AS n_days,
        |  ((bs).s_l * 1000) // (bs).n_l AS mean_left_milli,
        |  (((bs).s_tot - (bs).s_l) * 1000) // ((bs).n_tot - (bs).n_l)
        |    AS mean_right_milli,
        |  (bs).f - ((bs).s_tot * (bs).s_tot * 1000) // (bs).n_tot
        |    AS gain_milli
        |FROM b""".stripMargin,
    // One-way dow ANOVA in milli-scaled integer moments; ssb clamps
    // at 0 (per-term floors can undershoot by < |dows|).
    "events_seasonality_strength" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, n, day % 7 AS dow FROM d),
        |bd AS (SELECT event_type,
        |    CAST(sum((s_d * s_d * 1000) // n_d) AS BIGINT) AS f_milli
        |  FROM (SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS s_d,
        |      count(*) AS n_d FROM d2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS s,
        |    CAST(sum(n * n) AS BIGINT) AS sumsq, count(*) AS n_days
        |  FROM d2 GROUP BY 1),
        |m AS (SELECT t.event_type, n_days, s AS total_events,
        |    greatest(f_milli - (s * s * 1000) // n_days, 0) AS ssb_milli,
        |    sumsq * 1000 - (s * s * 1000) // n_days AS sst_milli
        |  FROM t JOIN bd USING (event_type))
        |SELECT event_type, n_days, total_events, ssb_milli, sst_milli,
        |  CASE WHEN sst_milli > 0 THEN (ssb_milli * 1000) // sst_milli
        |       ELSE 0 END AS eta_milli
        |FROM m""".stripMargin,
    // Church & Gale dispersion over the docs a term occurs in; top-N
    // by (total desc, term) on both engines.
    "text_burstiness" ->
      """WITH td AS (SELECT term, doc_id, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  WHERE regexp_matches(term, '^[a-z]+$') GROUP BY 1, 2),
        |top AS (SELECT term, CAST(sum(c) AS BIGINT) AS total FROM td
        |  GROUP BY 1 ORDER BY total DESC, term LIMIT 20),
        |m AS (SELECT td.term, max(total) AS total, count(*) AS df,
        |    CAST(sum(c * c) AS BIGINT) AS sumsq
        |  FROM td JOIN top USING (term) GROUP BY 1)
        |SELECT term, df, total,
        |  ((df * sumsq - total * total) * 1000) // (total * (df - 1))
        |    AS d_milli
        |FROM m WHERE df > 1""".stripMargin,
    // ABC classes over exact E4 part revenue; boundaries integer
    // cross-multiplied, prefix order (rev desc, partkey) on both sides.
    "orders_abc_classes" ->
      """WITH pr AS (SELECT l_partkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      CAST((1 - CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT))
        |      AS BIGINT) AS rev_e4
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT l_partkey, rev_e4,
        |    CAST(sum(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey)
        |      AS BIGINT) AS cum_e4,
        |    (SELECT CAST(sum(rev_e4) AS BIGINT) FROM pr) AS tot_e4
        |  FROM pr),
        |cl AS (SELECT rev_e4, tot_e4,
        |    CASE WHEN cum_e4 * 100 <= tot_e4 * 80 THEN 'A'
        |         WHEN cum_e4 * 100 <= tot_e4 * 95 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM c)
        |SELECT abc_class, count(*) AS n_parts,
        |  CAST(sum(rev_e4) AS BIGINT) AS class_rev_e4,
        |  (CAST(sum(rev_e4) AS BIGINT) * 1000) // max(tot_e4)
        |    AS rev_share_milli
        |FROM cl GROUP BY 1""".stripMargin,
    // Reorder gaps: customer-keyed lag, then segment medians from the
    // (segment, gap) census — discrete lower median at rank (N+1)//2.
    "orders_reorder_intervals" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT)
        |      // 86400 AS day, o_orderkey
        |  FROM orders),
        |g AS (SELECT o_custkey, day - lag(day) OVER (
        |    PARTITION BY o_custkey ORDER BY day, o_orderkey) AS gap
        |  FROM o),
        |gs AS (SELECT c_mktsegment, gap FROM g
        |  JOIN customer ON o_custkey = c_custkey WHERE gap IS NOT NULL),
        |census AS (SELECT c_mktsegment, gap, count(*) AS m
        |  FROM gs GROUP BY 1, 2),
        |t AS (SELECT c_mktsegment, CAST(sum(m) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap * m) AS BIGINT) AS sum_gap, max(gap) AS max_gap
        |  FROM census GROUP BY 1),
        |med AS (SELECT c.c_mktsegment, min(gap) AS median_gap FROM (
        |    SELECT c_mktsegment, gap,
        |      CAST(sum(m) OVER (PARTITION BY c_mktsegment ORDER BY gap)
        |        AS BIGINT) AS cum
        |    FROM census) c
        |  JOIN t ON c.c_mktsegment = t.c_mktsegment
        |  WHERE cum >= (n_gaps + 1) // 2 GROUP BY 1)
        |SELECT t.c_mktsegment, n_gaps, median_gap,
        |  (sum_gap * 1000) // n_gaps AS mean_gap_milli, max_gap
        |FROM t JOIN med ON t.c_mktsegment = med.c_mktsegment""".stripMargin,
    // Standardized TTR at fixed prefixes; docs shorter than k skip
    // that rung on both engines.
    "text_ttr_curve" ->
      """WITH ws AS (SELECT lang, doc_id, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ks(k) AS (VALUES (CAST(50 AS BIGINT)), (CAST(100 AS BIGINT)),
        |    (CAST(200 AS BIGINT))),
        |r AS (SELECT lang, k,
        |    CAST(len(list_distinct(w[1:k])) AS BIGINT) AS types
        |  FROM ws JOIN ks ON n_tokens >= k)
        |SELECT lang, k, count(*) AS n_docs,
        |  CAST(sum(types) AS BIGINT) AS sum_types,
        |  (CAST(sum(types) AS BIGINT) * 1000) // (count(*) * k) AS ttr_milli
        |FROM r GROUP BY 1, 2""".stripMargin,
    "events_attribution_u" ->
      """WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |  FROM events WHERE event_type <> 'purchase'),
        |p AS (SELECT user_id, epoch_us(ts) AS cus FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |a AS (SELECT t.event_id, t.user_id, t.us, t.event_type,
        |    min(p.cus) AS conv_us
        |  FROM t JOIN p ON t.user_id = p.user_id AND p.cus >= t.us
        |  GROUP BY 1, 2, 3, 4),
        |r AS (SELECT event_type, us, event_id,
        |    row_number() OVER (PARTITION BY user_id, conv_us
        |      ORDER BY us, event_id) AS pos,
        |    count(*) OVER (PARTITION BY user_id, conv_us) AS n
        |  FROM a),
        |c AS (SELECT event_type, pos, n,
        |    CASE WHEN n = 1 THEN 1000
        |         WHEN n = 2 THEN 500
        |         WHEN pos = 1 THEN 400 + 200 % (n - 2)
        |         WHEN pos = n THEN 400
        |         ELSE 200 // (n - 2) END AS credit_milli
        |  FROM r)
        |SELECT event_type, count(*) AS n_touches,
        |  CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  CAST(sum(CASE WHEN pos = n THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
        |  CAST(sum(credit_milli) AS BIGINT) AS credit_milli
        |FROM c GROUP BY 1""".stripMargin,
    "graph_label_prop" -> labelPropOracle(),
    "graph_kcore" -> kcoreOracle(),
    "graph_core_distance" -> bfsDepthOracle(),
    "events_forecast_snaive" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |j AS (SELECT d.event_type, abs(d.n - p1.n) AS e1,
        |    abs(d.n - p7.n) AS e7
        |  FROM d JOIN d p1 ON d.event_type = p1.event_type
        |      AND d.day = p1.day + 1
        |    JOIN d p7 ON d.event_type = p7.event_type
        |      AND d.day = p7.day + 7)
        |SELECT event_type, count(*) AS n_days,
        |  CAST(sum(e1) AS BIGINT) AS sum_abs_err_naive,
        |  CAST(sum(e7) AS BIGINT) AS sum_abs_err_snaive,
        |  CAST(sum(e7) AS BIGINT) * 1000
        |    // greatest(CAST(sum(e1) AS BIGINT), 1) AS mase_milli
        |FROM j GROUP BY 1""".stripMargin,
    "orders_rfm_segments" -> rfmOracle,
    // Gradient replica of the decoded histogram entropy: pixel
    // (doc_id + x + y) % 256, the same integer micro-log on both the
    // per-bin counts and N.
    "mm_image_entropy" -> imageEntropyOracle,
    // Same census power iteration, unrolled as materialized CTEs with
    // the identical per-term floor.
    "events_markov_stationary" -> markovStationaryOracle(),
    "graph_modularity" -> modularityOracle(),
    // Same int8 codes (per-vector 127/max_abs scale, floor+0.5), same
    // exact top-20 side as the brute oracle, same integer Spearman.
    "embed_rank_corr" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |cd AS (SELECT vec_id, list_transform(emb, x -> CAST(floor(
        |    x * (CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0 END) + 0.5)
        |    AS BIGINT)) AS codes
        |  FROM (SELECT vec_id, emb,
        |    list_max(list_transform(emb, x -> abs(x))) AS ma FROM e)),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
        |scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        |    floor((list_dot_product(q_emb, emb) /
        |      (sqrt(list_dot_product(q_emb, q_emb)) *
        |       sqrt(list_dot_product(emb, emb)))) * 10000 + 0.5) / 10000
        |      AS cos_sim
        |  FROM e JOIN q ON e.vec_id <> q.query_id),
        |top AS (SELECT query_id, neighbor_id,
        |    CAST(rank AS BIGINT) AS rank_exact FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 20),
        |qd AS (SELECT t.query_id, t.neighbor_id, t.rank_exact,
        |    CAST(list_dot_product(cq.codes, cn.codes) AS BIGINT) AS qdot
        |  FROM top t
        |  JOIN cd cq ON cq.vec_id = t.query_id
        |  JOIN cd cn ON cn.vec_id = t.neighbor_id),
        |rk AS (SELECT query_id, rank_exact,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rank_q
        |  FROM qd),
        |ag AS (SELECT query_id, count(*) AS k,
        |    CAST(sum((rank_exact - rank_q) * (rank_exact - rank_q))
        |      AS BIGINT) AS sum_d2
        |  FROM rk GROUP BY 1)
        |SELECT query_id, k, sum_d2,
        |  1000 - (6000 * sum_d2) // (k * (k * k - 1)) AS rho_milli
        |FROM ag""".stripMargin,
    // Same distinct-day census + lag identity for gaps.
    "events_gap_census" ->
      """WITH d AS (SELECT DISTINCT event_type,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |l AS (SELECT event_type, day,
        |    lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM d),
        |g AS (SELECT event_type, count(*) AS n_days,
        |    max(day) - min(day) + 1 AS span_days,
        |    coalesce(max(day - prev - 1), 0) AS longest_gap,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND day > prev + 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
        |  FROM l GROUP BY 1)
        |SELECT event_type, n_days, span_days, longest_gap, n_gaps,
        |  (n_days * 1000) // span_days AS completeness_milli
        |FROM g""".stripMargin,
    // Arithmetic replica of the decoded VAD: the PCM recurrence
    // ((doc_id·31 + 7i) % 65536) − 32768, 80-sample frames, the same
    // sum_abs < 12288·len gate, longest run via gaps-and-islands.
    "mm_audio_vad" -> audioVadOracle,
    // Same closed-form pairwise identity over the same centi
    // quantization; every sum cast back from HUGEINT to BIGINT.
    "embed_alignment" ->
      """WITH q AS (SELECT CAST(label AS BIGINT) AS label,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(floor(x * 100 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |b AS (SELECT label, q FROM q
        |  UNION ALL SELECT CAST(-1 AS BIGINT), q FROM q),
        |ex AS (SELECT label, unnest(q) AS v,
        |    generate_subscripts(q, 1) AS d FROM b),
        |pd AS (SELECT label, d, CAST(sum(v * v) AS BIGINT) AS a,
        |    CAST(sum(v) AS BIGINT) AS s FROM ex GROUP BY 1, 2),
        |pl AS (SELECT label, CAST(sum(a) AS BIGINT) AS sum_sq,
        |    CAST(sum(s * s) AS BIGINT) AS sum_s2 FROM pd GROUP BY 1),
        |n AS (SELECT label, count(*) AS n_vecs FROM b GROUP BY 1)
        |SELECT pl.label, n.n_vecs,
        |  n_vecs * sum_sq - sum_s2 AS ssd_centi2,
        |  ((n_vecs * sum_sq - sum_s2) * 100)
        |    // ((n_vecs * (n_vecs - 1)) // 2) AS mean_sq_micro
        |FROM pl JOIN n ON pl.label = n.label WHERE n_vecs >= 2""".stripMargin,
    // Same 24 h funnel lock + bounded minute census: the latency
    // domain is capped at 2880 min by the funnel windows, so the
    // quantile walk runs over ≤2881 census rows on both engines.
    "events_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS view_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS click_us FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us >= view_us
        |    AND us <= view_us + 86400000000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS purchase_us FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us >= click_us
        |    AND us <= click_us + 86400000000 GROUP BY 1),
        |cen AS (SELECT (p.purchase_us - v.view_us) // 60000000 AS mb,
        |    count(*) AS m
        |  FROM p JOIN v USING (user_id) GROUP BY 1),
        |cum AS (SELECT mb, m,
        |    CAST(sum(m) OVER (ORDER BY mb) AS BIGINT) AS cum FROM cen),
        |tot AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS n_conv,
        |    CAST(sum(mb * m) AS BIGINT) AS sum_min FROM cen),
        |cuts AS (SELECT
        |    max(CASE WHEN q = 50 THEN mb END) AS p50_min,
        |    max(CASE WHEN q = 90 THEN mb END) AS p90_min,
        |    max(CASE WHEN q = 99 THEN mb END) AS p99_min
        |  FROM cum CROSS JOIN tot
        |  CROSS JOIN (SELECT unnest([50, 90, 99]) AS q)
        |  WHERE cum - m < (q * n_conv + 99) // 100
        |    AND cum >= (q * n_conv + 99) // 100)
        |SELECT n_conv, p50_min, p90_min, p99_min,
        |  CASE WHEN n_conv = 0 THEN NULL
        |    ELSE (sum_min * 1000) // n_conv END AS mean_min_milli
        |FROM cuts CROSS JOIN tot""".stripMargin,
    // Same grouped-census Gini: the rank-weighted sum from the
    // count-of-counts census, every HUGEINT-prone sum cast to BIGINT.
    "events_user_gini" ->
      """WITH pu AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cen AS (SELECT event_type, c, count(*) AS m FROM pu GROUP BY 1, 2),
        |cum AS (SELECT event_type, c, m,
        |    CAST(coalesce(sum(m) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS r
        |  FROM cen),
        |g AS (SELECT event_type,
        |    CAST(sum(m) AS BIGINT) AS n_users,
        |    CAST(sum(c * m) AS BIGINT) AS total_events,
        |    CAST(sum(c * (m * r + (m * (m + 1)) // 2)) AS BIGINT)
        |      AS rank_weighted_sum
        |  FROM cum GROUP BY 1)
        |SELECT event_type, n_users, total_events, rank_weighted_sum,
        |  (2 * rank_weighted_sum - (n_users + 1) * total_events) * 1000
        |    // (n_users * total_events) AS gini_milli
        |FROM g""".stripMargin,
    // Arithmetic replica of the decoded shot detector: the AVI frames
    // are the deterministic gradient (doc_id + 7f + x + y) % 256, so
    // each pixel's |Δ| to the next frame is 7 unless the value wraps
    // (≥ 249 → 249); doc_id % 10 = 0 payloads are truncated and yield
    // no pairs. Pixel grid unrolled via bounded static ranges.
    "mm_shot_boundaries" -> shotBoundariesOracle,
    // Same integer Flesch/FK formulas; DuckDB counts vowel runs via
    // regexp_extract_all (its regexp_count has no portable twin note
    // needed — both count non-overlapping matches left to right).
    "text_readability" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(length(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    greatest(CAST(length(text) - length(replace(text, '.', ''))
        |      + length(text) - length(replace(text, '!', ''))
        |      + length(text) - length(replace(text, '?', ''))
        |      AS BIGINT), 1) AS n_sentences,
        |    CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents),
        |g AS (SELECT *,
        |    206835 - (1015 * n_words) // n_sentences
        |      - (84600 * n_syllables) // n_words AS flesch_milli,
        |    (390 * n_words) // n_sentences
        |      + (11800 * n_syllables) // n_words - 15590 AS fk_grade_milli
        |  FROM f WHERE n_words > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables, flesch_milli,
        |  fk_grade_milli,
        |  CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
        |    WHEN flesch_milli >= 70000 THEN 'easy'
        |    WHEN flesch_milli >= 50000 THEN 'medium'
        |    WHEN flesch_milli >= 30000 THEN 'hard'
        |    ELSE 'very_hard' END AS band
        |FROM g""".stripMargin,
    // Identical KMV set algebra: per-type top-64 of the portable hash,
    // union sketch re-ranked from the two sketches, same double
    // operation order in the estimates (((k−1)·2⁴⁸ / kth) · c) / k.
    "sketch_kmv_setops" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    ${graft.functions.PortableHash.sqlH48("cast(user_id as varchar)")} AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
         |sk AS (SELECT event_type, h FROM r WHERE rn <= 64),
         |ty AS (SELECT DISTINCT event_type FROM events),
         |pr AS (SELECT a.event_type AS t1, b.event_type AS t2
         |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
         |uk AS (SELECT t1, t2, h,
         |    row_number() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT pr.t1, pr.t2, s.h FROM pr JOIN sk s
         |    ON s.event_type = pr.t1 OR s.event_type = pr.t2)),
         |ukk AS (SELECT t1, t2, h FROM uk WHERE rn <= 64),
         |ust AS (SELECT t1, t2, count(*) AS u_size, max(h) AS u_kth
         |  FROM ukk GROUP BY 1, 2),
         |ik AS (SELECT u.t1, u.t2, count(*) AS inter_k FROM ukk u
         |  JOIN sk s1 ON s1.event_type = u.t1 AND s1.h = u.h
         |  JOIN sk s2 ON s2.event_type = u.t2 AND s2.h = u.h GROUP BY 1, 2),
         |du AS (SELECT DISTINCT event_type, user_id FROM events),
         |sz AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
         |ei AS (SELECT a.event_type AS t1, b.event_type AS t2,
         |    count(*) AS ei FROM du a JOIN du b
         |  ON a.user_id = b.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT ust.t1, ust.t2, u_size, u_kth,
         |  coalesce(ik.inter_k, CAST(0 AS BIGINT)) AS inter_k,
         |  CASE WHEN u_size < 64 THEN CAST(u_size AS DOUBLE)
         |    ELSE ${graft.operators.PortableRound.sql(
                "CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE) / u_kth", 4)}
         |    END AS est_union,
         |  CASE WHEN u_size < 64
         |    THEN CAST(coalesce(ik.inter_k, CAST(0 AS BIGINT)) AS DOUBLE)
         |    ELSE ${graft.operators.PortableRound.sql(
                "CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE) / u_kth" +
                  " * coalesce(ik.inter_k, CAST(0 AS BIGINT)) / CAST(64.0 AS DOUBLE)", 4)}
         |    END AS est_inter,
         |  s1.n + s2.n - coalesce(ei.ei, CAST(0 AS BIGINT)) AS exact_union,
         |  coalesce(ei.ei, CAST(0 AS BIGINT)) AS exact_inter
         |FROM ust
         |LEFT JOIN ik ON ust.t1 = ik.t1 AND ust.t2 = ik.t2
         |JOIN sz s1 ON s1.event_type = ust.t1
         |JOIN sz s2 ON s2.event_type = ust.t2
         |LEFT JOIN ei ON ust.t1 = ei.t1 AND ust.t2 = ei.t2""".stripMargin,
    "events_funnel_paths" ->
      """WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |  FROM events WHERE event_type <> 'purchase'),
        |p AS (SELECT user_id, epoch_us(ts) AS cus FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |a AS (SELECT t.event_id, t.user_id, t.us, t.event_type,
        |    min(p.cus) AS conv_us
        |  FROM t JOIN p ON t.user_id = p.user_id AND p.cus >= t.us
        |  GROUP BY 1, 2, 3, 4),
        |pa AS (SELECT user_id, conv_us,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path,
        |    count(*) AS n_touches
        |  FROM a GROUP BY 1, 2),
        |cs AS (SELECT path, count(*) AS n_conversions,
        |    CAST(sum(n_touches) AS BIGINT) AS total_touches
        |  FROM pa GROUP BY 1),
        |r AS (SELECT path, n_conversions, total_touches,
        |    total_touches * 1000 // n_conversions AS avg_len_milli,
        |    row_number() OVER (ORDER BY n_conversions DESC, path) AS rank
        |  FROM cs)
        |SELECT CAST(rank AS BIGINT) AS rank, path, n_conversions,
        |  total_touches, avg_len_milli
        |FROM r WHERE rank <= 10""".stripMargin,
    "sub_window_funcs" ->
      """WITH li AS (SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
        |  FROM lineitem),
        |w AS (SELECT l_returnflag, l_orderkey, l_linenumber, price_c,
        |    row_number() OVER win AS rn,
        |    percent_rank() OVER win AS pct_rank,
        |    cume_dist() OVER win AS cume,
        |    ntile(4) OVER win AS quartile,
        |    nth_value(price_c, 10) OVER win AS nth10_price_c,
        |    lag(price_c, 1) OVER win AS prev_price_c,
        |    lead(price_c, 1) OVER win AS next_price_c
        |  FROM li WINDOW win AS (PARTITION BY l_returnflag
        |    ORDER BY price_c, l_orderkey, l_linenumber))
        |SELECT l_returnflag, l_orderkey, l_linenumber, price_c,
        |  CAST(rn AS BIGINT) AS rn, pct_rank, cume,
        |  CAST(quartile AS BIGINT) AS quartile, nth10_price_c,
        |  prev_price_c, next_price_c
        |FROM w WHERE rn % 997 = 0""".stripMargin,
    "sub_join_order_advisor" ->
      """WITH sc AS (SELECT count(*) AS n_c,
        |    count(DISTINCT c_custkey) AS ndv_c_cust FROM customer),
        |so AS (SELECT count(*) AS n_o,
        |    count(DISTINCT o_custkey) AS ndv_o_cust,
        |    count(DISTINCT o_orderkey) AS ndv_o_ord FROM orders),
        |sl AS (SELECT count(*) AS n_l,
        |    count(DISTINCT l_orderkey) AS ndv_l_ord FROM lineitem),
        |aco AS (SELECT count(*) AS act_co FROM customer
        |  JOIN orders ON c_custkey = o_custkey),
        |aol AS (SELECT count(*) AS act_ol FROM orders
        |  JOIN lineitem ON o_orderkey = l_orderkey),
        |base AS (SELECT *,
        |    (n_c * n_o) // greatest(ndv_c_cust, ndv_o_cust) AS est_co,
        |    (n_o * n_l) // greatest(ndv_o_ord, ndv_l_ord) AS est_ol
        |  FROM sc, so, sl, aco, aol),
        |b2 AS (SELECT *,
        |    (est_co * n_l) // greatest(ndv_o_ord, ndv_l_ord) AS est_final
        |  FROM base),
        |pl AS (SELECT 'customer_orders_first' AS plan, est_co AS est_inter,
        |    act_co AS act_inter, est_final, est_co, est_ol FROM b2
        |  UNION ALL SELECT 'orders_lineitem_first', est_ol, act_ol,
        |    est_final, est_co, est_ol FROM b2)
        |SELECT plan, est_inter, act_inter, est_final,
        |  abs(est_inter - act_inter) * 1000 // act_inter AS abs_err_milli,
        |  est_inter = least(est_co, est_ol) AS chosen
        |FROM pl""".stripMargin,
    // Hard-negative mining: same hyperplane-LSH signature CTEs as the
    // ANN oracles; in-bucket cosine in the [3000, 7000) x4 band, top-3
    // per anchor with the topk_by tie-break (value DESC, smaller id).
    "embed_hard_negatives" ->
      s"""$lshSigCtes,
         |a AS (SELECT vec_id AS anchor_id, emb AS ea, lsh_bucket
         |  FROM sig WHERE vec_id % 20 = 0),
         |sc AS (SELECT a.anchor_id, s.vec_id AS neg_id,
         |    CAST(floor(list_dot_product(a.ea, s.emb) /
         |      (sqrt(list_dot_product(a.ea, a.ea)) * sqrt(list_dot_product(s.emb, s.emb)))
         |      * 10000 + 0.5) AS BIGINT) AS cos_x4
         |  FROM a JOIN sig s ON s.lsh_bucket = a.lsh_bucket
         |    AND s.vec_id <> a.anchor_id)
         |SELECT anchor_id, CAST(rank AS BIGINT) AS rank, neg_id, cos_x4 FROM (
         |  SELECT anchor_id, neg_id, cos_x4,
         |    row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY cos_x4 DESC, neg_id) AS rank
         |  FROM sc WHERE cos_x4 >= 3000 AND cos_x4 < 7000)
         |WHERE rank <= 3""".stripMargin,
    // Decayed trending: EXACT integer half-life weight 1e6 >> (age DIV 7)
    // anchored at the newest day; rank window over the bounded census.
    // The >= 20-half-life horizon clamp mirrors the Spark side: both
    // engines state exact-zero weight past the horizon explicitly
    // instead of relying on engine-specific >> overflow semantics.
    "events_trending_decay" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
        |    epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |a AS (SELECT max(day) AS max_day FROM daily),
        |sc AS (SELECT event_type, item,
        |    CAST(sum(n * (CASE WHEN (max_day - day) // 7 >= 20 THEN 0
        |      ELSE 1000000 >> CAST((max_day - day) // 7 AS INT) END)) AS BIGINT)
        |      AS score_micro,
        |    CAST(sum(n) AS BIGINT) AS n_events
        |  FROM daily CROSS JOIN a GROUP BY 1, 2)
        |SELECT event_type, CAST(rank AS BIGINT) AS rank, item,
        |  score_micro, n_events FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY score_micro DESC, item) AS rank FROM sc)
        |WHERE rank <= 10""".stripMargin,
    // kNN label purity: same LSH signature CTEs + top-5 in-bucket
    // neighbors (cos_x4 DESC, id tie-break), label agreement vote.
    "embed_label_purity" ->
      s"""$lshSigScaledCtes,
         |l AS (SELECT vec_id, label FROM embeddings),
         |sc AS (SELECT a.vec_id, b.vec_id AS nid,
         |    CAST(floor(list_dot_product(a.emb, b.emb) /
         |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))
         |      * 10000 + 0.5) AS BIGINT) AS cos_x4
         |  FROM sig a JOIN sig b ON a.lsh_bucket = b.lsh_bucket
         |    AND a.vec_id <> b.vec_id),
         |top AS (SELECT vec_id, nid FROM (
         |  SELECT vec_id, nid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_x4 DESC, nid) AS rn FROM sc) WHERE rn <= 5)
         |SELECT t.vec_id, l.label,
         |  CAST(count(*) AS BIGINT) AS n_neighbors,
         |  CAST(sum(CASE WHEN nl.label = l.label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  (CAST(sum(CASE WHEN nl.label = l.label THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000) // count(*) AS purity_milli,
         |  2 * sum(CASE WHEN nl.label = l.label THEN 1 ELSE 0 END) < count(*)
         |    AS suspect
         |FROM top t JOIN l ON l.vec_id = t.vec_id
         |JOIN l nl ON nl.vec_id = t.nid
         |GROUP BY 1, 2""".stripMargin,
    // CDC round-trip proof: the Spark side applies diff(A,B) to A with
    // MERGE semantics; the oracle recomputes snapshot B DIRECTLY (same
    // reprice/purge rules as sub_snapshot_diff, keys ≡0 mod 4 slice).
    // Matching proves diff and apply compose losslessly.
    "sub_apply_changeset" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 4 = 0)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 89 = 0 THEN (price_c * 105) // 100
        |    ELSE price_c END AS price_c
        |FROM base WHERE o_orderkey % 97 <> 0""".stripMargin,
    // Bloom sizing advisor: the same rank-64 KMV NDV replica as
    // sub_profile_columns, then pure integer sizing math (ln2 as the
    // micro constant 693147; idealized fpp at optimal k is exactly
    // 2^-k, so no runtime libm anywhere).
    "sub_bloom_advisor" -> {
      def ndvBranch(table: String, column: String) = {
        val h = graft.functions.PortableHash.sqlH48(s"CAST($column AS VARCHAR)")
        s"""SELECT '$table.$column' AS key_col,
           |  (SELECT CASE WHEN count(*) < 64 THEN count(*)
           |      ELSE CAST(floor(CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE)
           |        / max(h) + 0.5) AS BIGINT) END
           |    FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
           |      FROM (SELECT DISTINCT $h AS h FROM $table))
           |    WHERE rn <= 64) AS ndv_est
           |FROM (SELECT 1)""".stripMargin
      }
      s"""WITH cols AS (
         |${Seq(("events", "user_id"), ("orders", "o_custkey"),
              ("lineitem", "l_partkey"), ("lineitem", "l_suppkey"))
             .map { case (t, c) => ndvBranch(t, c) }
             .mkString("\n UNION ALL\n")}),
         |x AS (SELECT key_col, ndv_est,
         |    CAST(unnest([1048576, 8388608]) AS BIGINT) AS m_bits FROM cols),
         |y AS (SELECT key_col, ndv_est, m_bits,
         |    (m_bits * 1000) // ndv_est AS bits_per_key_milli,
         |    greatest(1, (m_bits * 693147 + ndv_est * 500000)
         |      // (ndv_est * 1000000)) AS k_opt
         |  FROM x)
         |SELECT key_col, ndv_est, m_bits, bits_per_key_milli, k_opt,
         |  1000000 >> CAST(least(k_opt, 62) AS INT) AS fpp_micro,
         |  (ndv_est * 9585060 + 999999) // 1000000 AS m_opt_1pct_bits
         |FROM y""".stripMargin
    },
    "embed_kcenter_coreset" -> kcenterOracle(),
    "embed_mmr_select" -> mmrOracle(),
    "dedup_minhash_bbit" -> minhashBbitOracle(),
    // ACF over the calendar spine (missing days are zero-count rows);
    // dev = T*x - S is the spike-days mean-centering; sums are HUGEINT
    // internally (DuckDB sum) and CAST back to BIGINT at the boundary;
    // acf_milli is the sign-safe floor-vs-truncate-proof DIV, NULL on
    // a constant series (den = 0), never a division error.
    "events_acf" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM d GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day FROM rng),
        |x AS (SELECT s.event_type, s.day, coalesce(d.n, 0) AS x
        |  FROM spine s LEFT JOIN d USING (event_type, day)),
        |st AS (SELECT event_type, count(*) AS t_days, sum(x) AS s FROM x GROUP BY 1),
        |dev AS (SELECT x.event_type, x.day, st.t_days * x.x - st.s AS dev
        |  FROM x JOIN st USING (event_type)),
        |dn AS (SELECT event_type, sum(dev * dev) AS den FROM dev GROUP BY 1),
        |nm AS (SELECT a.event_type, l.lag, sum(a.dev * b.dev) AS num
        |  FROM dev a
        |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
        |  JOIN dev b ON b.event_type = a.event_type AND b.day = a.day + l.lag
        |  GROUP BY 1, 2)
        |SELECT nm.event_type, CAST(nm.lag AS BIGINT) AS lag,
        |  CAST(nm.num AS BIGINT) AS num, CAST(dn.den AS BIGINT) AS den,
        |  CAST(CASE WHEN dn.den = 0 THEN NULL
        |    WHEN nm.num >= 0 THEN (1000 * nm.num) // dn.den
        |    ELSE -((1000 * (-nm.num)) // dn.den) END AS BIGINT) AS acf_milli
        |FROM nm JOIN dn USING (event_type)""".stripMargin,
    // Triangle census replica: canonical id-ordered 3-way pair join
    // (the Spark side's degree-ordered orientation finds the SAME
    // triangle set); same winnow pair builder as the pagerank oracle,
    // with the 4096 hot-fingerprint cap mirrored.
    "graph_triangles" ->
      s"""${winnowCte()},
         |fp0 AS MATERIALIZED (SELECT DISTINCT doc_id, wmin // 32768 AS fp_hash
         |  FROM m WHERE cnt = 4),
         |hot AS (SELECT fp_hash FROM fp0 GROUP BY 1 HAVING count(*) > 4096),
         |fp AS MATERIALIZED (SELECT * FROM fp0
         |  WHERE fp_hash NOT IN (SELECT fp_hash FROM hot)),
         |p AS MATERIALIZED (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |t AS (SELECT x.id1 AS a, x.id2 AS b, y.id2 AS c
         |  FROM p x JOIN p y ON x.id2 = y.id1
         |  JOIN p z ON z.id1 = x.id1 AND z.id2 = y.id2),
         |members AS (SELECT a AS doc_id FROM t
         |  UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM members GROUP BY 1""".stripMargin,
    // Zipf fit replica: same bounded top-N, same integer plog2 micro
    // logs, same shared right-shift, sums in HUGEINT, sign-safe //.
    "text_zipf_fit" -> {
      import graft.operators.TextAnalysis.plog2MicroDuck
      s"""WITH v AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM
         |    (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w IS NOT NULL AND w <> '' GROUP BY w),
         |top AS (SELECT w, freq FROM v ORDER BY freq DESC, w LIMIT 1000),
         |r AS (SELECT freq,
         |    CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rk
         |  FROM top),
         |fm AS (SELECT max(freq) AS fmax FROM top),
         |sh AS (SELECT rk,
         |    greatest(freq >> greatest(length(format('{:b}', fmax)) - 30, 0), 1) AS fs
         |  FROM r CROSS JOIN fm),
         |xy AS (SELECT ${plog2MicroDuck("rk")} AS x, ${plog2MicroDuck("fs")} AS y
         |  FROM sh),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS n_terms,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(x * x) AS HUGEINT) AS sxx,
         |    CAST(sum(x * y) AS HUGEINT) AS sxy FROM xy)
         |SELECT CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(CASE WHEN n_terms * sxy - sx * sy >= 0
         |    THEN ((n_terms * sxy - sx * sy) * 1000) // (n_terms * sxx - sx * sx)
         |    ELSE -(((sx * sy - n_terms * sxy) * 1000) // (n_terms * sxx - sx * sx))
         |    END AS BIGINT) AS slope_milli
         |FROM s""".stripMargin
    },
    // Hapax profile: integer vocabulary-richness rollup per source.
    "text_hapax_ratio" ->
      """WITH tf AS (SELECT source, w, count(*) AS f FROM
        |    (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w IS NOT NULL AND w <> '' GROUP BY 1, 2)
        |SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  (CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
        |    // count(*) AS hapax_milli,
        |  (CAST(count(*) AS BIGINT) * 1000) // CAST(sum(f) AS BIGINT) AS ttr_milli
        |FROM tf GROUP BY source""".stripMargin,
    // Day-of-week profile: portable epoch_day % 7, exact milli shares.
    "events_dow_profile" ->
      """WITH c AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1)
        |SELECT c.event_type, dow, CAST(n AS BIGINT) AS n,
        |  (CAST(n AS BIGINT) * 1000) // total AS share_milli,
        |  (CAST(n AS BIGINT) * 7000) // total - 1000 AS dev_milli
        |FROM c JOIN t USING (event_type)""".stripMargin,
    // Multiprobe LSH: home bucket + one-bit flips, same sig CTEs.
    "ann_lsh_multiprobe" -> annLshMultiprobeOracle,
    // Recall eval: exact top-5 vs the single-probe and multiprobe LSH
    // answers, one row per (mode, query) — quantifying what the
    // dominance spec only orders.
    "ann_multiprobe_recall" ->
      s"""SELECT mm.mode, bf.query_id, count(*) AS n_true,
         |  count(c.neighbor_id) AS n_hits,
         |  floor(CAST(count(c.neighbor_id) AS DOUBLE) / count(*)
         |    * 10000 + 0.5) / 10000 AS recall
         |FROM (SELECT unnest(['single', 'multiprobe']) AS mode) mm
         |CROSS JOIN ($annBruteOracle) bf
         |LEFT JOIN (
         |  SELECT 'single' AS mode, query_id, neighbor_id FROM ($annLshOracle)
         |  UNION ALL
         |  SELECT 'multiprobe', query_id, neighbor_id FROM ($annLshMultiprobeOracle)
         |) c ON c.mode = mm.mode AND bf.query_id = c.query_id
         |  AND bf.neighbor_id = c.neighbor_id
         |GROUP BY 1, 2""".stripMargin,
    // Budget-mix allocation: same q_micro CTE; the cumulative walk's
    // window sum is CAST to BIGINT (DuckDB window sum -> HUGEINT).
    "corpus_budget_mix" ->
      """WITH f AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(t) - length(replace(t, ' the ', ''))) / 5
        |      + (length(t) - length(replace(t, ' a ', ''))) / 3
        |      + (length(t) - length(replace(t, ' of ', ''))) / 4
        |      + (length(t) - length(replace(t, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT source, text, ' ' || text || ' ' AS t FROM documents)),
        |m AS (SELECT source, ws_tokens,
        |    CAST(floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) AS BIGINT) AS q_micro
        |  FROM f),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ws_tokens) AS BIGINT) AS n_toks,
        |    CAST(sum(q_micro) AS BIGINT) AS q_sum FROM m GROUP BY 1),
        |per2 AS (SELECT source, n_toks, q_sum // n_docs AS mean_q_micro FROM per),
        |b AS (SELECT (CAST(sum(n_toks) AS BIGINT) * 400) // 1000 AS budget_toks
        |  FROM per2),
        |wk AS (SELECT source, mean_q_micro, n_toks,
        |    CAST(row_number() OVER (ORDER BY mean_q_micro DESC, source) AS BIGINT) AS rank,
        |    CAST(coalesce(sum(n_toks) OVER (ORDER BY mean_q_micro DESC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM per2)
        |SELECT source, rank, mean_q_micro, n_toks, budget_toks,
        |  greatest(least(n_toks, budget_toks - cum_before), 0) AS alloc_toks,
        |  (greatest(least(n_toks, budget_toks - cum_before), 0) * 1000) // n_toks
        |    AS alloc_milli
        |FROM wk CROSS JOIN b""".stripMargin,
    // Centroid drift: exact DECIMAL(38,30) per-dimension means on both
    // halves (the ann_centroid_outliers convention), cosine as x4 int.
    "embed_centroid_drift" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |ex AS (SELECT label, vec_id % 2 = 0 AS old_half, unnest(emb) AS x,
        |    generate_subscripts(emb, 1) AS pos FROM e),
        |m AS (SELECT label, old_half, pos,
        |    sum(CAST(x AS DECIMAL(38,30)))::DOUBLE / count(*) AS m,
        |    count(*) AS n FROM ex GROUP BY 1, 2, 3),
        |c AS (SELECT label, old_half, list(m ORDER BY pos) AS c,
        |    CAST(max(n) AS BIGINT) AS n_vecs FROM m GROUP BY 1, 2)
        |SELECT a.label, a.n_vecs AS n_old, b.n_vecs AS n_new,
        |  CAST(floor(list_dot_product(a.c, b.c) /
        |    (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c)))
        |    * 10000 + 0.5) AS BIGINT) AS centroid_cos_x4
        |FROM c a JOIN c b ON a.label = b.label AND a.old_half AND NOT b.old_half""".stripMargin,
    // Transition matrix: per-user lag bigrams, row-normalized milli.
    "events_transition_matrix" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type
        |  FROM events),
        |b AS (SELECT from_type, event_type AS to_type, count(*) AS n
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total FROM b GROUP BY 1)
        |SELECT b.from_type, to_type, CAST(n AS BIGINT) AS n, row_total,
        |  (CAST(n AS BIGINT) * 1000) // row_total AS prob_milli
        |FROM b JOIN t USING (from_type)""".stripMargin,
    "text_lm_perplexity" -> {
      val plog = graft.operators.TextAnalysis.plog2MicroDuck("x")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |    WHERE len(string_split(text, ' ')) >= 2),
         |tr AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2 FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |      i -> {'w1': w[i], 'w2': w[i+1]})) AS t FROM d)),
         |uni AS (SELECT w1, count(*) AS c_w1 FROM (
         |    SELECT unnest(w) AS w1 FROM d WHERE doc_id % 5 = 0) GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_w1) AS BIGINT) AS n_tok,
         |    count(*) AS vocab FROM uni),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM tr
         |  WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         |sc AS (SELECT tr.doc_id,
         |    CASE WHEN bi.c12 IS NOT NULL AND u1.c_w1 IS NOT NULL
         |      THEN bi.c12 ELSE (coalesce(u2.c_w1, 0) + 1) * 2 END AS num,
         |    CASE WHEN bi.c12 IS NOT NULL AND u1.c_w1 IS NOT NULL
         |      THEN u1.c_w1 ELSE (n_tok + vocab) * 5 END AS den,
         |    CASE WHEN bi.c12 IS NOT NULL AND u1.c_w1 IS NOT NULL
         |      THEN 0 ELSE 1 END AS backoff,
         |    CASE WHEN u2.c_w1 IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tr LEFT JOIN bi ON tr.w1 = bi.w1 AND tr.w2 = bi.w2
         |    LEFT JOIN uni u1 ON tr.w1 = u1.w1
         |    LEFT JOIN uni u2 ON tr.w2 = u2.w1
         |    CROSS JOIN tot),
         |sx AS (SELECT doc_id,
         |    greatest((num * 1073741824) // den, 1) AS x, backoff, oov FROM sc),
         |nll AS (SELECT doc_id, 30000000 - ($plog) AS nll_micro,
         |    backoff, oov FROM sx),
         |pd AS (SELECT doc_id, count(*) AS n_trans,
         |    CAST(sum(backoff) AS BIGINT) AS n_backoff,
         |    CAST(sum(oov) AS BIGINT) AS n_oov,
         |    CAST(sum(nll_micro) // count(*) AS BIGINT) AS nll_avg_micro
         |  FROM nll GROUP BY 1),
         |-- bounded deterministic calibration sample (bottom-2000 slice
         |-- docs by portable 48-bit hash) — mirrors the Spark side's
         |-- topk_by reservoir; ntile over the SAMPLE replays the Spark
         |-- side's rank-n1 / rank-n1+n2 reads exactly
         |smp AS (SELECT doc_id, nll_avg_micro FROM pd
         |  WHERE doc_id % 5 = 0
         |  ORDER BY ${graft.functions.PortableHash.sqlH48(
               "'ppl:' || CAST(doc_id AS VARCHAR)")}, doc_id
         |  LIMIT 2000),
         |cut AS (SELECT max(CASE WHEN nt = 1 THEN nll_avg_micro END) AS t1,
         |    max(CASE WHEN nt = 2 THEN nll_avg_micro END) AS t2
         |  FROM (SELECT doc_id, nll_avg_micro,
         |      ntile(3) OVER (ORDER BY nll_avg_micro, doc_id) AS nt
         |    FROM smp))
         |SELECT doc_id, n_trans, n_backoff, n_oov, nll_avg_micro,
         |  CASE WHEN nll_avg_micro <= t1 THEN 'head'
         |       WHEN nll_avg_micro <= t2 THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM pd CROSS JOIN cut""".stripMargin
    },
    "corpus_moore_lewis" -> {
      val plog = graft.operators.TextAnalysis.plog2MicroDuck("x")
      def model(pred: String, tag: String): String =
        s"""uni_$tag AS (SELECT w1, count(*) AS c_w1 FROM (
           |    SELECT unnest(w) AS w1 FROM d WHERE $pred) GROUP BY 1),
           |tot_$tag AS (SELECT CAST(sum(c_w1) AS BIGINT) AS n_tok,
           |    count(*) AS vocab FROM uni_$tag),
           |bi_$tag AS (SELECT w1, w2, count(*) AS c12 FROM tr
           |  WHERE $pred GROUP BY 1, 2),
           |sc_$tag AS (SELECT tr.doc_id,
           |    CASE WHEN bi.c12 IS NOT NULL AND u1.c_w1 IS NOT NULL
           |      THEN bi.c12 ELSE (coalesce(u2.c_w1, 0) + 1) * 2 END AS num,
           |    CASE WHEN bi.c12 IS NOT NULL AND u1.c_w1 IS NOT NULL
           |      THEN u1.c_w1 ELSE (n_tok + vocab) * 5 END AS den
           |  FROM tr LEFT JOIN bi_$tag bi ON tr.w1 = bi.w1 AND tr.w2 = bi.w2
           |    LEFT JOIN uni_$tag u1 ON tr.w1 = u1.w1
           |    LEFT JOIN uni_$tag u2 ON tr.w2 = u2.w1
           |    CROSS JOIN tot_$tag),
           |nl_$tag AS (SELECT doc_id, 30000000 - ($plog) AS nll FROM (
           |    SELECT doc_id,
           |      greatest((num * 1073741824) // den, 1) AS x FROM sc_$tag)),
           |pd_$tag AS (SELECT doc_id, count(*) AS n_trans,
           |    CAST(sum(nll) // count(*) AS BIGINT) AS nll_${tag}_micro
           |  FROM nl_$tag GROUP BY 1)"""
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |    FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |tr AS (SELECT doc_id, source, t.w1 AS w1, t.w2 AS w2 FROM (
         |    SELECT doc_id, source, unnest(list_transform(range(1, len(w)),
         |      i -> {'w1': w[i], 'w2': w[i+1]})) AS t FROM d)),
         |${model("source = 'src1'", "in")},
         |${model("doc_id % 5 = 0", "gen")}
         |SELECT a.doc_id, a.n_trans, a.nll_in_micro, b.nll_gen_micro,
         |  a.nll_in_micro - b.nll_gen_micro AS ce_diff_micro,
         |  a.nll_in_micro - b.nll_gen_micro <= 0 AS selected
         |FROM pd_in a JOIN pd_gen b ON a.doc_id = b.doc_id""".stripMargin
    },
    "text_kn_perplexity" -> {
      val plogNum = graft.operators.TextAnalysis.plog2MicroDuck("num_x")
      val plogDen = graft.operators.TextAnalysis.plog2MicroDuck("den_x")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |    WHERE len(string_split(text, ' ')) >= 2),
         |tr AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2 FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |      i -> {'w1': w[i], 'w2': w[i+1]})) AS t FROM d)),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM tr
         |  WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |    count(*) AS n1p FROM bi GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS n1pr FROM bi GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM bi) AS b,
         |    (SELECT count(DISTINCT uw) FROM (
         |      SELECT unnest(w) AS uw FROM d WHERE doc_id % 5 = 0)) AS v),
         |sc AS (SELECT tr.doc_id,
         |    CASE WHEN ctx.c1 IS NOT NULL
         |      THEN greatest(4 * coalesce(bi.c12, 0) - 3, 0) * tot.b
         |        + 3 * ctx.n1p * coalesce(cont.n1pr, 0)
         |      ELSE coalesce(cont.n1pr, 0) + 1 END AS num0,
         |    CASE WHEN ctx.c1 IS NOT NULL THEN 4 * ctx.c1 * tot.b
         |      ELSE tot.b + tot.v END AS den_x,
         |    CASE WHEN ctx.c1 IS NULL THEN 1 ELSE 0 END AS no_ctx,
         |    CASE WHEN ctx.c1 IS NOT NULL AND bi.c12 IS NULL
         |      THEN 1 ELSE 0 END AS backoff
         |  FROM tr LEFT JOIN bi ON tr.w1 = bi.w1 AND tr.w2 = bi.w2
         |    LEFT JOIN ctx ON tr.w1 = ctx.w1
         |    LEFT JOIN cont ON tr.w2 = cont.w2
         |    CROSS JOIN tot),
         |sx AS (SELECT doc_id, greatest(num0, 1) AS num_x, den_x,
         |    no_ctx, backoff FROM sc),
         |nl AS (SELECT doc_id, ($plogDen) - ($plogNum) AS nll_micro,
         |    no_ctx, backoff FROM sx)
         |SELECT doc_id, count(*) AS n_trans,
         |  CAST(sum(no_ctx) AS BIGINT) AS n_no_ctx,
         |  CAST(sum(backoff) AS BIGINT) AS n_backoff,
         |  CAST(sum(nll_micro) // count(*) AS BIGINT) AS nll_avg_micro
         |FROM nl GROUP BY 1""".stripMargin
    },
    // Exact-integer Simpson numerator/denominator; only the final
    // ratio is portably rounded.
    "text_char_diversity" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest(string_split(substr(text, 1, 256), '')) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS alphabet,
        |  CAST(sum(cnt) AS BIGINT) AS n_sampled,
        |  CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
        |  floor(CAST(sum(cnt * cnt) AS DOUBLE) / (sum(cnt) * sum(cnt))
        |    * 1000000 + 0.5) / 1000000 AS simpson
        |FROM cc GROUP BY doc_id""".stripMargin,
    // Same distinct-3-gram shingles as the dedup family; first owner =
    // min doc_id per gram.
    "text_ngram_novelty" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
        |  FROM ws WHERE len(w) >= 3),
        |perdoc AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY 1),
        |own AS (SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY 1),
        |novel AS (SELECT doc_id, count(*) AS n_novel FROM own GROUP BY 1)
        |SELECT p.doc_id, p.n_grams,
        |  CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
        |  floor(CAST(coalesce(n.n_novel, 0) AS DOUBLE) / p.n_grams
        |    * 1000000 + 0.5) / 1000000 AS novelty
        |FROM perdoc p LEFT JOIN novel n ON p.doc_id = n.doc_id""".stripMargin,
    "dedup_semantic_keep_first" ->
      s"""${ivfCellCtes()},
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cent_id = b.cent_id AND a.shard = b.shard AND a.vec_id < b.vec_id
         |  WHERE ${duckCos("a.emb", "b.emb")} > 0.4)
         |SELECT vec_id, cent_id FROM assigned
         |WHERE vec_id NOT IN (SELECT vec_id FROM dups)""".stripMargin,
    "dedup_chunks_global" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (SELECT doc_id, unnest([{'pos': i, 'chunk': array_to_string(w[i*4+1:i*4+4], ' ')}
        |    for i in range(0, CAST(ceil(len(w)/4.0) AS BIGINT))], recursive := true) FROM w),
        |bp AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
        |pd AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
        |kept AS (SELECT * FROM ch ANTI JOIN bp USING (chunk))
        |SELECT doc_id, pd.n_chunks, count(*) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        |FROM kept JOIN pd USING (doc_id)
        |GROUP BY doc_id, pd.n_chunks""".stripMargin,
    "corpus_source_cap" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |      len(string_split(text, ' ')) AS q
        |  FROM documents),
        |r AS (SELECT doc_id, source, q,
        |    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rank
        |  FROM d)
        |SELECT doc_id, source, CAST(rank AS INT) AS rank,
        |  floor(q * 10000 + 0.5) / 10000 AS quality
        |FROM r WHERE rank <= 10""".stripMargin,
    // the bloom prefilter is semantics-transparent (no false negatives;
    // false positives die in the real join), so the oracle is the PLAIN
    // join — the bloom may only change performance, never the result
    "j_bloom_prefilter" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day, count(*) AS n_items,
        |  cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= '1995-03-01' AND o_orderdate < '1995-04-01'
        |GROUP BY 1""".stripMargin,
    "ann_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  floor((list_dot_product(a.emb, b.emb) /
        |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))) * 10000 + 0.5) / 10000 AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.emb, b.emb) /
        |  (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) > 0.4""".stripMargin,
    "skew_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        |  cast(round(sum(cast(value as decimal(18,2))), 2) as double) AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    "skew_salted_join" ->
      """SELECT e.event_type,
        |  cast(round(sum(cast(value as decimal(18,2)) * cast(w.weight as decimal(18,2))), 2) as double) AS weighted_value
        |FROM events e JOIN (VALUES ('click', 1.0), ('view', 0.1), ('purchase', 10.0),
        |  ('signup', 5.0), ('error', 0.0)) AS w(event_type, weight)
        |  ON e.event_type = w.event_type
        |GROUP BY e.event_type""".stripMargin,
    "sub_percentiles" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |marks AS (
        |  SELECT *,
        |    floor(cast(n - 1 as double) * 0.5 + 1.0) AS lo_50,
        |    ceil(cast(n - 1 as double) * 0.5 + 1.0) AS hi_50,
        |    (cast(n - 1 as double) * 0.5 + 1.0) - floor(cast(n - 1 as double) * 0.5 + 1.0) AS frac_50,
        |    floor(cast(n - 1 as double) * 0.95 + 1.0) AS lo_95,
        |    ceil(cast(n - 1 as double) * 0.95 + 1.0) AS hi_95,
        |    (cast(n - 1 as double) * 0.95 + 1.0) - floor(cast(n - 1 as double) * 0.95 + 1.0) AS frac_95
        |  FROM ranked)
        |SELECT l_returnflag,
        |  floor((max(CASE WHEN rn = lo_50 THEN l_extendedprice END)
        |    + (max(CASE WHEN rn = hi_50 THEN l_extendedprice END)
        |       - max(CASE WHEN rn = lo_50 THEN l_extendedprice END)) * max(frac_50)) * 100 + 0.5) / 100 AS p50_exact,
        |  floor((max(CASE WHEN rn = lo_95 THEN l_extendedprice END)
        |    + (max(CASE WHEN rn = hi_95 THEN l_extendedprice END)
        |       - max(CASE WHEN rn = lo_95 THEN l_extendedprice END)) * max(frac_95)) * 100 + 0.5) / 100 AS p95_exact
        |FROM marks GROUP BY l_returnflag""".stripMargin,
    // Bounded-state approx aggregates, ORACLE-CHECKED: rank-k replica
    // of the portable KMV estimate (same arithmetic as the proven
    // sketch_kmv_distinct row) + a count-histogram discrete median —
    // the picked price is an original value (no arithmetic), so the
    // double survives the hash compare bit-for-bit.
    "sub_approx_aggs" ->
      s"""WITH li AS (SELECT l_returnflag, l_extendedprice AS price,
         |    ${graft.functions.PortableHash.sqlH48("CAST(l_partkey AS VARCHAR)")} AS h
         |  FROM lineitem),
         |hh AS (SELECT DISTINCT l_returnflag, h FROM li),
         |r AS (SELECT l_returnflag, h,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM hh),
         |kmv AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS k_used,
         |    CASE WHEN count(*) < 64 THEN cast(count(*) as double)
         |         ELSE ${graft.operators.PortableRound.sql(
                  "CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE) / max(h)", 4)} END AS est_parts
         |  FROM r WHERE rn <= 64 GROUP BY 1),
         |pc AS (SELECT l_returnflag, price, count(*) AS c FROM li GROUP BY 1, 2),
         |cm AS (SELECT l_returnflag, price, c,
         |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY price) AS cum,
         |    (sum(c) OVER (PARTITION BY l_returnflag) + 1) // 2 AS target FROM pc),
         |med AS (SELECT l_returnflag, price AS p50_exact FROM cm
         |  WHERE cum - c < target AND target <= cum)
         |SELECT k.l_returnflag, k.k_used, k.est_parts, m.p50_exact
         |FROM kmv k JOIN med m USING (l_returnflag)""".stripMargin,
    "sub_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  cast(round(sum(cast(o_totalprice as decimal(18,2))), 2) as double) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "sub_cube" ->
      """SELECT lang, source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY CUBE(lang, source)""".stripMargin,
    "sub_pivot" ->
      """WITH d AS (SELECT lang,
        |    'src' || (CAST(substr(source, 4, 10) AS BIGINT) % 4) AS b
        |  FROM documents)
        |SELECT lang,
        |  CAST(sum(CASE WHEN b = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS src0,
        |  CAST(sum(CASE WHEN b = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS src1,
        |  CAST(sum(CASE WHEN b = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS src2,
        |  CAST(sum(CASE WHEN b = 'src3' THEN 1 ELSE 0 END) AS BIGINT) AS src3
        |FROM d GROUP BY lang""".stripMargin,
    "sub_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,
    "sub_full_outer" ->
      """WITH cust AS (SELECT c_custkey, c_name FROM customer
        |  WHERE c_mktsegment = 'BUILDING'),
        |act AS (SELECT o_custkey, count(*) AS n_orders,
        |    cast(round(sum(cast(o_totalprice as decimal(18,2))), 2) as double) AS total_spend
        |  FROM orders
        |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |  GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  coalesce(c_name, '(outside-segment)') AS c_name,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(total_spend, 0.0) AS total_spend
        |FROM cust FULL OUTER JOIN act ON c_custkey = o_custkey""".stripMargin,
    "sub_ilike_join" ->
      """SELECT n_name, count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name ILIKE '%ation_1%' GROUP BY n_name""".stripMargin,
    "sub_date_ops" ->
      """SELECT o_orderkey,
        |  cast(year(o_orderdate) as int) AS y,
        |  cast(month(o_orderdate) as int) AS m,
        |  cast(dayofweek(o_orderdate) + 1 as int) AS dow,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_day,
        |  cast(date_diff('day', cast(o_orderdate as date), DATE '1998-12-31') as int) AS age_days
        |FROM orders WHERE o_orderkey < 500""".stripMargin,
    "sql_top_customers" ->
      """SELECT c_custkey, c_name, count(*) AS n_orders,
        |  cast(round(sum(cast(o_totalprice as decimal(18,2))), 2) as double) AS spend
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY spend DESC, c_custkey LIMIT 25""".stripMargin,
    "sub_extractor_stats" ->
      """SELECT vec_id,
        |  floor((cast(list_max(embedding) as double)) * 10000 + 0.5) / 10000 AS emb_max,
        |  floor((cast(list_min(embedding) as double)) * 10000 + 0.5) / 10000 AS emb_min,
        |  floor((list_sum(embedding::DOUBLE[]) / len(embedding)) * 10000 + 0.5) / 10000 AS emb_mean,
        |  cast(len(embedding) as bigint) AS emb_dim
        |FROM embeddings""".stripMargin,
    "sub_common_path" ->
      """SELECT lang,
        |  CASE WHEN count(distinct source) > 1 THEN '/data/' || lang
        |       ELSE min('/data/' || lang || '/' || source || '/run.nxs') END AS common_path,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang""".stripMargin,
    "mm_meta_stats" ->
      """SELECT modality, count(*) AS n,
        |  cast(sum(32) as bigint) AS total_bytes,
        |  cast(sum(CASE WHEN modality = 'image'
        |    THEN (n_chars % 64 + 16) * (n_chars % 48 + 16) ELSE 0 END) as bigint) AS total_pixels,
        |  cast(sum(CASE WHEN modality = 'video'
        |    THEN n_chars % 240 + 24 ELSE 0 END) as bigint) AS total_frames
        |FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |        n_chars FROM documents)
        |GROUP BY modality""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id, cast(n_chars % 240 + 24 as int) AS n_frames,
        |  array_to_string((range(0, n_chars % 240 + 24, 10))[1:8], ',') AS sampled_frames
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    "mm_resize_plan" ->
      """SELECT doc_id,
        |  cast(n_chars % 64 + 16 as int) AS width,
        |  cast(n_chars % 48 + 16 as int) AS height,
        |  cast(floor((n_chars % 64 + 16) *
        |    least(1.0, 32.0 / greatest(n_chars % 64 + 16, n_chars % 48 + 16))) as int) AS new_width,
        |  cast(floor((n_chars % 48 + 16) *
        |    least(1.0, 32.0 / greatest(n_chars % 64 + 16, n_chars % 48 + 16))) as int) AS new_height
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,
    // aHash replica: same hex-nibble byte parse (uppercase alphabet on
    // both sides), same exact-integer block threshold, bit weights via
    // pow(2,k) (exact well below 2^53).
    "mm_byte_ahash" ->
      """WITH b AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |    list_transform(range(0, 32), i ->
        |      16 * (strpos('0123456789ABCDEF', substr(upper(sha256(text)), 2*i+1, 1)) - 1)
        |        + (strpos('0123456789ABCDEF', substr(upper(sha256(text)), 2*i+2, 1)) - 1)) AS bytes
        |  FROM documents),
        |s AS (SELECT doc_id, modality, bytes, list_sum(bytes) AS total FROM b)
        |SELECT doc_id, modality,
        |  CAST(list_sum(list_transform(range(0, 8), k ->
        |    CASE WHEN list_sum(bytes[4*k+1:4*k+4]) * 8 > total
        |         THEN CAST(pow(2, k) AS BIGINT) ELSE 0 END)) AS BIGINT) AS ahash
        |FROM s""".stripMargin,
    "text_lang_id" -> langIdOracle,
    // confusion-matrix evaluation composes the lang-id replica verbatim
    "text_lang_confusion" ->
      s"""WITH li AS ($langIdOracle),
         |cm AS (SELECT declared_lang, pred_lang, count(*) AS n
         |  FROM li GROUP BY 1, 2),
         |tot AS (SELECT declared_lang, sum(n) AS t FROM cm GROUP BY 1)
         |SELECT cm.declared_lang, cm.pred_lang, cm.n,
         |  floor(CAST(cm.n AS DOUBLE) / t * 10000 + 0.5) / 10000 AS frac
         |FROM cm JOIN tot USING (declared_lang)""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  cast(n_words as bigint) AS n_words,
        |  floor((avg_word_len) * 10000 + 0.5) / 10000 AS avg_word_len,
        |  floor((distinct_ratio) * 10000 + 0.5) / 10000 AS distinct_ratio,
        |  floor((stop_ratio) * 10000 + 0.5) / 10000 AS stop_ratio,
        |  floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |    + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) / 10000 AS quality_score
        |FROM (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::DOUBLE AS n_words,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(t) - length(replace(t, ' the ', ''))) / 5
        |      + (length(t) - length(replace(t, ' a ', ''))) / 3
        |      + (length(t) - length(replace(t, ' of ', ''))) / 4
        |      + (length(t) - length(replace(t, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS t FROM documents))""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  cast(len(string_split(text, ' ')) as bigint) AS ws_tokens,
        |  cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) as bigint) AS bpe_ish_tokens,
        |  n_chars
        |FROM documents""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  cast(list_sum(list_transform(string_split(text, ' '),
        |    (w, i) -> (length(w) * 31 + ascii(substr(w, 1, 1)) + ascii(right(w, 1)) * 7) * i))
        |    % 1000000007 as bigint) AS fingerprint
        |FROM documents""".stripMargin,
    // Independent formulation on purpose: the engine computes the as-of
    // via union+window (no join operator); the oracle uses DuckDB's
    // native ASOF JOIN. Agreement checks the SEMANTICS, not the plan.
    "asof_last_click" ->
      """WITH clicks AS (SELECT user_id, ts, max(value) AS click_value
        |    FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |errs AS (SELECT event_id, user_id, ts, value AS err_value
        |    FROM events WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS err_us, e.err_value,
        |  epoch_us(c.ts) AS click_us, c.click_value
        |FROM errs e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    // the NATIVE exec must match the same ASOF oracle as the composed form
    "asof_join_native" ->
      """WITH clicks AS (SELECT user_id, ts, max(value) AS click_value
        |    FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |errs AS (SELECT event_id, user_id, ts, value AS err_value
        |    FROM events WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS err_us, e.err_value,
        |  epoch_us(c.ts) AS click_us, c.click_value
        |FROM errs e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    // FORWARD direction of the native exec: DuckDB ASOF with the
    // inequality flipped picks the earliest right at-or-after.
    "asof_forward_native" ->
      """WITH clicks AS (SELECT user_id, ts, max(value) AS click_value
        |    FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |errs AS (SELECT event_id, user_id, ts, value AS err_value
        |    FROM events WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS err_us, e.err_value,
        |  epoch_us(c.ts) AS click_us, c.click_value
        |FROM errs e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts <= c.ts""".stripMargin,
    // NEAREST + tolerance: both ASOF directions, then a CASE picks the
    // closer in-tolerance candidate (ties backward, merge_asof rules).
    "asof_nearest_native" ->
      """WITH clicks AS (SELECT user_id, ts, max(value) AS click_value
        |    FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |errs AS (SELECT event_id, user_id, ts, value AS err_value
        |    FROM events WHERE event_type = 'error'),
        |b AS (SELECT e.event_id, c.ts AS m_ts, c.click_value AS m_val
        |    FROM errs e ASOF LEFT JOIN clicks c
        |    ON e.user_id = c.user_id AND e.ts >= c.ts),
        |f AS (SELECT e.event_id, c.ts AS m_ts, c.click_value AS m_val
        |    FROM errs e ASOF LEFT JOIN clicks c
        |    ON e.user_id = c.user_id AND e.ts <= c.ts),
        |j AS (SELECT e.event_id, e.user_id, epoch_us(e.ts) AS err_us,
        |    e.err_value,
        |    CASE WHEN b.m_ts IS NOT NULL
        |      AND epoch_us(e.ts) - epoch_us(b.m_ts) <= 600000000
        |      THEN epoch_us(e.ts) - epoch_us(b.m_ts) END AS bdiff,
        |    epoch_us(b.m_ts) AS b_us, b.m_val AS b_val,
        |    CASE WHEN f.m_ts IS NOT NULL
        |      AND epoch_us(f.m_ts) - epoch_us(e.ts) <= 600000000
        |      THEN epoch_us(f.m_ts) - epoch_us(e.ts) END AS fdiff,
        |    epoch_us(f.m_ts) AS f_us, f.m_val AS f_val
        |  FROM errs e
        |  JOIN b ON b.event_id = e.event_id
        |  JOIN f ON f.event_id = e.event_id)
        |SELECT event_id, user_id, err_us, err_value,
        |  CASE WHEN bdiff IS NOT NULL AND (fdiff IS NULL OR bdiff <= fdiff)
        |       THEN b_us WHEN fdiff IS NOT NULL THEN f_us END AS click_us,
        |  CASE WHEN bdiff IS NOT NULL AND (fdiff IS NULL OR bdiff <= fdiff)
        |       THEN b_val WHEN fdiff IS NOT NULL THEN f_val END AS click_value
        |FROM j""".stripMargin,
    // Oracle uses the plain inequality join the engine deliberately
    // avoids (nested-loop at scale); bin-blocking must not change results.
    "range_incident_stats" ->
      """WITH w AS (SELECT event_id AS incident_id, ts AS start_ts,
        |    ts + INTERVAL 10 MINUTE AS end_ts
        |  FROM events WHERE event_type = 'error')
        |SELECT w.incident_id, count(*) AS n_events,
        |  count(DISTINCT e.user_id) AS n_users,
        |  cast(sum(cast(e.value as decimal(18,2))) as double) AS total_value
        |FROM w JOIN events e
        |  ON e.ts >= w.start_ts AND e.ts < w.end_ts AND e.event_id <> w.incident_id
        |GROUP BY w.incident_id""".stripMargin,
    // Class-D output advisor: per-bin censuses + the inequality join
    // re-aggregated by the POINT's bin; est = the bin-blocked join's
    // pre-filter pair bound. Integer micros throughout.
    "range_output_advisor" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |inc AS (SELECT event_id AS incident_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 600000000 AS end_us
        |  FROM events WHERE event_type = 'error'),
        |pb AS (SELECT us // 600000000 AS bin,
        |    CAST(count(*) AS BIGINT) AS n_points FROM ev GROUP BY 1),
        |ib AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_intervals FROM (
        |  SELECT unnest(range(start_us // 600000000,
        |    (end_us - 1) // 600000000 + 1)) AS bin FROM inc) GROUP BY 1),
        |act AS (SELECT e.us // 600000000 AS bin,
        |    CAST(count(*) AS BIGINT) AS n_act
        |  FROM ev e JOIN inc i ON e.us >= i.start_us AND e.us < i.end_us
        |    AND e.event_id <> i.incident_id
        |  GROUP BY 1)
        |SELECT pb.bin, n_points, n_intervals,
        |  n_points * n_intervals AS est_pairs,
        |  coalesce(n_act, 0) AS actual_pairs,
        |  (coalesce(n_act, 0) * 1000) // (n_points * n_intervals) AS sel_milli
        |FROM pb JOIN ib USING (bin) LEFT JOIN act USING (bin)""".stripMargin,
    // Same oracle for the optimizer-rule path: the rewrite of the naive
    // inequality join must be invisible in the results.
    "range_join_rule" ->
      """WITH w AS (SELECT event_id AS incident_id, ts AS start_ts,
        |    ts + INTERVAL 10 MINUTE AS end_ts
        |  FROM events WHERE event_type = 'error')
        |SELECT w.incident_id, count(*) AS n_events,
        |  count(DISTINCT e.user_id) AS n_users,
        |  cast(sum(cast(e.value as decimal(18,2))) as double) AS total_value
        |FROM w JOIN events e
        |  ON e.ts >= w.start_ts AND e.ts < w.end_ts AND e.event_id <> w.incident_id
        |GROUP BY w.incident_id""".stripMargin,
    // Rank-k SQL replica of the KMV sketch: same portable hash, same
    // k minima, same estimator arithmetic (63·2^48 is an exact double).
    "sketch_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    ${graft.functions.PortableHash.sqlH48("cast(user_id as varchar)")} AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h)
         |SELECT event_type, count(*) AS k_used, max(h) AS kth_min,
         |  CASE WHEN count(*) < 64 THEN cast(count(*) as double)
         |       ELSE ${graft.operators.PortableRound.sql(
                  // explicit DOUBLE casts: bare x.0 literals are DECIMAL
                  // in DuckDB and their product overflows DECIMAL(18)
                  "CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE) / max(h)", 4)} END AS est_distinct
         |FROM r WHERE rn <= 64 GROUP BY event_type""".stripMargin,
    // Identical CMS rebuild: same salted md5-48 cells, same d×w counter
    // matrix, same min-over-depth estimate — the sketch is portable, so
    // the gate compares ESTIMATES exactly (CMS is one-sided: est>=exact).
    "sketch_cms_heavy" ->
      s"""WITH u AS (SELECT user_id FROM events),
         |dd AS (SELECT unnest(range(0, 4)) AS d),
         |cells AS (SELECT user_id, dd.d,
         |    ${graft.functions.PortableHash.sqlH48(
               "CAST(dd.d AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % 1024 AS c
         |  FROM u, dd),
         |cms AS (SELECT d, c, count(*) AS n FROM cells GROUP BY 1, 2),
         |top AS (SELECT user_id, count(*) AS exact_n FROM u GROUP BY 1
         |  ORDER BY exact_n DESC, user_id LIMIT 20),
         |coords AS (SELECT t.user_id, t.exact_n, dd.d,
         |    ${graft.functions.PortableHash.sqlH48(
               "CAST(dd.d AS VARCHAR) || ':' || CAST(t.user_id AS VARCHAR)")} % 1024 AS c
         |  FROM top t, dd)
         |SELECT co.user_id, co.exact_n,
         |  min(coalesce(cms.n, 0)) AS cms_est,
         |  min(coalesce(cms.n, 0)) - co.exact_n AS overcount
         |FROM coords co LEFT JOIN cms ON co.d = cms.d AND co.c = cms.c
         |GROUP BY 1, 2""".stripMargin,
    // The window formulation the bounded aggregate replaces at scale.
    "topk_per_group" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |SELECT event_type, rank, event_id, value FROM r WHERE rank <= 5""".stripMargin,
    // Matryoshka funnel: 16-dim shortlist (m=20) -> full-dim rerank
    // (k=5) -> recall vs the shared brute-force replica.
    "embed_matryoshka_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
         |s1 AS (
         |  SELECT query_id, e.vec_id AS neighbor_id, e.emb, q.q_emb,
         |    floor((list_dot_product(q_emb[1:16], emb[1:16]) /
         |      (sqrt(list_dot_product(q_emb[1:16], q_emb[1:16])) *
         |       sqrt(list_dot_product(emb[1:16], emb[1:16])))) * 10000 + 0.5) / 10000 AS tcos
         |  FROM e JOIN q ON e.vec_id <> q.query_id),
         |short AS (SELECT query_id, neighbor_id, emb, q_emb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY tcos DESC, neighbor_id) AS srank FROM s1)
         |  WHERE srank <= 20),
         |rr AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY
         |        floor((list_dot_product(q_emb, emb) /
         |          (sqrt(list_dot_product(q_emb, q_emb)) *
         |           sqrt(list_dot_product(emb, emb)))) * 10000 + 0.5) / 10000 DESC,
         |        neighbor_id) AS rank
         |    FROM short) WHERE rank <= 5)
         |SELECT bf.query_id, count(*) AS n_true, count(rr.neighbor_id) AS n_hits,
         |  floor(CAST(count(rr.neighbor_id) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS recall
         |FROM ($annBruteOracle) bf
         |LEFT JOIN rr ON bf.query_id = rr.query_id AND bf.neighbor_id = rr.neighbor_id
         |GROUP BY bf.query_id""".stripMargin,
    "layout_skip_workload" -> {
      val morton = (0 until 16).map(i =>
        s"(((l_partkey >> $i) & 1) * ${1L << (2 * i)}) + " +
          s"(((l_suppkey >> $i) & 1) * ${1L << (2 * i + 1)})").mkString(" + ")
      val (hilbertCtes, hFinal) = Substrate.hilbertOracleCtes(
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
      s"""WITH k AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    CAST($morton AS BIGINT) AS zval FROM lineitem),
         |h0 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    l_partkey & 65535 AS hx, l_suppkey & 65535 AS hy,
         |    CAST(0 AS BIGINT) AS hd FROM k),
         |${hilbertCtes.mkString(",\n")},
         |bounds AS (SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
         |    min(l_suppkey) AS smn, max(l_suppkey) AS smx FROM k),
         |r0 AS (SELECT CAST(unnest(range(0, 12)) AS BIGINT) AS rect_id),
         |r1 AS (SELECT rect_id,
         |    pmn + ((pmx - pmn) * ((rect_id * 37) % 80)) // 100 AS p_lo,
         |    ((pmx - pmn) * (5 + (rect_id * 13) % 20)) // 100 AS p_w,
         |    smn + ((smx - smn) * ((rect_id * 53) % 80)) // 100 AS s_lo,
         |    ((smx - smn) * (5 + (rect_id * 29) % 20)) // 100 AS s_w
         |  FROM r0, bounds),
         |rects AS (SELECT rect_id, p_lo, p_lo + greatest(p_w, 1) AS p_hi,
         |    s_lo, s_lo + greatest(s_w, 1) AS s_hi FROM r1),
         |z AS (SELECT (row_number() OVER (ORDER BY zval, l_orderkey, l_linenumber) - 1) // 4096 AS block,
         |    l_partkey, l_suppkey FROM k),
         |hil AS (SELECT (row_number() OVER (ORDER BY hd, l_orderkey, l_linenumber) - 1) // 4096 AS block,
         |    l_partkey, l_suppkey FROM $hFinal),
         |lin AS (SELECT (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) // 4096 AS block,
         |    l_partkey, l_suppkey FROM k),
         |zm AS (
         |  SELECT 'zorder' AS layout, block, min(l_partkey) AS p_min, max(l_partkey) AS p_max,
         |      min(l_suppkey) AS s_min, max(l_suppkey) AS s_max FROM z GROUP BY 2
         |  UNION ALL
         |  SELECT 'hilbert' AS layout, block, min(l_partkey), max(l_partkey),
         |      min(l_suppkey), max(l_suppkey) FROM hil GROUP BY 2
         |  UNION ALL
         |  SELECT 'linear' AS layout, block, min(l_partkey), max(l_partkey),
         |      min(l_suppkey), max(l_suppkey) FROM lin GROUP BY 2)
         |SELECT layout, rect_id, count(*) AS n_blocks,
         |  CAST(sum(CASE WHEN p_max >= p_lo AND p_min <= p_hi
         |    AND s_max >= s_lo AND s_min <= s_hi THEN 1 ELSE 0 END) AS BIGINT) AS touched,
         |  floor((count(*) - sum(CASE WHEN p_max >= p_lo AND p_min <= p_hi
         |    AND s_max >= s_lo AND s_min <= s_hi THEN 1 ELSE 0 END)) * 100.0
         |    / count(*) * 10000 + 0.5) / 10000 AS skip_pct
         |FROM zm, rects GROUP BY 1, 2""".stripMargin
    },
    "sub_snapshot_diff" -> {
      def fp(price: String) = graft.functions.PortableHash.sqlH48(
        "concat_ws('|', o_custkey, o_orderstatus, " + price +
          ", strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)")
      s"""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
         |    o_orderdate, o_orderpriority FROM orders),
         |a AS (SELECT o_orderkey AS a_key, price_c AS a_price_c,
         |    ${fp("price_c")} AS a_fp
         |  FROM base WHERE o_orderkey % 93 <> 0),
         |b0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_orderpriority,
         |    CASE WHEN o_orderkey % 89 = 0 THEN (price_c * 105) // 100
         |      ELSE price_c END AS price_c
         |  FROM base WHERE o_orderkey % 97 <> 0),
         |b AS (SELECT o_orderkey AS b_key, price_c AS b_price_c,
         |    ${fp("price_c")} AS b_fp FROM b0),
         |j AS (SELECT coalesce(a_key, b_key) AS o_orderkey,
         |    CASE WHEN a_key IS NULL THEN 'insert'
         |      WHEN b_key IS NULL THEN 'delete'
         |      WHEN a_fp <> b_fp THEN 'update' END AS change_type,
         |    coalesce(b_price_c, 0) - coalesce(a_price_c, 0) AS delta_c,
         |    a_fp AS old_fp, b_fp AS new_fp
         |  FROM a FULL OUTER JOIN b ON a_key = b_key)
         |SELECT * FROM j WHERE change_type IS NOT NULL""".stripMargin
    },
    "corpus_bpe_fertility" -> Corpus.bpeOracleSql(16, "fertility"),
    // FULL RECOMPUTE of the view at snapshot B — matching it proves
    // the engine's incremental (view ⊕ changelog) path is lossless.
    "sub_incremental_agg" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        |  FROM orders),
        |b AS (SELECT o_custkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN (price_c * 105) // 100
        |      ELSE price_c END AS price_c
        |  FROM base WHERE o_orderkey % 97 <> 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(price_c) AS BIGINT) AS spend_c
        |FROM b GROUP BY 1""".stripMargin,
    // Scorer-agreement eval: exact integer moments, IEEE-only double
    // finish (+,-,*,/ and sqrt — correctly-rounded per IEEE 754, so no
    // cross-engine libm exposure), distributed top-k head overlap.
    "text_quality_agreement" -> {
      val hw = graft.functions.PortableHash.sqlH48("'qw:' || w")
      val hb = graft.functions.PortableHash.sqlH48("'w:' || CAST(bucket AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |bkt AS (SELECT doc_id, $hw % 1024 AS bucket FROM t),
         |ms AS (SELECT doc_id, CAST(sum($hb % 2001 - 1000) AS BIGINT) AS y
         |  FROM bkt GROUP BY doc_id),
         |qx AS (SELECT doc_id,
         |    CAST(floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
         |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) AS BIGINT) AS x
         |  FROM (
         |  SELECT doc_id,
         |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
         |      / len(string_split(text, ' ')) AS avg_word_len,
         |    len(list_distinct(string_split(text, ' ')))::DOUBLE
         |      / len(string_split(text, ' ')) AS distinct_ratio,
         |    ((length(tt) - length(replace(tt, ' the ', ''))) / 5
         |      + (length(tt) - length(replace(tt, ' a ', ''))) / 3
         |      + (length(tt) - length(replace(tt, ' of ', ''))) / 4
         |      + (length(tt) - length(replace(tt, ' and ', ''))) / 5)
         |      / len(string_split(text, ' ')) AS stop_ratio
         |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS tt FROM documents))),
         |j AS (SELECT qx.doc_id, x, y FROM qx JOIN ms USING (doc_id)),
         |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
         |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
         |    CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
         |    CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy,
         |    CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
         |    CAST(count(*) AS HUGEINT) AS n_i,
         |    CAST(sum(x) AS HUGEINT) AS sx_i, CAST(sum(y) AS HUGEINT) AS sy_i,
         |    CAST(sum(x * x) AS HUGEINT) AS sxx_i, CAST(sum(y * y) AS HUGEINT) AS syy_i,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM j),
         |tq AS (SELECT doc_id FROM j ORDER BY x DESC, doc_id LIMIT 50),
         |tm AS (SELECT doc_id FROM j ORDER BY y DESC, doc_id LIMIT 50),
         |ov AS (SELECT CAST(count(*) AS BIGINT) AS topk_overlap
         |  FROM tq JOIN tm USING (doc_id))
         |SELECT n_docs,
         |  CASE WHEN (n_i * sxx_i - sx_i * sx_i) > 0 AND (n_i * syy_i - sy_i * sy_i) > 0
         |    THEN floor(((n * sxy - sx * sy) /
         |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 10000 + 0.5) / 10000
         |  END AS pearson_r,
         |  CAST(50 AS BIGINT) AS topk, topk_overlap,
         |  floor(topk_overlap * 100.0 / 50 * 10000 + 0.5) / 10000 AS overlap_pct
         |FROM s, ov""".stripMargin
    },
    // Semantic leak audit: same IVF-cell blocking as the semanticDedup
    // oracle, per-eval argmax on the rounded score + train-id tie-break.
    "corpus_semantic_decontaminate" ->
      s"""${ivfCellCtes()},
         |ev AS (SELECT cent_id, shard, vec_id AS eval_id, emb AS e_emb
         |  FROM assigned WHERE vec_id % 10 = 7),
         |tr AS (SELECT cent_id, shard, vec_id AS train_id, emb AS t_emb
         |  FROM assigned WHERE vec_id % 10 <> 7),
         |scored AS (SELECT eval_id, train_id,
         |    floor((${duckCos("e_emb", "t_emb")}) * 10000 + 0.5) / 10000 AS cos_sim
         |  FROM ev JOIN tr USING (cent_id, shard))
         |SELECT eval_id, train_id AS nearest_train_id, cos_sim AS max_cos,
         |  cos_sim >= 0.35 AS leaked
         |FROM (SELECT *, row_number() OVER (PARTITION BY eval_id
         |    ORDER BY cos_sim DESC, train_id) AS rn FROM scored)
         |WHERE rn = 1""".stripMargin,
    // S-curve sweep over the est-err calibration pairs: repeated-squaring
    // power chains (no libm pow) + micro-unit sums, per the Spark twin.
    "dedup_lsh_curve_advisor" -> {
      def sq(e: String, pow: Int): String = {
        var s = e; var k = 1
        while (k < pow) { s = s"($s * $s)"; k *= 2 }
        s
      }
      val selects = Seq(32 -> 1, 16 -> 2, 8 -> 4, 4 -> 8, 2 -> 16, 1 -> 32)
        .map { case (b, r) =>
          val p = s"(1.0 - ${sq(s"(1.0 - ${sq("jaccard", r)})", b)})"
          val pm = s"CAST(floor($p * 1000000 + 0.5) AS BIGINT)"
          val dupSum = s"sum(CASE WHEN jaccard >= 0.5 THEN $pm ELSE 0 END)"
          val nDup = "sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)"
          s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
             |  count(*) AS n_pairs, CAST($nDup AS BIGINT) AS n_dup_pairs,
             |  CAST(coalesce($dupSum, 0) AS BIGINT) AS exp_dup_caught_micro,
             |  CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 THEN 0 ELSE $pm END), 0) AS BIGINT)
             |    AS exp_clean_caught_micro,
             |  CASE WHEN $nDup > 0 THEN
             |    floor(CAST($dupSum AS DOUBLE) / ($nDup * 1000000.0) * 10000 + 0.5) / 10000
             |    ELSE 0.0 END AS expected_recall
             |FROM pairs""".stripMargin
        }
      s"WITH pairs AS (\n$minhashEstErrOracle\n)\n" +
        selects.mkString("\nUNION ALL\n")
    },
    "skew_advisor" ->
      """WITH h AS (SELECT event_type, count(*) AS n_rows FROM events GROUP BY 1),
        |t AS (SELECT sum(n_rows) AS tot FROM h)
        |SELECT event_type, n_rows,
        |  floor(n_rows * 100.0 / tot * 10000 + 0.5) / 10000 AS share_pct,
        |  CAST(least(32, (n_rows + 999) // 1000) AS BIGINT) AS recommended_salt,
        |  n_rows > 1000 AS is_hot
        |FROM h, t""".stripMargin,
    // The naive inequality form — the bin blocking + responsibility
    // dedup must be invisible in the results.
    "range_overlap_agg" ->
      """WITH i AS (SELECT event_id AS incident, ts AS s,
        |    ts + INTERVAL 600 SECOND AS e
        |  FROM events WHERE event_type = 'error'),
        |p AS (SELECT event_id, user_id, ts AS s, ts + INTERVAL 1800 SECOND AS e
        |  FROM events WHERE event_type = 'purchase' AND value >= 100),
        |j AS (SELECT i.incident, p.user_id,
        |    least(epoch_us(i.e), epoch_us(p.e)) -
        |      greatest(epoch_us(i.s), epoch_us(p.s)) AS overlap_us
        |  FROM i JOIN p ON i.s < p.e AND p.s < i.e)
        |SELECT incident, count(*) AS n_windows, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(overlap_us) AS BIGINT) AS total_overlap_us
        |FROM j GROUP BY 1""".stripMargin,
    "corpus_report_card" ->
      s"""WITH f AS (SELECT doc_id, source, lang, text,
         |    len(string_split(text, ' '))::DOUBLE AS n_words,
         |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
         |      / len(string_split(text, ' ')) AS avg_word_len,
         |    len(list_distinct(string_split(text, ' ')))::DOUBLE
         |      / len(string_split(text, ' ')) AS distinct_ratio,
         |    ((length(t) - length(replace(t, ' the ', ''))) / 5
         |      + (length(t) - length(replace(t, ' a ', ''))) / 3
         |      + (length(t) - length(replace(t, ' of ', ''))) / 4
         |      + (length(t) - length(replace(t, ' and ', ''))) / 5)
         |      / len(string_split(text, ' ')) AS stop_ratio
         |  FROM (SELECT doc_id, source, lang, text, ' ' || text || ' ' AS t FROM documents)),
         |m AS (SELECT doc_id, source, lang,
         |    CAST(floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
         |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) AS BIGINT) AS q_micro,
         |    CAST(n_words AS BIGINT) AS ws_tokens,
         |    ${graft.functions.PortableHash.sqlH48("text")} AS h48
         |  FROM f),
         |hc AS (SELECT h48, count(*) AS hn FROM m GROUP BY 1)
         |SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
         |  floor(CAST(sum(q_micro) AS DOUBLE) / (count(*) * 10000) * 10000 + 0.5) / 10000 AS mean_quality,
         |  floor(CAST(sum(ws_tokens) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS mean_ws_tokens,
         |  floor(sum(CASE WHEN hn > 1 THEN 1 ELSE 0 END) * 100.0 / count(*) * 10000 + 0.5) / 10000 AS dup_pct
         |FROM m JOIN hc USING (h48) GROUP BY 1""".stripMargin,
    // Vocabulary drift: per-term JSD contributions between doc_id
    // halves, replayed with the same integer plog2 micro-bit path and
    // the sign-safe truncating division (Spark DIV truncates, DuckDB
    // // floors — they only agree through the -((-n)//d) form).
    "text_vocab_drift" -> {
      import graft.operators.TextAnalysis.plog2MicroDuck
      s"""WITH t AS (SELECT doc_id % 2 = 0 AS h0,
         |    unnest(string_split(text, ' ')) AS w FROM documents),
         |tf AS (SELECT w,
         |    CAST(sum(CASE WHEN h0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN h0 THEN 0 ELSE 1 END) AS BIGINT) AS n2
         |  FROM t WHERE w IS NOT NULL AND w <> '' GROUP BY w),
         |tot AS (SELECT CAST(sum(n1) AS BIGINT) AS tot1,
         |    CAST(sum(n2) AS BIGINT) AS tot2 FROM tf),
         |x0 AS (SELECT w, n1, n2, tot1, tot2, n1 * tot2 AS a, n2 * tot1 AS b,
         |    n1 * tot2 + n2 * tot1 AS s FROM tf CROSS JOIN tot),
         |x AS (SELECT w, n1, n2, tot1, tot2,
         |    greatest(a >> greatest(length(format('{:b}', s)) - 43, 0), 1) AS a2,
         |    greatest(b >> greatest(length(format('{:b}', s)) - 43, 0), 1) AS b2,
         |    s >> greatest(length(format('{:b}', s)) - 43, 0) AS s2
         |  FROM x0),
         |y AS (SELECT w, n1, n2, tot1, tot2,
         |    CASE WHEN n1 > 0 THEN n1 * (1000000 + (${plog2MicroDuck("a2")})
         |      - (${plog2MicroDuck("s2")})) ELSE 0 END AS num1,
         |    CASE WHEN n2 > 0 THEN n2 * (1000000 + (${plog2MicroDuck("b2")})
         |      - (${plog2MicroDuck("s2")})) ELSE 0 END AS num2
         |  FROM x),
         |z AS (SELECT w, n1, n2,
         |    n1 * 1000000 // tot1 AS rpm1, n2 * 1000000 // tot2 AS rpm2,
         |    (CASE WHEN num1 >= 0 THEN num1 // tot1
         |      ELSE -((-num1) // tot1) END)
         |    + (CASE WHEN num2 >= 0 THEN num2 // tot2
         |      ELSE -((-num2) // tot2) END) AS kl
         |  FROM y)
         |SELECT w, n1, n2, rpm1, rpm2,
         |  CASE WHEN kl >= 0 THEN kl // 2 ELSE -((-kl) // 2) END AS jsd_contrib_micro
         |FROM z ORDER BY jsd_contrib_micro DESC, w LIMIT 25""".stripMargin
    },
    // Calibration bins: the hashed-linear model score (same CTEs as
    // text_quality_model) against the heuristic micro-score gate (same
    // scoring subquery as text_quality), all-integer binning.
    "text_quality_calibration" -> {
      val hw = graft.functions.PortableHash.sqlH48("'qw:' || w")
      val hb = graft.functions.PortableHash.sqlH48("'w:' || CAST(bucket AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |b AS (SELECT doc_id, $hw % 1024 AS bucket FROM t),
         |s AS (SELECT doc_id, $hb % 2001 - 1000 AS wm FROM b),
         |mdl AS (SELECT doc_id, CAST(sum(wm) AS BIGINT) AS score_milli FROM s GROUP BY doc_id),
         |f AS (SELECT doc_id,
         |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
         |      / len(string_split(text, ' ')) AS avg_word_len,
         |    len(list_distinct(string_split(text, ' ')))::DOUBLE
         |      / len(string_split(text, ' ')) AS distinct_ratio,
         |    ((length(tt) - length(replace(tt, ' the ', ''))) / 5
         |      + (length(tt) - length(replace(tt, ' a ', ''))) / 3
         |      + (length(tt) - length(replace(tt, ' of ', ''))) / 4
         |      + (length(tt) - length(replace(tt, ' and ', ''))) / 5)
         |      / len(string_split(text, ' ')) AS stop_ratio
         |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS tt FROM documents)),
         |h AS (SELECT doc_id,
         |    CAST(floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
         |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) AS BIGINT)
         |      >= 7000 AS keep_h
         |  FROM f),
         |j AS (SELECT mdl.doc_id, score_milli, keep_h FROM mdl JOIN h USING (doc_id)),
         |mm AS (SELECT min(score_milli) AS lo, max(score_milli) AS hi FROM j),
         |binned AS (SELECT ((score_milli - lo) * 8) // (hi - lo + 1) AS bin,
         |    score_milli, keep_h FROM j CROSS JOIN mm)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN keep_h THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  min(score_milli) AS bin_min_milli, max(score_milli) AS bin_max_milli,
         |  (CAST(sum(CASE WHEN keep_h THEN 1 ELSE 0 END) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS keep_rate_milli
         |FROM binned GROUP BY bin""".stripMargin
    },
    // Weighted sample: the window formulation of the exponential-clock
    // key the bounded topk_by aggregate replaces; the key is exact
    // integer-over-integer double division (no libm), so it compares
    // identically here and in Spark.
    "sketch_weighted_sample" -> {
      import graft.operators.TextAnalysis.plog2MicroDuck
      val h = graft.functions.PortableHash.sqlH48("'ws:' || CAST(doc_id AS VARCHAR)")
      s"""WITH hh AS (SELECT source, doc_id, n_chars, ($h) // 262144 AS h
         |  FROM documents WHERE n_chars > 0),
         |k AS (SELECT source, doc_id,
         |    CAST(30000000 - (${plog2MicroDuck("h")}) AS DOUBLE)
         |      / CAST(n_chars AS DOUBLE) AS es_key
         |  FROM hh),
         |r AS (SELECT source, doc_id, es_key,
         |    row_number() OVER (PARTITION BY source ORDER BY es_key, doc_id) AS rank
         |  FROM k)
         |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
         |  floor(es_key * 1000000 + 0.5) / 1000000 AS es_key
         |FROM r WHERE rank <= 4""".stripMargin
    },
    // EWMA burst detector: α = 1/4 geometric weights as exact integers
    // 3^(j-1)·4^(7-j); ROWS-based lags over the observed daily series.
    "events_ewma_burst" -> ewmaBurstOracle,
    // kNN-graph label agreement: same IVF cell assignment as the ANN
    // oracles, edges ranked by the 4-decimal-rounded cosine.
    "embed_knn_agreement" ->
      s"""${ivfCellCtes(withLabel = true)},
        |edges AS (
        |  SELECT a.vec_id, a.label, b.vec_id AS nb_id, b.label AS nb_label,
        |    floor((${duckCos("a.emb", "b.emb")}) * 10000 + 0.5) / 10000 AS cos_sim
        |  FROM assigned a JOIN assigned b
        |    ON a.cent_id = b.cent_id AND a.shard = b.shard
        |      AND a.vec_id <> b.vec_id),
        |topk AS (SELECT * FROM (SELECT vec_id, label, nb_id, nb_label, cos_sim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nb_id) AS rn
        |  FROM edges) WHERE rn <= 5),
        |agg AS (SELECT label,
        |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
        |    CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(sum(CASE WHEN label = nb_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
        |    CAST(sum(CAST(floor(cos_sim * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cos_x4
        |  FROM topk GROUP BY label)
        |SELECT CAST(label AS BIGINT) AS label, n_vecs, n_edges, n_same,
        |  (n_same * 1000) // n_edges AS agree_milli,
        |  CASE WHEN sum_cos_x4 >= 0 THEN sum_cos_x4 // n_edges
        |    ELSE -((-sum_cos_x4) // n_edges) END AS mean_cos_x4
        |FROM agg""".stripMargin,
    // Explicit GROUPING SETS with per-column grouping() indicators
    // (bit-packing of grouping_id() differs between engines; the
    // per-column indicator is standard everywhere).
    "sub_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |  CAST(count(*) AS BIGINT) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,
    // Release funnel: every stage replays its standalone operator's
    // oracle semantics (clean filters, keep-first hash dedup, quality
    // micro gate, the >=3-shared-3-gram contamination rule), swept by
    // a stage spine with cumulative boolean gating.
    "corpus_release_funnel" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(tt) - length(replace(tt, ' the ', ''))) / 5
        |      + (length(tt) - length(replace(tt, ' a ', ''))) / 3
        |      + (length(tt) - length(replace(tt, ' of ', ''))) / 4
        |      + (length(tt) - length(replace(tt, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS tt FROM documents)),
        |qq AS (SELECT doc_id,
        |    CAST(floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) AS BIGINT) AS q_micro
        |  FROM f),
        |fl AS (SELECT d.doc_id, d.text, d.n_words,
        |    d.lang IN ('en', 'de', 'fr') AS lang_ok,
        |    d.n_words >= 5 AND d.n_distinct * 10 > d.n_words * 3 AS len_ok,
        |    qq.q_micro >= 5000 AS q_ok
        |  FROM d JOIN qq USING (doc_id)),
        |kf AS (SELECT doc_id, TRUE AS dedup_ok FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM fl WHERE lang_ok AND len_ok) WHERE rn = 1),
        |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
        |  FROM ws WHERE len(w) >= 3),
        |contam AS (SELECT DISTINCT tr.doc_id FROM
        |  (SELECT doc_id, s FROM sh WHERE doc_id >= 20) tr
        |  JOIN (SELECT doc_id AS eval_doc, s FROM sh WHERE doc_id < 20) ev USING (s)
        |  GROUP BY tr.doc_id, ev.eval_doc HAVING count(*) >= 3),
        |x AS (SELECT fl.doc_id, fl.n_words, fl.lang_ok, fl.len_ok,
        |    coalesce(kf.dedup_ok, FALSE) AS dedup_ok, fl.q_ok,
        |    (contam.doc_id IS NULL) AS clean_ok
        |  FROM fl LEFT JOIN kf USING (doc_id) LEFT JOIN contam USING (doc_id)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot_docs,
        |    CAST(sum(n_words) AS BIGINT) AS tot_toks FROM x),
        |st AS (SELECT CAST(unnest(range(0, 6)) AS BIGINT) AS stage),
        |y AS (SELECT stage, n_words FROM x CROSS JOIN st
        |  WHERE (stage < 1 OR lang_ok) AND (stage < 2 OR len_ok)
        |    AND (stage < 3 OR dedup_ok) AND (stage < 4 OR q_ok)
        |    AND (stage < 5 OR clean_ok))
        |SELECT stage,
        |  ['raw', 'lang', 'length', 'exact_dedup', 'quality', 'decontaminated'][CAST(stage AS INT) + 1] AS stage_name,
        |  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  (CAST(count(*) AS BIGINT) * 1000) // max(tot_docs) AS doc_retained_milli,
        |  (CAST(sum(n_words) AS BIGINT) * 1000) // max(tot_toks) AS token_retained_milli
        |FROM y CROSS JOIN tot GROUP BY stage""".stripMargin,
    // Nprobe sweep: the IVF probe replica ranked to the widest probe,
    // swept by a VALUES spine, against the brute-force replica.
    "ann_nprobe_sweep" ->
      s"""${ivfCellCtes()},
         |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
         |probed AS (
         |  SELECT query_id, q_emb, cent_id, rn AS probe_rank FROM (
         |    SELECT q.query_id, q.q_emb, cc.cent_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        ${duckCos("q.q_emb", "cc.c")} DESC, cc.cent_id) AS rn
         |    FROM q CROSS JOIN cents cc) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, p.probe_rank, a.vec_id AS neighbor_id,
         |    floor((${duckCos("p.q_emb", "a.emb")}) * 10000 + 0.5) / 10000 AS cos_sim
         |  FROM probed p JOIN assigned a ON p.cent_id = a.cent_id AND a.vec_id <> p.query_id),
         |np AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
         |swept AS (SELECT nprobe, query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY nprobe, query_id
         |      ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM cand CROSS JOIN np WHERE probe_rank <= nprobe),
         |ivf AS (SELECT nprobe AS i_nprobe, query_id AS i_query,
         |    neighbor_id AS i_neighbor FROM swept WHERE rank <= 5),
         |bfx AS (SELECT b0.query_id, b0.neighbor_id, np.nprobe
         |  FROM ($annBruteOracle) b0 CROSS JOIN np)
         |SELECT nprobe, CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |  CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(count(i_neighbor) AS BIGINT) AS n_hits,
         |  (CAST(count(i_neighbor) AS BIGINT) * 10000)
         |    // CAST(count(*) AS BIGINT) AS recall_x4
         |FROM bfx LEFT JOIN ivf ON bfx.nprobe = ivf.i_nprobe
         |  AND bfx.query_id = ivf.i_query AND bfx.neighbor_id = ivf.i_neighbor
         |GROUP BY nprobe""".stripMargin,
    // Gate sweep: same quality-micro scoring subquery as the
    // text_quality oracle, thresholds as a VALUES cross join.
    "corpus_gate_sweep" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    (length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
        |      / len(string_split(text, ' ')) AS avg_word_len,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS distinct_ratio,
        |    ((length(tt) - length(replace(tt, ' the ', ''))) / 5
        |      + (length(tt) - length(replace(tt, ' a ', ''))) / 3
        |      + (length(tt) - length(replace(tt, ' of ', ''))) / 4
        |      + (length(tt) - length(replace(tt, ' and ', ''))) / 5)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM (SELECT doc_id, text, ' ' || text || ' ' AS tt FROM documents)),
        |d AS (SELECT n_tok,
        |    CAST(floor((CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN 0.4 ELSE 0.0 END
        |      + least(stop_ratio * 2.0, 0.3) + least(distinct_ratio, 0.3)) * 10000 + 0.5) AS BIGINT) AS q_micro
        |  FROM f),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS tot_toks FROM d),
        |t AS (SELECT CAST(unnest([5000, 6000, 7000, 8000]) AS BIGINT) AS threshold_micro)
        |SELECT threshold_micro, CAST(count(*) AS BIGINT) AS n_docs_kept,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept,
        |  (CAST(count(*) AS BIGINT) * 1000) // max(tot_docs) AS doc_share_milli,
        |  (CAST(sum(n_tok) AS BIGINT) * 1000) // max(tot_toks) AS token_share_milli
        |FROM d CROSS JOIN t CROSS JOIN tot
        |WHERE q_micro >= threshold_micro
        |GROUP BY threshold_micro""".stripMargin,
    // CUSUM: the reset-at-zero recursion replayed as running-sum minus
    // clamped running-min — two ordinary cumulative windows, all
    // integer, no recursive CTE.
    "events_cusum_shift" -> cusumShiftOracle,
    "events_monitor_ensemble" -> monitorEnsembleOracle,
    // Entropy profile: HUGEINT term sums over the same plog2 micro
    // logs; norm guard mirrors the Spark when(vocab > 1).
    "text_entropy_profile" -> {
      import graft.operators.TextAnalysis.plog2MicroDuck
      s"""WITH tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS f FROM
         |    (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w IS NOT NULL AND w <> '' GROUP BY 1, 2),
         |per AS (SELECT source, CAST(sum(f) AS BIGINT) AS tot,
         |    CAST(count(*) AS BIGINT) AS vocab FROM tf GROUP BY 1),
         |terms AS (SELECT tf.source, tot, vocab,
         |    CAST(f AS HUGEINT) * ((${plog2MicroDuck("tot")}) - (${plog2MicroDuck("f")})) AS term
         |  FROM tf JOIN per USING (source)),
         |h AS (SELECT source, tot, vocab, CAST(sum(term) AS HUGEINT) AS hsum
         |  FROM terms GROUP BY 1, 2, 3)
         |SELECT source, tot AS n_tokens, vocab,
         |  CAST(hsum // tot AS BIGINT) AS entropy_micro_bits,
         |  CASE WHEN vocab > 1
         |    THEN (CAST(hsum // tot AS BIGINT) * 1000) // (${plog2MicroDuck("vocab")})
         |  END AS norm_entropy_milli
         |FROM h""".stripMargin
    },
    // Semantic sweep: the LSH-verified cosine pairs (same sig CTEs as
    // the verified-pairs oracle, raw > 0 prefilter), x4-integer
    // threshold spine with the same left-join shape as the Jaccard
    // sweep.
    "dedup_semantic_sweep" -> {
      s"""$lshSigScaledCtes,
         |pr AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |    CAST(floor((list_dot_product(a.emb, b.emb) /
         |      (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb)))) * 10000 + 0.5) AS BIGINT) AS cos_x4
         |  FROM sig a JOIN sig b ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.emb, b.emb) /
         |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) > 0),
         |t AS (SELECT CAST(unnest([4000, 5000, 6000, 7000]) AS BIGINT) AS t4),
         |agg AS (SELECT t4, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(count(DISTINCT id2) AS BIGINT) AS n_docs_removed,
         |    CAST(sum(cos_x4) AS BIGINT) AS sc
         |  FROM pr CROSS JOIN t WHERE cos_x4 >= t4 GROUP BY t4)
         |SELECT t.t4 AS threshold_x4,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
         |  CASE WHEN n_pairs IS NOT NULL THEN sc // n_pairs END AS mean_cos_x4
         |FROM t LEFT JOIN agg ON t.t4 = agg.t4""".stripMargin
    },
    // Threshold sweep: same minhash banding CTE as the bucket oracle,
    // exact integer Jaccard via the shingle szs/ints joins (the
    // estimation-error oracle's shape), thresholds as a VALUES spine
    // left-joined so empty thresholds still report zeros.
    "dedup_threshold_sweep" ->
      s"""WITH bk0 AS MATERIALIZED (
         |$minhashOracle),
         |-- mirror the Spark side's capHotKeys(1024): a bucket over the
         |-- cap is excluded from candidate generation on BOTH engines,
         |-- so a future hot bucket shifts the sweep identically instead
         |-- of surfacing as an unexplained oracle mismatch
         |hot AS (SELECT band, bucket FROM bk0 GROUP BY 1, 2
         |  HAVING count(*) > 1024),
         |bk AS MATERIALIZED (SELECT * FROM bk0 WHERE NOT EXISTS (
         |  SELECT 1 FROM hot h
         |  WHERE h.band = bk0.band AND h.bucket = bk0.bucket)),
         |cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
         |    AND x.doc_id < y.doc_id),
         |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |shs AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
         |  [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS s
         |  FROM ws WHERE len(w) >= 3),
         |szs AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY 1),
         |-- candidate-scoped intersections (the dedup_incremental shape):
         |-- a zipf-hot shingle would make the unrestricted s=s self-join
         |-- f-squared; ints is only ever read through cand, so scoping it
         |-- to candidate pairs is semantics-preserving
         |ints AS (SELECT c.doc1, c.doc2, count(*) AS n_int
         |  FROM cand c JOIN shs p ON p.doc_id = c.doc1
         |  JOIN shs q ON q.doc_id = c.doc2 AND p.s = q.s
         |  GROUP BY 1, 2),
         |sc AS (SELECT c.doc1, c.doc2,
         |    CAST(coalesce(i.n_int, 0) AS BIGINT) AS inter,
         |    CAST(s1.n_sh + s2.n_sh - coalesce(i.n_int, 0) AS BIGINT) AS uni
         |  FROM cand c
         |  JOIN szs s1 ON s1.doc_id = c.doc1
         |  JOIN szs s2 ON s2.doc_id = c.doc2
         |  LEFT JOIN ints i ON i.doc1 = c.doc1 AND i.doc2 = c.doc2),
         |t AS (SELECT CAST(unnest([5, 6, 7, 8, 9]) AS BIGINT) AS t10),
         |agg AS (SELECT t10, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(count(DISTINCT doc2) AS BIGINT) AS n_docs_removed,
         |    CAST(sum((inter * 10000) // uni) AS BIGINT) AS sj
         |  FROM sc CROSS JOIN t WHERE inter * 10 >= t10 * uni GROUP BY t10)
         |SELECT t.t10 AS threshold_x10,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
         |  CASE WHEN n_pairs IS NOT NULL THEN sj // n_pairs END AS mean_jac_x4
         |FROM t LEFT JOIN agg ON t.t10 = agg.t10""".stripMargin,
    // Class-B width alert: per-bucket population census over the
    // shared signature CTE; budget 24 bites at every test SF.
    "embed_bucket_overflow" ->
      s"""$lshSigCtes
         |SELECT CAST(lsh_bucket AS BIGINT) AS lsh_bucket,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  (CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) - 1)) // 2 AS pair_mass
         |FROM sig GROUP BY 1 HAVING count(*) > 24""".stripMargin,
    // Cell balance: same IVF assignment CTE as the ANN oracles, then
    // a power-of-two size-class census with exact milli shares.
    "embed_cell_balance" ->
      s"""${ivfCellCtes()},
        |cells AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS sz
        |  FROM assigned GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot_cells,
        |    CAST(sum(sz) AS BIGINT) AS tot_vecs FROM cells)
        |SELECT CAST(length(format('{:b}', sz)) - 1 AS BIGINT) AS size_class,
        |  CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(sz) AS BIGINT) AS n_vecs,
        |  min(sz) AS min_sz, max(sz) AS max_sz,
        |  (CAST(sum(sz) AS BIGINT) * 1000) // max(tot_vecs) AS share_milli,
        |  (max(sz) * max(tot_cells) * 1000) // max(tot_vecs) AS imbalance_milli
        |FROM cells CROSS JOIN tot GROUP BY 1""".stripMargin,
    // Window efficiency: all-integer ceil-division batching audit.
    "corpus_window_efficiency" ->
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |x AS (SELECT n_tok, CAST(unnest([128, 256, 512]) AS BIGINT) AS window_len FROM d),
        |y AS (SELECT n_tok, window_len,
        |    (n_tok + window_len - 1) // window_len AS n_win FROM x)
        |SELECT window_len, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_win) AS BIGINT) AS n_windows,
        |  CAST(sum(window_len * n_win - n_tok) AS BIGINT) AS n_pad_tokens,
        |  (CAST(sum(n_tok) AS BIGINT) * 1000)
        |    // (window_len * CAST(sum(n_win) AS BIGINT)) AS efficiency_milli
        |FROM y GROUP BY window_len""".stripMargin,
    // Compression sweep: the sequential-BPE replay counted at the
    // w4/w8/w16 checkpoints (greedy prefix property).
    "corpus_bpe_compression" -> Corpus.bpeOracleSql(16, "compression"),
    // Unpivot as a UNION ALL melt (engine-portable statement of the
    // same wide→long reshape Spark's native unpivot plans as Expand).
    "sub_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
        |    CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS discount_cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS qty_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'price_cents' AS measure, price_cents AS value_cents FROM a
        |UNION ALL SELECT l_returnflag, 'discount_cents', discount_cents FROM a
        |UNION ALL SELECT l_returnflag, 'qty_cents', qty_cents FROM a""".stripMargin,
  )
}
