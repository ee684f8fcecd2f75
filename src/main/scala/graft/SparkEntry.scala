package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The hardcoded path is the DRIVER CONTRACT for this
    * entrypoint (unlike every `queries` entry, which takes the data
    * dir as a parameter and runs at any SF). */
  def entry(spark: SparkSession): DataFrame =
    Tpch.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 TPC-H-class SQL
    "q1_pricing_summary"        -> Tpch.q1 _,
    "q2_min_cost_supp"          -> Tpch.q2 _,
    "q9_product_profit"         -> Tpch.q9 _,
    "q11_important_stock"       -> Tpch.q11 _,
    "q16_parts_suppliers"       -> Tpch.q16 _,
    "q20_potential_promo"       -> Tpch.q20 _,
    "q3_shipping_priority"      -> Tpch.q3 _,
    "q4_order_priority"         -> Tpch.q4 _,
    "q5_local_supplier"         -> Tpch.q5 _,
    "q6_forecast_revenue"       -> Tpch.q6 _,
    "q7_volume_shipping"        -> Tpch.q7 _,
    "q8_market_share"           -> Tpch.q8 _,
    "q15_top_supplier"          -> Tpch.q15 _,
    "q17_small_quantity"        -> Tpch.q17 _,
    "q21_waiting_supplier"      -> Tpch.q21 _,
    "q10_returned_items"        -> Tpch.q10 _,
    "q12_priority_shipping"     -> Tpch.q12 _,
    "q13_customer_distribution" -> Tpch.q13 _,
    "q14_promo_effect"          -> Tpch.q14 _,
    "q18_large_volume"          -> Tpch.q18 _,
    "q19_disjunctive"           -> Tpch.q19 _,
    "q22_anti_join"             -> Tpch.q22 _,
    // §2.2 scan-level pushdown & pruning
    "scan_pred_eq"          -> Scans.predEq _,
    "scan_pred_range"       -> Scans.predRange _,
    "scan_pred_in"          -> Scans.predIn _,
    "scan_pred_compound"    -> Scans.predCompound _,
    "scan_prune_projection" -> Scans.pruneProjection _,
    "scan_selectivity_sweep" -> Scans.selectivitySweep _,
    "scan_selectivity_1pct"  -> Scans.sweep1 _,
    "scan_selectivity_20pct" -> Scans.sweep20 _,
    "scan_selectivity_30pct" -> Scans.sweep30 _,
    "scan_selectivity_50pct" -> Scans.sweep50 _,
    "scan_selectivity_80pct" -> Scans.sweep80 _,
    "scan_selectivity_full"  -> Scans.sweep100 _,
    "scan_runtime_dpp"   -> Scans.dppPrunedJoin _,
    "scan_runtime_bloom" -> Scans.bloomFilteredJoin _,
    "scan_bloom_pointlookup" -> SourcesSinks.bloomPointLookup _,
    "scan_dict_filter"   -> SourcesSinks.dictFilterScan _,
    "scan_record_filter" -> SourcesSinks.recordFilter _,
    "sink_encoding_policy" -> SourcesSinks.encodingPolicy _,
    "sink_dict_fallback" -> SourcesSinks.dictFallback _,
    "src_avro_roundtrip" -> SourcesSinks.avroRoundtrip _,
    "sink_encrypted_roundtrip" -> SourcesSinks.encryptedRoundtrip _,
    "join_salted_skew"   -> SkewJoin.saltedJoin _,
    // §2.3 expressions
    "expr_string_funcs"   -> Exprs.stringFuncs _,
    "expr_math_case"      -> Exprs.mathCase _,
    "expr_date_funcs"     -> Exprs.dateFuncs _,
    "expr_date_parse"     -> Exprs.dateParse _,
    "expr_hash_digest"    -> Exprs.hashDigest _,
    "expr_hash_crc"       -> Exprs.hashCrc _,
    "expr_null_semantics" -> Exprs.nullSemantics _,
    "expr_bitwise"        -> Exprs.bitwise _,
    "expr_array_ops"      -> Exprs.arrayOps _,
    "expr_try_arith"      -> Exprs.tryArith _,
    "expr_higher_order"   -> Exprs.higherOrder _,
    "expr_struct_ops"     -> Exprs.structOps _,
    "expr_collation"      -> Exprs.collation _,
    "expr_map_hof"        -> Exprs.mapHof _,
    "expr_string_kernel2" -> Exprs.stringKernel2 _,
    "expr_url_parse"      -> Exprs.urlParse _,
    "expr_map_ops"        -> Exprs.mapOps _,
    "expr_date_interval"  -> Exprs.dateInterval _,
    "expr_array_setops"   -> Exprs.arraySetOps _,
    "sql_setops_all"      -> SqlSurface.setOpsAll _,
    // §2.4 sources / sinks / encodings
    "src_delimited_text"     -> SourcesSinks.delimitedText _,
    "src_csv_quoted"         -> SourcesSinks.csvQuoted _,
    "src_csv_escaped"        -> SourcesSinks.csvEscaped _,
    "src_csv_gzip"           -> SourcesSinks.csvGzip _,
    "src_csv_multidelim"     -> SourcesSinks.csvMultiDelim _,
    "src_json_corrupt"       -> SourcesSinks.jsonCorrupt _,
    "src_json_lines"         -> SourcesSinks.jsonLines _,
    "sink_parquet_roundtrip" -> SourcesSinks.parquetRoundtrip _,
    "sink_encoded_v2"        -> SourcesSinks.encodedSink _,
    "sink_bucketed_join"     -> SourcesSinks.bucketedJoin _,
    "src_orc_roundtrip"      -> SourcesSinks.orcRoundtrip _,
    "src_schema_evolution"   -> SourcesSinks.schemaEvolution _,
    "sink_sorted_skipping"   -> SourcesSinks.sortedSink _,
    "sink_zorder_skipping"   -> SourcesSinks.zorderSink _,
    "sink_compaction"        -> SourcesSinks.compactionSink _,
    "sink_codec_matrix"      -> SourcesSinks.codecMatrix _,
    "sink_dynamic_overwrite" -> SourcesSinks.dynamicOverwrite _,
    "src_xml_roundtrip"      -> SourcesSinks.xmlRoundtrip _,
    "src_binary_files"       -> SourcesSinks.binaryFiles _,
    "src_csv_corrupt"        -> SourcesSinks.csvCorrupt _,
    "sink_int96_timestamps"  -> SourcesSinks.int96Timestamps _,
    "src_int96_legacy_rebase" -> SourcesSinks.int96LegacyRebase _,
    "sink_merge_upsert"      -> SourcesSinks.mergeUpsert _,
    "scan_metadata_cols"     -> SourcesSinks.metadataCols _,
    "dict_cardinality_stats" -> SourcesSinks.dictCardinalityStats _,
    "sink_nested_types"      -> SourcesSinks.nestedSink _,
    // §2.5 window / analytic
    "win_rank_topn"    -> Analytic.rankTopN _,
    "win_running_sum"  -> Analytic.runningSum _,
    "win_sessionize"   -> Analytic.sessionize _,
    "win_lag_ntile"    -> Analytic.lagNtile _,
    "win_range_frame"  -> Analytic.rangeFrame _,
    "win_first_last"   -> Analytic.firstLast _,
    "win_percent_rank" -> Analytic.percentRank _,
    "win_dense_rank"   -> Analytic.denseRank _,
    "win_ignore_nulls" -> Analytic.ignoreNullsWindow _,
    "win_distinct_running" -> Analytic.distinctRunning _,
    "win_rolling_median"   -> Analytic.rollingMedian _,
    "win_groups_frame"     -> Analytic.winGroupsFrame _,
    "win_exclude_current"  -> Analytic.winExcludeCurrent _,
    "win_exclude_group"    -> Analytic.winExcludeGroup _,
    "expr_decimal_arith"   -> Exprs.decimalArith _,
    "expr_decimal_div"     -> Exprs.decimalDiv _,
    "ev_autocorr"          -> Analytic.autocorr _,
    "ev_seasonal_dow"      -> Analytic.seasonalDow _,
    "ev_forecast_naive"    -> Analytic.forecastNaive _,
    "ev_forecast_holt"     -> Analytic.forecastHolt _,
    "ev_interpolate_linear" -> Analytic.interpolateLinear _,
    "ev_concurrency"       -> Analytic.concurrency _,
    "ev_burn_rate"         -> Analytic.burnRate _,
    "ev_markov_stationary" -> Analytic.markovStationary _,
    "ev_revenue_bridge"    -> Analytic.revenueBridge _,
    "ev_bot_detect"        -> Analytic.botDetect _,
    "ev_changepoint"       -> Analytic.changepoint _,
    "text_source_drift"    -> TextAnalysis.sourceDrift _,
    "text_code_detect"     -> TextAnalysis.codeDetect _,
    "ev_asof_native"       -> Analytic.asofNative _,
    "ev_asof_tolerance"    -> Analytic.asofTolerance _,
    "ev_asof_next"         -> Analytic.asofNext _,
    "ev_user_lifetime"     -> Analytic.userLifetime _,
    "ev_survival_curve"    -> Analytic.survivalCurve _,
    "ev_attribution_removal" -> Analytic.attributionRemoval _,
    "ev_seasonal_adjust"   -> Analytic.seasonalAdjust _,
    "ev_trend_slope"       -> Analytic.trendSlope _,
    // §2.6 events (batch analogs of the streaming pipelines)
    "ev_tumbling_window" -> Analytic.tumblingWindow _,
    "ev_user_stats"      -> Analytic.userStats _,
    "ev_funnel"          -> Analytic.funnel _,
    "ev_retention"       -> Analytic.retention _,
    "ev_asof_attribution" -> Analytic.asofAttribution _,
    "ev_range_join"       -> Analytic.rangeJoin _,
    "ev_range_native"     -> Analytic.rangeNative _,
    "ev_band_features"    -> Analytic.bandFeatures _,
    "ev_multitouch"       -> Analytic.multitouch _,
    "ev_value_cdf"        -> Analytic.valueCdf _,
    "ev_histogram"        -> Analytic.valueHistogram _,
    "ev_hourly_anomaly"   -> Analytic.hourlyAnomaly _,
    "ev_gap_fill"         -> Analytic.gapFill _,
    "ev_markov_transitions" -> Analytic.markovTransitions _,
    "ev_top_paths"          -> Analytic.topPaths _,
    "ev_pattern_match"      -> Analytic.patternMatch _,
    "ev_incremental_agg"    -> Analytic.incrementalAgg _,
    "ev_cohort_ltv"       -> Analytic.cohortLtv _,
    "ev_rfm_segments"     -> Analytic.rfmSegments _,
    "ev_scd2_intervals"   -> Analytic.scd2Intervals _,
    "ev_pit_lookup"       -> Analytic.pitLookup _,
    "ev_ewma_smooth"      -> Analytic.ewmaSmooth _,
    "ev_interval_union"   -> Analytic.intervalUnion _,
    "ev_ab_test"          -> Analytic.abTest _,
    "ev_dau_mau"          -> Analytic.dauMau _,
    "ev_rolling_distinct" -> Analytic.rollingDistinct _,
    "ev_power_users"      -> Analytic.powerUsers _,
    "ev_funnel_latency"   -> Analytic.funnelLatency _,
    "ev_anomaly_mad"      -> Analytic.hourlyAnomalyMad _,
    "agg_filter_clause"   -> SqlSurface.filterClause _,
    "agg_bitmap_distinct" -> SqlSurface.bitmapDistinct _,
    "sql_group_by_all"    -> SqlSurface.groupByAll _,
    "agg_hll_precision_sweep" -> SqlSurface.hllPrecisionSweep _,
    "sql_window_clause"   -> SqlSurface.windowClause _,
    "agg_argminmax"       -> SqlSurface.argMinMax _,
    "agg_bool"            -> SqlSurface.boolAgg _,
    "sql_values_inline"   -> SqlSurface.valuesInline _,
    "mm_dedup_binary"     -> Multimodal.binaryDedup _,
    "ev_new_vs_returning" -> Analytic.newVsReturning _,
    "text_ngram_topk_lang" -> TextAnalysis.ngramTopkLang _,
    "scan_stats_only"     -> SourcesSinks.statsOnly _,
    "scan_agg_pushdown"   -> Scans.aggPushdown _,
    "ev_peak_rate"        -> Analytic.peakRate _,
    "ev_type_cooccurrence" -> Analytic.typeCooccurrence _,
    "text_dup_curve"      -> TextAnalysis.dupCurve _,
    "sink_cdc_diff"       -> SourcesSinks.cdcDiff _,
    "ev_sliding_window"   -> Analytic.slidingWindow _,
    "ev_session_window"   -> Analytic.sessionWindowAgg _,
    // §2.7 dedup
    "dedup_exact"            -> Dedup.exact _,
    "dedup_url_canonical"    -> Dedup.urlCanonical _,
    "dedup_minhash_lsh"      -> Dedup.minhashLsh _,
    "dedup_simhash"          -> Dedup.simhash _,
    "dedup_ngram_jaccard"    -> Dedup.ngramJaccard _,
    "dedup_containment"      -> Dedup.containment _,
    "dedup_ngram_novelty"    -> Dedup.ngramNovelty _,
    "dedup_components"       -> Dedup.components _,
    "graph_triangles"        -> Graph.dedupTriangles _,
    "graph_edge_jaccard"     -> Graph.dedupEdgeSim _,
    "graph_cluster_coeff"    -> Graph.dedupClusterCoeff _,
    "graph_label_prop"       -> Graph.dedupLabelProp _,
    "graph_pagerank"         -> Graph.dedupPageRank _,
    "graph_kcore"            -> Graph.dedupKCore _,
    "graph_bfs_distance"     -> Graph.dedupBfsDistance _,
    "graph_modularity"       -> Graph.dedupModularity _,
    "graph_assortativity"    -> Graph.dedupAssortativity _,
    "dedup_keep_best"        -> Dedup.keepBest _,
    "dedup_embedding_cosine" -> Dedup.embeddingCosine _,
    "dedup_embedding_multiprobe" -> Dedup.embeddingMultiprobe _,
    "dedup_embedding_tuning" -> Dedup.embeddingTuning _,
    "dedup_chunks"           -> Dedup.chunkDedup _,
    "dedup_cdc_chunks"       -> Dedup.cdcChunks _,
    "dedup_cross_source"     -> Dedup.crossSource _,
    "dedup_incremental"      -> Dedup.incremental _,
    "dedup_minhash_accuracy" -> Dedup.minhashAccuracy _,
    "dedup_bbit_accuracy"    -> Dedup.bbitAccuracy _,
    "dedup_lsh_tuning"       -> Dedup.lshTuning _,
    "dedup_lsh_recall"       -> Dedup.lshRecall _,
    "pipeline_dedup_cascade" -> Dedup.cascade _,
    "pipeline_dedup_weights" -> Pipeline.dedupWeights _,
    "dedup_prefix_filter"    -> Dedup.prefixFilter _,
    "dedup_threshold_sweep"  -> Dedup.thresholdSweep _,
    "dedup_fuzzy_verify"     -> Dedup.fuzzyVerify _,
    "dedup_repeated_spans"   -> Dedup.repeatedSpans _,
    "dedup_winnowing"        -> Dedup.winnowing _,
    "dedup_truncation"       -> Dedup.truncation _,
    "dedup_semantic_clusters" -> Dedup.semanticClusters _,
    // §2.8 similarity search
    "ann_bruteforce_topk" -> Similarity.bruteForceTopK _,
    "ann_mips_topk"       -> Similarity.mipsTopK _,
    "ann_ivf_topk"        -> Similarity.ivfTopK _,
    "ann_pq_topk"         -> Similarity.pqTopK _,
    "ann_ivfpq_topk"      -> Similarity.ivfpqTopK _,
    "ann_ivf_indexed"     -> Similarity.ivfIndexed _,
    "ann_ivf_tuning"      -> Similarity.ivfTuning _,
    "ann_filtered_topk"   -> Similarity.filteredTopK _,
    "ann_refine_topk"     -> Similarity.refineTopK _,
    "emb_label_stats"     -> Similarity.labelStats _,
    "emb_silhouette"      -> Similarity.silhouette _,
    "emb_quantize_int8"   -> Similarity.quantizeInt8 _,
    "emb_pca_power"       -> Similarity.pcaPower _,
    "emb_outlier_mahal"   -> Similarity.outlierMahal _,
    "emb_mmr_rerank"      -> Similarity.mmrRerank _,
    "ann_rrf_fusion"      -> Similarity.rrfFusion _,
    "emb_kmeans_step"     -> Similarity.kmeansStep _,
    "emb_pq_train_step"   -> Similarity.pqTrainStep _,
    "emb_recall_at_k"     -> Similarity.recallAtK _,
    "emb_recall_trained"  -> Similarity.recallTrained _,
    "emb_mrl_recall"      -> Similarity.mrlRecall _,
    "emb_knn_classify"    -> Similarity.knnClassify _,
    "ann_range_search"    -> Similarity.rangeSearch _,
    "ann_graph_topk"      -> Similarity.graphTopK _,
    "ann_graph_recall"    -> Similarity.graphRecall _,
    "ann_graph_tuning"    -> Similarity.graphTuning _,
    "ann_graph_insert"    -> Similarity.graphInsert _,
    "ann_graph_delete"    -> Similarity.graphDelete _,
    "ann_graph_build_tuning" -> Similarity.graphBuildTuning _,
    // §2.9 text analysis
    "text_langid"      -> TextAnalysis.langId _,
    "text_lang_confusion" -> TextAnalysis.langConfusion _,
    "text_quality"     -> TextAnalysis.quality _,
    "text_readability" -> TextAnalysis.readability _,
    "text_tokens"      -> TextAnalysis.tokens _,
    "text_diversity"   -> TextAnalysis.diversity _,
    "text_zipf_curve"  -> TextAnalysis.zipfCurve _,
    "text_burstiness"  -> TextAnalysis.burstiness _,
    "text_fingerprint" -> TextAnalysis.fingerprint _,
    "text_html_extract" -> TextAnalysis.htmlExtract _,
    "vocab_pair_freq"  -> TextAnalysis.pairFreq _,
    "vocab_bpe_merges" -> TextAnalysis.bpeMerges _,
    "vocab_bpe_apply"  -> TextAnalysis.bpeApply _,
    "text_vocab_growth" -> TextAnalysis.vocabGrowth _,
    "text_keyword_rake" -> TextAnalysis.keywordRake _,
    "text_stopword_discovery" -> TextAnalysis.stopwordDiscovery _,
    "text_ngram_freq"  -> TextAnalysis.ngramFreq _,
    "text_collocations" -> TextAnalysis.collocations _,
    "text_gopher_rules" -> TextAnalysis.gopherRules _,
    "text_oov_rate"     -> TextAnalysis.oovRate _,
    "text_lm_familiarity" -> TextAnalysis.lmFamiliarity _,
    "text_contamination" -> TextAnalysis.contamination _,
    "text_bm25"          -> TextAnalysis.bm25 _,
    "text_bm25_indexed"  -> TextAnalysis.bm25Indexed _,
    "text_dup_ngram"     -> TextAnalysis.dupNgram _,
    "text_tfidf_topterms" -> TextAnalysis.tfidfTopTerms _,
    "text_pii_redact"    -> TextAnalysis.piiRedact _,
    "doc_chunk_overlap"  -> TextAnalysis.chunkOverlap _,
    "text_model_filter"  -> TextAnalysis.modelFilter _,
    "sample_stratified" -> TextAnalysis.stratifiedSample _,
    "sample_per_group"  -> TextAnalysis.samplePerGroup _,
    "sample_rebalance"  -> Pipeline.rebalance _,
    "sample_uncertainty" -> TextAnalysis.uncertaintySample _,
    "src_json_multiline" -> SourcesSinks.jsonMultiline _,
    "pipeline_clean_corpus" -> Pipeline.cleanCorpusStats _,
    "pipeline_mix_weights"  -> Pipeline.mixWeights _,
    "pipeline_mix_temperature" -> Pipeline.mixTemperature _,
    "pipeline_pack_sequences" -> Pipeline.packSequences _,
    "pipeline_token_budget"   -> Pipeline.tokenBudget _,
    "pipeline_source_stats"   -> Pipeline.sourceStats _,
    "pipeline_leakage_split"  -> Pipeline.leakageSplit _,
    "pipeline_kfold"          -> Pipeline.kfold _,
    "pipeline_curriculum"     -> Pipeline.curriculum _,
    "pipeline_shard_manifest" -> Pipeline.shardManifest _,
    "pipeline_epoch_shuffle"  -> Pipeline.epochShuffle _,
    "pipeline_dataset_card"   -> Pipeline.datasetCard _,
    "pipeline_split_contamination" -> Pipeline.splitContamination _,
    "pipeline_semantic_contamination" -> Pipeline.semanticContamination _,
    "pipeline_winsorize"      -> Pipeline.winsorize _,
    "pipeline_data_quality"   -> Pipeline.dataQuality _,
    "pipeline_negative_sample" -> Pipeline.negativeSample _,
    "pipeline_quantile_norm"  -> Pipeline.quantileNorm _,
    "pipeline_rater_kappa"    -> Pipeline.raterKappa _,
    "pipeline_time_split"     -> Pipeline.timeSplit _,
    // §2.10 multimodal
    "mm_binary_meta"     -> Multimodal.binaryMeta _,
    "mm_frame_sample"    -> Multimodal.frameSample _,
    "mm_scene_cuts"      -> Multimodal.sceneCuts _,
    "mm_audio_frames"    -> Multimodal.audioFrames _,
    "mm_silence_detect"  -> Multimodal.silenceDetect _,
    "mm_image_ahash"     -> Multimodal.imageAHash _,
    "mm_image_phash"     -> Multimodal.imagePHash _,
    "mm_image_phash_real" -> Multimodal.imagePHashReal _,
    "mm_silence_real"    -> Multimodal.silenceReal _,
    "mm_frame_sample_real" -> Multimodal.frameSampleReal _,
    "mm_scene_cuts_real" -> Multimodal.sceneCutsReal _,
    "mm_audio_fingerprint" -> Multimodal.audioFingerprint _,
    "mm_phash_clusters"  -> Multimodal.phashClusters _,
    "mm_clip_filter"     -> Multimodal.clipFilter _,
    "mm_feature_extract" -> Multimodal.featureExtract _,
    // §2.11 wider SQL surface
    "sql_earliest_order"     -> SqlSurface.earliestOrder _,
    "sql_rollup"             -> SqlSurface.rollupAgg _,
    "sql_ctas_catalog"       -> SqlSurface.ctasCatalog _,
    "sql_tablesample"        -> SqlSurface.tableSample _,
    "sql_view_pushdown"      -> SqlSurface.viewPushdown _,
    "sql_refresh_metadata"   -> SqlSurface.refreshMetadata _,
    "sql_analyze_partition"  -> SqlSurface.analyzePartition _,
    "sql_cube"               -> SqlSurface.cubeAgg _,
    "sql_full_outer"         -> SqlSurface.fullOuter _,
    "agg_percentile_exact"   -> SqlSurface.percentileExact _,
    "agg_weighted_median"    -> SqlSurface.weightedMedian _,
    "sql_grouping_sets"      -> SqlSurface.groupingSets _,
    "sql_limit_offset"       -> SqlSurface.limitOffset _,
    "sql_correlated_subquery" -> SqlSurface.correlatedSubquery _,
    "sql_setops"             -> SqlSurface.setOps _,
    "sql_pivot"              -> SqlSurface.pivotRevenue _,
    "ev_json_props"          -> SqlSurface.jsonProps _,
    "src_json_variant"       -> SqlSurface.jsonVariant _,
    "agg_listagg"            -> SqlSurface.listAgg _,
    "agg_multi_distinct"     -> SqlSurface.multiDistinct _,
    "sql_unpivot"            -> SqlSurface.unpivotRevenue _,
    "agg_corr_exact"         -> SqlSurface.corrExact _,
    "agg_moments_exact"      -> SqlSurface.momentsExact _,
    "agg_bitmap_native"      -> SqlSurface.bitmapNative _,
    "agg_mode_exact"         -> SqlSurface.modeExact _,
    "sql_semi_anti"          -> SqlSurface.semiAnti _,
    "sql_distinct_on"        -> SqlSurface.distinctOn _,
    "sql_qualify"            -> SqlSurface.qualifyClause _,
    "agg_kmv_setops"         -> SqlSurface.kmvSetops _,
    "sql_star_except"        -> SqlSurface.starExcept _,
    "sql_pipe_syntax"        -> SqlSurface.pipeSyntax _,
    "sql_session_var"        -> SqlSurface.sessionVar _,
    "agg_ordered_set"        -> SqlSurface.orderedSet _,
    "sql_dynamic"            -> SqlSurface.dynamicSql _,
    "sql_udf"                -> SqlSurface.sqlUdf _,
    "sql_scripting"          -> SqlSurface.sqlScripting _,
    "sql_named_params"       -> SqlSurface.namedParams _,
    "sql_quantified"         -> SqlSurface.quantified _,
    "sql_recursive_cte"      -> SqlSurface.recursiveCte _,
    "sql_lateral_topn"       -> SqlSurface.lateralTopN _,
    "agg_count_min"          -> SqlSurface.countMin _,
    "agg_heavy_hitters"      -> SqlSurface.heavyHitters _,
    "expr_regex"             -> SqlSurface.regexFuncs _,
    "sink_partitioned_prune" -> SqlSurface.partitionedSink _,
    "agg_approx_stats"       -> SqlSurface.approxStats _,
    "agg_sketch_merge"       -> SqlSurface.sketchMerge _,
    // §2.6 streaming rows driven through the oracle gate: real
    // readStream pipelines run to completion with Trigger.AvailableNow
    // (bounded replay), value-checked against the batch oracles
    "stream_tumbling_agg"  -> graft.streaming.StreamQueries.tumblingAgg _,
    "stream_tumbling_append" -> graft.streaming.StreamQueries.tumblingAppend _,
    "stream_session_agg"   -> graft.streaming.StreamQueries.sessionAgg _,
    "stream_session_append" -> graft.streaming.StreamQueries.sessionAppend _,
    "stream_late_drop"     -> graft.streaming.StreamQueries.lateDrop _,
    "stream_chaos_replay"  -> graft.streaming.StreamQueries.chaosReplay _,
    "stream_sliding_agg"   -> graft.streaming.StreamQueries.slidingAgg _,
    "stream_sliding_append" -> graft.streaming.StreamQueries.slidingAppend _,
    "stream_lsh_dedup"      -> graft.streaming.StreamQueries.lshDedup _,
    "stream_dedup_agg"     -> graft.streaming.StreamQueries.dedupAgg _,
    "stream_interval_join" -> graft.streaming.StreamQueries.intervalJoin _,
    "stream_outer_join"    -> graft.streaming.StreamQueries.outerJoin _,
    "stream_upsert_sink"   -> graft.streaming.StreamQueries.upsertSink _,
    "stream_graph_maintain" -> graft.streaming.StreamQueries.graphMaintain _,
    "stream_static_enrich" -> graft.streaming.StreamQueries.staticEnrich _,
    "stream_cep_funnels"   -> graft.streaming.StreamQueries.cepFunnels _,
    // §2.12 native TopKPerKey operator (custom LogicalPlan/Strategy/SparkPlan)
    "win_topk_rewrite" -> Analytic.topkRewrite _,
    "win_topk_native" -> ((s: SparkSession, d: String) =>
      graft.plans.TopK.perKey(
          graft.sources.Tables.part(s, d).select("p_brand", "p_partkey", "p_retailprice"),
          Seq("p_brand"), Seq("p_retailprice" -> false, "p_partkey" -> true), 3)
        .orderBy("p_brand", "rank"))
  )

  /** DuckDB-runnable oracle SQL, one per `queries` key (same column
    * names, same ORDER BY — the driver hash-compares values).
    * ann_ivf_indexed serves from the staged parquet index but must
    * produce byte-identical results to the direct ann_ivf_topk plan,
    * so both keys share one oracle — added after the literal map so
    * the SQL lives in exactly one place. */
  def oracleSql: Map[String, String] = {
    val m = oracleSqlBase
    // the persistent index serves a TrainIters-Lloyd-trained
    // quantizer, so its oracle replays the training loop (generated:
    // one CTE pair per round); emb_recall_trained audits the same
    // trained quantizer against the exact top-k
    m + ("ann_ivf_indexed" -> IvfOracle.trainedSearchSql) +
      ("ann_ivf_tuning" -> IvfOracle.tuningSql) +
      ("emb_recall_trained" -> IvfOracle.trainedRecallSql) +
      // same contract: the inverted index is a layout change only
      ("text_bm25_indexed" -> m("text_bm25")) +
      // the streaming CEP replay must land on the batch
      // MATCH_RECOGNIZE answer exactly
      ("stream_cep_funnels" -> m("ev_pattern_match")) +
      // the DCT basis is generated from the same Scala table the
      // operator embeds, so both engines transform identically
      ("mm_image_phash" -> PhashOracle.sql) +
      ("mm_phash_clusters" -> PhashOracle.clustersSql) +
      // the native band join is a physical strategy change over the
      // bucketed form — identical answer, one shared oracle
      ("ev_range_native" -> m("ev_range_join")) +
      // prefix filtering is EXACT (no false negatives): its pair set
      // IS the full posting-join enumeration — one shared oracle
      ("dedup_prefix_filter" -> m("dedup_ngram_jaccard")) +
      // generated: 8 unrolled value-iteration rounds per scenario
      ("ev_attribution_removal" -> AttribOracle.sql) +
      // generated: GraphRounds unrolled beam-search rounds over the
      // symmetrized exact k-NN graph, scores integer-quantized so
      // beam membership replays exactly
      ("ann_graph_topk" -> GraphAnnOracle.topkSql) +
      ("ann_graph_recall" -> GraphAnnOracle.recallSql) +
      ("ann_graph_tuning" -> GraphAnnOracle.tuningSql) +
      ("ann_graph_insert" -> GraphAnnOracle.insertSql) +
      // the streamed maintenance path lands the IDENTICAL index
      // state the one-shot batch insert builds (arrivals search the
      // base graph; per-probe state only), so its oracle IS the
      // batch insert chain
      ("stream_graph_maintain" -> GraphAnnOracle.insertSql) +
      ("ann_graph_delete" -> GraphAnnOracle.deleteSql) +
      ("ann_graph_build_tuning" -> GraphAnnOracle.buildTuningSql) +
      // real-codec decode rows: planted md5-derived PNG/WAV bytes,
      // oracle regenerates the media from first principles
      ("mm_image_phash_real" -> RealMediaOracle.imageSql) +
      ("mm_silence_real" -> RealMediaOracle.audioSql) +
      ("mm_frame_sample_real" -> RealMediaOracle.frameSampleSql) +
      ("mm_scene_cuts_real" -> RealMediaOracle.sceneCutsSql) +
      ("mm_audio_fingerprint" -> RealMediaOracle.audioFpSql)
  }

  /** DuckDB replay of the graph-ANN index + beam search
    * (operators/Similarity.graphTopK): the exact symmetrized
    * GraphM-NN edge relation, then GraphRounds expand-score-prune
    * rounds as generated CTEs. Scores ride the same left-fold cosine
    * as every vector oracle, quantized to floor(cosine·10⁶) for the
    * beam ordering — both engines floor the same IEEE double. */
  /** DuckDB replay of the REAL-media decode rows: every planted byte
    * derives from md5 content keys (operators/Multimodal.RealImageDocs
    * / RealWavDocs), so the oracle regenerates the identical pixels /
    * samples from first principles, replays the decoder's integer
    * box-means / frame energies in SQL, and runs the same transform
    * tails as the stub rows — a value oracle over real codec bytes. */
  private object RealMediaOracle {
    def imageSql: String = {
      val imap = graft.operators.Multimodal.RealImageDocs
        .map { case (id, b, v) => s"($id, $b, '$v')" }.mkString(", ")
      s"""WITH imap(doc_id, base, variant) AS (VALUES $imap),
         |chan AS (
         |  SELECT doc_id, x, y,
         |    CASE variant
         |      WHEN 'inverse' THEN 255 - p0
         |      WHEN 'noisy' THEN CASE WHEN (x + y) % 7 = 0 THEN least(p0 + 1, 255) ELSE p0 END
         |      ELSE p0 END AS p
         |  FROM (
         |    SELECT doc_id, variant, x, y, c,
         |      CAST(('0x' || substring(md5('img' || base || ':' || x || ':' || y || ':' || c), 1, 2)) AS BIGINT) AS p0
         |    FROM imap, generate_series(0, 15) tx(x), generate_series(0, 15) ty(y),
         |      generate_series(0, 2) tc(c))),
         |pix AS (
         |  SELECT doc_id, gx AS x, gy AS y, p FROM (
         |    SELECT doc_id, x // 2 AS gx, y // 2 AS gy,
         |      CAST(sum(p) // 12 AS BIGINT) AS p
         |    FROM chan GROUP BY doc_id, x // 2, y // 2)),
         |${PhashOracle.dctSuffix}""".stripMargin + PhashOracle.pairTail
    }
    /** shared prefix for the GIF frame-family oracles: per-(doc,
      * scene) 8×8 gray sums regenerated from the md5 content keys,
      * fanned out to per-frame sums via frame_idx // scene_len —
      * the relation [[graft.operators.Multimodal.decodeGifFrames]]
      * produces from the real codec bytes. */
    private def gifFramesCte: String = {
      val gmap = graft.operators.Multimodal.RealGifDocs
        .map(id => s"($id, ${graft.operators.Multimodal.gifFrames(id)}, " +
          s"${graft.operators.Multimodal.gifSceneLen(id)})")
        .mkString(", ")
      s"""WITH gdocs(doc_id, n_frames, scene_len) AS (VALUES $gmap),
         |ssum AS (
         |  SELECT doc_id, s AS scene,
         |    CAST(sum(CAST(('0x' || substring(md5('vid' || doc_id || ':' || s || ':' || x || ':' || y), 1, 2)) AS BIGINT)) AS BIGINT) AS fsum
         |  FROM (SELECT doc_id, unnest(generate_series(0, (n_frames + scene_len - 1) // scene_len - 1)) AS s FROM gdocs),
         |    generate_series(0, 7) tx(x), generate_series(0, 7) ty(y)
         |  GROUP BY doc_id, s),
         |frames AS (
         |  SELECT f.doc_id, CAST(g.n_frames AS BIGINT) AS n_frames, f.frame_idx, ss.fsum
         |  FROM (SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx FROM gdocs) f
         |  JOIN gdocs g ON g.doc_id = f.doc_id
         |  JOIN ssum ss ON ss.doc_id = f.doc_id AND ss.scene = f.frame_idx // g.scene_len)""".stripMargin
    }
    def frameSampleSql: String = gifFramesCte + """
      |SELECT doc_id, n_frames, frame_idx, fsum
      |FROM frames WHERE frame_idx % 4 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin
    def sceneCutsSql: String = gifFramesCte + """,
      |cuts AS (
      |  SELECT doc_id, frame_idx,
      |    CASE WHEN lag(fsum) OVER (PARTITION BY doc_id ORDER BY frame_idx)
      |         IS DISTINCT FROM fsum THEN 1 ELSE 0 END AS is_cut
      |  FROM frames),
      |sc AS (
      |  SELECT doc_id, frame_idx,
      |    sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS scene_id
      |  FROM cuts),
      |per_scene AS (
      |  SELECT doc_id, scene_id, count(*) AS scene_frames FROM sc GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(scene_frames) AS BIGINT) AS n_decoded,
      |  count(*) AS n_scenes, CAST(max(scene_frames) AS BIGINT) AS longest_scene
      |FROM per_scene GROUP BY doc_id ORDER BY doc_id""".stripMargin

    /** constellation fingerprint replay: samples regenerated per
      * (doc, base, shift) — the shifted twins read the base formula
      * at i − shift — then frame energies, strict local peaks, the
      * Δ ∈ [1,8] target-zone pair hashes, the doc-frequency cap
      * (hashes in > FpDfCap docs drop, mirroring the engine's hot-
      * hash guard), and match counts over the KEPT hashes. */
    def audioFpSql: String = {
      val shift = graft.operators.Multimodal.WavShift
      val wd = (graft.operators.Multimodal.RealWavDocs.map(id => s"($id, $id, 0)") ++
        graft.operators.Multimodal.RealWavShifted.map(d => s"(${100 + d}, $d, $shift)"))
        .mkString(", ")
      val n = graft.operators.Multimodal.WavSamples
      val nFrames = (n - 200) / 80 + 1
      s"""WITH wdocs(doc_id, base, shift) AS (VALUES $wd),
         |samp AS (
         |  SELECT doc_id, i,
         |    CASE WHEN i < shift THEN 0
         |      WHEN (i - shift) >= base * 300 + 400 AND (i - shift) < base * 300 + 1100 THEN 0
         |      ELSE CAST(('0x' || substring(md5('wav' || base || ':' || (i - shift)), 1, 3)) AS BIGINT) - 2048 END AS amp
         |  FROM wdocs, generate_series(0, ${n - 1}) t(i)),
         |en AS (
         |  SELECT f.doc_id, f.frame_idx, CAST(sum(abs(s.amp)) // 200 AS BIGINT) AS energy
         |  FROM (SELECT doc_id, unnest(generate_series(0, ${nFrames - 1})) AS frame_idx FROM wdocs) f
         |  JOIN samp s ON s.doc_id = f.doc_id
         |    AND s.i >= f.frame_idx * 80 AND s.i < f.frame_idx * 80 + 200
         |  GROUP BY f.doc_id, f.frame_idx),
         |pk AS (
         |  SELECT doc_id, frame_idx, energy FROM (
         |    SELECT doc_id, frame_idx, energy,
         |      lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev,
         |      lead(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS nxt
         |    FROM en)
         |  WHERE energy >= 200 AND energy > coalesce(prev, -1) AND energy > coalesce(nxt, -1)),
         |pr0 AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id,
         |    (a.energy * 4096 + b.energy) * 16 + (b.frame_idx - a.frame_idx) AS fhash
         |  FROM pk a JOIN pk b ON a.doc_id = b.doc_id
         |    AND b.frame_idx - a.frame_idx BETWEEN 1 AND 8),
         |pr AS MATERIALIZED (
         |  SELECT pr0.doc_id, pr0.fhash FROM pr0
         |  JOIN (SELECT fhash FROM pr0 GROUP BY fhash
         |        HAVING count(*) <= ${graft.operators.Multimodal.FpDfCap}) keep
         |    USING (fhash)),
         |cnt AS (SELECT doc_id, count(*) AS n_prints FROM pr GROUP BY doc_id),
         |m AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
         |  FROM pr x JOIN pr y ON x.fhash = y.fhash AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT m.doc_a, m.doc_b, m.n_shared, ca.n_prints AS n_a, cb.n_prints AS n_b,
         |  1000000 * m.n_shared // least(ca.n_prints, cb.n_prints) AS overlap_ppm
         |FROM m JOIN cnt ca ON ca.doc_id = m.doc_a JOIN cnt cb ON cb.doc_id = m.doc_b
         |WHERE m.n_shared >= 3
         |ORDER BY m.doc_a, m.doc_b""".stripMargin
    }

    def audioSql: String = {
      val wd = graft.operators.Multimodal.RealWavDocs
        .map(id => s"($id)").mkString(", ")
      val n = graft.operators.Multimodal.WavSamples
      val nFrames = (n - 200) / 80 + 1
      s"""WITH wdocs(doc_id) AS (VALUES $wd),
         |samp AS (
         |  SELECT doc_id, i,
         |    CASE WHEN i >= doc_id * 300 + 400 AND i < doc_id * 300 + 1100 THEN 0
         |      ELSE CAST(('0x' || substring(md5('wav' || doc_id || ':' || i), 1, 3)) AS BIGINT) - 2048 END AS amp
         |  FROM wdocs, generate_series(0, ${n - 1}) t(i)),
         |en AS (
         |  SELECT f.doc_id, CAST($nFrames AS BIGINT) AS n_frames, f.frame_idx,
         |    CAST(sum(abs(s.amp)) // 200 AS BIGINT) AS energy
         |  FROM (SELECT doc_id, unnest(generate_series(0, ${nFrames - 1})) AS frame_idx FROM wdocs) f
         |  JOIN samp s ON s.doc_id = f.doc_id
         |    AND s.i >= f.frame_idx * 80 AND s.i < f.frame_idx * 80 + 200
         |  GROUP BY f.doc_id, f.frame_idx),
         |sil AS (
         |  SELECT doc_id, frame_idx,
         |    frame_idx - row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS g
         |  FROM en WHERE energy < 150),
         |runs AS (
         |  SELECT doc_id, g, count(*) AS run_len FROM sil GROUP BY 1, 2),
         |per_doc AS (
         |  SELECT doc_id, count(*) AS n_segments, CAST(max(run_len) AS BIGINT) AS longest_run,
         |    CAST(sum(run_len) AS BIGINT) AS n_silent
         |  FROM runs GROUP BY 1),
         |base AS (SELECT doc_id, max(n_frames) AS n_frames FROM en GROUP BY 1)
         |SELECT b.doc_id, b.n_frames,
         |  coalesce(n_silent, 0) AS n_silent,
         |  coalesce(n_segments, 0) AS n_segments,
         |  coalesce(longest_run, 0) AS longest_run,
         |  coalesce(n_silent, 0) * 1000000 // b.n_frames AS silence_ppm
         |FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
         |ORDER BY b.doc_id""".stripMargin
    }
  }

  private object GraphAnnOracle {
    private def dot(u: String, v: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> $u[i]*$v[i])), (a,b) -> a+b)"
    private def cos(u: String, v: String): String =
      s"${dot(u, v)} / (sqrt(${dot(u, u)}) * sqrt(${dot(v, v)}))"
    private val m = graft.operators.Similarity.GraphM
    private val beam = graft.operators.Similarity.GraphBeam
    private val rounds = graft.operators.Similarity.GraphRounds
    private val buildCells = graft.operators.Similarity.GraphBuildCells
    private val degreeCap = graft.operators.Similarity.GraphDegreeCap
    private val adjCap = graft.operators.Similarity.GraphAdjCap
    private val cellCapFactor = graft.operators.Similarity.GraphCellCapFactor

    /** the blocked build replayed CTE by CTE
      * (operators/Similarity.blockedGraphEdges): ⌊√N⌋ integer-grid
      * mod-sample centroids over `vecsCte`, every vector multi-
      * assigned to its `buildCells` nearest cells (rank ≤ buildCells
      * with the (sim DESC, cell) tie-break ≡ the kernel's argmax +
      * argmax-excluding-first), exact per-src top-M over the distinct
      * blocked candidates (equivalent to Spark's two-stage per-cell
      * top-M + merge — each global top-M edge is within its own
      * cell's top-M), symmetrize, per-src degree cap. Emits
      * `edges$tag`; scores come from the shared allsc lookup. */
    private def blockedEdges(vecsCte: String, tag: String): String = {
      val iters = graft.operators.Similarity.TrainIters
      /** integer-grid per-cell means of (cell, vd) rows in `src` →
        * `bcents${tag}i$t` (the Lloyd re-mean step). */
      def meansCtes(src: String, t: Int): String =
        s"""bdim${tag}i$t AS (
           |  SELECT cell, unnest(generate_series(1, 64)) AS d,
           |    unnest(list_transform(vd, x -> CAST(floor(x * 1000000000.0) AS BIGINT))) AS qx
           |  FROM $src),
           |bcd${tag}i$t AS (
           |  SELECT cell, d, CAST(sum(qx) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS cx
           |  FROM bdim${tag}i$t GROUP BY cell, d),
           |bcents${tag}i$t AS MATERIALIZED (SELECT cell, list(cx ORDER BY d) AS cv FROM bcd${tag}i$t GROUP BY cell)""".stripMargin
      val lloyd = (1 to iters).map { t =>
        s"""basg${tag}i$t AS MATERIALIZED (
           |  SELECT vec_id, vd, cell FROM (
           |    SELECT v.vec_id, v.vd, c.cell,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${cos("vd", "cv")} DESC, c.cell) AS rn
           |    FROM $vecsCte v CROSS JOIN bcents${tag}i${t - 1} c) WHERE rn = 1),
           |${meansCtes(s"basg${tag}i$t", t)}""".stripMargin
      }.mkString(",\n")
      s"""nc$tag AS (SELECT greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS ncells,
         |  $cellCapFactor * greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS cap FROM $vecsCte),
         |${meansCtes(s"(SELECT vec_id % (SELECT ncells FROM nc$tag) AS cell, vd FROM $vecsCte)", 0)},
         |$lloyd,
         |bcents$tag AS (SELECT cell, cv FROM bcents${tag}i$iters),
         |vcell$tag AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${cos("vd", "cv")} DESC, c.cell) AS rn
         |    FROM $vecsCte v CROSS JOIN bcents$tag c) WHERE rn <= $buildCells),
         |vsub$tag AS MATERIALIZED (
         |  SELECT v.vec_id, v.cell, v.vec_id % ((c.cnt + n.cap - 1) // n.cap) AS sub
         |  FROM vcell$tag v
         |  JOIN (SELECT cell, count(*) AS cnt FROM vcell$tag GROUP BY cell) c ON v.cell = c.cell
         |  CROSS JOIN nc$tag n),
         |bcand$tag AS MATERIALIZED (
         |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         |  FROM vsub$tag a JOIN vsub$tag b ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id <> b.vec_id),
         |bknn${tag}r0 AS MATERIALIZED (
         |  SELECT src, dst, cosine FROM (
         |    SELECT c.src, c.dst, s.cosine,
         |      row_number() OVER (PARTITION BY c.src ORDER BY s.cosine DESC, c.dst) AS rn
         |    FROM bcand$tag c JOIN allsc s ON s.src = c.src AND s.dst = c.dst) WHERE rn <= $m),
         |${descentRounds(tag)},
         |bknn$tag AS (SELECT src, dst, cosine FROM bknn${tag}r$descent),
         |bcands$tag AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM bcand$tag
         |    ${(1 to descent).map(r => s"UNION ALL SELECT src, dst FROM bcr${tag}r$r").mkString(" ")})),
         |bsym$tag AS MATERIALIZED (
         |  SELECT DISTINCT src, dst, cosine FROM (
         |    SELECT src, dst, cosine FROM bknn$tag
         |    UNION ALL SELECT dst AS src, src AS dst, cosine FROM bknn$tag)),
         |edges$tag AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst,
         |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM bsym$tag) WHERE rn <= $degreeCap)""".stripMargin
    }

    private val descent = graft.operators.Similarity.GraphDescentRounds

    /** the NN-descent refinement rounds of [[blockedEdges]]: each
      * re-ranks every src over its 2-hop neighborhood in the
      * symmetrized previous-round graph (candidates = previous kNN ∪
      * 2-hops), scores from the shared allsc lookup. */
    private def descentRounds(tag: String): String =
      (1 to descent).map { r =>
        // the symmetrized adjacency is CAPPED at adjCap per src
        // (cosine DESC, dst — Dong et al.'s sampled reverse
        // neighbors) before the 2-hop expansion, mirroring
        // Similarity.descentCandidates' skew bound
        s"""bds${tag}r${r - 1} AS MATERIALIZED (
           |  SELECT src, dst FROM (
           |    SELECT src, dst,
           |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
           |    FROM (SELECT DISTINCT src, dst, cosine FROM (
           |      SELECT src, dst, cosine FROM bknn${tag}r${r - 1}
           |      UNION ALL SELECT dst AS src, src AS dst, cosine FROM bknn${tag}r${r - 1}))) WHERE rn <= $adjCap),
           |bcr${tag}r$r AS MATERIALIZED (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM bknn${tag}r${r - 1}
           |    UNION ALL
           |    SELECT x.src, y.dst FROM bds${tag}r${r - 1} x
           |    JOIN bds${tag}r${r - 1} y ON x.dst = y.src WHERE x.src <> y.dst)),
           |bknn${tag}r$r AS MATERIALIZED (
           |  SELECT src, dst, cosine FROM (
           |    SELECT c.src, c.dst, s.cosine,
           |      row_number() OVER (PARTITION BY c.src ORDER BY s.cosine DESC, c.dst) AS rn
           |    FROM bcr${tag}r$r c JOIN allsc s ON s.src = c.src AND s.dst = c.dst) WHERE rn <= $m)""".stripMargin
      }.mkString(",\n")
    /** beam-width-suffixed unrolled rounds: v<bw>_0..v<bw>_R plus the
      * per-width top-10 — shared by the headline chain (default
      * width, unsuffixed aliases) and the tuning sweep. */
    private def roundsFor(bw: Int, tag: String, edgesCte: String = "edges",
        entryCte: String = "entry"): String = {
      val rc = (1 to rounds).map { r =>
        s"""beam$tag${r - 1} AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id ORDER BY score_micro DESC, vec_id) AS rn
           |    FROM v$tag${r - 1}) WHERE rn <= $bw),
           |v$tag$r AS MATERIALIZED (
           |  SELECT DISTINCT probe_id, vec_id, score_micro FROM (
           |    SELECT probe_id, vec_id, score_micro FROM v$tag${r - 1}
           |    UNION ALL
           |    SELECT b.probe_id, e.dst AS vec_id, s.score_micro
           |    FROM beam$tag${r - 1} b JOIN $edgesCte e ON e.src = b.vec_id
           |    JOIN allsc s ON s.src = b.probe_id AND s.dst = e.dst))""".stripMargin
      }.mkString(",\n")
      s"""v${tag}0 AS (
         |  SELECT p.probe_id, en.vec_id, s.score_micro
         |  FROM probes p CROSS JOIN $entryCte en
         |  JOIN allsc s ON s.src = p.probe_id AND s.dst = en.vec_id),
         |$rc""".stripMargin
    }
    private def chain: String = {
      val roundCtes = roundsFor(beam, "")
      s"""WITH vecs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
         |norms AS MATERIALIZED (SELECT vec_id, sqrt(${dot("vd", "vd")}) AS nrm FROM vecs),
         |allsc AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    (${dot("a.vd", "b.vd")}) / (na.nrm * nb.nrm) AS cosine,
         |    CAST(floor((${dot("a.vd", "b.vd")}) / (na.nrm * nb.nrm) * 1000000.0) AS BIGINT) AS score_micro
         |  FROM vecs a CROSS JOIN vecs b
         |  JOIN norms na ON na.vec_id = a.vec_id
         |  JOIN norms nb ON nb.vec_id = b.vec_id),
         |${blockedEdges("vecs", "")},
         |probes AS (SELECT vec_id AS probe_id FROM vecs WHERE vec_id < 5),
         |entry AS (SELECT min(vec_id) AS vec_id FROM vecs),
         |$roundCtes,
         |final AS (
         |  SELECT probe_id, vec_id, score_micro,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY score_micro DESC, vec_id) AS rank
         |  FROM v$rounds WHERE vec_id <> probe_id)""".stripMargin
    }

    /** the beam-width operating curve: the shared prefix + one
      * suffixed round chain per width + per-width stats, graded
      * against the exact top-10. */
    def tuningSql: String = {
      val beams = graft.operators.Similarity.GraphTuningBeams
      val perBeam = beams.map { bw =>
        s"""${roundsFor(bw, s"b${bw}_")},
           |topk$bw AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id ORDER BY score_micro DESC, vec_id) AS rank
           |    FROM vb${bw}_$rounds WHERE vec_id <> probe_id) WHERE rank <= 10),
           |stat$bw AS (
           |  SELECT CAST($bw AS BIGINT) AS beam,
           |    CAST((SELECT count(*) FROM vb${bw}_$rounds) AS BIGINT) AS n_visited,
           |    CAST((SELECT count(DISTINCT vec_id) FROM vb${bw}_$rounds) AS BIGINT) AS n_distinct_vecs,
           |    CAST((SELECT count(*) FROM topk$bw) AS BIGINT) AS n_returned,
           |    CAST((SELECT count(*) FROM topk$bw t JOIN exact_topk e
           |          ON t.probe_id = e.probe_id AND t.vec_id = e.vec_id) AS BIGINT) AS n_hits)""".stripMargin
      }.mkString(",\n")
      // the default chain carries the shared prefix; its unsuffixed
      // rounds are unused here but harmless (CTEs are lazy)
      chain + s""",
         |exact_topk AS (
         |  SELECT src AS probe_id, dst AS vec_id FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM allsc WHERE src <> dst AND src < 5) WHERE rn <= 10),
         |$perBeam,
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact_topk)
         |SELECT beam, n_visited, n_distinct_vecs, n_returned, n_hits, n_exact,
         |  CAST(1000000 * n_hits // greatest(n_exact, 1) AS BIGINT) AS recall_ppm
         |FROM (${beams.map(bw => s"SELECT * FROM stat$bw").mkString(" UNION ALL ")}) s, ex
         |ORDER BY beam""".stripMargin
    }
    def topkSql: String = chain +
      "\nSELECT probe_id, vec_id, score_micro, rank FROM final WHERE rank <= 10" +
      "\nORDER BY probe_id, rank"

    /** blocked-vs-brute build audit (Similarity.graphBuildTuning):
      * candidate mass saved by the blocking against the edge recall
      * it costs, the exact side being the full per-src top-M. */
    def buildTuningSql: String = chain + s""",
         |exact_knn AS (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM allsc WHERE src <> dst) WHERE rn <= $m),
         |bl AS (
         |  SELECT CAST((SELECT count(*) FROM bcands) AS BIGINT) AS n_candidates,
         |    CAST((SELECT count(*) FROM bknn) AS BIGINT) AS n_edges,
         |    CAST((SELECT count(*) FROM bknn k JOIN exact_knn e
         |          ON e.src = k.src AND e.dst = k.dst) AS BIGINT) AS n_hits),
         |br AS (
         |  SELECT CAST((SELECT count(*) * (count(*) - 1) FROM vecs) AS BIGINT) AS n_candidates,
         |    CAST((SELECT count(*) FROM exact_knn) AS BIGINT) AS n_edges)
         |SELECT config, n_candidates, n_edges, n_hits,
         |  CAST(1000000 * n_hits // greatest(n_edges, 1) AS BIGINT) AS edge_recall_ppm
         |FROM (
         |  SELECT 'blocked_ivf' AS config, n_candidates, n_edges, n_hits FROM bl
         |  UNION ALL SELECT 'brute_exact', n_candidates, n_edges, n_edges AS n_hits FROM br)
         |ORDER BY config""".stripMargin

    /** tombstone deletion: LAZY mode searches the intact graph and
      * filters deleted ids from results only (tombstones stay
      * routable); HARD mode removes the nodes and their edges before
      * the search. Both graded against the exact top-10 over the
      * LIVE corpus. */
    def deleteSql: String = {
      // lazy-mode rounds ARE the chain's default rounds (the graph is
      // untouched — only the result filter changes), so only the
      // hard-removal mode needs its own suffixed chain
      val hardRounds = roundsFor(beam, "hd_", "edges_hd", "entry_hd")
      chain + s""",
         |edges_hd AS MATERIALIZED (
         |  SELECT src, dst FROM edges WHERE src % 41 <> 0 AND dst % 41 <> 0),
         |entry_hd AS (SELECT min(vec_id) AS vec_id FROM vecs WHERE vec_id % 41 <> 0),
         |$hardRounds,
         |exact_live AS (
         |  SELECT src AS probe_id, dst AS vec_id FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM allsc WHERE src <> dst AND src < 5 AND dst % 41 <> 0) WHERE rn <= 10),
         |top_lz AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY score_micro DESC, vec_id) AS rk
         |    FROM v$rounds WHERE vec_id <> probe_id AND vec_id % 41 <> 0) WHERE rk <= 10),
         |top_hd AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY score_micro DESC, vec_id) AS rk
         |    FROM vhd_$rounds WHERE vec_id <> probe_id AND vec_id % 41 <> 0) WHERE rk <= 10),
         |graded AS (
         |  SELECT 'hard_removed' AS mode, e.probe_id,
         |    count(*) AS n_exact,
         |    CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact_live e LEFT JOIN top_hd t
         |    ON t.probe_id = e.probe_id AND t.vec_id = e.vec_id
         |  GROUP BY e.probe_id
         |  UNION ALL
         |  SELECT 'lazy_tombstone', e.probe_id, count(*),
         |    CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM exact_live e LEFT JOIN top_lz t
         |    ON t.probe_id = e.probe_id AND t.vec_id = e.vec_id
         |  GROUP BY e.probe_id)
         |SELECT mode, probe_id, n_exact, n_hits,
         |  CAST(1000000 * n_hits // greatest(n_exact, 1) AS BIGINT) AS recall_ppm
         |FROM graded ORDER BY mode, probe_id""".stripMargin
    }

    /** incremental insert: the base graph excludes the arrival slice
      * (vec_id ≡ 0 mod 53); each arrival beam-searches the base
      * graph, links to its top-M visited, and is graded against its
      * exact top-M over the base corpus. */
    def insertSql: String = {
      val rc = roundsFor(graft.operators.Similarity.GraphInsertBeam, "")
      s"""WITH vecs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
         |norms AS MATERIALIZED (SELECT vec_id, sqrt(${dot("vd", "vd")}) AS nrm FROM vecs),
         |allsc AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    (${dot("a.vd", "b.vd")}) / (na.nrm * nb.nrm) AS cosine,
         |    CAST(floor((${dot("a.vd", "b.vd")}) / (na.nrm * nb.nrm) * 1000000.0) AS BIGINT) AS score_micro
         |  FROM vecs a CROSS JOIN vecs b
         |  JOIN norms na ON na.vec_id = a.vec_id
         |  JOIN norms nb ON nb.vec_id = b.vec_id),
         |bvecs AS (SELECT vec_id, vd FROM vecs WHERE vec_id % 53 <> 0),
         |${blockedEdges("bvecs", "")},
         |probes AS (SELECT vec_id AS probe_id FROM vecs WHERE vec_id % 53 = 0),
         |entry AS (SELECT min(vec_id) AS vec_id FROM vecs WHERE vec_id % 53 <> 0),
         |$rc,
         |links AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY score_micro DESC, vec_id) AS rk
         |    FROM v$rounds) WHERE rk <= $m),
         |exactm AS (
         |  SELECT src AS probe_id, dst AS vec_id FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM allsc WHERE src % 53 = 0 AND dst % 53 <> 0) WHERE rn <= $m)
         |SELECT l.probe_id AS vec_id,
         |  CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(1000000 * sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    // greatest(count(*), 1) AS BIGINT) AS link_recall_ppm
         |FROM links l LEFT JOIN exactm e
         |  ON e.probe_id = l.probe_id AND e.vec_id = l.vec_id
         |GROUP BY l.probe_id ORDER BY vec_id""".stripMargin
    }
    def recallSql: String = chain + s""",
         |exact_topk AS (
         |  SELECT src AS probe_id, dst AS vec_id FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM allsc WHERE src <> dst AND src < 5) WHERE rn <= 10),
         |hits AS (SELECT probe_id, vec_id FROM final WHERE rank <= 10)
         |SELECT e.probe_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall
         |FROM exact_topk e LEFT JOIN hits h
         |  ON e.probe_id = h.probe_id AND e.vec_id = h.vec_id
         |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin
  }

  /** DuckDB replay of the Markov removal-effect attribution: the same
    * journey truncation + transition counts, then the 8-round integer
    * value iteration unrolled CTE by CTE (aggregates are not allowed
    * in a recursive member, so the rounds are generated). */
  private object AttribOracle {
    val sql: String = {
      val rounds = (1 to 8).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""v$k AS (
           |  SELECT st.scenario, st.s AS state,
           |    CAST(sum(st.n * v.p) AS BIGINT) // max(st.n_from) AS p
           |  FROM st JOIN $prev v ON v.scenario = st.scenario AND v.state = st.t
           |  GROUP BY st.scenario, st.s
           |  UNION ALL SELECT scenario, 'purchase' AS state, CAST(1000000 AS BIGINT) AS p FROM sc)""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
         |fp AS (SELECT user_id, ts_sec AS fts, event_id AS feid FROM (
         |  SELECT user_id, ts_sec, event_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS rn
         |  FROM ev WHERE event_type = 'purchase') WHERE rn = 1),
         |j AS (SELECT e.user_id, e.event_id, e.event_type, e.ts_sec, fp.fts
         |      FROM ev e LEFT JOIN fp USING (user_id)
         |      WHERE fp.fts IS NULL OR (e.ts_sec, e.event_id) <= (fp.fts, fp.feid)),
         |t1 AS (SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id), '_start') AS s,
         |       event_type AS t FROM j),
         |endt AS (SELECT event_type AS s, '_null' AS t FROM (
         |  SELECT event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts_sec DESC, event_id DESC) AS rn
         |  FROM j WHERE fts IS NULL) WHERE rn = 1),
         |trans AS (SELECT s, t, count(*) AS n FROM (SELECT * FROM t1 UNION ALL SELECT * FROM endt) GROUP BY s, t),
         |nf AS (SELECT s, CAST(sum(n) AS BIGINT) AS n_from FROM trans GROUP BY s),
         |ch AS (SELECT DISTINCT t AS ch FROM trans WHERE t <> 'purchase' AND t <> '_null'),
         |sc AS (SELECT ch AS scenario FROM ch UNION ALL SELECT '_none'),
         |st AS MATERIALIZED (SELECT trans.s, trans.t, trans.n, nf.n_from, sc.scenario
         |      FROM trans JOIN nf USING (s) CROSS JOIN sc WHERE trans.t <> sc.scenario),
         |v0 AS (SELECT scenario, 'purchase' AS state, CAST(1000000 AS BIGINT) AS p FROM sc),
         |$rounds,
         |s8 AS (SELECT scenario, p FROM v8 WHERE state = '_start'),
         |b AS (SELECT p AS p_base FROM s8 WHERE scenario = '_none')
         |SELECT scenario AS channel, p_base AS p_base_micro, p AS p_removed_micro,
         |  (p_base - p) * 1000000 // p_base AS removal_ppm
         |FROM s8, b WHERE scenario <> '_none' ORDER BY channel""".stripMargin
    }
  }

  /** DuckDB replay of the integer-DCT pHash (operators/Multimodal
    * imagePHashOn): the 64-entry ×1024 cosine basis arrives as a
    * generated VALUES list from [[graft.operators.Multimodal.dctTable]]
    * — one source of truth for both engines. */
  private object PhashOracle {
    /** the DCT→signature→pigeonhole chain downstream of a `pix`
      * (doc_id, x, y, p) CTE — shared by the stub-decode chain and
      * the real-media oracle (RealMediaOracle.imageSql). */
    def dctSuffix: String = {
      val values = graft.operators.Multimodal.dctTable
        .map { case (u, x, c) => s"($u, $x, $c)" }.mkString(", ")
      s"""basis(u, x, c) AS (VALUES $values),
         |g AS (
         |  SELECT doc_id, basis.u, pix.y, sum(p * c) AS g
         |  FROM pix JOIN basis ON pix.x = basis.x
         |  GROUP BY doc_id, basis.u, pix.y),
         |f AS (
         |  SELECT g.doc_id, g.u, cv.u AS v, sum(g.g * cv.c) AS f
         |  FROM g JOIN basis cv ON g.y = cv.x
         |  GROUP BY g.doc_id, g.u, cv.u),
         |nf AS (SELECT doc_id, u, v, f FROM f WHERE NOT (u = 0 AND v = 0)),
         |tot AS (SELECT doc_id, sum(f) AS tot FROM nf GROUP BY doc_id),
         |sigs AS (
         |  SELECT nf.doc_id,
         |    CAST(sum(CASE WHEN f * 63 > tot
         |      THEN CAST(1 AS BIGINT) << CAST(u*8 + v - 1 AS INTEGER)
         |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
         |  FROM nf JOIN tot USING (doc_id) GROUP BY nf.doc_id),
         |expl AS (
         |  SELECT doc_id, phash, unnest(generate_series(0, 3)) AS blk,
         |    unnest(list_transform(generate_series(0, 3), b -> (phash >> (b*16)) & 65535)) AS key
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.phash AS ha, b.phash AS hb
         |  FROM expl a JOIN expl b
         |    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
    }
    /** the signature + pigeonhole-candidate chain of the STUB decode
      * (md5 pseudo-pixels over the text payload), shared by the pair
      * query and the cluster rollup (RECURSIVE for the latter's
      * reach CTE; harmless for the former). */
    private def chain: String =
      s"""WITH RECURSIVE thumb AS (
         |  SELECT doc_id,
         |    substring(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 64) AS t
         |  FROM documents),
         |hexed AS (
         |  SELECT doc_id,
         |    md5(t || '#px0') || md5(t || '#px1') || md5(t || '#px2') || md5(t || '#px3') AS hex
         |  FROM thumb),
         |pix AS (
         |  SELECT doc_id, (i - 1) % 8 AS x, (i - 1) // 8 AS y,
         |    CAST(('0x' || substring(hex, 2*(i-1) + 1, 2)) AS BIGINT) AS p
         |  FROM hexed, generate_series(1, 64) t(i)),
         |$dctSuffix""".stripMargin

    def pairTail: String =
      """
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin

    def sql: String = chain + pairTail
    /** the same chain + the reach-CTE component closure over the
      * hamming-filtered pair graph. */
    def clustersSql: String = chain +
      """,
        |pairs AS (
        |  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(node, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst),
        |comp AS (
        |  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
        |SELECT doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM comp ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay of the Lloyd-TRAINED IVF quantizer
    * (operators/Similarity.scala trainedCentroids): the mod-sample
    * start, then TrainIters rounds of assign-to-nearest →
    * integer-grid re-mean, each round one generated CTE pair — the
    * same arithmetic as ann_ivf_topk's literal oracle, iterated. */
  private object IvfOracle {
    private def dot(u: String, v: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> $u[i]*$v[i])), (a,b) -> a+b)"
    private def cos(u: String, v: String): String =
      s"${dot(u, v)} / (sqrt(${dot(u, u)}) * sqrt(${dot(v, v)}))"
    /** integer-grid means of (cell, vd) rows in `src` → CTE `out`. */
    private def means(src: String, out: String): String =
      s"""${out}_dims AS (
         |  SELECT cell, unnest(generate_series(1, 64)) AS d,
         |    unnest(list_transform(vd, x -> CAST(floor(x * 1000000000.0) AS BIGINT))) AS qx
         |  FROM $src
         |), ${out}_cd AS (
         |  SELECT cell, d, CAST(sum(qx) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS cx
         |  FROM ${out}_dims GROUP BY cell, d
         |), $out AS (SELECT cell, list(cx ORDER BY d) AS cv FROM ${out}_cd GROUP BY cell)""".stripMargin
    /** nearest-centroid assignment of every vector → CTE `out`. */
    private def assign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, vd, cell FROM (
         |    SELECT v.vec_id, v.vd, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${cos("vd", "cv")} DESC, c.cell) AS rn
         |    FROM vecs v CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    /** vecs + probes + cents_0..cents_T + final `cents`/`assigned`. */
    private def trainedChain: String = {
      val iters = graft.operators.Similarity.TrainIters
      val rounds = (1 to iters).map { t =>
        assign(s"cents_${t - 1}", s"assigned_$t") + ",\n" +
          means(s"assigned_$t", s"cents_$t")
      }.mkString(",\n")
      s"""WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
         |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
         |nc AS (SELECT greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS ncells FROM vecs),
         |${means("(SELECT vec_id % (SELECT ncells FROM nc) AS cell, vd FROM vecs)", "cents_0")},
         |$rounds,
         |cents AS (SELECT cell, cv FROM cents_$iters),
         |${assign("cents", "assigned")},
         |probe_cells AS (
         |  SELECT probe_id, pv, cell FROM (
         |    SELECT p.probe_id, p.pv, c.cell,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        ${cos("pv", "cv")} DESC, c.cell) AS rn
         |    FROM probes p CROSS JOIN cents c)
         |  WHERE rn <= 4),
         |ivf_scored AS (
         |  SELECT pc.probe_id, av.vec_id, av.cell, ${cos("pv", "vd")} AS cosine
         |  FROM assigned av JOIN probe_cells pc ON av.cell = pc.cell AND av.vec_id <> pc.probe_id),
         |ivf_topk AS (
         |  SELECT probe_id, vec_id, cell, cosine,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM ivf_scored)""".stripMargin
    }
    def trainedSearchSql: String =
      trainedChain +
        "\nSELECT probe_id, vec_id, cell, cosine, rank FROM ivf_topk WHERE rank <= 10" +
        "\nORDER BY probe_id, rank"
    /** the nprobe operating curve (Similarity.ivfTuning): cells
      * ranked once at the max nprobe, every config a rank prefix,
      * counts + recall@10 vs the exact top-k. */
    def tuningSql: String = {
      val nps = graft.operators.Similarity.IvfTuningProbes
      val maxP = nps.max
      trainedChain + s""",
         |pc_all AS (
         |  SELECT probe_id, pv, cell, rn AS cell_rank FROM (
         |    SELECT p.probe_id, p.pv, c.cell,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        ${cos("pv", "cv")} DESC, c.cell) AS rn
         |    FROM probes p CROSS JOIN cents c) WHERE rn <= $maxP),
         |sc AS MATERIALIZED (
         |  SELECT pc.probe_id, av.vec_id, pc.cell_rank, ${cos("pv", "vd")} AS cosine
         |  FROM assigned av JOIN pc_all pc ON av.cell = pc.cell AND av.vec_id <> pc.probe_id),
         |nps(nprobe) AS (VALUES ${nps.map(p => s"(CAST($p AS BIGINT))").mkString(", ")}),
         |tg AS MATERIALIZED (
         |  SELECT n.nprobe, s.probe_id, s.vec_id, s.cosine
         |  FROM sc s JOIN nps n ON s.cell_rank <= n.nprobe),
         |tk AS (
         |  SELECT nprobe, probe_id, vec_id FROM (
         |    SELECT nprobe, probe_id, vec_id,
         |      row_number() OVER (PARTITION BY nprobe, probe_id ORDER BY cosine DESC, vec_id) AS rk
         |    FROM tg) WHERE rk <= 10),
         |ns AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_scored FROM tg GROUP BY nprobe),
         |exact_scored AS (
         |  SELECT probe_id, v.vec_id, ${cos("pv", "vd")} AS cosine
         |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id),
         |exact_topk AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
         |    FROM exact_scored) WHERE rank <= 10),
         |graded AS (
         |  SELECT n.nprobe, e.probe_id, e.vec_id,
         |    CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM exact_topk e CROSS JOIN nps n
         |  LEFT JOIN tk t ON t.nprobe = n.nprobe AND t.probe_id = e.probe_id AND t.vec_id = e.vec_id)
         |SELECT g.nprobe, ns.n_scored,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_hits,
         |  CAST(1000000 * sum(hit) // greatest(count(*), 1) AS BIGINT) AS recall_ppm
         |FROM graded g JOIN ns ON ns.nprobe = g.nprobe
         |GROUP BY g.nprobe, ns.n_scored
         |ORDER BY g.nprobe""".stripMargin
    }

    def trainedRecallSql: String =
      trainedChain + s""",
         |exact_scored AS (
         |  SELECT probe_id, v.vec_id, ${cos("pv", "vd")} AS cosine
         |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id),
         |exact_topk AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
         |    FROM exact_scored) WHERE rank <= 10),
         |hits AS (SELECT probe_id, vec_id FROM ivf_topk WHERE rank <= 10)
         |SELECT e.probe_id,
         |  count(*) AS n_exact,
         |  CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall
         |FROM exact_topk e LEFT JOIN hits h
         |  ON e.probe_id = h.probe_id AND e.vec_id = h.vec_id
         |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin
  }

  private def oracleSqlBase: Map[String, String] = Map(
    // trailing-7-row exact median; full-duplicate ties make the
    // output multiset order-invariant (see rollingMedian Scaladoc)
    "win_rolling_median" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  quantile_cont(l_extendedprice, 0.5) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_extendedprice""".stripMargin,
    // fixed-point decimal contract: scale composition, HALF_UP
    // rounding both directions, fixed-scale rendering — all exact
    "expr_decimal_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS p_str,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(38,4)) AS VARCHAR) AS prod_str,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS VARCHAR) AS round1_str,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), -2) AS BIGINT) AS round_hundreds,
        |  CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) AS fl,
        |  CAST(ceil(CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) AS ce
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // decimal DIVISION: DuckDB's own decimal / returns DOUBLE, so the
    // oracle replays Spark's single scale-6 half-up rounding in pure
    // integers — half_up(n/d) = (2n + d) // (2d) on the micro-unit
    // numerator — and renders the identical fixed-scale string
    "expr_decimal_div" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem
        |), d AS (
        |  SELECT l_orderkey, l_linenumber,
        |    (2 * cents * 10000 + q) // (2 * q) AS micro,
        |    CASE WHEN q = 1 THEN NULL
        |         ELSE (2 * cents * 10000 + (q - 1)) // (2 * (q - 1)) END AS micro_m1
        |  FROM base
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(micro // 1000000 AS VARCHAR) || '.' ||
        |    lpad(CAST(micro % 1000000 AS VARCHAR), 6, '0') AS unit_price_str,
        |  CASE WHEN micro_m1 IS NULL THEN NULL
        |       ELSE CAST(micro_m1 // 1000000 AS VARCHAR) || '.' ||
        |         lpad(CAST(micro_m1 % 1000000 AS VARCHAR), 6, '0') END AS unit_price_m1_str
        |FROM d ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // native EXCLUDE CURRENT ROW vs the subtract-self translation
    // native EXCLUDE GROUP / EXCLUDE TIES vs the three-aggregate
    // decomposition (partition - peers [+ self])
    "win_exclude_group" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  count(*) OVER w_g AS n_grp,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w_g AS DOUBLE) AS sum_grp,
        |  count(*) OVER w_t AS n_ties,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w_t AS DOUBLE) AS sum_ties
        |FROM lineitem
        |WINDOW
        |  w_g AS (PARTITION BY l_suppkey ORDER BY l_shipdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP),
        |  w_t AS (PARTITION BY l_suppkey ORDER BY l_shipdate
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "win_exclude_current" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |  count(*) OVER w - 1 AS peer_n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY l_suppkey
        |     ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW)
        |    AS DOUBLE) AS peer_sum,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY l_suppkey
        |     ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW)
        |    AS DOUBLE) / CAST(count(*) OVER w - 1 AS DOUBLE) AS peer_avg
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_extendedprice""".stripMargin,
    // GROUPS ±1 frame semantics via dense_rank + RANGE ±1 (DuckDB
    // lacks GROUPS mode too; one row per peer group makes them equal)
    "win_groups_frame" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp,
        |    dense_rank() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(o_orderdate AS DATE)) AS g
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus, d,
        |  CAST(sum(tp) OVER (PARTITION BY o_orderstatus ORDER BY g
        |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS frame_sum,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY g
        |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS frame_n
        |FROM o ORDER BY o_orderkey""".stripMargin,
    // 63-bit bitmap partials vs the built-in distinct, self-certified
    "agg_bitmap_distinct" ->
      """WITH cells AS (
        |  SELECT event_type, user_id // 63 AS bucket,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS mask
        |  FROM events GROUP BY 1, 2),
        |bm AS (
        |  SELECT event_type, CAST(sum(bit_count(mask)) AS BIGINT) AS n_users_bitmap,
        |    count(*) AS n_buckets
        |  FROM cells GROUP BY 1),
        |direct AS (
        |  SELECT event_type, count(DISTINCT user_id) AS n_users_direct
        |  FROM events GROUP BY 1)
        |SELECT bm.event_type, n_users_bitmap, n_users_direct, n_buckets,
        |  n_users_bitmap = n_users_direct AS bitmap_matches
        |FROM bm JOIN direct USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "win_distinct_running" ->
      """WITH f AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
        |         THEN 1 ELSE 0 END AS is_first
        |  FROM events)
        |SELECT user_id, event_id, event_type,
        |  CAST(is_first AS BIGINT) AS is_first,
        |  CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS distinct_types_so_far
        |FROM f ORDER BY user_id, event_id""".stripMargin,
    "text_lang_confusion" ->
      """WITH words AS (
        |  SELECT doc_id, lang, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents
        |), counted AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(CASE WHEN w IN ('der','die','das','und','ist','nicht','mit','ein') THEN 1 ELSE 0 END) AS BIGINT) AS hits_de,
        |    CAST(sum(CASE WHEN w IN ('the','and','is','of','to','in','that','it') THEN 1 ELSE 0 END) AS BIGINT) AS hits_en,
        |    CAST(sum(CASE WHEN w IN ('el','la','de','que','y','en','un','es') THEN 1 ELSE 0 END) AS BIGINT) AS hits_es,
        |    CAST(sum(CASE WHEN w IN ('le','la','de','et','les','des','un','une') THEN 1 ELSE 0 END) AS BIGINT) AS hits_fr,
        |    CAST(sum(CASE WHEN w IN ('的','是','不','了','在','人','有','我') THEN 1 ELSE 0 END) AS BIGINT) AS hits_zh
        |  FROM words GROUP BY doc_id, lang
        |), pred AS (
        |  SELECT lang,
        |    CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
        |         WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |         WHEN hits_es >= hits_de AND hits_es >= hits_en AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |         WHEN hits_fr >= hits_de AND hits_fr >= hits_en AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
        |         ELSE 'zh' END AS predicted_lang
        |  FROM counted
        |), cells AS (
        |  SELECT lang, predicted_lang, count(*) AS n_docs
        |  FROM pred GROUP BY lang, predicted_lang)
        |SELECT lang, predicted_lang, n_docs,
        |  CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
        |  CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS share
        |FROM cells ORDER BY lang, predicted_lang""".stripMargin,
    "expr_url_parse" ->
      """SELECT doc_id,
        |  'https' AS proto,
        |  source || '.example.com' AS host,
        |  '/' || lang || '/doc/' || doc_id AS path,
        |  'id=' || doc_id || '&lang=' || lang AS query,
        |  lang AS q_lang,
        |  's' || (doc_id % 7) AS fragment
        |FROM documents ORDER BY doc_id""".stripMargin,
    "expr_map_ops" ->
      """WITH e AS (SELECT p_brand, p_type, count(*) AS n FROM part GROUP BY 1, 2)
        |SELECT p_brand,
        |  count(*) AS n_types,
        |  CAST(coalesce(sum(CASE WHEN p_type = 'PROMO' THEN n END), 0) AS BIGINT) AS n_promo,
        |  string_agg(p_type, '|' ORDER BY p_type) AS types,
        |  CAST(sum(n) AS BIGINT) AS n_parts
        |FROM e GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "sql_lateral_topn" ->
      """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2
        |) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "agg_count_min" ->
      """SELECT l_suppkey, count(*) AS exact_n,
        |  TRUE AS never_undercounts, TRUE AS within_eps_bound
        |FROM lineitem WHERE l_suppkey BETWEEN 1 AND 10
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    // guaranteed-region contract: rows are the keys above the N/(K+1)
    // frequency threshold (K = 8 counters), where the Misra-Gries
    // promises hold for ANY merge order — see SqlSurface.heavyHitters
    "agg_heavy_hitters" ->
      """WITH k AS (SELECT event_id & (-event_id) AS key FROM events),
        |c AS (SELECT key, count(*) AS exact_n FROM k GROUP BY key)
        |SELECT key, exact_n, TRUE AS in_summary,
        |  TRUE AS est_le_exact, TRUE AS err_bounded
        |FROM c WHERE exact_n * 9 > (SELECT count(*) FROM events)
        |ORDER BY key""".stripMargin,
    "pipeline_curriculum" ->
      """WITH t AS (SELECT doc_id, lang, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(length(norm) AS BIGINT) AS n_char,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split(norm, ' '), w -> list_contains(['the','and','is','of','to','in','that','it'], w))) AS BIGINT) AS n_stop
        |  FROM t),
        |s AS (
        |  SELECT *, 0.4*(CAST(n_stop AS DOUBLE)/n_words) + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/n_char)
        |    + 0.2*least(1.0, CAST(n_words AS DOUBLE)/100.0) + 0.1*(1.0 - CAST(n_digit AS DOUBLE)/n_char) AS quality_score
        |  FROM c),
        |qq AS (SELECT *, CAST(floor(quality_score * 1000000.0) AS BIGINT) AS q FROM s),
        |m AS (SELECT count(*) AS n, sum(q) AS sq, sum(q*q) AS sqq FROM qq),
        |b AS (
        |  SELECT qq.*,
        |    CAST(m.sq AS DOUBLE) / m.n AS mu,
        |    sqrt(CAST(m.sqq AS DOUBLE) / m.n - (CAST(m.sq AS DOUBLE) / m.n) * (CAST(m.sq AS DOUBLE) / m.n)) AS sigma
        |  FROM qq CROSS JOIN m)
        |SELECT lang,
        |  CASE WHEN CAST(q AS DOUBLE) > mu + sigma / 2 THEN '1_easy'
        |       WHEN CAST(q AS DOUBLE) >= mu - sigma / 2 THEN '2_core'
        |       ELSE '3_hard' END AS phase,
        |  count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_tokens,
        |  min(quality_score) AS min_score,
        |  max(quality_score) AS max_score
        |FROM b GROUP BY 1, 2 ORDER BY lang, phase""".stripMargin,
    "pipeline_epoch_shuffle" ->
      """WITH e AS (SELECT unnest([0,1,2]) AS epoch),
        |x AS (
        |  SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
        |    CAST(('0x'||substring(md5('ep'||epoch||'_'||doc_id),1,15)) AS BIGINT) AS skey
        |  FROM documents CROSS JOIN e)
        |SELECT doc_id, epoch, skey % 8 AS shard, skey
        |FROM x ORDER BY epoch, shard, skey, doc_id""".stripMargin,
    "text_oov_rate" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w FROM documents),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM t GROUP BY w),
        |vocab AS (SELECT w FROM df ORDER BY df DESC, w LIMIT 1000),
        |j AS (SELECT t.doc_id, v.w IS NOT NULL AS iv FROM t LEFT JOIN vocab v ON t.w = v.w),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN iv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_oov,
        |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
        |FROM agg ORDER BY doc_id""".stripMargin,
    // bigram-LM coverage: top-1000 model by (count desc, bigram asc),
    // per-doc occurrence hit ratio in exact integer ppm
    "text_lm_familiarity" ->
      """WITH docs AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-1), i -> words[i] || ' ' || words[i+1])) AS bg
        |       FROM docs WHERE len(words) >= 2),
        |c AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
        |top AS (SELECT bg FROM c ORDER BY cnt DESC, bg LIMIT 1000),
        |pd AS (SELECT b.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_familiar
        |  FROM bg b LEFT JOIN top t USING (bg) GROUP BY b.doc_id)
        |SELECT doc_id, n_bigrams, n_familiar,
        |  n_familiar * 1000000 // n_bigrams AS familiar_ppm
        |FROM pd ORDER BY doc_id""".stripMargin,
    "pipeline_shard_manifest" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |d AS (SELECT doc_id, md5(norm) AS digest,
        |        CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens FROM t),
        |h AS (SELECT *, CAST(('0x'||substring(md5(digest),1,15)) AS BIGINT) AS h60 FROM d)
        |SELECT h60 % 16 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  CAST(sum(h60 % 1000000007) % 1000000007 AS BIGINT) AS checksum
        |FROM h GROUP BY 1 ORDER BY shard""".stripMargin,
    "pipeline_dataset_card" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents
        |), d AS (
        |  SELECT doc_id, lang, source, md5(norm) AS digest,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(length(norm) AS BIGINT) AS n_chars_norm
        |  FROM t
        |), dd AS (
        |  SELECT d.*, CASE WHEN count(*) OVER (PARTITION BY digest) > 1 THEN 1 ELSE 0 END AS dup FROM d
        |)
        |SELECT COALESCE(lang, 'TOTAL') AS lang, count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(dup) AS BIGINT) AS dup_docs,
        |  CAST(sum(n_chars_norm) AS DOUBLE) / count(*) AS avg_chars
        |FROM dd GROUP BY ROLLUP(lang) ORDER BY lang""".stripMargin,
    "pipeline_split_contamination" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(('0x'||substring(md5(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),1,15)) AS BIGINT) % 100 < 90
        |      THEN 'train' ELSE 'eval' END AS split
        |  FROM documents
        |), wp AS (
        |  SELECT p.doc_id, p.n_sh, p.shingle_h, sp.split FROM post p JOIN sp USING (doc_id)
        |), th AS (
        |  SELECT DISTINCT shingle_h FROM wp WHERE split = 'train'
        |), ep AS (
        |  SELECT * FROM wp WHERE split = 'eval'
        |), hits AS (
        |  SELECT doc_id, count(*) AS n_overlap FROM ep JOIN th USING (shingle_h) GROUP BY 1
        |), base AS (
        |  SELECT doc_id, CAST(max(n_sh) AS BIGINT) AS n_sh FROM ep GROUP BY 1
        |)
        |SELECT b.doc_id, b.n_sh,
        |  CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / b.n_sh AS overlap_frac
        |FROM base b LEFT JOIN hits h USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    // τ operating curve over the SAME candidate relation as the
    // accuracy audit: exact-admits vs estimator-admits vs agreement
    "dedup_threshold_sweep" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sigs AS (
        |  SELECT doc_id, sh,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |), post AS (
        |  SELECT DISTINCT doc_id, unnest(hs) AS h FROM shd
        |), nsh AS (
        |  SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), eq AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |    CAST(len(list_filter(generate_series(1,128), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_eq
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = cand.doc_a
        |  JOIN sigs sb ON sb.doc_id = cand.doc_b
        |), pairs AS (
        |  SELECT CAST(eq.n_eq AS DOUBLE) / 128.0 AS est,
        |    CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter) AS jac
        |  FROM eq JOIN pc ON pc.doc_a = eq.doc_a AND pc.doc_b = eq.doc_b
        |  JOIN nsh na ON na.doc_id = eq.doc_a
        |  JOIN nsh nb ON nb.doc_id = eq.doc_b)
        |SELECT count(*) AS n_candidates,
        |  CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS exact_ge_500,
        |  CAST(sum(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS est_ge_500,
        |  CAST(sum(CASE WHEN (jac >= 0.5) = (est >= 0.5) THEN 1 ELSE 0 END) AS BIGINT) AS agree_500,
        |  CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS exact_ge_700,
        |  CAST(sum(CASE WHEN est >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS est_ge_700,
        |  CAST(sum(CASE WHEN (jac >= 0.7) = (est >= 0.7) THEN 1 ELSE 0 END) AS BIGINT) AS agree_700,
        |  CAST(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS exact_ge_800,
        |  CAST(sum(CASE WHEN est >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS est_ge_800,
        |  CAST(sum(CASE WHEN (jac >= 0.8) = (est >= 0.8) THEN 1 ELSE 0 END) AS BIGINT) AS agree_800,
        |  CAST(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS exact_ge_900,
        |  CAST(sum(CASE WHEN est >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS est_ge_900,
        |  CAST(sum(CASE WHEN (jac >= 0.9) = (est >= 0.9) THEN 1 ELSE 0 END) AS BIGINT) AS agree_900
        |FROM pairs""".stripMargin,
    // survival-curve input: first→last span per user, week histogram
    "ev_user_lifetime" ->
      """WITH u AS (
        |  SELECT user_id, min(epoch_ns(ts)//1000000000) AS first_sec,
        |    max(epoch_ns(ts)//1000000000) AS last_sec, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |l AS (SELECT n_events, (last_sec - first_sec) // 86400 AS lifetime_days FROM u)
        |SELECT lifetime_days // 7 AS week_bucket, count(*) AS n_users,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  min(lifetime_days) AS min_days, max(lifetime_days) AS max_days
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    // Kaplan–Meier replay: identical BIGINT fixed-point recursion
    // (s ← s·(n−d) // n), so s_micro matches bit-for-bit
    "ev_survival_curve" ->
      """WITH RECURSIVE u AS (
        |  SELECT user_id, min(epoch_ns(ts)//1000000000//86400) AS first_day,
        |         max(epoch_ns(ts)//1000000000//86400) AS last_day
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(last_day) AS max_day FROM u),
        |users AS (
        |  SELECT last_day - first_day AS tenure,
        |         CASE WHEN last_day >= max_day - 6 THEN 1 ELSE 0 END AS censored
        |  FROM u, h),
        |byt AS (
        |  SELECT tenure, count(*) AS n_end,
        |         CAST(sum(CASE WHEN censored = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_churn,
        |         CAST(sum(censored) AS BIGINT) AS n_censored
        |  FROM users GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(0, (SELECT max(tenure) FROM users))) AS tenure),
        |dense AS (
        |  SELECT s.tenure, coalesce(b.n_end, 0) AS n_end,
        |         coalesce(b.n_churn, 0) AS n_churn,
        |         coalesce(b.n_censored, 0) AS n_censored
        |  FROM spine s LEFT JOIN byt b USING (tenure)),
        |tbl AS (
        |  SELECT tenure,
        |    CAST(sum(n_end) OVER (ORDER BY tenure DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk,
        |    n_churn, n_censored
        |  FROM dense),
        |km AS (
        |  SELECT CAST(-1 AS BIGINT) AS tenure_days, CAST(1000000 AS BIGINT) AS s_micro
        |  UNION ALL
        |  SELECT t.tenure, km.s_micro * (t.n_risk - t.n_churn) // t.n_risk
        |  FROM km JOIN tbl t ON t.tenure = km.tenure_days + 1)
        |SELECT t.tenure AS tenure_days, t.n_risk, t.n_churn, t.n_censored, km.s_micro
        |FROM km JOIN tbl t ON t.tenure = km.tenure_days
        |ORDER BY tenure_days""".stripMargin,
    // multi-char delimiter roundtrip: content identity vs the table
    "src_csv_multidelim" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
        |  min(s_suppkey) AS min_key, max(s_suppkey) AS max_key,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact-digest stage + the full-corpus component closure
    // restricted to survivors (sound: an exact dup shares its
    // soft-dedup sampling weights: exact-digest multiplicity + the
    // near-dup component closure (the dedup_components chain) feeding
    // integer floor-division weights
    "pipeline_dedup_weights" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM pc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs
        |), reach(node, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
        |), comp AS (
        |  SELECT node AS doc_id, min(lab) AS component_id FROM reach GROUP BY node
        |), csz AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY component_id) AS component_size FROM comp
        |), ex AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY digest) AS n_copies
        |  FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest FROM documents)
        |)
        |SELECT e.doc_id, e.n_copies,
        |  coalesce(c.component_size, 1) AS near_dup_size,
        |  1000000 // e.n_copies AS hard_weight_ppm,
        |  1000000 // CAST(floor(sqrt(CAST(coalesce(c.component_size, 1) AS DOUBLE))) AS BIGINT) AS soft_weight_ppm
        |FROM ex e LEFT JOIN csz c ON c.doc_id = e.doc_id
        |ORDER BY e.doc_id""".stripMargin,
    // keeper's shingle set, so removal never disconnects)
    "pipeline_dedup_cascade" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest FROM documents
        |), k1 AS (
        |  SELECT digest, min(doc_id) AS keep_id FROM d GROUP BY digest
        |), surv AS (
        |  SELECT d.doc_id FROM d JOIN k1 USING (digest) WHERE d.doc_id = k1.keep_id
        |), docs2 AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs2
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), pairs AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM pc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), edges AS MATERIALIZED (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs
        |), reach(node, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
        |), comp AS (
        |  SELECT node AS doc_id, min(lab) AS component_id FROM reach GROUP BY node
        |), cl AS (
        |  SELECT comp.component_id, count(*) AS m
        |  FROM comp JOIN surv ON surv.doc_id = comp.doc_id GROUP BY 1
        |), r2 AS (
        |  SELECT coalesce(CAST(sum(m - 1) AS BIGINT), 0) AS removed2 FROM cl
        |), s1 AS (
        |  SELECT count(*) AS n_in, count(DISTINCT digest) AS n_out FROM d
        |)
        |SELECT stage, docs_in, docs_removed, docs_out FROM (
        |  SELECT '1_exact' AS stage, n_in AS docs_in,
        |         n_in - n_out AS docs_removed, n_out AS docs_out FROM s1
        |  UNION ALL
        |  SELECT '2_neardup', n_out, removed2, n_out - removed2 FROM s1, r2
        |) ORDER BY stage""".stripMargin,
    // exact posting-join truth LEFT JOIN the banding candidate set:
    // the truth hashes are RAW h60 (the posting chain), the sig
    // hashes mod p (the signature chain) — as in the Spark pipelines
    "dedup_lsh_recall" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs_raw,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs_raw) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), truth AS (
        |  SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        |  FROM pc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), sigs AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |), j AS (
        |  SELECT least(CAST(floor(truth.jaccard * 10) AS BIGINT), 9) AS j_decile,
        |    CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found
        |  FROM truth LEFT JOIN cand
        |    ON cand.doc_a = truth.doc_a AND cand.doc_b = truth.doc_b
        |)
        |SELECT j_decile, count(*) AS n_true, CAST(sum(found) AS BIGINT) AS n_found,
        |  count(*) - CAST(sum(found) AS BIGINT) AS n_missed
        |FROM j GROUP BY j_decile ORDER BY j_decile""".stripMargin,
    // same sig/candidate chain + stricter-banding catch flags (true
    // subsets of the 16x8 candidates), decile-bucketed retention
    "dedup_lsh_tuning" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sigs AS (
        |  SELECT doc_id, sh,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |), post AS (
        |  SELECT DISTINCT doc_id, unnest(hs) AS h FROM shd
        |), nsh AS (
        |  SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), eq AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |    len(list_filter(generate_series(0,7), b ->
        |      len(list_filter(generate_series(1,16), i -> sa.sig[b*16+i] = sb.sig[b*16+i])) = 16)) > 0 AS caught_8x16,
        |    len(list_filter(generate_series(0,3), b ->
        |      len(list_filter(generate_series(1,32), i -> sa.sig[b*32+i] = sb.sig[b*32+i])) = 32)) > 0 AS caught_4x32,
        |    len(list_filter(generate_series(0,7), b ->
        |      len(list_filter(generate_series(1,8), i -> sa.sig[b*8+i] = sb.sig[b*8+i])) = 8)) > 0 AS caught_8x8
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = cand.doc_a
        |  JOIN sigs sb ON sb.doc_id = cand.doc_b
        |), buck AS (
        |  SELECT least(CAST(floor(CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter) * 10) AS BIGINT), 9) AS j_decile,
        |    eq.caught_8x16, eq.caught_4x32, eq.caught_8x8
        |  FROM eq JOIN pc ON pc.doc_a = eq.doc_a AND pc.doc_b = eq.doc_b
        |  JOIN nsh na ON na.doc_id = eq.doc_a
        |  JOIN nsh nb ON nb.doc_id = eq.doc_b
        |)
        |SELECT j_decile, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN caught_8x16 THEN 1 ELSE 0 END) AS BIGINT) AS n_caught_8x16,
        |  CAST(sum(CASE WHEN caught_4x32 THEN 1 ELSE 0 END) AS BIGINT) AS n_caught_4x32,
        |  CAST(sum(CASE WHEN caught_8x8 THEN 1 ELSE 0 END) AS BIGINT) AS n_caught_8x8
        |FROM buck GROUP BY j_decile ORDER BY j_decile""".stripMargin,
    // same sig/candidate chain + the low-bit lane compare and the
    // 2m-1 collision-corrected estimator, clamped at 0
    "dedup_bbit_accuracy" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sigs AS (
        |  SELECT doc_id, sh,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |), post AS (
        |  SELECT DISTINCT doc_id, unnest(hs) AS h FROM shd
        |), nsh AS (
        |  SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), eq AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |    CAST(len(list_filter(generate_series(1,128), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_eq,
        |    CAST(len(list_filter(generate_series(1,128), i -> sa.sig[i] % 2 = sb.sig[i] % 2)) AS BIGINT) AS n_eq_1bit
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = cand.doc_a
        |  JOIN sigs sb ON sb.doc_id = cand.doc_b
        |)
        |SELECT eq.doc_a, eq.doc_b, eq.n_eq, eq.n_eq_1bit,
        |  CAST(eq.n_eq AS DOUBLE) / 128.0 AS est_full,
        |  greatest(0.0, 2 * (CAST(eq.n_eq_1bit AS DOUBLE) / 128.0) - 1.0) AS est_1bit,
        |  CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter) AS jaccard,
        |  abs(CAST(eq.n_eq AS DOUBLE) / 128.0
        |    - CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter)) AS err_full,
        |  abs(greatest(0.0, 2 * (CAST(eq.n_eq_1bit AS DOUBLE) / 128.0) - 1.0)
        |    - CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter)) AS err_1bit
        |FROM eq JOIN pc ON pc.doc_a = eq.doc_a AND pc.doc_b = eq.doc_b
        |JOIN nsh na ON na.doc_id = eq.doc_a
        |JOIN nsh nb ON nb.doc_id = eq.doc_b
        |ORDER BY eq.doc_a, eq.doc_b""".stripMargin,
    "dedup_minhash_accuracy" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sigs AS (
        |  SELECT doc_id, sh,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |), post AS (
        |  SELECT DISTINCT doc_id, unnest(hs) AS h FROM shd
        |), nsh AS (
        |  SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), eq AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |    CAST(len(list_filter(generate_series(1,128), i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_eq
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = cand.doc_a
        |  JOIN sigs sb ON sb.doc_id = cand.doc_b
        |)
        |SELECT eq.doc_a, eq.doc_b, eq.n_eq,
        |  CAST(eq.n_eq AS DOUBLE) / 128.0 AS est_jaccard,
        |  CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter) AS jaccard,
        |  abs(CAST(eq.n_eq AS DOUBLE) / 128.0
        |    - CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter)) AS abs_err
        |FROM eq JOIN pc ON pc.doc_a = eq.doc_a AND pc.doc_b = eq.doc_b
        |JOIN nsh na ON na.doc_id = eq.doc_a
        |JOIN nsh nb ON nb.doc_id = eq.doc_b
        |ORDER BY eq.doc_a, eq.doc_b""".stripMargin,
    "dedup_fuzzy_verify" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sigs AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |), pfx AS (
        |  SELECT doc_id,
        |    substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 64) AS pfx
        |  FROM documents
        |)
        |SELECT cand.doc_a, cand.doc_b,
        |  CAST(levenshtein(pa.pfx, pb.pfx) AS BIGINT) AS lev,
        |  CAST(greatest(length(pa.pfx), length(pb.pfx)) AS BIGINT) AS max_len,
        |  1.0 - CAST(levenshtein(pa.pfx, pb.pfx) AS DOUBLE)
        |      / CAST(greatest(length(pa.pfx), length(pb.pfx)) AS DOUBLE) AS prefix_sim,
        |  (1.0 - CAST(levenshtein(pa.pfx, pb.pfx) AS DOUBLE)
        |      / CAST(greatest(length(pa.pfx), length(pb.pfx)) AS DOUBLE)) >= 0.8 AS is_dup
        |FROM cand
        |JOIN pfx pa ON pa.doc_id = cand.doc_a
        |JOIN pfx pb ON pb.doc_id = cand.doc_b
        |ORDER BY cand.doc_a, cand.doc_b""".stripMargin,
    // same exact-ground-truth CTE as emb_recall_at_k; the candidate
    // ranking folds only dims 1..32 (slice + norm on the slice)
    "emb_mrl_recall" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |exact_scored AS (
        |  SELECT probe_id, v.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id
        |), exact_topk AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM exact_scored) WHERE rank <= 10
        |), half_scored AS (
        |  SELECT probe_id, v.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,32), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,32), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,32), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id
        |), half_topk AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM half_scored) WHERE rank <= 10
        |)
        |SELECT e.probe_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS recall
        |FROM exact_topk e LEFT JOIN half_topk h
        |  ON e.probe_id = h.probe_id AND e.vec_id = h.vec_id
        |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin,
    "emb_recall_at_k" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |exact_scored AS (
        |  SELECT probe_id, v.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id
        |), exact_topk AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM exact_scored) WHERE rank <= 10
        |), dims AS (
        |  SELECT vec_id % 16 AS cell,
        |    unnest(generate_series(1, 64)) AS d,
        |    unnest(list_transform(vd, x -> CAST(floor(x * 1000000000.0) AS BIGINT))) AS qx
        |  FROM vecs
        |), cdims AS (
        |  SELECT cell, d,
        |    CAST(sum(qx) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS cx
        |  FROM dims GROUP BY cell, d
        |), cents AS (
        |  SELECT cell, list(cx ORDER BY d) AS cv FROM cdims GROUP BY cell
        |), assigned AS (
        |  SELECT vec_id, vd, cell FROM (
        |    SELECT v.vec_id, v.vd, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*cv[i])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))
        |            * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) DESC,
        |        c.cell) AS rn
        |    FROM vecs v CROSS JOIN cents c)
        |  WHERE rn = 1
        |), probe_cells AS (
        |  SELECT probe_id, pv, cell FROM (
        |    SELECT p.probe_id, p.pv, c.cell,
        |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*cv[i])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |            * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) DESC,
        |        c.cell) AS rn
        |    FROM probes p CROSS JOIN cents c)
        |  WHERE rn <= 4
        |), ivf_scored AS (
        |  SELECT pc.probe_id, av.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM assigned av JOIN probe_cells pc ON av.cell = pc.cell AND av.vec_id <> pc.probe_id
        |), ivf_topk AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM ivf_scored) WHERE rank <= 10)
        |SELECT e.probe_id,
        |  count(*) AS n_exact,
        |  CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS recall
        |FROM exact_topk e LEFT JOIN ivf_topk i
        |  ON e.probe_id = i.probe_id AND e.vec_id = i.vec_id
        |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin,
    // range search: every neighbor at cosine ≥ τ, count-free contract
    "ann_range_search" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |scored AS (
        |  SELECT probe_id, v.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id)
        |SELECT probe_id, vec_id, cosine FROM scored
        |WHERE cosine >= 0.25 ORDER BY probe_id, vec_id""".stripMargin,
    // native as-of join: latest click ≤ purchase ts, ties → largest
    // click_id, LEFT OUTER null padding
    "ev_asof_native" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |p AS (SELECT event_id, user_id, ts_sec FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts_sec AS c_sec FROM e WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts_sec, c.click_id, c.c_sec,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.c_sec DESC NULLS LAST, c.click_id DESC NULLS LAST) AS rk
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.c_sec <= p.ts_sec)
        |SELECT event_id, user_id, ts_sec, click_id, c_sec AS last_click_sec,
        |  ts_sec - c_sec AS gap_sec
        |FROM j WHERE rk = 1 ORDER BY event_id""".stripMargin,
    // the tolerance-bounded variant: a click only attributes within
    // the trailing hour; an out-of-window nearest click null-pads
    "ev_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |p AS (SELECT event_id, user_id, ts_sec FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts_sec AS c_sec FROM e WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts_sec, c.click_id, c.c_sec,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.c_sec DESC NULLS LAST, c.click_id DESC NULLS LAST) AS rk
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.c_sec <= p.ts_sec
        |    AND p.ts_sec - c.c_sec <= 3600)
        |SELECT event_id, user_id, ts_sec, click_id, c_sec AS last_click_sec,
        |  ts_sec - c_sec AS gap_sec
        |FROM j WHERE rk = 1 ORDER BY event_id""".stripMargin,
    // forward direction: earliest purchase >= the view's ts within
    // 24h; ties at a second resolve to the LARGEST purchase id
    "ev_asof_next" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts)//1000000000 AS sec FROM events),
        |v AS (SELECT event_id, user_id, sec AS ts_sec FROM e WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, sec AS p_sec FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT v.event_id, v.user_id, v.ts_sec, p.purchase_id, p.p_sec,
        |    row_number() OVER (PARTITION BY v.event_id
        |      ORDER BY p.p_sec ASC NULLS LAST, p.purchase_id DESC NULLS LAST) AS rk
        |  FROM v LEFT JOIN p ON v.user_id = p.user_id AND p.p_sec >= v.ts_sec
        |    AND p.p_sec - v.ts_sec <= 86400)
        |SELECT event_id, user_id, ts_sec, purchase_id,
        |  p_sec AS next_purchase_sec, p_sec - ts_sec AS wait_sec
        |FROM j WHERE rk = 1 ORDER BY event_id""".stripMargin,
    // dow profile: integer epoch-day arithmetic (+3 mod 7, Monday=0),
    // exact ppm deviation (both engines truncate integer division)
    // same cross-multiplied rational with the shared sign-split
    // truncation (both engines' integer division agrees on positives)
    "ev_seasonal_adjust" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//86400 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, n, (day + 3) % 7 AS dow FROM daily),
        |bd AS (SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS s_dow,
        |         count(*) AS c_dow FROM d2 GROUP BY 1, 2),
        |bt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS s_all,
        |         count(*) AS c_all FROM d2 GROUP BY 1),
        |j AS (
        |  SELECT d2.event_type, d2.day, d2.dow, d2.n,
        |    d2.n * bd.c_dow * bt.c_all - bd.s_dow * bt.c_all + bt.s_all * bd.c_dow AS num,
        |    bd.c_dow * bt.c_all AS den
        |  FROM d2 JOIN bd USING (event_type, dow) JOIN bt USING (event_type))
        |SELECT event_type, day, dow, n,
        |  CASE WHEN num >= 0 THEN num * 1000 // den
        |       ELSE -((-num) * 1000 // den) END AS adjusted_milli
        |FROM j ORDER BY event_type, day""".stripMargin,
    "ev_seasonal_dow" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST((epoch_ns(ts)//1000000000//86400 + 3) % 7 AS BIGINT) AS dow,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT event_type, dow, n_events,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n_events DESC, dow) AS rn
        |  FROM d)
        |SELECT r.event_type, dow, n_events,
        |  (7 * n_events - total) * 1000000 // total AS dev_ppm,
        |  rn = 1 AS is_peak
        |FROM r JOIN t ON r.event_type = t.event_type
        |ORDER BY r.event_type, dow""".stripMargin,
    // denominator-cleared integer CUSUM; identical argmax election
    "ev_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//86400 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |pre AS (
        |  SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
        |  FROM daily),
        |tot AS (
        |  SELECT event_type, count(*) AS t_days, CAST(sum(n) AS BIGINT) AS n_total
        |  FROM daily GROUP BY 1),
        |c AS (
        |  SELECT p.event_type, day, t_days, n_total,
        |    t_days * prefix - rk * n_total AS c
        |  FROM pre p JOIN tot USING (event_type)),
        |r AS (
        |  SELECT *, abs(c) AS ca,
        |    row_number() OVER (PARTITION BY event_type ORDER BY abs(c) DESC, day) AS rn
        |  FROM c)
        |SELECT event_type, t_days, n_total, CAST(day AS BIGINT) AS day_hat,
        |  c AS cusum, ca AS cusum_abs,
        |  CASE WHEN c > 0 THEN 'drop_after' WHEN c < 0 THEN 'rise_after'
        |       ELSE 'flat' END AS shift
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // cross-multiplied rate + HUGEINT cv tests over one gap pass
    "ev_bot_detect" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |g AS (
        |  SELECT user_id, ts_sec,
        |    ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS gap
        |  FROM e),
        |u AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(max(ts_sec) - min(ts_sec) AS BIGINT) AS span_sec,
        |    CAST(min(gap) AS BIGINT) AS min_gap,
        |    count(gap) AS m,
        |    CAST(sum(gap) AS BIGINT) AS sg,
        |    CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS sgg
        |  FROM g GROUP BY user_id HAVING count(*) >= 20)
        |SELECT user_id, n_events, span_sec, min_gap,
        |  n_events * 3600 > span_sec * 50 AS fast,
        |  4 * (CAST(m AS HUGEINT) * sgg - CAST(sg AS HUGEINT) * sg)
        |    < CAST(sg AS HUGEINT) * sg AS regular,
        |  (n_events * 3600 > span_sec * 50) AND
        |  (4 * (CAST(m AS HUGEINT) * sgg - CAST(sg AS HUGEINT) * sg)
        |    < CAST(sg AS HUGEINT) * sg) AS is_bot
        |FROM u ORDER BY user_id""".stripMargin,
    // integer-cents waterfall; weeks derived from the data minimum
    "ev_revenue_bridge" ->
      """WITH rev AS (
        |  SELECT user_id, epoch_ns(ts)//1000000000//86400//7 AS wk,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |w0 AS (SELECT min(wk) AS w0 FROM rev),
        |a AS (SELECT user_id, rev AS rev_a FROM rev CROSS JOIN w0 WHERE wk = w0 + 1),
        |b AS (SELECT user_id, rev AS rev_b FROM rev CROSS JOIN w0 WHERE wk = w0 + 2),
        |j AS (
        |  SELECT CASE WHEN rev_a IS NULL THEN 'new'
        |              WHEN rev_b IS NULL THEN 'churned'
        |              WHEN rev_b > rev_a THEN 'expansion'
        |              WHEN rev_b < rev_a THEN 'contraction'
        |              ELSE 'flat' END AS category,
        |    coalesce(rev_a, 0) AS ra, coalesce(rev_b, 0) AS rb
        |  FROM a FULL OUTER JOIN b USING (user_id))
        |SELECT category, count(*) AS n_users,
        |  CAST(sum(ra) AS BIGINT) AS rev_prev_cents,
        |  CAST(sum(rb) AS BIGINT) AS rev_curr_cents,
        |  CAST(sum(rb - ra) AS BIGINT) AS delta_cents
        |FROM j GROUP BY category ORDER BY category""".stripMargin,
    // 3 unrolled integer-ppm power-iteration rounds over the tiny
    // transition matrix; floor leakage part of the contract
    "ev_markov_stationary" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |s AS (
        |  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_type FROM e),
        |t AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from FROM t GROUP BY 1),
        |p AS (SELECT t.prev_type, t.next_type, CAST(n AS BIGINT) AS n, n_from
        |      FROM t JOIN rt USING (prev_type)),
        |st AS (SELECT DISTINCT state FROM (
        |  SELECT prev_type AS state FROM p UNION ALL SELECT next_type FROM p) u),
        |kk AS (SELECT count(*) AS k FROM st),
        |v0 AS (SELECT state, CAST(1000000 // k AS BIGINT) AS v FROM st CROSS JOIN kk),
        |v1 AS (SELECT p.next_type AS state, CAST(sum(v * n // n_from) AS BIGINT) AS v
        |       FROM v0 JOIN p ON v0.state = p.prev_type GROUP BY 1),
        |v2 AS (SELECT p.next_type AS state, CAST(sum(v * n // n_from) AS BIGINT) AS v
        |       FROM v1 JOIN p ON v1.state = p.prev_type GROUP BY 1),
        |v3 AS (SELECT p.next_type AS state, CAST(sum(v * n // n_from) AS BIGINT) AS v
        |       FROM v2 JOIN p ON v2.state = p.prev_type GROUP BY 1)
        |SELECT st.state, CAST(coalesce(v3.v, 0) AS BIGINT) AS v_ppm
        |FROM st LEFT JOIN v3 ON st.state = v3.state ORDER BY st.state""".stripMargin,
    // multi-window burn: calendar-true trailing sums via range
    // self-join; cross-multiplied integer thresholds
    "ev_burn_rate" ->
      """WITH bk AS (
        |  SELECT epoch_ns(ts)//1000000000//300 AS b, count(*) AS n_total,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
        |  FROM events GROUP BY 1),
        |sl AS (
        |  SELECT a.b, CAST(sum(c.n_total) AS BIGINT) AS slow_total,
        |    CAST(sum(c.n_err) AS BIGINT) AS slow_err
        |  FROM bk a JOIN bk c ON c.b BETWEEN a.b - 11 AND a.b GROUP BY 1)
        |SELECT CAST(a.b AS BIGINT) AS b, n_total, n_err, slow_total, slow_err,
        |  n_err * 10 > n_total * 3 AS fast_alert,
        |  slow_err * 10 > slow_total * 3 AS slow_alert,
        |  (n_err * 10 > n_total * 3) AND (slow_err * 10 > slow_total * 3) AS page
        |FROM bk a JOIN sl ON a.b = sl.b ORDER BY a.b""".stripMargin,
    // sweep-line concurrency: the oracle runs the plain global
    // running sum the engine decomposes two-level
    "ev_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |w AS (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_sec FROM e),
        |f AS (SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new FROM w),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f),
        |sess AS (SELECT user_id, session_id, min(ts_sec//60) AS m_start, max(ts_sec//60) AS m_end
        |         FROM s GROUP BY 1, 2),
        |deltas AS (
        |  SELECT m, CAST(sum(d) AS BIGINT) AS delta FROM (
        |    SELECT m_start AS m, 1 AS d FROM sess
        |    UNION ALL SELECT m_end + 1, -1 FROM sess) u GROUP BY m),
        |conc AS (
        |  SELECT m, m//1440 AS day,
        |    CAST(sum(delta) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
        |  FROM deltas),
        |peak AS (
        |  SELECT day, conc, m, row_number() OVER (PARTITION BY day ORDER BY conc DESC, m) AS rn
        |  FROM conc),
        |starts AS (SELECT m_start//1440 AS day, count(*) AS n_starts FROM sess GROUP BY 1)
        |SELECT CAST(p.day AS BIGINT) AS day,
        |  CAST(coalesce(n_starts, 0) AS BIGINT) AS n_starts,
        |  p.conc AS peak_conc, CAST(p.m AS BIGINT) AS peak_minute
        |FROM peak p LEFT JOIN starts ON p.day = starts.day
        |WHERE rn = 1 ORDER BY p.day""".stripMargin,
    // exact integer-cents interpolation pair + fixed-order float ops;
    // IGNORE NULLS directional fills over the day spine
    "ev_interpolate_linear" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//86400 AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE value > 200 GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx)) AS day FROM bounds),
        |j AS (
        |  SELECT s.event_type, s.day, d.cents, d.cents IS NULL AS is_gap,
        |    CASE WHEN d.cents IS NOT NULL THEN s.day END AS obs_day
        |  FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day),
        |f AS (
        |  SELECT *,
        |    last_value(obs_day IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    first_value(obs_day IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
        |    first_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
        |  FROM j)
        |SELECT event_type, CAST(day AS BIGINT) AS day, is_gap, cents,
        |  CAST(CASE WHEN is_gap THEN pv*(nd-day) + nv*(day-pd) ELSE cents END AS BIGINT) AS interp_num,
        |  CAST(CASE WHEN is_gap THEN nd - pd ELSE 1 END AS BIGINT) AS interp_den,
        |  CAST(CASE WHEN is_gap THEN pv*(nd-day) + nv*(day-pd) ELSE cents END AS DOUBLE)
        |    / CAST(CASE WHEN is_gap THEN nd - pd ELSE 1 END AS DOUBLE) / 100.0 AS value_interp
        |FROM f ORDER BY event_type, day""".stripMargin,
    // calendar equi-join lags (gap-proof), cross-multiplied winner,
    // truncated integer micro-MAE — engine-exact end to end
    // Holt with dyadic alpha=beta=1/2: every recursion op is EXACT
    // (no float rounding inside the 53-bit mantissa), so the replay
    // is bitwise regardless of expression shape. RECURSIVE CTE, not
    // list_reduce: DuckDB's list_reduce updates a struct accumulator
    // FIELD BY FIELD (later fields read already-updated earlier
    // fields — measured: q := a.q + a.p after p's update sees the
    // new p), so multi-field folds replay there only as recursion —
    // the ev_survival_curve precedent
    "ev_forecast_holt" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//86400 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(n AS DOUBLE) AS y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM d),
        |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM s GROUP BY 1),
        |rec(event_type, i, l, b, sae) AS (
        |  SELECT event_type, i, y, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
        |  FROM s WHERE i = 1
        |  UNION ALL
        |  SELECT s.event_type, s.i,
        |    (s.y + r.l + r.b) / 2.0,
        |    ((s.y + r.l + r.b) / 2.0 - r.l) / 2.0 + r.b / 2.0,
        |    r.sae + abs(s.y - (r.l + r.b))
        |  FROM rec r JOIN s ON s.event_type = r.event_type AND s.i = r.i + 1)
        |SELECT r.event_type, c.n_days, r.l AS level, r.b AS trend,
        |  r.l + 7.0 * r.b AS forecast_h7, r.sae AS sum_abs_err
        |FROM rec r JOIN cnt c ON c.event_type = r.event_type AND r.i = c.n_days
        |ORDER BY r.event_type""".stripMargin,
    "ev_forecast_naive" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//86400 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s1 AS (
        |  SELECT a.event_type, count(*) AS n_scored_1,
        |    CAST(sum(abs(a.n - b.n)) AS BIGINT) AS abs_err_1
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND b.day = a.day - 1
        |  GROUP BY 1),
        |s7 AS (
        |  SELECT a.event_type, count(*) AS n_scored_7,
        |    CAST(sum(abs(a.n - b.n)) AS BIGINT) AS abs_err_7
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND b.day = a.day - 7
        |  GROUP BY 1),
        |base AS (
        |  SELECT event_type, count(*) AS n_days, CAST(sum(n) AS BIGINT) AS n_events
        |  FROM d GROUP BY 1)
        |SELECT base.event_type, n_days, n_events,
        |  n_scored_1, abs_err_1, n_scored_7, abs_err_7,
        |  abs_err_1 * 1000000 // n_scored_1 AS mae1_micro,
        |  abs_err_7 * 1000000 // n_scored_7 AS mae7_micro,
        |  abs_err_7 * n_scored_1 < abs_err_1 * n_scored_7 AS weekly_better
        |FROM base LEFT JOIN s1 USING (event_type) LEFT JOIN s7 USING (event_type)
        |ORDER BY base.event_type""".stripMargin,
    // symbol/digit/keyword integer features, pure-integer gate
    "text_code_detect" ->
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars,
        |    CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_sym,
        |    CAST(length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(len(regexp_extract_all(norm,
        |      '\b(def|class|return|import|function|var|val|if|else|for|while)\b')) AS BIGINT) AS n_keywords
        |  FROM d WHERE length(norm) > 0)
        |SELECT doc_id, n_chars,
        |  n_sym * 1000000 // n_chars AS sym_ppm,
        |  n_digit * 1000000 // n_chars AS digit_ppm,
        |  n_keywords,
        |  n_sym * 1000000 // n_chars > 30000 AND n_keywords >= 3 AS is_codey
        |FROM f ORDER BY doc_id""".stripMargin,
    // exact rational TV distance: HUGEINT cross-products mirror the
    // engine's DECIMAL(38,0); absent-term mass closed-form
    "text_source_drift" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents
        |), sw AS (
        |  SELECT source, w, count(*) AS n_sw FROM tok GROUP BY 1, 2
        |), wa AS (
        |  SELECT w, CAST(sum(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY 1
        |), ns AS (
        |  SELECT source, CAST(sum(n_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM ns
        |)
        |SELECT sw.source,
        |  max(ns.n_s) AS n_tokens,
        |  count(*) AS n_terms,
        |  CAST(((sum(abs(CAST(n_sw AS HUGEINT) * n_total - CAST(n_w AS HUGEINT) * n_s))
        |       + CAST(max(ns.n_s) AS HUGEINT) * (max(n_total) - CAST(sum(n_w) AS HUGEINT)))
        |      * 1000000)
        |    // (2 * CAST(max(ns.n_s) AS HUGEINT) * max(n_total)) AS BIGINT) AS tv_ppm
        |FROM sw JOIN wa USING (w) JOIN ns USING (source) CROSS JOIN t
        |GROUP BY sw.source ORDER BY sw.source""".stripMargin,
    // lag-1..3 Pearson ACF from exact BIGINT power sums
    "ev_autocorr" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//3600 AS hr, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, hr, n,
        |    lead(n, 1) OVER w AS y1, lead(n, 2) OVER w AS y2, lead(n, 3) OVER w AS y3
        |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |stats AS (
        |  SELECT event_type, CAST(k AS BIGINT) AS lag,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(n) AS BIGINT) AS sx,
        |    CAST(sum(CASE k WHEN 1 THEN y1 WHEN 2 THEN y2 ELSE y3 END) AS BIGINT) AS sy,
        |    CAST(sum(n * n) AS BIGINT) AS sxx,
        |    CAST(sum(CASE k WHEN 1 THEN y1*y1 WHEN 2 THEN y2*y2 ELSE y3*y3 END) AS BIGINT) AS syy,
        |    CAST(sum(CASE k WHEN 1 THEN n*y1 WHEN 2 THEN n*y2 ELSE n*y3 END) AS BIGINT) AS sxy
        |  FROM lagged, unnest([1, 2, 3]) t(k)
        |  WHERE (CASE k WHEN 1 THEN y1 WHEN 2 THEN y2 ELSE y3 END) IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type, lag, m,
        |  m * sxy - sx * sy AS num,
        |  m * sxx - sx * sx AS den_x,
        |  m * syy - sy * sy AS den_y,
        |  CAST(m * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(m * sxx - sx * sx AS DOUBLE) * CAST(m * syy - sy * sy AS DOUBLE)) AS acf
        |FROM stats ORDER BY event_type, lag""".stripMargin,
    // SQL:1999 EVERY/SOME predicate aggregates
    "agg_bool" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  bool_and(l_quantity > 0) AS all_positive_qty,
        |  bool_and(l_discount < 0.5) AS all_sane_discount,
        |  bool_or(l_discount > 0.05) AS any_deep_discount,
        |  bool_or(l_tax = 0) AS any_tax_free
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // inline VALUES dimension range-joined to the fact
    "sql_values_inline" ->
      """SELECT b.band_name, count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN (VALUES ('small', 0, 10), ('medium', 10, 30), ('large', 30, 1000000))
        |  AS b(band_name, lo, hi)
        |  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        |GROUP BY b.band_name ORDER BY b.band_name""".stripMargin,
    // named WINDOW clause shared by three analytic functions; the
    // (date, key) order is unique so RANGE == ROWS
    "sql_window_clause" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_spend,
        |  lag(o_orderkey) OVER w AS prev_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    // argmax over a packed (cents, orderkey, linenumber) scalar key
    "agg_argminmax" ->
      """WITH t AS (
        |  SELECT l_returnflag, l_orderkey, l_extendedprice,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) * 100000000000 + l_orderkey * 10 + l_linenumber AS okey
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  arg_max(l_orderkey, okey) AS max_price_order,
        |  arg_min(l_orderkey, okey) AS min_price_order,
        |  max(l_extendedprice) AS max_price, min(l_extendedprice) AS min_price
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // fixed-width formatting + char-mapping string kernels
    "expr_string_kernel2" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '.') AS brand_lpad,
        |  rpad(p_brand, 12, '_') AS brand_rpad,
        |  translate(p_type, 'aeiou', 'AEIOU') AS type_vowels,
        |  reverse(p_name) AS name_rev,
        |  repeat(p_brand, 2) AS brand_x2,
        |  left(p_type, 5) AS type_left5,
        |  right(p_type, 4) AS type_right4
        |FROM part ORDER BY p_partkey""".stripMargin,
    // sketch estimates are engine-specific: export exact + booleans
    "agg_hll_precision_sweep" ->
      """WITH x AS (SELECT count(DISTINCT user_id) AS exact_ndv FROM events)
        |SELECT CAST(10 AS BIGINT) AS rsd_permille, exact_ndv, TRUE AS within_5rsd FROM x
        |UNION ALL SELECT CAST(23 AS BIGINT), exact_ndv, TRUE FROM x
        |UNION ALL SELECT CAST(80 AS BIGINT), exact_ndv, TRUE FROM x
        |UNION ALL SELECT CAST(260 AS BIGINT), exact_ndv, TRUE FROM x
        |ORDER BY rsd_permille""".stripMargin,
    // apply the learned merge table: corpus compression card from
    // the v3 relation (chars = symbols-before by construction)
    "vocab_bpe_apply" ->
      """WITH words AS (
        |  SELECT w FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |    FROM documents) WHERE length(w) > 0),
        |v0 AS (
        |  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS s, count(*) AS n
        |  FROM words GROUP BY 1),
        |p1 AS (
        |  SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, ' ') AS l, n FROM v0) t, unnest(range(1, len(l))) u(i)
        |  GROUP BY 1),
        |m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |v1 AS (
        |  SELECT trim(regexp_replace(replace(replace(' ' || s || ' ', ' ', '  '),
        |    ' ' || (SELECT replace(pair, ' ', '  ') FROM m1) || ' ',
        |    ' ' || (SELECT replace(pair, ' ', '') FROM m1) || ' '), ' +', ' ', 'g')) AS s, n
        |  FROM v0),
        |p2 AS (
        |  SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, ' ') AS l, n FROM v1) t, unnest(range(1, len(l))) u(i)
        |  GROUP BY 1),
        |m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |v2 AS (
        |  SELECT trim(regexp_replace(replace(replace(' ' || s || ' ', ' ', '  '),
        |    ' ' || (SELECT replace(pair, ' ', '  ') FROM m2) || ' ',
        |    ' ' || (SELECT replace(pair, ' ', '') FROM m2) || ' '), ' +', ' ', 'g')) AS s, n
        |  FROM v1),
        |p3 AS (
        |  SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, ' ') AS l, n FROM v2) t, unnest(range(1, len(l))) u(i)
        |  GROUP BY 1),
        |m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |v3 AS (
        |  SELECT trim(regexp_replace(replace(replace(' ' || s || ' ', ' ', '  '),
        |    ' ' || (SELECT replace(pair, ' ', '  ') FROM m3) || ' ',
        |    ' ' || (SELECT replace(pair, ' ', '') FROM m3) || ' '), ' +', ' ', 'g')) AS s, n
        |  FROM v2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_words,
        |  CAST(sum(n * length(replace(s, ' ', ''))) AS BIGINT) AS symbols_before,
        |  CAST(sum(n * len(string_split(s, ' '))) AS BIGINT) AS symbols_after,
        |  CAST(sum(n * length(replace(s, ' ', ''))) AS BIGINT)
        |    - CAST(sum(n * len(string_split(s, ' '))) AS BIGINT) AS symbols_saved,
        |  CAST(sum(n * len(string_split(s, ' '))) AS DOUBLE)
        |    / CAST(sum(n * length(replace(s, ' ', ''))) AS DOUBLE) AS compression
        |FROM v3""".stripMargin,
    // aHash signatures + pigeonhole blocking + exact hamming verify
    "mm_image_ahash" ->
      """WITH thumb AS (
        |  SELECT doc_id,
        |    substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 64) AS t
        |  FROM documents),
        |hexed AS (
        |  SELECT doc_id,
        |    md5(t || '#px0') || md5(t || '#px1') || md5(t || '#px2') || md5(t || '#px3') AS hex
        |  FROM thumb),
        |px AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 59),
        |      i -> CAST(('0x' || substring(hex, 2*i + 1, 2)) AS BIGINT)) AS ps
        |  FROM hexed),
        |tot AS (
        |  SELECT doc_id, ps, list_reduce(ps, (a, b) -> a + b) AS total FROM px),
        |sigs AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, 60),
        |        i -> CASE WHEN ps[i] * 60 > total THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)),
        |      (a, b) -> a + b) AS ahash
        |  FROM tot),
        |expl AS (
        |  SELECT doc_id, ahash, unnest(generate_series(0, 3)) AS blk,
        |    unnest(list_transform(generate_series(0, 3), b -> (ahash >> (b*15)) & 32767)) AS key
        |  FROM sigs),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.ahash AS ha, b.ahash AS hb
        |  FROM expl a JOIN expl b
        |    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // exact least-squares daily-volume trend, one double division
    "ev_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//86400 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(day) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
        |    CAST(sum(day*day) AS BIGINT) AS sxx, CAST(sum(day*n) AS BIGINT) AS sxy
        |  FROM daily GROUP BY 1)
        |SELECT event_type, m, m*sxy - sx*sy AS num, m*sxx - sx*sx AS den,
        |  CAST(m*sxy - sx*sy AS DOUBLE) / CAST(m*sxx - sx*sx AS DOUBLE) AS slope_per_day,
        |  CAST(CASE WHEN m*sxy - sx*sy > 0 THEN 1 WHEN m*sxy - sx*sy < 0 THEN -1 ELSE 0 END AS BIGINT) AS direction
        |FROM s ORDER BY event_type""".stripMargin,
    // 25ms/10ms framing grid over the stubbed waveform
    // stub-energy VAD: threshold + island merge on the frame grid
    "mm_silence_detect" ->
      """WITH d AS (
        |  SELECT doc_id, text, 8000 + (doc_id % 3) * 4000 AS sample_rate,
        |    CAST(length(text) AS BIGINT) AS n_samples
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, text, n_samples,
        |    sample_rate * 25 // 1000 AS win, sample_rate * 10 // 1000 AS hop
        |  FROM d),
        |q AS (
        |  SELECT doc_id, text, win, hop, (n_samples - win) // hop + 1 AS n_frames
        |  FROM w WHERE n_samples >= win),
        |f AS (
        |  SELECT doc_id, n_frames, text, win, hop,
        |    unnest(generate_series(0, n_frames - 1)) AS frame_idx
        |  FROM q),
        |en AS (
        |  SELECT doc_id, n_frames, frame_idx,
        |    CAST(('0x'||substring(md5(substring(text, CAST(frame_idx * hop + 1 AS INT), CAST(win AS INT))), 1, 4)) AS BIGINT) % 1000 AS energy
        |  FROM f),
        |sil AS (
        |  SELECT doc_id, frame_idx,
        |    frame_idx - row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS g
        |  FROM en WHERE energy < 150),
        |runs AS (
        |  SELECT doc_id, g, count(*) AS run_len FROM sil GROUP BY 1, 2),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS n_segments, CAST(max(run_len) AS BIGINT) AS longest_run,
        |    CAST(sum(run_len) AS BIGINT) AS n_silent
        |  FROM runs GROUP BY 1),
        |base AS (SELECT doc_id, max(n_frames) AS n_frames FROM en GROUP BY 1)
        |SELECT b.doc_id, b.n_frames,
        |  coalesce(n_silent, 0) AS n_silent,
        |  coalesce(n_segments, 0) AS n_segments,
        |  coalesce(longest_run, 0) AS longest_run,
        |  coalesce(n_silent, 0) * 1000000 // b.n_frames AS silence_ppm
        |FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "mm_audio_frames" ->
      """WITH d AS (
        |  SELECT doc_id, text, 8000 + (doc_id % 3) * 4000 AS sample_rate,
        |    CAST(length(text) AS BIGINT) AS n_samples
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, text, sample_rate, n_samples,
        |    sample_rate * 25 // 1000 AS win, sample_rate * 10 // 1000 AS hop
        |  FROM d),
        |q AS (
        |  SELECT doc_id, text, sample_rate, win, hop,
        |    (n_samples - win) // hop + 1 AS n_frames
        |  FROM w WHERE n_samples >= win),
        |f AS (
        |  SELECT doc_id, sample_rate, n_frames, text, win, hop,
        |    unnest(generate_series(0, n_frames - 1, 8)) AS frame_idx
        |  FROM q)
        |SELECT doc_id, sample_rate, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(substring(text, CAST(frame_idx * hop + 1 AS INT), CAST(win AS INT))) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // the modern GROUP BY ALL shorthand — query text identical on
    // both engines by construction
    "sql_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ALL ORDER BY ALL""".stripMargin,
    // leave-one-out 10-NN majority vote; ties to the smallest label
    "emb_knn_classify" ->
      """WITH vecs AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id % 47 = 0),
        |scored AS (
        |  SELECT probe_id, v.vec_id, v.label,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, label,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored),
        |votes AS (
        |  SELECT probe_id, label, count(*) AS votes
        |  FROM ranked WHERE rank <= 10 GROUP BY 1, 2),
        |pred AS (
        |  SELECT probe_id, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY votes DESC, label) AS rk
        |  FROM votes)
        |SELECT p.probe_id, e.label AS true_label, p.pred_label, p.votes,
        |  p.pred_label = e.label AS correct
        |FROM pred p JOIN embeddings e ON p.probe_id = e.vec_id
        |WHERE p.rk = 1 ORDER BY p.probe_id""".stripMargin,
    // exact per-lang [p05,p95] clamp accounting; winsorized mass =
    // integer interior + count×boundary products, fixed add order
    "pipeline_winsorize" ->
      """WITH q AS (
        |  SELECT lang, quantile_cont(n_chars, 0.05) AS p05,
        |    quantile_cont(n_chars, 0.95) AS p95
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_chars < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN n_chars > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN n_chars >= p05 AND n_chars <= p95 THEN n_chars ELSE 0 END) AS BIGINT) AS interior_mass,
        |  min(p05) AS p05, min(p95) AS p95,
        |  CAST(sum(CASE WHEN n_chars >= p05 AND n_chars <= p95 THEN n_chars ELSE 0 END) AS DOUBLE)
        |    + CAST(sum(CASE WHEN n_chars < p05 THEN 1 ELSE 0 END) AS DOUBLE) * min(p05)
        |    + CAST(sum(CASE WHEN n_chars > p95 THEN 1 ELSE 0 END) AS DOUBLE) * min(p95) AS sum_winsorized
        |FROM documents d JOIN q USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // bucket-draw negative sampling: every id below is a pure md5
    // function, so the sample replays exactly
    "pipeline_negative_sample" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |cands AS (SELECT doc_id AS cand_id,
        |    CAST(('0x' || substring(md5('nsb_' || doc_id), 1, 15)) AS BIGINT) % 16 AS bkt
        |  FROM docs),
        |anchors AS (SELECT doc_id, slot,
        |    CAST(('0x' || substring(md5('nsp_' || doc_id || '_' || slot), 1, 15)) AS BIGINT) % 16 AS bkt
        |  FROM docs, (SELECT unnest(generate_series(0, 3)) AS slot)
        |  WHERE doc_id % 10 = 0),
        |scored AS (
        |  SELECT a.doc_id, a.slot, c.cand_id,
        |    CAST(('0x' || substring(md5('nsr_' || a.doc_id || '_' || a.slot || '_' || c.cand_id), 1, 15)) AS BIGINT) AS r
        |  FROM anchors a JOIN cands c USING (bkt)
        |  WHERE c.cand_id <> a.doc_id),
        |best AS (
        |  SELECT doc_id, slot, cand_id AS neg_id, r AS draw_rank,
        |    row_number() OVER (PARTITION BY doc_id, slot ORDER BY r, cand_id) AS rn
        |  FROM scored)
        |SELECT doc_id, slot, neg_id, draw_rank
        |FROM best WHERE rn = 1 ORDER BY doc_id, slot""".stripMargin,
    // within-source percentile normalization: percent_rank's exact
    // (rank-1)/(n-1) ratio as floor-ppm + cume_dist double — both
    // pure integer-count functions, engine-identical
    "pipeline_quantile_norm" ->
      """SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN cnt > 1 THEN ((rnk - 1) * 1000000) // (cnt - 1) ELSE 0 END AS BIGINT) AS pct_ppm,
        |  cd
        |FROM (
        |  SELECT doc_id, source, n_chars,
        |    rank() OVER (PARTITION BY source ORDER BY n_chars) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS cnt,
        |    cume_dist() OVER (PARTITION BY source ORDER BY n_chars) AS cd
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // one-scan constraint audit; BIGINT casts (DuckDB sums are
    // HUGEINT), integer-division ppm, boolean pass
    "pipeline_data_quality" ->
      """WITH a AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_quantity_range,
        |    CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS v_discount_range,
        |    CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS v_discount_sla,
        |    CAST(sum(CASE WHEN l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END) AS BIGINT) AS v_returnflag_domain,
        |    CAST(sum(CASE WHEN l_linestatus NOT IN ('O','F') THEN 1 ELSE 0 END) AS BIGINT) AS v_linestatus_domain,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price_positive,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_keys_nonnull,
        |    CAST(sum(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1992-01-01'
        |      OR CAST(l_shipdate AS DATE) > DATE '1998-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS v_shipdate_window
        |  FROM lineitem),
        |u AS (
        |  SELECT n_rows, 'quantity_range' AS check_name, v_quantity_range AS n_violations FROM a
        |  UNION ALL SELECT n_rows, 'discount_range', v_discount_range FROM a
        |  UNION ALL SELECT n_rows, 'discount_sla', v_discount_sla FROM a
        |  UNION ALL SELECT n_rows, 'returnflag_domain', v_returnflag_domain FROM a
        |  UNION ALL SELECT n_rows, 'linestatus_domain', v_linestatus_domain FROM a
        |  UNION ALL SELECT n_rows, 'price_positive', v_price_positive FROM a
        |  UNION ALL SELECT n_rows, 'keys_nonnull', v_keys_nonnull FROM a
        |  UNION ALL SELECT n_rows, 'shipdate_window', v_shipdate_window FROM a)
        |SELECT check_name, n_rows, n_violations,
        |  n_violations * 1000000 // n_rows AS viol_ppm,
        |  n_violations = 0 AS pass
        |FROM u ORDER BY check_name""".stripMargin,
    // the five derived-partsupp queries share this CTE: partsupp
    // recovered from the observed (partkey, suppkey) pairs, h60
    // quantities/costs — identical derivation in both engines
    "q2_min_cost_supp" ->
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |    CAST(('0x'||substring(md5('psq:' || ps_partkey || ':' || ps_suppkey),1,15)) AS BIGINT) % 9999 + 1 AS ps_availqty,
        |    CAST(('0x'||substring(md5('psc:' || ps_partkey || ':' || ps_suppkey),1,15)) AS BIGINT) % 900 + 100 AS ps_supplycost
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) d),
        |sup AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |pq AS (SELECT p_partkey FROM part WHERE p_size = 11 AND p_type = 'ECONOMY'),
        |cand AS (
        |  SELECT p_partkey, ps_supplycost, ps_suppkey, s_name, s_acctbal, n_name,
        |    row_number() OVER (PARTITION BY p_partkey ORDER BY ps_supplycost, ps_suppkey) AS rn
        |  FROM ps JOIN pq ON ps_partkey = p_partkey JOIN sup ON ps_suppkey = s_suppkey)
        |SELECT p_partkey, ps_supplycost AS min_cost, ps_suppkey AS s_suppkey,
        |  s_name, s_acctbal, n_name
        |FROM cand WHERE rn = 1 ORDER BY s_acctbal DESC, p_partkey""".stripMargin,
    "q9_product_profit" ->
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |    CAST(('0x'||substring(md5('psc:' || ps_partkey || ':' || ps_suppkey),1,15)) AS BIGINT) % 900 + 100 AS ps_supplycost
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) d),
        |pr AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
        |sup AS (SELECT s_suppkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name AS nation, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |       - CAST(ps_supplycost * CAST(l_quantity AS BIGINT) AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN pr ON l_partkey = p_partkey
        |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN sup ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important_stock" ->
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |    CAST(('0x'||substring(md5('psq:' || ps_partkey || ':' || ps_suppkey),1,15)) AS BIGINT) % 9999 + 1 AS ps_availqty,
        |    CAST(('0x'||substring(md5('psc:' || ps_partkey || ':' || ps_suppkey),1,15)) AS BIGINT) % 900 + 100 AS ps_supplycost
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) d),
        |sup AS (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |        WHERE n_name = 'NATION_7'),
        |base AS (SELECT ps_partkey, ps_supplycost * ps_availqty AS value
        |         FROM ps JOIN sup ON ps_suppkey = s_suppkey),
        |tot AS (SELECT CAST(sum(value) AS BIGINT) AS total FROM base),
        |pp AS (SELECT ps_partkey, CAST(sum(value) AS BIGINT) AS value FROM base GROUP BY 1)
        |SELECT ps_partkey, value FROM pp CROSS JOIN tot WHERE value * 5000 > total
        |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q16_parts_suppliers" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem),
        |pq AS (SELECT p_partkey, p_brand, p_type, p_size FROM part
        |  WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
        |    AND p_size IN (5, 11, 17, 23, 29, 35, 41, 47)),
        |ex AS (SELECT s_suppkey FROM supplier
        |  WHERE CAST(('0x'||substring(md5('cmpl:' || s_suppkey),1,15)) AS BIGINT) % 10 = 0)
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN pq ON ps_partkey = p_partkey
        |WHERE ps_suppkey NOT IN (SELECT s_suppkey FROM ex)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_potential_promo" ->
      """WITH ps AS (
        |  SELECT ps_partkey, ps_suppkey,
        |    CAST(('0x'||substring(md5('psq:' || ps_partkey || ':' || ps_suppkey),1,15)) AS BIGINT) % 9999 + 1 AS ps_availqty
        |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) d),
        |promo AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
        |q97 AS (SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty97
        |  FROM lineitem JOIN promo ON l_partkey = p_partkey
        |  WHERE year(CAST(l_shipdate AS DATE)) = 1997 GROUP BY 1, 2),
        |sup AS (SELECT s_suppkey, s_name, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
        |cand AS (SELECT DISTINCT ps_suppkey
        |  FROM ps JOIN q97 ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  WHERE ps_availqty * 2 > qty97)
        |SELECT s_suppkey, s_name, n_name
        |FROM cand JOIN sup ON ps_suppkey = s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DECIMAL(38,8)) AS VARCHAR) AS sum_charge,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        | JOIN supplier ON s_nationkey = n_nationkey
        | JOIN lineitem ON l_suppkey = s_suppkey
        | JOIN orders ON o_orderkey = l_orderkey
        | JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year, l_extendedprice, l_discount
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year,
        | CAST(sum(CASE WHEN supp_nation = 'NATION_3'
        |     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year, n3.n_name AS supp_nation, l_extendedprice, l_discount
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n3 ON s_nationkey = n3.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q17_small_quantity" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#7'
        |  AND l_quantity < CAST(0.2 AS DOUBLE) * (SELECT avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |), os AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_sups,
        |    count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_sups
        |  FROM li GROUP BY 1
        |), d AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE is_late
        |)
        |SELECT s_name, count(*) AS numwait
        |FROM d
        |JOIN os ON os.l_orderkey = d.l_orderkey AND os.n_sups >= 2 AND os.n_late_sups = 1
        |JOIN supplier ON s_suppkey = d.l_suppkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 50""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q12_priority_shipping" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS on_time_count,
        | CAST(sum(CASE WHEN l_shipdate >  o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_count
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        | GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_promo_effect" ->
      """SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |   THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        | / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q18_large_volume" ->
      """SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
        | CAST(t.sum_qty_d AS DOUBLE) AS sum_qty
        |FROM orders
        | JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d
        |       FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150) t
        |   ON o_orderkey = t.l_orderkey
        | JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_anti_join" ->
      """SELECT c_nationkey, count(*) AS numcust,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                   FROM customer WHERE c_acctbal > 0)
        | AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // §2.2 scan-level pushdown & pruning
    "scan_pred_eq" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_pred_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_extendedprice < 10000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_pred_in" ->
      """SELECT o_orderkey, o_orderpriority, o_orderstatus
        |FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_orderstatus IN ('F','O')
        |ORDER BY o_orderkey""".stripMargin,
    "scan_pred_compound" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE (l_returnflag = 'R' AND l_quantity < 10)
        |   OR (NOT (l_linestatus = 'F') AND l_discount > 0.05)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_prune_projection" ->
      """SELECT l_orderkey, l_extendedprice FROM lineitem
        |ORDER BY l_orderkey, l_extendedprice""".stripMargin,
    "scan_selectivity_sweep" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey % 10 = 0""".stripMargin,
    "scan_selectivity_1pct" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey % 100 = 0""".stripMargin,
    "scan_selectivity_20pct" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey % 10 < 2""".stripMargin,
    "scan_selectivity_30pct" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey % 10 < 3""".stripMargin,
    "scan_selectivity_50pct" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey % 2 = 0""".stripMargin,
    "scan_selectivity_80pct" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_partkey % 10 < 8""".stripMargin,
    "scan_selectivity_full" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem""".stripMargin,
    // runtime filters prune the same rows static pushdown can't see;
    // results are identical to the plain joins, which is the point.
    "scan_runtime_dpp" ->
      """SELECT n_name, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "scan_runtime_bloom" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the on-disk bloom filter must be invisible in the values: the
    // oracle replays the md5-surrogate point lookup on the base table
    "scan_bloom_pointlookup" ->
      """SELECT count(*) AS n_rows,
        | min(l_orderkey) AS okey,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE CAST(('0x'||substring(md5(CAST(l_orderkey AS VARCHAR)),1,15)) AS BIGINT)
        |      = 886263699231969848""".stripMargin,
    // encryption must be invisible in the values: the oracle runs the
    // same aggregate on the plain table
    "sink_encrypted_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the dictionary-page skipping must be invisible in the values:
    // the oracle replays the low-NDV tag probe on the base table
    "scan_dict_filter" ->
      """SELECT count(*) AS n_rows,
        | min(l_orderkey) AS okey,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 16 = 7""".stripMargin,
    // the Avro hop must be invisible in the values: the oracle runs
    // the same aggregate on the plain table (prices through the
    // exact-decimal path)
    "src_avro_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | max(o_orderkey) AS max_okey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the encoding POLICY is a pure function of per-column NDV — the
    // oracle measures the same NDVs and replays the CASE (type
    // dispatch becomes name dispatch: the integer key columns are
    // named); the footer/bytes assertions live in SourcesSpec
    // the NDV measurement + CASE are GENERATED from the same
    // EncodingPolicyCols/EncodingDictNdvCap/EncodingDeltaIntCols
    // constants encodingChoice consumes — one policy definition
    "sink_encoding_policy" -> {
      val cols = graft.queries.SourcesSinks.EncodingPolicyCols
      val ndvSelects = cols.zipWithIndex.map { case (c, i) =>
        if (i == 0) s"  SELECT '$c' AS column_name, count(DISTINCT $c) AS ndv FROM lineitem"
        else s"  UNION ALL SELECT '$c', count(DISTINCT $c) FROM lineitem"
      }.mkString("\n")
      val deltaList = graft.queries.SourcesSinks.EncodingDeltaIntCols
        .toSeq.sorted.map(c => s"'$c'").mkString(", ")
      s"""WITH nr AS (SELECT count(*) AS n_rows FROM lineitem),
         |nd AS (
         |$ndvSelects)
         |SELECT column_name, ndv, n_rows,
         |  CASE WHEN ndv <= ${graft.queries.SourcesSinks.EncodingDictNdvCap} THEN 'dict'
         |       WHEN column_name IN ($deltaList) THEN 'delta_int'
         |       ELSE 'plain' END AS encoding
         |FROM nd, nr ORDER BY column_name""".stripMargin
    },
    // the mid-write dict→plain fallback must be invisible in the
    // values: the oracle runs the same aggregate on the base table
    // (the footer's dual-encoding evidence lives in SourcesSpec)
    "sink_dict_fallback" ->
      """SELECT count(*) AS n_rows, max(l_orderkey) AS max_okey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(DISTINCT l_returnflag) AS n_flags
        |FROM lineitem""".stripMargin,
    // record-level filtering must be invisible in the values: the
    // oracle runs the same selective aggregate on the base table
    "scan_record_filter" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | max(l_orderkey) AS max_orderkey
        |FROM lineitem
        |WHERE l_quantity = 7""".stripMargin,
    // salting must be invisible in the output: the oracle is unsalted.
    "join_salted_skew" ->
      """WITH dim AS (SELECT DISTINCT event_type, upper(event_type) AS type_label FROM events)
        |SELECT e.event_type, d.type_label, count(*) AS n_events,
        | CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type, d.type_label
        |ORDER BY e.event_type""".stripMargin,

    // §2.3 expressions
    "expr_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS name_upper, lower(p_brand) AS brand_lower,
        | substring(p_type, 1, 3) AS type_prefix,
        | concat_ws('/', p_brand, p_type) AS brand_type,
        | length(p_name) AS name_len,
        | p_type LIKE '%O%' AS has_o,
        | trim(p_name) AS name_trim
        |FROM part ORDER BY p_partkey""".stripMargin,
    "expr_math_case" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS gross,
        | CASE WHEN l_discount > 0.05 THEN 'HIGH' WHEN l_discount = 0.0 THEN 'ZERO' ELSE 'LOW' END AS disc_band,
        | CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        | CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
        | CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
        | -l_tax AS neg_tax,
        | abs(l_extendedprice - l_quantity) AS abs_diff
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "expr_date_funcs" ->
      """SELECT o_orderkey,
        | year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
        | dayofmonth(o_orderdate) AS o_day, quarter(o_orderdate) AS o_quarter,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_2000
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "expr_hash_digest" ->
      """SELECT doc_id, md5(text) AS digest_md5, sha256(text) AS digest_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    // DuckDB ships no crc32/xxhash64, so the oracle is the published
    // known-answer vectors: CRC-32/ISO-HDLC check values (RFC 1321
    // test strings; crc32('123456789') = 0xCBF43926 = 3421780262) and
    // XXH64(seed=42) of the same inputs — constants any independent
    // implementation of the two public algorithms reproduces.
    "expr_hash_crc" ->
      """SELECT * FROM (VALUES
        |  ('', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(-7444071767201028348 AS BIGINT)),
        |  ('a', CAST(1 AS BIGINT), CAST(3904355907 AS BIGINT), CAST(-8582455328737087284 AS BIGINT)),
        |  ('abc', CAST(3 AS BIGINT), CAST(891568578 AS BIGINT), CAST(1423657621850124518 AS BIGINT)),
        |  ('message digest', CAST(14 AS BIGINT), CAST(538287487 AS BIGINT), CAST(-8791412197647579415 AS BIGINT)),
        |  ('123456789', CAST(9 AS BIGINT), CAST(3421780262 AS BIGINT), CAST(-6808433898042478093 AS BIGINT)),
        |  ('The quick brown fox jumps over the lazy dog', CAST(43 AS BIGINT), CAST(1095738169 AS BIGINT), CAST(-6152153990451020481 AS BIGINT))
        |) AS t(input, n_chars, crc32, xxh64_seed42)
        |ORDER BY input""".stripMargin,
    // Spark dayofweek is 1=Sunday; DuckDB's is 0=Sunday — shift by one
    "expr_date_parse" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y%m%d') AS ymd,
        |  CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS parsed,
        |  CAST(datediff('day', DATE '1970-01-01',
        |    CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE)) AS BIGINT) AS epoch_day,
        |  CAST(dayofweek(CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE)) + 1 AS BIGINT) AS weekday
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "expr_null_semantics" ->
      """SELECT l_orderkey, l_linenumber,
        | nullif(l_discount, 0.0) AS disc_or_null,
        | coalesce(nullif(l_discount, 0.0), -1.0) AS disc_coalesced,
        | l_discount IS NOT DISTINCT FROM 0.0 AS is_zero_nullsafe,
        | nullif(l_tax, 0.0) IS NULL AS tax_is_zero
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // DuckDB ^ is power — xor() and <<, & are the bitwise forms
    "expr_bitwise" ->
      """SELECT l_returnflag,
        | bit_and(l_orderkey) AS and_okey,
        | bit_or(l_orderkey) AS or_okey,
        | bit_xor(l_orderkey) AS xor_okey,
        | CAST(sum(CAST(bit_count(l_orderkey & 255) AS BIGINT)) AS BIGINT) AS sum_pop_low,
        | CAST(sum(CAST(l_linenumber AS BIGINT) << 2) AS BIGINT) AS sum_shl
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "expr_array_ops" ->
      """SELECT vec_id,
        | CAST(len(embedding) AS BIGINT) AS n_dims,
        | CAST(embedding[1] AS DOUBLE) AS first_dim,
        | CAST(embedding[-1] AS DOUBLE) AS last_dim,
        | CAST(list_min(embedding) AS DOUBLE) AS min_dim,
        | CAST(list_max(embedding) AS DOUBLE) AS max_dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // §2.4 sources / sinks / encodings (oracle states the semantics
    // over the ORIGINAL parquet tables; the Spark side proves the
    // csv/parquet roundtrip preserves them).
    "src_delimited_text" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    // the gzip roundtrip is lossless, so the oracle aggregates the
    // original parquet table directly
    "src_csv_gzip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // three deterministic garbage lines ride along with the feed; the
    // PERMISSIVE reader must quarantine exactly those three
    "src_json_corrupt" ->
      """SELECT event_type, n_events FROM (
        |  SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
        |  UNION ALL SELECT '_corrupt', 3
        |) ORDER BY event_type""".stripMargin,
    // same contract, delimited-text parser: the 3 planted malformed
    // lines land in the corrupt bucket (the over-token line still
    // yields its leading typed fields: id 7 and value 2.0; the type-
    // failure line yields value 1.5), the good rows aggregate exactly
    "src_csv_corrupt" ->
      """SELECT bucket, n_events, n_ids, sum_value FROM (
        |  SELECT event_type AS bucket, count(*) AS n_events, count(*) AS n_ids,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY event_type
        |  UNION ALL SELECT '_corrupt', 3, 1, 3.5
        |) ORDER BY bucket""".stripMargin,
    // the INT96 hop must be lossless at the µs contract: the oracle
    // replays the same ns→µs truncation on the base table
    "sink_int96_timestamps" ->
      """SELECT event_type, count(*) AS n_events,
        |  min(epoch_ns(ts) // 1000) AS min_us,
        |  max(epoch_ns(ts) // 1000) AS max_us,
        |  CAST(sum((epoch_ns(ts) // 1000) % 1000000) AS BIGINT) AS sum_subsec_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the Hive-era INT96 calendar hazard: the planted year-1500
    // timestamps (base 1500-06-15 UTC + per-event second/µs offsets)
    // must read back EXACTLY under LEGACY rebase, and the SAME bytes
    // must surface exactly 10 days later under CORRECTED (the 1500s
    // Julian↔proleptic-Gregorian gap) — the shift columns pin that
    // constant. DuckDB's epoch_us is proleptic, matching the
    // intended instants.
    "src_int96_legacy_rebase" ->
      """WITH planted AS (
        |  SELECT event_type,
        |    epoch_us(TIMESTAMP '1500-06-15 00:00:00')
        |      + ((epoch_ns(ts) // 1000000000) % 86400) * 1000000
        |      + (event_id % 1000000) AS us
        |  FROM events WHERE event_id % 97 = 0)
        |SELECT event_type, count(*) AS n_events,
        |  min(us) AS min_us, max(us) AS max_us,
        |  CAST(10 AS BIGINT) AS shift_days_min,
        |  CAST(10 AS BIGINT) AS shift_days_max
        |FROM planted GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the oracle builds the hostile payload (delimiter + quotes +
    // newline) directly from nation; the Spark side must survive the
    // CSV write/read roundtrip to reproduce it byte-for-byte
    "src_csv_quoted" ->
      """SELECT n_nationkey,
        | n_name || ',"quoted"' || chr(10) || 'line2|tail' AS tricky,
        | length(n_name || ',"quoted"' || chr(10) || 'line2|tail') AS tricky_len,
        | n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // backslash-escape dialect: the oracle rebuilds the payload (raw
    // backslash + quotes + delimiter + newline) from nation; the
    // Spark side must survive the \-escaped CSV roundtrip to
    // reproduce it byte-for-byte. DuckDB non-E strings keep the
    // backslash literal.
    "src_csv_escaped" ->
      """SELECT n_nationkey,
        | n_name || '\esc"q"|d,e' || chr(10) || 'tail' AS tricky,
        | length(n_name || '\esc"q"|d,e' || chr(10) || 'tail') AS tricky_len,
        | n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "sink_parquet_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the multiLine array round-trip is a layout change only: the
    // oracle reads the same dimension straight from parquet
    "src_json_multiline" ->
      """SELECT CAST(n.n_nationkey AS BIGINT) AS n_nationkey, n.n_name,
        |  CAST(n.n_regionkey AS BIGINT) AS n_regionkey,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1, 2, 3 ORDER BY n_nationkey""".stripMargin,
    "src_json_lines" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | min(epoch_ns(ts)//1000000000) AS first_sec,
        | max(epoch_ns(ts)//1000000000) AS last_sec
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "sink_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "sink_encoded_v2" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // schema evolution: batch 1 (even keys) lacks the status column,
    // so the merged read reports those rows under '(legacy)'
    "src_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '(legacy)' ELSE o_orderstatus END AS status,
        | count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY status ORDER BY status""".stripMargin,
    // ORC roundtrip is lossless, so the oracle reads the same rows
    // from the parquet table directly
    "src_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | min(CAST(o_orderdate AS DATE)) AS first_date,
        | max(CAST(o_orderdate AS DATE)) AS last_date
        |FROM orders WHERE o_totalprice > 1000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sink_sorted_skipping" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-03-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'""".stripMargin,
    "sink_zorder_skipping" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 256 BETWEEN 64 AND 127
        |  AND l_partkey % 256 BETWEEN 64 AND 127""".stripMargin,
    "src_xml_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(event_id) AS BIGINT) AS sum_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // blob identity contract: length + md5 of the raw bytes computed
    // relationally — the oracle never touches the landed files
    "src_binary_files" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        | md5(text) AS content_md5
        |FROM documents WHERE doc_id < 64 ORDER BY doc_id""".stripMargin,
    // the repair must erase the planted corruption, so the oracle is
    // simply the clean per-type aggregate over the source table
    "sink_dynamic_overwrite" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // merge-of-partials must equal the full recompute
    "ev_incremental_agg" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "sink_compaction" ->
      """SELECT 'after' AS phase,
        |  CAST(ceil(count(*) / 25000.0) AS BIGINT) AS n_files,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |UNION ALL
        |SELECT 'before', CAST(64 AS BIGINT), count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |FROM events
        |ORDER BY phase""".stripMargin,
    // content must be codec-invariant: every row repeats the same
    // exact aggregate computed directly from the source table
    "sink_codec_matrix" ->
      """WITH agg AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |  FROM lineitem)
        |SELECT codec, n_rows, sum_qty, sum_price, min_key, max_key
        |FROM agg CROSS JOIN
        |  (SELECT unnest(['gzip','lz4','snappy','uncompressed','zstd']) AS codec)
        |ORDER BY codec""".stripMargin,
    "scan_metadata_cols" ->
      """SELECT CAST(1 AS BIGINT) AS n_files, count(*) AS n_rows,
        |  TRUE AS has_size, TRUE AS row_index_unique,
        |  CAST(0 AS BIGINT) AS min_row_index,
        |  count(*) - 1 AS max_row_index
        |FROM events""".stripMargin,
    "sink_merge_upsert" ->
      """WITH snap AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |del AS (SELECT c_custkey AS k FROM snap WHERE c_custkey % 13 = 0),
        |upd AS (SELECT c_custkey AS k, 'MERGED' AS seg, c_acctbal + 100.0 AS bal
        |        FROM snap WHERE c_custkey % 10 = 0 AND c_custkey % 13 <> 0),
        |ins AS (SELECT c_custkey + 10000000 AS k, 'NEWCOMER' AS seg, c_acctbal AS bal
        |        FROM snap WHERE c_custkey % 37 = 0),
        |merged AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM snap
        |  WHERE c_custkey % 13 <> 0 AND NOT (c_custkey % 10 = 0 AND c_custkey % 13 <> 0)
        |  UNION ALL SELECT k, seg, bal FROM upd
        |  UNION ALL SELECT k, seg, bal FROM ins)
        |SELECT c_mktsegment, count(*) AS n_rows,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "dict_cardinality_stats" ->
      """SELECT column_name, ndv, n_rows, ndv <= 4096 AS dict_encodable FROM (
        |  SELECT 'l_returnflag' AS column_name, count(DISTINCT l_returnflag) AS ndv, count(*) AS n_rows FROM lineitem
        |  UNION ALL SELECT 'l_linestatus', count(DISTINCT l_linestatus), count(*) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', count(DISTINCT l_quantity), count(*) FROM lineitem
        |  UNION ALL SELECT 'l_partkey', count(DISTINCT l_partkey), count(*) FROM lineitem
        |) ORDER BY column_name""".stripMargin,

    // §2.5 window / analytic
    "win_rank_topn" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |   row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) t
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,
    "win_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    // session_window MERGES an event at exactly session end (probe:
    // a 1800s gap joins, 1801s splits — the [start, end] closed merge
    // rule), so the island split is STRICTLY > gap, same as
    // win_sessionize's lag form. An >=-gap oracle diverges one row
    // per exactly-30min gap — caught by the full sf0.1 sweep, pinned
    // by AnalyticSpec's planted boundary pair.
    "ev_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_sec, value FROM events),
        | w AS (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_sec FROM e),
        | f AS (SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new FROM w),
        | s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, min(ts_sec) AS start_sec, max(ts_sec) + 1800 AS end_sec,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, start_sec""".stripMargin,
    "win_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_sec, value FROM events),
        | w AS (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_sec FROM e),
        | f AS (SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new FROM w),
        | s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(ts_sec) AS start_sec, max(ts_sec) AS end_sec,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "win_lag_ntile" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price,
        |  o_totalprice - lag(o_totalprice) OVER w AS delta_prev,
        |  ntile(4) OVER w AS quartile
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_range_frame" ->
      """WITH daily AS (
        |  SELECT l_suppkey, datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS day_rev
        |  FROM lineitem WHERE l_suppkey % 10 = 7 GROUP BY 1, 2)
        |SELECT l_suppkey, CAST(day AS BIGINT) AS day,
        |  CAST(day_rev AS DOUBLE) AS day_rev,
        |  CAST(sum(day_rev) OVER (PARTITION BY l_suppkey ORDER BY day
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
        |FROM daily ORDER BY l_suppkey, day""".stripMargin,
    "win_first_last" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS latest_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_percent_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_dense_rank" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS dense_rnk
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_quantity)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    // spine hours between each type's min and max; missing hours
    // zero-fill + flag, carried_value = LOCF of the hourly sum
    "ev_gap_fill" ->
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//3600*3600 AS hour_sec,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hour_sec) AS mn, max(hour_sec) AS mx FROM h GROUP BY 1),
        |s AS (SELECT event_type, unnest(generate_series(mn, mx, 3600)) AS hour_sec FROM b)
        |SELECT s.event_type, s.hour_sec,
        |  coalesce(h.n_events, 0) AS n_events,
        |  coalesce(h.sum_value, 0.0) AS sum_value,
        |  h.n_events IS NULL AS is_gap,
        |  last_value(h.sum_value IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.hour_sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
        |FROM s LEFT JOIN h ON s.event_type = h.event_type AND s.hour_sec = h.hour_sec
        |ORDER BY s.event_type, s.hour_sec""".stripMargin,
    "ev_pattern_match" ->
      """WITH seq AS (
        |  SELECT user_id, count(*) AS n_events,
        |    string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS s
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(len(regexp_extract_all(s, 'vcp')) AS BIGINT) AS n_strict_funnels,
        |  CAST(CASE WHEN regexp_matches(s, 'v.*c.*p') THEN 1 ELSE 0 END AS BIGINT) AS has_gap_funnel,
        |  CAST(coalesce(list_max(list_transform(regexp_extract_all(s, 'e+'), x -> length(x))), 0) AS BIGINT) AS max_error_run
        |FROM seq ORDER BY user_id""".stripMargin,
    "ev_markov_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |p AS (
        |  SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_type
        |  FROM e),
        |m AS (
        |  SELECT prev_type, next_type, count(*) AS n_transitions
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT prev_type, next_type, n_transitions,
        |    CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total
        |  FROM m)
        |SELECT prev_type, next_type, n_transitions, row_total,
        |  CAST(n_transitions AS DOUBLE) / CAST(row_total AS DOUBLE) AS prob
        |FROM r ORDER BY prev_type, next_type""".stripMargin,
    "ev_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS rn
        |  FROM e),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id),
        |tot AS (SELECT count(*) AS n_total FROM p)
        |SELECT path, count(*) AS n_users,
        |  CAST(count(*) AS DOUBLE) / CAST(n_total AS DOUBLE) AS user_share
        |FROM p CROSS JOIN tot GROUP BY path, n_total
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
    "ev_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, value, epoch_ns(ts)//1000000000//604800 AS week FROM events),
        |coh AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |cell AS (
        |  SELECT cohort_week, week - cohort_week AS week_offset,
        |    count(DISTINCT ev.user_id) AS n_buyers,
        |    sum(CAST(value AS DECIMAL(18,2))) AS revenue_d
        |  FROM ev JOIN coh USING (user_id)
        |  WHERE event_type = 'purchase' AND week - cohort_week <= 3
        |  GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_buyers,
        |  CAST(revenue_d AS DOUBLE) AS revenue,
        |  CAST(sum(revenue_d) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_ltv
        |FROM cell ORDER BY cohort_week, week_offset""".stripMargin,
    "ev_rfm_segments" ->
      """WITH per AS (
        |  SELECT user_id, max(epoch_ns(ts)//1000000000) AS last_purchase_sec,
        |    count(*) AS n_purchases,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (
        |  SELECT user_id, last_purchase_sec, n_purchases, total_spend,
        |    CAST(ntile(5) OVER (ORDER BY last_purchase_sec, user_id) AS BIGINT) AS r_band,
        |    CAST(ntile(5) OVER (ORDER BY n_purchases, user_id) AS BIGINT) AS f_band,
        |    CAST(ntile(5) OVER (ORDER BY total_spend, user_id) AS BIGINT) AS m_band
        |  FROM per)
        |SELECT user_id, last_purchase_sec, n_purchases, total_spend,
        |  r_band, f_band, m_band,
        |  concat(r_band, '-', f_band, '-', m_band) AS segment
        |FROM b ORDER BY user_id""".stripMargin,
    // every event lands in exactly 2 overlapping windows (width 3600,
    // slide 1800, epoch-aligned starts — same alignment Spark uses)
    "ev_sliding_window" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS s, event_type, value FROM events),
        |x AS (SELECT event_type, value,
        |        unnest([(s//1800)*1800 - 1800, (s//1800)*1800]) AS win_start FROM e)
        |SELECT win_start, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "ev_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec FROM events),
        |v AS (SELECT user_id, min(ts_sec) AS first_sec FROM ev WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts_sec) AS first_sec FROM ev e
        |      JOIN v ON e.user_id = v.user_id AND e.ts_sec > v.first_sec
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts_sec) AS first_sec FROM ev e
        |      JOIN c ON e.user_id = c.user_id AND e.ts_sec > c.first_sec
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin,
    "ev_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts)//1000000000//604800 AS week FROM events
        |), coh AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_users
        |FROM weeks JOIN coh USING (user_id)
        |WHERE week - cohort_week <= 3
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ev_asof_attribution" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), m AS (
        |  SELECT *, max(CASE WHEN event_type = 'click' THEN ts_sec END) OVER (
        |    PARTITION BY user_id ORDER BY ts_sec, event_type, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_sec
        |  FROM ev
        |)
        |SELECT event_id, user_id, ts_sec, last_click_sec,
        |  ts_sec - last_click_sec AS gap_sec
        |FROM m WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // the oracle runs the naive inequality join — the Spark side's
    // bucketed equi-join must produce identical results.
    "ev_range_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS sec FROM events),
        |c AS (SELECT user_id, sec AS c_sec FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, sec AS p_sec FROM ev WHERE event_type = 'purchase')
        |SELECT purchase_id, count(*) AS n_clicks_1h,
        |  min(c_sec) AS first_click_sec, max(c_sec) AS last_click_sec
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_sec >= p.p_sec - 3600 AND c.c_sec < p.p_sec
        |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin,
    // multi-horizon trailing features: one 24h band, the 1h horizon
    // as a conditional sum inside the same group-by
    "ev_band_features" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS sec, value FROM events),
        |c AS (SELECT user_id, sec AS c_sec, value AS c_value FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, sec AS p_sec FROM ev WHERE event_type = 'purchase')
        |SELECT purchase_id, count(*) AS n_clicks_24h,
        |  CAST(sum(CASE WHEN c_sec >= p_sec - 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks_1h,
        |  CAST(sum(CAST(c_value AS DECIMAL(18,2))) AS DOUBLE) AS click_value_24h
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_sec >= p.p_sec - 86400 AND c.c_sec < p.p_sec
        |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin,
    // linear multi-touch: 1/n conversion shares as exact integer
    // nano-credits (10^9 div n), so the per-click sums are order-free
    "ev_multitouch" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS sec FROM events),
        |c AS (SELECT user_id, event_id AS click_id, sec AS c_sec FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, sec AS p_sec FROM e WHERE event_type = 'purchase'),
        |pr AS (SELECT p.purchase_id, c.click_id FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_sec >= p.p_sec - 3600 AND c.c_sec < p.p_sec),
        |n AS (SELECT purchase_id, count(*) AS n_touch FROM pr GROUP BY purchase_id)
        |SELECT click_id, count(*) AS n_purchases,
        |  CAST(sum(1000000000 // n_touch) AS BIGINT) AS credit_nanos,
        |  CAST(CAST(sum(1000000000 // n_touch) AS BIGINT) AS DOUBLE) / 1000000000.0 AS credit
        |FROM pr JOIN n USING (purchase_id)
        |GROUP BY click_id ORDER BY click_id""".stripMargin,
    // global per-type empirical CDF: cume_dist's exact count(<=v)/n
    // integer ratio, replayed over the full event relation
    "ev_value_cdf" ->
      """SELECT event_id, event_type,
        | CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value,
        | cume_dist() OVER (PARTITION BY event_type
        |   ORDER BY CAST(value AS DECIMAL(18,2))) AS cd
        |FROM events ORDER BY event_id""".stripMargin,
    // integer bucket math (cents via DECIMAL(18,2)) so boundaries are
    // engine-exact; both engines floor-divide non-negative bigints
    "ev_histogram" ->
      """WITH ev AS (
        |  SELECT value, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM events),
        |b AS (SELECT min(vc) AS min_c, max(vc) AS max_c FROM ev),
        |w AS (SELECT min_c, ((max_c - min_c) // 20) + 1 AS width FROM b),
        |g AS (
        |  SELECT (vc - min_c) // width AS bucket, min_c, width,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM ev CROSS JOIN w GROUP BY 1, 2, 3)
        |SELECT bucket,
        |  CAST(min_c + bucket * width AS DOUBLE) / CAST(100 AS DOUBLE) AS lo_value,
        |  CAST(min_c + (bucket + 1) * width AS DOUBLE) / CAST(100 AS DOUBLE) AS hi_value,
        |  n_events, sum_value
        |FROM g ORDER BY bucket""".stripMargin,
    // integer z-score: |n - T/H| > 2σ  ⇔  (nH - T)² > 4(HΣn² - T²)
    "ev_hourly_anomaly" ->
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//3600*3600 AS hour_sec,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS nh, CAST(sum(n_events) AS BIGINT) AS t,
        |        CAST(sum(n_events * n_events) AS BIGINT) AS sq
        |      FROM h GROUP BY 1)
        |SELECT event_type, hour_sec, n_events,
        |  (n_events * nh - t) * (n_events * nh - t) > 4 * (nh * sq - t * t) AS is_anomaly
        |FROM h JOIN s USING (event_type)
        |ORDER BY event_type, hour_sec""".stripMargin,
    // §2.6 events
    "ev_tumbling_window" ->
      """SELECT epoch_ns(ts)//1000000000//3600*3600 AS hour_sec, event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_sec, event_type""".stripMargin,
    // streaming twins: bounded AvailableNow replays of the readStream
    // pipelines must land on the IDENTICAL batch answers
    "stream_tumbling_agg" ->
      """SELECT epoch_ns(ts)//1000000000//3600*3600 AS hour_sec, event_type,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_sec, event_type""".stripMargin,
    // append mode emits a window only once the watermark (max event
    // time in FLOORED MILLISECONDS minus the 2h delay — Spark's
    // watermark arithmetic) passes its end; the tail windows are
    // withheld. The oracle replays that eviction boundary exactly.
    "stream_tumbling_append" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000 AS us,
        |        epoch_ns(ts)//1000000000//3600*3600 AS hour_sec, event_type, value
        |      FROM events),
        |wm AS (SELECT max(us)//1000 - 7200000 AS wm_ms FROM e)
        |SELECT hour_sec, event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e, wm GROUP BY hour_sec, event_type, wm_ms
        |HAVING (hour_sec + 3600) * 1000 <= wm_ms
        |ORDER BY hour_sec, event_type""".stripMargin,
    "stream_sliding_agg" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS s, event_type, value FROM events),
        |x AS (SELECT event_type, value,
        |        unnest([(s//1800)*1800 - 1800, (s//1800)*1800]) AS win_start FROM e)
        |SELECT win_start, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // the streaming band join replayed batch-wise: same sig chain,
    // reference = even doc_ids, one row per matching band
    "stream_lsh_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sigs AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |)
        |SELECT a.doc_id, b.doc_id AS ref_id, CAST(a.band AS BIGINT) AS band
        |FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key
        |WHERE b.doc_id % 2 = 0 AND a.doc_id <> b.doc_id
        |ORDER BY a.doc_id, ref_id, band""".stripMargin,
    // same eviction boundary per OVERLAPPING window: each covering
    // window emits when the floored-ms watermark passes its own end
    "stream_sliding_append" ->
      """WITH e AS (SELECT epoch_ns(ts)//1000 AS us,
        |        epoch_ns(ts)//1000000000 AS s, event_type, value FROM events),
        |wm AS (SELECT max(us)//1000 - 7200000 AS wm_ms FROM e),
        |x AS (SELECT event_type, value,
        |        unnest([(s//1800)*1800 - 1800, (s//1800)*1800]) AS win_start FROM e)
        |SELECT win_start, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x, wm GROUP BY win_start, event_type, wm_ms
        |HAVING (win_start + 3600) * 1000 <= wm_ms
        |ORDER BY win_start, event_type""".stripMargin,
    "stream_session_agg" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_sec, value FROM events),
        | w AS (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_sec FROM e),
        | f AS (SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new FROM w),
        | s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, min(ts_sec) AS start_sec, max(ts_sec) + 1800 AS end_sec,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, start_sec""".stripMargin,
    // the dedup stream ingests every event TWICE (two unioned source
    // instances); the oracle is the clean single-copy aggregate — it
    // matches only if dropDuplicatesWithinWatermark removed exactly
    // the planted redeliveries
    // late-data drop: rows of the late-delivered 5% slice older than
    // the post-batch-1 watermark (max on-time event ms - 2h) are
    // dropped by the stateful agg; everything else aggregates
    // chaos replay: survivors = batch1 entirely; batch2 redeliveries
    // never (dedup state ∪ late filter tile the time axis); batches
    // 3/4 first deliveries iff event time (µs) is strictly past the
    // PREVIOUS batch's ms-floored watermark
    "stream_chaos_replay" ->
      """WITH e AS (SELECT event_id, event_type, value, epoch_ns(ts)//1000 AS us FROM events),
        |a AS (SELECT * FROM e WHERE event_id % 20 > 1),
        |c AS (SELECT * FROM e WHERE event_id % 20 = 1),
        |d AS (SELECT * FROM e WHERE event_id % 20 = 0),
        |wm1 AS (SELECT (max(us)//1000 - 7200000) * 1000 AS wm_us FROM a),
        |wm3 AS (SELECT (greatest((SELECT max(us) FROM a), (SELECT max(us) FROM c))//1000 - 7200000) * 1000 AS wm_us),
        |surv AS (
        |  SELECT event_type, value FROM a
        |  UNION ALL SELECT event_type, value FROM c, wm1 WHERE c.us > wm1.wm_us
        |  UNION ALL SELECT event_type, value FROM d, wm3 WHERE d.us > wm3.wm_us)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM surv GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_late_drop" ->
      """WITH e AS (SELECT event_id, event_type, value, epoch_ns(ts)//1000 AS us,
        |        epoch_ns(ts)//1000000000//3600*3600 AS hour_sec FROM events),
        |wm AS (SELECT max(us)//1000 - 7200000 AS wm_ms FROM e WHERE event_id % 20 <> 0),
        |kept AS (SELECT e.* FROM e, wm
        |         WHERE event_id % 20 <> 0 OR (hour_sec + 3600) * 1000 > wm_ms)
        |SELECT hour_sec, event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM kept GROUP BY hour_sec, event_type
        |ORDER BY hour_sec, event_type""".stripMargin,
    // append-mode sessions: the same island sessionization, emitting
    // only sessions whose end (last event + gap) the final watermark
    // passed — µs-precise end vs the ms-floored watermark, Spark's
    // exact eviction arithmetic
    "stream_session_append" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS us,
        |        epoch_ns(ts)//1000000000 AS ts_sec, value FROM events),
        | wm AS (SELECT (max(us)//1000 - 7200000) * 1000 AS wm_us FROM e),
        | w AS (SELECT *, lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS prev_sec FROM e),
        | f AS (SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_new FROM w),
        | s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, min(ts_sec) AS start_sec, max(ts_sec) + 1800 AS end_sec,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s, wm GROUP BY user_id, session_id, wm_us
        |HAVING max(us) + 1800000000 <= wm_us
        |ORDER BY user_id, start_sec""".stripMargin,
    "stream_dedup_agg" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_interval_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS sec FROM events),
        |c AS (SELECT user_id, sec AS c_sec FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, sec AS p_sec FROM ev WHERE event_type = 'purchase')
        |SELECT purchase_id, count(*) AS n_clicks_1h,
        |  min(c_sec) AS first_click_sec, max(c_sec) AS last_click_sec
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_sec >= p.p_sec - 3600 AND c.c_sec < p.p_sec
        |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin,
    // the stream-static dimension join must land on its batch form
    "stream_static_enrich" ->
      """WITH u AS (SELECT user_id, count(*) AS n_life FROM events GROUP BY user_id),
        |g AS (SELECT sum(n_life) AS total, count(*) AS n_users FROM u),
        |t AS (
        |  SELECT user_id,
        |    CASE WHEN n_life * n_users * 20 >= total * 21 THEN 'heavy'
        |         WHEN n_life * n_users >= total THEN 'mid'
        |         ELSE 'light' END AS tier
        |  FROM u, g)
        |SELECT tier, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN t USING (user_id)
        |GROUP BY tier, event_type
        |ORDER BY tier, event_type""".stripMargin,
    // the versioned foreachBatch MERGE must land on the plain batch
    // per-user profile: total count + argmax-(ns, event_id) last event
    "stream_upsert_sink" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ns FROM events),
        |c AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id),
        |r AS (SELECT user_id, ns // 1000000000 AS last_sec, event_id AS last_event_id,
        |        event_type AS last_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ns DESC, event_id DESC) AS rn
        |      FROM e)
        |SELECT c.user_id, c.n_events, r.last_sec, r.last_event_id, r.last_type
        |FROM c JOIN r ON c.user_id = r.user_id AND r.rn = 1
        |ORDER BY c.user_id""".stripMargin,
    // left-outer twin: matched rows as above; an unmatched purchase
    // appears (0 clicks, null secs) iff its state evicted — p_ms <=
    // final watermark (min side-max ms - 2h), NON-strict boundary
    // pinned by StreamingSpec's planted W-1/W/W+1 purchases
    "stream_outer_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS sec FROM events),
        |c AS (SELECT user_id, sec AS c_sec FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, sec AS p_sec FROM ev WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(c_sec) FROM c), (SELECT max(p_sec) FROM p)) * 1000
        |         - 7200000 AS wm_ms),
        |j AS (SELECT p.purchase_id, p.p_sec, c.c_sec
        |      FROM p LEFT JOIN c ON p.user_id = c.user_id
        |        AND c.c_sec >= p.p_sec - 3600 AND c.c_sec < p.p_sec)
        |SELECT purchase_id, count(c_sec) AS n_clicks_1h,
        |  min(c_sec) AS first_click_sec, max(c_sec) AS last_click_sec
        |FROM j, wm
        |GROUP BY purchase_id, p_sec, wm_ms
        |HAVING count(c_sec) > 0 OR p_sec * 1000 <= wm_ms
        |ORDER BY purchase_id""".stripMargin,
    "ev_user_stats" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        | count(DISTINCT event_type) AS n_event_types,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        | min(epoch_ns(ts)//1000000000) AS first_sec,
        | max(epoch_ns(ts)//1000000000) AS last_sec
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // §2.7 dedup — the oracles replay the identical md5-derived
    // integer hashing, so even the LSH candidate sets match exactly.
    "dedup_exact" ->
      """SELECT doc_id, digest, group_size, canonical_id, doc_id = canonical_id AS is_canonical FROM (
        |  SELECT doc_id, digest,
        |    count(*) OVER (PARTITION BY digest) AS group_size,
        |    min(doc_id) OVER (PARTITION BY digest) AS canonical_id
        |  FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest FROM documents))
        |ORDER BY doc_id""".stripMargin,
    // four planted raw-URL variants per logical page; canonicalization
    // (fragment, utm_*, :443, host case, trailing slash, param order)
    // must collapse them — see Dedup.urlCanonical
    "dedup_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'https://' || lang || '.example.com/doc/' || (doc_id // 4) || '?a=1&b=2'
        |      WHEN 1 THEN 'HTTPS://' || upper(lang) || '.EXAMPLE.COM:443/doc/' || (doc_id // 4) || '/?b=2&a=1'
        |      WHEN 2 THEN 'https://' || lang || '.example.com/doc/' || (doc_id // 4) || '?utm_source=feed&b=2&a=1#frag'
        |      ELSE 'https://' || lang || '.example.com/doc/' || (doc_id // 4) || '?a=1&utm_campaign=x&b=2'
        |    END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    split_part(regexp_replace(url, '#.*$', ''), '?', 1) AS pre,
        |    split_part(regexp_replace(url, '#.*$', ''), '?', 2) AS q
        |  FROM u),
        |k AS (
        |  SELECT doc_id,
        |    regexp_replace(replace(lower(pre), ':443/', '/'), '/$', '')
        |      || CASE WHEN array_to_string(list_sort(list_filter(string_split(q, '&'),
        |             p -> NOT starts_with(p, 'utm_'))), '&') <> ''
        |         THEN '?' || array_to_string(list_sort(list_filter(string_split(q, '&'),
        |             p -> NOT starts_with(p, 'utm_'))), '&')
        |         ELSE '' END AS canonical_url
        |  FROM c)
        |SELECT canonical_url, count(*) AS n_docs, min(doc_id) AS min_doc_id,
        |  count(*) > 1 AS has_variants
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // previous release = doc_id % 4 != 3; the incoming batch carries
    // re-crawled old docs (new ids, same text) the anti-join must drop
    "dedup_incremental" ->
      """WITH inc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 8 = 0),
        |incd AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest FROM inc),
        |prev AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
        |  FROM documents WHERE doc_id % 4 <> 3)
        |SELECT doc_id, digest FROM incd
        |WHERE digest NOT IN (SELECT digest FROM prev)
        |ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT) % 2147483647) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sigs AS (
        |  SELECT doc_id, sh,
        |    list_transform(generate_series(0,127), i ->
        |      list_min(list_transform(hs, h ->
        |        (((2*i+1) * 2654435761) % 2147483647 * h + ((i+1) * 2246822519) % 2147483647) % 2147483647))) AS sig
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,15)) AS band,
        |    unnest(list_transform(generate_series(0,15), b ->
        |      md5(array_to_string(list_transform(sig[b*8+1:b*8+8], x -> CAST(x AS VARCHAR)), ',')))) AS key
        |  FROM sigs
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM expl a JOIN expl b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        |), post AS (
        |  SELECT DISTINCT doc_id, unnest(hs) AS h FROM shd
        |), nsh AS (
        |  SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT cand.doc_a, cand.doc_b,
        |  CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter) AS jaccard,
        |  CAST(pc.inter AS DOUBLE) / (na.n_sh + nb.n_sh - pc.inter) >= 0.8 AS is_dup
        |FROM cand JOIN pc ON pc.doc_a = cand.doc_a AND pc.doc_b = cand.doc_b
        |JOIN nsh na ON na.doc_id = cand.doc_a
        |JOIN nsh nb ON nb.doc_id = cand.doc_b
        |ORDER BY cand.doc_a, cand.doc_b""".stripMargin,
    "dedup_simhash" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), sims AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,59), j ->
        |    CASE WHEN coalesce(list_sum(list_transform(hs, h ->
        |        CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)), 0) >= 0
        |    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sim
        |  FROM shd
        |), expl AS (
        |  SELECT doc_id, sim,
        |    unnest(generate_series(0,3)) AS blk,
        |    unnest(list_transform(generate_series(0,3), b -> (sim >> (b*15)) & 32767)) AS key
        |  FROM sims
        |)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
        |FROM expl a JOIN expl b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        |FROM pc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // per-node triangle participation in the jaccard >= 0.8 graph;
    // a < b < c counts each triangle once, as does the oriented join
    "graph_triangles" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), deg AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        |), tc AS (
        |  SELECT node, count(*) AS n_tri
        |  FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        |  GROUP BY node
        |)
        |SELECT d.node AS doc_id, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri
        |FROM deg d LEFT JOIN tc ON d.node = tc.node
        |ORDER BY doc_id""".stripMargin,
    // local clustering coefficient in integer micro; // is floor
    // division on non-negatives = Spark's div, so parity is exact
    "graph_cluster_coeff" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), deg AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        |), tc AS (
        |  SELECT node, count(*) AS n_tri
        |  FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        |  GROUP BY node
        |)
        |SELECT d.node AS doc_id, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(CASE WHEN d.deg >= 2
        |    THEN (2000000 * coalesce(tc.n_tri, 0)) // (d.deg * (d.deg - 1))
        |    ELSE 0 END AS BIGINT) AS coeff_micro
        |FROM deg d LEFT JOIN tc ON d.node = tc.node
        |ORDER BY doc_id""".stripMargin,
    // 2 unrolled synchronous LPA rounds; argmax(count desc, label
    // asc) replayed as max-count join + min(label) — deterministic
    // in both engines
    // Newman r from exact BIGINT power sums over the directed edges
    "graph_assortativity" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), de AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
        |), deg AS (
        |  SELECT u, count(*) AS deg FROM de GROUP BY 1
        |), sums AS (
        |  SELECT count(*) AS m,
        |    CAST(sum(x.deg) AS BIGINT) AS sx, CAST(sum(y.deg) AS BIGINT) AS sy,
        |    CAST(sum(x.deg * y.deg) AS BIGINT) AS sxy,
        |    CAST(sum(x.deg * x.deg) AS BIGINT) AS sxx,
        |    CAST(sum(y.deg * y.deg) AS BIGINT) AS syy
        |  FROM de JOIN deg x ON de.u = x.u JOIN deg y ON de.v = y.u
        |)
        |SELECT m, sx, sy, sxy, sxx, syy,
        |  CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0 THEN
        |    CAST(m * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
        |  END AS assortativity
        |FROM sums""".stripMargin,
    // LPA chain + exact HUGEINT modularity numerators over 4m²
    "graph_modularity" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), de AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
        |), c1 AS (
        |  SELECT de.u, de.v AS label, count(*) AS c FROM de GROUP BY 1, 2
        |), m1 AS (
        |  SELECT u, max(c) AS mc FROM c1 GROUP BY u
        |), l1 AS MATERIALIZED (
        |  SELECT c1.u AS node, min(c1.label) AS label
        |  FROM c1 JOIN m1 ON c1.u = m1.u AND c1.c = m1.mc GROUP BY 1
        |), c2 AS (
        |  SELECT de.u, l1.label, count(*) AS c
        |  FROM de JOIN l1 ON de.v = l1.node GROUP BY 1, 2
        |), m2 AS (
        |  SELECT u, max(c) AS mc FROM c2 GROUP BY u
        |), l2 AS MATERIALIZED (
        |  SELECT c2.u AS node, min(c2.label) AS label
        |  FROM c2 JOIN m2 ON c2.u = m2.u AND c2.c = m2.mc GROUP BY 1
        |), deg AS (
        |  SELECT u AS node, count(*) AS deg FROM de GROUP BY 1
        |), mm AS (SELECT count(*) AS m FROM e
        |), intra AS (
        |  SELECT la.label, count(*) AS e_in
        |  FROM e JOIN l2 la ON e.a = la.node JOIN l2 lb ON e.b = lb.node
        |  WHERE la.label = lb.label GROUP BY 1
        |), dsum AS (
        |  SELECT l2.label, count(*) AS n_members, CAST(sum(deg) AS BIGINT) AS d_c
        |  FROM l2 JOIN deg ON l2.node = deg.node GROUP BY 1
        |)
        |SELECT d.label, d.n_members, CAST(coalesce(e_in, 0) AS BIGINT) AS e_in, d_c,
        |  CAST(4 * CAST(m AS HUGEINT) * coalesce(e_in, 0) - CAST(d_c AS HUGEINT) * d_c AS VARCHAR) AS q_num_str,
        |  CAST(4 * CAST(m AS HUGEINT) * coalesce(e_in, 0) - CAST(d_c AS HUGEINT) * d_c AS DOUBLE)
        |    / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) AS q_contrib
        |FROM dsum d LEFT JOIN intra ON d.label = intra.label CROSS JOIN mm
        |ORDER BY d.label""".stripMargin,
    "graph_label_prop" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), de AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
        |), c1 AS (
        |  SELECT de.u, de.v AS label, count(*) AS c FROM de GROUP BY 1, 2
        |), m1 AS (
        |  SELECT u, max(c) AS mc FROM c1 GROUP BY u
        |), l1 AS MATERIALIZED (
        |  SELECT c1.u AS node, min(c1.label) AS label
        |  FROM c1 JOIN m1 ON c1.u = m1.u AND c1.c = m1.mc GROUP BY 1
        |), c2 AS (
        |  SELECT de.u, l1.label, count(*) AS c
        |  FROM de JOIN l1 ON de.v = l1.node GROUP BY 1, 2
        |), m2 AS (
        |  SELECT u, max(c) AS mc FROM c2 GROUP BY u
        |), l2 AS MATERIALIZED (
        |  SELECT c2.u AS node, min(c2.label) AS label
        |  FROM c2 JOIN m2 ON c2.u = m2.u AND c2.c = m2.mc GROUP BY 1
        |), sz AS (
        |  SELECT label, count(*) AS n_members FROM l2 GROUP BY label
        |)
        |SELECT l2.node AS doc_id, l2.label,
        |  CAST(sz.n_members AS BIGINT) AS n_members
        |FROM l2 JOIN sz USING (label)
        |ORDER BY doc_id""".stripMargin,
    // edge-level common-neighbor count + integer neighborhood
    // jaccard (micro, floor division — engine-independent); the tri
    // CTE enumerates each triangle once as x < y < z, so its three
    // edges are already a < b normalized
    "graph_edge_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), deg AS MATERIALIZED (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node
        |), tri AS MATERIALIZED (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        |), et AS (
        |  SELECT ea, eb, count(*) AS common FROM (
        |    SELECT x AS ea, y AS eb FROM tri
        |    UNION ALL SELECT x AS ea, z AS eb FROM tri
        |    UNION ALL SELECT y AS ea, z AS eb FROM tri)
        |  GROUP BY ea, eb
        |)
        |SELECT e.a AS doc_a, e.b AS doc_b,
        |  CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
        |  CAST(coalesce(et.common, 0) AS BIGINT) AS common,
        |  CAST((1000000 * coalesce(et.common, 0)) // (da.deg + db.deg - coalesce(et.common, 0)) AS BIGINT) AS jacc_micro
        |FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
        |LEFT JOIN et ON e.a = et.ea AND e.b = et.eb
        |ORDER BY doc_a, doc_b""".stripMargin,
    // integer PageRank in millionths, 3 unrolled rounds; // is floor
    // division on positives = Spark's div, so parity is exact
    "graph_pagerank" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), dire AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
        |), deg AS (
        |  SELECT u, count(*) AS deg FROM dire GROUP BY u
        |), nn AS (
        |  SELECT count(*) AS n FROM deg
        |), p0 AS MATERIALIZED (
        |  SELECT u AS node, deg, 1000000 // n AS pr FROM deg, nn
        |), s1 AS (
        |  SELECT d.v AS node, sum(p.pr // p.deg) AS s
        |  FROM dire d JOIN p0 p ON d.u = p.node GROUP BY d.v
        |), p1 AS MATERIALIZED (
        |  SELECT p0.node, p0.deg, (150000 // nn.n) + ((85 * s1.s) // 100) AS pr
        |  FROM p0 JOIN s1 USING (node), nn
        |), s2 AS (
        |  SELECT d.v AS node, sum(p.pr // p.deg) AS s
        |  FROM dire d JOIN p1 p ON d.u = p.node GROUP BY d.v
        |), p2 AS MATERIALIZED (
        |  SELECT p1.node, p1.deg, (150000 // nn.n) + ((85 * s2.s) // 100) AS pr
        |  FROM p1 JOIN s2 USING (node), nn
        |), s3 AS (
        |  SELECT d.v AS node, sum(p.pr // p.deg) AS s
        |  FROM dire d JOIN p2 p ON d.u = p.node GROUP BY d.v
        |), p3 AS (
        |  SELECT p2.node, p2.deg, (150000 // nn.n) + ((85 * s3.s) // 100) AS pr
        |  FROM p2 JOIN s3 USING (node), nn
        |)
        |SELECT node AS doc_id, CAST(deg AS BIGINT) AS deg,
        |  CAST(pr AS BIGINT) AS pr_micro
        |FROM p3 ORDER BY doc_id""".stripMargin,
    // 2-core onion peeling, 4 unrolled rounds; absent-from-edges
    // reads as degree 0 (isolated survivors peel next round)
    // canonical-distance BFS: the same reach-CTE component closure,
    // then a 4-hop-capped recursive min-distance expansion from the
    // component minima (cap is part of the contract; -1 = beyond)
    "graph_bfs_distance" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM pc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs
        |), reach(node, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
        |), comp AS (
        |  SELECT node AS doc_id, min(lab) AS component_id FROM reach GROUP BY node
        |), seeds AS (
        |  SELECT DISTINCT component_id AS node FROM comp
        |), bfs(node, dist) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.node WHERE b.dist < 4
        |), bd AS (
        |  SELECT node, min(dist) AS dist FROM bfs GROUP BY node
        |)
        |SELECT c.doc_id, c.component_id, CAST(coalesce(bd.dist, -1) AS BIGINT) AS dist
        |FROM comp c LEFT JOIN bd ON c.doc_id = bd.node
        |ORDER BY c.doc_id""".stripMargin,
    "graph_kcore" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS MATERIALIZED (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), e AS MATERIALIZED (
        |  SELECT doc_a AS a, doc_b AS b FROM pc
        |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), dire0 AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
        |), n0 AS (
        |  SELECT a AS node FROM e UNION SELECT b AS node FROM e
        |), d1 AS (
        |  SELECT n.node, coalesce(c.d, 0) AS deg FROM n0 n LEFT JOIN
        |    (SELECT u, count(*) AS d FROM dire0 GROUP BY u) c ON n.node = c.u
        |), p1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg < 2
        |), n1 AS MATERIALIZED (SELECT node FROM n0 WHERE node NOT IN (SELECT node FROM p1)
        |), dire1 AS MATERIALIZED (
        |  SELECT u, v FROM dire0 WHERE u NOT IN (SELECT node FROM p1)
        |    AND v NOT IN (SELECT node FROM p1)
        |), d2 AS (
        |  SELECT n.node, coalesce(c.d, 0) AS deg FROM n1 n LEFT JOIN
        |    (SELECT u, count(*) AS d FROM dire1 GROUP BY u) c ON n.node = c.u
        |), p2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg < 2
        |), n2 AS MATERIALIZED (SELECT node FROM n1 WHERE node NOT IN (SELECT node FROM p2)
        |), dire2 AS MATERIALIZED (
        |  SELECT u, v FROM dire1 WHERE u NOT IN (SELECT node FROM p2)
        |    AND v NOT IN (SELECT node FROM p2)
        |), d3 AS (
        |  SELECT n.node, coalesce(c.d, 0) AS deg FROM n2 n LEFT JOIN
        |    (SELECT u, count(*) AS d FROM dire2 GROUP BY u) c ON n.node = c.u
        |), p3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg < 2
        |), n3 AS MATERIALIZED (SELECT node FROM n2 WHERE node NOT IN (SELECT node FROM p3)
        |), dire3 AS MATERIALIZED (
        |  SELECT u, v FROM dire2 WHERE u NOT IN (SELECT node FROM p3)
        |    AND v NOT IN (SELECT node FROM p3)
        |), d4 AS (
        |  SELECT n.node, coalesce(c.d, 0) AS deg FROM n3 n LEFT JOIN
        |    (SELECT u, count(*) AS d FROM dire3 GROUP BY u) c ON n.node = c.u
        |), p4 AS MATERIALIZED (SELECT node FROM d4 WHERE deg < 2
        |), n4 AS MATERIALIZED (SELECT node FROM n3 WHERE node NOT IN (SELECT node FROM p4)
        |), dire4 AS MATERIALIZED (
        |  SELECT u, v FROM dire3 WHERE u NOT IN (SELECT node FROM p4)
        |    AND v NOT IN (SELECT node FROM p4)
        |), d5 AS (
        |  SELECT n.node, coalesce(c.d, 0) AS deg FROM n4 n LEFT JOIN
        |    (SELECT u, count(*) AS d FROM dire4 GROUP BY u) c ON n.node = c.u
        |)
        |SELECT node AS doc_id, CAST(layer AS BIGINT) AS layer,
        |  CAST(core_deg AS BIGINT) AS core_deg
        |FROM (
        |  SELECT node, 1 AS layer, 0 AS core_deg FROM p1
        |  UNION ALL SELECT node, 2, 0 FROM p2
        |  UNION ALL SELECT node, 3, 0 FROM p3
        |  UNION ALL SELECT node, 4, 0 FROM p4
        |  UNION ALL SELECT node, 0, deg FROM d5)
        |ORDER BY doc_id""".stripMargin,
    "dedup_containment" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT doc_a, doc_b, na, nb, CAST(inter AS DOUBLE) / least(na, nb) AS containment
        |FROM pc WHERE CAST(inter AS DOUBLE) / least(na, nb) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_novelty" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), first_seen AS (
        |  SELECT shingle_h, min(doc_id) AS first_doc FROM post GROUP BY 1
        |)
        |SELECT p.doc_id, max(p.n_sh) AS n_sh,
        |  CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
        |  CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / max(p.n_sh) AS novelty
        |FROM post p JOIN first_seen f ON p.shingle_h = f.shingle_h
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // positional (non-distinct) trigrams; 1-based pos — span lengths
    // and coverage counts are shift-invariant vs Spark's 0-based
    // same-head different-length families; longest member = keeper
    "dedup_truncation" ->
      """WITH h AS (
        |  SELECT doc_id, md5(substring(norm, 1, 256)) AS prefix_md5,
        |    CAST(length(norm) AS BIGINT) AS n_chars_norm
        |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |        FROM documents) t
        |  WHERE length(norm) >= 256),
        |f AS (
        |  SELECT prefix_md5, count(*) AS n_docs,
        |    min(n_chars_norm) AS min_len, max(n_chars_norm) AS max_len
        |  FROM h GROUP BY 1 HAVING count(*) > 1 AND max(n_chars_norm) > min(n_chars_norm))
        |SELECT doc_id, h.prefix_md5, n_docs, n_chars_norm,
        |  CAST(max_len AS BIGINT) AS max_len,
        |  n_chars_norm = max_len AS is_longest
        |FROM h JOIN f ON h.prefix_md5 = f.prefix_md5
        |ORDER BY doc_id""".stripMargin,
    // window-min fingerprint selection (1-based pos here, 0-based in
    // the engine — only relative positions matter)
    "dedup_winnowing" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), wl AS (
        |  SELECT doc_id, words FROM docs WHERE len(words) >= 3
        |), sh AS (
        |  SELECT doc_id, unnest(generate_series(1, len(words) - 2)) AS pos, words FROM wl
        |), shh AS (
        |  SELECT doc_id, pos,
        |    CAST(('0x'||substring(md5(words[pos] || ' ' || words[pos+1] || ' ' || words[pos+2]),1,15)) AS BIGINT) AS h
        |  FROM sh
        |), fp0 AS (
        |  SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM shh
        |), fps AS (
        |  SELECT DISTINCT doc_id, fp FROM fp0 WHERE pos >= 4
        |), dfq AS (
        |  SELECT fp, count(*) AS n_docs FROM fps GROUP BY 1
        |)
        |SELECT f.doc_id, count(*) AS n_fps,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fps,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS shared_ppm
        |FROM fps f JOIN dfq USING (fp)
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
    "dedup_repeated_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), wl AS (
        |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words, words FROM docs WHERE len(words) >= 3
        |), sh AS (
        |  SELECT doc_id, unnest(generate_series(1, len(words) - 2)) AS pos, words FROM wl
        |), shh AS (
        |  SELECT doc_id, pos,
        |    CAST(('0x'||substring(md5(words[pos] || ' ' || words[pos+1] || ' ' || words[pos+2]),1,15)) AS BIGINT) AS h
        |  FROM sh
        |), occ AS (
        |  SELECT h FROM shh GROUP BY h HAVING count(*) > 1
        |), flagged AS (
        |  SELECT s.doc_id, s.pos FROM shh s JOIN occ o ON s.h = o.h
        |), isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM flagged
        |), spans AS (
        |  SELECT doc_id, g, min(pos) AS fst, max(pos) AS lst FROM isl GROUP BY 1, 2
        |), span_stats AS (
        |  SELECT doc_id, count(*) AS n_spans, CAST(max(lst - fst + 3) AS BIGINT) AS max_span_words
        |  FROM spans GROUP BY 1
        |), cov AS (
        |  SELECT doc_id, count(DISTINCT pos + d) AS covered_words
        |  FROM flagged, unnest([0, 1, 2]) AS t(d) GROUP BY 1
        |)
        |SELECT w.doc_id, w.n_words,
        |  COALESCE(s.n_spans, 0) AS n_spans,
        |  COALESCE(s.max_span_words, 0) AS max_span_words,
        |  COALESCE(c.covered_words, 0) AS covered_words,
        |  CAST(COALESCE(c.covered_words, 0) AS DOUBLE) / w.n_words AS covered_frac
        |FROM wl w
        |LEFT JOIN span_stats s USING (doc_id) LEFT JOIN cov c USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    // transitive closure via recursive reachability; component id =
    // min reachable doc id, identical to min-label propagation fixpoint
    "dedup_components" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM pc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs
        |), reach(node, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
        |), comp AS (
        |  SELECT node AS doc_id, min(lab) AS component_id FROM reach GROUP BY node
        |)
        |SELECT doc_id, component_id,
        |  count(*) OVER (PARTITION BY component_id) AS component_size
        |FROM comp ORDER BY doc_id""".stripMargin,
    // components closure + quality score; keeper = best quality per
    // component (ties by doc_id), docs outside any cluster are
    // singleton components
    "dedup_keep_best" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), sh0 AS (
        |  SELECT doc_id, CASE WHEN len(words) >= 3 THEN
        |    list_distinct(list_transform(generate_series(1, len(words)-2),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE [] END AS sh FROM docs
        |), shd AS (
        |  SELECT doc_id, len(sh) AS n_sh,
        |    list_transform(sh, s -> CAST(('0x'||substring(md5(s),1,15)) AS BIGINT)) AS hs
        |  FROM sh0 WHERE len(sh) > 0
        |), post AS (
        |  SELECT doc_id, n_sh, unnest(hs) AS shingle_h FROM shd
        |), pc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM post a JOIN post b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |), pairs AS (
        |  SELECT doc_a, doc_b FROM pc WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs
        |), reach(node, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
        |), comp AS (
        |  SELECT node AS doc_id, min(lab) AS component_id FROM reach GROUP BY node
        |), t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(norm) AS BIGINT) AS n_char,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split(norm, ' '), w -> list_contains(['the','and','is','of','to','in','that','it'], w))) AS BIGINT) AS n_stop
        |  FROM t),
        |q AS (
        |  SELECT doc_id,
        |    0.4*(CAST(n_stop AS DOUBLE)/n_words) + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/n_char)
        |     + 0.2*least(1.0, CAST(n_words AS DOUBLE)/100.0) + 0.1*(1.0 - CAST(n_digit AS DOUBLE)/n_char) AS quality_score
        |  FROM c),
        |f AS (
        |  SELECT d.doc_id, coalesce(comp.component_id, d.doc_id) AS component_id, q.quality_score
        |  FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id JOIN q ON q.doc_id = d.doc_id)
        |SELECT doc_id, component_id,
        |  count(*) OVER (PARTITION BY component_id) AS component_size,
        |  quality_score,
        |  (row_number() OVER (PARTITION BY component_id ORDER BY quality_score DESC, doc_id) = 1) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // multi-probe variant: probe keys also include the 8 one-bit
    // slice flips per band (hashed AFTER the flip), build side exact
    "dedup_embedding_multiprobe" ->
      """WITH planes AS (
        |  SELECT p, list_transform(generate_series(0,63), d ->
        |    (CAST(('0x'||substring(md5('hp'||p||'_'||d),1,15)) AS BIGINT) % 2001 - 1000)/1000.0) AS w
        |  FROM (SELECT unnest(generate_series(0,127)) AS p)
        |), vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
        |), bits AS (
        |  SELECT v.vec_id, pl.p // 8 AS band,
        |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*w[i])), (a,b) -> a+b) >= 0
        |      THEN (1 << (pl.p % 8)) ELSE 0 END AS bit
        |  FROM vecs v CROSS JOIN planes pl
        |), slices AS (
        |  SELECT vec_id, band, CAST(sum(bit) AS INTEGER) AS slice FROM bits GROUP BY vec_id, band
        |), expl AS (
        |  SELECT s.vec_id, v.vd,
        |    CAST(('0x'||substring(md5(s.band||':'||s.slice),1,15)) AS BIGINT) AS key
        |  FROM slices s JOIN vecs v USING (vec_id)
        |), probe AS (
        |  SELECT t.vec_id, v.vd,
        |    CAST(('0x'||substring(md5(t.band||':'||t.pslice),1,15)) AS BIGINT) AS key
        |  FROM (SELECT vec_id, band, unnest(list_transform([0,1,2,4,8,16,32,64,128], f -> xor(slice, f))) AS pslice
        |        FROM slices) t
        |  JOIN vecs v USING (vec_id)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.vd AS va, b.vd AS vb
        |  FROM probe a JOIN expl b ON a.key = b.key AND a.vec_id < b.vec_id
        |)
        |SELECT vec_a, vec_b,
        |  list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*vb[i])), (a,b) -> a+b)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*va[i])), (a,b) -> a+b))
        |      * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vb[i]*vb[i])), (a,b) -> a+b))) AS cosine
        |FROM cand
        |WHERE list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*vb[i])), (a,b) -> a+b)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*va[i])), (a,b) -> a+b))
        |      * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vb[i]*vb[i])), (a,b) -> a+b))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    // banding-migration audit: legacy 4-band raw keys vs the shipped
    // 16x8 hashed banding (exact + multi-probe), each graded against
    // the EXACT all-pairs cosine >= 0.4 enumeration
    "dedup_embedding_tuning" ->
      """WITH planes AS MATERIALIZED (
        |  SELECT p, list_transform(generate_series(0,63), d ->
        |    (CAST(('0x'||substring(md5('hp'||p||'_'||d),1,15)) AS BIGINT) % 2001 - 1000)/1000.0) AS w
        |  FROM (SELECT unnest(generate_series(0,127)) AS p)
        |), vecs AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b)) AS nrm
        |  FROM vecs
        |), paircos AS MATERIALIZED (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> a.vd[i]*b.vd[i])), (x,y) -> x+y)
        |      / (na.nrm * nb.nrm) AS cosine
        |  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
        |  JOIN norms na ON na.vec_id = a.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |), totals AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_allpairs,
        |    CAST(sum(CASE WHEN cosine >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_truth
        |  FROM paircos
        |), truth AS MATERIALIZED (
        |  SELECT vec_a, vec_b FROM paircos WHERE cosine >= 0.4
        |), lbits AS (
        |  SELECT v.vec_id, CAST(sum(CASE WHEN
        |      list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*w[i])), (a,b) -> a+b) >= 0
        |    THEN (1 << pl.p) ELSE 0 END) AS INTEGER) AS sig
        |  FROM vecs v CROSS JOIN (SELECT p, w FROM planes WHERE p < 16) pl GROUP BY v.vec_id
        |), lkeys AS (
        |  SELECT vec_id, unnest(list_transform(generate_series(0,3), b -> b*16 + ((sig >> (CAST(b AS INTEGER)*4)) & 15))) AS key
        |  FROM lbits
        |), lcand AS MATERIALIZED (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM lkeys a JOIN lkeys b ON a.key = b.key AND a.vec_id < b.vec_id
        |), bits AS (
        |  SELECT v.vec_id, pl.p // 8 AS band,
        |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*w[i])), (a,b) -> a+b) >= 0
        |      THEN (1 << (pl.p % 8)) ELSE 0 END AS bit
        |  FROM vecs v CROSS JOIN planes pl
        |), slices AS MATERIALIZED (
        |  SELECT vec_id, band, CAST(sum(bit) AS INTEGER) AS slice FROM bits GROUP BY vec_id, band
        |), wkeys AS (
        |  SELECT vec_id, CAST(('0x'||substring(md5(band||':'||slice),1,15)) AS BIGINT) AS key FROM slices
        |), pkeys AS (
        |  SELECT vec_id, CAST(('0x'||substring(md5(band||':'||pslice),1,15)) AS BIGINT) AS key
        |  FROM (SELECT vec_id, band, unnest(list_transform([0,1,2,4,8,16,32,64,128], f -> xor(slice, f))) AS pslice
        |        FROM slices)
        |), wcand AS MATERIALIZED (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM wkeys a JOIN wkeys b ON a.key = b.key AND a.vec_id < b.vec_id
        |), pcand AS MATERIALIZED (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM pkeys a JOIN wkeys b ON a.key = b.key AND a.vec_id < b.vec_id
        |), stats AS (
        |  SELECT 'legacy_4x4_raw' AS config,
        |    CAST((SELECT count(*) FROM lcand) AS BIGINT) AS n_candidates,
        |    CAST((SELECT count(*) FROM lcand JOIN truth USING (vec_a, vec_b)) AS BIGINT) AS n_verified
        |  UNION ALL SELECT 'wide_16x8_hashed',
        |    CAST((SELECT count(*) FROM wcand) AS BIGINT),
        |    CAST((SELECT count(*) FROM wcand JOIN truth USING (vec_a, vec_b)) AS BIGINT)
        |  UNION ALL SELECT 'wide_16x8_probed',
        |    CAST((SELECT count(*) FROM pcand) AS BIGINT),
        |    CAST((SELECT count(*) FROM pcand JOIN truth USING (vec_a, vec_b)) AS BIGINT)
        |)
        |SELECT config, n_candidates, n_verified, n_truth,
        |  CAST(1000000 * n_verified // greatest(n_truth, 1) AS BIGINT) AS recall_ppm,
        |  CAST(1000000 * n_candidates // greatest(n_allpairs, 1) AS BIGINT) AS cand_share_ppm
        |FROM stats CROSS JOIN totals ORDER BY config""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH planes AS (
        |  SELECT p, list_transform(generate_series(0,63), d ->
        |    (CAST(('0x'||substring(md5('hp'||p||'_'||d),1,15)) AS BIGINT) % 2001 - 1000)/1000.0) AS w
        |  FROM (SELECT unnest(generate_series(0,127)) AS p)
        |), vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
        |), bits AS (
        |  SELECT v.vec_id, pl.p // 8 AS band,
        |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*w[i])), (a,b) -> a+b) >= 0
        |      THEN (1 << (pl.p % 8)) ELSE 0 END AS bit
        |  FROM vecs v CROSS JOIN planes pl
        |), slices AS (
        |  SELECT vec_id, band, CAST(sum(bit) AS INTEGER) AS slice FROM bits GROUP BY vec_id, band
        |), expl AS (
        |  SELECT s.vec_id, v.vd,
        |    CAST(('0x'||substring(md5(s.band||':'||s.slice),1,15)) AS BIGINT) AS key
        |  FROM slices s JOIN vecs v USING (vec_id)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.vd AS va, b.vd AS vb
        |  FROM expl a JOIN expl b ON a.key = b.key AND a.vec_id < b.vec_id
        |)
        |SELECT vec_a, vec_b,
        |  list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*vb[i])), (a,b) -> a+b)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*va[i])), (a,b) -> a+b))
        |      * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vb[i]*vb[i])), (a,b) -> a+b))) AS cosine
        |FROM cand
        |WHERE list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*vb[i])), (a,b) -> a+b)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*va[i])), (a,b) -> a+b))
        |      * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vb[i]*vb[i])), (a,b) -> a+b))) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    // same LSH pair generation + cosine verify as
    // dedup_embedding_cosine, endpoints joined against the
    // digest-keyed leakage split (vec ids ARE doc ids)
    "pipeline_semantic_contamination" ->
      """WITH planes AS (
        |  SELECT p, list_transform(generate_series(0,63), d ->
        |    (CAST(('0x'||substring(md5('hp'||p||'_'||d),1,15)) AS BIGINT) % 2001 - 1000)/1000.0) AS w
        |  FROM (SELECT unnest(generate_series(0,127)) AS p)
        |), vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
        |), bits AS (
        |  SELECT v.vec_id, pl.p // 8 AS band,
        |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*w[i])), (a,b) -> a+b) >= 0
        |      THEN (1 << (pl.p % 8)) ELSE 0 END AS bit
        |  FROM vecs v CROSS JOIN planes pl
        |), slices AS (
        |  SELECT vec_id, band, CAST(sum(bit) AS INTEGER) AS slice FROM bits GROUP BY vec_id, band
        |), expl AS (
        |  SELECT s.vec_id, v.vd,
        |    CAST(('0x'||substring(md5(s.band||':'||s.slice),1,15)) AS BIGINT) AS key
        |  FROM slices s JOIN vecs v USING (vec_id)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.vd AS va, b.vd AS vb
        |  FROM expl a JOIN expl b ON a.key = b.key AND a.vec_id < b.vec_id
        |), pairs AS MATERIALIZED (
        |  SELECT vec_a, vec_b,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*vb[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*va[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vb[i]*vb[i])), (a,b) -> a+b))) AS cosine
        |  FROM cand
        |  WHERE list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*vb[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*va[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vb[i]*vb[i])), (a,b) -> a+b))) >= 0.4
        |), sym AS (
        |  SELECT vec_a AS doc_id, vec_b AS nbr, cosine FROM pairs
        |  UNION ALL SELECT vec_b, vec_a, cosine FROM pairs
        |), sp AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN CAST(('0x'||substring(md5(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),1,15)) AS BIGINT) % 100 < 90
        |         THEN 'train' ELSE 'eval' END AS split
        |  FROM documents
        |)
        |SELECT s.doc_id, count(*) AS n_train_neighbors,
        |  max(CAST(floor(cosine * 1000000.0) AS BIGINT)) AS max_cosine_micro
        |FROM sym s
        |JOIN sp e ON e.doc_id = s.doc_id AND e.split = 'eval'
        |JOIN sp t ON t.doc_id = s.nbr AND t.split = 'train'
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // same LSH pair generation as dedup_embedding_cosine, closed
    // transitively by recursive reachability (= the min-label fixpoint)
    "dedup_semantic_clusters" ->
      """WITH RECURSIVE planes AS (
        |  SELECT p, list_transform(generate_series(0,63), d ->
        |    (CAST(('0x'||substring(md5('hp'||p||'_'||d),1,15)) AS BIGINT) % 2001 - 1000)/1000.0) AS w
        |  FROM (SELECT unnest(generate_series(0,127)) AS p)
        |), vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
        |), bits AS (
        |  SELECT v.vec_id, pl.p // 8 AS band,
        |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*w[i])), (a,b) -> a+b) >= 0
        |      THEN (1 << (pl.p % 8)) ELSE 0 END AS bit
        |  FROM vecs v CROSS JOIN planes pl
        |), slices AS (
        |  SELECT vec_id, band, CAST(sum(bit) AS INTEGER) AS slice FROM bits GROUP BY vec_id, band
        |), expl AS (
        |  SELECT s.vec_id, v.vd,
        |    CAST(('0x'||substring(md5(s.band||':'||s.slice),1,15)) AS BIGINT) AS key
        |  FROM slices s JOIN vecs v USING (vec_id)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.vd AS va, b.vd AS vb
        |  FROM expl a JOIN expl b ON a.key = b.key AND a.vec_id < b.vec_id
        |), pairs AS (
        |  SELECT vec_a, vec_b FROM cand
        |  WHERE list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*vb[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> va[i]*va[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vb[i]*vb[i])), (a,b) -> a+b))) >= 0.4
        |), edges AS (
        |  SELECT vec_a AS src, vec_b AS dst FROM pairs
        |  UNION ALL SELECT vec_b, vec_a FROM pairs
        |), reach(node, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
        |), comp AS (
        |  SELECT node AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY node
        |)
        |SELECT vec_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |  vec_id = cluster_id AS is_representative
        |FROM comp ORDER BY vec_id""".stripMargin,

    // §2.8 similarity search. ann_ivf_topk is exactly replayable:
    // centroid means run on an integer quantization grid
    // (floor(x*1e9) summed as BIGINT — order-free), so assignment,
    // probing and scoring are deterministic in both engines.
    "ann_ivf_topk" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |dims AS (
        |  SELECT vec_id % 16 AS cell,
        |    unnest(generate_series(1, 64)) AS d,
        |    unnest(list_transform(vd, x -> CAST(floor(x * 1000000000.0) AS BIGINT))) AS qx
        |  FROM vecs
        |), cdims AS (
        |  SELECT cell, d,
        |    CAST(sum(qx) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS cx
        |  FROM dims GROUP BY cell, d
        |), cents AS (
        |  SELECT cell, list(cx ORDER BY d) AS cv FROM cdims GROUP BY cell
        |), assigned AS (
        |  SELECT vec_id, vd, cell FROM (
        |    SELECT v.vec_id, v.vd, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*cv[i])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))
        |            * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) DESC,
        |        c.cell) AS rn
        |    FROM vecs v CROSS JOIN cents c)
        |  WHERE rn = 1
        |), probe_cells AS (
        |  SELECT probe_id, pv, cell FROM (
        |    SELECT p.probe_id, p.pv, c.cell,
        |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*cv[i])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |            * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) DESC,
        |        c.cell) AS rn
        |    FROM probes p CROSS JOIN cents c)
        |  WHERE rn <= 4
        |), scored AS (
        |  SELECT pc.probe_id, av.vec_id, av.cell,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM assigned av JOIN probe_cells pc ON av.cell = pc.cell AND av.vec_id <> pc.probe_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, cell, cosine,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, cell, cosine, rank FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    // raw inner product, no normalization: the recommender ranking
    "ann_mips_topk" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |scored AS (
        |  SELECT probe_id, v.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b) AS dot
        |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, dot,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, dot, rank FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    "ann_bruteforce_topk" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |scored AS (
        |  SELECT probe_id, v.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM probes CROSS JOIN vecs v WHERE v.vec_id <> probe_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    // int8 recall stage ranks by the pure-integer quantized dot
    // (order-free => engine-exact); rerank replays the float cosine
    "ann_refine_topk" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |dims AS (SELECT vec_id, i - 1 AS d, vd[i] AS x FROM vecs, generate_series(1, 64) t(i)),
        |rng AS (SELECT max(abs(x)) AS s FROM dims),
        |q AS (
        |  SELECT vec_id, d,
        |    CAST(CASE WHEN s > 0 THEN floor(x / s * 127.0 + 0.5) ELSE 0.0 END AS BIGINT) AS qv
        |  FROM dims CROSS JOIN rng),
        |pq AS (SELECT vec_id AS probe_id, d, qv AS qp FROM q WHERE vec_id < 5),
        |s1 AS (
        |  SELECT probe_id, q.vec_id AS vec_id,
        |    CAST(sum(qp * qv) AS BIGINT) AS dot_q, CAST(sum(qv * qv) AS BIGINT) AS nq2
        |  FROM q JOIN pq USING (d) WHERE q.vec_id <> probe_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT probe_id, vec_id,
        |    CASE WHEN nq2 > 0 THEN CAST(dot_q AS DOUBLE) / sqrt(CAST(nq2 AS DOUBLE)) ELSE -1.0 END AS score1
        |  FROM s1),
        |ctop AS (
        |  SELECT probe_id, vec_id, stage1_rank FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY score1 DESC, vec_id) AS stage1_rank
        |    FROM sc) WHERE stage1_rank <= 40),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |rer AS (
        |  SELECT c.probe_id, c.vec_id, c.stage1_rank,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM ctop c JOIN vecs v ON c.vec_id = v.vec_id JOIN probes p ON c.probe_id = p.probe_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, cosine, stage1_rank,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM rer)
        |SELECT probe_id, vec_id, cosine, rank, stage1_rank FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    // PQ: fixed codebook (vec_id<16 subvectors), argmin-L2 encode
    // replayed as argmax(dot - half-self-dot); ADC sums fold ordered
    // by subspace via list_reduce so the double tree matches Spark's
    // PQ codebook Lloyd round: same encode replay (vecs..chosen as
    // ann_pq_topk), then per-(subspace, code) member stats — mean L2²
    // on the integer grid, per-dim grid means, old↔new drift cosine
    "emb_pq_train_step" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |codes AS (SELECT vec_id AS code, vd AS cv FROM vecs WHERE vec_id < 16),
        |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
        |hc AS (
        |  SELECT code, s, cv,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> cv[s*8+i]*cv[s*8+i])), (a,b) -> a+b) / 2.0 AS h
        |  FROM codes CROSS JOIN ss),
        |esc AS (
        |  SELECT v.vec_id, x.s, x.code,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> v.vd[x.s*8+i]*x.cv[x.s*8+i])), (a,b) -> a+b) - x.h AS score
        |  FROM vecs v CROSS JOIN hc x),
        |chosen AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, code) AS rn FROM esc)
        |  WHERE rn = 1),
        |dom AS (
        |  SELECT s, code, list_transform(generate_series(1,8), i -> cv[s*8+i]) AS csub
        |  FROM codes CROSS JOIN ss),
        |mem AS (
        |  SELECT ch.s, ch.code,
        |    list_transform(generate_series(1,8), i -> v.vd[ch.s*8+i]) AS sub
        |  FROM chosen ch JOIN vecs v USING (vec_id)),
        |l2 AS (
        |  SELECT m.s, m.code, count(*) AS n_members,
        |    CAST(sum(CAST(floor((
        |      list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> m.sub[i]*m.sub[i])), (a,b) -> a+b)
        |      - 2.0 * list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> m.sub[i]*d.csub[i])), (a,b) -> a+b)
        |      + list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> d.csub[i]*d.csub[i])), (a,b) -> a+b)
        |      ) * 1000000000.0) AS BIGINT)) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS mean_l2_old
        |  FROM mem m JOIN dom d ON m.s = d.s AND m.code = d.code
        |  GROUP BY m.s, m.code),
        |nd AS (
        |  SELECT m.s, m.code, dd.d,
        |    CAST(sum(CAST(floor(m.sub[dd.d] * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS nx
        |  FROM mem m CROSS JOIN (SELECT unnest(generate_series(1,8)) AS d) dd
        |  GROUP BY m.s, m.code, dd.d),
        |newc AS (SELECT s, code, list(nx ORDER BY d) AS nv FROM nd GROUP BY s, code)
        |SELECT d.s, d.code,
        |  coalesce(l.n_members, 0) AS n_members,
        |  l.mean_l2_old,
        |  CASE WHEN n.nv IS NOT NULL THEN
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> d.csub[i]*n.nv[i])), (a,b) -> a+b)
        |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> d.csub[i]*d.csub[i])), (a,b) -> a+b))
        |       * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> n.nv[i]*n.nv[i])), (a,b) -> a+b)))
        |  END AS drift_cos
        |FROM dom d LEFT JOIN l2 l ON d.s = l.s AND d.code = l.code
        |LEFT JOIN newc n ON d.s = n.s AND d.code = n.code
        |ORDER BY d.s, d.code""".stripMargin,
    "ann_pq_topk" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |codes AS (SELECT vec_id AS code, vd AS cv FROM vecs WHERE vec_id < 16),
        |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
        |hc AS (
        |  SELECT code, s, cv,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> cv[s*8+i]*cv[s*8+i])), (a,b) -> a+b) / 2.0 AS h
        |  FROM codes CROSS JOIN ss),
        |esc AS (
        |  SELECT v.vec_id, x.s, x.code,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> v.vd[x.s*8+i]*x.cv[x.s*8+i])), (a,b) -> a+b) - x.h AS score, x.h
        |  FROM vecs v CROSS JOIN hc x),
        |chosen AS (
        |  SELECT vec_id, s, code, h FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, code) AS rn FROM esc)
        |  WHERE rn = 1),
        |encv AS (
        |  SELECT vec_id,
        |    sqrt(list_reduce(list_prepend(0.0, list(2.0*h ORDER BY s)), (a,b) -> a+b)) AS vnrm_pq
        |  FROM chosen GROUP BY vec_id),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b)) AS pnrm
        |  FROM vecs WHERE vec_id < 5),
        |terms AS (
        |  SELECT p.probe_id, ch.vec_id, ch.s,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> p.pv[ch.s*8+i]*c.cv[ch.s*8+i])), (a,b) -> a+b) AS t
        |  FROM probes p CROSS JOIN chosen ch JOIN codes c ON ch.code = c.code
        |  WHERE ch.vec_id <> p.probe_id),
        |dots AS (
        |  SELECT probe_id, vec_id,
        |    list_reduce(list_prepend(0.0, list(t ORDER BY s)), (a,b) -> a+b) AS dot_est
        |  FROM terms GROUP BY probe_id, vec_id),
        |scored AS (
        |  SELECT d.probe_id, d.vec_id, d.dot_est / (p.pnrm * e.vnrm_pq) AS cos_est
        |  FROM dots d JOIN probes p USING (probe_id) JOIN encv e USING (vec_id)),
        |ranked AS (
        |  SELECT probe_id, vec_id, cos_est,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_est DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, cos_est, rank FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    // IVF+PQ hybrid: the IVF oracle's cell assignment/probe ranking
    // composed with the PQ oracle's encode + ADC scoring, restricted
    // to probed cells
    "ann_ivfpq_topk" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b)) AS pnrm
        |  FROM vecs WHERE vec_id < 5),
        |dims AS (
        |  SELECT vec_id % 16 AS cell,
        |    unnest(generate_series(1, 64)) AS d,
        |    unnest(list_transform(vd, x -> CAST(floor(x * 1000000000.0) AS BIGINT))) AS qx
        |  FROM vecs
        |), cdims AS (
        |  SELECT cell, d,
        |    CAST(sum(qx) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS cx
        |  FROM dims GROUP BY cell, d
        |), cents AS (
        |  SELECT cell, list(cx ORDER BY d) AS cv FROM cdims GROUP BY cell
        |), assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*cv[i])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))
        |            * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) DESC,
        |        c.cell) AS rn
        |    FROM vecs v CROSS JOIN cents c)
        |  WHERE rn = 1
        |), probe_cells AS (
        |  SELECT probe_id, cell FROM (
        |    SELECT p.probe_id, c.cell,
        |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*cv[i])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |            * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) DESC,
        |        c.cell) AS rn
        |    FROM probes p CROSS JOIN cents c)
        |  WHERE rn <= 4
        |), codes AS (SELECT vec_id AS code, vd AS cv FROM vecs WHERE vec_id < 16),
        |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
        |hc AS (
        |  SELECT code, s, cv,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> cv[s*8+i]*cv[s*8+i])), (a,b) -> a+b) / 2.0 AS h
        |  FROM codes CROSS JOIN ss),
        |esc AS (
        |  SELECT v.vec_id, x.s, x.code,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> v.vd[x.s*8+i]*x.cv[x.s*8+i])), (a,b) -> a+b) - x.h AS score, x.h
        |  FROM vecs v CROSS JOIN hc x),
        |chosen AS (
        |  SELECT vec_id, s, code, h FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, code) AS rn FROM esc)
        |  WHERE rn = 1),
        |encv AS (
        |  SELECT vec_id,
        |    sqrt(list_reduce(list_prepend(0.0, list(2.0*h ORDER BY s)), (a,b) -> a+b)) AS vnrm_pq
        |  FROM chosen GROUP BY vec_id),
        |terms AS (
        |  SELECT pc.probe_id, ch.vec_id, ch.s,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> p.pv[ch.s*8+i]*c.cv[ch.s*8+i])), (a,b) -> a+b) AS t
        |  FROM probe_cells pc
        |  JOIN assigned a ON a.cell = pc.cell
        |  JOIN chosen ch ON ch.vec_id = a.vec_id
        |  JOIN codes c ON ch.code = c.code
        |  JOIN probes p ON p.probe_id = pc.probe_id
        |  WHERE a.vec_id <> pc.probe_id),
        |dots AS (
        |  SELECT probe_id, vec_id,
        |    list_reduce(list_prepend(0.0, list(t ORDER BY s)), (a,b) -> a+b) AS dot_est
        |  FROM terms GROUP BY probe_id, vec_id),
        |scored AS (
        |  SELECT d.probe_id, d.vec_id, a.cell, d.dot_est / (p.pnrm * e.vnrm_pq) AS cos_est
        |  FROM dots d JOIN probes p USING (probe_id) JOIN encv e USING (vec_id)
        |  JOIN assigned a ON a.vec_id = d.vec_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, cell, cos_est,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_est DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, cell, cos_est, rank FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,
    "ann_filtered_topk" ->
      """WITH vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, vd AS pv FROM vecs WHERE vec_id < 5),
        |keep AS (SELECT doc_id FROM documents WHERE lang <> 'en'),
        |cand AS (SELECT vec_id, vd FROM vecs JOIN keep ON vec_id = doc_id),
        |scored AS (
        |  SELECT probe_id, v.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*vd[i])), (a,b) -> a+b)
        |     / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> pv[i]*pv[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))) AS cosine
        |  FROM probes CROSS JOIN cand v WHERE v.vec_id <> probe_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin,

    // §2.9 text analysis
    "text_langid" ->
      """WITH words AS (
        |  SELECT doc_id, lang, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents
        |), counted AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(CASE WHEN w IN ('der','die','das','und','ist','nicht','mit','ein') THEN 1 ELSE 0 END) AS BIGINT) AS hits_de,
        |    CAST(sum(CASE WHEN w IN ('the','and','is','of','to','in','that','it') THEN 1 ELSE 0 END) AS BIGINT) AS hits_en,
        |    CAST(sum(CASE WHEN w IN ('el','la','de','que','y','en','un','es') THEN 1 ELSE 0 END) AS BIGINT) AS hits_es,
        |    CAST(sum(CASE WHEN w IN ('le','la','de','et','les','des','un','une') THEN 1 ELSE 0 END) AS BIGINT) AS hits_fr,
        |    CAST(sum(CASE WHEN w IN ('的','是','不','了','在','人','有','我') THEN 1 ELSE 0 END) AS BIGINT) AS hits_zh
        |  FROM words GROUP BY doc_id, lang
        |)
        |SELECT doc_id, lang, predicted_lang, predicted_lang = lang AS correct,
        |  hits_de, hits_en, hits_es, hits_fr, hits_zh
        |FROM (SELECT *,
        |  CASE WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
        |       WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |       WHEN hits_es >= hits_de AND hits_es >= hits_en AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |       WHEN hits_fr >= hits_de AND hits_fr >= hits_en AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |  FROM counted)
        |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(norm) AS BIGINT) AS n_char,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split(norm, ' '), w -> list_contains(['the','and','is','of','to','in','that','it'], w))) AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_char, n_words, n_stop, n_digit, n_punct,
        |  CAST(n_stop AS DOUBLE)/n_words AS stop_ratio,
        |  CAST(n_digit AS DOUBLE)/n_char AS digit_ratio,
        |  CAST(n_punct AS DOUBLE)/n_char AS punct_ratio,
        |  0.4*(CAST(n_stop AS DOUBLE)/n_words) + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/n_char)
        |   + 0.2*least(1.0, CAST(n_words AS DOUBLE)/100.0) + 0.1*(1.0 - CAST(n_digit AS DOUBLE)/n_char) AS quality_score
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_readability" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
        |    greatest(CAST(1 AS BIGINT), CAST(length(regexp_replace(norm, '[.!?]+', 'S', 'g'))
        |      - length(regexp_replace(norm, '[.!?]+', '', 'g')) AS BIGINT)) AS n_sentences,
        |    greatest(CAST(1 AS BIGINT), CAST(length(regexp_replace(norm, '[aeiouy]+', 'V', 'g'))
        |      - length(regexp_replace(norm, '[aeiouy]+', '', 'g')) AS BIGINT)) AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS words_per_sentence,
        |  CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS syllables_per_word,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents)
        |SELECT doc_id,
        |  CAST(len(string_split(norm, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(norm, '[a-z]{1,4}|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |  CAST(length(norm) AS DOUBLE) / len(regexp_extract_all(norm, '[a-z]{1,4}|[0-9]|[^a-z0-9 ]')) AS chars_per_token
        |FROM t ORDER BY doc_id""".stripMargin,
    // Simpson diversity, not Shannon: ln() differs across engine
    // libm builds; (n^2 - sum(c^2))/n^2 is exact integer arithmetic
    "text_diversity" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        count(*) AS n_types,
        |        CAST(sum(c*c) AS BIGINT) AS sumsq,
        |        max(c) AS max_c
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types,
        |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(n_tokens*n_tokens - sumsq AS DOUBLE)
        |    / CAST(n_tokens*n_tokens AS DOUBLE) AS simpson_diversity,
        |  CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_share
        |FROM d ORDER BY doc_id""".stripMargin,
    // cf/df dispersion: integer ppm cross-multiplications only
    "text_burstiness" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |dt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
        |t AS (SELECT w, CAST(sum(c) AS BIGINT) AS cf, count(*) AS df,
        |        max(c) AS max_in_doc
        |      FROM dt GROUP BY w HAVING count(*) >= 10)
        |SELECT w, cf, df, max_in_doc,
        |  cf * 1000000 // df AS burstiness_ppm,
        |  df * 1000000 // n_docs AS doc_share_ppm
        |FROM t, nd ORDER BY w""".stripMargin,
    // Zipf octave profile: same closed-form interval intersection on
    // the count histogram — pure BIGINT, no per-term rank, no logs
    "text_zipf_curve" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |counts AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |hist AS (SELECT c, count(*) AS n_c FROM counts GROUP BY c),
        |ranked AS (
        |  SELECT c, n_c,
        |    coalesce(CAST(sum(n_c) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
        |  FROM hist),
        |cells AS (
        |  SELECT c, n_c, cb, o,
        |    (CAST(1 AS BIGINT) << o) AS lo,
        |    (CAST(1 AS BIGINT) << (o + 1)) - 1 AS hi
        |  FROM ranked, unnest(generate_series(0, 39)) u(o)),
        |cells2 AS (
        |  SELECT o, c,
        |    greatest(0, least(cb + n_c, hi) - greatest(cb + 1, lo) + 1) AS n_in
        |  FROM cells),
        |oct AS (
        |  SELECT o, CAST(sum(n_in) AS BIGINT) AS n_terms,
        |    CAST(sum(c * n_in) AS BIGINT) AS n_occ,
        |    max(c) AS max_count, min(c) AS min_count
        |  FROM cells2 WHERE n_in > 0 GROUP BY o)
        |SELECT CAST(o AS BIGINT) AS octave,
        |  (CAST(1 AS BIGINT) << o) AS rank_lo, n_terms, n_occ,
        |  max_count, min_count,
        |  n_occ * 1000000 // lag(n_occ) OVER (ORDER BY o) AS occ_ratio_ppm
        |FROM oct ORDER BY octave""".stripMargin,
    "text_ngram_freq" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), tg AS (
        |  SELECT unnest(CASE WHEN len(words) >= 3 THEN
        |    list_transform(generate_series(1, len(words)-2), i -> words[i]||' '||words[i+1]||' '||words[i+2])
        |    ELSE [] END) AS trigram FROM docs
        |)
        |SELECT trigram, count(*) AS n_occurrences FROM tg GROUP BY trigram
        |ORDER BY n_occurrences DESC, trigram LIMIT 40""".stripMargin,
    "text_collocations" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), bg AS (
        |  SELECT words[CAST(i AS INT)] AS w1, words[CAST(i AS INT) + 1] AS w2
        |  FROM docs, unnest(range(1, len(words))) t(i)
        |), big AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY 1, 2
        |), lc AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS c1 FROM big GROUP BY 1),
        |rc AS (SELECT w2, CAST(sum(n12) AS BIGINT) AS c2 FROM big GROUP BY 1),
        |tot AS (SELECT CAST(sum(n12) AS BIGINT) AS n_total FROM big)
        |SELECT w1, w2, n12, c1, c2,
        |  CAST(n12 AS DOUBLE) * CAST(n_total AS DOUBLE)
        |    / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) AS lift
        |FROM big JOIN lc USING (w1) JOIN rc USING (w2) CROSS JOIN tot
        |WHERE n12 >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 40""".stripMargin,
    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(generate_series(1, length(norm)), i -> CAST(ascii(norm[i]) AS BIGINT))),
        |    (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint,
        |  CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM t ORDER BY doc_id""".stripMargin,
    // the oracle rebuilds the identical page frame and replays the
    // same strip/decode/collapse chain (regexes are RE2-and-Java
    // compatible; 'g' = Spark's replace-all default)
    "text_html_extract" ->
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title><style>body{margin:0}</style></head><body>' ||
        |    '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>' ||
        |    '<script>var x = 1 < 2 && 3 > 2;</script>' ||
        |    '<article><h1>Doc ' || doc_id || '</h1><p>' ||
        |    replace(replace(text, '&', '&amp;'), '<', '&lt;') ||
        |    '</p></article>' ||
        |    '<footer>&copy; 2026 Example Corp &mdash; legal</footer></body></html>' AS page
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, page,
        |    trim(regexp_replace(
        |      replace(replace(
        |        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(page,
        |          '<script>.*?</script>', ' ', 'g'),
        |          '<style>.*?</style>', ' ', 'g'),
        |          '<nav>.*?</nav>', ' ', 'g'),
        |          '<footer>.*?</footer>', ' ', 'g'),
        |          '<[^>]+>', ' ', 'g'),
        |        '&lt;', '<'), '&amp;', '&'),
        |      '[ \t\n\r\f\x0B]+', ' ', 'g')) AS extracted
        |  FROM pg)
        |SELECT doc_id, CAST(strlen(page) AS BIGINT) AS n_html,
        |  CAST(length(extracted) AS BIGINT) AS n_text,
        |  1000000 * CAST(length(extracted) AS BIGINT) // CAST(strlen(page) AS BIGINT) AS text_share_ppm,
        |  md5(extracted) AS text_md5
        |FROM ex ORDER BY doc_id""".stripMargin,
    // data-derived 80% day cutoff; spanning-user leakage audit
    "pipeline_time_split" ->
      """WITH ud AS (
        |  SELECT user_id, epoch_ns(ts)//1000000000//86400 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) + (max(day) - min(day)) * 4 // 5 AS cutoff FROM ud),
        |pu AS (
        |  SELECT user_id, max(cutoff) AS cutoff_day,
        |    CAST(sum(CASE WHEN day <= cutoff THEN n ELSE 0 END) AS BIGINT) AS train_ev,
        |    CAST(sum(CASE WHEN day > cutoff THEN n ELSE 0 END) AS BIGINT) AS val_ev
        |  FROM ud CROSS JOIN b GROUP BY user_id)
        |SELECT CAST(max(cutoff_day) AS BIGINT) AS cutoff_day,
        |  CAST(sum(train_ev) AS BIGINT) AS n_train_events,
        |  CAST(sum(val_ev) AS BIGINT) AS n_val_events,
        |  CAST(sum(CASE WHEN train_ev > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_train,
        |  CAST(sum(CASE WHEN val_ev > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_val,
        |  CAST(sum(CASE WHEN train_ev > 0 AND val_ev > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning,
        |  count(*) AS n_users,
        |  CAST(sum(CASE WHEN train_ev > 0 AND val_ev > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS spanning_ppm
        |FROM pu""".stripMargin,
    // both gate chains, one contingency row, exact HUGEINT kappa
    "pipeline_rater_kappa" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split(norm, ' '))) AS BIGINT) AS n_distinct_words,
        |    CAST(length(norm) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(string_split(norm, ' '), w -> list_contains(['the','and','is','of','to','in','that','it'], w))) AS BIGINT) AS stop_hits
        |  FROM t),
        |ga AS (
        |  SELECT doc_id,
        |    (n_words >= 20 AND n_words <= 100000
        |     AND (CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words) >= 2.0
        |     AND (CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words) <= 12.0
        |     AND stop_hits >= 1
        |     AND (CAST(n_distinct_words AS DOUBLE) / n_words) >= 0.2) AS ka
        |  FROM c),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |gb AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(('0x'||substring(md5(w),1,15)) AS BIGINT) % 2001 - 1000) AS BIGINT) > 0 AS kb
        |  FROM tok GROUP BY doc_id),
        |cells AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
        |    CAST(sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
        |    CAST(sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
        |    CAST(sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS BIGINT) AS both_drop
        |  FROM ga JOIN gb USING (doc_id)),
        |k AS (
        |  SELECT *,
        |    CAST(both_keep + only_a AS HUGEINT) * (both_keep + only_b)
        |      + CAST(only_b + both_drop AS HUGEINT) * (only_a + both_drop) AS pe_num
        |  FROM cells)
        |SELECT n, both_keep, only_a, only_b, both_drop,
        |  CAST(CAST(n AS HUGEINT) * (both_keep + both_drop) - pe_num AS VARCHAR) AS kappa_num_str,
        |  CAST(CAST(n AS HUGEINT) * n - pe_num AS VARCHAR) AS kappa_den_str,
        |  CAST(CAST(n AS HUGEINT) * (both_keep + both_drop) - pe_num AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE) AS kappa
        |FROM k""".stripMargin,
    "text_model_filter" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents
        |), wt AS (
        |  SELECT doc_id,
        |    CAST(('0x'||substring(md5(w),1,15)) AS BIGINT) % 2001 - 1000 AS wgt
        |  FROM tok
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(wgt) AS BIGINT) AS score_sum,
        |  CAST(sum(wgt) AS DOUBLE) / count(*) AS mean_score,
        |  CAST(sum(wgt) AS BIGINT) > 0 AS keep
        |FROM wt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "vocab_pair_freq" ->
      """WITH words AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents
        |), pairs AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair
        |  FROM words, unnest(range(1, length(w))) AS t(i)
        |  WHERE length(w) >= 2
        |)
        |SELECT pair, count(*) AS n FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 40""".stripMargin,
    // three BPE merge rounds unrolled; each round = weighted pair
    // count over the compressed vocab, argmax (ties by pair text),
    // boundary-safe doubled-delimiter greedy merge
    "vocab_bpe_merges" ->
      """WITH words AS (
        |  SELECT w FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |    FROM documents) WHERE length(w) > 0),
        |v0 AS (
        |  SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS s, count(*) AS n
        |  FROM words GROUP BY 1),
        |p1 AS (
        |  SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, ' ') AS l, n FROM v0) t, unnest(range(1, len(l))) u(i)
        |  GROUP BY 1),
        |m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |v1 AS (
        |  SELECT trim(regexp_replace(replace(replace(' ' || s || ' ', ' ', '  '),
        |    ' ' || (SELECT replace(pair, ' ', '  ') FROM m1) || ' ',
        |    ' ' || (SELECT replace(pair, ' ', '') FROM m1) || ' '), ' +', ' ', 'g')) AS s, n
        |  FROM v0),
        |p2 AS (
        |  SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, ' ') AS l, n FROM v1) t, unnest(range(1, len(l))) u(i)
        |  GROUP BY 1),
        |m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |v2 AS (
        |  SELECT trim(regexp_replace(replace(replace(' ' || s || ' ', ' ', '  '),
        |    ' ' || (SELECT replace(pair, ' ', '  ') FROM m2) || ' ',
        |    ' ' || (SELECT replace(pair, ' ', '') FROM m2) || ' '), ' +', ' ', 'g')) AS s, n
        |  FROM v1),
        |p3 AS (
        |  SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS pair, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM (SELECT string_split(s, ' ') AS l, n FROM v2) t, unnest(range(1, len(l))) u(i)
        |  GROUP BY 1),
        |m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, pair, replace(pair, ' ', '') AS merged, cnt FROM m1
        |UNION ALL SELECT CAST(2 AS BIGINT), pair, replace(pair, ' ', ''), cnt FROM m2
        |UNION ALL SELECT CAST(3 AS BIGINT), pair, replace(pair, ' ', ''), cnt FROM m3
        |ORDER BY round""".stripMargin,
    // df over the (w, doc)-distinct relation; ≥25% cut, integer rank
    "text_stopword_discovery" ->
      """WITH toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |    FROM documents) WHERE length(w) > 0),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |cf AS (SELECT w, count(*) AS corpus_freq FROM toks GROUP BY 1),
        |df AS (SELECT w, count(*) AS doc_freq FROM (SELECT DISTINCT w, doc_id FROM toks) GROUP BY 1)
        |SELECT cf.w, doc_freq, corpus_freq, doc_freq * 1000 // n_docs AS df_permille
        |FROM cf JOIN df ON cf.w = df.w, nd
        |WHERE doc_freq * 4 >= n_docs
        |ORDER BY df_permille DESC, corpus_freq DESC, cf.w""".stripMargin,
    // corpus-level RAKE: stopword-island phrases, word deg/freq in
    // floored micro-units, integer phrase sums, total-order top-10
    "text_keyword_rake" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS l
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, l[CAST(i AS INT)] AS w,
        |    list_contains(['the','and','is','of','to','in','that','it'], l[CAST(i AS INT)]) AS is_stop
        |  FROM d, unnest(range(1, len(l) + 1)) t(i)
        |  WHERE length(l[CAST(i AS INT)]) > 0),
        |isl AS (
        |  SELECT doc_id, pos, w, is_stop,
        |    CAST(sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS isl
        |  FROM toks),
        |mem AS (
        |  SELECT doc_id, isl, pos, w,
        |    count(*) OVER (PARTITION BY doc_id, isl) AS plen
        |  FROM isl WHERE NOT is_stop),
        |ws AS (
        |  SELECT w, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
        |  FROM mem GROUP BY w),
        |wsc AS (
        |  SELECT w, CAST(floor(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) * 1000000.0) AS BIGINT) AS wscore
        |  FROM ws),
        |ph AS (
        |  SELECT m.doc_id, m.isl AS phrase_seq, count(*) AS n_words,
        |    CAST(sum(wscore) AS BIGINT) AS score_micro,
        |    string_agg(m.w, ' ' ORDER BY m.pos) AS phrase
        |  FROM mem m JOIN wsc ON m.w = wsc.w
        |  GROUP BY m.doc_id, m.isl)
        |SELECT doc_id, phrase_seq, phrase, n_words, score_micro
        |FROM ph ORDER BY score_micro DESC, phrase, doc_id, phrase_seq
        |LIMIT 10""".stripMargin,
    // TRY arithmetic: overflow checks replayed in HUGEINT, div-by-0
    // is NULL natively in both engines; order-free aggregates only
    "expr_try_arith" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CASE WHEN CAST(l_orderkey % 13300 AS HUGEINT) * 700000000000000 <= 9223372036854775807
        |         THEN CAST(CAST(l_orderkey % 13300 AS HUGEINT) * 700000000000000 AS BIGINT) END AS m,
        |    CASE WHEN CAST(9223372036854774807 AS HUGEINT) + l_partkey % 1024 <= 9223372036854775807
        |         THEN CAST(CAST(9223372036854774807 AS HUGEINT) + l_partkey % 1024 AS BIGINT) END AS a,
        |    CASE WHEN CAST(-9223372036854775758 AS HUGEINT) - l_suppkey % 52 >= -9223372036854775808
        |         THEN CAST(CAST(-9223372036854775758 AS HUGEINT) - l_suppkey % 52 AS BIGINT) END AS s,
        |    l_extendedprice / (l_orderkey % 97) AS d
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS mul_nulls,
        |  min(m) AS mul_min, max(m) AS mul_max,
        |  CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS add_nulls,
        |  max(a) AS add_max,
        |  CAST(sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS sub_nulls,
        |  min(s) AS sub_min,
        |  CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS div_nulls,
        |  min(d) AS div_min, max(d) AS div_max
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // map lambdas replayed relationally: per-mille division, the >=4
    // threshold, and the zip-with difference all on the (brand, type,
    // n) long layout with sorted-entry serialization
    "expr_map_hof" ->
      """WITH c AS (SELECT p_brand, p_type, count(*) AS n FROM part GROUP BY 1, 2),
        |t AS (SELECT p_brand, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.p_brand,
        |  string_agg(p_type || ':' || (n * 1000 // tot), '|' ORDER BY p_type) AS permille_csv,
        |  CAST(sum(CASE WHEN n >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_major_types,
        |  CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN 0 ELSE n END) AS BIGINT) AS non_promo_mass
        |FROM c JOIN t USING (p_brand)
        |GROUP BY c.p_brand ORDER BY c.p_brand""".stripMargin,
    // UTF8_LCASE equality ≡ lower() equality on ASCII data; outputs
    // are deterministic functions of the merged group only
    "expr_collation" ->
      """WITH n AS (
        |  SELECT CASE CAST(p_partkey % 3 AS INT) WHEN 0 THEN lower(p_brand)
        |           WHEN 1 THEN upper(p_brand) ELSE p_brand END AS noisy
        |  FROM part)
        |SELECT lower(noisy) AS brand_lc, count(*) AS n_parts,
        |  CAST(count(DISTINCT noisy) AS BIGINT) AS n_variants,
        |  min(noisy) AS rep_binary_min,
        |  CAST(sum(CASE WHEN contains(lower(noisy), 'brand') THEN 1 ELSE 0 END) AS BIGINT) AS n_ci_contains
        |FROM n GROUP BY lower(noisy) ORDER BY brand_lc""".stripMargin,
    // struct ordering replayed as SQL row-value comparisons — the
    // same lexicographic semantics Spark's struct comparator uses
    "expr_struct_ops" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS sz,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 50 AS k2
        |  FROM part)
        |SELECT p_partkey,
        |  p_brand AS brand_field,
        |  (sz, p_partkey) < (k2, p_partkey) AS s1_lt_s2,
        |  CASE WHEN (sz, p_partkey) <= (k2, p_partkey) THEN sz ELSE k2 END AS min_k,
        |  CASE WHEN (sz, 'size') <= (k2, 'price') THEN 'size,price'
        |       ELSE 'price,size' END AS order_tags,
        |  TRUE AS eq_self
        |FROM p ORDER BY p_partkey""".stripMargin,
    // array lambdas: every output an integer or canonical string join
    "expr_higher_order" ->
      """WITH p AS (
        |  SELECT p_partkey, string_split(lower(p_type), ' ') AS words FROM part)
        |SELECT p_partkey,
        |  array_to_string(list_transform(words, w -> strlen(w)), ',') AS lens_csv,
        |  CAST(len(list_filter(words, w -> strlen(w) >= 6)) AS BIGINT) AS n_long,
        |  len(list_filter(words, w -> regexp_matches(w, '^[aeiou]'))) > 0 AS any_vowel_start,
        |  len(list_filter(words, w -> NOT regexp_matches(w, '^[a-z]+$'))) = 0 AS all_alpha,
        |  CAST(list_sum(list_transform(words, w -> strlen(w))) AS BIGINT) AS len_sum,
        |  array_to_string(list_transform(range(1, len(words)+1),
        |    i -> i || ':' || words[i]), '|') AS idx_words
        |FROM p ORDER BY p_partkey""".stripMargin,
    // type first-occurrence decile + 10-row cumulative spine
    "text_vocab_growth" ->
      """WITH words AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |    FROM documents) WHERE length(w) > 0),
        |mx AS (SELECT max(doc_id) AS mx FROM documents),
        |tokb AS (SELECT doc_id * 10 // (mx + 1) AS b, count(*) AS toks FROM words, mx GROUP BY 1),
        |newb AS (SELECT fd * 10 // (mx + 1) AS b, count(*) AS news
        |  FROM (SELECT w, min(doc_id) AS fd FROM words GROUP BY 1), mx GROUP BY 1),
        |docb AS (SELECT doc_id * 10 // (mx + 1) AS b, count(*) AS docs FROM documents, mx GROUP BY 1),
        |spine AS (SELECT unnest(range(10)) AS b),
        |j AS (SELECT spine.b AS decile, coalesce(docs, 0) AS docs,
        |        coalesce(toks, 0) AS toks, coalesce(news, 0) AS news
        |      FROM spine LEFT JOIN docb ON spine.b = docb.b
        |        LEFT JOIN tokb ON spine.b = tokb.b
        |        LEFT JOIN newb ON spine.b = newb.b)
        |SELECT decile,
        |  CAST(sum(docs) OVER w AS BIGINT) AS n_docs,
        |  CAST(sum(toks) OVER w AS BIGINT) AS n_tokens,
        |  CAST(sum(news) OVER w AS BIGINT) AS vocab_size,
        |  CAST(news AS BIGINT) AS new_types,
        |  CAST(sum(news) OVER w AS DOUBLE) / CAST(sum(toks) OVER w AS DOUBLE) AS type_token_ratio
        |FROM j WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY decile""".stripMargin,
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(string_split(norm, ' '))) AS BIGINT) AS n_distinct_words,
        |    CAST(length(norm) AS BIGINT) AS n_chars,
        |    CAST(len(list_filter(string_split(norm, ' '), w -> list_contains(['the','and','is','of','to','in','that','it'], w))) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words, n_distinct_words,
        |  CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS mean_word_len,
        |  stop_hits,
        |  CAST(n_distinct_words AS DOUBLE) / n_words AS frac_distinct,
        |  (n_words >= 20 AND n_words <= 100000
        |   AND (CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words) >= 2.0
        |   AND (CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words) <= 12.0
        |   AND stop_hits >= 1
        |   AND (CAST(n_distinct_words AS DOUBLE) / n_words) >= 0.2) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    // log-free idf ratio: ln() differs across engines by ulps; the
    // arithmetic tree below mirrors the Spark column expression shape
    // exactly, and the final score fixes the term addition order.
    "text_bm25" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |words AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM t),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN ('spark', 'table', 'scan') GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id, tf.w,
        |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
        |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS term_score
        |  FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id) CROSS JOIN corpus)
        |SELECT doc_id, s0, s1, s2, s0 + s1 + s2 AS score FROM (
        |  SELECT doc_id,
        |    sum(CASE WHEN w = 'spark' THEN term_score ELSE 0.0 END) AS s0,
        |    sum(CASE WHEN w = 'table' THEN term_score ELSE 0.0 END) AS s1,
        |    sum(CASE WHEN w = 'scan'  THEN term_score ELSE 0.0 END) AS s2
        |  FROM sc GROUP BY doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_contamination" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents
        |), tri AS (
        |  SELECT doc_id, unnest(CASE WHEN len(words) >= 3 THEN
        |    list_transform(generate_series(1, len(words)-2), i -> words[i]||' '||words[i+1]||' '||words[i+2])
        |    ELSE [] END) AS trigram FROM docs
        |), block AS (
        |  SELECT trigram FROM (SELECT trigram, count(*) AS n FROM tri GROUP BY trigram)
        |  ORDER BY n DESC, trigram LIMIT 5)
        |SELECT doc_id, count(*) AS n_hits, count(DISTINCT t.trigram) AS n_distinct_hits
        |FROM tri t JOIN block b ON t.trigram = b.trigram
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_dup_ngram" ->
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-1), i -> words[i]||' '||words[i+1])) AS bigram
        |       FROM t WHERE len(words) >= 2),
        |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-2), i -> words[i]||' '||words[i+1]||' '||words[i+2])) AS trigram
        |       FROM t WHERE len(words) >= 3),
        |bi AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams, count(*) AS nd_bi, max(n) AS mx_bi
        |       FROM (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2) GROUP BY 1),
        |tri AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_trigrams, count(*) AS nd_tri
        |        FROM (SELECT doc_id, trigram, count(*) AS n FROM tg GROUP BY 1, 2) GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  CAST(n_bigrams - nd_bi AS DOUBLE) / n_bigrams AS dup_bigram_frac,
        |  CAST(mx_bi AS DOUBLE) / n_bigrams AS top_bigram_frac,
        |  COALESCE(n_trigrams, 0) AS n_trigrams,
        |  CASE WHEN COALESCE(n_trigrams, 0) > 0
        |    THEN CAST(n_trigrams - nd_tri AS DOUBLE) / n_trigrams ELSE 0.0 END AS dup_trigram_frac,
        |  (CAST(n_bigrams - nd_bi AS DOUBLE) / n_bigrams <= 0.1
        |   AND CASE WHEN COALESCE(n_trigrams, 0) > 0
        |     THEN CAST(n_trigrams - nd_tri AS DOUBLE) / n_trigrams ELSE 0.0 END <= 0.05) AS keep
        |FROM bi LEFT JOIN tri USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dedup_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents),
        |s AS (SELECT doc_id, words, len(words) AS n,
        |        unnest(generate_series(0, len(words)-1, 48)) AS chunk_start FROM t),
        |c AS (SELECT doc_id,
        |        md5(array_to_string(words[chunk_start+1:least(chunk_start+64, n)], ' ')) AS chunk_md5
        |      FROM s),
        |w AS (SELECT doc_id, count(*) OVER (PARTITION BY chunk_md5) AS n_same FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_chunk_frac
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_cross_source" ->
      """WITH d AS (
        |  SELECT DISTINCT source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
        |  FROM documents),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |sh AS (
        |  SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM d a JOIN d b ON a.digest = b.digest AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT ta.source AS source_a, tb.source AS source_b,
        |  ta.n AS n_a, tb.n AS n_b,
        |  coalesce(n_shared, 0) AS n_shared,
        |  CAST(coalesce(n_shared, 0) AS DOUBLE)
        |    / CAST(ta.n + tb.n - coalesce(n_shared, 0) AS DOUBLE) AS digest_jaccard
        |FROM tot ta JOIN tot tb ON ta.source < tb.source
        |LEFT JOIN sh ON sh.source_a = ta.source AND sh.source_b = tb.source
        |ORDER BY source_a, source_b""".stripMargin,
    // CDC boundary rule must replay EXACTLY: same md5-prefix hash of the
    // same trailing 8-char window, same mod-64 gate, so both engines cut
    // identical segments; only counts/fractions are compared
    "dedup_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |cuts AS (
        |  SELECT doc_id, CAST(i AS INT) AS e
        |  FROM t, unnest(range(8, length(norm))) u(i)
        |  WHERE CAST(('0x'||substring(md5(substring(norm, CAST(i AS INT) - 7, 8)), 1, 15)) AS BIGINT) % 64 = 0),
        |ends AS (
        |  SELECT doc_id, e FROM cuts
        |  UNION ALL SELECT doc_id, CAST(length(norm) AS INT) FROM t),
        |seg AS (
        |  SELECT doc_id,
        |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s, e
        |  FROM ends),
        |ch AS (
        |  SELECT seg.doc_id, md5(substring(t.norm, s, e - s + 1)) AS digest,
        |    CAST(e - s + 1 AS BIGINT) AS clen
        |  FROM seg JOIN t USING (doc_id)),
        |sh AS (
        |  SELECT digest, count(*) AS n_docs
        |  FROM (SELECT DISTINCT doc_id, digest FROM ch) GROUP BY digest)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN clen ELSE 0 END) AS BIGINT) AS shared_chars,
        |  CAST(sum(clen) AS BIGINT) AS n_chars_norm,
        |  CASE WHEN sum(clen) > 0 THEN
        |    CAST(sum(CASE WHEN n_docs > 1 THEN clen ELSE 0 END) AS DOUBLE)
        |      / CAST(sum(clen) AS DOUBLE) END AS shared_frac
        |FROM ch JOIN sh USING (digest)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words FROM documents),
        |s AS (SELECT doc_id, words, len(words) AS n,
        |        unnest(generate_series(0, len(words)-1, 48)) AS chunk_start FROM t)
        |SELECT doc_id,
        |  CAST(chunk_start // 48 AS BIGINT) AS chunk_idx,
        |  CAST(chunk_start AS BIGINT) AS chunk_start,
        |  CAST(least(64, n - chunk_start) AS BIGINT) AS n_chunk_words,
        |  md5(array_to_string(words[chunk_start+1:least(chunk_start+64, n)], ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "pipeline_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |  CAST(sum(n_tokens) OVER w AS BIGINT) <= 2000 AS selected
        |FROM t
        |WINDOW w AS (PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin,
    // centroid means on the floor(x·1e9) integer grid and the mean
    // cosine over floor(cos·1e9) — order-free integral-double sums,
    // and the dot/norm folds run left-to-right exactly like graft_dot
    "emb_kmeans_step" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |dims AS (
        |  SELECT vec_id % 16 AS cell,
        |    unnest(generate_series(1, 64)) AS d,
        |    unnest(list_transform(vd, x -> CAST(floor(x * 1000000000.0) AS BIGINT))) AS qx
        |  FROM vecs
        |), cdims AS (
        |  SELECT cell, d,
        |    CAST(sum(qx) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS cx
        |  FROM dims GROUP BY cell, d
        |), cents AS (
        |  SELECT cell, list(cx ORDER BY d) AS cv FROM cdims GROUP BY cell
        |), assigned AS (
        |  SELECT vec_id, vd, cell FROM (
        |    SELECT v.vec_id, v.vd, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*cv[i])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))
        |            * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) DESC,
        |        c.cell) AS rn
        |    FROM vecs v CROSS JOIN cents c)
        |  WHERE rn = 1
        |), ndims AS (
        |  SELECT cell,
        |    unnest(generate_series(1, 64)) AS d,
        |    unnest(list_transform(vd, x -> CAST(floor(x * 1000000000.0) AS BIGINT))) AS qx
        |  FROM assigned
        |), ncdims AS (
        |  SELECT cell, d,
        |    CAST(sum(qx) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS nx
        |  FROM ndims GROUP BY cell, d
        |), ncents AS (
        |  SELECT cell, list(nx ORDER BY d) AS nv FROM ncdims GROUP BY cell
        |), stats AS (
        |  SELECT m.cell AS cell, count(*) AS n_members,
        |    CAST(sum(CAST(floor(
        |      (list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*cv[i])), (a,b) -> a+b)
        |       / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))
        |          * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b)))) * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * 1000000000.0) AS mean_cos_old
        |  FROM assigned m JOIN cents c USING (cell) GROUP BY m.cell)
        |SELECT s.cell AS cell, n_members, mean_cos_old,
        |  list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*nv[i])), (a,b) -> a+b)
        |   / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))
        |      * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> nv[i]*nv[i])), (a,b) -> a+b))) AS drift_cos
        |FROM stats s JOIN cents USING (cell) JOIN ncents USING (cell)
        |ORDER BY cell""".stripMargin,
    // RRF fusion: the bm25 chain + the left-fold cosine chain, each
    // ranked top-20 with doc_id tie-breaks, integer 1e6//(60+rank)
    "ann_rrf_fusion" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |words AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM t),
        |dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words
        |       WHERE w IN ('spark', 'table', 'scan') GROUP BY 1, 2),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.doc_id, tf.w,
        |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
        |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS term_score
        |  FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id) CROSS JOIN corpus),
        |bm AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN w = 'spark' THEN term_score ELSE 0.0 END)
        |    + sum(CASE WHEN w = 'table' THEN term_score ELSE 0.0 END)
        |    + sum(CASE WHEN w = 'scan'  THEN term_score ELSE 0.0 END) AS score
        |  FROM sc GROUP BY doc_id),
        |tb AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b
        |       FROM bm ORDER BY score DESC, doc_id LIMIT 20),
        |vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |pn AS (SELECT vec_id, vd,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b)) AS nrm
        |  FROM vecs),
        |probe AS (SELECT vd AS pv, nrm AS pnrm FROM pn WHERE vec_id = 0),
        |vs AS (
        |  SELECT vec_id AS doc_id,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*pv[i])), (a,b) -> a+b)
        |      / (nrm * pnrm) AS cos
        |  FROM pn, probe WHERE vec_id <> 0),
        |vb AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_v
        |       FROM vs ORDER BY cos DESC, doc_id LIMIT 20),
        |f AS (
        |  SELECT coalesce(tb.doc_id, vb.doc_id) AS doc_id, tb.rank_b, vb.rank_v,
        |    coalesce(1000000 // (60 + tb.rank_b), 0)
        |      + coalesce(1000000 // (60 + vb.rank_v), 0) AS rrf_micro
        |  FROM tb FULL OUTER JOIN vb ON tb.doc_id = vb.doc_id),
        |top AS (SELECT * FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10)
        |SELECT row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS fused_rank,
        |  doc_id, rank_b, rank_v, rrf_micro
        |FROM top ORDER BY fused_rank""".stripMargin,
    // MMR greedy unrolled pick by pick: same left-fold cosine on the
    // 1e9 grid, integer score 7·rel − 3·max-sim, vec_id tie-break
    "emb_mmr_rerank" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |pn AS (SELECT vec_id, vd,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b)) AS nrm
        |  FROM vecs),
        |probe AS (SELECT vd AS pv, nrm AS pnrm FROM pn WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id, vd, nrm,
        |    CAST(floor(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*pv[i])), (a,b) -> a+b)
        |      / (nrm * pnrm) * 1000000000.0) AS BIGINT) AS rel_q
        |  FROM pn, probe WHERE vec_id <> 0
        |  ORDER BY rel_q DESC, vec_id LIMIT 20),
        |sims AS (
        |  SELECT a.vec_id AS ca, b.vec_id AS cb,
        |    CAST(floor(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> a.vd[i]*b.vd[i])), (x,y) -> x+y)
        |      / (a.nrm * b.nrm) * 1000000000.0) AS BIGINT) AS sim_q
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |p1 AS (SELECT vec_id, CAST(1 AS BIGINT) AS rank, rel_q, 7*rel_q AS score
        |       FROM cand ORDER BY score DESC, vec_id LIMIT 1),
        |p2 AS (SELECT c.vec_id, CAST(2 AS BIGINT) AS rank, c.rel_q, 7*c.rel_q - 3*m.msim AS score
        |       FROM cand c JOIN (SELECT ca, max(sim_q) AS msim FROM sims
        |         WHERE cb IN (SELECT vec_id FROM p1) GROUP BY ca) m ON m.ca = c.vec_id
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)
        |       ORDER BY score DESC, c.vec_id LIMIT 1),
        |p3 AS (SELECT c.vec_id, CAST(3 AS BIGINT) AS rank, c.rel_q, 7*c.rel_q - 3*m.msim AS score
        |       FROM cand c JOIN (SELECT ca, max(sim_q) AS msim FROM sims
        |         WHERE cb IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2) GROUP BY ca) m ON m.ca = c.vec_id
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2)
        |       ORDER BY score DESC, c.vec_id LIMIT 1),
        |p4 AS (SELECT c.vec_id, CAST(4 AS BIGINT) AS rank, c.rel_q, 7*c.rel_q - 3*m.msim AS score
        |       FROM cand c JOIN (SELECT ca, max(sim_q) AS msim FROM sims
        |         WHERE cb IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3) GROUP BY ca) m ON m.ca = c.vec_id
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3)
        |       ORDER BY score DESC, c.vec_id LIMIT 1),
        |p5 AS (SELECT c.vec_id, CAST(5 AS BIGINT) AS rank, c.rel_q, 7*c.rel_q - 3*m.msim AS score
        |       FROM cand c JOIN (SELECT ca, max(sim_q) AS msim FROM sims
        |         WHERE cb IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4) GROUP BY ca) m ON m.ca = c.vec_id
        |       WHERE c.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4)
        |       ORDER BY score DESC, c.vec_id LIMIT 1)
        |SELECT rank, vec_id, rel_q, score FROM (
        |  SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
        |  UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5)
        |ORDER BY rank""".stripMargin,
    // diagonal Mahalanobis on the 1e9 integer grid: HUGEINT replays
    // the DECIMAL(38,0) cross-multiplied residuals; numerator r² and
    // vnum are nonnegative so // = Spark div
    "emb_outlier_mahal" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |q AS (SELECT vec_id, i - 1 AS d,
        |        CAST(floor(vd[i] * 1000000000.0) AS BIGINT) AS qx
        |      FROM vecs, generate_series(1, 64) t(i)),
        |s AS (SELECT d, count(*) AS n, CAST(sum(qx) AS BIGINT) AS sx,
        |        CAST(sum(CAST(qx AS HUGEINT) * qx) AS HUGEINT) AS sxx
        |      FROM q GROUP BY d),
        |j AS (SELECT q.vec_id,
        |        s.n * q.qx - s.sx AS r,
        |        CAST(s.n AS HUGEINT) * s.sxx - CAST(s.sx AS HUGEINT) * s.sx AS vnum
        |      FROM q JOIN s USING (d)),
        |c AS (SELECT vec_id,
        |        CASE WHEN vnum > 0
        |          THEN CAST((CAST(r AS HUGEINT) * r * 1000000) // vnum AS BIGINT)
        |          ELSE 0 END AS zz
        |      FROM j)
        |SELECT vec_id, count(*) AS n_dims,
        |  CAST(sum(zz) AS BIGINT) AS score_micro,
        |  CAST(sum(CASE WHEN zz > 9000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dims_flagged,
        |  CAST(sum(zz) AS BIGINT) > 2 * count(*) * 1000000 AS is_outlier
        |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // matrix-free integer power iteration: HUGEINT replays the
    // DECIMAL(38,0) sums; // on positive operands = Spark div
    "emb_pca_power" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |dims0 AS (SELECT vec_id, i - 1 AS d, vd[i] AS x FROM vecs, generate_series(1, 64) t(i)),
        |sc AS (SELECT max(abs(x)) AS s FROM dims0),
        |dims AS (SELECT vec_id, d,
        |    CAST(CASE WHEN s > 0 THEN floor(x / s * 127.0 + 0.5) ELSE 0.0 END AS HUGEINT) AS q
        |  FROM dims0, sc),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM vecs),
        |sd AS (SELECT d, sum(q) AS s_d FROM dims GROUP BY d),
        |t0all AS (SELECT sum(s_d) AS t0a FROM sd),
        |t0 AS (SELECT vec_id, sum(q) AS t0 FROM dims GROUP BY vec_id),
        |y1s AS (SELECT d, sum(q * t0) AS s1 FROM dims JOIN t0 USING (vec_id) GROUP BY d),
        |y1 AS (SELECT d, n * s1 - s_d * t0a AS y1 FROM y1s JOIN sd USING (d), nn, t0all),
        |v1 AS (SELECT d, (CASE WHEN y1 < 0 THEN -1 ELSE 1 END)
        |         * CAST(abs(y1) // (n * n) AS BIGINT) AS v1 FROM y1, nn),
        |t1 AS (SELECT vec_id, sum(q * v1) AS t1 FROM dims JOIN v1 USING (d) GROUP BY vec_id),
        |sv1 AS (SELECT sum(s_d * v1) AS sv FROM sd JOIN v1 USING (d)),
        |y2s AS (SELECT d, sum(q * t1) AS s2 FROM dims JOIN t1 USING (vec_id) GROUP BY d),
        |y2 AS (SELECT d, s_d, n * s2 - s_d * sv AS y2 FROM y2s JOIN sd USING (d), nn, sv1),
        |m2 AS (SELECT max(abs(y2)) AS m FROM y2)
        |SELECT d, CAST(s_d AS BIGINT) AS q_sum, v1.v1 AS v1,
        |  (CASE WHEN y2 < 0 THEN -1 ELSE 1 END)
        |    * CAST(abs(y2) // (m // 1000000 + 1) AS BIGINT) AS dir_ppm
        |FROM y2 JOIN v1 USING (d), m2
        |ORDER BY d""".stripMargin,
    "emb_quantize_int8" ->
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |dims AS (SELECT i - 1 AS d, vd[i] AS x FROM vecs, generate_series(1, 64) t(i)),
        |rng AS (SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d),
        |q AS (
        |  SELECT dims.d AS d, x, mn, mx,
        |    CAST(CASE WHEN mx > mn THEN floor((x - mn) / (mx - mn) * 255.0 + 0.5) ELSE 0.0 END AS BIGINT) AS qv
        |  FROM dims JOIN rng ON dims.d = rng.d),
        |e AS (
        |  SELECT d, mn, mx, qv,
        |    CAST(floor(abs(x - (CASE WHEN mx > mn THEN mn + (CAST(qv AS DOUBLE) * (mx - mn)) / 255.0 ELSE mn END)) * 1e12) AS BIGINT) AS eq
        |  FROM q)
        |SELECT d, count(*) AS n_vals, min(mn) AS mn, min(mx) AS mx,
        |  max(qv) AS q_max, min(qv) AS q_min, max(eq) AS max_err_q,
        |  CAST(sum(eq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e12) AS mean_err
        |FROM e GROUP BY d ORDER BY d""".stripMargin,
    // centroid-silhouette margins on the same quantized machinery
    "emb_silhouette" ->
      """WITH vecs AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |dims AS (SELECT label, i AS d, vd[i] AS x FROM vecs, generate_series(1, 64) t(i)),
        |cent AS (SELECT label, d, CAST(sum(floor(x * 1e9)) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9) AS cx
        |         FROM dims GROUP BY 1, 2),
        |cvs AS (SELECT label AS clabel, list(cx ORDER BY d) AS cv FROM cent GROUP BY 1),
        |scored AS (
        |  SELECT v.vec_id, v.label, c.clabel,
        |    CAST(floor(
        |      list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*cv[i])), (a,b) -> a+b)
        |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b)))
        |      * 1e9) AS BIGINT) AS cos_q
        |  FROM vecs v CROSS JOIN cvs c),
        |per_vec AS (
        |  SELECT vec_id, label,
        |    max(CASE WHEN label = clabel THEN cos_q END) AS own_q,
        |    max(CASE WHEN label <> clabel THEN cos_q END) AS other_q
        |  FROM scored GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(own_q - other_q) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9) AS mean_margin,
        |  CAST(min(own_q - other_q) AS BIGINT) AS min_margin_q,
        |  CAST(sum(CASE WHEN own_q < other_q THEN 1 ELSE 0 END) AS BIGINT) AS n_confused
        |FROM per_vec GROUP BY label ORDER BY label""".stripMargin,
    "emb_label_stats" ->
      """WITH vecs AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
        |dims AS (SELECT label, i AS d, vd[i] AS x FROM vecs, generate_series(1, 64) t(i)),
        |cent AS (SELECT label, d, CAST(sum(floor(x * 1e9)) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9) AS cx
        |         FROM dims GROUP BY 1, 2),
        |cvs AS (SELECT label, list(cx ORDER BY d) AS cv FROM cent GROUP BY 1),
        |scored AS (
        |  SELECT v.label,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*cv[i])), (a,b) -> a+b)
        |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> vd[i]*vd[i])), (a,b) -> a+b))
        |        * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,64), i -> cv[i]*cv[i])), (a,b) -> a+b))) AS cos
        |  FROM vecs v JOIN cvs USING (label))
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CAST(floor(cos * 1e9) AS BIGINT)) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9) AS mean_cos,
        |  min(cos) AS min_cos, max(cos) AS max_cos
        |FROM scored GROUP BY label ORDER BY label""".stripMargin,
    "pipeline_leakage_split" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
        |  FROM documents)
        |SELECT doc_id, lang, digest,
        |  CAST(('0x'||substring(md5(digest),1,15)) AS BIGINT) % 100 AS bucket,
        |  CASE WHEN CAST(('0x'||substring(md5(digest),1,15)) AS BIGINT) % 100 < 90
        |       THEN 'train' ELSE 'eval' END AS split
        |FROM t ORDER BY doc_id""".stripMargin,
    // digest-keyed k-fold: same Hash60-on-md5 bucketing as the
    // leakage split, integer ppm balance audit
    "pipeline_kfold" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(('0x'||substring(md5(md5(norm)),1,15)) AS BIGINT) % 5 AS fold
        |  FROM d),
        |bs AS (
        |  SELECT fold, source, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |  FROM f GROUP BY fold, source),
        |bf AS (SELECT fold, CAST(sum(n_docs) AS BIGINT) AS fold_docs FROM bs GROUP BY fold),
        |tt AS (SELECT CAST(sum(fold_docs) AS BIGINT) AS tot_docs FROM bf)
        |SELECT bs.fold, bs.source, bs.n_docs, bs.n_tokens, bf.fold_docs,
        |  bf.fold_docs * 1000000 // tt.tot_docs AS fold_share_ppm
        |FROM bs JOIN bf USING (fold), tt
        |ORDER BY fold, source""".stripMargin,
    "pipeline_source_stats" ->
      """WITH t AS (
        |  SELECT source, lang,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |d AS (
        |  SELECT source, lang, md5(norm) AS digest,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
        |  FROM t),
        |c AS (SELECT *, count(*) OVER (PARTITION BY digest) AS dcnt FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN dcnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
        |  CAST(sum(CASE WHEN dcnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_share
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "pipeline_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 8 AS shard
        |  FROM documents),
        |c AS (SELECT *, COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before FROM t)
        |SELECT lang, CAST(shard AS BIGINT) AS shard, CAST(cum_before // 2048 AS BIGINT) AS bin_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(n_tokens) AS DOUBLE) / 2048 AS fill_ratio
        |FROM c GROUP BY 1, 2, 3 ORDER BY lang, shard, bin_id""".stripMargin,
    // log-free idf as in text_bm25; the multiply binds before the
    // divide exactly as the Spark column tree does
    "text_tfidf_topterms" ->
      """WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |words AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term, tf, df,
        |    (CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5))
        |      / (CAST(df AS DOUBLE) + 0.5) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // the oracle plants the identical doc_id-derived email/phone and
    // replays the same scrub; md5 of the redacted text pins every byte
    "text_pii_redact" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or +1-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(
        |      regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS red
        |  FROM s)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS n_phones,
        |  length(red) AS redacted_len,
        |  md5(red) AS redacted_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang,
        |  CAST(('0x'||substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
        |  CAST(CASE WHEN lang = 'en' THEN 5 ELSE 20 END AS BIGINT) AS rate
        |FROM documents
        |WHERE CAST(('0x'||substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |      < CASE WHEN lang = 'en' THEN 5 ELSE 20 END
        |ORDER BY doc_id""".stripMargin,
    // smallest-|score| annotation batch off the model-filter chain
    "sample_uncertainty" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(('0x'||substring(md5(w),1,15)) AS BIGINT) % 2001 - 1000) AS BIGINT) AS score_sum
        |  FROM tok GROUP BY doc_id),
        |top AS (
        |  SELECT doc_id, score_sum, abs(score_sum) AS abs_score
        |  FROM sc ORDER BY abs_score, doc_id LIMIT 100)
        |SELECT doc_id, score_sum, abs_score,
        |  row_number() OVER (ORDER BY abs_score, doc_id) AS rank
        |FROM top ORDER BY rank""".stripMargin,
    // per-class scalar repetition factors, correlated unnest epochs,
    // h60 interleave salt — all deterministic
    "sample_rebalance" ->
      """WITH c AS (SELECT lang AS cls, count(*) AS n_c FROM documents GROUP BY 1),
        |t AS (SELECT max(n_c) AS target FROM c),
        |r AS (SELECT cls, CAST((target + n_c - 1) // n_c AS BIGINT) AS n_copies
        |      FROM c CROSS JOIN t)
        |SELECT d.doc_id, r.cls, r.n_copies, CAST(u.copy_id AS BIGINT) AS copy_id,
        |  CAST(('0x'||substring(md5(d.doc_id || ':' || u.copy_id),1,15)) AS BIGINT) AS salt
        |FROM documents d JOIN r ON d.lang = r.cls
        |CROSS JOIN unnest(generate_series(1, r.n_copies)) AS u(copy_id)
        |ORDER BY d.doc_id, copy_id""".stripMargin,
    "sample_per_group" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x'||substring(md5('smp_'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS skey
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id, skey,
        |    row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rank
        |  FROM t)
        |SELECT lang, doc_id, skey, rank FROM r WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    "pipeline_clean_corpus" ->
      """WITH t AS (SELECT doc_id, lang, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents),
        |c AS (
        |  SELECT doc_id, lang, norm,
        |    CAST(length(norm) AS BIGINT) AS n_char,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(string_split(norm, ' '), w -> list_contains(['the','and','is','of','to','in','that','it'], w))) AS BIGINT) AS n_stop
        |  FROM t),
        |scored AS (
        |  SELECT doc_id, lang, norm, n_words,
        |    0.4*(CAST(n_stop AS DOUBLE)/n_words) + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/n_char)
        |     + 0.2*least(1.0, CAST(n_words AS DOUBLE)/100.0) + 0.1*(1.0 - CAST(n_digit AS DOUBLE)/n_char) AS quality_score
        |  FROM c),
        |kept AS (SELECT * FROM scored WHERE quality_score >= 0.5),
        |canon AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn FROM kept)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_words,
        |  min(quality_score) AS min_quality, max(quality_score) AS max_quality
        |FROM canon WHERE rn = 1
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // temperature mixing: per-source sqrt is one correctly-rounded
    // IEEE op; the normalizer folds in lang order (list built ORDER
    // BY lang here, array_sort of unique-lang structs there) so both
    // engines produce the identical double before the ppm floors
    "pipeline_mix_temperature" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_words
        |  FROM documents),
        |by_lang AS (
        |  SELECT lang, CAST(sum(n_words) AS BIGINT) AS n_tokens FROM t GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(list(n_tokens ORDER BY lang), x -> sqrt(CAST(x AS DOUBLE)))),
        |      (a, b) -> a + b) AS w_sum
        |  FROM by_lang)
        |SELECT lang, n_tokens,
        |  CAST(floor(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / w_sum) AS BIGINT) AS share_ppm,
        |  CAST(floor(1000000.0 * (sqrt(CAST(n_tokens AS DOUBLE)) / w_sum) /
        |    (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))) AS BIGINT) AS upsample_ppm
        |FROM by_lang, tot ORDER BY lang""".stripMargin,
    "pipeline_mix_weights" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_words
        |  FROM documents),
        |by_lang AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY lang),
        |tot AS (
        |  SELECT count(*) AS n_langs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM by_lang)
        |SELECT lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
        |  CAST(total_tokens AS DOUBLE) / CAST(n_langs * n_tokens AS DOUBLE) AS mix_weight,
        |  least(CAST(total_tokens AS DOUBLE) / CAST(n_langs * n_tokens AS DOUBLE), 4.0) AS oversample_capped
        |FROM by_lang CROSS JOIN tot ORDER BY lang""".stripMargin,

    // §2.10 multimodal (decode stub is md5-derived, so oracle-checkable)
    // stub CLIP encoders replayed dim by dim (md5-hex grid), cosine on
    // the shared left fold, scores on the 1e9 grid, same partner join
    "mm_clip_filter" ->
      """WITH enc AS (
        |  SELECT doc_id, source,
        |    md5(substring(text, 1, 32)) AS sh,
        |    md5(text) AS im,
        |    md5('cap:' || substring(text, 1, 48)) AS tx
        |  FROM documents),
        |emb AS (
        |  SELECT doc_id, source,
        |    [(CAST('0x'||substring(sh, 1, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(sh, 5, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(sh, 9, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(sh, 13, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(im, 1, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(im, 5, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(im, 9, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(im, 13, 4) AS BIGINT) % 2001 - 1000) / 1000.0] AS img_emb,
        |    [(CAST('0x'||substring(sh, 1, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(sh, 5, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(sh, 9, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(sh, 13, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(tx, 1, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(tx, 5, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(tx, 9, 4) AS BIGINT) % 2001 - 1000) / 1000.0,
        |     (CAST('0x'||substring(tx, 13, 4) AS BIGINT) % 2001 - 1000) / 1000.0] AS txt_emb
        |  FROM enc),
        |scored AS (
        |  SELECT source,
        |    CAST(floor(
        |      list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> img_emb[i]*txt_emb[i])), (a,b) -> a+b)
        |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> img_emb[i]*img_emb[i])), (a,b) -> a+b))
        |         * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> txt_emb[i]*txt_emb[i])), (a,b) -> a+b)))
        |      * 1000000000.0) AS BIGINT) AS clip_q
        |  FROM emb),
        |mis AS (
        |  SELECT a.source,
        |    CAST(floor(
        |      list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> a.img_emb[i]*b.txt_emb[i])), (x,y) -> x+y)
        |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> a.img_emb[i]*a.img_emb[i])), (x,y) -> x+y))
        |         * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1,8), i -> b.txt_emb[i]*b.txt_emb[i])), (x,y) -> x+y)))
        |      * 1000000000.0) AS BIGINT) AS mis_q
        |  FROM emb a JOIN emb b ON b.doc_id = a.doc_id + 1 - 2 * (a.doc_id % 2)),
        |t AS (
        |  SELECT source, count(*) AS n_pairs,
        |    CAST(sum(CASE WHEN clip_q >= 200000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |    CAST(sum(clip_q) AS BIGINT) AS sum_clip_q
        |  FROM scored GROUP BY source),
        |m AS (
        |  SELECT source, count(*) AS n_mismatch,
        |    CAST(sum(CASE WHEN mis_q >= 200000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch_keep,
        |    CAST(sum(mis_q) AS BIGINT) AS sum_mis_q
        |  FROM mis GROUP BY source)
        |SELECT source, n_pairs, n_keep, sum_clip_q, n_mismatch, n_mismatch_keep, sum_mis_q
        |FROM t JOIN m USING (source) ORDER BY source""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  hex(substring(text, 1, 4)) AS magic_hex,
        |  1 + CAST(('0x'||substring(md5(text),1,4)) AS BIGINT) % 1920 AS fake_width,
        |  1 + CAST(('0x'||substring(md5(text),5,4)) AS BIGINT) % 1080 AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_feature_extract" ->
      """WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
        |d AS (
        |  SELECT doc_id, h,
        |    1 + CAST(('0x'||substring(h, 1, 4)) AS BIGINT) % 1920 AS fake_width,
        |    1 + CAST(('0x'||substring(h, 5, 4)) AS BIGINT) % 1080 AS fake_height
        |  FROM m)
        |SELECT doc_id, fake_width, fake_height,
        |  greatest(1, fake_width * 224 // greatest(fake_width, fake_height)) AS out_w,
        |  greatest(1, fake_height * 224 // greatest(fake_width, fake_height)) AS out_h,
        |  CAST(('0x'||substring(h,  9, 4)) AS BIGINT) / 65535.0 AS f0,
        |  CAST(('0x'||substring(h, 13, 4)) AS BIGINT) / 65535.0 AS f1,
        |  CAST(('0x'||substring(h, 17, 4)) AS BIGINT) / 65535.0 AS f2,
        |  CAST(('0x'||substring(h, 21, 4)) AS BIGINT) / 65535.0 AS f3
        |FROM d ORDER BY doc_id""".stripMargin,
    // frame offsets are byte offsets; the corpus is pure ASCII so
    // DuckDB's character substring equals Spark's binary substring.
    "mm_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(octet_length(encode(text)) // 32 AS BIGINT) AS n_frames
        |  FROM documents WHERE octet_length(encode(text)) >= 32),
        |f AS (
        |  SELECT doc_id, n_frames, unnest(generate_series(0, n_frames - 1, 4)) AS frame_idx, text
        |  FROM d)
        |SELECT doc_id, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(substring(text, CAST(frame_idx * 32 + 1 AS INT), 32)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // scene cuts: the same frame grid, signature = first md5 hex digit
    // (the stub frame distance), islands on signature changes
    "mm_scene_cuts" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(octet_length(encode(text)) // 32 AS BIGINT) AS n_frames
        |  FROM documents WHERE octet_length(encode(text)) >= 32),
        |f AS (
        |  SELECT doc_id, unnest(generate_series(0, n_frames - 1, 4)) AS frame_idx, text
        |  FROM d),
        |s AS (
        |  SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |    CAST(('0x' || substring(md5(substring(text, CAST(frame_idx * 32 + 1 AS INT), 32)), 1, 1)) AS BIGINT) AS fsig
        |  FROM f),
        |l AS (SELECT *, lag(fsig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM s),
        |c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> fsig THEN 1 ELSE 0 END AS is_cut FROM l),
        |g AS (SELECT *, CAST(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS scene_id FROM c),
        |sc AS (SELECT doc_id, scene_id, count(*) AS scene_frames FROM g GROUP BY doc_id, scene_id)
        |SELECT doc_id, CAST(sum(scene_frames) AS BIGINT) AS n_sampled,
        |  count(*) AS n_scenes, max(scene_frames) AS longest_scene
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // §2.11 wider SQL surface
    "sql_earliest_order" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "sql_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "sql_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority,
        |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "sql_full_outer" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  coalesce(c_mktsegment, '(no-customer)') AS segment,
        |  coalesce(cnt, 0) AS n_orders
        |FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0) c
        |FULL OUTER JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
        |                 WHERE o_orderpriority = '1-URGENT' GROUP BY 1) o
        |  ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    // quantities are small integers stored as DOUBLE; both engines
    // interpolate lower + d*(upper-lower), so the doubles match bitwise
    "agg_percentile_exact" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25_qty,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // exact weighted median (weight = n_chars) over the compressed
    // (lang, length) domain; integer threshold test, no interpolation
    "agg_weighted_median" ->
      """WITH b AS (
        |  SELECT lang, n_chars, count(*) AS n, n_chars * count(*) AS mass
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, n_chars, mass,
        |    sum(mass) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b),
        |t AS (SELECT lang, CAST(sum(mass) AS BIGINT) AS total_mass,
        |        CAST(sum(n) AS BIGINT) AS n_docs
        |      FROM b GROUP BY 1)
        |SELECT lang, n_docs, total_mass, min(n_chars) AS mass_median_len
        |FROM c JOIN t USING (lang) WHERE cum * 2 >= total_mass
        |GROUP BY lang, n_docs, total_mass ORDER BY lang""".stripMargin,
    // the nested roundtrip is lossless, so the oracle aggregates the
    // flat table; first_qty = qty of the (linenumber, qty)-least line,
    // the entry the rank-keyed map stores under key 1
    "sink_nested_types" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  max(l_linenumber) AS max_ln,
        |  CAST((array_agg(l_quantity ORDER BY l_linenumber, l_quantity))[1] AS DOUBLE) AS first_qty
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    // the DDL lifecycle must be invisible in the values: CTAS slice +
    // INSERT slice = the whole base table
    "sql_ctas_catalog" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(o_orderkey) AS min_okey, max(o_orderkey) AS max_okey
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // sampled membership is seed-dependent; the oracle pins the
    // invariants the row PROVES (count envelope, rerun stability,
    // subset) plus the exact base count
    "sql_tablesample" ->
      """SELECT count(*) AS n_total, TRUE AS in_envelope,
        |  TRUE AS rerun_stable, TRUE AS is_subset
        |FROM lineitem""".stripMargin,
    // the refresh must be invisible in the values: after the
    // out-of-band swap + REFRESH the table IS the full base table
    "sql_refresh_metadata" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  max(o_orderkey) AS max_okey
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the per-partition stats pass must be invisible in the values:
    // the catalog-table query over two partitions equals the same
    // aggregate on the base table
    "sql_analyze_partition" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(epoch_ns(ts) // 1000000000 // 3600 * 3600) AS min_hour,
        |  max(epoch_ns(ts) // 1000000000 // 3600 * 3600) AS max_hour
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the view dissolves before planning: the oracle replays the
    // ALTERed definition's predicate inline
    "sql_view_pushdown" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_quantity < 30 AND l_shipdate >= TIMESTAMP '1995-06-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sql_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status,
        |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "sql_limit_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 40""".stripMargin,
    "sql_correlated_subquery" ->
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice < 5000)
        |ORDER BY c_custkey""".stripMargin,
    "ev_scd2_intervals" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS ts_sec,
        |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  event_id, value,
        |  ts_sec AS valid_from_sec,
        |  lead(ts_sec) OVER w AS valid_to_sec,
        |  lead(ts_sec) OVER w IS NULL AS is_current
        |FROM p
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "ev_pit_lookup" ->
      """WITH u AS (
        |  SELECT user_id, epoch_ns(ts)//1000000000 AS ts_sec, event_id,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) END AS chg_value,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |), wnd AS (
        |  SELECT event_id, user_id, ts_sec, kind,
        |    CAST(sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END) OVER w AS BIGINT) AS version,
        |    last_value(chg_value IGNORE NULLS) OVER w AS pit_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, kind, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, ts_sec, version, pit_value
        |FROM wnd WHERE kind = 1 ORDER BY event_id""".stripMargin,
    // dyadic EWMA: every weight is a power-of-two divisor, so each
    // term and every partial sum is an exact IEEE double — the lag
    // sum agrees bitwise across engines (see Analytic.ewmaSmooth)
    "ev_ewma_smooth" -> {
      val terms = (0 until 16).map(j =>
        s"COALESCE(lag(n_events, $j) OVER w, 0) / ${1L << (j + 1)}.0")
        .mkString(" + ")
      s"""WITH h AS (
         |  SELECT event_type, epoch_ns(ts)//1000000000//3600*3600 AS hour_sec,
         |    count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |e AS (
         |  SELECT event_type, hour_sec, n_events,
         |    $terms AS ewma
         |  FROM h
         |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec))
         |SELECT event_type, hour_sec, n_events, ewma,
         |  CAST(n_events AS DOUBLE) > 4.0 * ewma AS is_spike
         |FROM e ORDER BY event_type, hour_sec""".stripMargin
    },
    "ev_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS start_sec,
        |    epoch_ns(ts)//1000000000 + (event_id % 541) + 60 AS end_sec
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, start_sec, end_sec,
        |    max(end_sec) OVER (PARTITION BY user_id ORDER BY start_sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM iv),
        |f AS (
        |  SELECT *, CASE WHEN prev_max_end IS NULL OR start_sec > prev_max_end
        |    THEN 1 ELSE 0 END AS new_island
        |  FROM m),
        |g AS (
        |  SELECT *, sum(new_island) OVER (PARTITION BY user_id
        |    ORDER BY start_sec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |i AS (SELECT user_id, island, min(start_sec) AS s, max(end_sec) AS e
        |      FROM g GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(e - s) AS BIGINT) AS union_sec
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Spark dayofweek is 1=Sunday, DuckDB 0=Sunday: both normalized
    // to the 0-based form; add_months month-end clamping agrees
    "expr_date_interval" ->
      """WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        |SELECT d,
        |  CAST(d + INTERVAL 3 MONTH AS DATE) AS plus_3m,
        |  CAST(d + INTERVAL 30 DAY AS DATE) AS plus_30d,
        |  last_day(d) AS month_end,
        |  CAST(quarter(d) AS BIGINT) AS qtr,
        |  CAST(dayofweek(d) AS BIGINT) AS dow
        |FROM d ORDER BY d""".stripMargin,
    // set ops pin the SET via sort-canonicalized joins, not layout
    "expr_array_setops" ->
      """WITH p AS (
        |  SELECT p_partkey, string_split(lower(p_type), ' ') AS words
        |  FROM part)
        |SELECT p_partkey,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(words, w -> list_contains(['tin','steel','brass'], w)))), '|'), '') AS inter,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_concat(words, ['tin','steel','brass']))), '|'), '') AS uni,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list_filter(words, w -> NOT list_contains(['tin','steel','brass'], w)))), '|'), '') AS exc
        |FROM p ORDER BY p_partkey""".stripMargin,
    // the oracle pins the multiplicity ALGEBRA (min / clamped diff)
    // relationally rather than another engine's ALL implementation
    "sql_setops_all" ->
      """WITH c96 AS (SELECT o_custkey, count(*) AS n FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1),
        |c97 AS (SELECT o_custkey, count(*) AS n FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT 'intersect_all' AS segment, o_custkey,
        |  CAST(least(c96.n, c97.n) AS BIGINT) AS multiplicity
        |FROM c96 JOIN c97 USING (o_custkey)
        |UNION ALL
        |SELECT 'except_all' AS segment, o_custkey,
        |  CAST(c96.n - coalesce(c97.n, 0) AS BIGINT) AS multiplicity
        |FROM c96 LEFT JOIN c97 USING (o_custkey)
        |WHERE c96.n - coalesce(c97.n, 0) > 0
        |ORDER BY segment, o_custkey""".stripMargin,
    // same-second view does NOT attribute (purchase sorts first on
    // ties — identical ASCII collation both engines)
    "ev_funnel_latency" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts)//1000000000 AS ts_sec
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |w AS (
        |  SELECT *, max(CASE WHEN event_type = 'view' THEN ts_sec END)
        |    OVER (PARTITION BY user_id ORDER BY ts_sec, event_type, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_sec
        |  FROM e)
        |SELECT (ts_sec//3600) % 24 AS hour_of_day,
        |  count(*) AS n_conversions,
        |  min(ts_sec - last_view_sec) AS min_latency,
        |  max(ts_sec - last_view_sec) AS max_latency,
        |  CAST(sum(ts_sec - last_view_sec) AS BIGINT) AS sum_latency,
        |  CAST(CAST(sum(ts_sec - last_view_sec) AS BIGINT) AS DOUBLE) / count(*) AS mean_latency
        |FROM w WHERE event_type = 'purchase' AND last_view_sec IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // LOWER-median convention: the value at sorted index (n-1)//2 —
    // exact integer, no half-point interpolation, both engines
    "ev_anomaly_mad" ->
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts)//1000000000//3600*3600 AS hour_sec,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, n_events AS med_hourly FROM (
        |    SELECT event_type, n_events,
        |      row_number() OVER (PARTITION BY event_type ORDER BY n_events) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM h) x
        |  WHERE rn = (cnt - 1) // 2 + 1),
        |d AS (SELECT h.event_type, abs(n_events - med_hourly) AS abs_dev, med_hourly
        |      FROM h JOIN m USING (event_type)),
        |md AS (SELECT event_type, abs_dev AS mad_hourly FROM (
        |    SELECT event_type, abs_dev,
        |      row_number() OVER (PARTITION BY event_type ORDER BY abs_dev) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM d) y
        |  WHERE rn = (cnt - 1) // 2 + 1)
        |SELECT event_type, count(*) AS n_hours, med_hourly, mad_hourly,
        |  CAST(sum(CASE WHEN abs_dev > 5 * mad_hourly THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outlier_hours
        |FROM d JOIN md USING (event_type)
        |GROUP BY event_type, med_hourly, mad_hourly
        |ORDER BY event_type""".stripMargin,
    "agg_filter_clause" ->
      """SELECT l_returnflag,
        |  count(*) AS n_rows,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS discounted_rev,
        |  max(l_quantity) FILTER (WHERE l_shipdate >= TIMESTAMP '1997-01-01')
        |    AS max_qty_97
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // power user = n·U > total (cross-multiplied integer mean test)
    "ev_power_users" ->
      """WITH uc AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n_users, CAST(sum(n) AS BIGINT) AS total_events FROM uc)
        |SELECT n_users, total_events,
        |  count(*) AS n_power_users,
        |  CAST(sum(n) AS BIGINT) AS power_events,
        |  count(*) * 1000 // n_users AS user_share_permille,
        |  CAST(sum(n) AS BIGINT) * 1000 // total_events AS event_share_permille
        |FROM uc CROSS JOIN t
        |WHERE n * n_users > total_events
        |GROUP BY n_users, total_events""".stripMargin,
    "mm_dedup_binary" ->
      """SELECT md5(text) AS payload_md5,
        |  count(*) AS n_copies,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  min(doc_id) AS canonical_id,
        |  (count(*) - 1) * CAST(octet_length(encode(text)) AS BIGINT) AS reclaimable_bytes
        |FROM documents
        |GROUP BY md5(text), octet_length(encode(text))
        |ORDER BY payload_md5""".stripMargin,
    // trailing-30-day distinct membership via the bounded 30x explode
    // of the compressed user-day relation (see Analytic.dauMau)
    "ev_dau_mau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts)//1000000000//86400 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |ex AS (SELECT DISTINCT user_id, day + i AS day
        |       FROM ud CROSS JOIN generate_series(0, 29) AS t(i)),
        |mau AS (SELECT day, count(*) AS mau FROM ex GROUP BY 1)
        |SELECT day, dau, mau, dau * 1000 // mau AS stickiness_permille
        |FROM dau JOIN mau USING (day) ORDER BY day""".stripMargin,
    // trailing-7-day rolling distinct; the oracle states the VALUE
    // contract (a windowed COUNT(DISTINCT)) that the bitmap partials
    // must reproduce exactly
    "ev_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts)//1000000000//86400 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |ex AS (SELECT DISTINCT user_id, day + i AS day
        |       FROM ud CROSS JOIN generate_series(0, 6) AS t(i)),
        |w AS (SELECT day, count(*) AS users_7d FROM ex GROUP BY 1)
        |SELECT day, dau, users_7d
        |FROM dau JOIN w USING (day) ORDER BY day""".stripMargin,
    "ev_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_ns(ts)//1000000000//86400 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
        |SELECT day,
        |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
        |FROM ud JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,
    "text_ngram_topk_lang" ->
      """WITH t AS (
        |  SELECT lang, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |tri AS (
        |  SELECT lang, unnest(list_transform(generate_series(1, len(words)-2),
        |    i -> words[i]||' '||words[i+1]||' '||words[i+2])) AS trigram
        |  FROM t WHERE len(words) >= 3),
        |c AS (SELECT lang, trigram, count(*) AS n_occurrences FROM tri GROUP BY 1, 2)
        |SELECT lang, trigram, n_occurrences, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY n_occurrences DESC, trigram) AS BIGINT) AS rank
        |  FROM c) x
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    // pooled two-proportion z-test cross-multiplied to pure integers;
    // DuckDB's products ride HUGEINT, Spark's DECIMAL(38,0) — the
    // compared boolean is exact on both sides
    "ev_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS arm
        |  FROM events GROUP BY user_id),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS c_a,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS c_b
        |FROM pu)
        |SELECT n_a, c_a, n_b, c_b,
        |  25 * (c_a*n_b - c_b*n_a) * (c_a*n_b - c_b*n_a) * (n_a + n_b)
        |    > 96 * (c_a + c_b) * ((n_a + n_b) - (c_a + c_b)) * n_a * n_b AS significant
        |FROM s""".stripMargin,
    "scan_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        | min(o_orderkey) AS min_okey, max(o_orderkey) AS max_okey,
        | min(o_custkey) AS min_ckey, max(o_custkey) AS max_ckey
        |FROM orders""".stripMargin,
    "ev_type_cooccurrence" ->
      """WITH ctx AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts)//1000000000//3600 AS hour, event_type
        |  FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_cohours
        |FROM ctx a JOIN ctx b
        |  ON a.user_id = b.user_id AND a.hour = b.hour
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // every event covers exactly 5 one-minute-aligned window starts
    "ev_peak_rate" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000000000 AS s FROM events),
        |w AS (SELECT event_type, ((s//60) - k) * 60 AS win_start
        |      FROM e CROSS JOIN generate_series(0, 4) AS t(k)),
        |c AS (SELECT event_type, win_start, count(*) AS n FROM w GROUP BY 1, 2),
        |m AS (SELECT event_type, max(n) AS peak_n FROM c GROUP BY 1)
        |SELECT event_type, peak_n, min(win_start) AS peak_win_start
        |FROM c JOIN m USING (event_type) WHERE n = peak_n
        |GROUP BY event_type, peak_n ORDER BY event_type""".stripMargin,
    "text_dup_curve" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents)
        |SELECT CAST(3 AS BIGINT) AS n, count(*) AS total_shingles,
        |  count(DISTINCT g) AS distinct_shingles,
        |  CAST(count(*) - count(DISTINCT g) AS DOUBLE) / count(*) AS dup_fraction
        |FROM (SELECT unnest(CASE WHEN len(words) >= 3 THEN
        |    list_transform(generate_series(1, len(words) - 2),
        |      i -> array_to_string(words[i:i+2], ' '))
        |    ELSE [] END) AS g FROM t)
        |UNION ALL
        |SELECT CAST(5 AS BIGINT) AS n, count(*) AS total_shingles,
        |  count(DISTINCT g) AS distinct_shingles,
        |  CAST(count(*) - count(DISTINCT g) AS DOUBLE) / count(*) AS dup_fraction
        |FROM (SELECT unnest(CASE WHEN len(words) >= 5 THEN
        |    list_transform(generate_series(1, len(words) - 4),
        |      i -> array_to_string(words[i:i+4], ' '))
        |    ELSE [] END) AS g FROM t)
        |UNION ALL
        |SELECT CAST(7 AS BIGINT) AS n, count(*) AS total_shingles,
        |  count(DISTINCT g) AS distinct_shingles,
        |  CAST(count(*) - count(DISTINCT g) AS DOUBLE) / count(*) AS dup_fraction
        |FROM (SELECT unnest(CASE WHEN len(words) >= 7 THEN
        |    list_transform(generate_series(1, len(words) - 6),
        |      i -> array_to_string(words[i:i+6], ' '))
        |    ELSE [] END) AS g FROM t)
        |ORDER BY n""".stripMargin,
    // the metadata-only aggregate must agree exactly with the data
    "scan_stats_only" ->
      """SELECT count(*) AS n_rows,
        | min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,
    "sink_cdc_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice AS old_price FROM orders
        |  WHERE o_orderkey % 5 <> 0),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 2 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 5 <> 1)
        |SELECT o_orderkey,
        |  CASE WHEN old_price IS NULL THEN 'insert'
        |       WHEN new_price IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  old_price, new_price
        |FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
        |WHERE old_price IS NULL OR new_price IS NULL
        |   OR old_price IS DISTINCT FROM new_price
        |ORDER BY o_orderkey""".stripMargin,
    "sql_setops" ->
      """WITH b96 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
        |     b97 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT 'both' AS segment, o_custkey FROM (SELECT o_custkey FROM b96 INTERSECT SELECT o_custkey FROM b97)
        |UNION ALL
        |SELECT 'only_1996' AS segment, o_custkey FROM (SELECT o_custkey FROM b96 EXCEPT SELECT o_custkey FROM b97)
        |ORDER BY segment, o_custkey""".stripMargin,
    "sql_pivot" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_a,
        | CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_n,
        | CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "ev_json_props" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "src_json_variant" ->
      """WITH j AS (
        |  SELECT concat('{"e":"', event_type, '","p":', props, '}') AS js FROM events)
        |SELECT json_extract_string(js, '$.e') AS etype, count(*) AS n_events,
        |  CAST(sum(CAST(json_extract_string(js, '$.p.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(try_cast(json_extract_string(js, '$.e') AS BIGINT)) AS n_badcast,
        |  count(try_cast(json_extract_string(js, '$.missing') AS BIGINT)) AS n_absent
        |FROM j GROUP BY etype ORDER BY etype""".stripMargin,
    "agg_listagg" ->
      """WITH geo AS (
        |  SELECT n_nationkey, n_name, r_name FROM nation
        |  JOIN region ON n_regionkey = r_regionkey),
        |nat AS (
        |  SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |    count(*) AS n_nations
        |  FROM geo GROUP BY r_name),
        |seg AS (
        |  SELECT r_name,
        |    string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
        |  FROM customer JOIN geo ON c_nationkey = n_nationkey GROUP BY r_name)
        |SELECT nat.r_name AS r_name, nations, n_nations, segments
        |FROM nat JOIN seg ON nat.r_name = seg.r_name ORDER BY r_name""".stripMargin,
    "agg_multi_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS ndv_supp,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_part,
        |  CAST(count(DISTINCT year(l_shipdate)) AS BIGINT) AS ndv_shipyear,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sql_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderstatus,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_urgent,
        |    CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_high,
        |    CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_other
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, prio_class, revenue FROM (
        |  SELECT o_orderstatus, 'rev_urgent' AS prio_class, rev_urgent AS revenue FROM wide
        |  UNION ALL SELECT o_orderstatus, 'rev_high', rev_high FROM wide
        |  UNION ALL SELECT o_orderstatus, 'rev_other', rev_other FROM wide)
        |ORDER BY o_orderstatus, prio_class""".stripMargin,
    // the native bitmap aggregates must reproduce COUNT(DISTINCT)
    // exactly; the bucket formula mirrors Spark's 1-based
    // bitmap_bucket_number (positive ids 1-based, id 0 in bucket 0)
    "agg_bitmap_native" ->
      """WITH b AS (
        |  SELECT event_type, user_id,
        |    CASE WHEN user_id > 0 THEN (user_id - 1) // 32768 + 1
        |         ELSE CAST(user_id / 32768 AS BIGINT) END AS bucket
        |  FROM events)
        |SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT bucket) AS n_buckets
        |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin,
    // semi/anti via EXISTS — the decorrelated form of the same joins
    "sql_semi_anti" ->
      """WITH w AS (
        |  SELECT c_nationkey, count(*) AS n_with_orders FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_nationkey),
        |wo AS (
        |  SELECT c_nationkey, count(*) AS n_without_orders FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_nationkey),
        |base AS (SELECT c_nationkey, count(*) AS n_customers
        |         FROM customer GROUP BY c_nationkey)
        |SELECT base.c_nationkey, n_customers,
        |  coalesce(n_with_orders, 0) AS n_with_orders,
        |  coalesce(n_without_orders, 0) AS n_without_orders
        |FROM base
        |LEFT JOIN w ON base.c_nationkey = w.c_nationkey
        |LEFT JOIN wo ON base.c_nationkey = wo.c_nationkey
        |ORDER BY base.c_nationkey""".stripMargin,
    // API-bound parameters vs the same values inlined
    "sql_named_params" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_totalprice > 200000 AND o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // procedural doubling search vs the declarative closed form
    "sql_scripting" ->
      """WITH tot AS (SELECT count(*) AS total FROM orders),
        |ks AS (SELECT unnest(generate_series(0, 40)) AS k),
        |cov AS (SELECT k, CAST(1 AS BIGINT) << CAST(k AS INT) AS thr FROM ks),
        |cnt AS (SELECT c.k, c.thr,
        |  (SELECT count(*) FROM orders o WHERE o.o_totalprice <= c.thr) AS n_covered
        |  FROM cov c)
        |SELECT thr AS threshold, n_covered, total AS n_total
        |FROM cnt CROSS JOIN tot WHERE n_covered * 10 >= total * 9
        |ORDER BY k LIMIT 1""".stripMargin,
    // SQL UDF + SQL TVF macro-expanded: oracle inlines the bodies
    "sql_udf" ->
      """SELECT b.bucket, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS net_revenue
        |FROM lineitem l JOIN (SELECT unnest(generate_series(0, 4)) AS bucket) b
        |  ON l.l_quantity >= b.bucket * 10 + 1
        | AND l.l_quantity <= b.bucket * 10 + 10
        |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin,
    // native DISTINCT ON syntax vs the row_number translation; the
    // ORDER BY is total so both engines pick the identical row
    "sql_distinct_on" ->
      """SELECT DISTINCT ON (c_nationkey, c_mktsegment)
        |  c_nationkey, c_mktsegment, c_custkey, c_acctbal
        |FROM customer
        |ORDER BY c_nationkey, c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin,
    // KMV set-operation estimates: same Hash60 minima, integer
    // estimators (HUGEINT replays the DECIMAL numerator)
    "agg_kmv_setops" ->
      """WITH ud AS (SELECT DISTINCT event_type AS t, user_id FROM events),
        |hh AS (SELECT t, user_id,
        |  CAST(('0x'||substring(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) AS h FROM ud),
        |sk AS (SELECT t, h FROM (
        |  SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rk FROM hh)
        |  WHERE rk <= 64),
        |ex AS (SELECT t, count(*) AS n_exact FROM ud GROUP BY t),
        |tp AS (SELECT a.t AS ta, a.n_exact AS exact_a, b.t AS tb, b.n_exact AS exact_b
        |       FROM ex a JOIN ex b ON a.t < b.t),
        |ei AS (SELECT a.t AS ta, b.t AS tb, count(*) AS exact_inter
        |       FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.t < b.t GROUP BY 1, 2),
        |uh AS (SELECT DISTINCT ta, tb, h FROM (
        |  SELECT tp.ta, tp.tb, sk.h FROM tp JOIN sk ON sk.t = tp.ta
        |  UNION ALL SELECT tp.ta, tp.tb, sk.h FROM tp JOIN sk ON sk.t = tp.tb)),
        |mg0 AS (SELECT ta, tb, h, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk FROM uh),
        |mg AS (SELECT m.ta, m.tb, m.h,
        |    CASE WHEN sa.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
        |    CASE WHEN sb.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
        |  FROM mg0 m LEFT JOIN sk sa ON sa.t = m.ta AND sa.h = m.h
        |             LEFT JOIN sk sb ON sb.t = m.tb AND sb.h = m.h
        |  WHERE m.rk <= 64),
        |est AS (SELECT ta, tb, count(*) AS n_m, max(h) AS theta,
        |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m_both
        |  FROM mg GROUP BY 1, 2),
        |est2 AS (SELECT ta, tb, n_m, m_both,
        |    CASE WHEN n_m < 64 THEN n_m
        |         ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976) // theta AS BIGINT) END AS kmv_union_est
        |  FROM est),
        |est3 AS (SELECT ta, tb, kmv_union_est,
        |    CASE WHEN n_m < 64 THEN m_both ELSE m_both * kmv_union_est // 64 END AS kmv_inter_est
        |  FROM est2)
        |SELECT tp.ta, tp.tb, exact_a, exact_b,
        |  exact_a + exact_b - coalesce(exact_inter, 0) AS exact_union,
        |  coalesce(exact_inter, 0) AS exact_inter, kmv_union_est, kmv_inter_est
        |FROM tp LEFT JOIN ei USING (ta, tb) JOIN est3 USING (ta, tb)
        |ORDER BY ta, tb""".stripMargin,
    // binding ≡ inlining: the oracle runs the inlined spelling
    "sql_dynamic" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 150000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // percentile_disc picks OBSERVED values (no interpolation), so
    // quantile_disc matches exactly (same smallest-reaching-p rule)
    "agg_ordered_set" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  quantile_disc(o_totalprice, 0.25) AS p25,
        |  quantile_disc(o_totalprice, 0.5)  AS p50,
        |  quantile_disc(o_totalprice, 0.75) AS p75
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // the variable is one exact double halving of an exact max, so
    // the oracle inlines the identical subquery
    "sql_session_var" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  (SELECT max(o_totalprice) / 2 FROM orders) AS price_floor
        |FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) / 2 FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // pipe stages compile to the same operators the classic clauses
    // would — the oracle runs the classic spelling
    "sql_pipe_syntax" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Spark's native EXCEPT select-list vs DuckDB's native EXCLUDE
    "sql_star_except" ->
      """SELECT * EXCLUDE (c_name, c_mktsegment)
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // native QUALIFY vs the window-column + filter translation
    "sql_qualify" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |  row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey) AS rn
        |FROM customer
        |QUALIFY rn <= 2
        |ORDER BY c_nationkey, rn""".stripMargin,
    // native quantified comparisons vs the min/max-bound rewrite;
    // > ALL over an empty set is TRUE, > ANY FALSE
    "sql_quantified" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        |  s_acctbal > ALL (SELECT c_acctbal FROM customer
        |                   WHERE c_nationkey = s_nationkey) AS gt_all,
        |  s_acctbal > ANY (SELECT c_acctbal FROM customer
        |                   WHERE c_nationkey = s_nationkey) AS gt_any
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    // deterministic mode: tie-break = (count, value) lexicographic max
    "agg_mode_exact" ->
      """WITH c AS (
        |  SELECT c_nationkey, o_orderpriority, count(*) AS cnt
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT c_nationkey, o_orderpriority, cnt,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY cnt DESC, o_orderpriority DESC) AS rn,
        |    sum(cnt) OVER (PARTITION BY c_nationkey) AS tot,
        |    max(cnt) OVER (PARTITION BY c_nationkey) AS mx
        |  FROM c)
        |SELECT c_nationkey, o_orderpriority AS mode_priority,
        |  CAST(mx AS BIGINT) AS mode_cnt, CAST(tot AS BIGINT) AS n_orders
        |FROM r WHERE rn = 1 ORDER BY c_nationkey""".stripMargin,
    // 3rd/4th moments from DECIMAL(38,0) power sums; the central-
    // moment expression mirrors the Spark side's operation order
    // exactly so the doubles agree bitwise
    "agg_moments_exact" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(c AS HUGEINT)) AS s1,
        |    sum(CAST(c AS HUGEINT)*c) AS s2,
        |    sum(CAST(c AS HUGEINT)*c*c) AS s3,
        |    sum(CAST(c AS HUGEINT)*c*c*c) AS s4
        |  FROM (SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events)
        |  GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, s1,
        |    n*s2 - s1*s1 AS M2,
        |    n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS M3,
        |    n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1 AS M4
        |  FROM g)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_value,
        |  CAST(M2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m2_cents,
        |  CASE WHEN CAST(M2 AS DOUBLE) <> 0.0 THEN
        |    CAST(M3 AS DOUBLE) / (CAST(M2 AS DOUBLE) * sqrt(CAST(M2 AS DOUBLE))) END AS skewness,
        |  CASE WHEN CAST(M2 AS DOUBLE) <> 0.0 THEN
        |    CAST(M4 AS DOUBLE) / (CAST(M2 AS DOUBLE) * CAST(M2 AS DOUBLE)) - 3.0 END AS kurtosis_excess
        |FROM m ORDER BY event_type""".stripMargin,
    "agg_corr_exact" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS BIGINT)) AS sx,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sy,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS syy,
        |    sum(CAST(l_quantity AS BIGINT) * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_exact,
        |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0 AS covar_pop,
        |  sqrt((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0 AS stddev_pop_price,
        |  TRUE AS builtin_agrees
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "sql_recursive_cte" ->
      """WITH RECURSIVE chain AS (
        |  SELECT c_custkey AS root, c_custkey AS node, 0 AS depth FROM customer
        |  UNION ALL
        |  SELECT root, node // 2 AS node, depth + 1 FROM chain WHERE node > 1)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_customers FROM (
        |  SELECT root, max(depth) AS depth FROM chain GROUP BY root) t
        |GROUP BY depth ORDER BY depth""".stripMargin,
    "win_ignore_nulls" ->
      """SELECT user_id, event_id, event_type,
        |  last_value(pval IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase,
        |  lag(pval, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_purchase,
        |  lead(pval, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_purchase,
        |  nth_value(pval, 2 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_purchase
        |FROM (SELECT *, CASE WHEN event_type = 'purchase' THEN value END AS pval FROM events) t
        |ORDER BY user_id, event_id""".stripMargin,
    "expr_regex" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
        |  regexp_matches(p_name, '^(red|blue|green)') AS is_color_named
        |FROM part ORDER BY p_partkey""".stripMargin,
    "sink_partitioned_prune" ->
      """SELECT epoch_ns(ts)//1000000000//3600*3600 AS hour_sec, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1 ORDER BY hour_sec""".stripMargin,

    // Sketch surface: exact NDVs are engine-exact; the booleans are
    // Spark-side sketch-vs-exact error checks that the oracle pins to
    // TRUE (a sketch outside its error bound fails the hash).
    "agg_approx_stats" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_ndv_partkey,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_ndv_orderkey,
        |  TRUE AS ndv_partkey_within_bound,
        |  TRUE AS ndv_orderkey_within_bound,
        |  TRUE AS median_within_bound
        |FROM lineitem""".stripMargin,
    "agg_sketch_merge" ->
      """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_ndv,
        |  TRUE AS merged_within_bound,
        |  TRUE AS direct_within_bound,
        |  TRUE AS merge_consistent
        |FROM lineitem""".stripMargin,

    // §2.12 the optimizer-rewritten window formulation — same
    // row_number ≤ k semantics, planned onto TopKPerKeyExec
    "win_topk_rewrite" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin,
    // §2.12 native TopKPerKey — exactly row_number ≤ k semantics
    "win_topk_native" ->
      """SELECT p_brand, p_partkey, p_retailprice, rank FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rank
        |  FROM part) t
        |WHERE rank <= 3 ORDER BY p_brand, rank""".stripMargin
  )
}
