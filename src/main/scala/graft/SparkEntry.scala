package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftext.{QuerySession, SmallSort}
import graft.queries.{Relational, Suite}

/** Driver contract — see /root/repo/SURVEY.md §2 for the component each
  * query key covers. Every SQL-expressible key also appears in oracleSql
  * with IDENTICAL output column names/types (DuckDB at sf0.01 is the
  * correctness gate).
  */
object SparkEntry {

  type Query = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, built once,
    * as the operators define them: each runs on exactly the session it
    * is handed. Callers go through [[queries]]. */
  private[graft] val raw: Map[String, Query] = Map[String, Query](
    // core relational (SURVEY §2 row 19, row 1, row 11)
    "q1_agg" -> (Relational.q1Agg _),
    "q2_filter" -> (Relational.q2Filter _),
    "q3_join" -> (Relational.q3Join _),
    "q4_sort_limit" -> (Relational.q4SortLimit _),
    "q5_distinct" -> (Relational.q5Distinct _),
    "q6_region_join" -> (Relational.q6RegionJoin _),
    "q7_window" -> (Relational.q7Window _),
    "q8_semijoin" -> (Relational.q8Semijoin _),
    "q9_antijoin" -> (Relational.q9Antijoin _),
    "q10_rollup" -> (Relational.q10Rollup _),
    "q11_case_agg" -> (Relational.q11CaseAgg _),
    "q12_union" -> (Relational.q12Union _),
    "q13_percentile" -> (Relational.q13Percentile _),
    "q13_approx" -> (Relational.q13Approx _),
    "q29_rank_funcs" -> (Relational.q29RankFuncs _),
    "q28_full_outer" -> (Relational.q28FullOuter _),
    "q14_dates" -> (Relational.q14Dates _),
    "q15_strings" -> (Relational.q15Strings _),
    "q17_intersect" -> (Relational.q17Intersect _),
    "q18_except" -> (Relational.q18Except _),
    "q19_having" -> (Relational.q19Having _),
    "q20_scalar_subquery" -> (Relational.q20ScalarSubquery _),
    "q21_array_agg" -> (Relational.q21ArrayAgg _),
    "q22_histogram" -> (Relational.q22Histogram _),
    "q23_grouping_sets" -> (Relational.q23GroupingSets _),
    "q24_pivot" -> (Relational.q24Pivot _),
    "q25_bucketed_join" -> (Relational.q25BucketedJoin _),
    "q26_skew_salted" -> (Relational.q26SkewSalted _),
    "q27_latest" -> (Relational.q27Latest _),
    "meta_profile_str" -> (Suite.metaProfileStr _),
    "render_slice" -> (Relational.renderSlice _),
    // ingestion / export / serde / bundles (rows 2-6, 8, 14)
    "ingest_csv" -> (Suite.ingestCsv _),
    "ingest_json" -> (Suite.ingestJson _),
    "ingest_orc" -> (Suite.ingestOrc _),
    "export_roundtrip" -> (Suite.exportRoundtrip _),
    "serde_json" -> (Suite.serdeJson _),
    "bundle_stats" -> (Suite.bundleStats _),
    "bundle_pick" -> (Suite.bundlePick _),
    // registries + pipeline (rows 9, 15, 16)
    "registry_roundtrip" -> (Suite.registryRoundtrip _),
    "registry_archive" -> (Suite.registryArchive _),
    "pipeline_demo" -> (Suite.pipelineDemo _),
    "pipeline_llm" -> (Suite.pipelineLlm _),
    // profiling (row 7)
    "meta_profile" -> (Suite.metaProfile _),
    "meta_profile_approx" -> (Suite.metaProfileApprox _),
    // text analysis (§2b rows 27-32)
    "text_tokens" -> (Suite.textTokens _),
    "text_nfc" -> (Suite.textNfc _),
    "text_tfidf" -> (Suite.textTfidf _),
    "text_lang_stats" -> (Suite.textLangStats _),
    "text_ngrams" -> (Suite.textNgrams _),
    "text_quality" -> (Suite.textQuality _),
    "text_langid" -> (Suite.textLangid _),
    "text_fingerprint" -> (Suite.textFingerprint _),
    "text_bpe_tokens" -> (Suite.textBpeTokens _),
    "text_pii" -> (Suite.textPii _),
    "text_url_filter" -> (Suite.textUrlFilter _),
    "text_decontam" -> (Suite.textDecontam _),
    "text_repetition" -> (Suite.textRepetition _),
    "text_perplexity" -> (Suite.textPerplexity _),
    "text_ppl_buckets" -> (Suite.textPplBuckets _),
    "text_bigram_ce" -> (Suite.textBigramCe _),
    "text_hashed_lr" -> (Suite.textHashedLr _),
    "text_gopher" -> (Suite.textGopher _),
    "text_line_dedup" -> (Suite.textLineDedup _),
    "text_pack" -> (Suite.textPack _),
    "text_vocab" -> (Suite.textVocab _),
    "text_heavy_hitters" -> (Suite.textHeavyHitters _),
    "text_chunk" -> (Suite.textChunk _),
    "sample_group" -> (Suite.sampleGroup _),
    "mix_sampled" -> (Suite.mixSampled _),
    "mix_dsir" -> (Suite.mixDsir _),
    "split_assign" -> (Suite.splitAssign _),
    "pipeline_curate" -> (Suite.pipelineCurate _),
    "maint_compact" -> (Suite.maintCompact _),
    "maint_cluster" -> (Suite.maintCluster _),
    "maint_bloom_skip" -> (Suite.maintBloomSkip _),
    "maint_meta_count" -> (Suite.maintMetaCount _),
    "maint_orphan_gc" -> (Suite.maintOrphanGc _),
    "maint_hidden_partition" -> (Suite.maintHiddenPartition _),
    "maint_constraint" -> (Suite.maintConstraint _),
    "maint_zorder" -> (Suite.maintZorder _),
    "q16_sql" -> (Suite.sqlTpchQ5 _),
    "q37_sql_kernels" -> (Suite.q37SqlKernels _),
    "sim_centroids" -> (Suite.simCentroids _),
    "sim_hard_negatives" -> (Suite.simHardNegatives _),
    "sim_hybrid_rrf" -> (Suite.simHybridRrf _),
    "sim_knn_classify" -> (Suite.simKnnClassify _),
    "sim_label_outliers" -> (Suite.simLabelOutliers _),
    "dedup_overlap_matrix" -> (Suite.dedupSourceOverlap _),
    "mix_token_budget" -> (Suite.mixTokenBudget _),
    "dedup_containment" -> (Suite.dedupContainment _),
    "dedup_fuzzy_match" -> (Suite.dedupFuzzyMatch _),
    "evt_gapfill" -> (Suite.evtGapfill _),
    "mix_temperature" -> (Suite.mixTemperature _),
    "text_fertility" -> (Suite.textFertility _),
    "q30_setops" -> (Relational.q30SetOps _),
    "text_ctx_buckets" -> (Suite.textCtxBuckets _),
    "dq_corr" -> (Suite.dqCorr _),
    "stream_topk" -> (Suite.streamTopK _),
    "maint_hive_partition" -> (Suite.maintHivePartition _),
    "q31_lateral" -> (Relational.q31Lateral _),
    "q32_unpivot" -> (Relational.q32Unpivot _),
    "q33_cube" -> (Relational.q33Cube _),
    "stream_dedup_wm" -> (Suite.streamDedupWm _),
    "maint_erase" -> (Suite.maintErase _),
    "meta_entropy" -> (Suite.metaEntropy _),
    "sim_mmr" -> (Suite.simMmr _),
    "evt_dau_mau" -> (Suite.evtDauMau _),
    "text_langid_confusion" -> (Suite.textLangidConfusion _),
    "text_url_canon" -> (Suite.textUrlCanon _),
    "dq_benford" -> (Suite.dqBenford _),
    "evt_pareto" -> (Suite.evtPareto _),
    "evt_interarrival" -> (Suite.evtInterarrival _),
    "evt_peak_concurrency" -> (Suite.evtPeakConcurrency _),
    "evt_churn" -> (Suite.evtChurn _),
    "rel_rfm" -> (Suite.relRfm _),
    "dq_referential" -> (Suite.dqReferential _),
    "text_zipf" -> (Suite.textZipf _),
    "sim_semdedup" -> (Suite.simSemDedup _),
    "rel_skyline" -> (Suite.relSkyline _),
    "rel_item_cf" -> (Suite.relItemCf _),
    "evt_seasonality" -> (Suite.evtSeasonality _),
    "dq_chi2" -> (Suite.dqChi2 _),
    "q34_equidepth" -> (Relational.q34Equidepth _),
    "rel_assoc_rules" -> (Suite.relAssocRules _),
    "evt_forecast_snaive" -> (Suite.evtForecastSnaive _),
    "evt_holt" -> (Suite.evtHolt _),
    "evt_holt_winters" -> (Suite.evtHoltWinters _),
    "evt_backtest" -> (Suite.evtBacktest _),
    "dedup_simhash_scale" -> (Suite.dedupSimhashScale _),
    "dq_wasserstein" -> (Suite.dqWasserstein _),
    "dq_assoc" -> (Suite.dqAssoc _),
    "dedup_minhash_est_err" -> (Suite.dedupMinhashEstErr _),
    "feat_gains" -> (Suite.featGains _),
    "feat_calibration" -> (Suite.featCalibration _),
    "feat_brier" -> (Suite.featBrier _),
    "evt_hazard" -> (Suite.evtHazard _),
    "text_lexdiv" -> (Suite.textLexdiv _),
    "evt_uplift" -> (Suite.evtUplift _),
    "graph_wcc" -> (Suite.graphWcc _),
    "feat_mutual_info" -> (Suite.featMutualInfo _),
    "rel_hhi" -> (Suite.relHhi _),
    "evt_acf" -> (Suite.evtAcf _),
    "dq_xi_corr" -> (Suite.dqXiCorr _),
    "dq_anova2" -> (Suite.dqAnova2 _),
    "sim_silhouette" -> (Suite.simSilhouette _),
    "evt_adf" -> (Suite.evtAdf _),
    "evt_bayes_ab" -> (Suite.evtBayesAb _),
    "graph_jaccard" -> (Suite.graphJaccard _),
    "text_burstiness" -> (Suite.textBurstiness _),
    "evt_user_entropy" -> (Suite.evtUserEntropy _),
    "sim_ild" -> (Suite.simIld _),
    "mm_audio" -> (Suite.mmAudio _),
    "text_code_detect" -> (Suite.textCodeDetect _),
    "evt_funnel_ci" -> (Suite.evtFunnelCi _),
    "rel_new_repeat" -> (Suite.relNewRepeat _),
    "feat_rand_proj" -> (Suite.featRandProj _),
    "rel_repeat_interval" -> (Suite.relRepeatInterval _),
    "rel_price_dispersion" -> (Suite.relPriceDispersion _),
    "text_dup_rate" -> (Suite.textDupRate _),
    "evt_slo_burn" -> (Suite.evtSloBurn _),
    "dq_level_drift" -> (Suite.dqLevelDrift _),
    "evt_dow_anova" -> (Suite.evtDowAnova _),
    "mix_effective_tokens" -> (Suite.mixEffectiveTokens _),
    "text_readability" -> (Suite.textReadability _),
    "dq_skew" -> (Suite.dqSkew _),
    "sim_cluster_purity" -> (Suite.simClusterPurity _),
    "dq_ldiversity" -> (Suite.dqLdiversity _),
    "dq_tcloseness" -> (Suite.dqTcloseness _),
    "dq_dp_counts" -> (Suite.dqDpCounts _),
    "dq_outlier_mad" -> (Suite.dqOutlierMad _),
    "evt_cusum" -> (Suite.evtCusum _),
    "evt_islands" -> (Suite.evtIslands _),
    "evt_shapley" -> (Suite.evtShapley _),
    "evt_watermark_audit" -> (Suite.evtWatermarkAudit _),
    "evt_survival_km" -> (Suite.evtSurvival _),
    "rel_elasticity" -> (Suite.relElasticity _),
    "dq_gini" -> (Suite.dqGini _),
    "text_cms_verified" -> (Suite.textCmsVerified _),
    "dq_ks_test" -> (Suite.dqKsTest _),
    "dq_mannwhitney" -> (Suite.dqMannWhitney _),
    "dq_fd_audit" -> (Suite.dqFdAudit _),
    "graph_adamic_adar" -> (Suite.graphAdamicAdar _),
    "text_pmi" -> (Suite.textPmi _),
    "sim_radius" -> (Suite.simRadius _),
    "mix_curriculum" -> (Suite.mixCurriculum _),
    "evt_paths" -> (Suite.evtPaths _),
    "evt_ewma" -> (Suite.evtEwma _),
    "evt_power" -> (Suite.evtPower _),
    "graph_degree_stats" -> (Suite.graphDegreeStats _),
    "mm_frame_sample" -> (Suite.mmFrameSample _),
    "evt_rolling_corr" -> (Suite.evtRollingCorr _),
    "q35_window_distinct" -> (Relational.q35WindowDistinct _),
    "text_filter_funnel" -> (Suite.textFilterFunnel _),
    "rel_migration" -> (Suite.relMigration _),
    "dq_split_leakage" -> (Suite.dqSplitLeakage _),
    "sim_kmeans" -> (Suite.simKmeans _),
    "dedup_cdc_chunks" -> (Suite.dedupCdcChunks _),
    "evt_bursts" -> (Suite.evtBursts _),
    "dq_freshness" -> (Suite.dqFreshness _),
    "rel_top_movers" -> (Suite.relTopMovers _),
    "dq_suggest_constraints" -> (Suite.dqSuggestConstraints _),
    "graph_kcore" -> (Suite.graphKcore _),
    "evt_decompose" -> (Suite.evtDecompose _),
    "text_compress_ratio" -> (Suite.textCompressRatio _),
    "sim_threshold_sweep" -> (Suite.simThresholdSweep _),
    "maint_delete_vector" -> (Suite.maintDeleteVector _),
    "sim_filtered_topk" -> (Suite.simFilteredTopk _),
    "evt_srm" -> (Suite.evtSrm _),
    "maint_upsert_mor" -> (Suite.maintUpsertMor _),
    "dq_key_audit" -> (Suite.dqKeyAudit _),
    "evt_cuped" -> (Suite.evtCuped _),
    "stream_sliding" -> (Suite.streamSliding _),
    "evt_markov2" -> (Suite.evtMarkov2 _),
    "rel_yoy" -> (Suite.relYoy _),
    "evt_seq_match" -> (Suite.evtSeqMatch _),
    "dq_spearman" -> (Suite.dqSpearman _),
    "graph_cluster_coeff" -> (Suite.graphClusterCoeff _),
    "feat_target_encode" -> (Suite.featTargetEncode _),
    "text_jsd_drift" -> (Suite.textJsdDrift _),
    "dq_anova" -> (Suite.dqAnova _),
    "evt_did" -> (Suite.evtDid _),
    "evt_time_to_convert" -> (Suite.evtTimeToConvert _),
    "sample_neyman" -> (Suite.sampleNeyman _),
    "stream_funnel" -> (Suite.streamFunnel _),
    "feat_woe" -> (Suite.featWoe _),
    "feat_user_profile" -> (Suite.featUserProfile _),
    "sim_ivfpq_topk" -> (Suite.simIvfpqTopk _),
    "sim_index_persist" -> (Suite.simIndexPersist _),
    "rel_priority_sla" -> (Suite.relPrioritySla _),
    "dq_temporal" -> (Suite.dqTemporal _),
    "text_keyphrase" -> (Suite.textKeyphrase _),
    "text_heaps" -> (Suite.textHeaps _),
    "stream_hll_distinct" -> (Suite.streamHllDistinct _),
    "mm_phash" -> (Suite.mmPhash _),
    "mm_near_dup" -> (Suite.mmNearDup _),
    "q36_share" -> (Relational.q36Share _),
    "dq_reconcile" -> (Suite.dqReconcile _),
    "evt_causal_impact" -> (Suite.evtCausalImpact _),
    "feat_pca" -> (Suite.featPca _),
    "rel_substitutes" -> (Suite.relSubstitutes _),
    "graph_modularity" -> (Suite.graphModularity _),
    "rel_price_volume_mix" -> (Suite.relPriceVolumeMix _),
    "sample_bootstrap_ci" -> (Suite.sampleBootstrapCi _),
    "sim_trunc_recall" -> (Suite.simTruncRecall _),
    "rel_trend_by_group" -> (Suite.relTrendByGroup _),
    "feat_kfold" -> (Suite.featKfold _),
    "maint_migrate_format" -> (Suite.maintMigrateFormat _),
    "evt_mttr" -> (Suite.evtMttr _),
    "feat_target_encode_oof" -> (Suite.featTargetEncodeOof _),
    "rel_abc_xyz" -> (Suite.relAbcXyz _),
    "feat_scaler" -> (Suite.featScaler _),
    "dq_table_hash" -> (Suite.dqTableHash _),
    "sim_embedding_health" -> (Suite.simEmbeddingHealth _),
    "evt_dow_hour_heatmap" -> (Suite.evtDowHourHeatmap _),
    "rel_basket_size" -> (Suite.relBasketSize _),
    "rel_supplier_scorecard" -> (Suite.relSupplierScorecard _),
    "evt_value_bands" -> (Suite.evtValueBands _),
    "feat_auc" -> (Suite.featAuc _),
    "sim_nprobe_sweep" -> (Suite.simNprobeSweep _),
    "rel_order_aging" -> (Suite.relOrderAging _),
    "pipeline_features" -> (Suite.pipelineFeatures _),
    "feat_supervised_bins" -> (Suite.featSupervisedBins _),
    "dq_rare_levels" -> (Suite.dqRareLevels _),
    "text_vocab_coverage" -> (Suite.textVocabCoverage _),
    "rel_triples" -> (Suite.relTriples _),
    "mix_dedup_weight" -> (Suite.mixDedupWeight _),
    "evt_rolling_distinct_hll" -> (Suite.evtRollingDistinctHll _),
    "rel_ltv" -> (Suite.relLtv _),
    "text_script_mix" -> (Suite.textScriptMix _),
    "dq_event_order" -> (Suite.dqEventOrder _),
    "mix_epoch_plan" -> (Suite.mixEpochPlan _),
    "evt_bot_detect" -> (Suite.evtBotDetect _),
    "evt_funnel_windowed" -> (Suite.evtFunnelWindowed _),
    "evt_audience_overlap" -> (Suite.evtAudienceOverlap _),
    "text_topics_lda" -> (Suite.textTopicsLda _),
    "rel_fpgrowth" -> (Suite.relFpgrowth _),
    "rel_prefixspan" -> (Suite.relPrefixspan _),
    "evt_quantiles_kll" -> (Suite.evtQuantilesKll _),
    "maint_branch" -> (Suite.maintBranch _),
    "stream_quantiles" -> (Suite.streamQuantiles _),
    "stream_cms" -> (Suite.streamCms _),
    "stream_snapshot_sink" -> (Suite.streamSnapshotSink _),
    // dedup (§2b rows 20-23)
    "dedup_exact" -> (Suite.dedupExact _),
    "dedup_bloom" -> (Suite.dedupBloom _),
    "dedup_sorted_nbr" -> (Suite.dedupSortedNbr _),
    "dedup_prefix_pairs" -> (Suite.dedupPrefixPairs _),
    "dedup_minhash" -> (Suite.dedupMinhash _),
    "dedup_simhash" -> (Suite.dedupSimhash _),
    "dedup_ngram_jaccard" -> (Suite.dedupNgramJaccard _),
    "dedup_minhash_verified" -> (Suite.dedupMinhashVerified _),
    "dedup_incremental" -> (Suite.dedupIncremental _),
    // similarity (§2b rows 24-25)
    "sim_topk_exact" -> (Suite.simTopkExact _),
    "sim_quant_topk" -> (Suite.simQuantTopk _),
    "sim_pq_topk" -> (Suite.simPqTopk _),
    "sim_ann_lsh" -> (Suite.simAnnLsh _),
    "sim_recall_at_k" -> (Suite.simRecallAtK _),
    "dedup_embedding" -> (Suite.dedupEmbedding _),
    "dedup_clusters" -> (Suite.dedupClusters _),
    "dedup_clusters_verified" -> (Suite.dedupClustersVerified _),
    "sim_ivf_topk" -> (Suite.simIvfTopk _),
    // multimodal (§2b row 26)
    "mm_bytes" -> (Suite.mmBytes _),
    "mm_decode" -> (Suite.mmDecode _),
    // events + streaming (§2b rows 33-36)
    "evt_sessionize" -> (Suite.evtSessionize _),
    "evt_window_agg" -> (Suite.evtWindowAgg _),
    "evt_topk_users" -> (Suite.evtTopkUsers _),
    "evt_topk_per_user" -> (Suite.evtTopkPerUser _),
    "evt_cohort" -> (Suite.evtCohort _),
    "evt_anomaly" -> (Suite.evtAnomalies _),
    "evt_transitions" -> (Suite.evtTransitions _),
    "dq_expectations" -> (Suite.dqExpectations _),
    "maint_incr_agg" -> (Suite.maintIncrAgg _),
    "maint_merge" -> (Suite.maintMerge _),
    "maint_idempotent" -> (Suite.maintIdempotent _),
    "mix_weighted" -> (Suite.mixWeighted _),
    "evt_trend" -> (Suite.evtTrend _),
    "dq_drift" -> (Suite.dqDrift _),
    "maint_scd2" -> (Suite.maintScd2 _),
    "dq_kanon" -> (Suite.dqKanon _),
    "maint_snapshot" -> (Suite.maintSnapshot _),
    "maint_snapshot_diff" -> (Suite.maintSnapshotDiff _),
    "rel_copurchase" -> (Suite.relCopurchase _),
    "evt_abtest" -> (Suite.evtAbtest _),
    "maint_schema_evo" -> (Suite.maintSchemaEvo _),
    "evt_winsorized" -> (Suite.evtWinsorized _),
    "evt_attribution" -> (Suite.evtAttribution _),
    "dedup_keep_best" -> (Suite.dedupKeepBest _),
    "graph_pagerank" -> (Suite.graphPagerank _),
    "graph_label_prop" -> (Suite.graphLabelProp _),
    "graph_triangles" -> (Suite.graphTriangles _),
    "graph_khops" -> (Suite.graphKhops _),
    "text_bm25" -> (Suite.textBm25 _),
    "text_shared_spans" -> (Suite.textSharedSpans _),
    "text_scrub_spans" -> (Suite.textScrubSpans _),
    "text_bpe_train" -> (Suite.textBpeTrain _),
    "text_bpe_encode" -> (Suite.textBpeEncode _),
    "evt_props" -> (Suite.evtProps _),
    "evt_asof_join" -> (Suite.evtAsofJoin _),
    "evt_range_join" -> (Suite.evtRangeJoin _),
    "evt_rolling" -> (Suite.evtRolling _),
    "evt_funnel" -> (Suite.evtFunnel _),
    "evt_session_window" -> (Suite.evtSessionWindow _),
    "stream_window" -> (Suite.streamWindow _),
    "stream_join" -> (Suite.streamJoin _),
    "stream_left_join" -> (Suite.streamLeftJoin _),
    "stream_dedup" -> (Suite.streamDedup _),
    "stream_drift" -> (Suite.streamDrift _),
    "stream_upsert" -> (Suite.streamUpsert _),
    "stream_sessionize" -> (Suite.streamSessionize _),
    "stream_sessionize_wm" -> (Suite.streamSessionizeWm _),
    "stream_dedup_replay" -> (Suite.streamDedupReplay _),
    "stream_enrich" -> (Suite.streamEnrich _)
  )

  /** Every [[raw]] query, run on its own [[QuerySession]] clone of the
    * caller's session ([[QuerySession.sized]]). The clone plans every
    * shuffle at one partition per `Sizing.RowsPerPartition` exact input
    * rows, capped at the caller's width, so a small input pays no
    * per-task cost for empty partitions; and it carries [[SmallSort]],
    * so small presentation sorts skip the range exchange's sampling
    * job. The caller's session is left as it was. */
  val queries: Map[String, Query] = raw.map { case (key, fn) =>
    key -> { (spark: SparkSession, dir: String) =>
      QuerySession.sized(spark, dir)(fn(_, dir)) }
  }

  /** dHash oracle, generated: 72 strided hex-parsed "pixels", 64
    * adjacent comparisons — byte-for-byte the Spark expression tree. */
  private def phashSql: String = {
    def px(i: Int) =
      s"('0x' || substr(hx, ((((nb - 1) * $i) // 71) * 2 + 1), 2))::INT"
    val bits = (0 until 8).flatMap(r => (0 until 8).map(c =>
      s"(CASE WHEN ${px(r * 9 + c)} > ${px(r * 9 + c + 1)} THEN '1' ELSE '0' END)"))
    s"""WITH b AS (SELECT doc_id, hex(text) AS hx,
       |    CAST(strlen(text) AS BIGINT) AS nb FROM documents
       |  WHERE doc_id % 20 = 0 AND strlen(text) >= 72)
       |SELECT doc_id, nb AS n_bytes, ${bits.mkString(" || ")} AS phash
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Media near-dup oracle, generated: the same planted last-byte-swap
    * twins, the 64-bit dHash replay of [[phashSql]] over the unioned
    * corpus, then BRUTE-FORCE all-pairs positional hamming (64 per-bit
    * CASE terms) at the same threshold — hash equality proves the
    * engine's 4×16 banding recalls exactly the brute-force pair set. */
  private def mmNearDupSql: String = {
    def px(i: Int) =
      s"('0x' || substr(hx, ((((nb - 1) * $i) // 71) * 2 + 1), 2))::INT"
    val bits = (0 until 8).flatMap(r => (0 until 8).map(c =>
      s"(CASE WHEN ${px(r * 9 + c)} > ${px(r * 9 + c + 1)} THEN '1' ELSE '0' END)"))
    val ham = (1 to 64).map(i =>
      s"(CASE WHEN substr(a.phash, $i, 1) <> substr(b.phash, $i, 1) THEN 1 ELSE 0 END)")
    s"""WITH o AS (SELECT ((max(doc_id) // 40) + 1) * 40 AS off FROM documents),
       |base AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id + (SELECT off FROM o) AS BIGINT),
       |    substr(text, 1, CAST(strlen(text) AS INT) - 1) || '~'
       |  FROM documents WHERE doc_id % 40 = 0 AND strlen(text) >= 72
       |    AND strlen(text) = length(text)),
       |b AS (SELECT doc_id, hex(text) AS hx,
       |    CAST(strlen(text) AS BIGINT) AS nb FROM base
       |  WHERE doc_id % 20 = 0 AND strlen(text) >= 72),
       |s AS (SELECT doc_id, ${bits.mkString(" || ")} AS phash FROM b)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(${ham.mkString(" + ")} AS BIGINT) AS hamming
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Portable-simhash oracle, generated: 32 ±1-sum bit terms over
    * md5-bridge token hashes replay Dedup.simhashPortable's SimHashAgg
    * arithmetic exactly (bits 32–63 of the long are provably 0 — the
    * per-token counters stay strictly negative there); the same planted
    * tail-edit twins as the Spark query, then BRUTE-FORCE all-pairs
    * hamming — so hash equality proves both the signature bits and the
    * 4×8 banding's pigeonhole recall. */
  private def simhashSql: String = {
    val bits = (0 until 32).map(i =>
      s"""CASE WHEN sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) > 0
         |    THEN CAST(${1L << i} AS BIGINT) ELSE 0 END""".stripMargin)
    s"""WITH base AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id + 1000000 AS BIGINT), text || ' tail'
       |  FROM documents WHERE doc_id % 50 = 0),
       |t AS (SELECT doc_id, $toksSql AS toks FROM base),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)),
       |s AS (SELECT doc_id, CAST(${bits.mkString(" + ")} AS BIGINT) AS sh
       |  FROM h GROUP BY doc_id)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |WHERE hamming <= 3 ORDER BY hamming, doc_a, doc_b""".stripMargin
  }

  /** MinHash estimate-vs-exact oracle: replays the 16 md5-bridge slot
    * hashes, per-slot mins, planted tail-trim twins, pair selection,
    * exact gram intersection, and the identical est/jaccard/abs-err
    * float expressions of Dedup.minhashEstErr. */
  private def minhashEstSql: String =
    s"""WITH t0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, $toksSql AS toks FROM documents),
       |tw AS (SELECT doc_id + 1000000 AS doc_id,
       |    toks[1:len(toks) - (1 + (len(toks) * (1 + doc_id % 7)) // 20)] AS toks
       |  FROM t0 WHERE doc_id % 11 = 0 AND len(toks) >= 12),
       |ub AS (SELECT * FROM t0 UNION ALL SELECT * FROM tw),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gr
       |  FROM ub WHERE len(toks) >= 3),
       |gc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY 1),
       |sig AS (SELECT doc_id, j,
       |    min(('0x' || substr(md5(gr || '|' || CAST(j AS VARCHAR)), 1, 8))::BIGINT) AS mh
       |  FROM g CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) js
       |  GROUP BY 1, 2),
       |ids AS (SELECT DISTINCT doc_id FROM g),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM ids a
       |    JOIN ids b ON b.doc_id = a.doc_id + 1000000
       |  UNION
       |  SELECT a.doc_id, b.doc_id FROM ids a
       |    JOIN ids b ON b.doc_id = a.doc_id + 1
       |  WHERE a.doc_id % 5 = 0 AND a.doc_id < 1000000),
       |mm AS (SELECT pr.doc_a, pr.doc_b,
       |    CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS m
       |  FROM pr JOIN sig sa ON sa.doc_id = pr.doc_a
       |    JOIN sig sb ON sb.doc_id = pr.doc_b AND sb.j = sa.j
       |  GROUP BY 1, 2),
       |xx AS (SELECT pr.doc_a, pr.doc_b, CAST(count(*) AS BIGINT) AS ni
       |  FROM pr JOIN g ga ON ga.doc_id = pr.doc_a
       |    JOIN g gb ON gb.doc_id = pr.doc_b AND gb.gr = ga.gr
       |  GROUP BY 1, 2),
       |fin AS (SELECT mm.doc_a, mm.doc_b, ca.ng AS n_grams_a, cb.ng AS n_grams_b,
       |    CAST(mm.m AS DOUBLE) / 16e0 AS er,
       |    CAST(coalesce(xx.ni, 0) AS DOUBLE)
       |      / CAST(ca.ng + cb.ng - coalesce(xx.ni, 0) AS DOUBLE) AS jr
       |  FROM mm LEFT JOIN xx ON xx.doc_a = mm.doc_a AND xx.doc_b = mm.doc_b
       |    JOIN gc ca ON ca.doc_id = mm.doc_a
       |    JOIN gc cb ON cb.doc_id = mm.doc_b)
       |SELECT doc_a, doc_b, n_grams_a, n_grams_b,
       |  CAST(floor(er * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS est_jaccard,
       |  CAST(floor(jr * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard,
       |  CAST(floor(abs(er - jr) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS abs_err
       |FROM fin ORDER BY doc_a, doc_b""".stripMargin

  /** Shared CTE body of the portable banded-MinHash replay (r11):
    * Kirsch–Mitzenmacher slot minima over distinct 3-grams (h_j =
    * a + j·b mod 2^32 from one md5's two 32-bit lanes — pure BIGINT
    * arithmetic both engines compute identically), j-ordered band keys,
    * band equi-join, matching-slot counts. `est` carries the rounded
    * m/32 estimate (exact binary for 32 slots, so thresholds and total
    * orders have no rounding ambiguity). */
  private def minhashBandedCtes: String =
    s"""t0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gr
       |  FROM t0 WHERE len(toks) >= 3),
       |sig AS (SELECT doc_id, j,
       |    min((('0x' || substr(md5(gr), 1, 8))::BIGINT
       |      + j * ('0x' || substr(md5(gr), 9, 8))::BIGINT) % 4294967296) AS mh
       |  FROM g CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) js
       |  GROUP BY 1, 2),
       |bk AS (SELECT doc_id,
       |    CAST(j // 4 AS VARCHAR) || ':' || string_agg(CAST(mh AS VARCHAR), ':' ORDER BY j) AS bkey
       |  FROM sig GROUP BY doc_id, j // 4),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a JOIN bk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |mm AS (SELECT p.doc_a, p.doc_b,
       |    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS m
       |  FROM pairs p JOIN sig sa ON sa.doc_id = p.doc_a
       |    JOIN sig sb ON sb.doc_id = p.doc_b AND sb.j = sa.j
       |  GROUP BY 1, 2),
       |est AS (SELECT doc_a, doc_b,
       |  CAST(floor(CAST(m AS DOUBLE) / 32e0 * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS est_jaccard
       |  FROM mm)""".stripMargin

  /** dedup_minhash oracle (r11): the banded replay above, top 200 under
    * the (est DESC, doc_a, doc_b) total order. */
  private def minhashBandedSql: String =
    s"""WITH $minhashBandedCtes
       |SELECT doc_a, doc_b, est_jaccard
       |FROM est ORDER BY est_jaccard DESC, doc_a, doc_b LIMIT 200""".stripMargin

  /** dedup_clusters oracle (r11): connected components over the
    * thresholded portable banded pairs — the banded replay feeds the
    * recursive-CTE transitive closure (dedup_clusters_verified
    * precedent), so BOTH the candidate generation and the distributed
    * min-label propagation are proven against an exact reference. */
  private def minhashClustersSql: String =
    s"""WITH RECURSIVE $minhashBandedCtes,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM est WHERE est_jaccard >= 0.2e0
       |      UNION SELECT doc_b, doc_a FROM est WHERE est_jaccard >= 0.2e0),
       |reach AS (SELECT src, dst FROM e
       |          UNION
       |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst)
       |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Categorical-association oracle: per column pair, the full-grid χ²
    * (empty cells included), the three n·ln(n) entropy moments, and the
    * identical bias-corrected-V / Theil's-U scalar expressions of
    * DataQuality.assocMatrix, generated per pair.
    *
    * ACCEPTED ROUNDING RISK (re-gate after any DuckDB version bump):
    * the χ² and n·ln(n) moments are double sums — key-sorted and
    * driver-side on the Spark side, hash-aggregation-ordered in DuckDB —
    * then floor-rounded at 4dp. Unlike the exact-integer-moment designs
    * (cuped/shapley), a last-ulp accumulation shift here could in
    * principle flip a half-boundary; the outputs are sqrt/ln-valued
    * (irrational), so a boundary hit is measure-zero over level-count
    * grids this small, and an exact-rational χ² would need per-cell
    * BIGINT fractions over an lcm of all marginals (the grid is tiny but
    * the lcm overflows 64-bit at these cardinalities). Documented risk
    * over false precision. */
  private def assocSql: String = {
    val colsMap = Seq("o_orderpriority" -> "a", "o_orderstatus" -> "b",
      "c_mktsegment" -> "c", "n_name" -> "d")
    val pairs = for {
      i <- colsMap.indices
      j <- (i + 1) until colsMap.length
    } yield (colsMap(i), colsMap(j))
    val blocks = pairs.zipWithIndex.map { case (((nx, ax), (ny, ay)), k) =>
      s"""ob$k AS (SELECT $ax AS vx, $ay AS vy, count(*) AS o FROM base GROUP BY 1, 2),
         |rx$k AS (SELECT vx, CAST(sum(o) AS BIGINT) AS nx FROM ob$k GROUP BY 1),
         |ry$k AS (SELECT vy, CAST(sum(o) AS BIGINT) AS ny FROM ob$k GROUP BY 1),
         |mo$k AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM rx$k) AS r,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ry$k) AS c,
         |    (SELECT sum(
         |      (CAST(coalesce(ob$k.o, 0) AS DOUBLE)
         |        - CAST(rx$k.nx AS DOUBLE) * CAST(ry$k.ny AS DOUBLE) / CAST(t.n AS DOUBLE))
         |      * (CAST(coalesce(ob$k.o, 0) AS DOUBLE)
         |        - CAST(rx$k.nx AS DOUBLE) * CAST(ry$k.ny AS DOUBLE) / CAST(t.n AS DOUBLE))
         |      / (CAST(rx$k.nx AS DOUBLE) * CAST(ry$k.ny AS DOUBLE) / CAST(t.n AS DOUBLE)))
         |      FROM rx$k CROSS JOIN ry$k CROSS JOIN tot t
         |        LEFT JOIN ob$k ON ob$k.vx = rx$k.vx AND ob$k.vy = ry$k.vy) AS chi2,
         |    (SELECT sum(CAST(nx AS DOUBLE) * ln(CAST(nx AS DOUBLE))) FROM rx$k) AS sx,
         |    (SELECT sum(CAST(ny AS DOUBLE) * ln(CAST(ny AS DOUBLE))) FROM ry$k) AS sy,
         |    (SELECT sum(CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE))) FROM ob$k) AS sxy),
         |row$k AS (SELECT '$nx' AS col_x, '$ny' AS col_y, r AS levels_x,
         |    c AS levels_y, (SELECT n FROM tot) AS n_rows,
         |    chi2, sx, sy, sxy, r, c FROM mo$k)""".stripMargin
    }
    val union = pairs.indices.map(k => s"SELECT * FROM row$k").mkString("\nUNION ALL\n")
    s"""WITH base AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
       |    c_mktsegment AS c, n_name AS d
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
       |${blocks.mkString(",\n")},
       |sel AS ($union)
       |SELECT col_x, col_y, levels_x, levels_y, n_rows,
       |  CAST(floor(sqrt(
       |      greatest(0e0, chi2 / CAST(n_rows AS DOUBLE)
       |        - CAST(r - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE)
       |          / (CAST(n_rows AS DOUBLE) - 1e0))
       |      / least(
       |        (CAST(r AS DOUBLE) - CAST(r - 1 AS DOUBLE) * CAST(r - 1 AS DOUBLE)
       |          / (CAST(n_rows AS DOUBLE) - 1e0)) - 1e0,
       |        (CAST(c AS DOUBLE) - CAST(c - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE)
       |          / (CAST(n_rows AS DOUBLE) - 1e0)) - 1e0))
       |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS cramers_v_corr,
       |  CAST(floor(((ln(CAST(n_rows AS DOUBLE)) - sx / CAST(n_rows AS DOUBLE))
       |      - (sy - sxy) / CAST(n_rows AS DOUBLE))
       |    / (ln(CAST(n_rows AS DOUBLE)) - sx / CAST(n_rows AS DOUBLE))
       |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS theil_xy,
       |  CAST(floor(((ln(CAST(n_rows AS DOUBLE)) - sy / CAST(n_rows AS DOUBLE))
       |      - (sx - sxy) / CAST(n_rows AS DOUBLE))
       |    / (ln(CAST(n_rows AS DOUBLE)) - sy / CAST(n_rows AS DOUBLE))
       |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS theil_yx
       |FROM sel ORDER BY col_x, col_y""".stripMargin
  }

  /** Portable-winnowing oracle: md5-bridge gram hashes, the w-window
    * min as a doc-partitioned SQL window, distinct-set count + mod-sum
    * checksum — selection arithmetic identical to
    * TextOps.winnowPortableStats (1-based positions here, 0-based
    * there: both keep gram windows pos ≤ n-(k+w-2) 1-based). */
  private def winnowSql(k: Int, w: Int): String =
    s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, $toksSql AS toks FROM documents),
       |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= ${k + w - 1}),
       |g AS (SELECT doc_id, n, pos,
       |    ('0x' || substr(md5(array_to_string(toks[pos:pos+${k - 1}], ' ')), 1, 8))::BIGINT AS h
       |  FROM (SELECT doc_id, toks, n, unnest(generate_series(1, n - ${k - 1})) AS pos FROM f)),
       |m AS (SELECT doc_id, n, pos, min(h) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp FROM g),
       |sel AS (SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n - ${k + w - 2})
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
       |  CAST(sum(fp % 1000003) AS BIGINT) AS fp_checksum
       |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Truncation-recall oracle, generated per dim arm: full-dimension
    * exact top-k vs the list_slice-truncated top-k, overlap counted on
    * the (query, neighbor) key — identical selection arithmetic to
    * Similarity.truncationRecall. */
  private def truncRecallSql(dims: Seq[Int], k: Int): String = {
    def top(name: String, eExpr: String => String) =
      s"""$name AS (SELECT vec_id, neighbor_id FROM (
         |  SELECT q.vec_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_inner_product(${eExpr("q.e")}, ${eExpr("c.e")})
         |        / (sqrt(list_inner_product(${eExpr("q.e")}, ${eExpr("q.e")}))
         |          * sqrt(list_inner_product(${eExpr("c.e")}, ${eExpr("c.e")})))
         |      DESC, c.vec_id) AS rn
         |  FROM q JOIN c ON q.vec_id <> c.vec_id) WHERE rn <= $k)""".stripMargin
    val fullCte = top("f0", (e: String) => e)
    val armCtes = dims.map(d =>
      top(s"t$d", (e: String) => s"list_slice($e, 1, $d)")).mkString(",\n")
    val armSelects = dims.map(d =>
      s"""SELECT CAST($d AS BIGINT) AS dim,
         |  (SELECT count(*) FROM f0 JOIN t$d USING (vec_id, neighbor_id))
         |    AS n_overlap,
         |  (SELECT count(*) FROM f0) AS n_total""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$fullCte,
       |$armCtes,
       |arms AS ($armSelects)
       |SELECT dim, n_overlap, n_total,
       |  CAST(floor(CAST(n_overlap AS DOUBLE) / n_total * 10000.0 + 0.5)
       |    AS DOUBLE) / 10000.0 AS recall
       |FROM arms ORDER BY dim""".stripMargin
  }

  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** Brute-force all-pairs exact 3-gram Jaccard at threshold 0.8 — the
    * shared anchor for dedup_minhash_verified AND q37_sql_kernels (the
    * pure-SQL kernel face replays the identical pipeline, so both must
    * hash-match the same exhaustive reference). */
  private def bruteForceJaccardSql: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, list_distinct(list_transform(
       |  generate_series(1, len(toks)-2),
       |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
       |  FROM t WHERE len(toks) >= 3)
       |SELECT * FROM (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |    / len(list_distinct(list_concat(a.sh, b.sh))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
       | FROM g a JOIN g b ON a.doc_id < b.doc_id)
       |WHERE jaccard >= 0.8e0 ORDER BY doc_a, doc_b""".stripMargin

  /** Unrolled fixed-iteration PageRank oracle: DuckDB recursive CTEs
    * forbid aggregates in the recursive term, so the five rounds are
    * generated as plain chained CTEs — bit-for-bit the same arithmetic
    * as Graph.pageRank (double literals `1e0`/`0.85e0` keep DuckDB out
    * of DECIMAL arithmetic, which would diverge from Spark's doubles). */
  private def pagerankSql(iters: Int): String = {
    val head =
      """WITH cs AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs),
        |od AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, 1e0/nn.n AS rank FROM nodes CROSS JOIN nn)""".stripMargin
    val its = (1 to iters).map { k =>
      s""",
         |s$k AS (SELECT e.dst AS node, sum(r.rank/od.out_deg) AS m
         |  FROM e JOIN od ON e.src = od.src JOIN r${k - 1} r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$k AS (SELECT nodes.node,
         |    (1e0 - 0.85e0)/nn.n + 0.85e0*coalesce(s$k.m, 0e0) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN s$k ON s$k.node = nodes.node)""".stripMargin
    }.mkString
    head + its +
      s"""
         |SELECT node, round(rank * nn.n, 4) AS rank_norm
         |FROM r$iters CROSS JOIN nn ORDER BY node""".stripMargin
  }

  /** Unrolled label-propagation oracle — the same synchronous
    * mode-with-min-tie-break rounds as Graph.labelPropagation, chained
    * CTEs per the PageRank precedent (integer counts and integer
    * labels: no float ever decides a community, so the match is
    * exact). */
  private def labelPropCtes(iters: Int): String = {
    val head =
      """WITH cs AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_quantity >= 45.0),
        |e AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)""".stripMargin
    val its = (1 to iters).map { k =>
      s""",
         |c$k AS (SELECT e.dst AS node, l.label, count(*) AS cnt
         |  FROM e JOIN l${k - 1} l ON l.node = e.src GROUP BY 1, 2),
         |l$k AS (SELECT node, label FROM (
         |  SELECT node, label, row_number() OVER (
         |    PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn FROM c$k) q
         |  WHERE rn = 1)""".stripMargin
    }.mkString
    head + its
  }

  private def labelPropSql(iters: Int): String =
    labelPropCtes(iters) + s"\nSELECT node, label FROM l$iters ORDER BY node"

  /** Modularity oracle: the label-prop unrolling plus the Newman sum
    * over the community domain — identical arithmetic to
    * Graph.modularity (count/2 halves exactly; 2e0·m doubles). */
  private def modularitySql(iters: Int): String =
    labelPropCtes(iters) + s""",
      |lab AS (SELECT node, label FROM l$iters),
      |mm AS (SELECT count(*) / 2 AS m FROM e),
      |mc AS (SELECT a.label, count(*) / 2 AS mc2 FROM e
      |  JOIN lab a ON e.src = a.node JOIN lab b ON e.dst = b.node
      |  WHERE a.label = b.label GROUP BY 1),
      |dg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
      |dc AS (SELECT lab.label, CAST(sum(d) AS BIGINT) AS dsum FROM dg
      |  JOIN lab ON dg.node = lab.node GROUP BY 1),
      |qq AS (SELECT COALESCE(mc.mc2, 0e0) / mm.m
      |    - (CAST(dc.dsum AS DOUBLE) / (2e0 * mm.m))
      |      * (CAST(dc.dsum AS DOUBLE) / (2e0 * mm.m)) AS qc
      |  FROM dc LEFT JOIN mc ON dc.label = mc.label CROSS JOIN mm),
      |nn AS (SELECT count(*) AS n_nodes FROM lab)
      |SELECT (SELECT n_nodes FROM nn) AS n_nodes,
      |  CAST((SELECT m FROM mm) AS BIGINT) AS n_edges,
      |  count(*) AS n_communities, round(sum(qc), 4) AS modularity
      |FROM qq""".stripMargin

  /** Generated MMR oracle: the k greedy selection rounds unrolled as
    * chained CTEs (DuckDB recursive CTEs can't carry the per-round
    * argmax dependency — the PageRank/BPE unrolling precedent). The
    * penalty weight is written `(1.0 - 0.7)`, NOT `0.3`: Spark computes
    * `lit(1.0 - lam)` in IEEE doubles (= 0.30000000000000004), and the
    * oracle must evaluate the SAME subtraction or 6dp-rounded scores
    * drift on the last digit. */
  private def mmrSql(nQ: Int, kPool: Int, k: Int): String = {
    val lamS = "0.7"
    val penS = "(1.0 - 0.7)"
    val head =
      s"""WITH qv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < $nQ),
         |cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |s AS (SELECT qv.vec_id AS qid, cv.vec_id AS nid,
         |  list_inner_product(qv.e, cv.e)
         |    / (sqrt(list_inner_product(qv.e, qv.e)) * sqrt(list_inner_product(cv.e, cv.e))) AS sim
         |  FROM qv JOIN cv ON qv.vec_id <> cv.vec_id),
         |cand AS (SELECT qid, nid,
         |  CAST(floor(sim * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS sim_q FROM (
         |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM s)
         |  WHERE rnk <= $kPool),
         |p AS (SELECT a.qid, a.nid AS nid_a, b.nid AS nid_b,
         |  CAST(floor(list_inner_product(ca.e, cb.e)
         |    / (sqrt(list_inner_product(ca.e, ca.e)) * sqrt(list_inner_product(cb.e, cb.e)))
         |    * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS sim_p
         |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid <> b.nid
         |  JOIN cv ca ON ca.vec_id = a.nid JOIN cv cb ON cb.vec_id = b.nid),
         |pick1 AS (SELECT qid, nid, 1 AS mmr_rank, score FROM (
         |  SELECT qid, nid, $lamS * sim_q AS score,
         |    row_number() OVER (PARTITION BY qid ORDER BY $lamS * sim_q DESC, nid) AS rn FROM cand)
         |  WHERE rn = 1),
         |sel1 AS (SELECT * FROM pick1)""".stripMargin
    val rounds = (2 to k).map { r =>
      s""",
         |rem$r AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
         |  SELECT 1 FROM sel${r - 1} x WHERE x.qid = c.qid AND x.nid = c.nid)),
         |pen$r AS (SELECT rem.qid, rem.nid, rem.sim_q, max(p.sim_p) AS max_sel
         |  FROM rem$r rem JOIN p ON p.qid = rem.qid AND p.nid_a = rem.nid
         |  JOIN sel${r - 1} x ON x.qid = p.qid AND x.nid = p.nid_b
         |  GROUP BY rem.qid, rem.nid, rem.sim_q),
         |pick$r AS (SELECT qid, nid, $r AS mmr_rank, score FROM (
         |  SELECT qid, nid, $lamS * sim_q - $penS * max_sel AS score,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY $lamS * sim_q - $penS * max_sel DESC, nid) AS rn
         |  FROM pen$r) WHERE rn = 1),
         |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)""".stripMargin
    }.mkString
    val tail =
      s"""
         |SELECT qid, nid, CAST(mmr_rank AS BIGINT) AS mmr_rank,
         |  CAST(floor(score * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS score
         |FROM sel$k ORDER BY qid, mmr_rank""".stripMargin
    head + rounds + tail
  }

  /** Generated BPE-training oracle: the greedy merge loop unrolled as
    * chained CTEs (argmax per round via ORDER BY c DESC, pair LIMIT 1 —
    * the same total order as the Spark loop; replace() scans
    * left-to-right non-overlapping in both engines, which IS BPE's
    * greedy merge order). */
  /** Shared BPE training CTE chain (t0/w0 + p_k/b_k/w_k per round) —
    * the common prefix of the train and encode oracles. */
  private def bpeCtes(merges: Int): String = {
    val head =
      s"""WITH t0 AS (SELECT unnest($toksSql) AS term FROM documents),
         |w0 AS (SELECT ' ' || trim(regexp_replace(term, '(.)', '\\1 ', 'g')) || ' ' AS sym,
         |    count(*) AS cnt FROM t0 GROUP BY term)""".stripMargin
    val its = (1 to merges).map { k =>
      s""",
         |p$k AS (SELECT pair, sum(cnt) AS c FROM (
         |    SELECT cnt, unnest(list_transform(generate_series(1, len(l) - 1),
         |      j -> l[j] || ' ' || l[j + 1])) AS pair
         |    FROM (SELECT string_split(trim(sym), ' ') AS l, cnt FROM w${k - 1}))
         |  GROUP BY pair),
         |b$k AS (SELECT pair, c FROM p$k ORDER BY c DESC, pair LIMIT 1),
         |w$k AS (SELECT replace(sym, ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS sym,
         |    cnt FROM w${k - 1} CROSS JOIN b$k b)""".stripMargin
    }.mkString
    head + its
  }

  private def bpeTrainSql(merges: Int): String = {
    val rows = (1 to merges).map(k =>
      s"SELECT CAST($k AS BIGINT) AS merge_idx, pair, CAST(c AS BIGINT) AS cnt FROM b$k")
      .mkString("\n UNION ALL ")
    s"${bpeCtes(merges)}\nSELECT * FROM (\n $rows)\nORDER BY merge_idx"
  }

  /** Generated BPE-encode oracle: replay training (shared CTEs), then
    * apply each learned merge in rank order to the DISTINCT words table
    * (e0..e_k chain — the same left-to-right replace), join the
    * per-word symbol counts back to the token stream, aggregate per
    * doc. */
  private def bpeEncodeSql(merges: Int): String = {
    val enc0 =
      """,
        |e0 AS (SELECT term, ' ' || trim(regexp_replace(term, '(.)', '\1 ', 'g')) || ' ' AS sym
        |  FROM (SELECT DISTINCT term FROM t0))""".stripMargin
    val encs = (1 to merges).map { k =>
      s""",
         |e$k AS (SELECT term, replace(sym, ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS sym
         |  FROM e${k - 1} CROSS JOIN b$k b)""".stripMargin
    }.mkString
    s"""${bpeCtes(merges)}$enc0$encs,
       |n AS (SELECT term, len(string_split(trim(sym), ' ')) AS n_sym FROM e$merges),
       |tk AS (SELECT doc_id, unnest($toksSql) AS term FROM documents)
       |SELECT doc_id, count(*) AS n_words, CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
       |FROM tk JOIN n USING (term) GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Generated k-hop BFS oracle: each round expands the newest frontier
    * through the edge table and min-combines — the identical relational
    * recurrence as Graph.kHopDistances, unrolled. */
  private def khopsSql(k: Int): String = {
    val head =
      """WITH cs AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM cs UNION SELECT dst, src FROM cs),
        |d0 AS (SELECT DISTINCT c_custkey*2 AS node, CAST(0 AS BIGINT) AS dist
        |  FROM customer WHERE c_custkey % 100 = 0)""".stripMargin
    val its = (1 to k).map { i =>
      s""",
         |d$i AS (SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, CAST($i AS BIGINT) AS dist
         |    FROM e JOIN d${i - 1} p ON p.node = e.src AND p.dist = ${i - 1})
         |  GROUP BY node)""".stripMargin
    }.mkString
    head + its + s"\nSELECT node, dist FROM d$k ORDER BY node"
  }

  /** Generated PSI-drift oracle: the identical conditional-aggregate
    * pass and the identical left-associative share/PSI arithmetic as
    * DataQuality.valueDrift (same fixed bins, same sum order), with the
    * drift flag compared on the UNROUNDED psi exactly like the Spark
    * side. */
  private def driftSql(bounds: Seq[Double], threshold: Double): String = {
    val nb = bounds.length + 1
    val binCase = bounds.zipWithIndex
      .map { case (b, i) => s"WHEN value < $b THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${bounds.length} END")
    val cnts = (for (h <- Seq("ref", "cur"); i <- 0 until nb)
      yield s"count(CASE WHEN h = '$h' AND b = $i THEN 1 END) AS ${h}_$i")
      .mkString(",\n    ")
    def tot(h: String) = (0 until nb).map(i => s"${h}_$i").mkString(" + ")
    val psi = (0 until nb).map { i =>
      val p = s"(CAST(ref_$i AS DOUBLE) / CAST(${tot("ref")} AS DOUBLE))"
      val q = s"(CAST(cur_$i AS DOUBLE) / CAST(${tot("cur")} AS DOUBLE))"
      s"($q - $p) * ln($q / $p)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT event_type,
       |    CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 'ref' ELSE 'cur' END AS h,
       |    $binCase AS b
       |  FROM events),
       |c AS (SELECT event_type,
       |    $cnts
       |  FROM e GROUP BY event_type)
       |SELECT event_type, ${tot("ref")} AS n_ref, ${tot("cur")} AS n_cur,
       |  round($psi, 4) AS psi, ($psi) > $threshold AS drifted
       |FROM c ORDER BY event_type""".stripMargin
  }

  /** sim_pq_topk oracle (r11): the whole PQ build + query replays —
    * md5-bridge stride codebook sample (fallback rule included), slice
    * codewords, first-max argmin-L2 encoding via the 2·x·c − |c|²
    * expansion, reconstructed-vector approximate cosine, k·refine
    * candidate cut and exact re-rank — every step deterministic
    * arithmetic both engines fold identically (list_inner_product ≡ the
    * native DotProduct's sequential accumulation). */
  private def pqTopkSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |nn AS (SELECT count(*) AS n, GREATEST(1, count(*) // 32) AS step FROM c),
      |strided AS (SELECT s.vec_id, s.e FROM c s, nn
      |  WHERE (('0x'||substr(md5('c'||s.vec_id),1,8))::BIGINT % nn.step) = 0),
      |pool AS (
      |  SELECT vec_id, e FROM strided WHERE (SELECT count(*) FROM strided) >= 16
      |  UNION ALL
      |  SELECT vec_id, e FROM c WHERE (SELECT count(*) FROM strided) < 16),
      |samp AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS t, e
      |  FROM (SELECT vec_id, e FROM pool ORDER BY vec_id LIMIT 32)),
      |js AS (SELECT unnest(range(0, 8)) AS j),
      |cbw AS MATERIALIZED (SELECT js.j, s.t, list_slice(s.e, js.j*8+1, js.j*8+8) AS cw,
      |    list_inner_product(list_slice(s.e, js.j*8+1, js.j*8+8),
      |      list_slice(s.e, js.j*8+1, js.j*8+8)) AS cw2
      |  FROM samp s CROSS JOIN js),
      |enc AS (SELECT v.vec_id, w.j, w.t,
      |    list_inner_product(list_slice(v.e, w.j*8+1, w.j*8+8), w.cw) * 2e0 - w.cw2 AS s
      |  FROM c v CROSS JOIN cbw w),
      |codes AS (SELECT vec_id, j, t FROM (
      |  SELECT vec_id, j, t, row_number() OVER (PARTITION BY vec_id, j ORDER BY s DESC, t) AS rn
      |  FROM enc) WHERE rn = 1),
      |recon AS (SELECT cd.vec_id, flatten(list(w.cw ORDER BY cd.j)) AS remb
      |  FROM codes cd JOIN cbw w ON w.j = cd.j AND w.t = cd.t GROUP BY cd.vec_id),
      |q AS MATERIALIZED (SELECT vec_id AS qid, e AS qemb, norm AS qnorm FROM c WHERE vec_id < 20),
      |approx AS (SELECT q.qid, r.vec_id AS nid,
      |    list_inner_product(q.qemb, r.remb)
      |      / (q.qnorm * sqrt(list_inner_product(r.remb, r.remb))) AS asim
      |  FROM recon r CROSS JOIN q WHERE q.qid <> r.vec_id),
      |cand AS (SELECT qid, nid FROM (
      |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY asim DESC, nid) AS rn
      |  FROM approx) WHERE rn <= 40),
      |ex AS (SELECT cd.qid, cd.nid,
      |    list_inner_product(q.qemb, v.e) / (q.qnorm * v.norm) AS sim
      |  FROM cand cd JOIN c v ON v.vec_id = cd.nid JOIN q ON q.qid = cd.qid)
      |SELECT qid AS vec_id, nid AS neighbor_id,
      |  CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
      |  CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT qid, nid, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM ex)
      |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  /** Shared exact-percentile + verdict-constant oracle for the batch
    * (`evt_quantiles_kll`) and streaming (`stream_quantiles`) KLL faces:
    * both sketches answer inside the same rank contract, so both gate
    * against the same exact percentiles (q13_approx precedent). The
    * `+ 0e0` guards the signed-zero hash rule on negative-capable
    * rounded floats. */
  private def kllQuantilesSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(quantile_cont(value, 0.5e0), 4) + 0e0 AS p50,
      |  round(quantile_cont(value, 0.9e0), 4) + 0e0 AS p90,
      |  round(quantile_cont(value, 0.99e0), 4) + 0e0 AS p99,
      |  1::BIGINT AS p50_in_bound, 1::BIGINT AS p90_in_bound,
      |  1::BIGINT AS p99_in_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One Lloyd refinement step of the IVF-PQ coarse quantizer, replayed
    * in SQL: first-min assignment against the previous iteration's
    * centroids (the same (aa − 2ab) + bb squared-L2 expansion the Scala
    * trainCoarse folds), then per-(centroid, dim) means accumulated in
    * SAMPLE ORDER (list_sum over list(... ORDER BY i) ≡ the Scala
    * foreach fold), empty clusters carrying the old centroid. Every CTE
    * is MATERIALIZED: DuckDB inlines CTEs by default, and each step
    * references its predecessor twice — unmaterialized, the five-step
    * chain re-expands the Gonzalez recursion 2^5 times. */
  private def lloydCte(n: Int): String = {
    val p = if (n > 1) s"ll${n - 1}" else "ll0"
    s"""asg$n AS MATERIALIZED (SELECT t.i, t.e, list_position(t.dd, list_min(t.dd)) AS j1
       |  FROM (SELECT i, e, list_transform((SELECT cents FROM $p), ct ->
       |      (list_inner_product(e, e) - 2e0*list_inner_product(e, ct)) + list_inner_product(ct, ct)) AS dd
       |    FROM train) t),
       |dim$n AS MATERIALIZED (SELECT a.j1, p.p, list_sum(list(a.e[p.p] ORDER BY a.i)) AS sm, count(*) AS cnt
       |  FROM asg$n a CROSS JOIN (SELECT unnest(range(1, 65)) AS p) p GROUP BY 1, 2),
       |newc$n AS MATERIALIZED (SELECT j1, list(sm / cnt ORDER BY p) AS cv FROM dim$n GROUP BY j1),
       |ll$n AS MATERIALIZED (SELECT list(coalesce(nc.cv, lp.cents[jj.j]) ORDER BY jj.j) AS cents
       |  FROM (SELECT unnest(range(1, (SELECT kk FROM kx) + 1)) AS j) jj
       |  LEFT JOIN newc$n nc ON nc.j1 = jj.j
       |  CROSS JOIN $p lp),""".stripMargin
  }

  /** sim_ivfpq_topk oracle (r11): the ENTIRE composite index build
    * replays in DuckDB — md5-bridge stride training sample, Gonzalez
    * farthest-point init as a recursive CTE carrying (picked, min-dist)
    * list state over the precomputed distance matrix, five unrolled
    * Lloyd steps ([[lloydCte]]), cosine first-max coarse assignment,
    * residuals, md5-stride residual codebook, PQ encoding, the
    * ADC-cosine candidate scan ((cn² + 2·c·r) + |r|² in the exact Spark
    * expression order) and the k·refine exact re-rank. Possible because
    * trainCoarse's d2 is the ip-expansion (Similarity.scala) — three
    * sequential folds both engines compute bitwise-identically. */
  private def ivfpqTopkSql: String = ivfpqOracleSql("TRUE", "")

  /** sim_index_persist oracle (r15): the SAME composite replay with
    * TRAINING restricted to the 90% build subset — assignment, residual
    * encoding and the ADC scan run over ALL vectors, which is exactly
    * the frozen-codebook append semantics (encoding is a per-vector
    * function of the stored model, so v2's appended codes equal codes
    * computed at build time). Verdict columns pin the Snapshots
    * versioning (2 commits, full corpus indexed). */
  private def simIndexPersistSql: String = ivfpqOracleSql(
    "vec_id % 10 <> 3",
    ",\n  CAST(2 AS BIGINT) AS n_versions, (SELECT count(*) FROM c) AS n_indexed")

  /** Shared IVF-PQ lifecycle replay, parameterized by the TRAINING
    * subset predicate (`buildPred` over vec_id): nn/ssz counts, the
    * coarse training pool and the residual-codebook sample draw from
    * the build subset; assignment/encoding/query cover the full corpus. */
  private def ivfpqOracleSql(buildPred: String, extraSelect: String): String =
    s"""WITH RECURSIVE c AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings),
      |cbld AS MATERIALIZED (SELECT * FROM c WHERE $buildPred),
      |nn AS (SELECT count(*) AS n,
      |  GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nc,
      |  GREATEST(8 * GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)), 512) AS ssz FROM cbld),
      |tstr AS (SELECT s.vec_id, s.e FROM cbld s, nn
      |  WHERE (('0x'||substr(md5('c'||s.vec_id),1,8))::BIGINT % GREATEST(1, nn.n // nn.ssz)) = 0),
      |tpool AS (
      |  SELECT vec_id, e FROM tstr
      |  WHERE (SELECT count(*) FROM tstr) >= (SELECT (ssz + 1) // 4 FROM nn)
      |  UNION ALL
      |  SELECT vec_id, e FROM cbld
      |  WHERE (SELECT count(*) FROM tstr) < (SELECT (ssz + 1) // 4 FROM nn)),
      |train AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, e
      |  FROM (SELECT vec_id, e FROM tpool ORDER BY vec_id LIMIT (SELECT ssz FROM nn))),
      |kx AS MATERIALIZED (SELECT LEAST((SELECT nc FROM nn), (SELECT count(*) FROM train)) AS kk),
      |dmat AS (SELECT a.i, b.i AS j,
      |    -- dl[i=picked][j=cand] must group as d2(cand, picked) =
      |    -- (ip(cand,cand) - 2ab) + ip(picked,picked), matching the Scala
      |    -- Gonzalez fold bitwise: a transposed grouping differs by an ulp
      |    -- and a near-tie argmax flip desyncs the whole quantizer.
      |    (list_inner_product(b.e, b.e) - 2e0*list_inner_product(a.e, b.e))
      |      + list_inner_product(a.e, a.e) AS d
      |  FROM train a CROSS JOIN train b),
      |dlist AS MATERIALIZED (SELECT i, list(d ORDER BY j) AS dl FROM dmat GROUP BY i),
      |gonz(cnt, picked, md) AS (
      |  SELECT 1, [CAST(0 AS INT)], (SELECT dl FROM dlist WHERE i = 0)
      |  UNION ALL
      |  SELECT g.cnt + 1,
      |    list_append(g.picked, CAST(list_position(g.md, list_max(g.md)) - 1 AS INT)),
      |    list_transform(list_zip(g.md, d.dl), s -> least(s[1], s[2]))
      |  FROM gonz g JOIN dlist d ON d.i = list_position(g.md, list_max(g.md)) - 1
      |  WHERE g.cnt < (SELECT kk FROM kx)),
      |tv AS MATERIALIZED (SELECT list(e ORDER BY i) AS v FROM train),
      |ll0 AS MATERIALIZED (SELECT list_transform(g.picked, p -> tv.v[p + 1]) AS cents
      |  FROM gonz g, tv, kx WHERE g.cnt = kx.kk),
      |""".stripMargin +
      (1 to 5).map(lloydCte).mkString("\n") +
    s"""
      |centt AS MATERIALIZED (SELECT jj.j - 1 AS ci, l.cents[jj.j] AS cv,
      |    list_inner_product(l.cents[jj.j], l.cents[jj.j]) AS cn2,
      |    sqrt(list_inner_product(l.cents[jj.j], l.cents[jj.j])) AS cnorm
      |  FROM ll5 l CROSS JOIN (SELECT unnest(range(1, (SELECT kk FROM kx) + 1)) AS j) jj),
      |vsc AS (SELECT v.vec_id, ct.ci, list_inner_product(v.e, ct.cv) / (v.norm * ct.cnorm) AS s
      |  FROM c v CROSS JOIN centt ct),
      |asgc AS MATERIALIZED (SELECT vec_id, ci AS centroid_id FROM (
      |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
      |  FROM vsc) WHERE rn = 1),
      |resid AS MATERIALIZED (SELECT a.vec_id, a.centroid_id,
      |    list_transform(list_zip(v.e, ct.cv), z -> z[1] - z[2]) AS r
      |  FROM asgc a JOIN c v USING (vec_id) JOIN centt ct ON ct.ci = a.centroid_id),
      |rbld AS (SELECT * FROM resid WHERE $buildPred),
      |rstr AS (SELECT r.vec_id, r.r FROM rbld r, nn
      |  WHERE (('0x'||substr(md5('c'||r.vec_id),1,8))::BIGINT % GREATEST(1, nn.n // 32)) = 0),
      |rpool AS (
      |  SELECT vec_id, r FROM rstr WHERE (SELECT count(*) FROM rstr) >= 16
      |  UNION ALL
      |  SELECT vec_id, r FROM rbld WHERE (SELECT count(*) FROM rstr) < 16),
      |rsamp AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS t, r
      |  FROM (SELECT vec_id, r FROM rpool ORDER BY vec_id LIMIT 32)),
      |js AS (SELECT unnest(range(0, 8)) AS j),
      |cbw AS MATERIALIZED (SELECT js.j, s.t, list_slice(s.r, js.j*8+1, js.j*8+8) AS cw,
      |    list_inner_product(list_slice(s.r, js.j*8+1, js.j*8+8),
      |      list_slice(s.r, js.j*8+1, js.j*8+8)) AS cw2
      |  FROM rsamp s CROSS JOIN js),
      |enc AS (SELECT rs.vec_id, w.j, w.t,
      |    list_inner_product(list_slice(rs.r, w.j*8+1, w.j*8+8), w.cw) * 2e0 - w.cw2 AS s
      |  FROM resid rs CROSS JOIN cbw w),
      |codes AS MATERIALIZED (SELECT vec_id, j, t FROM (
      |  SELECT vec_id, j, t, row_number() OVER (PARTITION BY vec_id, j ORDER BY s DESC, t) AS rn
      |  FROM enc) WHERE rn = 1),
      |recon AS MATERIALIZED (SELECT cd.vec_id, flatten(list(w.cw ORDER BY cd.j)) AS rrec
      |  FROM codes cd JOIN cbw w ON w.j = cd.j AND w.t = cd.t GROUP BY cd.vec_id),
      |q AS MATERIALIZED (SELECT vec_id AS qid, e AS qemb, norm AS qnorm FROM c WHERE vec_id < 20),
      |qsc AS (SELECT q.qid, ct.ci, list_inner_product(q.qemb, ct.cv) / (q.qnorm * ct.cnorm) AS s
      |  FROM q CROSS JOIN centt ct),
      |probed AS MATERIALIZED (SELECT qid, ci AS centroid_id FROM (
      |  SELECT qid, ci, row_number() OVER (PARTITION BY qid ORDER BY s DESC, ci) AS rn
      |  FROM qsc) WHERE rn <= 4),
      |cand AS (SELECT p.qid, a.vec_id AS nid,
      |    (list_inner_product(q.qemb, ct.cv) + list_inner_product(q.qemb, rc.rrec))
      |      / (q.qnorm * sqrt((ct.cn2 + 2e0 * list_inner_product(ct.cv, rc.rrec))
      |        + list_inner_product(rc.rrec, rc.rrec))) AS sim
      |  FROM probed p
      |  JOIN asgc a ON a.centroid_id = p.centroid_id AND a.vec_id <> p.qid
      |  JOIN recon rc ON rc.vec_id = a.vec_id
      |  JOIN centt ct ON ct.ci = p.centroid_id
      |  JOIN q ON q.qid = p.qid),
      |cgrp AS (SELECT qid, nid, max(sim) AS sim FROM cand GROUP BY 1, 2),
      |cands AS (SELECT qid, nid FROM (
      |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      |  FROM cgrp) WHERE rn <= 40),
      |ex AS (SELECT cd.qid, cd.nid,
      |    list_inner_product(q.qemb, v.e) / (q.qnorm * v.norm) AS sim
      |  FROM cands cd JOIN c v ON v.vec_id = cd.nid JOIN q ON q.qid = cd.qid)
      |SELECT qid AS vec_id, nid AS neighbor_id,
      |  CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
      |  CAST(rank AS BIGINT) AS rank$extraSelect FROM (
      |  SELECT qid, nid, sim,
      |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM ex)
      |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  /** sim_kmeans seed oracle (r12): re-derives the k Gonzalez
    * farthest-point seeds over the FULL corpus as k−1 unrolled scans —
    * no N×N distance matrix (the recursive-CTE ivfpq replay needs one
    * because its state is a min-dist LIST; chained CTEs carry the
    * running min as a column instead). Every d2 uses the exact Scala
    * fold grouping `(ip(x,x) − 2·ip(x,c)) + ip(c,c)` and the running
    * `least(md, d_new)` reproduces the engine's left-assoc reduce, so
    * each pick's argmax (DESC, vec_id tie-break) matches bitwise. The
    * three Lloyd-contract verdicts are Spark-side checks expected 1. */
  private def kmeansSeedsSql(k: Int = 8): String = {
    def dist = "(list_inner_product(v.e, v.e) - " +
      "2e0*list_inner_product(v.e, p.e)) + list_inner_product(p.e, p.e)"
    val steps = (1 until k).map { i =>
      val src = if (i == 1) "c" else s"m${i - 1}"
      val mdExpr = if (i == 1) dist else s"least(v.md, $dist)"
      s"""m$i AS MATERIALIZED (SELECT v.vec_id, v.e, $mdExpr AS md
         |  FROM $src v CROSS JOIN p${i - 1} p),
         |p$i AS MATERIALIZED (SELECT vec_id, e FROM m$i
         |  ORDER BY md DESC, vec_id LIMIT 1),""".stripMargin
    }.mkString("\n")
    val seeds = (0 until k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS cluster_id, vec_id AS seed_vec_id FROM p$i")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH c AS MATERIALIZED (SELECT vec_id,
       |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |nt AS (SELECT count(*) AS n_total FROM embeddings),
       |p0 AS MATERIALIZED (SELECT vec_id, e FROM c ORDER BY vec_id LIMIT 1),
       |$steps
       |s AS ($seeds)
       |SELECT s.cluster_id, s.seed_vec_id, nt.n_total,
       |  CAST(1 AS BIGINT) AS inertia_monotone,
       |  CAST(1 AS BIGINT) AS assignment_optimal,
       |  CAST(1 AS BIGINT) AS inertia_le_single
       |FROM s CROSS JOIN nt ORDER BY s.cluster_id""".stripMargin
  }

  /** DuckDB oracle SQL; keys omitted here get a rows-only check. */
  def oracleSql: Map[String, String] = Map(
    // sim_kmeans (oracle-backed r12, q13_approx precedent): replayable
    // Gonzalez seeds + Lloyd-contract integer verdicts; the means stay
    // distributed float and never reach the output.
    "sim_kmeans" -> kmeansSeedsSql(),
    // dedup_cdc_chunks (r12): content-defined chunking replayed end to
    // end — bridge token hashes decide boundaries (≡ 0 mod 16, the
    // boundary token closes its chunk ⇒ exclusive prefix sum), chunks
    // re-hash via md5 over the space-joined span, and the planted
    // prefix-twin shared-set counts prove insertion robustness.
    "dedup_cdc_chunks" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'zzins ' || text FROM documents
        |  WHERE doc_id % 25 = 0),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM planted),
        |tok AS (SELECT doc_id, pos, toks[pos] AS tok,
        |    CASE WHEN ('0x' || substr(md5(toks[pos]), 1, 8))::BIGINT % 16 = 0
        |         THEN 1 ELSE 0 END AS b
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks))) AS pos FROM tk)),
        |ck AS (SELECT doc_id, pos, tok,
        |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        |  FROM tok),
        |ch AS MATERIALIZED (SELECT DISTINCT doc_id, chunk_md5 FROM (
        |  SELECT doc_id, chunk_id,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
        |  FROM ck GROUP BY doc_id, chunk_id)),
        |o AS (SELECT doc_id AS orig_id, chunk_md5 FROM ch WHERE doc_id < 2000000),
        |tw AS (SELECT doc_id - 2000000 AS orig_id, chunk_md5 FROM ch
        |  WHERE doc_id >= 2000000),
        |no AS (SELECT orig_id, count(*) AS n_chunks_orig FROM o GROUP BY orig_id),
        |ntw AS (SELECT orig_id, count(*) AS n_chunks_twin FROM tw GROUP BY orig_id),
        |sh AS (SELECT o.orig_id, count(*) AS n_shared
        |  FROM o JOIN tw ON o.orig_id = tw.orig_id AND o.chunk_md5 = tw.chunk_md5
        |  GROUP BY o.orig_id)
        |SELECT ntw.orig_id, no.n_chunks_orig, ntw.n_chunks_twin,
        |  CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared
        |FROM ntw JOIN no USING (orig_id) LEFT JOIN sh USING (orig_id)
        |ORDER BY ntw.orig_id""".stripMargin,
    // feat_pca (oracle-backed r12): replayable per-label counts; the
    // eigendecomposition contract (unit/ortho/C·v=λ·v/descending)
    // rides as Spark-side verdicts expected 1.
    "feat_pca" ->
      """SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
        |  CAST(1 AS BIGINT) AS unit_norm_ok, CAST(1 AS BIGINT) AS ortho_ok,
        |  CAST(1 AS BIGINT) AS eigen_ok, CAST(1 AS BIGINT) AS explained_desc_ok
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    // text_topics_lda (oracle-backed r12): DuckDB re-derives the model
    // SHAPE — vocabulary size under the replayed 4/16 hash sample +
    // tokenizer, k topics × min(topTerms, vocab) terms — while the
    // probability-vector / rank-sorted contracts ride as verdicts.
    "text_topics_lda" ->
      s"""WITH sampled AS (SELECT doc_id, text FROM documents
         |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'),
         |v AS (SELECT LEAST(2000, count(DISTINCT tok)) AS vocab_n
         |  FROM (SELECT unnest($toksSql) AS tok FROM sampled)),
         |tt AS (SELECT unnest(range(0, 4)) AS topic)
         |SELECT CAST(tt.topic AS BIGINT) AS topic,
         |  CAST(LEAST(8, v.vocab_n) AS BIGINT) AS n_terms,
         |  CAST(v.vocab_n AS BIGINT) AS vocab_n,
         |  CAST(1 AS BIGINT) AS dist_valid,
         |  CAST(1 AS BIGINT) AS weights_desc,
         |  CAST(1 AS BIGINT) AS terms_ok
         |FROM tt CROSS JOIN v ORDER BY topic""".stripMargin,
    // text_compress_ratio (oracle-backed r12): the Deflate byte count
    // is zlib-version-bound, but strlen is replayable and the codec
    // contract (round trip, stored-block worst-case envelope) rides as
    // per-row verdicts expected 1.
    "text_compress_ratio" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(1 AS BIGINT) AS roundtrip_ok, CAST(1 AS BIGINT) AS size_in_bound
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Holt recursion replayed step-by-step as a recursive CTE: each
    // SQL step folds the IDENTICAL IEEE expressions (exact binary
    // α=0.5, β=0.25) the Scala loop folds, so every level/trend double
    // is bit-identical; yhat is floor-pround AFTER the recursion.
    "evt_holt" ->
      """WITH RECURSIVE
        |dd AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |    AS d, count(*) AS n FROM events GROUP BY 1),
        |ix AS MATERIALIZED (SELECT d, n,
        |  CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM dd),
        |x12 AS (SELECT max(CASE WHEN i = 1 THEN CAST(n AS DOUBLE) END) AS x1,
        |    max(CASE WHEN i = 2 THEN CAST(n AS DOUBLE) END) AS x2
        |  FROM ix WHERE i <= 2),
        |rec(i, s, b) AS (
        |  SELECT CAST(1 AS BIGINT), x1, x2 - x1 FROM x12
        |  UNION ALL
        |  SELECT r.i + 1,
        |    0.5e0 * CAST(ix.n AS DOUBLE) + 0.5e0 * (r.s + r.b),
        |    0.25e0 * ((0.5e0 * CAST(ix.n AS DOUBLE)
        |      + 0.5e0 * (r.s + r.b)) - r.s) + 0.75e0 * r.b
        |  FROM rec r JOIN ix ON ix.i = r.i + 1),
        |fin AS (SELECT s, b FROM rec ORDER BY i DESC LIMIT 1),
        |mx AS (SELECT d FROM ix ORDER BY i DESC LIMIT 1),
        |ft AS (SELECT strftime(ix.d, '%Y-%m-%d') AS day, 'fit' AS kind,
        |    ix.n AS n_events,
        |    CASE WHEN ix.i = 1 THEN (SELECT x1 FROM x12)
        |      ELSE r.s + r.b END AS yhat
        |  FROM ix LEFT JOIN rec r ON r.i = ix.i - 1),
        |fc AS (SELECT strftime(mx.d + CAST(hs.h AS INT) * INTERVAL 1 DAY,
        |      '%Y-%m-%d') AS day,
        |    'forecast' AS kind, CAST(0 AS BIGINT) AS n_events,
        |    fin.s + CAST(hs.h AS DOUBLE) * fin.b AS yhat
        |  FROM mx, fin, (SELECT unnest(generate_series(1, 7)) AS h) hs),
        |u AS (SELECT * FROM ft UNION ALL SELECT * FROM fc)
        |SELECT day, kind, n_events,
        |  CAST(floor(yhat * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS yhat
        |FROM u ORDER BY day""".stripMargin,
    // the evt_holt recursion replayed on the DESEASONALIZED series:
    // dow indices from exact integer moments (portable epoch-Monday
    // dow, never a locale weekday fn), added back for fit + forecast
    "evt_holt_winters" ->
      """WITH RECURSIVE
        |dd AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |    AS d, count(*) AS n FROM events GROUP BY 1),
        |ix AS MATERIALIZED (SELECT d, n,
        |  CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
        |  date_diff('day', DATE '1970-01-05', d) % 7 AS dow FROM dd),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
        |    CAST(count(*) AS BIGINT) AS tc FROM ix),
        |idxv AS MATERIALIZED (SELECT dow,
        |    CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      - (SELECT CAST(tn AS DOUBLE) / CAST(tc AS DOUBLE) FROM tot) AS iv
        |  FROM ix GROUP BY dow),
        |z AS MATERIALIZED (SELECT ix.i, ix.d, ix.n, ix.dow,
        |    CAST(ix.n AS DOUBLE) - iv.iv AS z, iv.iv AS iv
        |  FROM ix JOIN idxv iv USING (dow)),
        |x12 AS (SELECT max(CASE WHEN i = 1 THEN z END) AS z1,
        |    max(CASE WHEN i = 2 THEN z END) AS z2
        |  FROM z WHERE i <= 2),
        |rec(i, s, b) AS (
        |  SELECT CAST(1 AS BIGINT), z1, z2 - z1 FROM x12
        |  UNION ALL
        |  SELECT r.i + 1,
        |    0.5e0 * z.z + 0.5e0 * (r.s + r.b),
        |    0.25e0 * ((0.5e0 * z.z + 0.5e0 * (r.s + r.b)) - r.s) + 0.75e0 * r.b
        |  FROM rec r JOIN z ON z.i = r.i + 1),
        |fin AS (SELECT s, b FROM rec ORDER BY i DESC LIMIT 1),
        |mx AS (SELECT d FROM z ORDER BY i DESC LIMIT 1),
        |ft AS (SELECT strftime(z.d, '%Y-%m-%d') AS day, 'fit' AS kind,
        |    z.n AS n_events,
        |    CASE WHEN z.i = 1 THEN (SELECT z1 FROM x12) + z.iv
        |      ELSE (r.s + r.b) + z.iv END AS yhat
        |  FROM z LEFT JOIN rec r ON r.i = z.i - 1),
        |fcd AS (SELECT CAST(mx.d + CAST(hs.h AS INT) * INTERVAL 1 DAY AS DATE)
        |      AS fd, hs.h AS h
        |  FROM mx, (SELECT unnest(generate_series(1, 7)) AS h) hs),
        |fc AS (SELECT strftime(fcd.fd, '%Y-%m-%d') AS day, 'forecast' AS kind,
        |    CAST(0 AS BIGINT) AS n_events,
        |    (fin.s + CAST(fcd.h AS DOUBLE) * fin.b) + iv.iv AS yhat
        |  FROM fcd CROSS JOIN fin JOIN idxv iv
        |    ON iv.dow = date_diff('day', DATE '1970-01-05', fcd.fd) % 7),
        |u AS (SELECT * FROM ft UNION ALL SELECT * FROM fc)
        |SELECT day, kind, n_events,
        |  CAST(floor(yhat * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS yhat
        |FROM u ORDER BY day""".stripMargin,
    "dq_assoc" -> assocSql,
    "dedup_minhash_est_err" -> minhashEstSql,
    // dedup_minhash / dedup_clusters (oracle-backed r11): the portable
    // banded pipeline replays end-to-end — see minhashBandedSql /
    // minhashClustersSql.
    "dedup_minhash" -> minhashBandedSql,
    "dedup_clusters" -> minhashClustersSql,
    // the evt_holt recursion refit on the train PREFIX; per-model error
    // terms accumulate in a per-model frame-order window (the driver's
    // ascending-h fold, bit-identical)
    "evt_backtest" ->
      """WITH RECURSIVE
        |dd AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |    AS d, count(*) AS n FROM events GROUP BY 1),
        |ix AS MATERIALIZED (SELECT n,
        |  CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM dd),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS na FROM ix),
        |tr AS MATERIALIZED (SELECT i, n FROM ix CROSS JOIN nn
        |  WHERE i <= na - 7),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS ntr,
        |    CAST(sum(n) AS BIGINT) AS ts FROM tr),
        |x12 AS (SELECT max(CASE WHEN i = 1 THEN CAST(n AS DOUBLE) END) AS x1,
        |    max(CASE WHEN i = 2 THEN CAST(n AS DOUBLE) END) AS x2
        |  FROM tr WHERE i <= 2),
        |rec(i, s, b) AS (
        |  SELECT CAST(1 AS BIGINT), x1, x2 - x1 FROM x12
        |  UNION ALL
        |  SELECT r.i + 1,
        |    0.5e0 * CAST(t.n AS DOUBLE) + 0.5e0 * (r.s + r.b),
        |    0.25e0 * ((0.5e0 * CAST(t.n AS DOUBLE) + 0.5e0 * (r.s + r.b))
        |      - r.s) + 0.75e0 * r.b
        |  FROM rec r JOIN tr t ON t.i = r.i + 1),
        |fin AS (SELECT s, b FROM rec ORDER BY i DESC LIMIT 1),
        |hs AS (SELECT unnest(generate_series(1, 7)) AS h),
        |te AS (SELECT hs.h, CAST(ix.n AS DOUBLE) AS y FROM hs
        |  JOIN ix ON ix.i = (SELECT ntr FROM nt) + hs.h),
        |er AS (
        |  SELECT 'holt' AS model, te.h,
        |      (fin.s + CAST(te.h AS DOUBLE) * fin.b) - te.y AS e, te.y AS y
        |    FROM te CROSS JOIN fin
        |  UNION ALL
        |  SELECT 'mean', te.h,
        |      (SELECT CAST(ts AS DOUBLE) / CAST(ntr AS DOUBLE) FROM nt) - te.y,
        |      te.y
        |    FROM te
        |  UNION ALL
        |  SELECT 'snaive', te.h, CAST(tr.n AS DOUBLE) - te.y, te.y
        |    FROM te JOIN tr
        |      ON tr.i = (SELECT ntr FROM nt) - 6 + ((te.h - 1) % 7)),
        |cm AS (SELECT model, h,
        |    sum(abs(e)) OVER w AS ae, sum(e * e) OVER w AS se,
        |    sum(abs(e) / y) OVER w AS pe
        |  FROM er
        |  WINDOW w AS (PARTITION BY model ORDER BY h ROWS UNBOUNDED PRECEDING))
        |SELECT model, (SELECT ntr FROM nt) AS n_train,
        |  CAST(7 AS BIGINT) AS n_test,
        |  CAST(floor(ae / 7e0 * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
        |    AS mae,
        |  CAST(floor(sqrt(se / 7e0) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
        |    AS rmse,
        |  CAST(floor(pe / 7e0 * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
        |    AS mape
        |FROM cm WHERE h = 7 ORDER BY model""".stripMargin,
    // integer-cents CDF staircase; the integral numerator stays BIGINT
    // (|cum_r·Nc − cum_c·Nr|·gap), one float division at the edge
    "dq_wasserstein" ->
      """WITH c AS (SELECT event_type,
        |    CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) <= 15
        |      THEN 1 ELSE 0 END AS ref,
        |    CAST(floor(value * 100e0 + 0.5e0) AS BIGINT) AS cent
        |  FROM events),
        |per AS (SELECT event_type, cent, CAST(sum(ref) AS BIGINT) AS nr,
        |    CAST(sum(1 - ref) AS BIGINT) AS nc
        |  FROM c GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(nr) AS BIGINT) AS tr,
        |    CAST(sum(nc) AS BIGINT) AS tc FROM per GROUP BY 1),
        |cum AS (SELECT event_type, cent,
        |    CAST(sum(nr) OVER w AS BIGINT) AS cr,
        |    CAST(sum(nc) OVER w AS BIGINT) AS cc,
        |    lead(cent) OVER (PARTITION BY event_type ORDER BY cent) AS nxt
        |  FROM per
        |  WINDOW w AS (PARTITION BY event_type ORDER BY cent
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT cum.event_type, t.tr AS n_ref, t.tc AS n_cur,
        |  CAST(floor(CAST(sum(abs(cr * t.tc - cc * t.tr) * (nxt - cent))
        |      AS DOUBLE)
        |    / (CAST(t.tr AS DOUBLE) * CAST(t.tc AS DOUBLE) * 100e0)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS w1
        |FROM cum JOIN tot t USING (event_type)
        |WHERE nxt IS NOT NULL AND t.tr > 0 AND t.tc > 0
        |GROUP BY cum.event_type, t.tr, t.tc
        |ORDER BY event_type""".stripMargin,
    // integer bins, BIGINT-exact per-row squares; the REL/RES sums
    // replay the driver's ascending-bin fold as a cumulative window
    // (frame order = identical left-to-right double accumulation)
    "feat_brier" ->
      """WITH l AS (SELECT n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o
        |  FROM documents WHERE lang IS NOT NULL),
        |mm AS (SELECT CAST(min(n_chars) AS BIGINT) AS lo,
        |    CAST(max(n_chars) AS BIGINT) AS hi FROM l),
        |b AS (SELECT least(9, ((l.n_chars - mm.lo) * 10) // (mm.hi - mm.lo))
        |      AS bin,
        |    l.n_chars - mm.lo AS a, l.o AS o, mm.hi - mm.lo AS d
        |  FROM l CROSS JOIN mm),
        |per AS (SELECT bin, CAST(count(*) AS BIGINT) AS nk,
        |    CAST(sum(a) AS BIGINT) AS sk, CAST(sum(o) AS BIGINT) AS pk,
        |    CAST(sum((a - o * d) * (a - o * d)) AS BIGINT) AS sqk,
        |    max(d) AS d
        |  FROM b GROUP BY bin),
        |tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
        |    CAST(sum(pk) AS BIGINT) AS np, CAST(sum(sqk) AS BIGINT) AS sq,
        |    max(d) AS d FROM per),
        |cum AS (SELECT bin,
        |    sum(CAST(sk - pk * t.d AS DOUBLE) * CAST(sk - pk * t.d AS DOUBLE)
        |      / (CAST(nk AS DOUBLE) * (CAST(t.d AS DOUBLE) * CAST(t.d AS DOUBLE))
        |        * CAST(t.n AS DOUBLE))) OVER w AS rel,
        |    sum(CAST(pk * t.n - t.np * nk AS DOUBLE)
        |      * CAST(pk * t.n - t.np * nk AS DOUBLE)
        |      / (CAST(nk AS DOUBLE) * (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
        |        * CAST(t.n AS DOUBLE))) OVER w AS res
        |  FROM per CROSS JOIN tot t
        |  WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
        |fin AS (SELECT rel, res FROM cum ORDER BY bin DESC LIMIT 1)
        |SELECT t.n AS n_docs, t.np AS n_pos,
        |  CAST(floor(CAST(t.sq AS DOUBLE) / (CAST(t.n AS DOUBLE)
        |    * (CAST(t.d AS DOUBLE) * CAST(t.d AS DOUBLE)))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS brier,
        |  CAST(floor(fin.rel * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
        |    AS reliability,
        |  CAST(floor(fin.res * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
        |    AS resolution,
        |  CAST(floor((CAST(t.np AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    * (1e0 - CAST(t.np AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS uncertainty
        |FROM tot t CROSS JOIN fin""".stripMargin,
    // exact-integer counts end-to-end: the decile is DuckDB's native
    // ntile (Rank.ntileExact is bit-identical to it), cumulative sums
    // fold integers, and only the final two ratios are floats
    "feat_gains" ->
      """WITH l AS (SELECT doc_id, n_chars, (lang = 'en') AS pos
        |  FROM documents WHERE lang IS NOT NULL),
        |t AS (SELECT doc_id, pos,
        |    CAST(ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
        |      AS tile FROM l),
        |per AS (SELECT tile, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM t GROUP BY 1),
        |cum AS (SELECT a.tile AS tile, max(a.n_docs) AS n_docs,
        |    max(a.n_pos) AS n_pos,
        |    CAST(sum(p.n_docs) AS BIGINT) AS cum_docs,
        |    CAST(sum(p.n_pos) AS BIGINT) AS cum_pos
        |  FROM per a JOIN per p ON p.tile <= a.tile GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
        |    CAST(sum(n_pos) AS BIGINT) AS tp FROM per)
        |SELECT c.tile AS tile, c.n_docs AS n_docs, c.n_pos AS n_pos,
        |  CAST(floor(CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS cum_gain,
        |  CAST(floor((CAST(cum_pos AS DOUBLE) / CAST(cum_docs AS DOUBLE))
        |    / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS cum_lift
        |FROM cum c CROSS JOIN tt ORDER BY c.tile""".stripMargin,
    // Reliability table: every per-tile stat derives from exact BIGINT
    // moments; mean_score/pos_rate/gap are identical scalar trees
    // portable-rounded (gap is negative-capable -> pround, never round)
    "feat_calibration" ->
      """WITH l AS (SELECT doc_id, n_chars, (lang = 'en') AS pos
        |  FROM documents WHERE lang IS NOT NULL),
        |mm AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM l),
        |t AS (SELECT doc_id, n_chars, pos,
        |    CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
        |      AS tile FROM l),
        |per AS (SELECT tile, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(n_chars) AS BIGINT) AS s_sum FROM t GROUP BY 1)
        |SELECT tile, CAST(n_docs AS BIGINT) AS n_docs, n_pos,
        |  CAST(floor((CAST(s_sum AS DOUBLE) - CAST(n_docs AS DOUBLE)
        |      * CAST(lo AS DOUBLE))
        |    / (CAST(n_docs AS DOUBLE) * CAST(hi - lo AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS mean_score,
        |  CAST(floor(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS pos_rate,
        |  CAST(floor(((CAST(s_sum AS DOUBLE) - CAST(n_docs AS DOUBLE)
        |      * CAST(lo AS DOUBLE))
        |    / (CAST(n_docs AS DOUBLE) * CAST(hi - lo AS DOUBLE))
        |    - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS gap
        |FROM per CROSS JOIN mm ORDER BY tile""".stripMargin,
    // Nelson-Aalen twin of evt_survival_km: same lifetimes frame; the
    // prefix sums run in frame order on both engines (ROWS UNBOUNDED
    // PRECEDING determinism rule); h/vh are positive -> plain round(,4)
    "evt_hazard" ->
      """WITH u AS (SELECT user_id,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS f,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS l FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |e AS (SELECT max(l) AS edge FROM u),
        |lt AS (SELECT CAST(floor((l - f) / 86400000000.0e0) AS BIGINT) AS t,
        |    (e.edge - l >= 3 * 86400000000) AS churned FROM u CROSS JOIN e),
        |bt AS (SELECT t, sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d,
        |    count(*) AS leaving FROM lt GROUP BY 1),
        |cv AS (SELECT t, d, sum(leaving) OVER (ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
        |  FROM bt),
        |hz AS (SELECT t, n_risk, d,
        |    CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS h,
        |    CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE)
        |      * CAST(n_risk AS DOUBLE)) AS vh FROM cv),
        |cm AS (SELECT t, n_risk, d,
        |    sum(h) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
        |    sum(vh) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
        |  FROM hz)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_churned,
        |  round(ch, 4) AS cum_hazard, round(sqrt(vv), 4) AS se
        |FROM cm ORDER BY t""".stripMargin,
    // Every diversity moment is an exact BIGINT sum; the three ratios
    // are identical scalar trees under portable pround
    "text_lexdiv" ->
      (s"""WITH tk AS (SELECT lang, unnest($toksSql) AS term FROM documents
        |  WHERE lang IS NOT NULL),
        |tf AS (SELECT lang, term, count(*) AS f FROM tk GROUP BY 1, 2),
        |ag AS (SELECT lang, CAST(sum(f) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types, CAST(sum(f * f) AS BIGINT) AS sf2,
        |    CAST(sum(f * (f - 1)) AS BIGINT) AS sff1 FROM tf GROUP BY 1)
        |SELECT lang, n_tokens, CAST(n_types AS BIGINT) AS n_types,
        |  CAST(floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS ttr,
        |  CAST(floor(CAST(sff1 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
        |    * CAST(n_tokens - 1 AS DOUBLE)) * 1000000.0e0 + 0.5e0) AS DOUBLE)
        |    / 1000000.0e0 AS simpson,
        |  CAST(floor(10000.0e0 * CAST(sf2 - n_tokens AS DOUBLE)
        |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS yule_k
        |FROM ag ORDER BY lang""").stripMargin,
    // Qini by engagement decile: DuckDB's native ntile over the same
    // total order is bit-identical to Rank.ntileExact (feat_gains
    // precedent); all counts exact BIGINTs, ratios identical trees,
    // empty-arm tiles NULL-guarded on both sides
    "evt_uplift" ->
      """WITH u AS (SELECT user_id, count(*) AS n_ev,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |a AS (SELECT user_id, n_ev, conv,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 1 ELSE 0 END AS tr FROM u),
        |t AS (SELECT n_ev, conv, tr,
        |    CAST(ntile(10) OVER (ORDER BY n_ev DESC, user_id) AS BIGINT)
        |      AS tile FROM a),
        |per AS (SELECT tile, CAST(sum(tr) AS BIGINT) AS n_t,
        |    CAST(sum(1 - tr) AS BIGINT) AS n_c,
        |    CAST(sum(tr * conv) AS BIGINT) AS y_t,
        |    CAST(sum((1 - tr) * conv) AS BIGINT) AS y_c FROM t GROUP BY 1),
        |cum AS (SELECT a.tile AS tile, max(a.n_t) AS n_t, max(a.n_c) AS n_c,
        |    max(a.y_t) AS y_t, max(a.y_c) AS y_c,
        |    CAST(sum(p.n_t) AS BIGINT) AS cnt_t,
        |    CAST(sum(p.n_c) AS BIGINT) AS cnt_c,
        |    CAST(sum(p.y_t) AS BIGINT) AS cy_t,
        |    CAST(sum(p.y_c) AS BIGINT) AS cy_c
        |  FROM per a JOIN per p ON p.tile <= a.tile GROUP BY 1)
        |SELECT c.tile AS tile, n_t, n_c, y_t, y_c,
        |  CASE WHEN n_t > 0 AND n_c > 0 THEN
        |    CAST(floor((CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))
        |      * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 END AS uplift,
        |  CASE WHEN cnt_c > 0 THEN
        |    CAST(floor((CAST(cy_t AS DOUBLE) - CAST(cy_c AS DOUBLE)
        |      * (CAST(cnt_t AS DOUBLE) / CAST(cnt_c AS DOUBLE)))
        |      * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 END AS qini
        |FROM cum c ORDER BY c.tile""".stripMargin,
    // WCC size histogram: the dedup_clusters_verified closure idiom on
    // the kcore co-purchase edges -- components are exact sets, so the
    // histogram admits an exact twin
    "graph_wcc" ->
      """WITH RECURSIVE
        |l AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 5 = 0),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM l a
        |  JOIN l b ON a.ok = b.ok AND a.p < b.p),
        |e AS (SELECT u AS src, v AS dst FROM e0
        |      UNION SELECT v, u FROM e0),
        |reach AS (SELECT src, dst FROM e
        |          UNION
        |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst),
        |c AS (SELECT src AS node, LEAST(src, MIN(dst)) AS comp
        |      FROM reach GROUP BY src),
        |s AS (SELECT comp, count(*) AS csize FROM c GROUP BY comp)
        |SELECT CAST(csize AS BIGINT) AS csize,
        |  CAST(count(*) AS BIGINT) AS n_components
        |FROM s GROUP BY csize ORDER BY csize""".stripMargin,
    // MI from exact BIGINT contingency moments; the running total
    // evaluates in (r, c) frame order on both engines
    "feat_mutual_info" ->
      """WITH obs AS (SELECT l_returnflag AS r, l_linestatus AS c,
        |    count(*) AS n FROM lineitem GROUP BY 1, 2),
        |rt AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM obs GROUP BY 1),
        |ct AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM obs GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs),
        |cc AS (SELECT obs.r, obs.c, obs.n,
        |    CAST(obs.n AS DOUBLE) / CAST(nt AS DOUBLE)
        |      * ln(CAST(obs.n AS DOUBLE) * CAST(nt AS DOUBLE)
        |        / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))) AS contrib
        |  FROM obs JOIN rt ON obs.r = rt.r JOIN ct ON obs.c = ct.c
        |  CROSS JOIN tt)
        |SELECT cc.r AS r, cc.c AS c, CAST(cc.n AS BIGINT) AS n,
        |  CAST(floor(contrib * 1000000.0e0 + 0.5e0) AS DOUBLE)
        |    / 1000000.0e0 AS contrib_nats,
        |  CAST(floor(sum(contrib) OVER (ORDER BY cc.r, cc.c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    * 1000000.0e0 + 0.5e0) AS DOUBLE) / 1000000.0e0 AS mi_cum
        |FROM cc ORDER BY cc.r, cc.c""".stripMargin,
    // HHI from exact integer-dollar moments (cents rule then // 100):
    // 1e4 * sum(d^2)/tot^2 -- no float sum anywhere
    "rel_hhi" ->
      """WITH sn AS (SELECT s_suppkey, n_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |b AS (SELECT n_name AS nation, l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1.0e0 - l_discount)
        |      * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN sn ON l_suppkey = s_suppkey GROUP BY 1, 2),
        |d AS (SELECT nation, cents // 100 AS d FROM b),
        |ag AS (SELECT nation, count(*) AS n_suppliers,
        |    CAST(sum(d) AS BIGINT) AS tot,
        |    CAST(sum(d * d) AS BIGINT) AS sd2,
        |    max(d) AS dmax FROM d GROUP BY 1)
        |SELECT nation, CAST(n_suppliers AS BIGINT) AS n_suppliers,
        |  CAST(floor(CAST(dmax AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS top_share,
        |  CAST(floor(10000.0e0 * CAST(sd2 AS DOUBLE)
        |    / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
        |    * 100.0e0 + 0.5e0) AS DOUBLE) / 100.0e0 AS hhi
        |FROM ag ORDER BY nation""".stripMargin,
    // sample ACF from exact BIGINT moments: per-lag pair sums via the
    // day-index equi-join, r_k as one scalar tree on both engines
    "evt_acf" ->
      """WITH d0 AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |  FROM events),
        |d AS (SELECT day, count(*) AS x FROM d0 GROUP BY 1),
        |ix AS (SELECT day, x, row_number() OVER (ORDER BY day) AS i FROM d),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS ssq FROM ix),
        |lg AS (SELECT unnest(generate_series(1, 14)) AS lag),
        |p AS (SELECT lg.lag, count(*) AS n_pairs,
        |    CAST(sum(a.x * b.x) AS BIGINT) AS sp,
        |    CAST(sum(a.x) AS BIGINT) AS sh, CAST(sum(b.x) AS BIGINT) AS st
        |  FROM ix a CROSS JOIN lg JOIN ix b ON b.i = a.i + lg.lag
        |  GROUP BY 1)
        |SELECT CAST(p.lag AS BIGINT) AS lag, CAST(p.n_pairs AS BIGINT) AS n_pairs,
        |  CAST(floor((CAST(sp AS DOUBLE)
        |      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * CAST(sh + st AS DOUBLE)
        |      + CAST(n_pairs AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |    / (CAST(ssq AS DOUBLE)
        |      - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS acf
        |FROM p CROSS JOIN m ORDER BY p.lag""".stripMargin,
    // Chatterjee xi: ranks and sum|dr| are exact integers on the fixed
    // md5-rank sample; xi is one scalar tree
    "dq_xi_corr" ->
      """WITH t AS (SELECT o_orderpriority AS grp, o_orderdate AS x,
        |    o_totalprice AS y, md5(CAST(o_orderkey AS VARCHAR)) AS tie
        |  FROM orders),
        |s AS (SELECT grp, x, y, tie FROM (SELECT t.*,
        |    row_number() OVER (PARTITION BY grp ORDER BY tie) AS rn FROM t)
        |  WHERE rn <= 400),
        |r AS (SELECT grp,
        |    row_number() OVER (PARTITION BY grp ORDER BY x, tie) AS xr,
        |    row_number() OVER (PARTITION BY grp ORDER BY y, tie) AS yr FROM s),
        |d AS (SELECT grp,
        |    abs(yr - lag(yr) OVER (PARTITION BY grp ORDER BY xr)) AS dr FROM r),
        |g AS (SELECT grp, count(*) AS n, CAST(sum(dr) AS BIGINT) AS sum_dr
        |  FROM d GROUP BY 1)
        |SELECT grp, CAST(n AS BIGINT) AS n, sum_dr,
        |  CAST(floor((1.0e0 - 3.0e0 * CAST(sum_dr AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0e0))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS xi
        |FROM g ORDER BY grp""".stripMargin,
    // two-way ANOVA from exact BIGINT cent moments; the float sum(s^2/n)
    // terms accumulate in FRAME ORDER (window prefix read at the last
    // row) so both engines add in the identical sequence
    "dq_anova2" ->
      """WITH li AS (SELECT l_returnflag AS fa, l_linestatus AS fb,
        |    CAST(floor(l_quantity * 100.0e0 + 0.5e0) AS BIGINT) AS qc
        |  FROM lineitem),
        |cells AS (SELECT fa, fb, count(*) AS n_g,
        |    CAST(sum(qc) AS BIGINT) AS s_g,
        |    CAST(sum(qc * qc) AS BIGINT) AS ss_g
        |  FROM li GROUP BY 1, 2),
        |ma AS (SELECT fa, CAST(sum(n_g) AS BIGINT) AS n_g,
        |    CAST(sum(s_g) AS BIGINT) AS s_g FROM cells GROUP BY 1),
        |mb AS (SELECT fb, CAST(sum(n_g) AS BIGINT) AS n_g,
        |    CAST(sum(s_g) AS BIGINT) AS s_g FROM cells GROUP BY 1),
        |sa AS (SELECT cum AS sa FROM (SELECT fa,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |      OVER (ORDER BY fa ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum FROM ma) ORDER BY fa DESC LIMIT 1),
        |sb AS (SELECT cum AS sb FROM (SELECT fb,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |      OVER (ORDER BY fb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum FROM mb) ORDER BY fb DESC LIMIT 1),
        |sc AS (SELECT cum AS sc FROM (SELECT fa, fb,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |      OVER (ORDER BY fa, fb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum FROM cells) ORDER BY fa DESC, fb DESC LIMIT 1),
        |g AS (SELECT CAST(count(DISTINCT fa) AS BIGINT) AS ka,
        |    CAST(count(DISTINCT fb) AS BIGINT) AS kb,
        |    CAST(count(*) AS BIGINT) AS ncells,
        |    CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s,
        |    CAST(sum(ss_g) AS BIGINT) AS ssq FROM cells),
        |w AS (SELECT ka, kb, ncells, n,
        |    (CAST(ssq AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / 10000.0e0 AS sst,
        |    (sa - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / 10000.0e0 AS ssa,
        |    (sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / 10000.0e0 AS ssb,
        |    (sc - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / 10000.0e0 AS ssc
        |  FROM g CROSS JOIN sa CROSS JOIN sb CROSS JOIN sc),
        |u AS (
        |  SELECT 'factor_a' AS source, ka - 1 AS df,
        |    CAST(floor(ssa * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS ss,
        |    CAST(floor(ssa / sst * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS pct
        |  FROM w
        |  UNION ALL SELECT 'factor_b', kb - 1,
        |    CAST(floor(ssb * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0,
        |    CAST(floor(ssb / sst * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 FROM w
        |  UNION ALL SELECT 'interaction', (ka - 1) * (kb - 1),
        |    CAST(floor((ssc - ssa - ssb) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0,
        |    CAST(floor((ssc - ssa - ssb) / sst * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 FROM w
        |  UNION ALL SELECT 'within', n - ncells,
        |    CAST(floor((sst - ssc) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0,
        |    CAST(floor((sst - ssc) / sst * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 FROM w
        |  UNION ALL SELECT 'total', n - 1,
        |    CAST(floor(sst * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0,
        |    CAST(1.0e0 AS DOUBLE) FROM w)
        |SELECT source, CAST(df AS BIGINT) AS df, ss, pct
        |FROM u ORDER BY source""".stripMargin,
    // simplified silhouette: centroid components from 1e-6-quantized
    // BIGINT sums; distances row-local in index order
    // (list_inner_product ≡ DotProduct); per-row s(i) re-quantized so
    // the label means are exact-integer ratios
    "sim_silhouette" ->
      """WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |u AS (SELECT label, i AS dim,
        |    CAST(floor(e[i] * 1000000.0e0 + 0.5e0) AS BIGINT) AS q
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g),
        |cm AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
        |  FROM u GROUP BY 1, 2),
        |cent AS (SELECT label AS clabel,
        |    list(CAST(sq AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1000000.0e0)
        |      ORDER BY dim) AS c
        |  FROM cm GROUP BY 1),
        |sc AS (SELECT v.vec_id, v.label, cent.clabel,
        |    greatest(list_inner_product(v.e, v.e)
        |      - 2.0e0 * list_inner_product(v.e, cent.c)
        |      + list_inner_product(cent.c, cent.c), 0.0e0) AS d2
        |  FROM v CROSS JOIN cent),
        |own AS (SELECT vec_id, d2 AS a2 FROM sc WHERE label = clabel),
        |oth AS (SELECT vec_id, min(d2) AS b2 FROM sc WHERE label <> clabel
        |  GROUP BY 1),
        |per AS (SELECT v.label,
        |    CAST(floor(sqrt(a2) * 1000000.0e0 + 0.5e0) AS BIGINT) AS qa,
        |    CAST(floor(sqrt(b2) * 1000000.0e0 + 0.5e0) AS BIGINT) AS qb,
        |    CAST(floor((sqrt(b2) - sqrt(a2))
        |      / greatest(sqrt(a2), sqrt(b2)) * 1000000.0e0 + 0.5e0) AS BIGINT) AS qs
        |  FROM v JOIN own ON v.vec_id = own.vec_id
        |  JOIN oth ON v.vec_id = oth.vec_id),
        |ag AS (SELECT label, count(*) AS n_vectors,
        |    CAST(sum(qa) AS BIGINT) AS sa, CAST(sum(qb) AS BIGINT) AS sb,
        |    CAST(sum(qs) AS BIGINT) AS ss FROM per GROUP BY 1)
        |SELECT label, CAST(n_vectors AS BIGINT) AS n_vectors,
        |  CAST(floor(CAST(sa AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * 1000000.0e0)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS mean_a,
        |  CAST(floor(CAST(sb AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * 1000000.0e0)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS mean_b,
        |  CAST(floor(CAST(ss AS DOUBLE) / (CAST(n_vectors AS DOUBLE) * 1000000.0e0)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS mean_sil
        |FROM ag ORDER BY label""".stripMargin,
    // Dickey-Fuller: every regression moment an exact BIGINT; beta,
    // the OLS residual identity, and t are one scalar tree
    "evt_adf" ->
      """WITH d0 AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |  FROM events),
        |d AS (SELECT day, count(*) AS x FROM d0 GROUP BY 1),
        |ix AS (SELECT x, row_number() OVER (ORDER BY day) AS i FROM d),
        |pr AS (SELECT a.x AS z, b.x - a.x AS y
        |  FROM ix a JOIN ix b ON b.i = a.i + 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(z) AS BIGINT) AS sz,
        |    CAST(sum(z * z) AS BIGINT) AS szz, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(z * y) AS BIGINT) AS szy, CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pr),
        |c1 AS (SELECT m, sz, sy, szy, syy,
        |    CAST(m AS DOUBLE) * CAST(szz AS DOUBLE)
        |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) AS den,
        |    (CAST(m AS DOUBLE) * CAST(szy AS DOUBLE)
        |      - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(m AS DOUBLE) * CAST(szz AS DOUBLE)
        |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) AS beta FROM mm),
        |c2 AS (SELECT m, sy, szy, syy, den, beta,
        |    (CAST(sy AS DOUBLE) - beta * CAST(sz AS DOUBLE)) / CAST(m AS DOUBLE)
        |      AS alpha FROM c1),
        |c3 AS (SELECT m, den, beta,
        |    CAST(syy AS DOUBLE) - alpha * CAST(sy AS DOUBLE)
        |      - beta * CAST(szy AS DOUBLE) AS ssr FROM c2)
        |SELECT m AS n_obs,
        |  CAST(floor(beta * 1000000.0e0 + 0.5e0) AS DOUBLE) / 1000000.0e0 AS beta,
        |  CAST(floor((1.0e0 + beta) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS rho,
        |  CAST(floor(beta / sqrt(ssr / (CAST(m AS DOUBLE) - 2.0e0)
        |      * CAST(m AS DOUBLE) / den) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS t_stat
        |FROM c3""".stripMargin,
    // Beta(1,1) posterior readout: every quantity a closed-form scalar
    // tree on the four exact arm counts (md5-replayable assignment)
    "evt_bayes_ab" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS v,
        |    CASE WHEN value >= 50.0e0 THEN 1 ELSE 0 END AS s FROM events),
        |g AS (SELECT event_type,
        |    CAST(count(CASE WHEN v = 'A' THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN v = 'A' THEN s ELSE 0 END) AS BIGINT) AS s_a,
        |    CAST(count(CASE WHEN v = 'B' THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN v = 'B' THEN s ELSE 0 END) AS BIGINT) AS s_b
        |  FROM e GROUP BY 1),
        |c AS (SELECT event_type, n_a, s_a, n_b, s_b,
        |    (CAST(s_a AS DOUBLE) + 1.0e0) / (CAST(n_a AS DOUBLE) + 2.0e0) AS pma,
        |    (CAST(s_b AS DOUBLE) + 1.0e0) / (CAST(n_b AS DOUBLE) + 2.0e0) AS pmb,
        |    (CAST(s_a AS DOUBLE) + 1.0e0)
        |      * (CAST(n_a AS DOUBLE) - CAST(s_a AS DOUBLE) + 1.0e0)
        |      / ((CAST(n_a AS DOUBLE) + 2.0e0) * (CAST(n_a AS DOUBLE) + 2.0e0)
        |        * ((CAST(n_a AS DOUBLE) + 2.0e0) + 1.0e0)) AS pva,
        |    (CAST(s_b AS DOUBLE) + 1.0e0)
        |      * (CAST(n_b AS DOUBLE) - CAST(s_b AS DOUBLE) + 1.0e0)
        |      / ((CAST(n_b AS DOUBLE) + 2.0e0) * (CAST(n_b AS DOUBLE) + 2.0e0)
        |        * ((CAST(n_b AS DOUBLE) + 2.0e0) + 1.0e0)) AS pvb
        |  FROM g)
        |SELECT event_type, n_a, s_a, n_b, s_b,
        |  CAST(floor(pma * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS rate_a,
        |  CAST(floor(pmb * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS rate_b,
        |  CAST(floor((pmb - pma) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS lift,
        |  CAST(floor((pmb - pma) / sqrt(pva + pvb) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS z_score
        |FROM c ORDER BY event_type""".stripMargin,
    // neighbor-set Jaccard with the adamic-adar hub cap mirrored; the
    // top-k total order is the UNROUNDED single-division ratio
    "graph_jaccard" ->
      """WITH l AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 5 = 0),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM l a
        |  JOIN l b ON a.ok = b.ok AND a.p < b.p),
        |adj AS (SELECT u AS w, v AS x FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT w, count(*) AS dw FROM adj GROUP BY 1),
        |hub AS (SELECT adj.w, adj.x FROM adj JOIN deg ON adj.w = deg.w
        |  WHERE deg.dw BETWEEN 2 AND 256),
        |cm AS (SELECT l2.x AS a, r2.x AS b, count(*) AS n_common
        |  FROM hub l2 JOIN hub r2 ON l2.w = r2.w AND l2.x < r2.x
        |  GROUP BY 1, 2),
        |j AS (SELECT cm.a, cm.b, cm.n_common, da.dw AS da, db.dw AS db,
        |    CAST(cm.n_common AS DOUBLE)
        |      / CAST(da.dw + db.dw - cm.n_common AS DOUBLE) AS j_raw
        |  FROM cm JOIN deg da ON cm.a = da.w JOIN deg db ON cm.b = db.w)
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(n_common AS BIGINT) AS n_common,
        |  CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db,
        |  CAST(floor(j_raw * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
        |FROM j ORDER BY j_raw DESC, a, b LIMIT 20""".stripMargin,
    // Church-Gale burstiness: per-doc count moments are exact BIGINTs;
    // the zero-count docs enter only through the 1-row n_docs scalar
    "text_burstiness" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |pc AS (SELECT doc_id, term, count(*) AS c FROM tk GROUP BY 1, 2),
         |bt AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
         |    CAST(sum(c) AS BIGINT) AS tf, CAST(sum(c * c) AS BIGINT) AS sc2
         |  FROM pc GROUP BY 1 ORDER BY tf DESC, term LIMIT 20),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT term, df, tf,
         |  CAST(floor(CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    * 1000000.0e0 + 0.5e0) AS DOUBLE) / 1000000.0e0 AS mean_per_doc,
         |  CAST(floor((CAST(sc2 AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |      - (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |        * (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE)))
         |    / (CAST(tf AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS burstiness
         |FROM bt CROSS JOIN nd ORDER BY tf DESC, term""".stripMargin,
    // per-user entropy accumulates c·ln c in FRAME ORDER (event_type)
    // so both engines add in the identical sequence; bands floor-path
    "evt_user_entropy" ->
      """WITH cnt AS (SELECT user_id, event_type, count(*) AS c FROM events
        |  GROUP BY 1, 2),
        |acc AS (SELECT user_id,
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
        |      OVER (PARTITION BY user_id ORDER BY event_type
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY user_id) AS n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_type DESC)
        |      AS rn
        |  FROM cnt),
        |per AS (SELECT CAST(floor(greatest(ln(CAST(n AS DOUBLE))
        |      - cum / CAST(n AS DOUBLE), 0.0e0) * 10.0e0) AS BIGINT) AS band10,
        |    CAST(n AS BIGINT) AS n
        |  FROM acc WHERE rn = 1)
        |SELECT CAST(band10 AS DOUBLE) / 10.0e0 AS entropy_band,
        |  CAST(count(*) AS BIGINT) AS n_users, CAST(sum(n) AS BIGINT) AS n_events
        |FROM per GROUP BY band10 ORDER BY entropy_band""".stripMargin,
    // ILD: the ranking leg replays the sim_topk_exact oracle; pair
    // distances are row-local index-order sums, re-quantized so each
    // query's mean is an exact-integer ratio
    "sim_ild" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.e, c.e)
        |      / (sqrt(list_inner_product(q.e, q.e))
        |        * sqrt(list_inner_product(c.e, c.e))) AS sim
        |  FROM q JOIN c ON q.vec_id <> c.vec_id),
        |top AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number()
        |      OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |    FROM s) WHERE rnk <= 5),
        |lst AS (SELECT t.query_id, t.neighbor_id, c.e,
        |    sqrt(list_inner_product(c.e, c.e)) AS nrm
        |  FROM top t JOIN c ON t.neighbor_id = c.vec_id),
        |pr AS (SELECT x.query_id,
        |    CAST(floor((1.0e0 - list_inner_product(x.e, y.e) / (x.nrm * y.nrm))
        |      * 1000000.0e0 + 0.5e0) AS BIGINT) AS qd
        |  FROM lst x JOIN lst y ON x.query_id = y.query_id
        |    AND x.neighbor_id < y.neighbor_id),
        |g AS (SELECT query_id, count(*) AS n_pairs, CAST(sum(qd) AS BIGINT) AS sd
        |  FROM pr GROUP BY 1)
        |SELECT query_id, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(floor(CAST(sd AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 1000000.0e0)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS ild
        |FROM g ORDER BY query_id""".stripMargin,
    // the planted WAV geometry is a pure function of doc_id, so the
    // oracle recomputes the plant while Spark runs the real RIFF walk
    "mm_audio" ->
      """WITH p AS (SELECT doc_id,
        |    CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS sr,
        |    doc_id % 2 + 1 AS ch,
        |    (doc_id % 1000 + 10) * 50 AS frames
        |  FROM documents)
        |SELECT doc_id, CAST(44 AS BIGINT) AS n_bytes,
        |  CAST(ch AS BIGINT) AS channels, CAST(sr AS BIGINT) AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits, CAST(frames AS BIGINT) AS n_frames,
        |  CAST(frames * 1000 // sr AS BIGINT) AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin,
    // code detection: three regexp kernels mirrored (RE2 and Java agree
    // on these ASCII classes); the verdict is an integer cross-multiply
    "text_code_detect" ->
      """WITH d AS (SELECT source,
        |    2 * len(regexp_extract_all(text,
        |      '\b(def|class|function|return|import|const|void|public)\b'))
        |      + (length(text)
        |        - length(regexp_replace(text, '[\[\]{}();=<>]', '', 'g')))
        |      + 2 * len(regexp_extract_all(text, '\n(    |\t)')) AS s,
        |    length(text) AS nc
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN s * 20 >= nc AND nc > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_code,
        |    CAST(sum(s) AS BIGINT) AS score_sum,
        |    CAST(sum(nc) AS BIGINT) AS char_sum
        |  FROM d GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_code,
        |  CAST(floor(CAST(n_code AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS code_rate,
        |  CAST(floor(100.0e0 * CAST(score_sum AS DOUBLE)
        |    / CAST(char_sum AS DOUBLE) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS score_per_100c
        |FROM g ORDER BY source""".stripMargin,
    // the funnel chain + Wilson: every interval quantity a scalar tree
    // on the two exact counts; z^2 COMPUTED as 1.96*1.96 (a 3.8416
    // literal is a different double)
    "evt_funnel_ci" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |rows0 AS (
        |  SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS n FROM s1
        |  UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM s3),
        |rows1 AS (SELECT stage, n,
        |    lag(n) OVER (ORDER BY stage) AS n_prev FROM rows0),
        |c AS (SELECT stage, n, n_prev,
        |    CAST(n AS DOUBLE) / CAST(n_prev AS DOUBLE) AS p,
        |    1.96e0 * 1.96e0 AS z2, CAST(n_prev AS DOUBLE) AS np
        |  FROM rows1),
        |w AS (SELECT stage, n, n_prev, p,
        |    (p + z2 / (2.0e0 * np)) / (1.0e0 + z2 / np) AS center,
        |    1.96e0 * sqrt(p * (1.0e0 - p) / np + z2 / (4.0e0 * np * np))
        |      / (1.0e0 + z2 / np) AS half
        |  FROM c)
        |SELECT stage, n, n_prev,
        |  CAST(floor(p * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS rate,
        |  CAST(floor((center - half) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS wilson_lo,
        |  CAST(floor((center + half) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS wilson_hi
        |FROM w ORDER BY stage""".stripMargin,
    // new-vs-repeat: the first-order flag is one customer window; all
    // money stays integer cents
    "rel_new_repeat" ->
      """WITH f AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) = 1 AS is_new
        |  FROM orders),
        |g AS (SELECT month, count(*) AS n_orders,
        |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_first_orders,
        |    CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT)
        |      AS new_cents,
        |    CAST(sum(CASE WHEN is_new THEN 0 ELSE cents END) AS BIGINT)
        |      AS repeat_cents
        |  FROM f GROUP BY 1)
        |SELECT month, CAST(n_orders AS BIGINT) AS n_orders, n_first_orders,
        |  CAST(floor(CAST(new_cents AS DOUBLE) / 100.0e0 * 100.0e0 + 0.5e0)
        |    AS DOUBLE) / 100.0e0 AS new_revenue,
        |  CAST(floor(CAST(repeat_cents AS DOUBLE) / 100.0e0 * 100.0e0 + 0.5e0)
        |    AS DOUBLE) / 100.0e0 AS repeat_revenue,
        |  CAST(floor(CAST(repeat_cents AS DOUBLE)
        |    / CAST(new_cents + repeat_cents AS DOUBLE) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS repeat_share
        |FROM g ORDER BY month""".stripMargin,
    // JL check: md5-derived signs over the (dim x k) domain, exact
    // integer projections, row-local index-order distances
    "feat_rand_proj" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id < 100),
        |cm AS (SELECT vec_id, i - 1 AS d,
        |    CAST(floor(e[i] * 1000000.0e0 + 0.5e0) AS BIGINT) AS q
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g),
        |sg AS (SELECT a.d, b.j,
        |    CASE WHEN substring(md5(CAST(a.d AS VARCHAR) || ':'
        |      || CAST(b.j AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT unnest(generate_series(0, 63)) AS d) a,
        |       (SELECT unnest(generate_series(0, 15)) AS j) b),
        |pj AS (SELECT vec_id, j, CAST(sum(q * sg) AS BIGINT) AS p
        |  FROM cm JOIN sg ON cm.d = sg.d GROUP BY 1, 2),
        |pv AS (SELECT vec_id, list(CAST(p AS DOUBLE) ORDER BY j) AS pv
        |  FROM pj GROUP BY 1),
        |qv AS (SELECT vec_id, list(CAST(q AS DOUBLE) ORDER BY d) AS qv
        |  FROM cm GROUP BY 1),
        |b2 AS (SELECT qv.vec_id, qv.qv, pv.pv
        |  FROM qv JOIN pv ON qv.vec_id = pv.vec_id),
        |pr AS (SELECT l.vec_id // 2 AS pair_id,
        |    list_inner_product(l.qv, l.qv)
        |      - 2.0e0 * list_inner_product(l.qv, r.qv)
        |      + list_inner_product(r.qv, r.qv) AS do2,
        |    list_inner_product(l.pv, l.pv)
        |      - 2.0e0 * list_inner_product(l.pv, r.pv)
        |      + list_inner_product(r.pv, r.pv) AS dp2
        |  FROM b2 l JOIN b2 r ON r.vec_id = l.vec_id + 1 AND l.vec_id % 2 = 0)
        |SELECT CAST(pair_id AS BIGINT) AS pair_id,
        |  CAST(floor(dp2 / 16.0e0 / do2 * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS distortion
        |FROM pr WHERE do2 > 0.0e0 ORDER BY pair_id""".stripMargin,
    // repeat-purchase cadence: one customer lag window, exact integer
    // day gaps, the percentile ≡ quantile_cont parity (value_bands rule)
    "rel_repeat_interval" ->
      """WITH g0 AS (SELECT o_custkey, o_orderdate,
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |g AS (SELECT o_custkey AS c_custkey,
        |    CAST(date_diff('day', CAST(prev AS DATE), CAST(o_orderdate AS DATE))
        |      AS BIGINT) AS gap_days
        |  FROM g0 WHERE prev IS NOT NULL),
        |j AS (SELECT c_mktsegment AS segment, gap_days
        |  FROM g JOIN customer USING (c_custkey))
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap_days, 0.25e0), 4) AS p25,
        |  round(quantile_cont(gap_days, 0.5e0), 4) AS p50,
        |  round(quantile_cont(gap_days, 0.75e0), 4) AS p75
        |FROM j GROUP BY 1 ORDER BY segment""".stripMargin,
    // price dispersion from exact integer-cent unit prices; variance
    // via BIGINT moments, one scalar subtraction
    "rel_price_dispersion" ->
      """WITH u AS (SELECT p_brand,
        |    CAST(floor(l_extendedprice / l_quantity * 100.0e0 + 0.5e0)
        |      AS BIGINT) AS uc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |g AS (SELECT p_brand, count(*) AS n, CAST(sum(uc) AS BIGINT) AS s,
        |    CAST(sum(uc * uc) AS BIGINT) AS ss,
        |    CAST(min(uc) AS BIGINT) AS lo, CAST(max(uc) AS BIGINT) AS hi
        |  FROM u GROUP BY 1)
        |SELECT p_brand, CAST(n AS BIGINT) AS n,
        |  CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0e0
        |    * 100.0e0 + 0.5e0) AS DOUBLE) / 100.0e0 AS mean_price,
        |  CAST(floor(sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0e0))
        |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS cv,
        |  CAST(floor(CAST(hi AS DOUBLE) / CAST(lo AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS spread_ratio
        |FROM g ORDER BY p_brand""".stripMargin,
    // per-source dup profile: the exact-dedup fingerprint fold twice
    "text_dup_rate" ->
      """WITH f AS (SELECT source,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |c AS (SELECT source, fp, count(*) AS c FROM f GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_unique,
        |    CAST(sum(c - 1) AS BIGINT) AS n_redundant,
        |    CAST(max(c) AS BIGINT) AS max_copies FROM c GROUP BY 1)
        |SELECT source, n_docs, n_unique, n_redundant, max_copies,
        |  CAST(floor(CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS dup_rate
        |FROM g ORDER BY source""".stripMargin,
    // SLO burn: the daily verdict is an integer cross-multiply; the
    // cumulative burn divides two running BIGINTs
    "evt_slo_burn" ->
      """WITH d0 AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
        |  FROM events),
        |d AS (SELECT day, count(*) AS n_events,
        |    CAST(sum(err) AS BIGINT) AS n_errors FROM d0 GROUP BY 1),
        |c AS (SELECT day, CAST(n_events AS BIGINT) AS n_events, n_errors,
        |    CAST(sum(n_events) OVER w AS BIGINT) AS cum_events,
        |    CAST(sum(n_errors) OVER w AS BIGINT) AS cum_errors
        |  FROM d WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT day, n_events, n_errors,
        |  CAST(floor(CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS err_share,
        |  n_errors * 1000 > 200 * n_events AS breach,
        |  CAST(floor(CAST(cum_errors AS DOUBLE) * 1000.0e0
        |    / (200.0e0 * CAST(cum_events AS DOUBLE)) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS budget_burn
        |FROM c ORDER BY day""".stripMargin,
    // level drift: the split point is exact integer microseconds; the
    // per-level membership flags are exact maxes
    "dq_level_drift" ->
      """WITH b AS (SELECT CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS lo,
        |    CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS hi FROM orders),
        |t1 AS (SELECT o_orderpriority, o_orderstatus,
        |    epoch_us(o_orderdate) * 2 > lo + hi AS h2
        |  FROM orders CROSS JOIN b),
        |a1 AS (SELECT o_orderpriority AS level,
        |    max(CASE WHEN NOT h2 THEN 1 ELSE 0 END) AS in1,
        |    max(CASE WHEN h2 THEN 1 ELSE 0 END) AS in2 FROM t1 GROUP BY 1),
        |s1 AS (SELECT 'o_orderpriority' AS column_name,
        |    CAST(sum(in1) AS BIGINT) AS n_levels_h1,
        |    CAST(sum(in2) AS BIGINT) AS n_levels_h2,
        |    CAST(sum(CASE WHEN in2 = 1 AND in1 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_gone FROM a1),
        |a2 AS (SELECT o_orderstatus AS level,
        |    max(CASE WHEN NOT h2 THEN 1 ELSE 0 END) AS in1,
        |    max(CASE WHEN h2 THEN 1 ELSE 0 END) AS in2 FROM t1 GROUP BY 1),
        |s2 AS (SELECT 'o_orderstatus' AS column_name,
        |    CAST(sum(in1) AS BIGINT) AS n_levels_h1,
        |    CAST(sum(in2) AS BIGINT) AS n_levels_h2,
        |    CAST(sum(CASE WHEN in2 = 1 AND in1 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_gone FROM a2)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY column_name""".stripMargin,
    // dow ANOVA: exact BIGINT count moments; the sum(s^2/n) term is a
    // frame-order prefix over the <=7-row dow domain (the anova2 rule);
    // Spark dayofweek-1 pairs with DuckDB dayofweek (decompose rule)
    "evt_dow_anova" ->
      """WITH d0 AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow
        |  FROM events),
        |d AS (SELECT day, dow, count(*) AS x FROM d0 GROUP BY 1, 2),
        |g AS (SELECT dow, count(*) AS n_g, CAST(sum(x) AS BIGINT) AS s_g,
        |    CAST(sum(x * x) AS BIGINT) AS ss_g FROM d GROUP BY 1),
        |sa AS (SELECT cum FROM (SELECT dow,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
        |      OVER (ORDER BY dow ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum FROM g) ORDER BY dow DESC LIMIT 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(s_g) AS BIGINT) AS s, CAST(sum(ss_g) AS BIGINT) AS ssq
        |  FROM g)
        |SELECT k, n AS n_days,
        |  CAST(floor(((cum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0e0))
        |      / ((CAST(ssq AS DOUBLE) - cum)
        |        / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS f_stat,
        |  CAST(floor((cum - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE))
        |    / (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS eta_sq
        |FROM m CROSS JOIN sa""".stripMargin,
    // effective tokens: first-doc_id-per-fingerprint wins; all token
    // counts exact BIGINTs, shares single divisions
    "mix_effective_tokens" ->
      s"""WITH f AS (SELECT source, doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_toks,
         |    md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         |k AS (SELECT source, n_toks,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS keep
         |  FROM f),
         |p AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS raw_tokens,
         |    CAST(sum(CASE WHEN keep THEN n_toks ELSE 0 END) AS BIGINT)
         |      AS effective_tokens
         |  FROM k GROUP BY 1),
         |t AS (SELECT CAST(sum(effective_tokens) AS BIGINT) AS pool FROM p)
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, raw_tokens,
         |  effective_tokens,
         |  CAST(floor(CAST(effective_tokens AS DOUBLE)
         |    / CAST(raw_tokens AS DOUBLE) * 10000.0e0 + 0.5e0) AS DOUBLE)
         |    / 10000.0e0 AS yield_ratio,
         |  CAST(floor(CAST(effective_tokens AS DOUBLE)
         |    / CAST(pool AS DOUBLE) * 10000.0e0 + 0.5e0) AS DOUBLE)
         |    / 10000.0e0 AS pool_share
         |FROM p CROSS JOIN t ORDER BY source""".stripMargin,
    // FP-growth's frequent-itemset SET is deterministic (exact counts,
    // no sampling): the oracle enumerates candidate itemsets to arity 4
    // by ordered self-joins of the distinct (order, brand) table — far
    // past the observed max arity (2), so a regenerated corpus can't
    // silently outgrow the enumeration without a row-count red.
    // minCount replays MLlib's ceil(minSupport·n) in identical doubles.
    // MATERIALIZED pins the shared basket CTE (inlined 5× it repeats
    // the distinct-join and the optimizer stalls).
    "rel_fpgrowth" ->
      """WITH d AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS ok,
        |    p.p_brand AS b
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT CAST(ceil(0.02e0 * CAST(count(DISTINCT ok) AS DOUBLE))
        |    AS BIGINT) AS mc FROM d),
        |s1 AS (SELECT b AS itemset, CAST(1 AS BIGINT) AS arity,
        |    count(*) AS freq FROM d GROUP BY 1),
        |s2 AS (SELECT a.b || ',' || c.b AS itemset, CAST(2 AS BIGINT) AS arity,
        |    count(*) AS freq
        |  FROM d a JOIN d c ON a.ok = c.ok AND a.b < c.b GROUP BY 1),
        |s3 AS (SELECT a.b || ',' || c.b || ',' || e.b AS itemset,
        |    CAST(3 AS BIGINT) AS arity, count(*) AS freq
        |  FROM d a JOIN d c ON a.ok = c.ok AND a.b < c.b
        |  JOIN d e ON a.ok = e.ok AND c.b < e.b GROUP BY 1),
        |s4 AS (SELECT a.b || ',' || c.b || ',' || e.b || ',' || f.b AS itemset,
        |    CAST(4 AS BIGINT) AS arity, count(*) AS freq
        |  FROM d a JOIN d c ON a.ok = c.ok AND a.b < c.b
        |  JOIN d e ON a.ok = e.ok AND c.b < e.b
        |  JOIN d f ON a.ok = f.ok AND e.b < f.b GROUP BY 1),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
        |SELECT itemset, arity, freq FROM u CROSS JOIN n
        |WHERE freq >= mc ORDER BY arity, itemset""".stripMargin,
    // PrefixSpan's frequent-subsequence set is likewise deterministic:
    // candidates = type-domain^{1..3} (maxPatternLength=3), support =
    // journeys (rn ≤ 20, the evt_seq_match journey CTE verbatim)
    // containing the pattern as a gapped subsequence — the '>'-wrapped
    // boundary regex with [^>]+ gap tokens, charset-agnostic.
    "rel_prefixspan" ->
      """WITH e AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn FROM events),
        |j AS MATERIALIZED (SELECT user_id,
        |    '>' || string_agg(event_type, '>' ORDER BY rn) || '>' AS wp
        |  FROM e WHERE rn <= 20 GROUP BY user_id),
        |n AS (SELECT CAST(ceil(0.2e0 * CAST(count(*) AS DOUBLE)) AS BIGINT)
        |    AS mc FROM j),
        |t AS (SELECT DISTINCT event_type AS ty FROM events),
        |c1 AS (SELECT ty AS pattern, CAST(1 AS BIGINT) AS arity,
        |    '>' || ty || '>' AS re FROM t),
        |c2 AS (SELECT a.ty || '>' || b.ty AS pattern,
        |    CAST(2 AS BIGINT) AS arity,
        |    '>' || a.ty || '>([^>]+>)*' || b.ty || '>' AS re FROM t a, t b),
        |c3 AS (SELECT a.ty || '>' || b.ty || '>' || c.ty AS pattern,
        |    CAST(3 AS BIGINT) AS arity,
        |    '>' || a.ty || '>([^>]+>)*' || b.ty || '>([^>]+>)*' || c.ty || '>'
        |      AS re FROM t a, t b, t c),
        |cand AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |  UNION ALL SELECT * FROM c3),
        |f AS (SELECT pattern, arity,
        |    CAST(sum(CASE WHEN regexp_matches(wp, re) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS freq
        |  FROM cand CROSS JOIN j GROUP BY 1, 2)
        |SELECT pattern, arity, freq FROM f CROSS JOIN n WHERE freq >= mc
        |ORDER BY arity, pattern""".stripMargin,
    // k-core peeling replayed as a bounded recursive CTE: each step
    // keeps edges whose BOTH endpoints have degree ≥ 3 in the previous
    // step's edge set (DuckDB's working table), 30 steps = kCore's
    // maxIters; a converged set repeats unchanged, so i=30 IS the
    // fixpoint (and empty if the 3-core is empty).
    "graph_kcore" ->
      """WITH RECURSIVE
        |l AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 5 = 0),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM l a
        |  JOIN l b ON a.ok = b.ok AND a.p < b.p),
        |core(i, u, v) AS (
        |  SELECT 0, u, v FROM e0
        |  UNION ALL
        |  SELECT i + 1, u, v FROM core
        |  WHERE i < 30
        |    AND u IN (SELECT x FROM (SELECT u AS x FROM core
        |      UNION ALL SELECT v AS x FROM core) dd
        |      GROUP BY x HAVING count(*) >= 3)
        |    AND v IN (SELECT x FROM (SELECT u AS x FROM core
        |      UNION ALL SELECT v AS x FROM core) dd
        |      GROUP BY x HAVING count(*) >= 3))
        |SELECT node, count(*) AS core_degree FROM (
        |  SELECT u AS node FROM core WHERE i = 30
        |  UNION ALL SELECT v AS node FROM core WHERE i = 30) nx
        |GROUP BY node ORDER BY node""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | CAST(sum(CAST(floor(l_extendedprice * 100e0 + 0.5e0) AS BIGINT))
        |   AS DOUBLE) / 100e0 AS sum_base_price,
        | CAST(sum(CAST(floor(l_extendedprice*(1.0e0-l_discount) * 100e0
        |     + 0.5e0) AS BIGINT)) AS DOUBLE) / 100e0 AS sum_disc_price,
        | CAST(floor(avg(l_quantity) * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0
        |   AS avg_qty,
        | CAST(floor(CAST(sum(CAST(floor(l_discount * 100e0 + 0.5e0)
        |       AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |     * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        | CAST(floor(l_extendedprice*(1.0e0-l_discount)*100.0e0 + 0.5e0) AS DOUBLE)/100.0e0 AS net_price
        |FROM lineitem WHERE l_quantity > 45 AND l_discount > 0.05e0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_join" ->
      """SELECT c_custkey, c_name,
        | round(sum(l_extendedprice*(1.0e0-l_discount)),2) AS revenue, count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q4_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q5_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q6_region_join" ->
      """SELECT r_name, count(*) AS n_cust,
        | CAST(floor(CAST(sum(CAST(floor(c_acctbal * 100e0 + 0.5e0)
        |       AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |     * 100e0 + 0.5e0) AS DOUBLE) / 100e0 AS avg_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q7_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q8_semijoin" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q9_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q10_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag, coalesce(l_linestatus, 'ALL') AS lstatus,
        | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "q11_case_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0.0e0 END),2) AS big_total,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q12_union" ->
      """SELECT bucket, o_orderstatus, count(*) AS n FROM (
        | SELECT 'high' AS bucket, o_orderstatus FROM orders WHERE o_totalprice > 400000
        | UNION ALL
        | SELECT 'recent' AS bucket, o_orderstatus FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY bucket, o_orderstatus ORDER BY bucket, o_orderstatus""".stripMargin,
    "q13_percentile" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.25e0),4) AS q25_qty,
        | round(quantile_cont(l_quantity, 0.5e0),4) AS median_qty,
        | round(quantile_cont(l_extendedprice, 0.75e0),4) AS q75_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q13_approx (oracle-backed r10): the sketch value has no DuckDB
    // twin, but its rank-bound CONTRACT does — the Spark side derives
    // 1/0 verdicts from counts around the sketch output; the oracle
    // recomputes the exact percentiles and emits the expected-pass
    // constants. A sketch past its N/accuracy bound flips a verdict to
    // 0 and reds the hash.
    "q13_approx" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
        | round(quantile_cont(l_quantity, 0.5e0),4) AS median_qty,
        | round(quantile_cont(l_extendedprice, 0.75e0),4) AS q75_price,
        | 1::BIGINT AS median_in_bound, 1::BIGINT AS q75_in_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // full outer join: one-sided rows surface with NULLs on the other
    "q28_full_outer" ->
      """WITH big AS (SELECT o_custkey AS custkey, count(*) AS n_big_orders
        |  FROM orders WHERE o_totalprice > 400000 GROUP BY 1),
        |rich AS (SELECT c_custkey AS custkey, c_acctbal AS acctbal
        |  FROM customer WHERE c_acctbal > 9000)
        |SELECT COALESCE(big.custkey, rich.custkey) AS custkey, n_big_orders, acctbal
        |FROM big FULL OUTER JOIN rich ON big.custkey = rich.custkey
        |ORDER BY custkey""".stripMargin,
    "q14_dates" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin,
    "q15_strings" ->
      """SELECT c_custkey, upper(substr(c_name, 10, 9)) AS cust_num,
        | replace(c_name, 'Customer#', 'C-') AS short_name,
        | c_mktsegment || '/' || c_name AS tagged,
        | CAST(length(c_name) AS BIGINT) AS name_len
        |FROM customer WHERE c_name LIKE '%00%' ORDER BY c_custkey""".stripMargin,
    "render_slice" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,
    "ingest_csv" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "ingest_json" ->
      """SELECT n_regionkey, count(*) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "export_roundtrip" ->
      """SELECT p_brand, count(*) AS n,
        | CAST(floor(CAST(sum(CAST(floor(p_retailprice * 100e0 + 0.5e0)
        |       AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |     * 100e0 + 0.5e0) AS DOUBLE) / 100e0 AS avg_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "serde_json" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "bundle_stats" ->
      "SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang",
    // bundle_pick (full oracle since r13): the picked subtree's row
    // count replays from the documents table, and n_files = 1 is a
    // LAYOUT CONTRACT — writeBundle repartitions by lang before
    // partitionBy, so each lang's rows flow through exactly one writer
    // task and land in exactly one file (the gate now pins that too).
    "bundle_pick" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM documents WHERE lang = 'en'""".stripMargin,
    "registry_roundtrip" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 5000 ORDER BY c_custkey""".stripMargin,
    "registry_archive" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > 3000 ORDER BY s_suppkey""".stripMargin,
    "pipeline_demo" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice),2) AS total
        |FROM lineitem WHERE l_quantity > 40
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "pipeline_llm" ->
      """WITH cleaned AS (
        |  SELECT doc_id, lang, trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, 'https?://\S+', ' ', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
        |      '[\x00-\x1f]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS ctext FROM documents),
        |scored AS (
        |  SELECT doc_id, lang, ctext,
        |   CAST(len(list_filter(regexp_split_to_array(lower(ctext), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM cleaned),
        |kept AS (SELECT * FROM scored WHERE n_tokens >= 20),
        |deduped AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (
        |    PARTITION BY lower(trim(regexp_replace(ctext, '\s+', ' ', 'g'))) ORDER BY doc_id) AS rn
        |   FROM kept) WHERE rn = 1)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM deduped GROUP BY lang ORDER BY lang""".stripMargin,
    "meta_profile" ->
      """SELECT * FROM (
        | SELECT 'l_discount' AS col_name, count(*) AS cnt,
        |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(min(l_discount) AS DOUBLE) AS minv, CAST(max(l_discount) AS DOUBLE) AS maxv,
        |  count(DISTINCT l_discount) AS ndv FROM lineitem
        | UNION ALL
        | SELECT 'l_extendedprice', count(*),
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),
        |  count(DISTINCT l_extendedprice) FROM lineitem
        | UNION ALL
        | SELECT 'l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE),
        |  count(DISTINCT l_quantity) FROM lineitem)
        |ORDER BY col_name""".stripMargin,
    // meta_profile_approx (oracle-backed r12, q13_approx precedent): the
    // HLL++ ndv estimate has no DuckDB twin, but its 3σ accuracy contract
    // does — the Spark side emits exact ndv + a 1/0 verdict; the oracle
    // recomputes the exact stats and emits the expected-pass constant.
    "meta_profile_approx" ->
      """SELECT *, 1::BIGINT AS ndv_in_bound FROM (
        | SELECT 'l_discount' AS col_name, count(*) AS cnt,
        |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        |  CAST(min(l_discount) AS DOUBLE) AS minv, CAST(max(l_discount) AS DOUBLE) AS maxv,
        |  count(DISTINCT l_discount) AS ndv FROM lineitem
        | UNION ALL
        | SELECT 'l_extendedprice', count(*),
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE),
        |  count(DISTINCT l_extendedprice) FROM lineitem
        | UNION ALL
        | SELECT 'l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE),
        |  count(DISTINCT l_quantity) FROM lineitem)
        |ORDER BY col_name""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // ranking is by the integer key (tf desc, df asc, term) so no float
    // comparison decides top-k membership; tfidf is informational output
    "text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, term FROM t) GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT doc_id, term, tf, df,
         | CAST(floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000.0e0 + 0.5e0) AS DOUBLE)
         |   / 10000.0e0 AS tfidf,
         | CAST(rank AS BIGINT) AS rank
         |FROM (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n_docs,
         |  row_number() OVER (PARTITION BY tf.doc_id
         |    ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rank
         | FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // chr(769) = U+0301 COMBINING ACUTE: the appended suffix is decomposed
    // (6 bytes) and NFC recomposes it (5 bytes, composed final char)
    "text_nfc" ->
      """WITH r AS (SELECT doc_id, text || 'cafe' || chr(769) AS raw FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM r)
        |SELECT doc_id, CAST(strlen(raw) AS BIGINT) AS raw_bytes,
        | CAST(strlen(nfc) AS BIGINT) AS nfc_bytes, right(nfc, 4) AS suffix
        |FROM n ORDER BY doc_id""".stripMargin,
    "text_lang_stats" ->
      s"""WITH t AS (SELECT lang, source, n_chars, len($toksSql) AS n_tokens FROM documents)
         |SELECT lang, count(*) AS n_docs,
         | CAST(floor(avg(n_chars) * 100e0 + 0.5e0) AS DOUBLE) / 100e0
         |   AS avg_chars,
         | CAST(sum(n_tokens) AS BIGINT) AS total_tokens, count(DISTINCT source) AS n_sources
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    // compaction preserves contents exactly, so the original table is
    // the oracle for the aggregate over the compacted copy
    "maint_compact" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // clustering preserves contents exactly (layout-only rewrite)
    "maint_cluster" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // the bloom-pruned read must return every row whose content hash
    // matches a probe — including duplicate texts under other doc_ids
    // footer-derived counts must equal the scanned truth (append
    // carries the previous version's files forward, so v2 is cumulative)
    // after orphan GC the committed slice must read identically
    // the hidden-partitioned round trip must equal the raw-ts filter
    // on the ORIGINAL table (pruning is a plan property, not a result)
    // only the CHECK-passing batch is visible
    "maint_constraint" ->
      """SELECT count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,
    "maint_hidden_partition" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "maint_orphan_gc" ->
      """SELECT count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,
    "maint_meta_count" ->
      """SELECT CAST(1 AS BIGINT) AS commit_seq,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_rows
        |UNION ALL SELECT CAST(2 AS BIGINT),
        |  (SELECT count(*) FROM orders)
        |ORDER BY commit_seq""".stripMargin,
    "maint_bloom_skip" ->
      """WITH probes AS (SELECT md5(text) AS h FROM
        |  (SELECT text FROM documents WHERE doc_id % 97 = 3
        |   ORDER BY doc_id LIMIT 5) q)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE md5(text) IN (SELECT h FROM probes) ORDER BY doc_id""".stripMargin,
    // identical grid + Morton-interleave arithmetic, DuckDB operators
    "maint_zorder" -> {
      val zx = graft.operators.Layout.gridOracleSql("doc_id", "minx", "maxx")
      val zy = graft.operators.Layout.gridOracleSql("n_chars", "miny", "maxy")
      val zv = graft.operators.Layout.mortonOracleSql("zx", "zy")
      s"""WITH b AS (SELECT CAST(min(doc_id) AS BIGINT) AS minx,
         |  CAST(max(doc_id) AS BIGINT) AS maxx,
         |  CAST(min(n_chars) AS BIGINT) AS miny,
         |  CAST(max(n_chars) AS BIGINT) AS maxy FROM documents),
         |g AS (SELECT doc_id, CAST($zx AS BIGINT) AS zx,
         |  CAST($zy AS BIGINT) AS zy FROM documents, b)
         |SELECT doc_id, zx, zy, CAST($zv AS BIGINT) AS zval
         |FROM g ORDER BY zval, doc_id""".stripMargin
    },
    // unigram LM scoring: same two aggregations, natural log both sides
    "text_perplexity" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
         |n AS (SELECT count(*) AS n_total FROM toks)
         |SELECT doc_id, count(*) AS n_tokens,
         | round(avg(-ln(cnt / CAST(n_total AS DOUBLE))), 4) AS cross_entropy
         |FROM toks JOIN c USING (term) CROSS JOIN n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // CCNet terciles: same per-doc score CTEs; membership via integer
    // ntile over the deterministic (rounded score, doc_id) order — no
    // float threshold comparison
    "text_ppl_buckets" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
         |n AS (SELECT count(*) AS n_total FROM toks),
         |ce AS (SELECT doc_id,
         |   round(avg(-ln(cnt / CAST(n_total AS DOUBLE))), 4) AS cross_entropy
         | FROM toks JOIN c USING (term) CROSS JOIN n GROUP BY doc_id),
         |r AS (SELECT d.lang, ce.doc_id, ce.cross_entropy,
         |   ntile(3) OVER (PARTITION BY d.lang
         |     ORDER BY ce.cross_entropy, ce.doc_id) AS nt
         | FROM ce JOIN documents d ON d.doc_id = ce.doc_id)
         |SELECT lang,
         |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs, round(avg(cross_entropy), 4) AS avg_ce
         |FROM r GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    // bigram LM scoring: same model tables, natural log both sides
    "text_bigram_ce" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
         |bw AS (SELECT doc_id,
         |  unnest(list_transform(generate_series(1, len(toks)-1),
         |    i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM s),
         |b AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM bw),
         |c12 AS (SELECT bigram, count(*) AS c12 FROM b GROUP BY bigram),
         |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1)
         |SELECT doc_id, count(*) AS n_bigrams,
         | round(avg(-ln(c12 / CAST(c1 AS DOUBLE))), 4) AS bigram_ce
         |FROM b JOIN c12 USING (bigram) JOIN c1 USING (w1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the hashed-feature weight table replays from md5 on both engines;
    // the bucket space and the 'w'||id weight derivation are identical
    "text_hashed_lr" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s0 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
         |uni AS (SELECT doc_id, unnest(toks) AS gram FROM s0),
         |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
         |    i -> toks[i] || ' ' || toks[i+1])) AS gram FROM s0 WHERE len(toks) >= 2),
         |g AS (SELECT doc_id,
         |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bucket
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u),
         |w AS (SELECT range AS bucket,
         |    ('0x' || substr(md5('w' || range), 1, 8))::BIGINT / 4294967296.0e0 - 0.5e0 AS w
         |  FROM range(4096)),
         |a AS (SELECT doc_id, count(*) AS n_grams, sum(w.w) AS s
         |  FROM g JOIN w USING (bucket) GROUP BY doc_id)
         |SELECT doc_id, n_grams,
         |  round(1.0e0 / (1.0e0 + exp(-s / sqrt(n_grams))), 4) AS score
         |FROM a ORDER BY doc_id""".stripMargin,
    // every ratio rule compares cross-multiplied BIGINTs, so no float
    // ever decides a rule — the two engines must agree exactly
    "text_gopher" ->
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_words,
         |  CAST(len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS alnum,
         |  CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS symbols,
         |  CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is|that)\\b')) AS BIGINT) AS stop_hits,
         |  CAST(len(regexp_extract_all(lower(text), '\\b[0-9]+\\b')) AS BIGINT) AS digit_toks
         | FROM documents),
         |r AS (SELECT doc_id, n_words,
         |  (n_words >= 50 AND n_words <= 100000) AS r_wc,
         |  (3*n_words <= alnum AND alnum <= 10*n_words) AS r_wl,
         |  (10*symbols <= n_words) AS r_sym,
         |  (stop_hits >= 2) AS r_stop,
         |  (10*digit_toks <= 3*n_words) AS r_dig FROM m)
         |SELECT doc_id, n_words,
         | CAST(r_wc AS BIGINT) AS r_wordcount, CAST(r_wl AS BIGINT) AS r_wordlen,
         | CAST(r_sym AS BIGINT) AS r_symbol, CAST(r_stop AS BIGINT) AS r_stopword,
         | CAST(r_dig AS BIGINT) AS r_digit,
         | CAST(5 - CAST(r_wc AS INT) - CAST(r_wl AS INT) - CAST(r_sym AS INT)
         |   - CAST(r_stop AS INT) - CAST(r_dig AS INT) AS BIGINT) AS n_failed,
         | CAST(r_wc AND r_wl AND r_sym AND r_stop AND r_dig AS BIGINT) AS pass
         |FROM r ORDER BY doc_id""".stripMargin,
    // the full curation flow replayed step-for-step: clean → token gate
    // → fingerprint-dedup (first per fp) → 12/16 hash sample → stats
    "pipeline_curate" ->
      """WITH cleaned AS (
        |  SELECT doc_id, source, trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, 'https?://\S+', ' ', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
        |      '[\x00-\x1f]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS ctext FROM documents),
        |scored AS (SELECT doc_id, source, ctext,
        |  CAST(len(list_filter(regexp_split_to_array(lower(ctext), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_toks
        | FROM cleaned),
        |gated AS (SELECT * FROM scored WHERE n_toks >= 10),
        |deduped AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY md5(lower(trim(regexp_replace(ctext, '\s+', ' ', 'g'))))
        |    ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
        |sampled AS (SELECT * FROM deduped
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c')
        |SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens
        |FROM sampled GROUP BY source ORDER BY source""".stripMargin,
    // hex-prefix comparison implements the same d/16 hash sampling in
    // both engines (md5 hex alphabet is ASCII-ordered)
    // DSIR: both hashed-bigram LMs and the llr algebra replay exactly
    // (integer counts, identical double literals, round-4 before the
    // exact-percentile threshold comparison)
    "mix_dsir" ->
      s"""WITH t0 AS (SELECT doc_id, lang = 'en' AS is_t, $toksSql AS toks FROM documents),
         |t1 AS (SELECT doc_id, is_t, toks FROM t0 WHERE len(toks) >= 1),
         |g AS (SELECT doc_id, is_t, unnest(toks ||
         |    CASE WHEN len(toks) >= 2 THEN list_transform(
         |      generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE [] END) AS gram FROM t1),
         |b AS (SELECT doc_id, is_t,
         |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bucket FROM g),
         |lm AS (SELECT bucket, count(*) AS n_r,
         |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_t FROM b GROUP BY bucket),
         |tot AS (SELECT sum(n_r) AS nr, sum(n_t) AS nt FROM lm),
         |w AS (SELECT bucket,
         |    ln((CAST(n_t AS DOUBLE) + 1.0e0) / (CAST(nt AS DOUBLE) + 4096))
         |      - ln((CAST(n_r AS DOUBLE) + 1.0e0) / (CAST(nr AS DOUBLE) + 4096)) AS w
         |  FROM lm CROSS JOIN tot),
         |sc AS (SELECT doc_id, count(*) AS n_grams,
         |    round(sum(w.w) / count(*), 4) AS llr
         |  FROM b JOIN w USING (bucket) GROUP BY doc_id),
         |th AS (SELECT quantile_cont(llr, 0.8e0) AS th FROM sc)
         |SELECT doc_id, n_grams, llr, llr >= th.th AS selected
         |FROM sc CROSS JOIN th ORDER BY doc_id""".stripMargin,
    "mix_sampled" ->
      """SELECT source, count(*) AS n_sampled FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |  CASE WHEN coalesce(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT), 1) % 2 = 0
        |       THEN '8' ELSE '2' END
        |GROUP BY source ORDER BY source""".stripMargin,
    // two-hex-digit prefix → 1/256-granular stratified split, replayed
    // with the same ASCII string comparisons
    "split_assign" ->
      """WITH a AS (SELECT source, doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '08' THEN 'test'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '18' THEN 'validation'
        |       ELSE 'train' END AS split FROM documents)
        |SELECT source, split, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM a GROUP BY source, split ORDER BY source, split""".stripMargin,
    // planted pii built with the SAME expressions as the Spark side;
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all by
    // default), sums cast to BIGINT (DuckDB sum(int) is HUGEINT)
    "text_pii" ->
      """WITH planted AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN ' visit https://example.org/d/' || CAST(doc_id AS VARCHAR) ELSE '' END
        |  || CASE WHEN doc_id % 13 = 0 THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT) AS n_urls,
        | CAST(len(regexp_extract_all(text, '[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |   'https?://\S+', '[URL]', 'g'),
        |   '[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
        |FROM planted ORDER BY doc_id""".stripMargin,
    // registrable domain = last two dot labels, extracted with the same
    // two regexes both sides; blocklist replayed as a VALUES table
    "text_url_filter" ->
      """WITH planted AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 5 = 0 THEN
        |       CASE WHEN doc_id % 3 = 0 THEN ' https://spam.example-ads.com/x' || CAST(doc_id AS VARCHAR)
        |            WHEN doc_id % 3 = 1 THEN ' http://en.wikipedia.org/wiki/' || CAST(doc_id AS VARCHAR)
        |            ELSE ' https://tracker.badsite.net/p?q=' || CAST(doc_id AS VARCHAR) END
        |     ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0 THEN ' see https://docs.example.org/guide' ELSE '' END AS text
        | FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url FROM planted),
        |d AS (SELECT doc_id, regexp_extract(
        |    regexp_extract(url, '^https?://([^/:?#]+)', 1), '([^.]+\.[^.]+)$', 1) AS reg FROM u),
        |b(bad) AS (VALUES ('example-ads.com'), ('badsite.net')),
        |agg AS (SELECT doc_id, count(*) AS n_urls,
        |  sum(CASE WHEN reg IN (SELECT bad FROM b) THEN 1 ELSE 0 END) AS n_blocked
        | FROM d GROUP BY doc_id)
        |SELECT p.doc_id,
        | CAST(coalesce(a.n_urls, 0) AS BIGINT) AS n_urls,
        | CAST(coalesce(a.n_blocked, 0) AS BIGINT) AS n_blocked,
        | CAST(coalesce(a.n_blocked, 0) = 0 AS BIGINT) AS pass
        |FROM planted p LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    // grams join on k-gram STRINGS here vs xxhash64 values in Spark —
    // counts agree unless xxhash64 collides within this corpus (~1e5
    // grams against 2^64)
    "text_decontam" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, gram FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-2),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 3)),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 0),
         |train AS (SELECT doc_id, gram FROM g WHERE doc_id % 101 <> 0)
         |SELECT doc_id, count(*) AS n_grams,
         | CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         | CAST(floor(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
         |   / count(*) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS contamination
         |FROM train LEFT JOIN bench b ON train.gram = b.gram
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         | CAST(len(toks) - 2 AS BIGINT) AS n_ngrams,
         | CAST(len(list_distinct(list_transform(generate_series(1, len(toks)-2),
         |   i -> array_to_string(toks[i:i+2], ' ')))) AS BIGINT) AS n_distinct,
         | CAST(floor((1.0e0 - len(list_distinct(list_transform(generate_series(1, len(toks)-2),
         |   i -> array_to_string(toks[i:i+2], ' '))))
         |     / (len(toks) - 2)) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS rep_ratio
         |FROM t WHERE len(toks) >= 3 ORDER BY doc_id""".stripMargin,
    // sharded concat-and-chunk packing: same window replayed in DuckDB
    // (sum() over BIGINT widens to HUGEINT there — cast back)
    "text_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |f AS (SELECT doc_id, n_tokens, doc_id % 8 AS shard FROM t WHERE n_tokens > 0),
         |p AS (SELECT doc_id, shard, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM f)
         |SELECT doc_id, shard, start_tok,
         | start_tok // 64 AS start_seq,
         | (start_tok + n_tokens - 1) // 64 AS end_seq,
         | n_tokens
         |FROM p ORDER BY doc_id""".stripMargin,
    // heavy hitters: the sketch+verify result IS the exact top-20
    "text_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term)
         |SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 20""".stripMargin,
    // vocabulary build: same count→floor→top-500→row_number pipeline
    "text_vocab" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM toks
         |      GROUP BY term HAVING count(*) >= 2),
         |v AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 500)
         |SELECT term, cnt,
         | CAST(row_number() OVER (ORDER BY cnt DESC, term) - 1 AS BIGINT) AS token_id
         |FROM v ORDER BY token_id""".stripMargin,
    // RAG chunking: 64-token windows, stride 48; DuckDB 1-based
    // inclusive list slicing toks[a:b] == Spark slice(toks, a, 64)
    "text_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
         |      FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks,
         |  unnest(range(0, 1 + (greatest(0, n_tokens - 64) + 47) // 48)) AS chunk_id
         | FROM s)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         | CAST(chunk_id * 48 AS BIGINT) AS start_tok,
         | CAST(len(toks[chunk_id*48 + 1 : chunk_id*48 + 64]) AS BIGINT) AS n_chunk_tokens,
         | md5(array_to_string(toks[chunk_id*48 + 1 : chunk_id*48 + 64], ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // fixed-size per-group sample: identical md5 rank order both engines
    "sample_group" ->
      """WITH r AS (SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
        | FROM documents)
        |SELECT doc_id, lang, sample_rank FROM r
        |WHERE sample_rank <= 5 ORDER BY lang, sample_rank""".stripMargin,
    // line-structured view planted identically to the Spark side; a line
    // in >= 2 distinct docs is dropped everywhere, survivors reassembled
    // in original order and md5-hashed
    "text_line_dedup" ->
      """WITH planted AS (SELECT doc_id,
        |  regexp_replace(text, '((\S+ ){3})', '\1' || chr(10), 'g')
        |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '(c) example corp all rights reserved' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END AS text
        | FROM documents),
        |lines AS (SELECT doc_id,
        |  unnest(string_split(text, chr(10))) AS line,
        |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        | FROM planted),
        |dup AS (SELECT md5(line) AS f FROM lines
        |        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT l.doc_id,
        | CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(count(CASE WHEN d.f IS NULL THEN 1 END) AS BIGINT) AS n_kept,
        | CAST(count(CASE WHEN d.f IS NOT NULL THEN 1 END) AS BIGINT) AS n_dropped,
        | md5(coalesce(string_agg(CASE WHEN d.f IS NULL THEN l.line END, chr(10) ORDER BY l.pos), '')) AS kept_md5
        |FROM lines l LEFT JOIN dup d ON md5(l.line) = d.f
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,
    "text_ngrams" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |p AS (SELECT unnest(list_transform(generate_series(1, len(toks)-1),
         |  i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t WHERE len(toks) >= 2)
         |SELECT bigram, count(*) AS cnt FROM p GROUP BY bigram
         |ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         | CAST(floor(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / len(toks) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS avg_tok_len,
         | CAST(floor(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS punct_ratio,
         | CAST(floor(CAST(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is)\\b')) AS DOUBLE) / len(toks) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS stop_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH s AS (SELECT doc_id,
        | len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh,
        | len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that)\b')) AS s_en,
        | len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b')) AS s_de,
        | len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b')) AS s_fr,
        | len(regexp_extract_all(lower(text), '\b(el|los|las|que|es|una)\b')) AS s_es
        |FROM documents)
        |SELECT doc_id, CASE WHEN s_zh > 0 THEN 'zh'
        | WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
        | WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
        | WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q17_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |ORDER BY custkey""".stripMargin,
    "q18_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY custkey""".stripMargin,
    "q19_having" ->
      """SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice),2) AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey""".stripMargin,
    "q20_scalar_subquery" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |ORDER BY c_custkey""".stripMargin,
    "q21_array_agg" ->
      """SELECT n_regionkey, array_to_string(list_sort(list(n_name)), ',') AS nations,
        | count(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q22_histogram" ->
      """SELECT bucket, count(*) AS n FROM (
        | SELECT CAST(floor(o_totalprice / 50000.0e0) AS BIGINT) AS bucket FROM orders)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q23_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin,
    "q24_pivot" ->
      """SELECT o_orderpriority,
        | CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        | CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        | CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // bucketed tables hold the same rows as the source parquet, so the
    // plain join is the oracle for the exchange-free bucketed join
    "q25_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        | round(sum(l_extendedprice), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // both engines truncate weeks to Monday; offsets are exact-day/7
    "dq_expectations" ->
      """WITH c AS (SELECT count(*) AS row_count,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ok,
        |  CAST(sum(CASE WHEN l_quantity < 1.0e0 OR l_quantity > 50.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS qty_oor,
        |  CAST(sum(CASE WHEN l_discount < 0.0e0 OR l_discount > 0.1e0 THEN 1 ELSE 0 END) AS BIGINT) AS disc_oor,
        |  CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS bad_rf,
        |  CAST(sum(CASE WHEN l_extendedprice <= 0.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos
        | FROM lineitem),
        |u AS (SELECT CAST(count(*) AS BIGINT) AS dups FROM (
        |   SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1)),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS orphans
        |  FROM lineitem l LEFT JOIN orders ON l.l_orderkey = o_orderkey WHERE o_orderkey IS NULL)
        |SELECT * FROM (
        | SELECT 'row_count_min_1' AS check_name, row_count AS observed, row_count >= 1 AS passed FROM c
        | UNION ALL SELECT 'not_null_l_orderkey', null_ok, null_ok = 0 FROM c
        | UNION ALL SELECT 'range_l_quantity_1_50', qty_oor, qty_oor = 0 FROM c
        | UNION ALL SELECT 'range_l_discount_0_0.1', disc_oor, disc_oor = 0 FROM c
        | UNION ALL SELECT 'accepted_l_returnflag_ANR', bad_rf, bad_rf = 0 FROM c
        | UNION ALL SELECT 'positive_l_extendedprice', nonpos, nonpos = 0 FROM c
        | UNION ALL SELECT 'unique_l_orderkey_l_linenumber', dups, dups = 0 FROM u
        | UNION ALL SELECT 'fk_l_orderkey_in_orders', orphans, orphans = 0 FROM o)
        |ORDER BY check_name""".stripMargin,
    // merge-equals-recompute: the oracle aggregates the FULL table in
    // one pass; the Spark side merges two disjoint partial states
    "maint_incr_agg" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total,
        | round(sum(o_totalprice) / count(*), 4) AS avg_value
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // streaming upsert: incremental log-ordered merge ≡ global
    // latest-wins — arg_max over the whole change feed; last_value is a
    // raw (unarithmetic) double so it compares bitwise
    "stream_upsert" ->
      """WITH ch AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000 AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    event_type AS last_type, value AS last_value FROM events),
        |latest AS (SELECT user_id, arg_max(op, seq) AS op,
        |    arg_max(last_type, seq) AS last_type,
        |    arg_max(last_value, seq) AS last_value
        |  FROM ch GROUP BY user_id)
        |SELECT user_id, last_type, last_value FROM latest
        |WHERE op <> 'D' ORDER BY user_id""".stripMargin,
    // rank funcs: percent_rank/cume_dist are exact small rationals —
    // the same IEEE division both engines, so no rounding is needed
    "q29_rank_funcs" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist
        |FROM orders WHERE o_orderkey % 7 = 0
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderstatus, drank, o_orderkey""".stripMargin,
    "dq_drift" -> driftSql(Seq(20.0, 40.0, 60.0, 80.0), 0.25),
    // the streaming monitor drains to the SAME result as the batch one —
    // same oracle
    "stream_drift" -> driftSql(Seq(20.0, 40.0, 60.0, 80.0), 0.25),
    // attribution: DuckDB native ASOF LEFT JOIN; only the click TS value
    // is used, so equal-instant duplicates can't skew the pick; integer
    // µs lag buckets
    "evt_attribution" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsx
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsx
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.user_id, p.tsx, c.tsx AS ctx
        |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tsx >= c.tsx),
        |b AS (SELECT user_id,
        |  CASE WHEN ctx IS NULL THEN '4_no_click'
        |       WHEN epoch_us(tsx) - epoch_us(ctx) < 3600000000 THEN '0_lt_1h'
        |       WHEN epoch_us(tsx) - epoch_us(ctx) < 21600000000 THEN '1_1h_to_6h'
        |       WHEN epoch_us(tsx) - epoch_us(ctx) < 86400000000 THEN '2_6h_to_24h'
        |       ELSE '3_gt_24h' END AS bucket
        |  FROM j)
        |SELECT bucket, count(*) AS n_purchases,
        |  count(DISTINCT user_id) AS n_users
        |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,
    // winsorized: Spark percentile ≡ DuckDB quantile_cont (q13-proven);
    // float aggregates round(4)
    "evt_winsorized" ->
      """WITH b AS (SELECT event_type, quantile_cont(value, 0.05e0) AS p_lo,
        |    quantile_cont(value, 0.95e0) AS p_hi
        |  FROM events GROUP BY 1)
        |SELECT event_type, count(*) AS n,
        |  CAST(floor(CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT))
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |    * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS raw_mean,
        |  CAST(floor(CAST(sum(CAST(floor(least(greatest(value, p_lo), p_hi)
        |        * 10000e0 + 0.5e0) AS BIGINT)) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) / 10000e0
        |    * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS winsorized_mean,
        |  CAST(floor(max(p_lo) * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0
        |    AS lo_bound,
        |  CAST(floor(max(p_hi) * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0
        |    AS hi_bound
        |FROM events e JOIN b USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // schema evolution: the oracle replays the union-schema read (v1
    // slice NULL-padded for the post-evolution column)
    "maint_schema_evo" ->
      """WITH m AS (
        |  SELECT o_totalprice, NULL AS o_orderpriority
        |    FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_totalprice, o_orderpriority
        |    FROM orders WHERE o_orderkey % 3 = 1)
        |SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
        |  count(*) AS n_rows, round(sum(o_totalprice), 2) AS total
        |FROM m GROUP BY 1 ORDER BY priority""".stripMargin,
    // A/B: identical conditional power sums + left-assoc Welch algebra
    // both sides (NOT an engine t-test builtin); flag on the UNROUNDED t
    "evt_abtest" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS v,
        |    value AS x FROM events),
        |c AS (SELECT event_type,
        |    count(CASE WHEN v = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN v = 'B' THEN 1 END) AS n_b,
        |    sum(CASE WHEN v = 'A' THEN x ELSE 0e0 END) AS sx_a,
        |    sum(CASE WHEN v = 'B' THEN x ELSE 0e0 END) AS sx_b,
        |    sum(CASE WHEN v = 'A' THEN x * x ELSE 0e0 END) AS sxx_a,
        |    sum(CASE WHEN v = 'B' THEN x * x ELSE 0e0 END) AS sxx_b
        |  FROM e GROUP BY event_type),
        |d AS (SELECT event_type, n_a, n_b,
        |    sx_a / CAST(n_a AS DOUBLE) AS ma, sx_b / CAST(n_b AS DOUBLE) AS mb,
        |    (sxx_a - sx_a * sx_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0e0) / CAST(n_a AS DOUBLE) AS sea,
        |    (sxx_b - sx_b * sx_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0e0) / CAST(n_b AS DOUBLE) AS seb
        |  FROM c)
        |SELECT event_type, n_a, n_b,
        |  round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |  round((ma - mb) / sqrt(sea + seb), 4) + 0e0 AS t_stat,
        |  round((sea + seb) * (sea + seb) / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0e0)
        |    + seb * seb / (CAST(n_b AS DOUBLE) - 1.0e0)), 4) AS welch_df,
        |  (abs((ma - mb) / sqrt(sea + seb)) > 1.96e0) AS significant
        |FROM d ORDER BY event_type""".stripMargin,
    // co-purchase: identical double-domain lift math both sides (count
    // products stay out of BIGINT); portable floor on the per-row float
    "rel_copurchase" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
        |s AS (SELECT brand, count(*) AS cnt FROM items GROUP BY 1),
        |p AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS support
        |  FROM items a JOIN items b ON a.okey = b.okey AND a.brand < b.brand
        |  GROUP BY 1, 2 HAVING count(*) >= 50)
        |SELECT brand_a, brand_b, support,
        |  CAST(floor(CAST(support AS DOUBLE) * n_orders
        |      / (CAST(sa.cnt AS DOUBLE) * sb.cnt) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS lift
        |FROM p JOIN s sa ON sa.brand = p.brand_a
        |  JOIN s sb ON sb.brand = p.brand_b CROSS JOIN n
        |ORDER BY brand_a, brand_b""".stripMargin,
    // snapshot reads: version v sees order slices 0..v-1 (mod 3) — the
    // oracle replays each version's visibility set
    "maint_snapshot" ->
      """SELECT CAST(v AS BIGINT) AS version, count(*) AS n_rows,
        |  round(sum(o_totalprice), 2) AS total
        |FROM (SELECT 1 AS v UNION ALL SELECT 2 UNION ALL SELECT 3) vs
        |JOIN orders ON o_orderkey % 3 < v
        |GROUP BY v ORDER BY version""".stripMargin,
    // snapshot diff: the oracle replays the slice visibility — slice 2
    // only in v2 (added), slice 0 only in v1 (removed), slice 1 in both
    // with a +1.0 price (changed)
    "maint_snapshot_diff" ->
      """SELECT 'added' AS change, o_orderkey AS key FROM orders WHERE o_orderkey % 3 = 2
        |UNION ALL
        |SELECT 'removed', o_orderkey FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'changed', o_orderkey FROM orders WHERE o_orderkey % 3 = 1
        |ORDER BY change, key""".stripMargin,
    // k-anonymity: 1e0 forces an IEEE double (DuckDB 1.0 is DECIMAL);
    // per-row float -> portable floor rounding
    "dq_kanon" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |  count(*) >= 5 AS meets_k,
        |  CAST(floor(1e0 / count(*) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS reid_risk
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // SCD-2: identical change-collapse + episode windows; valid_to is the
    // NEXT version's valid_from (half-open), NULL ⇒ current
    "maint_scd2" ->
      """WITH c AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |v AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
        |  FROM c WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  (lead(o_orderdate) OVER w IS NULL) AS is_current,
        |  CAST(row_number() OVER w AS BIGINT) AS version
        |FROM v
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin,
    // trend: identical six-sum formulation both sides (NOT regr_slope —
    // engines may implement it differently); float aggregates → round(4)
    "evt_trend" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) - 1735689600000000) / 86400.0e6 AS x,
        |    value AS y FROM events),
        |s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) + 0e0 AS slope,
        |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 4) + 0e0 AS intercept,
        |  round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) + 0e0 AS pearson_r
        |FROM s ORDER BY event_type""".stripMargin,
    // weighted sampling: max-of-w md5 draws IS u^(1/w) (A-Res), ranked
    // as hex strings — no float anywhere, so the sets match exactly
    "mix_weighted" ->
      """WITH w AS (SELECT doc_id, lang, n_chars,
        |    least(4, 1 + n_chars // 2000) AS wt FROM documents),
        |d AS (SELECT doc_id, max(md5(doc_id || ':' || i)) AS draw_key
        |  FROM (SELECT doc_id, wt, unnest(generate_series(1, wt)) AS i FROM w)
        |  GROUP BY doc_id),
        |top AS (SELECT doc_id, draw_key FROM d ORDER BY draw_key DESC, doc_id LIMIT 100)
        |SELECT w.doc_id, lang, n_chars, draw_key FROM w JOIN top USING (doc_id)
        |ORDER BY draw_key DESC, doc_id""".stripMargin,
    // idempotent reload: the oracle is the SINGLE load — if the replayed
    // click batch had appended instead of replaced, n would double
    "maint_idempotent" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // CDC merge: arg_max replays Spark's max_by latest-wins; price math
    // is the same IEEE add on both engines so doubles match bitwise
    "maint_merge" ->
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 < 8),
        |ch AS (
        |  SELECT o_orderkey, 1 AS seq, 'U' AS op, o_custkey, o_orderstatus,
        |         o_totalprice + 1.0e0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', o_custkey, 'R', o_totalprice + 2.0e0
        |  FROM orders WHERE o_orderkey % 100 = 3
        |  UNION ALL
        |  SELECT o_orderkey, 1, 'D', o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey, 1, 'U', o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 8),
        |latest AS (
        |  SELECT o_orderkey, arg_max(op, seq) AS op, arg_max(o_custkey, seq) AS ck,
        |         arg_max(o_orderstatus, seq) AS st, arg_max(o_totalprice, seq) AS pr
        |  FROM ch GROUP BY o_orderkey)
        |SELECT coalesce(b.o_orderkey, latest.o_orderkey) AS o_orderkey,
        |  CASE WHEN op IS NOT NULL THEN ck ELSE b.o_custkey END AS o_custkey,
        |  CASE WHEN op IS NOT NULL THEN st ELSE b.o_orderstatus END AS o_orderstatus,
        |  CASE WHEN op IS NOT NULL THEN pr ELSE b.o_totalprice END AS o_totalprice
        |FROM b FULL OUTER JOIN latest ON b.o_orderkey = latest.o_orderkey
        |WHERE coalesce(op, 'U') <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // transitions: order by µs-truncated ts both sides (raw ns order
    // could disagree with Spark's normalized µs + event_id tie-break)
    "evt_transitions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsx, event_id, event_type FROM events),
        |p AS (SELECT user_id, event_type AS to_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY tsx, event_id) AS from_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
        |  CAST(floor(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    // anomalies: stddev_samp algorithms differ at ~1e-12 relative across
    // engines — z is rounded at the edge; the |z|>3 cut on the unrounded
    // value flips only if a z lands within that epsilon of 3.0 exactly
    "evt_anomaly" ->
      """WITH m AS (SELECT user_id,
        |    CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT))
        |      AS BIGINT) AS s1,
        |    CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)
        |      * CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS s2,
        |    count(*) AS n FROM events GROUP BY user_id),
        |p AS (SELECT user_id,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100e0 AS mu,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1e0)) / 100e0 AS sd
        |  FROM m WHERE n >= 20),
        |q AS (SELECT user_id, mu, sd FROM p WHERE sd > 0e0)
        |SELECT event_id, user_id, value,
        |  CAST(floor(mu * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS mu,
        |  CAST(floor(sd * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS sd,
        |  CAST(floor((value - mu)/sd * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS z
        |FROM events JOIN q USING (user_id)
        |WHERE abs((value - mu)/sd) > 3.0e0
        |ORDER BY event_id""".stripMargin,
    "graph_pagerank" -> pagerankSql(5),
    "graph_label_prop" -> labelPropSql(5),
    "graph_khops" -> khopsSql(3),
    // triangles: id-ordered enumeration here vs degree-ordered in Spark —
    // the same unordered triangle set either way, each found once
    "graph_triangles" ->
      """WITH l AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem WHERE l_partkey % 5 = 0),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM l a JOIN l b ON a.ok = b.ok AND a.p < b.p),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT unnest([a, b, c]) AS node FROM tri)
        |SELECT node, count(*) AS n_tri FROM n GROUP BY node ORDER BY node""".stripMargin,
    "text_bpe_train" -> bpeTrainSql(10),
    "text_bpe_encode" -> bpeEncodeSql(10),
    // shared spans: grams join on STRINGS here vs xxhash64 values in
    // Spark — identical unless xxhash64 collides in-corpus (the
    // text_decontam caveat); DuckDB sum(BIGINT)→HUGEINT is cast back
    "text_shared_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 10),
         |g AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+9], ' ') AS gram
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 9)) AS pos FROM f)),
         |dup AS (SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
         |  WHERE nd >= 2),
         |s AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
         |r AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM s),
         |runs AS (SELECT doc_id, grp, count(*) AS run FROM r GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_shared,
         |    CAST(max(run) AS BIGINT) AS max_run FROM runs GROUP BY doc_id)
         |SELECT f.doc_id, CAST(n - 9 AS BIGINT) AS n_windows,
         |  coalesce(n_shared, 0) AS n_shared, coalesce(max_run, 0) AS max_run
         |FROM f LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // scrub: same string-gram-vs-xxhash64 caveat as text_shared_spans;
    // md5(coalesce(...,'')) covers the fully-scrubbed-doc edge where
    // string_agg over zero survivors is NULL but Spark's array_join of
    // an empty array is ''
    "text_scrub_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 10),
         |g AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+9], ' ') AS gram
         |  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 9)) AS pos FROM f)),
         |dup AS (SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
         |  WHERE nd >= 2),
         |s AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
         |r AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM s),
         |iv AS (SELECT doc_id, min(pos) AS a, max(pos) + 9 AS b FROM r GROUP BY doc_id, grp),
         |cov AS (SELECT DISTINCT doc_id, tpos FROM (
         |    SELECT doc_id, unnest(generate_series(a, b)) AS tpos FROM iv)),
         |aff AS (SELECT DISTINCT doc_id FROM cov),
         |tk AS (SELECT doc_id, tpos, toks[tpos] AS tok FROM (
         |    SELECT f.doc_id, f.toks, unnest(generate_series(1, f.n)) AS tpos
         |    FROM f JOIN aff USING (doc_id))),
         |reb AS (SELECT tk.doc_id, count(*) AS n_tokens,
         |    count(CASE WHEN cov.tpos IS NOT NULL THEN 1 END) AS n_removed,
         |    md5(coalesce(string_agg(CASE WHEN cov.tpos IS NULL THEN tok END,
         |      ' ' ORDER BY tk.tpos), '')) AS scrubbed_md5
         |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
         |  GROUP BY tk.doc_id)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(0 AS BIGINT) AS n_removed,
         |  md5(array_to_string(toks, ' ')) AS scrubbed_md5
         |FROM t WHERE doc_id NOT IN (SELECT doc_id FROM aff)
         |UNION ALL
         |SELECT doc_id, n_tokens, n_removed, scrubbed_md5 FROM reb
         |ORDER BY doc_id""".stripMargin,
    // BM25: double literals (1e0/0.5e0/...) keep DuckDB in IEEE double
    // arithmetic; avgdl is exact both sides (integer sums below 2^53),
    // the scored sum is a float aggregate → round(,4) per the gate rules
    "text_bm25" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |q AS (SELECT doc_id AS query_id, array_to_string(($toksSql)[1:8], ' ') AS qtext
         |  FROM documents WHERE doc_id % 97 = 0 AND doc_id < 5000),
         |qt AS (SELECT DISTINCT query_id,
         |    unnest(list_filter(regexp_split_to_array(lower(qtext), '[^a-z0-9]+'), x -> x <> '')) AS term
         |  FROM q),
         |s AS (SELECT qt.query_id, tf.doc_id,
         |    sum(ln(1e0 + (stats.n_docs - dfreq.df + 0.5e0)/(dfreq.df + 0.5e0))
         |      * tf.tf * (1.2e0 + 1e0)
         |      / (tf.tf + 1.2e0*(1e0 - 0.75e0 + 0.75e0*dl.dl/stats.avgdl))) AS score,
         |    count(*) AS n_terms
         |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
         |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
         |  GROUP BY qt.query_id, tf.doc_id)
         |SELECT query_id, doc_id, n_terms, round(score, 4) AS score,
         |  CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT query_id, doc_id, n_terms, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |  FROM s)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "evt_cohort" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsx FROM events),
        |f AS (SELECT user_id, date_trunc('week', min(tsx)) AS cohort_w FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', tsx) AS week_w FROM e)
        |SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week,
        | CAST(date_diff('day', cohort_w, week_w) / 7 AS BIGINT) AS week_offset,
        | count(DISTINCT user_id) AS n_users
        |FROM a JOIN f USING (user_id)
        |WHERE date_diff('day', cohort_w, week_w) / 7 <= 3
        |GROUP BY cohort_w, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    // last-writer-wins compaction: same window, unique tie-break
    "q27_latest" ->
      """SELECT user_id, event_id, event_type,
        | strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "meta_profile_str" ->
      """SELECT 'lang' AS col_name, count(*) AS cnt,
        | CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        | CAST(min(strlen(lang)) AS BIGINT) AS min_len,
        | CAST(max(strlen(lang)) AS BIGINT) AS max_len,
        | count(DISTINCT lang) AS ndv FROM documents
        |UNION ALL
        |SELECT 'source', count(*),
        | CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(min(strlen(source)) AS BIGINT),
        | CAST(max(strlen(source)) AS BIGINT),
        | count(DISTINCT source) FROM documents
        |UNION ALL
        |SELECT 'text', count(*),
        | CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(min(strlen(text)) AS BIGINT),
        | CAST(max(strlen(text)) AS BIGINT),
        | count(DISTINCT text) FROM documents
        |ORDER BY col_name""".stripMargin,
    // salting is result-transparent, so the plain skewed join is the oracle
    "q26_skew_salted" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_quantity <= 45 THEN 0 ELSE l_partkey % 100 END AS k,
        |         l_extendedprice
        |  FROM lineitem),
        |dim AS (SELECT DISTINCT p_partkey % 100 AS k FROM part)
        |SELECT 'b' || lpad(CAST(k AS VARCHAR), 3, '0') AS bucket_name,
        |  count(*) AS n_rows, round(sum(l_extendedprice), 2) AS revenue
        |FROM fact JOIN dim USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_sql" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "sim_centroids" ->
      """WITH u AS (
        |  SELECT label, i - 1 AS dim, emb[i] AS v
        |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |       (SELECT unnest(generate_series(1, 8)) AS i) g)
        |SELECT label, CAST(dim AS BIGINT) AS dim, round(avg(v), 4) + 0e0 AS avg_v
        |FROM u GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    // hybrid retrieval: dense cosine + sparse 3-gram jaccard legs, RRF-fused.
    // Each leg replays its proven oracle formulation (sim_topk_exact /
    // dedup_ngram_jaccard); rrf = Σ 1/(60+rank) has ≤2 addends → commutative-safe
    "sim_hybrid_rrf" ->
      s"""WITH qv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 20),
         |cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |ds AS (SELECT qv.vec_id AS query_id, cv.vec_id AS neighbor_id,
         |  list_inner_product(qv.e, cv.e)
         |    / (sqrt(list_inner_product(qv.e, qv.e)) * sqrt(list_inner_product(cv.e, cv.e))) AS sim
         |  FROM qv JOIN cv ON qv.vec_id <> cv.vec_id),
         |dtop AS (SELECT query_id, neighbor_id, rnk FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM ds)
         |  WHERE rnk <= 10),
         |t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
         |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |ss AS (SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
         |  CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim
         |  FROM g a JOIN g b ON a.doc_id < 20 AND a.doc_id <> b.doc_id),
         |stop AS (SELECT query_id, neighbor_id, rnk FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM ss)
         |  WHERE rnk <= 10),
         |u AS (SELECT query_id, neighbor_id, CAST(1.0e0 AS DOUBLE) / (60 + rnk) AS contrib FROM dtop
         |  UNION ALL SELECT query_id, neighbor_id, CAST(1.0e0 AS DOUBLE) / (60 + rnk) AS contrib FROM stop),
         |f AS (SELECT query_id, neighbor_id, sum(contrib) AS rrf FROM u GROUP BY query_id, neighbor_id),
         |r AS (SELECT query_id, neighbor_id, rrf,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rnk FROM f)
         |SELECT r.query_id, r.neighbor_id,
         |  CAST(floor(r.rrf * 1000000.0e0 + 0.5e0) AS DOUBLE) / 1000000.0e0 AS rrf,
         |  CAST(r.rnk AS BIGINT) AS rank
         |FROM r WHERE r.rnk <= 5 ORDER BY r.query_id, r.rnk""".stripMargin,
    // hard negatives: top-5 most-similar DIFFERENT-label vectors per query
    "sim_hard_negatives" ->
      """WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
        |  CAST(c.label AS BIGINT) AS neighbor_label,
        |  list_inner_product(q.e, c.e)
        |    / (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e))) AS sim
        |  FROM q JOIN c ON q.label <> c.label)
        |SELECT vec_id, neighbor_id, neighbor_label,
        | CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
        | CAST(rank AS BIGINT) AS rank FROM (
        | SELECT vec_id, neighbor_id, neighbor_label, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // kNN vote: per-label accuracy of 5-NN majority label over eval vec_id < 100
    "sim_knn_classify" ->
      """WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 100),
        |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS nid, c.label AS nlabel,
        |  list_inner_product(q.e, c.e)
        |    / (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e))) AS sim
        |  FROM q JOIN c ON q.vec_id <> c.vec_id),
        |tk AS (SELECT qid, qlabel, nlabel FROM (
        |  SELECT qid, qlabel, nlabel,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
        |  WHERE rn <= 5),
        |v AS (SELECT qid, qlabel, nlabel, count(*) AS votes FROM tk GROUP BY qid, qlabel, nlabel),
        |p AS (SELECT qid, qlabel, nlabel AS pred FROM (
        |  SELECT qid, qlabel, nlabel,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nlabel) AS rn FROM v)
        |  WHERE rn = 1)
        |SELECT CAST(p.qlabel AS BIGINT) AS label, count(*) AS n_eval,
        | CAST(sum(CASE WHEN p.pred = p.qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        | CAST(floor(sum(CASE WHEN p.pred = p.qlabel THEN 1 ELSE 0 END)
        |   / count(*) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS accuracy
        |FROM p GROUP BY p.qlabel ORDER BY label""".stripMargin,
    // label outliers: bottom-3 cosine-to-own-ROUNDED-centroid per label
    "sim_label_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |u AS (SELECT label, i AS dim, emb[i] AS v
        |  FROM e, (SELECT unnest(generate_series(1, 64)) AS i) g),
        |ca AS (SELECT label, dim, round(avg(v), 4) AS cv FROM u GROUP BY label, dim),
        |c AS (SELECT label, list(cv ORDER BY dim) AS centroid FROM ca GROUP BY label),
        |s AS (SELECT e.label, e.vec_id,
        |  CAST(floor(list_inner_product(e.emb, c.centroid)
        |    / (sqrt(list_inner_product(e.emb, e.emb)) * sqrt(list_inner_product(c.centroid, c.centroid)))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim
        |  FROM e JOIN c ON e.label = c.label),
        |r AS (SELECT label, vec_id, sim,
        |  row_number() OVER (PARTITION BY label ORDER BY sim, vec_id) AS rnk FROM s)
        |SELECT CAST(r.label AS BIGINT) AS label, r.vec_id, r.sim, CAST(r.rnk AS BIGINT) AS rank
        |FROM r WHERE r.rnk <= 3 ORDER BY r.label, r.rnk""".stripMargin,
    // cross-source 3-gram overlap matrix (string grams ≡ fingerprints mod collisions)
    "dedup_overlap_matrix" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |g AS (SELECT DISTINCT source, gram FROM (
         |  SELECT source, unnest(list_transform(generate_series(1, len(toks)-2),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 3)),
         |n AS (SELECT source, count(*) AS n FROM g GROUP BY source),
         |sh AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
         |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT sh.src_a, sh.src_b, sh.shared, na.n AS n_a, nb.n AS n_b,
         |  CAST(floor(sh.shared / (na.n + nb.n - sh.shared) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
         |FROM sh JOIN n na ON sh.src_a = na.source JOIN n nb ON sh.src_b = nb.source
         |ORDER BY sh.src_a, sh.src_b""".stripMargin,
    // asymmetric containment (ordered pairs): brute-force oracle — any pair
    // the prefix filter drops is a gate failure
    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, len(toks)-2),
         |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3)
         |SELECT * FROM (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(a.sh) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS containment
         | FROM g a JOIN g b ON a.doc_id <> b.doc_id)
         |WHERE containment >= 0.6e0 ORDER BY doc_a, doc_b""".stripMargin,
    // fuzzy record linkage: best same-block Levenshtein match per query part
    "dedup_fuzzy_match" ->
      """WITH n AS (SELECT p_partkey AS id, p_name AS name,
        |    split_part(p_name, ' ', 1) AS block FROM part),
        |q AS (SELECT id AS query_id, name AS q_name, block FROM n WHERE id < 50),
        |c AS (SELECT q.query_id, n.id AS match_id,
        |    CAST(levenshtein(q.q_name, n.name) AS BIGINT) AS dist
        |  FROM q JOIN n USING (block) WHERE n.id <> q.query_id),
        |r AS (SELECT query_id, match_id, dist,
        |  row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rn FROM c)
        |SELECT query_id, match_id, dist, dist <= 20 AS accepted FROM r
        |WHERE rn = 1 ORDER BY query_id""".stripMargin,
    // per-user daily grid with forward-filled values; the oracle reads the
    // ORIGINAL events, so grid shape and fill must both match
    "evt_gapfill" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |d AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    count(*) AS n_events, round(sum(value), 2) AS day_value
        |  FROM ev GROUP BY 1, 2),
        |m AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY user_id),
        |s AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM m)
        |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
        |  coalesce(d.n_events, 0) AS n_events,
        |  last_value(d.day_value IGNORE NULLS) OVER (PARTITION BY s.user_id
        |    ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM s LEFT JOIN d USING (user_id, day)
        |ORDER BY s.user_id, s.day""".stripMargin,
    // ORC round trip must be lossless vs the original parquet
    "ingest_orc" ->
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey,
        |  CAST(floor(s_acctbal * 100.0e0 + 0.5e0) AS DOUBLE) / 100.0e0 AS s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    // temperature-0.5 rebalance: floor(4·√n) per source, md5-ranked picks;
    // sqrt and * are correctly rounded in IEEE-754, so the floor is exact
    // on both engines (pow would not be)
    "mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs,
        |    CAST(floor(4.0e0 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS n_target
        |  FROM documents GROUP BY lang),
        |r AS (SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
        |  FROM documents)
        |SELECT r.doc_id, r.lang, c.n_docs, c.n_target
        |FROM r JOIN c USING (lang) WHERE r.sample_rank <= c.n_target
        |ORDER BY r.doc_id""".stripMargin,
    // BPE fertility per language: both counts are the proven regex kernels,
    // fertility a floor-rounded ratio of exact integer sums
    "text_fertility" ->
      """WITH f AS (SELECT lang,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS bpe,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS BIGINT) AS words
        |  FROM documents)
        |SELECT lang, CAST(sum(bpe) AS BIGINT) AS n_bpe, CAST(sum(words) AS BIGINT) AS n_words,
        |  CAST(floor(CAST(sum(bpe) AS DOUBLE) / sum(words) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS fertility
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // power-of-two context buckets; CASE-chain bounds are integer-exact
    "text_ctx_buckets" ->
      """WITH f AS (SELECT CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n
        |  FROM documents),
        |b AS (SELECT CAST(CASE WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
        |    WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |    WHEN n <= 1024 THEN 1024 ELSE 2048 END AS BIGINT) AS ctx_bucket, n FROM f),
        |g AS (SELECT ctx_bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens
        |  FROM b GROUP BY ctx_bucket),
        |c AS (SELECT ctx_bucket, n_docs, sum_tokens,
        |  CAST(sum(n_docs) OVER (ORDER BY ctx_bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
        |  CAST(sum(n_docs) OVER () AS BIGINT) AS total_docs FROM g)
        |SELECT ctx_bucket, n_docs, sum_tokens, cum_docs,
        |  CAST(floor(CAST(cum_docs AS DOUBLE) / total_docs * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS doc_share
        |FROM c ORDER BY ctx_bucket""".stripMargin,
    // one-pass moment aggregates; 4dp absorbs engine accumulation-order ulps
    "dq_corr" ->
      """SELECT count(*) AS n,
        |  round(corr(l_quantity, l_extendedprice), 4) + 0e0 AS corr_qty_price,
        |  round(corr(l_quantity, l_discount), 4) + 0e0 AS corr_qty_disc,
        |  round(corr(l_extendedprice, l_discount), 4) + 0e0 AS corr_price_disc,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) + 0e0 AS cov_qty_price,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price
        |FROM lineitem""".stripMargin,
    // streaming daily top-3: drained window×type state ranked = batch rank
    "stream_topk" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |    count(*) AS n FROM ev GROUP BY 1, 2),
        |r AS (SELECT day, event_type, n,
        |  CAST(row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type)
        |    AS BIGINT) AS rnk FROM d)
        |SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n, rnk FROM r
        |WHERE rnk <= 3 ORDER BY day, rnk""".stripMargin,
    // trailing-MAU as a bounded contribution explode of the (user, day)
    // activity dimension; stickiness floor-rounded
    "evt_dau_mau" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day FROM events),
        |d AS (SELECT day, count(*) AS dau FROM a GROUP BY day),
        |c AS (SELECT DISTINCT user_id, CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |    CAST(day AS TIMESTAMP) + INTERVAL 27 DAY, INTERVAL 1 DAY)) AS DATE) AS mday FROM a),
        |m AS (SELECT mday AS day, count(*) AS mau FROM c GROUP BY mday)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, m.mau,
        |  CAST(floor(CAST(d.dau AS DOUBLE) / m.mau * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS stickiness
        |FROM d JOIN m ON d.day = m.day ORDER BY d.day""".stripMargin,
    // evt_rolling_distinct_hll (oracle-backed r12, q13_approx precedent):
    // the HLL-union estimate has no DuckDB twin, but the accuracy
    // contract does — the Spark side emits the EXACT rolling distinct
    // (last-7 OBSERVED days, a rows window, not calendar) + a 1/0
    // verdict; the oracle replays the same day-rank window exactly.
    "evt_rolling_distinct_hll" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    count(*) AS n_events FROM events GROUP BY 1),
        |dr AS MATERIALIZED (
        |  SELECT day, n_events, row_number() OVER (ORDER BY day) AS rn FROM daily),
        |pairs AS MATERIALIZED (
        |  SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    user_id FROM events),
        |ex AS (
        |  SELECT d.day, d.n_events, count(DISTINCT p.user_id) AS users_rolling
        |  FROM dr d JOIN dr s ON s.rn BETWEEN d.rn - 6 AND d.rn
        |  JOIN pairs p ON p.day = s.day
        |  GROUP BY d.day, d.n_events)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_events, users_rolling,
        |  1::BIGINT AS hll_in_bound
        |FROM ex ORDER BY day""".stripMargin,
    // evt_quantiles_kll / stream_quantiles (oracle-backed r12): the KLL
    // sketch value has no DuckDB twin, but its rank contract does — the
    // Spark side derives 1/0 verdicts from counts around each sketch
    // answer; the oracle recomputes the exact percentiles and emits the
    // expected-pass constants. Shared SQL: batch and streamed sketches
    // differ (insertion order) but the exact/verdict gate face is equal.
    "evt_quantiles_kll" -> kllQuantilesSql,
    "stream_quantiles" -> kllQuantilesSql,
    // stream_hll_distinct (oracle-backed r12): exact hourly distinct out
    // + the streamed HLL++ estimate gated by its 3σ contract.
    "stream_hll_distinct" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events,
        |  1::BIGINT AS hll_in_bound
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    // sessionize CTE reused verbatim; sweep deltas with the default
    // RANGE frame (peer groups) ≡ Spark's explicit rangeBetween
    "evt_peak_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |   THEN 1 ELSE 0 END AS is_new FROM e),
        |g AS (SELECT user_id, us, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f),
        |s AS (SELECT user_id, session_id, min(us) AS st, max(us) AS en FROM g
        |  GROUP BY user_id, session_id),
        |d AS (SELECT st AS t, 1 AS d FROM s UNION ALL SELECT en + 1, -1 FROM s),
        |r AS (SELECT t, sum(d) OVER (ORDER BY t, d) AS concurrent FROM d)
        |SELECT strftime(make_timestamp(t), '%Y-%m-%d') AS day,
        |  CAST(max(concurrent) AS BIGINT) AS peak_concurrent,
        |  count(*) AS n_transitions
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    // ranked cumulative user counts; tier cut-offs via a literal frame
    "evt_pareto" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS u, sum(n) AS e FROM c),
        |r AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rk,
        |  CAST(sum(n) OVER (ORDER BY n DESC, user_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
        |x(tier_pct) AS (VALUES (1), (5), (10), (50)),
        |k AS (SELECT CAST(tier_pct AS BIGINT) AS tier_pct, e,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST(floor(CAST(u AS DOUBLE) * tier_pct / 100.0e0) AS BIGINT)) AS rk
        |  FROM x CROSS JOIN t)
        |SELECT k.tier_pct, k.rk AS n_users, r.cum AS n_events,
        |  floor(CAST(r.cum AS DOUBLE) / CAST(k.e AS DOUBLE) * 10000.0e0 + 0.5e0) / 10000.0e0 AS share
        |FROM k JOIN r ON r.rk = k.rk ORDER BY k.tier_pct""".stripMargin,
    // integer-µs gaps; quantile_cont ≡ Spark exact percentile (q13 parity)
    "evt_interarrival" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us FROM e)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(floor(quantile_cont(gap_us, 0.5e0) / 1000000.0e0
        |    * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS p50_s,
        |  CAST(floor(quantile_cont(gap_us, 0.9e0) / 1000000.0e0
        |    * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS p90_s,
        |  CAST(floor(avg(gap_us) / 1000000.0e0
        |    * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS avg_s
        |FROM g WHERE gap_us IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin,
    // confusion matrix over the same langid CASE predictor
    "text_langid_confusion" ->
      """WITH s AS (SELECT doc_id, lang,
        | len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh,
        | len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that)\b')) AS s_en,
        | len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht)\b')) AS s_de,
        | len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|est)\b')) AS s_fr,
        | len(regexp_extract_all(lower(text), '\b(el|los|las|que|es|una)\b')) AS s_es
        |FROM documents),
        |p AS (SELECT lang, CASE WHEN s_zh > 0 THEN 'zh'
        | WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
        | WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
        | WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
        |FROM s)
        |SELECT lang, pred_lang, count(*) AS n FROM p
        |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    // canonicalization chain replayed step-for-step with 'g'-flag RE2
    // replaces; the planted variants collapse across spellings
    "text_url_canon" ->
      """WITH planted AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 4 = 0 THEN ' https://Example.COM/a?utm_source=s' || CAST(doc_id AS VARCHAR)
        |          WHEN doc_id % 4 = 1 THEN ' http://www.example.com:80/a#sec' || CAST(doc_id AS VARCHAR)
        |          WHEN doc_id % 4 = 2 THEN ' https://news.site.org/item/' || CAST(doc_id % 10 AS VARCHAR) || '/'
        |          ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN ' (see https://ref.example.net/x' || CAST(doc_id % 7 AS VARCHAR) || ').' ELSE '' END AS text
        | FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url FROM planted),
        |c1 AS (SELECT doc_id, regexp_replace(url, '[.,);:!?]+$', '') AS u FROM u),
        |c2 AS (SELECT doc_id, regexp_replace(u, '#.*', '') AS u FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(u, '([?&])(utm_[a-z0-9]+|fbclid|gclid)=[^&]*', '\1', 'g') AS u FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(regexp_replace(u, '\?&+', '?', 'g'), '&&+', '&', 'g') AS u FROM c3),
        |c5 AS (SELECT doc_id, regexp_replace(u, '[?&]+$', '') AS u FROM c4),
        |c6 AS (SELECT doc_id,
        |   regexp_replace(regexp_replace(lower(regexp_extract(u, '^https?://([^/?#]+)', 1)), ':(80|443)$', ''), '^www\.', '')
        |   || regexp_replace(regexp_extract(u, '^https?://[^/?#]+(.*)', 1), '/+$', '') AS canon_url FROM c5)
        |SELECT canon_url, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs,
        |  min(doc_id) AS keeper_doc
        |FROM c6 GROUP BY canon_url ORDER BY canon_url""".stripMargin,
    // first digit via floor→string (no float log10); expected shares are
    // 4dp constants identical to the driver-computed literals
    "dq_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1.0e0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT digit, n, sum(n) OVER () AS total FROM c),
        |s AS (SELECT digit, n,
        |  floor(CAST(n AS DOUBLE) / total * 10000.0e0 + 0.5e0) / 10000.0e0 AS share,
        |  CAST(CASE digit WHEN 1 THEN 0.3010e0 WHEN 2 THEN 0.1761e0 WHEN 3 THEN 0.1249e0
        |    WHEN 4 THEN 0.0969e0 WHEN 5 THEN 0.0792e0 WHEN 6 THEN 0.0669e0
        |    WHEN 7 THEN 0.0580e0 WHEN 8 THEN 0.0512e0 ELSE 0.0458e0 END AS DOUBLE) AS expected
        | FROM t)
        |SELECT digit, n, share, expected,
        |  floor(abs(share - expected) * 10000.0e0 + 0.5e0) / 10000.0e0 AS abs_dev
        |FROM s ORDER BY digit""".stripMargin,
    // lifecycle classification via each user's own lag/lead over the
    // distinct activity dimension; churn lands on day+1, bounded by the
    // observed max day; full-outer day alignment (churn can hit a
    // zero-activity day)
    "evt_churn" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day FROM events),
        |f AS (SELECT user_id, day,
        |   lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
        |   lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day FROM a),
        |s AS (SELECT day,
        |   CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |   CAST(sum(CASE WHEN day - prev_day = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |   CAST(sum(CASE WHEN prev_day IS NOT NULL AND day - prev_day > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_resurrected
        | FROM f GROUP BY day),
        |m AS (SELECT max(day) AS max_day FROM a),
        |c AS (SELECT day + 1 AS cday, count(*) AS n_churned FROM f CROSS JOIN m
        |      WHERE day < max_day AND (next_day IS NULL OR next_day - day > 1) GROUP BY 1)
        |SELECT strftime(coalesce(s.day, c.cday), '%Y-%m-%d') AS day,
        |  coalesce(n_new, CAST(0 AS BIGINT)) AS n_new,
        |  coalesce(n_retained, CAST(0 AS BIGINT)) AS n_retained,
        |  coalesce(n_resurrected, CAST(0 AS BIGINT)) AS n_resurrected,
        |  coalesce(n_churned, CAST(0 AS BIGINT)) AS n_churned
        |FROM s FULL OUTER JOIN c ON s.day = c.cday ORDER BY 1""".stripMargin,
    // monetary as an exact BIGINT cents sum (per-row portable half-up)
    // so every ntile ORDER BY is integer + key — quintiles cannot be
    // flipped by float partial-agg order
    "rel_rfm" ->
      """WITH per AS (SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS n_orders,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |mx AS (SELECT max(o_orderdate) AS global_max FROM orders),
        |sc AS (SELECT o_custkey, n_orders, cents,
        |    CAST(date_diff('day', last_order, global_max) AS BIGINT) AS recency_days
        |  FROM per CROSS JOIN mx),
        |sco AS (SELECT o_custkey, n_orders, cents, recency_days,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY n_orders ASC, o_custkey) AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY cents ASC, o_custkey) AS BIGINT) AS m_score
        |  FROM sc),
        |seg AS (SELECT CASE
        |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN '1_champion'
        |    WHEN f_score >= 4 THEN '2_loyal'
        |    WHEN m_score >= 4 THEN '3_big_spender'
        |    WHEN r_score <= 2 AND f_score >= 3 THEN '4_at_risk'
        |    WHEN r_score <= 2 THEN '5_hibernating'
        |    ELSE '6_other' END AS segment, recency_days, n_orders, cents FROM sco)
        |SELECT segment, count(*) AS n_customers,
        |  CAST(floor(avg(recency_days) * 100e0 + 0.5e0) AS DOUBLE) / 100e0
        |    AS avg_recency_days,
        |  CAST(floor(avg(n_orders) * 100e0 + 0.5e0) AS DOUBLE) / 100e0
        |    AS avg_orders,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0e0, 2) AS total_monetary
        |FROM seg GROUP BY segment ORDER BY segment""".stripMargin,
    // one LEFT JOIN per relation against the distinct parent keys; the
    // counts ride the join (no second child scan); NULL fk ≠ orphan
    "dq_referential" ->
      """WITH
        |r1 AS (SELECT 'customer->nation' AS relation, count(*) AS n_child,
        |   CAST(sum(CASE WHEN p.__pk IS NULL AND c.c_nationkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
        |   CAST(count(DISTINCT CASE WHEN p.__pk IS NULL THEN c.c_nationkey END) AS BIGINT) AS n_missing_keys
        |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey AS __pk FROM nation) p
        |    ON c.c_nationkey = p.__pk),
        |r2 AS (SELECT 'lineitem->orders', count(*),
        |   CAST(sum(CASE WHEN p.__pk IS NULL AND l.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |   CAST(count(DISTINCT CASE WHEN p.__pk IS NULL THEN l.l_orderkey END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey AS __pk FROM orders) p
        |    ON l.l_orderkey = p.__pk),
        |r3 AS (SELECT 'lineitem->orders_pruned', count(*),
        |   CAST(sum(CASE WHEN p.__pk IS NULL AND l.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |   CAST(count(DISTINCT CASE WHEN p.__pk IS NULL THEN l.l_orderkey END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey AS __pk FROM orders
        |    WHERE o_orderkey % 97 <> 0) p ON l.l_orderkey = p.__pk),
        |r4 AS (SELECT 'lineitem->part', count(*),
        |   CAST(sum(CASE WHEN p.__pk IS NULL AND l.l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |   CAST(count(DISTINCT CASE WHEN p.__pk IS NULL THEN l.l_partkey END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey AS __pk FROM part) p
        |    ON l.l_partkey = p.__pk),
        |r5 AS (SELECT 'orders->customer', count(*),
        |   CAST(sum(CASE WHEN p.__pk IS NULL AND o.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |   CAST(count(DISTINCT CASE WHEN p.__pk IS NULL THEN o.o_custkey END) AS BIGINT)
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey AS __pk FROM customer) p
        |    ON o.o_custkey = p.__pk)
        |SELECT * FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
        |  UNION ALL SELECT * FROM r5) ORDER BY relation""".stripMargin,
    // same tokenizer as text_vocab; top-100 under (n DESC, tok) total
    // order; moment-sum OLS identical to evt_trend's formula
    "text_zipf" ->
      """WITH tok AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok FROM documents),
        |tf AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |top AS (SELECT tok, n FROM tf ORDER BY n DESC, tok LIMIT 100),
        |r AS (SELECT log10(CAST(row_number() OVER (ORDER BY n DESC, tok) AS DOUBLE)) AS x,
        |      log10(CAST(n AS DOUBLE)) AS y FROM top),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_terms, CAST(count(*) AS DOUBLE) AS cnt,
        |   sum(x) AS sx, sum(y) AS sy,
        |   sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy FROM r),
        |fit AS (SELECT n_terms,
        |   (cnt*sxy - sx*sy) / (cnt*sxx - sx*sx) AS slope,
        |   cnt, sx, sy, sxx, sxy, syy FROM a)
        |SELECT n_terms,
        | round(slope, 4) + 0e0 AS slope,
        | round((sy - slope*sx) / cnt, 4) + 0e0 AS intercept,
        | round((cnt*sxy - sx*sy)*(cnt*sxy - sx*sy)
        |   / ((cnt*sxx - sx*sx)*(cnt*syy - sy*sy)), 4) AS r2
        |FROM fit""".stripMargin,
    // deterministic first-8 centroid partition replayed exactly; pairs
    // only within a cluster; planted copies (vec_id+1000) are the only
    // pairs over the 0.95 threshold on this near-uniform corpus
    "sim_semdedup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |corpus AS (SELECT vec_id, e FROM base
        |   UNION ALL SELECT vec_id + 1000, e FROM base WHERE vec_id % 25 = 0),
        |cents AS (SELECT vec_id AS cent_id, e AS ce FROM corpus ORDER BY vec_id LIMIT 8),
        |sc AS (SELECT c.vec_id, c.e, t.cent_id,
        |   floor(list_inner_product(c.e, t.ce)
        |     / (sqrt(list_inner_product(c.e, c.e)) * sqrt(list_inner_product(t.ce, t.ce)))
        |     * 10000.0e0 + 0.5e0) / 10000.0e0 AS csim
        |  FROM corpus c CROSS JOIN cents t),
        |asg AS (SELECT vec_id, e, cent_id AS cluster_id FROM (
        |   SELECT vec_id, e, cent_id,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn FROM sc)
        |  WHERE rn = 1),
        |p AS (SELECT a.cluster_id, b.vec_id AS drop_id, a.vec_id AS keep_id,
        |   floor(list_inner_product(a.e, b.e)
        |     / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e)))
        |     * 10000.0e0 + 0.5e0) / 10000.0e0 AS sim
        |  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
        |SELECT cluster_id, drop_id AS dropped_vec, min(keep_id) AS keeper_vec,
        |  max(sim) AS sim
        |FROM p WHERE sim >= 0.95e0 GROUP BY cluster_id, drop_id
        |ORDER BY cluster_id, dropped_vec""".stripMargin,
    // domination decided on exact integer cents; double-division price
    // (cents/100.0) is the identical IEEE op in both engines
    "rel_skyline" ->
      """WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |    CAST(floor(p_retailprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents FROM part)
        |SELECT a.p_partkey, CAST(a.cents AS DOUBLE) / 100.0e0 AS price, a.p_size
        |FROM p a WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.cents <= a.cents AND b.p_size >= a.p_size
        |    AND (b.cents < a.cents OR b.p_size > a.p_size))
        |ORDER BY price, a.p_partkey""".stripMargin,
    // cosine from exact integer counts; rank on the ROUNDED cosine with
    // a brand tie-break so ordering is engine-independent
    "rel_item_cf" ->
      """WITH cb AS (SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS b
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey),
        |s AS (SELECT b, count(*) AS n FROM cb GROUP BY b),
        |cp AS (SELECT x.b AS brand_a, y.b AS brand_b, count(*) AS co
        |  FROM cb x JOIN cb y ON x.cust = y.cust AND x.b <> y.b GROUP BY 1, 2),
        |sc AS (SELECT brand_a, brand_b, co,
        |    floor(CAST(co AS DOUBLE)
        |      / (sqrt(CAST(sa.n AS DOUBLE)) * sqrt(CAST(sb.n AS DOUBLE)))
        |      * 10000.0e0 + 0.5e0) / 10000.0e0 AS cosine
        |  FROM cp JOIN s sa ON sa.b = cp.brand_a JOIN s sb ON sb.b = cp.brand_b),
        |r AS (SELECT brand_a, brand_b, co, cosine,
        |    CAST(row_number() OVER (PARTITION BY brand_a
        |      ORDER BY cosine DESC, brand_b) AS BIGINT) AS rank FROM sc)
        |SELECT brand_a, brand_b, co, cosine, rank FROM r WHERE rank <= 3
        |ORDER BY brand_a, rank""".stripMargin,
    // z from exact integer moment sums (Σn, Σn²) — identical IEEE ops
    // both engines; dow is Sunday=0 in both (Spark dayofweek − 1)
    "evt_seasonality" ->
      """WITH cells AS (SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(n_events) AS BIGINT) AS s1,
        |    CAST(sum(n_events * n_events) AS BIGINT) AS s2 FROM cells)
        |SELECT dow, hr, n_events,
        |  floor((CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_cells AS DOUBLE))
        |    / sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_cells AS DOUBLE))
        |      / CAST(n_cells AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS z
        |FROM cells CROSS JOIN st ORDER BY dow, hr""".stripMargin,
    // expected counts from exact integer marginals; the only float agg
    // is the 15-cell Σ(o−e)²/e, rounded per the float-aggregate rule
    "dq_chi2" ->
      """WITH obs AS (SELECT o_orderpriority AS r, o_orderstatus AS c, count(*) AS o
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY r),
        |ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY c),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        |d AS (SELECT CAST((SELECT count(*) FROM rt) AS BIGINT) AS nr,
        |      CAST((SELECT count(*) FROM ct) AS BIGINT) AS nc),
        |grid AS (SELECT rt.r, rt.rt, ct.c, ct.ct,
        |      coalesce(obs.o, CAST(0 AS BIGINT)) AS o
        |  FROM rt CROSS JOIN ct LEFT JOIN obs ON obs.r = rt.r AND obs.c = ct.c),
        |cells AS (SELECT tot.n,
        |    (CAST(grid.o AS DOUBLE)
        |      - CAST(grid.rt AS DOUBLE) * CAST(grid.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |    * (CAST(grid.o AS DOUBLE)
        |      - CAST(grid.rt AS DOUBLE) * CAST(grid.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
        |    / (CAST(grid.rt AS DOUBLE) * CAST(grid.ct AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS x2
        |  FROM grid CROSS JOIN tot)
        |SELECT cells.n, (nr - 1) * (nc - 1) AS dof, round(sum(x2), 2) AS chi2,
        |  round(sqrt(sum(x2) / (CAST(cells.n AS DOUBLE)
        |    * CAST(least(nr - 1, nc - 1) AS DOUBLE))), 4) AS cramers_v
        |FROM cells CROSS JOIN d GROUP BY cells.n, nr, nc""".stripMargin,
    // exact distributed rank replayed as a plain ntile window; min/max
    // are raw stored doubles, the sum rounds per the float-agg rule
    "q34_equidepth" ->
      """WITH r AS (SELECT l_extendedprice AS price,
        |    ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
        |  FROM lineitem)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
        |  min(price) AS lo, max(price) AS hi, round(sum(price), 2) AS total
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,
    // every ratio replays Spark's exact op order ((s/ca)/(cc/no) for
    // lift) on exact integer counts; conviction NULL for exact rules
    "rel_assoc_rules" ->
      """WITH ob AS (SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS b
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |no AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
        |s AS (SELECT b, count(*) AS cnt FROM ob GROUP BY b),
        |pr AS (SELECT x.b AS antecedent, y.b AS consequent, count(*) AS support
        |  FROM ob x JOIN ob y ON x.okey = y.okey AND x.b <> y.b GROUP BY 1, 2
        |  HAVING count(*) >= 50)
        |SELECT antecedent, consequent, support,
        |  floor(CAST(support AS DOUBLE) / CAST(sa.cnt AS DOUBLE) * 10000.0e0 + 0.5e0)
        |    / 10000.0e0 AS confidence,
        |  floor((CAST(support AS DOUBLE) / CAST(sa.cnt AS DOUBLE))
        |    / (CAST(sc.cnt AS DOUBLE) / CAST(no.n_orders AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS lift,
        |  CASE WHEN support = sa.cnt THEN NULL
        |    ELSE floor((1.0e0 - CAST(sc.cnt AS DOUBLE) / CAST(no.n_orders AS DOUBLE))
        |      / (1.0e0 - CAST(support AS DOUBLE) / CAST(sa.cnt AS DOUBLE))
        |      * 10000.0e0 + 0.5e0) / 10000.0e0 END AS conviction
        |FROM pr JOIN s sa ON sa.b = pr.antecedent
        |  JOIN s sc ON sc.b = pr.consequent CROSS JOIN no
        |ORDER BY antecedent, consequent""".stripMargin,
    // the forecast join is day = day−7 on the daily dimension; errors
    // are exact integer sums, ratios through the portable floor
    "evt_forecast_snaive" ->
      """WITH daily AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |    count(*) AS n FROM events GROUP BY 1),
        |j AS (SELECT d.day, d.n, p.n AS n_forecast
        |  FROM daily d JOIN daily p ON p.day + 7 = d.day)
        |SELECT CAST(dayofweek(day) AS BIGINT) AS dow, count(*) AS n_days,
        |  floor(CAST(sum(abs(n - n_forecast)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS mae,
        |  floor(CAST(sum(abs(n - n_forecast)) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS wape
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // integer word/sentence/vowel-run counts → deterministic FRE; bands
    // cut on the unrounded score, avg rounds per the float-agg rule
    "text_readability" ->
      """WITH f AS (SELECT lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')) AS BIGINT) AS words,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
        |      CAST(1 AS BIGINT)) AS sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
        |  FROM documents),
        |sc AS (SELECT lang,
        |    206.835e0 - 1.015e0 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |      - 84.6e0 * (CAST(syllables AS DOUBLE) / nullif(CAST(words AS DOUBLE), 0.0e0)) AS fre
        |  FROM f),
        |b AS (SELECT lang, CASE WHEN fre IS NULL THEN '9_empty'
        |    WHEN fre >= 90.0e0 THEN '0_very_easy' WHEN fre >= 70.0e0 THEN '1_easy'
        |    WHEN fre >= 50.0e0 THEN '2_medium' WHEN fre >= 30.0e0 THEN '3_hard'
        |    ELSE '4_very_hard' END AS band, fre FROM sc)
        |SELECT lang, band, count(*) AS n_docs, round(avg(fre), 2) AS avg_fre
        |FROM b GROUP BY lang, band ORDER BY lang, band""".stripMargin,
    // top-10 keys under the (n_rows DESC, key) total order; share from
    // the summed total — no second scan in the operator
    "dq_skew" ->
      """WITH g AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS tot FROM g),
        |top AS (SELECT user_id, n_rows FROM g ORDER BY n_rows DESC, user_id LIMIT 10)
        |SELECT user_id, n_rows,
        |  floor(CAST(n_rows AS DOUBLE) / tot * 10000.0e0 + 0.5e0) / 10000.0e0 AS share
        |FROM top CROSS JOIN t ORDER BY n_rows DESC, user_id""".stripMargin,
    // the semdedup deterministic first-8 centroid assignment, majority
    // label per cluster with ties to the smaller label
    "sim_cluster_purity" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, e AS ce FROM base ORDER BY vec_id LIMIT 8),
        |sc AS (SELECT b.vec_id, b.label, t.cent_id,
        |    floor(list_inner_product(b.e, t.ce)
        |      / (sqrt(list_inner_product(b.e, b.e)) * sqrt(list_inner_product(t.ce, t.ce)))
        |      * 10000.0e0 + 0.5e0) / 10000.0e0 AS csim
        |  FROM base b CROSS JOIN cents t),
        |asg AS (SELECT vec_id, label, cent_id AS cluster_id FROM (
        |    SELECT vec_id, label, cent_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        |    FROM sc) WHERE rn = 1),
        |bl AS (SELECT cluster_id, label, count(*) AS n_label FROM asg GROUP BY 1, 2),
        |tp AS (SELECT cluster_id, label AS top_label, n_label AS n_top FROM (
        |    SELECT cluster_id, label, n_label,
        |      row_number() OVER (PARTITION BY cluster_id ORDER BY n_label DESC, label) AS rn
        |    FROM bl) WHERE rn = 1),
        |tot AS (SELECT cluster_id, CAST(sum(n_label) AS BIGINT) AS n_vecs
        |  FROM bl GROUP BY 1)
        |SELECT tot.cluster_id, tot.n_vecs, CAST(tp.top_label AS BIGINT) AS top_label, tp.n_top,
        |  floor(CAST(tp.n_top AS DOUBLE) / CAST(tot.n_vecs AS DOUBLE) * 10000.0e0 + 0.5e0)
        |    / 10000.0e0 AS purity
        |FROM tot JOIN tp ON tot.cluster_id = tp.cluster_id
        |ORDER BY tot.cluster_id""".stripMargin,
    // sensitive attribute = value tier; countDistinct ignores NULLs in
    // both engines
    "dq_ldiversity" ->
      """WITH e AS (SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
        |    CAST(floor(value / 20.0e0) AS BIGINT) AS value_tier FROM events)
        |SELECT event_type, dow, count(*) AS class_size,
        |  CAST(count(DISTINCT value_tier) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT value_tier) >= 3 AS meets_l
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // double-literal (e-notation) threshold arithmetic keeps DuckDB out
    // of DECIMAL math (the pagerank precedent); exact medians via
    // quantile_cont ≡ Spark percentile (the q13 bridge)
    "dq_outlier_mad" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |m AS (SELECT event_type, quantile_cont(value, 0.5e0) AS med,
        |    count(*) AS n FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med, m.n
        |  FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5e0) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
        |  round(max(d.med), 4) AS med, round(max(md.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN d.dev > (3e0 * 1.4826e0) * md.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  floor(sum(CASE WHEN d.dev > (3e0 * 1.4826e0) * md.mad
        |      THEN 1 ELSE 0 END) / CAST(max(d.n) AS DOUBLE) * 10000.0e0 + 0.5e0)
        |    / 10000.0e0 AS outlier_rate
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // prefix sums evaluate in day order on both engines (deterministic
    // float accumulation); |S| rounds to 4dp BEFORE the argmax
    // islands: exact integer microsecond sweep, floor() before the
    // duration cast (Spark truncates double->long, DuckDB rounds)
    // Shapley via the additive-v closed form: phi_i = sum C(T)/|T| over
    // coalitions containing i (exact, no enumeration)
    // KM: identical risk-set algebra; the product via exp(sum(ln)) under
    // the same ordered frame; the exhausted-risk-set guard emits 0 on
    // both engines (Spark nulls ln(0), DuckDB -infs it - neither leaks)
    // log-log OLS on the same six moment sums (the evt_trend algebra)
    "rel_elasticity" ->
      """WITH e AS (SELECT p.p_brand AS brand,
        |    ln(l.l_extendedprice / l.l_quantity) AS x,
        |    ln(l.l_quantity) AS y
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l.l_quantity > 0 AND l.l_extendedprice > 0),
        |s AS (SELECT brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
        |  FROM e GROUP BY brand)
        |SELECT brand, n,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) + 0e0 AS elasticity,
        |  round((n*sxy - sx*sy)
        |    / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) + 0e0 AS pearson_r
        |FROM s ORDER BY brand""".stripMargin,
    // gini via the rank-weighted sum; (value, key) tie-break fixes ranks
    "dq_gini" ->
      """WITH r AS (SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS i FROM orders),
        |s AS (SELECT o_orderpriority, count(*) AS n, sum(x) AS sx,
        |    sum(CAST(i AS DOUBLE) * x) AS six FROM r GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  round(2.0e0 * six / (CAST(n AS DOUBLE) * sx)
        |    - CAST(n + 1 AS DOUBLE) / n, 4) + 0e0 AS gini
        |FROM s ORDER BY o_orderpriority""".stripMargin,
    // binned two-sample KS vs the pooled rest; integer cumsums exact on
    // both engines, gap rounded BEFORE the argmax (cusum precedent)
    "dq_ks_test" ->
      """WITH sv AS (SELECT event_type,
        |    CASE WHEN event_type = 'error' THEN value * 1.25e0
        |      ELSE value END AS v FROM events),
        |b AS (SELECT event_type, CAST(floor(v * 10) AS BIGINT) AS bin FROM sv),
        |cell AS (SELECT event_type, bin, count(*) AS n_ab FROM b GROUP BY 1, 2),
        |pb AS (SELECT bin, count(*) AS c_b FROM b GROUP BY 1),
        |ty AS (SELECT DISTINCT event_type FROM b),
        |grid AS (SELECT ty.event_type, pb.bin, pb.c_b,
        |    coalesce(cell.n_ab, 0) AS n_ab
        |  FROM ty CROSS JOIN pb
        |  LEFT JOIN cell ON cell.event_type = ty.event_type
        |    AND cell.bin = pb.bin),
        |sc AS (SELECT event_type, bin,
        |    sum(n_ab) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |    sum(c_b) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t,
        |    sum(n_ab) OVER (PARTITION BY event_type) AS n_a,
        |    sum(c_b) OVER (PARTITION BY event_type) AS n
        |  FROM grid),
        |g AS (SELECT event_type, bin, n_a, n,
        |    round(abs(CAST(cum_a AS DOUBLE) / n_a
        |      - CAST(cum_t - cum_a AS DOUBLE) / (n - n_a)), 4) AS gap
        |  FROM sc),
        |r AS (SELECT event_type, bin, n_a, n, gap, row_number() OVER (
        |      PARTITION BY event_type ORDER BY gap DESC, bin ASC) AS rn
        |  FROM g),
        |f AS (SELECT event_type, n_a, n, gap, bin,
        |    round(1.3581e0 * sqrt(CAST(n AS DOUBLE)
        |      / (CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE))), 4) AS crit
        |  FROM r WHERE rn = 1)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n - n_a AS BIGINT) AS n_rest, gap AS ks_d, bin AS d_at_bin,
        |  crit, gap > crit AS reject
        |FROM f ORDER BY event_type""".stripMargin,
    // midrank algebra kept ×2 in integers; only u/z are float
    "dq_mannwhitney" ->
      """WITH sv AS (SELECT event_type,
        |    CASE WHEN event_type = 'error' THEN value * 1.25e0
        |      ELSE value END AS v FROM events),
        |b AS (SELECT event_type, CAST(floor(v * 10) AS BIGINT) AS bin FROM sv),
        |cell AS (SELECT event_type, bin, count(*) AS n_ab FROM b GROUP BY 1, 2),
        |pb AS (SELECT bin, count(*) AS c_b FROM b GROUP BY 1),
        |ty AS (SELECT DISTINCT event_type FROM b),
        |grid AS (SELECT ty.event_type, pb.bin, pb.c_b,
        |    coalesce(cell.n_ab, 0) AS n_ab
        |  FROM ty CROSS JOIN pb
        |  LEFT JOIN cell ON cell.event_type = ty.event_type
        |    AND cell.bin = pb.bin),
        |sc AS (SELECT event_type, n_ab, c_b,
        |    sum(c_b) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t,
        |    sum(n_ab) OVER (PARTITION BY event_type) AS n_a,
        |    sum(c_b) OVER (PARTITION BY event_type) AS n,
        |    sum(c_b * c_b * c_b - c_b)
        |      OVER (PARTITION BY event_type) AS ties
        |  FROM grid),
        |a AS (SELECT event_type, max(n_a) AS n_a, max(n) AS n,
        |    max(ties) AS ties,
        |    sum(n_ab * (2 * (cum_t - c_b) + c_b + 1)) AS r2
        |  FROM sc GROUP BY 1),
        |fin AS (SELECT event_type, n_a, n - n_a AS n_b, n, ties,
        |    CAST(r2 - n_a * (n_a + 1) AS DOUBLE) / 2e0 AS u FROM a),
        |fz AS (SELECT event_type, n_a, n_b, u,
        |    round((u - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2e0)
        |      / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12e0
        |        * (CAST(n + 1 AS DOUBLE) - CAST(ties AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 4) + 0e0 AS z
        |  FROM fin)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, round(u, 1) AS u, z,
        |  abs(z) > 1.96e0 AS reject
        |FROM fz ORDER BY event_type""".stripMargin,
    // g3 = min fraction of rows to delete for the FD to hold
    "dq_fd_audit" ->
      """WITH c1 AS (SELECT n_nationkey AS l, n_regionkey AS r, count(*) AS n_lr
        |  FROM nation GROUP BY 1, 2),
        |g1 AS (SELECT l, sum(n_lr) AS n_l, max(n_lr) AS keep_l,
        |    count(*) AS n_rhs FROM c1 GROUP BY 1),
        |c2 AS (SELECT c_nationkey AS l, c_mktsegment AS r, count(*) AS n_lr
        |  FROM customer GROUP BY 1, 2),
        |g2 AS (SELECT l, sum(n_lr) AS n_l, max(n_lr) AS keep_l,
        |    count(*) AS n_rhs FROM c2 GROUP BY 1),
        |c3 AS (SELECT o_custkey AS l, o_orderpriority AS r, count(*) AS n_lr
        |  FROM orders GROUP BY 1, 2),
        |g3 AS (SELECT l, sum(n_lr) AS n_l, max(n_lr) AS keep_l,
        |    count(*) AS n_rhs FROM c3 GROUP BY 1),
        |c4 AS (SELECT l_partkey AS l, l_suppkey AS r, count(*) AS n_lr
        |  FROM lineitem GROUP BY 1, 2),
        |g4 AS (SELECT l, sum(n_lr) AS n_l, max(n_lr) AS keep_l,
        |    count(*) AS n_rhs FROM c4 GROUP BY 1),
        |c5 AS (SELECT user_id AS l, event_type AS r, count(*) AS n_lr
        |  FROM events GROUP BY 1, 2),
        |g5 AS (SELECT l, sum(n_lr) AS n_l, max(n_lr) AS keep_l,
        |    count(*) AS n_rhs FROM c5 GROUP BY 1),
        |u AS (
        |  SELECT 'nation.nationkey->regionkey' AS fd,
        |    CAST(sum(n_l) AS BIGINT) AS n_rows, count(*) AS n_groups,
        |    CAST(sum(CASE WHEN n_rhs = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_clean_groups,
        |    CAST(floor((1e0 - CAST(sum(keep_l) AS DOUBLE)
        |      / CAST(sum(n_l) AS DOUBLE)) * 10000e0 + 0.5e0)
        |      AS DOUBLE) / 10000e0 AS g3_error FROM g1
        |  UNION ALL SELECT 'customer.nationkey->mktsegment',
        |    CAST(sum(n_l) AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN n_rhs = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(floor((1e0 - CAST(sum(keep_l) AS DOUBLE)
        |      / CAST(sum(n_l) AS DOUBLE)) * 10000e0 + 0.5e0)
        |      AS DOUBLE) / 10000e0 FROM g2
        |  UNION ALL SELECT 'orders.custkey->orderpriority',
        |    CAST(sum(n_l) AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN n_rhs = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(floor((1e0 - CAST(sum(keep_l) AS DOUBLE)
        |      / CAST(sum(n_l) AS DOUBLE)) * 10000e0 + 0.5e0)
        |      AS DOUBLE) / 10000e0 FROM g3
        |  UNION ALL SELECT 'lineitem.partkey->suppkey',
        |    CAST(sum(n_l) AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN n_rhs = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(floor((1e0 - CAST(sum(keep_l) AS DOUBLE)
        |      / CAST(sum(n_l) AS DOUBLE)) * 10000e0 + 0.5e0)
        |      AS DOUBLE) / 10000e0 FROM g4
        |  UNION ALL SELECT 'events.user_id->event_type',
        |    CAST(sum(n_l) AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN n_rhs = 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(floor((1e0 - CAST(sum(keep_l) AS DOUBLE)
        |      / CAST(sum(n_l) AS DOUBLE)) * 10000e0 + 0.5e0)
        |      AS DOUBLE) / 10000e0 FROM g5)
        |SELECT fd, n_rows, n_groups, n_clean_groups, g3_error,
        |  g3_error = 0e0 AS holds
        |FROM u ORDER BY fd""".stripMargin,
    // wedge-join candidates through hubs capped at deg 256 (same cap as
    // the engine — a documented part of the operator, not a shortcut)
    "graph_adamic_adar" ->
      """WITH l AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 5 = 0),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM l a
        |  JOIN l b ON a.ok = b.ok AND a.p < b.p),
        |adj AS (SELECT u AS w, v AS x FROM e
        |  UNION ALL SELECT v AS w, u AS x FROM e),
        |d AS (SELECT w, count(*) AS dw FROM adj GROUP BY 1),
        |h AS (SELECT adj.w, adj.x, d.dw FROM adj JOIN d USING (w)
        |  WHERE d.dw >= 2 AND d.dw <= 256),
        |p AS (SELECT l2.x AS a, r2.x AS b, l2.dw AS dw FROM h l2
        |  JOIN h r2 ON l2.w = r2.w AND l2.x < r2.x),
        |np AS (SELECT p.a, p.b, count(*) AS n_common,
        |    round(sum(1e0 / ln(CAST(p.dw AS DOUBLE))), 4) AS aa_score
        |  FROM p LEFT JOIN e ON e.u = p.a AND e.v = p.b
        |  WHERE e.u IS NULL GROUP BY 1, 2)
        |SELECT a, b, n_common, aa_score
        |FROM np ORDER BY aa_score DESC, a, b LIMIT 20""".stripMargin,
    // one tagged gram family (bigrams carry an embedded space); PMI
    // algebra in the identical double product/quotient shape
    "text_pmi" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |s0 AS (SELECT toks FROM t WHERE len(toks) >= 1),
         |uni AS (SELECT unnest(toks) AS gram FROM s0),
         |bi AS (SELECT unnest(list_transform(generate_series(1, len(toks)-1),
         |    i -> toks[i] || ' ' || toks[i+1])) AS gram
         |  FROM s0 WHERE len(toks) >= 2),
         |c AS (SELECT gram, count(*) AS c FROM
         |  (SELECT * FROM uni UNION ALL SELECT * FROM bi) g0 GROUP BY 1),
         |tot AS (SELECT sum(CASE WHEN contains(gram, ' ') THEN c END) AS nb,
         |    sum(CASE WHEN NOT contains(gram, ' ') THEN c END) AS nu FROM c),
         |b2 AS (SELECT gram AS bigram, c AS n_pair,
         |    string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2
         |  FROM c WHERE contains(gram, ' ') AND c >= 5),
         |j AS (SELECT b2.bigram, b2.n_pair, u1.c AS c1, u2.c AS c2
         |  FROM b2 JOIN c u1 ON u1.gram = b2.w1
         |  JOIN c u2 ON u2.gram = b2.w2),
         |f AS (SELECT bigram, n_pair, c1, c2,
         |    round(ln(CAST(n_pair AS DOUBLE) * CAST(nu AS DOUBLE)
         |        * CAST(nu AS DOUBLE)
         |      / (CAST(nb AS DOUBLE) * CAST(c1 AS DOUBLE)
         |        * CAST(c2 AS DOUBLE))), 4) + 0e0 AS pmi
         |  FROM j CROSS JOIN tot)
         |SELECT bigram, n_pair, c1, c2, pmi
         |FROM f ORDER BY pmi DESC, bigram LIMIT 30""".stripMargin,
    // threshold filter on the UNROUNDED cosine (bit-identical
    // accumulation both engines — the sim_topk_exact rank precedent)
    "sim_radius" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.e, c.e)
        |      / (sqrt(list_inner_product(q.e, q.e))
        |        * sqrt(list_inner_product(c.e, c.e))) AS sim
        |  FROM q JOIN c ON q.vec_id <> c.vec_id)
        |SELECT vec_id, neighbor_id,
        |  CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim
        |FROM s WHERE sim >= 0.25e0 ORDER BY vec_id, neighbor_id""".stripMargin,
    // quartile cuts via quantile_cont ≡ Spark percentile (q13 precedent)
    "mix_curriculum" ->
      s"""WITH s AS (SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS difficulty FROM documents),
         |c AS (SELECT quantile_cont(difficulty, 0.25e0) AS q1,
         |    quantile_cont(difficulty, 0.5e0) AS q2,
         |    quantile_cont(difficulty, 0.75e0) AS q3 FROM s),
         |p AS (SELECT difficulty, 1 + (difficulty > q1)::INT
         |    + (difficulty > q2)::INT + (difficulty > q3)::INT AS phase
         |  FROM s CROSS JOIN c)
         |SELECT CAST(phase AS BIGINT) AS phase, count(*) AS n_docs,
         |  CAST(sum(difficulty) AS BIGINT) AS n_tokens,
         |  min(difficulty) AS min_difficulty,
         |  max(difficulty) AS max_difficulty
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_paths" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
        |    event_type FROM events),
        |p AS (SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY tsx, event_id) AS rn FROM e),
        |f AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM p WHERE rn <= 5 GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM f GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
    // α=1/2 EWMA: every weight an exact power of two (integer shift,
    // not libm pow), so both engines agree bit-for-bit on weights
    // BIGINT-exact end to end (the cuped discipline): daily mean in
    // 1e-4 units, EWMA as an integer Σ xq·2^(20−k), limits from exact
    // integer moments — floats only in identical scalar trees
    "evt_ewma" ->
      """WITH d AS (SELECT event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT))
        |      AS BIGINT) AS xc,
        |    count(*) AS nc FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, day,
        |    CAST(floor(CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) * 100e0
        |      + 0.5e0) AS BIGINT) AS xq FROM d),
        |i AS (SELECT event_type, day, xq, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS i FROM q),
        |st AS (SELECT event_type, count(*) AS nd,
        |    CAST(sum(xq) AS BIGINT) AS s1,
        |    CAST(sum(xq * xq) AS BIGINT) AS s2 FROM i GROUP BY 1),
        |j AS (SELECT c.event_type, c.i AS t, c.day, c.xq, h.xq AS xqi,
        |    CASE WHEN h.i = 1 THEN c.i - 1 ELSE c.i - h.i + 1 END AS k
        |  FROM i c JOIN i h ON h.event_type = c.event_type AND h.i <= c.i),
        |e AS (SELECT event_type, t, day, xq,
        |    CAST(sum(xqi * CASE WHEN k > 20 THEN 0
        |      ELSE (1::BIGINT << CAST(20 - k AS INT)) END) AS BIGINT) AS ss
        |  FROM j GROUP BY 1, 2, 3, 4),
        |f AS (SELECT e.event_type, e.day,
        |    CAST(e.xq AS DOUBLE) / 10000e0 AS x,
        |    CAST(e.ss AS DOUBLE) / 1048576e0 / 10000e0 AS ewma,
        |    CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE) / 10000e0 AS mu,
        |    3e0 * sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |          / CAST(nd AS DOUBLE))
        |        / (CAST(nd AS DOUBLE) - 1e0)) / 10000e0
        |      * sqrt((1e0 - CASE WHEN t > 31 THEN 0e0
        |        ELSE 1e0 / CAST(1::BIGINT << CAST(2 * t AS INT) AS DOUBLE) END)
        |        / 3e0) AS lim
        |  FROM e JOIN st USING (event_type))
        |SELECT event_type, day,
        |  CAST(floor(x * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS x,
        |  CAST(floor(ewma * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS ewma,
        |  CAST(floor((mu - lim) * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS lcl,
        |  CAST(floor((mu + lim) * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS ucl,
        |  CAST(floor(abs(ewma - mu) * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0
        |    > CAST(floor(lim * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS signal
        |FROM f ORDER BY event_type, day""".stripMargin,
    "evt_power" ->
      """WITH a AS (SELECT event_type, count(*) AS n, sum(value) AS s1,
        |    sum(value * value) AS s2 FROM events GROUP BY 1),
        |f AS (SELECT event_type, n, s1 / CAST(n AS DOUBLE) AS mu,
        |    (s2 - s1 * s1 / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1e0) AS v FROM a),
        |p AS (SELECT event_type, n, mu, v,
        |    ceil(2e0 * ((1.96e0 + 0.8416e0) * (1.96e0 + 0.8416e0)) * v
        |      / ((0.05e0 * mu) * (0.05e0 * mu))) AS na FROM f)
        |SELECT event_type, n, round(mu, 4) AS mu, round(sqrt(v), 4) AS sigma,
        |  CAST(na AS BIGINT) AS n_per_arm,
        |  CAST(n AS DOUBLE) >= 2e0 * na AS enough_data
        |FROM p ORDER BY event_type""".stripMargin,
    // assortativity via the elasticity moment-sum shape over the
    // DIRECTED edge list (both orientations)
    "graph_degree_stats" ->
      """WITH l AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 5 = 0),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM l a
        |  JOIN l b ON a.ok = b.ok AND a.p < b.p),
        |adj AS (SELECT u AS n, v AS m FROM e
        |  UNION ALL SELECT v AS n, u AS m FROM e),
        |d AS (SELECT n, count(*) AS dg FROM adj GROUP BY 1),
        |sc AS (SELECT CAST(du.dg AS DOUBLE) AS x, CAST(dv.dg AS DOUBLE) AS y
        |  FROM adj JOIN d du ON du.n = adj.n JOIN d dv ON dv.n = adj.m),
        |mo AS (SELECT count(*) AS mm, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM sc),
        |nn AS (SELECT count(*) AS n_nodes, max(dg) AS max_degree FROM d),
        |ne AS (SELECT count(*) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, max_degree,
        |  round(2e0 * CAST(n_edges AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4)
        |    AS avg_degree,
        |  round((CAST(mm AS DOUBLE) * sxy - sx * sy)
        |    / sqrt((CAST(mm AS DOUBLE) * sxx - sx * sx)
        |      * (CAST(mm AS DOUBLE) * syy - sy * sy)), 4) + 0e0 AS assortativity
        |FROM mo CROSS JOIN nn CROSS JOIN ne""".stripMargin,
    // the WHOLE pipeline — container synthesis, header parse, frame
    // slicing, sampled-byte md5 — replays in SQL (frames are ASCII md5
    // hex, so byte slicing ≡ substr)
    "mm_frame_sample" ->
      """WITH fx AS (SELECT doc_id,
        |    unnest(generate_series(0, CAST(doc_id % 13 + 3 AS INT))) AS f
        |  FROM documents),
        |fr AS (SELECT doc_id, f,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(f AS VARCHAR)) AS fb
        |  FROM fx),
        |pay AS (SELECT doc_id, 'GFV1'
        |    || lpad(CAST(doc_id % 13 + 4 AS VARCHAR), 4, '0')
        |    || lpad('32', 6, '0')
        |    || string_agg(fb, '' ORDER BY f) AS payload
        |  FROM fr GROUP BY doc_id),
        |s AS (SELECT doc_id, payload,
        |    CAST(substr(payload, 5, 4) AS BIGINT) AS n_frames FROM pay),
        |sx AS (SELECT doc_id,
        |    unnest(generate_series(0, CAST(n_frames - 1 AS INT))) AS f
        |  FROM s),
        |sf AS (SELECT doc_id, f FROM sx WHERE f % 3 = 0),
        |agg AS (SELECT sf.doc_id, count(*) AS n_sampled,
        |    md5(string_agg(substr(s.payload, CAST(15 + 32 * sf.f AS INT), 32),
        |      '' ORDER BY sf.f)) AS sample_md5
        |  FROM sf JOIN s USING (doc_id) GROUP BY 1)
        |SELECT s.doc_id, s.n_frames, agg.n_sampled, agg.sample_md5,
        |  CAST(length(s.payload) AS BIGINT) AS total_bytes
        |FROM s JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // zero-variance frames emit NULL through the same guard (0/0 is
    // engine-dependent NaN otherwise)
    "evt_rolling_corr" ->
      """WITH d AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS xa,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS xb
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
        |f AS (SELECT day, xa, xb, count(*) OVER w AS n,
        |    sum(xa) OVER w AS sx, sum(xb) OVER w AS sy,
        |    sum(xa * xb) OVER w AS sxy, sum(xa * xa) OVER w AS sxx,
        |    sum(xb * xb) OVER w AS syy
        |  FROM d WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |g AS (SELECT day, xa, xb, n,
        |    CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |      AS num,
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * syy
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den2
        |  FROM f)
        |SELECT day, CAST(xa AS BIGINT) AS xa, CAST(xb AS BIGINT) AS xb,
        |  CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN den2 > 0e0 THEN round(num / sqrt(den2), 4) + 0e0 END AS corr
        |FROM g ORDER BY day""".stripMargin,
    // oracle = DuckDB's NATIVE windowed count(DISTINCT): the hash match
    // proves the first-occurrence composition ≡ the builtin Spark lacks
    "q35_window_distinct" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
        |    event_type FROM events)
        |SELECT user_id, event_id, count(DISTINCT event_type) OVER (
        |    PARTITION BY user_id ORDER BY tsx, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS n_distinct_types
        |FROM e ORDER BY user_id, event_id""".stripMargin,
    // every threshold compares cross-multiplied integers — no float
    // decides a verdict (the gopher precedent)
    "text_filter_funnel" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |v AS (SELECT CASE
         |    WHEN len(toks) < 20 THEN '1_too_short'
         |    WHEN len(toks) > 90 THEN '2_too_long'
         |    WHEN len(list_distinct(toks)) * 2 < len(toks)
         |      THEN '3_low_diversity'
         |    WHEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 10
         |        > length(text) THEN '4_high_symbol'
         |    ELSE '5_pass' END AS stage FROM t),
         |g AS (SELECT stage, count(*) AS n_docs FROM v GROUP BY 1)
         |SELECT stage, n_docs,
         |  CAST(floor(CAST(n_docs AS DOUBLE) / (SELECT sum(n_docs) FROM g)
         |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS share
         |FROM g ORDER BY stage""".stripMargin,
    // per-period quartile tiers (quantile_cont ≡ percentile, spend
    // rounded 2dp first so float-sum ulps cannot move a boundary)
    "rel_migration" ->
      """WITH sp AS (SELECT o_custkey,
        |    CASE WHEN year(o_orderdate) <= 1997 THEN 'p1' ELSE 'p2' END
        |      AS period,
        |    round(sum(o_totalprice), 2) AS spend FROM orders GROUP BY 1, 2),
        |c AS (SELECT period, quantile_cont(spend, 0.25e0) AS q1,
        |    quantile_cont(spend, 0.5e0) AS q2,
        |    quantile_cont(spend, 0.75e0) AS q3 FROM sp GROUP BY 1),
        |ti AS (SELECT sp.o_custkey, sp.period,
        |    1 + (spend > q1)::INT + (spend > q2)::INT + (spend > q3)::INT
        |      AS tier
        |  FROM sp JOIN c USING (period)),
        |p1 AS (SELECT o_custkey, tier AS t1 FROM ti WHERE period = 'p1'),
        |p2 AS (SELECT o_custkey, tier AS t2 FROM ti WHERE period = 'p2')
        |SELECT CAST(coalesce(t1, 0) AS BIGINT) AS from_tier,
        |  CAST(coalesce(t2, 0) AS BIGINT) AS to_tier,
        |  count(*) AS n_customers
        |FROM p1 FULL OUTER JOIN p2 USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // identical planted clones + md5 split assignment + fingerprint fold
    "dq_split_leakage" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |    WHERE doc_id % 20 = 0),
        |a AS (SELECT CASE
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '08'
        |      THEN 'test'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '18'
        |      THEN 'validation'
        |    ELSE 'train' END AS split,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM d),
        |g AS (SELECT fp,
        |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
        |    sum(CASE WHEN split = 'validation' THEN 1 ELSE 0 END) AS n_val,
        |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
        |  FROM a GROUP BY 1)
        |SELECT 'train|validation' AS pair,
        |  CAST(sum(CASE WHEN n_train > 0 AND n_val > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_fingerprints,
        |  CAST(sum(CASE WHEN n_train > 0 AND n_val > 0
        |    THEN n_train + n_val ELSE 0 END) AS BIGINT) AS n_docs FROM g
        |UNION ALL SELECT 'train|test',
        |  CAST(sum(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(sum(CASE WHEN n_train > 0 AND n_test > 0
        |    THEN n_train + n_test ELSE 0 END) AS BIGINT) FROM g
        |UNION ALL SELECT 'validation|test',
        |  CAST(sum(CASE WHEN n_val > 0 AND n_test > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(sum(CASE WHEN n_val > 0 AND n_test > 0
        |    THEN n_val + n_test ELSE 0 END) AS BIGINT) FROM g
        |ORDER BY pair""".stripMargin,
    // the burst decision is a cross-multiplied integer compare; the
    // planted ×3 last day replays via the same max-day subquery
    "evt_bursts" ->
      """WITH e0 AS (SELECT event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events),
        |md AS (SELECT max(day) AS m FROM e0),
        |e AS (SELECT event_type, day FROM e0
        |  UNION ALL SELECT e0.event_type, e0.day FROM e0, md WHERE e0.day = md.m
        |  UNION ALL SELECT e0.event_type, e0.day FROM e0, md WHERE e0.day = md.m),
        |d AS (SELECT event_type, day, count(*) AS n_events FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, day, n_events,
        |    count(*) OVER pw AS pn, sum(n_events) OVER pw AS ps
        |  FROM d WINDOW pw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n_events,
        |  CASE WHEN pn >= 3 THEN CAST(floor(CAST(ps AS DOUBLE) / pn
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 END AS prev_avg,
        |  (pn >= 3 AND n_events * pn > 2 * ps) AS burst
        |FROM w ORDER BY event_type, day""".stripMargin,
    // frontier-relative staleness in exact integer µs (DIV convention)
    "dq_freshness" ->
      """WITH p AS (SELECT event_type, count(*) AS n_events,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |    max(CAST(ts AS TIMESTAMP)) AS last_ts0 FROM events GROUP BY 1),
        |e AS (SELECT max(last_us) AS edge_us FROM p)
        |SELECT event_type, n_events,
        |  strftime(last_ts0, '%Y-%m-%d %H:%M:%S') AS last_ts,
        |  (edge_us - last_us) // 3600000000 AS staleness_hours,
        |  edge_us - last_us <= 24 * 3600000000 AS within_sla
        |FROM p CROSS JOIN e ORDER BY event_type""".stripMargin,
    // revenue rounds 2dp BEFORE ranking so float-sum ulps can't swap
    // rank neighbors (brand breaks exact ties)
    "rel_top_movers" ->
      """WITH rev AS (SELECT p.p_brand AS brand,
        |    CASE WHEN year(o.o_orderdate) <= 1997 THEN 'p1' ELSE 'p2' END
        |      AS period,
        |    round(sum(l.l_extendedprice), 2) AS rev
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey GROUP BY 1, 2),
        |r AS (SELECT brand, period, rev, row_number() OVER (
        |    PARTITION BY period ORDER BY rev DESC, brand) AS rnk FROM rev),
        |p1 AS (SELECT brand, rev AS rev_p1, rnk AS rank_p1
        |  FROM r WHERE period = 'p1'),
        |p2 AS (SELECT brand, rev AS rev_p2, rnk AS rank_p2
        |  FROM r WHERE period = 'p2')
        |SELECT brand, rev_p1, rev_p2, CAST(rank_p1 AS BIGINT) AS rank_p1,
        |  CAST(rank_p2 AS BIGINT) AS rank_p2,
        |  CAST(rank_p1 - rank_p2 AS BIGINT) AS rank_gain
        |FROM p1 JOIN p2 USING (brand) ORDER BY brand""".stripMargin,
    // rule parameters ride as TYPED columns (never engine-formatted
    // float strings); quantile_cont ≡ percentile (q13 precedent)
    "dq_suggest_constraints" ->
      """WITH s AS (SELECT count(*) AS n,
        |    sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS null_v,
        |    sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS null_t,
        |    CAST(floor(quantile_cont(value, 0.01e0) * 100e0 + 0.5e0)
        |      AS DOUBLE) / 100e0 AS p1,
        |    CAST(floor(quantile_cont(value, 0.99e0) * 100e0 + 0.5e0)
        |      AS DOUBLE) / 100e0 AS p99 FROM events),
        |m AS (SELECT string_agg(DISTINCT event_type, ','
        |      ORDER BY event_type) AS set_csv,
        |    count(DISTINCT event_type) AS ndv FROM events),
        |sup AS (SELECT sum(CASE WHEN e.value >= s.p1 AND e.value <= s.p99
        |    THEN 1 ELSE 0 END) AS n_in_range FROM events e CROSS JOIN s),
        |u AS (
        |  SELECT 'value' AS "column", 'not_null' AS rule,
        |    CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
        |    CAST(NULL AS VARCHAR) AS members,
        |    CAST(floor(CAST(n - null_v AS DOUBLE) / n * 10000.0e0 + 0.5e0)
        |      AS DOUBLE) / 10000.0e0 AS support FROM s
        |  UNION ALL SELECT 'value', 'range_p1_p99', p1, p99, NULL,
        |    CAST(floor(CAST(n_in_range AS DOUBLE) / n * 10000.0e0 + 0.5e0)
        |      AS DOUBLE) / 10000.0e0 FROM s CROSS JOIN sup
        |  UNION ALL SELECT 'event_type', 'not_null', NULL, NULL, NULL,
        |    CAST(floor(CAST(n - null_t AS DOUBLE) / n * 10000.0e0 + 0.5e0)
        |      AS DOUBLE) / 10000.0e0 FROM s
        |  UNION ALL SELECT 'event_type', 'in_set', NULL,
        |    CAST(ndv AS DOUBLE), set_csv, 1e0 FROM m)
        |SELECT * FROM u ORDER BY "column", rule""".stripMargin,
    // OLS moments kept entirely in BIGINT (day index × counts) — floats
    // only after the 1-row division; DuckDB dayofweek ≡ Spark −1
    "evt_decompose" ->
      """WITH d0 AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow
        |  FROM events),
        |d AS (SELECT day, dow, count(*) AS n_events FROM d0 GROUP BY 1, 2),
        |ix AS (SELECT day, dow, n_events,
        |    row_number() OVER (ORDER BY day) AS i FROM d),
        |m AS (SELECT count(*) AS n, sum(i) AS sx, sum(n_events) AS sy,
        |    sum(i * n_events) AS sxy, sum(i * i) AS sxx FROM ix),
        |co AS (SELECT
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        |    n, sx, sy FROM m),
        |co2 AS (SELECT slope,
        |    (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS icept FROM co),
        |t2 AS (SELECT day, dow, n_events, i,
        |    icept + slope * i AS trend,
        |    CAST(n_events AS DOUBLE) - (icept + slope * i) AS detrended
        |  FROM ix CROSS JOIN co2),
        |dw AS (SELECT dow, avg(detrended) AS dow_effect FROM t2 GROUP BY 1)
        |SELECT day, t2.dow, n_events, round(trend, 4) + 0e0 AS trend,
        |  round(dow_effect, 4) + 0e0 AS dow_effect,
        |  round(detrended - dow_effect, 4) + 0e0 AS residual
        |FROM t2 JOIN dw ON dw.dow = t2.dow ORDER BY day""".stripMargin,
    // md5-stride sample caps the quadratic; thresholds compare the
    // unrounded cosine (list_inner_product ≡ DotProduct, topk precedent)
    "sim_threshold_sweep" ->
      """WITH sm AS (SELECT vec_id, embedding FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 500),
        |s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM sm),
        |p AS (SELECT list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS sim
        |  FROM s a JOIN s b ON a.vec_id < b.vec_id),
        |g AS (SELECT count(*) AS n_candidates,
        |    sum(CASE WHEN sim >= 0.20e0 THEN 1 ELSE 0 END) AS g0,
        |    sum(CASE WHEN sim >= 0.25e0 THEN 1 ELSE 0 END) AS g1,
        |    sum(CASE WHEN sim >= 0.30e0 THEN 1 ELSE 0 END) AS g2,
        |    sum(CASE WHEN sim >= 0.35e0 THEN 1 ELSE 0 END) AS g3,
        |    sum(CASE WHEN sim >= 0.40e0 THEN 1 ELSE 0 END) AS g4 FROM p),
        |u AS (
        |  SELECT 0.20e0 AS threshold, n_candidates, g0 AS np FROM g
        |  UNION ALL SELECT 0.25e0, n_candidates, g1 FROM g
        |  UNION ALL SELECT 0.30e0, n_candidates, g2 FROM g
        |  UNION ALL SELECT 0.35e0, n_candidates, g3 FROM g
        |  UNION ALL SELECT 0.40e0, n_candidates, g4 FROM g)
        |SELECT threshold, n_candidates, CAST(np AS BIGINT) AS n_pairs,
        |  CAST(floor(CAST(np AS DOUBLE) / n_candidates * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS share
        |FROM u ORDER BY threshold""".stripMargin,
    // the merge-on-read scan must equal the plain filtered table
    "maint_delete_vector" ->
      """SELECT count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin,
    // pre-filtered hybrid search: the predicate applies BEFORE scoring
    "sim_filtered_topk" ->
      """WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM en)),
        |q AS (SELECT vec_id, e FROM c WHERE vec_id < 50),
        |s AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
        |    list_inner_product(q.e, c.e)
        |      / (sqrt(list_inner_product(q.e, q.e))
        |        * sqrt(list_inner_product(c.e, c.e))) AS sim
        |  FROM q JOIN c ON q.vec_id <> c.vec_id)
        |SELECT vec_id, neighbor_id,
        |  CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
        |  CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT vec_id, neighbor_id, sim, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // χ² from exact integer counts; flag compares the unrounded value
    "evt_srm" ->
      """WITH a AS (SELECT event_type,
        |    sum(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 0 ELSE 1 END) AS n_b
        |  FROM events GROUP BY 1)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  round(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |    / CAST(n_a + n_b AS DOUBLE), 4) AS chi2,
        |  CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
        |    / CAST(n_a + n_b AS DOUBLE) > 3.841e0 AS srm
        |FROM a ORDER BY event_type""".stripMargin,
    // MoR upsert: latest values win for the re-landed keys
    "maint_upsert_mor" ->
      """SELECT count(*) AS n_rows,
        |  round(sum(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000
        |    ELSE o_totalprice END), 2) AS sum_price,
        |  CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM orders""".stripMargin,
    "dq_key_audit" ->
      """WITH k1 AS (SELECT o_orderkey AS a, CAST(NULL AS BIGINT) AS b
        |  FROM orders),
        |g1 AS (SELECT count(*) AS c FROM k1 GROUP BY a),
        |k2 AS (SELECT count(*) AS c FROM lineitem
        |  GROUP BY l_orderkey, l_linenumber),
        |k3 AS (SELECT count(*) AS c FROM events GROUP BY event_id),
        |k4 AS (SELECT count(*) AS c FROM documents GROUP BY doc_id),
        |k5 AS (SELECT count(*) AS c FROM orders GROUP BY o_custkey),
        |u AS (
        |  SELECT 'orders.o_orderkey' AS candidate, CAST(sum(c) AS BIGINT)
        |      AS n_rows, count(*) AS n_distinct,
        |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_rows FROM g1
        |  UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber)',
        |    CAST(sum(c) AS BIGINT), count(*),
        |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) FROM k2
        |  UNION ALL SELECT 'events.event_id', CAST(sum(c) AS BIGINT),
        |    count(*),
        |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) FROM k3
        |  UNION ALL SELECT 'documents.doc_id', CAST(sum(c) AS BIGINT),
        |    count(*),
        |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) FROM k4
        |  UNION ALL SELECT 'orders.o_custkey', CAST(sum(c) AS BIGINT),
        |    count(*),
        |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) FROM k5)
        |SELECT candidate, n_rows, n_distinct, n_dup_rows,
        |  n_dup_rows = 0 AS is_key
        |FROM u ORDER BY candidate""".stripMargin,
    // CUPED: every SUM is BIGINT-exact (integer cents) — the engines
    // only ever do IDENTICAL scalar double arithmetic on exact ints,
    // so no accumulation-order / DuckDB-version sensitivity remains.
    "evt_cuped" ->
      """WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi FROM events),
        |pu AS (SELECT user_id,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 >= lo + hi
        |      THEN 0 ELSE CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)
        |      END) AS x,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 >= lo + hi
        |      THEN CAST(floor(value * 100e0 + 0.5e0) AS BIGINT) ELSE 0
        |      END) AS y
        |  FROM events CROSS JOIN b GROUP BY 1),
        |pv AS (SELECT user_id, x, y,
        |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'A' ELSE 'B' END AS v FROM pu),
        |g AS (SELECT v, count(*) AS nu,
        |    CAST(sum(x) AS DOUBLE) AS vx, CAST(sum(y) AS DOUBLE) AS vy,
        |    CAST(sum(x * x) AS DOUBLE) AS vxx,
        |    CAST(sum(x * y) AS DOUBLE) AS vxy,
        |    CAST(sum(y * y) AS DOUBLE) AS vyy FROM pv GROUP BY 1),
        |mo AS (SELECT CAST(sum(nu) AS DOUBLE) AS n, sum(vx) AS sx,
        |    sum(vy) AS sy, sum(vxx) AS sxx, sum(vxy) AS sxy FROM g),
        |fo AS (SELECT v, nu, CAST(nu AS DOUBLE) AS nud, vx, vy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta, n, sx,
        |    (vyy - vy * vy / CAST(nu AS DOUBLE))
        |      / (CAST(nu AS DOUBLE) - 1e0) AS var_raw,
        |    (vxy - vx * vy / CAST(nu AS DOUBLE))
        |      / (CAST(nu AS DOUBLE) - 1e0) AS cov_v,
        |    (vxx - vx * vx / CAST(nu AS DOUBLE))
        |      / (CAST(nu AS DOUBLE) - 1e0) AS var_x
        |  FROM g CROSS JOIN mo),
        |fi AS (SELECT v, nu, vy / nud AS mean_raw,
        |    vy / nud - theta * (vx / nud - sx / n) AS mean_cuped, var_raw,
        |    var_raw - 2e0 * theta * cov_v + theta * theta * var_x AS var_adj
        |  FROM fo)
        |SELECT v AS variant, nu AS n_users,
        |  round(mean_raw / 100e0, 4) + 0e0 AS mean_raw,
        |  round(mean_cuped / 100e0, 4) + 0e0 AS mean_cuped,
        |  round(var_raw / 10000e0, 4) + 0e0 AS var_raw,
        |  round(var_adj / 10000e0, 4) + 0e0 AS var_cuped,
        |  round(1e0 - var_adj / var_raw, 4) + 0e0 AS var_reduction
        |FROM fi ORDER BY variant""".stripMargin,
    // sliding 2h/1h: an event at t belongs to windows starting at
    // trunc(t,1h) and trunc(t,1h) − 1h — the oracle replays that
    "stream_sliding" ->
      """WITH e AS (SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |w AS (SELECT event_type, h AS ws FROM e
        |  UNION ALL SELECT event_type, h - INTERVAL 1 HOUR FROM e)
        |SELECT strftime(ws, '%Y-%m-%d %H:00') AS win_start, event_type,
        |  count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_markov2" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsx,
        |    event_type FROM events),
        |p AS (SELECT event_type AS nxt,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY tsx, event_id) AS l1,
        |    lag(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY tsx, event_id) AS l2 FROM e),
        |c AS (SELECT l2 || '>' || l1 AS context, nxt, count(*) AS c
        |  FROM p WHERE l2 IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT context, nxt, c,
        |    sum(c) OVER (PARTITION BY context) AS n_obs,
        |    row_number() OVER (PARTITION BY context
        |      ORDER BY c DESC, nxt) AS rn FROM c)
        |SELECT context, CAST(n_obs AS BIGINT) AS n_obs, nxt AS top_next,
        |  c AS n_top,
        |  CAST(floor(CAST(c AS DOUBLE) / n_obs * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS accuracy
        |FROM r WHERE rn = 1 ORDER BY n_obs DESC, context LIMIT 20""".stripMargin,
    // revenue rounds 2dp BEFORE the growth ratio
    "rel_yoy" ->
      """WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT yr, n_orders, revenue,
        |  CASE WHEN lag(revenue) OVER (ORDER BY yr) IS NOT NULL
        |    THEN round((revenue - lag(revenue) OVER (ORDER BY yr))
        |      / lag(revenue) OVER (ORDER BY yr) * 100e0, 2) + 0e0 END AS yoy_pct
        |FROM y ORDER BY yr""".stripMargin,
    // journey strings assembled per user (first 20 events, rn-ordered),
    // then each pattern is one RE2-subset regex replayed verbatim;
    // sums cast to BIGINT (DuckDB sum(int) is HUGEINT)
    "evt_seq_match" ->
      """WITH e AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn FROM events),
        |j AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM e WHERE rn <= 20 GROUP BY user_id),
        |m AS (SELECT count(*) AS n_journeys,
        |  CAST(sum(CASE WHEN regexp_matches(path, 'view>purchase')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS direct_convert,
        |  CAST(sum(CASE WHEN regexp_matches(path, 'error>([a-z]+>)*purchase')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS error_recovery,
        |  CAST(sum(CASE WHEN regexp_matches(path, '^signup')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS signup_first,
        |  CAST(sum(CASE WHEN regexp_matches(path, '^(view>)*view$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS pure_browse FROM j)
        |SELECT pattern, n_users, n_journeys,
        |  CAST(floor(CAST(n_users AS DOUBLE) / n_journeys * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS share
        |FROM (
        |  SELECT 'direct_convert' AS pattern, direct_convert AS n_users,
        |    n_journeys FROM m
        |  UNION ALL SELECT 'error_recovery', error_recovery, n_journeys FROM m
        |  UNION ALL SELECT 'signup_first', signup_first, n_journeys FROM m
        |  UNION ALL SELECT 'pure_browse', pure_browse, n_journeys FROM m)
        |ORDER BY pattern""".stripMargin,
    // tie-averaged ranks from the value-domain distribution (never a
    // fact sort); Pearson corr of ranks = Spearman rho, 4dp both sides
    "dq_spearman" ->
      """WITH q AS (SELECT l_quantity AS v, count(*) AS cnt FROM lineitem GROUP BY 1),
        |qr AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  - (CAST(cnt AS DOUBLE) - 1e0) / 2e0 AS r FROM q),
        |d AS (SELECT l_discount AS v, count(*) AS cnt FROM lineitem GROUP BY 1),
        |dr AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  - (CAST(cnt AS DOUBLE) - 1e0) / 2e0 AS r FROM d),
        |x AS (SELECT l_tax AS v, count(*) AS cnt FROM lineitem GROUP BY 1),
        |xr AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  - (CAST(cnt AS DOUBLE) - 1e0) / 2e0 AS r FROM x),
        |f AS (SELECT qr.r AS rq, dr.r AS rd, xr.r AS rt FROM lineitem l
        |  JOIN qr ON l.l_quantity = qr.v
        |  JOIN dr ON l.l_discount = dr.v
        |  JOIN xr ON l.l_tax = xr.v)
        |SELECT count(*) AS n,
        |  round(corr(rq, rd), 4) + 0e0 AS rho_qty_disc,
        |  round(corr(rq, rt), 4) + 0e0 AS rho_qty_tax,
        |  round(corr(rd, rt), 4) + 0e0 AS rho_disc_tax FROM f""".stripMargin,
    // triangles CTE = graph_triangles verbatim; cc portable-rounded
    // BEFORE the top-N ordering on both engines
    "graph_cluster_coeff" ->
      """WITH l AS (SELECT l_orderkey AS ok, l_partkey AS p FROM lineitem WHERE l_partkey % 5 = 0),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM l a JOIN l b ON a.ok = b.ok AND a.p < b.p),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tc AS (SELECT node, count(*) AS n_tri
        |  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node),
        |dg AS (SELECT x AS node, count(*) AS deg
        |  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x),
        |cc AS (SELECT dg.node, dg.deg,
        |    CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_tri,
        |    CAST(floor(2e0 * COALESCE(tc.n_tri, 0)
        |      / (dg.deg * (dg.deg - 1e0)) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |      / 10000.0e0 AS cc
        |  FROM dg LEFT JOIN tc ON dg.node = tc.node WHERE dg.deg >= 2)
        |SELECT node, deg, n_tri, cc FROM cc
        |ORDER BY cc DESC, node LIMIT 20""".stripMargin,
    // LOO target encoding: integer-valued target → exact category sums
    // → the per-row encoded value is deterministic IEEE on both engines
    "feat_target_encode" ->
      """WITH st AS (SELECT l_returnflag AS cat, count(*) AS cnt,
        |    sum(l_quantity) AS s FROM lineitem GROUP BY 1),
        |g AS (SELECT sum(l_quantity) / CAST(count(*) AS DOUBLE) AS mu
        |  FROM lineitem),
        |sm AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_returnflag AS cat, l_quantity FROM lineitem
        |  WHERE l_orderkey % 1000 = 0)
        |SELECT sm.l_orderkey, sm.l_linenumber, sm.cat, sm.l_quantity,
        |  CAST(floor(((s - l_quantity) + 50e0 * mu)
        |    / ((CAST(cnt AS DOUBLE) - 1e0) + 50e0) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS te_loo
        |FROM sm JOIN st ON sm.cat = st.cat CROSS JOIN g
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // JSD contributions from exact integer token counts; ln on both
    // engines, basis-point scaling portable-rounded BEFORE the top-N
    "text_jsd_drift" ->
      s"""WITH d AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS side,
        |    text FROM documents),
        |tk AS (SELECT side, unnest($toksSql) AS token FROM d),
        |c AS (SELECT token,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        |  FROM tk GROUP BY token),
        |t AS (SELECT CAST(sum(c_a) AS DOUBLE) AS ta,
        |    CAST(sum(c_b) AS DOUBLE) AS tb FROM c),
        |s AS (SELECT token, c_a, c_b, CAST(c_a AS DOUBLE) / ta AS p,
        |    CAST(c_b AS DOUBLE) / tb AS q FROM c CROSS JOIN t),
        |e AS (SELECT token, c_a, c_b,
        |    0.5e0 * (CASE WHEN p > 0e0
        |      THEN p * ln(p / ((p + q) / 2e0)) ELSE 0e0 END)
        |  + 0.5e0 * (CASE WHEN q > 0e0
        |      THEN q * ln(q / ((p + q) / 2e0)) ELSE 0e0 END) AS contrib
        |  FROM s)
        |SELECT token, c_a, c_b,
        |  CAST(floor(contrib * 10000.0e0 * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
        |    AS contrib_bp
        |FROM e ORDER BY contrib_bp DESC, token LIMIT 10""".stripMargin,
    // F from group moments only; 4dp absorbs fold-order ulps
    "dq_anova" ->
      """WITH g AS (SELECT o_orderstatus, count(*) AS n_g,
        |    sum(o_totalprice) AS s_g,
        |    sum(o_totalprice * o_totalprice) AS ss_g
        |  FROM orders GROUP BY 1),
        |m AS (SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    sum(s_g) AS s, sum(ss_g) AS ssq,
        |    sum(s_g * s_g / CAST(n_g AS DOUBLE)) AS a FROM g)
        |SELECT k, n,
        |  round(((a - s * s / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1e0))
        |    / ((ssq - a) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 4)
        |    AS f_stat,
        |  round((a - s * s / CAST(n AS DOUBLE))
        |    / (ssq - s * s / CAST(n AS DOUBLE)), 6) AS eta_sq
        |FROM m""".stripMargin,
    // per-user deltas are the clustering unit; t NULL (never NaN)
    // when both groups are degenerate
    "evt_did" ->
      """WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi FROM events),
        |pu AS (SELECT user_id,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 >= lo + hi
        |      THEN 0e0 ELSE value END) AS x,
        |    sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2 >= lo + hi
        |      THEN value ELSE 0e0 END) AS y
        |  FROM events CROSS JOIN b GROUP BY 1),
        |pd AS (SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
        |      THEN 'ctl' ELSE 'trt' END AS g, y - x AS d FROM pu),
        |gm AS (SELECT g, count(*) AS n, sum(d) AS sd, sum(d * d) AS sdd
        |  FROM pd GROUP BY 1),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN g = 'ctl' THEN n ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN g = 'trt' THEN n ELSE 0 END) AS BIGINT) AS n_t,
        |    sum(CASE WHEN g = 'ctl' THEN sd ELSE 0e0 END) AS sd_c,
        |    sum(CASE WHEN g = 'trt' THEN sd ELSE 0e0 END) AS sd_t,
        |    sum(CASE WHEN g = 'ctl' THEN sdd ELSE 0e0 END) AS sdd_c,
        |    sum(CASE WHEN g = 'trt' THEN sdd ELSE 0e0 END) AS sdd_t FROM gm),
        |f AS (SELECT n_c, n_t,
        |    sd_t / CAST(n_t AS DOUBLE) - sd_c / CAST(n_c AS DOUBLE) AS did_est,
        |    sqrt(((sdd_c - sd_c * sd_c / CAST(n_c AS DOUBLE))
        |        / (CAST(n_c AS DOUBLE) - 1e0)) / CAST(n_c AS DOUBLE)
        |      + ((sdd_t - sd_t * sd_t / CAST(n_t AS DOUBLE))
        |        / (CAST(n_t AS DOUBLE) - 1e0)) / CAST(n_t AS DOUBLE)) AS se
        |  FROM m)
        |SELECT n_c, n_t, round(did_est, 4) + 0e0 AS did, round(se, 4) AS se,
        |  CASE WHEN NOT isnan(se) AND se > 0e0
        |    THEN round(did_est / se, 4) + 0e0 END AS t_stat
        |FROM f""".stripMargin,
    // "first purchase at-or-after first view" is a filter + min, not
    // an as-of scan; exact interpolated percentiles (q13 convention)
    "evt_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |fv AS (SELECT user_id, min(us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |cv AS (SELECT e.user_id, min(e.us) AS p_us, min(fv.v_us) AS v_us
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= fv.v_us GROUP BY 1),
        |d AS (SELECT CAST(hour(make_timestamp(v_us)) AS BIGINT) AS cohort_hour,
        |    p_us - v_us AS dur_us,
        |    CAST(p_us - v_us AS DOUBLE) / 60e6 AS dur_min FROM cv)
        |SELECT cohort_hour, count(*) AS n_conv,
        |  CAST(floor(quantile_cont(dur_min, 0.5e0) * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS med_min,
        |  CAST(floor(quantile_cont(dur_min, 0.9e0) * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS p90_min,
        |  CAST(floor(avg(dur_us) / 60e6 * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS avg_min
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // integer-valued measure → exact moments; the draw is the
    // engine-replayable md5-fraction threshold
    "sample_neyman" ->
      """WITH st AS (SELECT lang, count(*) AS n_docs,
        |    stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
        |  FROM documents GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |    sum(CAST(n_docs AS DOUBLE) * sd) AS wsum FROM st),
        |al AS (SELECT lang, n_docs, sd,
        |    CAST(floor(floor(CAST(n_total AS DOUBLE) / 5e0)
        |      * (CAST(n_docs AS DOUBLE) * sd) / wsum + 0.5e0) AS BIGINT) AS alloc
        |  FROM st CROSS JOIN tt),
        |ar AS (SELECT lang, n_docs, sd, alloc,
        |    least(1e0, CAST(alloc AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS rate
        |  FROM al),
        |sm AS (SELECT d.lang, count(*) AS n_sampled
        |  FROM documents d JOIN ar ON d.lang = ar.lang
        |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    / 4294967296e0 < ar.rate
        |  GROUP BY 1)
        |SELECT ar.lang, ar.n_docs, round(ar.sd, 2) AS sd_chars, ar.alloc,
        |  COALESCE(sm.n_sampled, 0) AS n_sampled
        |FROM ar LEFT JOIN sm ON ar.lang = sm.lang ORDER BY ar.lang""".stripMargin,
    // drained CEP state ≡ chained min-aggregates (order-free set logic)
    "stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.us) AS c_us FROM e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.us >= v.v_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.us) AS p_us FROM e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= c.c_us GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |  (SELECT count(*) FROM c) AS n_click_after_view,
        |  (SELECT count(*) FROM p) AS n_purchase_after_click""".stripMargin,
    // exact integer counts → deterministic WoE ratios; iv in basis
    // points, both portable-rounded
    "feat_woe" ->
      """WITH j AS (SELECT c.c_mktsegment, (o.o_orderstatus = 'F') AS pos
        |    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |st AS (SELECT c_mktsegment, count(*) AS n,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM j GROUP BY 1),
        |s2 AS (SELECT c_mktsegment, n, n_pos, n - n_pos AS n_neg FROM st),
        |tt AS (SELECT CAST(sum(n_pos) AS DOUBLE) AS tp,
        |    CAST(sum(n_neg) AS DOUBLE) AS tn FROM s2)
        |SELECT c_mktsegment AS segment, n, n_pos, n_neg,
        |  CAST(floor(ln((CAST(n_pos AS DOUBLE) / tp)
        |    / (CAST(n_neg AS DOUBLE) / tn)) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS woe,
        |  CAST(floor(((CAST(n_pos AS DOUBLE) / tp)
        |      - (CAST(n_neg AS DOUBLE) / tn))
        |    * ln((CAST(n_pos AS DOUBLE) / tp) / (CAST(n_neg AS DOUBLE) / tn))
        |    * 10000.0e0 * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS iv_bp
        |FROM s2 CROSS JOIN tt ORDER BY segment""".stripMargin,
    // user-local features: the sample prunes at the scan; lag window
    // then one fold, 30-min session boundary in integer µs
    "feat_user_profile" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events
        |  WHERE user_id % 10 = 0),
        |g AS (SELECT user_id, us, value,
        |    us - lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS gap FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(floor(CAST(max(us) - min(us) AS DOUBLE) / 86400e6 * 10000.0e0
        |    + 0.5e0) AS DOUBLE) / 10000.0e0 AS tenure_days,
        |  CAST(floor(avg(CASE WHEN gap IS NOT NULL THEN gap END) / 60e6
        |    * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS avg_gap_min,
        |  round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // DATE-cast day arithmetic so both engines count identical days
    "rel_priority_sla" ->
      """WITH j AS (SELECT o.o_orderpriority AS priority,
        |    date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS lag_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |s AS (SELECT priority, CAST(lag_days AS BIGINT) AS lag_days,
        |    lag_days > (CASE priority WHEN '1-URGENT' THEN 7
        |      WHEN '2-HIGH' THEN 14 WHEN '3-MEDIUM' THEN 30
        |      WHEN '4-NOT SPECIFIED' THEN 60 ELSE 90 END) AS late
        |  FROM j)
        |SELECT priority, count(*) AS n_items,
        |  CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(floor(avg(CAST(lag_days AS DOUBLE)) * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS avg_lag_days,
        |  CAST(floor(CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS late_rate
        |FROM s GROUP BY priority ORDER BY priority""".stripMargin,
    "dq_temporal" ->
      """WITH j AS (SELECT year(o.o_orderdate) AS order_year,
        |    date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS lag_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT CAST(order_year AS BIGINT) AS order_year, count(*) AS n_items,
        |  CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations,
        |  CAST(min(lag_days) AS BIGINT) AS min_lag_days,
        |  CAST(max(lag_days) AS BIGINT) AS max_lag_days,
        |  CAST(floor(CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0
        |    AS violation_rate
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // RAKE: every quantity an integer count, scores deterministic
    // rationals; regexp_replace needs the 'g' flag in DuckDB
    "text_keyphrase" ->
      """WITH ph0 AS (SELECT unnest(string_split(regexp_replace(lower(text),
        |    '\b(the|a|and|of|to|in|is|that|on|for|with|as|by|an|be|or|it)\b',
        |    '|', 'g'), '|')) AS p0 FROM documents),
        |ph AS (SELECT trim(regexp_replace(p0, '\s+', ' ', 'g')) AS phrase
        |  FROM ph0),
        |phv AS (SELECT phrase, string_split(phrase, ' ') AS words FROM ph
        |  WHERE phrase <> ''),
        |phx AS (SELECT phrase, words FROM phv WHERE len(words) <= 4),
        |pw AS (SELECT phrase, len(words) AS plen, unnest(words) AS word
        |  FROM phx),
        |ws AS (SELECT word, count(*) AS freq,
        |    CAST(sum(plen) AS BIGINT) AS deg FROM pw GROUP BY 1),
        |pc AS (SELECT phrase, count(*) AS n_occurrences FROM phx GROUP BY 1),
        |dw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS word
        |  FROM pc),
        |ps AS (SELECT dw.phrase,
        |    sum(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)) AS score
        |  FROM dw JOIN ws ON dw.word = ws.word GROUP BY 1)
        |SELECT pc.phrase, pc.n_occurrences,
        |  CAST(floor(score * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS score
        |FROM pc JOIN ps ON pc.phrase = ps.phrase
        |ORDER BY score DESC, pc.phrase LIMIT 15""".stripMargin,
    // row-local (ln n, ln v) points, one closed-form OLS moment agg
    "text_heaps" ->
      s"""WITH p AS (SELECT CAST(len($toksSql) AS BIGINT) AS n,
        |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS v FROM documents),
        |x AS (SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
        |  FROM p WHERE n >= 2),
        |m AS (SELECT count(*) AS n_docs, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, corr(x, y) AS r FROM x)
        |SELECT n_docs,
        |  round((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n_docs AS DOUBLE) * sxx - sx * sx), 4) AS beta,
        |  round(exp((sy - ((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n_docs AS DOUBLE) * sxx - sx * sx)) * sx)
        |    / CAST(n_docs AS DOUBLE)), 4) AS k,
        |  round(r * r, 4) AS r2
        |FROM m""".stripMargin,
    "mm_phash" -> phashSql,
    "mm_near_dup" -> mmNearDupSql,
    "dedup_simhash" -> simhashSql,
    // dedup_simhash_scale (contract-verdict since r13): the 64-bit
    // xxhash64 production face can't bit-replay in DuckDB, but its
    // banding contract can — pigeonhole recall on planted hamming<=3
    // twins and signature-re-verified precision gate as integer
    // verdicts; n_planted pins the twin planting from the documents
    // table. Bit-level signature coverage stays with dedup_simhash's
    // portable 32-bit twin (every bit DuckDB-replayed).
    "dedup_simhash_scale" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS precision_ok
        |FROM documents WHERE doc_id % 50 = 0""".stripMargin,
    "text_fingerprint" -> winnowSql(5, 4),
    // revenue rounds 2dp BEFORE the share; windows over the nation domain
    "q36_share" ->
      """WITH bn AS (SELECT c.c_nationkey, round(sum(o.o_totalprice), 2)
        |    AS revenue, count(*) AS n_orders
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1),
        |d AS (SELECT n.n_nationkey, n.n_name, r.r_name FROM nation n
        |  JOIN region r ON n.n_regionkey = r.r_regionkey),
        |x AS (SELECT d.r_name AS region, d.n_name AS nation, bn.n_orders,
        |    bn.revenue,
        |    CAST(floor(bn.revenue / sum(bn.revenue)
        |      OVER (PARTITION BY d.r_name) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |      / 10000.0e0 AS share,
        |    CAST(row_number() OVER (PARTITION BY d.r_name
        |      ORDER BY bn.revenue DESC, d.n_name) AS BIGINT) AS rank_in_region
        |  FROM bn JOIN d ON bn.c_nationkey = d.n_nationkey)
        |SELECT region, nation, n_orders, revenue, share, rank_in_region
        |FROM x ORDER BY region, rank_in_region""".stripMargin,
    // null-safe comparison = IS DISTINCT FROM; presence via markers
    "dq_reconcile" ->
      """WITH l AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_extendedprice, 1 AS lp FROM lineitem),
        |r AS (SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 97 = 0 THEN l_quantity + 1e0
        |      ELSE l_quantity END AS l_quantity,
        |    l_extendedprice, 1 AS rp FROM lineitem
        |  WHERE l_orderkey % 101 <> 0),
        |j AS (SELECT l.lp, r.rp,
        |    l.l_quantity AS lq, r.l_quantity AS rq,
        |    l.l_extendedprice AS le, r.l_extendedprice AS re
        |  FROM l FULL JOIN r ON l.l_orderkey = r.l_orderkey
        |    AND l.l_linenumber = r.l_linenumber)
        |SELECT
        |  CAST(sum(CASE WHEN lp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_left,
        |  CAST(sum(CASE WHEN rp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_right,
        |  CAST(sum(CASE WHEN lp IS NOT NULL AND rp IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_only_left,
        |  CAST(sum(CASE WHEN lp IS NULL AND rp IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_only_right,
        |  CAST(sum(CASE WHEN lp IS NOT NULL AND rp IS NOT NULL
        |    AND (lq IS DISTINCT FROM rq OR le IS DISTINCT FROM re)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN lp IS NOT NULL AND rp IS NOT NULL
        |    AND NOT (lq IS DISTINCT FROM rq OR le IS DISTINCT FROM re)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_same
        |FROM j""".stripMargin,
    // day-level µs-midpoint split; counterfactual = pre-period dow
    // means; ±2σ band from pooled pre residual variance
    "evt_causal_impact" ->
      """WITH b AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS lo,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS hi FROM events),
        |d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |dd AS (SELECT day, n,
        |    epoch_us(CAST(day AS TIMESTAMP)) * 2 >= lo + hi AS post,
        |    dayofweek(day) AS dow FROM d CROSS JOIN b),
        |pre AS (SELECT dow, count(*) AS cnt, CAST(sum(n) AS BIGINT) AS s,
        |    sum(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS ss
        |  FROM dd WHERE NOT post GROUP BY 1),
        |pool AS (SELECT sum(ss - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(cnt AS DOUBLE))
        |    / sum(CAST(cnt AS DOUBLE) - 1e0) AS var_pool FROM pre)
        |SELECT strftime(dd.day, '%Y-%m-%d') AS day,
        |  CAST(dd.dow AS BIGINT) AS dow, dd.n,
        |  CAST(floor(CAST(pre.s AS DOUBLE) / CAST(pre.cnt AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS forecast,
        |  CAST(floor((CAST(dd.n AS DOUBLE)
        |    - CAST(pre.s AS DOUBLE) / CAST(pre.cnt AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS lift,
        |  abs(CAST(dd.n AS DOUBLE)
        |    - CAST(pre.s AS DOUBLE) / CAST(pre.cnt AS DOUBLE))
        |    > 2e0 * sqrt(var_pool) AS significant
        |FROM dd JOIN pre ON dd.dow = pre.dow CROSS JOIN pool
        |WHERE dd.post ORDER BY day""".stripMargin,
    // bounded frequent-item pair domain: never-co-bought pairs surface
    // with lift 0 — a pure co-occurrence fold cannot see them
    "rel_substitutes" ->
      """WITH bk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 5 = 0),
        |no AS (SELECT count(DISTINCT ok) AS n_orders FROM bk),
        |fr AS (SELECT p, count(*) AS n FROM bk GROUP BY 1
        |  ORDER BY n DESC, p LIMIT 50),
        |pd AS (SELECT a.p AS pa, a.n AS n_a, b.p AS pb, b.n AS n_b
        |  FROM fr a CROSS JOIN fr b WHERE a.p < b.p),
        |jt AS (SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
        |  FROM bk a JOIN fr fa ON a.p = fa.p
        |  JOIN bk b ON a.ok = b.ok AND a.p < b.p
        |  JOIN fr fb ON b.p = fb.p
        |  GROUP BY 1, 2)
        |SELECT pd.pa, pd.pb, pd.n_a, pd.n_b,
        |  CAST(COALESCE(jt.n_ab, 0) AS BIGINT) AS n_ab,
        |  CAST(floor(CAST(COALESCE(jt.n_ab, 0) AS DOUBLE)
        |    * (SELECT CAST(n_orders AS DOUBLE) FROM no)
        |    / (CAST(pd.n_a AS DOUBLE) * CAST(pd.n_b AS DOUBLE))
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS lift
        |FROM pd LEFT JOIN jt ON pd.pa = jt.pa AND pd.pb = jt.pb
        |ORDER BY lift, pd.pa, pd.pb LIMIT 15""".stripMargin,
    "graph_modularity" -> modularitySql(5),
    // the waterfall identity (Δq·p0 + Δp·q1 = r1−r0) proves itself;
    // quantities are exact integer sums
    "rel_price_volume_mix" ->
      """WITH f AS (SELECT l.l_partkey, l.l_quantity, l.l_extendedprice,
        |    year(o.o_orderdate) AS yr
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE year(o.o_orderdate) IN (1996, 1997)),
        |g AS (SELECT p.p_brand AS brand,
        |    CAST(sum(CASE WHEN yr = 1996
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q0,
        |    CAST(sum(CASE WHEN yr = 1997
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
        |    CAST(sum(CASE WHEN yr = 1996 THEN CAST(floor(l_extendedprice
        |      * 100e0 + 0.5e0) AS BIGINT) ELSE 0 END) AS BIGINT) AS r0c,
        |    CAST(sum(CASE WHEN yr = 1997 THEN CAST(floor(l_extendedprice
        |      * 100e0 + 0.5e0) AS BIGINT) ELSE 0 END) AS BIGINT) AS r1c
        |  FROM f JOIN part p ON f.l_partkey = p.p_partkey GROUP BY 1)
        |SELECT brand, q0 AS qty0, q1 AS qty1,
        |  CAST(r0c AS DOUBLE) / 100e0 AS rev0,
        |  CAST(r1c AS DOUBLE) / 100e0 AS rev1,
        |  CAST(floor((CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
        |      * (CAST(r0c AS DOUBLE) / CAST(q0 AS DOUBLE)) / 100e0
        |    * 100e0 + 0.5e0) AS DOUBLE) / 100e0 AS volume_effect,
        |  CAST(floor((CAST(r1c AS DOUBLE) / CAST(q1 AS DOUBLE)
        |      - CAST(r0c AS DOUBLE) / CAST(q0 AS DOUBLE))
        |      * CAST(q1 AS DOUBLE) / 100e0
        |    * 100e0 + 0.5e0) AS DOUBLE) / 100e0 AS price_effect,
        |  CAST(r1c - r0c AS DOUBLE) / 100e0 AS total_change
        |FROM g WHERE q0 > 0 AND q1 > 0 ORDER BY brand""".stripMargin,
    // Poisson(1) weights from the md5 bridge; identical CDF literals
    // parse to identical doubles on both engines
    "sample_bootstrap_ci" ->
      """WITH reps AS (SELECT o_orderkey AS k, o_totalprice AS x,
        |    unnest(generate_series(0, 199)) AS r FROM orders),
        |u AS (SELECT r, x,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
        |      || CAST(k AS VARCHAR)), 1, 8))::BIGINT / 4294967296e0 AS u
        |  FROM reps),
        |w AS (SELECT r, x,
        |    CASE WHEN u < 0.36787944117144233e0 THEN 0e0
        |      WHEN u < 0.7357588823428847e0 THEN 1e0
        |      WHEN u < 0.9196986029286058e0 THEN 2e0
        |      WHEN u < 0.9810118431238462e0 THEN 3e0 ELSE 4e0 END AS w
        |  FROM u),
        |mb AS (SELECT r,
        |    CAST(sum(CAST(w AS BIGINT)
        |        * CAST(floor(x * 100e0 + 0.5e0) AS BIGINT)) AS DOUBLE)
        |      / CAST(sum(CAST(w AS BIGINT)) AS DOUBLE) / 100e0 AS mb
        |  FROM w GROUP BY r),
        |pt AS (SELECT CAST(floor(CAST(sum(CAST(floor(o_totalprice * 100e0
        |        + 0.5e0) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |      / 100e0 * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS mean_est
        |  FROM orders)
        |SELECT count(*) AS n_replicas,
        |  CAST(floor(quantile_cont(mb, 0.025e0) * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS ci_lo,
        |  CAST(floor(quantile_cont(mb, 0.975e0) * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS ci_hi,
        |  round(avg(mb), 4) AS boot_mean, pt.mean_est
        |FROM mb CROSS JOIN pt GROUP BY pt.mean_est""".stripMargin,
    "sim_trunc_recall" -> truncRecallSql(Seq(16, 32, 64), 5),
    // grouped OLS from moment folds; integer month index keeps the
    // denominator cancellation exact
    "rel_trend_by_group" ->
      """WITH f AS (SELECT l.l_partkey, l.l_extendedprice,
        |    CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
        |      AS m
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (SELECT p.p_brand AS brand, f.m,
        |    CAST(sum(CAST(floor(f.l_extendedprice * 100e0 + 0.5e0)
        |      AS BIGINT)) AS BIGINT) AS revc
        |  FROM f JOIN part p ON f.l_partkey = p.p_partkey GROUP BY 1, 2),
        |mo AS (SELECT brand, count(*) AS n_months,
        |    CAST(sum(m) AS BIGINT) AS sx, CAST(sum(revc) AS BIGINT) AS sy,
        |    CAST(sum(m * m) AS BIGINT) AS sxx,
        |    CAST(sum(m * revc) AS BIGINT) AS sxy
        |  FROM g GROUP BY 1)
        |SELECT brand, n_months,
        |  CAST(floor((CAST(n_months AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n_months AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100e0
        |    * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS slope,
        |  CAST(floor(CAST(sy AS DOUBLE) / CAST(n_months AS DOUBLE) / 100e0
        |    * 100e0 + 0.5e0) AS DOUBLE) / 100e0 AS avg_monthly_rev
        |FROM mo ORDER BY slope DESC, brand LIMIT 10""".stripMargin,
    // md5-bridge fold assignment; balance vs the expected n/k
    "feat_kfold" ->
      """WITH f AS (SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
        |    1, 8))::BIGINT % 5 AS fold, o_totalprice FROM orders),
        |g AS (SELECT fold, count(*) AS n_orders,
        |    CAST(floor(CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0)
        |          AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |        * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS mean_value
        |  FROM f GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_orders) AS DOUBLE) AS n_total FROM g)
        |SELECT fold, n_orders, mean_value,
        |  CAST(floor(CAST(n_orders AS DOUBLE) / (n_total / 5e0) * 10000.0e0
        |    + 0.5e0) AS DOUBLE) / 10000.0e0 AS balance_ratio
        |FROM g CROSS JOIN tt ORDER BY fold""".stripMargin,
    // lossless-migration assertion: every count equals the source's
    "maint_migrate_format" ->
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_src,
        |count(*) AS n_migrated, count(*) AS n_matching FROM nation""".stripMargin,
    // next non-error via a FOLLOWING-frame window min; unrecovered
    // errors stay NULL and the aggregates skip them
    "evt_mttr" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |n AS (SELECT event_type, us,
        |    min(CASE WHEN event_type <> 'error' THEN us END) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS rec_us
        |  FROM e),
        |r AS (SELECT rec_us - us AS rec_gap_us,
        |    CAST(rec_us - us AS DOUBLE) / 60e6 AS rec_min
        |  FROM n WHERE event_type = 'error')
        |SELECT count(*) AS n_errors,
        |  CAST(sum(CASE WHEN rec_min IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_recovered,
        |  CAST(floor(avg(rec_gap_us) / 60e6 * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS avg_recovery_min,
        |  CAST(floor(quantile_cont(rec_min, 0.5e0) * 10000e0 + 0.5e0)
        |    AS DOUBLE) / 10000e0 AS p50_recovery_min
        |FROM r""".stripMargin,
    // group-aware md5 folds; OOF stats = totals minus own fold
    "feat_target_encode_oof" ->
      """WITH b AS (SELECT l_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_returnflag AS cat, l_quantity,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
        |      % 5 AS fold
        |  FROM lineitem),
        |bf AS (SELECT cat, fold, count(*) AS cnt_f, sum(l_quantity) AS s_f
        |  FROM b GROUP BY 1, 2),
        |tt AS (SELECT cat, CAST(sum(cnt_f) AS BIGINT) AS cnt_t,
        |    sum(s_f) AS s_t FROM bf GROUP BY 1),
        |g AS (SELECT sum(l_quantity) / CAST(count(*) AS DOUBLE) AS mu
        |  FROM lineitem)
        |SELECT b.l_orderkey, b.l_linenumber, b.cat, b.fold,
        |  CAST(floor(((s_t - s_f) + 50e0 * mu)
        |    / (CAST(cnt_t - cnt_f AS DOUBLE) + 50e0) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS te_oof
        |FROM b JOIN bf ON b.cat = bf.cat AND b.fold = bf.fold
        |JOIN tt ON b.cat = tt.cat CROSS JOIN g
        |WHERE b.l_orderkey % 1000 = 0
        |ORDER BY b.l_orderkey, b.l_linenumber""".stripMargin,
    // cumulative share evaluated in fixed frame order, rounded BEFORE
    // the class compare (round-before-argmax rule); CV likewise
    "rel_abc_xyz" ->
      """WITH f AS (SELECT l.l_partkey, l.l_quantity,
        |    CAST(floor(l.l_extendedprice * 100e0 + 0.5e0) AS BIGINT) AS cents,
        |    year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |mo AS (SELECT l_partkey, m, sum(l_quantity) AS q,
        |    CAST(sum(cents) AS BIGINT) AS rc FROM f GROUP BY 1, 2),
        |bp AS (SELECT l_partkey, CAST(sum(rc) AS BIGINT) AS rev_c,
        |    stddev_samp(q) / avg(q) AS cv FROM mo GROUP BY 1),
        |cl AS (SELECT l_partkey, rev_c,
        |    CAST(floor(CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(sum(rev_c) OVER () AS DOUBLE) * 10000.0e0 + 0.5e0)
        |      AS DOUBLE) / 10000.0e0 AS cum_share,
        |    CAST(floor(cv * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS cv_r
        |  FROM bp),
        |cc AS (SELECT rev_c,
        |    CASE WHEN cum_share <= 0.8e0 THEN 'A'
        |      WHEN cum_share <= 0.95e0 THEN 'B' ELSE 'C' END AS abc_class,
        |    CASE WHEN cv_r IS NULL THEN 'Z' WHEN cv_r <= 0.5e0 THEN 'X'
        |      WHEN cv_r <= 1.0e0 THEN 'Y' ELSE 'Z' END AS xyz_class
        |  FROM cl)
        |SELECT abc_class, xyz_class, count(*) AS n_parts,
        |  CAST(CAST(sum(rev_c) AS BIGINT) AS DOUBLE) / 100e0 AS revenue
        |FROM cc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // one fit aggregate broadcast into a row-local transform
    "feat_scaler" ->
      """WITH fit AS (SELECT avg(l_quantity) AS mu_q,
        |    stddev_samp(l_quantity) AS sd_q,
        |    avg(l_extendedprice) AS mu_p,
        |    stddev_samp(l_extendedprice) AS sd_p,
        |    min(l_discount) AS lo_d, max(l_discount) AS hi_d FROM lineitem)
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(floor((l_quantity - mu_q) / sd_q * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS z_qty,
        |  CAST(floor((l_extendedprice - mu_p) / sd_p * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS z_price,
        |  CAST(floor((l_discount - lo_d) / (hi_d - lo_d) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS mm_disc
        |FROM lineitem CROSS JOIN fit WHERE l_orderkey % 1000 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // XOR of 60-bit md5 row hashes: order/partition independent;
    // ints + strings only (double rendering differs between engines)
    "dq_table_hash" ->
      """SELECT 'nation' AS table_name, count(*) AS n_rows,
        |  bit_xor(('0x' || substr(md5(CAST(n_nationkey AS VARCHAR)
        |    || '|' || n_name), 1, 15))::BIGINT) AS fingerprint FROM nation
        |UNION ALL
        |SELECT 'region', count(*),
        |  bit_xor(('0x' || substr(md5(CAST(r_regionkey AS VARCHAR)
        |    || '|' || r_name), 1, 15))::BIGINT) FROM region
        |UNION ALL
        |SELECT 'supplier', count(*),
        |  bit_xor(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)
        |    || '|' || s_name || '|' || CAST(s_nationkey AS VARCHAR)),
        |    1, 15))::BIGINT) FROM supplier
        |ORDER BY table_name""".stripMargin,
    // the norm derives from list_inner_product exactly like the
    // native DotProduct; NaN probes ride the self-dot
    "sim_embedding_health" ->
      """WITH v AS (SELECT CAST(len(embedding) AS BIGINT) AS dim,
        |    list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[])) AS n2 FROM embeddings),
        |w AS (SELECT dim, n2, CASE WHEN isnan(n2) THEN 1 ELSE 0 END AS nan,
        |    CASE WHEN NOT isnan(n2) THEN sqrt(n2) END AS norm FROM v)
        |SELECT count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_wrong_dim,
        |  CAST(sum(nan) AS BIGINT) AS n_with_nan,
        |  CAST(sum(CASE WHEN n2 < 1e-12 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_norm,
        |  round(min(norm), 4) AS min_norm, round(avg(norm), 4) AS avg_norm,
        |  round(max(norm), 4) AS max_norm
        |FROM w""".stripMargin,
    "evt_dow_hour_heatmap" ->
      """WITH e AS (SELECT dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
        |    hour(CAST(ts AS TIMESTAMP)) AS hour FROM events),
        |g AS (SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
        |    count(*) AS n FROM e GROUP BY 1, 2)
        |SELECT dow, hour, n,
        |  CAST(floor(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS share
        |FROM g ORDER BY dow, hour""".stripMargin,
    "rel_basket_size" ->
      """WITH ln AS (SELECT l_orderkey AS o_orderkey, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT n_lines, count(*) AS n_orders,
        |  CAST(floor(CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0)
        |      AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |    * 100e0 + 0.5e0) AS DOUBLE) / 100e0 AS avg_order_value
        |FROM orders JOIN ln USING (o_orderkey)
        |GROUP BY n_lines ORDER BY n_lines""".stripMargin,
    // one fold computes every metric; revenue rounds 2dp BEFORE the
    // top-N; n_parts cast (DuckDB count(DISTINCT) is BIGINT, Spark too)
    "rel_supplier_scorecard" ->
      """WITH f AS (SELECT l.l_suppkey, l.l_partkey, l.l_extendedprice,
        |    l.l_discount,
        |    date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(l.l_shipdate AS DATE)) AS lag
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |g AS (SELECT l_suppkey AS s_suppkey,
        |    round(sum(l_extendedprice), 2) AS revenue,
        |    count(*) AS n_lines,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |    CAST(floor(CAST(sum(CAST(floor(l_discount * 100e0 + 0.5e0)
        |          AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |        * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS avg_discount,
        |    CAST(floor(sum(CASE WHEN lag > 30 THEN 1e0 ELSE 0e0 END)
        |      / count(*) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS late_rate
        |  FROM f GROUP BY 1)
        |SELECT g.s_suppkey, s.s_name, g.revenue, g.n_lines, g.n_parts,
        |  g.avg_discount, g.late_rate
        |FROM g JOIN supplier s ON g.s_suppkey = s.s_suppkey
        |ORDER BY g.revenue DESC, g.s_suppkey LIMIT 15""".stripMargin,
    "evt_value_bands" ->
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.1e0), 4) AS p10,
        |  round(quantile_cont(value, 0.5e0), 4) AS p50,
        |  round(quantile_cont(value, 0.9e0), 4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // rank-sum AUC with tie-averaged ranks from the score domain
    "feat_auc" ->
      """WITH lb AS (SELECT n_chars, lang FROM documents
        |  WHERE lang IS NOT NULL),
        |d AS (SELECT n_chars AS s, count(*) AS cnt FROM lb
        |  GROUP BY 1),
        |rk AS (SELECT s, CAST(sum(cnt) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  - (CAST(cnt AS DOUBLE) - 1e0) / 2e0 AS r FROM d),
        |j AS (SELECT (doc.lang = 'en') AS pos, rk.r FROM lb doc
        |  JOIN rk ON doc.n_chars = rk.s),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
        |    sum(CASE WHEN pos THEN r ELSE 0e0 END) AS rp FROM j)
        |SELECT n_pos, n_neg,
        |  round((rp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1e0)
        |      / 2e0)
        |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc,
        |  round(2e0 * ((rp - CAST(n_pos AS DOUBLE)
        |      * (CAST(n_pos AS DOUBLE) + 1e0) / 2e0)
        |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) - 1e0, 6)
        |    AS gini
        |FROM m""".stripMargin,
    // `asof` is a reserved word in DuckDB 1.0 (ASOF JOIN) — as_of
    "rel_order_aging" ->
      """WITH a AS (SELECT max(CAST(o_orderdate AS DATE)) AS as_of FROM orders),
        |b AS (SELECT CASE
        |    WHEN date_diff('day', CAST(o_orderdate AS DATE), as_of) <= 30
        |      THEN '0_00_30'
        |    WHEN date_diff('day', CAST(o_orderdate AS DATE), as_of) <= 60
        |      THEN '1_31_60'
        |    WHEN date_diff('day', CAST(o_orderdate AS DATE), as_of) <= 90
        |      THEN '2_61_90'
        |    ELSE '3_90_plus' END AS age_bucket, o_totalprice
        |  FROM orders CROSS JOIN a WHERE o_orderstatus = 'O')
        |SELECT age_bucket, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS value_at_risk
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // the whole feature flow replayed as ONE statement: LOO stats,
    // scaler fit, md5 fold — every step's oracle fragment composed
    "pipeline_features" ->
      """WITH st AS (SELECT l_returnflag AS cat, count(*) AS cnt,
        |    sum(l_quantity) AS s FROM lineitem GROUP BY 1),
        |g AS (SELECT sum(l_quantity) / CAST(count(*) AS DOUBLE) AS mu
        |  FROM lineitem),
        |fit AS (SELECT avg(l_quantity) AS mu_q,
        |    stddev_samp(l_quantity) AS sd_q,
        |    avg(l_extendedprice) AS mu_p,
        |    stddev_samp(l_extendedprice) AS sd_p,
        |    min(l_discount) AS lo_d, max(l_discount) AS hi_d FROM lineitem),
        |sm AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT)
        |      AS l_linenumber, l_returnflag AS cat, l_quantity,
        |    l_extendedprice, l_discount FROM lineitem
        |  WHERE l_orderkey % 1000 = 0)
        |SELECT sm.l_orderkey, sm.l_linenumber, sm.cat,
        |  CAST(floor(((s - l_quantity) + 50e0 * mu)
        |    / ((CAST(cnt AS DOUBLE) - 1e0) + 50e0) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS te_loo,
        |  CAST(floor((l_quantity - mu_q) / sd_q * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS z_qty,
        |  CAST(floor((l_extendedprice - mu_p) / sd_p * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS z_price,
        |  CAST(floor((l_discount - lo_d) / (hi_d - lo_d) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS mm_disc,
        |  ('0x' || substr(md5(CAST(sm.l_orderkey AS VARCHAR)), 1, 8))::BIGINT
        |    % 5 AS fold
        |FROM sm JOIN st ON sm.cat = st.cat CROSS JOIN g CROSS JOIN fit
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // decile edges are interpolated selections (q13 rule) → the bin
    // compare is deterministic on both engines
    "feat_supervised_bins" ->
      """WITH e AS (SELECT quantile_cont(o_totalprice,
        |    [0.1e0, 0.2e0, 0.3e0, 0.4e0, 0.5e0, 0.6e0, 0.7e0, 0.8e0, 0.9e0]) AS ed
        |  FROM orders),
        |b AS (SELECT 1 + (o_totalprice > ed[1])::BIGINT
        |    + (o_totalprice > ed[2])::BIGINT + (o_totalprice > ed[3])::BIGINT
        |    + (o_totalprice > ed[4])::BIGINT + (o_totalprice > ed[5])::BIGINT
        |    + (o_totalprice > ed[6])::BIGINT + (o_totalprice > ed[7])::BIGINT
        |    + (o_totalprice > ed[8])::BIGINT + (o_totalprice > ed[9])::BIGINT
        |      AS bin,
        |    (o_orderstatus = 'F') AS pos FROM orders CROSS JOIN e),
        |g AS (SELECT bin, count(*) AS n,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM b GROUP BY 1),
        |g2 AS (SELECT bin, n, n_pos, n - n_pos AS n_neg FROM g),
        |tt AS (SELECT CAST(sum(n_pos) AS DOUBLE) AS tp,
        |    CAST(sum(n_neg) AS DOUBLE) AS tn FROM g2)
        |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
        |  CAST(floor(CAST(n_pos AS DOUBLE) / n * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS event_rate,
        |  CAST(floor(ln((CAST(n_pos AS DOUBLE) / tp)
        |    / (CAST(n_neg AS DOUBLE) / tn)) * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS woe
        |FROM g2 CROSS JOIN tt ORDER BY bin""".stripMargin,
    "dq_rare_levels" ->
      """WITH c1 AS (SELECT c_mktsegment AS level, count(*) AS n
        |  FROM customer GROUP BY 1),
        |r1 AS (SELECT 'customer.c_mktsegment' AS column_name,
        |    count(*) AS n_levels,
        |    CAST(sum(CASE WHEN CAST(n AS DOUBLE) / (SELECT CAST(sum(n)
        |      AS DOUBLE) FROM c1) < 0.005e0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rare,
        |    CAST(floor(CAST(sum(CASE WHEN CAST(n AS DOUBLE)
        |        / (SELECT CAST(sum(n) AS DOUBLE) FROM c1) < 0.005e0
        |      THEN n ELSE 0 END) AS DOUBLE)
        |      / (SELECT CAST(sum(n) AS DOUBLE) FROM c1) * 10000.0e0 + 0.5e0)
        |      AS DOUBLE) / 10000.0e0 AS rare_share
        |  FROM c1),
        |c2 AS (SELECT o_orderpriority AS level, count(*) AS n
        |  FROM orders GROUP BY 1),
        |r2 AS (SELECT 'orders.o_orderpriority', count(*),
        |    CAST(sum(CASE WHEN CAST(n AS DOUBLE) / (SELECT CAST(sum(n)
        |      AS DOUBLE) FROM c2) < 0.005e0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(floor(CAST(sum(CASE WHEN CAST(n AS DOUBLE)
        |        / (SELECT CAST(sum(n) AS DOUBLE) FROM c2) < 0.005e0
        |      THEN n ELSE 0 END) AS DOUBLE)
        |      / (SELECT CAST(sum(n) AS DOUBLE) FROM c2) * 10000.0e0 + 0.5e0)
        |      AS DOUBLE) / 10000.0e0
        |  FROM c2),
        |c3 AS (SELECT p_brand AS level, count(*) AS n FROM part GROUP BY 1),
        |r3 AS (SELECT 'part.p_brand', count(*),
        |    CAST(sum(CASE WHEN CAST(n AS DOUBLE) / (SELECT CAST(sum(n)
        |      AS DOUBLE) FROM c3) < 0.005e0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(floor(CAST(sum(CASE WHEN CAST(n AS DOUBLE)
        |        / (SELECT CAST(sum(n) AS DOUBLE) FROM c3) < 0.005e0
        |      THEN n ELSE 0 END) AS DOUBLE)
        |      / (SELECT CAST(sum(n) AS DOUBLE) FROM c3) * 10000.0e0 + 0.5e0)
        |      AS DOUBLE) / 10000.0e0
        |  FROM c3)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
        |SELECT * FROM r3 ORDER BY column_name""".stripMargin,
    // prefix sum over the frequency-ranked domain in fixed order
    "text_vocab_coverage" ->
      s"""WITH tk AS (SELECT unnest($toksSql) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n FROM tk GROUP BY 1),
        |r AS (SELECT token, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
        |      AS rnk,
        |    CAST(sum(n) OVER (ORDER BY n DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum FROM c),
        |tt AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c)
        |SELECT rnk AS top_k, cum AS tokens_covered,
        |  CAST(floor(CAST(cum AS DOUBLE) / tot * 10000.0e0 + 0.5e0) AS DOUBLE)
        |    / 10000.0e0 AS coverage
        |FROM r CROSS JOIN tt WHERE rnk IN (5, 10, 20)
        |ORDER BY top_k""".stripMargin,
    "evt_survival_km" ->
      """WITH u AS (SELECT user_id,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS f,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS l FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |e AS (SELECT max(l) AS edge FROM u),
        |lt AS (SELECT CAST(floor((l - f) / 86400000000.0e0) AS BIGINT) AS t,
        |    (e.edge - l >= 3 * 86400000000) AS churned FROM u CROSS JOIN e),
        |bt AS (SELECT t, sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d,
        |    count(*) AS leaving FROM lt GROUP BY 1),
        |cv AS (SELECT t, d, leaving, sum(leaving) OVER (ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
        |  FROM bt),
        |fr AS (SELECT t, d, n_risk,
        |    1.0e0 - CAST(d AS DOUBLE) / n_risk AS frac FROM cv),
        |sv AS (SELECT t, n_risk, d,
        |    CASE WHEN min(frac) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 0.0e0
        |      THEN 0.0e0
        |      ELSE exp(sum(ln(frac)) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END AS s
        |  FROM fr)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS n_churned, round(s, 4) AS survival
        |FROM sv ORDER BY t""".stripMargin,
    // ONE sequential running-max window == the distributed chunk scan
    "evt_watermark_audit" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN event_id % 17 = 0 THEN event_id * 2 + 81
        |      ELSE event_id * 2 END AS aid,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT event_type, us,
        |    max(us) OVER (ORDER BY aid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS frontier
        |  FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN frontier - us > 3600000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS late_1h,
        |  CAST(sum(CASE WHEN frontier - us > 6 * 3600000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS late_6h,
        |  CAST(sum(CASE WHEN frontier - us > 24 * 3600000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS late_24h
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_shapley" ->
      """WITH fc AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS conv_ts
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |exp0 AS (SELECT e.user_id,
        |    string_agg(DISTINCT e.event_type, ',' ORDER BY e.event_type) AS coalition
        |  FROM events e JOIN fc ON fc.user_id = e.user_id
        |  WHERE CAST(e.ts AS TIMESTAMP) < fc.conv_ts AND e.event_type <> 'purchase'
        |  GROUP BY 1),
        |c AS (SELECT coalition, count(*) AS conversions,
        |    CAST(len(string_split(coalition, ',')) AS BIGINT) AS k
        |  FROM exp0 GROUP BY 1),
        |x AS (SELECT unnest(string_split(coalition, ',')) AS channel,
        |    conversions, k FROM c)
        |SELECT channel, CAST(sum(conversions) AS BIGINT) AS n_conversions,
        |  round(CAST(sum(conversions * (840 // k)) AS DOUBLE) / 840e0, 4)
        |    AS phi
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_islands" ->
      """WITH iv AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(floor(value * 60000000e0) AS BIGINT) AS e FROM events),
        |m AS (SELECT user_id, event_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |g AS (SELECT user_id, s, e,
        |    CAST(sum(CASE WHEN prev_max IS NULL OR s > prev_max
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS island_id
        |  FROM m)
        |SELECT user_id, island_id, min(s) AS island_start_us,
        |  max(e) AS island_end_us, count(*) AS n_intervals
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "evt_cusum" ->
      """WITH daily AS (SELECT event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CAST(floor(CAST(sum(CAST(floor(value * 100e0 + 0.5e0) AS BIGINT))
        |        AS DOUBLE) / CAST(count(*) AS DOUBLE) * 100e0 + 0.5e0)
        |      AS BIGINT) AS xq FROM events GROUP BY 1, 2),
        |sc AS (SELECT event_type, day, xq,
        |    CAST(sum(xq) OVER (PARTITION BY event_type) AS BIGINT) AS sq,
        |    count(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM daily),
        |pf AS (SELECT event_type, day, n_days,
        |    CAST(floor(abs(CAST(sum(xq) OVER (PARTITION BY event_type
        |          ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |        - CAST(count(*) OVER (PARTITION BY event_type ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |          * (CAST(sq AS DOUBLE) / CAST(n_days AS DOUBLE)))
        |      / 10000e0 * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS s_abs
        |  FROM sc)
        |SELECT event_type, day AS cp_day, s_abs, CAST(n_days AS BIGINT) AS n_days
        |FROM (SELECT pf.*, row_number() OVER (PARTITION BY event_type
        |    ORDER BY s_abs DESC, day ASC) AS rn FROM pf) z
        |WHERE rn = 1 ORDER BY 1""".stripMargin,
    // the oracle rebuilds the ENTIRE d×w counter grid from the same
    // md5 bucket algebra — sketch state is deterministic, so estimates
    // (and the visible overcounts) match exactly
    "text_cms_verified" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |bg AS (SELECT unnest(list_transform(generate_series(1, len(toks)-1),
         |    i -> toks[i] || ' ' || toks[i+1])) AS term FROM t WHERE len(toks) >= 2),
         |ex AS (SELECT term, count(*) AS n_true FROM bg GROUP BY term),
         |pr AS (SELECT term, n_true FROM (
         |  SELECT term, n_true, row_number() OVER (
         |    ORDER BY n_true DESC, term ASC) AS rn FROM ex) z
         |  WHERE rn <= 5 OR (rn >= 201 AND rn <= 205)),
         |dd AS (SELECT unnest([0, 1, 2]) AS depth),
         |cms AS (SELECT dd.depth,
         |    ('0x' || substr(md5(dd.depth || '|' || bg.term), 1, 8))::BIGINT % 64
         |      AS bucket, count(*) AS cnt
         |  FROM bg CROSS JOIN dd GROUP BY 1, 2),
         |est AS (SELECT pr.term, pr.n_true, min(cms.cnt) AS n_est
         |  FROM pr CROSS JOIN dd
         |  JOIN cms ON cms.depth = dd.depth
         |    AND cms.bucket =
         |      ('0x' || substr(md5(dd.depth || '|' || pr.term), 1, 8))::BIGINT % 64
         |  GROUP BY 1, 2)
         |SELECT term, n_true, n_est, n_est - n_true AS overcount
         |FROM est ORDER BY term""".stripMargin,
    // TVD per class vs the global sensitive distribution; the cell grid
    // is the FULL class × domain cross (absent values still deviate)
    "dq_tcloseness" ->
      """WITH e AS (SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
        |    CAST(floor(value / 20.0e0) AS BIGINT) AS value_tier FROM events),
        |grid AS (SELECT event_type, dow, value_tier, count(*) AS n
        |  FROM e GROUP BY 1, 2, 3),
        |cls AS (SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS class_size
        |  FROM grid GROUP BY 1, 2),
        |gdist AS (SELECT value_tier, CAST(sum(n) AS BIGINT) AS g
        |  FROM grid GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM grid),
        |cells AS (SELECT c.event_type, c.dow, c.class_size, t.total,
        |    abs(COALESCE(gr.n, 0) * t.total - gl.g * c.class_size) AS devn
        |  FROM cls c CROSS JOIN gdist gl CROSS JOIN tot t
        |  LEFT JOIN grid gr ON gr.event_type = c.event_type
        |    AND gr.dow = c.dow AND gr.value_tier = gl.value_tier),
        |agg AS (SELECT event_type, dow, class_size,
        |    CAST(floor(CAST(sum(devn) AS DOUBLE)
        |        / (CAST(class_size AS DOUBLE) * CAST(total AS DOUBLE)) / 2e0
        |      * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS tvd
        |  FROM cells GROUP BY event_type, dow, class_size, total)
        |SELECT event_type, dow, class_size, tvd, tvd <= 0.2e0 AS meets_t
        |FROM agg ORDER BY 1, 2""".stripMargin,
    // deterministic discrete-Laplace: both engines hash the identical
    // 'event_type|day|dp1' bytes and replay the same inverse-CDF algebra
    "dq_dp_counts" ->
      """WITH e AS (SELECT event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day FROM events),
        |c AS (SELECT event_type, day, count(*) AS n_true FROM e GROUP BY 1, 2),
        |h AS (SELECT event_type, day, n_true,
        |    md5(event_type || '|' || day || '|dp1') AS hx FROM c),
        |d AS (SELECT event_type, day, n_true,
        |    (('0x' || substr(hx, 1, 8))::BIGINT + 0.5e0) / 4294967296.0e0 AS u,
        |    CASE WHEN substr(hx, 9, 1) < '8' THEN 1 ELSE -1 END AS s FROM h)
        |SELECT event_type, day,
        |  CAST(GREATEST(0, n_true + s * CAST(floor(ln(u) / -1.0e0) AS BIGINT))
        |    AS BIGINT) AS n_noisy
        |FROM d ORDER BY 1, 2""".stripMargin,
    // three-way lift replays Spark's exact (s/n)/((ca/n)(cb/n)(cc/n))
    // op order on exact integer counts
    "rel_triples" ->
      """WITH ob AS (SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS b
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |no AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
        |s AS (SELECT b, count(*) AS cnt FROM ob GROUP BY b),
        |tr AS (SELECT x.b AS brand_a, y.b AS brand_b, z.b AS brand_c,
        |    count(*) AS support
        |  FROM ob x JOIN ob y ON x.okey = y.okey AND x.b < y.b
        |    JOIN ob z ON y.okey = z.okey AND y.b < z.b
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 5)
        |SELECT brand_a, brand_b, brand_c, support,
        |  floor((CAST(support AS DOUBLE) / CAST(no.n_orders AS DOUBLE))
        |    / ((CAST(sa.cnt AS DOUBLE) / CAST(no.n_orders AS DOUBLE))
        |      * (CAST(sb.cnt AS DOUBLE) / CAST(no.n_orders AS DOUBLE))
        |      * (CAST(sc.cnt AS DOUBLE) / CAST(no.n_orders AS DOUBLE)))
        |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS lift3
        |FROM tr JOIN s sa ON sa.b = tr.brand_a JOIN s sb ON sb.b = tr.brand_b
        |  JOIN s sc ON sc.b = tr.brand_c CROSS JOIN no
        |ORDER BY brand_a, brand_b, brand_c""".stripMargin,
    // keep rate max(16 div n, 1)/16 on the md5 first hex digit of the
    // DOC ID — independent per copy, deterministic, replayable
    "mix_dedup_weight" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 30 = 0),
        |f AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM d),
        |c AS (SELECT fp, count(*) AS n FROM f GROUP BY fp),
        |j AS (SELECT f.fp, c.n,
        |    (c.n = 1 OR substring(md5(CAST(f.doc_id AS VARCHAR)), 1, 1)
        |      < CAST(greatest(16 // c.n, 1) AS VARCHAR)) AS kept
        |  FROM f JOIN c ON f.fp = c.fp)
        |SELECT n AS cluster_size, CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters,
        |  count(*) AS docs_in,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept
        |FROM j GROUP BY n ORDER BY n""".stripMargin,
    // revenue in exact integer cents end-to-end; the cumulative window
    // runs over the (cohort × age) calendar grid
    "rel_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |    CAST(floor(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT) AS cents FROM orders),
        |f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
        |cs AS (SELECT m0, count(*) AS n_customers FROM f GROUP BY 1),
        |cell AS (SELECT f.m0, o.m - f.m0 AS age_months,
        |    CAST(sum(o.cents) AS BIGINT) AS rev
        |  FROM o JOIN f ON o.o_custkey = f.o_custkey GROUP BY 1, 2),
        |cum AS (SELECT m0, age_months,
        |    CAST(sum(rev) OVER (PARTITION BY m0 ORDER BY age_months
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents FROM cell)
        |SELECT printf('%04d-%02d', CAST((cum.m0 - 1) // 12 AS INT),
        |    CAST(cum.m0 - ((cum.m0 - 1) // 12) * 12 AS INT)) AS cohort,
        |  CAST(age_months AS BIGINT) AS age_months, cs.n_customers, cum_cents,
        |  floor(CAST(cum_cents AS DOUBLE) / 100.0e0 / CAST(cs.n_customers AS DOUBLE)
        |    * 100.0e0 + 0.5e0) / 100.0e0 AS ltv
        |FROM cum JOIN cs ON cum.m0 = cs.m0 ORDER BY cohort, age_months""".stripMargin,
    // identical planted literals; hex-range script classes behave the
    // same in Java regex and RE2; dominance = integer max + precedence
    "text_script_mix" ->
      """WITH planted AS (SELECT lang, CASE
        |    WHEN doc_id % 13 = 3 THEN '中文 内容 测试 样本 之一 2024'
        |    WHEN doc_id % 13 = 4 THEN 'русский текст пример аудит 2024'
        |    WHEN doc_id % 13 = 5 THEN '12345 67890'
        |    ELSE text END AS text FROM documents),
        |c AS (SELECT lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS latin,
        |    CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS cyr,
        |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS cjk,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS dig,
        |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS nonspace
        |  FROM planted),
        |sc AS (SELECT lang, CASE
        |    WHEN latin + cyr + cjk + dig = 0 THEN 'none'
        |    WHEN latin >= cyr AND latin >= cjk AND latin >= dig THEN 'latin'
        |    WHEN cyr >= cjk AND cyr >= dig THEN 'cyrillic'
        |    WHEN cjk >= dig THEN 'cjk'
        |    ELSE 'digit' END AS script,
        |    CAST(latin + cyr + cjk + dig AS DOUBLE)
        |      / nullif(CAST(nonspace AS DOUBLE), 0.0e0) AS script_ratio
        |  FROM c)
        |SELECT lang, script, count(*) AS n_docs,
        |  round(avg(script_ratio), 4) AS avg_script_ratio
        |FROM sc GROUP BY lang, script ORDER BY lang, script""".stripMargin,
    // the same planted 1-hour shifts; inversion = exact integer compare
    // under the (ts, id) total order
    "dq_event_order" ->
      """WITH ev AS (SELECT user_id, event_type, event_id,
        |    CASE WHEN event_id % 500 = 0
        |      THEN CAST(ts AS TIMESTAMP) - INTERVAL 1 HOUR
        |      ELSE CAST(ts AS TIMESTAMP) END AS ts FROM events),
        |lg AS (SELECT event_type, event_id,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id
        |  FROM ev)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN prev_id > event_id THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
        |  floor(CAST(sum(CASE WHEN prev_id > event_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000.0e0 + 0.5e0) / 10000.0e0 AS inversion_rate
        |FROM lg GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact-binary weights (0.5/0.125) so the planning products are
    // deterministic IEEE; epochs floor-round, the cap compares unrounded
    "mix_epoch_plan" ->
      """WITH tok AS (SELECT lang, CAST(len(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n
        |  FROM documents),
        |g AS (SELECT lang, CAST(sum(n) AS BIGINT) AS group_tokens,
        |    CAST(CASE WHEN lang = 'en' THEN 0.5e0 ELSE 0.125e0 END AS DOUBLE) AS weight
        |  FROM tok GROUP BY lang)
        |SELECT lang, group_tokens, weight,
        |  floor(least(500000.0e0 * weight / CAST(group_tokens AS DOUBLE), 4.0e0)
        |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS epochs,
        |  CAST(floor(least(500000.0e0 * weight / CAST(group_tokens AS DOUBLE), 4.0e0)
        |    * CAST(group_tokens AS DOUBLE) + 0.5e0) AS BIGINT) AS effective_tokens,
        |  500000.0e0 * weight / CAST(group_tokens AS DOUBLE) > 4.0e0 AS capped
        |FROM g ORDER BY lang""".stripMargin,
    // the planted metronome (60 s gaps → cv 0) must flag; gap moments
    // in whole seconds keep Σg² far from BIGINT range
    "evt_bot_detect" ->
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events
        |  UNION ALL SELECT 900000 + i,
        |    TIMESTAMP '2024-01-05 00:00:00' + i * INTERVAL 1 MINUTE, 9999
        |  FROM generate_series(0, 99) t(i)),
        |g AS (SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s
        |  FROM ev),
        |m AS (SELECT user_id, count(*) AS n_gaps,
        |    CAST(sum(gap_s) AS BIGINT) AS s1, CAST(sum(gap_s * gap_s) AS BIGINT) AS s2
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id),
        |c AS (SELECT user_id, n_gaps,
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |        / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE))
        |      / nullif(CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE), 0.0e0) AS cv
        |  FROM m),
        |f AS (SELECT CASE WHEN n_gaps >= 19 AND (cv < 0.1e0 OR cv IS NULL)
        |      THEN 'bot' ELSE 'human' END AS flag, cv, n_gaps FROM c)
        |SELECT flag, count(*) AS n_users, round(avg(cv), 4) AS avg_cv,
        |  CAST(floor(avg(n_gaps) * 100e0 + 0.5e0) AS DOUBLE) / 100e0
        |    AS avg_gaps
        |FROM f GROUP BY flag ORDER BY flag""".stripMargin,
    // earliest-entry windowed funnel: every later stage must land
    // within 48 h of the user's FIRST signup; exact integer µs bounds
    "evt_funnel_windowed" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t2,
        |    min(s1.t1) AS t1
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click'
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t1
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= s1.t1 + 172800000000
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s2.t2
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= s2.t1 + 172800000000
        |  GROUP BY e.user_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM s1)
        |SELECT stage, n_users,
        |  floor(CAST(n_users AS DOUBLE) / CAST(n.n1 AS DOUBLE) * 10000.0e0 + 0.5e0)
        |    / 10000.0e0 AS conv_rate
        |FROM (
        |  SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL SELECT '2_click_48h', CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT '3_purchase_48h', CAST(count(*) AS BIGINT) FROM s3
        |) CROSS JOIN n ORDER BY stage""".stripMargin,
    // sketches are in exact mode at this scale, so the oracle is the
    // TRUE distinct-pair algebra (inclusion-exclusion for the union)
    "evt_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        |pr AS (SELECT x.event_type AS type_a, y.event_type AS type_b
        |  FROM t x JOIN t y ON x.event_type < y.event_type),
        |ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, ta.n AS n_a, tb.n AS n_b,
        |  coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap,
        |  ta.n + tb.n - coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS n_union,
        |  floor(CAST(coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS DOUBLE)
        |    / CAST(ta.n + tb.n - coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS DOUBLE)
        |    * 10000.0e0 + 0.5e0) / 10000.0e0 AS jaccard
        |FROM pr JOIN t ta ON ta.event_type = pr.type_a
        |  JOIN t tb ON tb.event_type = pr.type_b
        |  LEFT JOIN ov ON ov.type_a = pr.type_a AND ov.type_b = pr.type_b
        |ORDER BY pr.type_a, pr.type_b""".stripMargin,
    // the three refs replayed as pure unions: main diverged (base +
    // %3=1), branch head and published main (base + %3=2)
    "maint_branch" ->
      """WITH base AS (SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |ma AS (SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 = 1),
        |st AS (SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 3 = 2),
        |u AS (
        |  SELECT '1_main_diverged' AS ref, o_orderstatus, o_totalprice FROM base
        |  UNION ALL SELECT '1_main_diverged', o_orderstatus, o_totalprice FROM ma
        |  UNION ALL SELECT '2_branch_head', o_orderstatus, o_totalprice FROM base
        |  UNION ALL SELECT '2_branch_head', o_orderstatus, o_totalprice FROM st
        |  UNION ALL SELECT '3_published', o_orderstatus, o_totalprice FROM base
        |  UNION ALL SELECT '3_published', o_orderstatus, o_totalprice FROM st)
        |SELECT ref, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM u GROUP BY ref, o_orderstatus ORDER BY ref, o_orderstatus""".stripMargin,
    // MMR greedy rounds unrolled; penalty weight written (1.0 - 0.7) to
    // match Spark's lit(1.0 - lam) bit-for-bit
    "sim_mmr" -> mmrSql(10, 20, 5),
    // the doubled feed deduped within the watermark equals batch distinct
    "stream_dedup_wm" ->
      """SELECT event_type, count(DISTINCT event_id) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // post-erase table must equal NOT IN on the original
    "maint_erase" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_custkey NOT IN (1, 2, 3)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // per-column Shannon entropy over the melted (column, value) pairs
    "meta_entropy" ->
      """WITH m AS (SELECT 'event_type' AS col_name, event_type AS v FROM events
        |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events),
        |f AS (SELECT col_name, v, count(*) AS cnt FROM m GROUP BY col_name, v),
        |t AS (SELECT col_name, cnt,
        |  CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY col_name) AS p FROM f)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(-sum(p * log2(p)), 4) + 0e0 AS entropy_bits
        |FROM t GROUP BY col_name ORDER BY col_name""".stripMargin,
    // partition-pruned english slice must equal the plain filter on the
    // original table (losslessness of the partitioned layout included)
    "maint_hive_partition" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    // correlated LATERAL top-2 per customer
    "q31_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON true
        |WHERE c.c_custkey < 100
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin,
    // the full 4-grain lattice; subtotal NULLs coalesced like q23
    "q33_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100e0 + 0.5e0) AS BIGINT))
        |    AS DOUBLE) / 100e0 AS total,
        |  CAST(floor(CAST(sum(CAST(floor(l_discount * 100e0 + 0.5e0)
        |        AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |      * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS avg_disc
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    // wide→long via UNION ALL legs ≡ Spark's Expand-based unpivot
    "q32_unpivot" ->
      """WITH u AS (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, metric, count(*) AS n,
        |  CAST(sum(CAST(floor(val * 100e0 + 0.5e0) AS BIGINT)) AS DOUBLE)
        |    / 100e0 AS total,
        |  CAST(floor(CAST(sum(CAST(floor(val * 100e0 + 0.5e0) AS BIGINT))
        |        AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0
        |      * 10000e0 + 0.5e0) AS DOUBLE) / 10000e0 AS avg_val
        |FROM u GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric""".stripMargin,
    // INTERSECT/EXCEPT cohorts over distinct early/late customer keys
    "q30_setops" ->
      """WITH e AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        |l AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1998-01-01')
        |SELECT o_custkey, 'retained' AS cohort FROM (
        |  SELECT o_custkey FROM e INTERSECT SELECT o_custkey FROM l)
        |UNION ALL SELECT o_custkey, 'churned' FROM (
        |  SELECT o_custkey FROM e EXCEPT SELECT o_custkey FROM l)
        |UNION ALL SELECT o_custkey, 'new' FROM (
        |  SELECT o_custkey FROM l EXCEPT SELECT o_custkey FROM e)
        |ORDER BY cohort, o_custkey""".stripMargin,
    // greedy 10k-token budget by lexical diversity; prefix admission at the boundary
    "mix_token_budget" ->
      s"""WITH sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
         |by_score AS (SELECT n_distinct, sum(n_tokens) AS score_tokens FROM sc GROUP BY n_distinct),
         |cum AS (SELECT n_distinct, score_tokens,
         |  coalesce(sum(score_tokens) OVER (ORDER BY n_distinct DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM by_score),
         |j AS (SELECT sc.doc_id, sc.n_tokens, sc.n_distinct, cum.score_tokens, cum.cum_before
         |  FROM sc JOIN cum USING (n_distinct)),
         |full_keep AS (SELECT doc_id, n_tokens, n_distinct FROM j
         |  WHERE cum_before + score_tokens <= 10000),
         |b AS (SELECT doc_id, n_tokens, n_distinct, cum_before,
         |  sum(n_tokens) OVER (PARTITION BY n_distinct ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in
         |  FROM j WHERE cum_before < 10000 AND cum_before + score_tokens > 10000),
         |kept AS (SELECT doc_id, n_tokens, n_distinct FROM full_keep
         |  UNION ALL SELECT doc_id, n_tokens, n_distinct FROM b WHERE cum_before + cum_in <= 10000)
         |SELECT kept.doc_id, kept.n_tokens, kept.n_distinct FROM kept
         |ORDER BY kept.n_distinct DESC, kept.doc_id""".stripMargin,
    "text_bpe_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text,
        | '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        | count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin,
    // bloom prefilter is result-transparent: the oracle is the PLAIN
    // semi-join the operator is semantically equal to
    "dedup_bloom" ->
      """WITH f AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents WHERE doc_id % 2 = 0),
        |r AS (SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, fp FROM f WHERE fp IN (SELECT fp FROM r)
        |ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, len(toks) AS n, list_distinct(list_transform(
         |  generate_series(1, len(toks)-2),
         |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |   / len(list_distinct(list_concat(a.sh, b.sh))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
         |WHERE a.doc_id % 5 = 0 AND a.n >= 3 AND b.n >= 3 ORDER BY doc_a""".stripMargin,
    // prefix join is EXACT: the oracle is plain brute-force all-pairs —
    // any pair the prefix filter drops is a gate failure
    "dedup_prefix_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, len(toks)-2),
         |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3)
         |SELECT * FROM (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
         | FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.7e0 ORDER BY doc_a, doc_b""".stripMargin,
    // sorted-neighborhood: the oracle replays the identical planting,
    // blocking window, lag pairing, and rounded-jaccard verification
    "dedup_sorted_nbr" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, regexp_replace(text, '\\s+\\S+$$', '')
         |    FROM documents WHERE doc_id % 47 = 0),
         |t AS (SELECT doc_id, $toksSql AS toks FROM base),
         |f AS (SELECT doc_id, toks,
         |    array_to_string(toks[1:2], ' ') AS block,
         |    array_to_string(toks[1:8], ' ') AS skey
         |  FROM t WHERE len(toks) >= 3),
         |l AS (SELECT doc_id, toks,
         |    lag(doc_id, 1) OVER win AS id1, lag(toks, 1) OVER win AS toks1,
         |    lag(doc_id, 2) OVER win AS id2, lag(toks, 2) OVER win AS toks2,
         |    lag(doc_id, 3) OVER win AS id3, lag(toks, 3) OVER win AS toks3
         |  FROM f WINDOW win AS (PARTITION BY block ORDER BY skey, doc_id)),
         |p AS (SELECT doc_id AS b_id, toks AS b_toks, id1 AS a_id, toks1 AS a_toks FROM l WHERE id1 IS NOT NULL
         |  UNION ALL SELECT doc_id, toks, id2, toks2 FROM l WHERE id2 IS NOT NULL
         |  UNION ALL SELECT doc_id, toks, id3, toks3 FROM l WHERE id3 IS NOT NULL),
         |g AS (SELECT least(a_id, b_id) AS doc_a, greatest(a_id, b_id) AS doc_b,
         |    list_distinct(list_transform(generate_series(1, len(a_toks)-2),
         |      i -> a_toks[i] || ' ' || a_toks[i+1] || ' ' || a_toks[i+2])) AS sh_a,
         |    list_distinct(list_transform(generate_series(1, len(b_toks)-2),
         |      i -> b_toks[i] || ' ' || b_toks[i+1] || ' ' || b_toks[i+2])) AS sh_b
         |  FROM p)
         |SELECT * FROM (
         |  SELECT doc_a, doc_b,
         |    CAST(floor(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         |      / len(list_distinct(list_concat(sh_a, sh_b))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
         |  FROM g)
         |WHERE jaccard >= 0.8e0 ORDER BY doc_a, doc_b""".stripMargin,
    // planted-twin corpus rebuilt with the identical perturbation
    // arithmetic, ALL pairs brute-forced at the same threshold — hash
    // equality proves the LSH path's full recall on this corpus
    "dedup_embedding" ->
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |tw0 AS (SELECT vec_id AS old_id, e FROM b WHERE vec_id % 7 = 0),
        |tw AS (SELECT old_id + 1000000 AS vec_id,
        |  list_transform(generate_series(1, 64), j ->
        |    e[j] * (1.0e0 + CAST((old_id * 31 + (j - 1)) % 11 - 5 AS DOUBLE) / 100.0e0)) AS e
        |  FROM tw0),
        |u AS (SELECT * FROM b UNION ALL SELECT * FROM tw),
        |s AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
        |  list_inner_product(a.e, c.e) /
        |    (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(c.e, c.e))) AS sim
        |  FROM u a JOIN u c ON a.vec_id < c.vec_id)
        |SELECT vec_a, vec_b,
        |  CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim
        |FROM s WHERE sim >= 0.98e0
        |ORDER BY 3 DESC, 1, 2""".stripMargin,
    "dedup_minhash_verified" -> bruteForceJaccardSql,
    // q37_sql_kernels replicates dedup_minhash_verified's arithmetic in
    // PURE SQL through the injected graftext kernels, so the SAME
    // brute-force oracle anchors it: hash equality proves the SQL
    // surface (graft_nfc, graft_minhash_sig, banding) reaches the
    // identical verified pair set.
    "q37_sql_kernels" -> bruteForceJaccardSql,
    // brute-force batch×corpus exact jaccard anchors the incremental
    // LSH path the same way the all-pairs oracle anchors the self-join
    "dedup_incremental" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, len(toks)-2),
         |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |a AS (SELECT * FROM g WHERE doc_id % 17 = 0),
         |b AS (SELECT * FROM g WHERE doc_id % 17 <> 0)
         |SELECT * FROM (
         | SELECT a.doc_id AS doc_new, b.doc_id AS doc_old,
         |  CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
         | FROM a CROSS JOIN b)
         |WHERE jaccard >= 0.8e0 ORDER BY doc_new, doc_old""".stripMargin,
    // connected components verified end-to-end: brute-force exact-Jaccard
    // pair set + recursive-CTE transitive closure (min reachable id =
    // cluster label, matching Dedup.clusters' min-label propagation)
    "dedup_clusters_verified" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, len(toks)-2),
         |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |p AS (SELECT * FROM (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
         | FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8e0),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT src, dst FROM e
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // keep-best: same closure as dedup_clusters_verified + the
    // longest-member (min-doc_id tie) keeper election
    "dedup_keep_best" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, len(toks)-2),
         |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM t WHERE len(toks) >= 3),
         |p AS (SELECT * FROM (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS jaccard
         | FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8e0),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |reach AS (SELECT src, dst FROM e
         |          UNION
         |          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst),
         |c AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |      FROM reach GROUP BY src),
         |s AS (SELECT c.doc_id, c.cluster_id, CAST(length(d.text) AS BIGINT) AS len
         |      FROM c JOIN documents d ON d.doc_id = c.doc_id),
         |m AS (SELECT cluster_id, max(len) AS mx FROM s GROUP BY 1),
         |k AS (SELECT s.cluster_id, min(s.doc_id) AS keeper_doc
         |      FROM s JOIN m ON s.cluster_id = m.cluster_id AND s.len = m.mx
         |      GROUP BY s.cluster_id)
         |SELECT s.cluster_id, keeper_doc, count(*) AS n_docs,
         |  count(*) - 1 AS n_dropped
         |FROM s JOIN k ON s.cluster_id = k.cluster_id
         |GROUP BY s.cluster_id, keeper_doc ORDER BY s.cluster_id""".stripMargin,
    "sim_topk_exact" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
        |  list_inner_product(q.e, c.e)
        |    / (sqrt(list_inner_product(q.e, q.e)) * sqrt(list_inner_product(c.e, c.e))) AS sim
        |  FROM q JOIN c ON q.vec_id <> c.vec_id)
        |SELECT vec_id, neighbor_id,
        | CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
        | CAST(rank AS BIGINT) AS rank FROM (
        | SELECT vec_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // sim_ann_lsh (oracle-backed r10): FULL LSH replay — the md5-bridge
    // hyperplanes (Similarity.planeW) regenerate in SQL, projections run
    // through list_inner_product (sequential double accumulation, the
    // DotProduct twin), buckets are exact integer sums of disjoint sign
    // bits, and the candidate bucket-join + (sim DESC, nid) ranking
    // replays rankTopK. Hash equality proves planes, buckets, candidate
    // generation AND scoring arithmetic end-to-end.
    "sim_ann_lsh" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
        |  FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM c),
        |bits AS (SELECT LEAST(20, GREATEST(6,
        |  CAST(ceil(ln(GREATEST(1.0e0, n / 64.0e0)) / ln(2.0e0)) AS INT))) AS nb FROM nn),
        |pw AS (SELECT t, b, d,
        |  ('0x'||substr(md5('pl42_'||t||'_'||b||'_'||d),1,8))::BIGINT / 4294967296.0e0 - 0.5e0 AS w
        |  FROM range(0,8) r1(t), range(0,20) r2(b), range(0,64) r3(d), bits WHERE b < bits.nb),
        |pl AS (SELECT t, b, list(w ORDER BY d) AS pl FROM pw GROUP BY t, b),
        |proj AS (SELECT v.vec_id, p.t, p.b,
        |  CASE WHEN list_inner_product(v.e, p.pl) >= 0 THEN 1 << p.b ELSE 0 END AS bit
        |  FROM c v CROSS JOIN pl p),
        |bucketed AS (SELECT vec_id, t AS tbl, sum(bit)::INT AS bucket FROM proj GROUP BY vec_id, t),
        |cand AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  max(list_inner_product(q.e, v.e) / (q.norm * v.norm)) AS sim
        |  FROM bucketed a JOIN bucketed b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
        |  JOIN c q ON q.vec_id = a.vec_id
        |  JOIN c v ON v.vec_id = b.vec_id
        |  GROUP BY 1, 2)
        |SELECT qid AS vec_id, nid AS neighbor_id,
        |  CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
        |  CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT qid, nid, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM cand)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // sim_recall_at_k (oracle-backed r10): exact brute-force ground truth
    // AND the multi-probe LSH arm both replay in SQL (the sim_ann_lsh
    // machinery plus the Hamming-1 probe union), so the recall DIVISION
    // itself is hash-checked — not just the ground truth.
    "sim_recall_at_k" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
        |  FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM c),
        |bits AS (SELECT LEAST(20, GREATEST(6,
        |  CAST(ceil(ln(GREATEST(1.0e0, n / 64.0e0)) / ln(2.0e0)) AS INT))) AS nb FROM nn),
        |pw AS (SELECT t, b, d,
        |  ('0x'||substr(md5('pl42_'||t||'_'||b||'_'||d),1,8))::BIGINT / 4294967296.0e0 - 0.5e0 AS w
        |  FROM range(0,8) r1(t), range(0,20) r2(b), range(0,64) r3(d), bits WHERE b < bits.nb),
        |pl AS (SELECT t, b, list(w ORDER BY d) AS pl FROM pw GROUP BY t, b),
        |proj AS (SELECT v.vec_id, p.t, p.b,
        |  CASE WHEN list_inner_product(v.e, p.pl) >= 0 THEN 1 << p.b ELSE 0 END AS bit
        |  FROM c v CROSS JOIN pl p),
        |bucketed AS (SELECT vec_id, t AS tbl, sum(bit)::INT AS bucket FROM proj GROUP BY vec_id, t),
        |probed AS (SELECT vec_id, tbl, bucket FROM bucketed
        |  UNION ALL
        |  SELECT b.vec_id, b.tbl, xor(b.bucket, 1 << r.j)::INT
        |  FROM bucketed b, range(0,20) r(j), bits WHERE r.j < bits.nb),
        |cand AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  max(list_inner_product(q.e, v.e) / (q.norm * v.norm)) AS sim
        |  FROM probed a JOIN bucketed b
        |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
        |  JOIN c q ON q.vec_id = a.vec_id
        |  JOIN c v ON v.vec_id = b.vec_id
        |  WHERE a.vec_id < 50
        |  GROUP BY 1, 2),
        |annr AS (SELECT qid, nid,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM cand),
        |truth AS (SELECT qid, nid, rank FROM (
        |  SELECT q.vec_id AS qid, v.vec_id AS nid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_inner_product(q.e, v.e) / (q.norm * v.norm) DESC, v.vec_id) AS rank
        |  FROM c q JOIN c v ON q.vec_id <> v.vec_id WHERE q.vec_id < 50)
        |  WHERE rank <= 10),
        |nq AS (SELECT count(*) AS nq FROM c WHERE vec_id < 50),
        |joined AS (SELECT t.qid, t.rank AS ex_rank, a.rank AS ann_rank
        |  FROM truth t LEFT JOIN annr a ON a.qid = t.qid AND a.nid = t.nid AND a.rank <= 10),
        |ks AS (SELECT unnest([1, 5, 10]) AS k)
        |SELECT k.k::BIGINT AS k, (SELECT nq FROM nq)::BIGINT AS n_queries,
        |  CAST(floor(sum(CASE WHEN j.ex_rank <= k.k AND j.ann_rank <= k.k THEN 1 ELSE 0 END)
        |    * 1.0e0 / (k.k * (SELECT nq FROM nq)) * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS recall
        |FROM ks k, joined j GROUP BY k.k ORDER BY k""".stripMargin,
    // sim_ivf_topk (oracle-backed r10): the whole IVF build + query
    // replays — md5-bridge stride centroids (with the fallback rule),
    // first-max assignment, (score DESC, ci) probe ranking, candidate
    // list join and rankTopK — because every step is deterministic
    // arithmetic both engines compute identically.
    "sim_ivf_topk" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
        |  FROM embeddings),
        |nn AS (SELECT count(*) AS n, GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nc FROM c),
        |strided AS (SELECT s.vec_id, s.e FROM c s, nn
        |  WHERE (('0x'||substr(md5('c'||s.vec_id),1,8))::BIGINT % GREATEST(1, nn.n // nn.nc)) = 0),
        |pool AS (
        |  SELECT vec_id, e FROM strided
        |  WHERE (SELECT count(*) FROM strided) >= (SELECT (nc+1)//2 FROM nn)
        |  UNION ALL
        |  SELECT vec_id, e FROM c
        |  WHERE (SELECT count(*) FROM strided) < (SELECT (nc+1)//2 FROM nn)),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e,
        |    sqrt(list_inner_product(e, e)) AS cnorm
        |  FROM (SELECT vec_id, e FROM pool ORDER BY vec_id LIMIT (SELECT nc FROM nn))),
        |scores AS (SELECT v.vec_id, ct.ci,
        |    list_inner_product(v.e, ct.e) / (v.norm * ct.cnorm) AS s
        |  FROM c v CROSS JOIN cents ct),
        |assigned AS (SELECT vec_id, ci AS centroid_id FROM (
        |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
        |  FROM scores) WHERE rn = 1),
        |probed AS (SELECT vec_id AS qid, ci AS centroid_id FROM (
        |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS prn
        |  FROM scores) WHERE prn <= 4),
        |cand AS (SELECT p.qid, i.vec_id AS nid,
        |    max(list_inner_product(q.e, v.e) / (q.norm * v.norm)) AS sim
        |  FROM probed p JOIN assigned i
        |    ON i.centroid_id = p.centroid_id AND i.vec_id <> p.qid
        |  JOIN c q ON q.vec_id = p.qid
        |  JOIN c v ON v.vec_id = i.vec_id
        |  GROUP BY 1, 2)
        |SELECT qid AS vec_id, nid AS neighbor_id,
        |  CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
        |  CAST(rank AS BIGINT) AS rank FROM (
        |  SELECT qid, nid, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM cand)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // sim_pq_topk / sim_ivfpq_topk (oracle-backed r11): the PQ and
    // IVF-PQ builds replay end-to-end — see pqTopkSql / ivfpqTopkSql.
    "sim_pq_topk" -> pqTopkSql,
    "sim_ivfpq_topk" -> ivfpqTopkSql,
    "sim_index_persist" -> simIndexPersistSql,
    // sim_nprobe_sweep (oracle-backed r10): the IVF replay above run as
    // FOUR correlated arms (per-query centroid rank <= nprobe) against
    // the exact ground truth, recall division hash-checked per arm.
    "sim_nprobe_sweep" ->
      """WITH sub AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS norm
        |  FROM embeddings WHERE vec_id < 1000),
        |nn AS (SELECT count(*) AS n, GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nc FROM sub),
        |strided AS (SELECT s.vec_id, s.e FROM sub s, nn
        |  WHERE (('0x'||substr(md5('c'||s.vec_id),1,8))::BIGINT % GREATEST(1, nn.n // nn.nc)) = 0),
        |pool AS (
        |  SELECT vec_id, e FROM strided
        |  WHERE (SELECT count(*) FROM strided) >= (SELECT (nc+1)//2 FROM nn)
        |  UNION ALL
        |  SELECT vec_id, e FROM sub
        |  WHERE (SELECT count(*) FROM strided) < (SELECT (nc+1)//2 FROM nn)),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, e,
        |    sqrt(list_inner_product(e, e)) AS cnorm
        |  FROM (SELECT vec_id, e FROM pool ORDER BY vec_id LIMIT (SELECT nc FROM nn))),
        |scores AS (SELECT v.vec_id, ct.ci,
        |    list_inner_product(v.e, ct.e) / (v.norm * ct.cnorm) AS s
        |  FROM sub v CROSS JOIN cents ct),
        |assigned AS (SELECT vec_id, ci AS centroid_id FROM (
        |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
        |  FROM scores) WHERE rn = 1),
        |probe_rank AS (SELECT vec_id AS qid, ci AS centroid_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS prn
        |  FROM scores WHERE vec_id < 50),
        |arms AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
        |cand AS (SELECT a.nprobe, p.qid, i.vec_id AS nid,
        |    max(list_inner_product(q.e, v.e) / (q.norm * v.norm)) AS sim
        |  FROM arms a
        |  JOIN probe_rank p ON p.prn <= a.nprobe
        |  JOIN assigned i ON i.centroid_id = p.centroid_id AND i.vec_id <> p.qid
        |  JOIN sub q ON q.vec_id = p.qid
        |  JOIN sub v ON v.vec_id = i.vec_id
        |  GROUP BY 1, 2, 3),
        |arm_topk AS (SELECT nprobe, qid, nid FROM (
        |  SELECT nprobe, qid, nid,
        |    row_number() OVER (PARTITION BY nprobe, qid ORDER BY sim DESC, nid) AS rank
        |  FROM cand) WHERE rank <= 5),
        |truth AS (SELECT qid, nid FROM (
        |  SELECT q.vec_id AS qid, v.vec_id AS nid,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_inner_product(q.e, v.e) / (q.norm * v.norm) DESC, v.vec_id) AS rank
        |  FROM sub q JOIN sub v ON q.vec_id <> v.vec_id WHERE q.vec_id < 50)
        |  WHERE rank <= 5),
        |tot AS (SELECT count(*) AS n_total FROM truth)
        |SELECT a.nprobe::BIGINT AS nprobe,
        |  count(t.qid)::BIGINT AS n_overlap,
        |  (SELECT n_total FROM tot)::BIGINT AS n_total,
        |  CAST(floor(count(t.qid) * 1.0e0 / (SELECT n_total FROM tot) * 10000.0e0 + 0.5e0)
        |    AS DOUBLE) / 10000.0e0 AS recall
        |FROM arms a
        |LEFT JOIN arm_topk k ON k.nprobe = a.nprobe
        |LEFT JOIN truth t ON t.qid = k.qid AND t.nid = k.nid
        |GROUP BY a.nprobe ORDER BY nprobe""".stripMargin,
    // identical int8 quantization in SQL (floor(x+0.5) is portable
    // round-half-up; scales cancel in the cosine, so quantized scores
    // are exact-int dot products — bitwise comparable across engines)
    "sim_quant_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT vec_id, e,
        |  greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) / 127.0e0 AS scale FROM e),
        |qv AS (SELECT vec_id,
        |  CAST(list_transform(e, x -> floor(x / scale + 0.5e0)) AS DOUBLE[]) AS q FROM m),
        |q AS (SELECT vec_id, q FROM qv WHERE vec_id < 20),
        |s AS (SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
        |  list_inner_product(q.q, c.q)
        |    / (sqrt(list_inner_product(q.q, q.q)) * sqrt(list_inner_product(c.q, c.q))) AS sim
        |  FROM q JOIN qv c ON q.vec_id <> c.vec_id)
        |SELECT vec_id, neighbor_id,
        | CAST(floor(sim * 10000.0e0 + 0.5e0) AS DOUBLE) / 10000.0e0 AS sim,
        | CAST(rank AS BIGINT) AS rank FROM (
        | SELECT vec_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    "mm_bytes" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_decode" ->
      """SELECT doc_id, doc_id % 640 + 1 AS width, doc_id % 480 + 1 AS height,
        | CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |  WHEN 2 THEN 'jpeg' ELSE 'bmp' END AS format,
        | CAST(CASE doc_id % 4 WHEN 0 THEN 33 WHEN 1 THEN 13
        |  WHEN 2 THEN 39 ELSE 54 END AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,
    "evt_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT user_id, event_id, value, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |   THEN 1 ELSE 0 END AS is_new FROM e),
        |g AS (SELECT user_id, value, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events,
        | round(sum(value),2) AS total_value
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // stream_dedup_replay (r13): the bounded-state dedup face — the
    // time-ordered multi-batch drain must emit every event exactly once
    // (event_id is the events PK; the feed plants each twice).
    "stream_dedup_replay" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_out,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(count(*) AS BIGINT) AS n_expected,
        |  CAST(1 AS BIGINT) AS all_unique
        |FROM events""".stripMargin,
    // stream_sessionize_wm (r13): the expiring-state face — DuckDB
    // replays users/sessions/events exactly (lag/running-sum), and the
    // engine-side verdict (partial closures sum to the batch sessionize
    // per user) must hold: matches_batch = 1.
    "stream_sessionize_wm" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT user_id,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |   THEN 1 ELSE 0 END AS is_new FROM e)
        |SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(is_new) AS BIGINT) AS sessions,
        |  CAST(count(*) AS BIGINT) AS events,
        |  CAST(1 AS BIGINT) AS matches_batch
        |FROM f""".stripMargin,
    "evt_window_agg" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
        | event_type, count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin,
    "evt_topk_users" ->
      """SELECT user_id, count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT 20""".stripMargin,
    // the custom GroupTopK operator vs the declarative formulation it
    // replaces: row_number over (value desc, event_id) per user
    "evt_topk_per_user" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS rk FROM events)
        |SELECT user_id, event_id, value FROM r WHERE rk <= 3
        |ORDER BY user_id, value DESC, event_id""".stripMargin,
    "evt_session_window" ->
      """WITH e AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS tsx,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |    OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
        |SELECT user_id, strftime(min(tsx), '%Y-%m-%d %H:%M:%S') AS session_start,
        | count(*) AS n_events, round(sum(value),2) AS session_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "evt_props" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        | CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // streaming CMS drains to the same order-invariant grid a batch
    // fold builds; the oracle replays grid + probes over all user keys
    // the streamed-in snapshot table must aggregate identically to the
    // source (exactly-once: nothing lost, nothing doubled)
    "stream_snapshot_sink" ->
      """SELECT count(*) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  round(sum(value), 2) AS sum_value
        |FROM events""".stripMargin,
    "stream_cms" ->
      """WITH dd AS (SELECT unnest([0, 1, 2]) AS depth),
        |k AS (SELECT CAST(user_id AS VARCHAR) AS term FROM events),
        |cms AS (SELECT dd.depth,
        |    ('0x' || substr(md5(dd.depth || '|' || k.term), 1, 8))::BIGINT % 64
        |      AS bucket, count(*) AS cnt
        |  FROM k CROSS JOIN dd GROUP BY 1, 2),
        |pr AS (SELECT CAST(range * 10 AS VARCHAR) AS term,
        |    range * 10 AS uid FROM range(10))
        |SELECT pr.uid AS user_id, min(cms.cnt) AS n_est
        |FROM pr CROSS JOIN dd JOIN cms ON cms.depth = dd.depth
        |  AND cms.bucket =
        |    ('0x' || substr(md5(dd.depth || '|' || pr.term), 1, 8))::BIGINT % 64
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_window" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00') AS hour,
        | event_type, count(*) AS n
        |FROM events GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin,
    // CAST(ts AS TIMESTAMP) truncates DuckDB's TIMESTAMP_NS to the same
    // microseconds Spark's normalizeTs produces — REQUIRED in every
    // event-time comparison or a sub-µs difference flips a predicate in
    // exactly one engine (same rule as the pre-existing event oracles)
    "evt_rolling" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
        |SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
        |   RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 2) AS rolling_value
        |FROM ev ORDER BY event_id""".stripMargin,
    "evt_funnel" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
        |UNION ALL SELECT '2_click', count(*) FROM s2
        |UNION ALL SELECT '3_purchase', count(*) FROM s3
        |ORDER BY stage""".stripMargin,
    // the streaming interval join drained over the static table equals
    // the plain batch BETWEEN join
    "stream_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
        |  WHERE event_type = 'click')
        |SELECT p.p_id, c.c_id FROM p JOIN c ON p.user_id = c.user_id
        | AND c.c_ts >= p.p_ts - INTERVAL 24 HOUR AND c.c_ts <= p.p_ts
        |ORDER BY p.p_id, c.c_id""".stripMargin,
    // the LEFT-OUTER streaming interval join (drained with the sentinel
    // watermark flush) equals the plain batch LEFT BETWEEN join: every
    // matched pair plus a NULL click id per unmatched purchase
    "stream_left_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts FROM events
        |  WHERE event_type = 'click')
        |SELECT p.p_id, c.c_id FROM p LEFT JOIN c ON p.user_id = c.user_id
        | AND c.c_ts >= p.p_ts - INTERVAL 24 HOUR AND c.c_ts <= p.p_ts
        |ORDER BY p.p_id, c.c_id""".stripMargin,
    // per-micro-batch broadcast enrichment drained = the batch CASE agg;
    // the stream side is an INNER join, which drops null keys — mirror
    // that explicitly so the parity holds even on corpora with null types
    "stream_enrich" ->
      """SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
        |  ELSE 'engagement' END AS type_group, count(*) AS n
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-user custom streaming state vs the declarative lag/running-sum
    // session derivation
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |   THEN 1 ELSE 0 END AS is_new FROM e),
        |g AS (SELECT user_id, sum(is_new) OVER (PARTITION BY user_id ORDER BY us
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the drained streaming dropDuplicates state equals per-lang DISTINCT
    // fingerprint counts (no cross-lang duplicate texts in the corpus)
    "stream_dedup" ->
      """SELECT lang, count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
        |  AS n_unique
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // DuckDB's NATIVE ASOF JOIN is the oracle for the union+window operator
    "evt_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id, value FROM (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
        |   row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
        |     ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'click') WHERE rn = 1)
        |SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, p.value,
        | c.event_id AS click_event_id, c.value AS click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    // plain BETWEEN join is the oracle for the bin-bucketed range join
    "evt_range_join" ->
      """WITH e AS (SELECT event_id AS err_id, user_id, CAST(ts AS TIMESTAMP) AS w_start,
        |  CAST(ts AS TIMESTAMP) + INTERVAL 24 HOUR AS w_end FROM events
        |  WHERE event_type = 'error'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |  WHERE event_type = 'click')
        |SELECT e.err_id, count(*) AS n_clicks, round(sum(c.value), 2) AS click_value
        |FROM c JOIN e ON c.user_id = e.user_id AND c.ts >= e.w_start AND c.ts <= e.w_end
        |GROUP BY e.err_id ORDER BY e.err_id""".stripMargin
  )
}
