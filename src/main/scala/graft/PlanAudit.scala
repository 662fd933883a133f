package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Dumps formatted physical plans for the headline queries so the scale
  * properties (pushdown, broadcast, codegen spans, shuffle count) can be
  * audited: runMain graft.PlanAudit <sfDir> <outFile> [key ...]. Listed
  * keys replace the built-in [[audited]] list (before/after plan
  * evidence for an optimization). Each key's header carries its
  * optimized plan's [[exprNodes]] count as `expr_nodes=N`.
  * Iterative-loop operators materialize eagerly at construction, so
  * their dump shows only the final readout plan.
  */
object PlanAudit {
  val audited: Seq[String] = Seq(
    "q1_agg", "q2_filter", "q3_join", "q4_sort_limit", "q6_region_join",
    "q8_semijoin", "q9_antijoin", "q16_sql", "q17_intersect", "q18_except",
    "q20_scalar_subquery", "q23_grouping_sets", "q24_pivot", "meta_profile", "text_tokens",
    "dedup_exact", "dedup_minhash", "sim_topk_exact", "sim_ann_lsh",
    "evt_sessionize", "evt_session_window", "evt_window_agg",
    // dedup_clusters is excluded: its localCheckpoint-based loop runs
    // eagerly at construction and leaves only a vacuous post-checkpoint
    // plan to explain
    "evt_topk_users", "pipeline_llm", "sim_ivf_topk", "dedup_embedding",
    // round 3: as-of join (union+window), bin-bucketed range join,
    // bucketed co-located join (expect zero Exchange below the SMJ)
    "evt_asof_join", "evt_range_join", "q25_bucketed_join",
    // round 5: line dedup (expect explode + ONE agg shuffle on the line
    // fingerprint + one doc regroup; the dup-set join broadcast at spec
    // scale), quantized top-k (expect the native Int8Quantize, no HOF)
    "text_line_dedup", "sim_quant_topk",
    // round 5 cont.: vocab (one agg shuffle + bounded window), chunking
    // (pure map, no shuffle), group sample (one shuffle on the group),
    // z-values (broadcast bounds + codegen'd interleave, no shuffle),
    // full outer (shuffled hash/merge join both sides)
    "text_vocab", "text_chunk", "sample_group", "maint_zorder",
    "q28_full_outer",
    // round 5 cont. #2: bloom membership (expect the might_contain
    // filter BELOW the semi-join — map-side screen, survivors-only
    // shuffle), sorted-neighborhood (ONE shuffle on the block key, lag
    // window, no self-join), bm25 (broadcast query terms + pruned df
    // table + GroupTopK physical operator; only matching postings
    // shuffle); graph_pagerank is audited per-iteration semantics in
    // GraphSpec — its loop materializes eagerly like dedup_clusters
    "dedup_bloom", "dedup_sorted_nbr", "text_bm25",
    // shared spans (explode of the native gram-hash array + one agg
    // shuffle + broadcast-back, the lineDedup shape), triangles (three
    // equi-joins, no cartesian anywhere)
    "text_shared_spans", "graph_triangles",
    // exact set-similarity join: expect the candidate join on exploded
    // PREFIX postings (not full postings) and the verify join against
    // the persisted shingle table
    "dedup_prefix_pairs",
    // round 5 cont. #3: CDC merge (ONE max_by batch aggregate + ONE
    // full-outer SMJ, no window sort), substring scrub (gram explode +
    // one agg shuffle; rebuild only on affected docs), weighted sample
    // (bounded ticket explode + max agg + TakeOrdered + n-sized
    // broadcast join-back), k-hop BFS first round (frontier equi-join +
    // min agg); graph_khops/bpe run their loops eagerly like
    // dedup_clusters so only the relational kernels appear here
    "maint_merge", "text_scrub_spans", "mix_weighted",
    // round 5 cont. #5: drift/kanon/abtest/scd2 (each ONE dimension-sized
    // agg shuffle; scd2's three windows share one sort), winsorized
    // (dimension-sized percentile agg broadcast into the clamp scan),
    // co-purchase (persisted basket-attr table, domain²-sized pair agg),
    // snapshot + schema-evo reads (manifest-listed files, pushdown
    // preserved — also asserted in PlanSpec); dedup_keep_best runs the
    // eager CC loop like dedup_clusters, so only its election kernel
    // would appear — excluded for the same reason
    "dq_drift", "dq_kanon", "evt_abtest", "maint_scd2", "evt_winsorized",
    "rel_copurchase", "maint_snapshot", "maint_schema_evo",
    // round 5 cont. #6: hard negatives / knn vote (broadcast query set +
    // GroupTopK pruning, corpus scanned once — the topKExact shape),
    // label outliers (label-domain-sized centroid broadcast into one
    // scoring scan), overlap matrix (gram-fingerprint equi-join over the
    // persisted distinct table, |sources|²-bounded agg), token budget
    // (score-domain-sized cumulative broadcast into a filter; the only
    // unbounded window runs over the single boundary score-class)
    "sim_hard_negatives", "sim_knn_classify", "sim_label_outliers",
    "dedup_overlap_matrix", "mix_token_budget",
    // hybrid rrf: both legs broadcast the bounded query side (one corpus
    // scan + one docs scan), fusion aggregates the two k-sized slivers
    "sim_hybrid_rrf",
    // round 5 cont. #6b: gap fill (daily agg folds raw events before the
    // calendar-bounded grid explode; grid join + fill window share the
    // user partitioning), containment (a-prefix × full-posting equi-join,
    // one-sided size bound, verify on persisted sets), fuzzy match
    // (broadcast bounded query side, per-block candidates, codegen'd
    // levenshtein), temperature sample (source-domain count agg broadcast
    // into one ranked scan), fertility (two row-local regex kernels + one
    // lang-domain agg), set ops (aggregate-pruned distinct key sets →
    // semi/anti joins, nothing corpus-sized past the first agg)
    "evt_gapfill", "dedup_containment", "dedup_fuzzy_match",
    "mix_temperature", "text_fertility", "q30_setops",
    // ctx buckets (one agg shuffle; cumulative windows over the bucket
    // domain), corr audit (single one-row moment aggregate, map-side
    // partials); stream_topk is excluded like the other streaming keys
    // (the micro-batch plan isn't a single comparable batch plan)
    "text_ctx_buckets", "dq_corr",
    // lateral (DecorrelateInnerQuery must rewrite the per-row subquery to
    // a window/join — no re-execution node may survive), hive partition
    // (the read side scans ONE partition directory — also asserted in
    // LayoutSpec via selectedPartitions)
    "q31_lateral", "maint_hive_partition",
    // entropy (row-local melt explode + ONE agg shuffle + value-domain
    // windows), erase read-back (plain agg over the rewritten layout);
    // stream_dedup_wm excluded like the other streaming keys
    "meta_entropy", "maint_erase",
    // round 5 cont. #7: dau/mau (distinct (user,day) dimension → bounded
    // 28× contribution explode, both aggs on that dimension table, never
    // event-volume), pareto (user-count agg → dimension-global ranked
    // window + |tiers|-sized join), inter-arrival (ONE user_id window
    // shuffle + event-type-domain percentile agg), peak concurrency
    // (session bounds agg → 2·|sessions| sweep deltas under one RANGE
    // window), url canon (row-local regexp chain, one agg on the canon
    // key), benford (row-local digit projection + 9-row agg + 9-row
    // window), langid confusion (row-local predictor + |langs|² agg),
    // unpivot + cube (Expand fan-out map-side, ONE agg shuffle each)
    "evt_dau_mau", "evt_pareto", "evt_interarrival", "evt_peak_concurrency",
    "text_url_canon", "dq_benford", "text_langid_confusion",
    "q32_unpivot", "q33_cube",
    // round 5 cont. #8: churn (distinct (user,day) dimension → ONE
    // user window + day-sized aggs), rfm (customer-dimension fold;
    // the ntile windows run over the customer dimension), referential
    // (one left join per relation, counts ride the join), zipf
    // (TakeOrderedAndProject top-100 → tiny OLS fold), semdedup
    // (persisted centroid assignment → within-cluster-only self-join)
    "evt_churn", "rel_rfm", "dq_referential", "text_zipf", "sim_semdedup",
    // round 5 cont. #9: skyline (two-phase cummax: bucket-domain prefix
    // window + bucket-partitioned range windows, NO self-join), item-cf
    // (basket fold + row-local pair explode + broadcast totals),
    // seasonality (168-cell fold, moment sums, broadcast stats),
    // chi2 (grid-domain algebra after ONE corpus fold), equidepth
    // (distributed exact rank: domain-sized prefix + per-cell windows,
    // no single-partition sort over the corpus)
    "rel_skyline", "rel_item_cf", "evt_seasonality", "dq_chi2",
    "q34_equidepth",
    // round 5 cont. #10: assoc rules (the coPurchase basket fold +
    // row-local directed pair explode + broadcast totals), snaive
    // forecast (day-dimension fold, calendar-sized self-join),
    // readability (row-local regexp counts → (lang × band) agg),
    // key-skew diagnostic (one groupBy + TakeOrdered + 1-row scalar
    // broadcast — no second scan), cluster purity (bounded centroid
    // broadcast + GroupTopK argmax; domain-sized election)
    "rel_assoc_rules", "evt_forecast_snaive", "text_readability",
    "dq_skew", "sim_cluster_purity",
    // round 5 cont. #11: l-diversity (one quasi-tuple groupBy carrying
    // class size + distinct-sensitive count), frequent triples (basket
    // fold + row-local triple explode, domain-capped), dedup
    // downweighting (one fingerprint groupBy + row-local md5-digit
    // verdict + cluster-size-domain readout)
    "dq_ldiversity", "rel_triples", "mix_dedup_weight",
    // HLL rolling distinct (one day-sized sketch fold; the union window
    // runs over the calendar-sized daily table)
    "evt_rolling_distinct_hll",
    // round 5 cont. #12: cohort LTV (customer-dimension first-month
    // fold + one tag join; the cumsum window runs over the calendar
    // grid), script mix (row-local regexp counts → (lang × script)
    // agg), event-order audit (ONE user window + type-domain agg)
    "rel_ltv", "text_script_mix", "dq_event_order",
    // epoch plan (one corpus fold to group tokens; planning algebra on
    // the group-domain table), bot detect (ONE user window for gaps +
    // exact moment sums + 2-row readout)
    "mix_epoch_plan", "evt_bot_detect",
    // windowed funnel (user-dimension join chain with µs window bounds)
    "evt_funnel_windowed",
    // continuation batches: t-closeness (ONE corpus fold to the
    // (quasi × sensitive) grid; domain-sized cross + broadcast scalars
    // after), dp counts (one groupBy + row-local md5 noise projection),
    // hashed-LR (gram explode map-side, BROADCAST weight join — no
    // corpus shuffle for the lookup — one per-doc agg), cusum (one
    // fold to the day grid, ordered prefix windows over it), MAD
    // (two grouped percentile shuffles + dimension broadcasts back),
    // CMS verified (grid fold + broadcast grid probe join).
    // graph_label_prop / rel_prefixspan / sim_recall_at_k run eager
    // loops or MLlib fits at construction (the dedup_clusters rule);
    // maint_bloom_skip writes its index at construction;
    // maint_meta_count has NO plan by design (footers only);
    // stream_cms is excluded like the other streaming keys
    "dq_tcloseness", "dq_dp_counts", "text_hashed_lr", "evt_cusum",
    "dq_outlier_mad", "text_cms_verified",
    // round 5 cont.: KS / Mann-Whitney (ONE corpus fold to the
    // type × bin grid; every window runs over the bounded grid
    // partitioned by type — nothing corpus-sized sorts), FD audit
    // (two grouped folds per candidate + scalar agg, union of five)
    "dq_ks_test", "dq_mannwhitney", "dq_fd_audit",
    // Adamic-Adar (wedge equi-join through capped hubs + one anti-join
    // — no all-pairs), PMI (ONE tagged gram explode + count shuffle;
    // vocab-sized broadcast joins + TakeOrdered after)
    "graph_adamic_adar", "text_pmi",
    // radius search (broadcast query set, threshold prunes ON the scan
    // — no shuffle at all), curriculum (1-row percentile broadcast into
    // a persisted-score second pass; NO global sort/ntile), paths (one
    // user window shuffle → path-domain agg → TakeOrdered)
    "sim_radius", "mix_curriculum", "evt_paths",
    // ewma (one day-grid fold; calendar²-bounded self-join + moment
    // broadcast), power (ONE associative moment agg), degree stats
    // (adjacency fold + two equi-joins + one moment agg)
    "evt_ewma", "evt_power", "graph_degree_stats",
    // frame sample (pure map: synthesis + slice, no shuffle), rolling
    // corr (one day-grid fold; calendar-domain windows), windowed
    // distinct (two user-keyed window shuffles, nothing corpus-global)
    "mm_frame_sample", "evt_rolling_corr", "q35_window_distinct",
    // filter funnel (row-local CASE verdict → ≤5-row agg), migration
    // (customer-period fold + percentile broadcast + dimension
    // full-outer), split leakage (map-only assignment + one fp fold)
    "text_filter_funnel", "rel_migration", "dq_split_leakage",
    // bursts (day-grid fold + calendar windows; integer burst compare),
    // freshness (one grouped fold + 1-row frontier broadcast);
    // sim_kmeans runs its Lloyd loop eagerly (the dedup_clusters rule)
    "evt_bursts", "dq_freshness",
    // top movers (fact fold + brand-domain windows), constraint
    // suggestion (two associative passes + 1-row broadcasts);
    // graph_kcore peels eagerly (the dedup_clusters rule)
    "rel_top_movers", "dq_suggest_constraints",
    // decompose (one day-grid fold; integer OLS moments + ≤7-row dow
    // broadcast), compress ratio (pure mapPartitions stage), threshold
    // sweep (md5-stride sample caps the quadratic; one agg pass)
    "evt_decompose", "text_compress_ratio", "sim_threshold_sweep",
    // delete vector (MoR scan = manifest files + ONE broadcast
    // anti-join), filtered topk (predicate semi-join BEFORE scoring),
    // srm (one conditional-count agg)
    "maint_delete_vector", "sim_filtered_topk", "evt_srm",
    // MoR upsert (one write pair + broadcast sequence-bounded
    // anti-join), key audit (grouped fold + scalar agg ×5), cuped
    // (user fold → pooled 1-row θ → variant moment agg)
    "maint_upsert_mor", "dq_key_audit", "evt_cuped",
    // markov2 (one user window shuffle → arity³-domain ranking +
    // TakeOrdered), yoy (fact fold + calendar-domain lag);
    // stream_sliding is excluded like the other streaming keys
    "evt_markov2", "rel_yoy",
    // seq match (one user window shuffle → journey fold → map-side
    // regex), spearman (domain folds + broadcast rank join-backs +
    // one moment agg), clustering coeff (triangle equi-join tree +
    // degree fold, combine on the node domain)
    "evt_seq_match", "dq_spearman", "graph_cluster_coeff",
    // target encode (two broadcast join-backs onto a pruned scan, no
    // fact shuffle), jsd drift (one gram explode + one token fold +
    // broadcast totals + TakeOrdered), anova (two-level moment fold)
    "feat_target_encode", "text_jsd_drift", "dq_anova",
    // did (user fold → 2-row group fold → scalar pivot), time-to-convert
    // (two user folds + user equi-join, 24-row final agg), neyman
    // (stratum fold + broadcast allocation + map-side threshold)
    "evt_did", "evt_time_to_convert", "sample_neyman",
    // woe (fact⋈dim join + category fold + 1-row broadcast), user
    // profile (sample pruned at the scan → one window + one fold);
    // stream_funnel is excluded like the other streaming keys
    "feat_woe", "feat_user_profile",
    // priority SLA + temporal audit (each one fact⋈fact equi-join +
    // domain fold); ivfpq and pq (ADC scan over the byte-code index +
    // candidate re-rank — the codebook collects eagerly like sim_ivf)
    "rel_priority_sla", "dq_temporal", "sim_ivfpq_topk", "sim_pq_topk",
    // keyphrase (one persisted phrase explode feeding word/phrase folds
    // + phrase-domain score join + TakeOrdered), heaps (row-local
    // points, one moment agg); stream_hll_distinct excluded (streaming)
    "text_keyphrase", "text_heaps",
    // phash (one codegen'd map stage over the sampled slice: one native
    // DHash call per row, about 30 expression nodes), share
    // (fact fold + broadcast dims + domain windows), reconcile (ONE
    // full-outer co-shuffle + scalar counters)
    "mm_phash", "q36_share", "dq_reconcile",
    // r14: banded near-dup — expect the 4-chunk explode + ONE equi-join
    // on (k, chunk) with NO cartesian, the persisted signature scan on
    // both sides (built by the native DHash kernel), and codegen'd
    // conv/xor/bit_count verification
    "mm_near_dup",
    // causal impact (one day fold, everything else domain-sized),
    // substitutes (bounded pair domain + restricted basket self-join);
    // feat_pca excluded: the MLlib fit collects eagerly at construction
    "evt_causal_impact", "rel_substitutes",
    // price-volume-mix (one filtered fold + broadcast dim), bootstrap
    // (bounded B-explode folding map-side to B groups + 1-row point
    // estimate); graph_modularity excluded: its label-prop loop runs
    // eagerly like pagerank
    "rel_price_volume_mix", "sample_bootstrap_ci",
    // trend mining (fact fold → grid → moment fold → TakeOrdered),
    // kfold (map-side assignment + k-row fold), trunc recall (persisted
    // full ranking + per-arm equi-joins over sliced scans)
    "rel_trend_by_group", "feat_kfold", "sim_trunc_recall",
    // mttr (ONE user window, FOLLOWING-frame min, no self-join), OOF
    // encode (two broadcast folds, facts never shuffled);
    // maint_migrate_format excluded (write+read round trip is the op)
    "evt_mttr", "feat_target_encode_oof",
    // abc-xyz (fact fold → part-domain windows), scaler (1-row fit
    // broadcast into a pruned row-local transform), table hash (three
    // scan-side folds, no shuffle beyond the 1-row aggregates)
    "rel_abc_xyz", "feat_scaler", "dq_table_hash",
    // embedding health (one codegen'd scan + scalar fold), heatmap
    // (one 168-cell fold), basket size (order fold + size-domain fold)
    "sim_embedding_health", "evt_dow_hour_heatmap", "rel_basket_size",
    // scorecard (ONE multi-metric fold + broadcast dim + TakeOrdered),
    // value bands (one type-domain percentile fold)
    "rel_supplier_scorecard", "evt_value_bands",
    // auc (domain rank fold + broadcast join-back + scalar agg),
    // aging (1-row as-of broadcast + 4-row fold); nprobe sweep
    // excluded: its ivf arms collect centroids eagerly like sim_kmeans
    "feat_auc", "rel_order_aging",
    // the composed feature flow (two broadcast fits + join on the
    // sampled slice, ONE plan), supervised bins (percentile broadcast
    // + row-local binning + bin-domain fold)
    "pipeline_features", "feat_supervised_bins",
    // rare levels (domain folds, one per column), vocab coverage
    // (gram explode + type fold + domain prefix windows)
    "dq_rare_levels", "text_vocab_coverage",
    // round 7: gains/calibration (one ranked fold over the doc
    // dimension + tile-domain windows), hazard (ONE user fold +
    // day-domain windows), lexdiv/uplift (dimension folds + bounded
    // windows), mutual info (one contingency fold + cell-domain
    // window), HHI (fact fold → nation-domain algebra)
    "feat_gains", "feat_calibration", "evt_hazard", "text_lexdiv",
    "evt_uplift", "feat_mutual_info", "rel_hhi",
    // round 7 cont.: acf/adf (day-grid fold + calendar-index joins +
    // 1-row moment broadcasts), xi (GroupTopK sample → per-group
    // bounded rank windows), anova2 (one cell fold + tiny frame-order
    // windows), silhouette (quantized centroid fold + broadcast
    // scoring scan), bayes ab (one conditional-count fold), jaccard
    // (capped wedge equi-join + degree join-backs + TakeOrdered);
    // graph_wcc excluded: the min-label loop runs eagerly (the
    // dedup_clusters rule)
    "evt_acf", "evt_adf", "dq_xi_corr", "dq_anova2", "sim_silhouette",
    "evt_bayes_ab", "graph_jaccard",
    // round 7 cont. #2: burstiness (one (doc,term) fold + TakeOrdered
    // + 1-row broadcast), user entropy (one fold + per-user bounded
    // windows), ILD (topKExact leg + within-list-only self-join), WAV
    // decode (pure mapPartitions, no shuffle), code detect (row-local
    // regexp kernels + one source-domain fold)
    "text_burstiness", "evt_user_entropy", "sim_ild", "mm_audio",
    "text_code_detect",
    // round 7 cont. #3: funnel CI (the funnel join chain + 3-row
    // Wilson algebra), new-vs-repeat (ONE customer window + month
    // fold), rand proj (quantized fold + broadcast sign join + pair
    // equi-join, distances row-local), repeat interval (customer lag
    // window + dim join + segment percentile fold), price dispersion
    // (fact⋈broadcast-dim + brand moment fold)
    "evt_funnel_ci", "rel_new_repeat", "feat_rand_proj",
    "rel_repeat_interval", "rel_price_dispersion",
    // round 7 cont. #4: dup rate (two-level fingerprint fold), SLO
    // burn (one day-grid fold + calendar prefix windows), level drift
    // (1-row bounds broadcast + level-domain folds), dow ANOVA
    // (day-grid fold + ≤7-row frame-order scalar)
    "text_dup_rate", "evt_slo_burn", "dq_level_drift", "evt_dow_anova",
    // effective tokens (row-local tokenize+fingerprint, ONE
    // fingerprint-partitioned winner window, source fold + 1-row pool)
    "mix_effective_tokens",
    // round 12: CDC chunking (one per-doc window shuffle for the
    // exclusive prefix sum; the chunk reassembly groupBy reuses the
    // window's doc_id partitioning — no second exchange — and the
    // twin/orig audit equi-joins the PERSISTED chunk table)
    "dedup_cdc_chunks",
    // r15: the pure-SQL kernel face — same shape as the minhash family:
    // persisted signature scan on both sides of ONE (band, bhash)
    // equi-join, codegen'd native kernels in the projection, no cartesian
    "q37_sql_kernels",
    // r15: stored-index ANN serving — expect the codes scan broadcast-
    // joined to the probed queries (no quantizer training subtree, no
    // cartesian; the build side runs eagerly before the returned plan)
    "sim_index_persist",
    // the shingle toolkit's remaining consumers: exact verification of
    // the banded candidates (self-join and batch-vs-corpus: the tokenized
    // frames join both pair sides), decontamination (gram-hash explode +
    // broadcast benchmark set + one per-doc fold), DSIR (one persisted
    // uni+bigram explode feeding both bucket LMs + broadcast scoring)
    "dedup_minhash_verified", "dedup_incremental", "text_decontam", "mix_dsir")
    // evt_audience_overlap is excluded like dedup_clusters: its
    // domain-sized sketch table collects eagerly at construction, so
    // only the trivial driver-built result frame would be explained

  /** Expression nodes in a plan: every node of every operator's
    * expressions, subquery plans included. Spark analyses, optimizes
    * and code-generates this tree again on every run, so a per-cell
    * expression fan-out shows here and not in task time. */
  def exprNodes(plan: LogicalPlan): Int =
    plan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect { case e => e }.size).sum
    }.sum

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val keys = if (args.length > 2) args.drop(2).toSeq else audited
    val unknown = keys.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    // plan text depends on the partition count: audit at a fixed width
    val spark = Sessions.create(8)
    val sb = new StringBuilder
    keys.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val nodes = exprNodes(df.queryExecution.optimizedPlan)
      sb.append(s"\n================ $name expr_nodes=$nodes ================\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
