package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's query inventory, one entry per operator family from
  * SURVEY.md §2 plus the training-data extensions. EVERY query has a
  * DuckDB oracle in [[oracles]]: signature operators hash with
  * cross-engine-reproducible FNV arithmetic, and even the multi-probe
  * ANN family (q24/q28/q38) — approximate relative to brute force but
  * fully deterministic — is replayed exactly in SQL from the embedded
  * splitmix64 hyperplane-weight matrix / centroid arithmetic.
  *
  * Determinism contract with the oracle:
  *  - double aggregates go through [[ExactNum]] (exact decimal sums);
  *  - top-k / window ranks always carry a unique tie-break key;
  *  - window starts are emitted as epoch-second BIGINTs (no tz ambiguity).
  */
object QueryPack
    extends RelationalQueries
    with EventQueries
    with TextQueries
    with DedupQueries
    with VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  val all: Map[String, Q] = Map(
    "q01_pricing_summary"   -> (pricingSummary _),
    "q02_region_revenue"    -> (regionRevenue _),
    "q03_join_priority"     -> (joinPriority _),
    "q04_topk_orders"       -> (topkOrders _),
    "q05_window_rank"       -> (windowRank _),
    "q06_anti_join"         -> (antiJoin _),
    "q07_semi_join"         -> (semiJoin _),
    "q08_distinct_agg"      -> (distinctAgg _),
    "q09_union_nations"     -> (unionNations _),
    "q10_event_window_sum"  -> (eventWindowSum _),
    "q11_event_conditional" -> (eventConditionalWindow _),
    "q12_event_json"        -> (eventJsonExtract _),
    "q13_sessionize"        -> (sessionize _),
    "q14_event_top_users"   -> (eventTopUsers _),
    "q15_dedup_exact"       -> (dedupExact _),
    "q16_token_stats"       -> (tokenStats _),
    "q17_quality_stats"     -> (qualityStats _),
    "q18_langid"            -> (langId _),
    "q19_fingerprint"       -> (fingerprints _),
    "q20_minhash_lsh"       -> (minhashPairs _),
    "q21_simhash"           -> (simhashSignatures _),
    "q22_jaccard_pairs"     -> (jaccardPairs _),
    "q23_knn_brute"         -> (knnBrute _),
    "q24_knn_lsh"           -> (knnLsh _),
    "q25_centroid_stats"    -> (centroidStats _),
    "q26_media_meta"        -> (mediaMeta _),
    "q27_emb_neardup"       -> (embNearDupExact _),
    "q28_emb_neardup_lsh"   -> (embNearDupLsh _),
    "q29_media_decode"      -> (mediaDecode _),
    "q30_media_frames"      -> (mediaFrames _),
    "q31_subword_stats"     -> (subwordStats _),
    "q32_simhash_neardup"   -> (simhashNearDups _),
    "q33_rollup"            -> (rollupSummary _),
    "q34_setops"            -> (setOpsNations _),
    "q35_running_total"     -> (runningTotal _),
    "q36_above_avg"         -> (aboveAvgBalance _),
    "q37_session_windows"   -> (sessionWindows _),
    "q38_knn_ivf"           -> (knnIvf _),
    "q39_percentiles"       -> (percentiles _),
    "q40_price_histogram"   -> (priceHistogram _),
    "q41_quality_score"     -> (qualityScoreStats _),
    "q42_asof_join"         -> (asofLatestOrder _),
    "q43_event_pivot"       -> (eventTypePivot _),
    "q44_cube"              -> (cubeSummary _),
    "q45_dup_clusters"      -> (dupClusters _),
    "q46_hash_split"        -> (hashSplit _),
    "q47_tfidf_terms"       -> (tfidfTerms _),
    "q48_grouping_sets"     -> (groupingSetsSummary _),
    "q49_normalized_dedup"  -> (normalizedDedup _),
    "q50_range_join"        -> (rangeJoinEvents _),
    "q51_weighted_mix"      -> (weightedMix _),
    "q52_sliding_window"    -> (slidingWindowCounts _),
    "q53_pii_scan"          -> (piiScan _),
    "q54_dedup_survivors"   -> (dedupSurvivors _),
    "q55_decontam"          -> (decontamination _),
    "q56_repetition"        -> (repetitionStats _),
    "q57_user_gaps"         -> (userGaps _),
    "q58_above_own_avg"     -> (aboveOwnAvg _),
    "q59_mode"              -> (modeQuantity _),
    "q60_bigram_topk"       -> (topBigrams _),
    "q61_stratified_sample" -> (stratifiedSample _),
    "q62_full_outer"        -> (fullOuterNation _),
    "q63_token_budget"      -> (tokenBudget _),
    "q64_emb_quantize"      -> (embQuantize _),
    "q65_containment"       -> (containmentDups _),
    "q66_ntile_quartiles"   -> (ntileQuartiles _),
    "q67_monthly_orders"    -> (monthlyOrders _),
    "q68_trailing_window"   -> (trailingWindowOrders _),
    "q69_sequence_pack"     -> (sequencePack _),
    "q70_rank_metrics"      -> (rankMetrics _),
    "q71_salted_agg"        -> (saltedEventSum _),
    "q72_curation"          -> (curationFunnel _),
    "q73_collect_agg"       -> (collectAgg _),
    "q74_regex_extract"     -> (regexExtractAudit _),
    "q75_first_last"        -> (firstLastOrders _),
    "q76_unpivot"           -> (unpivotEventCounts _),
    "q77_setops_all"        -> (setOpsAll _),
    "q78_quantifiers"       -> (tokenQuantifiers _),
    "q79_gap_fill"          -> (gapFilledDaily _),
    "q80_emb_neardup_lsh_auto" -> (embNearDupLshAuto _),
    "q81_chunking"          -> (chunkDocs _),
    "q82_frame_index"       -> (frameIndexStats _),
    "q83_cross_dedup"       -> (crossCorpusDedup _),
    "q84_semdedup"          -> (semanticDedupStats _),
    "q85_prototypes"        -> (prototypePruneStats _),
    "q86_image_dhash"       -> (imageDHashPairs _),
    "q87_bpe_tokens"        -> (bpeTokenStats _),
    "q88_emb_neardup_ids"   -> (embNearDupIdsOnly _),
    "q89_semdedup_top2"     -> (semanticDedupTop2Stats _),
    "q90_unigram_surprisal" -> (unigramSurprisal _),
    "q91_bm25"              -> (bm25TopDocs _),
    "q92_dup_spans"         -> (dupSpans _),
    "q93_jl_project"        -> (jlProjection _),
    "q94_bloom_decontam"    -> (bloomDecontam _),
    "q95_dup_span_extents"  -> (dupSpanExtents _),
    "q96_bigram_surprisal"  -> (bigramSurprisal _),
    "q97_span_scrub"        -> (spanScrub _),
    "q98_alpha_sample"      -> (alphaSample _),
    "q99_c4_filter"         -> (c4Filter _),
    "q100_pii_redact"       -> (piiRedact _),
    "q101_quality_survivors" -> (qualitySurvivors _),
    "q102_quality_classifier" -> (qualityClassifier _),
    "q103_cdc_dedup"        -> (cdcChunkDedup _),
    "q104_knn_pq"           -> (knnPq _),
    "q105_kmv_distinct"     -> (kmvDistinct _),
    "q106_zorder"           -> (zorderLayoutStats _),
    "q107_hybrid_retrieval" -> (hybridRetrieval _),
    "q108_audio_index"      -> (audioIndexStats _),
    "q109_url_dedup"        -> (urlDedup _),
    "q110_mmr_diverse"      -> (mmrDiverse _),
    "q111_html_extract"     -> (htmlExtract _),
    "q112_cms_topk"         -> (cmsTopk _),
    "q113_weighted_sample"  -> (weightedSample _),
    "q114_collocations"     -> (collocations _),
    "q115_skyline"          -> (qualitySkyline _),
    "q116_spell_pairs"      -> (spellPairs _),
    "q117_trigram_lm"       -> (trigramSurprisal _),
    "q118_pagerank"         -> (pagerank _),
    "q119_inverted_index"   -> (invertedIndex _),
    "q120_kmv_rollup"       -> (kmvRollup _),
    "q121_funnel"           -> (funnel _),
    "q122_cohort_retention" -> (cohortRetention _),
    "q123_source_minhash"   -> (sourceMinhash _),
    "q124_hist_quantile"    -> (histQuantile _),
    "q125_scd2"             -> (scd2Orders _),
    "q126_triangles"        -> (triangleTop _),
    "q127_rendezvous_shards" -> (rendezvousShards _),
    "q128_split_leakage"    -> (splitLeakage _),
    "q129_novelty"          -> (noveltyStats _),
    "q130_bpe_learn"        -> (bpeLearn _),
    "q131_incr_dedup"       -> (incrementalDedup _),
    "q132_mutual_knn"       -> (mutualKnn _),
    "q133_compaction_plan"  -> (compactionPlan _),
    "q134_host_stats"       -> (hostStats _),
    "q135_bpe_fertility"    -> (bpeFertility _),
    "q136_mix_schedule"     -> (mixSchedule _),
    "q137_clustering_coeff" -> (clusteringCoeff _),
    "q138_event_anomalies"  -> (eventAnomalies _),
    "q139_session_pairs"    -> (sessionPairs _),
    "q140_embedding_drift"  -> (embeddingDrift _),
    "q141_dataset_card"     -> (datasetCard _),
    "q142_graph_curation"   -> (graphCuration _),
    "q143_kmv_overlap"      -> (kmvOverlap _),
    "q144_group_split"      -> (groupSplit _),
    "q145_incr_ann"         -> (knnIncremental _),
    "q146_bpe_heldout"      -> (bpeHeldout _),
  )

  /** Every query's DuckDB oracle, concatenated from the family files. */
  val oracles: Map[String, String] =
    relationalOracles ++ eventOracles ++ textOracles ++ dedupOracles ++ vectorOracles

  /** Queries whose PURPOSE is replaying a documented anti-pattern so an
    * oracle can pin its arithmetic — quadratic exact twins and hand-dial
    * LSH replays, each bounded to a deterministic id slice and each with
    * a named production-path sibling (q27→q80, q28/q88→q80, q22→q20,
    * q83's exact leg→its LSH leg). Bench reports `total_production`
    * (the inventory minus these) next to `total`, so the headline scale
    * number reads the paths a deployment runs, with replay cost broken
    * out instead of buried.
    */
  val replayTwins: Set[String] = Set(
    "q22_jaccard_pairs", "q27_emb_neardup", "q28_emb_neardup_lsh",
    "q88_emb_neardup_ids",
    // bounded fixed-cell twin of mutualKnnGraphAuto (the √n-cell
    // production quantizer, spec-gated + measured in SCALING.md)
    "q132_mutual_knn",
    // its curation composition rides the same fixed-cell twin graph;
    // the production composition (mutualKnnGraphAuto + CC + curation)
    // is GraphCurationSpec-gated and measured in SCALING.md's
    // "Mutual-kNN graph" section
    "q142_graph_curation")
}
