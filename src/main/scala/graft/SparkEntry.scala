package graft

import graft.core.Tables
import graft.ext.{CorpusIndex, Dedup, Sampling, Similarity, SuffixArray, TextAnalysis}
import graft.functions.ExactAgg.{Sql => O}
import graft.operators.{Analytics, DataQuality, DictEncode, Incremental, Ingest, Serving}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator shape from SURVEY §2 (or a
  * beyond-reference LLM-pipeline operator), implemented in the graft.*
  * packages; `oracleSql` holds the equivalent DuckDB SQL over the same
  * parquet tables. Aggregates over money/measure doubles use the
  * order-independent decimal kernels of [[graft.functions.ExactAgg]] and
  * their SQL mirrors, so both engines produce bit-identical doubles.
  * Every query has an oracle entry: the sketch/LSH/ANN family hashes with
  * engine-portable arithmetic that DuckDB replays ([[SketchOracleSql]]).
  */
object SparkEntry {

  private def q(fn: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => fn(Tables(s, dir))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Ingest.dailySummaryBitmap(Tables(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2 (+ext). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── batch ETL spine (S1, P1-P4, A1, O4) ──
    "q01_agg_stats" -> q(Analytics.aggStats),
    "q02_ingest_clean" -> q(t =>
      Ingest.cleanFact(t).orderBy(col("order_id"), col("line_number"))),
    // production path is the one-pass BitmapDistinct plan (no Expand);
    // the two-countDistinct Expand form stays as the semantic reference,
    // equality pinned in BitmapDistinctSpec
    "q03_daily_summary" -> q(Ingest.dailySummaryBitmap),
    // ── aggregations (A2-A10) ──
    "q04_count_distinct" -> q(Analytics.countDistinctByPriority),
    "q05_conditional_agg" -> q(Analytics.conditionalAgg),
    "q06_hourly_series" -> q(Analytics.hourlySeries),
    "q07_multilevel_agg" -> q(Analytics.multiLevelAgg),
    "q08_corr" -> q(Analytics.corrByFlag),
    "q09_collect_set" -> q(Analytics.collectSetByUser),
    "q10_global_stats" -> q(Analytics.globalStats),
    "q40_approx_distinct" -> q(t => Analytics.kmvDistinct(t)),
    // ── joins (J3, J4, J8, J9, J10, J11, P7) ──
    "q11_join_dim_broadcast" -> q(Analytics.customerByRegion),
    "q12_join_multikey" -> q(Analytics.pickupDropoffJoin),
    "q13_join_expr" -> q(Analytics.joinOnExpr),
    "q14_self_agg_join" -> q(Analytics.selfAggJoin),
    "q15_double_dim_join" -> q(Analytics.doubleDimJoin),
    "q44_join_bucketed" -> q(t => operators.Bucketed.orderLineRollup(t)),
    "q46_asof_join" -> q(operators.TemporalJoins.purchaseAttribution),
    "q47_range_join" -> q(t => operators.TemporalJoins.eventPairsWithin(t)),
    // ── window functions (W1-W5, W7) ──
    "q16_window_lag" -> q(Analytics.windowLag),
    "q17_window_rolling" -> q(Analytics.windowRolling),
    "q18_ntile" -> q(Analytics.ntileDecile),
    "q19_window_over_agg" -> q(Analytics.windowOverAgg),
    "q20_peak_hour" -> q(Analytics.peakHour),
    // ── serving shapes + scalar surface (O1-O6, §2.8) ──
    "q21_recent" -> q(t => Serving.recentEvents(t)),
    "q22_topk_revenue" -> q(t => Serving.topRevenueUsers(t)),
    "q23_scalar_datetime" -> q(Serving.scalarDatetime),
    "q24_case_encode" -> q(Serving.caseEncode),
    "q25_math_funcs" -> q(Serving.mathFuncs),
    "q26_future_grid" -> q(t => Serving.futureDemandGrid(t)),
    "q27_tumbling_window" -> q(Serving.tumblingWindowAgg),
    "q28_json_parse" -> q(Serving.jsonParse),
    // ── ext: dedup / text analysis / similarity ──
    "q29_dedup_exact" -> q(Dedup.exact),
    "q30_text_stats" -> q(TextAnalysis.textStats),
    "q31_lang_id" -> q(TextAnalysis.langId),
    "q32_fingerprint" -> q(TextAnalysis.fingerprint),
    "q33_minhash_signatures" -> q(t => Dedup.minhashSignatures(t)),
    "q34_minhash_dup_pairs" -> q(t =>
      Dedup.minhashDupPairs(t, minJaccard = 0.2)),
    "q35_simhash" -> q(t => Dedup.simhashFingerprints(t)),
    "q36_ngram_jaccard" -> q(Dedup.ngramJaccardSample),
    "q45_dup_clusters" -> q(t => Dedup.dupClusters(t, minJaccard = 0.2)),
    "q37_ann_bruteforce" -> q(t => Similarity.bruteForceTopK(t)),
    "q38_ann_lsh" -> q(t => Similarity.lshBucketedTopK(t)),
    "q39_embedding_stats" -> q(Similarity.embeddingStats),
    "q41_embedding_near_dups" -> q(t => Dedup.embeddingNearDups(t)),
    "q43_ann_ivf" -> q(t => Similarity.ivfTopK(t)),
    "q42_token_counts" -> q(TextAnalysis.tokenCounts),
    "q48_dataset_splits" -> q(graft.ext.Sampling.documentSplits),
    "q49_sessionization" -> q(t => Analytics.userSessions(t)),
    "q50_tfidf_topk" -> q(t => TextAnalysis.topTerms(t)),
    "q51_percentiles" -> q(Analytics.pricePercentiles),
    "q52_histogram" -> q(t => Analytics.priceHistogram(t)),
    "q53_pivot" -> q(Analytics.eventTypePivot),
    "q54_unpivot" -> q(Analytics.eventTypeUnpivot),
    "q55_bitmap_distinct" -> q(Ingest.dailySummaryBitmap),
    "q56_data_mix" -> q(graft.ext.Sampling.documentMix),
    "q57_rollup" -> q(Analytics.monthlyRollup),
    "q58_demand_features" -> q(Analytics.demandFeatures),
    "q59_zone_activity" -> q(Analytics.zoneActivityBatch),
    "q60_dict_bitmap_distinct" -> q(DictEncode.distinctUsersByType),
    "q61_repetition" -> q(TextAnalysis.repetitionStats),
    "q62_decontamination" -> q(TextAnalysis.decontamination),
    "q63_pii_redact" -> q(TextAnalysis.piiRedact),
    "q64_vocabulary" -> q(t => TextAnalysis.vocabulary(t)),
    "q65_cube" -> q(Analytics.flagStatusCube),
    "q66_set_ops" -> q(Analytics.setOpsUsers),
    "q67_data_card" -> q(graft.ext.Sampling.dataCard),
    "q68_dedup_corpus" -> q(t => Dedup.dedupedCorpus(t, minJaccard = 0.2)),
    "q69_sequence_packing" -> q(t => graft.ext.Sampling.packSequences(t)),
    "q70_mixture_weights" -> q(graft.ext.Sampling.mixtureWeights),
    "q71_quality_funnel" -> q(TextAnalysis.qualityFunnel),
    "q72_chunking" -> q(t => TextAnalysis.chunkDocuments(t)),
    "q73_source_cap" -> q(t => graft.ext.Sampling.capPerSource(t)),
    "q74_event_funnel" -> q(Analytics.eventFunnel),
    "q75_cohort_retention" -> q(Analytics.cohortRetention),
    "q76_bloom_semi_join" -> q(t => operators.RuntimeFilter.bloomSemiJoinStats(t)),
    "q77_frequent_bigrams" -> q(t => TextAnalysis.frequentBigrams(t)),
    "q78_ann_quantized" -> q(t => Similarity.quantizedTopK(t)),
    "q79_pagerank" -> q(t => operators.Graph.pageRankZones(t)),
    "q80_robust_outliers" -> q(t => Analytics.robustOutliers(t)),
    "q81_salted_agg" -> q(t => Analytics.saltedEventStats(t)),
    "q82_triangle_stats" -> q(operators.Graph.triangleStats),
    "q83_bigram_lm" -> q(TextAnalysis.bigramFluency),
    "q84_duplicate_spans" -> q(t => Dedup.duplicateSpans(t)),
    "q85_cumulative_distinct" -> q(Analytics.cumulativeDistinctUsers),
    "q86_cms_heavy_hitters" -> q(t => TextAnalysis.cmsHeavyHitters(t)),
    "q87_ranking_suite" -> q(Analytics.rankingSuite),
    "q88_semdedup" -> q(t => Similarity.semDedup(t)),
    "q89_salted_join" -> q(t => Analytics.saltedSelfAggJoin(t)),
    "q90_split_drift" -> q(t => graft.ext.Sampling.splitDrift(t)),
    "q91_scd2_history" -> q(Analytics.scd2History),
    "q92_sliding_distinct" -> q(t => Analytics.slidingDistinctUsers(t)),
    "q93_value_trend" -> q(Analytics.valueTrend),
    "q94_inverted_index" -> q(TextAnalysis.invertedIndex),
    "q95_keyword_search" -> q(t => TextAnalysis.keywordSearch(t)),
    "q96_gap_fill" -> q(Analytics.gapFillHourly),
    "q97_sliding_window" -> q(Serving.slidingWindowAgg),
    "q98_range_frame" -> q(Analytics.trailingHourActivity),
    "q99_incremental_dedup" -> q(t => Dedup.incrementalDupPairs(t)),
    "q100_training_corpus" -> q(t =>
      graft.ext.TrainingPipeline.trainingCorpus(t)),
    "q101_data_profile" -> q(Analytics.dataProfile),
    "q102_equidepth_histogram" -> q(t => Analytics.equiDepthHistogram(t)),
    "q103_referential_integrity" -> q(Analytics.referentialIntegrity),
    "q104_cumulative_approx_distinct" -> q(t => Analytics.cumulativeApproxDistinct(t)),
    "q105_grouped_equidepth" -> q(t => Analytics.groupedEquiDepthHistogram(t)),
    "q106_ann_ivf_quantized" -> q(t => Similarity.ivfQuantizedTopK(t)),
    "q107_equidepth_approx" -> q(t => Analytics.equiDepthHistogramApprox(t)),
    "q108_grouped_equidepth_approx" -> q(t =>
      Analytics.groupedEquiDepthHistogramApprox(t)),
    "q109_cumulative_quantiles" -> q(t => Analytics.cumulativeQuantiles(t)),
    "q110_maximal_dup_spans" -> q(t => Dedup.maximalDuplicateSpans(t)),
    "q111_quality_classifier" -> q(t => TextAnalysis.qualityClassifier(t)),
    "q112_topk_per_group" -> q(t => Sampling.topDocsPerSource(t)),
    "q113_zorder_layout" -> q(t => graft.sources.Layout.zOrderPreview(t)),
    "q114_group_sample" -> q(t => Sampling.sampleKPerSource(t)),
    "q115_corr_matrix" -> q(Analytics.corrMatrix),
    "q116_top_terms_per_lang" -> q(t => TextAnalysis.topTermsPerLang(t)),
    "q117_bpe_merges" -> q(t => graft.ext.Bpe.bpeMerges(t)),
    "q118_bpe_encode" -> q(t => graft.ext.Bpe.bpeEncode(t)),
    "q119_token_budget_mix" -> q(t => Sampling.tokenBudgetMix(t)),
    "q120_bpe_batched" -> q(t => graft.ext.Bpe.bpeMergesBatched(t)),
    "q121_image_near_dups" -> q(t => graft.ext.Multimodal.imageNearDupsFromDocs(t)),
    "q122_audio_near_dups" -> q(t => graft.ext.Multimodal.audioNearDupsFromDocs(t)),
    "q123_maximal_spans_exact" -> q(t => Dedup.maximalDuplicateSpansExact(t)),
    "q124_bm25_search" -> q(t => TextAnalysis.bm25Search(t)),
    "q125_snapshot_diff" -> q(t => graft.sources.Snapshots.diffDemoOrders(t)),
    "q126_compaction_report" -> q(t => graft.sources.TableIO.compactionReportDemo(t)),
    "q127_incremental_dedup_served" -> q(t =>
      Dedup.incrementalDupPairsServedDemo(t)),
    "q128_append_evolution" -> q(t => graft.sources.TableIO.appendEvolutionDemo(t)),
    "q129_partition_refresh" -> q(t => graft.sources.TableIO.refreshPartitionsDemo(t)),
    "q130_ctas" -> q(t => graft.sources.TableIO.ctasDemo(t)),
    "q131_truncate_reload" -> q(t => graft.sources.TableIO.truncateReloadDemo(t)),
    "q132_json_roundtrip" -> q(t => graft.sources.Sources.jsonRoundTripDemo(t)),
    "q133_csv_roundtrip" -> q(t => graft.sources.Sources.csvRoundTripDemo(t)),
    "q134_orc_roundtrip" -> q(t => graft.sources.Sources.orcRoundTripDemo(t)),
    "q135_jdbc_roundtrip" -> q(t => graft.sources.Sources.jdbcRoundTripDemo(t)),
    "q136_embedding_covariance" -> q(t => Similarity.embeddingCovariance(t)),
    "q137_fuzzy_join" -> q(t => graft.ext.FuzzyJoin.fuzzyNameJoin(t)),
    "q138_sparse_cosine_pairs" -> q(t => Similarity.sparseCosinePairs(t)),
    "q139_join_cardinality_kmv" -> q(t => Analytics.joinCardinalityKmv(t)),
    "q140_key_skew_profile" -> q(t => Analytics.keySkewProfile(t)),
    "q141_hard_negatives" -> q(t => Similarity.hardNegatives(t)),
    "q142_chi_square" -> q(t => Analytics.chiSquareIndependence(t)),
    "q143_source_overlap" -> q(t => TextAnalysis.sourceOverlap(t)),
    "q144_neyman_allocation" -> q(t => Sampling.neymanAllocation(t)),
    "q145_hilbert_layout" -> q(t => graft.sources.Layout.hilbertPreview(t)),
    "q146_span_removal" -> q(t => Dedup.removeDuplicateSpans(t)),
    "q147_sparse_cosine_exact" -> q(t => Similarity.sparseCosinePairsExact(t)),
    "q148_hybrid_search" -> q(t => Similarity.hybridSearch(t)),
    "q149_eps_neighbor_pairs" -> q(t => Similarity.epsNeighborPairs(t)),
    "q150_inference_batches" -> q(t => Sampling.inferenceBatches(t)),
    "q151_knn_label_eval" -> q(t => Similarity.knnLabelEval(t)),
    "q152_view_refresh" -> q(t => Incremental.viewRefreshDemo(t)),
    "q153_label_propagation" -> q(t => Similarity.labelPropagation(t)),
    "q154_entity_resolution" -> q(t => graft.ext.FuzzyJoin.entityClusters(t)),
    "q155_grouping_sets" -> q(Analytics.groupingSetsReport),
    "q156_golden_record" -> q(t => graft.ext.FuzzyJoin.goldenRecords(t)),
    "q157_dq_audit" -> q(DataQuality.auditReport),
    "q158_event_transitions" -> q(Analytics.eventTransitions),
    "q159_gap_interpolate" -> q(Analytics.gapInterpolateHourly),
    "q160_dedup_keep_best" -> q(t => Dedup.dedupKeepBest(t)),
    "q161_embedding_standardize" -> q(Similarity.embeddingStandardize),
    "q162_association_rules" -> q(t => graft.operators.Associations.brandRules(t)),
    "q163_pca_power_iteration" -> q(t => graft.ext.Spectral.pcaPowerIteration(t)),
    "q164_audience_overlap" -> q(t => Analytics.audienceOverlap(t)),
    "q165_event_paths" -> q(t => Analytics.eventPaths(t)),
    "q166_anova" -> q(Analytics.anovaByType),
    "q167_seasonal_decompose" -> q(Analytics.seasonalDecompose),
    "q168_attribution" -> q(Analytics.conversionAttribution),
    "q169_dedup_eval" -> q(t => Dedup.dedupEval(t)),
    "q170_perplexity_filter" -> q(t => TextAnalysis.perplexityFilter(t)),
    "q171_snapshot_time_travel" -> q(t => graft.sources.Snapshots.timeTravelDemo(t)),
    "q172_storage_audit" -> q(t => graft.sources.TableIO.storageAuditDemo(t)),
    "q173_line_dedup" -> q(t => Dedup.lineDedupReport(t)),
    "q174_containment_pairs" -> q(t => Dedup.containmentPairs(t)),
    "q175_kmeans" -> q(t => graft.ext.Spectral.kmeansReport(t)),
    "q176_importance_resample" -> q(t => Sampling.importanceResample(t)),
    "q177_collocations" -> q(t => TextAnalysis.collocations(t)),
    "q178_jl_distortion" -> q(t => Similarity.jlDistortion(t)),
    "q179_vocab_growth" -> q(t => TextAnalysis.vocabGrowth(t)),
    "q180_tokenizer_fertility" -> q(t => graft.ext.Bpe.fertilityBySource(t)),
    "q181_winnowing_overlap" -> q(t => TextAnalysis.winnowingOverlap(t)),
    "q182_kcenter_coreset" -> q(t => graft.ext.Spectral.kcenterCoreset(t)),
    "q183_cluster_exemplars" -> q(t => graft.ext.Spectral.clusterExemplars(t)),
    "q184_snapshot_drift" -> q(t => TextAnalysis.snapshotDrift(t)),
    "q185_signal_corr" -> q(t => TextAnalysis.qualitySignalCorr(t)),
    "q186_split_leakage" -> q(t => Dedup.splitLeakage(t)),
    "q187_pq_ann" -> q(t => graft.ext.Spectral.pqTopK(t)),
    "q188_ngram_novelty" -> q(t => TextAnalysis.ngramNovelty(t)),
    "q189_embedding_split_leakage" -> q(t => Similarity.embeddingSplitLeakage(t)),
    "q190_truncation_audit" -> q(t => Sampling.truncationAudit(t)),
    "q191_duplication_profile" -> q(t => Dedup.duplicationProfile(t)),
    "q192_shard_layout" -> q(t => Sampling.shardLayout(t)),
    "q193_mixture_solver" -> q(t => Sampling.mixtureSolver(t)),
    "q194_clean_eval_sample" -> q(t => Dedup.cleanEvalSample(t)),
    "q195_retrieval_arm_eval" -> q(t => Similarity.retrievalArmEval(t)),
    "q196_mmr_rerank" -> q(t => Similarity.mmrRerank(t)),
    "q197_kneser_ney" -> q(t => TextAnalysis.kneserNey(t)),
    "q198_weighted_sample" -> q(t => Sampling.weightedSample(t)),
    "q199_fellegi_sunter" -> q(t => graft.ext.FuzzyJoin.fellegiSunter(t)),
    "q200_cuped" -> q(t => operators.RobustStats.cuped(t)),
    "q201_trimmed_means" -> q(t => operators.RobustStats.trimmedMeans(t)),
    "q202_spearman" -> q(t => operators.RobustStats.spearman(t)),
    "q203_decay_score" -> q(t => Serving.decayScore(t)),
    "q204_nucleus_vocab" -> q(t => TextAnalysis.nucleusVocab(t)),
    "q205_cluster_purity" -> q(t => Dedup.clusterPurity(t)),
    "q206_benford_audit" -> q(t => DataQuality.benfordAudit(t)),
    "q207_k_anonymity" -> q(t => DataQuality.kAnonymity(t)),
    "q208_weighted_length_quantiles" -> q(t =>
      operators.RobustStats.weightedLengthQuantiles(t)),
    "q209_poisson_bootstrap" -> q(t => operators.RobustStats.poissonBootstrap(t)),
    "q210_distinctive_terms" -> q(t => TextAnalysis.distinctiveTerms(t)),
    "q211_corpus_checksum" -> q(t => DataQuality.corpusChecksum(t)),
    "q212_mann_whitney" -> q(t => operators.NonparametricStats.mannWhitney(t)),
    "q213_ks_test" -> q(t => operators.NonparametricStats.ksTest(t)),
    "q214_kappa" -> q(t => operators.NonparametricStats.kappa(t)),
    "q215_gini_concentration" -> q(t => DataQuality.giniConcentration(t)),
    "q216_vocab_richness" -> q(t => TextAnalysis.vocabRichness(t)),
    "q217_rbo" -> q(t => operators.NonparametricStats.rbo(t)),
    "q218_funnel" -> q(t => Analytics.funnel(t)),
    "q219_post_stratified" -> q(t => operators.RobustStats.postStratified(t)),
    "q220_permutation_test" -> q(t => operators.RobustStats.permutationTest(t)),
    "q221_wilson_completeness" -> q(t =>
      operators.RobustStats.wilsonCompleteness(t)),
    "q222_srm_sweep" -> q(t => operators.RobustStats.srmSweep(t)),
    "q223_concurrency_sweep" -> q(t => operators.Timeseries.concurrencySweep(t)),
    "q224_cusum_volume" -> q(t => operators.Timeseries.cusumDailyVolume(t)),
    "q225_truncated_dim_recall" -> q(t => Similarity.truncatedDimRecall(t)),
    "q226_top_ngram_coverage" -> q(t => TextAnalysis.topNgramCoverage(t)),
    "q227_roc_auc" -> q(t => operators.NonparametricStats.rocAuc(t)),
    "q228_label_anova_per_dim" -> q(t => Similarity.labelAnovaPerDim(t)),
    "q229_blocklist_filter" -> q(t => TextAnalysis.blocklistFilter(t)),
    "q230_reliability_diagram" -> q(t =>
      operators.NonparametricStats.reliabilityDiagram(t)),
    "q231_kmeans_silhouette" -> q(t => graft.ext.Spectral.kmeansSilhouette(t)),
    "q232_column_stats" -> q(t => DataQuality.columnStatsProfile(t)),
    "q233_cross_source_dups" -> q(t => Dedup.crossSourceDupMatrix(t)),
    "q234_time_to_convert" -> q(t => operators.Timeseries.timeToConvert(t)),
    "q235_overdispersion" -> q(t => operators.Timeseries.overdispersionAudit(t)),
    "q236_dup_transitivity" -> q(t => Dedup.dupGraphTransitivity(t)),
    "q237_suffix_array_stats" -> q(t => SuffixArray.suffixArrayStats(t)),
    "q238_sa_spans" -> q(t => SuffixArray.saSpans(t)),
    "q239_next_token_table" -> q(t => CorpusIndex.nextTokenTable(t)),
    "q240_token_balanced_shards" -> q(t => CorpusIndex.tokenBalancedShards(t)),
    "q241_bloom_seen_shingles" -> q(t => CorpusIndex.bloomSeenShingles(t)),
    "q242_dup_signal_agreement" -> q(t => Dedup.dupSignalAgreement(t)),
    "q243_memorization_risk" -> q(t => Dedup.memorizationRisk(t)),
    "q244_next_token_served" -> q(t => CorpusIndex.nextTokenServedDemo(t)),
    "q245_merge_on_read" -> q(t => graft.sources.TableIO.mergeOnReadDemo(t)),
    "q246_backoff_lm_score" -> q(t => CorpusIndex.backoffLmScore(t)),
    "q247_repeat_inventory" -> q(t => SuffixArray.repeatInventory(t)),
    "q248_kn_heldout_score" -> q(t => CorpusIndex.knHeldOutScore(t)),
    "q249_next_token_lookup" -> q(t => CorpusIndex.nextTokenLookupDemo(t)),
    "q250_repeat_source_spread" -> q(t => SuffixArray.repeatSourceSpread(t)),
    "q251_mkn_heldout_score" -> q(t => CorpusIndex.mknHeldOutScore(t)),
    "q252_cross_source_lcs" -> q(t => SuffixArray.crossSourceLcs(t)),
    "q253_perplexity_buckets" -> q(t => CorpusIndex.perplexityBuckets(t)),
    "q254_surprisal_report" -> q(t => CorpusIndex.surprisalReport(t)),
    "q255_scorer_agreement" -> q(t => CorpusIndex.scorerAgreement(t)),
    "q256_contamination_matrix" -> q(t => SuffixArray.contaminationMatrixServed(t)),
    "q257_quality_novelty_grid" -> q(t => CorpusIndex.qualityNoveltyGrid(t)),
    "q258_mkn4_heldout_score" -> q(t => CorpusIndex.mkn4HeldOutScore(t)))

  private val dailySummarySql: String =
    s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
       | CAST(month(l_shipdate) AS INTEGER) AS month,
       | count(*) AS total_rows,
       | ${O.dsum("l_quantity")} AS sum_quantity,
       | ${O.dsumRevenue("l_extendedprice", "l_discount")} AS total_revenue,
       | ${O.davg("l_extendedprice")} AS avg_price,
       | count(DISTINCT l_partkey) AS distinct_parts,
       | count(DISTINCT l_orderkey) AS distinct_orders
       |FROM lineitem
       |WHERE l_shipdate IS NOT NULL AND l_quantity > 0
       |  AND l_extendedprice > 0 AND l_linenumber BETWEEN 1 AND 7
       |GROUP BY 1, 2 ORDER BY year DESC, month DESC""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. The sketch/LSH/ANN family hashes with
    * portable arithmetic (see [[SketchOracleSql]]), so EVERY query has an
    * oracle entry — nothing is rows-only. */
  def oracleSql: Map[String, String] = Map(
    "q112_topk_per_group" -> Sampling.topDocsPerSourceSql(),
    "q113_zorder_layout" -> graft.sources.Layout.zOrderPreviewSql,
    "q114_group_sample" -> Sampling.sampleKPerSourceSql(),
    "q115_corr_matrix" -> Analytics.corrMatrixSql,
    "q116_top_terms_per_lang" -> TextAnalysis.topTermsPerLangSql(),
    "q117_bpe_merges" -> graft.ext.Bpe.bpeMergesSql(),
    "q118_bpe_encode" -> graft.ext.Bpe.bpeEncodeSql(),
    "q119_token_budget_mix" -> Sampling.tokenBudgetMixSql(),
    "q120_bpe_batched" -> graft.ext.Bpe.bpeMergesBatchedSql(),
    "q121_image_near_dups" -> graft.ext.Multimodal.imageNearDupsSql(),
    "q122_audio_near_dups" -> graft.ext.Multimodal.audioNearDupsSql(),
    "q123_maximal_spans_exact" -> Dedup.maximalDuplicateSpansExactSql(),
    "q124_bm25_search" -> TextAnalysis.bm25SearchSql(),
    "q125_snapshot_diff" -> graft.sources.Snapshots.diffDemoOrdersSql,
    "q126_compaction_report" -> graft.sources.TableIO.compactionReportDemoSql,
    // the served path reconstructs the in-session form's joint salting
    // exactly, so the same oracle replays both (see the q127 scaladoc)
    "q127_incremental_dedup_served" -> SketchOracleSql.incrementalDupPairs,
    "q128_append_evolution" -> graft.sources.TableIO.appendEvolutionDemoSql,
    "q129_partition_refresh" -> graft.sources.TableIO.refreshPartitionsDemoSql,
    "q130_ctas" -> graft.sources.TableIO.ctasDemoSql,
    "q131_truncate_reload" -> graft.sources.TableIO.truncateReloadDemoSql,
    "q132_json_roundtrip" -> graft.sources.Sources.jsonRoundTripDemoSql,
    "q133_csv_roundtrip" -> graft.sources.Sources.csvRoundTripDemoSql,
    "q134_orc_roundtrip" -> graft.sources.Sources.orcRoundTripDemoSql,
    "q135_jdbc_roundtrip" -> graft.sources.Sources.jdbcRoundTripDemoSql,
    "q136_embedding_covariance" -> Similarity.embeddingCovarianceSql(),
    "q137_fuzzy_join" -> graft.ext.FuzzyJoin.fuzzyNameJoinSql(),
    "q138_sparse_cosine_pairs" -> Similarity.sparseCosinePairsSql(),
    "q139_join_cardinality_kmv" -> Analytics.joinCardinalityKmvSql(),
    "q140_key_skew_profile" -> Analytics.keySkewProfileSql(),
    "q141_hard_negatives" -> Similarity.hardNegativesSql(),
    "q142_chi_square" -> Analytics.chiSquareIndependenceSql,
    "q143_source_overlap" -> TextAnalysis.sourceOverlapSql,
    "q144_neyman_allocation" -> Sampling.neymanAllocationSql(),
    "q145_hilbert_layout" -> graft.sources.Layout.hilbertPreviewSql,
    "q146_span_removal" -> Dedup.removeDuplicateSpansSql(),
    "q147_sparse_cosine_exact" -> Similarity.sparseCosinePairsExactSql(),
    "q148_hybrid_search" -> Similarity.hybridSearchSql(),
    "q149_eps_neighbor_pairs" -> Similarity.epsNeighborPairsSql(),
    "q150_inference_batches" -> Sampling.inferenceBatchesSql(),
    "q151_knn_label_eval" -> Similarity.knnLabelEvalSql(),
    "q152_view_refresh" -> Incremental.viewRefreshDemoSql,
    "q153_label_propagation" -> Similarity.labelPropagationSql(),
    "q154_entity_resolution" -> graft.ext.FuzzyJoin.entityClustersSql(),
    "q155_grouping_sets" -> Analytics.groupingSetsReportSql,
    "q156_golden_record" -> graft.ext.FuzzyJoin.goldenRecordsSql(),
    "q157_dq_audit" -> DataQuality.auditReportSql,
    "q158_event_transitions" -> Analytics.eventTransitionsSql,
    "q159_gap_interpolate" -> Analytics.gapInterpolateHourlySql,
    "q160_dedup_keep_best" -> SketchOracleSql.dedupKeepBest,
    "q161_embedding_standardize" -> Similarity.embeddingStandardizeSql(),
    "q162_association_rules" -> graft.operators.Associations.brandRulesSql(),
    "q163_pca_power_iteration" -> graft.ext.Spectral.pcaPowerIterationSql(),
    "q164_audience_overlap" -> Analytics.audienceOverlapSql(),
    "q165_event_paths" -> Analytics.eventPathsSql(),
    "q166_anova" -> Analytics.anovaByTypeSql,
    "q167_seasonal_decompose" -> Analytics.seasonalDecomposeSql,
    "q168_attribution" -> Analytics.conversionAttributionSql,
    "q169_dedup_eval" -> SketchOracleSql.dedupEval,
    "q170_perplexity_filter" -> TextAnalysis.perplexityFilterSql(),
    "q171_snapshot_time_travel" -> graft.sources.Snapshots.timeTravelDemoSql,
    "q172_storage_audit" -> graft.sources.TableIO.storageAuditDemoSql,
    "q173_line_dedup" -> Dedup.lineDedupReportSql(),
    "q174_containment_pairs" -> Dedup.containmentPairsSql(),
    "q175_kmeans" -> graft.ext.Spectral.kmeansReportSql(),
    "q176_importance_resample" -> Sampling.importanceResampleSql(),
    "q177_collocations" -> TextAnalysis.collocationsSql(),
    "q178_jl_distortion" -> Similarity.jlDistortionSql(),
    "q179_vocab_growth" -> TextAnalysis.vocabGrowthSql,
    "q180_tokenizer_fertility" -> graft.ext.Bpe.fertilityBySourceSql(),
    "q181_winnowing_overlap" -> TextAnalysis.winnowingOverlapSql(),
    "q182_kcenter_coreset" -> graft.ext.Spectral.kcenterCoresetSql(),
    "q183_cluster_exemplars" -> graft.ext.Spectral.clusterExemplarsSql(),
    "q184_snapshot_drift" -> TextAnalysis.snapshotDriftSql(),
    "q185_signal_corr" -> TextAnalysis.qualitySignalCorrSql,
    "q186_split_leakage" -> SketchOracleSql.splitLeakage,
    "q187_pq_ann" -> graft.ext.Spectral.pqTopKSql(),
    "q188_ngram_novelty" -> TextAnalysis.ngramNoveltySql(),
    "q189_embedding_split_leakage" -> Similarity.embeddingSplitLeakageSql(),
    "q190_truncation_audit" -> Sampling.truncationAuditSql(),
    "q191_duplication_profile" -> SketchOracleSql.duplicationProfile,
    "q192_shard_layout" -> Sampling.shardLayoutSql(),
    "q193_mixture_solver" -> Sampling.mixtureSolverSql(),
    "q194_clean_eval_sample" -> SketchOracleSql.cleanEvalSample(),
    "q195_retrieval_arm_eval" -> SketchOracleSql.retrievalArmEval,
    "q196_mmr_rerank" -> Similarity.mmrRerankSql(),
    "q197_kneser_ney" -> TextAnalysis.kneserNeySql(),
    "q198_weighted_sample" -> Sampling.weightedSampleSql(),
    "q199_fellegi_sunter" -> graft.ext.FuzzyJoin.fellegiSunterSql(),
    "q200_cuped" -> operators.RobustStats.cupedSql(),
    "q201_trimmed_means" -> operators.RobustStats.trimmedMeansSql(),
    "q202_spearman" -> operators.RobustStats.spearmanSql(),
    "q203_decay_score" -> Serving.decayScoreSql(),
    "q204_nucleus_vocab" -> TextAnalysis.nucleusVocabSql(),
    "q205_cluster_purity" -> SketchOracleSql.clusterPurity,
    "q206_benford_audit" -> DataQuality.benfordAuditSql(),
    "q207_k_anonymity" -> DataQuality.kAnonymitySql(),
    "q208_weighted_length_quantiles" ->
      operators.RobustStats.weightedLengthQuantilesSql(),
    "q209_poisson_bootstrap" -> operators.RobustStats.poissonBootstrapSql(),
    "q210_distinctive_terms" -> TextAnalysis.distinctiveTermsSql(),
    "q211_corpus_checksum" -> DataQuality.corpusChecksumSql(),
    "q212_mann_whitney" -> operators.NonparametricStats.mannWhitneySql(),
    "q213_ks_test" -> operators.NonparametricStats.ksTestSql(),
    "q214_kappa" -> operators.NonparametricStats.kappaSql(),
    "q215_gini_concentration" -> DataQuality.giniConcentrationSql(),
    "q216_vocab_richness" -> TextAnalysis.vocabRichnessSql(),
    "q217_rbo" -> operators.NonparametricStats.rboSql(),
    "q218_funnel" -> Analytics.funnelSql(),
    "q219_post_stratified" -> operators.RobustStats.postStratifiedSql(),
    "q220_permutation_test" -> operators.RobustStats.permutationTestSql(),
    "q221_wilson_completeness" -> operators.RobustStats.wilsonCompletenessSql(),
    "q222_srm_sweep" -> operators.RobustStats.srmSweepSql(),
    "q223_concurrency_sweep" -> operators.Timeseries.concurrencySweepSql(),
    "q224_cusum_volume" -> operators.Timeseries.cusumDailyVolumeSql(),
    "q225_truncated_dim_recall" -> Similarity.truncatedDimRecallSql(),
    "q226_top_ngram_coverage" -> TextAnalysis.topNgramCoverageSql(),
    "q227_roc_auc" -> operators.NonparametricStats.rocAucSql(),
    "q228_label_anova_per_dim" -> Similarity.labelAnovaPerDimSql(),
    "q229_blocklist_filter" -> TextAnalysis.blocklistFilterSql(),
    "q230_reliability_diagram" ->
      operators.NonparametricStats.reliabilityDiagramSql(),
    "q231_kmeans_silhouette" -> graft.ext.Spectral.kmeansSilhouetteSql(),
    "q232_column_stats" -> DataQuality.columnStatsProfileSql(),
    "q233_cross_source_dups" -> SketchOracleSql.crossSourceDupMatrix,
    "q234_time_to_convert" -> operators.Timeseries.timeToConvertSql(),
    "q235_overdispersion" -> operators.Timeseries.overdispersionAuditSql(),
    "q236_dup_transitivity" -> SketchOracleSql.dupGraphTransitivity,
    "q237_suffix_array_stats" -> SuffixArray.suffixArrayStatsSql(),
    "q238_sa_spans" -> SuffixArray.saSpansSql(),
    "q239_next_token_table" -> CorpusIndex.nextTokenTableSql(),
    "q240_token_balanced_shards" -> CorpusIndex.tokenBalancedShardsSql(),
    "q241_bloom_seen_shingles" -> CorpusIndex.bloomSeenShinglesSql(),
    "q242_dup_signal_agreement" -> SketchOracleSql.dupSignalAgreement,
    "q243_memorization_risk" -> SketchOracleSql.memorizationRisk,
    // identical result through the persisted bucketed index — q239's
    // oracle replays the serve path too (the q127 doctrine)
    "q244_next_token_served" -> CorpusIndex.nextTokenTableSql(),
    "q245_merge_on_read" -> graft.sources.TableIO.mergeOnReadDemoSql,
    "q246_backoff_lm_score" -> CorpusIndex.backoffLmScoreSql(),
    "q247_repeat_inventory" -> SuffixArray.repeatInventorySql(),
    "q248_kn_heldout_score" -> CorpusIndex.knHeldOutScoreSql(),
    // the lookup serves the most frequent context from the bucketed index;
    // the q239 oracle at topContexts=1 replays exactly that restriction
    "q249_next_token_lookup" -> CorpusIndex.nextTokenTableSql(
      topContexts = 1, topNext = 100),
    "q250_repeat_source_spread" -> SuffixArray.repeatSourceSpreadSql(),
    "q251_mkn_heldout_score" -> CorpusIndex.mknHeldOutScoreSql(),
    "q252_cross_source_lcs" -> SuffixArray.crossSourceLcsSql(),
    "q253_perplexity_buckets" -> CorpusIndex.perplexityBucketsSql(),
    "q254_surprisal_report" -> CorpusIndex.surprisalReportSql(),
    "q255_scorer_agreement" -> CorpusIndex.scorerAgreementSql(),
    "q256_contamination_matrix" -> SuffixArray.contaminationMatrixServedSql(),
    "q257_quality_novelty_grid" -> CorpusIndex.qualityNoveltyGridSql(),
    "q258_mkn4_heldout_score" -> CorpusIndex.mkn4HeldOutScoreSql(),
    "q33_minhash_signatures" -> SketchOracleSql.minhashSignatures,
    "q34_minhash_dup_pairs" -> SketchOracleSql.minhashDupPairs,
    "q35_simhash" -> SketchOracleSql.simhash,
    "q38_ann_lsh" -> SketchOracleSql.annLsh,
    "q40_approx_distinct" -> SketchOracleSql.kmvDistinct,
    "q41_embedding_near_dups" -> SketchOracleSql.embeddingNearDups,
    "q45_dup_clusters" -> SketchOracleSql.dupClusters,
    "q48_dataset_splits" -> graft.ext.Sampling.documentSplitsSql,
    "q90_split_drift" -> graft.ext.Sampling.splitDriftSql(),
    "q98_range_frame" ->
      """SELECT event_id, user_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        | count(*) OVER w AS events_last_hour,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |   AS value_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q97_sliding_window" ->
      s"""WITH assigned AS (
         |  SELECT event_type, value,
         |   unnest([time_bucket(INTERVAL '5 minutes', ts),
         |           time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE])
         |     AS ws
         |  FROM events)
         |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
         | strftime(ws + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
         | event_type, count(*) AS n_events,
         | ${O.dsum("value")} AS sum_value
         |FROM assigned GROUP BY ws, event_type
         |ORDER BY 1, 3""".stripMargin,
    "q94_inverted_index" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM tk GROUP BY 1, 2)
        |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
        | string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY 1 ORDER BY term""".stripMargin,
    "q95_keyword_search" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tk
        |  WHERE term IN ('data', 'the') GROUP BY 1, 2),
        |hit AS (
        |  SELECT doc_id, count(*) AS n, CAST(sum(tf) AS BIGINT) AS total_tf
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, total_tf FROM hit WHERE n = 2
        |ORDER BY total_tf DESC, doc_id LIMIT 50""".stripMargin,
    "q96_gap_fill" ->
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         |   count(*) AS n_events, ${O.dsum("value")} AS sum_value
         |  FROM events GROUP BY 1, 2),
         |span AS (
         |  SELECT epoch_us(date_trunc('hour', min(ts))) AS u0,
         |   epoch_us(date_trunc('hour', max(ts))) AS u1
         |  FROM events),
         |hours AS (
         |  SELECT make_timestamp(u0 + unnest(range(0,
         |    (u1 - u0) // 3600000000 + 1)) * 3600000000) AS hour_ts
         |  FROM span),
         |grid AS (
         |  SELECT e.event_type, h.hour_ts
         |  FROM (SELECT DISTINCT event_type FROM events) e
         |  CROSS JOIN hours h)
         |SELECT g.event_type,
         | strftime(g.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
         | coalesce(h.n_events, 0) AS n_events,
         | h.n_events IS NOT NULL AS observed,
         | last_value(h.sum_value IGNORE NULLS) OVER (
         |   PARTITION BY g.event_type ORDER BY g.hour_ts
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS filled_sum_value
         |FROM grid g LEFT JOIN hourly h
         |  ON g.event_type = h.event_type AND g.hour_ts = h.hour_ts
         |ORDER BY g.event_type, g.hour_ts""".stripMargin,
    "q91_scd2_history" ->
      """SELECT user_id,
        | CAST(row_number() OVER w AS INTEGER) AS version_n,
        | event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
        | strftime(lead(ts, 1) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS effective_to,
        | lead(ts, 1) OVER w IS NULL AS is_current,
        | event_type AS attr_type,
        | round(value, 2) AS attr_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version_n""".stripMargin,
    "q92_sliding_distinct" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |   count(DISTINCT user_id) AS daily_distinct_users
        |  FROM events GROUP BY 1),
        |rolling AS (
        |  SELECT d.day, count(DISTINCT e.user_id) AS rolling_distinct_users
        |  FROM daily d JOIN events e
        |    ON CAST(e.ts AS DATE) <= d.day
        |   AND CAST(e.ts AS DATE) >= d.day - INTERVAL 6 DAY
        |  GROUP BY 1)
        |SELECT d.day, d.n_events, d.daily_distinct_users,
        | r.rolling_distinct_users
        |FROM daily d JOIN rolling r USING (day) ORDER BY day""".stripMargin,
    "q93_value_trend" -> {
      val x = "x"; val y = "y"
      val slope =
        s"""((CAST(count(*) AS DOUBLE) * ${O.dsumProd(x, y)}
           |   - ${O.dsum(x)} * ${O.dsum(y)})
           |  / (CAST(count(*) AS DOUBLE) * ${O.dsumProd(x, x)}
           |   - ${O.dsum(x)} * ${O.dsum(x)}))""".stripMargin
      s"""WITH base AS (
         |  SELECT event_type,
         |   CAST(floor((epoch_us(ts) // 1000000 - 1704067200) / 3600.0) AS DOUBLE) AS x,
         |   value AS y
         |  FROM events)
         |SELECT event_type, count(*) AS n_events,
         | round($slope, 9) AS slope_per_hour,
         | round((${O.dsum(y)} - $slope * ${O.dsum(x)}) / count(*), 6)
         |   AS intercept_at_base
         |FROM base GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q67_data_card" -> graft.ext.Sampling.dataCardSql,
    "q68_dedup_corpus" -> SketchOracleSql.dedupedCorpus,
    "q69_sequence_packing" -> graft.ext.Sampling.packSequencesSql(),
    "q70_mixture_weights" -> graft.ext.Sampling.mixtureWeightsSql,
    "q71_quality_funnel" -> TextAnalysis.qualityFunnelSql,
    "q72_chunking" -> TextAnalysis.chunkDocumentsSql(),
    "q73_source_cap" -> graft.ext.Sampling.capPerSourceSql(),
    "q74_event_funnel" ->
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_view
        |  FROM events),
        |w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_click
        |  FROM w1),
        |w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_purchase
        |  FROM w2),
        |per AS (
        |  SELECT user_id, min(t_view) AS tv, min(t_click) AS tc,
        |    min(t_purchase) AS tp
        |  FROM w3 GROUP BY 1),
        |c AS (SELECT count(tv) AS n1, count(tc) AS n2, count(tp) AS n3 FROM per)
        |SELECT step_id, step, n_users,
        | round(CAST(n_users AS DOUBLE) / n1, 6) AS conversion
        |FROM (
        |  SELECT 1 AS step_id, 'view' AS step, n1 AS n_users, n1 FROM c
        |  UNION ALL SELECT 2, 'click_after_view', n2, n1 FROM c
        |  UNION ALL SELECT 3, 'purchase_after_click', n3, n1 FROM c)
        |ORDER BY step_id""".stripMargin,
    "q75_cohort_retention" ->
      """WITH firsts AS (
        |  SELECT user_id, ts,
        |    min(ts) OVER (PARTITION BY user_id) AS first_ts
        |  FROM events),
        |cells AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
        |    CAST(date_trunc('week', ts) AS DATE) AS activity_week
        |  FROM firsts),
        |wk AS (
        |  SELECT user_id, cohort_week,
        |    date_diff('day', cohort_week, activity_week) // 7 AS week_n
        |  FROM cells),
        |sizes AS (
        |  SELECT cohort_week, count(*) AS cohort_size
        |  FROM wk WHERE week_n = 0 GROUP BY 1)
        |SELECT w.cohort_week, CAST(w.week_n AS INTEGER) AS week_n,
        | count(*) AS n_active, s.cohort_size,
        | round(CAST(count(*) AS DOUBLE) / s.cohort_size, 6) AS retention_pct
        |FROM wk w JOIN sizes s USING (cohort_week)
        |GROUP BY 1, 2, s.cohort_size
        |ORDER BY 1, 2""".stripMargin,
    // the Bloom filter only prunes; the trailing exact semi join makes the
    // result independent of filter sizing — the oracle is the plain semi join
    "q76_bloom_semi_join" ->
      s"""SELECT l_returnflag, count(*) AS n_lines,
         | ${O.dsum("l_quantity")} AS sum_qty,
         | ${O.dsumRevenue("l_extendedprice", "l_discount")} AS revenue
         |FROM lineitem
         |WHERE l_orderkey IN (
         |  SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0e0)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q77_frequent_bigrams" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tks)),
        |    i -> tks[i] || ' ' || tks[i+1])) AS bigram
        |  FROM tk)
        |SELECT bigram, count(*) AS n_occurrences,
        | count(DISTINCT doc_id) AS n_docs
        |FROM bg GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 100""".stripMargin,
    "q80_robust_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_disc(value, 0.5) AS median_value
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, m.median_value,
        |   abs(e.value - m.median_value) AS abs_dev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_disc(abs_dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n_events,
        | min(d.median_value) AS median_value, min(m.mad) AS mad,
        | count(CASE WHEN d.abs_dev > 3.0e0 * m.mad THEN 1 END) AS n_outliers,
        | round(CAST(count(CASE WHEN d.abs_dev > 3.0e0 * m.mad THEN 1 END)
        |   AS DOUBLE) / count(*), 6) AS outlier_pct
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q81_salted_agg" ->
      s"""SELECT event_type, count(*) AS n_events,
         | ${O.dsum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q61_repetition" -> SketchOracleSql.repetitionStats,
    "q62_decontamination" -> SketchOracleSql.decontamination,
    "q63_pii_redact" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER)
        |   AS n_emails,
        | CAST(len(regexp_extract_all(text,
        |   '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS INTEGER) AS n_phones,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |   '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
        |   '\b[0-9]{6,}\b', '<NUM>', 'g') AS redacted,
        | (len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) > 0
        |  OR len(regexp_extract_all(text,
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) > 0
        |  OR regexp_replace(regexp_replace(regexp_replace(text,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{6,}\b', '<NUM>', 'g') <> text) AS was_redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q64_vocabulary" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS n_occurrences,
        | count(DISTINCT doc_id) AS n_docs
        |FROM tk GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 100""".stripMargin,
    "q56_data_mix" -> graft.ext.Sampling.documentMixSql,
    "q58_demand_features" ->
      s"""WITH demand AS (
         |  SELECT user_id % 25 AS location_id, date_trunc('hour', ts) AS hour_ts,
         |   count(*) AS demand_count
         |  FROM events GROUP BY 1, 2),
         |weather AS (
         |  SELECT date_trunc('hour', ts) AS hour_ts,
         |   ${O.davg("value")} AS avg_value,
         |   min(event_type) AS condition
         |  FROM events GROUP BY 1),
         |zones AS (
         |  SELECT n_nationkey AS location_id, n_name AS zone_name,
         |   n_regionkey AS zone_type
         |  FROM nation)
         |SELECT d.location_id,
         | strftime(d.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
         | CAST(hour(d.hour_ts) AS INTEGER) AS hour,
         | CAST(isodow(d.hour_ts) AS INTEGER) AS iso_dow,
         | isodow(d.hour_ts) >= 6 AS is_weekend,
         | d.demand_count,
         | lag(d.demand_count, 1) OVER win AS demand_1h_ago,
         | lag(d.demand_count, 24) OVER win AS demand_24h_ago,
         | CAST(sum(d.demand_count) OVER win7 AS DOUBLE) / count(*) OVER win7
         |   AS rolling_avg_demand_7d,
         | wt.avg_value,
         | coalesce(wt.condition, 'unknown') AS condition,
         | z.zone_name, z.zone_type,
         | CASE WHEN wt.condition IN ('purchase', 'signup') THEN 1.3e0
         |      WHEN wt.avg_value > 50 THEN 1.1e0 ELSE 1.0e0 END AS impact_factor
         |FROM demand d LEFT JOIN weather wt USING (hour_ts)
         |LEFT JOIN zones z USING (location_id)
         |WINDOW win AS (PARTITION BY d.location_id ORDER BY d.hour_ts),
         | win7 AS (PARTITION BY d.location_id ORDER BY d.hour_ts
         |   ROWS BETWEEN 168 PRECEDING AND 1 PRECEDING)
         |ORDER BY 1, 2""".stripMargin,
    "q59_zone_activity" ->
      s"""SELECT user_id % 25 AS zone_id,
         | strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS activity_timestamp,
         | count(*) AS pickup_count,
         | CAST(0 AS BIGINT) AS dropoff_count,
         | ${O.dsum("value")} AS revenue_last_hour,
         | ${O.davg("value")} AS avg_fare_last_hour,
         | CAST(count(*) AS DOUBLE) * 0.4e0
         |   + (${O.dsum("value")} / 100) * 0.4e0
         |   + CAST(count(DISTINCT event_type) AS DOUBLE) * 0.2e0 AS activity_score
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q60_dict_bitmap_distinct" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT 'u' || CAST(user_id AS VARCHAR)) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q65_cube" ->
      s"""WITH base AS (
         |  SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice
         |  FROM lineitem)
         |SELECT l_returnflag, l_linestatus,
         | CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
         | count(*) AS n_rows,
         | ${O.dsum("l_quantity")} AS sum_qty,
         | ${O.davg("l_extendedprice")} AS avg_price
         |FROM base GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q66_set_ops" ->
      """WITH clickers AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |purchasers AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |only_click AS (
        |  SELECT user_id, 'click_only' AS segment FROM (
        |    SELECT user_id FROM clickers EXCEPT SELECT user_id FROM purchasers)),
        |both_types AS (
        |  SELECT user_id, 'click_and_purchase' AS segment FROM (
        |    SELECT user_id FROM clickers INTERSECT SELECT user_id FROM purchasers))
        |SELECT user_id, segment FROM only_click
        |UNION ALL SELECT user_id, segment FROM both_types
        |ORDER BY segment, user_id""".stripMargin,
    "q57_rollup" ->
      s"""WITH base AS (
         |  SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
         |   CAST(month(l_shipdate) AS INTEGER) AS month,
         |   l_quantity, l_extendedprice, l_discount
         |  FROM lineitem)
         |SELECT year, month,
         | CAST(GROUPING(year, month) AS INTEGER) AS gid,
         | count(*) AS n_rows,
         | ${O.dsum("l_quantity")} AS sum_qty,
         | ${O.dsumRevenue("l_extendedprice", "l_discount")} AS revenue
         |FROM base GROUP BY ROLLUP (year, month)
         |ORDER BY gid, year ASC NULLS FIRST, month ASC NULLS FIRST""".stripMargin,
    "q49_sessionization" ->
      s"""WITH ordered AS (
         |  SELECT user_id, event_id, ts, value,
         |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR ts - prev_ts > INTERVAL 30 MINUTE
         |                 THEN 1 ELSE 0 END AS is_new
         |  FROM ordered),
         |islands AS (
         |  SELECT *, sum(is_new) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM flagged)
         |SELECT user_id,
         | strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
         | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
         | count(*) AS n_events,
         | ${O.dsum("value")} AS sum_value
         |FROM islands GROUP BY user_id, session_idx
         |ORDER BY user_id, session_start""".stripMargin,
    "q50_tfidf_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |   CAST(tf AS DOUBLE) * n_docs / df AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf,
        | CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q51_percentiles" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        | quantile_disc(o_totalprice, 0.5) AS p50_price,
        | quantile_disc(o_totalprice, 0.9) AS p90_price,
        | quantile_disc(o_totalprice, 0.99) AS p99_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_histogram" ->
      """SELECT o_orderpriority,
        | CAST(least(floor(o_totalprice / 50000), 9) AS INTEGER) AS bin,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q53_pivot" ->
      """SELECT user_id,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS "view",
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n_events
        |FROM events
        |WHERE event_type IN ('view', 'click', 'purchase', 'signup')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q43_ann_ivf" -> SketchOracleSql.annIvf,
    "q86_cms_heavy_hitters" -> SketchOracleSql.cmsHeavyHitters,
    "q88_semdedup" -> SketchOracleSql.semDedup,
    "q99_incremental_dedup" -> SketchOracleSql.incrementalDupPairs,
    "q100_training_corpus" -> SketchOracleSql.trainingCorpus,
    "q105_grouped_equidepth" -> {
      val qs = (1 to 4).map(i => s"0.${i * 2}").mkString(", ")
      val bucket = (1 to 4).map(i =>
        s"CASE WHEN es[$i] <= o_totalprice THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH edges AS (
         |  SELECT o_orderpriority, quantile_cont(o_totalprice, [$qs]) AS es
         |  FROM orders GROUP BY 1)
         |SELECT o.o_orderpriority, ($bucket) AS bucket, count(*) AS n_orders,
         | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         |FROM orders o JOIN edges e USING (o_orderpriority)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q104_cumulative_approx_distinct" -> {
      import graft.functions.KmvSketch
      s"""WITH hashed AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |   ${KmvSketch.hash31Sql("user_id")} AS h
         |  FROM events),
         |days AS (SELECT day, count(*) AS n_events FROM hashed GROUP BY 1)
         |SELECT d.day, d.n_events,
         | ${KmvSketch.estimateSql("e.h", 256)} AS approx_cumulative_users
         |FROM days d JOIN hashed e ON e.day <= d.day
         |GROUP BY d.day, d.n_events
         |ORDER BY d.day""".stripMargin
    },
    "q103_referential_integrity" -> {
      def one(name: String, fact: String, fk: String, dim: String, pk: String) =
        s"""SELECT '$name' AS relationship,
           | (SELECT count(*) FROM $fact) AS n_rows,
           | (SELECT count(*) FROM $fact f
           |   WHERE NOT EXISTS (SELECT 1 FROM $dim d WHERE d.$pk = f.$fk))
           |   AS n_orphans,
           | round(CAST((SELECT count(*) FROM $fact f
           |   WHERE NOT EXISTS (SELECT 1 FROM $dim d WHERE d.$pk = f.$fk))
           |   AS DOUBLE) / (SELECT count(*) FROM $fact), 6) AS orphan_pct""".stripMargin
      Seq(
        one("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        one("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        one("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        one("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
    },
    "q107_equidepth_approx" -> SketchOracleSql.gridEquiDepth(10, 4096, grouped = false),
    "q108_grouped_equidepth_approx" -> SketchOracleSql.gridEquiDepth(5, 4096, grouped = true),
    "q109_cumulative_quantiles" -> SketchOracleSql.cumulativeQuantiles(4096),
    "q102_equidepth_histogram" -> {
      val qs = (1 to 9).map(i => s"0.$i").mkString(", ")
      val edges = (1 to 9).map(i => s"es[$i] AS e$i").mkString(", ")
      val bucket = (1 to 9).map(i =>
        s"CASE WHEN e$i <= o_totalprice THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH es0 AS (
         |  SELECT quantile_cont(o_totalprice, [$qs]) AS es FROM orders),
         |edges AS (SELECT $edges FROM es0)
         |SELECT ($bucket) AS bucket, count(*) AS n_orders,
         | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         |FROM orders CROSS JOIN edges
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q101_data_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      val stacked = cols.map(c =>
        s"SELECT '$c' AS column_name, CAST($c AS VARCHAR) AS value FROM orders")
        .mkString("\n  UNION ALL ")
      s"""WITH stacked AS (
         |  $stacked)
         |SELECT column_name, count(*) AS n_rows,
         | count(*) - count(value) AS n_nulls,
         | count(DISTINCT value) AS n_distinct,
         | round(CAST(count(*) - count(value) AS DOUBLE) / count(*), 6)
         |   AS null_pct
         |FROM stacked GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q89_salted_join" ->
      s"""WITH dim AS (
         |  SELECT event_type, ${O.davg("value")} AS type_avg_value,
         |   count(*) AS type_events
         |  FROM events GROUP BY 1)
         |SELECT event_id, event_type, round(e.value, 2) AS value,
         | type_avg_value, type_events,
         | round(e.value / type_avg_value, 6) AS value_vs_type_avg
         |FROM events e JOIN dim USING (event_type)
         |ORDER BY event_id""".stripMargin,
    "q87_ranking_suite" ->
      """SELECT o_orderkey AS order_id, o_orderpriority AS priority,
        | CAST(floor(o_totalprice / 50000) AS INTEGER) AS price_bucket,
        | CAST(rank() OVER tw AS INTEGER) AS bucket_rank,
        | CAST(dense_rank() OVER tw AS INTEGER) AS bucket_dense_rank,
        | round(percent_rank() OVER tw, 6) AS bucket_percent_rank,
        | round(cume_dist() OVER tw, 6) AS bucket_cume_dist,
        | first_value(o_orderkey) OVER ef AS top_order_id,
        | nth_value(o_orderkey, 3) OVER ef AS third_order_id,
        | lead(o_orderkey, 1) OVER ew AS next_order_id
        |FROM orders
        |WINDOW
        | tw AS (PARTITION BY o_orderpriority
        |        ORDER BY floor(o_totalprice / 50000) DESC),
        | ew AS (PARTITION BY o_orderpriority
        |        ORDER BY o_totalprice DESC, o_orderkey),
        | ef AS (PARTITION BY o_orderpriority
        |        ORDER BY o_totalprice DESC, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY order_id""".stripMargin,
    "q78_ann_quantized" -> SketchOracleSql.annQuantized,
    "q106_ann_ivf_quantized" -> SketchOracleSql.annIvfQuantized,
    "q79_pagerank" -> operators.Graph.pageRankZonesSql(),
    "q82_triangle_stats" -> operators.Graph.triangleStatsSql,
    "q83_bigram_lm" -> TextAnalysis.bigramFluencySql,
    "q84_duplicate_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tks
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(range(1, len(tks) - 13)) AS i, tks
        |  FROM tk WHERE len(tks) >= 15),
        |h AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |   md5(array_to_string(tks[i:i+14], ' ')) AS span_hash
        |  FROM sp),
        |per AS (
        |  SELECT span_hash, doc_id, count(*) AS n, min(pos) AS min_pos
        |  FROM h GROUP BY 1, 2)
        |SELECT span_hash, CAST(sum(n) AS BIGINT) AS n_occurrences,
        | count(*) AS n_docs, min(doc_id) AS first_doc_id,
        | min(min_pos) AS first_pos
        |FROM per GROUP BY 1 HAVING CAST(sum(n) AS BIGINT) > 1
        |ORDER BY n_occurrences DESC, span_hash""".stripMargin,
    "q111_quality_classifier" -> {
      import graft.functions.PortableHash
      val w = s"(((${PortableHash.hash32Sql("t")}) % 4096) * 2654435761 + 104729) % 1000003"
      s"""WITH tk AS (
         |  SELECT doc_id,
         |   string_split_regex(trim(lower(text)), '\\s+') AS tks
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, CAST(len(tks) AS BIGINT) AS n_tokens,
         |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |     list_transform(tks, t ->
         |       CAST($w AS DOUBLE) / 1000003.0 - 0.5)),
         |     (acc, x) -> acc + x) AS wsum
         |  FROM tk)
         |SELECT doc_id, n_tokens,
         | round(wsum / n_tokens, 6) AS quality_score,
         | wsum / n_tokens > 0.0 AS quality_pass
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "q110_maximal_dup_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tks
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(range(1, len(tks) - 13)) AS i, tks
        |  FROM tk WHERE len(tks) >= 15),
        |h AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |   md5(array_to_string(tks[i:i+14], ' ')) AS span_hash
        |  FROM sp),
        |dup AS (
        |  SELECT doc_id, pos
        |  FROM (SELECT doc_id, pos,
        |          count(*) OVER (PARTITION BY span_hash) AS occ FROM h)
        |  WHERE occ > 1),
        |isl AS (
        |  SELECT doc_id, pos,
        |   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM dup)
        |SELECT doc_id, min(pos) AS span_start,
        | max(pos) - min(pos) + 15 AS span_tokens,
        | count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    "q85_cumulative_distinct" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |   count(DISTINCT user_id) AS daily_distinct_users
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT d.day, count(DISTINCT e.user_id) AS cumulative_distinct_users
        |  FROM daily d JOIN events e ON CAST(e.ts AS DATE) <= d.day
        |  GROUP BY 1)
        |SELECT d.day, d.n_events, d.daily_distinct_users,
        | c.cumulative_distinct_users
        |FROM daily d JOIN cum c USING (day) ORDER BY day""".stripMargin,
    "q01_agg_stats" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         | ${O.dsum("l_quantity")} AS sum_qty,
         | ${O.dsum("l_extendedprice")} AS sum_price,
         | ${O.dsumRevenue("l_extendedprice", "l_discount")} AS sum_revenue,
         | ${O.davg("l_quantity")} AS avg_qty,
         | ${O.davg("l_discount")} AS avg_disc,
         | max(l_extendedprice) AS max_price,
         | min(l_extendedprice) AS min_price,
         | ${O.dstd("l_extendedprice")} AS stddev_price
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_ingest_clean" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_number,
        | l_partkey AS part_id, l_suppkey AS supplier_id,
        | l_quantity AS quantity, l_extendedprice AS extended_price,
        | l_discount AS discount, l_returnflag AS return_flag,
        | l_linestatus AS line_status, CAST(l_shipdate AS DATE) AS ship_date,
        | CAST(year(l_shipdate) AS INTEGER) AS year,
        | CAST(month(l_shipdate) AS INTEGER) AS month,
        | CAST(day(l_shipdate) AS INTEGER) AS day
        |FROM lineitem
        |WHERE l_shipdate IS NOT NULL AND l_quantity > 0
        |  AND l_extendedprice > 0 AND l_linenumber BETWEEN 1 AND 7
        |ORDER BY order_id, line_number""".stripMargin,
    "q03_daily_summary" -> dailySummarySql,
    // q55 is the same one-pass bitmap-distinct aggregate surfaced under the
    // operator's own name; identical oracle
    "q55_bitmap_distinct" -> dailySummarySql,
    "q04_count_distinct" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         | count(DISTINCT o_custkey) AS distinct_customers,
         | ${O.dsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q05_conditional_agg" ->
      s"""SELECT o_orderstatus,
         | ${O.davg("CASE WHEN o_totalprice > 1000 THEN o_totalprice ELSE 0.0 END")} AS avg_large_price,
         | CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_count,
         | count(CASE WHEN month(o_orderdate) BETWEEN 6 AND 8 THEN 1 END) AS summer_count,
         | (${O.davg("CASE WHEN o_totalprice > 0 THEN o_totalprice ELSE 0.0 END")} / 100.0) AS avg_price_pct
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_hourly_series" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
         | count(*) AS n_events,
         | ${O.dsum("value")} AS sum_value,
         | ${O.davg("value")} AS avg_value,
         | count(DISTINCT user_id) AS distinct_users
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_multilevel_agg" ->
      s"""WITH hourly AS (
         |  SELECT CAST(ts AS DATE) AS day, hour(ts) AS hour, count(*) AS hourly_events
         |  FROM events GROUP BY 1, 2)
         |SELECT day,
         | ${O.davg("hourly_events")} AS avg_events_per_hour,
         | max(hourly_events) AS max_events_per_hour, count(*) AS active_hours
         |FROM hourly GROUP BY 1 ORDER BY 1""".stripMargin,
    "q08_corr" ->
      s"""SELECT l_returnflag,
         | ${O.dcorr("l_quantity", "l_extendedprice")} AS qty_price_corr,
         | ${O.dcorr("l_discount", "l_tax")} AS disc_tax_corr,
         | count(*) AS n_rows
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q09_collect_set" ->
      """SELECT user_id,
        | array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
        | count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_global_stats" ->
      s"""SELECT count(*) AS total_rows,
         | count(DISTINCT l_partkey) AS distinct_parts,
         | count(DISTINCT l_orderkey) AS distinct_orders,
         | ${O.davg("l_extendedprice")} AS avg_price,
         | ${O.dsumRevenue("l_extendedprice", "l_discount")} AS total_revenue,
         | CAST(min(l_shipdate) AS DATE) AS first_ship_date,
         | CAST(max(l_shipdate) AS DATE) AS last_ship_date
         |FROM lineitem""".stripMargin,
    "q11_join_dim_broadcast" ->
      s"""SELECT r_name, count(*) AS n_customers,
         | ${O.davg("c_acctbal")} AS avg_balance,
         | ${O.dsum("c_acctbal")} AS sum_balance,
         | count(DISTINCT n_name) AS n_nations
         |FROM customer
         |LEFT JOIN nation ON c_nationkey = n_nationkey
         |LEFT JOIN region ON n_regionkey = r_regionkey
         |WHERE n_nationkey IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_join_multikey" ->
      s"""WITH fact AS (
         |  SELECT l_partkey, CAST(year(l_shipdate) AS INTEGER) AS year,
         |   CAST(month(l_shipdate) AS INTEGER) AS month,
         |   l_quantity, l_extendedprice, l_returnflag FROM lineitem),
         |pickups AS (
         |  SELECT l_partkey, year, month, count(*) AS n_ship,
         |   ${O.dsum("l_quantity")} AS qty_ship
         |  FROM fact GROUP BY 1, 2, 3),
         |dropoffs AS (
         |  SELECT l_partkey, year, month, count(*) AS n_return,
         |   ${O.dsum("l_extendedprice")} AS price_return
         |  FROM fact WHERE l_returnflag = 'R' GROUP BY 1, 2, 3)
         |SELECT p.l_partkey, p.year, p.month, p.n_ship, p.qty_ship,
         | coalesce(d.n_return, 0) AS n_return,
         | coalesce(d.price_return, 0.0) AS price_return
         |FROM pickups p LEFT JOIN dropoffs d USING (l_partkey, year, month)
         |ORDER BY 1, 2, 3""".stripMargin,
    "q13_join_expr" ->
      s"""WITH hourly AS (
         |  SELECT user_id AS h_user_id, date_trunc('hour', ts) AS hour_ts,
         |   count(*) AS events_in_hour,
         |   ${O.dsum("value")} AS value_in_hour
         |  FROM events GROUP BY 1, 2)
         |SELECT event_id, user_id,
         | strftime(h.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts,
         | events_in_hour, value_in_hour
         |FROM events e LEFT JOIN hourly h
         |  ON e.user_id = h.h_user_id AND date_trunc('hour', e.ts) = h.hour_ts
         |ORDER BY event_id""".stripMargin,
    "q14_self_agg_join" ->
      s"""WITH hist AS (
         |  SELECT o_custkey AS h_custkey,
         |   ${O.davg("o_totalprice")} AS cust_avg_price,
         |   count(*) AS cust_orders
         |  FROM orders GROUP BY 1)
         |SELECT o_orderkey, o_custkey, o_totalprice AS total_price,
         | cust_avg_price, cust_orders,
         | (o_totalprice / cust_avg_price) AS price_vs_cust_avg
         |FROM orders LEFT JOIN hist ON o_custkey = h_custkey
         |ORDER BY o_orderkey""".stripMargin,
    "q15_double_dim_join" ->
      s"""SELECT p_brand, s_name, count(*) AS n_lines,
         | ${O.dsumRevenue("l_extendedprice", "l_discount")} AS revenue
         |FROM lineitem
         |LEFT JOIN part ON l_partkey = p_partkey
         |LEFT JOIN supplier ON l_suppkey = s_suppkey
         |WHERE p_partkey IS NOT NULL AND s_suppkey IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q44_join_bucketed" ->
      s"""SELECT o_orderkey AS order_id, CAST(o_orderdate AS DATE) AS order_date,
         | o_totalprice AS total_price, count(*) AS n_lines,
         | ${O.dsum("l_quantity")} AS sum_qty,
         | ${O.dsumRevenue("l_extendedprice", "l_discount")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1, 2, 3 ORDER BY order_id""".stripMargin,
    "q46_asof_join" ->
      """WITH views AS (
        |  SELECT user_id, ts, max(event_id) AS view_event_id,
        |   max_by(value, event_id) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |purchases AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        | strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        | round(p.value, 2) AS value,
        | v.view_event_id,
        | round(v.view_value, 2) AS view_value,
        | CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS view_gap_us
        |FROM purchases p ASOF LEFT JOIN views v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,
    "q47_range_join" ->
      """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        | CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts >= a.ts
        | AND b.ts <= a.ts + INTERVAL 10 MINUTE
        | AND a.event_id <> b.event_id
        |ORDER BY a.user_id, event_a, event_b""".stripMargin,
    "q16_window_lag" ->
      """WITH demand AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour_ts, count(*) AS demand
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts, demand,
        | lag(demand, 1) OVER w AS demand_lag_1,
        | lag(demand, 2) OVER w AS demand_lag_2,
        | lag(demand, 3) OVER w AS demand_lag_3
        |FROM demand WINDOW w AS (PARTITION BY user_id ORDER BY hour_ts)
        |ORDER BY user_id, 2""".stripMargin,
    "q17_window_rolling" ->
      """WITH demand AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour_ts, count(*) AS demand,
        |   sum(CAST(value AS DECIMAL(18,6))) AS revenue_dec
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_ts, demand,
        | (CAST(sum(demand) OVER w AS DOUBLE) / count(*) OVER w) AS rolling_avg_demand,
        | (CASE WHEN count(*) OVER w > 1 THEN
        |    sqrt((CAST(sum(demand * demand) OVER w AS DOUBLE)
        |          - CAST(sum(demand) OVER w AS DOUBLE) * CAST(sum(demand) OVER w AS DOUBLE)
        |            / CAST(count(*) OVER w AS DOUBLE))
        |         / (CAST(count(*) OVER w AS DOUBLE) - 1.0)) END) AS rolling_stddev_demand,
        | (CAST(sum(revenue_dec) OVER w AS DOUBLE) / count(*) OVER w) AS rolling_avg_revenue
        |FROM demand
        |WINDOW w AS (PARTITION BY user_id ORDER BY hour_ts
        |             ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
        |ORDER BY user_id, 2""".stripMargin,
    "q18_ntile" ->
      s"""WITH per_user AS (
         |  SELECT user_id, count(*) AS total_events,
         |   ${O.davg("value")} AS avg_value
         |  FROM events GROUP BY 1)
         |SELECT user_id, total_events, avg_value,
         | CAST(ntile(10) OVER (ORDER BY total_events, user_id) AS INTEGER)
         |   AS popularity_decile
         |FROM per_user ORDER BY user_id""".stripMargin,
    "q19_window_over_agg" ->
      """WITH per AS (
        |  SELECT user_id, CAST(hour(ts) AS INTEGER) AS hour_of_day,
        |   count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, hour_of_day, n_events,
        | (CAST(sum(n_events) OVER w AS DOUBLE) / count(*) OVER w) AS user_baseline,
        | (n_events / (CAST(sum(n_events) OVER w AS DOUBLE) / count(*) OVER w)) AS surge_factor
        |FROM per WINDOW w AS (PARTITION BY user_id)
        |ORDER BY user_id, hour_of_day""".stripMargin,
    "q20_peak_hour" ->
      s"""WITH counts AS (
         |  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day,
         |   count(*) AS n_events,
         |   ${O.dsum("value")} AS sum_value
         |  FROM events GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY event_type ORDER BY n_events DESC, hour_of_day) AS rn
         |  FROM counts)
         |SELECT event_type, hour_of_day, n_events, sum_value
         |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q21_recent" ->
      """SELECT event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        | user_id, event_type, round(value, 2) AS value
        |FROM events ORDER BY events.ts DESC, event_id DESC LIMIT 100""".stripMargin,
    "q22_topk_revenue" ->
      s"""SELECT user_id, count(*) AS n_purchases,
         | ${O.dsum("value")} AS revenue
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY 1 ORDER BY revenue DESC, user_id LIMIT 10""".stripMargin,
    "q23_scalar_datetime" ->
      """SELECT o_orderkey AS order_id, l_linenumber AS line_number,
        | CAST(year(o_orderdate) AS INTEGER) AS order_year,
        | CAST(month(o_orderdate) AS INTEGER) AS order_month,
        | CAST(day(o_orderdate) AS INTEGER) AS order_day,
        | CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month_start,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INTEGER)
        |   AS ship_delay_days,
        | CAST(epoch(l_shipdate) - epoch(o_orderdate) AS BIGINT) AS ship_delay_seconds
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY order_id, line_number""".stripMargin,
    "q24_case_encode" ->
      """SELECT event_id, event_type, value,
        | CASE WHEN event_type = 'purchase' THEN CAST(1.0 AS DOUBLE)
        |      WHEN event_type = 'click' THEN 0.8
        |      WHEN event_type = 'view' THEN 0.6
        |      WHEN event_type = 'signup' THEN 0.4
        |      ELSE 0.0 END AS type_encoded,
        | round(least(value, 100.0), 2) AS value_clamped,
        | round(coalesce(nullif(value, 0.0), -1.0), 2) AS value_nz,
        | (hour(ts) BETWEEN 7 AND 9) OR (hour(ts) BETWEEN 17 AND 19) AS is_rush_hour
        |FROM events ORDER BY event_id""".stripMargin,
    "q25_math_funcs" ->
      """SELECT p_partkey,
        | round(sqrt(pow(p_size - 10.0, 2) + pow(p_retailprice / 100.0, 2)) * 111.0, 6)
        |   AS flat_distance,
        | round(p_retailprice / 7.0, 2) AS price_seventh,
        | round(pow(p_size, 2) * p_retailprice / 1000.0, 6) AS interaction_feature
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q26_future_grid" ->
      """WITH anchor AS (SELECT date_trunc('hour', max(ts)) AS anchor FROM events),
        |users AS (SELECT DISTINCT user_id FROM events),
        |grid AS (
        |  SELECT user_id, CAST(h AS INTEGER) AS h, anchor
        |  FROM users CROSS JOIN anchor CROSS JOIN generate_series(1, 24) AS t(h))
        |SELECT user_id, h,
        | strftime(anchor + h * INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS prediction_hour,
        | round(((user_id * 37 + h * 17) % 100) / 100.0, 2) AS predicted_demand
        |FROM grid ORDER BY user_id, h""".stripMargin,
    "q27_tumbling_window" ->
      s"""SELECT
         | strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         | strftime(time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes',
         |          '%Y-%m-%d %H:%M:%S') AS window_end,
         | event_type, count(*) AS n_events,
         | ${O.dsum("value")} AS sum_value,
         | ${O.davg("value")} AS avg_value,
         | count(DISTINCT user_id) AS distinct_users
         |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    "q28_json_parse" ->
      """SELECT event_id, event_type,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |  AND CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
        |  AND CAST(json_extract_string(props, '$.k') AS INTEGER) >= 0
        |ORDER BY event_id""".stripMargin,
    "q29_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY canonical_doc_id""".stripMargin,
    "q30_text_stats" ->
      """WITH base AS (
        |  SELECT doc_id, lang, length(text) AS n_chars,
        |   string_split_regex(trim(text), '\s+') AS tks
        |  FROM documents),
        |stats AS (
        |  SELECT doc_id, lang, n_chars,
        |   CAST(len(tks) AS INTEGER) AS n_tokens,
        |   CAST(len(list_distinct(tks)) AS INTEGER) AS n_distinct_tokens,
        |   round(CAST(n_chars AS DOUBLE) / len(tks), 4) AS avg_token_len,
        |   CAST(len(list_filter(tks, tk -> tk IN ('the','a','of','and','to','in')))
        |        AS INTEGER) AS n_stopwords
        |  FROM base)
        |SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars, n_tokens,
        | n_distinct_tokens, avg_token_len, n_stopwords,
        | round(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) AS distinct_ratio,
        | round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
        | round(least(n_tokens / 100.0, 1.0) * 0.4
        |   + round(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) * 0.4
        |   + least(round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) * 5.0, 1.0) * 0.2, 6)
        |   AS quality_score
        |FROM stats ORDER BY doc_id""".stripMargin,
    "q31_lang_id" ->
      """WITH scored AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |   CAST((length(' ' || text || ' ')
        |     - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS INTEGER) AS score_en,
        |   CAST((length(' ' || text || ' ')
        |     - length(replace(' ' || text || ' ', ' table ', ''))) / 7 AS INTEGER) AS score_fr,
        |   CAST((length(' ' || text || ' ')
        |     - length(replace(' ' || text || ' ', ' data ', ''))) / 6 AS INTEGER) AS score_es
        |  FROM documents)
        |SELECT doc_id, labeled_lang, score_en, score_fr, score_es,
        | CASE WHEN score_en >= score_fr AND score_en >= score_es THEN 'en'
        |      WHEN score_fr >= score_es THEN 'fr'
        |      ELSE 'es' END AS predicted_lang
        |FROM scored ORDER BY doc_id""".stripMargin,
    "q32_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(0 AS BIGINT),
        |     list_transform(string_split_regex(trim(text), '\s+'),
        |       tk -> CAST(ascii(tk) * 31 + length(tk) AS BIGINT))),
        |   (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint,
        | CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q36_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS tks
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(len(list_intersect(a.tks, b.tks)) AS INTEGER) AS n_common,
        | CAST(len(list_distinct(list_concat(a.tks, b.tks))) AS INTEGER) AS n_union,
        | round(CAST(len(list_intersect(a.tks, b.tks)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.tks, b.tks))), 6) AS jaccard
        |FROM docs a JOIN docs b ON a.doc_id + 1 = b.doc_id
        |ORDER BY doc_a""".stripMargin,
    "q37_ann_bruteforce" -> SketchOracleSql.annBruteforce,
    "q39_embedding_stats" ->
      s"""WITH base AS (
         |  SELECT label,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS norm,
         |   CAST(embedding[1] AS DOUBLE) AS first_dim,
         |   CAST(len(embedding) AS INTEGER) AS dim
         |  FROM embeddings)
         |SELECT label, count(*) AS n_vectors,
         | ${O.davg("norm")} AS avg_norm,
         | min(norm) AS min_norm, max(norm) AS max_norm,
         | ${O.davg("first_dim")} AS avg_first_dim,
         | max(dim) AS dim
         |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_token_counts" ->
      """WITH base AS (
        |  SELECT doc_id,
        |   regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS tks
        |  FROM documents)
        |SELECT doc_id, CAST(len(tks) AS INTEGER) AS n_tokens,
        | CAST(len(list_distinct(tks)) AS INTEGER) AS n_distinct_tokens,
        | CAST(len(list_filter(tks, tk -> regexp_full_match(tk, '[a-z]+'))) AS INTEGER)
        |   AS n_alpha_tokens,
        | CAST(len(list_filter(tks, tk -> regexp_full_match(tk, '[0-9]+'))) AS INTEGER)
        |   AS n_digit_tokens
        |FROM base ORDER BY doc_id""".stripMargin)
}
