package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here as a named
  * query over the harness parquet dir, plus (where SQL-expressible)
  * equivalent ANSI SQL for the driver's DuckDB oracle. Column names are
  * aliased identically on both sides; every query ends in a deterministic
  * ORDER BY; double aggregates are rounded (float summation order).
  * Queries without an oracle entry get the driver's rows-only check —
  * reserved for ops DuckDB 1.0 cannot express (sketches, MinHash, ANN).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Relational.q01PricingSummary _),
    "q02_star_join" -> (Relational.q02StarJoin _),
    "q03_top_orders" -> (Relational.q03TopOrders _),
    "q04_semi_join" -> (Relational.q04SemiJoin _),
    "q05_anti_join" -> (Relational.q05AntiJoin _),
    "q06_range_join" -> (Relational.q06RangeJoin _),
    "q07_count_distinct" -> (Relational.q07CountDistinct _),
    "q08_rollup" -> (Relational.q08Rollup _),
    "q09_cube" -> (Relational.q09Cube _),
    "q10_grouping_sets" -> (Relational.q10GroupingSets _),
    "q11_window_topk" -> (Relational.q11WindowTopK _),
    "q12_window_running" -> (Relational.q12WindowRunning _),
    "q13_set_ops" -> (Relational.q13SetOps _),
    "q14_scalar_subquery" -> (Relational.q14ScalarSubquery _),
    "q15_exists_subquery" -> (Relational.q15ExistsSubquery _),
    "q16_asof_join" -> (Relational.q16AsOfJoin _),
    "q17_approx_distinct" -> (Relational.q17ApproxDistinct _),
    "q18_custom_udaf" -> (Relational.q18CustomUdaf _),
    "q19_set_ops_all" -> (Relational.q19SetOpsAll _),
    "q20_range_frame" -> (Relational.q20RangeFrame _),
    "q21_stats_agg" -> (Relational.q21StatsAgg _),
    "q22_range_join_binned" -> (Relational.q22RangeJoinBinned _),
    "q23_left_join" -> (Relational.q23LeftJoin _),
    "q24_sql_cte" -> (Relational.q24SqlCte _),
    "q25_full_outer" -> (Relational.q25FullOuter _),
    "q26_salted" -> (Relational.q26SaltedAgg _),
    "q61_aqe_skew" -> (Skew.q61AqeSkew _),
    "q114_hybrid_join" -> (Skew.q114HybridJoin _),
    "q27_lateral" -> (Relational.q27Lateral _),
    "q28_ntile" -> (Relational.q28Ntile _),
    "q29_locf" -> (Relational.q29FillGaps _),
    "s05_knn" -> (Similarity.s05CentroidClassify _),
    "t18_lm" -> (TextAnalysis.t18BigramLm _),
    "d12_leak" -> (TextDedup.d12CrossSplitLeakage _),
    "d13_hist" -> (TextDedup.d13DupClusters _),
    "st05_join" -> (graft.streaming.Streams.st05StreamingJoin _),
    "st06_dedup" -> (graft.streaming.Streams.st06StreamingDedup _),
    "st07_enrich" -> (graft.streaming.Streams.st07StreamStaticEnrich _),
    "st08_state" -> (graft.streaming.Streams.st08RunningStats _),
    "m03_hash" -> (Multimodal.m03MediaHash _),
    "m04_meta" -> (Multimodal.m04MetadataPushdown _),
    "m05_meta_ann" -> (Multimodal.m05MetaAnn _),
    "m06_media_curation" -> (Multimodal.m06MediaCuration _),
    "m07_binary_ingest" -> (Multimodal.m07BinaryIngest _),
    "t19_zipf" -> (TextAnalysis.t19Zipf _),
    "s06_hybrid" -> (Similarity.s06HybridSearch _),
    "t17_domains" -> (TextAnalysis.t17Domains _),
    "d09_chunks" -> (TextDedup.d09ChunkDedup _),
    "d10_fuzzy" -> (Relational.d10FuzzyJoin _),
    "q116_typo_distance" -> (Relational.q116TypoDistance _),
    "t15_pii" -> (TextAnalysis.t15Pii _),
    "t16_nll" -> (TextAnalysis.t16UnigramNll _),
    "s04_radius" -> (Similarity.s04Radius _),
    "d11_semdedup" -> (Similarity.d11SemanticDedup _),
    "st04_sliding" -> (graft.streaming.Streams.st04SlidingWindows _),
    "f01_struct_splat" -> (Flatten.f01StructSplat _),
    "f02_explode_roundtrip" -> (Flatten.f02ExplodeRoundtrip _),
    "f03_explode_nested_parent" -> (Flatten.f03ExplodeNestedParent _),
    "f04_map_extract" -> (Flatten.f04MapExtract _),
    "f05_mask_id" -> (Flatten.f05MaskId _),
    "f06_source_key" -> (Flatten.f06SourceKey _),
    "f07_date_reassembly" -> (Flatten.f07DateReassembly _),
    "f08_stringify_array" -> (Flatten.f08StringifyArray _),
    "f09_coalesce_chain" -> (Flatten.f09CoalesceChain _),
    "f10_string_battery" -> (Flatten.f10StringBattery _),
    "f11_json_extract" -> (Scalar.f11JsonExtract _),
    "f12_regexp" -> (Scalar.f12Regexp _),
    "f13_date_math" -> (Scalar.f13DateMath _),
    "f14_pivot" -> (Scalar.f14Pivot _),
    "f15_unpivot" -> (Scalar.f15Unpivot _),
    "f16_array_hof" -> (Scalar.f16ArrayHof _),
    "f17_variant" -> (Scalar.f17Variant _),
    "f18_xml" -> (Scalar.f18Xml _),
    "f19_csv_scalar" -> (Scalar.f19CsvScalar _),
    "f20_avro" -> (Scalar.f20Avro _),
    "f21_proto" -> (Scalar.f21Proto _),
    "d01_exact_dedup" -> (TextDedup.d01ExactDedup _),
    "d02_minhash_lsh" -> (TextDedup.d02MinhashLsh _),
    "d03_simhash" -> (TextDedup.d03Simhash _),
    "d04_ngram_jaccard" -> (TextDedup.d04NgramJaccard _),
    "d06_neardup_pairs" -> (TextDedup.d06NearDupPairs _),
    "d07_simhash_pairs" -> (TextDedup.d07SimhashPairs _),
    "d08_neardup_dedup" -> (TextDedup.d08NearDupDedup _),
    "d18_components" -> (TextDedup.d18ComponentsDistributed _),
    "d23_inc_components" -> (TextDedup.d23IncComponents _),
    "d19_containment" -> (TextDedup.d19Containment _),
    "d20_keep_best" -> (TextDedup.d20KeepBest _),
    "d05_embedding_dedup" -> (Similarity.d05EmbeddingDedup _),
    "s01_cosine_topk" -> (Similarity.s01CosineTopK _),
    "s02_ivf_topk" -> (Similarity.s02IvfTopK _),
    "s03_centroids" -> (Similarity.s03Centroids _),
    "s07_kmeans" -> (Similarity.s07Kmeans _),
    "s08_ivf_trained" -> (Similarity.s08IvfTrained _),
    "d14_km_dedup" -> (Similarity.d14KmeansDedup _),
    "d15_inc_dedup" -> (TextDedup.d15IncrementalDedup _),
    "d16_inc_neardup" -> (TextDedup.d16IncNearDup _),
    "d17_tfidf_pairs" -> (TextDedup.d17TfidfPairs _),
    "t20_tfidf" -> (TextAnalysis.t20Tfidf _),
    "t21_binll" -> (TextAnalysis.t21BigramNll _),
    "t22_mix" -> (TextAnalysis.t22MixtureSample _),
    "t23_xnll" -> (TextAnalysis.t23CrossNll _),
    "t24_xbinll" -> (TextAnalysis.t24CrossBigramNll _),
    "t25_tfidf_mat" -> (TextAnalysis.t25TfidfFromTf _),
    "t26_bpe" -> (TextAnalysis.t26BpeMerges _),
    "t27_bpe_segment" -> (TextAnalysis.t27BpeSegment _),
    "t28_chunks" -> (TextAnalysis.t28Chunks _),
    "t29_weighted_sample" -> (TextAnalysis.t29PrioritySample _),
    "t30_heaps" -> (TextAnalysis.t30Heaps _),
    "t31_drift" -> (TextAnalysis.t31Drift _),
    "t32_pmi" -> (TextAnalysis.t32Pmi _),
    "t33_boiler" -> (TextAnalysis.t33Boilerplate _),
    "t34_normalize" -> (TextAnalysis.t34Normalize _),
    "t35_url_canon" -> (TextAnalysis.t35UrlCanon _),
    "s09_quant" -> (Similarity.s09Quantize _),
    "s10_recall" -> (Similarity.s10Recall _),
    "s11_qsearch" -> (Similarity.s11QuantizedSearch _),
    "s12_lsh_topk" -> (Similarity.s12LshTopK _),
    "s13_lsh_layout" -> (Similarity.s13LshLayout _),
    "s25_inc_append" -> (Similarity.s25IncAppend _),
    "s26_ivf_append" -> (Similarity.s26IvfAppend _),
    "s27_compact_search" -> (Similarity.s27CompactedSearch _),
    "s28_ivf_compact" -> (Similarity.s28IvfCompact _),
    "s29_tombstone_purge" -> (Similarity.s29TombstonePurge _),
    "s30_tombstone_ivf" -> (Similarity.s30TombstoneIvf _),
    "s14_mmr_topk" -> (Similarity.s14MmrTopK _),
    "s15_pq_topk" -> (Similarity.s15PqTopK _),
    "s23_pq_layout" -> (Similarity.s23PqLayout _),
    "s24_hamming_topk" -> (Similarity.s24HammingTopK _),
    "s16_pq_recall" -> (Similarity.s16PqRecall _),
    "s17_ivfpq_topk" -> (Similarity.s17IvfPqTopK _),
    "s18_ivfpq_recall" -> (Similarity.s18IvfPqRecall _),
    "s19_quant_recall" -> (Similarity.s19QuantRecall _),
    "s20_truncated_topk" -> (Similarity.s20TruncatedTopK _),
    "s21_lsh_recall" -> (Similarity.s21LshRecall _),
    "s22_trunc_recall" -> (Similarity.s22TruncRecall _),
    "q42_runtime_filter" -> (Relational.q42RuntimeFilter _),
    "q30_bucket_join" -> (Layout.q30BucketedJoin _),
    "q31_part_prune" -> (Layout.q31PartitionPruning _),
    "q32_orc_roundtrip" -> (Layout.q32OrcRoundtrip _),
    "q33_json_source" -> (Layout.q33JsonRoundtrip _),
    "q34_csv_permissive" -> (Layout.q34CsvPermissive _),
    "q35_schema_evolution" -> (Layout.q35SchemaEvolution _),
    "q36_scd2" -> (Relational.q36Scd2 _),
    "q115_snap_history" -> (Relational.q115SnapHistory _),
    "q37_compaction" -> (Layout.q37Compaction _),
    "q38_jdbc_roundtrip" -> (Layout.q38JdbcRoundtrip _),
    "q39_funnel" -> (Relational.q39Funnel _),
    "q40_agg_pushdown" -> (Layout.q40AggPushdown _),
    "q41_dpp" -> (Layout.q41DppJoin _),
    "q43_federated" -> (Layout.q43FederatedUnion _),
    "q44_retention" -> (Relational.q44Retention _),
    "q45_incr_agg" -> (Layout.q45IncrementalAgg _),
    "q46_zorder" -> (Layout.q46ZorderRoundtrip _),
    "q47_sessionize" -> (Relational.q47Sessionize _),
    "q49_dsv2_range" -> (Layout.q49Dsv2Range _),
    "q50_recursive" -> (Relational.q50Recursive _),
    "q51_sql_udf" -> (Relational.q51SqlUdf _),
    "q55_argminmax" -> (Relational.q55ArgMinMax _),
    "q58_hll_registers" -> (Relational.q58HllRegisters _),
    "q59_nullsafe_join" -> (Relational.q59NullSafeJoin _),
    "q60_not_in_null" -> (Relational.q60NotInNull _),
    "q56_listagg" -> (Relational.q56ListAgg _),
    "q57_offset" -> (Relational.q57Offset _),
    "q52_observe" -> (Relational.q52Observe _),
    "q53_collation" -> (Relational.q53Collation _),
    "q54_udaf_window" -> (Relational.q54UdafWindow _),
    "q48_interpolate" -> (Relational.q48Interpolate _),
    "q62_percentiles" -> (Relational.q62Percentiles _),
    "q63_regr" -> (Relational.q63RegrStats _),
    "q64_bitbool" -> (Relational.q64BitBoolAgg _),
    "q65_try" -> (Relational.q65TryArith _),
    "q66_union_by_name" -> (Relational.q66UnionByName _),
    "q67_time_range_frame" -> (Relational.q67TimeRangeFrame _),
    "q68_date_spine" -> (Relational.q68DateSpine _),
    "t01_langid" -> (TextAnalysis.t01LangId _),
    "t02_quality" -> (TextAnalysis.t02Quality _),
    "t03_token_stats" -> (TextAnalysis.t03TokenStats _),
    "t04_term_freq" -> (TextAnalysis.t04TermFreq _),
    "t05_winnow" -> (TextAnalysis.t05Winnow _),
    "t07_winnow_pairs" -> (TextAnalysis.t07WinnowPairs _),
    "t08_hash_split" -> (TextAnalysis.t08HashSplit _),
    "t06_bpe_tokens" -> (TextAnalysis.t06BpeTokens _),
    "t09_contamination" -> (TextAnalysis.t09Contamination _),
    "t10_repetition" -> (TextAnalysis.t10RepetitionRatio _),
    "t11_sequence_pack" -> (TextAnalysis.t11SequencePack _),
    "t12_quality_filter" -> (TextAnalysis.t12QualityFilter _),
    "t13_stratified" -> (TextAnalysis.t13Stratified _),
    "t14_bm25" -> (TextAnalysis.t14Bm25 _),
    "m01_media_features" -> (Multimodal.m01MediaFeatures _),
    "m02_frame_sample" -> (Multimodal.m02FrameSample _),
    "m08_media_neardup" -> (Multimodal.m08NearDup _),
    "m09_audio_features" -> (Multimodal.m09AudioFeatures _),
    "m10_container_demux" -> (Multimodal.m10ContainerDemux _),
    "m11_jpeg_features" -> (Multimodal.m11JpegFeatures _),
    "st01_tumbling_windows" -> (graft.streaming.Streams.st01TumblingWindows _),
    "st02_session_windows" -> (graft.streaming.Streams.st02SessionWindows _),
    "st03_streaming_tumbling" -> (graft.streaming.Streams.st03StreamingTumbling _),
    "st09_append_windows" -> (graft.streaming.Streams.st09AppendWindows _),
    "st10_outer_join" -> (graft.streaming.Streams.st10StreamingOuterJoin _),
    "st11_upsert" -> (graft.streaming.Streams.st11ForeachBatchUpsert _),
    "st12_backfill" -> (graft.streaming.Streams.st12FileBackfill _),
    "st13_sessions" -> (graft.streaming.Streams.st13StreamingSessions _),
    "st14_update" -> (graft.streaming.Streams.st14UpdateWindows _),
    "st15_tws_topk" -> (graft.streaming.Streams.st15TransformWithState _),
    "st16_chained" -> (graft.streaming.Streams.st16ChainedWindows _),
    "st17_full_join" -> (graft.streaming.Streams.st17StreamingFullJoin _),
    "st20_right_join" -> (graft.streaming.Streams.st20StreamingRightJoin _),
    "st18_timer_sessions" -> (graft.streaming.Streams.st18TimerSessions _),
    "st19_sketch_monitor" -> (graft.streaming.Streams.st19SketchMonitor _),
    "c01_curation" -> (Curation.c01Curation _),
    "c02_assembly" -> (Curation.c02Assembly _),
    "c03_manifest" -> (Curation.c03Manifest _),
    "c04_profile" -> ((s, dir) => Graft.profile(Tables(s, dir, "orders"))),
    "c05_expectations" -> (Curation.c05Expectations _),
    "c06_ref_integrity" -> (Curation.c06RefIntegrity _),
    "c07_anomaly_days" -> (Curation.c07AnomalyDays _),
    "q69_cms_sketch" -> (Relational.q69CmsSketch _),
    "q70_pagerank" -> (Relational.q70PageRank _),
    "q113_hits" -> (Relational.q113Hits _),
    "q119_inc_pagerank" -> (Relational.q119IncPageRank _),
    "q71_attribution" -> (Relational.q71Attribution _),
    "q72_vwap" -> (Relational.q72Vwap _),
    "q73_bfs_reach" -> (Relational.q73BfsReach _),
    "q74_histogram" -> (Relational.q74Histogram _),
    "q75_incr_join" -> (Relational.q75IncrJoin _),
    "q76_triangles" -> (Relational.q76Triangles _),
    "q77_native_topk" -> (Relational.q77NativeTopK _),
    "q78_cdc_apply" -> (Relational.q78CdcApply _),
    "q79_seq_gaps" -> (Relational.q79SequenceGaps _),
    "q80_sssp" -> (Relational.q80Sssp _),
    "q81_seq_pattern" -> (Relational.q81EventPattern _),
    "q82_sssp_frontier" -> (Relational.q82SsspFrontier _),
    "q83_session_pattern" -> (Relational.q83SessionPattern _),
    "q84_ppr" -> (Relational.q84Ppr _),
    "q85_lpa" -> (Relational.q85Lpa _),
    "q86_kcore" -> (Relational.q86Kcore _),
    "q87_concurrency" -> (Relational.q87Concurrency _),
    "q88_coverage" -> (Relational.q88Coverage _),
    "q89_markov" -> (Relational.q89Markov _),
    "q90_paths" -> (Relational.q90Paths _),
    "q91_hdr_quantiles" -> (Relational.q91HdrQuantiles _),
    "q92_pipe_sql" -> (Relational.q92PipeSql _),
    "q96_sql_sugar" -> (Relational.q96SqlSugar _),
    "q97_ewma" -> (Relational.q97Ewma _),
    "q93_hdr_incremental" -> (Relational.q93HdrIncremental _),
    "q94_weighted_quantiles" -> (Relational.q94WeightedQuantiles _),
    "q95_temporal_reach" -> (Relational.q95TemporalReach _),
    "q98_basket" -> (Relational.q98Basket _),
    "q99_skyline" -> (Relational.q99Skyline _),
    "q100_geo_join" -> (Relational.q100GeoJoin _),
    "q101_drawdown" -> (Relational.q101Drawdown _),
    "q102_benford" -> (Relational.q102Benford _),
    "q103_cusum" -> (Relational.q103Cusum _),
    "q104_hll_union" -> (Relational.q104HllUnion _),
    "q105_autocorr" -> (Relational.q105Autocorr _),
    "q106_seasonal" -> (Relational.q106Seasonal _),
    "q107_abc" -> (Relational.q107Abc _),
    "q108_corrmat" -> (Relational.q108CorrMat _),
    "q109_cdf" -> (Relational.q109Cdf _),
    "q110_mad" -> (Relational.q110Mad _),
    "q111_ratio_parent" -> (Relational.q111RatioParent _),
    "q112_kmv" -> (Relational.q112Kmv _),
    "q117_kmv_jaccard" -> (Relational.q117KmvJaccard _),
    "q118_apriori" -> (Relational.q118AprioriTriples _),
    "q120_ohlc" -> (Relational.q120Ohlc _),
    "q121_pit_join" -> (Relational.q121PitJoin _),
    "d22_minhash_union" -> (TextDedup.d22MinhashUnion _),
    "st21_heavy_hitters" -> (streaming.Streams.st21HeavyHitters _),
    "st24_semi_join" -> (streaming.Streams.st24StreamingSemiJoin _),
    "st22_hll_monitor" -> (streaming.Streams.st22HllMonitor _),
    "st23_sample_monitor" -> (streaming.Streams.st23ReservoirMonitor _),
    "t36_stem" -> (TextAnalysis.t36Stem _),
    "t37_reservoir" -> (TextAnalysis.t37Reservoir _),
    "t38_feature_hash" -> (TextAnalysis.t38FeatureHash _),
    "t39_linear_score" -> (TextAnalysis.t39LinearScore _),
    "c08_snapshot_diff" -> (Curation.c08SnapshotDiff _),
    "c09_purge_audit" -> (Curation.c09PurgeAudit _),
    "st25_bars" -> (streaming.Streams.st25StreamingBars _),
    "st26_neardup_gate" -> (streaming.Streams.st26NearDupGate _),
    "d21_bloom_inc" -> (TextDedup.d21BloomIncDedup _),
    "d24_substring_runs" -> (TextDedup.d24SubstringRuns _),
    "d25_label_store" -> (TextDedup.d25PersistedComponents _),
    "d26_label_purge" -> (TextDedup.d26LabelPurge _),
    "q122_link_pred" -> (Relational.q122LinkPredict _),
    "t40_epoch_mix" -> (TextAnalysis.t40EpochMix _),
    "t41_dup_grams" -> (TextAnalysis.t41DupGrams _),
    "st27_label_maint" -> (streaming.Streams.st27LabelMaintenance _),
    "d27_fp_purge" -> (TextDedup.d27FpPurge _),
    "d28_inc_substring" -> (TextDedup.d28IncSubstringRuns _),
    "s31_ivf_migrate" -> (Similarity.s31MigratedSearch _),
    "d29_gram_purge" -> (TextDedup.d29GramPurge _),
    "st28_gram_maint" -> (streaming.Streams.st28GramMaintenance _),
    "m12_resample" -> (Multimodal.m12Resample _),
    "t42_curriculum" -> (TextAnalysis.t42Curriculum _),
    "t43_corpus_shuffle" -> (TextAnalysis.t43CorpusShuffle _),
    "m13_keyframes" -> (Multimodal.m13Keyframes _),
    "st29_ivf_maint" -> (streaming.Streams.st29IvfMaintenance _),
    "t44_concat_split" -> (TextAnalysis.t44ConcatSplit _),
    "st30_purge_stream" -> (streaming.Streams.st30PurgeStream _),
    "t45_inc_concat_split" -> (TextAnalysis.t45IncConcatSplit _),
    "st31_pack_maint" -> (streaming.Streams.st31PackMaintenance _),
    "d30_time_travel" -> (TextDedup.d30TimeTravel _),
    "d31_snapshot_changes" -> (TextDedup.d31SnapshotChanges _),
    "d32_snapshot_rollback" -> (TextDedup.d32SnapshotRollback _)
  )

  /** The incremental concat-split oracle: DuckDB's global window sum
    * over (lake-then-batch, doc_id) order restricted to the batch
    * slice — the from-scratch placement the incremental packer must
    * equal. Shared VERBATIM by t45 (batch-mode incremental append from
    * the persisted cursor) and st31 (the same math as a streaming
    * `foreachBatch` maintainer): both claim "extending the layout
    * without re-reading the lake places every document exactly where
    * re-packing the world would", so they must be gated on one
    * spelling. */
  private val concatSplitIncrementalSql: String =
    """SELECT doc_id, n_tokens, tok_start,
      |  CAST(tok_start // 512 AS BIGINT) AS pack_first,
      |  CAST((tok_start + greatest(n_tokens, 1) - 1) // 512 AS BIGINT) AS pack_last,
      |  CAST(tok_start % 512 AS BIGINT) AS pack_offset
      |FROM (
      |  SELECT doc_id, grp, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(coalesce(sum(len(toks)) OVER (ORDER BY grp, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      |  FROM (SELECT doc_id,
      |          CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS grp,
      |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      |        FROM documents) t) u
      |WHERE grp = 1
      |ORDER BY doc_id""".stripMargin

  /** The s07 two-iteration k-means unrolled as CTEs (see the s07
    * entry's comment for the exactness argument) ending in `c2` — the
    * trained float-round-tripped centroid vectors. Shared verbatim by
    * the s07/s08/d14 oracles so the training stages cannot drift. */
  private val kmeansCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
      |a1 AS (SELECT vec_id, v, centroid_id FROM (
      |  SELECT e.vec_id, e.v, c.centroid_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
      |               c.centroid_id DESC) AS rn
      |  FROM e, c0 c) t WHERE rn = 1),
      |m1 AS (SELECT centroid_id, i AS dim, round(avg(v[i+1]), 4) AS c
      |       FROM a1, range(0, 64) t(i) GROUP BY centroid_id, i),
      |c1 AS (SELECT centroid_id, list_transform(list(c ORDER BY dim),
      |         x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
      |       FROM m1 GROUP BY centroid_id),
      |a2 AS (SELECT vec_id, v, centroid_id FROM (
      |  SELECT e.vec_id, e.v, c.centroid_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
      |               c.centroid_id DESC) AS rn
      |  FROM e, c1 c) t WHERE rn = 1),
      |m2 AS (SELECT centroid_id, i AS dim, round(avg(v[i+1]), 4) AS c
      |       FROM a2, range(0, 64) t(i) GROUP BY centroid_id, i),
      |c2 AS (SELECT centroid_id, list_transform(list(c ORDER BY dim),
      |         x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
      |       FROM m2 GROUP BY centroid_id)""".stripMargin

  /** s08's complete oracle (the s07 training CTEs composed with the
    * s02 probing CTEs — probe ties break ASC, assignment ties DESC).
    * Shared VERBATIM with s31 (the d21 oracle-reuse discipline):
    * searching the retrain-MIGRATED at-rest layout must be
    * byte-identical to searching an index trained from scratch on
    * the same centroids. */
  private val s08TrainedIvfOracle: String =
    s"""WITH $kmeansCtes,
      |assigned AS (SELECT vec_id, v, centroid_id AS bucket FROM (
      |  SELECT e.vec_id, e.v, c.centroid_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
      |               c.centroid_id DESC) AS rn
      |  FROM e, c2 c) t WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |probes AS (SELECT query_id, qv, centroid_id AS bucket FROM (
      |  SELECT q.query_id, q.qv, c.centroid_id,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
      |               c.centroid_id) AS pr
      |  FROM q, c2 c) t WHERE pr <= 2),
      |scored AS (
      |  SELECT p.query_id, a.vec_id, list_cosine_similarity(p.qv, a.v) AS cos
      |  FROM probes p JOIN assigned a ON p.bucket = a.bucket
      |  WHERE a.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, round(cos, 6) AS cos
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The s17 IVF-PQ pipeline as CTEs ending in the reranked candidate
    * head `rer` — shared verbatim by the s17/s18 oracles so the
    * route/residual/encode/probe stages cannot drift. Stripped at
    * definition; call sites concatenate a |-margined tail and strip
    * the whole — the second pass is a no-op on these lines (the SQL
    * contains no margin character; do NOT add bitwise `|` here, the
    * d03 lesson). */
  private val s17Ctes: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cc AS (SELECT vec_id AS centroid_id, v AS ccv FROM e WHERE vec_id < 8),
      |asg AS (SELECT vec_id, v, centroid_id, ccv FROM (
      |  SELECT e.vec_id, e.v, c.centroid_id, c.ccv,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, c.ccv) DESC,
      |               c.centroid_id DESC) AS rn
      |  FROM e, cc c) t WHERE rn = 1),
      |res AS (SELECT vec_id, centroid_id, ccv,
      |  list_transform(range(0, 64), i -> v[i+1] - ccv[i+1]) AS r
      |  FROM asg),
      |cbr AS (SELECT vec_id - 16 AS code, r AS cv FROM res
      |        WHERE vec_id >= 16 AND vec_id < 32),
      |ms AS (SELECT unnest(range(0, 8)) AS m),
      |dist AS (
      |  SELECT res.vec_id, ms.m, cbr.code,
      |    ((res.r[ms.m*8+1]-cbr.cv[ms.m*8+1])*(res.r[ms.m*8+1]-cbr.cv[ms.m*8+1])
      |   + (res.r[ms.m*8+2]-cbr.cv[ms.m*8+2])*(res.r[ms.m*8+2]-cbr.cv[ms.m*8+2])
      |   + (res.r[ms.m*8+3]-cbr.cv[ms.m*8+3])*(res.r[ms.m*8+3]-cbr.cv[ms.m*8+3])
      |   + (res.r[ms.m*8+4]-cbr.cv[ms.m*8+4])*(res.r[ms.m*8+4]-cbr.cv[ms.m*8+4])
      |   + (res.r[ms.m*8+5]-cbr.cv[ms.m*8+5])*(res.r[ms.m*8+5]-cbr.cv[ms.m*8+5])
      |   + (res.r[ms.m*8+6]-cbr.cv[ms.m*8+6])*(res.r[ms.m*8+6]-cbr.cv[ms.m*8+6])
      |   + (res.r[ms.m*8+7]-cbr.cv[ms.m*8+7])*(res.r[ms.m*8+7]-cbr.cv[ms.m*8+7])
      |   + (res.r[ms.m*8+8]-cbr.cv[ms.m*8+8])*(res.r[ms.m*8+8]-cbr.cv[ms.m*8+8]))
      |      AS d2
      |  FROM res, ms, cbr),
      |codes AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT vec_id, m, code,
      |      row_number() OVER (PARTITION BY vec_id, m
      |        ORDER BY d2, code) AS rn
      |    FROM dist) t WHERE rn = 1),
      |reconr AS (
      |  SELECT c.vec_id,
      |    flatten(list(list_slice(cbr.cv, c.m*8+1, c.m*8+8) ORDER BY c.m))
      |      AS rv
      |  FROM codes c JOIN cbr ON cbr.code = c.code
      |  GROUP BY c.vec_id),
      |recon AS (
      |  SELECT a.vec_id, a.centroid_id,
      |    list_transform(range(0, 64), i -> a.ccv[i+1] + r.rv[i+1]) AS rvec
      |  FROM asg a JOIN reconr r ON r.vec_id = a.vec_id),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |probes AS (SELECT query_id, qv, centroid_id FROM (
      |  SELECT q.query_id, q.qv, c.centroid_id,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity(q.qv, c.ccv) DESC,
      |               c.centroid_id) AS pr
      |  FROM q, cc c) t WHERE pr <= 2),
      |adc AS (
      |  SELECT p.query_id, r.vec_id,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY list_inner_product(p.qv, r.rvec) DESC, r.vec_id)
      |      AS crn
      |  FROM probes p JOIN recon r ON r.centroid_id = p.centroid_id
      |  WHERE r.vec_id <> p.query_id),
      |rer AS (
      |  SELECT a.query_id, a.vec_id, list_cosine_similarity(q.qv, e.v) AS cos
      |  FROM adc a JOIN q ON q.query_id = a.query_id
      |  JOIN e ON e.vec_id = a.vec_id
      |  WHERE a.crn <= 20)""".stripMargin

  /** The s11 int8-cascade pipeline as CTEs ending in the reranked head
    * `ranked` (plus `q`/`n` for composition) — shared verbatim by the
    * s11/s19 oracles. Same stripping contract as [[s17Ctes]]. */
  private val s11Ctes: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |        CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
      |             THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
      |             ELSE 0.0 END AS scale
      |      FROM e),
      |z AS (SELECT vec_id, v,
      |        list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS qv
      |      FROM s),
      |n AS (SELECT vec_id, v, qv,
      |        CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
      |      FROM z),
      |q AS (SELECT vec_id AS query_id, v AS qf, qv AS qq, n2 AS qn2
      |      FROM n WHERE vec_id < 10),
      |st1 AS (SELECT query_id, vec_id,
      |          CASE WHEN qn2 * n2 > 0 THEN
      |            CAST(CAST(list_sum(list_transform(range(1, len(qq) + 1),
      |              i -> qq[i] * qv[i])) AS BIGINT) AS DOUBLE)
      |              / sqrt(CAST(qn2 * n2 AS DOUBLE))
      |          ELSE -2.0 END AS approx
      |        FROM n, q WHERE vec_id <> query_id),
      |cand AS (SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      |      ORDER BY approx DESC, vec_id) AS r1 FROM st1) t WHERE r1 <= 20),
      |rr AS (SELECT cand.query_id AS query_id, cand.vec_id AS vec_id,
      |         list_cosine_similarity(q.qf, n.v) AS cs
      |       FROM cand JOIN n ON cand.vec_id = n.vec_id
      |                 JOIN q ON cand.query_id = q.query_id),
      |ranked AS (SELECT query_id, vec_id, cs,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cs DESC, vec_id) AS rank
      |  FROM rr)""".stripMargin

  /** The s20 truncated-cascade pipeline as CTEs ending in the
    * reranked head `rer` — shared by the s20/s22 oracles (the
    * s11Ctes/s17Ctes stripping contract). */
  private val s20Ctes: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |st1 AS (SELECT q.query_id, e.vec_id,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity(q.qv[1:16], e.v[1:16]) DESC,
      |               e.vec_id) AS r1
      |  FROM q, e WHERE e.vec_id <> q.query_id),
      |rer AS (SELECT s.query_id, s.vec_id,
      |    list_cosine_similarity(q.qv, e.v) AS cs
      |  FROM st1 s JOIN q ON q.query_id = s.query_id
      |  JOIN e ON e.vec_id = s.vec_id
      |  WHERE s.r1 <= 20)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // s23 searches the AT-REST PQ code table; the layout must not
    // change the answer (the s13/q46 discipline), so it shares s15's
    // oracle verbatim.
    base + ("s23_pq_layout" -> base("s15_pq_topk")) +
      // s26 searches the incrementally-maintained IVF posting layout;
      // incremental build must not change the answer, so it shares
      // s02's from-scratch oracle verbatim (the s25 discipline).
      ("s26_ivf_append" -> base("s02_ivf_topk")) +
      // st29 maintains the IVF posting layout from a STREAM of
      // embedding micro-batches; streamed maintenance must not change
      // the answer, so it shares s02's from-scratch oracle verbatim
      // (s26's argument at micro-batch cadence).
      ("st29_ivf_maint" -> base("s02_ivf_topk")) +
      // s28 compacts the appended IVF layout in place; compaction is
      // answer-invariant, so it shares the same from-scratch oracle.
      ("s28_ivf_compact" -> base("s02_ivf_topk")) +
      // st26: batch spelling of the streaming near-dup ingest gate —
      // d03's from-scratch SimHash CTEs (ending in fps(doc_id, fp)),
      // then incoming (doc_id % 5 = 4) minus every doc within
      // hamming<=6 of a lake (doc_id % 5 < 4) fingerprint. The exact
      // re-delivery dedup needs no SQL: DISTINCT incoming ids IS the
      // incoming slice.
      ("st26_neardup_gate" -> {
        val fpTail = "\nSELECT doc_id, fp AS simhash64 FROM fps ORDER BY doc_id"
        val d03 = base("d03_simhash")
        require(d03.endsWith(fpTail),
          "d03 oracle tail moved — fix st26's CTE reuse")
        d03.dropRight(fpTail.length) +
          """,
            |inc AS (SELECT doc_id, fp FROM fps WHERE doc_id % 5 = 4),
            |lake AS (SELECT fp FROM fps WHERE doc_id % 5 < 4),
            |blocked AS (SELECT DISTINCT i.doc_id
            |  FROM inc i JOIN lake l ON bit_count(xor(i.fp, l.fp)) <= 6)
            |SELECT d.doc_id, d.lang, d.n_chars
            |FROM documents d JOIN inc ON d.doc_id = inc.doc_id
            |WHERE d.doc_id NOT IN (SELECT doc_id FROM blocked)
            |ORDER BY d.doc_id""".stripMargin
      })
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_star_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q03_top_orders" ->
      """SELECT o_orderkey, o_orderpriority, revenue
        |FROM (SELECT l_orderkey,
        |        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |      FROM lineitem GROUP BY l_orderkey) r
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q04_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q06_range_join" ->
      """SELECT bucket, count(*) AS n_items, round(sum(l_extendedprice), 2) AS sum_price
        |FROM (VALUES ('low', 0.0, 15.0), ('mid', 15.0, 35.0), ('high', 35.0, 51.0))
        |     b(bucket, lo, hi)
        |JOIN lineitem ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "q07_count_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_parts,
        |  count(DISTINCT l_suppkey) AS nd_supps,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q08_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin,

    "q09_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       round(sum(o_totalprice), 2) AS sum_price,
        |       count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,

    "q10_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q11_window_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q12_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER w, 2) AS running_total,
        |  lag(o_totalprice, 1) OVER w2 AS prev_price,
        |  lead(o_totalprice, 1) OVER w2 AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q13_set_ops" ->
      """SELECT * FROM (
        |  SELECT 'high_only' AS tag, count(*) AS n FROM (
        |    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |    EXCEPT SELECT o_custkey FROM orders) t1
        |  UNION ALL
        |  SELECT 'high_and_buyer' AS tag, count(*) AS n FROM (
        |    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |    INTERSECT SELECT o_custkey FROM orders) t2
        |  UNION ALL
        |  SELECT 'high_or_buyer' AS tag, count(*) AS n FROM (
        |    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |    UNION SELECT o_custkey FROM orders) t3
        |) u ORDER BY tag""".stripMargin,

    "q14_scalar_subquery" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM orders)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q15_exists_subquery" ->
      """SELECT n_name, count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q16_asof_join" ->
      """SELECT e.event_id AS event_id, epoch_us(max(c.ts)) AS last_click_us
        |FROM events e
        |JOIN events c ON c.user_id = e.user_id
        |             AND c.event_type = 'click' AND c.ts <= e.ts
        |WHERE e.event_type = 'purchase'
        |GROUP BY e.event_id
        |ORDER BY event_id""".stripMargin,

    "q22_range_join_binned" ->
      """SELECT band_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM (SELECT range AS band_id, range * 10.0 AS lo,
        |             range * 10.0 + 15.0 AS hi
        |      FROM range(0, 50)) b
        |JOIN events ON value >= lo AND value < hi
        |GROUP BY band_id
        |ORDER BY band_id""".stripMargin,

    "q23_left_join" ->
      """SELECT c_custkey, c_mktsegment,
        |  count(o_orderkey) AS n_big_orders,
        |  round(coalesce(sum(o_totalprice), 0.0), 2) AS big_spend
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, o_orderkey, o_totalprice
        |           FROM orders WHERE o_totalprice > 400000) o
        |       ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin,

    "q25_full_outer" ->
      """SELECT coalesce(s_nationkey, c_nationkey) AS nationkey,
        |  coalesce(n_suppliers, 0) AS n_suppliers,
        |  coalesce(n_customers, 0) AS n_customers
        |FROM (SELECT s_nationkey, count(*) AS n_suppliers
        |      FROM supplier GROUP BY s_nationkey) s
        |FULL OUTER JOIN
        |     (SELECT c_nationkey, count(*) AS n_customers
        |      FROM customer GROUP BY c_nationkey) c
        |  ON s_nationkey = c_nationkey
        |ORDER BY nationkey""".stripMargin,

    "q24_sql_cte" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice
        |FROM ranked WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "f01_struct_splat" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "f02_explode_roundtrip" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber
        |FROM lineitem ORDER BY orderkey, linenumber""".stripMargin,

    "f03_explode_nested_parent" ->
      """SELECT o_orderkey AS orderkey, o_orderpriority AS priority,
        |       l_linenumber AS linenumber, l_quantity AS quantity
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |ORDER BY orderkey, linenumber, quantity""".stripMargin,

    "f04_map_extract" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
        |       l_quantity AS qty, CAST(0.0 AS DOUBLE) AS missing_stat
        |FROM lineitem ORDER BY orderkey, linenumber, qty""".stripMargin,

    "f05_mask_id" ->
      """SELECT c_custkey, 'XXXX' || substr(c_name, 4) AS mask_id
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "f06_source_key" ->
      """SELECT doc_id, regexp_replace(source, '[0-9]+$', '') AS source_kind,
        |       substr(source, 1, 3) AS source_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,

    "f07_date_reassembly" ->
      """SELECT event_id,
        |  substr(d,1,4) || '-' || substr(d,5,2) || '-' || substr(d,7,2) || ' ' ||
        |  substr(t,1,2) || ':' || substr(t,3,2) || ':' || substr(t,5,2) AS report_dt
        |FROM (SELECT event_id, strftime(ts, '%Y%m%d') AS d,
        |             strftime(ts, '%H%M%S') AS t FROM events) x
        |ORDER BY event_id""".stripMargin,

    "f08_stringify_array" ->
      """SELECT l_orderkey AS orderkey,
        |       array_to_string(list_sort(list(l_linenumber)), ',') AS line_list
        |FROM lineitem GROUP BY l_orderkey ORDER BY orderkey""".stripMargin,

    "f09_coalesce_chain" ->
      """SELECT c_custkey,
        |  coalesce(CASE WHEN c_acctbal >= 0 THEN c_name END,
        |           'Customer ' || CAST(c_custkey AS VARCHAR),
        |           'Not specified') AS display_name
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "f10_string_battery" ->
      """SELECT p_partkey,
        |  p_brand || ' ' || p_name AS full_name,
        |  upper(p_type) AS type_upper,
        |  lower(p_brand) AS brand_lower,
        |  trim('  padded  ') AS trimmed,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
        |  length(p_name) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,

    "f11_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
        |FROM events ORDER BY event_id""".stripMargin,

    "f12_regexp" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
        |FROM part
        |WHERE regexp_matches(p_name, '^(cold|small)\b')
        |ORDER BY p_partkey""".stripMargin,

    "f13_date_math" ->
      """SELECT o_orderkey,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
        |  year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_mm,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
        |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
        |  CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_k_up,
        |  abs(o_totalprice - 250000) AS dist_from_mid,
        |  round(o_totalprice / 7, 3) AS price_sevenths
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f14_pivot" ->
      """SELECT l_linestatus,
        |  round(sum(l_quantity) FILTER (l_returnflag = 'A'), 2) AS "A",
        |  round(sum(l_quantity) FILTER (l_returnflag = 'N'), 2) AS "N",
        |  round(sum(l_quantity) FILTER (l_returnflag = 'R'), 2) AS "R"
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "f15_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem) u
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,

    // d15: anti-join + window on the normalized TEXT mirrors the
    // engine's 8-byte-hash plan (hash == text up to 2^-64-per-pair
    // collisions -- the d01 argument).
    "d15_inc_dedup" ->
      """WITH nrm AS (SELECT doc_id, lang, n_chars,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM documents),
        |inc AS (SELECT * FROM nrm WHERE doc_id % 5 = 4),
        |idx AS (SELECT DISTINCT k FROM nrm WHERE doc_id % 5 < 4),
        |surv AS (SELECT i.* FROM inc i ANTI JOIN idx USING (k))
        |SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |  FROM surv) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "d01_exact_dedup" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (
        |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |      ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Valid because the corpus's planted near-dups occupy the entire
    // top-20 band (all >= 0.96 at sf0.01, next candidate < 0.3) and the
    // banded LSH provably catches every pair in that band (d06's oracle
    // checks the full thresholded set) — so LSH top-20 = brute-force
    // top-20. Ordering compares the ROUNDED jaccard, as the engine does.
    "d02_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(toks)-1, 1)),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE
        |          / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p
        |ORDER BY jaccard DESC, id_a, id_b
        |LIMIT 20""".stripMargin,

    "d06_neardup_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(toks)-1, 1)),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE
        |        / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // d16: d06's brute-force all-pairs jaccard, restricted to pairs
    // that CROSS the lake (doc_id % 5 < 4) / batch (doc_id % 5 = 4)
    // split — exactly the pairs the incremental probe can see. The
    // engine side must find every one of them via the persisted band
    // index (the d06 recall argument, split-invariant signatures).
    "d16_inc_neardup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(toks)-1, 1)),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE
        |        / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE ((a.doc_id % 5 = 4) <> (b.doc_id % 5 = 4))
        |  AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "d08_neardup_dedup" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(toks)-1, 1)),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |roots AS (SELECT a AS doc_id, min(b) AS kept_id FROM reach GROUP BY a)
        |SELECT doc_id, kept_id FROM roots
        |WHERE kept_id < doc_id
        |ORDER BY doc_id""".stripMargin,

    // d18 = d08's pair graph, FULL component-minimum labeling (the
    // distributed componentMin loop's fixpoint): every vertex of the
    // pair graph with the smallest id reachable from it (self included
    // via least()).
    "d18_components" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(toks)-1, 1)),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS component_id
        |FROM reach GROUP BY a
        |ORDER BY doc_id""".stripMargin,

    // c09: the cascade in plain IN-subqueries — per-table purge
    // digests plus the structurally-zero leak check.
    "c09_purge_audit" ->
      """WITH tomb AS (SELECT c_custkey AS k FROM customer
        |              WHERE c_custkey % 97 = 0),
        |do_ AS (SELECT o_orderkey FROM orders
        |        WHERE o_custkey IN (SELECT k FROM tomb)),
        |dl AS (SELECT l_orderkey FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM do_))
        |SELECT 'customer' AS tbl, count(*)::BIGINT AS n_purged,
        |  CAST(coalesce(sum(k), 0) AS BIGINT) AS key_sum FROM tomb
        |UNION ALL
        |SELECT 'lineitem', count(*)::BIGINT,
        |  CAST(coalesce(sum(l_orderkey), 0) AS BIGINT) FROM dl
        |UNION ALL
        |SELECT 'orders', count(*)::BIGINT,
        |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) FROM do_
        |UNION ALL
        |SELECT 'surviving_fk_leaks', count(*)::BIGINT, CAST(0 AS BIGINT)
        |FROM orders WHERE o_custkey IN (SELECT k FROM tomb)
        |  AND o_orderkey NOT IN (SELECT o_orderkey FROM do_)
        |ORDER BY tbl""".stripMargin,

    // d23: the oracle is the FROM-SCRATCH recursive-CTE closure over
    // the full edge set (standing stars + batch links) — exactly the
    // answer the incremental merge must reproduce. Components are ≤ 8
    // nodes by construction, so the closure stays linear in ids.
    "d23_inc_components" ->
      """WITH RECURSIVE cust AS (SELECT c_custkey AS c FROM customer),
        |e0 AS (
        |  SELECT c AS a, c - c % 4 AS b FROM cust WHERE c % 4 <> 0
        |  UNION ALL
        |  SELECT c, c + 4 FROM cust WHERE c % 40 = 0),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS node_id, least(a, min(b)) AS component_id
        |FROM reach GROUP BY a
        |ORDER BY node_id""".stripMargin,

    // d25: the d23 oracle shape (from-scratch closure over
    // standing ∪ batch edges) on the mod-5/35 star graph — the at-rest
    // copy-on-write relabel must reproduce it exactly.
    "d25_label_store" ->
      """WITH RECURSIVE cust AS (SELECT c_custkey AS c FROM customer),
        |e0 AS (
        |  SELECT c AS a, c - c % 5 AS b FROM cust WHERE c % 5 <> 0
        |  UNION ALL
        |  SELECT c, c + 5 FROM cust WHERE c % 35 = 0),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS node_id, least(a, min(b)) AS component_id
        |FROM reach GROUP BY a
        |ORDER BY node_id""".stripMargin,

    // q122: the engine's edge build as a lineitem self-join, the same
    // degree cap on the shared neighbor, RA as integer division of
    // 1e12 (order-independent integer folds — no float Σ1/deg), the
    // same total-order tie-break. sum of BIGINT -> HUGEINT in DuckDB,
    // hence the CASTs.
    "q122_link_pred" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |           WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |       AND a.l_partkey < b.l_partkey),
        |adj AS (SELECT src AS z, dst AS n FROM e
        |        UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT z, count(*) AS d FROM adj GROUP BY z),
        |small AS (SELECT a.z, a.n, deg.d FROM adj a JOIN deg USING (z)
        |          WHERE d <= 64),
        |cand AS (SELECT x.n AS a, y.n AS b, x.d FROM small x
        |         JOIN small y ON x.z = y.z AND x.n < y.n),
        |sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
        |         CAST(sum(1000000000000 // d) AS BIGINT) AS ra_e12
        |       FROM cand GROUP BY a, b),
        |ne AS (SELECT sc.a, sc.b, sc.cn, sc.ra_e12 FROM sc
        |       LEFT JOIN e ON sc.a = e.src AND sc.b = e.dst
        |       WHERE e.src IS NULL)
        |SELECT a AS part_a, b AS part_b, cn, ra_e12 FROM ne
        |ORDER BY ra_e12 DESC, cn DESC, part_a, part_b LIMIT 50""".stripMargin,

    // t40: the same CASE weight table (whole copies + the exact
    // 1/65536 fractional cut), the same salted-md5 16-bit bucket as
    // t08/t13, generate_series for the copies (inclusive bounds;
    // empty when n = 0).
    "t40_epoch_mix" ->
      """WITH w AS (SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1
        |              WHEN 'fr' THEN 1 ELSE 0 END AS whole,
        |    CASE lang WHEN 'en' THEN 16384 WHEN 'de' THEN 32768
        |              WHEN 'es' THEN 49152 WHEN 'fr' THEN 0
        |              ELSE 32768 END AS cut
        |  FROM documents),
        |b AS (SELECT doc_id, lang, whole +
        |    CASE WHEN ('0x' || substr(md5('epoch:' ||
        |           CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < cut
        |         THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, lang, unnest(range(1, n + 1)) AS copy FROM b
        |ORDER BY doc_id, copy""".stripMargin,

    // d27: d15's incremental-dedup oracle with the purged docs
    // excluded from the INDEX side — a re-submission of a forgotten
    // document must be admitted. The masked-vs-compacted byte-identity
    // gate runs inside the query.
    "d27_fp_purge" ->
      """WITH nrm AS (SELECT doc_id, lang, n_chars,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM documents),
        |inc AS (SELECT * FROM nrm WHERE doc_id % 5 = 4),
        |idx AS (SELECT DISTINCT k FROM nrm
        |        WHERE doc_id % 5 < 4 AND doc_id % 20 <> 8),
        |surv AS (SELECT i.* FROM inc i ANTI JOIN idx USING (k))
        |SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |  FROM surv) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // t41: grams as positional 8-token STRINGS (the engine joins on
    // their variadic xxhash64 — d24's 2^-64 argument), df as a
    // count(DISTINCT doc), integer permille. Docs under 8 tokens have
    // no grams and drop on both engines.
    "t41_dup_grams" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |g0 AS (SELECT doc_id, ts,
        |         unnest(range(0, greatest(len(ts) - 7, 0))) AS pos
        |       FROM toks),
        |g AS (SELECT doc_id,
        |        array_to_string(list_slice(ts, pos + 1, pos + 8), ' ') AS gram
        |      FROM g0),
        |gdf AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(1000 * sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) // count(*)
        |    AS BIGINT) AS dup_permille
        |FROM g JOIN gdf USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // st27: the streaming label maintenance must land the store at the
    // from-scratch closure over standing ∪ ALL streamed pair batches —
    // d25's oracle with the second streamed edge family added.
    "st27_label_maint" ->
      """WITH RECURSIVE cust AS (SELECT c_custkey AS c FROM customer),
        |e0 AS (
        |  SELECT c AS a, c - c % 5 AS b FROM cust WHERE c % 5 <> 0
        |  UNION ALL
        |  SELECT c, c + 5 FROM cust WHERE c % 35 = 0
        |  UNION ALL
        |  SELECT c, c + 10 FROM cust WHERE c % 55 = 0),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS node_id, least(a, min(b)) AS component_id
        |FROM reach GROUP BY a
        |ORDER BY node_id""".stripMargin,

    // d26: d25's from-scratch closure minus the purged ids, re-rooted
    // per OLD component by window-min — the label-semantics purge
    // contract (labels hold no edges, so vertex deletion never splits
    // a component; a purged ROOT demotes to the minimum survivor).
    "d26_label_purge" ->
      """WITH RECURSIVE cust AS (SELECT c_custkey AS c FROM customer),
        |e0 AS (
        |  SELECT c AS a, c - c % 5 AS b FROM cust WHERE c % 5 <> 0
        |  UNION ALL
        |  SELECT c, c + 5 FROM cust WHERE c % 35 = 0),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (SELECT a AS id, least(a, min(b)) AS root
        |        FROM reach GROUP BY a),
        |kept AS (SELECT id, root FROM lab
        |         WHERE id % 20 <> 0 AND id % 20 <> 7)
        |SELECT id AS node_id,
        |  min(id) OVER (PARTITION BY root) AS component_id
        |FROM kept ORDER BY node_id""".stripMargin,

    // d24: the from-scratch spelling of maximal shared token runs —
    // positional 8-gram STRINGS self-joined on equality (the engine
    // joins on the variadic xxhash64 of the same 8 tokens — 2^-64
    // collision argument), then the identical gaps-and-islands
    // extension. No gram-frequency cap here: max gram frequency on
    // this corpus is 4 (probed at every SF), so the engine's 64-cap
    // provably never binds.
    "d24_substring_runs" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |g0 AS (SELECT doc_id, ts,
        |         unnest(range(0, greatest(len(ts) - 7, 0))) AS pos
        |       FROM toks),
        |g AS (SELECT doc_id, pos,
        |        array_to_string(list_slice(ts, pos + 1, pos + 8), ' ') AS gram
        |      FROM g0),
        |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
        |             b.doc_id AS id_b, b.pos AS pos_b
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |isl AS (SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
        |          pos_a - row_number() OVER (
        |            PARTITION BY id_a, id_b, pos_a - pos_b
        |            ORDER BY pos_a) AS island
        |        FROM p),
        |runs AS (SELECT id_a, id_b,
        |           min(pos_a) AS start_a, min(pos_b) AS start_b,
        |           count(*) + 7 AS run_tokens
        |         FROM isl GROUP BY id_a, id_b, diag, island)
        |SELECT id_a, id_b, start_a, start_b,
        |  CAST(run_tokens AS BIGINT) AS run_tokens
        |FROM runs WHERE run_tokens >= 20
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // d28: d24's from-scratch gram pipeline over lake ∪ batch,
    // RESTRICTED to cross-split pairs (one side in the lake
    // doc_id % 5 < 4, the other in the incoming batch % 5 = 4) —
    // exactly what the incremental index probe must find without
    // re-pairing the lake against itself. Same no-cap argument as
    // d24: joint gram frequency tops out at 4 on this corpus.
    "d28_inc_substring" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |g0 AS (SELECT doc_id, ts,
        |         unnest(range(0, greatest(len(ts) - 7, 0))) AS pos
        |       FROM toks),
        |g AS (SELECT doc_id, pos,
        |        array_to_string(list_slice(ts, pos + 1, pos + 8), ' ') AS gram
        |      FROM g0),
        |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
        |             b.doc_id AS id_b, b.pos AS pos_b
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |        AND ((a.doc_id % 5 = 4) <> (b.doc_id % 5 = 4))),
        |isl AS (SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
        |          pos_a - row_number() OVER (
        |            PARTITION BY id_a, id_b, pos_a - pos_b
        |            ORDER BY pos_a) AS island
        |        FROM p),
        |runs AS (SELECT id_a, id_b,
        |           min(pos_a) AS start_a, min(pos_b) AS start_b,
        |           count(*) + 7 AS run_tokens
        |         FROM isl GROUP BY id_a, id_b, diag, island)
        |SELECT id_a, id_b, start_a, start_b,
        |  CAST(run_tokens AS BIGINT) AS run_tokens
        |FROM runs WHERE run_tokens >= 20
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // d29: d28's cross-split oracle with the purged lake documents
    // (doc_id % 20 IN (8, 16) — always lake-side: mod 5 = 3, 1; 16
    // intersects the planted run participants, so the purge removes
    // actual reported runs) excluded from the pair space, i.e. the
    // gram index as if the victims had never been ingested — what
    // masked AND compacted probes must both report.
    "d29_gram_purge" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |g0 AS (SELECT doc_id, ts,
        |         unnest(range(0, greatest(len(ts) - 7, 0))) AS pos
        |       FROM toks),
        |g AS (SELECT doc_id, pos,
        |        array_to_string(list_slice(ts, pos + 1, pos + 8), ' ') AS gram
        |      FROM g0),
        |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
        |             b.doc_id AS id_b, b.pos AS pos_b
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |        AND ((a.doc_id % 5 = 4) <> (b.doc_id % 5 = 4))
        |        AND a.doc_id % 20 NOT IN (8, 16)
        |        AND b.doc_id % 20 NOT IN (8, 16)),
        |isl AS (SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
        |          pos_a - row_number() OVER (
        |            PARTITION BY id_a, id_b, pos_a - pos_b
        |            ORDER BY pos_a) AS island
        |        FROM p),
        |runs AS (SELECT id_a, id_b,
        |           min(pos_a) AS start_a, min(pos_b) AS start_b,
        |           count(*) + 7 AS run_tokens
        |         FROM isl GROUP BY id_a, id_b, diag, island)
        |SELECT id_a, id_b, start_a, start_b,
        |  CAST(run_tokens AS BIGINT) AS run_tokens
        |FROM runs WHERE run_tokens >= 20
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // st28: the full d24 pair space minus its lake-lake pairs — every
    // maximal run involving >= 1 incoming doc, which the streaming
    // probe+self-pair union reproduces independent of chunking.
    "st28_gram_maint" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |g0 AS (SELECT doc_id, ts,
        |         unnest(range(0, greatest(len(ts) - 7, 0))) AS pos
        |       FROM toks),
        |g AS (SELECT doc_id, pos,
        |        array_to_string(list_slice(ts, pos + 1, pos + 8), ' ') AS gram
        |      FROM g0),
        |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
        |             b.doc_id AS id_b, b.pos AS pos_b
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |        AND (a.doc_id % 5 = 4 OR b.doc_id % 5 = 4)),
        |isl AS (SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
        |          pos_a - row_number() OVER (
        |            PARTITION BY id_a, id_b, pos_a - pos_b
        |            ORDER BY pos_a) AS island
        |        FROM p),
        |runs AS (SELECT id_a, id_b,
        |           min(pos_a) AS start_a, min(pos_b) AS start_b,
        |           count(*) + 7 AS run_tokens
        |         FROM isl GROUP BY id_a, id_b, diag, island)
        |SELECT id_a, id_b, start_a, start_b,
        |  CAST(run_tokens AS BIGINT) AS run_tokens
        |FROM runs WHERE run_tokens >= 20
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // d19 brute-forces the containment score on the chunk strings
    // (the engine's hashed/bucket-capped path must agree — max
    // chunk-share on this corpus is 5, far under the 64 cap).
    "d19_containment" ->
      """WITH toks AS (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |      FROM documents WHERE text IS NOT NULL),
        |ch0 AS (SELECT doc_id, ts,
        |          unnest(range(0, greatest(CAST(ceil(len(ts)/20.0) AS BIGINT), 1)))
        |            AS ci
        |        FROM toks),
        |cset AS (SELECT DISTINCT doc_id,
        |           array_to_string(list_slice(ts, ci*20+1, ci*20+20), ' ') AS chunk
        |         FROM ch0
        |         WHERE array_to_string(list_slice(ts, ci*20+1, ci*20+20), ' ') <> ''),
        |sizes AS (SELECT doc_id, count(*) AS n FROM cset GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |       FROM cset a JOIN cset b ON a.chunk = b.chunk AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |j AS (SELECT
        |        CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id,
        |        CASE WHEN sa.n <= sb.n THEN id_b ELSE id_a END AS container_id,
        |        least(sa.n, sb.n) AS n_contained, shared
        |      FROM sh JOIN sizes sa ON sa.doc_id = sh.id_a
        |      JOIN sizes sb ON sb.doc_id = sh.id_b)
        |SELECT contained_id, container_id, n_contained,
        |  round(shared::DOUBLE / n_contained, 4) AS containment
        |FROM j
        |WHERE n_contained >= 3 AND shared::DOUBLE / n_contained >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,

    // d20: the d18 component labeling + a per-component quality
    // argmax (longest text, tie smaller id).
    "d20_keep_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(1, greatest(len(toks)-1, 1)),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (SELECT a AS doc_id, least(a, min(b)) AS root
        |        FROM reach GROUP BY a),
        |best AS (SELECT root, doc_id AS kept_id, n_chars AS kept_chars FROM (
        |  SELECT lab.root, d.doc_id, d.n_chars,
        |    row_number() OVER (PARTITION BY lab.root
        |      ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM lab JOIN documents d ON d.doc_id = lab.doc_id) t
        |  WHERE rn = 1)
        |SELECT lab.doc_id, best.kept_id, best.kept_chars
        |FROM lab JOIN best ON best.root = lab.root
        |WHERE lab.doc_id <> best.kept_id
        |ORDER BY lab.doc_id""".stripMargin,

    "d04_ngram_jaccard" ->
      """WITH feat AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(toks)-1, 1)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS wg,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(lower(text))-1, 1)),
        |      i -> substr(lower(text), i, 3))) AS cg
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CASE WHEN len(list_distinct(list_concat(a.wg, b.wg))) = 0 THEN 0.0
        |        ELSE len(list_intersect(a.wg, b.wg))::DOUBLE
        |             / len(list_distinct(list_concat(a.wg, b.wg))) END, 4) AS jaccard_word3,
        |  round(CASE WHEN len(list_distinct(list_concat(a.cg, b.cg))) = 0 THEN 0.0
        |        ELSE len(list_intersect(a.cg, b.cg))::DOUBLE
        |             / len(list_distinct(list_concat(a.cg, b.cg))) END, 4) AS jaccard_char3
        |FROM feat a JOIN feat b ON a.doc_id + 1 = b.doc_id
        |ORDER BY id_a""".stripMargin,

    "q26_salted" ->
      """SELECT l_suppkey, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n_rows, round(avg(l_quantity), 4) AS avg_qty
        |FROM lineitem
        |GROUP BY l_suppkey
        |ORDER BY l_suppkey""".stripMargin,

    "q28_ntile" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q29_locf" ->
      """SELECT event_id, user_id, event_type,
        |  round(last_value(CASE WHEN event_type = 'purchase' THEN value END
        |          IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS last_purchase_value,
        |  round(first_value(CASE WHEN event_type = 'purchase' THEN value END
        |          IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
        |    AS first_purchase_value
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // Same float-rounded centroid mirror as d11 (see that entry's
    // note); the confusion cells compare the ROUNDED mean cosine.
    "s05_knn" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT label, i AS dim, round(avg(embedding[i+1]), 4) AS c
        |         FROM embeddings, range(0, 64) t(i) GROUP BY label, i),
        |cvec AS (SELECT label AS cluster, list_transform(list(c ORDER BY dim),
        |           x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
        |         FROM cent GROUP BY label),
        |asg AS (SELECT vec_id, label, cluster, cos FROM (
        |  SELECT e.vec_id, e.label, c.cluster,
        |    list_cosine_similarity(e.v, c.cv) AS cos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cluster DESC) AS rn
        |  FROM e, cvec c) t WHERE rn = 1)
        |SELECT label, cluster AS predicted, count(*) AS n,
        |  round(avg(cos), 4) AS mean_cos
        |FROM asg GROUP BY label, cluster
        |ORDER BY label, predicted""".stripMargin,

    // t32: PMI-lift over the same tokenization CTEs as t18; the sort
    // key is the exact unrounded division over integer counts (both
    // engines run one IEEE divide on identical inputs), and the
    // emitted value is floor(lift * 1e4) in integer e4 units — floor
    // of the bit-identical IEEE product is engine-identical, unlike
    // round(_, 4) of an integer-operand quotient (the q54 lesson).
    "t32_pmi" ->
      """WITH toks AS (SELECT
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |uc AS (SELECT w, count(*) AS c_w
        |       FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
        |tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tokens FROM uc),
        |bg AS (SELECT unnest(list_transform(range(1, greatest(len(ts), 1)),
        |         i -> ts[i] || ' ' || ts[i+1])) AS bigram FROM toks),
        |bc AS (SELECT bigram, count(*) AS c_bigram FROM bg GROUP BY bigram
        |       HAVING count(*) >= 5),
        |j AS (SELECT b.bigram, b.c_bigram, u1.c_w AS c_w1, u2.c_w AS c_w2,
        |        t.n_tokens
        |      FROM bc b
        |      JOIN uc u1 ON split_part(b.bigram, ' ', 1) = u1.w
        |      JOIN uc u2 ON split_part(b.bigram, ' ', 2) = u2.w
        |      CROSS JOIN tot t)
        |SELECT bigram, c_bigram, c_w1, c_w2,
        |  CAST(floor((c_bigram * n_tokens) / (c_w1 * c_w2) * 10000)
        |    AS BIGINT) AS lift_e4
        |FROM (SELECT * FROM j
        |      ORDER BY (c_bigram * n_tokens) / (c_w1 * c_w2) DESC, bigram
        |      LIMIT 50) q
        |ORDER BY bigram""".stripMargin,

    // t34: identical planted decomposed input built in BOTH engines
    // (the d05 planted-literal discipline), then each runs its OWN
    // normalizer — java.text.Normalizer vs nfc_normalize — so the
    // compare genuinely cross-checks NFC semantics. length() counts
    // codepoints in both engines.
    "t34_normalize" ->
      """WITH p AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id % 4 = 0 THEN text
        |         ELSE text || ' caf' ||
        |           repeat('e' || chr(769), CAST(doc_id % 3 + 1 AS INT))
        |    END AS raw
        |  FROM documents),
        |n AS (SELECT lang, raw, nfc_normalize(raw) AS t FROM p)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(CASE WHEN t <> raw THEN 1 END) AS BIGINT) AS n_changed,
        |  CAST(sum(length(raw)) AS BIGINT) AS chars_raw,
        |  CAST(sum(length(t)) AS BIGINT) AS chars_nfc
        |FROM n GROUP BY lang ORDER BY lang""".stripMargin,

    // t35: identical planted raw-URL variants in both engines, then
    // each canonicalizes with its OWN regex/list pipeline — fragment
    // and tracking-param stripping, case/port/www/trailing-slash
    // folding, param sort. The variant collapse (n_canonical < n_raw)
    // is the property under test.
    "t35_url_canon" ->
      """WITH p AS (SELECT doc_id,
        |    source || '.example.com' AS dom,
        |    CAST(doc_id % 16 AS VARCHAR) AS key,
        |    doc_id % 4 AS v
        |  FROM documents),
        |raw AS (SELECT doc_id,
        |    CASE v
        |      WHEN 0 THEN 'https://' || dom || '/item/' || key || '?a=1&b=2'
        |      WHEN 1 THEN 'HTTPS://WWW.' || upper(dom) || ':443/item/'
        |        || key || '/?b=2&a=1#frag'
        |      WHEN 2 THEN 'https://' || dom || ':443/item/' || key
        |        || '?utm_source=feed&a=1&b=2'
        |      ELSE 'https://www.' || dom || '/item/' || key
        |        || '/?b=2&utm_campaign=x&a=1&fbclid=zzz'
        |    END AS url FROM p),
        |c0 AS (SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '') AS nf FROM raw),
        |c1 AS (SELECT doc_id, url,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(nf,
        |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)),
        |      ':(80|443)$', ''), '^www\.', '') AS host,
        |    regexp_extract(nf,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$', 1) AS rest
        |  FROM c0),
        |c2 AS (SELECT doc_id, url, scheme, host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '')
        |      AS path,
        |    CASE WHEN contains(rest, '?')
        |         THEN regexp_extract(rest, '\?(.*)$', 1) ELSE '' END AS query
        |  FROM c1),
        |c3 AS (SELECT doc_id, url, scheme, host, path,
        |    list_sort(list_filter(string_split(query, '&'),
        |      pa -> pa <> '' AND NOT regexp_matches(pa,
        |        '^(utm_[^=]*|fbclid|gclid)='))) AS params FROM c2),
        |canon AS (SELECT doc_id, url,
        |    scheme || '://' || host || path ||
        |    CASE WHEN len(params) > 0
        |         THEN '?' || array_to_string(params, '&') ELSE '' END
        |      AS canonical_url FROM c3),
        |d AS (SELECT doc_id, url, canonical_url,
        |    regexp_extract(canonical_url,
        |      '^[a-z][a-z0-9+.-]*://([^/?]+)', 1) AS domain FROM canon)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
        |  CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
        |  min(canonical_url) AS sample_url
        |FROM d GROUP BY domain ORDER BY domain""".stripMargin,

    // t33: the same 8-token non-overlapping windows, grouped by line
    // TEXT where the engine groups by xxhash64(line) — identical
    // counts absent collisions (the d01/d09 fingerprint discipline).
    // All-integer output; no rounding surface.
    "t33_boiler" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |base AS (SELECT doc_id, len(ts) AS n_tokens, len(ts) // 8 AS n_lines,
        |         ts FROM toks),
        |lines AS (SELECT doc_id, unnest(list_transform(range(0, n_lines),
        |    i -> array_to_string(ts[i*8+1 : i*8+8], ' '))) AS line FROM base),
        |boiler AS (SELECT line FROM lines GROUP BY line
        |           HAVING count(DISTINCT doc_id) >= 3),
        |cnt AS (SELECT l.doc_id, count(*) AS n_boiler
        |        FROM lines l JOIN boiler b ON l.line = b.line
        |        GROUP BY l.doc_id)
        |SELECT b.doc_id, CAST(b.n_lines AS BIGINT) AS n_lines,
        |  CAST(coalesce(c.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  CAST(b.n_tokens - 8 * coalesce(c.n_boiler, 0) AS BIGINT)
        |    AS n_clean_tokens
        |FROM base b LEFT JOIN cnt c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "t18_lm" ->
      """WITH toks AS (SELECT
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, greatest(len(ts), 1)),
        |         i -> ts[i] || ' ' || ts[i+1])) AS bigram FROM toks),
        |c AS (SELECT bigram, count(*) AS c_bigram FROM bg GROUP BY bigram),
        |wc AS (SELECT bigram, c_bigram,
        |         CAST(sum(c_bigram) OVER (PARTITION BY split_part(bigram, ' ', 1))
        |           AS BIGINT) AS c_w1
        |       FROM c)
        |SELECT bigram, c_bigram, c_w1, round(c_bigram / c_w1, 4) AS cond_p
        |FROM (SELECT * FROM wc ORDER BY c_bigram DESC, bigram LIMIT 50) q
        |ORDER BY bigram""".stripMargin,

    // The Spark side folds chunks to xxhash64 and splits on the same
    // md5 bucket as t08; the oracle carries the chunk strings —
    // identical up to a 2^-64-per-pair hash collision (d09's note).
    "d12_leak" ->
      """WITH toks AS (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |      FROM documents WHERE text IS NOT NULL),
        |ch0 AS (SELECT doc_id, ts,
        |          unnest(range(0, greatest(CAST(ceil(len(ts)/20.0) AS BIGINT), 1)))
        |            AS chunk_idx
        |        FROM toks),
        |ch AS (SELECT DISTINCT doc_id,
        |         array_to_string(list_slice(ts, chunk_idx*20+1, chunk_idx*20+20), ' ')
        |           AS chunk
        |       FROM ch0),
        |b AS (SELECT doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS bucket
        |      FROM documents),
        |tr AS (SELECT DISTINCT chunk FROM ch JOIN b USING (doc_id)
        |       WHERE bucket < 52429),
        |te AS (SELECT ch.doc_id, chunk FROM ch JOIN b USING (doc_id)
        |       WHERE bucket >= 58982)
        |SELECT te.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN tr.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked
        |FROM te LEFT JOIN tr ON te.chunk = tr.chunk
        |GROUP BY te.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Clusters keyed on xxhash64 content keys Spark-side, on the text
    // itself in the oracle — identical histograms up to a
    // 2^-64-per-pair collision (the d01 argument).
    "d13_hist" ->
      """WITH bydoc AS (
        |  SELECT 'doc' AS granularity, n_members, count(*) AS n_clusters FROM (
        |    SELECT count(*) AS n_members
        |    FROM documents
        |    GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) t
        |  GROUP BY n_members),
        |toks AS (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |      FROM documents WHERE text IS NOT NULL),
        |ch0 AS (SELECT doc_id, ts,
        |          unnest(range(0, greatest(CAST(ceil(len(ts)/20.0) AS BIGINT), 1)))
        |            AS chunk_idx
        |        FROM toks),
        |ch AS (SELECT array_to_string(list_slice(ts, chunk_idx*20+1, chunk_idx*20+20),
        |         ' ') AS chunk
        |       FROM ch0),
        |bychunk AS (
        |  SELECT 'chunk' AS granularity, n_members, count(*) AS n_clusters FROM (
        |    SELECT count(*) AS n_members FROM ch GROUP BY chunk) t
        |  GROUP BY n_members)
        |SELECT granularity, n_members, n_clusters
        |FROM (SELECT * FROM bydoc UNION ALL SELECT * FROM bychunk) u
        |ORDER BY granularity, n_members""".stripMargin,

    // The streaming inner interval join converges to the batch join
    // (every pair emitted in exactly one micro-batch; ts-sorted replay
    // means nothing is ever late — see Streams.st05StreamingJoin).
    "st05_join" ->
      """SELECT p.user_id AS user_id, epoch_us(p.ts) AS purchase_ts_us,
        |  round(p.value, 2) AS purchase_value, epoch_us(c.ts) AS click_ts_us
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |WHERE p.event_type = 'purchase' AND p.user_id % 10 = 0
        |ORDER BY user_id, purchase_ts_us, click_ts_us""".stripMargin,

    // st24: semi emission is match-driven and at-most-once per click,
    // so under ts-sorted replay the sink equals the batch EXISTS.
    "st24_semi_join" ->
      """SELECT c.user_id, epoch_us(c.ts) AS click_ts_us
        |FROM events c
        |WHERE c.event_type = 'click' AND c.user_id % 10 = 6
        |  AND EXISTS (SELECT 1 FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |      AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 360 MINUTE)
        |ORDER BY user_id, click_ts_us""".stripMargin,

    // st10: the watermark sentinels finalize EVERY real click (see the
    // operator scaladoc), so the oracle is the plain batch LEFT JOIN —
    // matched rows mirror st05's inner join (opposite direction:
    // purchases FOLLOWING the click), unmatched clicks carry nulls.
    // NULLS FIRST pins DuckDB to Spark's ASC default.
    // st17: the full-outer variant — both null sides present, user_id
    // coalesced, null sort order pinned NULLS FIRST on both columns.
    "st17_full_join" ->
      """SELECT coalesce(c.user_id, p.user_id) AS user_id,
        |  epoch_us(c.ts) AS click_ts_us,
        |  epoch_us(p.ts) AS purchase_ts_us,
        |  round(p.value, 2) AS purchase_value
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'click' AND user_id % 10 = 2) c
        |FULL OUTER JOIN (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND user_id % 10 = 2) p
        |  ON p.user_id = c.user_id
        | AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
        |ORDER BY user_id, click_ts_us NULLS FIRST,
        |  purchase_ts_us NULLS FIRST""".stripMargin,

    // st20: the right-outer mirror of st10 — every purchase accounted
    // for, unmatched ones with a null click side; sentinels finalize
    // every real purchase so the oracle is the plain batch RIGHT JOIN
    // (spelled as the purchase-side LEFT JOIN for clarity).
    "st20_right_join" ->
      """SELECT p.user_id AS user_id, epoch_us(c.ts) AS click_ts_us,
        |  epoch_us(p.ts) AS purchase_ts_us,
        |  round(p.value, 2) AS purchase_value
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND user_id % 10 = 4) p
        |LEFT JOIN (SELECT * FROM events
        |      WHERE event_type = 'click' AND user_id % 10 = 4) c
        |  ON p.user_id = c.user_id
        | AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
        |ORDER BY user_id, click_ts_us NULLS FIRST,
        |  purchase_ts_us""".stripMargin,

    "st10_outer_join" ->
      """SELECT c.user_id AS user_id, epoch_us(c.ts) AS click_ts_us,
        |  epoch_us(p.ts) AS purchase_ts_us,
        |  round(p.value, 2) AS purchase_value
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'click' AND user_id % 10 = 0) c
        |LEFT JOIN (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND user_id % 10 = 0) p
        |  ON p.user_id = c.user_id
        | AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
        |ORDER BY user_id, click_ts_us, purchase_ts_us NULLS FIRST""".stripMargin,

    // st11's sink holds the latest-wins row per user — the batch
    // "latest event per user" is the whole oracle (the merge is
    // replay-order-independent, see the operator scaladoc).
    "st11_upsert" ->
      """SELECT user_id, event_id, event_type, round(value, 2) AS value
        |FROM (SELECT user_id, event_id, event_type, value,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events WHERE user_id % 10 = 1) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // st12's sink must hold the slice exactly once across the two
    // checkpointed catch-up launches — a doubled or missing file
    // hash-fails this direct aggregate of the same slice.
    "st12_backfill" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE user_id % 10 = 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // c01 composes the d01/t12/t13 oracle fragments verbatim — lang
    // gate, t12's keep-rule, d01's normalized-text keep-first, t13's
    // salted-md5 cap (by source, quota 50), then an integer-only
    // report (no rounding discipline needed).
    "c01_curation" ->
      """WITH tk AS (
        |  SELECT doc_id, text, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |q AS (SELECT * FROM tk WHERE
        |    CASE WHEN text IS NULL THEN 'null_text'
        |         WHEN len(toks) < 10 THEN 'too_short'
        |         WHEN len(toks) > 1000 THEN 'too_long'
        |         WHEN (CASE WHEN len(toks) <= 2 THEN 0.0
        |               ELSE 1.0 -
        |                 len(list_distinct(list_transform(
        |                   range(1, greatest(len(toks)-1, 1)),
        |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::DOUBLE
        |                 / (len(toks) - 2) END) > 0.2 THEN 'repetitive'
        |         ELSE 'keep' END = 'keep'),
        |d AS (SELECT doc_id, source, len(toks) AS n_tokens FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |      ORDER BY doc_id) AS rn
        |    FROM q) t WHERE rn = 1),
        |c AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR))) AS rk
        |    FROM d) t WHERE rk <= 50)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // c02 composes c01's gate/dedup CTEs (tk/q/d, with d carrying the
    // token count), t29's division-only priority selection (top-128,
    // no tau needed — only selection feeds packing), and t11's
    // sharded running-sum bin assignment. Integer-only report.
    "c02_assembly" ->
      """WITH tk AS (
        |  SELECT doc_id, text, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents WHERE lang = 'en'),
        |q AS (SELECT * FROM tk WHERE
        |    CASE WHEN text IS NULL THEN 'null_text'
        |         WHEN len(toks) < 10 THEN 'too_short'
        |         WHEN len(toks) > 1000 THEN 'too_long'
        |         WHEN (CASE WHEN len(toks) <= 2 THEN 0.0
        |               ELSE 1.0 -
        |                 len(list_distinct(list_transform(
        |                   range(1, greatest(len(toks)-1, 1)),
        |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::DOUBLE
        |                 / (len(toks) - 2) END) > 0.2 THEN 'repetitive'
        |         ELSE 'keep' END = 'keep'),
        |d AS (SELECT doc_id, len(toks) AS n_tokens FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |      ORDER BY doc_id) AS rn
        |    FROM q) t WHERE rn = 1),
        |pr AS (SELECT doc_id, n_tokens,
        |    n_tokens::DOUBLE /
        |      ((((doc_id * 2654435761) % 2147483647) + 1)::DOUBLE
        |        / 2147483648.0) AS p
        |  FROM d),
        |hd AS (SELECT doc_id, n_tokens,
        |         row_number() OVER (ORDER BY p DESC, doc_id) AS rn
        |       FROM pr QUALIFY rn <= 128),
        |pk AS (SELECT doc_id, doc_id % 8 AS shard, n_tokens,
        |         coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 8
        |           ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |       FROM hd)
        |SELECT shard, CAST(cum // 256 AS BIGINT) AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM pk GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    // c05: each expectation spelled as its defining count; the FK rule
    // via LEFT JOIN on the unique customer key (no row duplication).
    // All counts BIGINT-cast per the HUGEINT discipline.
    "c05_expectations" ->
      """WITH pk AS (SELECT 'orders_pk_unique' AS rule,
        |    count(*) AS n_checked,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |      AS n_violations FROM orders),
        |fk AS (SELECT 'orders_fk_customer' AS rule,
        |    count(*) AS n_checked,
        |    count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_violations
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |qty AS (SELECT 'lineitem_qty_le_49' AS rule,
        |    count(*) AS n_checked,
        |    count(CASE WHEN l_quantity > 49 THEN 1 END) AS n_violations
        |  FROM lineitem),
        |bal AS (SELECT 'customer_bal_nonneg' AS rule,
        |    count(*) AS n_checked,
        |    count(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_violations
        |  FROM customer),
        |ch AS (SELECT 'documents_nchars_consistent' AS rule,
        |    count(*) AS n_checked,
        |    count(CASE WHEN n_chars <> strlen(text) THEN 1 END)
        |      AS n_violations FROM documents)
        |SELECT * FROM (
        |  SELECT * FROM pk UNION ALL SELECT * FROM fk
        |  UNION ALL SELECT * FROM qty UNION ALL SELECT * FROM bal
        |  UNION ALL SELECT * FROM ch)
        |ORDER BY rule""".stripMargin,

    // c06: each edge audited in both directions via NOT IN over the
    // non-null key sets — the defining spelling of orphans and
    // unreferenced parents. All counts BIGINT-cast.
    "c06_ref_integrity" ->
      (Seq(
        ("orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        ("supplier.nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        ("nation.regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey")).map { case (name, c, ck, p, pk) =>
        s"""SELECT '$name' AS relation,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $c) AS n_child,
           |  (SELECT CAST(count($ck) AS BIGINT) FROM $c) AS n_child_nonnull,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $c
           |     WHERE $ck IS NOT NULL AND $ck NOT IN
           |       (SELECT $pk FROM $p)) AS n_orphan_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $p) AS n_parent,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $p WHERE $pk NOT IN
           |     (SELECT DISTINCT $ck FROM $c WHERE $ck IS NOT NULL))
           |    AS n_unref_parents""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY relation")),

    // c04: the single-pass column profile spelled per column — null
    // count, exact distinct, type-aware min/max (timestamps as epoch
    // micros; strings lexicographic under binary collation).
    "c04_profile" ->
      """SELECT 'o_custkey' AS column_name,
        |  count(*) - count(o_custkey) AS n_nulls,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  round(min(o_custkey)::DOUBLE, 2) AS min_num,
        |  round(max(o_custkey)::DOUBLE, 2) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM orders
        |UNION ALL SELECT 'o_orderdate', count(*) - count(o_orderdate),
        |  count(DISTINCT o_orderdate),
        |  epoch_us(min(o_orderdate))::DOUBLE, epoch_us(max(o_orderdate))::DOUBLE,
        |  NULL, NULL FROM orders
        |UNION ALL SELECT 'o_orderkey', count(*) - count(o_orderkey),
        |  count(DISTINCT o_orderkey),
        |  round(min(o_orderkey)::DOUBLE, 2), round(max(o_orderkey)::DOUBLE, 2),
        |  NULL, NULL FROM orders
        |UNION ALL SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority), NULL, NULL,
        |  min(o_orderpriority), max(o_orderpriority) FROM orders
        |UNION ALL SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus), NULL, NULL,
        |  min(o_orderstatus), max(o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_totalprice', count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice),
        |  round(min(o_totalprice), 2), round(max(o_totalprice), 2),
        |  NULL, NULL FROM orders
        |ORDER BY column_name""".stripMargin,

    // c03: ten per-table key-checksum aggregates UNION ALL'd — the
    // t08 md5-hex-to-int pattern, 12 hex chars (48 bits) per key,
    // XOR-folded (sums overflow BIGINT past ~65k rows — the sf0.1
    // sweep caught exactly that).
    "c03_manifest" ->
      """SELECT 'customer' AS table_name, 5 AS n_cols, count(*) AS n_rows,
        |  CAST(bit_xor(('0x' || substr(md5(c_custkey::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) AS key_xor FROM customer
        |UNION ALL SELECT 'documents', 5, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM documents
        |UNION ALL SELECT 'embeddings', 3, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM embeddings
        |UNION ALL SELECT 'events', 6, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(event_id::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM events
        |UNION ALL SELECT 'lineitem', 11, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(
        |    l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'nation', 3, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(n_nationkey::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM nation
        |UNION ALL SELECT 'orders', 6, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM orders
        |UNION ALL SELECT 'part', 6, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(p_partkey::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM part
        |UNION ALL SELECT 'region', 2, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(r_regionkey::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM region
        |UNION ALL SELECT 'supplier', 4, count(*),
        |  CAST(bit_xor(('0x' || substr(md5(s_suppkey::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) FROM supplier
        |ORDER BY table_name""".stripMargin,

    "st08_state" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events WHERE user_id % 10 = 0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // profile avg is rounded INSIDE the CTE on both engines, so the
    // joined column compares a bit-identical double, not a re-derived
    // float aggregate (st07 scaladoc).
    "st07_enrich" ->
      """WITH p AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_hist,
        |             round(avg(value), 4) AS avg_value
        |           FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.value,
        |  p.n_hist, p.avg_value
        |FROM events e JOIN p ON e.user_id = p.user_id
        |WHERE e.event_type = 'purchase' AND e.user_id % 10 = 0
        |ORDER BY event_id""".stripMargin,

    // m07: the staged .bin files carry the documents' UTF-8 bytes, so
    // size and md5 recompute from the text column (the m03 argument) —
    // a hash match proves the file roundtrip + binaryFile scan are
    // content-exact.
    "m07_binary_ingest" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents WHERE doc_id % 10 = 3
        |ORDER BY doc_id""".stripMargin,

    // m01: every feature is an integer/digest function of the text
    // bytes (all-ASCII in this corpus, so strlen/substr char semantics
    // equal byte semantics) — the decode stub's outputs recompute
    // exactly from the VARCHAR side (r13 verdict item 2: the former
    // rows-only media stub is now hash-exact).
    // m01: the oracle recomputes the DECODED-pixel statistics from the
    // pixel-synthesis formula (multiplicative mix mod 199) with
    // generate_series — PNG is lossless, so a hash match proves the
    // Spark side's javax.imageio encode->decode->extract chain is
    // pixel-exact. aHash bits are the exact integer compare
    // cell_sum*64 > total; bands are 16 cells each, row-major.
    "m01_media_features" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(8 * (1 + doc_id % 3) AS INTEGER) AS w,
        |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
        |    ((d.doc_id + 1) * (xs.x + 3) * (ys.y + 7) + d.doc_id * 7) % 199 AS r,
        |    ((d.doc_id + 2) * (xs.x + 5) * (ys.y + 11) + d.doc_id * 11) % 199 AS g,
        |    ((d.doc_id + 3) * (xs.x + 7) * (ys.y + 13) + d.doc_id * 13) % 199 AS b
        |  FROM dims d,
        |    LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs,
        |    LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys),
        |cells AS (
        |  SELECT doc_id, w, h, ((y // (h // 8)) * 8 + (x // (w // 8))) AS c,
        |    CAST(sum(299 * r + 587 * g + 114 * b) AS BIGINT) AS cell_sum,
        |    CAST(sum(r) AS BIGINT) AS sr, CAST(sum(g) AS BIGINT) AS sg,
        |    CAST(sum(b) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, w, h, c),
        |tot AS (
        |  SELECT doc_id, w, h, CAST(sum(cell_sum) AS BIGINT) AS total,
        |    CAST(sum(sr) AS BIGINT) AS sum_r, CAST(sum(sg) AS BIGINT) AS sum_g,
        |    CAST(sum(sb) AS BIGINT) AS sum_b
        |  FROM cells GROUP BY doc_id, w, h),
        |bands AS (
        |  SELECT c.doc_id, c.c // 16 AS band,
        |    CAST(sum(CASE WHEN c.cell_sum * 64 > t.total
        |      THEN (1::BIGINT << CAST(c.c % 16 AS INTEGER)) ELSE 0 END)
        |      AS BIGINT) AS v
        |  FROM cells c JOIN tot t USING (doc_id) GROUP BY c.doc_id, band)
        |SELECT t.doc_id, t.w AS width, t.h AS height,
        |  t.sum_r, t.sum_g, t.sum_b,
        |  max(CASE WHEN band = 0 THEN v END) AS phash_b0,
        |  max(CASE WHEN band = 1 THEN v END) AS phash_b1,
        |  max(CASE WHEN band = 2 THEN v END) AS phash_b2,
        |  max(CASE WHEN band = 3 THEN v END) AS phash_b3
        |FROM tot t JOIN bands USING (doc_id)
        |GROUP BY ALL ORDER BY t.doc_id""".stripMargin,

    // m02: the nearest-neighbour 8x8 resize samples source pixel
    // (j*(w/8), i*(h/8)) — exact integer coordinates, so the oracle
    // evaluates the pixel formula only at the 24 sampled points per
    // doc (rows 0,3,6 x cols 0..7) and xor-folds the same checksum.
    "m02_frame_sample" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(8 * (1 + doc_id % 3) AS INTEGER) AS w,
        |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS h
        |  FROM documents),
        |sampled AS (
        |  SELECT d.doc_id, ii.i, d.doc_id AS pid,
        |    jj.j * (d.w // 8) AS x, ii.i * (d.h // 8) AS y
        |  FROM dims d,
        |    LATERAL (SELECT unnest([0, 3, 6]) AS i) ii,
        |    LATERAL (SELECT unnest(generate_series(0, 7)) AS j) jj),
        |lum AS (
        |  SELECT doc_id, i, CAST(sum(
        |      299 * (((pid + 1) * (x + 3) * (y + 7) + pid * 7) % 199) +
        |      587 * (((pid + 2) * (x + 5) * (y + 11) + pid * 11) % 199) +
        |      114 * (((pid + 3) * (x + 7) * (y + 13) + pid * 13) % 199))
        |    AS BIGINT) AS row_luma
        |  FROM sampled GROUP BY doc_id, i)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(bit_xor(row_luma * 8 + i) AS BIGINT) AS frames_checksum
        |FROM lum GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // m08: the oracle rebuilds each member's REAL average-hash from
    // the pixel formula (rep pattern + member brightness offset +
    // member-4 top-left perturbation — the offset is mirrored
    // literally, NOT cancelled via the invariance argument, so an
    // offset-handling bug on the Spark side would surface), then
    // mirrors the banded candidate generation (4 x 16-bit aHash bands
    // as equi-joins, DISTINCT across bands, Hamming as the summed
    // per-band bit_count(xor)). The 64-cap is load-provably inert at
    // harness SFs (measured max bucket load 10 at sf0.1 — operator
    // scaladoc), so engine and oracle see identical pair sets.
    // m10: PNG is lossless, so the oracle recomputes the sampled
    // (stride-2) frames' channel sums straight from the frame-
    // synthesis formula — a reader that ignores the offset index or
    // samples the wrong frames diverges here.
    "m10_container_demux" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
        |fr AS (
        |  SELECT doc_id, f.range AS f,
        |    (doc_id % 50) * 7 + f.range * 3 + 1 AS pid
        |  FROM d CROSS JOIN range(5) f
        |  WHERE f.range < 3 + doc_id % 3 AND f.range % 2 = 0),
        |px AS (
        |  SELECT doc_id, pid, x.range AS x, y.range AS y
        |  FROM fr CROSS JOIN range(24) x CROSS JOIN range(16) y
        |  WHERE x.range < 8 * (1 + pid % 3)
        |    AND y.range < 8 * (1 + pid % 2)),
        |sums AS (
        |  SELECT doc_id,
        |    sum(((pid+1) * (x+3) * (y+7) + pid*7) % 199) AS sr,
        |    sum(((pid+2) * (x+5) * (y+11) + pid*11) % 199) AS sg,
        |    sum(((pid+3) * (x+7) * (y+13) + pid*13) % 199) AS sb
        |  FROM px GROUP BY doc_id),
        |cnt AS (SELECT doc_id, count(*) AS ns FROM fr GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(3 + d.doc_id % 3 AS BIGINT) AS n_frames,
        |  CAST(cnt.ns AS BIGINT) AS n_sampled,
        |  CAST(sums.sr AS BIGINT) AS sum_r,
        |  CAST(sums.sg AS BIGINT) AS sum_g,
        |  CAST(sums.sb AS BIGINT) AS sum_b
        |FROM d JOIN cnt ON d.doc_id = cnt.doc_id
        |JOIN sums ON d.doc_id = sums.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // m09: PCM is lossless, so the oracle recomputes the decoded-
    // sample statistics straight from the synthesis formula —
    // nonnegative BIGINT products mod 4001 shifted to ±2000, summed
    // and lag-compared per doc (zero crossings are STRICT sign flips,
    // v·prev < 0). sample_rate is pinned 8000: the engine reads it
    // from the parsed fmt chunk, so a header-walk bug would surface
    // as a mismatch here.
    "m09_audio_features" ->
      """WITH p AS (
        |  SELECT doc_id, t.range AS t,
        |    ((doc_id * 7 + 13) * (t.range + 5) * (t.range + 11)
        |      + doc_id * 17) % 4001 - 2000 AS v
        |  FROM documents CROSS JOIN range(160) t
        |  WHERE t.range < 64 + (doc_id % 4) * 32),
        |z AS (
        |  SELECT doc_id, t, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        |  FROM p)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(sum(v) AS BIGINT) AS sum_amp,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t42: the single-node spelling of the same total order — an
    // un-partitioned row_number, exactly the plan the engine's
    // distributed two-pass ordinal exists to avoid.
    "t42_curriculum" ->
      """SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
        |    AS BIGINT) AS ordinal,
        |  doc_id, n_chars
        |FROM documents ORDER BY ordinal""".stripMargin,

    // t43: the same total order spelled single-node — both engines'
    // md5 emits identical lowercase hex over identical integer-string
    // bytes (the t08 convention), so the permutation matches exactly.
    "t43_corpus_shuffle" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS ordinal,
        |  doc_id
        |FROM documents ORDER BY ordinal""".stripMargin,

    // m13: the kept-frame set recomputed from the lossless synthesis
    // formula — per-frame (sum, n_px) lag-compared under the SAME
    // strict integer cross-multiplication; a selector that used
    // absolute sums (size-dominated) or a float mean would hash-fail.
    "m13_keyframes" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
        |fr AS (
        |  SELECT doc_id, f.range AS f,
        |    (doc_id % 50) * 7 + f.range * 3 + 1 AS pid
        |  FROM d CROSS JOIN range(5) f
        |  WHERE f.range < 3 + doc_id % 3),
        |px AS (
        |  SELECT doc_id, f, pid, x.range AS x, y.range AS y
        |  FROM fr CROSS JOIN range(24) x CROSS JOIN range(16) y
        |  WHERE x.range < 8 * (1 + pid % 3)
        |    AND y.range < 8 * (1 + pid % 2)),
        |sums AS (
        |  SELECT doc_id, f,
        |    sum(((pid+1) * (x+3) * (y+7) + pid*7) % 199
        |      + ((pid+2) * (x+5) * (y+11) + pid*11) % 199
        |      + ((pid+3) * (x+7) * (y+13) + pid*13) % 199) AS s_sum,
        |    count(*) AS n_px
        |  FROM px GROUP BY doc_id, f),
        |lagged AS (
        |  SELECT doc_id, f, s_sum, n_px,
        |    lag(s_sum) OVER (PARTITION BY doc_id ORDER BY f) AS ps,
        |    lag(n_px) OVER (PARTITION BY doc_id ORDER BY f) AS pn
        |  FROM sums)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame,
        |  CAST(s_sum AS BIGINT) AS s_sum, CAST(n_px AS BIGINT) AS n_px
        |FROM lagged
        |WHERE f = 0 OR abs(s_sum * pn - ps * n_px) * 16 > ps * n_px
        |ORDER BY doc_id, frame""".stripMargin,

    // m12: m09's lossless-PCM oracle restricted to the kept samples
    // (t = 2u — stride-2 decimation), zero-cross lag over the
    // DECIMATED sequence, sample_rate pinned 4000: the engine reads
    // it from the re-encoded file's parsed fmt chunk, so a resampler
    // that wrote a stale header surfaces here.
    "m12_resample" ->
      """WITH p AS (
        |  SELECT doc_id, u.range AS u,
        |    ((doc_id * 7 + 13) * (2 * u.range + 5) * (2 * u.range + 11)
        |      + doc_id * 17) % 4001 - 2000 AS v
        |  FROM documents CROSS JOIN range(80) u
        |  WHERE 2 * u.range < 64 + (doc_id % 4) * 32),
        |z AS (
        |  SELECT doc_id, u, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY u) AS pv
        |  FROM p)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(4000 AS BIGINT) AS sample_rate,
        |  CAST(sum(v) AS BIGINT) AS sum_amp,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // m11: the synthesis formula inverted — quadrant value = 8 +
    // 16·((id·A+B) mod 15), so the decoded-mean bucket must be
    // exactly (id·A+B) mod 15; the JPEG roundtrip's quantization
    // error (flat gray MCUs: DC-step only, ~2 levels at quality 0.9)
    // is absorbed by the 16-wide bucket with the mean at its center.
    "m11_jpeg_features" ->
      """SELECT doc_id,
        |  CAST(16 * (1 + doc_id % 2) AS INT) AS width,
        |  CAST(16 * (1 + doc_id % 2) AS INT) AS height,
        |  CAST((doc_id * 3 + 1) % 15 AS BIGINT) AS q00,
        |  CAST((doc_id * 5 + 2) % 15 AS BIGINT) AS q01,
        |  CAST((doc_id * 7 + 4) % 15 AS BIGINT) AS q10,
        |  CAST((doc_id * 11 + 8) % 15 AS BIGINT) AS q11
        |FROM documents ORDER BY doc_id""".stripMargin,

    "m08_media_neardup" ->
      """WITH mem AS (
        |  SELECT doc_id, doc_id - doc_id % 5 AS rep_id,
        |    CAST((doc_id % 5) * 3 AS BIGINT) AS off,
        |    (doc_id % 5 = 4) AS pert
        |  FROM documents),
        |dims AS (
        |  SELECT m.doc_id, m.rep_id, m.off, m.pert,
        |    CAST(8 * (1 + m.rep_id % 3) AS INTEGER) AS w,
        |    CAST(8 * (1 + m.rep_id % 2) AS INTEGER) AS h
        |  FROM mem m),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
        |    CASE WHEN d.pert AND xs.x < d.w // 8 AND ys.y < d.h // 8
        |         THEN 40 ELSE 0 END AS p,
        |    ((d.rep_id + 1) * (xs.x + 3) * (ys.y + 7) + d.rep_id * 7) % 199
        |      + d.off AS r0,
        |    ((d.rep_id + 2) * (xs.x + 5) * (ys.y + 11) + d.rep_id * 11) % 199
        |      + d.off AS g0,
        |    ((d.rep_id + 3) * (xs.x + 7) * (ys.y + 13) + d.rep_id * 13) % 199
        |      + d.off AS b0
        |  FROM dims d,
        |    LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs,
        |    LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys),
        |cells AS (
        |  SELECT doc_id, ((y // (h // 8)) * 8 + (x // (w // 8))) AS c,
        |    CAST(sum(299 * (r0 + p) + 587 * (g0 + p) + 114 * (b0 + p))
        |      AS BIGINT) AS cell_sum
        |  FROM px GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, CAST(sum(cell_sum) AS BIGINT) AS total
        |  FROM cells GROUP BY doc_id),
        |bandv AS (
        |  SELECT c.doc_id, c.c // 16 AS band,
        |    CAST(sum(CASE WHEN c.cell_sum * 64 > t.total
        |      THEN (1::BIGINT << CAST(c.c % 16 AS INTEGER)) ELSE 0 END)
        |      AS BIGINT) AS v
        |  FROM cells c JOIN tot t USING (doc_id) GROUP BY c.doc_id, band),
        |h AS (
        |  SELECT doc_id,
        |    max(CASE WHEN band = 0 THEN v END) AS h0,
        |    max(CASE WHEN band = 1 THEN v END) AS h1,
        |    max(CASE WHEN band = 2 THEN v END) AS h2,
        |    max(CASE WHEN band = 3 THEN v END) AS h3
        |  FROM bandv GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, h0, h1, h2, h3, b,
        |    CASE b WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2
        |           ELSE h3 END AS v
        |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bb),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS a, x.h0 AS a0, x.h1 AS a1,
        |    x.h2 AS a2, x.h3 AS a3,
        |    y.doc_id AS b2, y.h0 AS c0, y.h1 AS c1, y.h2 AS c2, y.h3 AS c3
        |  FROM bands x JOIN bands y
        |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
        |SELECT CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
        |    + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS BIGINT) AS hd,
        |  count(*) AS n_pairs,
        |  CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(sum(b2) AS BIGINT) AS sum_b
        |FROM pairs
        |WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
        |    + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 2
        |GROUP BY 1 ORDER BY hd""".stripMargin,

    // The fake media column IS the documents' UTF-8 bytes, so DuckDB's
    // md5 over the VARCHAR hashes the identical byte sequence the
    // Spark side hashes over the binary column.
    "m03_hash" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS keep
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // The asset-table scan aggregates metadata only; the oracle
    // recomputes the same buckets from strlen(text) — the fake payload
    // IS the documents' UTF-8 bytes (m03's argument). sum/min/max of
    // BIGINT cast back to BIGINT (DuckDB sums to HUGEINT).
    "m04_meta" ->
      """SELECT strlen(text) // 256 AS bucket, count(*) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
        |  CAST(min(strlen(text)) AS BIGINT) AS min_bytes,
        |  CAST(max(strlen(text)) AS BIGINT) AS max_bytes
        |FROM documents
        |WHERE strlen(text) >= 64
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    // m06: gate = strlen bounds, dedup = md5-of-text keep-first (the
    // m03 fake-payload argument), then the per-language report.
    "m06_media_curation" ->
      """WITH kept AS (SELECT doc_id, strlen(text) AS n_bytes, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents WHERE strlen(text) BETWEEN 200 AND 2000) t
        |  WHERE rn = 1)
        |SELECT lang, count(*) AS n_assets,
        |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
        |  min(doc_id) AS min_doc
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    // m05: the metadata gate (n_bytes >= 64 on the asset copy) is
    // strlen(text) >= 64 on the oracle side (m03/m04's argument: the
    // fake payload IS the documents' UTF-8 bytes); the ranking mirrors
    // the s01 oracle over the gated corpus.
    "m05_meta_ann" ->
      """WITH a AS (SELECT doc_id FROM documents WHERE strlen(text) >= 64),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |      FROM embeddings JOIN a ON vec_id = a.doc_id),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS c
        |  FROM q, e WHERE vec_id <> query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, c,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, round(c, 6) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "t19_zipf" ->
      """WITH tok AS (SELECT unnest(
        |    list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |t AS (SELECT count(*) AS n_vocab, CAST(sum(cnt) AS BIGINT) AS n_tokens
        |      FROM c),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
        |      FROM c),
        |s AS (SELECT round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
        |        count(*) AS n_top
        |      FROM r WHERE rank <= 1000)
        |SELECT n_vocab, n_tokens, zipf_slope, n_top FROM t, s""".stripMargin,

    // Planted re-deliveries must vanish: the oracle is the DISTINCT
    // slice itself (each event exactly once, whatever was re-sent).
    "st06_dedup" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type
        |FROM events
        |WHERE user_id % 10 = 0
        |ORDER BY event_id""".stripMargin,

    // Stage 1 is t14's oracle verbatim (the Spark side shares the
    // factored bm25Top50); stage 2 adds the bit-identical cosine (the
    // s01 argument) to the ROUNDED bm25 — the sum is engine-identical
    // before its own round.
    "s06_hybrid" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |tf AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(ts, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(ts, x -> x = 'window')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(ts, x -> x = 'batch')) AS DOUBLE) AS tf2
        |  FROM toks),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf),
        |lex AS (SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * (1.2 + 1.0)
        |        / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * (1.2 + 1.0)
        |        / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * (1.2 + 1.0)
        |        / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM tf, stats
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |r AS (SELECT doc_id, score,
        |        round(list_cosine_similarity(v, qv), 6) AS cos,
        |        round(score + list_cosine_similarity(v, qv), 4) AS hybrid
        |      FROM lex JOIN e ON e.vec_id = lex.doc_id, q)
        |SELECT rank, doc_id, score, cos, hybrid FROM (
        |  SELECT r.*, row_number() OVER (ORDER BY hybrid DESC, doc_id) AS rank
        |  FROM r) t
        |WHERE rank <= 20
        |ORDER BY rank""".stripMargin,

    "t17_domains" ->
      """WITH p AS (SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 4 = 0
        |            THEN ' see https://site' || (doc_id % 7)
        |                 || '.example.org/p/' || doc_id
        |            ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0
        |            THEN ' ref http://cdn.example.net/static/x'
        |            ELSE '' END AS txt
        |  FROM documents),
        |d AS (SELECT doc_id,
        |        lower(unnest(regexp_extract_all(txt,
        |          '(?i)https?://([a-z0-9-]+(?:\.[a-z0-9-]+)*)', 1)))
        |          AS domain
        |      FROM p)
        |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        |FROM d
        |GROUP BY domain
        |ORDER BY domain""".stripMargin,

    "q27_lateral" ->
      """SELECT n_name, t.s_name, t.s_acctbal
        |FROM nation, LATERAL (
        |  SELECT s_name, s_acctbal FROM supplier s
        |  WHERE s.s_nationkey = nation.n_nationkey
        |  ORDER BY s_acctbal DESC, s_name LIMIT 2) t
        |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin,

    // The Spark side windows over xxhash64(chunk) (the chunk string
    // never shuffles); the oracle partitions by the chunk itself —
    // identical up to a 2^-64-per-pair hash collision (t07's note).
    "d09_chunks" ->
      """WITH toks AS (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |      FROM documents WHERE text IS NOT NULL),
        |ch0 AS (SELECT doc_id, ts,
        |          unnest(range(0, greatest(CAST(ceil(len(ts)/20.0) AS BIGINT), 1)))
        |            AS chunk_idx
        |        FROM toks),
        |ch AS (SELECT doc_id, chunk_idx,
        |         array_to_string(list_slice(ts, chunk_idx*20+1, chunk_idx*20+20), ' ')
        |           AS chunk
        |       FROM ch0),
        |r AS (SELECT doc_id, chunk_idx,
        |        row_number() OVER (PARTITION BY chunk
        |                           ORDER BY doc_id, chunk_idx) AS rn
        |      FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(min(CASE WHEN rn > 1 THEN chunk_idx END), -1) AS first_dup_idx
        |FROM r GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q116: DuckDB's damerau_levenshtein IS the reference
    // implementation the engine's native expression is pinned to
    // (byte-level true DL) — same capped nation blocks, same pairs,
    // integer histogram.
    "q116_typo_distance" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer
        |           WHERE c_custkey % 50 = 0),
        |v AS (
        |  SELECT 'swap' AS kind, c_name,
        |    substr(c_name,1,15) || substr(c_name,17,1) ||
        |    substr(c_name,16,1) || substr(c_name,18,100) AS variant FROM c
        |  UNION ALL
        |  SELECT 'del', c_name,
        |    substr(c_name,1,15) || substr(c_name,17,100) FROM c
        |  UNION ALL
        |  SELECT 'swap_sub', c_name,
        |    substr(c_name,1,15) || substr(c_name,17,1) ||
        |    substr(c_name,16,1) || 'X' FROM c
        |  UNION ALL
        |  SELECT 'dblswap', c_name,
        |    substr(c_name,1,13) || substr(c_name,15,1) ||
        |    substr(c_name,14,1) || substr(c_name,17,1) ||
        |    substr(c_name,16,1) || substr(c_name,18,100) FROM c)
        |SELECT kind, count(*)::BIGINT AS n,
        |  CAST(min(damerau_levenshtein(c_name, variant)) AS BIGINT) AS min_dl,
        |  CAST(max(damerau_levenshtein(c_name, variant)) AS BIGINT) AS max_dl,
        |  CAST(sum(damerau_levenshtein(c_name, variant)) AS BIGINT) AS sum_dl
        |FROM v GROUP BY kind ORDER BY kind""".stripMargin,

    "d10_fuzzy" ->
      """SELECT c_custkey, s_suppkey,
        |  CAST(levenshtein(substr(c_name, 10, 9), substr(s_name, 10, 9)) AS BIGINT)
        |    AS dist
        |FROM customer JOIN supplier
        |  ON substr(c_name, 10, 7) = substr(s_name, 10, 7)
        |WHERE levenshtein(substr(c_name, 10, 9), substr(s_name, 10, 9)) <= 1
        |ORDER BY c_custkey, s_suppkey""".stripMargin,

    "t15_pii" ->
      """WITH p AS (SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN ' contact user' || doc_id || '@mail.example.com now'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |            THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |                 || ' today'
        |            ELSE '' END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(txt, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |    AS n_emails,
        |  len(regexp_extract_all(txt,
        |    '(\+?1[-. ])?(\(?[0-9]{3}\)?[-. ])?[0-9]{3}[-. ][0-9]{4}')) AS n_phones,
        |  regexp_replace(regexp_replace(txt,
        |      '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '(\+?1[-. ])?(\(?[0-9]{3}\)?[-. ])?[0-9]{3}[-. ][0-9]{4}',
        |    '<PHONE>', 'g') AS redacted
        |FROM p
        |ORDER BY doc_id""".stripMargin,

    // Mirrors the Spark pipeline stage-for-stage: double centroids
    // FLOAT-round-tripped (the Spark side casts to array<float> for the
    // fused kernel; double->float rounding is IEEE-identical in both
    // engines), assignment ties to the larger label, closure via the
    // d08 recursive-CTE shape.
    "d11_semdedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT label, i AS dim, round(avg(embedding[i+1]), 4) AS c
        |         FROM embeddings, range(0, 64) t(i) GROUP BY label, i),
        |cvec AS (SELECT label, list_transform(list(c ORDER BY dim),
        |           x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
        |         FROM cent GROUP BY label),
        |asg AS (SELECT vec_id, v, cluster FROM (
        |  SELECT e.vec_id, e.v, c.label AS cluster,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.label DESC) AS rn
        |  FROM e, cvec c) t WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM asg a JOIN asg b
        |      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
        |ed AS (SELECT id_a AS a, id_b AS b FROM p
        |       UNION ALL SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM ed
        |  UNION
        |  SELECT r.a, ed.b FROM reach r JOIN ed ON r.b = ed.a),
        |roots AS (SELECT a AS vec_id, min(b) AS kept_id FROM reach GROUP BY a)
        |SELECT vec_id, kept_id FROM roots
        |WHERE kept_id < vec_id
        |ORDER BY vec_id""".stripMargin,

    "t16_nll" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents),
        |v AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM v),
        |sc AS (SELECT doc_id, count(*) AS n_tokens,
        |         round(avg(-ln(c / n)), 4) AS nll
        |       FROM toks JOIN v USING (token), n
        |       GROUP BY doc_id)
        |SELECT doc_id, n_tokens, nll,
        |  CASE WHEN nll <= 3.40 THEN 'head'
        |       WHEN nll <= 3.45 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc
        |ORDER BY doc_id""".stripMargin,

    // The >= 0.2 threshold (and d11's >= 0.35 edge filter above)
    // compares the UNROUNDED cosine on both sides, and both taus are
    // MEASURED-ANCHORED away from every representable corpus cosine
    // at the testdata seed (round-6 measurement): nearest cosine to
    // 0.2 is >= 5.2e-5 distant and to 0.35 is >= 7.8e-6 distant at
    // sf0.001/0.01/0.1, while a worst-case summation reorder in
    // either engine perturbs a 64-term dot product by only ~1e-14.
    // Boundary rows therefore cannot flip under vectorization or
    // pairwise/Kahan reassociation on either side — the comparison
    // is safe WITHOUT relying on bit-for-bit kernel agreement.
    "s04_radius" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10)
        |SELECT query_id, vec_id, round(list_cosine_similarity(qv, v), 6) AS cos
        |FROM q, e
        |WHERE vec_id <> query_id AND list_cosine_similarity(qv, v) >= 0.2
        |ORDER BY query_id, vec_id""".stripMargin,

    "st04_sliding" ->
      """WITH w AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS b,
        |             event_type, value
        |           FROM events),
        |x AS (SELECT b AS ws, event_type, value FROM w
        |      UNION ALL
        |      SELECT b - INTERVAL '5 minutes', event_type, value FROM w)
        |SELECT epoch_us(ws) AS window_start_us, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM x
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin,

    "t01_langid" ->
      """SELECT doc_id, lang,
        |  CASE WHEN hits = 0 THEN 'und'
        |       WHEN s_zh = hits THEN 'zh'
        |       WHEN s_fr = hits THEN 'fr'
        |       WHEN s_es = hits THEN 'es'
        |       WHEN s_en = hits THEN 'en'
        |       ELSE 'de' END AS predicted,
        |  hits
        |FROM (
        |  SELECT doc_id, lang, s_en, s_de, s_fr, s_es, s_zh,
        |         greatest(s_en, s_de, s_fr, s_es, s_zh) AS hits
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(list_filter(toks, x -> list_contains(
        |        ['the','and','of','to','in','is','you','that','it','for'], x))) AS s_en,
        |      len(list_filter(toks, x -> list_contains(
        |        ['der','die','das','und','ist','nicht','mit','ein','ich','zu'], x))) AS s_de,
        |      len(list_filter(toks, x -> list_contains(
        |        ['le','la','les','et','des','est','un','une','que','pour'], x))) AS s_fr,
        |      len(list_filter(toks, x -> list_contains(
        |        ['el','los','de','que','y','en','un','es','por','con'], x))) AS s_es,
        |      len(list_filter(toks, x -> list_contains(
        |        ['的','是','了','在','我','有','和','就','不','人'], x))) AS s_zh
        |    FROM (SELECT doc_id, lang,
        |            list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |          FROM documents) t) u) v
        |ORDER BY doc_id""".stripMargin,

    "t05_winnow" ->
      """SELECT doc_id, len(fps) AS n_fingerprints,
        |       list_aggregate(fps, 'min') AS min_fingerprint
        |FROM (
        |  SELECT doc_id, list_distinct(list_transform(
        |           range(0, len(h) - 3),
        |           w -> least(h[w+1], h[w+2], h[w+3], h[w+4]))) AS fps
        |  FROM (
        |    SELECT doc_id, list_transform(
        |             range(1, length(text) - 6),
        |             i -> md5(substr(text, i, 8))) AS h
        |    FROM documents
        |    WHERE length(text) >= 11) t) u
        |ORDER BY doc_id""".stripMargin,

    // Generated from the same seed-fixed hyperplane literals the Spark
    // signature uses — see Similarity.d05OracleSql for the exactness
    // argument (sign parity + the s01 bit-for-bit cosine note below).
    "d05_embedding_dedup" -> Similarity.d05OracleSql,

    // Exact-cosine oracles: DuckDB's list_cosine_similarity over the
    // embeddings cast to DOUBLE[] accumulates the same values in the
    // same order as the native cosine_sim kernel (floats are exactly
    // representable in double), so even round(,6) matches bit-for-bit.
    "s01_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS c
        |  FROM q, e WHERE vec_id <> query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, c,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, round(c, 6) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // s24: the oracle ranks by the UNPACKED Hamming definition —
    // count of sign mismatches — which equals bit_count(xor) of the
    // engine's packed sigs by construction; rank order is all-integer
    // (hamming, vec_id), so no float affects row identity.
    "s24_hamming_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    len(list_filter(range(64),
        |      i -> (e.v[i+1] > 0) <> (q.qv[i+1] > 0))) AS hamming
        |  FROM q, e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, hamming,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming ASC, vec_id) AS rank
        |  FROM scored)
        |SELECT r.query_id, r.rank, r.vec_id, CAST(r.hamming AS INT) AS hamming,
        |  round(list_cosine_similarity(q.qv, e.v), 6) AS cos
        |FROM ranked r
        |JOIN q ON q.query_id = r.query_id
        |JOIN e ON e.vec_id = r.vec_id
        |WHERE r.rank <= 5
        |ORDER BY r.query_id, r.rank""".stripMargin,

    "s02_ivf_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, v, centroid_id AS bucket FROM (
        |    SELECT e.vec_id, e.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id DESC) AS rn
        |    FROM e, c) t WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, qv, centroid_id AS bucket FROM (
        |    SELECT q.query_id, q.qv, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS pr
        |    FROM q, c) t WHERE pr <= 2),
        |scored AS (
        |  SELECT p.query_id, a.vec_id, list_cosine_similarity(p.qv, a.v) AS cos
        |  FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |  WHERE a.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "s03_centroids" ->
      """SELECT label, i AS dim, round(avg(embedding[i+1]), 4) AS c, count(*) AS n
        |FROM embeddings, range(0, 64) t(i)
        |GROUP BY label, i
        |ORDER BY label, dim""".stripMargin,

    // Two Lloyd iterations unrolled as CTEs, mirroring the Spark loop
    // stage-for-stage: bit-identical assignment cosines (the s01
    // argument — both kernels accumulate in double, in index order,
    // over identical float inputs), ties to the LARGER centroid id
    // (Spark's greatest() over (cos, centroid_id) structs = this
    // ORDER BY cos DESC, centroid_id DESC), and means
    // round(4)-then-FLOAT-round-tripped between iterations exactly as
    // the Spark side holds them driver-side (the d11 discipline).
    "s07_kmeans" ->
      s"""WITH $kmeansCtes
        |SELECT centroid_id, i AS dim, round(avg(v[i+1]), 4) AS c,
        |  count(*) AS n
        |FROM a2, range(0, 64) t(i)
        |GROUP BY centroid_id, i
        |ORDER BY centroid_id, dim""".stripMargin,

    // The whole unlabeled-data ANN path (train -> assign -> probe ->
    // rank) under one oracle — the shared string's scaladoc carries
    // the tie conventions.
    "s08_ivf_trained" -> s08TrainedIvfOracle,

    // s31: s08's oracle VERBATIM — the migrated layout probed with the
    // retrained centroids must answer exactly like the from-scratch
    // trained index (migration is answer-invariant by construction;
    // the in-query exceptAll gate pins the layout, this pins the
    // search).
    "s31_ivf_migrate" -> s08TrainedIvfOracle,

    // The s07 training CTEs composed with d11's closure CTEs: SemDeDup
    // without labels. Same tau = 0.35 as d11, measured-anchored over
    // the KMEANS-cluster pairs specifically: nearest within-cluster
    // cosine to 0.35 is >= 1.3e-5 distant at sf0.001/0.01/0.1 (round-6
    // measurement; see the s04 entry for the reorder-perturbation
    // bound this dominates by ~9 orders).
    "d14_km_dedup" ->
      s"""WITH RECURSIVE $kmeansCtes,
        |asg AS (SELECT vec_id, v, centroid_id AS cluster FROM (
        |  SELECT e.vec_id, e.v, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
        |               c.centroid_id DESC) AS rn
        |  FROM e, c2 c) t WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM asg a JOIN asg b
        |      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
        |ed AS (SELECT id_a AS a, id_b AS b FROM p
        |       UNION ALL SELECT id_b, id_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM ed
        |  UNION
        |  SELECT r.a, ed.b FROM reach r JOIN ed ON r.b = ed.a),
        |roots AS (SELECT a AS vec_id, min(b) AS kept_id FROM reach GROUP BY a)
        |SELECT vec_id, kept_id FROM roots
        |WHERE kept_id < vec_id
        |ORDER BY vec_id""".stripMargin,

    // s01's exact top-5 joined against s02's IVF top-5, hit-counted
    // per query — both neighbor sets are engine-identical (the s01/s02
    // bit-for-bit cosine + vec_id tie arguments), so the recall is too.
    "s10_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
        |  FROM (SELECT query_id, vec_id, list_cosine_similarity(qv, v) AS c
        |        FROM q, e WHERE vec_id <> query_id) s0) r
        |  WHERE rk <= 5),
        |cc AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
        |assigned AS (SELECT vec_id, v, centroid_id AS bucket FROM (
        |  SELECT e.vec_id, e.v, cc.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, cc.cv) DESC,
        |               cc.centroid_id DESC) AS rn
        |  FROM e, cc) t WHERE rn = 1),
        |probes AS (SELECT query_id, qv, centroid_id AS bucket FROM (
        |  SELECT q.query_id, q.qv, cc.centroid_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qv, cc.cv) DESC,
        |               cc.centroid_id) AS pr
        |  FROM q, cc) t WHERE pr <= 2),
        |ap AS (SELECT query_id, vec_id FROM (
        |  SELECT p.query_id, a.vec_id,
        |    row_number() OVER (PARTITION BY p.query_id
        |      ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.vec_id) AS rk
        |  FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |  WHERE a.vec_id <> p.query_id) r
        |  WHERE rk <= 5)
        |SELECT ex.query_id AS query_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 4) AS recall
        |FROM ex LEFT JOIN ap
        |  ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
        |GROUP BY ex.query_id
        |ORDER BY query_id""".stripMargin,

    "t13_stratified" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR))) AS BIGINT) AS rk
        |  FROM documents) t
        |WHERE rk <= 20
        |ORDER BY doc_id""".stripMargin,

    "t14_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |tf AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(ts, x -> x = 'spark')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(ts, x -> x = 'window')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(ts, x -> x = 'batch')) AS DOUBLE) AS tf2
        |  FROM toks),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM tf)
        |SELECT doc_id, score FROM (
        |  SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * (1.2 + 1.0)
        |        / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * (1.2 + 1.0)
        |        / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * (1.2 + 1.0)
        |        / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
        |  FROM tf, stats
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |  ORDER BY score DESC, doc_id LIMIT 50) q
        |ORDER BY doc_id""".stripMargin,

    // ln over exact small-integer ratios: Java's Math.log and DuckDB's
    // ln agree bit-for-bit on these inputs (the t16 argument), and the
    // product rounds to 4 before compare.
    "t20_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf)
        |SELECT doc_id, token, tf, doc_freq,
        |  round(tf * ln(n / doc_freq), 4) AS tfidf
        |FROM tf JOIN dfq USING (token), n
        |ORDER BY doc_id, token""".stripMargin,

    // The corpus trains the bigram LM that scores it, so every doc
    // bigram hits the table (no smoothing); round-4 on the mean -ln
    // absorbs cross-engine summation order (the t16 regime).
    "t21_binll" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ts), 1)),
        |      i -> ts[i] || ' ' || ts[i+1])) AS bigram
        |  FROM toks),
        |c AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
        |wc AS (SELECT bigram, c2,
        |         sum(c2) OVER (PARTITION BY split_part(bigram, ' ', 1)) AS c1
        |       FROM c)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(avg(-ln(c2 / c1)), 4) AS nll2
        |FROM bg JOIN wc USING (bigram)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // Weights in e-notation parse straight to DOUBLE (the d05 rule —
    // DECIMAL literals would give DuckDB exact products where Spark's
    // doubles round); these particular weights are exactly
    // representable so every quota product is an exact integer on
    // both sides. Same salted-md5 order as t13.
    "t22_mix" ->
      """WITH w(lang, wt) AS (VALUES
        |    ('en', 5e-1), ('de', 2.5e-1), ('fr', 1.25e-1),
        |    ('es', 6.25e-2), ('zh', 6.25e-2)),
        |a AS (SELECT lang, CAST(floor(wt * 160) AS BIGINT) AS base,
        |        wt * 160 - floor(wt * 160) AS rem
        |      FROM w),
        |l AS (SELECT 160 - CAST(sum(base) AS BIGINT) AS leftover FROM a),
        |q AS (SELECT lang,
        |        base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
        |                         <= leftover THEN 1 ELSE 0 END AS quota
        |      FROM a, l),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR))) AS BIGINT) AS rk
        |      FROM documents)
        |SELECT doc_id, r.lang AS lang, rk
        |FROM r JOIN q USING (lang)
        |WHERE rk <= quota
        |ORDER BY doc_id""".stripMargin,

    // Cross-corpus scoring: p is an exact integer-ratio double, -ln
    // agrees bit-for-bit (the t16 argument), the OOV floor is an
    // exact literal, and the weighted mean rounds to 4 (absorbs
    // cross-engine summation order — the t21 regime).
    "t23_xnll" ->
      """WITH tr AS (SELECT
        |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |c AS (SELECT token, count(*) AS c FROM tr GROUP BY token),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
        |lm AS (SELECT token, c / n.n AS p FROM c, n),
        |sc AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents WHERE doc_id % 2 = 1),
        |g AS (SELECT doc_id, token, count(*) AS k FROM sc GROUP BY 1, 2),
        |j AS (SELECT doc_id, k, p FROM g LEFT JOIN lm USING (token))
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN p IS NULL THEN k ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(sum(k * CASE WHEN p IS NULL THEN 15.0 ELSE -ln(p) END)
        |    / sum(k), 4) AS nll
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t24_xbinll" ->
      """WITH tr AS (SELECT
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents WHERE doc_id % 2 = 0),
        |bgt AS (SELECT unnest(list_transform(range(1, greatest(len(ts), 1)),
        |    i -> ts[i] || ' ' || ts[i+1])) AS bigram FROM tr),
        |c AS (SELECT bigram, count(*) AS c2 FROM bgt GROUP BY bigram),
        |lm AS (SELECT bigram,
        |    c2 / sum(c2) OVER (PARTITION BY split_part(bigram, ' ', 1)) AS p
        |  FROM c),
        |sc AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
        |  FROM documents WHERE doc_id % 2 = 1),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts), 1)),
        |    i -> ts[i] || ' ' || ts[i+1])) AS bigram FROM sc),
        |g AS (SELECT doc_id, bigram, count(*) AS k FROM bg GROUP BY 1, 2),
        |j AS (SELECT doc_id, k, p FROM g LEFT JOIN lm USING (bigram))
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CASE WHEN p IS NULL THEN k ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(sum(k * CASE WHEN p IS NULL THEN 15.0 ELSE -ln(p) END)
        |    / sum(k), 4) AS nll2
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // t25 = t20's values through the pre-materialized-tf entry point,
    // so it shares t20's oracle SQL verbatim.
    "t25_tfidf_mat" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY token),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf)
        |SELECT doc_id, token, tf, doc_freq,
        |  round(tf * ln(n / doc_freq), 4) AS tfidf
        |FROM tf JOIN dfq USING (token), n
        |ORDER BY doc_id, token""".stripMargin,

    // Every comparison is engine-exact (no summation anywhere): scale
    // = 127/max|v| over float-exact doubles, round() is away-from-zero
    // in both engines and its output is an integral double (so the
    // BIGINT cast cannot hit the round-vs-truncate divergence), and
    // the reconstruction error is an element-wise max of exact
    // divisions. list_sum of a BIGINT list casts back from HUGEINT.
    "s09_quant" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
        |      FROM e),
        |q AS (SELECT vec_id, scale,
        |        list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS qv,
        |        v
        |      FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(len(qv) AS BIGINT) AS n_dims,
        |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
        |  CAST(list_min(qv) AS BIGINT) AS min_q,
        |  CAST(list_max(qv) AS BIGINT) AS max_q,
        |  round(list_max(list_transform(range(1, len(qv) + 1),
        |    i -> abs(qv[i] / scale - v[i]))), 6) AS max_err
        |FROM q
        |ORDER BY vec_id""".stripMargin,

    // Stage 1 ranks on scores derived ONLY from exact integers (int8
    // dot / sqrt of an exact-integer norm product < 2^53): the
    // candidate set is bit-identical across engines with no rounding
    // discipline. The float rerank then follows s01's regime — rank
    // exact doubles, round(6) for display.
    "s11_qsearch" ->
      (SparkEntry.s11Ctes + """
        |SELECT query_id, rank, vec_id, round(cs, 6) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""").stripMargin,

    // s19 composes the s11 CTEs (verbatim, ending in `ranked`) with
    // s01's exact head and the s10/s16/s18 recall tail — the int8
    // cascade's own recall report.
    "s19_quant_recall" ->
      (SparkEntry.s11Ctes + """,
        |ap AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 5),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT q.query_id, n2.vec_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qf, n2.v) DESC, n2.vec_id)
        |      AS rk
        |  FROM q, n n2 WHERE n2.vec_id <> q.query_id) r
        |  WHERE rk <= 5)
        |SELECT ex.query_id AS query_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 4) AS recall
        |FROM ex LEFT JOIN ap
        |  ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
        |GROUP BY ex.query_id
        |ORDER BY query_id""").stripMargin,

    // s12's oracle is GENERATED like d05's: the seed-fixed hyperplanes
    // print as %.17e literals so both engines bucket on identical
    // planes; see Similarity.s12OracleSql for the probe fan-out.
    "s12_lsh_topk" -> Similarity.s12OracleSql,

    // s13 runs the SAME search over the sig-partitioned at-rest index
    // — identical oracle by construction: the layout (and its
    // partition-pruned probe scan) must not change the answer.
    "s13_lsh_layout" -> Similarity.s12OracleSql,
    // s25: the incremental-equals-rebuild gate — the base+appended
    // index must answer exactly like the from-scratch pipeline
    "s25_inc_append" -> Similarity.s12OracleSql,

    // s27: same from-scratch oracle as s13/s25 — the whole maintenance
    // cycle (build -> append -> compact) must answer identically to a
    // one-shot index; the byte-identical before/after gate and the
    // single-file-per-partition check run INSIDE the query.
    "s27_compact_search" -> Similarity.s12OracleSql,

    // s29: the from-scratch LSH pipeline over the corpus WITHOUT the
    // purged rows — what the index must answer both masked (tombstone
    // sidecar) and after the physical compact-out; the byte-identical
    // masked-vs-compacted gate runs INSIDE the query.
    "s29_tombstone_purge" -> Similarity.s29OracleSql,
    // st30 streams the SAME purge requests into its own layout copy
    // micro-batch by micro-batch; request arrival cadence must not
    // change the final answer, so it shares s29's from-scratch oracle.
    "st30_purge_stream" -> Similarity.s29OracleSql,

    // s30: s02's from-scratch IVF pipeline with the purge set removed
    // from the ASSIGNED corpus only — centroids (vec_id < 16) and
    // queries (vec_id < 10) are never purged by construction, so the
    // model and the probe set are identical to s02's.
    "s30_tombstone_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, v, centroid_id AS bucket FROM (
        |    SELECT e.vec_id, e.v, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id DESC) AS rn
        |    FROM e, c) t
        |  WHERE rn = 1 AND NOT (vec_id % 10 = 3 AND vec_id >= 16)),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, qv, centroid_id AS bucket FROM (
        |    SELECT q.query_id, q.qv, c.centroid_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.centroid_id) AS pr
        |    FROM q, c) t WHERE pr <= 2),
        |scored AS (
        |  SELECT p.query_id, a.vec_id, list_cosine_similarity(p.qv, a.v) AS cos
        |  FROM probes p JOIN assigned a ON p.bucket = a.bucket
        |  WHERE a.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, round(cos, 6) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // s14: the 4 greedy MMR rounds unroll as CTEs (the t26 pattern);
    // per round, pN computes each candidate's redundancy penalty
    // (max cosine against everything selected so far, uK), sN argmaxes
    // 0.7·relevance − 0.3·penalty. Literal 0.7/0.3 on both engines —
    // never a computed 1−λ (different binary64 than the literal).
    "s14_mmr_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |c AS (SELECT query_id, vec_id, v, cs FROM (
        |  SELECT query_id, vec_id, v, list_cosine_similarity(qv, v) AS cs,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS rn
        |  FROM q, e WHERE vec_id <> query_id) t WHERE rn <= 20),
        |s1 AS (SELECT query_id, vec_id, v, cs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, vec_id) AS rn FROM c) t WHERE rn = 1),
        |u1 AS (SELECT * FROM s1),
        |p2 AS (SELECT c.query_id, c.vec_id,
        |    max(list_cosine_similarity(c.v, s.v)) AS pen
        |  FROM c JOIN u1 s USING (query_id) GROUP BY c.query_id, c.vec_id),
        |s2 AS (SELECT query_id, vec_id, v, cs FROM (
        |  SELECT c.query_id, c.vec_id, c.v, c.cs,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY 0.7 * c.cs - 0.3 * p.pen DESC, c.vec_id) AS rn
        |  FROM c JOIN p2 p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM u1 s
        |    WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)) t
        |  WHERE rn = 1),
        |u2 AS (SELECT * FROM u1 UNION ALL SELECT * FROM s2),
        |p3 AS (SELECT c.query_id, c.vec_id,
        |    max(list_cosine_similarity(c.v, s.v)) AS pen
        |  FROM c JOIN u2 s USING (query_id) GROUP BY c.query_id, c.vec_id),
        |s3 AS (SELECT query_id, vec_id, v, cs FROM (
        |  SELECT c.query_id, c.vec_id, c.v, c.cs,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY 0.7 * c.cs - 0.3 * p.pen DESC, c.vec_id) AS rn
        |  FROM c JOIN p3 p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM u2 s
        |    WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)) t
        |  WHERE rn = 1),
        |u3 AS (SELECT * FROM u2 UNION ALL SELECT * FROM s3),
        |p4 AS (SELECT c.query_id, c.vec_id,
        |    max(list_cosine_similarity(c.v, s.v)) AS pen
        |  FROM c JOIN u3 s USING (query_id) GROUP BY c.query_id, c.vec_id),
        |s4 AS (SELECT query_id, vec_id, v, cs FROM (
        |  SELECT c.query_id, c.vec_id, c.v, c.cs,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY 0.7 * c.cs - 0.3 * p.pen DESC, c.vec_id) AS rn
        |  FROM c JOIN p4 p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM u3 s
        |    WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)) t
        |  WHERE rn = 1),
        |u4 AS (SELECT * FROM u3 UNION ALL SELECT * FROM s4),
        |p5 AS (SELECT c.query_id, c.vec_id,
        |    max(list_cosine_similarity(c.v, s.v)) AS pen
        |  FROM c JOIN u4 s USING (query_id) GROUP BY c.query_id, c.vec_id),
        |s5 AS (SELECT query_id, vec_id, v, cs FROM (
        |  SELECT c.query_id, c.vec_id, c.v, c.cs,
        |    row_number() OVER (PARTITION BY c.query_id
        |      ORDER BY 0.7 * c.cs - 0.3 * p.pen DESC, c.vec_id) AS rn
        |  FROM c JOIN p5 p ON p.query_id = c.query_id AND p.vec_id = c.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM u4 s
        |    WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)) t
        |  WHERE rn = 1)
        |SELECT query_id, rank, vec_id, round(cs, 6) AS cos FROM (
        |  SELECT query_id, vec_id, cs, CAST(1 AS INTEGER) AS rank FROM s1
        |  UNION ALL SELECT query_id, vec_id, cs, 2 FROM s2
        |  UNION ALL SELECT query_id, vec_id, cs, 3 FROM s3
        |  UNION ALL SELECT query_id, vec_id, cs, 4 FROM s4
        |  UNION ALL SELECT query_id, vec_id, cs, 5 FROM s5) t
        |ORDER BY query_id, rank""".stripMargin,

    // s15 mirrors the PQ pipeline relationally: the same first-16
    // codebook, per-subspace squared-L2 argmin (explicit 8-term sums,
    // ties ORDER BY d2, code == Spark's struct-min (d2, j)),
    // reconstruction as ordered sub-centroid concat, ADC inner
    // product, exact-cosine rerank of the 20-candidate head. All
    // double math over float-exact inputs in the same element order
    // (the s01/s09 argument).
    "s15_pq_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id < 16),
        |ms AS (SELECT unnest(range(0, 8)) AS m),
        |dist AS (
        |  SELECT e.vec_id, ms.m, cb.code,
        |    ((e.v[ms.m*8+1]-cb.cv[ms.m*8+1])*(e.v[ms.m*8+1]-cb.cv[ms.m*8+1])
        |   + (e.v[ms.m*8+2]-cb.cv[ms.m*8+2])*(e.v[ms.m*8+2]-cb.cv[ms.m*8+2])
        |   + (e.v[ms.m*8+3]-cb.cv[ms.m*8+3])*(e.v[ms.m*8+3]-cb.cv[ms.m*8+3])
        |   + (e.v[ms.m*8+4]-cb.cv[ms.m*8+4])*(e.v[ms.m*8+4]-cb.cv[ms.m*8+4])
        |   + (e.v[ms.m*8+5]-cb.cv[ms.m*8+5])*(e.v[ms.m*8+5]-cb.cv[ms.m*8+5])
        |   + (e.v[ms.m*8+6]-cb.cv[ms.m*8+6])*(e.v[ms.m*8+6]-cb.cv[ms.m*8+6])
        |   + (e.v[ms.m*8+7]-cb.cv[ms.m*8+7])*(e.v[ms.m*8+7]-cb.cv[ms.m*8+7])
        |   + (e.v[ms.m*8+8]-cb.cv[ms.m*8+8])*(e.v[ms.m*8+8]-cb.cv[ms.m*8+8]))
        |      AS d2
        |  FROM e, ms, cb),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |      row_number() OVER (PARTITION BY vec_id, m
        |        ORDER BY d2, code) AS rn
        |    FROM dist) t WHERE rn = 1),
        |recon AS (
        |  SELECT c.vec_id,
        |    flatten(list(list_slice(cb.cv, c.m*8+1, c.m*8+8) ORDER BY c.m))
        |      AS rvec
        |  FROM codes c JOIN cb ON cb.code = c.code
        |  GROUP BY c.vec_id),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |adc AS (
        |  SELECT q.query_id, r.vec_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_inner_product(q.qv, r.rvec) DESC, r.vec_id)
        |      AS crn
        |  FROM q, recon r WHERE r.vec_id <> q.query_id),
        |rer AS (
        |  SELECT a.query_id, a.vec_id, list_cosine_similarity(q.qv, e.v) AS cos
        |  FROM adc a JOIN q ON q.query_id = a.query_id
        |  JOIN e ON e.vec_id = a.vec_id
        |  WHERE a.crn <= 20)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
        |       round(cos, 6) AS cos FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM rer) t WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // s16 composes the s15 PQ pipeline (verbatim CTEs, ending in the
    // top-5 head `ap`) with s01's exact head `ex` and s10's recall
    // tail — the same composition annRecall performs.
    "s16_pq_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id < 16),
        |ms AS (SELECT unnest(range(0, 8)) AS m),
        |dist AS (
        |  SELECT e.vec_id, ms.m, cb.code,
        |    ((e.v[ms.m*8+1]-cb.cv[ms.m*8+1])*(e.v[ms.m*8+1]-cb.cv[ms.m*8+1])
        |   + (e.v[ms.m*8+2]-cb.cv[ms.m*8+2])*(e.v[ms.m*8+2]-cb.cv[ms.m*8+2])
        |   + (e.v[ms.m*8+3]-cb.cv[ms.m*8+3])*(e.v[ms.m*8+3]-cb.cv[ms.m*8+3])
        |   + (e.v[ms.m*8+4]-cb.cv[ms.m*8+4])*(e.v[ms.m*8+4]-cb.cv[ms.m*8+4])
        |   + (e.v[ms.m*8+5]-cb.cv[ms.m*8+5])*(e.v[ms.m*8+5]-cb.cv[ms.m*8+5])
        |   + (e.v[ms.m*8+6]-cb.cv[ms.m*8+6])*(e.v[ms.m*8+6]-cb.cv[ms.m*8+6])
        |   + (e.v[ms.m*8+7]-cb.cv[ms.m*8+7])*(e.v[ms.m*8+7]-cb.cv[ms.m*8+7])
        |   + (e.v[ms.m*8+8]-cb.cv[ms.m*8+8])*(e.v[ms.m*8+8]-cb.cv[ms.m*8+8]))
        |      AS d2
        |  FROM e, ms, cb),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT vec_id, m, code,
        |      row_number() OVER (PARTITION BY vec_id, m
        |        ORDER BY d2, code) AS rn
        |    FROM dist) t WHERE rn = 1),
        |recon AS (
        |  SELECT c.vec_id,
        |    flatten(list(list_slice(cb.cv, c.m*8+1, c.m*8+8) ORDER BY c.m))
        |      AS rvec
        |  FROM codes c JOIN cb ON cb.code = c.code
        |  GROUP BY c.vec_id),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |adc AS (
        |  SELECT q.query_id, r.vec_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_inner_product(q.qv, r.rvec) DESC, r.vec_id)
        |      AS crn
        |  FROM q, recon r WHERE r.vec_id <> q.query_id),
        |rer AS (
        |  SELECT a.query_id, a.vec_id, list_cosine_similarity(q.qv, e.v) AS cos
        |  FROM adc a JOIN q ON q.query_id = a.query_id
        |  JOIN e ON e.vec_id = a.vec_id
        |  WHERE a.crn <= 20),
        |ap AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM rer) t WHERE rank <= 5),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
        |      AS rk
        |  FROM (SELECT q.query_id, e.vec_id,
        |          list_cosine_similarity(q.qv, e.v) AS c
        |        FROM q, e WHERE e.vec_id <> q.query_id) s0) r
        |  WHERE rk <= 5)
        |SELECT ex.query_id AS query_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 4) AS recall
        |FROM ex LEFT JOIN ap
        |  ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
        |GROUP BY ex.query_id
        |ORDER BY query_id""".stripMargin,

    // s17 mirrors the IVF-PQ composition relationally: coarse routing
    // = kmeansCtes' a1 assignment shape over the first-8 centroids
    // (cosine argmax, tie LARGER centroid id), residual subtraction in
    // double, s15's per-subspace encode over the residual codebook
    // (corpus vectors 16..31's own residuals), reconstruction =
    // centroid + gathered residual sub-centroids elementwise, probes =
    // 2 nearest cells (tie SMALLER id), ADC within probed cells only,
    // exact-cosine rerank of the 20-candidate head. All double math
    // over float-exact inputs in the same element order (the s15
    // argument).
    "s17_ivfpq_topk" ->
      (SparkEntry.s17Ctes + """
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
        |       round(cos, 6) AS cos FROM (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM rer) t WHERE rank <= 5
        |ORDER BY query_id, rank""").stripMargin,

    // s18 composes the s17 CTEs (verbatim, ending in the reranked
    // head `rer`) with s01's exact head and s10/s16's recall tail.
    "s18_ivfpq_recall" ->
      (SparkEntry.s17Ctes + """,
        |ap AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM rer) t WHERE rank <= 5),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
        |      AS rk
        |  FROM (SELECT q.query_id, e.vec_id,
        |          list_cosine_similarity(q.qv, e.v) AS c
        |        FROM q, e WHERE e.vec_id <> q.query_id) s0) r
        |  WHERE rk <= 5)
        |SELECT ex.query_id AS query_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 4) AS recall
        |FROM ex LEFT JOIN ap
        |  ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
        |GROUP BY ex.query_id
        |ORDER BY query_id""").stripMargin,

    // q30/q31 exercise the bucketed/partitioned COPIES of lineitem/
    // orders/events; content is identical to the source tables, so the
    // oracle reads the originals — layout must never change answers.
    "q30_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q31_part_prune" ->
      """SELECT CAST(user_id % 20 AS BIGINT) AS bucket,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    // q32 reads the ORC COPY of lineitem; the oracle reads the parquet
    // original — the layout/format must never change answers.
    "q32_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE l_quantity >= 25
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q33 reads the JSON-lines COPY of orders; the oracle reads the
    // parquet original — the text format round-trip (numbers, strings,
    // AND the timestamp the filter cuts on) must never change answers.
    "q33_json_source" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1996-06-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q34 reads the CSV COPY of customer carrying one planted corrupt
    // row (quarantined by PERMISSIVE mode, excluded by the query); the
    // oracle reads the clean parquet original — a hash match proves
    // both the text round-trip and the quarantine.
    "q34_csv_permissive" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |  round(sum(c_acctbal), 2) AS sum_bal,
        |  min(c_custkey) AS min_key
        |FROM customer
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q35 reads the two-generation (schema-evolved) COPY of orders;
    // the oracle reproduces the generation split on the single-schema
    // original: even keys predate the o_orderstatus column and fold to
    // the same '<pre-schema>' bucket the engine's coalesce produces.
    "q35_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
        |            ELSE o_orderstatus END AS status,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  min(o_orderkey) AS min_key
        |FROM orders
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q115: the same lag-compare / row_number / lead window pipeline
    // in DuckDB; dates and strings only, so no arithmetic can diverge.
    "q115_snap_history" ->
      """WITH snap AS (
        |  SELECT o_custkey AS k, o_orderdate AS d,
        |         arg_max(o_orderpriority, o_orderkey) AS prio
        |  FROM orders WHERE o_custkey % 50 = 0
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT k, d, prio,
        |    lag(prio) OVER (PARTITION BY k ORDER BY d) AS pp
        |  FROM snap),
        |c AS (SELECT k, d, prio FROM m WHERE pp IS NULL OR pp <> prio)
        |SELECT k, prio,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  d AS effective_from,
        |  lead(d) OVER w AS effective_to
        |FROM c WINDOW w AS (PARTITION BY k ORDER BY d)
        |ORDER BY k, version""".stripMargin,

    // q36 mirrors the SCD2 merge relationally: the same dim/delta
    // derivation, a full-outer join, and the four branches as a UNION
    // ALL (the engine's single-pass explode and this union are
    // set-equal; ORDER BY (key, valid_from) is a unique sort in both).
    // IS NOT DISTINCT FROM == Spark's <=> null-safe equality.
    "q36_scd2" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment,
        |         '2019-01-01' AS valid_from,
        |         CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        |  FROM customer),
        |delta AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 21 = 3 THEN c_acctbal
        |         ELSE c_acctbal + 100.0 END AS n_bal,
        |    CASE WHEN c_custkey % 21 = 3 THEN c_mktsegment
        |         ELSE 'MACHINERY' END AS n_seg
        |  FROM customer WHERE c_custkey % 7 = 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 0.0, 'STARTUP'
        |  FROM customer WHERE c_custkey % 97 = 0),
        |j AS (
        |  SELECT d.c_custkey AS k_old, d.c_acctbal, d.c_mktsegment,
        |         d.valid_from, d.valid_to, d.is_current,
        |         x.c_custkey AS k_new, x.n_bal, x.n_seg
        |  FROM dim d FULL OUTER JOIN delta x ON d.c_custkey = x.c_custkey),
        |res AS (
        |  SELECT k_old AS c_custkey, c_acctbal, c_mktsegment,
        |         valid_from, valid_to, is_current
        |  FROM j WHERE k_new IS NULL
        |  UNION ALL
        |  SELECT k_old, c_acctbal, c_mktsegment, valid_from, valid_to,
        |         is_current
        |  FROM j WHERE k_new IS NOT NULL AND k_old IS NOT NULL
        |    AND c_acctbal IS NOT DISTINCT FROM n_bal
        |    AND c_mktsegment IS NOT DISTINCT FROM n_seg
        |  UNION ALL
        |  SELECT k_old, c_acctbal, c_mktsegment, valid_from, '2019-06-01',
        |         FALSE
        |  FROM j WHERE k_new IS NOT NULL AND k_old IS NOT NULL
        |    AND NOT (c_acctbal IS NOT DISTINCT FROM n_bal
        |             AND c_mktsegment IS NOT DISTINCT FROM n_seg)
        |  UNION ALL
        |  SELECT k_new, n_bal, n_seg, '2019-06-01', CAST(NULL AS VARCHAR),
        |         TRUE
        |  FROM j WHERE k_new IS NOT NULL
        |    AND (k_old IS NULL
        |         OR NOT (c_acctbal IS NOT DISTINCT FROM n_bal
        |                 AND c_mktsegment IS NOT DISTINCT FROM n_seg)))
        |SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, valid_to,
        |       is_current
        |FROM res ORDER BY c_custkey, valid_from""".stripMargin,

    // q37 reads the compacted COPY of lineitem; content equality with
    // the original is exactly what compaction must preserve, so the
    // oracle aggregates the source table directly (the q30-q32 layout
    // contract). strftime == Spark's date_format yyyy-MM.
    "q37_compaction" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q38 roundtrips customer through Derby; content equality with the
    // parquet original is the whole claim, so the oracle aggregates
    // the source directly (the q32-q35 source-roundtrip contract).
    "q38_jdbc_roundtrip" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |  round(sum(c_acctbal), 2) AS sum_bal,
        |  min(c_custkey) AS min_key
        |FROM customer
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q42: the injected bloom filter can only discard rows the join
    // drops anyway, so the oracle is the plain join aggregate — the
    // hash match proves the runtime filter never changes the answer.
    "q42_runtime_filter" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // s20 mirrors the cascade: 16-dim-prefix cosine stage 1 (list
    // slice), top-20 head, exact full-dim rerank — s01's rounding
    // regime on the output.
    "s20_truncated_topk" ->
      (SparkEntry.s20Ctes + """
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
        |       round(cs, 6) AS cos FROM (
        |  SELECT query_id, vec_id, cs,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, vec_id) AS rank
        |  FROM rer) t WHERE rank <= 5
        |ORDER BY query_id, rank""").stripMargin,

    // s21/s22: the index CTE prefixes composed with the shared recall
    // tail (Similarity.RecallTailSql) — the same composition annRecall
    // performs engine-side.
    "s21_lsh_recall" -> Similarity.s21OracleSql,
    "s22_trunc_recall" ->
      ((SparkEntry.s20Ctes + """,
        |ap AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, vec_id) AS rank
        |  FROM rer) t WHERE rank <= 5)""").stripMargin +
        Similarity.RecallTailSql),

    // q40's numbers come from parquet footer statistics; the oracle
    // recomputes them from raw rows — the match proves stats == data.
    "q40_agg_pushdown" ->
      """SELECT event_type, count(*) AS n_events,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q41's dim is planted by the query itself (the q34 pattern); the
    // oracle inlines its segment map.
    "q41_dpp" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q44: integer epoch-week arithmetic end to end (micros // week).
    "q44_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |        epoch_us(ts) // 604800000000 AS wk
        |      FROM events),
        |coh AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id)
        |SELECT coh.cohort_wk, act.wk - coh.cohort_wk AS week_offset,
        |  CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
        |FROM act JOIN coh ON act.user_id = coh.user_id
        |GROUP BY coh.cohort_wk, week_offset
        |ORDER BY cohort_wk, week_offset""".stripMargin,

    // q46: layout must never change answers — the oracle reads the
    // parquet original.
    "q46_zorder" ->
      """SELECT l_suppkey, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_suppkey < 50
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    // q47: the gaps-and-islands sessionization spelled with the same
    // lag -> gap flag -> running sum; sums of the 0/1 flag are cast
    // back to BIGINT (DuckDB sum(BIGINT) is HUGEINT -> pandas float).
    "q47_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |             (PARTITION BY user_id ORDER BY ts, event_id))
        |         >= 30 * 60 * 1000000 THEN 1 ELSE 0 END AS gap
        |  FROM events),
        |numbered AS (
        |  SELECT *, sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        |booked AS (
        |  SELECT *,
        |    first_value(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS first_type,
        |    last_value(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS last_type
        |  FROM numbered)
        |SELECT user_id, CAST(sid + 1 AS BIGINT) AS session_seq,
        |  epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts)) AS session_end_us,
        |  count(*) AS n_events, first_type, last_type,
        |  round(sum(value), 2) AS sum_value
        |FROM booked
        |GROUP BY user_id, sid, first_type, last_type
        |ORDER BY user_id, session_seq""".stripMargin,

    // q54: the UDAF's sum(xw)/sum(w) spelled as two window sums over
    // exact integer cents, emitted as floor() — no decimal rounding
    // of a rational quotient anywhere (see the builder's comment).
    "q54_udaf_window" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
        |  CAST(floor(sum(round(l_extendedprice * 100) * l_quantity) OVER w
        |        / sum(l_quantity) OVER w) AS BIGINT) AS running_wavg_cents
        |FROM lineitem WHERE l_orderkey % 20 = 0
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_linenumber, l_extendedprice, l_quantity
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice,
        |  l_quantity""".stripMargin,

    // q53: lower()-canonicalized mirror of the collated grouping —
    // the filter excludes MACHINERY case-insensitively, as UTF8_LCASE
    // equality does.
    "q53_collation" ->
      """SELECT lower(c_mktsegment) AS segment, count(*) AS n_cust,
        |  round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |WHERE lower(c_mktsegment) <> 'machinery'
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    // q52: the observed metrics recomputed relationally — constant
    // scalar-subquery columns beside the per-flag aggregate.
    "q52_observe" ->
      """WITH base AS (SELECT * FROM lineitem WHERE l_quantity > 0)
        |SELECT l_returnflag, count(*) AS n_items,
        |  (SELECT count(*) FROM base) AS rows_seen,
        |  (SELECT round(sum(l_quantity), 2) FROM base) AS qty_sum,
        |  (SELECT count(*) FROM base WHERE l_discount > 0.05)
        |    AS n_discounted
        |FROM base GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // q51: the SQL-UDF bodies expanded inline (Catalyst inlines them
    // on the Spark side too): exact integer micro-cents summed as
    // BIGINT, one final division — order-independent by construction.
    "q51_sql_udf" ->
      """SELECT o.o_custkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
        |      * (100 + CAST(round(l.l_tax * 100) AS BIGINT))) AS BIGINT)
        |    AS net_ucents
        |FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |      WHERE o_totalprice > 400000.0) o
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_custkey
        |ORDER BY o.o_custkey""".stripMargin,

    // q50: DuckDB's own WITH RECURSIVE over the same synthetic
    // 10-ary forest; only the integer-division spelling differs.
    "q50_recursive" ->
      """WITH RECURSIVE h(suppkey, root, depth) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM supplier WHERE s_suppkey < 10
        |  UNION ALL
        |  SELECT s.s_suppkey, h.root, h.depth + 1
        |  FROM supplier s JOIN h ON s.s_suppkey // 10 = h.suppkey
        |  WHERE s.s_suppkey >= 10)
        |SELECT h.root, h.depth, count(*) AS n_nodes,
        |  min(h.suppkey) AS min_key, max(h.suppkey) AS max_key,
        |  round(sum(s.s_acctbal), 2) AS sum_bal
        |FROM h JOIN supplier s ON h.suppkey = s.s_suppkey
        |GROUP BY h.root, h.depth
        |ORDER BY h.root, h.depth""".stripMargin,

    // q49: the DSv2 generator source's determinism contract — DuckDB
    // rebuilds every generated row from generate_series + md5 (the
    // c03 12-hex-prefix XOR idiom) over the same pushed id bounds.
    "q49_dsv2_range" ->
      """SELECT CAST(n % 97 AS BIGINT) AS bucket, count(*) AS n_rows,
        |  CAST(bit_xor(('0x' || substr(md5(n::VARCHAR), 1, 12))::BIGINT)
        |    AS BIGINT) AS tag_xor,
        |  min(n) AS min_id, max(n) AS max_id
        |FROM (SELECT unnest(generate_series(15000, 45000)) AS n)
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    // q48: the calendar-spine linear interpolation with the IDENTICAL
    // operand order — pv + (nv - pv) * days_from_prev / days_span —
    // so both engines run the same IEEE sequence; emitted as
    // floor(value * 1e4) integer e4 units, not round(_, 4) — the
    // interpolant is a quotient that can sit on a 4-dp half boundary
    // where Spark and DuckDB round() diverge (the q54 lesson).
    "q48_interpolate" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS d, round(sum(value), 2) AS v
        |  FROM events WHERE event_type = 'purchase' AND user_id % 500 = 7
        |  GROUP BY 1),
        |bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
        |          FROM bounds),
        |j AS (SELECT s.d, daily.v FROM spine s LEFT JOIN daily ON s.d = daily.d),
        |f AS (SELECT d, v,
        |  last_value(v IGNORE NULLS) OVER
        |    (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER
        |    (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |  first_value(v IGNORE NULLS) OVER
        |    (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER
        |    (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM j)
        |SELECT epoch_us(d) AS day_us,
        |  CAST(floor((CASE WHEN v IS NOT NULL THEN v
        |       ELSE pv + (nv - pv) * date_diff('day', pd, d)
        |                  / date_diff('day', pd, nd) END) * 10000)
        |    AS BIGINT) AS value_e4,
        |  CAST(v IS NULL AS INT) AS was_gap
        |FROM f ORDER BY day_us""".stripMargin,

    // q55: max_by/min_by over the (price, key) struct == the rank-1
    // row under the mirrored lexicographic orders; ties on price
    // resolve on the unique key in both engines.
    "q55_argminmax" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT o_orderpriority,
        |  max(CASE WHEN rmax = 1 THEN o_orderkey END) AS max_price_order,
        |  max(CASE WHEN rmin = 1 THEN o_orderkey END) AS min_price_order,
        |  round(max(o_totalprice), 2) AS max_price,
        |  round(min(o_totalprice), 2) AS min_price
        |FROM r GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // q56: DuckDB's string_agg with an in-aggregate ORDER BY mirrors
    // LISTAGG ... WITHIN GROUP — the order inside the aggregate is
    // the determinism requirement.
    "q56_listagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    // q57: identical fully-tie-broken order, page 3 (OFFSET 20 LIMIT
    // 10) — every page edge deterministic in both engines.
    "q57_offset" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice, 2) AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey, l_linenumber
        |LIMIT 10 OFFSET 20""".stripMargin,

    // q59: IS NOT DISTINCT FROM mirrors <=> — the null-keyed group
    // must survive the join with its full member count.
    "q59_nullsafe_join" ->
      """WITH c AS (SELECT c_custkey, c_acctbal,
        |    nullif(c_mktsegment, 'BUILDING') AS seg FROM customer),
        |dim AS (SELECT seg, coalesce(seg, 'UNCLASSIFIED') AS seg_label
        |        FROM (SELECT DISTINCT seg FROM c))
        |SELECT d.seg_label, count(*) AS n_cust,
        |  round(sum(c.c_acctbal), 2) AS sum_bal
        |FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
        |GROUP BY d.seg_label ORDER BY d.seg_label""".stripMargin,

    // q61: the AQE skew split must be a pure execution rewrite — the
    // oracle computes the same hot-key join/aggregate directly.
    "q61_aqe_skew" ->
      """WITH e AS (SELECT CASE WHEN user_id % 10 <> 0 THEN 0
        |                       ELSE user_id END AS k, value
        |           FROM events),
        |d AS (SELECT c_custkey AS k, c_custkey % 3 AS grp FROM customer)
        |SELECT coalesce(d.grp, -1) AS grp, count(*) AS n_rows,
        |  round(sum(e.value), 2) AS sum_value
        |FROM e LEFT JOIN d ON e.k = d.k
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    // q114: the hybrid hot/cold split must be answer-invariant — the
    // oracle is the PLAIN inner join the hybrid rewrites (hot ∪ cold
    // covers every key exactly once, so the heavy-key choice can only
    // change the plan, never the rows).
    "q114_hybrid_join" ->
      """WITH e AS (SELECT CASE WHEN user_id % 10 <> 0 THEN 1
        |                       ELSE user_id END AS k,
        |                  CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events)
        |SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
        |  sum(cents)::BIGINT AS sum_cents
        |FROM e JOIN customer ON e.k = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // q60: both engines must agree on the 3VL semantics — the
    // null-bearing NOT IN counts zero, the clean NOT IN equals
    // NOT EXISTS.
    "q60_not_in_null" ->
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |     (SELECT o_custkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT'
        |      UNION ALL SELECT CAST(NULL AS BIGINT)))
        |    AS n_not_in_nullable,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |     (SELECT 1 FROM orders o
        |      WHERE o.o_custkey = c.c_custkey
        |        AND o.o_orderpriority = '1-URGENT')) AS n_not_exists,
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |     (SELECT o_custkey FROM orders
        |      WHERE o_orderpriority = '1-URGENT'
        |        AND o_custkey IS NOT NULL)) AS n_not_in_clean""".stripMargin,

    // q62: identical SQL-standard WITHIN GROUP spellings; quantities
    // are integers and quarter-point fractions are powers of two, so
    // the interpolated values are exact binary decimals in both
    // engines — no round() needed (rounding discipline).
    "q62_percentiles" ->
      """SELECT l_returnflag,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
        |  percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS p50,
        |  percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75,
        |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice)
        |    AS p50_price_disc,
        |  median(l_quantity) AS med_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // q63: EXACT integer sufficient statistics (sums fit BIGINT and
    // 2^53 at every SF), then the SAME IEEE expression tree as the
    // Spark side — operand order mirrored term for term, so the
    // derived doubles are bit-identical and need no round().
    "q63_regr" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(sum(CAST(l_quantity AS BIGINT) *
        |             CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(sum(CAST(l_quantity AS BIGINT) *
        |             CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |    CAST(sum(CAST(floor(l_extendedprice) AS BIGINT) *
        |             CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT *,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |  FROM b)
        |SELECT l_returnflag, n, sx, sy, sxy, sxx, syy,
        |  cov / vx AS slope,
        |  (CAST(sy AS DOUBLE) - (cov / vx) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept,
        |  (cov * cov) / (vx * vy) AS r2,
        |  cov / sqrt(vx * vy) AS corr_xy
        |FROM d ORDER BY l_returnflag""".stripMargin,

    // q64: all-integer/boolean aggregates — exact in both engines.
    "q64_bitbool" ->
      """SELECT o_orderpriority,
        |  CAST(bit_and(o_orderkey) AS BIGINT) AS key_band,
        |  CAST(bit_or(o_orderkey) AS BIGINT) AS key_bor,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS key_bxor,
        |  bool_and(o_totalprice > 1000) AS all_over_1000,
        |  bool_or(o_orderstatus = 'F') AS any_finished,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q65: DuckDB has no try_ family — the mirrors are the defining
    // rewrites: try_divide == x / nullif(d, 0); try_cast == TRY_CAST;
    // try_element_at == native OOB list index (NULL by definition).
    "q65_try" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN o_totalprice /
        |    nullif(CAST(o_orderkey % 7 AS DOUBLE), 0) IS NULL
        |    THEN 1 END) AS BIGINT) AS n_div_null,
        |  round(sum(coalesce(o_totalprice /
        |    nullif(CAST(o_orderkey % 7 AS DOUBLE), 0), 0)), 2)
        |    AS sum_safe_div,
        |  CAST(sum(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT))
        |    AS BIGINT) AS sum_prio_digit,
        |  CAST(count(TRY_CAST(o_orderstatus AS INT)) AS BIGINT)
        |    AS n_status_casts,
        |  CAST(count([o_orderstatus][5]) AS BIGINT) AS n_oob
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // q66: UNION ALL BY NAME is DuckDB's native spelling of
    // unionByName(allowMissingColumns) — missing columns null-fill,
    // binding is by name despite the different projection orders.
    // Spark asc = NULLS FIRST, so pin it.
    "q66_union_by_name" ->
      """WITH u AS (
        |  SELECT o_orderpriority, o_totalprice, 'v1' AS source
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderstatus, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 <> 0)
        |SELECT source, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(o_totalprice) AS BIGINT) AS n_priced,
        |  CAST(count(o_orderstatus) AS BIGINT) AS n_status,
        |  round(sum(coalesce(o_totalprice, 0)), 2) AS sum_price
        |FROM u GROUP BY ALL
        |ORDER BY source NULLS FIRST, o_orderpriority""".stripMargin,

    // q67: identical interval RANGE frame; ts-ties are frame peers in
    // both engines so no tie-break is needed for the counts; the
    // rolling double sum rounds per discipline.
    "q67_time_range_frame" ->
      """SELECT user_id, event_id, ts,
        |  CAST(count(*) OVER w AS BIGINT) AS n_3d,
        |  round(sum(value) OVER w, 2) AS sum_3d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // q68: generate_series mirrors sequence() (both ends inclusive);
    // empty days must surface with zero counts, not vanish.
    "q68_date_spine" ->
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |             CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
        |spine AS (SELECT CAST(unnest(generate_series(d0, d1,
        |      INTERVAL 1 DAY)) AS DATE) AS day, p.o_orderpriority
        |  FROM b, (SELECT DISTINCT o_orderpriority FROM orders) p),
        |daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    round(sum(o_totalprice), 2) AS sum_price
        |  FROM orders GROUP BY 1, 2)
        |SELECT s.day, s.o_orderpriority,
        |  CAST(coalesce(d.n, 0) AS BIGINT) AS n_orders,
        |  coalesce(d.sum_price, 0) AS sum_price
        |FROM spine s LEFT JOIN daily d USING (day, o_orderpriority)
        |ORDER BY day, o_orderpriority""".stripMargin,

    // q45: the incremental merge must equal the one-pass aggregate.
    "q45_incr_agg" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // q43's union spans two physical formats; the oracle reads only
    // the parquet original — the format seam must be invisible.
    "q43_federated" ->
      """SELECT l_linestatus, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem WHERE l_quantity >= 30
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    // q39 mirrors the fold with staged min-subqueries: strictly-after
    // stage semantics make "first qualifying in ts order" == "min of
    // qualifying", so the engine's one-pass per-user fold and the
    // oracle's three grouped mins agree exactly (same-ts stage pairs
    // qualify in neither). Latency = exact integer microsecond sum
    // cast to double, then divided — identical rounding both engines.
    "q39_funnel" ->
      """WITH ue AS (SELECT user_id, ts, event_type FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |uu AS (SELECT DISTINCT user_id FROM ue),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ue
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ue e
        |       JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ue e
        |       JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |       GROUP BY e.user_id),
        |f AS (SELECT uu.user_id, s1.t1, s2.t2, s3.t3
        |      FROM uu LEFT JOIN s1 USING (user_id)
        |      LEFT JOIN s2 USING (user_id)
        |      LEFT JOIN s3 USING (user_id))
        |SELECT user_id % 10 AS bucket, count(*) AS n_users,
        |  CAST(count(t1) AS BIGINT) AS n_viewed,
        |  CAST(count(t2) AS BIGINT) AS n_clicked,
        |  CAST(count(t3) AS BIGINT) AS n_converted,
        |  round(CAST(sum(epoch_us(t3) - epoch_us(t1)) AS DOUBLE)
        |    / nullif(count(t3), 0) / 1000000.0, 4) AS avg_secs_to_convert
        |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin,

    // d03/d07: DuckDB 1.0.0 has no xxhash64, so these oracles inline a
    // full XXH64 (seed 42, the xxHash spec) in SQL over the whitespace
    // tokens of documents.text, then fold the per-bit majority vote —
    // mirroring SimHashText/SimHash64 from first principles, not from
    // planted engine values. Generated + self-checked by
    // tools/gen_xxh64_sql.py (wrapping 64-bit multiplies via HUGEINT
    // split products; let-bindings via single-element list_transform).
    // Raw triple-quote WITHOUT stripMargin: the SQL contains bitwise
    // `|`, which stripMargin would strip as a margin character.
    // Assumptions asserted by the generator: ASCII tokens (byte ==
    // codepoint) and tokens < 32 bytes (no XXH64 stripe loop; max
    // observed 8) — if a testdata regeneration breaks either, rerun
    // the generator (it fails loudly) and extend it.
    // q58: the HLL register build mirrored from first principles —
    // XXH64 of the key's decimal text inlined via the same generator
    // (tools/gen_xxh64_sql.py hll_sql, self-checked against the
    // engine dump), then the pure-integer trailing-zero rank and the
    // per-bucket max. Raw triple-quote WITHOUT stripMargin (the SQL
    // contains bitwise `|`).
    "q58_hll_registers" ->
      """WITH dtok AS (SELECT DISTINCT o_custkey::VARCHAR AS tok FROM orders),
tbytes AS (
  SELECT tok, strlen(tok)::BIGINT AS n,
    list_transform(range(1, strlen(tok) + 1),
      i -> unicode(substr(tok, i::INT, 1))::UBIGINT) AS bs
  FROM dtok),
-- XXH64(token, seed 42), tokens < 32 bytes: no stripe loop
tacc AS (
  SELECT tok, n, bs,
    list_reduce(
      list_prepend(CAST((((2870177450012600303)::HUGEINT + (n::UBIGINT)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT),
        list_transform(range(0, n // 8), j -> ((bs)[(j*8 + 1)]::UBIGINT + (bs)[(j*8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[(j*8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[(j*8 + 1)+3]::UBIGINT * 16777216::UBIGINT + (bs)[(j*8 + 1)+4]::UBIGINT * 4294967296::UBIGINT + (bs)[(j*8 + 1)+5]::UBIGINT * 1099511627776::UBIGINT + (bs)[(j*8 + 1)+6]::UBIGINT * 281474976710656::UBIGINT + (bs)[(j*8 + 1)+7]::UBIGINT * 72057594037927936::UBIGINT))),
      (a, w) -> (list_transform([CAST((((w)::HUGEINT * 668265295::HUGEINT + (((w)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t1 -> (list_transform([(CAST((((t1)::HUGEINT * 2147483648::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t1) >> 33))], t2 -> (list_transform([CAST((((t2)::HUGEINT * 2246822535::HUGEINT + (((t2)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t3 -> (list_transform([xor(a, t3)], t4 -> (list_transform([(CAST((((t4)::HUGEINT * 134217728::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t4) >> 37))], t5 -> CAST((((CAST((((t5)::HUGEINT * 2246822535::HUGEINT + (((t5)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (9650029242287828579)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]))[1]) AS a2
  FROM tbytes),
tacc4 AS (
  SELECT tok, n, bs,
    CASE WHEN n % 8 >= 4 THEN (list_transform([((bs)[((n // 8) * 8 + 1)]::UBIGINT + (bs)[((n // 8) * 8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[((n // 8) * 8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[((n // 8) * 8 + 1)+3]::UBIGINT * 16777216::UBIGINT)], v0 -> (list_transform([CAST((((v0)::HUGEINT * 2246822535::HUGEINT + (((v0)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], v1 -> (list_transform([xor(a2, v1)], v2 -> (list_transform([(CAST((((v2)::HUGEINT * 8388608::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((v2) >> 41))], v3 -> CAST((((CAST((((v3)::HUGEINT * 668265295::HUGEINT + (((v3)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (1609587929392839161)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]
         ELSE a2 END AS a3
  FROM tacc),
tacct AS (
  SELECT tok,
    list_reduce(
      list_prepend(a3,
        list_transform(range(0, n % 4), j -> bs[n - (n % 4) + j + 1])),
      (a, b) -> (list_transform([CAST((((b)::HUGEINT * 374761413::HUGEINT + (((b)::HUGEINT * 668265263::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], u1 -> (list_transform([xor(a, u1)], u2 -> (list_transform([(CAST((((u2)::HUGEINT * 2048::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((u2) >> 53))], u3 -> CAST((((u3)::HUGEINT * 2246822535::HUGEINT + (((u3)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]) AS a4
  FROM tacc4),
thash AS (
  SELECT tok, (list_transform([xor(a4, a4 >> 33)], z1 -> (list_transform([CAST((((z1)::HUGEINT * 668265295::HUGEINT + (((z1)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z2 -> (list_transform([xor(z2, z2 >> 29)], z3 -> (list_transform([CAST((((z3)::HUGEINT * 2654435833::HUGEINT + (((z3)::HUGEINT * 374761393::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z4 -> xor(z4, z4 >> 32)))[1]))[1]))[1]))[1] AS hu
  FROM tacct),
rho AS (
  SELECT CAST(hu & 63::UBIGINT AS BIGINT) AS bucket,
    CAST(hu >> 6 AS BIGINT) AS wi, tok
  FROM thash)
SELECT bucket, count(DISTINCT tok) AS n_keys,
  max(CASE WHEN wi = 0 THEN 59
       ELSE bit_count((wi & (-wi)) - 1)::INT + 1 END) AS max_rho
FROM rho GROUP BY bucket ORDER BY bucket""",

    // st22: the q58 register mirror over the sliced user ids, no
    // n_keys (tools/gen_xxh64_sql.py st22_hll_sql, self-checked) — the
    // from-scratch twin of the incrementally merged standing table.
    // Raw triple-quote (SQL contains `|`).
    "st22_hll_monitor" ->
      """WITH dtok AS (SELECT DISTINCT user_id::VARCHAR AS tok
  FROM events WHERE user_id % 5 = 2),
tbytes AS (
  SELECT tok, strlen(tok)::BIGINT AS n,
    list_transform(range(1, strlen(tok) + 1),
      i -> unicode(substr(tok, i::INT, 1))::UBIGINT) AS bs
  FROM dtok),
-- XXH64(token, seed 42), tokens < 32 bytes: no stripe loop
tacc AS (
  SELECT tok, n, bs,
    list_reduce(
      list_prepend(CAST((((2870177450012600303)::HUGEINT + (n::UBIGINT)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT),
        list_transform(range(0, n // 8), j -> ((bs)[(j*8 + 1)]::UBIGINT + (bs)[(j*8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[(j*8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[(j*8 + 1)+3]::UBIGINT * 16777216::UBIGINT + (bs)[(j*8 + 1)+4]::UBIGINT * 4294967296::UBIGINT + (bs)[(j*8 + 1)+5]::UBIGINT * 1099511627776::UBIGINT + (bs)[(j*8 + 1)+6]::UBIGINT * 281474976710656::UBIGINT + (bs)[(j*8 + 1)+7]::UBIGINT * 72057594037927936::UBIGINT))),
      (a, w) -> (list_transform([CAST((((w)::HUGEINT * 668265295::HUGEINT + (((w)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t1 -> (list_transform([(CAST((((t1)::HUGEINT * 2147483648::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t1) >> 33))], t2 -> (list_transform([CAST((((t2)::HUGEINT * 2246822535::HUGEINT + (((t2)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t3 -> (list_transform([xor(a, t3)], t4 -> (list_transform([(CAST((((t4)::HUGEINT * 134217728::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t4) >> 37))], t5 -> CAST((((CAST((((t5)::HUGEINT * 2246822535::HUGEINT + (((t5)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (9650029242287828579)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]))[1]) AS a2
  FROM tbytes),
tacc4 AS (
  SELECT tok, n, bs,
    CASE WHEN n % 8 >= 4 THEN (list_transform([((bs)[((n // 8) * 8 + 1)]::UBIGINT + (bs)[((n // 8) * 8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[((n // 8) * 8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[((n // 8) * 8 + 1)+3]::UBIGINT * 16777216::UBIGINT)], v0 -> (list_transform([CAST((((v0)::HUGEINT * 2246822535::HUGEINT + (((v0)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], v1 -> (list_transform([xor(a2, v1)], v2 -> (list_transform([(CAST((((v2)::HUGEINT * 8388608::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((v2) >> 41))], v3 -> CAST((((CAST((((v3)::HUGEINT * 668265295::HUGEINT + (((v3)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (1609587929392839161)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]
         ELSE a2 END AS a3
  FROM tacc),
tacct AS (
  SELECT tok,
    list_reduce(
      list_prepend(a3,
        list_transform(range(0, n % 4), j -> bs[n - (n % 4) + j + 1])),
      (a, b) -> (list_transform([CAST((((b)::HUGEINT * 374761413::HUGEINT + (((b)::HUGEINT * 668265263::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], u1 -> (list_transform([xor(a, u1)], u2 -> (list_transform([(CAST((((u2)::HUGEINT * 2048::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((u2) >> 53))], u3 -> CAST((((u3)::HUGEINT * 2246822535::HUGEINT + (((u3)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]) AS a4
  FROM tacc4),
thash AS (
  SELECT tok, (list_transform([xor(a4, a4 >> 33)], z1 -> (list_transform([CAST((((z1)::HUGEINT * 668265295::HUGEINT + (((z1)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z2 -> (list_transform([xor(z2, z2 >> 29)], z3 -> (list_transform([CAST((((z3)::HUGEINT * 2654435833::HUGEINT + (((z3)::HUGEINT * 374761393::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z4 -> xor(z4, z4 >> 32)))[1]))[1]))[1]))[1] AS hu
  FROM tacct),
rho AS (
  SELECT CAST(hu & 63::UBIGINT AS BIGINT) AS bucket,
    CAST(hu >> 6 AS BIGINT) AS wi
  FROM thash)
SELECT bucket,
  max(CASE WHEN wi = 0 THEN 59
       ELSE bit_count((wi & (-wi)) - 1)::INT + 1 END) AS max_rho
FROM rho GROUP BY bucket ORDER BY bucket""",

    // d22: per-shard MinHash signatures and the FROM-SCRATCH corpus
    // signature (tools/gen_xxh64_sql.py minhash_union_sql, self-checked
    // against the engine dump) — the engine derives __all__ by merging
    // shard signatures, so merge != rescan hash-fails here. Raw
    // triple-quote (SQL contains `|`).
    "d22_minhash_union" ->
      """WITH tagged AS (SELECT DISTINCT source AS grp, tok FROM (
    SELECT source, unnest(list_filter(
      string_split(lower(text), ' '), x -> x <> '')) AS tok
    FROM documents) t),
dtok AS (SELECT DISTINCT tok FROM tagged),
tbytes AS (
  SELECT tok, strlen(tok)::BIGINT AS n,
    list_transform(range(1, strlen(tok) + 1),
      i -> unicode(substr(tok, i::INT, 1))::UBIGINT) AS bs
  FROM dtok),
-- XXH64(token, seed 42), tokens < 32 bytes: no stripe loop
tacc AS (
  SELECT tok, n, bs,
    list_reduce(
      list_prepend(CAST((((2870177450012600303)::HUGEINT + (n::UBIGINT)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT),
        list_transform(range(0, n // 8), j -> ((bs)[(j*8 + 1)]::UBIGINT + (bs)[(j*8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[(j*8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[(j*8 + 1)+3]::UBIGINT * 16777216::UBIGINT + (bs)[(j*8 + 1)+4]::UBIGINT * 4294967296::UBIGINT + (bs)[(j*8 + 1)+5]::UBIGINT * 1099511627776::UBIGINT + (bs)[(j*8 + 1)+6]::UBIGINT * 281474976710656::UBIGINT + (bs)[(j*8 + 1)+7]::UBIGINT * 72057594037927936::UBIGINT))),
      (a, w) -> (list_transform([CAST((((w)::HUGEINT * 668265295::HUGEINT + (((w)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t1 -> (list_transform([(CAST((((t1)::HUGEINT * 2147483648::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t1) >> 33))], t2 -> (list_transform([CAST((((t2)::HUGEINT * 2246822535::HUGEINT + (((t2)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t3 -> (list_transform([xor(a, t3)], t4 -> (list_transform([(CAST((((t4)::HUGEINT * 134217728::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t4) >> 37))], t5 -> CAST((((CAST((((t5)::HUGEINT * 2246822535::HUGEINT + (((t5)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (9650029242287828579)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]))[1]) AS a2
  FROM tbytes),
tacc4 AS (
  SELECT tok, n, bs,
    CASE WHEN n % 8 >= 4 THEN (list_transform([((bs)[((n // 8) * 8 + 1)]::UBIGINT + (bs)[((n // 8) * 8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[((n // 8) * 8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[((n // 8) * 8 + 1)+3]::UBIGINT * 16777216::UBIGINT)], v0 -> (list_transform([CAST((((v0)::HUGEINT * 2246822535::HUGEINT + (((v0)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], v1 -> (list_transform([xor(a2, v1)], v2 -> (list_transform([(CAST((((v2)::HUGEINT * 8388608::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((v2) >> 41))], v3 -> CAST((((CAST((((v3)::HUGEINT * 668265295::HUGEINT + (((v3)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (1609587929392839161)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]
         ELSE a2 END AS a3
  FROM tacc),
tacct AS (
  SELECT tok,
    list_reduce(
      list_prepend(a3,
        list_transform(range(0, n % 4), j -> bs[n - (n % 4) + j + 1])),
      (a, b) -> (list_transform([CAST((((b)::HUGEINT * 374761413::HUGEINT + (((b)::HUGEINT * 668265263::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], u1 -> (list_transform([xor(a, u1)], u2 -> (list_transform([(CAST((((u2)::HUGEINT * 2048::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((u2) >> 53))], u3 -> CAST((((u3)::HUGEINT * 2246822535::HUGEINT + (((u3)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]) AS a4
  FROM tacc4),
thash AS (
  SELECT tok, (list_transform([xor(a4, a4 >> 33)], z1 -> (list_transform([CAST((((z1)::HUGEINT * 668265295::HUGEINT + (((z1)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z2 -> (list_transform([xor(z2, z2 >> 29)], z3 -> (list_transform([CAST((((z3)::HUGEINT * 2654435833::HUGEINT + (((z3)::HUGEINT * 374761393::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z4 -> xor(z4, z4 >> 32)))[1]))[1]))[1]))[1] AS hu
  FROM tacct),
perms AS (SELECT CAST(range AS INT) AS perm,
    (2000006 * range + 12345)::UBIGINT AS a FROM range(16)),
masked AS (
  SELECT t.tok, p.perm,
    CAST(CAST((t.hu::HUGEINT * p.a::HUGEINT) % 18446744073709551616::HUGEINT
      AS UBIGINT) & 9223372036854775807::UBIGINT AS BIGINT) AS mh
  FROM thash t CROSS JOIN perms p),
sigs AS (
  SELECT g.grp, m.perm, min(m.mh) AS sig
  FROM masked m JOIN tagged g USING (tok) GROUP BY 1, 2),
uni AS (
  SELECT '__all__' AS grp, perm, min(mh) AS sig
  FROM masked GROUP BY 2)
SELECT grp, perm, sig FROM (
  SELECT * FROM sigs UNION ALL SELECT * FROM uni) u
ORDER BY grp, perm""",

    // q104: q58's register mirror extended with per-epoch set tags
    // (tools/gen_xxh64_sql.py hll_union_sql, self-checked against the
    // engine dump) — per-bucket max rho per set and overall, the
    // register-level union. Raw triple-quote (SQL contains `|`).
    "q104_hll_union" ->
      """WITH tagged AS (SELECT DISTINCT o_custkey::VARCHAR AS tok,
    year(o_orderdate) AS yr FROM orders
  WHERE (year(o_orderdate) = 1996 AND month(o_orderdate) = 1) OR (year(o_orderdate) = 1998 AND month(o_orderdate) = 7)),
dtok AS (SELECT DISTINCT tok FROM tagged),
tbytes AS (
  SELECT tok, strlen(tok)::BIGINT AS n,
    list_transform(range(1, strlen(tok) + 1),
      i -> unicode(substr(tok, i::INT, 1))::UBIGINT) AS bs
  FROM dtok),
-- XXH64(token, seed 42), tokens < 32 bytes: no stripe loop
tacc AS (
  SELECT tok, n, bs,
    list_reduce(
      list_prepend(CAST((((2870177450012600303)::HUGEINT + (n::UBIGINT)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT),
        list_transform(range(0, n // 8), j -> ((bs)[(j*8 + 1)]::UBIGINT + (bs)[(j*8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[(j*8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[(j*8 + 1)+3]::UBIGINT * 16777216::UBIGINT + (bs)[(j*8 + 1)+4]::UBIGINT * 4294967296::UBIGINT + (bs)[(j*8 + 1)+5]::UBIGINT * 1099511627776::UBIGINT + (bs)[(j*8 + 1)+6]::UBIGINT * 281474976710656::UBIGINT + (bs)[(j*8 + 1)+7]::UBIGINT * 72057594037927936::UBIGINT))),
      (a, w) -> (list_transform([CAST((((w)::HUGEINT * 668265295::HUGEINT + (((w)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t1 -> (list_transform([(CAST((((t1)::HUGEINT * 2147483648::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t1) >> 33))], t2 -> (list_transform([CAST((((t2)::HUGEINT * 2246822535::HUGEINT + (((t2)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t3 -> (list_transform([xor(a, t3)], t4 -> (list_transform([(CAST((((t4)::HUGEINT * 134217728::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t4) >> 37))], t5 -> CAST((((CAST((((t5)::HUGEINT * 2246822535::HUGEINT + (((t5)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (9650029242287828579)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]))[1]) AS a2
  FROM tbytes),
tacc4 AS (
  SELECT tok, n, bs,
    CASE WHEN n % 8 >= 4 THEN (list_transform([((bs)[((n // 8) * 8 + 1)]::UBIGINT + (bs)[((n // 8) * 8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[((n // 8) * 8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[((n // 8) * 8 + 1)+3]::UBIGINT * 16777216::UBIGINT)], v0 -> (list_transform([CAST((((v0)::HUGEINT * 2246822535::HUGEINT + (((v0)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], v1 -> (list_transform([xor(a2, v1)], v2 -> (list_transform([(CAST((((v2)::HUGEINT * 8388608::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((v2) >> 41))], v3 -> CAST((((CAST((((v3)::HUGEINT * 668265295::HUGEINT + (((v3)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (1609587929392839161)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]
         ELSE a2 END AS a3
  FROM tacc),
tacct AS (
  SELECT tok,
    list_reduce(
      list_prepend(a3,
        list_transform(range(0, n % 4), j -> bs[n - (n % 4) + j + 1])),
      (a, b) -> (list_transform([CAST((((b)::HUGEINT * 374761413::HUGEINT + (((b)::HUGEINT * 668265263::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], u1 -> (list_transform([xor(a, u1)], u2 -> (list_transform([(CAST((((u2)::HUGEINT * 2048::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((u2) >> 53))], u3 -> CAST((((u3)::HUGEINT * 2246822535::HUGEINT + (((u3)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]) AS a4
  FROM tacc4),
thash AS (
  SELECT tok, (list_transform([xor(a4, a4 >> 33)], z1 -> (list_transform([CAST((((z1)::HUGEINT * 668265295::HUGEINT + (((z1)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z2 -> (list_transform([xor(z2, z2 >> 29)], z3 -> (list_transform([CAST((((z3)::HUGEINT * 2654435833::HUGEINT + (((z3)::HUGEINT * 374761393::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z4 -> xor(z4, z4 >> 32)))[1]))[1]))[1]))[1] AS hu
  FROM tacct),
wr AS (
  SELECT tok, CAST(hu & 63::UBIGINT AS BIGINT) AS bucket,
    CAST(hu >> 6 AS BIGINT) AS wi
  FROM thash),
r AS (
  SELECT g.yr, wr.bucket,
    CASE WHEN wi = 0 THEN 59
         ELSE bit_count((wi & (-wi)) - 1)::INT + 1 END AS rho
  FROM wr JOIN tagged g USING (tok))
SELECT bucket,
  CAST(coalesce(max(CASE WHEN yr = 1996 THEN rho END), 0) AS INT)
    AS rho_a,
  CAST(coalesce(max(CASE WHEN yr = 1998 THEN rho END), 0) AS INT)
    AS rho_b,
  CAST(max(rho) AS INT) AS rho_union
FROM r GROUP BY bucket ORDER BY bucket""",

    "d03_simhash" ->
      """WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents) WHERE tok <> ''),
dtok AS (SELECT DISTINCT tok FROM toks),
tbytes AS (
  SELECT tok, strlen(tok)::BIGINT AS n,
    list_transform(range(1, strlen(tok) + 1),
      i -> unicode(substr(tok, i::INT, 1))::UBIGINT) AS bs
  FROM dtok),
-- XXH64(token, seed 42), tokens < 32 bytes: no stripe loop
tacc AS (
  SELECT tok, n, bs,
    list_reduce(
      list_prepend(CAST((((2870177450012600303)::HUGEINT + (n::UBIGINT)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT),
        list_transform(range(0, n // 8), j -> ((bs)[(j*8 + 1)]::UBIGINT + (bs)[(j*8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[(j*8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[(j*8 + 1)+3]::UBIGINT * 16777216::UBIGINT + (bs)[(j*8 + 1)+4]::UBIGINT * 4294967296::UBIGINT + (bs)[(j*8 + 1)+5]::UBIGINT * 1099511627776::UBIGINT + (bs)[(j*8 + 1)+6]::UBIGINT * 281474976710656::UBIGINT + (bs)[(j*8 + 1)+7]::UBIGINT * 72057594037927936::UBIGINT))),
      (a, w) -> (list_transform([CAST((((w)::HUGEINT * 668265295::HUGEINT + (((w)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t1 -> (list_transform([(CAST((((t1)::HUGEINT * 2147483648::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t1) >> 33))], t2 -> (list_transform([CAST((((t2)::HUGEINT * 2246822535::HUGEINT + (((t2)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t3 -> (list_transform([xor(a, t3)], t4 -> (list_transform([(CAST((((t4)::HUGEINT * 134217728::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t4) >> 37))], t5 -> CAST((((CAST((((t5)::HUGEINT * 2246822535::HUGEINT + (((t5)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (9650029242287828579)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]))[1]) AS a2
  FROM tbytes),
tacc4 AS (
  SELECT tok, n, bs,
    CASE WHEN n % 8 >= 4 THEN (list_transform([((bs)[((n // 8) * 8 + 1)]::UBIGINT + (bs)[((n // 8) * 8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[((n // 8) * 8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[((n // 8) * 8 + 1)+3]::UBIGINT * 16777216::UBIGINT)], v0 -> (list_transform([CAST((((v0)::HUGEINT * 2246822535::HUGEINT + (((v0)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], v1 -> (list_transform([xor(a2, v1)], v2 -> (list_transform([(CAST((((v2)::HUGEINT * 8388608::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((v2) >> 41))], v3 -> CAST((((CAST((((v3)::HUGEINT * 668265295::HUGEINT + (((v3)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (1609587929392839161)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]
         ELSE a2 END AS a3
  FROM tacc),
tacct AS (
  SELECT tok,
    list_reduce(
      list_prepend(a3,
        list_transform(range(0, n % 4), j -> bs[n - (n % 4) + j + 1])),
      (a, b) -> (list_transform([CAST((((b)::HUGEINT * 374761413::HUGEINT + (((b)::HUGEINT * 668265263::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], u1 -> (list_transform([xor(a, u1)], u2 -> (list_transform([(CAST((((u2)::HUGEINT * 2048::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((u2) >> 53))], u3 -> CAST((((u3)::HUGEINT * 2246822535::HUGEINT + (((u3)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]) AS a4
  FROM tacc4),
thash AS (
  SELECT tok, (list_transform([xor(a4, a4 >> 33)], z1 -> (list_transform([CAST((((z1)::HUGEINT * 668265295::HUGEINT + (((z1)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z2 -> (list_transform([xor(z2, z2 >> 29)], z3 -> (list_transform([CAST((((z3)::HUGEINT * 2654435833::HUGEINT + (((z3)::HUGEINT * 374761393::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z4 -> xor(z4, z4 >> 32)))[1]))[1]))[1]))[1] AS hu
  FROM tacct),
votes AS (
  SELECT t.doc_id, bit.k,
    sum(CASE WHEN (h.hu >> bit.k) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks t JOIN thash h USING (tok)
  CROSS JOIN (SELECT unnest(range(0, 64)) AS k) bit
  GROUP BY t.doc_id, bit.k),
fps AS (
  SELECT d.doc_id,
    coalesce(sum(CASE WHEN v.v > 0 THEN
      CASE WHEN v.k = 63 THEN -9223372036854775808
           ELSE (1::BIGINT << v.k::INT) END ELSE 0 END), 0)::BIGINT AS fp
  FROM documents d LEFT JOIN votes v USING (doc_id)
  GROUP BY d.doc_id)
SELECT doc_id, fp AS simhash64 FROM fps ORDER BY doc_id""",

    "d07_simhash_pairs" ->
      """WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents) WHERE tok <> ''),
dtok AS (SELECT DISTINCT tok FROM toks),
tbytes AS (
  SELECT tok, strlen(tok)::BIGINT AS n,
    list_transform(range(1, strlen(tok) + 1),
      i -> unicode(substr(tok, i::INT, 1))::UBIGINT) AS bs
  FROM dtok),
-- XXH64(token, seed 42), tokens < 32 bytes: no stripe loop
tacc AS (
  SELECT tok, n, bs,
    list_reduce(
      list_prepend(CAST((((2870177450012600303)::HUGEINT + (n::UBIGINT)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT),
        list_transform(range(0, n // 8), j -> ((bs)[(j*8 + 1)]::UBIGINT + (bs)[(j*8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[(j*8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[(j*8 + 1)+3]::UBIGINT * 16777216::UBIGINT + (bs)[(j*8 + 1)+4]::UBIGINT * 4294967296::UBIGINT + (bs)[(j*8 + 1)+5]::UBIGINT * 1099511627776::UBIGINT + (bs)[(j*8 + 1)+6]::UBIGINT * 281474976710656::UBIGINT + (bs)[(j*8 + 1)+7]::UBIGINT * 72057594037927936::UBIGINT))),
      (a, w) -> (list_transform([CAST((((w)::HUGEINT * 668265295::HUGEINT + (((w)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t1 -> (list_transform([(CAST((((t1)::HUGEINT * 2147483648::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t1) >> 33))], t2 -> (list_transform([CAST((((t2)::HUGEINT * 2246822535::HUGEINT + (((t2)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t3 -> (list_transform([xor(a, t3)], t4 -> (list_transform([(CAST((((t4)::HUGEINT * 134217728::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t4) >> 37))], t5 -> CAST((((CAST((((t5)::HUGEINT * 2246822535::HUGEINT + (((t5)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (9650029242287828579)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]))[1]) AS a2
  FROM tbytes),
tacc4 AS (
  SELECT tok, n, bs,
    CASE WHEN n % 8 >= 4 THEN (list_transform([((bs)[((n // 8) * 8 + 1)]::UBIGINT + (bs)[((n // 8) * 8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[((n // 8) * 8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[((n // 8) * 8 + 1)+3]::UBIGINT * 16777216::UBIGINT)], v0 -> (list_transform([CAST((((v0)::HUGEINT * 2246822535::HUGEINT + (((v0)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], v1 -> (list_transform([xor(a2, v1)], v2 -> (list_transform([(CAST((((v2)::HUGEINT * 8388608::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((v2) >> 41))], v3 -> CAST((((CAST((((v3)::HUGEINT * 668265295::HUGEINT + (((v3)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (1609587929392839161)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]
         ELSE a2 END AS a3
  FROM tacc),
tacct AS (
  SELECT tok,
    list_reduce(
      list_prepend(a3,
        list_transform(range(0, n % 4), j -> bs[n - (n % 4) + j + 1])),
      (a, b) -> (list_transform([CAST((((b)::HUGEINT * 374761413::HUGEINT + (((b)::HUGEINT * 668265263::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], u1 -> (list_transform([xor(a, u1)], u2 -> (list_transform([(CAST((((u2)::HUGEINT * 2048::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((u2) >> 53))], u3 -> CAST((((u3)::HUGEINT * 2246822535::HUGEINT + (((u3)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]) AS a4
  FROM tacc4),
thash AS (
  SELECT tok, (list_transform([xor(a4, a4 >> 33)], z1 -> (list_transform([CAST((((z1)::HUGEINT * 668265295::HUGEINT + (((z1)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z2 -> (list_transform([xor(z2, z2 >> 29)], z3 -> (list_transform([CAST((((z3)::HUGEINT * 2654435833::HUGEINT + (((z3)::HUGEINT * 374761393::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z4 -> xor(z4, z4 >> 32)))[1]))[1]))[1]))[1] AS hu
  FROM tacct),
votes AS (
  SELECT t.doc_id, bit.k,
    sum(CASE WHEN (h.hu >> bit.k) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks t JOIN thash h USING (tok)
  CROSS JOIN (SELECT unnest(range(0, 64)) AS k) bit
  GROUP BY t.doc_id, bit.k),
fps AS (
  SELECT d.doc_id,
    coalesce(sum(CASE WHEN v.v > 0 THEN
      CASE WHEN v.k = 63 THEN -9223372036854775808
           ELSE (1::BIGINT << v.k::INT) END ELSE 0 END), 0)::BIGINT AS fp
  FROM documents d LEFT JOIN votes v USING (doc_id)
  GROUP BY d.doc_id),
fpb AS (
  SELECT doc_id, fp,
    CASE WHEN fp < 0 THEN CAST(fp::HUGEINT + 18446744073709551616::HUGEINT AS UBIGINT)
         ELSE fp::UBIGINT END AS fpu
  FROM fps),
fblk AS (SELECT doc_id, fp, fpu, ((fpu >> 0) & 65535) AS blk0, ((fpu >> 16) & 65535) AS blk1, ((fpu >> 32) & 65535) AS blk2, ((fpu >> 48) & 65535) AS blk3 FROM fpb),
bucketed AS (
  SELECT b.block, b.key, count(*) AS sz FROM (
    SELECT doc_id, unnest([{'block': 0, 'key': blk0}, {'block': 1, 'key': blk1},
                           {'block': 2, 'key': blk2}, {'block': 3, 'key': blk3}], recursive := true)
    FROM fblk) b
  GROUP BY b.block, b.key)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  bit_count(xor(a.fp, b.fp))::INT AS hamming
FROM fblk a JOIN fblk b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
  AND EXISTS (
    SELECT 1 FROM (VALUES (0, a.blk0, b.blk0), (1, a.blk1, b.blk1),
                          (2, a.blk2, b.blk2), (3, a.blk3, b.blk3)) s(blk, ka, kb)
    JOIN bucketed bu ON bu.block = s.blk AND bu.key = s.ka
    WHERE s.ka = s.kb AND bu.sz BETWEEN 2 AND 64)
ORDER BY id_a, id_b""",

    // t26: every step is integer-exact; the canonical double-separator
    // replace is the same greedy leftmost non-overlapping merge on
    // both engines (Graft.bpeTrain scaladoc). 4 unrolled iterations.
    "t26_bpe" ->
      """WITH words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY w),
        |s1 AS (SELECT '  ' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '  ') || '  ' AS s, n FROM words),
        |a1 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s1),
        |p1 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a1) t GROUP BY 1, 2),
        |m1 AS (SELECT lhs, rhs, pair_n FROM p1 ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
        |s2 AS (SELECT replace(s, ' ' || (SELECT lhs FROM m1) || '  ' || (SELECT rhs FROM m1) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m1) || ' ') AS s, n FROM s1),
        |a2 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s2),
        |p2 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a2) t GROUP BY 1, 2),
        |m2 AS (SELECT lhs, rhs, pair_n FROM p2 ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
        |s3 AS (SELECT replace(s, ' ' || (SELECT lhs FROM m2) || '  ' || (SELECT rhs FROM m2) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m2) || ' ') AS s, n FROM s2),
        |a3 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s3),
        |p3 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a3) t GROUP BY 1, 2),
        |m3 AS (SELECT lhs, rhs, pair_n FROM p3 ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
        |s4 AS (SELECT replace(s, ' ' || (SELECT lhs FROM m3) || '  ' || (SELECT rhs FROM m3) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m3) || ' ') AS s, n FROM s3),
        |a4 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s4),
        |p4 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a4) t GROUP BY 1, 2),
        |m4 AS (SELECT lhs, rhs, pair_n FROM p4 ORDER BY pair_n DESC, lhs, rhs LIMIT 1)
        |SELECT CAST(1 AS INTEGER) AS rank, lhs, rhs, pair_n FROM m1
        |UNION ALL SELECT 2, lhs, rhs, pair_n FROM m2
        |UNION ALL SELECT 3, lhs, rhs, pair_n FROM m3
        |UNION ALL SELECT 4, lhs, rhs, pair_n FROM m4
        |ORDER BY rank""".stripMargin,

    // t27: shares t26's merge-derivation CTEs verbatim, then applies
    // the same four double-separator replaces to each DISTINCT doc
    // word (the vocab-sized table, exactly like the Spark side) and
    // sums per-word token counts back per doc — integer-exact.
    "t27_bpe_segment" ->
      """WITH words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY w),
        |s1 AS (SELECT '  ' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '  ') || '  ' AS s, n FROM words),
        |a1 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s1),
        |p1 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a1) t GROUP BY 1, 2),
        |m1 AS (SELECT lhs, rhs, pair_n FROM p1 ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
        |s2 AS (SELECT replace(s, ' ' || (SELECT lhs FROM m1) || '  ' || (SELECT rhs FROM m1) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m1) || ' ') AS s, n FROM s1),
        |a2 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s2),
        |p2 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a2) t GROUP BY 1, 2),
        |m2 AS (SELECT lhs, rhs, pair_n FROM p2 ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
        |s3 AS (SELECT replace(s, ' ' || (SELECT lhs FROM m2) || '  ' || (SELECT rhs FROM m2) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m2) || ' ') AS s, n FROM s2),
        |a3 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s3),
        |p3 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a3) t GROUP BY 1, 2),
        |m3 AS (SELECT lhs, rhs, pair_n FROM p3 ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
        |s4 AS (SELECT replace(s, ' ' || (SELECT lhs FROM m3) || '  ' || (SELECT rhs FROM m3) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m3) || ' ') AS s, n FROM s3),
        |a4 AS (SELECT string_split(trim(s), '  ') AS arr, n FROM s4),
        |p4 AS (SELECT pr.a AS lhs, pr.b AS rhs, CAST(sum(n) AS BIGINT) AS pair_n FROM (
        |    SELECT n, unnest(list_transform(range(1, len(arr)),
        |      i -> {'a': arr[i], 'b': arr[i+1]})) AS pr
        |    FROM a4) t GROUP BY 1, 2),
        |m4 AS (SELECT lhs, rhs, pair_n FROM p4 ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
        |dw AS (SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |    FROM documents) t
        |  WHERE w <> ''),
        |c0 AS (SELECT w, '  ' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '  ') || '  ' AS s
        |  FROM (SELECT DISTINCT w FROM dw) v),
        |c1 AS (SELECT w, replace(s, ' ' || (SELECT lhs FROM m1) || '  ' || (SELECT rhs FROM m1) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m1) || ' ') AS s FROM c0),
        |c2 AS (SELECT w, replace(s, ' ' || (SELECT lhs FROM m2) || '  ' || (SELECT rhs FROM m2) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m2) || ' ') AS s FROM c1),
        |c3 AS (SELECT w, replace(s, ' ' || (SELECT lhs FROM m3) || '  ' || (SELECT rhs FROM m3) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m3) || ' ') AS s FROM c2),
        |c4 AS (SELECT w, replace(s, ' ' || (SELECT lhs FROM m4) || '  ' || (SELECT rhs FROM m4) || ' ',
        |  ' ' || (SELECT lhs || rhs FROM m4) || ' ') AS s FROM c3),
        |seg AS (SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS nt FROM c4)
        |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(seg.nt) AS BIGINT) AS n_tokens
        |FROM dw JOIN seg USING (w)
        |GROUP BY dw.doc_id
        |ORDER BY doc_id""".stripMargin,

    // d17: idf weights round to 4 (engine-identical inputs); the
    // candidate gate (>= 3 shared rare shingles, df 2..10) and the
    // exact shared-shingle rerank mirror the Spark side shape for
    // shape; ranking compares the ROUND-6 cosine on both engines,
    // ties by pair ids.
    "d17_tfidf_pairs" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh FROM t),
        |dfq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY sh),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM sh),
        |w AS (SELECT doc_id, s.sh, df, round(ln(n.n / df), 4) AS wt
        |  FROM sh s JOIN dfq USING (sh), n),
        |nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM w a JOIN w b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  WHERE a.df BETWEEN 2 AND 10
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |dt AS (SELECT c.id_a, c.id_b, sum(a.wt * b.wt) AS dot
        |  FROM cand c
        |  JOIN w a ON a.doc_id = c.id_a
        |  JOIN w b ON b.doc_id = c.id_b AND b.sh = a.sh
        |  GROUP BY c.id_a, c.id_b)
        |SELECT d.id_a, d.id_b, round(d.dot / (x.nrm * y.nrm), 6) AS cos
        |FROM dt d
        |JOIN nrm x ON x.doc_id = d.id_a
        |JOIN nrm y ON y.doc_id = d.id_b
        |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin,

    // t28: window starts are range(0, len, 48) on both engines (empty
    // docs produce no starts); chunk text joins the same 1-based
    // token slice; md5 is engine-identical.
    "t28_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS st FROM t)
        |SELECT doc_id,
        |  CAST(st // 48 AS INTEGER) AS chunk_idx,
        |  CAST(least(64, len(toks) - st) AS INTEGER) AS n_tokens,
        |  md5(array_to_string(toks[st + 1 : least(st + 64, len(toks))], ' ')) AS chunk_md5
        |FROM s
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // t30 mirrors the min-first-bucket formulation: vocab(p) = tokens
    // whose first document lands in a prefix <= p; cumulative sums
    // over the 10-row prefix frame. The engine groups token xxhash64,
    // the oracle the string — the standard collision argument.
    "t30_heaps" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |w AS (SELECT (max(doc_id) + 10) // 10 AS width FROM d),
        |db AS (SELECT doc_id, text,
        |         least(doc_id // width, 9) AS b FROM d, w),
        |t AS (SELECT b, unnest(list_filter(string_split(lower(text), ' '),
        |         x -> x <> '')) AS tok FROM db),
        |pp AS (SELECT b, count(*) AS nd,
        |         sum(len(list_filter(string_split(lower(text), ' '),
        |           x -> x <> ''))) AS nt
        |       FROM db GROUP BY b),
        |fs AS (SELECT tok, min(b) AS fb FROM t GROUP BY tok),
        |nv AS (SELECT fb, count(*) AS nv FROM fs GROUP BY fb)
        |SELECT b + 1 AS prefix,
        |  CAST(sum(nd) OVER cum AS BIGINT) AS n_docs,
        |  CAST(sum(nt) OVER cum AS BIGINT) AS n_tokens,
        |  CAST(sum(coalesce(nv, 0)) OVER cum AS BIGINT) AS vocab
        |FROM pp LEFT JOIN nv ON pp.b = nv.fb
        |WINDOW cum AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW)
        |ORDER BY prefix""".stripMargin,

    // t31: exact integer products, one double division — ln-free so
    // no libm alignment is ever needed.
    "t31_drift" ->
      """WITH t AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS isa,
        |        unnest(list_filter(string_split(lower(text), ' '),
        |          x -> x <> '')) AS tok
        |      FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT tok, CAST(sum(isa) AS BIGINT) AS ca,
        |        CAST(sum(1 - isa) AS BIGINT) AS cb
        |      FROM t GROUP BY tok),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |          CAST(sum(cb) AS BIGINT) AS tb,
        |          count(*) AS v FROM c),
        |top AS (SELECT tok, ca, cb FROM c
        |        ORDER BY ca + cb DESC, tok LIMIT 50)
        |SELECT tok AS token, ca, cb,
        |  round(((ca + 1) * (tb + v))::DOUBLE
        |    / (((cb + 1) * (ta + v))::DOUBLE), 6) AS odds_ratio
        |FROM top, tot ORDER BY token""".stripMargin,

    // t29 mirrors prioritySample exactly: LCG uniform, division-only
    // priority (both engines' IEEE divisions are correctly rounded, so
    // priorities are bit-identical), k = 64, tau = the 65th priority
    // (0 when the corpus has <= 64 docs), est = max(weight, tau).
    "t29_weighted_sample" ->
      """WITH pr AS (
        |  SELECT doc_id, lang, n_chars,
        |    n_chars::DOUBLE /
        |      ((((doc_id * 2654435761) % 2147483647) + 1)::DOUBLE
        |        / 2147483648.0) AS p
        |  FROM documents),
        |hd AS (SELECT doc_id, lang, n_chars, p,
        |         row_number() OVER (ORDER BY p DESC, doc_id) AS rn
        |       FROM pr QUALIFY rn <= 65),
        |tau AS (SELECT coalesce(max(CASE WHEN rn = 65 THEN p END), 0.0) AS tau
        |        FROM hd)
        |SELECT doc_id, lang, n_chars,
        |  round(greatest(n_chars::DOUBLE, tau), 4) AS est_weight
        |FROM hd, tau WHERE rn <= 64
        |ORDER BY doc_id""".stripMargin,

    "t07_winnow_pairs" ->
      """WITH h AS (
        |  SELECT doc_id, list_transform(range(1, length(text) - 6),
        |           i -> md5(substr(text, i, 8))) AS h
        |  FROM documents WHERE length(text) >= 11),
        |f AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, len(h) - 3),
        |           w -> least(h[w+1], h[w+2], h[w+3], h[w+4]))) AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |g AS (SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
        |e2 AS (SELECT e.doc_id, e.fp FROM e JOIN g USING (fp)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |      FROM e2 a JOIN e2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, shared FROM p
        |WHERE shared >= 50
        |ORDER BY id_a, id_b""".stripMargin,

    // The Spark side joins on xxhash64(gram) (the gram string never
    // shuffles); the oracle joins on the gram strings themselves —
    // identical result up to a 2^-64-per-pair hash collision.
    "t09_contamination" ->
      """WITH t AS (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |      FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, greatest(len(toks)-6, 1)),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |             toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
        |             toks[i+6] || ' ' || toks[i+7]))) AS g
        |      FROM t),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id % 100 = 7)
        |SELECT doc_id, count(*) AS n_shared
        |FROM g JOIN b USING (g)
        |WHERE doc_id % 100 <> 7
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "t10_repetition" ->
      """SELECT doc_id,
        |  greatest(len(toks) - 2, 0) AS n_grams,
        |  len(list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS n_distinct,
        |  CASE WHEN len(toks) <= 2 THEN 0.0
        |       ELSE round(1.0 -
        |         len(list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::DOUBLE
        |         / (len(toks) - 2), 4) END AS dup_ratio
        |FROM (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "t12_quality_filter" ->
      """SELECT doc_id, n_tokens, reason, reason = 'keep' AS keep FROM (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    CASE WHEN text IS NULL THEN 'null_text'
        |         WHEN len(toks) < 10 THEN 'too_short'
        |         WHEN len(toks) > 1000 THEN 'too_long'
        |         WHEN (CASE WHEN len(toks) <= 2 THEN 0.0
        |               ELSE 1.0 -
        |                 len(list_distinct(list_transform(
        |                   range(1, greatest(len(toks)-1, 1)),
        |                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))::DOUBLE
        |                 / (len(toks) - 2) END) > 0.2 THEN 'repetitive'
        |         ELSE 'keep' END AS reason
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t) u
        |ORDER BY doc_id""".stripMargin,

    // t44: DuckDB's GLOBAL window sum is the from-scratch spelling of
    // the distributed prefix kernel (fine at oracle scale; the exact
    // thing globalPrefixSum exists to avoid at corpus scale), then the
    // same integer pack arithmetic. Token convention shared with t11.
    "t44_concat_split" ->
      """SELECT doc_id, n_tokens, tok_start,
        |  CAST(tok_start // 512 AS BIGINT) AS pack_first,
        |  CAST((tok_start + greatest(n_tokens, 1) - 1) // 512 AS BIGINT) AS pack_last,
        |  CAST(tok_start % 512 AS BIGINT) AS pack_offset
        |FROM (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(len(toks)) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t) u
        |ORDER BY doc_id""".stripMargin,

    // t45: the incremental packer places the batch from the persisted
    // lake cursor; the oracle re-packs the WORLD from scratch in the
    // same (lake-then-batch, doc_id) order and keeps the batch rows —
    // the incremental answer must equal repacking everything.
    "t45_inc_concat_split" -> concatSplitIncrementalSql,

    // st31: the SAME from-scratch spelling as t45 — the streaming
    // maintainer extends the identical pack layout over the identical
    // lake/batch split, so streamed micro-batch arrival (plus the
    // re-delivered final batch the atomic gate must no-op) must not
    // change a single placement.
    "st31_pack_maint" -> concatSplitIncrementalSql,

    // d30: from-scratch closure over the STANDING edges ONLY — the
    // pre-merge labeling the time-travel read must reproduce. The
    // current version (standing ∪ merge batch) is d25's oracle on its
    // own fixture; a d30 reader that resolves the wrong version
    // hash-fails on every merged component.
    "d30_time_travel" ->
      """WITH RECURSIVE cust AS (SELECT c_custkey AS c FROM customer),
        |e0 AS (SELECT c AS a, c - c % 5 AS b FROM cust WHERE c % 5 <> 0),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS node_id, least(a, min(b)) AS component_id
        |FROM reach GROUP BY a
        |ORDER BY node_id""".stripMargin,

    // d31: per-node status between the two from-scratch closures —
    // old = standing edges only (d30's world), new = standing + the
    // merge batch (d25's world). The engine never recomputes either:
    // it diffs the two retained snapshot versions of the at-rest
    // store, and must agree node-for-node with this recompute.
    "d31_snapshot_changes" ->
      """WITH RECURSIVE cust AS (SELECT c_custkey AS c FROM customer),
        |e0_old AS (SELECT c AS a, c - c % 5 AS b FROM cust WHERE c % 5 <> 0),
        |e_old AS (SELECT a, b FROM e0_old UNION SELECT b, a FROM e0_old),
        |reach_old(a, b) AS (
        |  SELECT a, b FROM e_old
        |  UNION
        |  SELECT r.a, e.b FROM reach_old r JOIN e_old e ON r.b = e.a),
        |old AS (SELECT a AS node_id, least(a, min(b)) AS component_id
        |        FROM reach_old GROUP BY a),
        |e0_new AS (
        |  SELECT c AS a, c - c % 5 AS b FROM cust WHERE c % 5 <> 0
        |  UNION ALL
        |  SELECT c, c + 5 FROM cust WHERE c % 35 = 0),
        |e_new AS (SELECT a, b FROM e0_new UNION SELECT b, a FROM e0_new),
        |reach_new(a, b) AS (
        |  SELECT a, b FROM e_new
        |  UNION
        |  SELECT r.a, e.b FROM reach_new r JOIN e_new e ON r.b = e.a),
        |new AS (SELECT a AS node_id, least(a, min(b)) AS component_id
        |        FROM reach_new GROUP BY a)
        |SELECT coalesce(o.node_id, n.node_id) AS node_id,
        |  CASE WHEN o.node_id IS NULL THEN 'added'
        |       WHEN n.node_id IS NULL THEN 'removed'
        |       WHEN o.component_id = n.component_id THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM old o FULL OUTER JOIN new n ON o.node_id = n.node_id
        |ORDER BY node_id""".stripMargin,

    // d32: rolling the store back to the pre-merge bootstrap must
    // read as the from-scratch closure over the STANDING edges only —
    // d30's oracle verbatim, but against the CURRENT state after the
    // rollback commit rather than a time-travel read.
    "d32_snapshot_rollback" ->
      """WITH RECURSIVE cust AS (SELECT c_custkey AS c FROM customer),
        |e0 AS (SELECT c AS a, c - c % 5 AS b FROM cust WHERE c % 5 <> 0),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
        |SELECT a AS node_id, least(a, min(b)) AS component_id
        |FROM reach GROUP BY a
        |ORDER BY node_id""".stripMargin,

    "t11_sequence_pack" ->
      """SELECT doc_id, shard, n_tokens, CAST(cum // 512 AS BIGINT) AS bin FROM (
        |  SELECT doc_id, doc_id % 32 AS shard, len(toks) AS n_tokens,
        |    coalesce(sum(len(toks)) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        |        FROM documents) t) u
        |ORDER BY doc_id""".stripMargin,

    "t08_hash_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 52429 THEN 'train'
        |       WHEN bucket < 58982 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS bucket
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "t02_quality" ->
      """SELECT doc_id, len(tokens) AS n_tokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(tokens), 4) AS avg_word_len,
        |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |        / length(text), 4) AS punct_ratio,
        |  round(CAST(len(list_filter(tokens, x -> list_contains(
        |          ['the','and','of','to','in','is','you','that','it','for'], x))) AS DOUBLE)
        |        / len(tokens), 4) AS stopword_ratio,
        |  CASE WHEN len(tokens) BETWEEN 10 AND 1000 THEN 'good' ELSE 'low' END AS quality
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "t03_token_stats" ->
      """SELECT doc_id, len(tokens) AS n_tokens,
        |  len(list_distinct(tokens)) AS n_distinct,
        |  round(CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens), 4) AS ttr
        |FROM (SELECT doc_id,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS tokens
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "t04_term_freq" ->
      """SELECT token, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        |      FROM documents) t
        |GROUP BY token
        |ORDER BY cnt DESC, token
        |LIMIT 20""".stripMargin,

    "q18_custom_udaf" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS wavg_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q19_set_ops_all" ->
      """SELECT * FROM (
        |  SELECT 'big_minus_urgent_all' AS tag, count(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |    EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t1
        |  UNION ALL
        |  SELECT 'big_and_urgent_all' AS tag, count(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |    INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t2
        |  UNION ALL
        |  SELECT 'big_plus_urgent_all' AS tag, count(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |    UNION ALL SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t3
        |) u ORDER BY tag""".stripMargin,

    "q20_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS trailing_30d
        |FROM orders
        |ORDER BY o_custkey, days, o_orderkey""".stripMargin,

    "q21_stats_agg" ->
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  quantile_cont(l_quantity, 0.25) AS p25_qty,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "f16_array_hof" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  ((0.0 + l_quantity * 2) + l_discount * 2) + l_tax * 2 AS doubled_sum,
        |  CAST((CASE WHEN l_quantity > 0.02 THEN 1 ELSE 0 END +
        |        CASE WHEN l_discount > 0.02 THEN 1 ELSE 0 END +
        |        CASE WHEN l_tax > 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  least(l_quantity, l_discount, l_tax) AS min_el,
        |  greatest(l_quantity, l_discount, l_tax) AS max_el,
        |  ((0.0 + l_quantity * 1.0) + l_discount * 2.0) + l_tax * 3.0 AS weighted
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, weighted""".stripMargin,

    // f18: the XML roundtrip must recover the original columns — the
    // oracle aggregates them directly, malformed rows as the null
    // group (sum cast: DuckDB sum(BIGINT) is HUGEINT).
    "f18_xml" ->
      """SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |            ELSE o_orderpriority END AS pri,
        |  count(*) AS n_orders,
        |  count(CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE 1 END)
        |    AS n_parsed,
        |  CAST(sum(CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |               ELSE o_custkey END) AS BIGINT) AS sum_cust,
        |  count(CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE 1 END)
        |    AS n_id_match
        |FROM orders GROUP BY 1
        |ORDER BY pri NULLS FIRST""".stripMargin,

    // f19: the to_csv -> from_csv scalar roundtrip must recover the
    // source columns exactly — the oracle aggregates them directly,
    // so any codec drift (quoting, delimiter, double repr) hash-fails.
    "f19_csv_scalar" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_cust,
        |  round(sum(c_acctbal), 2) AS sum_bal,
        |  min(c_custkey) AS min_k, max(c_custkey) AS max_k
        |FROM customer GROUP BY seg
        |ORDER BY seg""".stripMargin,

    // f20: the to_avro -> from_avro binary roundtrip must recover the
    // source columns bit-exactly, with the planted-corrupt keys (every
    // 1000th, empty payload) decoding to the NULL group under the
    // PERMISSIVE contract — the oracle aggregates the source columns
    // with those keys nulled, so codec drift hash-fails.
    "f20_avro" ->
      """SELECT CASE WHEN c_custkey % 1000 = 0 THEN NULL
        |            ELSE c_mktsegment END AS seg,
        |  count(*) AS n_cust,
        |  count(CASE WHEN c_custkey % 1000 = 0 THEN NULL ELSE 1 END)
        |    AS n_parsed,
        |  round(sum(CASE WHEN c_custkey % 1000 = 0 THEN NULL
        |                 ELSE c_acctbal END), 2) AS sum_bal,
        |  min(CASE WHEN c_custkey % 1000 = 0 THEN NULL
        |           ELSE c_custkey END) AS min_k,
        |  max(CASE WHEN c_custkey % 1000 = 0 THEN NULL
        |           ELSE c_custkey END) AS max_k,
        |  count(CASE WHEN c_custkey % 1000 = 0 THEN NULL ELSE 1 END)
        |    AS n_id_match
        |FROM customer GROUP BY 1
        |ORDER BY seg NULLS FIRST""".stripMargin,

    // f21: protobuf roundtrip with an unknown 4th field the reader
    // must SKIP, corrupt keys (truncated tag) in the NULL group — the
    // oracle aggregates source columns with corrupt keys nulled.
    "f21_proto" ->
      """SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |            ELSE o_orderpriority END AS pri,
        |  count(*) AS n_orders,
        |  count(CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE 1 END)
        |    AS n_parsed,
        |  round(sum(CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |                 ELSE o_totalprice END), 2) AS sum_price,
        |  min(CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |           ELSE o_orderkey END) AS min_k,
        |  max(CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |           ELSE o_orderkey END) AS max_k,
        |  count(CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE 1 END)
        |    AS n_id_match
        |FROM orders GROUP BY 1
        |ORDER BY pri NULLS FIRST""".stripMargin,

    // f17: the variant decode/navigate path must read the same values
    // DuckDB's json extraction reads; the absent path is null in both.
    "f17_variant" ->
      """SELECT event_type,
        |  count(json_extract(props, '$.k')) AS n_k,
        |  CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
        |  min(json_extract(props, '$.k')::BIGINT) AS min_k,
        |  max(json_extract(props, '$.k')::BIGINT) AS max_k,
        |  CAST(sum(CASE WHEN json_extract(props, '$.missing') IS NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_absent
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "t06_bpe_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS n_bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "st01_tumbling_windows" ->
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin,

    // Identical aggregation to st01 — by construction: complete-mode
    // streaming over all data converges to the batch aggregation, which
    // is exactly what makes the incremental path oracle-checkable.
    "st03_streaming_tumbling" ->
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE user_id % 10 = 0
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin,

    // st03's aggregation RESTRICTED to finalized windows: append mode
    // emits a window only once the watermark (floor_ms(max ts) - the
    // 10-min delay) passes its end, so the oracle filters the batch
    // aggregation by the same final-watermark rule. The watermark
    // floors max(ts) to MILLIS (Spark tracks event-time stats in ms)
    // before subtracting — mirrored by the // 1000 * 1000.
    "st09_append_windows" ->
      """WITH s AS (SELECT ts, event_type, value FROM events
        |           WHERE user_id % 10 = 0),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 600000000 AS w_us
        |       FROM s),
        |agg AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
        |          count(*) AS n_events, round(sum(value), 2) AS sum_value
        |        FROM s GROUP BY 1, 2)
        |SELECT epoch_us(wstart) AS window_start_us, event_type, n_events,
        |       sum_value
        |FROM agg, wm
        |WHERE epoch_us(wstart + INTERVAL '1 hour') <= wm.w_us
        |ORDER BY window_start_us, event_type""".stripMargin,

    // st25: the rank-based arg_min/arg_max over the whole slice is
    // the positional open/close the streaming partials must merge to;
    // windows pass the same final-watermark rule as st09.
    "st25_bars" ->
      """WITH s AS (SELECT event_id, ts, event_type,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE user_id % 10 = 2),
        |wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 600000000
        |         AS w_us FROM s),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY time_bucket(INTERVAL '1 hour', ts), event_type
        |        ORDER BY ts, event_id) AS rn
        |      FROM s),
        |agg AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
        |          event_type,
        |          arg_min(cents, rn) AS open, max(cents) AS high,
        |          min(cents) AS low, arg_max(cents, rn) AS close,
        |          count(*) AS n_events
        |        FROM r GROUP BY 1, 2)
        |SELECT epoch_us(wstart) AS window_start_us, event_type,
        |  CAST(open AS BIGINT) AS open, CAST(high AS BIGINT) AS high,
        |  CAST(low AS BIGINT) AS low, CAST(close AS BIGINT) AS close,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM agg, wm
        |WHERE epoch_us(wstart + INTERVAL '1 hour') <= wm.w_us
        |ORDER BY window_start_us, event_type""".stripMargin,

    // st14: the recovered final state equals the batch windowed
    // aggregate over the same slice (hour buckets as epoch micros).
    "st14_update" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events WHERE user_id % 10 = 5
        |GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin,

    // st16: the two-level streaming rollup equals two-level integer
    // bucket arithmetic (10-min floors re-bucketed to hour floors,
    // epoch micros — window()'s own alignment); every real window
    // finalizes via the sentinel, so no watermark filter appears.
    "st16_chained" ->
      """WITH slice AS (
        |  SELECT ts, event_type FROM events WHERE user_id % 10 = 8),
        |ten AS (
        |  SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) AS b10,
        |    event_type, count(*) AS n10
        |  FROM slice GROUP BY 1, 2)
        |SELECT (b10 - b10 % 3600000000) AS hour_start_us, event_type,
        |  CAST(sum(n10) AS BIGINT) AS n_events, max(n10) AS max_burst
        |FROM ten GROUP BY 1, 2
        |ORDER BY hour_start_us, event_type""".stripMargin,

    // st15: the final transformWithState state (per-user top-3 values
    // + seen count, recovered per (user, rank) by monotone n_seen)
    // equals the batch row_number()-over-everything pick.
    "st15_tws_topk" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, value FROM events WHERE user_id % 10 = 6),
        |tot AS (SELECT user_id, count(*) AS n_seen FROM slice GROUP BY user_id),
        |ranked AS (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id) AS topk_rank
        |  FROM slice)
        |SELECT r.user_id, t.n_seen, r.topk_rank, r.event_id, r.value
        |FROM ranked r JOIN tot t ON r.user_id = t.user_id
        |WHERE r.topk_rank <= 3
        |ORDER BY r.user_id, r.topk_rank""".stripMargin,

    // st13 = st02's gaps-and-islands SQL over the 1-in-10 replay
    // slice, plus the session end (last event + the 10-minute gap).
    // The strict-gap break rule (`>=` starts a new session) mirrors
    // streaming session_window's [start, end) semantics.
    // st18: batch gaps-and-islands with the STRICT gap rule
    // (> 15 min starts a new session) — the exact semantics the
    // timer-driven processor implements; end = last event, not
    // last + gap (st13's session_window convention).
    "st18_timer_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 15 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id % 10 = 5),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       epoch_us(min(ts)) AS session_start_us,
        |       epoch_us(max(ts)) AS session_end_us,
        |       count(*) AS n_events
        |FROM numbered
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    // st19: the streaming sketch-merge loop must land on the SAME
    // integers as the from-scratch batch sketch over the whole slice
    // (hdrMerge associativity) — the oracle is the q91 bucket mirror
    // keyed on event_type.
    "st19_sketch_monitor" ->
      """WITH v AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id % 5 = 1),
        |b AS (SELECT event_type,
        |    CASE WHEN length(bin(cents)) - 1 <= 3 THEN cents
        |         ELSE (cents // (1::BIGINT << (length(bin(cents)) - 4)))
        |              * (1::BIGINT << (length(bin(cents)) - 4)) END AS lo
        |  FROM v),
        |c AS (SELECT event_type, lo, count(*) AS n FROM b GROUP BY 1, 2),
        |w AS (SELECT event_type, lo,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS tot
        |  FROM c),
        |e AS (SELECT event_type, p.permille, lo FROM w,
        |    (SELECT unnest([500, 950, 990]) AS permille) p
        |  WHERE 1000 * cum >= permille * tot)
        |SELECT event_type, CAST(permille AS BIGINT) AS permille,
        |  CAST(min(lo) AS BIGINT) AS q_lo
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "st13_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id % 10 = 4),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT epoch_us(min(ts)) AS session_start_us,
        |       epoch_us(max(ts) + INTERVAL 10 MINUTE) AS session_end_us,
        |       user_id, count(*) AS n_events
        |FROM numbered
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "st02_session_windows" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT epoch_us(min(ts)) AS session_start_us, user_id,
        |       count(*) AS n_events
        |FROM numbered
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    // q69: the full Count-Min sketch mirrored from first principles —
    // per-key XXH64 (seed 42, decimal-text bytes) inlined by
    // tools/gen_xxh64_sql.py cms_sql (self-checked against the engine
    // dump), cells summed over keys, probe-side min over the 4 sketch
    // rows. Raw triple-quote WITHOUT stripMargin (the inlined XXH64
    // contains bitwise `|`).
    "q69_cms_sketch" ->
      """WITH dtok AS (SELECT l_partkey AS pk, l_partkey::VARCHAR AS tok,
    count(*)::BIGINT AS c FROM lineitem GROUP BY 1, 2),
tbytes AS (
  SELECT tok, strlen(tok)::BIGINT AS n,
    list_transform(range(1, strlen(tok) + 1),
      i -> unicode(substr(tok, i::INT, 1))::UBIGINT) AS bs
  FROM dtok),
-- XXH64(token, seed 42), tokens < 32 bytes: no stripe loop
tacc AS (
  SELECT tok, n, bs,
    list_reduce(
      list_prepend(CAST((((2870177450012600303)::HUGEINT + (n::UBIGINT)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT),
        list_transform(range(0, n // 8), j -> ((bs)[(j*8 + 1)]::UBIGINT + (bs)[(j*8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[(j*8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[(j*8 + 1)+3]::UBIGINT * 16777216::UBIGINT + (bs)[(j*8 + 1)+4]::UBIGINT * 4294967296::UBIGINT + (bs)[(j*8 + 1)+5]::UBIGINT * 1099511627776::UBIGINT + (bs)[(j*8 + 1)+6]::UBIGINT * 281474976710656::UBIGINT + (bs)[(j*8 + 1)+7]::UBIGINT * 72057594037927936::UBIGINT))),
      (a, w) -> (list_transform([CAST((((w)::HUGEINT * 668265295::HUGEINT + (((w)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t1 -> (list_transform([(CAST((((t1)::HUGEINT * 2147483648::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t1) >> 33))], t2 -> (list_transform([CAST((((t2)::HUGEINT * 2246822535::HUGEINT + (((t2)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], t3 -> (list_transform([xor(a, t3)], t4 -> (list_transform([(CAST((((t4)::HUGEINT * 134217728::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((t4) >> 37))], t5 -> CAST((((CAST((((t5)::HUGEINT * 2246822535::HUGEINT + (((t5)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (9650029242287828579)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]))[1]) AS a2
  FROM tbytes),
tacc4 AS (
  SELECT tok, n, bs,
    CASE WHEN n % 8 >= 4 THEN (list_transform([((bs)[((n // 8) * 8 + 1)]::UBIGINT + (bs)[((n // 8) * 8 + 1)+1]::UBIGINT * 256::UBIGINT + (bs)[((n // 8) * 8 + 1)+2]::UBIGINT * 65536::UBIGINT + (bs)[((n // 8) * 8 + 1)+3]::UBIGINT * 16777216::UBIGINT)], v0 -> (list_transform([CAST((((v0)::HUGEINT * 2246822535::HUGEINT + (((v0)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], v1 -> (list_transform([xor(a2, v1)], v2 -> (list_transform([(CAST((((v2)::HUGEINT * 8388608::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((v2) >> 41))], v3 -> CAST((((CAST((((v3)::HUGEINT * 668265295::HUGEINT + (((v3)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT))::HUGEINT + (1609587929392839161)::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]))[1]
         ELSE a2 END AS a3
  FROM tacc),
tacct AS (
  SELECT tok,
    list_reduce(
      list_prepend(a3,
        list_transform(range(0, n % 4), j -> bs[n - (n % 4) + j + 1])),
      (a, b) -> (list_transform([CAST((((b)::HUGEINT * 374761413::HUGEINT + (((b)::HUGEINT * 668265263::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], u1 -> (list_transform([xor(a, u1)], u2 -> (list_transform([(CAST((((u2)::HUGEINT * 2048::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT) | ((u2) >> 53))], u3 -> CAST((((u3)::HUGEINT * 2246822535::HUGEINT + (((u3)::HUGEINT * 2654435761::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)))[1]))[1]))[1]) AS a4
  FROM tacc4),
thash AS (
  SELECT tok, (list_transform([xor(a4, a4 >> 33)], z1 -> (list_transform([CAST((((z1)::HUGEINT * 668265295::HUGEINT + (((z1)::HUGEINT * 3266489917::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z2 -> (list_transform([xor(z2, z2 >> 29)], z3 -> (list_transform([CAST((((z3)::HUGEINT * 2654435833::HUGEINT + (((z3)::HUGEINT * 374761393::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT) AS UBIGINT)], z4 -> xor(z4, z4 >> 32)))[1]))[1]))[1]))[1] AS hu
  FROM tacct),
hk AS (
  SELECT d.pk, d.c,
    (hu & 4294967295::UBIGINT) AS h1, (hu >> 32) AS h2
  FROM thash t JOIN dtok d USING (tok)),
cells AS (
  SELECT r.range AS depth,
    CAST((h1 + r.range::UBIGINT * h2) % 1024::UBIGINT AS BIGINT) AS col,
    sum(c)::BIGINT AS cnt
  FROM hk CROSS JOIN range(4) r
  GROUP BY 1, 2),
probes AS (SELECT pk, c, h1, h2 FROM hk WHERE pk <= 20),
est AS (
  SELECT p.pk, p.c,
    min(coalesce(cells.cnt, 0))::BIGINT AS cms_est
  FROM probes p CROSS JOIN range(4) r
  LEFT JOIN cells ON cells.depth = r.range
    AND cells.col = CAST((p.h1 + r.range::UBIGINT * p.h2) % 1024::UBIGINT AS BIGINT)
  GROUP BY p.pk, p.c)
SELECT pk AS l_partkey, c AS exact_cnt, cms_est,
  cms_est - c AS overcount
FROM est ORDER BY l_partkey""",

    // q70: the same 3 integer-exact iterations unrolled as CTEs —
    // DuckDB `//` and Spark `div` truncate identically on the
    // nonnegative e9 fixed-point ranks, so the match is bit-for-bit
    // (no float ever exists on either side).
    "q70_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |edges AS (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM pairs),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM deg),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_e9 FROM nodes),
        |r1 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM edges e JOIN r0 r ON e.src = r.node
        |    JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |r2 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM edges e JOIN r1 r ON e.src = r.node
        |    JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |r3 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM edges e JOIN r2 r ON e.src = r.node
        |    JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'p:' || (node // 2)
        |            ELSE 's:' || ((node - 1) // 2) END AS node,
        |  CAST(rank_e9 AS BIGINT) AS rank_e9
        |FROM r3 ORDER BY rank_e9 DESC, node LIMIT 50""".stripMargin,

    // q113: the 2 HITS rounds unrolled — each half-step is an integer
    // sum + a max-normalized integral division; DuckDB HUGEINT `//`
    // and Spark DECIMAL(38,0) `div` truncate identically on the
    // nonnegative e6 fixed-point scores (no float ever exists on
    // either side).
    "q113_hits" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM pairs
        |  UNION SELECT dst FROM pairs),
        |a1r AS (SELECT dst AS node, sum(CAST(1000000 AS BIGINT)) AS raw
        |  FROM pairs GROUP BY dst),
        |a1m AS (SELECT max(raw) AS mx FROM a1r),
        |a1 AS (SELECT n.node, CASE WHEN coalesce(mx, 0) = 0 THEN 0
        |    ELSE (coalesce(r.raw, 0) * 1000000) // mx END AS auth
        |  FROM nodes n LEFT JOIN a1r r ON n.node = r.node CROSS JOIN a1m),
        |h1r AS (SELECT e.src AS node, sum(a.auth) AS raw
        |  FROM pairs e JOIN a1 a ON e.dst = a.node GROUP BY e.src),
        |h1m AS (SELECT max(raw) AS mx FROM h1r),
        |h1 AS (SELECT n.node, CASE WHEN coalesce(mx, 0) = 0 THEN 0
        |    ELSE (coalesce(r.raw, 0) * 1000000) // mx END AS hub
        |  FROM nodes n LEFT JOIN h1r r ON n.node = r.node CROSS JOIN h1m),
        |a2r AS (SELECT e.dst AS node, sum(h.hub) AS raw
        |  FROM pairs e JOIN h1 h ON e.src = h.node GROUP BY e.dst),
        |a2m AS (SELECT max(raw) AS mx FROM a2r),
        |a2 AS (SELECT n.node, CASE WHEN coalesce(mx, 0) = 0 THEN 0
        |    ELSE (coalesce(r.raw, 0) * 1000000) // mx END AS auth
        |  FROM nodes n LEFT JOIN a2r r ON n.node = r.node CROSS JOIN a2m),
        |h2r AS (SELECT e.src AS node, sum(a.auth) AS raw
        |  FROM pairs e JOIN a2 a ON e.dst = a.node GROUP BY e.src),
        |h2m AS (SELECT max(raw) AS mx FROM h2r),
        |h2 AS (SELECT n.node, CASE WHEN coalesce(mx, 0) = 0 THEN 0
        |    ELSE (coalesce(r.raw, 0) * 1000000) // mx END AS hub
        |  FROM nodes n LEFT JOIN h2r r ON n.node = r.node CROSS JOIN h2m),
        |lbl AS (SELECT CASE WHEN h.node % 2 = 0 THEN 'c:' || (h.node // 2)
        |      ELSE 's:' || ((h.node - 1) // 2) END AS node,
        |    CAST(h.hub AS BIGINT) AS hub_e6,
        |    CAST(a.auth AS BIGINT) AS auth_e6
        |  FROM h2 h JOIN a2 a ON h.node = a.node),
        |tops AS (
        |  (SELECT node, 'hub' AS side, hub_e6 AS score_e6 FROM lbl
        |   ORDER BY score_e6 DESC, node LIMIT 20)
        |  UNION ALL
        |  (SELECT node, 'auth' AS side, auth_e6 AS score_e6 FROM lbl
        |   ORDER BY score_e6 DESC, node LIMIT 20))
        |SELECT node, side, score_e6 FROM tops
        |ORDER BY side, score_e6 DESC, node""".stripMargin,

    // q119: all five rounds unrolled — 3 standing (the q70 CTEs over
    // the filtered pair set), the warm-start left join (carried ranks
    // coalesce to cold 1e9), and 2 rounds over the merged graph. The
    // node sets simplify to the out-degree keys because the edge list
    // is symmetric (src set == dst set), matching the q70 oracle.
    "q119_inc_pagerank" ->
      """WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |            WHERE l_orderkey % 10 <> 0),
        |se AS (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM sp
        |  UNION ALL
        |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM sp),
        |sd AS (SELECT src, count(*) AS outdeg FROM se GROUP BY src),
        |sn AS (SELECT src AS node FROM sd),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_e9 FROM sn),
        |r1 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM sn n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM se e JOIN r0 r ON e.src = r.node
        |    JOIN sd d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |r2 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM sn n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM se e JOIN r1 r ON e.src = r.node
        |    JOIN sd d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |r3 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM sn n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM se e JOIN r2 r ON e.src = r.node
        |    JOIN sd d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |ap AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ae AS (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM ap
        |  UNION ALL
        |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM ap),
        |ad AS (SELECT src, count(*) AS outdeg FROM ae GROUP BY src),
        |an AS (SELECT src AS node FROM ad),
        |w0 AS (SELECT n.node,
        |    CAST(coalesce(r.rank_e9, 1000000000) AS BIGINT) AS rank_e9
        |  FROM an n LEFT JOIN r3 r ON n.node = r.node),
        |w1 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM an n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM ae e JOIN w0 r ON e.src = r.node
        |    JOIN ad d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |w2 AS (SELECT n.node,
        |    150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM an n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM ae e JOIN w1 r ON e.src = r.node
        |    JOIN ad d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'p:' || (node // 2)
        |            ELSE 's:' || ((node - 1) // 2) END AS node,
        |  CAST(rank_e9 AS BIGINT) AS rank_e9
        |FROM w2 ORDER BY rank_e9 DESC, node LIMIT 50""".stripMargin,

    // q84: q70's unrolled integer CTEs with the teleport term gated on
    // seed membership — same bit-for-bit truncating-division argument.
    "q84_ppr" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |edges AS (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM pairs),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |sd AS (SELECT DISTINCT p_partkey * 2 AS node FROM part
        |  WHERE p_partkey % 1000 = 1),
        |ns AS (SELECT d.src AS node,
        |    CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS seed
        |  FROM deg d LEFT JOIN sd s ON d.src = s.node),
        |r0 AS (SELECT node, CAST(seed * 1000000000 AS BIGINT) AS rank_e9
        |  FROM ns),
        |r1 AS (SELECT n.node,
        |    n.seed * 150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM ns n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM edges e JOIN r0 r ON e.src = r.node
        |    JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |r2 AS (SELECT n.node,
        |    n.seed * 150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM ns n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM edges e JOIN r1 r ON e.src = r.node
        |    JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node),
        |r3 AS (SELECT n.node,
        |    n.seed * 150000000 + (85 * coalesce(c.i, 0)) // 100 AS rank_e9
        |  FROM ns n LEFT JOIN (
        |    SELECT e.dst AS node, sum(r.rank_e9 // d.outdeg) AS i
        |    FROM edges e JOIN r2 r ON e.src = r.node
        |    JOIN deg d ON d.src = e.src
        |    GROUP BY e.dst) c ON n.node = c.node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'p:' || (node // 2)
        |            ELSE 's:' || ((node - 1) // 2) END AS node,
        |  CAST(rank_e9 AS BIGINT) AS rank_e9
        |FROM r3 ORDER BY rank_e9 DESC, node LIMIT 50""".stripMargin,

    // q85: the 3 synchronous LPA rounds unrolled — votes per
    // (node, label), argmax by (count DESC, label) via row_number
    // (mirrors the engine's min(struct(-cnt, lbl)) fold exactly),
    // keep-own-label for in-degree-0 nodes via the left join.
    "q85_lpa" ->
      """WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_partkey * 2 + 1, l_orderkey * 2 FROM pairs),
        |l0 AS (SELECT node, node AS lbl FROM
        |  (SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
        |v1 AS (SELECT e.dst AS node, l.lbl, count(*) AS cnt
        |  FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
        |b1 AS (SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, lbl) AS rn FROM v1) WHERE rn = 1),
        |l1 AS (SELECT l.node, coalesce(b.lbl, l.lbl) AS lbl
        |  FROM l0 l LEFT JOIN b1 b ON l.node = b.node),
        |v2 AS (SELECT e.dst AS node, l.lbl, count(*) AS cnt
        |  FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
        |b2 AS (SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, lbl) AS rn FROM v2) WHERE rn = 1),
        |l2 AS (SELECT l.node, coalesce(b.lbl, l.lbl) AS lbl
        |  FROM l1 l LEFT JOIN b2 b ON l.node = b.node),
        |v3 AS (SELECT e.dst AS node, l.lbl, count(*) AS cnt
        |  FROM edges e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
        |b3 AS (SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (PARTITION BY node
        |      ORDER BY cnt DESC, lbl) AS rn FROM v3) WHERE rn = 1),
        |l3 AS (SELECT l.node, coalesce(b.lbl, l.lbl) AS lbl
        |  FROM l2 l LEFT JOIN b3 b ON l.node = b.node)
        |SELECT lbl, count(*) AS n_nodes FROM l3
        |GROUP BY 1 ORDER BY n_nodes DESC, lbl LIMIT 50""".stripMargin,

    // q86: the 6 peel rounds unrolled — per round, degree counts only
    // edges whose dst survived the previous round, the src-side join
    // stops peeled nodes resurrecting, HAVING >= 6 peels; the engine
    // short-circuits only on an unchanged survivor COUNT, which on a
    // monotone-shrinking set implies an unchanged SET, so early stop
    // equals the full unroll (and on this data no round converges —
    // measured 5215→...→4962).
    "q86_kcore" ->
      """WITH pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_partkey * 2 + 1, l_orderkey * 2 FROM pairs),
        |k0 AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |k1 AS (SELECT e.src AS node, count(*) AS deg FROM edges e
        |  JOIN k0 d ON e.dst = d.node JOIN k0 s ON e.src = s.node
        |  GROUP BY e.src HAVING count(*) >= 6),
        |k2 AS (SELECT e.src AS node, count(*) AS deg FROM edges e
        |  JOIN k1 d ON e.dst = d.node JOIN k1 s ON e.src = s.node
        |  GROUP BY e.src HAVING count(*) >= 6),
        |k3 AS (SELECT e.src AS node, count(*) AS deg FROM edges e
        |  JOIN k2 d ON e.dst = d.node JOIN k2 s ON e.src = s.node
        |  GROUP BY e.src HAVING count(*) >= 6),
        |k4 AS (SELECT e.src AS node, count(*) AS deg FROM edges e
        |  JOIN k3 d ON e.dst = d.node JOIN k3 s ON e.src = s.node
        |  GROUP BY e.src HAVING count(*) >= 6),
        |k5 AS (SELECT e.src AS node, count(*) AS deg FROM edges e
        |  JOIN k4 d ON e.dst = d.node JOIN k4 s ON e.src = s.node
        |  GROUP BY e.src HAVING count(*) >= 6),
        |k6 AS (SELECT e.src AS node, count(*) AS deg FROM edges e
        |  JOIN k5 d ON e.dst = d.node JOIN k5 s ON e.src = s.node
        |  GROUP BY e.src HAVING count(*) >= 6)
        |SELECT CASE WHEN node % 2 = 0 THEN 'o:' || (node // 2)
        |            ELSE 'p:' || ((node - 1) // 2) END AS node,
        |  CAST(deg AS BIGINT) AS deg
        |FROM k6 ORDER BY node""".stripMargin,

    // q87: the +1/-1 boundary sweep — epoch-day bounds (DATE - DATE
    // is integer days in DuckDB, unix_date in Spark; round() agrees
    // on positive quantities), deltas folded per (key, t) before the
    // per-key running sum, argmax by (c DESC, t) mirrors the
    // engine's min(struct(-c, t)) fold.
    "q87_concurrency" ->
      """WITH iv AS (SELECT l_suppkey,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      + CAST(round(l_quantity) AS BIGINT) AS e
        |  FROM lineitem),
        |del AS (SELECT l_suppkey, s AS t, 1 AS d FROM iv
        |  UNION ALL SELECT l_suppkey, e + 1, -1 FROM iv),
        |net AS (SELECT l_suppkey, t, sum(d) AS net FROM del GROUP BY 1, 2),
        |run AS (SELECT l_suppkey, t,
        |    sum(net) OVER (PARTITION BY l_suppkey ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM net)
        |SELECT l_suppkey, CAST(peak AS BIGINT) AS peak,
        |  CAST(peak_at AS BIGINT) AS peak_at
        |FROM (SELECT l_suppkey, c AS peak, t AS peak_at,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY c DESC, t) AS rn
        |  FROM run) WHERE rn = 1 ORDER BY l_suppkey""".stripMargin,

    // q88: gaps-and-islands interval union — running max of e flags
    // island starts (adjacent means s <= covered end + 1), running
    // sum numbers them; tied (s, e) rows are identical tuples, so
    // any tie order yields the same islands in both engines.
    "q88_coverage" ->
      """WITH iv AS (SELECT l_suppkey,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      + CAST(round(l_quantity) AS BIGINT) AS e
        |  FROM lineitem),
        |srt AS (SELECT l_suppkey, s, e,
        |    max(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |isl AS (SELECT l_suppkey, s, e,
        |    sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY l_suppkey ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM srt),
        |ext AS (SELECT l_suppkey, g, min(s) AS i_s, max(e) AS i_e
        |  FROM isl GROUP BY 1, 2)
        |SELECT l_suppkey, count(*) AS n_islands,
        |  CAST(sum(i_e - i_s + 1) AS BIGINT) AS covered
        |FROM ext GROUP BY 1 ORDER BY l_suppkey""".stripMargin,

    // q89: consecutive-pair counts via lag over the same (ts,
    // event_id) total order; p_permille by integer floor division
    // in BOTH engines (DuckDB // == Spark div on positives).
    "q89_markov" ->
      """WITH seq AS (SELECT event_type AS s,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p
        |  FROM events),
        |cnt AS (SELECT p AS prev_state, s AS state, count(*) AS n
        |  FROM seq WHERE p IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_state, sum(n) AS t FROM cnt GROUP BY 1)
        |SELECT c.prev_state, c.state, CAST(c.n AS BIGINT) AS n,
        |  CAST((1000 * c.n) // t AS BIGINT) AS p_permille
        |FROM cnt c JOIN tot USING (prev_state)
        |ORDER BY prev_state, state""".stripMargin,

    // q90: 3-step paths via two leads over the same total order;
    // the WHERE on the farthest lead keeps exactly the full windows
    // (closer leads are then non-null too); top-20 deterministic by
    // (count DESC, path).
    "q90_paths" ->
      """WITH seq AS (SELECT event_type AS s0,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS s1,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS s2
        |  FROM events)
        |SELECT s0 || '>' || s1 || '>' || s2 AS path,
        |  count(*) AS n_occurrences
        |FROM seq WHERE s2 IS NOT NULL GROUP BY 1
        |ORDER BY n_occurrences DESC, path LIMIT 20""".stripMargin,

    // q91: the log-bucket sketch mirrored bucket-for-bucket —
    // floor(log2 v) = length(bin(v))-1 in both engines (no float
    // log), lower bounds by integer shift/div, nearest-rank pick by
    // 1000*cum >= p*total. DuckDB // floors like Spark div on
    // positives; << matches shiftleft.
    "q91_hdr_quantiles" ->
      """WITH v AS (SELECT c_nationkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |b AS (SELECT c_nationkey,
        |    CASE WHEN length(bin(cents)) - 1 <= 3 THEN cents
        |         ELSE (cents // (1::BIGINT << (length(bin(cents)) - 4)))
        |              * (1::BIGINT << (length(bin(cents)) - 4)) END AS lo
        |  FROM v),
        |c AS (SELECT c_nationkey, lo, count(*) AS n FROM b GROUP BY 1, 2),
        |w AS (SELECT c_nationkey, lo,
        |    sum(n) OVER (PARTITION BY c_nationkey ORDER BY lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY c_nationkey) AS tot
        |  FROM c),
        |e AS (SELECT c_nationkey, p.permille, lo FROM w,
        |    (SELECT unnest([500, 950, 990]) AS permille) p
        |  WHERE 1000 * cum >= permille * tot)
        |SELECT c_nationkey, CAST(permille AS BIGINT) AS permille,
        |  CAST(min(lo) AS BIGINT) AS q_lo
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q93: the oracle rebuilds the SAME quantiles from scratch over
    // the whole table — the engine's split→sketch→merge→extract path
    // must land on identical integers (merge ≡ rebuild, the
    // mergeable-sketch contract).
    "q93_hdr_incremental" ->
      """WITH v AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT o_orderpriority,
        |    CASE WHEN length(bin(cents)) - 1 <= 3 THEN cents
        |         ELSE (cents // (1::BIGINT << (length(bin(cents)) - 4)))
        |              * (1::BIGINT << (length(bin(cents)) - 4)) END AS lo
        |  FROM v),
        |c AS (SELECT o_orderpriority, lo, count(*) AS n FROM b GROUP BY 1, 2),
        |w AS (SELECT o_orderpriority, lo,
        |    sum(n) OVER (PARTITION BY o_orderpriority ORDER BY lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY o_orderpriority) AS tot
        |  FROM c),
        |e AS (SELECT o_orderpriority, p.permille, lo FROM w,
        |    (SELECT unnest([500, 950, 990]) AS permille) p
        |  WHERE 1000 * cum >= permille * tot)
        |SELECT o_orderpriority, CAST(permille AS BIGINT) AS permille,
        |  CAST(min(lo) AS BIGINT) AS q_lo
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q95: the 3 transmission rounds unrolled — each round min-folds
    // the previous arrivals with the events whose time is >= the
    // source's arrival (the time-respecting filter IS the semantics;
    // dropping it gives q73's static over-count).
    "q95_temporal_reach" ->
      """WITH ev AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst, t FROM ev
        |  UNION ALL SELECT dst, src, t FROM ev),
        |a0 AS (SELECT s_suppkey * 2 + 1 AS node,
        |    CAST(DATE '1996-01-01' - DATE '1970-01-01' AS BIGINT) AS t_arr
        |  FROM supplier WHERE s_suppkey % 100 = 1),
        |r1 AS (SELECT node, min(t_arr) AS t_arr FROM (
        |    SELECT node, t_arr FROM a0 UNION ALL
        |    SELECT e.dst, e.t FROM edges e
        |    JOIN a0 a ON e.src = a.node AND e.t >= a.t_arr) GROUP BY node),
        |r2 AS (SELECT node, min(t_arr) AS t_arr FROM (
        |    SELECT node, t_arr FROM r1 UNION ALL
        |    SELECT e.dst, e.t FROM edges e
        |    JOIN r1 a ON e.src = a.node AND e.t >= a.t_arr) GROUP BY node),
        |r3 AS (SELECT node, min(t_arr) AS t_arr FROM (
        |    SELECT node, t_arr FROM r2 UNION ALL
        |    SELECT e.dst, e.t FROM edges e
        |    JOIN r2 a ON e.src = a.node AND e.t >= a.t_arr) GROUP BY node)
        |SELECT t_arr,
        |  CAST(count(*) FILTER (WHERE node % 2 = 0) AS BIGINT) AS n_cust,
        |  CAST(count(*) FILTER (WHERE node % 2 = 1) AS BIGINT) AS n_supp
        |FROM r3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // q94: weighted buckets — n = sum(weight) instead of count; the
    // nearest-rank pick then lands where the MASS median/percentile
    // sits. Same integer mirror as q91.
    "q94_weighted_quantiles" ->
      """WITH b AS (SELECT source, n_chars,
        |    CASE WHEN length(bin(n_chars)) - 1 <= 3 THEN n_chars
        |         ELSE (n_chars // (1::BIGINT << (length(bin(n_chars)) - 4)))
        |              * (1::BIGINT << (length(bin(n_chars)) - 4)) END AS lo
        |  FROM documents),
        |c AS (SELECT source, lo, sum(n_chars) AS n FROM b GROUP BY 1, 2),
        |w AS (SELECT source, lo,
        |    sum(n) OVER (PARTITION BY source ORDER BY lo
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n) OVER (PARTITION BY source) AS tot
        |  FROM c),
        |e AS (SELECT source, p.permille, lo FROM w,
        |    (SELECT unnest([500, 900, 990]) AS permille) p
        |  WHERE 1000 * cum >= permille * tot)
        |SELECT source, CAST(permille AS BIGINT) AS permille,
        |  CAST(min(lo) AS BIGINT) AS q_lo
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q92: the pipe-syntax plan against its classic-SQL relation.
    "q92_pipe_sql" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(l_extendedprice * 100)) AS BIGINT)
        |    AS sum_price_cents
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q96: star-EXCEPT + GROUP BY ALL + ORDER BY ALL against the
    // explicit classic spelling (ORDER BY every output column — the
    // ALL contract).
    "q96_sql_sugar" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(l_extendedprice * 100)) AS BIGINT)
        |    AS sum_price_cents
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2, 3, 4, 5""".stripMargin,

    // q97: the EWMA fixed-point identity re-spelled as the same
    // window sum (HUGEINT window sums cast back; << mirrors
    // shiftleft, // mirrors div on the positive domain).
    "q97_ewma" ->
      """WITH x AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_quantity) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, CAST(round(l_quantity) AS BIGINT),
        |        l_partkey, l_suppkey) AS rn
        |  FROM lineitem),
        |t AS (
        |  SELECT l_orderkey, l_linenumber, rn,
        |    CASE WHEN rn = 1 THEN q
        |         ELSE q * (1::BIGINT << (rn - 2)) END AS term
        |  FROM x),
        |s AS (
        |  SELECT l_orderkey, l_linenumber, rn,
        |    sum(term) OVER (PARTITION BY l_orderkey ORDER BY rn) AS num
        |  FROM t)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(num AS BIGINT) AS ewma_num,
        |  CAST(rn - 1 AS BIGINT) AS ewma_den_log2,
        |  CAST((1000 * num) // (1::BIGINT << (rn - 1)) AS BIGINT)
        |    AS ewma_permille
        |FROM s ORDER BY l_orderkey, l_linenumber, rn""".stripMargin,

    // q98: the pair generation spelled as the naive self-join the
    // engine deliberately avoids (the answer is join-order-invariant);
    // `//` mirrors div on the all-positive count domain.
    "q98_basket" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |nb AS (SELECT count(DISTINCT b) AS n_baskets FROM bi),
        |ic AS (SELECT i, count(*) AS n FROM bi GROUP BY 1),
        |p AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_pair
        |      FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i GROUP BY 1, 2),
        |f AS (SELECT * FROM p WHERE n_pair >= 2)
        |SELECT item_a, item_b, n_pair, ia.n AS n_a, ib.n AS n_b,
        |  1000 * n_pair // ia.n AS conf_ab_permille,
        |  1000 * n_pair // ib.n AS conf_ba_permille,
        |  1000000 * n_pair * nb.n_baskets // (ia.n * ib.n) AS lift_e6
        |FROM f JOIN ic ia ON f.item_a = ia.i
        |JOIN ic ib ON f.item_b = ib.i CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin,

    // q99: the frontier spelled as the global sort-sweep (prefix min
    // over x order) the engine distributes via range partitions; a
    // point whose min-y EQUALS the strict prefix min is dominated.
    "q99_skyline" ->
      """WITH c AS (SELECT CAST(p_size AS BIGINT) AS size,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |    count(*) AS n_rows FROM part GROUP BY 1, 2),
        |m AS (SELECT size, min(price_cents) AS ymin FROM c GROUP BY 1),
        |f AS (SELECT size, ymin FROM (
        |  SELECT size, ymin, min(ymin) OVER (ORDER BY size
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM m) t
        |  WHERE pm IS NULL OR ymin < pm)
        |SELECT c.size, c.price_cents, c.n_rows FROM c
        |JOIN f ON c.size = f.size AND c.price_cents = f.ymin
        |ORDER BY c.size, c.price_cents""".stripMargin,

    // q100: the brute-force n² theta join the grid join must equal —
    // coordinates are pure integer key arithmetic (same precedence,
    // positive domain) so both engines derive identical points.
    "q100_geo_join" ->
      """WITH pts AS (SELECT c_custkey AS id,
        |    c_custkey * 48271 % 360001 - 180000 AS x,
        |    c_custkey * 16807 % 170001 - 85000 AS y FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 144000000
        |ORDER BY id_a, id_b""".stripMargin,

    // q101: the drawdown windows re-spelled directly; the argmax
    // trough is min(rn) at the max drawdown (the engine's
    // min(struct(-dd, rn)) fold).
    "q101_drawdown" ->
      """WITH x AS (SELECT l_suppkey,
        |    CAST(round(l_quantity) AS BIGINT) AS q,
        |    CASE WHEN l_returnflag = 'R'
        |         THEN -CAST(round(l_quantity) AS BIGINT)
        |         ELSE CAST(round(l_quantity) AS BIGINT) END AS d,
        |    l_shipdate, l_orderkey, l_linenumber, l_partkey FROM lineitem),
        |s AS (SELECT l_suppkey, d,
        |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate,
        |      l_orderkey, l_linenumber, l_partkey, q, d) AS rn,
        |    sum(d) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate,
        |      l_orderkey, l_linenumber, l_partkey, q, d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM x),
        |s2 AS (SELECT l_suppkey, rn, cum,
        |    max(cum) OVER (PARTITION BY l_suppkey ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM s),
        |s3 AS (SELECT l_suppkey, rn, peak - cum AS dd, peak FROM s2),
        |a AS (SELECT l_suppkey, count(*) AS n_points,
        |    max(peak) AS high_water, max(dd) AS max_drawdown
        |  FROM s3 GROUP BY 1),
        |t AS (SELECT l_suppkey, sum(d) AS final_value FROM x GROUP BY 1),
        |tr AS (SELECT s3.l_suppkey, min(rn) AS trough_rn FROM s3
        |  JOIN a USING (l_suppkey) WHERE s3.dd = a.max_drawdown GROUP BY 1)
        |SELECT a.l_suppkey, n_points, CAST(final_value AS BIGINT) AS final_value,
        |  CAST(high_water AS BIGINT) AS high_water,
        |  CAST(max_drawdown AS BIGINT) AS max_drawdown, trough_rn
        |FROM a JOIN t USING (l_suppkey) JOIN tr USING (l_suppkey)
        |ORDER BY a.l_suppkey""".stripMargin,

    // q102: first digit as text (no float log), the Benford
    // expectation pinned to the same permille literals, `//` on the
    // nonnegative count domain.
    "q102_benford" ->
      """WITH pos AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND round(o_totalprice * 100) > 0),
        |c AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
        |    count(*) AS n FROM pos GROUP BY 1),
        |t AS (SELECT count(*) AS tt FROM pos),
        |d AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10)),
        |e AS (SELECT * FROM (VALUES (1, 301), (2, 176), (3, 125), (4, 97),
        |    (5, 79), (6, 67), (7, 58), (8, 51), (9, 46)) AS e(dg, ep))
        |SELECT d.digit, coalesce(c.n, 0) AS n,
        |  1000 * coalesce(c.n, 0) // t.tt AS obs_permille,
        |  CAST(e.ep AS BIGINT) AS exp_permille,
        |  1000 * coalesce(c.n, 0) // t.tt - e.ep AS dev_permille
        |FROM d LEFT JOIN c USING (digit) JOIN e ON e.dg = d.digit
        |CROSS JOIN t
        |ORDER BY d.digit""".stripMargin,

    // q103: the CUSUM identity n*C_k - k*T in HUGEINT (mirrors the
    // engine's DECIMAL(38,0)), argmax = min(k) at the max score; all
    // cumulative sums nonnegative so `//` mirrors div.
    "q103_cusum" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    coalesce(CAST(round(value * 100) AS BIGINT), 0) AS v
        |  FROM events),
        |s AS (SELECT user_id, v,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS k,
        |    sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(v) OVER (PARTITION BY user_id) AS tot
        |  FROM x),
        |sc AS (SELECT user_id, k, c, n, tot,
        |    abs(n::HUGEINT * c::HUGEINT - k::HUGEINT * tot::HUGEINT)
        |      AS score
        |  FROM s WHERE k < n),
        |a AS (SELECT user_id, max(n) AS n_points, max(tot) AS total,
        |    max(score) AS mx FROM sc GROUP BY 1),
        |b AS (SELECT sc.user_id, min(k) AS cp_rn FROM sc
        |  JOIN a USING (user_id) WHERE sc.score = a.mx GROUP BY 1),
        |w AS (SELECT sc.user_id, sc.k, sc.c FROM sc
        |  JOIN b ON sc.user_id = b.user_id AND sc.k = b.cp_rn)
        |SELECT a.user_id, a.n_points, CAST(a.total AS BIGINT) AS total,
        |  b.cp_rn, CAST(a.mx AS BIGINT) AS score,
        |  CAST(1000 * w.c // w.k AS BIGINT) AS mean_before_permille,
        |  CAST(1000 * (a.total - w.c) // (a.n_points - w.k) AS BIGINT)
        |    AS mean_after_permille
        |FROM a JOIN b USING (user_id) JOIN w USING (user_id)
        |ORDER BY a.user_id""".stripMargin,

    // q105: the autocorr diagnostics in HUGEINT (mirrors the engine's
    // DECIMAL(38,0)); sum skips the NULL lag rows in both engines.
    "q105_autocorr" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    coalesce(CAST(round(value * 100) AS BIGINT), 0) AS v
        |  FROM events),
        |s AS (SELECT user_id, v,
        |    lag(v, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS pv,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(v) OVER (PARTITION BY user_id) AS tot
        |  FROM x),
        |d AS (SELECT user_id, n, tot,
        |    (n::HUGEINT * v::HUGEINT - tot::HUGEINT) AS dv,
        |    CASE WHEN pv IS NULL THEN NULL
        |         ELSE (n::HUGEINT * pv::HUGEINT - tot::HUGEINT) END AS dp
        |  FROM s)
        |SELECT user_id, max(n) AS n_points,
        |  CAST(max(tot) AS BIGINT) AS total,
        |  CAST(sum(dv * dp) AS BIGINT) AS num_scaled,
        |  CAST(sum(dv * dv) AS BIGINT) AS den_scaled
        |FROM d GROUP BY user_id HAVING max(n) > 1
        |ORDER BY user_id""".stripMargin,

    // q106: the seasonal index cross-multiplied in HUGEINT; DuckDB's
    // dayofweek is already 0 = Sunday (Spark's dayofweek - 1).
    "q106_seasonal" ->
      """WITH e AS (SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
        |    coalesce(CAST(round(value * 100) AS BIGINT), 0) AS cents
        |  FROM events),
        |c AS (SELECT event_type, dow, count(*) AS n_cell,
        |    sum(cents) AS sum_cell FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, count(*) AS n_type,
        |    sum(cents) AS sum_type FROM e GROUP BY 1)
        |SELECT c.event_type, c.dow, c.n_cell,
        |  CAST(c.sum_cell AS BIGINT) AS sum_cell,
        |  CAST(1000 * c.sum_cell * t.n_type // (c.n_cell * t.sum_type)
        |    AS BIGINT) AS seasonal_permille
        |FROM c JOIN t USING (event_type)
        |ORDER BY c.event_type, c.dow""".stripMargin,

    // q107: the ABC scan as the global window the engine distributes;
    // class cuts in exact cross-multiplied integers.
    "q107_abc" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      CAST(round(l_quantity) AS BIGINT) AS rev FROM lineitem),
        |p AS (SELECT l_partkey, CAST(sum(rev) AS BIGINT) AS value
        |  FROM li GROUP BY 1),
        |t AS (SELECT sum(value) AS tot FROM p),
        |s AS (SELECT l_partkey, value,
        |    CAST(sum(value) OVER (ORDER BY value DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM p)
        |SELECT s.l_partkey, s.value, s.cum,
        |  CASE WHEN s.cum * 1000 <= 800 * t.tot THEN 'A'
        |       WHEN s.cum * 1000 <= 950 * t.tot THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM s CROSS JOIN t
        |ORDER BY s.l_partkey""".stripMargin,

    // q108: the one-pass moment sums re-spelled directly; HUGEINT
    // sums cast back (all six pair rows come off one aggregate).
    "q108_corrmat" ->
      """WITH x AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice) AS BIGINT) AS price,
        |    CAST(round(l_discount * 1000) AS BIGINT) AS disc,
        |    CAST(round(l_tax * 1000) AS BIGINT) AS tax FROM lineitem),
        |a AS (SELECT count(*) AS n,
        |    sum(qty) AS s_qty, sum(qty*qty) AS ss_qty,
        |    sum(price) AS s_price, sum(price*price) AS ss_price,
        |    sum(disc) AS s_disc, sum(disc*disc) AS ss_disc,
        |    sum(tax) AS s_tax, sum(tax*tax) AS ss_tax,
        |    sum(qty*price) AS sp_qty_price, sum(qty*disc) AS sp_qty_disc,
        |    sum(qty*tax) AS sp_qty_tax, sum(price*disc) AS sp_price_disc,
        |    sum(price*tax) AS sp_price_tax, sum(disc*tax) AS sp_disc_tax
        |  FROM x)
        |SELECT m_x, m_y, n AS n_rows,
        |  CAST(sum_x AS BIGINT) AS sum_x, CAST(sum_y AS BIGINT) AS sum_y,
        |  CAST(sum_xx AS BIGINT) AS sum_xx, CAST(sum_yy AS BIGINT) AS sum_yy,
        |  CAST(sum_xy AS BIGINT) AS sum_xy
        |FROM (
        |  SELECT 'qty' AS m_x, 'price' AS m_y, n, s_qty AS sum_x,
        |    s_price AS sum_y, ss_qty AS sum_xx, ss_price AS sum_yy,
        |    sp_qty_price AS sum_xy FROM a
        |  UNION ALL SELECT 'qty', 'disc', n, s_qty, s_disc, ss_qty,
        |    ss_disc, sp_qty_disc FROM a
        |  UNION ALL SELECT 'qty', 'tax', n, s_qty, s_tax, ss_qty,
        |    ss_tax, sp_qty_tax FROM a
        |  UNION ALL SELECT 'price', 'disc', n, s_price, s_disc, ss_price,
        |    ss_disc, sp_price_disc FROM a
        |  UNION ALL SELECT 'price', 'tax', n, s_price, s_tax, ss_price,
        |    ss_tax, sp_price_tax FROM a
        |  UNION ALL SELECT 'disc', 'tax', n, s_disc, s_tax, ss_disc,
        |    ss_tax, sp_disc_tax FROM a) u
        |ORDER BY m_x, m_y""".stripMargin,

    // q109: the CDF scan as the global window the engine distributes.
    "q109_cdf" ->
      """WITH c AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
        |    count(*) AS cnt FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(cnt) AS n FROM c),
        |s AS (SELECT qty, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM c)
        |SELECT s.qty, s.cnt, s.cum,
        |  CAST(1000 * s.cum // t.n AS BIGINT) AS cdf_permille
        |FROM s CROSS JOIN t
        |ORDER BY s.qty""".stripMargin,

    // q110: the lower-median convention spelled identically (smallest
    // value whose doubled running count reaches n); everything rides
    // per-(key, value) counts so both engines fold the same frames.
    "q110_mad" ->
      """WITH e AS (SELECT event_type,
        |    coalesce(CAST(round(value * 100) AS BIGINT), 0) AS v
        |  FROM events),
        |c AS (SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2),
        |m1 AS (SELECT event_type, min(CASE WHEN cum * 2 >= n THEN v END)
        |    AS med FROM (
        |  SELECT event_type, v,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n FROM c) t
        |  GROUP BY 1),
        |d AS (SELECT c.event_type, abs(v - med) AS dv, sum(c.c) AS c
        |  FROM c JOIN m1 USING (event_type) GROUP BY 1, 2),
        |m2 AS (SELECT event_type, min(CASE WHEN cum * 2 >= n THEN dv END)
        |    AS mad FROM (
        |  SELECT event_type, dv,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY dv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n FROM d) t
        |  GROUP BY 1)
        |SELECT d.event_type, CAST(sum(d.c) AS BIGINT) AS n_points,
        |  CAST(max(m1.med) AS BIGINT) AS median,
        |  CAST(max(m2.mad) AS BIGINT) AS mad,
        |  CAST(sum(CASE WHEN d.dv > 3 * m2.mad THEN d.c ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN m1 USING (event_type) JOIN m2 USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q111: share-of-parent in cross-multiplied integers; the window
    // partitions by region (5 rows each).
    "q111_ratio_parent" ->
      """WITH rev AS (SELECT r_name, n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
        |    AS region_rev_cents,
        |  CAST(1000 * rev_cents //
        |    sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT)
        |    AS share_permille,
        |  CAST(row_number() OVER (PARTITION BY r_name
        |    ORDER BY rev_cents DESC, n_name) AS BIGINT) AS rank_in_region
        |FROM rev ORDER BY r_name, n_name""".stripMargin,

    // q112: the window-ranked KMV mirror — same md5-prefix 60-bit
    // hashes over the distinct (type, user) pairs, kth-smallest via
    // row_number, and the same integer estimator with HUGEINT doing
    // the (k-1)*2^60 numerator that DECIMAL(38,0) does on the Spark
    // side. Ties on hv (a 60-bit collision) rank arbitrarily but
    // carry equal values, so the output is deterministic either way.
    "q112_kmv" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM d),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n_exact
        |  FROM h)
        |SELECT event_type,
        |  CAST(max(n_exact) AS BIGINT) AS n_exact,
        |  CAST(coalesce(max(CASE WHEN rk = 64 THEN hv END), 0) AS BIGINT)
        |    AS kth_hash,
        |  CAST(CASE WHEN max(n_exact) < 64 THEN max(n_exact)
        |       ELSE (63::HUGEINT * 1152921504606846976::HUGEINT)
        |            // max(CASE WHEN rk = 64 THEN hv END) END AS BIGINT)
        |    AS n_estimated
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q117: the same bottom-64 sketches combined pairwise with list
    // functions — union slice, both-membership filter, the q112
    // HUGEINT estimator on the union's k-th value; all integers, so
    // the KMV combine is bit-identical.
    "q117_kmv_jaccard" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |d AS (
        |  SELECT user_id, unnest(list_filter([0, 1, 2],
        |    s -> user_id % 3 = s OR user_id % 5 = s))::BIGINT AS seg
        |  FROM u),
        |h AS (
        |  SELECT seg,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM d),
        |r AS (
        |  SELECT seg, hv,
        |    row_number() OVER (PARTITION BY seg ORDER BY hv) AS rk
        |  FROM h),
        |sk AS (SELECT seg, list_sort(list(hv)) AS sk
        |       FROM r WHERE rk <= 64 GROUP BY seg),
        |p AS (SELECT a.seg AS ta, b.seg AS tb,
        |        a.sk AS ska, b.sk AS skb
        |      FROM sk a JOIN sk b ON a.seg < b.seg),
        |c AS (SELECT ta, tb, ska, skb,
        |        list_slice(list_sort(list_distinct(list_concat(ska, skb))),
        |          1, 64) AS u
        |      FROM p),
        |m AS (SELECT ta, tb, u, len(u) AS k_eff,
        |        len(list_filter(u, h -> list_contains(ska, h)
        |          AND list_contains(skb, h))) AS matches
        |      FROM c),
        |e AS (SELECT ta, tb, k_eff, matches,
        |        CASE WHEN k_eff < 64 THEN k_eff
        |          ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // u[64]
        |        END AS union_est
        |      FROM m),
        |x AS (SELECT a.seg AS ta, b.seg AS tb,
        |        count(*) AS n_exact_inter
        |      FROM d a JOIN d b ON a.user_id = b.user_id
        |        AND a.seg < b.seg
        |      GROUP BY 1, 2)
        |SELECT e.ta, e.tb,
        |  CAST(coalesce(x.n_exact_inter, 0) AS BIGINT) AS n_exact_inter,
        |  CAST(k_eff AS BIGINT) AS k_eff,
        |  CAST(matches AS BIGINT) AS matches,
        |  CAST(union_est AS BIGINT) AS union_est,
        |  CAST((matches * union_est) // k_eff AS BIGINT) AS inter_est,
        |  CAST((1000 * matches) // k_eff AS BIGINT) AS jac_permille
        |FROM e LEFT JOIN x ON e.ta = x.ta AND e.tb = x.tb
        |ORDER BY 1, 2""".stripMargin,

    // q118: the oracle brute-forces triple support with a 3-way
    // self-join — the engine's A-priori pruning pipeline must
    // reproduce it exactly (downward closure: pruning is answer-
    // neutral). Same corpus-derived support threshold on both sides.
    "q118_apriori" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 20 AS i
        |            FROM lineitem),
        |ms AS (SELECT greatest(2, (SELECT count(*) FROM orders) // 250)
        |         AS m),
        |tr AS (SELECT x.b, x.i AS ia, y.i AS ib, z.i AS ic
        |       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       JOIN bi z ON y.b = z.b AND y.i < z.i),
        |sup AS (SELECT ia, ib, ic, count(*) AS support
        |        FROM tr GROUP BY 1, 2, 3)
        |SELECT ia AS item_a, ib AS item_b, ic AS item_c,
        |  CAST(support AS BIGINT) AS support
        |FROM sup, ms WHERE support >= m
        |ORDER BY support DESC, item_a, item_b, item_c
        |LIMIT 15""".stripMargin,

    // q120: arg_min/arg_max on the unique (date, orderkey, linenumber)
    // rank mirror Spark's min_by/max_by exactly; integer cents and
    // integer quantities end to end.
    "q120_ohlc" ->
      """WITH t AS (
        |  SELECT l_partkey % 25 AS series,
        |    date_diff('day', DATE '1970-01-01', l_shipdate) // 7 AS week,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    row_number() OVER (
        |      PARTITION BY l_partkey % 25,
        |                   date_diff('day', DATE '1970-01-01', l_shipdate) // 7
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |               round(l_extendedprice * 100)) AS rn
        |  FROM lineitem)
        |SELECT series, CAST(week AS BIGINT) AS week,
        |  CAST(arg_min(cents, rn) AS BIGINT) AS open,
        |  CAST(max(cents) AS BIGINT) AS high,
        |  CAST(min(cents) AS BIGINT) AS low,
        |  CAST(arg_max(cents, rn) AS BIGINT) AS close,
        |  CAST(sum(qty) AS BIGINT) AS volume,
        |  count(*)::BIGINT AS n_trades
        |FROM t GROUP BY series, week
        |ORDER BY series, week""".stripMargin,

    // q121: the same interval build as q115's history, then the
    // point-in-time range match (from <= d < to, null to = open
    // interval) — dates and exact cents only.
    "q121_pit_join" ->
      """WITH snap AS (
        |  SELECT o_custkey AS k, o_orderdate AS d,
        |         arg_max(o_orderpriority, o_orderkey) AS prio
        |  FROM orders WHERE o_custkey % 50 = 0
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT k, d, prio,
        |    lag(prio) OVER (PARTITION BY k ORDER BY d) AS pp
        |  FROM snap),
        |c AS (SELECT k, d, prio FROM m WHERE pp IS NULL OR pp <> prio),
        |h AS (SELECT k, prio, d AS f,
        |        lead(d) OVER (PARTITION BY k ORDER BY d) AS t
        |      FROM c),
        |fx AS (SELECT o_custkey AS k, o_orderdate AS fd,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |       FROM orders WHERE o_custkey % 50 = 0)
        |SELECT h.prio, count(*)::BIGINT AS n_orders,
        |  CAST(sum(fx.cents) AS BIGINT) AS sum_cents
        |FROM fx JOIN h ON fx.k = h.k AND fx.fd >= h.f
        |  AND (h.t IS NULL OR fx.fd < h.t)
        |GROUP BY h.prio ORDER BY h.prio""".stripMargin,

    // st23: the from-scratch window-ranked mirror of the standing
    // reservoir — t37's oracle shape over the replayed event slice
    // (multiset semantics: every event row ranks; equal (hv, user)
    // pairs carry equal values, so tie order cannot change the
    // output). Equality pins every cross-chunk eviction.
    "st23_sample_monitor" ->
      """WITH ev AS (SELECT event_type, user_id FROM events
        |  WHERE user_id % 5 = 4),
        |h AS (SELECT event_type, user_id,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM ev),
        |r AS (SELECT event_type, user_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY hv, user_id) AS rk
        |  FROM h)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id
        |FROM r WHERE rk <= 5
        |ORDER BY event_type, rk""".stripMargin,

    // st21: the exact-regime SpaceSaving answer IS the batch count
    // rank (capacity > distinct users: no eviction, err 0).
    "st21_heavy_hitters" ->
      """WITH ev AS (SELECT event_type, user_id FROM events
        |  WHERE user_id % 3 = 1),
        |c AS (SELECT event_type, user_id, count(*) AS cnt
        |  FROM ev GROUP BY 1, 2),
        |t AS (SELECT event_type, count(*) AS n_seen FROM ev GROUP BY 1),
        |r AS (SELECT event_type, user_id, cnt,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, user_id) AS hh_rank
        |  FROM c)
        |SELECT r.event_type, t.n_seen, CAST(r.hh_rank AS INT) AS hh_rank,
        |  r.user_id, r.cnt AS est_cnt, CAST(0 AS BIGINT) AS err
        |FROM r JOIN t USING (event_type) WHERE hh_rank <= 10
        |ORDER BY event_type, hh_rank""".stripMargin,

    // q71: integer-exact linear attribution — cents = round(value*100)
    // rounds the same positive doubles in both engines, `//` mirrors
    // `div`, and per-conversion credits reconcile to the cent by
    // construction (remainder to the most recent touch).
    "q71_attribution" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
        |  FROM events),
        |purchases AS (
        |  SELECT user_id, grp, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM marked WHERE event_type = 'purchase'),
        |touches AS (
        |  SELECT user_id, grp, event_type, ts, event_id,
        |    count(*) OVER (PARTITION BY user_id, grp) AS n_touches,
        |    row_number() OVER (PARTITION BY user_id, grp
        |                       ORDER BY ts DESC, event_id DESC) AS touch_rank
        |  FROM marked WHERE event_type IN ('click', 'view')),
        |credited AS (
        |  SELECT t.event_type,
        |    cents // n_touches + CASE WHEN touch_rank = 1
        |      THEN cents - n_touches * (cents // n_touches) ELSE 0 END
        |      AS credit_cents
        |  FROM touches t JOIN purchases p USING (user_id, grp)),
        |direct AS (
        |  SELECT 'direct' AS event_type, cents AS credit_cents
        |  FROM purchases p
        |  ANTI JOIN (SELECT DISTINCT user_id, grp FROM touches) t
        |    USING (user_id, grp)),
        |u AS (SELECT * FROM credited UNION ALL SELECT * FROM direct)
        |SELECT event_type AS channel, count(*) AS n_credits,
        |  CAST(sum(credit_cents) AS BIGINT) AS credit_cents
        |FROM u GROUP BY event_type ORDER BY channel""".stripMargin,

    // d21: d15's oracle VERBATIM — the Bloom prune is answer-invariant
    // (no false negatives; false positives die in the exact anti-join),
    // so the same SQL gates the pruned path.
    "d21_bloom_inc" ->
      """WITH nrm AS (SELECT doc_id, lang, n_chars,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM documents),
        |inc AS (SELECT * FROM nrm WHERE doc_id % 5 = 4),
        |idx AS (SELECT DISTINCT k FROM nrm WHERE doc_id % 5 < 4),
        |surv AS (SELECT i.* FROM inc i ANTI JOIN idx USING (k))
        |SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
        |  FROM surv) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // q72: e2 fixed-point inputs, HUGEINT weighted sums (mirrors the
    // engine's DECIMAL(38,0) — both exact integer arithmetic), `//`
    // mirrors Spark's decimal `div` (both truncate toward zero).
    "q72_vwap" ->
      """WITH x AS (SELECT l_partkey,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS cents,
        |    CAST(round(l_quantity * 100) AS HUGEINT) AS qty
        |  FROM lineitem),
        |a AS (SELECT l_partkey, sum(cents * qty) AS num, sum(qty) AS den,
        |    count(*) AS n_lines
        |  FROM x GROUP BY 1)
        |SELECT l_partkey, CAST(den AS BIGINT) AS qty_e2,
        |  CAST((num * 100) // den AS BIGINT) AS vwap_e4,
        |  CAST(n_lines AS BIGINT) AS n_lines
        |FROM a ORDER BY l_partkey""".stripMargin,

    // q73: the 3 BFS hop levels unrolled as CTEs — frontier = distinct
    // neighbors minus visited, exactly the engine's set recurrence
    // (NOT IN is null-safe here: node ids are never null). The DISTINCT
    // edge pairs spell the simple graph; the engine passes raw lineitem
    // edges, so a match certifies that duplicates change nothing.
    "q73_bfs_reach" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |edges AS (
        |  SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pairs
        |  UNION ALL
        |  SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM pairs),
        |v0 AS (SELECT DISTINCT l_partkey * 2 AS node, 0 AS hop
        |  FROM pairs WHERE l_partkey <= 3),
        |f1 AS (SELECT DISTINCT e.dst AS node FROM edges e
        |  JOIN v0 ON e.src = v0.node
        |  WHERE e.dst NOT IN (SELECT node FROM v0)),
        |v1 AS (SELECT node, hop FROM v0
        |  UNION ALL SELECT node, 1 FROM f1),
        |f2 AS (SELECT DISTINCT e.dst AS node FROM edges e
        |  JOIN f1 ON e.src = f1.node
        |  WHERE e.dst NOT IN (SELECT node FROM v1)),
        |v2 AS (SELECT node, hop FROM v1
        |  UNION ALL SELECT node, 2 FROM f2),
        |f3 AS (SELECT DISTINCT e.dst AS node FROM edges e
        |  JOIN f2 ON e.src = f2.node
        |  WHERE e.dst NOT IN (SELECT node FROM v2)),
        |v3 AS (SELECT node, hop FROM v2
        |  UNION ALL SELECT node, 3 FROM f3)
        |SELECT hop::BIGINT AS hop, count(*)::BIGINT AS n_nodes,
        |  CAST(sum(node) AS BIGINT) AS sum_node,
        |  min(node) AS min_node, max(node) AS max_node
        |FROM v3 GROUP BY hop ORDER BY hop""".stripMargin,

    // q74: integer-cents binning — `//` mirrors `div` on the always-
    // nonnegative (cents-lo)*20, so bucket boundaries are exact.
    "q74_histogram" ->
      """WITH cents AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM cents)
        |SELECT ((cents - lo) * 20) // (hi - lo + 1) AS bucket,
        |  count(*)::BIGINT AS n, min(cents) AS min_cents,
        |  max(cents) AS max_cents, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM cents CROSS JOIN b
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    // q75: the oracle recomputes the view FROM SCRATCH — the engine's
    // V_old ∪ ΔV must reproduce it to the cent, which is exactly the
    // incremental-maintenance identity being claimed.
    "q75_incr_join" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // q76: identical oriented triple-join — set-exact, no arithmetic
    // beyond the bucket mod and the corner-sum checksum.
    "q76_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS x, b.p AS y
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p)
        |SELECT e1.x % 10 AS bucket, count(*)::BIGINT AS n_triangles,
        |  CAST(sum(e1.x + e1.y + e2.y) AS BIGINT) AS corner_sum
        |FROM e e1 JOIN e e2 ON e1.y = e2.x
        |  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    // t36: the same 3 S-stemmer rules as a CASE — substr(1, len-n)
    // agrees across engines including the len<=rule-length edge cases
    // (substr with length 0 is '' in both).
    "t36_stem" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |st AS (
        |  SELECT lang, tok,
        |    CASE
        |      WHEN tok LIKE '%ies' THEN
        |        CASE WHEN tok NOT LIKE '%eies' AND tok NOT LIKE '%aies'
        |          THEN substr(tok, 1, strlen(tok) - 3) || 'y' ELSE tok END
        |      WHEN tok LIKE '%es' THEN
        |        CASE WHEN tok NOT LIKE '%aes' AND tok NOT LIKE '%ees'
        |          AND tok NOT LIKE '%oes'
        |          THEN substr(tok, 1, strlen(tok) - 1) ELSE tok END
        |      WHEN tok LIKE '%s' THEN
        |        CASE WHEN tok NOT LIKE '%us' AND tok NOT LIKE '%ss'
        |          THEN substr(tok, 1, strlen(tok) - 1) ELSE tok END
        |      ELSE tok END AS stem
        |  FROM toks)
        |SELECT lang, count(*)::BIGINT AS n_tokens,
        |  count(DISTINCT tok)::BIGINT AS n_types_raw,
        |  count(DISTINCT stem)::BIGINT AS n_types_stemmed,
        |  (count(DISTINCT tok) - count(DISTINCT stem))::BIGINT AS n_collapsed,
        |  CAST(sum(strlen(stem)) AS BIGINT) AS stem_len_sum
        |FROM st GROUP BY lang ORDER BY lang""".stripMargin,

    // t37: the window-ranked mirror of the bottom-k reservoir — DuckDB
    // md5's the identical decimal text Spark hashes (cast(long as
    // string) == doc_id::VARCHAR), takes the same 15-hex-digit (60-bit)
    // prefix as a BIGINT order key, and keeps rk <= 5 per lang. The
    // oracle's row_number spelling is exactly the per-key sort the
    // engine-side bounded-heap aggregate avoids at scale.
    "t37_reservoir" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hv
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, hv,
        |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
        |  FROM h)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
        |FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    // t39: t38's hashed buckets scored by a weight vector DERIVED
    // in-plan from the bucket id — identical spelling both sides, so
    // the whole featurize->infer chain is integer-exact.
    "t39_linear_score" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split(lower(text), ' '), x -> x <> '')) AS tok
        |  FROM documents WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      list_transform(string_split(tok, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 1048573) % 64 AS bucket
        |  FROM tok),
        |cnt AS (SELECT doc_id, bucket, count(*) AS cnt
        |        FROM b GROUP BY 1, 2),
        |sc AS (SELECT doc_id,
        |         sum(cnt) AS n_tokens,
        |         sum(cnt * ((bucket * 37 + 11) % 100 - 50)) AS score
        |       FROM cnt GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(score AS BIGINT) AS score,
        |  CASE WHEN score > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM sc ORDER BY doc_id""".stripMargin,

    // t38: the polynomial rolling hash is spelled portably on both
    // sides — list_reduce here, the aggregate() HOF there — folding
    // (a*31 + codepoint) mod 1048573 from seed 7, bucket = mod 64;
    // every intermediate fits int64 exactly, so the bucketing (and
    // therefore every collision) is identical.
    "t38_feature_hash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split(lower(text), ' '), x -> x <> '')) AS tok
        |  FROM documents WHERE doc_id % 20 = 0),
        |b AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      list_transform(string_split(tok, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 1048573) % 64 AS bucket
        |  FROM tok),
        |cnt AS (SELECT doc_id, bucket, count(*) AS cnt
        |        FROM b GROUP BY 1, 2),
        |r AS (SELECT doc_id, bucket, cnt,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY cnt DESC, bucket) AS rn
        |      FROM cnt)
        |SELECT doc_id, count(*)::BIGINT AS n_buckets,
        |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |  CAST(max(CASE WHEN rn = 1 THEN bucket END) AS BIGINT)
        |    AS top_bucket,
        |  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_cnt
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q77: the declarative window form — the custom bounded-heap
    // operator must reproduce it row-for-row (ties total by
    // cents desc, orderkey asc).
    "q77_native_topk" ->
      """SELECT o_custkey, o_orderkey, cents FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
        |        o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, cents DESC, o_orderkey""".stripMargin,

    // q78: the same deterministic change log + latest-wins apply in
    // window SQL — additions of 2-dp constants are IEEE-identical in
    // both engines, so the cent digest is exact.
    "q78_cdc_apply" ->
      """WITH chg AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 100.0 AS o_totalprice, o_orderdate,
        |    '9-UPD' AS o_orderpriority, 1 AS seq, 'U' AS op
        |  FROM orders WHERE o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 200.0, o_orderdate, '9-UPD', 2, 'U'
        |  FROM orders WHERE o_orderkey % 21 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 1, 'D'
        |  FROM orders WHERE o_orderkey % 7 = 4
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
        |    o_totalprice + 0.17, o_orderdate, '8-INS', 1, 'I'
        |  FROM orders WHERE o_orderkey % 7 = 5),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT chg.*, row_number() OVER (
        |      PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |    FROM chg) t WHERE rn = 1),
        |applied AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM latest
        |  WHERE op <> 'D')
        |SELECT o_orderpriority, count(*)::BIGINT AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM applied GROUP BY 1 ORDER BY 1""".stripMargin,

    // q79: the textbook single-window lead over the distinct ids — the
    // op's two-level (bucket + summary) decomposition must equal it
    // exactly.
    "q79_seq_gaps" ->
      """WITH ids AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS id
        |  FROM lineitem),
        |g AS (SELECT id + 1 AS gap_start,
        |    lead(id) OVER (ORDER BY id) - 1 AS gap_end
        |  FROM ids)
        |SELECT gap_start, gap_end, gap_end - gap_start + 1 AS gap_len
        |FROM g WHERE gap_end >= gap_start
        |ORDER BY gap_len DESC, gap_start LIMIT 50""".stripMargin,

    // q80: the 4 Bellman-Ford rounds unrolled as CTEs — integer cents
    // mins and sums only, so the match is exact (the q70 no-float
    // argument). The per-pair min(w) spells the min-weight graph; the
    // engine passes one edge per lineitem, so a match certifies that
    // relaxing parallel edges equals it.
    "q80_sssp" ->
      """WITH pw AS (SELECT l_partkey AS p, l_suppkey AS s2,
        |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |e AS (SELECT p * 2 AS src, s2 * 2 + 1 AS dst, w FROM pw
        |  UNION ALL SELECT s2 * 2 + 1, p * 2, w FROM pw),
        |d0 AS (SELECT DISTINCT p_partkey * 2 AS node,
        |    CAST(0 AS BIGINT) AS d
        |  FROM part WHERE p_partkey % 1000 = 1),
        |d1 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d0
        |  UNION ALL SELECT e.dst, d0.d + e.w FROM d0
        |    JOIN e ON d0.node = e.src) t GROUP BY node),
        |d2 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d1
        |  UNION ALL SELECT e.dst, d1.d + e.w FROM d1
        |    JOIN e ON d1.node = e.src) t GROUP BY node),
        |d3 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d2
        |  UNION ALL SELECT e.dst, d2.d + e.w FROM d2
        |    JOIN e ON d2.node = e.src) t GROUP BY node),
        |d4 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d3
        |  UNION ALL SELECT e.dst, d3.d + e.w FROM d3
        |    JOIN e ON d3.node = e.src) t GROUP BY node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'p:' || (node // 2)
        |            ELSE 's:' || ((node - 1) // 2) END AS node,
        |  CAST(d AS BIGINT) AS d
        |FROM d4 ORDER BY d, node LIMIT 100""".stripMargin,

    // q82: the 6 frontier-mode relaxation rounds unrolled as CTEs —
    // whole-set relaxation in SQL (min-merge per round) equals the
    // engine's frontier/delta mode because both compute the same exact
    // bounded-round Bellman-Ford fixpoint; integer cents throughout
    // (the q80 argument).
    "q82_sssp_frontier" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |el AS (SELECT o_orderkey AS src,
        |    lead(o_orderkey) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey) AS dst,
        |    lead(cents) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderkey) AS w
        |  FROM o),
        |e AS (SELECT src, dst, w FROM el WHERE dst IS NOT NULL),
        |d0 AS (SELECT min(o_orderkey) AS node, CAST(0 AS BIGINT) AS d
        |  FROM o GROUP BY o_custkey),
        |d1 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d0
        |  UNION ALL SELECT e.dst, d0.d + e.w FROM d0
        |    JOIN e ON d0.node = e.src) t GROUP BY node),
        |d2 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d1
        |  UNION ALL SELECT e.dst, d1.d + e.w FROM d1
        |    JOIN e ON d1.node = e.src) t GROUP BY node),
        |d3 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d2
        |  UNION ALL SELECT e.dst, d2.d + e.w FROM d2
        |    JOIN e ON d2.node = e.src) t GROUP BY node),
        |d4 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d3
        |  UNION ALL SELECT e.dst, d3.d + e.w FROM d3
        |    JOIN e ON d3.node = e.src) t GROUP BY node),
        |d5 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d4
        |  UNION ALL SELECT e.dst, d4.d + e.w FROM d4
        |    JOIN e ON d4.node = e.src) t GROUP BY node),
        |d6 AS (SELECT node, min(d) AS d FROM (
        |  SELECT node, d FROM d5
        |  UNION ALL SELECT e.dst, d5.d + e.w FROM d5
        |    JOIN e ON d5.node = e.src) t GROUP BY node)
        |SELECT node, CAST(d AS BIGINT) AS d FROM d6
        |ORDER BY d DESC, node LIMIT 100""".stripMargin,

    // q83: the q47 sessionizer (same lag -> gap flag -> running sum)
    // composed with the q81 string_agg + RE2 pattern count, grouped by
    // the DERIVED (user, sid) instead of (user, day).
    "q83_session_pattern" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |             (PARTITION BY user_id ORDER BY ts, event_id))
        |         >= 30 * 60 * 1000000 THEN 1 ELSE 0 END AS gap
        |  FROM events),
        |numbered AS (
        |  SELECT *, sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked),
        |seqs AS (
        |  SELECT user_id, sid,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY ts, event_id) AS seq
        |  FROM numbered GROUP BY 1, 2),
        |m AS (SELECT CAST(len(regexp_extract_all(seq, 'v[vc]*p'))
        |    AS BIGINT) AS n_matches FROM seqs)
        |SELECT n_matches, count(*)::BIGINT AS n_sessions
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // q81: ordered string_agg + RE2 extract_all — the pattern is
    // classes-and-literals only, where Java regex and RE2 count the
    // same non-overlapping matches (see the facade scaladoc).
    "q81_seq_pattern" ->
      """WITH seqs AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT CAST(len(regexp_extract_all(seq, 'v[vc]*p'))
        |    AS BIGINT) AS n_matches FROM seqs)
        |SELECT n_matches, count(*)::BIGINT AS n_user_days
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // c08: full-outer diff mirrored with IS NOT DISTINCT FROM — the
    // same null-safe per-column comparison the facade compiles.
    "c08_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |a AS (SELECT * FROM o WHERE k % 7 <> 3),
        |b AS (SELECT k, o_custkey, o_orderpriority,
        |    cents + CASE WHEN k % 11 = 0 THEN 100 ELSE 0 END AS cents
        |  FROM o WHERE k % 5 <> 2),
        |j AS (SELECT coalesce(a.k, b.k) AS k,
        |    CASE WHEN a.k IS NULL THEN 'added'
        |         WHEN b.k IS NULL THEN 'removed'
        |         WHEN a.o_custkey IS NOT DISTINCT FROM b.o_custkey
        |          AND a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
        |          AND a.cents IS NOT DISTINCT FROM b.cents THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM a FULL JOIN b ON a.k = b.k)
        |SELECT status, count(*)::BIGINT AS n_keys,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin,

    // c07: the 2-sigma test as pure integer algebra — HUGEINT mirrors
    // the engine's DECIMAL(38,0) products exactly (both are exact
    // integer arithmetic; only the comparison's boolean is emitted).
    "c07_anomaly_days" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1),
        |st AS (SELECT count(*)::HUGEINT AS n, sum(cnt)::HUGEINT AS s,
        |    sum(cnt::HUGEINT * cnt::HUGEINT) AS sq FROM daily)
        |SELECT day, cnt,
        |  ((n * cnt::HUGEINT - s) * (n * cnt::HUGEINT - s)
        |     > 4 * (n * sq - s * s)) AS is_anomaly
        |FROM daily CROSS JOIN st ORDER BY day""".stripMargin
  )
}
