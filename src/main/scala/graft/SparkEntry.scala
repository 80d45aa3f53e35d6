package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables.T
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is one operator family from SURVEY.md §2;
  * `oracleSql` holds the DuckDB-equivalent SQL the driver hash-compares
  * against at sf0.01. Column names and rounding are kept bit-identical on
  * both sides (see graft.operators.Relational scaladoc for the FP rules).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The standings query composes the whole signature chain: JSON map
    * unpivot → dim-joined staging → recency windows → FILTER aggregates →
    * share-of-total → rank. */
  def entry(spark: SparkSession): DataFrame =
    Polls.q23PollStandings(T(spark, "/root/testdata/sf0.001"))

  /** The query names a tool's argument selects: a comma list in its own
    * order, or `all` for every registered query, sorted. An unregistered
    * name throws here, before the caller builds a session. */
  def names(arg: String): Seq[String] = {
    val registered = queries.keySet
    if (arg == "all") registered.toSeq.sorted
    else {
      val names = arg.split(",").toSeq
      val unknown = names.filterNot(registered)
      require(unknown.isEmpty, s"unknown query name: ${unknown.mkString(", ")}")
      names
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> ((s, d) => Relational.q01PricingSummary(T(s, d))),
    "q02_weighted_avg"    -> ((s, d) => Relational.q02WeightedAvg(T(s, d))),
    "q03_top_customers"   -> ((s, d) => Relational.q03TopCustomers(T(s, d))),
    "q04_market_share"    -> ((s, d) => Relational.q04MarketShare(T(s, d))),
    "q05_lag_trend"       -> ((s, d) => Relational.q05LagTrend(T(s, d))),
    "q06_moving_avg"      -> ((s, d) => Relational.q06MovingAvg(T(s, d))),
    "q07_latest_event_per_user" -> ((s, d) => Relational.q07LatestEventPerUser(T(s, d))),
    "q08_nth_value"       -> ((s, d) => Relational.q08NthValue(T(s, d))),
    "q09_global_rank"     -> ((s, d) => Relational.q09GlobalRank(T(s, d))),
    "q10_semi_anti"       -> ((s, d) => Relational.q10SemiAnti(T(s, d))),
    "q11_union_distinct"  -> ((s, d) => Relational.q11UnionDistinct(T(s, d))),
    "q12_event_counts"    -> ((s, d) => Relational.q12EventCounts(T(s, d))),
    "q13_distinct_pairs"  -> ((s, d) => Relational.q13DistinctPairs(T(s, d))),
    "q14_percentiles"     -> ((s, d) => Relational.q14Percentiles(T(s, d))),
    "q15_mode_tiebreak"   -> ((s, d) => Relational.q15ModeTiebreak(T(s, d))),
    "q16_recency_buckets" -> ((s, d) => Relational.q16RecencyBuckets(T(s, d))),
    "q17_price_tiers"     -> ((s, d) => Relational.q17PriceTiers(T(s, d))),
    "q18_json_extract"    -> ((s, d) => Relational.q18JsonExtract(T(s, d))),
    "q19_date_parts"      -> ((s, d) => Relational.q19DateParts(T(s, d))),
    "q20_string_funcs"    -> ((s, d) => Relational.q20StringFuncs(T(s, d))),
    "q21_poll_unpivot"    -> ((s, d) => Polls.q21PollUnpivot(T(s, d))),
    "q22_poll_trends"     -> ((s, d) => Polls.q22PollTrends(T(s, d))),
    "q23_poll_standings"  -> ((s, d) => Polls.q23PollStandings(T(s, d))),
    "q24_doc_dedup_exact" -> ((s, d) => TextDedup.q24DocDedupExact(T(s, d))),
    "q25_ann_cosine_topk" -> ((s, d) => Similarity.q25AnnCosineTopk(T(s, d))),
    "q26_ann_lsh"         -> ((s, d) => Similarity.q26AnnLshBucketed(T(s, d))),
    "q27_minhash_neardup" -> ((s, d) => TextDedup.q27MinhashNearDup(T(s, d))),
    "q28_simhash"         -> ((s, d) => TextDedup.q28Simhash(T(s, d))),
    "q29_token_stats"     -> ((s, d) => TextAnalysis.q29TokenStats(T(s, d))),
    "q30_quality_langid"  -> ((s, d) => TextAnalysis.q30QualityLangid(T(s, d))),
    "q31_fingerprint"     -> ((s, d) => TextDedup.q31Fingerprint(T(s, d))),
    "q32_claims_german"   -> ((s, d) => TextAnalysis.q32ClaimsGerman(T(s, d))),
    "q33_sticky_merge"    -> ((s, d) => Merge.q33StickyMerge(T(s, d))),
    "q34_title_dedup"     -> ((s, d) => Merge.q34TitleTrigramDedup(T(s, d))),
    "q35_findings_dedup"  -> ((s, d) => Merge.q35FindingsDedup(T(s, d))),
    "q36_delete_insert"   -> ((s, d) => Merge.q36DeleteInsertUpsert(T(s, d))),
    "q37_jsonstat_decode" -> ((s, d) => Cube.q37JsonstatDecode(T(s, d))),
    "q38_poll_of_polls"   -> ((s, d) => Cube.q38PollOfPolls(T(s, d))),
    "q39_snapshot_diff"   -> ((s, d) => Views.q39SnapshotDiff(T(s, d))),
    "q40_unified_view"    -> ((s, d) => Views.q40UnifiedView(T(s, d))),
    "q41_catalog_argmax"  -> ((s, d) => Views.q41CatalogArgmax(T(s, d))),
    "q42_hash_family"     -> ((s, d) => Scalars.q42HashFamily(T(s, d))),
    "q43_date_besteffort" -> ((s, d) => Scalars.q43DateBestEffort(T(s, d))),
    "q44_array_family"    -> ((s, d) => Scalars.q44ArrayFamily(T(s, d))),
    "q45_search_pipe"     -> ((s, d) => Scalars.q45SearchPipeAlts(T(s, d))),
    // q46's greedy first-cluster-wins linkage LOOKS sequential
    // (assignment i depends on all assignments < i) but unfolds to an
    // order-free fixpoint — min-index creator reachable via decreasing
    // similarity paths — so the oracle replays it with the q67 doubling
    // (r15; sf0.1-green). Golden retained as a second pin.
    "q46_question_clusters" -> ((s, d) => Clustering.q46QuestionClusters(T(s, d))),
    "q47_semantic_filter"   -> ((s, d) => Clustering.q47SemanticFilter(T(s, d))),
    "q48_topic_scoring"   -> ((s, d) => Topics.q48TopicScoring(T(s, d))),
    "q49_eval_metrics"    -> ((s, d) => Topics.q49EvalMetrics(T(s, d))),
    "q50_rolling_stats"   -> ((s, d) => Extras.q50RollingStats(T(s, d))),
    "q51_hash_sample"     -> ((s, d) => Extras.q51HashSample(T(s, d))),
    "q52_fulltext_html"   -> ((s, d) => Extras.q52FulltextHtml(T(s, d))),
    "q53_llm_lenient"     -> ((s, d) => Extras.q53LlmLenientParse(T(s, d))),
    "q54_citation_follow" -> ((s, d) => Extras.q54CitationFollow(T(s, d))),
    "q55_doi_dedup"       -> ((s, d) => Merge.q55DoiDedup(T(s, d))),
    "q56_ilike_classify"  -> ((s, d) => Scalars.q56IlikeClassify(T(s, d))),
    // q57's deterministic stub hash is replayed by the oracle in HUGEINT
    // arithmetic — oracle-checked since r11, golden retained.
    "q57_multimodal"      -> ((s, d) => Multimodal.q57MultimodalFeatures(T(s, d))),
    "q58_ann_ivf"         -> ((s, d) => Similarity.q58AnnIvf(T(s, d))),
    "q59_eval_full"       -> ((s, d) => Topics.q59EvalHarness(T(s, d))),
    "q60_snapshot_fuzzy"  -> ((s, d) => Views.q60SnapshotFuzzy(T(s, d))),
    "q61_auto_review"     -> ((s, d) => Topics.q61AutoReview(T(s, d))),
    "q62_doi_normalize"   -> ((s, d) => Merge.q62DoiNormalize(T(s, d))),
    "q63_status_rollup"   -> ((s, d) => Monitoring.q63StatusRollup(T(s, d))),
    "q64_gap_report"      -> ((s, d) => Monitoring.q64GapReport(T(s, d))),
    "q65_embedding_neardup" -> ((s, d) => Similarity.q65EmbeddingNearDup(T(s, d))),
    "q66_openalex_parse"  -> ((s, d) => sources.OpenAlex.q66OpenAlexParse(T(s, d))),
    "q67_clusters_at_scale" -> ((s, d) => Clustering.q67QuestionClustersAtScale(T(s, d))),
    "q68_govdata_parse"   -> ((s, d) => sources.GovData.q68GovdataParse(T(s, d))),
    "q69_eurobarometer_parse" ->
      ((s, d) => sources.Eurobarometer.q69EurobarometerParse(T(s, d))),
    "q70_ngram_jaccard"   -> ((s, d) => TextDedup.q70NgramJaccard(T(s, d))),
    "q71_frame_sample"    -> ((s, d) => Multimodal.q71FrameSample(T(s, d))),
    "q72_streaming_dedup" -> ((s, d) => streaming.Incremental.q72StreamingDedup(T(s, d))),
    "q73_repetition_signals" -> ((s, d) => TextAnalysis.q73RepetitionSignals(T(s, d))),
    "q74_pii_scrub"       -> ((s, d) => TextAnalysis.q74PiiScrub(T(s, d))),
    "q75_mixture_sample"  -> ((s, d) => Corpus.q75MixtureSample(T(s, d))),
    "q76_rarity_score"    -> ((s, d) => Corpus.q76RarityScore(T(s, d))),
    "q77_sequence_pack"   -> ((s, d) => Corpus.q77SequencePack(T(s, d))),
    "q78_source_cap"      -> ((s, d) => Corpus.q78SourceCap(T(s, d))),
    "q79_decontaminate"   -> ((s, d) => Corpus.q79Decontaminate(T(s, d))),
    "q80_quantize_int8"   -> ((s, d) => Similarity.q80QuantizeInt8(T(s, d))),
    "q81_dedup_survivors" -> ((s, d) => TextDedup.q81DedupSurvivors(s, T(s, d))),
    // NOTE: q82 is EAGER — building its DataFrame runs the compaction
    // write job (the declared query IS a write→readback round-trip), so
    // plan-only callers (schema dumps, construct-only timing) incur
    // a table rewrite ON EVERY construction. The staging-backed entries
    // (q21-q23/q32/q38/q53) also run jobs at construction, but only ONCE
    // per (session, sf dir) — the cold-cache staging materialization /
    // watermark read; warm constructions are plan-only. q82 is the only
    // per-invocation write.
    "q82_compaction"      -> ((s, d) => Monitoring.q82Compaction(T(s, d))),
    "q83_shard_assign"    -> ((s, d) => Corpus.q83ShardAssign(T(s, d))),
    "q84_span_dedup"      -> ((s, d) => TextDedup.q84SpanDedup(T(s, d))),
    "q85_bm25"            -> ((s, d) => Retrieval.q85Bm25(T(s, d))),
    "q86_sessionize"      -> ((s, d) => Sessions.q86Sessionize(T(s, d))),
    "q87_funnel"          -> ((s, d) => Sessions.q87Funnel(T(s, d))),
    "q88_session_window"  -> ((s, d) => Sessions.q88SessionWindow(T(s, d))),
    "q89_asof_join"       -> ((s, d) => Sessions.q89AsofJoin(T(s, d))),
    "q90_chunking"        -> ((s, d) => Corpus.q90Chunk(T(s, d))),
    "q91_temperature_mix" -> ((s, d) => Corpus.q91TemperatureMix(T(s, d))),
    // NOTE: q92 is EAGER like q82/q72 — construction runs the streaming
    // round-trip (stage input → watermarked session aggregate → append
    // sink → readback); the declared query IS that round-trip.
    "q92_streaming_sessions" -> ((s, d) => streaming.Incremental.q92StreamingSessions(T(s, d))),
    "q93_pdf_extract"     -> ((s, d) => Extras.q93PdfExtract(T(s, d))),
    "q94_media_decode"    -> ((s, d) => Multimodal.q94MediaDecode(T(s, d))),
    "q95_resize_decode"   -> ((s, d) => Multimodal.q95ResizeDecode(T(s, d))),
    // q96 is EAGER like q72/q92: construction runs the custom-state
    // streaming round-trip (flatMapGroupsWithState run detection).
    "q96_stateful_runs"   -> ((s, d) => streaming.StatefulRuns.q96StatefulRuns(T(s, d))),
    "q97_similarity_join" -> ((s, d) => Merge.q97SimilarityJoin(T(s, d))),
    // q98 is EAGER like q72/q92/q96 (streaming round-trip at construction)
    "q98_streaming_neardup" ->
      ((s, d) => streaming.StreamingNearDup.q98StreamingNearDup(T(s, d))),
    // q99 is EAGER like q72/q92/q96/q98 (streaming round-trip at
    // construction): stream-stream watermarked interval join.
    "q99_stream_join"     -> ((s, d) => streaming.StreamJoin.q99StreamJoin(T(s, d))),
    "q100_quality_clf"    -> ((s, d) => TextAnalysis.q100QualityClf(T(s, d))),
    // q101 is EAGER like q82: construction writes the two bucketed
    // catalog tables the declared join then reads shuffle-free.
    "q101_bucketed_join"  -> ((s, d) => ScaleTechniques.q101BucketedJoin(T(s, d))),
    // q102 is EAGER (streaming round-trip at construction, q92 family).
    "q102_streaming_window" ->
      ((s, d) => streaming.Incremental.q102StreamingWindow(T(s, d))),
    "q103_salted_join"    -> ((s, d) => ScaleTechniques.q103SaltedJoin(T(s, d))),
    "q104_pivot"          -> ((s, d) => Relational.q104Pivot(T(s, d))),
    "q105_rollup"         -> ((s, d) => Relational.q105Rollup(T(s, d))),
    // q106 is EAGER (streaming round-trip at construction, q99 family).
    "q106_stream_enrich"  -> ((s, d) => streaming.StreamJoin.q106StreamEnrich(T(s, d))),
    "q107_rank_family"    -> ((s, d) => Relational.q107RankFamily(T(s, d))),
    "q108_asof_native"    -> ((s, d) => Sessions.q108AsofNative(T(s, d))),
    "q109_incremental_dedup" -> ((s, d) => TextDedup.q109IncrementalDedup(T(s, d))),
    // q110 is EAGER (two checkpointed streaming upsert runs at
    // construction, q92 family).
    "q110_streaming_upsert" ->
      ((s, d) => streaming.Incremental.q110StreamingUpsert(T(s, d))),
    "q111_watch_prune"    -> ((s, d) => Monitoring.q111WatchPrune(T(s, d))),
    // q112/q113 render through the real driver-side markdown products
    // (bounded aggregate rows by construction — the reference's own
    // contract for digest/dossier formatting).
    "q112_digest_markdown" -> ((s, d) => Monitoring.q112DigestMarkdown(T(s, d))),
    "q113_gap_markdown"   -> ((s, d) => Monitoring.q113GapMarkdown(T(s, d))),
    // q114 is EAGER (CSV export + manifest write at construction, then
    // the readback is the declared frame — q82 family).
    "q114_export_manifest" -> ((s, d) => sources.Sources.q114ExportManifest(T(s, d))),
    "q115_csv_chunks"     -> ((s, d) => sources.Sources.q115CsvChunks(T(s, d))),
    "q116_leakage_split"  -> ((s, d) => Corpus.q116LeakageSplit(s, T(s, d))),
    "q117_semdedup"       -> ((s, d) => Similarity.q117SemDedup(T(s, d))),
    "q118_hybrid_rrf"     -> ((s, d) => Retrieval.q118HybridRrf(T(s, d))),
    "q119_dsir_resample"  -> ((s, d) => TextAnalysis.q119DsirResample(T(s, d))),
    "q120_bpe_pairs"      -> ((s, d) => Corpus.q120BpePairs(T(s, d))),
    "q121_gopher_rules"   -> ((s, d) => TextAnalysis.q121GopherRules(T(s, d))),
    "q122_semantic_decontam" -> ((s, d) => Similarity.q122SemanticDecontam(T(s, d))),
    "q123_range_join"     -> ((s, d) => Sessions.q123RangeJoin(T(s, d))),
    "q124_ts_range_join"  -> ((s, d) => Sessions.q124TsRangeJoin(T(s, d))),
    "q125_heavy_hitters"  -> ((s, d) => TextAnalysis.q125HeavyHitters(T(s, d))),
    "q126_topk_per_group" -> ((s, d) => TextAnalysis.q126TopkPerGroup(T(s, d))),
    "q127_video_decode"   -> ((s, d) => Multimodal.q127VideoDecode(T(s, d))),
    "q128_perplexity"     -> ((s, d) => TextAnalysis.q128Perplexity(T(s, d))),
    "q129_hll_distinct"   -> ((s, d) => TextAnalysis.q129HllDistinct(T(s, d))),
    "q130_cms_freq"       -> ((s, d) => TextAnalysis.q130CmsFreq(T(s, d))),
    "q131_bloom_decontam" -> ((s, d) => Corpus.q131BloomDecontam(T(s, d))),
    "q132_kmv_overlap"    -> ((s, d) => TextAnalysis.q132KmvOverlap(T(s, d))),
    "q133_corpus_pipeline" -> ((s, d) => Corpus.q133CorpusPipeline(T(s, d))),
    // q134 is EAGER like q72/q92/q102 (streaming round-trip at
    // construction): the HLL sketch as streaming aggregation state.
    "q134_streaming_hll"  -> ((s, d) => streaming.Incremental.q134StreamingHll(T(s, d))),
    "q135_hll_rollup"     -> ((s, d) => Monitoring.q135HllRollup(T(s, d))),
    "q136_corpus_profile" -> ((s, d) => TextAnalysis.q136CorpusProfile(T(s, d))),
    "q137_hist_quantiles" -> ((s, d) => ScaleTechniques.q137HistQuantiles(T(s, d))),
    "q138_zorder_layout"  -> ((s, d) => ScaleTechniques.q138ZorderLayout(T(s, d))),
    "q139_pagerank"       -> ((s, d) => operators.Graph.q139Pagerank(T(s, d))),
    // q140 is EAGER like q134 (streaming round-trip at construction):
    // the quantile histogram as streaming aggregation state.
    "q140_streaming_quantiles" -> ((s, d) =>
      streaming.Incremental.q140StreamingQuantiles(T(s, d))),
    "q141_bloom_skipping" -> ((s, d) => ScaleTechniques.q141BloomSkipping(T(s, d))),
    "q142_kmeans"         -> ((s, d) => Similarity.q142Kmeans(T(s, d))),
    "q143_ivf_learned"    -> ((s, d) => Similarity.q143IvfLearned(T(s, d))),
    "q144_dawum_denormalize" -> ((s, d) => sources.Dawum.q144DawumDenormalize(T(s, d))),
    "q145_gesis_fold"     -> ((s, d) => sources.Gesis.q145GesisFold(T(s, d))),
    "q146_soep_merge"     -> ((s, d) => sources.Soep.q146SoepMerge(T(s, d))),
    "q147_ivf_multiprobe" -> ((s, d) => Similarity.q147IvfMultiprobe(T(s, d))),
    "q148_personalized_pagerank" -> ((s, d) =>
      operators.Graph.q148PersonalizedPagerank(T(s, d))),
    "q149_weighted_pagerank" -> ((s, d) =>
      operators.Graph.q149WeightedPagerank(T(s, d))),
    "q150_ivf_incremental" -> ((s, d) => Similarity.q150IvfIncremental(T(s, d))),
    "q151_connected_components" -> ((s, d) =>
      operators.Graph.q151ConnectedComponents(T(s, d))),
    "q152_bpe_train"      -> ((s, d) => Corpus.q152BpeTrain(T(s, d))),
    // q153 is EAGER like q134/q140 (streaming round-trip at construction)
    "q153_streaming_topk" -> ((s, d) =>
      streaming.Incremental.q153StreamingTopk(T(s, d))),
    "q154_random_projection" -> ((s, d) =>
      Similarity.q154RandomProjection(T(s, d))),
    "q155_bpe_encode"     -> ((s, d) => Corpus.q155BpeEncode(T(s, d))),
    "q156_warmstart_pagerank" -> ((s, d) =>
      operators.Graph.q156WarmstartPagerank(T(s, d))),
    "q157_ivf_pq"         -> ((s, d) => Similarity.q157IvfPq(T(s, d))),
    "q158_jl_ivf"         -> ((s, d) => Similarity.q158JlIvf(T(s, d))),
    "q159_incremental_cc" -> ((s, d) =>
      operators.Graph.q159IncrementalCc(T(s, d))),
    "q160_residual_pq"    -> ((s, d) => Similarity.q160ResidualPq(T(s, d))),
    "q161_jl_ivf_pq"      -> ((s, d) => Similarity.q161JlIvfPq(T(s, d))),
    "q162_residual_multiprobe" -> ((s, d) =>
      Similarity.q162ResidualMultiprobe(T(s, d))),
    "q163_cohort_retention" -> ((s, d) =>
      Sessions.q163CohortRetention(T(s, d))),
    // q164–q166: the q157/q160/q162 pipelines on the planted-neighbor
    // corpus (Similarity.plantedEmbeddings) — recall audits that measure
    // the index instead of isotropic noise (r15 verdict item 1).
    "q164_planted_ivf_pq" -> ((s, d) => Similarity.q164PlantedIvfPq(T(s, d))),
    "q165_planted_residual_pq" -> ((s, d) =>
      Similarity.q165PlantedResidualPq(T(s, d))),
    "q166_planted_multiprobe" -> ((s, d) =>
      Similarity.q166PlantedResidualMultiprobe(T(s, d))),
    "q167_planted_jl_ivf" -> ((s, d) => Similarity.q167PlantedJlIvf(T(s, d))),
    "q168_planted_jl_ivf_pq" -> ((s, d) =>
      Similarity.q168PlantedJlIvfPq(T(s, d))),
    "q169_planted_rerank" -> ((s, d) => Similarity.q169PlantedRerank(T(s, d))),
    // q170: the q86 semantics through the skew-resistant bucketed plan
    // (SCALE.md skew section) — one oracle, two implementations.
    "q170_bucketed_sessions" -> ((s, d) =>
      Sessions.q170BucketedSessions(T(s, d))),
    // q171–q174: the vocabulary-realistic lexicon corpus (operators/
    // Lexicon.scala — the r16 planted-ANN move applied to the text
    // families): zipf word ranks over a 30k-word syllable-spelled
    // lexicon, derived in-query from the portable hash so the oracle
    // replays the identical corpus.
    "q171_lex_profile"    -> ((s, d) => Lexicon.q171LexProfile(T(s, d))),
    "q172_lex_bpe_train"  -> ((s, d) => Lexicon.q172LexBpeTrain(T(s, d))),
    "q173_lex_bm25"       -> ((s, d) => Lexicon.q173LexBm25(T(s, d))),
    "q174_lex_rarity"     -> ((s, d) => Lexicon.q174LexRarity(T(s, d))),
    "q175_lex_heaps"      -> ((s, d) => Lexicon.q175LexHeaps(T(s, d))),
    "q176_lex_langid"     -> ((s, d) => Lexicon.q176LexLangid(T(s, d))),
    "q177_lex_gopher"     -> ((s, d) => Lexicon.q177LexGopherAudit(T(s, d))),
    "q178_lex_pipeline"   -> ((s, d) => Lexicon.q178LexPipeline(T(s, d))),
    "q179_lex_drift"      -> ((s, d) => Lexicon.q179LexDrift(T(s, d))),
    "q180_lex_bpe_bylang" -> ((s, d) => Lexicon.q180LexBpeByLang(T(s, d))),
    "q181_lex_bpe_encode" -> ((s, d) => Lexicon.q181LexBpeEncodeByLang(T(s, d))),
    // q182/q183: the tokenizer-artifact lifecycle (r17 verdict item 1) —
    // train the per-language store on yesterday's corpus, encode today's
    // batch against it without retraining (OOV via merge application).
    "q182_lex_bpe_store"  -> ((s, d) => Lexicon.q182LexBpeStore(T(s, d))),
    "q183_lex_bpe_encode_store" ->
      ((s, d) => Lexicon.q183LexBpeEncodeStore(T(s, d))),
    // q184: multilingual token-budget mixture + per-language packing
    // (r17 verdict item 2); q185: the langid abstain path (item 3).
    "q184_lex_mix_pack"   -> ((s, d) => Lexicon.q184LexMixPack(T(s, d))),
    "q185_lex_langid_abstain" ->
      ((s, d) => Lexicon.q185LexLangidAbstain(T(s, d))),
    // q186: q184's recipe in MODEL-TOKEN currency — budgets and packing
    // denominated in BPE tokens from the q182 store (the production
    // form: a training budget is a model-token budget).
    "q186_lex_mix_pack_bpe" ->
      ((s, d) => Lexicon.q186LexMixPackBpe(T(s, d))),
    // q187: the multilingual END-TO-END recipe in model-token
    // currency — the q133/q178 gate battery (per-language stop rule)
    // followed by the token-budget mixture realized over the gate
    // SURVIVORS, every stage reading the q182 store's accounting.
    "q187_multilex_pipeline" ->
      ((s, d) => Lexicon.q187MultilexPipeline(T(s, d))),
    // q188: the store lifecycle's STREAMING leg — ingestion-time token
    // metering, the stored merges compiled into one stateless map-side
    // projection (no vocabulary state, no shuffle, no state store).
    "q188_lex_stream_token_meter" ->
      ((s, d) => Lexicon.q188StreamTokenMeter(T(s, d))),
  )

  /** q142's oracle: three Lloyd rounds UNROLLED as CTEs over the same
    * milli-unit quantization, hash seeds, sign-split truncating means
    * and empty-cluster fallback — assignments, inertia, fingerprints
    * and purity match bit-for-bit. */
  /** The three unrolled Lloyd rounds shared by the q142 and q143
    * oracles: dims / hash seeds / c0 / (assign, means, centroids) × 3,
    * plus the `assign` builder so q143 can add the final a4 list
    * assignment against c3. */
  private def lloydAssignCte(r: String, cent: String,
                             dims: String = "dims"): String =
    s"""s$r AS (
       |  SELECT dm.vec_id, c.cluster,
       |    CAST(sum((dm.q - c.c) * (dm.q - c.c)) AS BIGINT) AS dist
       |  FROM $dims dm JOIN $cent c ON c.d = dm.d GROUP BY 1, 2),
       |a$r AS (
       |  SELECT vec_id, cluster, dist FROM (SELECT vec_id, cluster, dist,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
       |      AS rn FROM s$r) WHERE rn = 1)""".stripMargin

  /** q86's oracle, shared verbatim with q170 (the bucketed skew
    * mitigation — same answer, different plan). */
  private val q86SessionizeOracleSql: String =
    """WITH f AS (
      |  SELECT user_id, event_id, ts, event_type, value, epoch_us(ts) AS us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > CAST(28800 AS BIGINT) * 1000000
      |         THEN 1 ELSE 0 END AS ns
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM f)
      |SELECT user_id, session_seq,
      |  count(*) AS n_events,
      |  min(ts) AS session_start,
      |  (max(us) - min(us)) // 1000000 AS duration_s,
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
      |  round(sum(value), 2) AS total_value
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The default dims CTE: milli-unit quantization of the real
    * embedding column (the established FROM-embeddings form). The
    * planted ANN variants (q164–q166) swap in `plantedDimsCte`. */
  private val defaultDimsCte: String =
    """dims AS (
      |  SELECT vec_id, ix.i - 1 AS d,
      |    CAST(round(CAST(embedding[ix.i] AS DOUBLE) * 1000) AS BIGINT)
      |      AS q
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix)""".stripMargin

  /** The planted-neighbor corpus (Similarity.plantedEmbeddings) replayed
    * in DuckDB: cluster center md5('pc:c:d') % 2001 − 1000, per-subspace
    * group offset md5('ps:s:g:d') % 201 − 100 where s = d DIV 16 and
    * g = md5('pg:s:id') % 8, and per-vector micro-jitter
    * md5('pj:id:d') % 21 − 10 — the same portable-hash arithmetic, no
    * float roundtrip needed because the Spark side's embedding-column
    * roundtrip is exact for |m| ≤ 1110. MATERIALIZED: the md5-per-cell
    * derivation feeds many CTEs. */
  private val plantedDimsCte: String =
    """dims AS MATERIALIZED (
      |  SELECT vec_id, ix.d,
      |    ('0x' || substr(md5(concat('pc:', CAST(vec_id % 10 AS VARCHAR),
      |      ':', CAST(ix.d AS VARCHAR))), 1, 15))::BIGINT % 2001 - 1000
      |    + ('0x' || substr(md5(concat('ps:', CAST(ix.d // 16 AS VARCHAR),
      |      ':', CAST(('0x' || substr(md5(concat('pg:',
      |        CAST(ix.d // 16 AS VARCHAR), ':', CAST(vec_id AS VARCHAR))),
      |        1, 15))::BIGINT % 8 AS VARCHAR),
      |      ':', CAST(ix.d AS VARCHAR))), 1, 15))::BIGINT % 201 - 100
      |    + ('0x' || substr(md5(concat('pj:', CAST(vec_id AS VARCHAR),
      |      ':', CAST(ix.d AS VARCHAR))), 1, 15))::BIGINT % 21 - 10 AS q
      |  FROM embeddings, (SELECT unnest(range(0, 64)) AS d) ix)""".stripMargin

  /** Defaults reproduce the q142/q143/q147 text; q150 trains over a
    * filtered corpus by injecting a `bdims` subset CTE (`extraCtes`),
    * pointing the rounds at it (`dims`), and restricting the seed pool
    * (`seedWhere`); the planted variants swap the whole dims derivation
    * (`dimsCte`). */
  private def lloydCtes(dims: String = "dims", extraCtes: String = "",
                        seedWhere: String = "",
                        dimsCte: String = defaultDimsCte): String = {
    val steps = (1 to 3).map { r =>
      s"""${lloydAssignCte(r.toString, s"c${r - 1}", dims)},
         |m$r AS (
         |  SELECT a.cluster, dm.d,
         |    CASE WHEN sum(dm.q) >= 0
         |      THEN CAST(sum(dm.q) AS BIGINT) // count(*)
         |      ELSE -(CAST(-sum(dm.q) AS BIGINT) // count(*)) END AS c
         |  FROM $dims dm JOIN a$r a ON a.vec_id = dm.vec_id GROUP BY 1, 2),
         |c$r AS (
         |  SELECT p.cluster, p.d, COALESCE(m.c, p.c) AS c
         |  FROM c${r - 1} p LEFT JOIN m$r m ON m.cluster = p.cluster
         |    AND m.d = p.d)""".stripMargin
    }.mkString(",\n")
    s"""$dimsCte,$extraCtes
       |seeds AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) AS INT)
       |    AS cluster
       |  FROM (SELECT vec_id, ('0x' || substr(md5(concat('143:',
       |    CAST(vec_id AS VARCHAR))), 1, 15))::BIGINT AS h
       |    FROM embeddings$seedWhere)
       |  QUALIFY cluster <= 10),
       |c0 AS (SELECT s.cluster, d.d, d.q AS c
       |  FROM $dims d JOIN seeds s ON s.vec_id = d.vec_id),
       |$steps""".stripMargin
  }

  private def q142OracleSql: String = {
    s"""WITH ${lloydCtes()},
       |pc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(dist) AS BIGINT) AS inertia FROM a3 GROUP BY 1),
       |bl AS (SELECT a3.cluster, e.label, count(*) AS n
       |  FROM a3 JOIN embeddings e ON e.vec_id = a3.vec_id GROUP BY 1, 2),
       |tl AS (SELECT cluster, label AS top_label,
       |  CAST(n AS BIGINT) AS top_label_n
       |  FROM (SELECT bl.*, row_number() OVER (PARTITION BY cluster
       |    ORDER BY n DESC, label) AS rn FROM bl) WHERE rn = 1),
       |fp AS (SELECT cluster, CAST(sum((d + 1) * c) AS BIGINT) AS cent_fp
       |  FROM c3 GROUP BY 1)
       |SELECT pc.cluster, pc.n_vecs, pc.inertia, tl.top_label,
       |  tl.top_label_n, fp.cent_fp
       |FROM pc JOIN tl ON tl.cluster = pc.cluster
       |JOIN fp ON fp.cluster = pc.cluster
       |ORDER BY pc.cluster""".stripMargin
  }

  /** q143's oracle: the shared Lloyd CTEs, a final a4 list assignment
    * against c3, then the IVF probe+search replayed from dims — dot
    * products and norm² terms are sums of exact integers (order-
    * independent across engines), so the cosines match bit-for-bit. */
  private def q143OracleSql: String =
    s"""WITH ${lloydCtes()},
       |${lloydAssignCte("4", "c3")},
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
       |  FROM dims GROUP BY 1),
       |probes AS (SELECT vec_id AS query_id, cluster FROM a4
       |  WHERE vec_id < 10),
       |cand AS (
       |  SELECT p.query_id, a.cluster, a.vec_id
       |  FROM probes p JOIN a4 a ON a.cluster = p.cluster
       |    AND a.vec_id <> p.query_id),
       |dots AS (
       |  SELECT c.query_id, c.cluster, c.vec_id,
       |    CAST(sum(dq.q * dc.q) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN dims dq ON dq.vec_id = c.query_id
       |  JOIN dims dc ON dc.vec_id = c.vec_id AND dc.d = dq.d
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT d.query_id, d.cluster, d.vec_id,
       |    round(CAST(d.dot AS DOUBLE) /
       |      (sqrt(CAST(qa.qq AS DOUBLE)) * sqrt(CAST(qb.qq AS DOUBLE))),
       |      6) AS cosine
       |  FROM dots d JOIN qq qa ON qa.vec_id = d.vec_id
       |  JOIN qq qb ON qb.vec_id = d.query_id)
       |SELECT query_id, cluster, rank, vec_id, cosine FROM (
       |  SELECT query_id, cluster, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS INT) AS rank
       |  FROM scored) WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** q147's oracle: the Lloyd CTEs + a4 list assignment, per-query
    * two-nearest-centroid probes read from s4's full distance matrix,
    * list search and brute truth both from exact-integer dot products,
    * and the recall join. */
  private def q147OracleSql: String =
    s"""WITH ${lloydCtes()},
       |${lloydAssignCte("4", "c3")},
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
       |  FROM dims GROUP BY 1),
       |pr AS (
       |  SELECT query_id,
       |    max(CASE WHEN rn = 1 THEN cluster END) AS probe1,
       |    max(CASE WHEN rn = 2 THEN cluster END) AS probe2
       |  FROM (SELECT vec_id AS query_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cluster) AS rn
       |    FROM s4 WHERE vec_id < 10)
       |  WHERE rn <= 2 GROUP BY 1),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM pr p JOIN a4 a ON (a.cluster = p.probe1
       |    OR a.cluster = p.probe2) AND a.vec_id <> p.query_id),
       |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1),
       |dots_s AS (
       |  SELECT c.query_id, c.vec_id,
       |    CAST(sum(dq.q * dc.q) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN dims dq ON dq.vec_id = c.query_id
       |  JOIN dims dc ON dc.vec_id = c.vec_id AND dc.d = dq.d
       |  GROUP BY 1, 2),
       |searched AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(qa.qq AS DOUBLE))
       |          * sqrt(CAST(qb.qq AS DOUBLE))), 6) DESC, d.vec_id) AS rk
       |    FROM dots_s d JOIN qq qa ON qa.vec_id = d.vec_id
       |    JOIN qq qb ON qb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |allc AS (
       |  SELECT p.query_id, v.vec_id
       |  FROM pr p JOIN (SELECT DISTINCT vec_id FROM dims) v
       |    ON v.vec_id <> p.query_id),
       |dots_t AS (
       |  SELECT c.query_id, c.vec_id,
       |    CAST(sum(dq.q * dc.q) AS BIGINT) AS dot
       |  FROM allc c
       |  JOIN dims dq ON dq.vec_id = c.query_id
       |  JOIN dims dc ON dc.vec_id = c.vec_id AND dc.d = dq.d
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(qa.qq AS DOUBLE))
       |          * sqrt(CAST(qb.qq AS DOUBLE))), 6) DESC, d.vec_id) AS rk
       |    FROM dots_t d JOIN qq qa ON qa.vec_id = d.vec_id
       |    JOIN qq qb ON qb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |rec AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match,
       |    CAST(sum(s.vec_id) AS BIGINT) AS found_fp
       |  FROM searched s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |tf AS (SELECT query_id, CAST(sum(vec_id) AS BIGINT) AS truth_fp
       |  FROM truth GROUP BY 1)
       |SELECT pr.query_id, pr.probe1, pr.probe2,
       |  COALESCE(nc.n_candidates, 0) AS n_candidates,
       |  COALESCE(rec.n_match, 0) AS n_match, rec.found_fp, tf.truth_fp
       |FROM pr LEFT JOIN nc ON nc.query_id = pr.query_id
       |LEFT JOIN rec ON rec.query_id = pr.query_id
       |JOIN tf ON tf.query_id = pr.query_id
       |ORDER BY pr.query_id""".stripMargin

  /** q157's oracle: the shared coarse Lloyd CTEs + a4 list assignment,
    * then per subspace the SAME Lloyd recipe unrolled over the 16-d
    * dim slice (hash seeds 15700+s, two rounds, sign-split truncating
    * means, empty-cluster coalesce), the per-vector code argmin, the
    * per-query 4×8 ADC distance table, the nprobe=1 list search ranked
    * by summed table lookups, and the exact squared-L2 brute truth —
    * every quantity an exact integer, so there is no FP anywhere in
    * this query on either engine. */
  private def q157OracleSql: String = ivfPqOracleSql(residual = false)

  /** q160's oracle: identical to q157's except the subspace Lloyds,
    * the code argmin and the query ADC tables all read the RESIDUAL
    * dims (q − final coarse centroid of the assigned list, exact
    * integers) and the codebook seeds use tags 16000+s. */
  private def q160OracleSql: String = ivfPqOracleSql(residual = true)

  /** q164/q165's oracles: q157/q160's text verbatim with the dims CTE
    * swapped for the planted-neighbor derivation (plantedDimsCte) —
    * training, encode, serving and the exact truth all replay over the
    * planted integers, so the recall columns stay hash-checked while
    * finally measuring the index instead of chance. */
  private def ivfPqOracleSql(residual: Boolean,
                             planted: Boolean = false): String = {
    val m = 4; val sub = 16; val ksub = 8; val rounds = 2
    val tagBase = if (residual) 16000 else 15700
    val src = if (residual) "rdims" else "dims"
    val residualCte = if (!residual) "" else
      s"""rdims AS MATERIALIZED (
         |  SELECT d.vec_id, d.d, d.q - c.c AS q
         |  FROM dims d JOIN a4 a ON a.vec_id = d.vec_id
         |  JOIN c3 c ON c.cluster = a.cluster AND c.d = d.d),
         |""".stripMargin
    val subspaces = (0 until m).map { s =>
      val lo = s * sub; val hi = lo + sub
      val roundCtes = (1 to rounds).map { r =>
        s"""ps$s$r AS (
           |  SELECT dm.vec_id, c.cluster,
           |    CAST(sum((dm.q - c.c) * (dm.q - c.c)) AS BIGINT) AS dist
           |  FROM sd$s dm JOIN pc$s${r - 1} c ON c.d = dm.d GROUP BY 1, 2),
           |pa$s$r AS (
           |  SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
           |      AS rn FROM ps$s$r) WHERE rn = 1),
           |pm$s$r AS (
           |  SELECT a.cluster, dm.d,
           |    CASE WHEN sum(dm.q) >= 0
           |      THEN CAST(sum(dm.q) AS BIGINT) // count(*)
           |      ELSE -(CAST(-sum(dm.q) AS BIGINT) // count(*)) END AS c
           |  FROM sd$s dm JOIN pa$s$r a ON a.vec_id = dm.vec_id GROUP BY 1, 2),
           |pc$s$r AS MATERIALIZED (
           |  SELECT p.cluster, p.d, COALESCE(mm.c, p.c) AS c
           |  FROM pc$s${r - 1} p LEFT JOIN pm$s$r mm ON mm.cluster = p.cluster
           |    AND mm.d = p.d)""".stripMargin
      }.mkString(",\n")
      s"""sd$s AS MATERIALIZED (
         |  SELECT vec_id, d - $lo AS d, q FROM $src
         |  WHERE d >= $lo AND d < $hi),
         |pseeds$s AS (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) AS INT)
         |    AS cluster
         |  FROM (SELECT vec_id, ('0x' || substr(md5(concat('${tagBase + s}:',
         |    CAST(vec_id AS VARCHAR))), 1, 15))::BIGINT AS h FROM embeddings)
         |  QUALIFY cluster <= $ksub),
         |pc${s}0 AS (SELECT se.cluster, d.d, d.q AS c
         |  FROM sd$s d JOIN pseeds$s se ON se.vec_id = d.vec_id),
         |$roundCtes,
         |pe$s AS MATERIALIZED (
         |  SELECT vec_id, cluster AS code FROM (
         |    SELECT dm.vec_id, c.cluster,
         |      row_number() OVER (PARTITION BY dm.vec_id ORDER BY
         |        CAST(sum((dm.q - c.c) * (dm.q - c.c)) AS BIGINT), c.cluster)
         |        AS rn
         |    FROM sd$s dm JOIN pc$s$rounds c ON c.d = dm.d
         |    GROUP BY dm.vec_id, c.cluster) WHERE rn = 1),
         |dtab$s AS (
         |  SELECT q.vec_id AS query_id, c.cluster AS code,
         |    CAST(sum((q.q - c.c) * (q.q - c.c)) AS BIGINT) AS dt
         |  FROM sd$s q JOIN pc$s$rounds c ON c.d = q.d
         |  WHERE q.vec_id < 10 GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lloydCtes(dimsCte =
          if (planted) plantedDimsCte else defaultDimsCte)},
       |${lloydAssignCte("4", "c3")},
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
       |  FROM dims GROUP BY 1),
       |$residualCte$subspaces,
       |probes AS (SELECT vec_id AS query_id, cluster FROM a4
       |  WHERE vec_id < 10),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probes p
       |  JOIN a4 a ON a.cluster = p.cluster AND a.vec_id <> p.query_id),
       |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1),
       |adc AS (
       |  SELECT c.query_id, c.vec_id,
       |    d0.dt + d1.dt + d2.dt + d3.dt AS adc
       |  FROM cand c
       |  JOIN pe0 e0 ON e0.vec_id = c.vec_id
       |  JOIN dtab0 d0 ON d0.query_id = c.query_id AND d0.code = e0.code
       |  JOIN pe1 e1 ON e1.vec_id = c.vec_id
       |  JOIN dtab1 d1 ON d1.query_id = c.query_id AND d1.code = e1.code
       |  JOIN pe2 e2 ON e2.vec_id = c.vec_id
       |  JOIN dtab2 d2 ON d2.query_id = c.query_id AND d2.code = e2.code
       |  JOIN pe3 e3 ON e3.vec_id = c.vec_id
       |  JOIN dtab3 d3 ON d3.query_id = c.query_id AND d3.code = e3.code),
       |searched AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id)
       |        AS rk FROM adc) WHERE rk <= 5),
       |td AS (
       |  SELECT dq.vec_id AS query_id, dc.vec_id,
       |    CAST(sum(dq.q * dc.q) AS BIGINT) AS dot
       |  FROM dims dq JOIN dims dc ON dc.d = dq.d AND dc.vec_id <> dq.vec_id
       |  WHERE dq.vec_id < 10 GROUP BY 1, 2),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT t.query_id, t.vec_id,
       |      row_number() OVER (PARTITION BY t.query_id ORDER BY
       |        qa.qq + qb.qq - 2 * t.dot, t.vec_id) AS rk
       |    FROM td t JOIN qq qa ON qa.vec_id = t.vec_id
       |    JOIN qq qb ON qb.vec_id = t.query_id) WHERE rk <= 5),
       |rec AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match,
       |    CAST(sum(s.vec_id) AS BIGINT) AS adc_fp
       |  FROM searched s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |tf AS (SELECT query_id, CAST(sum(vec_id) AS BIGINT) AS truth_fp
       |  FROM truth GROUP BY 1)
       |SELECT p.query_id, p.cluster AS probe,
       |  COALESCE(nc.n_candidates, 0) AS n_candidates,
       |  COALESCE(rec.n_match, 0) AS n_match, rec.adc_fp, tf.truth_fp
       |FROM probes p LEFT JOIN nc ON nc.query_id = p.query_id
       |LEFT JOIN rec ON rec.query_id = p.query_id
       |JOIN tf ON tf.query_id = p.query_id
       |ORDER BY p.query_id""".stripMargin
  }

  /** q155's oracle: q152's eight training rounds re-derived over a
    * vocabulary chain that CARRIES the word column (same pair counts,
    * same argmaxes — the extra column is inert), then per-word token
    * counts off the final sequences and the per-source aggregate over
    * the exploded corpus. */
  private def q155OracleSql: String = {
    val rounds = 8
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT p.lhs, p.rhs, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, unnest(list_transform(range(1, len(syms)),
         |      i -> struct_pack(lhs := syms[i], rhs := syms[i + 1]))) AS p
         |    FROM (SELECT wc,
         |        string_split(seq[2:-2], '||') AS syms FROM v${r - 1}))
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT lhs, rhs FROM p$r
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT word, wc, replace(seq,
         |    '|' || m.lhs || '||' || m.rhs || '|',
         |    '|' || m.lhs || m.rhs || '|') AS seq
         |  FROM v${r - 1}, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wc,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> word[i]), '||') || '||</w>|' AS seq
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
       |      AS word FROM documents) WHERE word <> ''
       |    AND NOT contains(word, '|') AND NOT contains(word, chr(92))
       |  GROUP BY word),
       |$steps,
       |vt AS (SELECT word, length(seq) -
       |    length(replace(seq, '||', '|')) + 1 AS n_tokens FROM v$rounds),
       |dw AS (
       |  SELECT doc_id, source, w AS word FROM (
       |    SELECT doc_id, source,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents) WHERE w <> '')
       |SELECT dw.source,
       |  CAST(count(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(vt.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST((CAST(sum(vt.n_tokens) AS BIGINT) * 1000)
       |    // CAST(count(*) AS BIGINT) AS BIGINT) AS tokens_per_word_pm
       |FROM dw JOIN vt USING (word)
       |GROUP BY 1 ORDER BY dw.source""".stripMargin
  }

  /** q154's oracle: the identical ±1 sign matrix from the portable md5
    * hash, projection as an exact-integer dims⋈signs aggregate,
    * projected and full-dimension brute top-5 from exact dots (the q147
    * device), and the recall join. */
  private def q154OracleSql: String =
    s"""WITH dims AS (
       |  SELECT vec_id, ix.i - 1 AS d,
       |    CAST(round(CAST(embedding[ix.i] AS DOUBLE) * 1000) AS BIGINT)
       |      AS q
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ix),
       |sgn AS (
       |  SELECT dd.d, jj.j,
       |    CASE WHEN ('0x' || substr(md5(concat('154:',
       |        CAST(dd.d AS VARCHAR), ':', CAST(jj.j AS VARCHAR))), 1, 15))
       |        ::BIGINT % 2 = 0
       |      THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(range(0, 64)) AS d) dd,
       |       (SELECT unnest(range(0, 16)) AS j) jj),
       |proj AS MATERIALIZED (
       |  SELECT dm.vec_id, g.j, CAST(sum(dm.q * g.s) AS BIGINT) AS p
       |  FROM dims dm JOIN sgn g ON g.d = dm.d GROUP BY 1, 2),
       |pq AS (SELECT vec_id, CAST(sum(p * p) AS BIGINT) AS pq
       |  FROM proj GROUP BY 1),
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
       |  FROM dims GROUP BY 1),
       |pdots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id,
       |    CAST(sum(a.p * b.p) AS BIGINT) AS dot
       |  FROM proj a JOIN proj b ON b.j = a.j AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10 GROUP BY 1, 2),
       |searched AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(pa.pq AS DOUBLE))
       |          * sqrt(CAST(pb.pq AS DOUBLE))), 6) DESC, d.vec_id) AS rk
       |    FROM pdots d JOIN pq pa ON pa.vec_id = d.vec_id
       |    JOIN pq pb ON pb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |fdots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id,
       |    CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM dims a JOIN dims b ON b.d = a.d AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10 GROUP BY 1, 2),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(qa.qq AS DOUBLE))
       |          * sqrt(CAST(qb.qq AS DOUBLE))), 6) DESC, d.vec_id) AS rk
       |    FROM fdots d JOIN qq qa ON qa.vec_id = d.vec_id
       |    JOIN qq qb ON qb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |rec AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match,
       |    CAST(sum(s.vec_id) AS BIGINT) AS proj_fp
       |  FROM searched s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |tf AS (SELECT query_id, CAST(sum(vec_id) AS BIGINT) AS truth_fp
       |  FROM truth GROUP BY 1)
       |SELECT rec.query_id, rec.n_match, rec.proj_fp, tf.truth_fp
       |FROM rec JOIN tf ON tf.query_id = rec.query_id
       |ORDER BY rec.query_id""".stripMargin

  /** q158's oracle: q154's projection CTEs (identical sign matrix),
    * three unrolled Lloyd rounds over the PROJECTED 16-d frame (seed
    * tag 158), the final list assignment + per-query two-probe
    * selection, the composed list search and the JL-brute single-lever
    * leg both ranked by projected cosine, and the full-dimension truth
    * — the established integer-dot / rounded-cosine ladder. */
  private def q158OracleSql(planted: Boolean = false): String = {
    val steps = (1 to 3).map { r =>
      s"""ls$r AS (
         |  SELECT pm.vec_id, c.cluster,
         |    CAST(sum((pm.p - c.c) * (pm.p - c.c)) AS BIGINT) AS dist
         |  FROM proj pm JOIN lc${r - 1} c ON c.j = pm.j GROUP BY 1, 2),
         |la$r AS (
         |  SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
         |      AS rn FROM ls$r) WHERE rn = 1),
         |lm$r AS (
         |  SELECT a.cluster, pm.j,
         |    CASE WHEN sum(pm.p) >= 0
         |      THEN CAST(sum(pm.p) AS BIGINT) // count(*)
         |      ELSE -(CAST(-sum(pm.p) AS BIGINT) // count(*)) END AS c
         |  FROM proj pm JOIN la$r a ON a.vec_id = pm.vec_id GROUP BY 1, 2),
         |lc$r AS MATERIALIZED (
         |  SELECT p.cluster, p.j, COALESCE(m.c, p.c) AS c
         |  FROM lc${r - 1} p LEFT JOIN lm$r m ON m.cluster = p.cluster
         |    AND m.j = p.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${if (planted) plantedDimsCte else defaultDimsCte},
       |sgn AS (
       |  SELECT dd.d, jj.j,
       |    CASE WHEN ('0x' || substr(md5(concat('154:',
       |        CAST(dd.d AS VARCHAR), ':', CAST(jj.j AS VARCHAR))), 1, 15))
       |        ::BIGINT % 2 = 0
       |      THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(range(0, 64)) AS d) dd,
       |       (SELECT unnest(range(0, 16)) AS j) jj),
       |proj AS MATERIALIZED (
       |  SELECT dm.vec_id, g.j, CAST(sum(dm.q * g.s) AS BIGINT) AS p
       |  FROM dims dm JOIN sgn g ON g.d = dm.d GROUP BY 1, 2),
       |pq AS (SELECT vec_id, CAST(sum(p * p) AS BIGINT) AS pq
       |  FROM proj GROUP BY 1),
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
       |  FROM dims GROUP BY 1),
       |pseeds AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) AS INT)
       |    AS cluster
       |  FROM (SELECT vec_id, ('0x' || substr(md5(concat('158:',
       |    CAST(vec_id AS VARCHAR))), 1, 15))::BIGINT AS h FROM embeddings)
       |  QUALIFY cluster <= 10),
       |lc0 AS (SELECT s.cluster, p.j, p.p AS c
       |  FROM proj p JOIN pseeds s ON s.vec_id = p.vec_id),
       |$steps,
       |ls4 AS (
       |  SELECT pm.vec_id, c.cluster,
       |    CAST(sum((pm.p - c.c) * (pm.p - c.c)) AS BIGINT) AS dist
       |  FROM proj pm JOIN lc3 c ON c.j = pm.j GROUP BY 1, 2),
       |la4 AS (
       |  SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
       |      AS rn FROM ls4) WHERE rn = 1),
       |prq AS (
       |  SELECT query_id,
       |    max(CASE WHEN rn = 1 THEN cluster END) AS probe1,
       |    max(CASE WHEN rn = 2 THEN cluster END) AS probe2
       |  FROM (SELECT vec_id AS query_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cluster) AS rn
       |    FROM ls4 WHERE vec_id < 10)
       |  WHERE rn <= 2 GROUP BY 1),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM prq p JOIN la4 a ON (a.cluster = p.probe1
       |    OR a.cluster = p.probe2) AND a.vec_id <> p.query_id),
       |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1),
       |cdots AS (
       |  SELECT c.query_id, c.vec_id, CAST(sum(a.p * b.p) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN proj a ON a.vec_id = c.query_id
       |  JOIN proj b ON b.vec_id = c.vec_id AND b.j = a.j
       |  GROUP BY 1, 2),
       |searched AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(pa.pq AS DOUBLE))
       |          * sqrt(CAST(pb.pq AS DOUBLE))), 6) DESC, d.vec_id) AS rk
       |    FROM cdots d JOIN pq pa ON pa.vec_id = d.vec_id
       |    JOIN pq pb ON pb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |pdots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id,
       |    CAST(sum(a.p * b.p) AS BIGINT) AS dot
       |  FROM proj a JOIN proj b ON b.j = a.j AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10 GROUP BY 1, 2),
       |sjl AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(pa.pq AS DOUBLE))
       |          * sqrt(CAST(pb.pq AS DOUBLE))), 6) DESC, d.vec_id) AS rk
       |    FROM pdots d JOIN pq pa ON pa.vec_id = d.vec_id
       |    JOIN pq pb ON pb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |fdots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id,
       |    CAST(sum(a.q * b.q) AS BIGINT) AS dot
       |  FROM dims a JOIN dims b ON b.d = a.d AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10 GROUP BY 1, 2),
       |truth AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        round(CAST(d.dot AS DOUBLE) / (sqrt(CAST(qa.qq AS DOUBLE))
       |          * sqrt(CAST(qb.qq AS DOUBLE))), 6) DESC, d.vec_id) AS rk
       |    FROM fdots d JOIN qq qa ON qa.vec_id = d.vec_id
       |    JOIN qq qb ON qb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |rec AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match,
       |    CAST(sum(s.vec_id) AS BIGINT) AS found_fp
       |  FROM searched s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |recjl AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match_jl
       |  FROM sjl s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |tf AS (SELECT query_id, CAST(sum(vec_id) AS BIGINT) AS truth_fp
       |  FROM truth GROUP BY 1)
       |SELECT prq.query_id, prq.probe1, prq.probe2,
       |  COALESCE(nc.n_candidates, 0) AS n_candidates,
       |  COALESCE(rec.n_match, 0) AS n_match,
       |  recjl.n_match_jl, rec.found_fp, tf.truth_fp
       |FROM prq LEFT JOIN nc ON nc.query_id = prq.query_id
       |LEFT JOIN rec ON rec.query_id = prq.query_id
       |JOIN recjl ON recjl.query_id = prq.query_id
       |JOIN tf ON tf.query_id = prq.query_id
       |ORDER BY prq.query_id""".stripMargin
  }

  /** q162's oracle: q160's training CTEs verbatim (coarse Lloyd +
    * residual dims + four 16000+s subspace Lloyds + code argmin), then
    * the multi-probe serving: probe1/probe2 from the full coarse
    * distance matrix, PER-(query, list) residual ADC tables keyed
    * (query_id, list, code), the two-list candidate join picking each
    * candidate's matching table, and the exact-L2 truth. Integers end
    * to end. */
  /** rerank > 0 (q169): the ADC top-`rerank` shortlist re-scored by the
    * exact squared-L2 from dims, its top-5 audited beside the raw ADC
    * top-5 — the n_match_rerank / rerank_fp columns. */
  private def q162OracleSql(planted: Boolean = false,
                            rerank: Int = 0): String = {
    val m = 4; val sub = 16; val ksub = 8; val rounds = 2
    val rerankCtes = if (rerank <= 0) "" else
      s""",
         |sl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id)
         |        AS rk FROM adc) WHERE rk <= $rerank),
         |rrd AS (
         |  SELECT s.query_id, s.vec_id,
         |    CAST(sum(dq.q * dc.q) AS BIGINT) AS dot
         |  FROM sl s JOIN dims dq ON dq.vec_id = s.query_id
         |  JOIN dims dc ON dc.vec_id = s.vec_id AND dc.d = dq.d
         |  GROUP BY 1, 2),
         |rrtop AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT r.query_id, r.vec_id,
         |      row_number() OVER (PARTITION BY r.query_id ORDER BY
         |        qa.qq + qb.qq - 2 * r.dot, r.vec_id) AS rk
         |    FROM rrd r JOIN qq qa ON qa.vec_id = r.vec_id
         |    JOIN qq qb ON qb.vec_id = r.query_id) WHERE rk <= 5),
         |recr AS (
         |  SELECT s.query_id,
         |    CAST(count(t.vec_id) AS BIGINT) AS n_match_rerank,
         |    CAST(sum(s.vec_id) AS BIGINT) AS rerank_fp
         |  FROM rrtop s LEFT JOIN truth t
         |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
         |  GROUP BY 1)""".stripMargin
    val rerankCols = if (rerank <= 0) "" else
      """
        |  COALESCE(recr.n_match_rerank, 0) AS n_match_rerank,
        |  recr.rerank_fp,""".stripMargin
    val rerankJoin = if (rerank <= 0) "" else
      """
        |LEFT JOIN recr ON recr.query_id = pr.query_id""".stripMargin
    val subspaces = (0 until m).map { s =>
      val lo = s * sub; val hi = lo + sub
      val roundCtes = (1 to rounds).map { r =>
        s"""ps$s$r AS (
           |  SELECT dm.vec_id, c.cluster,
           |    CAST(sum((dm.q - c.c) * (dm.q - c.c)) AS BIGINT) AS dist
           |  FROM sd$s dm JOIN pc$s${r - 1} c ON c.d = dm.d GROUP BY 1, 2),
           |pa$s$r AS (
           |  SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
           |      AS rn FROM ps$s$r) WHERE rn = 1),
           |pm$s$r AS (
           |  SELECT a.cluster, dm.d,
           |    CASE WHEN sum(dm.q) >= 0
           |      THEN CAST(sum(dm.q) AS BIGINT) // count(*)
           |      ELSE -(CAST(-sum(dm.q) AS BIGINT) // count(*)) END AS c
           |  FROM sd$s dm JOIN pa$s$r a ON a.vec_id = dm.vec_id GROUP BY 1, 2),
           |pc$s$r AS MATERIALIZED (
           |  SELECT p.cluster, p.d, COALESCE(mm.c, p.c) AS c
           |  FROM pc$s${r - 1} p LEFT JOIN pm$s$r mm ON mm.cluster = p.cluster
           |    AND mm.d = p.d)""".stripMargin
      }.mkString(",\n")
      s"""sd$s AS MATERIALIZED (
         |  SELECT vec_id, d - $lo AS d, q FROM rdims
         |  WHERE d >= $lo AND d < $hi),
         |pseeds$s AS (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) AS INT)
         |    AS cluster
         |  FROM (SELECT vec_id, ('0x' || substr(md5(concat('${16000 + s}:',
         |    CAST(vec_id AS VARCHAR))), 1, 15))::BIGINT AS h FROM embeddings)
         |  QUALIFY cluster <= $ksub),
         |pc${s}0 AS (SELECT se.cluster, d.d, d.q AS c
         |  FROM sd$s d JOIN pseeds$s se ON se.vec_id = d.vec_id),
         |$roundCtes,
         |pe$s AS MATERIALIZED (
         |  SELECT vec_id, cluster AS code FROM (
         |    SELECT dm.vec_id, c.cluster,
         |      row_number() OVER (PARTITION BY dm.vec_id ORDER BY
         |        CAST(sum((dm.q - c.c) * (dm.q - c.c)) AS BIGINT), c.cluster)
         |        AS rn
         |    FROM sd$s dm JOIN pc$s$rounds c ON c.d = dm.d
         |    GROUP BY dm.vec_id, c.cluster) WHERE rn = 1),
         |dtab$s AS (
         |  SELECT r.query_id, r.list, cb.cluster AS code,
         |    CAST(sum((r.q - cb.c) * (r.q - cb.c)) AS BIGINT) AS dt
         |  FROM (SELECT query_id, list, d - $lo AS d, q FROM qrdims
         |        WHERE d >= $lo AND d < $hi) r
         |  JOIN pc$s$rounds cb ON cb.d = r.d
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${lloydCtes(dimsCte =
          if (planted) plantedDimsCte else defaultDimsCte)},
       |${lloydAssignCte("4", "c3")},
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
       |  FROM dims GROUP BY 1),
       |rdims AS MATERIALIZED (
       |  SELECT d.vec_id, d.d, d.q - c.c AS q
       |  FROM dims d JOIN a4 a ON a.vec_id = d.vec_id
       |  JOIN c3 c ON c.cluster = a.cluster AND c.d = d.d),
       |pr AS (
       |  SELECT query_id,
       |    max(CASE WHEN rn = 1 THEN cluster END) AS probe1,
       |    max(CASE WHEN rn = 2 THEN cluster END) AS probe2
       |  FROM (SELECT vec_id AS query_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cluster) AS rn
       |    FROM s4 WHERE vec_id < 10)
       |  WHERE rn <= 2 GROUP BY 1),
       |pl AS (SELECT query_id, probe1 AS list FROM pr
       |  UNION ALL SELECT query_id, probe2 FROM pr),
       |qrdims AS MATERIALIZED (
       |  SELECT dq.vec_id AS query_id, pl.list, dq.d, dq.q - c.c AS q
       |  FROM dims dq JOIN pl ON pl.query_id = dq.vec_id
       |  JOIN c3 c ON c.cluster = pl.list AND c.d = dq.d),
       |$subspaces,
       |cand AS (
       |  SELECT pl.query_id, pl.list, a.vec_id
       |  FROM pl JOIN a4 a ON a.cluster = pl.list
       |    AND a.vec_id <> pl.query_id),
       |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1),
       |adc AS (
       |  SELECT c.query_id, c.vec_id,
       |    d0.dt + d1.dt + d2.dt + d3.dt AS adc
       |  FROM cand c
       |  JOIN pe0 e0 ON e0.vec_id = c.vec_id
       |  JOIN dtab0 d0 ON d0.query_id = c.query_id AND d0.list = c.list
       |    AND d0.code = e0.code
       |  JOIN pe1 e1 ON e1.vec_id = c.vec_id
       |  JOIN dtab1 d1 ON d1.query_id = c.query_id AND d1.list = c.list
       |    AND d1.code = e1.code
       |  JOIN pe2 e2 ON e2.vec_id = c.vec_id
       |  JOIN dtab2 d2 ON d2.query_id = c.query_id AND d2.list = c.list
       |    AND d2.code = e2.code
       |  JOIN pe3 e3 ON e3.vec_id = c.vec_id
       |  JOIN dtab3 d3 ON d3.query_id = c.query_id AND d3.list = c.list
       |    AND d3.code = e3.code),
       |searched AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id)
       |        AS rk FROM adc) WHERE rk <= 5),
       |td AS (
       |  SELECT dq.vec_id AS query_id, dc.vec_id,
       |    CAST(sum(dq.q * dc.q) AS BIGINT) AS dot
       |  FROM dims dq JOIN dims dc ON dc.d = dq.d AND dc.vec_id <> dq.vec_id
       |  WHERE dq.vec_id < 10 GROUP BY 1, 2),
       |truth AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT t.query_id, t.vec_id,
       |      row_number() OVER (PARTITION BY t.query_id ORDER BY
       |        qa.qq + qb.qq - 2 * t.dot, t.vec_id) AS rk
       |    FROM td t JOIN qq qa ON qa.vec_id = t.vec_id
       |    JOIN qq qb ON qb.vec_id = t.query_id) WHERE rk <= 5),
       |rec AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match,
       |    CAST(sum(s.vec_id) AS BIGINT) AS adc_fp
       |  FROM searched s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |tf AS (SELECT query_id, CAST(sum(vec_id) AS BIGINT) AS truth_fp
       |  FROM truth GROUP BY 1)$rerankCtes
       |SELECT pr.query_id, pr.probe1, pr.probe2,
       |  COALESCE(nc.n_candidates, 0) AS n_candidates,
       |  COALESCE(rec.n_match, 0) AS n_match,$rerankCols rec.adc_fp,
       |  tf.truth_fp
       |FROM pr LEFT JOIN nc ON nc.query_id = pr.query_id
       |LEFT JOIN rec ON rec.query_id = pr.query_id
       |JOIN tf ON tf.query_id = pr.query_id$rerankJoin
       |ORDER BY pr.query_id""".stripMargin
  }

  /** q161's oracle: q158's projection + projected-space Lloyd CTEs
    * (identical model, seed tag 158), then four unrolled 4-d subspace
    * Lloyds over the projected dims (seeds 16100+s), the code argmin,
    * per-query ADC tables, the two-probe list search ranked by summed
    * lookups AND by exact projected L2 (the dual audit), and the
    * full-dimension exact-L2 truth — integers end to end, no FP
    * anywhere in this query on either engine. */
  private def q161OracleSql(planted: Boolean = false): String = {
    val m = 4; val sub = 4; val ksub = 8; val rounds = 2
    val lloydSteps = (1 to 3).map { r =>
      s"""ls$r AS (
         |  SELECT pm.vec_id, c.cluster,
         |    CAST(sum((pm.p - c.c) * (pm.p - c.c)) AS BIGINT) AS dist
         |  FROM proj pm JOIN lc${r - 1} c ON c.j = pm.j GROUP BY 1, 2),
         |la$r AS (
         |  SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
         |      AS rn FROM ls$r) WHERE rn = 1),
         |lm$r AS (
         |  SELECT a.cluster, pm.j,
         |    CASE WHEN sum(pm.p) >= 0
         |      THEN CAST(sum(pm.p) AS BIGINT) // count(*)
         |      ELSE -(CAST(-sum(pm.p) AS BIGINT) // count(*)) END AS c
         |  FROM proj pm JOIN la$r a ON a.vec_id = pm.vec_id GROUP BY 1, 2),
         |lc$r AS MATERIALIZED (
         |  SELECT p.cluster, p.j, COALESCE(mm.c, p.c) AS c
         |  FROM lc${r - 1} p LEFT JOIN lm$r mm ON mm.cluster = p.cluster
         |    AND mm.j = p.j)""".stripMargin
    }.mkString(",\n")
    val subspaces = (0 until m).map { s =>
      val lo = s * sub; val hi = lo + sub
      val roundCtes = (1 to rounds).map { r =>
        s"""qs$s$r AS (
           |  SELECT dm.vec_id, c.cluster,
           |    CAST(sum((dm.q - c.c) * (dm.q - c.c)) AS BIGINT) AS dist
           |  FROM psd$s dm JOIN qc$s${r - 1} c ON c.d = dm.d GROUP BY 1, 2),
           |qa$s$r AS (
           |  SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
           |      AS rn FROM qs$s$r) WHERE rn = 1),
           |qm$s$r AS (
           |  SELECT a.cluster, dm.d,
           |    CASE WHEN sum(dm.q) >= 0
           |      THEN CAST(sum(dm.q) AS BIGINT) // count(*)
           |      ELSE -(CAST(-sum(dm.q) AS BIGINT) // count(*)) END AS c
           |  FROM psd$s dm JOIN qa$s$r a ON a.vec_id = dm.vec_id GROUP BY 1, 2),
           |qc$s$r AS MATERIALIZED (
           |  SELECT p.cluster, p.d, COALESCE(mm.c, p.c) AS c
           |  FROM qc$s${r - 1} p LEFT JOIN qm$s$r mm ON mm.cluster = p.cluster
           |    AND mm.d = p.d)""".stripMargin
      }.mkString(",\n")
      s"""psd$s AS MATERIALIZED (
         |  SELECT vec_id, j - $lo AS d, p AS q FROM proj
         |  WHERE j >= $lo AND j < $hi),
         |qseeds$s AS (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) AS INT)
         |    AS cluster
         |  FROM (SELECT vec_id, ('0x' || substr(md5(concat('${16100 + s}:',
         |    CAST(vec_id AS VARCHAR))), 1, 15))::BIGINT AS h FROM embeddings)
         |  QUALIFY cluster <= $ksub),
         |qc${s}0 AS (SELECT se.cluster, d.d, d.q AS c
         |  FROM psd$s d JOIN qseeds$s se ON se.vec_id = d.vec_id),
         |$roundCtes,
         |qe$s AS MATERIALIZED (
         |  SELECT vec_id, cluster AS code FROM (
         |    SELECT dm.vec_id, c.cluster,
         |      row_number() OVER (PARTITION BY dm.vec_id ORDER BY
         |        CAST(sum((dm.q - c.c) * (dm.q - c.c)) AS BIGINT), c.cluster)
         |        AS rn
         |    FROM psd$s dm JOIN qc$s$rounds c ON c.d = dm.d
         |    GROUP BY dm.vec_id, c.cluster) WHERE rn = 1),
         |qdtab$s AS (
         |  SELECT q.vec_id AS query_id, c.cluster AS code,
         |    CAST(sum((q.q - c.c) * (q.q - c.c)) AS BIGINT) AS dt
         |  FROM psd$s q JOIN qc$s$rounds c ON c.d = q.d
         |  WHERE q.vec_id < 10 GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${if (planted) plantedDimsCte else defaultDimsCte},
       |sgn AS (
       |  SELECT dd.d, jj.j,
       |    CASE WHEN ('0x' || substr(md5(concat('154:',
       |        CAST(dd.d AS VARCHAR), ':', CAST(jj.j AS VARCHAR))), 1, 15))
       |        ::BIGINT % 2 = 0
       |      THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(range(0, 64)) AS d) dd,
       |       (SELECT unnest(range(0, 16)) AS j) jj),
       |proj AS MATERIALIZED (
       |  SELECT dm.vec_id, g.j, CAST(sum(dm.q * g.s) AS BIGINT) AS p
       |  FROM dims dm JOIN sgn g ON g.d = dm.d GROUP BY 1, 2),
       |pq AS (SELECT vec_id, CAST(sum(p * p) AS BIGINT) AS pq
       |  FROM proj GROUP BY 1),
       |qq AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
       |  FROM dims GROUP BY 1),
       |pseeds AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY h, vec_id) AS INT)
       |    AS cluster
       |  FROM (SELECT vec_id, ('0x' || substr(md5(concat('158:',
       |    CAST(vec_id AS VARCHAR))), 1, 15))::BIGINT AS h FROM embeddings)
       |  QUALIFY cluster <= 10),
       |lc0 AS (SELECT s.cluster, p.j, p.p AS c
       |  FROM proj p JOIN pseeds s ON s.vec_id = p.vec_id),
       |$lloydSteps,
       |ls4 AS (
       |  SELECT pm.vec_id, c.cluster,
       |    CAST(sum((pm.p - c.c) * (pm.p - c.c)) AS BIGINT) AS dist
       |  FROM proj pm JOIN lc3 c ON c.j = pm.j GROUP BY 1, 2),
       |la4 AS MATERIALIZED (
       |  SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
       |      AS rn FROM ls4) WHERE rn = 1),
       |prq AS (
       |  SELECT query_id,
       |    max(CASE WHEN rn = 1 THEN cluster END) AS probe1,
       |    max(CASE WHEN rn = 2 THEN cluster END) AS probe2
       |  FROM (SELECT vec_id AS query_id, cluster,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cluster) AS rn
       |    FROM ls4 WHERE vec_id < 10)
       |  WHERE rn <= 2 GROUP BY 1),
       |$subspaces,
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id
       |  FROM prq p JOIN la4 a ON (a.cluster = p.probe1
       |    OR a.cluster = p.probe2) AND a.vec_id <> p.query_id),
       |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand GROUP BY 1),
       |adc AS (
       |  SELECT c.query_id, c.vec_id,
       |    d0.dt + d1.dt + d2.dt + d3.dt AS adc
       |  FROM cand c
       |  JOIN qe0 e0 ON e0.vec_id = c.vec_id
       |  JOIN qdtab0 d0 ON d0.query_id = c.query_id AND d0.code = e0.code
       |  JOIN qe1 e1 ON e1.vec_id = c.vec_id
       |  JOIN qdtab1 d1 ON d1.query_id = c.query_id AND d1.code = e1.code
       |  JOIN qe2 e2 ON e2.vec_id = c.vec_id
       |  JOIN qdtab2 d2 ON d2.query_id = c.query_id AND d2.code = e2.code
       |  JOIN qe3 e3 ON e3.vec_id = c.vec_id
       |  JOIN qdtab3 d3 ON d3.query_id = c.query_id AND d3.code = e3.code),
       |searched AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id)
       |        AS rk FROM adc) WHERE rk <= 5),
       |cdots AS (
       |  SELECT c.query_id, c.vec_id, CAST(sum(a.p * b.p) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN proj a ON a.vec_id = c.query_id
       |  JOIN proj b ON b.vec_id = c.vec_id AND b.j = a.j
       |  GROUP BY 1, 2),
       |exlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT d.query_id, d.vec_id,
       |      row_number() OVER (PARTITION BY d.query_id ORDER BY
       |        pa.pq + pb.pq - 2 * d.dot, d.vec_id) AS rk
       |    FROM cdots d JOIN pq pa ON pa.vec_id = d.vec_id
       |    JOIN pq pb ON pb.vec_id = d.query_id)
       |  WHERE rk <= 5),
       |td AS (
       |  SELECT dq.vec_id AS query_id, dc.vec_id,
       |    CAST(sum(dq.q * dc.q) AS BIGINT) AS dot
       |  FROM dims dq JOIN dims dc ON dc.d = dq.d AND dc.vec_id <> dq.vec_id
       |  WHERE dq.vec_id < 10 GROUP BY 1, 2),
       |truth AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT t.query_id, t.vec_id,
       |      row_number() OVER (PARTITION BY t.query_id ORDER BY
       |        qa.qq + qb.qq - 2 * t.dot, t.vec_id) AS rk
       |    FROM td t JOIN qq qa ON qa.vec_id = t.vec_id
       |    JOIN qq qb ON qb.vec_id = t.query_id) WHERE rk <= 5),
       |rec AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match,
       |    CAST(sum(s.vec_id) AS BIGINT) AS found_fp
       |  FROM searched s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |recl AS (
       |  SELECT s.query_id, CAST(count(t.vec_id) AS BIGINT) AS n_match_list
       |  FROM exlist s LEFT JOIN truth t
       |    ON t.query_id = s.query_id AND t.vec_id = s.vec_id
       |  GROUP BY 1),
       |tf AS (SELECT query_id, CAST(sum(vec_id) AS BIGINT) AS truth_fp
       |  FROM truth GROUP BY 1)
       |SELECT prq.query_id, prq.probe1, prq.probe2,
       |  COALESCE(nc.n_candidates, 0) AS n_candidates,
       |  COALESCE(rec.n_match, 0) AS n_match,
       |  COALESCE(recl.n_match_list, 0) AS n_match_list,
       |  rec.found_fp, tf.truth_fp
       |FROM prq LEFT JOIN nc ON nc.query_id = prq.query_id
       |LEFT JOIN rec ON rec.query_id = prq.query_id
       |LEFT JOIN recl ON recl.query_id = prq.query_id
       |JOIN tf ON tf.query_id = prq.query_id
       |ORDER BY prq.query_id""".stripMargin
  }

  /** q139's oracle: the five PageRank supersteps UNROLLED as CTEs — same
    * integer fixed-point arithmetic (ppb scale, truncating division) the
    * Spark side iterates, so ranks match bit-for-bit; inflow sums cast
    * back to BIGINT to keep DuckDB's HUGEINT widening out of the
    * arithmetic. */
  private def q139OracleSql: String = {
    val steps = (1 to operators.Graph.Iterations).map { k =>
      s"""s$k AS (
         |  SELECT e.dst AS node, CAST(sum(r.r // r.outdeg) AS BIGINT) AS inflow
         |  FROM edges e JOIN r${k - 1} r ON r.node = e.src GROUP BY 1),
         |r$k AS (
         |  SELECT d.node, d.outdeg,
         |    (15 * CAST(1000000000 AS BIGINT) // 100) // n
         |      + (85 * COALESCE(s$k.inflow, CAST(0 AS BIGINT))) // 100 AS r
         |  FROM deg d CROSS JOIN nn LEFT JOIN s$k ON s$k.node = d.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT node, outdeg, CAST(1000000000 AS BIGINT) // n AS r
       |  FROM deg, nn),
       |$steps
       |SELECT node // 2 AS supplier, CAST(r AS BIGINT) AS rank_ppb
       |FROM r${operators.Graph.Iterations}
       |WHERE node % 2 = 1 ORDER BY supplier""".stripMargin
  }

  /** q149's oracle: the five weighted supersteps unrolled — edge weight
    * = the pair's total line-item cents, outflow split precomputed as
    * truncating parts-per-million, contribution (r · w_ppm) // 10⁶ —
    * every operation exact Long arithmetic (sums cast back from DuckDB's
    * HUGEINT), so ranks match Spark bit-for-bit. */
  private def q149OracleSql: String = {
    val steps = (1 to operators.Graph.Iterations).map { k =>
      s"""s$k AS (
         |  SELECT e.dst AS node,
         |    CAST(sum((r.r * e.w_ppm) // 1000000) AS BIGINT) AS inflow
         |  FROM edges e JOIN r${k - 1} r ON r.node = e.src GROUP BY 1),
         |r$k AS (
         |  SELECT d.node,
         |    (15 * CAST(1000000000 AS BIGINT) // 100) // n
         |      + (85 * COALESCE(s$k.inflow, CAST(0 AS BIGINT))) // 100 AS r
         |  FROM deg d CROSS JOIN nn LEFT JOIN s$k ON s$k.node = d.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
       |edges0 AS (SELECT src, dst, w FROM e0
       |  UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
       |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot
       |  FROM edges0 GROUP BY 1),
       |edges AS (SELECT e.src, e.dst, (e.w * 1000000) // wt.wtot AS w_ppm
       |  FROM edges0 e JOIN wt ON wt.src = e.src),
       |deg AS (SELECT src AS node FROM edges GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) // n AS r
       |  FROM deg, nn),
       |$steps
       |SELECT node // 2 AS supplier, CAST(r AS BIGINT) AS rank_ppb
       |FROM r${operators.Graph.Iterations}
       |WHERE node % 2 = 1 ORDER BY supplier""".stripMargin
  }

  /** q150's oracle: the Lloyd CTEs trained over the BASE subset
    * (vec_id % 10 ≠ 0), the stored-index assignment a4 over the base,
    * the batch assignment ab over the arrivals against the SAME final
    * centroids, then the per-list maintenance report — counts and
    * id-sum fingerprints, exact integers throughout. */
  private def q150OracleSql: String =
    s"""WITH ${lloydCtes(dims = "bdims",
         extraCtes =
           "\nbdims AS (SELECT * FROM dims WHERE vec_id % 10 <> 0),",
         seedWhere = " WHERE vec_id % 10 <> 0")},
       |${lloydAssignCte("4", "c3", "bdims")},
       |ndims AS (SELECT * FROM dims WHERE vec_id % 10 = 0),
       |${lloydAssignCte("b", "c3", "ndims")},
       |ba AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_base,
       |  CAST(sum(vec_id) AS BIGINT) AS base_id_sum FROM a4 GROUP BY 1),
       |aa AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_added,
       |  CAST(sum(vec_id) AS BIGINT) AS added_id_sum FROM ab GROUP BY 1)
       |SELECT COALESCE(ba.cluster, aa.cluster) AS cluster,
       |  COALESCE(n_base, CAST(0 AS BIGINT)) AS n_base,
       |  COALESCE(n_added, CAST(0 AS BIGINT)) AS n_added,
       |  COALESCE(n_base, CAST(0 AS BIGINT))
       |    + COALESCE(n_added, CAST(0 AS BIGINT)) AS n_total,
       |  COALESCE(base_id_sum, CAST(0 AS BIGINT)) AS base_id_sum,
       |  COALESCE(added_id_sum, CAST(0 AS BIGINT)) AS added_id_sum
       |FROM ba FULL OUTER JOIN aa ON aa.cluster = ba.cluster
       |ORDER BY cluster""".stripMargin

  /** q151's oracle: the thresholded purchase-graph edge list, then the
    * same 12 pointer-doubling min-label rounds the Spark side folds —
    * unrolled as MATERIALIZED CTEs (each round references its
    * predecessor three times; default inlining would blow up 3^12) —
    * with the identical one-extra-round convergence guard: if v13
    * differs from v12 anywhere, labels poison to NULL and the hash
    * fails loudly. Iteration-exact, not just fixpoint-exact. */
  private def q151OracleSql: String = {
    val rounds = operators.Graph.CcRounds
    val steps = (1 to rounds + 1).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT v.node,
         |    least(least(v.label, lj.label), COALESCE(nb.m, v.label))
         |      AS label
         |  FROM v${i - 1} v
         |  JOIN v${i - 1} lj ON lj.node = v.label
         |  LEFT JOIN (SELECT e.src AS n2, min(l.label) AS m
         |             FROM edges e JOIN v${i - 1} l ON l.node = e.dst
         |             GROUP BY 1) nb ON nb.n2 = v.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |  HAVING sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |    >= ${operators.Graph.CcWeightThreshold}),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0
       |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
       |v0 AS MATERIALIZED (
       |  SELECT src AS node, src AS label FROM edges GROUP BY 1),
       |$steps,
       |conv AS (SELECT count(*) AS moved FROM v$rounds a
       |  JOIN v${rounds + 1} b USING (node) WHERE a.label <> b.label),
       |fin AS (SELECT node,
       |  CASE WHEN (SELECT moved FROM conv) = 0 THEN label END AS label
       |  FROM v$rounds),
       |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS comp_size
       |  FROM fin GROUP BY 1)
       |SELECT CASE WHEN f.node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS side,
       |  f.node // 2 AS entity, f.label, s.comp_size
       |FROM fin f JOIN sizes s USING (label)
       |ORDER BY side, entity""".stripMargin
  }

  /** q159's oracle: the q151 pointer-doubling chain instantiated TWICE —
    * once over the full graph (labels + sizes) and once over the
    * pre-cutoff base graph (the stored labels the incremental run
    * started from; -1 for nodes new today). Fixpoint-uniqueness
    * adjudication: Spark's incremental merge (stored labels + delta
    * union-find) and the oracle's two full fixpoints agree because
    * min-label CC has a unique fixpoint and the base edge set is a
    * subset of the full one (weights only grow). Both chains carry the
    * one-extra-round convergence guard. */
  private def q159OracleSql: String = {
    val rounds = operators.Graph.CcRounds
    def chain(p: String, dateFilter: String): String = {
      val steps = (1 to rounds + 1).map { i =>
        s"""${p}v$i AS MATERIALIZED (
           |  SELECT v.node,
           |    least(least(v.label, lj.label), COALESCE(nb.m, v.label))
           |      AS label
           |  FROM ${p}v${i - 1} v
           |  JOIN ${p}v${i - 1} lj ON lj.node = v.label
           |  LEFT JOIN (SELECT e.src AS n2, min(l.label) AS m
           |             FROM ${p}edges e JOIN ${p}v${i - 1} l ON l.node = e.dst
           |             GROUP BY 1) nb ON nb.n2 = v.node)""".stripMargin
      }.mkString(",\n")
      s"""${p}e0 AS (
         |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |  $dateFilter
         |  GROUP BY 1, 2
         |  HAVING sum(CAST(round(l_extendedprice * 100) AS BIGINT))
         |    >= ${operators.Graph.CcWeightThreshold}),
         |${p}edges AS MATERIALIZED (SELECT src, dst FROM ${p}e0
         |  UNION ALL SELECT dst AS src, src AS dst FROM ${p}e0),
         |${p}v0 AS MATERIALIZED (
         |  SELECT src AS node, src AS label FROM ${p}edges GROUP BY 1),
         |$steps,
         |${p}conv AS (SELECT count(*) AS moved FROM ${p}v$rounds a
         |  JOIN ${p}v${rounds + 1} b USING (node) WHERE a.label <> b.label),
         |${p}fin AS (SELECT node,
         |  CASE WHEN (SELECT moved FROM ${p}conv) = 0 THEN label END AS label
         |  FROM ${p}v$rounds)""".stripMargin
    }
    s"""WITH ${chain("", "")},
       |${chain("b",
      s"WHERE o_orderdate < TIMESTAMP '${operators.Graph.WarmCutoff}'")},
       |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS comp_size
       |  FROM fin GROUP BY 1)
       |SELECT CASE WHEN f.node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS side,
       |  f.node // 2 AS entity, f.label,
       |  COALESCE(bf.label, -1) AS base_label, s.comp_size
       |FROM fin f
       |LEFT JOIN bfin bf ON bf.node = f.node
       |JOIN sizes s ON s.label = f.label
       |ORDER BY side, entity""".stripMargin
  }

  /** q152's oracle: the eight BPE training rounds unrolled — vocabulary
    * once, then per round a pair count, the (cnt DESC, lhs, rhs) argmax
    * (MATERIALIZED — referenced by both the apply and the output), the
    * '|lhs||rhs|' → '|lhsrhs|' string-replace apply (both engines'
    * replace scan left-to-right non-overlapping — standard BPE greedy),
    * and the weighted symbol total. All exact integers. */
  private def q152OracleSql: String = bpeTrainOracleSql("", "documents")

  /** The BPE-training oracle, parameterized by corpus source: q152 runs
    * it over `documents`; q172 prepends the lexdocs CTE and trains over
    * the vocabulary-realistic corpus — same rounds, same argmax
    * tie-break, same symbol accounting. */
  private def bpeTrainOracleSql(extraCte: String, corpus: String): String = {
    val rounds = 8
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT p.lhs, p.rhs, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, unnest(list_transform(range(1, len(syms)),
         |      i -> struct_pack(lhs := syms[i], rhs := syms[i + 1]))) AS p
         |    FROM (SELECT wc,
         |        string_split(seq[2:-2], '||') AS syms FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$r
         |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT wc, replace(seq, '|' || m.lhs || '||' || m.rhs || '|',
         |    '|' || m.lhs || m.rhs || '|') AS seq
         |  FROM w${r - 1}, m$r m),
         |s$r AS (SELECT CAST(sum(wc * (length(seq) -
         |    length(replace(seq, '||', '|')) + 1)) AS BIGINT)
         |    AS symbols_after FROM w$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map { r =>
      s"""SELECT $r AS round, m.lhs, m.rhs, m.lhs || m.rhs AS merged,
         |  m.cnt, s.symbols_after FROM m$r m, s$r s""".stripMargin
    }.mkString("\nUNION ALL\n")
    val pre = if (extraCte.isEmpty) "" else s"$extraCte,\n"
    s"""WITH ${pre}w0 AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS wc,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> word[i]), '||') || '||</w>|' AS seq
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
       |      AS word FROM $corpus) WHERE word <> ''
       |    AND NOT contains(word, '|') AND NOT contains(word, chr(92))
       |  GROUP BY word),
       |$steps
       |$out
       |ORDER BY round""".stripMargin
  }

  /** The keyed BPE round CTEs both per-language oracles share: the
    * (lang, word) vocabulary, then per round the keyed pair count, the
    * per-language row_number argmax, the LEFT-JOIN apply (a language
    * with no pairs left falls through unchanged, matching the
    * operator's CASE), and per-language symbol totals. `word` rides
    * the chain inert so the encode oracle reads token counts off the
    * final state (the q152→q155 device, keyed). */
  private def bpeByLangStepsSql(corpus: String, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT lang, p.lhs, p.rhs, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT lang, wc, unnest(list_transform(range(1, len(syms)),
         |      i -> struct_pack(lhs := syms[i], rhs := syms[i + 1]))) AS p
         |    FROM (SELECT lang, wc,
         |        string_split(seq[2:-2], '||') AS syms FROM w${r - 1}))
         |  GROUP BY 1, 2, 3),
         |m$r AS MATERIALIZED (
         |  SELECT lang, lhs, rhs, cnt FROM (
         |    SELECT lang, lhs, rhs, cnt, row_number() OVER (
         |      PARTITION BY lang ORDER BY cnt DESC, lhs, rhs) AS rn
         |    FROM p$r) WHERE rn = 1),
         |w$r AS MATERIALIZED (
         |  SELECT w.lang, w.word, w.wc,
         |    CASE WHEN m.lang IS NULL THEN w.seq
         |      ELSE replace(w.seq, '|' || m.lhs || '||' || m.rhs || '|',
         |        '|' || m.lhs || m.rhs || '|') END AS seq
         |  FROM w${r - 1} w LEFT JOIN m$r m ON m.lang = w.lang),
         |s$r AS (SELECT lang, CAST(sum(wc * (length(seq) -
         |    length(replace(seq, '||', '|')) + 1)) AS BIGINT)
         |    AS symbols_after FROM w$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS wc,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> word[i]), '||') || '||</w>|' AS seq
       |  FROM (SELECT lang, unnest(string_split_regex(lower(trim(text)),
       |      '\\s+')) AS word FROM $corpus) WHERE word <> ''
       |    AND NOT contains(word, '|') AND NOT contains(word, chr(92))
       |  GROUP BY lang, word),
       |$steps""".stripMargin
  }

  /** q180's oracle: the keyed rounds + per-round (lang, merge,
    * symbols_after) output union. All exact integers. */
  private def bpeTrainByLangOracleSql(extraCte: String, corpus: String,
                                      rounds: Int): String = {
    val out = (1 to rounds).map { r =>
      s"""SELECT m.lang, $r AS round, m.lhs, m.rhs,
         |  m.lhs || m.rhs AS merged, m.cnt, s.symbols_after
         |FROM m$r m JOIN s$r s ON s.lang = m.lang""".stripMargin
    }.mkString("\nUNION ALL\n")
    val pre = if (extraCte.isEmpty) "" else s"$extraCte,\n"
    s"""WITH $pre${bpeByLangStepsSql(corpus, rounds)}
       |$out
       |ORDER BY lang, round""".stripMargin
  }

  /** q181's oracle: the keyed rounds, token counts off the final
    * state, and the per-(lang, source) accounting join — each
    * document's words joined against ITS language's dictionary. */
  private def bpeEncodeByLangOracleSql(extraCte: String, corpus: String,
                                       rounds: Int): String = {
    val pre = if (extraCte.isEmpty) "" else s"$extraCte,\n"
    s"""WITH $pre${bpeByLangStepsSql(corpus, rounds)},
       |vt AS (SELECT lang, word, length(seq) -
       |    length(replace(seq, '||', '|')) + 1 AS n_tokens FROM w$rounds),
       |dw AS (
       |  SELECT doc_id, lang, source, w AS word FROM (
       |    SELECT doc_id, lang, source,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM $corpus) WHERE w <> '')
       |SELECT dw.lang, dw.source,
       |  CAST(count(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(vt.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST((CAST(sum(vt.n_tokens) AS BIGINT) * 1000)
       |    // CAST(count(*) AS BIGINT) AS BIGINT) AS tokens_per_word_pm
       |FROM dw JOIN vt ON vt.lang = dw.lang AND vt.word = dw.word
       |GROUP BY 1, 2 ORDER BY dw.lang, dw.source""".stripMargin
  }

  /** q183's oracle: the keyed training rounds over the BASE corpus
    * (the store), today's batch tokenized, the batch VOCABULARY pushed
    * through the stored merges round by round (e0..eN — the same
    * LEFT-JOIN apply as training, so a language with no stored merge
    * in a round passes through), the dictionary-first/chain-fallback
    * coalesce, and the per-(lang, source) accounting with OOV and
    * skipped counts. */
  /** The e1..eN encode-chain CTEs shared by the q183 and q186 oracles:
    * the batch vocabulary's segmentation pushed through the STORED
    * per-language merges round by round — the same LEFT-JOIN apply as
    * training, so a language with no stored merge in a round passes
    * through. One definition, so the two oracles cannot drift. */
  private def encChainSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""e$r AS (
         |  SELECT e.lang, e.word,
         |    CASE WHEN m.lang IS NULL THEN e.seq
         |      ELSE replace(e.seq, '|' || m.lhs || '||' || m.rhs || '|',
         |        '|' || m.lhs || m.rhs || '|') END AS seq
         |  FROM e${r - 1} e LEFT JOIN m$r m ON m.lang = e.lang)""".stripMargin
    }.mkString(",\n")

  private def bpeEncodeFromStoreOracleSql(baseCte: String, batchCte: String,
                                          baseName: String, batchName: String,
                                          rounds: Int): String = {
    val encSteps = encChainSql(rounds)
    s"""WITH $baseCte,
       |$batchCte,
       |${bpeByLangStepsSql(baseName, rounds)},
       |vt AS (SELECT lang, word, length(seq) -
       |    length(replace(seq, '||', '|')) + 1 AS n_tokens FROM w$rounds),
       |bw AS (
       |  SELECT doc_id, lang, source, w AS word FROM (
       |    SELECT doc_id, lang, source,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM $batchName) WHERE w <> ''),
       |sk AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_skipped
       |  FROM bw WHERE contains(word, '|') OR contains(word, chr(92))
       |  GROUP BY 1, 2),
       |cw AS (SELECT * FROM bw
       |  WHERE NOT contains(word, '|') AND NOT contains(word, chr(92))),
       |e0 AS (
       |  SELECT lang, word,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> word[i]), '||') || '||</w>|' AS seq
       |  FROM (SELECT DISTINCT lang, word FROM cw)),
       |$encSteps,
       |enc AS (
       |  SELECT e.lang, e.word,
       |    COALESCE(vt.n_tokens,
       |      length(e.seq) - length(replace(e.seq, '||', '|')) + 1)
       |      AS n_tokens,
       |    vt.word IS NULL AS is_oov
       |  FROM e$rounds e
       |  LEFT JOIN vt ON vt.lang = e.lang AND vt.word = e.word)
       |SELECT cw.lang, cw.source,
       |  CAST(count(DISTINCT cw.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(CASE WHEN enc.is_oov THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov_words,
       |  CAST(coalesce(any_value(sk.n_skipped), 0) AS BIGINT)
       |    AS n_skipped_words,
       |  CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST((CAST(sum(enc.n_tokens) AS BIGINT) * 1000)
       |    // CAST(count(*) AS BIGINT) AS BIGINT) AS tokens_per_word_pm
       |FROM cw
       |JOIN enc ON enc.lang = cw.lang AND enc.word = cw.word
       |LEFT JOIN sk ON sk.lang = cw.lang AND sk.source = cw.source
       |GROUP BY 1, 2 ORDER BY cw.lang, cw.source""".stripMargin
  }

  /** q184's oracle: the (doc, lang, source, n_tokens, h) collapse, the
    * two-level α = 0.5 temperature plan with the double sums on ORDERED
    * whole-frame windows (matching the Spark side's accumulation
    * order), the one-level per-cell cumulative cutoff in hash order
    * (Spark computes the identical values with the q83 two-phase
    * device), the per-language packing cumulative sum in doc order,
    * and the audit join. */
  private def q184OracleSql: String = mixPackOracleSql(
    s"""${operators.Lexicon.multiLexDocsCte},
       |d AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    ('0x' || substr(md5(concat(184, ':', CAST(doc_id AS VARCHAR))),
       |      1, 15))::BIGINT AS h
       |  FROM mlexdocs)""".stripMargin)

  /** The per-document BPE-token CTE chain shared by the q186 and q187
    * oracles: the full corpus materializes ONCE (mlexdocs) — the
    * training base filters it rather than re-deriving the text
    * synthesis a second time (q182/q183 keep the filtered-derivation
    * form because their two splits PARTITION the corpus) — then the
    * keyed training rounds over the base, the whole corpus's
    * vocabulary pushed through the stored merges (the q183 encode
    * chain), and the document-grain token sums as `dtok(doc_id, lang,
    * source, n_tokens)`. */
  private def bpeDocTokenCtes(rounds: Int): String = {
    val encSteps = encChainSql(rounds)
    s"""${operators.Lexicon.multiLexDocsCte},
       |mbase AS (SELECT * FROM mlexdocs WHERE doc_id % 10 != 0),
       |${bpeByLangStepsSql("mbase", rounds)},
       |vt AS (SELECT lang, word, length(seq) -
       |    length(replace(seq, '||', '|')) + 1 AS n_tokens FROM w$rounds),
       |bw AS (
       |  SELECT doc_id, lang, source, w AS word FROM (
       |    SELECT doc_id, lang, source,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM mlexdocs) WHERE w <> ''
       |    AND NOT contains(w, '|') AND NOT contains(w, chr(92))),
       |e0 AS (
       |  SELECT lang, word,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> word[i]), '||') || '||</w>|' AS seq
       |  FROM (SELECT DISTINCT lang, word FROM bw)),
       |$encSteps,
       |enc AS (
       |  SELECT e.lang, e.word,
       |    COALESCE(vt.n_tokens,
       |      length(e.seq) - length(replace(e.seq, '||', '|')) + 1)
       |      AS n_tokens
       |  FROM e$rounds e
       |  LEFT JOIN vt ON vt.lang = e.lang AND vt.word = e.word),
       |dtok AS (
       |  SELECT bw.doc_id, bw.lang, bw.source,
       |    CAST(sum(enc.n_tokens) AS BIGINT) AS n_tokens
       |  FROM bw JOIN enc ON enc.lang = bw.lang AND enc.word = bw.word
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  /** q186's oracle: the q184 mixture/packing body with `d` swapped to
    * BPE-token counts — [[bpeDocTokenCtes]]'s document-grain sums plus
    * the seed-186 replayable hash. */
  private def q186OracleSql: String =
    mixPackOracleSql(
      s"""${bpeDocTokenCtes(8)},
         |d AS (
         |  SELECT doc_id, lang, source, n_tokens,
         |    ('0x' || substr(md5(concat(186, ':',
         |      CAST(doc_id AS VARCHAR))), 1, 15))::BIGINT AS h
         |  FROM dtok)""".stripMargin)

  /** q187's oracle: the per-doc BPE-token chain ([[bpeDocTokenCtes]]),
    * the sha256 canonicalizer, the five-rule battery with the stop
    * rule keyed by the document's own language, the 7-gram
    * decontamination, then the token-budget plan and cumulative
    * cutoff ([[mixPlanCumCtes]]) REALIZED OVER THE GATE SURVIVORS, and
    * the doc-grain audit log with the survivor shard hash. */
  private def q187OracleSql: String = {
    val conj = (gopherRulePreds.map(_._2) :+ gopherStopPred)
      .mkString("\n      AND ")
    val survPred = """NOT u.is_dup AND u.quality_pass
      AND NOT u.contaminated AND coalesce(k.token_keep, FALSE)"""
    s"""WITH ${bpeDocTokenCtes(8)},
       |${canonCte("mlexdocs")},
       |${gopherMeasureCtes("mlexdocs", None,
          Some(operators.Lexicon.MultiLexStops))},
       |quality AS (
       |  SELECT doc_id, n_words,
       |    ($conj) AS quality_pass
       |  FROM m),
       |${gramDecontamCtes("mlexdocs")},
       |univ AS (
       |  SELECT mx.doc_id, mx.lang, mx.source, q.n_words,
       |    c.is_dup, q.quality_pass,
       |    (ct.doc_id IS NOT NULL) AS contaminated,
       |    CAST(coalesce(dt.n_tokens, 0) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, lang, source FROM mlexdocs
       |    WHERE doc_id % 97 != 0) mx
       |  JOIN canon c ON c.doc_id = mx.doc_id
       |  JOIN quality q ON q.doc_id = mx.doc_id
       |  LEFT JOIN contam ct ON ct.doc_id = mx.doc_id
       |  LEFT JOIN dtok dt ON dt.doc_id = mx.doc_id),
       |elig AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |    ('0x' || substr(md5(concat(187, ':',
       |      CAST(doc_id AS VARCHAR))), 1, 15))::BIGINT AS h
       |  FROM univ
       |  WHERE NOT is_dup AND quality_pass AND NOT contaminated
       |    AND n_tokens > 0),
       |${mixPlanCumCtes("elig")},
       |keepf AS (
       |  SELECT c.doc_id, (c.cum_before < p.target_tokens) AS token_keep
       |  FROM cum c JOIN plan p ON p.lang = c.lang AND p.source = c.source)
       |SELECT u.doc_id, u.lang, u.source, u.n_words, u.n_tokens, u.is_dup,
       |  u.quality_pass, u.contaminated,
       |  coalesce(k.token_keep, FALSE) AS token_keep,
       |  ($survPred) AS survives,
       |  CASE WHEN $survPred
       |    THEN ('0x' || substr(md5(concat(188, ':',
       |      CAST(u.doc_id AS VARCHAR))), 1, 15))::BIGINT % 8
       |    ELSE NULL END AS shard
       |FROM univ u LEFT JOIN keepf k ON k.doc_id = u.doc_id
       |ORDER BY u.doc_id""".stripMargin
  }

  /** q188's oracle: the keyed training rounds over the base split (the
    * store), today's batch words, the batch vocabulary pushed through
    * the stored merges (chain-only — the meter applies merges per
    * occurrence; chain application equals the dictionary lookup for
    * every trained word since BPE rewriting is deterministic), per-doc
    * clean/skipped/token sums with LEFT joins so a document with no
    * encodable words still meters (0, k, 0). */
  private def q188OracleSql: String = {
    val rounds = 8
    s"""WITH ${operators.Lexicon
            .multiLexDocsCteNamed("mbase", "doc_id % 10 != 0")},
       |${operators.Lexicon.multiLexDocsCteNamed("mdelta", "doc_id % 10 = 0")},
       |${bpeByLangStepsSql("mbase", rounds)},
       |aw AS (
       |  SELECT doc_id, lang, source, w AS word FROM (
       |    SELECT doc_id, lang, source,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM mdelta) WHERE w <> ''),
       |sk AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_skipped_words
       |  FROM aw WHERE contains(word, '|') OR contains(word, chr(92))
       |  GROUP BY 1),
       |cw AS (SELECT * FROM aw
       |  WHERE NOT contains(word, '|') AND NOT contains(word, chr(92))),
       |e0 AS (
       |  SELECT lang, word,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> word[i]), '||') || '||</w>|' AS seq
       |  FROM (SELECT DISTINCT lang, word FROM cw)),
       |${encChainSql(rounds)},
       |tok AS (
       |  SELECT lang, word, length(seq) -
       |    length(replace(seq, '||', '|')) + 1 AS n_tokens FROM e$rounds),
       |ds AS (
       |  SELECT cw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(tok.n_tokens) AS BIGINT) AS n_tokens
       |  FROM cw JOIN tok ON tok.lang = cw.lang AND tok.word = cw.word
       |  GROUP BY 1)
       |SELECT md.doc_id, md.lang, md.source,
       |  CAST(coalesce(ds.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(sk.n_skipped_words, 0) AS BIGINT) AS n_skipped_words,
       |  CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens
       |FROM mdelta md
       |LEFT JOIN ds ON ds.doc_id = md.doc_id
       |LEFT JOIN sk ON sk.doc_id = md.doc_id
       |ORDER BY md.doc_id""".stripMargin
  }

  /** The two-level α-temperature budget plan (mls..plan) and the
    * one-level cumulative-cutoff window (cum) over a named (doc_id,
    * lang, source, n_tokens, h) CTE — the SQL twin of
    * Corpus.mixPlan/mixCumBefore, shared by the q184/q186 and q187
    * oracles. The double sums ride ORDERED whole-frame windows so both
    * engines accumulate FP in the same order. */
  private def mixPlanCumCtes(src: String): String =
    s"""mls AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS mass_tokens
       |  FROM $src GROUP BY 1, 2),
       |ml AS (
       |  SELECT lang, CAST(sum(mass_tokens) AS BIGINT) AS lang_mass
       |  FROM mls GROUP BY 1),
       |ml2 AS (
       |  SELECT lang,
       |    CAST(sum(lang_mass) OVER (ORDER BY lang ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS total_mass,
       |    power(CAST(lang_mass AS DOUBLE), ${operators.Corpus.MixAlpha})
       |      AS w_l,
       |    sum(power(CAST(lang_mass AS DOUBLE), ${operators.Corpus.MixAlpha}))
       |      OVER (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND
       |        UNBOUNDED FOLLOWING) AS w_sum
       |  FROM ml),
       |mlb AS (
       |  SELECT lang,
       |    CAST(round(round(total_mass * ${operators.Corpus.MixBudgetFrac},
       |      0) * (w_l / w_sum), 0) AS BIGINT) AS budget_tokens
       |  FROM ml2),
       |plan AS (
       |  SELECT mls.lang, mls.source, mls.n_docs, mls.mass_tokens,
       |    mlb.budget_tokens,
       |    CAST(round(mlb.budget_tokens * (
       |      power(CAST(mls.mass_tokens AS DOUBLE),
       |        ${operators.Corpus.MixAlpha}) /
       |      sum(power(CAST(mls.mass_tokens AS DOUBLE),
       |        ${operators.Corpus.MixAlpha})) OVER (PARTITION BY mls.lang
       |        ORDER BY mls.source ROWS BETWEEN UNBOUNDED PRECEDING AND
       |        UNBOUNDED FOLLOWING)), 0) AS BIGINT) AS target_tokens
       |  FROM mls JOIN mlb ON mlb.lang = mls.lang),
       |cum AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, source
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_before
       |  FROM $src)""".stripMargin

  /** The shared mixture+packing oracle BODY (q184/q186): expects the
    * given CTE block to define `d` with (doc_id, lang, source,
    * n_tokens, h); renders [[mixPlanCumCtes]]'s budget plan + cutoff,
    * the per-language packing cumsum and the audit join. */
  private def mixPackOracleSql(preCtes: String): String =
    s"""WITH $preCtes,
       |${mixPlanCumCtes("d")},
       |kept AS (
       |  SELECT c.doc_id, c.lang, c.source, c.n_tokens
       |  FROM cum c JOIN plan p ON p.lang = c.lang AND p.source = c.source
       |  WHERE c.cum_before < p.target_tokens),
       |pk AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS seq_offset
       |  FROM kept),
       |pk2 AS (
       |  SELECT lang, source, n_tokens,
       |    seq_offset // ${operators.Corpus.SeqTokens} AS first_seq,
       |    (seq_offset + n_tokens - 1) // ${operators.Corpus.SeqTokens}
       |      AS last_seq
       |  FROM pk),
       |audit AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_kept,
       |    CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
       |    CAST(sum(last_seq - first_seq + 1) AS BIGINT) AS n_seqs,
       |    CAST(max(last_seq) AS BIGINT) AS max_last_seq
       |  FROM pk2 GROUP BY 1, 2)
       |SELECT p.lang, p.source, p.n_docs, p.mass_tokens, p.budget_tokens,
       |  p.target_tokens,
       |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |  CAST(coalesce(a.n_seqs, 0) AS BIGINT) AS n_seqs,
       |  CAST(coalesce(a.max_last_seq, -1) AS BIGINT) AS max_last_seq
       |FROM plan p
       |LEFT JOIN audit a ON a.lang = p.lang AND a.source = p.source
       |ORDER BY p.lang, p.source""".stripMargin

  /** The BM25 oracle, parameterized by corpus + query terms: q85 runs
    * the fixed tech-term query over `documents`; q173 prepends the
    * lexdocs CTE and queries the lexicon terms. Same algebraic tree,
    * same 4-dp pre-ordering round. */
  private def bm25OracleSql(extraCte: String, corpus: String,
                            terms: Seq[String]): String = {
    val pre = if (extraCte.isEmpty) "" else s"$extraCte,\n"
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH ${pre}docs AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
       |  FROM $corpus),
       |d2 AS (SELECT doc_id, w, CAST(len(w) AS DOUBLE) AS dl FROM docs),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d2),
       |q AS (SELECT unnest([$termList]) AS term),
       |tf AS (
       |  SELECT doc_id, dl, term,
       |    CAST(len(list_filter(w, x -> x = term)) AS DOUBLE) AS tf
       |  FROM d2 CROSS JOIN q
       |  WHERE len(list_filter(w, x -> x = term)) > 0),
       |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT doc_id,
       |    round(sum(
       |      ln((n - df + 0.5) / (df + 0.5) + 1.0) *
       |        (tf * (CAST(1.2 AS DOUBLE) + 1)) /
       |        (tf + CAST(1.2 AS DOUBLE) *
       |          ((1 - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * dl / avgdl))
       |    ), 4) AS score,
       |    CAST(count(*) AS INT) AS n_terms
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
       |  GROUP BY doc_id)
       |SELECT doc_id, score, n_terms FROM sc
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** q171's oracle: the lexdocs derivation (operators/Lexicon.scala —
    * identical arithmetic, DuckDB renderer), word counts, and the
    * bit-length band profile. Exact integers throughout. */
  private def q171OracleSql: String =
    s"""WITH ${operators.Lexicon.lexDocsCte},
       |toks AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)),
       |    '\\s+'), x -> x <> '')) AS w
       |  FROM lexdocs),
       |counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1)
       |SELECT CAST(length(bin(c)) AS INT) AS band,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(c) AS BIGINT) AS n_occ,
       |  CAST(min(c) AS BIGINT) AS min_c,
       |  CAST(max(c) AS BIGINT) AS max_c,
       |  min(w) AS first_word
       |FROM counts GROUP BY 1 ORDER BY band""".stripMargin

  /** q174's oracle: the ppm-normalized rarity score over lexdocs —
    * per-language LM, per-language token mass, integer ppm share, tier
    * cuts. Bit-identity (no doubles on either side). */
  private def q174OracleSql: String =
    s"""WITH ${operators.Lexicon.lexDocsCte},
       |toks AS (
       |  SELECT doc_id, lang,
       |    unnest(list_filter(regexp_split_to_array(lower(trim(text)),
       |      '\\s+'), x -> x <> '')) AS w
       |  FROM lexdocs),
       |lm AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS wc
       |  FROM toks GROUP BY 1, 2),
       |mass AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
       |  FROM toks GROUP BY 1),
       |sc AS (
       |  SELECT t.doc_id, t.lang,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT t.w) AS BIGINT) AS vocab_seen,
       |    CAST(sum(wc) AS BIGINT) AS sum_freq,
       |    CAST(min(wc) AS BIGINT) AS min_freq
       |  FROM toks t JOIN lm ON t.lang = lm.lang AND t.w = lm.w
       |  GROUP BY 1, 2)
       |SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.vocab_seen, sc.sum_freq,
       |  sc.min_freq,
       |  CAST(sum_freq * 1000000 // (n_tokens * n_lang) AS BIGINT)
       |    AS freq_ppm,
       |  CASE WHEN sum_freq * 1000000 // (n_tokens * n_lang)
       |      < ${operators.Lexicon.RarePpmLt} THEN 'rare'
       |    WHEN sum_freq * 1000000 // (n_tokens * n_lang)
       |      < ${operators.Lexicon.MidPpmLt} THEN 'mid'
       |    ELSE 'common' END AS rarity_tier
       |FROM sc JOIN mass ON mass.lang = sc.lang
       |ORDER BY sc.doc_id""".stripMargin

  /** The Gopher measure CTEs (d + m) shared by the q177 audit and the
    * q133/q178 pipeline oracles: tokenized words plus the per-doc
    * counts every rule predicate reads (n_stop included when a stop
    * list is given). q121's per-doc audit oracle keeps its own text —
    * its OUTPUT schema is the named ratio columns, not just the rule
    * verdicts. */
  private def gopherMeasureCtes(corpus: String,
                                stops: Option[Seq[String]],
                                stopsByLang: Option[Map[String, Seq[String]]]
                                  = None): String = {
    // per-language stop count (q187): a CASE over the document's OWN
    // language's literal list — same distinct-member arithmetic as the
    // flat form, keyed like Corpus.tokenPipeline's fold of `when`s
    val stopCol = stopsByLang.map { byLang =>
      val cases = byLang.toSeq.sortBy(_._1).map { case (l, s) =>
        val lits = s.map(w => s"'$w'").mkString(", ")
        s"WHEN '$l' THEN CAST(len(list_intersect(w, [$lits])) AS INT)"
      }.mkString("\n      ")
      s",\n    (CASE lang\n      $cases\n      ELSE 0 END) AS n_stop"
    }.orElse(stops.map(s =>
      ",\n    CAST(len(list_intersect(w, [" +
        s.map(w => s"'$w'").mkString(", ") +
        "])) AS INT) AS n_stop")).getOrElse("")
    val langCol = if (stopsByLang.isDefined) ", lang" else ""
    s"""d AS (
       |  SELECT doc_id$langCol,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |      x -> x <> '') AS w
       |  FROM $corpus),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(w) AS INT) AS n_words,
       |    list_sum(list_transform(w, x -> len(x))) AS n_chars_w,
       |    len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
       |    len(list_filter(w, x -> contains(x, '#') OR contains(x, '...')))
       |      AS n_sym$stopCol
       |  FROM d)""".stripMargin
  }

  /** The sha-256 content-canonicalizer CTE shared by the q133/q178 and
    * q187 oracles — the SQL twin of Corpus.contentDedupFlags. */
  private def canonCte(corpus: String): String =
    s"""canon AS (
       |  SELECT doc_id,
       |    doc_id <> min(doc_id) OVER (PARTITION BY sha256(text)) AS is_dup
       |  FROM $corpus)""".stripMargin

  /** The 7-gram decontamination CTE block (words/g/ev/contam) shared
    * by the q133/q178 and q187 oracles — the SQL twin of
    * Corpus.gramDecontam (the oracle replays the plain equi-join; the
    * Spark side's bloom pre-filter is semantics-neutral by the
    * no-false-negative contract). */
  private def gramDecontamCtes(corpus: String): String =
    s"""words AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM $corpus),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(w) - 5),
       |    i -> ('0x' || substr(md5(concat('79:',
       |      w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] ||
       |      ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6])), 1, 15))
       |      ::BIGINT))) AS gram
       |  FROM words WHERE len(w) >= 7),
       |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
       |contam AS (
       |  SELECT DISTINCT g.doc_id FROM g
       |  JOIN ev ON ev.gram = g.gram
       |  WHERE g.doc_id % 97 != 0)""".stripMargin

  /** The Gopher rule predicates over m's columns — ONE definition of
    * the thresholds for every oracle built from [[gopherMeasureCtes]]. */
  private val gopherRulePreds: Seq[(String, String)] = Seq(
    "r_wc" -> "(n_words >= 50 AND n_words <= 100000)",
    "r_mwl" -> ("(CASE WHEN n_words > 0\n" +
      "        THEN n_chars_w * CAST(1 AS DOUBLE) / n_words ELSE 0 END >= 3\n" +
      "      AND CASE WHEN n_words > 0\n" +
      "        THEN n_chars_w * CAST(1 AS DOUBLE) / n_words ELSE 0 END <= 10)"),
    "r_sym" -> ("(CASE WHEN n_words > 0\n" +
      "        THEN n_sym * CAST(1 AS DOUBLE) / n_words ELSE 0 END <= 0.1)"),
    "r_alpha" -> ("(CASE WHEN n_words > 0\n" +
      "        THEN n_alpha * CAST(1 AS DOUBLE) / n_words ELSE 0 END >= 0.8)"))
  private val gopherStopPred = "(n_stop >= 2)"

  /** The composed-pipeline oracle (q133/q178), parameterized by corpus
    * source and an optional stop rule: the sha256 canonicalizer, the
    * rule battery (with r_stop only when `stops` is given — q133's
    * corpus makes it degenerate, q178's lexicon corpus restores it),
    * the 7-gram decontamination semi-join, the ppm-hash mixture device
    * and the survivor shard hash. */
  private def corpusPipelineOracleSql(extraCte: String, corpus: String,
                                      stops: Option[Seq[String]]): String = {
    val pre = if (extraCte.isEmpty) "" else s"$extraCte,\n"
    val conj = (gopherRulePreds.map(_._2) ++
      stops.map(_ => gopherStopPred).toSeq).mkString("\n      AND ")
    val keepCase =
      """(CASE mx.lang WHEN 'en' THEN 350 WHEN 'de' THEN 800
        |    WHEN 'es' THEN 600 WHEN 'fr' THEN 500 WHEN 'zh' THEN 900
        |    ELSE 250 END)""".stripMargin
    s"""WITH $pre${canonCte(corpus)},
       |${gopherMeasureCtes(corpus, stops)},
       |quality AS (
       |  SELECT doc_id, n_words,
       |    ($conj) AS quality_pass
       |  FROM m),
       |${gramDecontamCtes(corpus)},
       |mix AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(concat(133, ':', CAST(doc_id AS VARCHAR))),
       |      1, 15))::BIGINT % 1000 AS bucket
       |  FROM $corpus WHERE doc_id % 97 != 0)
       |SELECT mx.doc_id, mx.lang, q.n_words, c.is_dup, q.quality_pass,
       |  (ct.doc_id IS NOT NULL) AS contaminated,
       |  mx.bucket < $keepCase AS mixture_keep,
       |  (NOT c.is_dup AND q.quality_pass AND ct.doc_id IS NULL
       |    AND mx.bucket < $keepCase) AS survives,
       |  CASE WHEN (NOT c.is_dup AND q.quality_pass AND ct.doc_id IS NULL
       |    AND mx.bucket < $keepCase)
       |    THEN ('0x' || substr(md5(concat(134, ':',
       |      CAST(mx.doc_id AS VARCHAR))), 1, 15))::BIGINT % 8
       |    ELSE NULL END AS shard
       |FROM mix mx
       |JOIN canon c ON c.doc_id = mx.doc_id
       |JOIN quality q ON q.doc_id = mx.doc_id
       |LEFT JOIN contam ct ON ct.doc_id = mx.doc_id
       |ORDER BY mx.doc_id""".stripMargin
  }

  /** q179's oracle: the base/delta split, the two-conditional-sum word
    * collapse, the base-count band re-aggregate (band 0 = new types),
    * the totals cross, and the exact ppm shares + signed drift. */
  private def q179OracleSql: String =
    s"""WITH ${operators.Lexicon.lexDocsCte},
       |toks AS (
       |  SELECT doc_id % 10 = 0 AS is_delta,
       |    unnest(list_filter(regexp_split_to_array(lower(trim(text)),
       |      '\\s+'), x -> x <> '')) AS w
       |  FROM lexdocs),
       |counts AS (
       |  SELECT w,
       |    CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cb,
       |    CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS cd
       |  FROM toks GROUP BY 1),
       |banded AS (
       |  SELECT CAST(CASE WHEN cb = 0 THEN 0 ELSE length(bin(cb)) END
       |      AS INT) AS band,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(cb) AS BIGINT) AS occ_base,
       |    CAST(sum(cd) AS BIGINT) AS occ_delta,
       |    min(w) AS first_word
       |  FROM counts GROUP BY 1),
       |tot AS (SELECT CAST(sum(occ_base) AS BIGINT) AS tb,
       |    CAST(sum(occ_delta) AS BIGINT) AS td FROM banded)
       |SELECT band, n_types, occ_base, occ_delta,
       |  CAST(CASE WHEN tb = 0 THEN 0
       |    ELSE occ_base * 1000000 // tb END AS BIGINT) AS share_base_ppm,
       |  CAST(CASE WHEN td = 0 THEN 0
       |    ELSE occ_delta * 1000000 // td END AS BIGINT) AS share_delta_ppm,
       |  first_word,
       |  CAST(CASE WHEN td = 0 THEN 0
       |      ELSE occ_delta * 1000000 // td END -
       |    CASE WHEN tb = 0 THEN 0
       |      ELSE occ_base * 1000000 // tb END AS BIGINT) AS drift_ppm
       |FROM banded, tot
       |ORDER BY band""".stripMargin

  /** q176's oracle: the multi-language lexdocs derivation (same
    * arithmetic, DuckDB renderer, per-row syllable table off `lang`),
    * the five stop-hit counts (multiplicity counted, q30's form), the
    * same fixed-tie-order argmax, and the confusion-matrix group-by.
    * Stop lists render from the SAME Scala definition
    * (operators/Lexicon.topWords) as the Spark side. */
  private def q176OracleSql(abstain: Boolean = false): String = {
    val hits = operators.Lexicon.MultiLangs.zipWithIndex.map {
      case (l, i) =>
        val lits = operators.Lexicon.topWords(i, operators.Lexicon.LangidK)
          .map(w => s"'$w'").mkString(", ")
        s"""    CAST(len(list_filter(w, x -> list_contains([$lits], x)))
           |      AS INT) AS s_$l""".stripMargin
    }.mkString(",\n")
    // q185's abstain branch sits AHEAD of the tie chain, like the
    // operator's `when`: zero-hit documents are coverage failures, not
    // 'de' evidence
    val und = if (abstain)
      "CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'\n" +
        "      " else "CASE "
    s"""WITH ${operators.Lexicon.multiLexDocsCte},
       |tok AS (
       |  SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |      x -> x <> '') AS w
       |  FROM mlexdocs),
       |sc AS (
       |  SELECT doc_id, lang, CAST(len(w) AS INT) AS n_words,
       |$hits
       |  FROM tok),
       |p AS (
       |  SELECT lang, n_words,
       |    ${und}WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
       |      WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
       |      WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |      WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted_lang,
       |    greatest(s_de, s_en, s_es, s_fr, s_zh) AS best_hits
       |  FROM sc)
       |SELECT lang AS true_lang, predicted_lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS sum_words,
       |  CAST(sum(best_hits) AS BIGINT) AS sum_hits
       |FROM p GROUP BY 1, 2
       |ORDER BY true_lang, predicted_lang""".stripMargin
  }

  /** q177's oracle: q121's rule replay (same list HOFs, same
    * int/int IEEE ratios) over lexdocs with the [[operators.Lexicon
    * .LexStops]] list, aggregated to the per-rule failure report —
    * one UNION ALL branch per rule, exact-integer per-mille. */
  private def q177OracleSql: String = {
    val rules = Seq("r_wc", "r_mwl", "r_sym", "r_alpha", "r_stop", "keep")
    val branches = rules.map { r =>
      s"""SELECT '$r' AS rule, n_docs, f_$r AS n_fail,
         |  CAST(CASE WHEN n_docs = 0 THEN 0
         |    ELSE f_$r * 1000 // n_docs END AS BIGINT) AS fail_pm
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    val ruleCols = (gopherRulePreds :+ ("r_stop" -> gopherStopPred))
      .map { case (n, p) => s"    $p AS $n" }.mkString(",\n")
    s"""WITH ${operators.Lexicon.lexDocsCte},
       |${gopherMeasureCtes("lexdocs", Some(operators.Lexicon.LexStops))},
       |r AS (
       |  SELECT
       |$ruleCols
       |  FROM m),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(*) FILTER (WHERE NOT r_wc) AS BIGINT) AS f_r_wc,
       |    CAST(count(*) FILTER (WHERE NOT r_mwl) AS BIGINT) AS f_r_mwl,
       |    CAST(count(*) FILTER (WHERE NOT r_sym) AS BIGINT) AS f_r_sym,
       |    CAST(count(*) FILTER (WHERE NOT r_alpha) AS BIGINT) AS f_r_alpha,
       |    CAST(count(*) FILTER (WHERE NOT r_stop) AS BIGINT) AS f_r_stop,
       |    CAST(count(*) FILTER (WHERE NOT (r_wc AND r_mwl AND r_sym
       |      AND r_alpha AND r_stop)) AS BIGINT) AS f_keep
       |  FROM r)
       |$branches
       |ORDER BY rule""".stripMargin
  }

  /** q175's oracle: the same two collapses (word → min bucket,
    * doc → token count) and the three nested-fraction rows. All
    * exact integers. */
  private def q175OracleSql: String =
    s"""WITH ${operators.Lexicon.lexDocsCte},
       |toks AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(concat('175:', CAST(doc_id AS VARCHAR))),
       |      1, 15))::BIGINT % 100 AS b,
       |    unnest(list_filter(regexp_split_to_array(lower(trim(text)),
       |      '\\s+'), x -> x <> '')) AS w
       |  FROM lexdocs),
       |wmin AS (SELECT w, min(b) AS mb FROM toks GROUP BY 1),
       |vv AS (SELECT
       |  CAST(count(*) FILTER (WHERE mb < 1) AS BIGINT) AS v1,
       |  CAST(count(*) FILTER (WHERE mb < 10) AS BIGINT) AS v10,
       |  CAST(count(*) AS BIGINT) AS v100 FROM wmin),
       |dl AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS nt
       |  FROM toks GROUP BY 1, 2),
       |dd AS (SELECT
       |  CAST(count(*) FILTER (WHERE b < 1) AS BIGINT) AS d1,
       |  CAST(count(*) FILTER (WHERE b < 10) AS BIGINT) AS d10,
       |  CAST(count(*) AS BIGINT) AS d100,
       |  CAST(coalesce(sum(nt) FILTER (WHERE b < 1), 0) AS BIGINT) AS t1,
       |  CAST(coalesce(sum(nt) FILTER (WHERE b < 10), 0) AS BIGINT) AS t10,
       |  CAST(sum(nt) AS BIGINT) AS t100 FROM dl)
       |SELECT 1 AS pct, d1 AS n_docs, t1 AS n_tokens, v1 AS vocab,
       |  CAST(CASE WHEN v1 = 0 THEN 0 ELSE t1 * 1000 // v1 END AS BIGINT)
       |    AS tokens_per_type_pm
       |FROM dd, vv
       |UNION ALL
       |SELECT 10, d10, t10, v10,
       |  CAST(CASE WHEN v10 = 0 THEN 0 ELSE t10 * 1000 // v10 END AS BIGINT)
       |FROM dd, vv
       |UNION ALL
       |SELECT 100, d100, t100, v100,
       |  CAST(CASE WHEN v100 = 0 THEN 0 ELSE t100 * 1000 // v100 END
       |    AS BIGINT)
       |FROM dd, vv
       |ORDER BY pct""".stripMargin

  /** q156's oracle: base-graph PageRank (5 unrolled supersteps over
    * orders before the cutoff) feeding the warm start — 2 more unrolled
    * supersteps over the FULL graph with r0 = coalesce(stored rank, new
    * graph's teleport base) — plus the stored rank join in the output.
    * Same exact ppb arithmetic throughout. */
  private def q156OracleSql: String = {
    def steps(n: Int, pfx: String): String = (1 to n).map { k =>
      s"""s$pfx$k AS (
         |  SELECT e.dst AS node,
         |    CAST(sum(r.r // r.outdeg) AS BIGINT) AS inflow
         |  FROM edges$pfx e JOIN r$pfx${k - 1} r ON r.node = e.src
         |  GROUP BY 1),
         |r$pfx$k AS (
         |  SELECT d.node, d.outdeg,
         |    (15 * CAST(1000000000 AS BIGINT) // 100) // n
         |      + (85 * COALESCE(s$pfx$k.inflow, CAST(0 AS BIGINT))) // 100
         |      AS r
         |  FROM deg$pfx d CROSS JOIN nn$pfx
         |  LEFT JOIN s$pfx$k ON s$pfx$k.node = d.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0b AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE o_orderdate < TIMESTAMP '${operators.Graph.WarmCutoff}'),
       |edgesb AS (SELECT src, dst FROM e0b UNION SELECT dst, src FROM e0b),
       |degb AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edgesb GROUP BY 1),
       |nnb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM degb),
       |rb0 AS (SELECT node, outdeg, CAST(1000000000 AS BIGINT) // n AS r
       |  FROM degb, nnb),
       |${steps(operators.Graph.Iterations, "b")},
       |e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS (
       |  SELECT d.node, d.outdeg,
       |    COALESCE(b.r, (15 * CAST(1000000000 AS BIGINT) // 100) // n)
       |      AS r
       |  FROM deg d CROSS JOIN nn
       |  LEFT JOIN rb${operators.Graph.Iterations} b ON b.node = d.node),
       |${steps(operators.Graph.WarmRounds, "")}
       |SELECT d.node // 2 AS supplier,
       |  CAST(w.r AS BIGINT) AS rank_ppb,
       |  CAST(COALESCE(b.r, 0) AS BIGINT) AS base_rank_ppb
       |FROM r${operators.Graph.WarmRounds} w
       |JOIN deg d ON d.node = w.node
       |LEFT JOIN rb${operators.Graph.Iterations} b ON b.node = w.node
       |WHERE w.node % 2 = 1 ORDER BY supplier""".stripMargin
  }

  /** q148's oracle: q139's five unrolled supersteps with the teleport
    * base and initial mass restricted to the seed set (node % 100 = 0)
    * and the seed count replacing the node count. */
  private def q148OracleSql: String = {
    val base = "CASE WHEN d.node % 100 = 0 THEN " +
      "(15 * CAST(1000000000 AS BIGINT) // 100) // n ELSE CAST(0 AS BIGINT) END"
    val steps = (1 to operators.Graph.Iterations).map { k =>
      s"""s$k AS (
         |  SELECT e.dst AS node, CAST(sum(r.r // r.outdeg) AS BIGINT) AS inflow
         |  FROM edges e JOIN r${k - 1} r ON r.node = e.src GROUP BY 1),
         |r$k AS (
         |  SELECT d.node, d.outdeg,
         |    $base
         |      + (85 * COALESCE(s$k.inflow, CAST(0 AS BIGINT))) // 100 AS r
         |  FROM deg d CROSS JOIN ns n2 LEFT JOIN s$k ON s$k.node = d.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY 1),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg
       |  WHERE node % 100 = 0),
       |r0 AS (SELECT node, outdeg,
       |  CASE WHEN node % 100 = 0 THEN CAST(1000000000 AS BIGINT) // n
       |       ELSE CAST(0 AS BIGINT) END AS r
       |  FROM deg, ns),
       |$steps
       |SELECT node // 2 AS supplier, CAST(r AS BIGINT) AS rank_ppb
       |FROM r${operators.Graph.Iterations}
       |WHERE node % 2 = 1 ORDER BY supplier""".stripMargin
  }

  /** DuckDB-runnable oracle SQL, one per `queries` key (same column names,
    * same rounding, same total ordering). */
  /** Shared DuckDB CTE fragments for the q47/q67 clustering oracles: the
    * question vectorizer (fold → tokenize → stopword filter → plural stem
    * → substring concept fold at weight 2.0 → summed term weights + L2
    * norm) restated independently from the ported spec
    * (study_scraper/clustering.py:42-122). All weights are
    * integer-valued, so every dot product is exact in double and the
    * cosine thresholds compare bit-identically across engines. */
  private val oracleStopwords: String = Seq(
    "the", "a", "an", "of", "to", "in", "for", "on", "and", "or", "should",
    "be", "is", "are", "was", "were", "do", "does", "germany", "german",
    "germans", "its", "it", "this", "that", "with", "about", "more", "most",
    "der", "die", "das", "den", "dem", "des", "ein", "eine", "einen",
    "einem", "einer", "und", "oder", "soll", "sollte", "sollten", "ist",
    "sind", "war", "waren", "fuer", "mit", "ueber", "mehr", "sich",
    "machen", "werden", "wieder", "wollen", "will")
    .map(w => s"'$w'").mkString(",")

  private val oracleConceptsCte: String =
    """concepts AS (
      |  SELECT * FROM (VALUES
      |    ('atomkraft','nuclear'),('atomenergie','nuclear'),
      |    ('atomausstieg','nuclear'),('kernenergie','nuclear'),
      |    ('kernkraft','nuclear'),('nuclear','nuclear'),
      |    ('klima','climate'),('climate','climate'),
      |    ('tempolimit','speedlimit'),('speed','speedlimit'),
      |    ('migration','migration'),('einwanderung','migration'),
      |    ('zuwanderung','migration'),('immigration','migration'),
      |    ('asyl','asylum'),('asylum','asylum'),
      |    ('rente','pension'),('pension','pension'),('retirement','pension'),
      |    ('steuer','tax'),('tax','tax'),
      |    ('miete','housing'),('wohnung','housing'),('housing','housing'),
      |    ('verteidigung','defense'),('defense','defense'),
      |    ('defence','defense'),('bundeswehr','defense'),
      |    ('military','military'),
      |    ('wehrpflicht','conscription'),('wehrdienst','conscription'),
      |    ('conscription','conscription'),
      |    ('gesetz','law'),('law','law'),
      |    ('kraftwerk','plant'),('plant','plant'),
      |    ('verbot','ban'),('ban','ban'),
      |    ('ausstieg','phaseout'),('phase','phaseout'),
      |    ('abschaff','abolish'),('abolish','abolish'),
      |    ('ruckgangig','return'),('return','return'),
      |    ('energie','energy'),('energy','energy'),
      |    ('kohle','coal'),('coal','coal'),
      |    ('erneuerbar','renewable'),('renewable','renewable')
      |  ) AS c(key, concept))""".stripMargin

  /** Vectorizer CTE chain producing `<pfx>terms(<key>, term, w)` and
    * `<pfx>norms(<key>, nrm)` from `<src>(<key>, <textCol>)`. chr(223)
    * is 'ß' (kept out of the literal for encoding robustness). */
  private def oracleVecCtes(pfx: String, src: String, key: String,
                            textCol: String): String =
    s"""${pfx}raw AS (
       |  SELECT $key, unnest(regexp_split_to_array(
       |    strip_accents(replace(lower($textCol), chr(223), 'ss')),
       |    '[^a-z0-9]+')) AS raw
       |  FROM $src),
       |${pfx}tok AS (
       |  SELECT $key,
       |    CASE WHEN length(raw) > 3 AND raw LIKE '%s' AND raw NOT LIKE '%ss'
       |         THEN substr(raw, 1, length(raw) - 1) ELSE raw END AS tok
       |  FROM ${pfx}raw
       |  WHERE length(raw) >= 2 AND raw NOT IN ($oracleStopwords)),
       |${pfx}terms AS (
       |  SELECT $key, coalesce(c.concept, t.tok) AS term,
       |    sum(CASE WHEN c.concept IS NULL THEN 1.0 ELSE 2.0 END) AS w
       |  FROM ${pfx}tok t LEFT JOIN concepts c ON contains(t.tok, c.key)
       |  GROUP BY 1, 2),
       |${pfx}norms AS (
       |  SELECT $key, sqrt(sum(w * w)) AS nrm FROM ${pfx}terms GROUP BY $key)""".stripMargin

  /** Shared CTE chain for the q81/q116 oracles: the q27 MinHash pair
    * manifest closed transitively, yielding
    * `fam(doc_id, canonical_id, is_canonical)`. */
  private val q81FamilyCtes: String =
    """WITH RECURSIVE words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM words WHERE len(w) >= 3),
        |tok AS (SELECT doc_id,
        |  ('0x' || substr(md5(concat(0, ':', unnest(shingles))), 1, 15))::BIGINT
        |    % 2147483647 AS hb
        |  FROM sh),
        |seeds AS (SELECT * FROM (VALUES
        |  (0, 257, 911), (1, 643, 1213), (2, 1031, 1713), (3, 1543, 2389),
        |  (4, 2053, 3391), (5, 3079, 4441), (6, 4099, 5881), (7, 6151, 7121),
        |  (8, 8209, 9973), (9, 12289, 11939), (10, 16411, 14009),
        |  (11, 24593, 17327)) AS s(seed, a, b)),
        |hashes AS (
        |  SELECT doc_id, seed, min((hb * a + b) % 2147483647) AS mh
        |  FROM tok CROSS JOIN seeds GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, seed // 3 AS band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS key
        |  FROM hashes GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b
        |  FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
        |  WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0 /
        |      len(list_distinct(list_cat(x.shingles, y.shingles))) >= 0.8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |canon AS (
        |  SELECT src AS doc_id, least(src, min(dst)) AS canonical
        |  FROM reach GROUP BY src),
        |fam AS (
        |  SELECT d.doc_id,
        |    coalesce(c.canonical, d.doc_id) AS canonical_id,
        |    (coalesce(c.canonical, d.doc_id) = d.doc_id) AS is_canonical
        |  FROM documents d LEFT JOIN canon c USING (doc_id))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  count(*) AS cnt,
        |  round(sum(l_quantity), 2) / count(*) AS avg_qty,
        |  count(CASE WHEN l_quantity > 25 THEN 1 END) AS big_qty_cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_weighted_avg" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_quantity), 2) / round(sum(l_quantity), 2) AS wavg_price,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_top_customers" ->
      """SELECT c_custkey, c_name,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "q04_market_share" ->
      """WITH per_cust AS (
        |  SELECT c_mktsegment, c_custkey, round(sum(o_totalprice), 2) AS cust_rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment, c_custkey, cust_rev,
        |  cust_rev * 100.0 / round(sum(cust_rev) OVER (PARTITION BY c_mktsegment), 2) AS share_pct
        |FROM per_cust ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q05_lag_trend" ->
      """SELECT event_id, user_id, value, prev_value,
        |  round(value - prev_value, 2) AS delta
        |FROM (
        |  SELECT event_id, user_id, value,
        |    lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |WHERE prev_value IS NOT NULL ORDER BY event_id""".stripMargin,
    "q06_moving_avg" ->
      """SELECT event_id, user_id, value,
        |  round(sum(value) OVER w7, 2) / count(*) OVER w7 AS ma7,
        |  count(*) OVER w30 AS cnt30
        |FROM events
        |WINDOW
        |  w7 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |  w30 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q07_latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q08_nth_value" ->
      """SELECT user_id, value, prev_value FROM (
        |  SELECT user_id, value,
        |    nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS prev_value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q09_global_rank" ->
      """SELECT balance_rank, c_custkey, c_name, c_acctbal FROM (
        |  SELECT row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS balance_rank,
        |    c_custkey, c_name, c_acctbal
        |  FROM customer)
        |WHERE balance_rank <= 100 ORDER BY balance_rank""".stripMargin,
    "q10_semi_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q11_union_distinct" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |UNION
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q12_event_counts" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_distinct_pairs" ->
      """SELECT user_id, count(*) AS n_types
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.1), 4) AS p10,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_mode_tiebreak" ->
      """SELECT event_type, user_id, cnt FROM (
        |  SELECT event_type, user_id, cnt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id ASC) AS rn
        |  FROM (SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1, 2))
        |WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q16_recency_buckets" ->
      """SELECT user_id,
        |  count(CASE WHEN ts >= max_ts - INTERVAL 7 DAY THEN 1 END) AS cnt_7d,
        |  count(CASE WHEN ts >= max_ts - INTERVAL 30 DAY THEN 1 END) AS cnt_30d,
        |  count(*) AS cnt_all,
        |  max(ts) AS last_seen
        |FROM events CROSS JOIN (SELECT max(ts) AS max_ts FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_price_tiers" ->
      """WITH tiered AS (
        |  SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |              WHEN o_totalprice < 150000 THEN 'medium'
        |              WHEN o_totalprice < 300000 THEN 'large'
        |              ELSE 'jumbo' END AS tier,
        |         o_totalprice
        |  FROM orders),
        |agg AS (
        |  SELECT tier, count(*) AS cnt, round(sum(o_totalprice), 2) AS volume
        |  FROM tiered GROUP BY 1)
        |SELECT tier, cnt, volume,
        |  cnt * 100.0 / sum(cnt) OVER () AS share_pct
        |FROM agg ORDER BY tier""".stripMargin,
    "q18_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
        |  count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(quarter(o_orderdate) AS INT) AS o_quarter,
        |  CAST(month(o_orderdate) AS INT) AS o_month,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS volume
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q20_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  p_brand || '#' || p_type AS tag,
        |  replace(p_type, ' ', '_') AS type_slug,
        |  substr(p_name, 1, 8) AS name_prefix
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q21_poll_unpivot" ->
      """WITH stg AS (
        |  SELECT l_orderkey AS poll_id, o_custkey AS institute_id,
        |    o_orderdate AS poll_date, o_totalprice AS surveyed,
        |    'p' || l_linenumber AS party, sum(l_quantity) AS pct
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT poll_id, institute_id, poll_date, surveyed, party, pct,
        |  (pct >= 0 AND pct <= 100) AS pct_valid,
        |  CASE WHEN pct < 10 THEN 'fringe'
        |       WHEN pct < 25 THEN 'minor'
        |       WHEN pct < 45 THEN 'major'
        |       ELSE 'landslide' END AS quality_tier,
        |  sha256(concat_ws('|', poll_id, party,
        |    CAST(round(pct * 100, 0) AS BIGINT))) AS row_hash
        |FROM stg ORDER BY poll_id, party""".stripMargin,
    "q22_poll_trends" ->
      """WITH stg AS (
        |  SELECT l_orderkey AS poll_id, o_custkey AS institute_id,
        |    o_orderdate AS poll_date, 'p' || l_linenumber AS party,
        |    sum(l_quantity) AS pct
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3, 4),
        |fact AS (
        |  SELECT poll_id, party, c_name AS institute_name,
        |    c_mktsegment AS institute_group, pct,
        |    lag(pct, 1) OVER (PARTITION BY party, institute_id
        |      ORDER BY poll_date, poll_id) AS prev_pct,
        |    round(sum(pct) OVER (PARTITION BY party, institute_id
        |      ORDER BY poll_date, poll_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) /
        |    count(*) OVER (PARTITION BY party, institute_id
        |      ORDER BY poll_date, poll_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
        |  FROM stg JOIN customer ON institute_id = c_custkey)
        |SELECT poll_id, party, institute_name, institute_group, pct, prev_pct,
        |  round(pct - prev_pct, 2) AS delta, ma3,
        |  CASE WHEN prev_pct IS NULL THEN 'new'
        |       WHEN pct - prev_pct > 2.0 THEN 'up'
        |       WHEN pct - prev_pct < -2.0 THEN 'down'
        |       ELSE 'stable' END AS trend
        |FROM fact ORDER BY poll_id, party""".stripMargin,
    "q23_poll_standings" ->
      """WITH stg AS (
        |  SELECT l_orderkey AS poll_id, o_custkey AS institute_id,
        |    o_orderdate AS poll_date, 'p' || l_linenumber AS party,
        |    sum(l_quantity) AS pct
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3, 4),
        |mx AS (SELECT max(poll_date) AS max_date FROM stg),
        |cur AS (SELECT * FROM stg CROSS JOIN mx),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY party
        |    ORDER BY poll_date DESC, poll_id DESC) AS rn
        |  FROM cur),
        |latest AS (SELECT party, pct AS latest_pct, poll_date AS latest_date
        |  FROM ranked WHERE rn = 1),
        |previous AS (SELECT party, pct AS prev_pct FROM ranked WHERE rn = 2),
        |aggs AS (
        |  SELECT party, count(*) AS n_polls,
        |    count(DISTINCT institute_id) AS n_institutes,
        |    round(sum(pct) FILTER (WHERE poll_date >= max_date - INTERVAL 180 DAY), 2) /
        |      count(*) FILTER (WHERE poll_date >= max_date - INTERVAL 180 DAY) AS avg_180d,
        |    round(stddev_pop(pct) FILTER (WHERE poll_date >= max_date - INTERVAL 180 DAY), 4)
        |      AS volatility_180d
        |  FROM cur GROUP BY party),
        |joined AS (
        |  SELECT l.party, latest_pct, latest_date, prev_pct,
        |    n_polls, n_institutes, avg_180d, volatility_180d
        |  FROM latest l
        |  LEFT JOIN previous p ON l.party = p.party
        |  JOIN aggs a ON l.party = a.party)
        |SELECT row_number() OVER (ORDER BY latest_pct DESC, party ASC) AS rank,
        |  party, latest_pct, latest_date, prev_pct, n_polls, n_institutes,
        |  avg_180d, volatility_180d,
        |  latest_pct * 100.0 / round(sum(CASE WHEN latest_pct >= 10
        |    THEN latest_pct END) OVER (), 2) AS share_pct
        |FROM joined ORDER BY rank""".stripMargin,
    "q24_doc_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT * FROM documents WHERE doc_id % 5 = 0)
        |SELECT min(doc_id) AS doc_id, sha256(text) AS content_hash,
        |  count(*) AS dup_count, max(n_chars) AS n_chars
        |FROM corpus GROUP BY sha256(text) ORDER BY doc_id""".stripMargin,
    "q25_ann_cosine_topk" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, vec_id,
        |    list_dot_product(vec, qvec) /
        |      (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(qvec, qvec)))
        |      AS cosine
        |  FROM emb CROSS JOIN q WHERE vec_id <> query_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
        |SELECT query_id, rank, vec_id, cosine FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q26_ann_lsh" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
        |     CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
        |     CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END +
        |     CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END +
        |     CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END +
        |     CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END +
        |     CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, bucket AS qbucket
        |  FROM emb WHERE vec_id < 10),
        |scored AS (
        |  SELECT query_id, bucket, vec_id,
        |    list_dot_product(vec, qvec) /
        |      (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(qvec, qvec)))
        |      AS cosine
        |  FROM emb JOIN q ON bucket = qbucket AND vec_id <> query_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, vec_id ASC) AS rank FROM scored)
        |SELECT query_id, bucket, rank, vec_id, cosine FROM ranked
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q27_minhash_neardup" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM words WHERE len(w) >= 3),
        |tok AS (SELECT doc_id,
        |  ('0x' || substr(md5(concat(0, ':', unnest(shingles))), 1, 15))::BIGINT
        |    % 2147483647 AS hb
        |  FROM sh),
        |seeds AS (SELECT * FROM (VALUES
        |  (0, 257, 911), (1, 643, 1213), (2, 1031, 1713), (3, 1543, 2389),
        |  (4, 2053, 3391), (5, 3079, 4441), (6, 4099, 5881), (7, 6151, 7121),
        |  (8, 8209, 9973), (9, 12289, 11939), (10, 16411, 14009),
        |  (11, 24593, 17327)) AS s(seed, a, b)),
        |hashes AS (
        |  SELECT doc_id, seed, min((hb * a + b) % 2147483647) AS mh
        |  FROM tok CROSS JOIN seeds GROUP BY 1, 2),
        |bands AS (
        |  SELECT doc_id, seed // 3 AS band,
        |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS key
        |  FROM hashes GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  len(list_intersect(x.shingles, y.shingles)) * 1.0 /
        |    len(list_distinct(list_cat(x.shingles, y.shingles))) AS jaccard
        |FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
        |WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0 /
        |    len(list_distinct(list_cat(x.shingles, y.shingles))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q28_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(concat(99, ':', w)), 1, 15))::BIGINT AS h
        |  FROM toks),
        |bits AS (SELECT unnest(range(0, 60)) AS bit),
        |perbit AS (
        |  SELECT doc_id, bit,
        |    sum(CASE WHEN (h // CAST(pow(2, bit) AS BIGINT)) % 2 = 1
        |      THEN 1 ELSE -1 END) AS s
        |  FROM hashed CROSS JOIN bits GROUP BY 1, 2),
        |sim AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS simhash
        |  FROM perbit GROUP BY 1),
        |chunks AS (
        |  SELECT doc_id, simhash, c.chunk,
        |    (simhash // CAST(pow(2, c.chunk * 15) AS BIGINT)) % 32768 AS key
        |  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk) c),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
        |    b.doc_id AS doc_b, b.simhash AS sim_b
        |  FROM chunks a JOIN chunks b
        |    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
        |FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q29_token_stats" ->
      """WITH d AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_bpe,
        |    n_chars
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CAST(max(n_words) AS INT) AS max_words,
        |  CAST(sum(n_bpe) AS BIGINT) AS total_bpe,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  sum(n_words) * 1.0 / count(*) AS avg_words,
        |  sum(n_chars) * 1.0 / sum(n_words) AS chars_per_word
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q30_quality_langid" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS words,
        |    len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, n_chars, n_punct,
        |    CAST(len(words) AS INT) AS n_words,
        |    CAST(len(list_filter(words, w -> w IN ('the','and','of','to','in','a','is','that','for','it'))) AS INT) AS s_en,
        |    CAST(len(list_filter(words, w -> w IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS INT) AS s_de,
        |    CAST(len(list_filter(words, w -> w IN ('el','la','de','que','y','en','un','es','se','no'))) AS INT) AS s_es,
        |    CAST(len(list_filter(words, w -> w IN ('le','la','de','et','un','est','pour','que','dans','ce'))) AS INT) AS s_fr
        |  FROM d),
        |p AS (
        |  SELECT *,
        |    CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |         WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |         WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted_lang,
        |    s_en * 1.0 / n_words AS stop_ratio,
        |    n_punct * 1.0 / n_chars AS punct_ratio
        |  FROM s)
        |SELECT doc_id, lang, predicted_lang, n_words, s_en, s_de, s_es, s_fr,
        |  stop_ratio, punct_ratio,
        |  least(n_chars / 400.0, 1.0) * 0.5 + least(stop_ratio * 3.0, 1.0) * 0.3 +
        |    (CASE WHEN punct_ratio < 0.05 THEN 0.2 ELSE 0.0 END) AS quality_score,
        |  CASE WHEN least(n_chars / 400.0, 1.0) * 0.5 + least(stop_ratio * 3.0, 1.0) * 0.3 +
        |    (CASE WHEN punct_ratio < 0.05 THEN 0.2 ELSE 0.0 END) >= 0.75 THEN 'high'
        |       WHEN least(n_chars / 400.0, 1.0) * 0.5 + least(stop_ratio * 3.0, 1.0) * 0.3 +
        |    (CASE WHEN punct_ratio < 0.05 THEN 0.2 ELSE 0.0 END) >= 0.45 THEN 'medium'
        |       ELSE 'low' END AS quality_tier
        |FROM p ORDER BY doc_id""".stripMargin,
    "q32_claims_german" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderkey % 150 AS pct_int,
        |    o_custkey % 10 AS pct_dec, 1000 + o_orderkey % 9000 AS n_val
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |claims AS (
        |  SELECT o_orderkey AS poll_id, 0 AS claim_idx,
        |    pct_int + pct_dec / 10.0 AS claim_value,
        |    CAST(n_val AS INT) AS sample_n
        |  FROM base
        |  UNION ALL
        |  SELECT o_orderkey, 1, (pct_int % 50) + pct_dec / 10.0, CAST(n_val AS INT)
        |  FROM base WHERE o_orderkey % 3 = 0)
        |SELECT poll_id, claim_idx, claim_value, sample_n
        |FROM claims WHERE claim_value <= 120.0
        |ORDER BY poll_id, claim_idx""".stripMargin,
    "q33_sticky_merge" ->
      """WITH old AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 4 = 1 THEN 'kept'
        |         WHEN doc_id % 4 = 2 THEN 'rejected'
        |         ELSE 'pending' END AS old_status,
        |    [source] AS old_topics,
        |    CASE WHEN doc_id % 3 = 0 THEN 'note-' || doc_id END AS old_note,
        |    n_chars AS old_size
        |  FROM documents),
        |inc AS (
        |  SELECT doc_id AS id, 'pending' AS new_status,
        |    ['t' || (doc_id % 5)] AS new_topics,
        |    CASE WHEN doc_id % 6 = 0 THEN 'auto-note' END AS new_note,
        |    n_chars + 7 AS new_size
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 'pending', ['new'], NULL, n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT coalesce(o.id, i.id) AS id,
        |  CASE WHEN old_status = 'rejected' THEN 'rejected'
        |       WHEN old_status = 'kept' THEN 'kept'
        |       ELSE coalesce(new_status, old_status) END AS status,
        |  array_to_string(list_sort(list_distinct(list_cat(
        |    coalesce(old_topics, []), coalesce(new_topics, [])))), '|') AS topics,
        |  coalesce(old_note, new_note) AS review_note,
        |  coalesce(new_size, old_size) AS payload_size,
        |  (old_status IS NOT NULL AND new_status IS NOT NULL) AS was_merged
        |FROM old o FULL OUTER JOIN inc i ON o.id = i.id
        |ORDER BY id""".stripMargin,
    "q34_title_dedup" ->
      """WITH grams AS (
        |  SELECT p_partkey, p_brand, substr(lower(p_name), 1, 1) AS head,
        |    length(p_name) // 8 AS len_band,
        |    list_distinct(list_transform(range(1, length(lower(p_name)) - 1),
        |      i -> substr(lower(p_name), CAST(i AS INT), 3))) AS grams
        |  FROM part WHERE length(p_name) >= 3),
        |pairs AS (
        |  SELECT b.p_partkey AS key_b, a.p_partkey AS key_a,
        |    len(list_intersect(a.grams, b.grams)) * 1.0 /
        |      len(list_distinct(list_cat(a.grams, b.grams))) AS sim
        |  FROM grams a JOIN grams b
        |    ON a.p_brand = b.p_brand AND a.head = b.head
        |      AND a.len_band = b.len_band AND a.p_partkey < b.p_partkey),
        |flt AS (SELECT * FROM pairs WHERE sim >= 0.5),
        |best AS (SELECT *, row_number() OVER (PARTITION BY key_b
        |  ORDER BY sim DESC, key_a ASC) AS rn FROM flt)
        |SELECT key_b AS p_partkey, key_a AS dup_of, sim
        |FROM best WHERE rn = 1 ORDER BY p_partkey""".stripMargin,
    "q35_findings_dedup" ->
      """WITH keyed AS (
        |  SELECT *, CAST(round(value, 0) AS BIGINT) AS val_key FROM events),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, event_type, val_key
        |      ORDER BY value DESC, ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type, val_key) AS dup_count,
        |    min(event_id) OVER (PARTITION BY user_id, event_type, val_key) AS first_seen
        |  FROM keyed)
        |SELECT first_seen, user_id, event_type, event_id AS kept_event_id,
        |  value AS kept_value, dup_count
        |FROM ranked WHERE rn = 1 ORDER BY first_seen""".stripMargin,
    "q36_delete_insert" ->
      """WITH incoming AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.25 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |survivors AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |merged AS (SELECT * FROM survivors UNION ALL SELECT * FROM incoming)
        |SELECT o_orderstatus, count(*) AS cnt,
        |  count(DISTINCT o_orderkey) AS n_keys,
        |  round(sum(o_totalprice), 2) AS volume
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q37_jsonstat_decode" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |  CAST(month(l_shipdate) AS INT) AS ship_month,
        |  round(sum(l_quantity), 2) AS val
        |FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q38_poll_of_polls" ->
      """WITH stg AS (
        |  SELECT l_orderkey AS poll_id, o_orderdate AS poll_date,
        |    o_totalprice AS surveyed, 'p' || l_linenumber AS party,
        |    sum(l_quantity) AS pct
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3, 4),
        |mx AS (SELECT max(poll_date) AS today FROM stg),
        |weighted AS (
        |  SELECT *,
        |    pow(0.5, (date_diff('day', poll_date, today) / 365.25) / 3.0) *
        |      least(3.0, greatest(0.3, sqrt(surveyed / 1000.0))) AS w
        |  FROM stg CROSS JOIN mx)
        |SELECT party,
        |  round(sum(w * pct) / sum(w), 4) AS weighted_pct,
        |  min(pct) AS min_pct, max(pct) AS max_pct,
        |  count(*) AS n_findings,
        |  CAST(min(year(poll_date)) AS INT) AS min_year,
        |  CAST(max(year(poll_date)) AS INT) AS max_year,
        |  round(sum(surveyed), 2) AS total_sample
        |FROM weighted GROUP BY party ORDER BY party""".stripMargin,
    "q39_snapshot_diff" ->
      """WITH a AS (
        |  SELECT event_type, user_id % 10 AS cohort,
        |    round(sum(value), 2) / count(*) AS prev_value
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, user_id % 10 AS cohort,
        |    round(sum(value), 2) / count(*) AS cur_value
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1, 2)
        |SELECT coalesce(a.event_type, b.event_type) AS event_type,
        |  coalesce(a.cohort, b.cohort) AS cohort, prev_value, cur_value,
        |  round(cur_value - prev_value, 4) AS delta,
        |  CASE WHEN prev_value IS NULL THEN 'new'
        |       WHEN cur_value IS NULL THEN 'gone'
        |       WHEN abs(cur_value - prev_value) >= 5.0 THEN 'shift'
        |       ELSE 'stable' END AS status
        |FROM a FULL OUTER JOIN b
        |  ON a.event_type = b.event_type AND a.cohort = b.cohort
        |ORDER BY event_type, cohort""".stripMargin,
    "q40_unified_view" ->
      """WITH unified AS (
        |  SELECT 'customer' AS source, CAST(c_custkey AS BIGINT) AS entity_id,
        |    c_name AS name, CAST(c_nationkey AS INT) AS geo_key,
        |    CAST(NULL AS INT) AS size_attr, CAST(c_acctbal AS DOUBLE) AS acctbal
        |  FROM customer
        |  UNION ALL
        |  SELECT 'supplier', CAST(s_suppkey AS BIGINT), s_name,
        |    CAST(s_nationkey AS INT), NULL, s_acctbal FROM supplier
        |  UNION ALL
        |  SELECT 'part', CAST(p_partkey AS BIGINT), p_name, NULL,
        |    CAST(p_size AS INT), p_retailprice FROM part
        |  UNION ALL
        |  SELECT 'nation', CAST(n_nationkey AS BIGINT), n_name,
        |    CAST(n_regionkey AS INT), NULL, NULL FROM nation)
        |SELECT source, entity_id, name, geo_key, size_attr, acctbal,
        |  CASE WHEN source = 'nation' THEN 'geo'
        |       WHEN acctbal IS NULL THEN 'item'
        |       WHEN acctbal < 0 THEN 'account_negative'
        |       ELSE 'account' END AS entity_class,
        |  coalesce(nullif(name, ''), '(unnamed)') AS display_name,
        |  CAST(length(name) AS INT) AS name_len,
        |  geo_key IS NOT NULL AS has_geo
        |FROM unified ORDER BY source, entity_id""".stripMargin,
    "q41_catalog_argmax" ->
      """WITH ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn,
        |    max(ts) OVER (PARTITION BY user_id, event_type) AS last_ts
        |  FROM events),
        |latest AS (
        |  SELECT user_id, event_type, event_id AS last_event_id,
        |    value AS last_value, props AS last_props, last_ts
        |  FROM ranked WHERE rn = 1),
        |totals AS (
        |  SELECT user_id, event_type, count(*) AS n_events,
        |    round(sum(value), 2) AS total_value
        |  FROM events GROUP BY 1, 2)
        |SELECT l.user_id, l.event_type, last_event_id, last_value, last_props,
        |  last_ts, n_events, total_value
        |FROM latest l LEFT JOIN totals t
        |  ON l.user_id = t.user_id AND l.event_type = t.event_type
        |ORDER BY l.user_id, l.event_type""".stripMargin,
    "q42_hash_family" ->
      """SELECT p_partkey, sha256(p_name) AS sha_name,
        |  md5(concat_ws('|', p_brand, p_type)) AS md5_meta,
        |  ('0x' || substr(md5(concat(0, ':', p_name)), 1, 15))::BIGINT % 16
        |    AS shard_bucket
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q43_date_besteffort" ->
      """WITH built AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%d.%m.%Y')
        |         ELSE strftime(o_orderdate, '%m/%d/%Y') END AS raw_date
        |  FROM orders),
        |parsed AS (
        |  SELECT o_orderkey, raw_date,
        |    coalesce(try_strptime(raw_date, '%Y-%m-%d'),
        |             try_strptime(raw_date, '%d.%m.%Y'),
        |             try_strptime(raw_date, '%m/%d/%Y')) AS parsed
        |  FROM built)
        |SELECT o_orderkey, raw_date, parsed,
        |  strftime(parsed, '%Y%m') AS part_month,
        |  CAST(quarter(parsed) AS INT) AS q,
        |  date_diff('day', CAST(parsed AS DATE), DATE '2002-01-01') AS days_to_ref
        |FROM parsed ORDER BY o_orderkey""".stripMargin,
    "q44_array_family" ->
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  count(*) AS n_orders,
        |  CAST(len(list_filter(list(o_totalprice), x -> x > 200000)) AS INT) AS n_big,
        |  list_contains(list(DISTINCT o_orderstatus), 'F') AS has_f,
        |  array_to_string(list_sort(list(o_totalprice), 'DESC')[1:3], ',') AS top3
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q45_search_pipe" ->
      """WITH hits AS (
        |  SELECT p_partkey, p_name, 0 AS alt_idx, 'red' AS alt FROM part
        |  WHERE contains(lower(p_name), 'red')
        |  UNION ALL
        |  SELECT p_partkey, p_name, 1, 'blue' FROM part
        |  WHERE contains(lower(p_name), 'blue')
        |  UNION ALL
        |  SELECT p_partkey, p_name, 2, 'small' FROM part
        |  WHERE contains(lower(p_name), 'small'))
        |SELECT p_partkey, p_name, min(alt_idx) AS first_alt, count(*) AS n_alts,
        |  array_to_string(list_sort(list(DISTINCT alt)), ',') AS alts_matched
        |FROM hits GROUP BY 1, 2 ORDER BY p_partkey""".stripMargin,
    // q47: the semantic filter replayed end-to-end — the query
    // alternatives ('table scan' | 'hash join') run through the SAME
    // vectorizer CTEs as the corpus questions, a row scores by its best
    // alternative, threshold 0.35. Integer-valued weights make the dot
    // exact, so round(sim, 6) agrees bit-for-bit.
    "q47_semantic_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:6], ' ')
         |      AS question
         |  FROM documents),
         |dq AS (SELECT DISTINCT question FROM q),
         |$oracleConceptsCte,
         |${oracleVecCtes("", "dq", "question", "question")},
         |alts AS (SELECT * FROM (VALUES ('table scan'), ('hash join')) AS a(alt)),
         |${oracleVecCtes("a", "alts", "alt", "alt")},
         |sims AS (
         |  SELECT t.question, a.alt, sum(t.w * a.w) AS dot
         |  FROM terms t JOIN aterms a ON t.term = a.term
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT s.question, max(s.dot / (n.nrm * an.nrm)) AS sim
         |  FROM sims s JOIN norms n USING (question) JOIN anorms an USING (alt)
         |  GROUP BY s.question)
         |SELECT q.doc_id, q.question, round(b.sim, 6) AS sim
         |FROM q JOIN best b USING (question)
         |WHERE b.sim >= 0.35
         |ORDER BY sim DESC, q.doc_id""".stripMargin,
    "q48_topic_scoring" ->
      """WITH topics AS (
        |  SELECT * FROM (VALUES
        |    ('scans',   ['scan','table'],  ['read','page'],   []::VARCHAR[]),
        |    ('joins',   ['join','merge'],  ['hash','bucket'], ['broken']),
        |    ('sorting', ['sort','order'],  ['key'],           []::VARCHAR[]),
        |    ('tuning',  ['slow','fast'],   ['cache','spill'], ['vacuum']))
        |    AS t(topic_id, includes, synonyms, excludes)),
        |scored AS (
        |  SELECT doc_id, topic_id,
        |    list_filter(excludes, x -> contains(lower(text), x)) AS exc_matched,
        |    list_filter(includes, x -> contains(lower(text), x)) AS inc_matched,
        |    list_filter(synonyms, s -> contains(lower(text), s)
        |      AND NOT list_contains(includes, s)) AS syn_matched
        |  FROM documents CROSS JOIN topics),
        |final AS (
        |  SELECT doc_id, topic_id,
        |    CASE WHEN len(exc_matched) > 0 THEN 0.0
        |         ELSE least(0.4, 0.2 * len(inc_matched)) +
        |              least(0.2, 0.1 * len(syn_matched)) END AS score,
        |    inc_matched, syn_matched
        |  FROM scored)
        |SELECT doc_id, topic_id, score,
        |  CASE WHEN score >= 0.5 THEN 'assign' ELSE 'review' END AS route,
        |  'matched: ' || array_to_string(list_cat(inc_matched, syn_matched), ', ')
        |    AS rationale
        |FROM final WHERE score > 0.0 ORDER BY doc_id, topic_id""".stripMargin,
    "q49_eval_metrics" ->
      """WITH topics AS (
        |  SELECT * FROM (VALUES
        |    ('scans',   ['scan','table'],  ['read','page'],   []::VARCHAR[]),
        |    ('joins',   ['join','merge'],  ['hash','bucket'], ['broken']),
        |    ('sorting', ['sort','order'],  ['key'],           []::VARCHAR[]),
        |    ('tuning',  ['slow','fast'],   ['cache','spill'], ['vacuum']))
        |    AS t(topic_id, includes, synonyms, excludes)),
        |scored AS (
        |  SELECT doc_id, topic_id,
        |    len(list_filter(excludes, x -> contains(lower(text), x))) > 0 AS excluded,
        |    CASE WHEN len(list_filter(excludes, x -> contains(lower(text), x))) > 0 THEN 0.0
        |         ELSE least(0.4, 0.2 * len(list_filter(includes, x -> contains(lower(text), x)))) +
        |              least(0.2, 0.1 * len(list_filter(synonyms, s -> contains(lower(text), s)
        |                AND NOT list_contains(includes, s)))) END AS score,
        |    contains(lower(text), includes[1]) AS has_first
        |  FROM documents CROSS JOIN topics),
        |cls AS (
        |  SELECT topic_id,
        |    count(CASE WHEN score >= 0.3 AND (has_first AND NOT excluded) THEN 1 END) AS tp,
        |    count(CASE WHEN score >= 0.3 AND NOT (has_first AND NOT excluded) THEN 1 END) AS fp,
        |    count(CASE WHEN NOT score >= 0.3 AND (has_first AND NOT excluded) THEN 1 END) AS fn
        |  FROM scored GROUP BY 1)
        |SELECT topic_id, tp, fp, fn,
        |  tp * 1.0 / nullif(tp + fp, 0) AS precision,
        |  tp * 1.0 / nullif(tp + fn, 0) AS recall,
        |  2.0 * (tp * 1.0 / nullif(tp + fp, 0)) * (tp * 1.0 / nullif(tp + fn, 0)) /
        |    nullif((tp * 1.0 / nullif(tp + fp, 0)) + (tp * 1.0 / nullif(tp + fn, 0)), 0) AS f1
        |FROM cls ORDER BY topic_id""".stripMargin,
    "q50_rolling_stats" ->
      """SELECT event_id, user_id,
        |  round(stddev_pop(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 4) AS vol30,
        |  count(*) OVER (PARTITION BY user_id
        |    ORDER BY CAST(floor(date_part('epoch', ts)) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS cnt_1h
        |FROM events ORDER BY event_id""".stripMargin,
    "q51_hash_sample" ->
      """SELECT event_id, user_id, event_type, value
        |FROM (SELECT *,
        |  ('0x' || substr(md5(concat(5, ':', CAST(event_id AS VARCHAR))), 1, 15))::BIGINT AS h
        |  FROM events)
        |ORDER BY h ASC, event_id ASC LIMIT 100""".stripMargin,
    "q52_fulltext_html" ->
      """WITH built AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text
        |         ELSE '<p>' || text || '</p><a href="https://' || source ||
        |              '.example.org/d/' || doc_id || '">ref</a>' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN raw LIKE '<%' THEN 'html' ELSE 'text' END AS kind,
        |  CASE WHEN raw LIKE '<%'
        |    THEN regexp_extract(raw, 'https?://([^/"]+)', 1) END AS domain,
        |  CAST(length(trim(regexp_replace(raw, '<[^>]+>', ' ', 'g'))) AS INT)
        |    AS clean_len
        |FROM built
        |WHERE length(trim(regexp_replace(raw, '<[^>]+>', ' ', 'g'))) <= 20971520
        |ORDER BY doc_id""".stripMargin,
    "q53_llm_lenient" ->
      """WITH built AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE user_id % 5 WHEN 0 THEN 'dafür' WHEN 1 THEN 'dagegen'
        |      WHEN 2 THEN 'support' WHEN 3 THEN 'oppose'
        |      ELSE 'neutral' END AS stance,
        |    CAST(round(value / 5, 0) AS INT) AS pct_int,
        |    event_id % 2 = 0 AS grounded
        |  FROM events),
        |parsed AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN stance IN ('support', 'dafür', 'dafuer') THEN 'support'
        |         WHEN stance IN ('oppose', 'dagegen') THEN 'oppose'
        |         ELSE 'neutral' END AS position,
        |    least(100.0, greatest(0.0, CAST(pct_int AS DOUBLE))) AS pct,
        |    grounded
        |  FROM built)
        |SELECT event_id, position, pct, grounded,
        |  CASE WHEN grounded THEN 0.9 ELSE 0.3 END AS confidence,
        |  sum(pct) OVER (PARTITION BY user_id, event_type) <= 6000 AS dist_ok
        |FROM parsed ORDER BY event_id""".stripMargin,
    "q54_citation_follow" ->
      """WITH refs AS (
        |  SELECT o_custkey AS ref_id, 'order' AS via FROM orders
        |  UNION ALL
        |  SELECT l_suppkey + 2000, 'line' FROM lineitem),
        |known AS (
        |  SELECT c_custkey AS ref_id FROM customer WHERE c_custkey % 3 = 0
        |  UNION
        |  SELECT s_suppkey + 2000 FROM supplier WHERE s_suppkey % 2 = 0)
        |SELECT ref_id, count(*) AS n_citations, count(DISTINCT via) AS n_sources
        |FROM refs WHERE ref_id NOT IN (SELECT ref_id FROM known)
        |GROUP BY 1 ORDER BY n_citations DESC, ref_id ASC LIMIT 200""".stripMargin,
    "q55_doi_dedup" ->
      """WITH studies AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'doi-' || (doc_id % 40) END AS doi,
        |    source
        |  FROM documents),
        |doimin AS (SELECT doi, min(id) AS canonical_of_doi FROM studies
        |  WHERE doi IS NOT NULL GROUP BY 1),
        |redirected AS (
        |  SELECT s.id, coalesce(d.canonical_of_doi, s.id) AS canonical_id,
        |    coalesce(d.canonical_of_doi, s.id) <> s.id AS was_redirected,
        |    s.source, s.doi
        |  FROM studies s LEFT JOIN doimin d ON s.doi = d.doi)
        |SELECT canonical_id, count(*) AS n_merged,
        |  count(CASE WHEN was_redirected THEN 1 END) AS n_redirected,
        |  array_to_string(list_sort(list(DISTINCT source)), '|') AS sources,
        |  max(doi) AS doi
        |FROM redirected GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_ann_ivf" ->
      """WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |cent AS (
        |  SELECT label, list(m ORDER BY d) AS centroid
        |  FROM (SELECT label, d, avg(vec[d]) AS m
        |        FROM emb CROSS JOIN dims GROUP BY 1, 2)
        |  GROUP BY label),
        |q AS (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10),
        |probe AS (
        |  SELECT query_id, qvec, label FROM (
        |    SELECT q.query_id, q.qvec, c.label,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY
        |        list_sum(list_transform(range(1, 65),
        |          i -> (qvec[i] - centroid[i]) * (qvec[i] - centroid[i]))) ASC,
        |        c.label ASC) AS rn
        |    FROM q CROSS JOIN cent c) WHERE rn = 1),
        |cand AS (
        |  SELECT p.query_id, p.label, e.vec_id,
        |    list_dot_product(e.vec, p.qvec) /
        |      (sqrt(list_dot_product(e.vec, e.vec)) *
        |       sqrt(list_dot_product(p.qvec, p.qvec))) AS cosine
        |  FROM probe p JOIN emb e
        |    ON e.label = p.label AND e.vec_id <> p.query_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, vec_id ASC) AS rank FROM cand)
        |SELECT query_id, label, rank, vec_id, cosine FROM ranked
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q56_ilike_classify" ->
      """WITH built AS (
        |  SELECT p_partkey, p_type,
        |    (CASE WHEN p_partkey % 3 = 0 THEN 'Güteklasse '
        |          WHEN p_partkey % 3 = 1 THEN 'Maßarbeit '
        |          ELSE 'Größe ' END) || p_type AS label
        |  FROM part),
        |folded AS (
        |  SELECT *, translate(regexp_replace(lower(label), 'ß', 'ss', 'g'),
        |    'äöü', 'aou') AS folded
        |  FROM built)
        |SELECT p_partkey, label, folded,
        |  CASE WHEN label ILIKE '%güte%' THEN 'premium'
        |       WHEN label ILIKE '%maß%' THEN 'custom'
        |       WHEN folded ILIKE '%grosse%' THEN 'sized'
        |       ELSE 'standard' END AS rating,
        |  CASE WHEN p_type ILIKE '%anodized%' THEN 'coated'
        |       WHEN p_type ILIKE '%polished%' THEN 'finished'
        |       ELSE 'raw' END AS type_class
        |FROM folded ORDER BY p_partkey""".stripMargin,
    "q59_eval_full" ->
      """WITH built AS (
        |  SELECT event_id, event_type,
        |    event_id % 2 = 0 AS grounded,
        |    event_id % 7 <> 0 AS has_gold,
        |    event_id % 5 <> 0 AS captured,
        |    (event_id % 7 <> 0) AND (event_id % 3 <> 0) AS is_match
        |  FROM events)
        |SELECT event_type,
        |  count(*) AS n,
        |  count(CASE WHEN has_gold THEN 1 END) AS gold_n,
        |  count(CASE WHEN is_match THEN 1 END) AS matched,
        |  count(CASE WHEN captured THEN 1 END) AS capture_found,
        |  count(CASE WHEN NOT grounded THEN 1 END) AS hallucinated,
        |  count(CASE WHEN grounded THEN 1 END) AS conf_high,
        |  count(CASE WHEN grounded AND is_match THEN 1 END) AS conf_high_correct,
        |  CAST(count(CASE WHEN captured THEN 1 END) AS DOUBLE)
        |    / nullif(count(*), 0) AS capture_rate,
        |  CAST(count(CASE WHEN is_match THEN 1 END) AS DOUBLE)
        |    / nullif(count(*), 0) AS precision,
        |  CAST(count(CASE WHEN is_match THEN 1 END) AS DOUBLE)
        |    / nullif(count(CASE WHEN has_gold THEN 1 END), 0) AS recall,
        |  CAST(count(CASE WHEN NOT grounded THEN 1 END) AS DOUBLE)
        |    / nullif(count(*), 0) AS hallucination_rate,
        |  CAST(count(CASE WHEN grounded AND is_match THEN 1 END) AS DOUBLE)
        |    / nullif(count(CASE WHEN grounded THEN 1 END), 0) AS calibration_at_08
        |FROM built GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q60_snapshot_fuzzy" ->
      """WITH base AS (
        |  SELECT p_partkey, lower(p_name) AS name,
        |    CASE p_partkey % 3 WHEN 0 THEN 'support' WHEN 1 THEN 'oppose'
        |      ELSE 'neutral' END AS position,
        |    CASE WHEN p_partkey % 4 = 0 THEN 'ost' ELSE '' END AS population,
        |    CAST(p_partkey % 90 + 5 AS DOUBLE) AS pct_prev
        |  FROM part WHERE p_partkey % 5 = 0),
        |prev AS (
        |  SELECT p_partkey AS prev_key, position, population,
        |    pct_prev AS prev_pct,
        |    list_distinct(list_transform(range(1, length(name) - 1),
        |      i -> substr(name, CAST(i AS INT), 3))) AS pg
        |  FROM base WHERE p_partkey % 10 = 0),
        |cur AS (
        |  SELECT p_partkey AS cur_key, position, population,
        |    pct_prev + CASE WHEN p_partkey % 9 = 0 THEN 7.0 ELSE 1.0 END
        |      AS cur_pct,
        |    list_distinct(list_transform(range(1, length(name || ' neu') - 1),
        |      i -> substr(name || ' neu', CAST(i AS INT), 3))) AS cg
        |  FROM base),
        |pairs AS (
        |  SELECT c.cur_key, p.prev_key, p.prev_pct,
        |    len(list_intersect(c.cg, p.pg)) * 1.0 /
        |      len(list_distinct(list_cat(c.cg, p.pg))) AS sim
        |  FROM cur c JOIN prev p
        |    ON c.position = p.position AND c.population = p.population),
        |flt AS (SELECT * FROM pairs WHERE sim >= 0.72),
        |best AS (SELECT *, row_number() OVER (PARTITION BY cur_key
        |  ORDER BY sim DESC, prev_key ASC) AS rn FROM flt),
        |m AS (SELECT cur_key, prev_key, round(sim, 4) AS sim, prev_pct
        |  FROM best WHERE rn = 1)
        |SELECT c.cur_key, c.position, c.population, c.cur_pct,
        |  m.prev_key, m.sim, m.prev_pct,
        |  round(c.cur_pct - m.prev_pct, 1) AS delta,
        |  CASE WHEN m.prev_key IS NULL THEN 'new'
        |       WHEN abs(c.cur_pct - m.prev_pct) >= 5.0 THEN 'shift'
        |       ELSE 'stable' END AS status
        |FROM cur c LEFT JOIN m ON c.cur_key = m.cur_key
        |ORDER BY c.cur_key""".stripMargin,
    "q61_auto_review" ->
      """WITH built AS (
        |  SELECT doc_id,
        |    substr(text, 1, CAST(doc_id % 60 AS INT)) AS title,
        |    CASE WHEN doc_id % 3 = 0 THEN '' ELSE substr(text, 1, 30) END
        |      AS abstract,
        |    CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id % 3 + 1 AS INT)
        |      ELSE 0 END AS claims_count,
        |    CASE WHEN doc_id % 13 = 0 THEN NULL
        |      ELSE CAST(doc_id % 20 AS DOUBLE) / 100.0 END AS max_score
        |  FROM documents),
        |flags AS (
        |  SELECT *,
        |    length(coalesce(title, '') || coalesce(abstract, '')) AS text_len,
        |    coalesce(max_score, 0.0) AS score
        |  FROM built)
        |SELECT doc_id, claims_count, max_score, text_len,
        |  CASE WHEN claims_count > 0 THEN 'kept'
        |       WHEN score >= 0.1 THEN 'kept'
        |       WHEN text_len < 40 AND score < 0.05 THEN 'rejected'
        |       ELSE 'kept' END AS decision,
        |  CASE WHEN claims_count > 0
        |         THEN 'has ' || claims_count || ' quantitative claim(s)'
        |       WHEN score >= 0.1
        |         THEN 'topic score ' || printf('%.2f', score) ||
        |              ' near keep threshold'
        |       WHEN text_len < 40 AND score < 0.05
        |         THEN 'noise: score ' || printf('%.2f', score) ||
        |              ' and only ' || text_len || ' chars of text'
        |       ELSE 'coverage-first default (borderline, no disqualifier)'
        |  END AS rationale
        |FROM flags ORDER BY doc_id""".stripMargin,
    "q62_doi_normalize" ->
      """WITH built AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN '  '
        |         WHEN doc_id % 4 = 0 THEN 'https://doi.org/10.1515/d' || doc_id
        |         WHEN doc_id % 4 = 1 THEN 'doi:10.1515/d' || doc_id
        |         WHEN doc_id % 4 = 2 THEN '  10.1515/d' || doc_id || ' '
        |         ELSE 'HTTP://doi.org/10.1515/D' || doc_id END AS raw
        |  FROM documents),
        |normed AS (
        |  SELECT doc_id, raw,
        |    nullif(regexp_replace(trim(raw),
        |      '(?i)^(https?://doi\.org/|doi:)', ''), '') AS doi
        |  FROM built)
        |SELECT doc_id, raw, doi, doi IS NOT NULL AS has_doi,
        |  coalesce(doi LIKE '10.%', FALSE) AS is_bare
        |FROM normed ORDER BY doc_id""".stripMargin,
    "q63_status_rollup" ->
      """WITH studies AS (
        |  SELECT doc_id, source,
        |    CASE (doc_id // 20) % 4 WHEN 0 THEN 'scans' WHEN 1 THEN 'joins'
        |      WHEN 2 THEN 'sorting' ELSE 'tuning' END AS topic_id,
        |    CASE WHEN (doc_id // 20) % 10 < 7 THEN 'kept'
        |         WHEN (doc_id // 20) % 10 < 9 THEN 'pending'
        |         ELSE 'rejected' END AS status,
        |    (doc_id // 20) % 3 = 0 AS has_quant
        |  FROM documents),
        |per_st AS (
        |  SELECT source, topic_id,
        |    count(*) AS n_total,
        |    count(CASE WHEN status = 'kept' THEN 1 END) AS n_kept,
        |    count(CASE WHEN status = 'pending' THEN 1 END) AS n_pending,
        |    count(CASE WHEN status = 'rejected' THEN 1 END) AS n_rejected,
        |    count(CASE WHEN status = 'kept' AND has_quant THEN 1 END)
        |      AS n_quant_kept
        |  FROM studies GROUP BY 1, 2),
        |shared AS (
        |  SELECT *, CAST(n_kept AS DOUBLE) /
        |    CAST(sum(n_kept) OVER (PARTITION BY source) AS DOUBLE)
        |      AS kept_share_of_source
        |  FROM per_st),
        |runs AS (
        |  SELECT source,
        |    count(*) AS n_runs,
        |    count(CASE WHEN errors = 0 AND NOT aborted THEN 1 END) AS n_success,
        |    count(CASE WHEN errors > 0 OR aborted THEN 1 END) AS n_failed
        |  FROM (
        |    SELECT source,
        |      CASE WHEN (doc_id // 20) % 7 = 0 THEN 1 ELSE 0 END AS errors,
        |      ((doc_id // 20) % 9 = 0) AND
        |        (CASE WHEN (doc_id // 20) % 9 = 0 AND (doc_id // 20) % 2 = 0
        |              THEN 'aborted: 401' ELSE '' END LIKE 'aborted:%')
        |        AS aborted
        |    FROM documents)
        |  GROUP BY 1)
        |SELECT s.source, s.topic_id, s.n_total, s.n_kept, s.n_pending,
        |  s.n_rejected, s.n_quant_kept, s.kept_share_of_source,
        |  r.n_runs, r.n_success, r.n_failed
        |FROM shared s JOIN runs r ON s.source = r.source
        |ORDER BY s.source, s.topic_id""".stripMargin,
    "q64_gap_report" ->
      """WITH cut AS (SELECT max(year(ts)) - 3 AS stale_cut FROM events),
        |findings AS (
        |  SELECT event_type AS topic,
        |    'frage ' || (event_id % 25) AS cluster_label,
        |    'inst' || (CASE WHEN event_id % 25 = 7 THEN 0
        |                    ELSE user_id % 5 END) AS institute,
        |    CASE WHEN event_id % 11 = 0 THEN NULL
        |         ELSE year(ts) - (CASE WHEN event_id % 25 < 5 THEN 5
        |                               ELSE 0 END) END AS pub_year,
        |    (event_id % 4 <> 0) AND (event_id % 25 <> 9) AS has_pct
        |  FROM events),
        |agg AS (
        |  SELECT topic, cluster_label,
        |    count(*) AS n_findings,
        |    count(DISTINCT institute) AS n_institutes,
        |    max(pub_year) AS latest,
        |    count(CASE WHEN has_pct THEN 1 END) AS n_pct
        |  FROM findings GROUP BY 1, 2)
        |SELECT topic, cluster_label, n_findings, n_institutes, latest,
        |  coalesce(nullif(array_to_string(list_filter(ARRAY[
        |    CASE WHEN latest IS NULL THEN 'undated'
        |         WHEN latest < stale_cut
        |           THEN concat('stale (last ', latest, ')') END,
        |    CASE WHEN n_institutes = 1 THEN 'single source' END,
        |    CASE WHEN n_pct = 0 THEN 'no percentages' END],
        |    g -> g IS NOT NULL), ', '), ''), '—') AS gaps
        |FROM agg CROSS JOIN cut
        |ORDER BY topic, n_findings DESC, cluster_label""".stripMargin,
    "q65_embedding_neardup" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |all_v AS (
        |  SELECT vec_id, vec FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(vec, x -> x * 1.01)
        |  FROM base WHERE vec_id % 10 = 0
        |  UNION ALL
        |  SELECT vec_id + 200000, list_transform(vec, x -> -x)
        |  FROM base WHERE vec_id % 10 = 5),
        |bk AS (
        |  SELECT vec_id, vec,
        |    (CASE WHEN vec[1] > 0 THEN 1 ELSE 0 END +
        |     CASE WHEN vec[2] > 0 THEN 2 ELSE 0 END +
        |     CASE WHEN vec[3] > 0 THEN 4 ELSE 0 END +
        |     CASE WHEN vec[4] > 0 THEN 8 ELSE 0 END +
        |     CASE WHEN vec[5] > 0 THEN 16 ELSE 0 END +
        |     CASE WHEN vec[6] > 0 THEN 32 ELSE 0 END +
        |     CASE WHEN vec[7] > 0 THEN 64 ELSE 0 END +
        |     CASE WHEN vec[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |  FROM all_v),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
        |    list_dot_product(a.vec, b.vec) /
        |      (sqrt(list_dot_product(a.vec, a.vec)) *
        |       sqrt(list_dot_product(b.vec, b.vec))) AS c
        |  FROM bk a JOIN bk b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, bucket, round(c, 6) AS cosine
        |FROM pairs WHERE c >= 0.95 ORDER BY id_a, id_b""".stripMargin,
    "q31_fingerprint" ->
      """WITH normed AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, sha256(norm) AS content_hash,
        |  list_aggregate(list_transform(
        |    range(1, greatest(length(norm) - 7, 1) + 1),
        |    i -> ('0x' || substr(md5(concat(7, ':',
        |      substr(norm, CAST(i AS INT), 8))), 1, 15))::BIGINT),
        |    'min') AS min_gram_hash
        |FROM normed ORDER BY doc_id""".stripMargin,
    // q66: the oracle recomputes every candidate scalar straight from the
    // documents columns — in particular the reconstructed abstract must
    // equal the space-joined first-10-words prefix the inverted index was
    // built from.
    "q66_openalex_parse" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 10) AS words
        |  FROM documents
        |  WHERE doc_id % 17 <> 0)
        |SELECT doc_id,
        |  'https://openalex.org/W' || doc_id AS external_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'https://openalex.org/W' || doc_id
        |       ELSE 'https://doi.org/10.1000/g' || doc_id END AS canonical_url,
        |  CASE WHEN doc_id % 5 = 0 THEN 'Work ' || doc_id || ' D'
        |       ELSE 'Work ' || doc_id || ' T' END AS title,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE 'Journal ' || (doc_id % 13) END AS publisher,
        |  CASE WHEN doc_id % 4 = 0 THEN DATE '2023-05-17'
        |       WHEN doc_id % 4 = 1 THEN DATE '2022-11-01'
        |       WHEN doc_id % 4 = 2 THEN DATE '2021-01-01'
        |       WHEN 1950 + doc_id % 200 < 2100
        |         THEN make_date(CAST(1950 + doc_id % 200 AS INT), 1, 1)
        |       ELSE NULL END AS publication_date,
        |  CASE WHEN doc_id % 2 = 0 THEN 'de' ELSE NULL END AS language,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL
        |       ELSE array_to_string(words, ' ') END AS abstract,
        |  array_to_string(list_transform(range(1, CAST(2 + doc_id % 3 AS INT)),
        |    i -> 'Author ' || doc_id || '-' || i), '; ') AS authors_joined,
        |  CAST(doc_id % 7 AS INT) AS n_refs,
        |  5 AS n_topics,
        |  'kw1,kw2,kw3' AS keywords_joined
        |FROM d ORDER BY doc_id""".stripMargin,
    // q67: the at-scale clustering oracle (r10 ask) — vectorize the
    // distinct questions with the shared CTEs, build the cosine ≥ 0.72
    // edge list by all-pairs term join (exact: integer weights → exact
    // dot), label components by their min qid via BOUNDED min-label
    // propagation (r14: sixteen unrolled pointer-doubling rounds (plus
    // a one-extra-round convergence guard) replace the recursive-CTE
    // transitive closure, whose reach table grows quadratically in
    // component size and timed out >150 s at sf0.1 — the doubling step
    // l(v) ← min(l(v), l(l(v)), min_nbr l(nbr)) converges in
    // O(log diameter) rounds, so 16 rounds covers any component this
    // corpus can produce and DuckDB now finishes sf0.1
    // in seconds), renumber roots ascending (= first-appearance order,
    // since qid = min doc_id), and pick each cluster's
    // shortest-then-lexicographic phrasing as label.
    // q46: the GREEDY first-cluster-wins linkage, replayed ORDER-FREE
    // (r15 — closes the last sf0.1 rows-only cell). The sequential
    // semantics unfold to a fixpoint: cluster(i) = min over matched
    // earlier questions j of cluster(j), which by induction equals the
    // id of the MINIMUM-INDEX question reachable from i via a
    // strictly-DECREASING similarity path (that minimum is always a
    // creator — a question with no earlier match — and greedy assigns
    // creator ids in index order, so min cluster id = id of min-index
    // creator). min-index-over-decreasing-paths is the q67 doubling
    // fixpoint on the DIRECTED (later ← earlier) edge list:
    // l(v) ← min(l(v), l(l(v)), min_{j<v matched} l(j)), 16 unrolled
    // MATERIALIZED rounds + the one-extra-round convergence guard
    // (labels poison to NULL if unconverged — loud hash failure), then
    // dense_rank over the converged labels re-derives the global
    // creation-order numbering. The old recursive list-state CTE (the
    // only per-STEP faithful replay) needed >120 s at sf0.1; this
    // computes the same function in seconds because the fixpoint, not
    // the schedule, is the semantics. Vectorizer/cosine are the
    // q67/q47 shared CTEs.
    "q46_question_clusters" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:6], ' ')
         |      AS question
         |  FROM documents),
         |dq AS (SELECT question, min(doc_id) AS first_seen FROM q GROUP BY question),
         |ord AS (SELECT question,
         |  CAST(row_number() OVER (ORDER BY first_seen) AS INT) AS idx FROM dq),
         |$oracleConceptsCte,
         |${oracleVecCtes("", "ord", "idx", "question")},
         |sim AS MATERIALIZED (
         |  SELECT ia, ib FROM (
         |    SELECT a.idx AS ia, b.idx AS ib, sum(a.w * b.w) AS dot
         |    FROM terms a JOIN terms b ON a.term = b.term AND a.idx < b.idx
         |    GROUP BY 1, 2) e
         |  JOIN norms na ON na.idx = e.ia JOIN norms nb ON nb.idx = e.ib
         |  WHERE dot / (na.nrm * nb.nrm) >= 0.72),
         |g0 AS MATERIALIZED (SELECT idx, idx AS label FROM ord),
         |${(1 to 17).map { i =>
        s"""g$i AS MATERIALIZED (
           |  SELECT v.idx,
           |    least(least(v.label, lj.label),
           |          COALESCE(nb.m, v.label)) AS label
           |  FROM g${i - 1} v
           |  JOIN g${i - 1} lj ON lj.idx = v.label
           |  LEFT JOIN (SELECT e.ib, min(l.label) AS m
           |             FROM sim e JOIN g${i - 1} l ON l.idx = e.ia
           |             GROUP BY 1) nb ON nb.ib = v.idx)""".stripMargin
      }.mkString(",\n")},
         |gconv AS (SELECT count(*) AS moved FROM g16 a
         |  JOIN g17 b USING (idx) WHERE a.label <> b.label),
         |gfin AS (SELECT idx,
         |  CASE WHEN (SELECT moved FROM gconv) = 0 THEN label END AS label
         |  FROM g16),
         |asg AS (
         |  SELECT o.question,
         |    CAST(dense_rank() OVER (ORDER BY f.label) - 1 AS INT)
         |      AS cluster_id
         |  FROM ord o JOIN gfin f ON f.idx = o.idx),
         |lab AS (
         |  SELECT cluster_id, question AS cluster_label FROM (
         |    SELECT cluster_id, question,
         |      row_number() OVER (PARTITION BY cluster_id
         |                         ORDER BY length(question), question) AS rn
         |    FROM asg) WHERE rn = 1)
         |SELECT q.doc_id, q.question, a.cluster_id, lab.cluster_label
         |FROM q JOIN asg a USING (question) JOIN lab USING (cluster_id)
         |ORDER BY q.doc_id""".stripMargin,
    "q67_clusters_at_scale" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:6], ' ')
         |      AS question
         |  FROM documents),
         |dq AS (SELECT question, min(doc_id) AS qid FROM q GROUP BY question),
         |$oracleConceptsCte,
         |${oracleVecCtes("", "dq", "qid", "question")},
         |edges0 AS (
         |  SELECT a.qid AS qa, b.qid AS qb, sum(a.w * b.w) AS dot
         |  FROM terms a JOIN terms b ON a.term = b.term AND a.qid < b.qid
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT qa, qb FROM edges0
         |  JOIN norms na ON na.qid = qa JOIN norms nb ON nb.qid = qb
         |  WHERE dot / (na.nrm * nb.nrm) >= 0.72),
         |edges AS MATERIALIZED (SELECT qa AS src, qb AS dst FROM pairs
         |  UNION SELECT qb, qa FROM pairs),
         |v0 AS MATERIALIZED (SELECT qid, qid AS label FROM dq),
         |${(1 to 16).map { i =>
             // MATERIALIZED is load-bearing: each round references its
             // predecessor three times, and DuckDB's default CTE
             // inlining would expand the 16-round chain into 3^16 scans
             s"""v$i AS MATERIALIZED (
                |  SELECT v.qid,
                |    least(least(v.label, lj.label),
                |          COALESCE(nb.m, v.label)) AS label
                |  FROM v${i - 1} v
                |  JOIN v${i - 1} lj ON lj.qid = v.label
                |  LEFT JOIN (SELECT e.src AS nqid, min(l.label) AS m
                |             FROM edges e JOIN v${i - 1} l ON l.qid = e.dst
                |             GROUP BY 1) nb ON nb.nqid = v.qid)"""
               .stripMargin
           }.mkString(",\n")},
         |conv AS (SELECT count(*) AS moved FROM v15 a JOIN v16 b
         |  USING (qid) WHERE a.label <> b.label),
         |labels AS (
         |  SELECT d.question, d.qid,
         |    CASE WHEN (SELECT moved FROM conv) = 0 THEN v.label END
         |      AS label
         |  FROM dq d JOIN v16 v USING (qid)),
         |renum AS (
         |  SELECT root,
         |    CAST(row_number() OVER (ORDER BY root) - 1 AS INT) AS cluster_id
         |  FROM (SELECT DISTINCT label AS root FROM labels)),
         |assigned AS (
         |  SELECT l.question, r.cluster_id
         |  FROM labels l JOIN renum r ON l.label = r.root),
         |lab AS (
         |  SELECT cluster_id, question AS cluster_label FROM (
         |    SELECT cluster_id, question,
         |      row_number() OVER (PARTITION BY cluster_id
         |                         ORDER BY length(question), question) AS rn
         |    FROM assigned) WHERE rn = 1)
         |SELECT q.doc_id, q.question, a.cluster_id, lab.cluster_label
         |FROM q JOIN assigned a USING (question) JOIN lab USING (cluster_id)
         |ORDER BY q.doc_id""".stripMargin,
    // q68: every GovData._build_record rule recomputed straight from part —
    // id→name record-id fallback, name-or-id canonical url, the
    // license_title→license_id→default chain, organization title→name
    // publisher hint; %35 rows (id and name both absent) are skipped.
    "q68_govdata_parse" ->
      """SELECT
        |  CASE WHEN p_partkey % 7 <> 0 THEN 'id-' || p_partkey
        |       ELSE 'ds-' || p_partkey END AS source_record_id,
        |  'https://www.govdata.de/dataset/' ||
        |    CASE WHEN p_partkey % 5 <> 0 THEN 'ds-' || p_partkey
        |         ELSE 'id-' || p_partkey END AS canonical_url,
        |  CASE WHEN p_partkey % 3 = 2 THEN 'Lizenz ' || p_type
        |       WHEN p_partkey % 3 = 1 THEN 'lic-' || (p_partkey % 4)
        |       ELSE 'Data License Germany 2.0 (dl-de/by-2-0)' END AS license,
        |  p_name AS title_hint,
        |  CASE WHEN p_partkey % 2 <> 0 THEN 'Org ' || p_brand
        |       ELSE 'org-' || p_type END AS publisher_hint
        |FROM part
        |WHERE p_partkey % 35 <> 0
        |ORDER BY source_record_id""".stripMargin,
    // q69: every Eurobarometer._build_record rule recomputed from
    // documents — last-uri-segment record id (incl. trailing slash),
    // literal-only title, the three DOI forms plus no-DOI, license
    // default; blank-uri (%13) and empty-triples (%17) rows are skipped.
    "q69_eurobarometer_parse" ->
      """SELECT
        |  '1.9' || doc_id AS source_record_id,
        |  'https://data.gesis.org/datasearchkg/Dataset/10.4232/1.9' || doc_id
        |    || CASE WHEN doc_id % 19 = 0 THEN '/' ELSE '' END AS canonical_url,
        |  CASE WHEN doc_id % 4 = 3 THEN NULL
        |       ELSE '10.4232/1.9' || doc_id END AS doi,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN 'GESIS terms of use (Eurobarometer data archive)'
        |       ELSE 'https://www.gesis.org/lic/' || (doc_id % 5) END AS license,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL
        |       ELSE 'Eurobarometer Welle ' || doc_id END AS title_hint
        |FROM documents
        |WHERE doc_id % 13 <> 0 AND doc_id % 17 <> 0
        |ORDER BY source_record_id""".stripMargin,
    // q70: the oracle replays the counting-join shape — distinct word
    // bigrams over 30-word prefixes, first-3-words blocking, shared-gram
    // pair counts, Jaccard = shared/(na+nb-shared).
    "q70_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 30) AS words
        |  FROM documents
        |  WHERE len(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 30)) >= 2),
        |base AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(words, 1, 3), ' ') AS blk,
        |    list_distinct(list_transform(range(1, len(words)),
        |      i -> words[i] || ' ' || words[i + 1])) AS grams
        |  FROM w),
        |grams AS (SELECT doc_id, blk, UNNEST(grams) AS gram FROM base),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM grams a JOIN grams b ON a.blk = b.blk AND a.gram = b.gram
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
        |FROM shared
        |JOIN (SELECT doc_id, len(grams) AS n FROM base) na ON doc_a = na.doc_id
        |JOIN (SELECT doc_id, len(grams) AS n FROM base) nb ON doc_b = nb.doc_id
        |WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q71: the sampling arithmetic replayed on the media metadata — videos
    // are doc_id % 3 = 2 (kind index 3), duration_ms = n_chars * 10,
    // frames at 0, 5000, … ≤ duration.
    "q71_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  (n_chars * 10) // 5000 + 1 AS n_frames,
        |  ((n_chars * 10) // 5000) * 5000 AS last_ts
        |FROM documents
        |WHERE doc_id % 3 = 2
        |ORDER BY media_id""".stripMargin,
    // q72: the streamed re-delivery is an exact copy of rows already in
    // the slice, keyed by event_id, so post-dedup state == the slice and
    // the whole streaming pipeline collapses to one batch DISTINCT in the
    // oracle's eyes (the streaming machinery itself — watermark, state
    // store, exactly-once sink — is what the Spark side exercises).
    "q72_streaming_dedup" ->
      """SELECT event_id, event_type, value
        |FROM events
        |WHERE event_id % 20 = 0
        |ORDER BY event_id""".stripMargin,
    // q73: the oracle counts the classic way (unnest + GROUP BY + max);
    // the Spark side computes the same frequencies as longest-equal-run
    // over the sorted array, map-side. Most-common-item frequency ==
    // longest run after sorting, and every ratio is an int/int division,
    // so both engines agree bit-for-bit.
    "q73_repetition_signals" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, words,
        |    CAST(len(words) AS INT) AS n_words,
        |    CAST(len(list_distinct(words)) AS INT) AS n_distinct,
        |    list_transform(range(1, len(words)),
        |      i -> words[i] || ' ' || words[i + 1]) AS bigrams
        |  FROM d),
        |tw AS (
        |  SELECT doc_id, CAST(max(cnt) AS INT) AS top_word_count FROM (
        |    SELECT doc_id, w, count(*) AS cnt
        |    FROM (SELECT doc_id, unnest(words) AS w FROM s)
        |    GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |tb AS (
        |  SELECT doc_id, CAST(max(cnt) AS INT) AS top_bigram_count FROM (
        |    SELECT doc_id, b, count(*) AS cnt
        |    FROM (SELECT doc_id, unnest(bigrams) AS b FROM s)
        |    GROUP BY doc_id, b)
        |  GROUP BY doc_id)
        |SELECT s.doc_id, n_words, n_distinct,
        |  (n_words - n_distinct) * 1.0 / n_words AS dup_word_frac,
        |  top_word_count,
        |  top_word_count * 1.0 / n_words AS top_word_frac,
        |  top_bigram_count,
        |  top_bigram_count * 1.0 / greatest(n_words - 1, 1) AS top_bigram_frac,
        |  ((n_words - n_distinct) * 1.0 / n_words <= 0.55
        |    AND top_bigram_count * 1.0 / greatest(n_words - 1, 1) <= 0.10) AS keep
        |FROM s
        |JOIN tw ON s.doc_id = tw.doc_id
        |JOIN tb ON tb.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "q74_pii_scrub" ->
      """WITH built AS (
        |  SELECT c_custkey AS cust_id,
        |    CASE WHEN c_custkey % 3 = 0 THEN
        |      'ticket from ' || c_name || ' reach me at user' || c_custkey ||
        |      '@mail-' || (c_custkey % 5) || '.example.com thanks'
        |    WHEN c_custkey % 3 = 1 THEN
        |      'call ' || c_name || ' on +49-30-' ||
        |      lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |      (CASE WHEN c_custkey % 7 = 1 THEN
        |        ' or ' || lower(c_mktsegment) || '.desk@support.example.org'
        |       ELSE '' END) || ' after hours'
        |    ELSE 'no contact info for segment ' || c_mktsegment END AS text
        |  FROM customer)
        |SELECT cust_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\+[0-9]{1,3}-[0-9]{1,4}-[0-9]{3,6}')) AS INT) AS n_phones,
        |  (len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}'))
        |    + len(regexp_extract_all(text, '\+[0-9]{1,3}-[0-9]{1,4}-[0-9]{3,6}'))
        |    > 0) AS has_pii,
        |  regexp_replace(regexp_replace(text,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{1,4}-[0-9]{3,6}', '<PHONE>', 'g') AS redacted
        |FROM built
        |ORDER BY cust_id""".stripMargin,
    // q75: the keep decision replays the portable md5 bucket exactly; the
    // rates CASE mirrors Corpus.keepRate.
    "q75_mixture_sample" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    ('0x' || substr(md5(concat(75, ':', doc_id)), 1, 15))::BIGINT
        |      % 1000 AS bucket,
        |    CASE lang WHEN 'en' THEN 350 WHEN 'de' THEN 800
        |      WHEN 'es' THEN 600 WHEN 'fr' THEN 500 WHEN 'zh' THEN 900
        |      ELSE 250 END AS rate
        |  FROM documents)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  count(*) FILTER (WHERE bucket < rate) AS n_kept,
        |  any_value(rate) * 1.0 / 1000 AS target_rate,
        |  count(*) FILTER (WHERE bucket < rate) * 1.0 / count(*) AS kept_frac,
        |  CAST(coalesce(sum(CASE WHEN bucket < rate THEN n_chars ELSE 0 END),
        |    0) AS BIGINT) AS chars_kept
        |FROM d GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // q76: per-language corpus term frequencies joined back onto the token
    // stream — all integer counts, exact int/int division.
    "q76_rarity_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |lm AS (SELECT lang, w, count(*) AS wc FROM toks GROUP BY 1, 2),
        |sc AS (
        |  SELECT t.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT t.w) AS BIGINT) AS vocab_seen,
        |    CAST(sum(wc) AS BIGINT) AS sum_freq,
        |    CAST(min(wc) AS BIGINT) AS min_freq
        |  FROM toks t JOIN lm ON t.lang = lm.lang AND t.w = lm.w
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, vocab_seen, sum_freq, min_freq,
        |  sum_freq * 1.0 / n_tokens AS avg_freq,
        |  CASE WHEN sum_freq * 1.0 / n_tokens < 1300 THEN 'rare'
        |    WHEN sum_freq * 1.0 / n_tokens < 2000 THEN 'mid'
        |    ELSE 'common' END AS rarity_tier
        |FROM sc
        |ORDER BY doc_id""".stripMargin,
    // q77: DuckDB replays the packing as the plain one-level per-language
    // cumulative sum; the Spark side computes the identical offsets with
    // the chunked two-phase scan (see Corpus.q77SequencePack scaladoc).
    "q77_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT *,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS seq_offset
        |  FROM d)
        |SELECT doc_id, lang, n_tokens, seq_offset,
        |  CAST(seq_offset // 512 AS BIGINT) AS first_seq,
        |  CAST((seq_offset + n_tokens - 1) // 512 AS BIGINT) AS last_seq,
        |  CAST((seq_offset + n_tokens - 1) // 512 - seq_offset // 512 + 1
        |    AS BIGINT) AS n_seqs
        |FROM o
        |ORDER BY doc_id""".stripMargin,
    // q78: the oracle replays the cap as the one-level per-source window;
    // the Spark side's salted two-phase top-k provably selects the same
    // survivors and ranks (total (bucket, doc_id) tie-break).
    "q78_source_cap" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(concat(78, ':', doc_id)), 1, 15))::BIGINT
        |      % 1000000 AS bucket
        |  FROM documents),
        |rk AS (
        |  SELECT source, doc_id, bucket,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY bucket, doc_id) AS INT) AS rank
        |  FROM ranked)
        |SELECT source, rank, doc_id, bucket
        |FROM rk WHERE rank <= 40
        |ORDER BY source, rank""".stripMargin,
    // q79: distinct 7-word shingles, probe/train split on doc_id % 97,
    // one gram equi-join, left join keeps zero-leak probes.
    "q79_decontaminate" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 5),
        |    i -> ('0x' || substr(md5(concat('79:',
        |      w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |      || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6])), 1, 15))
        |      ::BIGINT))) AS gram
        |  FROM words WHERE len(w) >= 7),
        |probe AS (SELECT doc_id AS probe_doc, gram FROM g WHERE doc_id % 97 = 0),
        |train AS (SELECT doc_id AS train_doc, gram FROM g WHERE doc_id % 97 != 0),
        |hits AS (
        |  SELECT probe_doc,
        |    CAST(count(DISTINCT gram) AS BIGINT) AS n_leaked_grams,
        |    CAST(count(DISTINCT train_doc) AS BIGINT) AS n_train_docs
        |  FROM probe JOIN train USING (gram)
        |  GROUP BY probe_doc)
        |SELECT p.probe_doc,
        |  CAST(count(*) AS BIGINT) AS n_probe_grams,
        |  coalesce(any_value(h.n_leaked_grams), 0) AS n_leaked_grams,
        |  coalesce(any_value(h.n_train_docs), 0) AS n_train_docs,
        |  coalesce(any_value(h.n_leaked_grams), 0) * 1.0 / count(*)
        |    AS leak_frac
        |FROM probe p LEFT JOIN hits h ON p.probe_doc = h.probe_doc
        |GROUP BY p.probe_doc
        |ORDER BY p.probe_doc""".stripMargin,
    // q80: identical per-element IEEE754 double expression tree — the
    // only aggregations are integer sums/counts (order-exact).
    "q80_quantize_int8" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |    CAST(list_max(embedding) AS DOUBLE) AS vmax
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CAST(len(embedding) AS INT) AS dim,
        |    list_transform(embedding, v -> CASE WHEN vmax = vmin THEN 0
        |      ELSE CAST(least(greatest(floor((CAST(v AS DOUBLE) - vmin)
        |        * 255.0 / (vmax - vmin)), 0.0), 255.0) AS INT) END) AS q
        |  FROM base)
        |SELECT vec_id, dim,
        |  CAST(list_min(q) AS INT) AS qmin,
        |  CAST(list_max(q) AS INT) AS qmax,
        |  CAST(list_sum(q) AS BIGINT) AS qsum,
        |  CAST(len(list_filter(q, x -> x = 0)) AS INT) AS n_sat_low,
        |  CAST(len(list_filter(q, x -> x = 255)) AS INT) AS n_sat_high
        |FROM qz
        |ORDER BY vec_id""".stripMargin,
    // q81: the q27 pair chain closed transitively with a recursive CTE
    // (sparse near-dup graph → the closure is small), canonical = the
    // component minimum — exactly ccMinLabels' fixed point. The CTE
    // chain is shared with q116 (leakage split over the same families).
    "q81_dedup_survivors" ->
      s"""$q81FamilyCtes
        |SELECT doc_id, canonical_id, is_canonical FROM fam
        |ORDER BY doc_id""".stripMargin,
    // q116: the family-grain 90/10 hash split — same md5-60bit idiom as
    // q51, applied to the CANONICAL id so a near-dup family can never
    // straddle train and eval.
    "q116_leakage_split" ->
      s"""$q81FamilyCtes
        |SELECT doc_id, canonical_id,
        |  CASE WHEN ('0x' || substr(md5(concat(116, ':',
        |      CAST(canonical_id AS VARCHAR))), 1, 15))::BIGINT % 100 < 90
        |    THEN 'train' ELSE 'eval' END AS split
        |FROM fam ORDER BY doc_id""".stripMargin,
    // q82: the oracle recomputes the compaction window analytically; the
    // Spark side additionally proves the rewrite round-trip (write the
    // compacted table, read it back) preserves the state exactly.
    "q82_compaction" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // q83: the oracle replays the shard layout with ONE global window in
    // the same md5-hash order (the q81/q75 portable-hash idiom); Spark's
    // bucketed two-phase cumulative sum reaches the identical cum_before
    // because the hash's top bits give contiguous ranges of that order.
    "q83_shard_assign" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    ('0x' || substr(md5(concat('83:', CAST(doc_id AS VARCHAR))), 1, 15))
        |      ::BIGINT AS h
        |  FROM documents),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM d),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM d)
        |SELECT c.doc_id, c.n_tokens,
        |  CAST(least(15, c.cum_before // CAST(ceil(t.total * 1.0 / 16) AS BIGINT))
        |    AS INT) AS shard_id
        |FROM c, t
        |ORDER BY c.doc_id""".stripMargin,
    // q84: 8-word grams in >=2 distinct docs mark their spans; cleaned
    // text = uncovered words rejoined. 0-based positions both sides.
    "q84_span_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(range(0, len(w) - 7)) AS pos
        |  FROM words WHERE len(w) >= 8),
        |gr AS (
        |  SELECT g.doc_id, g.pos,
        |    ('0x' || substr(md5(concat('84:',
        |      w[pos+1]||' '||w[pos+2]||' '||w[pos+3]||' '||w[pos+4]||' '||
        |      w[pos+5]||' '||w[pos+6]||' '||w[pos+7]||' '||w[pos+8])), 1, 15))
        |      ::BIGINT AS gh
        |  FROM g JOIN words USING (doc_id)),
        |dup AS (
        |  SELECT gh FROM gr GROUP BY gh
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (
        |  SELECT doc_id,
        |    CAST(count(DISTINCT gh) AS BIGINT) AS n_dup_grams,
        |    list_distinct(flatten(list(
        |      [pos, pos+1, pos+2, pos+3, pos+4, pos+5, pos+6, pos+7])))
        |      AS covered
        |  FROM gr JOIN dup USING (gh)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(d.w) AS INT) AS n_words,
        |  coalesce(h.n_dup_grams, 0) AS n_dup_grams,
        |  CAST(coalesce(len(h.covered), 0) AS INT) AS n_removed,
        |  coalesce(array_to_string(list_filter(
        |    list_transform(range(0, len(d.w)),
        |      i -> CASE WHEN h.covered IS NOT NULL AND list_contains(h.covered, i)
        |                THEN NULL ELSE d.w[i+1] END),
        |    x -> x IS NOT NULL), ' '), '') AS clean_text
        |FROM words d LEFT JOIN hits h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q85: BM25 top-20 for the fixed query; same algebraic tree as the
    // Spark expression (ln form, double literals) and scores rounded to 4
    // decimals BEFORE ordering so the cut is FP-stable.
    "q85_bm25" -> bm25OracleSql("", "documents", Retrieval.QueryTerms),
    // q86: 8h-gap sessionization; gap and duration arithmetic on
    // microsecond integers (epoch_us ≡ Spark's unix_micros), never float
    // epochs, so the session split is bit-identical.
    "q86_sessionize" -> q86SessionizeOracleSql,
    // q170: the SAME oracle text verbatim — the bucketed form's whole
    // contract is value-identity with plain sessionize (the skew
    // mitigation changes the plan, never the answer), so the hash gate
    // compares both implementations against one oracle.
    "q170_bucketed_sessions" -> q86SessionizeOracleSql,
    // q171–q174: every lex oracle opens with the lexdocs CTE — the ONE
    // corpus arithmetic (operators/Lexicon.textSql) through the DuckDB
    // renderer, so the synthetic heavy-tailed corpus replays exactly.
    "q171_lex_profile" -> q171OracleSql,
    "q172_lex_bpe_train" ->
      bpeTrainOracleSql(operators.Lexicon.lexDocsCte, "lexdocs"),
    "q173_lex_bm25" ->
      bm25OracleSql(operators.Lexicon.lexDocsCte, "lexdocs",
        operators.Lexicon.LexQueryTerms),
    "q174_lex_rarity" -> q174OracleSql,
    "q175_lex_heaps" -> q175OracleSql,
    "q176_lex_langid" -> q176OracleSql(),
    "q177_lex_gopher" -> q177OracleSql,
    "q178_lex_pipeline" -> corpusPipelineOracleSql(
      operators.Lexicon.lexDocsCte, "lexdocs",
      Some(operators.Lexicon.LexStops)),
    "q179_lex_drift" -> q179OracleSql,
    "q180_lex_bpe_bylang" -> bpeTrainByLangOracleSql(
      operators.Lexicon.multiLexDocsCte, "mlexdocs", 8),
    "q181_lex_bpe_encode" -> bpeEncodeByLangOracleSql(
      operators.Lexicon.multiLexDocsCte, "mlexdocs", 8),
    // q182/q183: the tokenizer-artifact lifecycle — train on the base
    // split, encode today's batch against the stored model (q183's
    // encode chain replays the stored merges on the batch vocabulary).
    "q182_lex_bpe_store" -> bpeTrainByLangOracleSql(
      operators.Lexicon.multiLexDocsCteNamed("mbase", "doc_id % 10 != 0"),
      "mbase", 8),
    "q183_lex_bpe_encode_store" -> bpeEncodeFromStoreOracleSql(
      operators.Lexicon.multiLexDocsCteNamed("mbase", "doc_id % 10 != 0"),
      operators.Lexicon.multiLexDocsCteNamed("mdelta", "doc_id % 10 = 0"),
      "mbase", "mdelta", 8),
    "q184_lex_mix_pack" -> q184OracleSql,
    "q185_lex_langid_abstain" -> q176OracleSql(abstain = true),
    "q186_lex_mix_pack_bpe" -> q186OracleSql,
    "q187_multilex_pipeline" -> q187OracleSql,
    "q188_lex_stream_token_meter" -> q188OracleSql,
    // q87: strict ordered funnel, each step within 24h of the previous;
    // pure timestamp comparisons at microsecond precision.
    "q87_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts > t1
        |    AND e.ts <= t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t2
        |    AND e.ts <= t2 + INTERVAL 24 HOUR GROUP BY e.user_id),
        |s4 AS (
        |  SELECT e.user_id, min(e.ts) AS t4 FROM events e JOIN s3 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t3
        |    AND e.ts <= t3 + INTERVAL 24 HOUR GROUP BY e.user_id)
        |SELECT CAST(1 AS INT) AS step, 'signup' AS event_type,
        |  (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
        |ORDER BY step""".stripMargin,
    // q88: native session_window semantics — CLOSED intervals (boundary
    // events exactly gap apart merge; split on > gap, the same rule as
    // q86 — SessionsSpec pins it); session_end is last event + gap.
    // Split arithmetic on microsecond integers.
    "q88_session_window" ->
      """WITH f AS (
        |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > CAST(28800 AS BIGINT) * 1000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
        |  FROM f)
        |SELECT user_id,
        |  min(ts) AS session_start,
        |  max(ts) + INTERVAL 8 HOUR AS session_end,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, seq ORDER BY user_id, session_start""".stripMargin,
    // q89: as-of (most recent strictly-earlier view value per purchase);
    // purchases sort before views on ts ties so a same-instant view never
    // matches — identical tiebreak in the Spark window.
    "q89_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN event_type = 'view' THEN value END AS vv,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |w AS (
        |  SELECT *, last_value(vv IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, isp DESC, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_value
        |  FROM u)
        |SELECT user_id, event_id, ts, value AS purchase_value, prior_view_value
        |FROM w WHERE isp = 1 ORDER BY user_id, event_id""".stripMargin,
    // q90: 48-token windows every 32 tokens; chunk hash = md5 of the
    // rejoined window text (strings compare exactly; no floats anywhere).
    "q90_chunking" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, w, unnest(range(0, len(w), 32)) AS chunk_start
        |  FROM words)
        |SELECT doc_id,
        |  CAST(chunk_start // 32 AS INT) AS chunk_id,
        |  CAST(chunk_start AS INT) AS chunk_start,
        |  CAST(len(list_slice(w, chunk_start + 1, chunk_start + 48)) AS INT) AS n_tokens,
        |  md5(array_to_string(list_slice(w, chunk_start + 1, chunk_start + 48), ' ')) AS chunk_hash
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,
    // q91: temperature-α=0.5 mixture targets (budget 40% of the corpus,
    // weights ∝ n^0.5) realized by the portable 60-bit md5 hash threshold
    // in parts-per-million — integer keep decision, rounded-double plan.
    "q91_temperature_mix" ->
      """WITH by_source AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |    sum(power(CAST(n_docs AS DOUBLE), 0.5)) AS w_sum
        |  FROM by_source),
        |plan AS (
        |  SELECT source, n_docs,
        |    power(CAST(n_docs AS DOUBLE), 0.5) / w_sum AS share,
        |    CAST(round(round(n_total * 0.4, 0) *
        |      (power(CAST(n_docs AS DOUBLE), 0.5) / w_sum), 0) AS BIGINT) AS target
        |  FROM by_source CROSS JOIN tot),
        |plan2 AS (
        |  SELECT *, least(CAST(1000000 AS BIGINT),
        |    CAST(round(1000000.0 * target / n_docs, 0) AS BIGINT)) AS thr
        |  FROM plan),
        |kept AS (
        |  SELECT d.source,
        |    CASE WHEN ('0x' || substr(md5(concat('91:', CAST(d.doc_id AS VARCHAR))), 1, 15))::BIGINT
        |      % 1000000 < p.thr THEN 1 ELSE 0 END AS k
        |  FROM documents d JOIN plan2 p USING (source))
        |SELECT p.source, p.n_docs, round(p.share, 6) AS share, p.target,
        |  (SELECT CAST(sum(k) AS BIGINT) FROM kept WHERE kept.source = p.source) AS n_kept
        |FROM plan2 p ORDER BY p.source""".stripMargin,
    // q92: the batch sessionization of the %5 slice (same > gap split as
    // q86/q88) restricted to the sessions append mode FLUSHES — those
    // whose end (last event + 8h) is at or before the slice's max event
    // time, the zero-delay watermark after the final no-data batch.
    "q92_streaming_sessions" ->
      """WITH e AS (
        |  SELECT * FROM events WHERE event_id % 5 = 0),
        |f AS (
        |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > CAST(28800 AS BIGINT) * 1000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
        |  FROM f),
        |sess AS (
        |  SELECT user_id,
        |    min(ts) AS session_start,
        |    max(ts) + INTERVAL 8 HOUR AS session_end,
        |    count(*) AS n_events,
        |    round(sum(value), 2) AS total_value
        |  FROM s GROUP BY user_id, seq)
        |SELECT user_id, session_start, session_end, n_events, total_value
        |FROM sess WHERE session_end <= (SELECT max(ts) FROM e)
        |ORDER BY user_id, session_start""".stripMargin,
    // q93: the oracle states the PDF round-trip INVARIANT from the base
    // table (extraction == source text); any Spark-side parser
    // regression breaks pdf_ok / clean_len and the hash.
    "q93_pdf_extract" ->
      """SELECT doc_id, true AS pdf_ok,
        |  CAST(length(text) AS INT) AS clean_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q57: the stub featurizer's multiplicative byte hash is itself
    // deterministic, so the oracle replays it — HUGEINT arithmetic mod
    // 2^64 reproduces JVM long wrapping exactly (payloads are ASCII, so
    // unsigned ord == the signed JVM byte), and f0 = (low byte - 128)/128
    // is exact in float and double alike.
    "q57_multimodal" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    text, n_chars
        |  FROM documents),
        |h AS (
        |  SELECT media_id, kind, length(text) AS n_bytes, n_chars,
        |    list_reduce(
        |      list_prepend(CAST(1125899906842597 AS HUGEINT),
        |        list_transform(range(1, length(text) + 1),
        |          i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
        |      (acc, b) -> (acc * 31 + b) % 18446744073709551616::HUGEINT) AS hv
        |  FROM m)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  round(avg((CAST(hv % 256 AS INT) - 128) / 128.0), 4) AS avg_f0,
        |  CAST(max(n_chars * 10) AS BIGINT) AS max_duration_ms
        |FROM h GROUP BY kind ORDER BY kind""".stripMargin,
    // q94: the oracle recomputes the codec round-trip's EXPECTED facts
    // from the same closed-form pixel/sample arithmetic the Spark side
    // synthesizes with — PNG is lossless and WAV is raw PCM, so decoded
    // dimensions, sample counts, and integer checksums must match
    // exactly; video rows have no JDK codec and flag ok = false.
    "q94_media_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind
        |  FROM documents),
        |img AS (
        |  SELECT media_id,
        |    CAST(sum((media_id * 31 + x * 7 + y * 13) % 256 +
        |             (media_id * 17 + x * 5 + y * 3) % 256 +
        |             (media_id * 13 + x * 11 + y * 19) % 256) AS BIGINT) AS cks
        |  FROM (SELECT media_id FROM m WHERE kind = 'image')
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS x)
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS y)
        |  GROUP BY media_id),
        |aud AS (
        |  SELECT media_id,
        |    CAST(sum(abs((media_id * 7 + i * 11) % 65536 - 32768)) AS BIGINT) AS cks
        |  FROM (SELECT media_id FROM m WHERE kind = 'audio')
        |  CROSS JOIN (SELECT unnest(range(0, 512)) AS i)
        |  GROUP BY media_id)
        |SELECT m.media_id, m.kind,
        |  m.kind != 'video' AS ok,
        |  CASE WHEN m.kind = 'image' THEN 16 END::INT AS width,
        |  CASE WHEN m.kind = 'image' THEN 16 END::INT AS height,
        |  CASE WHEN m.kind = 'audio' THEN 512 END::INT AS n_samples,
        |  coalesce(img.cks, aud.cks) AS checksum
        |FROM m LEFT JOIN img USING (media_id) LEFT JOIN aud USING (media_id)
        |ORDER BY m.media_id""".stripMargin,
    // q95: after the nearest-neighbor 16x16 -> 8x8 shrink, output pixel
    // (x, y) holds source pixel (2x, 2y) — so the resized checksum is
    // the q94 closed form evaluated at the even coordinates. Audio rows
    // pass through resize and report their q94 facts.
    "q95_resize_decode" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind
        |  FROM documents),
        |img AS (
        |  SELECT media_id,
        |    CAST(sum((media_id * 31 + (2 * x) * 7 + (2 * y) * 13) % 256 +
        |             (media_id * 17 + (2 * x) * 5 + (2 * y) * 3) % 256 +
        |             (media_id * 13 + (2 * x) * 11 + (2 * y) * 19) % 256) AS BIGINT) AS cks
        |  FROM (SELECT media_id FROM m WHERE kind = 'image')
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS x)
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS y)
        |  GROUP BY media_id),
        |aud AS (
        |  SELECT media_id,
        |    CAST(sum(abs((media_id * 7 + i * 11) % 65536 - 32768)) AS BIGINT) AS cks
        |  FROM (SELECT media_id FROM m WHERE kind = 'audio')
        |  CROSS JOIN (SELECT unnest(range(0, 512)) AS i)
        |  GROUP BY media_id)
        |SELECT m.media_id, m.kind,
        |  m.kind != 'video' AS ok,
        |  CASE WHEN m.kind = 'image' THEN 8 END::INT AS width,
        |  CASE WHEN m.kind = 'image' THEN 8 END::INT AS height,
        |  CASE WHEN m.kind = 'audio' THEN 512 END::INT AS n_samples,
        |  coalesce(img.cks, aud.cks) AS checksum
        |FROM m LEFT JOIN img USING (media_id) LEFT JOIN aud USING (media_id)
        |ORDER BY m.media_id""".stripMargin,
    // q96: the flatMapGroupsWithState run detector replayed as batch
    // gaps-and-islands — lag-change flag → running-sum island id →
    // per-island aggregate. Each user's LAST island is dropped: the
    // streaming side only emits a run once a different type arrives, so
    // the open run at end-of-stream is withheld by contract (see
    // StatefulRuns.detectRuns scaladoc).
    "q96_stateful_runs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type
        |  FROM events WHERE event_id % 4 = 1),
        |ord AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |isl AS (
        |  SELECT *,
        |    sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY rn) AS island
        |  FROM ord),
        |runs AS (
        |  SELECT user_id, island, min(event_type) AS event_type,
        |    min(ts) AS run_start, count(*) AS run_len
        |  FROM isl GROUP BY user_id, island),
        |last AS (SELECT user_id, max(island) AS last_island FROM runs GROUP BY user_id)
        |SELECT r.user_id, r.event_type, r.run_start, r.run_len
        |FROM runs r JOIN last l
        |  ON r.user_id = l.user_id AND r.island <> l.last_island
        |ORDER BY r.user_id, r.run_start""".stripMargin,
    // q97: the similarity join replayed as a within-brand blocked pair
    // walk — distinct character trigrams per name, |∩|/|∪| Jaccard; the
    // brand equality is part of the query's predicate, so the oracle's
    // block is semantics, not heuristic.
    "q97_similarity_join" ->
      """WITH named AS (
        |  SELECT p_partkey, p_brand, lower(p_name) AS name
        |  FROM part WHERE length(p_name) >= 3),
        |grams AS (
        |  SELECT p_partkey, p_brand, name,
        |    list_distinct([substr(name, i, 3) for i in range(1, length(name) - 1)]) AS g
        |  FROM named),
        |pairs AS (
        |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |      (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS sim
        |  FROM grams a JOIN grams b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey)
        |SELECT key_a, key_b, round(sim, 6) AS sim
        |FROM pairs WHERE sim >= 0.55
        |ORDER BY key_a, key_b""".stripMargin,
    // q98: the streaming signature dedup replayed in batch — the SAME
    // md5 + 12 affine permutations as the q27 oracle, full-signature
    // group, canonical = min doc_id, one row per later duplicate.
    "q98_streaming_neardup" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM words WHERE len(w) >= 3),
        |tok AS (SELECT doc_id,
        |  ('0x' || substr(md5(concat(0, ':', unnest(shingles))), 1, 15))::BIGINT
        |    % 2147483647 AS hb
        |  FROM sh),
        |seeds AS (SELECT * FROM (VALUES
        |  (0, 257, 911), (1, 643, 1213), (2, 1031, 1713), (3, 1543, 2389),
        |  (4, 2053, 3391), (5, 3079, 4441), (6, 4099, 5881), (7, 6151, 7121),
        |  (8, 8209, 9973), (9, 12289, 11939), (10, 16411, 14009),
        |  (11, 24593, 17327)) AS s(seed, a, b)),
        |hashes AS (
        |  SELECT doc_id, seed, min((hb * a + b) % 2147483647) AS mh
        |  FROM tok CROSS JOIN seeds GROUP BY 1, 2),
        |sigs AS (
        |  SELECT doc_id, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig
        |  FROM hashes GROUP BY 1),
        |canon AS (SELECT sig, min(doc_id) AS dup_of FROM sigs GROUP BY sig)
        |SELECT s.doc_id, c.dup_of
        |FROM sigs s JOIN canon c ON s.sig = c.sig AND s.doc_id > c.dup_of
        |ORDER BY s.doc_id""".stripMargin,
    // q99: an INNER stream-stream interval join's output set is exactly
    // the batch join of the two slices — every (view, purchase-within-2h)
    // pair, emitted once regardless of arrival order — so the oracle is
    // the plain join. gap_s differences integer microsecond epochs before
    // the floor-division, exact in both engines.
    "q99_stream_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, ts AS view_ts, user_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS purchase_id, ts AS purchase_ts, user_id, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, view_id, view_ts, purchase_id, purchase_ts,
        |  (epoch_us(purchase_ts) - epoch_us(view_ts)) // 1000000 AS gap_s,
        |  round(p.value, 2) AS purchase_value
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND purchase_ts > view_ts
        |  AND purchase_ts <= view_ts + INTERVAL 2 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,
    // q100: the oracle recomputes the hashed-feature classifier end to
    // end — the same portable 60-bit md5 bucket and the same affine
    // integer weight map — so logit matches exactly (all arithmetic is
    // BIGINT; no floats anywhere).
    "q100_quality_clf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(coalesce(list_sum(list_transform(toks, x ->
        |    (((('0x' || substr(md5(concat('100:', x)), 1, 15))::BIGINT % 1024)
        |      * 2654435761) % 1001) - 500)), 0) AS BIGINT) AS logit,
        |  CAST(coalesce(list_sum(list_transform(toks, x ->
        |    (((('0x' || substr(md5(concat('100:', x)), 1, 15))::BIGINT % 1024)
        |      * 2654435761) % 1001) - 500)), 0) AS BIGINT) > 0 AS keep
        |FROM t ORDER BY doc_id""".stripMargin,
    // q101: the bucketed write→co-located join round-trip must reproduce
    // the plain join's aggregate exactly — bucketing is physical layout,
    // not semantics.
    "q101_bucketed_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // q102: batch replay of the tumbling-window aggregate, keeping only
    // the windows the zero-delay watermark flushes (win_end ≤ max event
    // time — the q92 cutoff rule). Spark aligns windows to the unix
    // epoch; time_bucket gets the same origin.
    "q102_streaming_window" ->
      """WITH e AS (SELECT * FROM events WHERE event_id % 3 = 0),
        |w AS (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts,
        |           TIMESTAMP '1970-01-01 00:00:00') AS win_start,
        |    event_type, CAST(count(*) AS BIGINT) AS n,
        |    round(sum(value), 2) AS total
        |  FROM e GROUP BY 1, 2)
        |SELECT win_start, win_start + INTERVAL 6 HOUR AS win_end,
        |  event_type, n, total
        |FROM w WHERE win_start + INTERVAL 6 HOUR <= (SELECT max(ts) FROM e)
        |ORDER BY win_start, event_type""".stripMargin,
    // q103: salting is semantics-neutral — the oracle is the PLAIN join.
    "q103_salted_join" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // q104: the pinned-values pivot replayed as FILTER aggregates —
    // operationally the same plan Spark builds.
    "q104_pivot" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q105: ROLLUP with grouping_id; within each gid the nulled-out key
    // is constant, so (gid, flag, status) is a total order in both
    // engines regardless of null placement.
    "q105_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    // q106: a stateless stream-static inner join is batch-equal by
    // construction — the oracle is the plain join.
    "q106_stream_enrich" ->
      """SELECT event_id, user_id, c_nationkey, c_mktsegment,
        |  round(value, 2) AS value
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_id % 4 = 2
        |ORDER BY event_id""".stripMargin,
    // q107: tie-free sort key → identical integer rank operands → the
    // rounded ratios match bit-for-bit.
    "q107_rank_family" ->
      """SELECT event_id, event_type, round(value, 2) AS value,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,
    // q108: the native as-of operator replayed as an argmax — latest
    // strictly-earlier view per purchase, time ties to the larger view
    // event_id (the operator's documented tiebreak).
    "q108_asof_native" ->
      """WITH p AS (
        |  SELECT user_id, event_id, ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id, ts, value
        |  FROM events WHERE event_type = 'view'),
        |best AS (
        |  SELECT p.event_id AS pid, v.event_id AS vid, v.value AS vv,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM p JOIN v ON p.user_id = v.user_id AND v.ts < p.ts)
        |SELECT p.user_id, p.event_id, p.ts,
        |  round(p.value, 2) AS purchase_value,
        |  b.vid AS prior_view_id, round(b.vv, 2) AS prior_view_value
        |FROM p LEFT JOIN best b ON b.pid = p.event_id AND b.rn = 1
        |ORDER BY p.user_id, p.event_id""".stripMargin,
    // q109: the q98 signature machinery with a parity split — canonical
    // index from the even half, batch = odd half, left join on the full
    // signature string.
    "q109_incremental_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM words WHERE len(w) >= 3),
        |tok AS (SELECT doc_id,
        |  ('0x' || substr(md5(concat(0, ':', unnest(shingles))), 1, 15))::BIGINT
        |    % 2147483647 AS hb
        |  FROM sh),
        |seeds AS (SELECT * FROM (VALUES
        |  (0, 257, 911), (1, 643, 1213), (2, 1031, 1713), (3, 1543, 2389),
        |  (4, 2053, 3391), (5, 3079, 4441), (6, 4099, 5881), (7, 6151, 7121),
        |  (8, 8209, 9973), (9, 12289, 11939), (10, 16411, 14009),
        |  (11, 24593, 17327)) AS s(seed, a, b)),
        |hashes AS (
        |  SELECT doc_id, seed, min((hb * a + b) % 2147483647) AS mh
        |  FROM tok CROSS JOIN seeds GROUP BY 1, 2),
        |sigs AS (
        |  SELECT doc_id, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig
        |  FROM hashes GROUP BY 1),
        |idx AS (SELECT sig, min(doc_id) AS dup_of FROM sigs
        |  WHERE doc_id % 2 = 0 GROUP BY sig)
        |SELECT s.doc_id, i.dup_of IS NOT NULL AS is_dup, i.dup_of
        |FROM sigs s LEFT JOIN idx i USING (sig)
        |WHERE s.doc_id % 2 = 1
        |ORDER BY s.doc_id""".stripMargin,
    // q110: the two-wave checkpointed upsert replayed as
    // latest-version-per-key over both waves.
    "q110_streaming_upsert" ->
      """WITH base AS (
        |  SELECT event_id, event_type, round(value, 2) AS value,
        |    CAST(1 AS INT) AS version
        |  FROM events WHERE event_id % 7 = 3),
        |upd AS (
        |  SELECT event_id, event_type, round(value + 100, 2) AS value,
        |    CAST(2 AS INT) AS version
        |  FROM base WHERE event_id % 2 = 1),
        |all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_id
        |    ORDER BY version DESC) AS rn FROM all_rows)
        |SELECT event_id, event_type, value, version
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q111_watch_prune" ->
      """WITH registry AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |keep AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT r.user_id, r.n_events, (k.user_id IS NOT NULL) AS active
        |FROM registry r LEFT JOIN keep k ON r.user_id = k.user_id
        |ORDER BY r.user_id""".stripMargin,
    // q112: the digest Markdown re-assembled byte-for-byte in SQL —
    // same aggregate, same classification, same line formats, same
    // label order. Counts are integer-valued doubles so %.1f has no
    // FP-tie hazard.
    "q112_digest_markdown" ->
      """WITH m AS (SELECT max(CAST(ts AS DATE)) AS dd FROM events),
        |agg AS (
        |  SELECT event_type || '/u' || (user_id % 29) AS label,
        |    CAST(count(CASE WHEN CAST(ts AS DATE) = dd THEN 1 END)
        |      AS DOUBLE) AS cur,
        |    CAST(count(CASE WHEN CAST(ts AS DATE) = dd - 1 THEN 1 END)
        |      AS DOUBLE) AS prev
        |  FROM events CROSS JOIN m GROUP BY 1),
        |cls AS (
        |  SELECT label, cur, prev,
        |    CASE WHEN prev = 0 THEN 'new'
        |         WHEN cur <> prev THEN 'shift'
        |         ELSE 'steady' END AS status
        |  FROM agg WHERE cur > 0),
        |sh AS (
        |  SELECT coalesce(string_agg(
        |      '- **' || label || '**: ' || printf('%.1f', cur) || ' (' ||
        |      (CASE WHEN cur - prev >= 0 THEN '+' ELSE '' END) ||
        |      printf('%.1f', cur - prev) || ')' || chr(10),
        |      '' ORDER BY label), '') AS body, count(*) AS n
        |  FROM cls WHERE status = 'shift'),
        |nw AS (
        |  SELECT coalesce(string_agg(
        |      '- ' || label || ': ' || printf('%.1f', cur) || chr(10),
        |      '' ORDER BY label), '') AS body, count(*) AS n
        |  FROM cls WHERE status = 'new')
        |SELECT '# Weekly digest' || chr(10) || chr(10)
        |  || CASE WHEN sh.n = 0 AND nw.n = 0
        |          THEN 'No significant changes.' || chr(10) ELSE '' END
        |  || CASE WHEN sh.n > 0
        |          THEN '## Shifts' || chr(10) || chr(10) || sh.body ELSE '' END
        |  || CASE WHEN nw.n > 0
        |          THEN chr(10) || '## New' || chr(10) || chr(10) || nw.body
        |          ELSE '' END AS digest_md
        |FROM sh CROSS JOIN nw""".stripMargin,
    // q113: the evidence-gap Markdown — q64's oracle aggregate wrapped in
    // the renderer's exact section/table assembly.
    "q113_gap_markdown" ->
      """WITH cut AS (SELECT max(year(ts)) - 3 AS stale_cut FROM events),
        |findings AS (
        |  SELECT event_type AS topic,
        |    'frage ' || (event_id % 25) AS cluster_label,
        |    'inst' || (CASE WHEN event_id % 25 = 7 THEN 0
        |                    ELSE user_id % 5 END) AS institute,
        |    CASE WHEN event_id % 11 = 0 THEN NULL
        |         ELSE year(ts) - (CASE WHEN event_id % 25 < 5 THEN 5
        |                               ELSE 0 END) END AS pub_year,
        |    (event_id % 4 <> 0) AND (event_id % 25 <> 9) AS has_pct
        |  FROM events),
        |agg AS (
        |  SELECT topic, cluster_label,
        |    count(*) AS n_findings,
        |    count(DISTINCT institute) AS n_institutes,
        |    max(pub_year) AS latest,
        |    count(CASE WHEN has_pct THEN 1 END) AS n_pct
        |  FROM findings GROUP BY 1, 2),
        |g AS (
        |  SELECT topic, cluster_label, n_findings, n_institutes, latest,
        |    coalesce(nullif(array_to_string(list_filter(ARRAY[
        |      CASE WHEN latest IS NULL THEN 'undated'
        |           WHEN latest < stale_cut
        |             THEN concat('stale (last ', latest, ')') END,
        |      CASE WHEN n_institutes = 1 THEN 'single source' END,
        |      CASE WHEN n_pct = 0 THEN 'no percentages' END],
        |      x -> x IS NOT NULL), ', '), ''), '—') AS gaps
        |  FROM agg CROSS JOIN cut),
        |lines AS (
        |  SELECT topic, n_findings, cluster_label,
        |    '| ' || cluster_label || ' | ' || n_findings || ' | ' ||
        |    n_institutes || ' | ' ||
        |    coalesce(CAST(latest AS VARCHAR), '—') || ' | ' || gaps ||
        |    ' |' || chr(10) AS line
        |  FROM g),
        |secs AS (
        |  SELECT topic,
        |    '## Topic: `' || topic || '`' || chr(10) || chr(10) ||
        |    '| question cluster | findings | institutes | latest | gaps |'
        |      || chr(10) ||
        |    '|------------------|-----------|------------|--------|------|'
        |      || chr(10) ||
        |    string_agg(line, '' ORDER BY n_findings DESC, cluster_label) ||
        |    chr(10) AS sec
        |  FROM lines GROUP BY topic)
        |SELECT '# Evidence-gap report' || chr(10) || chr(10) ||
        |  '_Which questions have polling data, how fresh, how broadly ' ||
        |  'sourced — and where the holes are._' || chr(10) || chr(10) ||
        |  string_agg(sec, '' ORDER BY topic) AS gap_md
        |FROM secs""".stripMargin,
    // q114: the export round-trip — formatted strings + manifest counters
    // recomputed straight from the parquet table.
    "q114_export_manifest" ->
      """WITH exp AS (
        |  SELECT event_id,
        |    strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts,
        |    event_type || '|u' || user_id AS tags
        |  FROM events WHERE event_id % 100 = 0)
        |SELECT CAST(event_id AS VARCHAR) AS event_id, ts, tags,
        |  (SELECT count(*) FROM exp) AS manifest_rows,
        |  CAST(3 AS BIGINT) AS manifest_columns
        |FROM exp ORDER BY CAST(event_id AS BIGINT)""".stripMargin,
    // q115: header once + the data lines IS the chunk-merge semantics.
    "q115_csv_chunks" ->
      """SELECT 'id;n_chars' AS line
        |UNION ALL
        |SELECT CAST(doc_id AS VARCHAR) || ';' || CAST(n_chars AS VARCHAR)
        |FROM documents WHERE doc_id < 40
        |ORDER BY line""".stripMargin,
    // q117: cluster-blocked ε-dup survivor semantics replayed directly —
    // same planting and list_dot_product summation as q65's oracle.
    "q117_semdedup" ->
      """WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings),
        |all_v AS (
        |  SELECT vec_id, label, vec FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000, label, list_transform(vec, x -> x * 1.01)
        |  FROM base WHERE vec_id % 10 = 0),
        |eps AS (
        |  SELECT a.vec_id, min(b.vec_id) AS dup_of,
        |    count(*) AS n_eps_smaller
        |  FROM all_v a JOIN all_v b
        |    ON a.label = b.label AND b.vec_id < a.vec_id
        |  WHERE list_dot_product(a.vec, b.vec) /
        |      (sqrt(list_dot_product(a.vec, a.vec)) *
        |       sqrt(list_dot_product(b.vec, b.vec))) >= 0.99
        |  GROUP BY a.vec_id)
        |SELECT v.vec_id, v.label,
        |  (e.dup_of IS NULL) AS kept, e.dup_of,
        |  coalesce(e.n_eps_smaller, 0) AS n_eps_smaller
        |FROM all_v v LEFT JOIN eps e ON v.vec_id = e.vec_id
        |ORDER BY v.vec_id""".stripMargin,
    // q118: both retrieval legs replayed independently (the BM25 chain is
    // q85's with a 50-cut; the dense leg is q25's cosine with the vec-0
    // query), then rank-fused. Ranks are integers and each 1/(k+rank)
    // is an IEEE division of exact integers, so only the final rounded
    // rrf carries FP at all.
    "q118_hybrid_rrf" ->
      """WITH docs AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |d2 AS (SELECT doc_id, w, CAST(len(w) AS DOUBLE) AS dl FROM docs),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d2),
        |q AS (SELECT unnest(['spark', 'stream', 'window', 'hash']) AS term),
        |tf AS (
        |  SELECT doc_id, dl, term,
        |    CAST(len(list_filter(w, x -> x = term)) AS DOUBLE) AS tf
        |  FROM d2 CROSS JOIN q
        |  WHERE len(list_filter(w, x -> x = term)) > 0),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT doc_id,
        |    round(sum(
        |      ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |        (tf * (CAST(1.2 AS DOUBLE) + 1)) /
        |        (tf + CAST(1.2 AS DOUBLE) *
        |          ((1 - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * dl / avgdl))
        |    ), 4) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |  GROUP BY doc_id),
        |lexcut AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank FROM lexcut),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |qv AS (SELECT vec AS qvec FROM emb WHERE vec_id = 0),
        |cos AS (
        |  SELECT vec_id, list_dot_product(vec, qvec) /
        |      (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(qvec, qvec)))
        |      AS cosine
        |  FROM emb CROSS JOIN qv),
        |denscut AS (SELECT vec_id, cosine FROM cos ORDER BY cosine DESC, vec_id LIMIT 50),
        |dens AS (SELECT vec_id AS doc_id,
        |  row_number() OVER (ORDER BY cosine DESC, vec_id) AS dense_rank FROM denscut),
        |fused AS (
        |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    coalesce(l.lex_rank, 0) AS lex_rank,
        |    coalesce(d.dense_rank, 0) AS dense_rank
        |  FROM lex l FULL OUTER JOIN dens d ON l.doc_id = d.doc_id)
        |SELECT doc_id, CAST(lex_rank AS INT) AS lex_rank,
        |  CAST(dense_rank AS INT) AS dense_rank,
        |  round(CASE WHEN lex_rank > 0
        |          THEN CAST(1 AS DOUBLE) / (60 + lex_rank) ELSE 0 END +
        |        CASE WHEN dense_rank > 0
        |          THEN CAST(1 AS DOUBLE) / (60 + dense_rank) ELSE 0 END, 6) AS rrf
        |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    // q119: the full DSIR pipeline restated — same md5-60bit bucket hash
    // (q116 idiom), add-1-smoothed LR in double, per-doc sum rounded to
    // 4 dp before the Gumbel-key ordering (the q85 ln() treatment).
    "q119_dsir_resample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_concat(w,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
        |      ELSE []::VARCHAR[] END)) AS gr
        |  FROM d),
        |gb AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(concat(119, ':', gr)), 1, 15))::BIGINT % 256 AS bucket
        |  FROM g),
        |hist AS (SELECT bucket,
        |    CAST(count(*) AS DOUBLE) AS raw_n,
        |    CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE) AS tgt_n
        |  FROM gb GROUP BY 1),
        |tot AS (SELECT sum(raw_n) AS raw_t, sum(tgt_n) AS tgt_t FROM hist),
        |lr AS (SELECT bucket,
        |    ln((tgt_n + 1) / (tgt_t + 256)) - ln((raw_n + 1) / (raw_t + 256)) AS lr
        |  FROM hist CROSS JOIN tot),
        |db AS (SELECT doc_id, bucket, count(*) AS n FROM gb GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
        |    round(sum(n * lr), 4) AS logw
        |  FROM db JOIN lr USING (bucket) GROUP BY 1),
        |keyed AS (
        |  SELECT doc_id, n_grams, logw,
        |    round(logw + -ln(-ln(
        |      (('0x' || substr(md5(concat(1190, ':', CAST(doc_id AS VARCHAR))), 1, 15))::BIGINT
        |        % 1000000 + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE))), 4) AS gkey
        |  FROM scored),
        |ranked AS (SELECT *, row_number() OVER (ORDER BY gkey DESC, doc_id) AS pick
        |  FROM keyed)
        |SELECT doc_id, n_grams, logw, gkey, CAST(pick AS INT) AS pick
        |FROM ranked WHERE pick <= 100 ORDER BY pick""".stripMargin,
    // q120: vocabulary-weighted adjacent-pair counts; pure integer
    // arithmetic, the (cnt, lhs, rhs) cut order is total.
    "q120_bpe_pairs" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS word
        |  FROM documents),
        |v AS (SELECT word, count(*) AS wc FROM words GROUP BY 1),
        |pos AS (SELECT word, wc, unnest(range(1, len(word) + 1)) AS i FROM v),
        |p AS (SELECT substr(word, CAST(i AS INT), 1) AS lhs,
        |    CASE WHEN i = len(word) THEN '</w>'
        |         ELSE substr(word, CAST(i AS INT) + 1, 1) END AS rhs,
        |    wc FROM pos)
        |SELECT lhs, rhs, CAST(sum(wc) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 30""".stripMargin,
    // q121: every rule restated as the same list HOFs; ratios are
    // int/int IEEE divisions, exact in both engines.
    "q121_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS INT) AS n_words,
        |    list_sum(list_transform(w, x -> len(x))) AS n_chars_w,
        |    len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |    len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS n_sym,
        |    CAST(len(list_intersect(w,
        |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS INT)
        |      AS n_stop_distinct
        |  FROM d),
        |r AS (
        |  SELECT doc_id, n_words,
        |    CASE WHEN n_words > 0
        |      THEN n_chars_w * CAST(1 AS DOUBLE) / n_words ELSE 0 END AS mean_word_len,
        |    CASE WHEN n_words > 0
        |      THEN n_alpha * CAST(1 AS DOUBLE) / n_words ELSE 0 END AS alpha_frac,
        |    CASE WHEN n_words > 0
        |      THEN n_sym * CAST(1 AS DOUBLE) / n_words ELSE 0 END AS sym_frac,
        |    n_stop_distinct
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, alpha_frac, sym_frac,
        |  n_stop_distinct,
        |  (n_words >= 50 AND n_words <= 100000) AS r_wc,
        |  (mean_word_len >= 3 AND mean_word_len <= 10) AS r_mwl,
        |  (sym_frac <= 0.1) AS r_sym,
        |  (alpha_frac >= 0.8) AS r_alpha,
        |  (n_stop_distinct >= 2) AS r_stop,
        |  ((n_words >= 50 AND n_words <= 100000)
        |    AND (mean_word_len >= 3 AND mean_word_len <= 10)
        |    AND (sym_frac <= 0.1) AND (alpha_frac >= 0.8)
        |    AND (n_stop_distinct >= 2)) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // q122: the planting, the brute cosine (list_dot_product ≡ vec_dot's
    // sequential fold), and the struct-argmax replayed via a (cosine
    // DESC, eval_id DESC) row_number — identical tie semantics.
    "q122_semantic_decontam" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, vec AS evec FROM emb WHERE vec_id % 97 = 0),
        |train AS (
        |  SELECT vec_id AS train_id, vec FROM emb WHERE vec_id % 97 <> 0
        |  UNION ALL
        |  SELECT eval_id + 200000, list_transform(evec, x -> x * 1.02) FROM ev),
        |scored AS (
        |  SELECT train_id, eval_id,
        |    list_dot_product(vec, evec) /
        |      (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(evec, evec)))
        |      AS cosine
        |  FROM train CROSS JOIN ev),
        |ranked AS (
        |  SELECT train_id, eval_id, cosine, row_number() OVER (
        |    PARTITION BY train_id ORDER BY cosine DESC, eval_id DESC) AS rn
        |  FROM scored)
        |SELECT train_id, eval_id, round(cosine, 6) AS max_cosine
        |FROM ranked WHERE rn = 1 AND cosine >= 0.9
        |ORDER BY train_id""".stripMargin,
    // q123: the same range predicate stated directly — DuckDB plans it
    // with its own inequality-join machinery (IEJoin), the fair
    // single-node comparison for Spark's rewritten bucketed equi-join.
    // l_quantity is integer-valued, so the window sum is exact in any
    // accumulation order.
    "q123_range_join" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |l AS (
        |  SELECT CAST(l_shipdate AS DATE) AS ship_date, l_quantity
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT o_orderkey, o_date,
        |  CAST(count(*) AS BIGINT) AS n_shipments,
        |  round(sum(l_quantity), 2) AS qty
        |FROM o JOIN l
        |  ON ship_date >= o_date AND ship_date <= o_date + 2
        |GROUP BY 1, 2 ORDER BY o_orderkey""".stripMargin,
    // q124: the timestamp form, replayed with DuckDB's own interval
    // arithmetic (exact microseconds both sides).
    "q124_ts_range_join" ->
      """WITH s AS (
        |  SELECT event_id AS signup_id, ts AS s_ts
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT ts AS p_ts, value FROM events WHERE event_type = 'purchase')
        |SELECT signup_id, s_ts,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(sum(value), 2) AS purchase_value
        |FROM s JOIN p
        |  ON p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 2 HOUR
        |GROUP BY 1, 2 ORDER BY signup_id""".stripMargin,
    // q125: the per-language vocabulary is < k = 64, so the SpaceSaving
    // sketch is provably exact (err = 0) and plain counts replay it —
    // the sketch's (count DESC, item ASC) order is row_number's.
    "q125_heavy_hitters" ->
      """WITH w AS (
        |  SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS item
        |  FROM documents),
        |c AS (SELECT lang, item, count(*) AS cnt FROM w GROUP BY 1, 2)
        |SELECT lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, item)
        |    AS INT) AS rank,
        |  item, CAST(cnt AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err
        |FROM c ORDER BY lang, rank""".stripMargin,
    // q126: the bounded-heap top-k replayed as the window rank it
    // replaces — struct-lexicographic DESC ≡ (n_chars DESC, doc_id
    // DESC), a total order, so the cut is deterministic on both sides.
    "q126_topk_per_group" ->
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id DESC) AS rank
        |  FROM documents)
        |SELECT lang, CAST(rank AS INT) AS rank, doc_id, n_chars
        |FROM r WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,
    // q127: the oracle recomputes every frame pixel from the closed form
    // the synthesizer used — the Spark side round-trips those pixels
    // through a REAL RIFF/AVI container (bottom-up BGR24 DIB frames)
    // and a genuine chunk-walking demux, so any container-layout or
    // parser regression breaks the hash.
    "q127_video_decode" ->
      """WITH v AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 2),
        |px AS (
        |  SELECT media_id, f,
        |    ((media_id + 101 * f) * 31 + x * 7 + y * 13) % 256 +
        |    ((media_id + 101 * f) * 17 + x * 5 + y * 3) % 256 +
        |    ((media_id + 101 * f) * 13 + x * 11 + y * 19) % 256 AS s
        |  FROM v, range(4) AS tf(f), range(16) AS tx(x), range(16) AS ty(y))
        |SELECT media_id, TRUE AS ok,
        |  4 AS n_frames, 16 AS width, 16 AS height,
        |  CAST(sum(s) AS BIGINT) AS checksum,
        |  CAST(sum(s) FILTER (WHERE f % 2 = 0) AS BIGINT) AS sampled_checksum
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,
    // q128: the stupid-backoff bigram LM replayed end-to-end — train on
    // even doc_ids, score odd ones. Each bigram's -ln p is rounded to
    // integer micro-nats BEFORE the per-doc sum, so nll_micro is exact
    // integer arithmetic on both engines; the only float steps are one
    // ln and one exp of deterministic operands + the 4-dp round (q85
    // precedent).
    "q128_perplexity" ->
      """WITH d0 AS (
        |  SELECT doc_id, lang, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |docs AS (SELECT * FROM d0 WHERE len(ws) >= 2),
        |bi0 AS (SELECT doc_id, lang,
        |    unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z FROM docs),
        |bi AS (SELECT doc_id, lang, z[1] AS w1, z[2] AS w2 FROM bi0),
        |tb AS (SELECT * FROM bi WHERE doc_id % 2 = 0),
        |lm2 AS (SELECT lang, w1, w2, count(*) AS c2 FROM tb GROUP BY 1, 2, 3),
        |ctx AS (SELECT lang, w1, sum(c2) AS cctx FROM lm2 GROUP BY 1, 2),
        |lm AS (SELECT lm2.lang, lm2.w1, lm2.w2,
        |    CAST(c2 AS DOUBLE) / CAST(cctx AS DOUBLE) AS p2
        |  FROM lm2 JOIN ctx USING (lang, w1)),
        |uni AS (
        |  SELECT lang, w2, count(*) AS c1 FROM (
        |    SELECT lang, unnest(ws) AS w2 FROM docs WHERE doc_id % 2 = 0)
        |  GROUP BY 1, 2),
        |stats AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS big_n,
        |    CAST(count(*) AS BIGINT) AS vocab FROM uni GROUP BY 1),
        |sc AS (
        |  SELECT b.doc_id, b.lang, lm.p2,
        |    CASE WHEN lm.p2 IS NOT NULL THEN lm.p2
        |      ELSE 0.4 * (CAST(coalesce(u.c1, 0) AS DOUBLE) + 1.0) /
        |        (CAST(s.big_n AS DOUBLE) + CAST(s.vocab AS DOUBLE)) END AS p
        |  FROM bi b
        |  LEFT JOIN lm ON lm.lang = b.lang AND lm.w1 = b.w1 AND lm.w2 = b.w2
        |  LEFT JOIN uni u ON u.lang = b.lang AND u.w2 = b.w2
        |  JOIN stats s ON s.lang = b.lang
        |  WHERE b.doc_id % 2 = 1),
        |pb AS (SELECT doc_id, lang, p2,
        |    CAST(round(-ln(p) * 1000000.0) AS BIGINT) AS nllu FROM sc),
        |ag AS (SELECT doc_id, lang,
        |    CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CASE WHEN p2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_backoff,
        |    CAST(sum(nllu) AS BIGINT) AS nll_micro
        |  FROM pb GROUP BY 1, 2),
        |fin AS (SELECT doc_id, lang, n_bigrams, n_backoff, nll_micro,
        |    round(exp(CAST(nll_micro AS DOUBLE) / 1000000.0 /
        |      CAST(n_bigrams AS DOUBLE)), 4) AS ppl
        |  FROM ag)
        |SELECT doc_id, lang, n_bigrams, n_backoff, nll_micro, ppl,
        |  CASE WHEN ppl < 32.0 THEN 'head'
        |    WHEN ppl < 36.0 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM fin ORDER BY doc_id""".stripMargin,
    // q129: every HLL register replayed from the same portable md5
    // arithmetic (bucket = h % 512, rho = 52 - bitlength(h // 512));
    // z_scaled is the harmonic-mean denominator as an EXACT integer, so
    // the estimate is one deterministic double division on both engines.
    "q129_hll_distinct" ->
      """WITH t0 AS (
        |  SELECT lang, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |sh0 AS (SELECT lang, unnest(list_zip(ws[1:len(ws)-2],
        |    ws[2:len(ws)-1], ws[3:len(ws)])) AS z
        |  FROM t0 WHERE len(ws) >= 3),
        |toks AS (SELECT lang, z[1] || ' ' || z[2] || ' ' || z[3] AS w FROM sh0),
        |d AS (SELECT DISTINCT lang, w FROM toks),
        |h AS (SELECT lang,
        |    ('0x' || substr(md5(concat(129, ':', w)), 1, 15))::BIGINT AS hv
        |  FROM d),
        |b AS (SELECT lang, CAST(hv % 512 AS INT) AS bucket, hv // 512 AS wv
        |  FROM h),
        |r AS (SELECT lang, bucket,
        |    CASE WHEN wv = 0 THEN 52 ELSE 52 - length(bin(wv)) END AS rho
        |  FROM b),
        |regs AS (SELECT lang, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
        |ag AS (SELECT lang,
        |    CAST(512 - count(*) AS INT) AS n_zero,
        |    CAST(sum(mj) AS BIGINT) AS sum_rho,
        |    CAST(sum((bucket + 1) * mj) AS BIGINT) AS reg_fp,
        |    CAST(sum(1::BIGINT << (52 - mj)) +
        |      (512 - count(*)) * (1::BIGINT << 52) AS BIGINT) AS z_scaled
        |  FROM regs GROUP BY 1),
        |ex AS (SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS exact
        |  FROM toks GROUP BY 1),
        |est0 AS (SELECT ag.lang, n_zero, sum_rho, reg_fp, z_scaled, exact,
        |    0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 *
        |      4503599627370496.0 / CAST(z_scaled AS DOUBLE) AS raw_est
        |  FROM ag JOIN ex ON ag.lang = ex.lang),
        |est1 AS (SELECT lang, n_zero, sum_rho, reg_fp, z_scaled, exact,
        |    round(CASE WHEN n_zero > 0 AND raw_est <= 1280.0
        |      THEN 512.0 * ln(512.0 / CAST(n_zero AS DOUBLE))
        |      ELSE raw_est END, 4) AS est
        |  FROM est0)
        |SELECT lang, CAST(512 AS INT) AS m, n_zero, sum_rho, reg_fp,
        |  z_scaled, est, exact,
        |  abs(est / CAST(exact AS DOUBLE) - 1.0) <= 0.15 AS ok
        |FROM est1 ORDER BY lang""".stripMargin,
    // q130: all 1024 CMS cells are plain per-bucket counts under the
    // portable md5 row hashes — the sketch matrix, the probe estimates
    // (min over 4 cells), and the one-sided overcount are exact-integer
    // replays; top-20 tie-break is (cnt DESC, w DESC), the topk struct
    // order.
    "q130_cms_freq" ->
      """WITH t0 AS (
        |  SELECT lang, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |b0 AS (SELECT lang, unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z
        |  FROM t0 WHERE len(ws) >= 2),
        |toks AS (SELECT lang, z[1] || ' ' || z[2] AS w FROM b0),
        |c AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1, 2),
        |top AS (SELECT lang, w, cnt, row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, w DESC) AS rank FROM c),
        |cells AS (
        |  SELECT lang, r,
        |    CAST(('0x' || substr(md5(concat(130, ':', r, ':', w)), 1, 15))
        |      ::BIGINT % 256 AS INT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cell
        |  FROM toks CROSS JOIN range(4) AS tr(r) GROUP BY 1, 2, 3),
        |fp AS (SELECT lang,
        |    CAST(sum(cell * (r * 256 + bucket + 1)) AS BIGINT) AS matrix_fp
        |  FROM cells GROUP BY 1),
        |probe AS (
        |  SELECT t.lang, t.rank, t.w, t.cnt AS true_cnt, min(cl.cell) AS est_cnt
        |  FROM top t CROSS JOIN range(4) AS tr(r)
        |  JOIN cells cl ON cl.lang = t.lang AND cl.r = tr.r
        |    AND cl.bucket = CAST(('0x' || substr(md5(concat(130, ':', tr.r,
        |      ':', t.w)), 1, 15))::BIGINT % 256 AS INT)
        |  WHERE t.rank <= 20
        |  GROUP BY 1, 2, 3, 4)
        |SELECT p.lang, CAST(p.rank AS INT) AS rank, p.w, p.true_cnt,
        |  p.est_cnt, p.est_cnt - p.true_cnt AS overcount, f.matrix_fp
        |FROM probe p JOIN fp f ON p.lang = f.lang
        |ORDER BY p.lang, p.rank""".stripMargin,
    // q131: the Bloom filter replayed SEMANTICALLY — a set bit is a
    // distinct (g // 2^(14*i)) % 16384 value (i = 0, 1, 2: disjoint
    // 14-bit fields of the 60-bit gram hash) over the eval grams, and a
    // train gram is a candidate iff all three of its probe positions
    // are in that set. Exact integer arithmetic end to end, so bit-array
    // words on the Spark side and the position set here must agree
    // exactly (n_set_bits pins the fill, no_false_negatives the safety
    // contract, n_false_pos the wasted-work sliver).
    "q131_bloom_decontam" ->
      """WITH words AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 5),
        |    i -> ('0x' || substr(md5(concat('79:',
        |      w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |      || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6])), 1, 15))
        |      ::BIGINT))) AS gram
        |  FROM words WHERE len(w) >= 7),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_doc, gram FROM g WHERE doc_id % 97 != 0),
        |ks AS (SELECT * FROM (VALUES (1), (16384), (268435456)) AS k(d)),
        |bits AS (SELECT DISTINCT (gram // ks.d) % 16384 AS bp
        |  FROM ev CROSS JOIN ks),
        |nb AS (SELECT CAST(count(*) AS INT) AS n_set_bits FROM bits),
        |tp AS (
        |  SELECT t.train_doc, t.gram, count(bi.bp) = 3 AS candidate
        |  FROM tr t CROSS JOIN ks
        |  LEFT JOIN bits bi ON bi.bp = (t.gram // ks.d) % 16384
        |  GROUP BY t.train_doc, t.gram),
        |ex AS (SELECT gram, TRUE AS in_eval FROM ev),
        |sc AS (
        |  SELECT tp.train_doc, tp.candidate, ex.in_eval
        |  FROM tp LEFT JOIN ex ON ex.gram = tp.gram)
        |SELECT train_doc,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_candidates,
        |  CAST(sum(CASE WHEN in_eval IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(sum(CASE WHEN candidate AND in_eval IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_false_pos,
        |  min(CASE WHEN in_eval IS NOT NULL
        |    THEN CASE WHEN candidate THEN 1 ELSE 0 END ELSE 1 END) = 1
        |    AS no_false_negatives,
        |  (SELECT n_set_bits FROM nb) AS n_set_bits
        |FROM sc GROUP BY train_doc ORDER BY train_doc""".stripMargin,
    // q132: the KMV sketch replayed as list(DISTINCT hv ORDER BY hv)[1:k]
    // — plain SQL on exact integers — then the identical set-operation
    // estimators over the union's bottom-k. theta and inter_in_u pin the
    // sketch pair state; est_* are single deterministic double chains;
    // ok pins the accuracy claim against the exact join.
    "q132_kmv_overlap" ->
      """WITH t0 AS (
        |  SELECT lang, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |sh0 AS (SELECT lang, unnest(list_zip(ws[1:len(ws)-2],
        |    ws[2:len(ws)-1], ws[3:len(ws)])) AS z
        |  FROM t0 WHERE len(ws) >= 3),
        |hv AS (SELECT lang, ('0x' || substr(md5(concat('132:',
        |    z[1] || ' ' || z[2] || ' ' || z[3])), 1, 15))::BIGINT AS h
        |  FROM sh0),
        |d AS (SELECT DISTINCT lang, h FROM hv),
        |sk AS (SELECT lang, (list_sort(list(h)))[1:256] AS kmv
        |  FROM d GROUP BY lang),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY lang),
        |xi AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM d a JOIN d b ON a.h = b.h AND a.lang < b.lang
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    (list_sort(list_distinct(list_concat(a.kmv, b.kmv))))[1:256] AS u,
        |    list_intersect(a.kmv, b.kmv) AS ab
        |  FROM sk a JOIN sk b ON a.lang < b.lang),
        |est AS (
        |  SELECT lang_a, lang_b,
        |    u[len(u)] AS theta,
        |    CAST(len(list_intersect(u, ab)) AS INT) AS inter_in_u,
        |    len(u) AS ulen
        |  FROM pairs),
        |fin AS (
        |  SELECT lang_a, lang_b, theta, inter_in_u,
        |    round(CASE WHEN ulen < 256 THEN CAST(ulen AS DOUBLE)
        |      ELSE 255.0 * 1152921504606846976.0 / CAST(theta AS DOUBLE)
        |      END, 4) AS est_union,
        |    round(CASE WHEN ulen < 256 THEN CAST(inter_in_u AS DOUBLE)
        |      ELSE CAST(inter_in_u AS DOUBLE) / 256.0 *
        |        (255.0 * 1152921504606846976.0 / CAST(theta AS DOUBLE))
        |      END, 4) AS est_inter
        |  FROM est)
        |SELECT f.lang_a, f.lang_b, f.theta, f.inter_in_u, f.est_union,
        |  f.est_inter,
        |  na.n + nb.n - xi.exact_inter AS exact_union, xi.exact_inter,
        |  abs(f.est_union / CAST(na.n + nb.n - xi.exact_inter AS DOUBLE)
        |    - 1.0) <= 0.25 AS ok_union,
        |  abs(f.est_inter / CAST(xi.exact_inter AS DOUBLE) - 1.0) <= 0.75
        |    AS ok_inter
        |FROM fin f
        |JOIN xi ON xi.lang_a = f.lang_a AND xi.lang_b = f.lang_b
        |JOIN n na ON na.lang = f.lang_a
        |JOIN n nb ON nb.lang = f.lang_b
        |ORDER BY f.lang_a, f.lang_b""".stripMargin,
    // q133: the composed pipeline replayed stage by stage from the same
    // verified fragments — q24's sha256 canonicalizer, q121's rule
    // battery (minus r_stop, degenerate on this vocabulary — see the
    // operator scaladoc), q79's gram semi-join, q75's ppm-hash mixture
    // device (seed 133), and the survivor shard hash (seed 134). Every
    // stage verdict is a boolean on exact integers / int-division
    // doubles. (Shared builder — q178 replays the same pipeline over
    // lexdocs with the full five-rule battery.)
    "q133_corpus_pipeline" ->
      corpusPipelineOracleSql("", "documents", None),
    // q134: the streaming HLL replayed as batch registers per
    // epoch-aligned 24h bucket (q129's register arithmetic keyed by
    // window) plus q102's append-mode flush rule (win_end ≤ max event
    // time). The estimate takes the LINEAR-COUNTING branch at these
    // per-day cardinalities — one deterministic ln of exact integers.
    "q134_streaming_hll" ->
      """WITH e AS (SELECT * FROM events WHERE event_id % 2 = 0),
        |d AS (
        |  SELECT DISTINCT time_bucket(INTERVAL 24 HOUR, ts,
        |    TIMESTAMP '1970-01-01 00:00:00') AS win_start, user_id
        |  FROM e),
        |h AS (SELECT win_start,
        |    ('0x' || substr(md5(concat(129, ':', CAST(user_id AS VARCHAR))),
        |      1, 15))::BIGINT AS hv
        |  FROM d),
        |b AS (SELECT win_start, CAST(hv % 512 AS INT) AS bucket,
        |    hv // 512 AS wv FROM h),
        |r AS (SELECT win_start, bucket,
        |    CASE WHEN wv = 0 THEN 52 ELSE 52 - length(bin(wv)) END AS rho
        |  FROM b),
        |regs AS (SELECT win_start, bucket, max(rho) AS mj
        |  FROM r GROUP BY 1, 2),
        |ag AS (SELECT win_start,
        |    CAST(512 - count(*) AS INT) AS n_zero,
        |    CAST(sum(mj) AS BIGINT) AS sum_rho,
        |    CAST(sum((bucket + 1) * mj) AS BIGINT) AS reg_fp,
        |    CAST(sum(1::BIGINT << (52 - mj)) +
        |      (512 - count(*)) * (1::BIGINT << 52) AS BIGINT) AS z_scaled
        |  FROM regs GROUP BY 1),
        |nev AS (SELECT time_bucket(INTERVAL 24 HOUR, ts,
        |    TIMESTAMP '1970-01-01 00:00:00') AS win_start,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact
        |  FROM e GROUP BY 1),
        |est0 AS (SELECT ag.win_start, n_zero, sum_rho, reg_fp, z_scaled,
        |    n_events, exact,
        |    0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 *
        |      4503599627370496.0 / CAST(z_scaled AS DOUBLE) AS raw_est
        |  FROM ag JOIN nev ON nev.win_start = ag.win_start),
        |est1 AS (SELECT win_start, n_zero, sum_rho, reg_fp, z_scaled,
        |    n_events, exact,
        |    round(CASE WHEN n_zero > 0 AND raw_est <= 1280.0
        |      THEN 512.0 * ln(512.0 / CAST(n_zero AS DOUBLE))
        |      ELSE raw_est END, 4) AS est
        |  FROM est0)
        |SELECT win_start, win_start + INTERVAL 24 HOUR AS win_end,
        |  n_events, n_zero, sum_rho, reg_fp, z_scaled, est, exact,
        |  abs(est / CAST(exact AS DOUBLE) - 1.0) <= 0.15 AS ok
        |FROM est1
        |WHERE win_start + INTERVAL 24 HOUR <= (SELECT max(ts) FROM e)
        |ORDER BY win_start""".stripMargin,
    // q135: the rollup identity replayed semantically — per-(type, day)
    // registers max-merged across days vs the direct per-type registers
    // are the SAME group-by restated (max is associative), so the
    // equality is computed from both CTEs rather than assumed; registers,
    // fingerprints, and the linear-counting estimate replay q129/q134's
    // exact-integer arithmetic keyed by event_type.
    "q135_hll_rollup" ->
      """WITH e AS (SELECT event_type,
        |    concat(CAST(user_id AS VARCHAR), ':',
        |      CAST(CAST(ts AS DATE) AS VARCHAR)) AS u,
        |    CAST(ts AS DATE) AS day FROM events),
        |nd AS (SELECT event_type, CAST(count(DISTINCT day) AS BIGINT)
        |    AS n_days FROM e GROUP BY 1),
        |ddu AS (SELECT DISTINCT event_type, day, u FROM e),
        |hd AS (SELECT event_type, day,
        |    ('0x' || substr(md5(concat(129, ':', u)), 1, 15))::BIGINT AS hv
        |  FROM ddu),
        |rd AS (SELECT event_type, day, CAST(hv % 512 AS INT) AS bucket,
        |    CASE WHEN hv // 512 = 0 THEN 52
        |      ELSE 52 - length(bin(hv // 512)) END AS rho
        |  FROM hd),
        |rday AS (SELECT event_type, day, bucket, max(rho) AS mj
        |  FROM rd GROUP BY 1, 2, 3),
        |rmerged AS (SELECT event_type, bucket, max(mj) AS mj
        |  FROM rday GROUP BY 1, 2),
        |du AS (SELECT DISTINCT event_type, u FROM e),
        |hq AS (SELECT event_type,
        |    ('0x' || substr(md5(concat(129, ':', u)), 1, 15))::BIGINT AS hv
        |  FROM du),
        |rq AS (SELECT event_type, CAST(hv % 512 AS INT) AS bucket,
        |    CASE WHEN hv // 512 = 0 THEN 52
        |      ELSE 52 - length(bin(hv // 512)) END AS rho
        |  FROM hq),
        |rdirect AS (SELECT event_type, bucket, max(rho) AS mj
        |  FROM rq GROUP BY 1, 2),
        |cmp AS (
        |  SELECT coalesce(a.event_type, b.event_type) AS event_type,
        |    count(*) FILTER (coalesce(a.mj, 0) <> coalesce(b.mj, 0)) AS ndiff
        |  FROM rmerged a FULL JOIN rdirect b
        |    ON a.event_type = b.event_type AND a.bucket = b.bucket
        |  GROUP BY 1),
        |ag AS (SELECT event_type,
        |    CAST(512 - count(*) AS INT) AS n_zero,
        |    CAST(sum(mj) AS BIGINT) AS sum_rho,
        |    CAST(sum((bucket + 1) * mj) AS BIGINT) AS reg_fp,
        |    CAST(sum(1::BIGINT << (52 - mj)) +
        |      (512 - count(*)) * (1::BIGINT << 52) AS BIGINT) AS z_scaled
        |  FROM rmerged GROUP BY 1),
        |ex AS (SELECT event_type, CAST(count(DISTINCT u) AS BIGINT) AS exact
        |  FROM e GROUP BY 1),
        |est0 AS (SELECT ag.event_type, n_zero, sum_rho, reg_fp, z_scaled,
        |    exact,
        |    0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 *
        |      4503599627370496.0 / CAST(z_scaled AS DOUBLE) AS raw_est
        |  FROM ag JOIN ex ON ex.event_type = ag.event_type),
        |est1 AS (SELECT event_type, n_zero, sum_rho, reg_fp, z_scaled,
        |    exact,
        |    round(CASE WHEN n_zero > 0 AND raw_est <= 1280.0
        |      THEN 512.0 * ln(512.0 / CAST(n_zero AS DOUBLE))
        |      ELSE raw_est END, 4) AS est
        |  FROM est0)
        |SELECT f.event_type, nd.n_days, c.ndiff = 0 AS merge_matches_direct,
        |  f.n_zero, f.sum_rho, f.reg_fp, f.z_scaled, f.est, f.exact,
        |  abs(f.est / CAST(f.exact AS DOUBLE) - 1.0) <= 0.15 AS ok
        |FROM est1 f
        |JOIN nd ON nd.event_type = f.event_type
        |JOIN cmp c ON c.event_type = f.event_type
        |ORDER BY f.event_type""".stripMargin,
    // q136: the profile replayed component by component — small exact
    // aggregates directly, the SpaceSaving top tokens as ranked plain
    // counts (exact because per-source vocabulary ≤ k, tie-break
    // (count DESC, item ASC)), and the HLL bigram ndv from the q129
    // register arithmetic keyed by source.
    "q136_corpus_profile" ->
      """WITH t0 AS (
        |  SELECT source, lang, n_chars, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |ds AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |  FROM t0 GROUP BY 1),
        |w AS (SELECT source, unnest(ws) AS w FROM t0),
        |wc AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2),
        |tt AS (SELECT source, w, c, row_number() OVER (PARTITION BY source
        |    ORDER BY c DESC, w ASC) AS rn FROM wc),
        |top1 AS (SELECT source, w AS top_token,
        |    CAST(c AS BIGINT) AS top_token_cnt FROM tt WHERE rn = 1),
        |top2 AS (SELECT source, w AS second_token FROM tt WHERE rn = 2),
        |b0 AS (SELECT source, unnest(list_zip(ws[1:len(ws)-1],
        |    ws[2:len(ws)])) AS z FROM t0 WHERE len(ws) >= 2),
        |bgd AS (SELECT DISTINCT source, z[1] || ' ' || z[2] AS b FROM b0),
        |h AS (SELECT source,
        |    ('0x' || substr(md5(concat(129, ':', b)), 1, 15))::BIGINT AS hv
        |  FROM bgd),
        |r AS (SELECT source, CAST(hv % 512 AS INT) AS bucket,
        |    CASE WHEN hv // 512 = 0 THEN 52
        |      ELSE 52 - length(bin(hv // 512)) END AS rho
        |  FROM h),
        |regs AS (SELECT source, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
        |ag AS (SELECT source,
        |    CAST(512 - count(*) AS INT) AS n_zero,
        |    CAST(sum(1::BIGINT << (52 - mj)) +
        |      (512 - count(*)) * (1::BIGINT << 52) AS BIGINT) AS z_scaled
        |  FROM regs GROUP BY 1),
        |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS ndv_exact
        |  FROM bgd GROUP BY 1),
        |est0 AS (SELECT ag.source, n_zero, z_scaled, ndv_exact,
        |    0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 *
        |      4503599627370496.0 / CAST(z_scaled AS DOUBLE) AS raw_est
        |  FROM ag JOIN ex ON ex.source = ag.source),
        |est1 AS (SELECT source, ndv_exact,
        |    round(CASE WHEN n_zero > 0 AND raw_est <= 1280.0
        |      THEN 512.0 * ln(512.0 / CAST(n_zero AS DOUBLE))
        |      ELSE raw_est END, 4) AS ndv_est
        |  FROM est0)
        |SELECT ds.source, ds.n_docs, ds.n_langs, ds.n_tokens,
        |  ds.n_chars_total, top1.top_token, top1.top_token_cnt,
        |  top2.second_token, e.ndv_est, e.ndv_exact,
        |  abs(e.ndv_est / CAST(e.ndv_exact AS DOUBLE) - 1.0) <= 0.15 AS ok_ndv
        |FROM ds
        |JOIN top1 ON top1.source = ds.source
        |LEFT JOIN top2 ON top2.source = ds.source
        |JOIN est1 e ON e.source = ds.source
        |ORDER BY ds.source""".stripMargin,
    // q137: the quantile histogram replayed from integer bucket
    // arithmetic — `length(bin(v))` is ⌊log₂v⌋+1 exactly as in q129 —
    // with the cumulative walk and the exact rank walk side by side.
    // merge_matches_direct is literal TRUE here because the oracle's
    // merged and direct global cells are the same GROUP BY by
    // construction; the Spark side genuinely compares the native
    // aggregate's pointwise-merged sketch against a direct one.
    "q137_hist_quantiles" ->
      """WITH vals AS (
        |  SELECT l_returnflag AS grain,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |av AS (
        |  SELECT grain, cents FROM vals
        |  UNION ALL SELECT 'ALL', cents FROM vals),
        |bk AS (
        |  SELECT grain, CASE WHEN cents < 32 THEN cents
        |    ELSE (length(bin(cents)) - 5) * 16 +
        |      (cents >> (length(bin(cents)) - 5)) END AS pos
        |  FROM av),
        |cells AS (
        |  SELECT grain, pos, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bk GROUP BY 1, 2),
        |cum AS (
        |  SELECT grain, pos, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY grain ORDER BY pos) AS BIGINT)
        |      AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY grain) AS BIGINT) AS n,
        |    CASE WHEN pos < 32 THEN pos
        |      ELSE (pos % 16 + 16) << (pos // 16 - 1) END AS lb
        |  FROM cells),
        |est AS (
        |  SELECT grain, max(n) AS n,
        |    min(CASE WHEN cum >= (n + 1) // 2 THEN lb END) AS p50_est,
        |    min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN lb END) AS p90_est,
        |    min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lb END) AS p99_est,
        |    CAST(sum((pos + 1) * cnt) AS BIGINT) AS hist_fp
        |  FROM cum GROUP BY 1),
        |rk AS (
        |  SELECT grain, cents,
        |    row_number() OVER (PARTITION BY grain ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY grain) AS n
        |  FROM av),
        |ex AS (
        |  SELECT grain,
        |    min(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_exact,
        |    min(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END) AS p90_exact,
        |    min(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END)
        |      AS p99_exact
        |  FROM rk GROUP BY 1)
        |SELECT e.grain, e.n, e.p50_est, x.p50_exact,
        |  e.p50_est <= x.p50_exact AND x.p50_exact * 16 <= e.p50_est * 17
        |    AS ok50,
        |  e.p90_est, x.p90_exact,
        |  e.p90_est <= x.p90_exact AND x.p90_exact * 16 <= e.p90_est * 17
        |    AS ok90,
        |  e.p99_est, x.p99_exact,
        |  e.p99_est <= x.p99_exact AND x.p99_exact * 16 <= e.p99_est * 17
        |    AS ok99,
        |  e.hist_fp, TRUE AS merge_matches_direct
        |FROM est e JOIN ex x ON x.grain = e.grain
        |ORDER BY e.grain""".stripMargin,
    // q138: the full layout pipeline replayed — integer normalization,
    // the Morton interleave as a list_transform over bit positions, the
    // q137 histogram-bucket walk for the 31 equal-frequency cuts, file
    // assignment as |{cuts <= k}| via a distinct-key map (values equal
    // Spark's per-row HOF count by construction), then identical footer
    // stats + box-overlap audit. Everything integer — no FP anywhere.
    "q138_zorder_layout" ->
      """WITH xy AS (SELECT l_partkey AS x, l_suppkey AS y FROM lineitem),
        |b AS (
        |  SELECT min(x) AS xmin, max(x) AS xmax,
        |    min(y) AS ymin, max(y) AS ymax,
        |    min(x) + ((max(x) - min(x)) * 30) // 100 AS qxlo,
        |    min(x) + ((max(x) - min(x)) * 40) // 100 AS qxhi,
        |    min(y) + ((max(y) - min(y)) * 30) // 100 AS qylo,
        |    min(y) + ((max(y) - min(y)) * 40) // 100 AS qyhi
        |  FROM xy),
        |nz AS (
        |  SELECT x, y,
        |    ((x - xmin) * 65535) // greatest(xmax - xmin, 1) AS xn,
        |    ((y - ymin) * 65535) // greatest(ymax - ymin, 1) AS yn,
        |    x BETWEEN qxlo AND qxhi AND y BETWEEN qylo AND qyhi AS hit
        |  FROM xy, b),
        |zz AS (
        |  SELECT x, y, xn, hit, list_sum(list_transform(range(0, 16),
        |    i -> (((xn >> i) & 1) << (2 * i)) +
        |         (((yn >> i) & 1) << (2 * i + 1)))) AS z
        |  FROM nz),
        |kv AS (
        |  SELECT 'zorder' AS layout, x, y, hit, z AS k FROM zz
        |  UNION ALL SELECT 'linear', x, y, hit, xn FROM zz),
        |bk AS (
        |  SELECT layout, x, y, hit, k, CASE WHEN k < 32 THEN k
        |    ELSE (length(bin(k)) - 5) * 16 + (k >> (length(bin(k)) - 5))
        |    END AS pos
        |  FROM kv),
        |cells AS (
        |  SELECT layout, pos, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bk GROUP BY 1, 2),
        |cum AS (
        |  SELECT layout, pos, cnt,
        |    sum(cnt) OVER (PARTITION BY layout ORDER BY pos) AS cum,
        |    sum(cnt) OVER (PARTITION BY layout) AS n,
        |    CASE WHEN pos < 32 THEN pos
        |      ELSE (pos % 16 + 16) << (pos // 16 - 1) END AS lb
        |  FROM cells),
        |cuts AS (
        |  SELECT layout, js.j,
        |    min(CASE WHEN cum >= (js.j * n + 31) // 32 THEN lb END) AS cut
        |  FROM cum CROSS JOIN (SELECT unnest(range(1, 32)) AS j) js
        |  GROUP BY 1, 2),
        |fmap AS (
        |  SELECT kf.layout, kf.k, count(c.cut) AS file
        |  FROM (SELECT DISTINCT layout, k FROM bk) kf
        |  LEFT JOIN cuts c ON c.layout = kf.layout AND c.cut <= kf.k
        |  GROUP BY 1, 2),
        |fs AS (
        |  SELECT bk.layout, f.file, CAST(count(*) AS BIGINT) AS nr,
        |    min(bk.x) AS fxmin, max(bk.x) AS fxmax,
        |    min(bk.y) AS fymin, max(bk.y) AS fymax,
        |    CAST(sum(CASE WHEN bk.hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nr_in_box
        |  FROM bk JOIN fmap f ON f.layout = bk.layout AND f.k = bk.k
        |  GROUP BY 1, 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(nr) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN fxmax >= qxlo AND fxmin <= qxhi
        |    AND fymax >= qylo AND fymin <= qyhi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS files_scanned,
        |  CAST(sum(CASE WHEN fxmax >= qxlo AND fxmin <= qxhi
        |    AND fymax >= qylo AND fymin <= qyhi THEN nr ELSE 0 END)
        |    AS BIGINT) AS rows_scanned,
        |  CAST(sum(CASE WHEN fxmax >= qxlo AND fxmin <= qxhi
        |    AND fymax >= qylo AND fymin <= qyhi THEN nr ELSE 0 END) * 100
        |    // sum(nr) AS BIGINT) AS scan_pct,
        |  CAST(sum(nr_in_box) AS BIGINT) AS rows_matched
        |FROM fs, b GROUP BY layout ORDER BY layout""".stripMargin,
    "q139_pagerank" -> q139OracleSql,
    // q140: the streamed per-window histogram replayed from the q137
    // bucket arithmetic keyed by time_bucket windows, exact percentiles
    // by the naive per-window rank walk, the q134 watermark-withholding
    // cutoff on the last (still-open) window. mass_matches is literal
    // TRUE here (the oracle's window counts are one GROUP BY); the
    // Spark side genuinely compares the streamed sketch's cell mass to
    // the streamed row count.
    "q140_streaming_quantiles" ->
      """WITH e AS (
        |  SELECT event_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_id % 2 = 1),
        |w AS (SELECT time_bucket(INTERVAL 24 HOUR, ts,
        |    TIMESTAMP '1970-01-01 00:00:00') AS win_start, cents FROM e),
        |bk AS (
        |  SELECT win_start, cents, CASE WHEN cents < 32 THEN cents
        |    ELSE (length(bin(cents)) - 5) * 16 +
        |      (cents >> (length(bin(cents)) - 5)) END AS pos
        |  FROM w),
        |cells AS (
        |  SELECT win_start, pos, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bk GROUP BY 1, 2),
        |cum AS (
        |  SELECT win_start, pos, cnt,
        |    sum(cnt) OVER (PARTITION BY win_start ORDER BY pos) AS cum,
        |    sum(cnt) OVER (PARTITION BY win_start) AS n,
        |    CASE WHEN pos < 32 THEN pos
        |      ELSE (pos % 16 + 16) << (pos // 16 - 1) END AS lb
        |  FROM cells),
        |est AS (
        |  SELECT win_start, CAST(max(n) AS BIGINT) AS n_events,
        |    CAST(sum((pos + 1) * cnt) AS BIGINT) AS hist_fp,
        |    min(CASE WHEN cum >= (n + 1) // 2 THEN lb END) AS p50_est,
        |    min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN lb END) AS p90_est,
        |    min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lb END) AS p99_est
        |  FROM cum GROUP BY 1),
        |rk AS (
        |  SELECT win_start, cents,
        |    row_number() OVER (PARTITION BY win_start ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY win_start) AS cnt
        |  FROM w),
        |ex AS (
        |  SELECT win_start,
        |    min(CASE WHEN rn = (cnt + 1) // 2 THEN cents END) AS p50_exact,
        |    min(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN cents END) AS p90_exact,
        |    min(CASE WHEN rn = (cnt * 99 + 99) // 100 THEN cents END)
        |      AS p99_exact
        |  FROM rk GROUP BY 1)
        |SELECT s.win_start, s.win_start + INTERVAL 24 HOUR AS win_end,
        |  s.n_events, s.hist_fp, TRUE AS mass_matches,
        |  s.p50_est, x.p50_exact,
        |  s.p50_est <= x.p50_exact AND x.p50_exact * 16 <= s.p50_est * 17
        |    AS ok50,
        |  s.p90_est, x.p90_exact,
        |  s.p90_est <= x.p90_exact AND x.p90_exact * 16 <= s.p90_est * 17
        |    AS ok90,
        |  s.p99_est, x.p99_exact,
        |  s.p99_est <= x.p99_exact AND x.p99_exact * 16 <= s.p99_est * 17
        |    AS ok99
        |FROM est s JOIN ex x ON x.win_start = s.win_start
        |WHERE s.win_start + INTERVAL 24 HOUR <= (SELECT max(ts) FROM e)
        |ORDER BY s.win_start""".stripMargin,
    // q141: the h60 bigram hashes, the rarity-ladder probe picks
    // (min by (distance, hash) per divisor), the q131 bloom replay as
    // distinct bit-position sets per file, the 3-probe candidate test,
    // and the truth/false-positive accounting — all restated in
    // DuckDB's dialect.
    "q141_bloom_skipping" ->
      """WITH t0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(
        |    lower(trim(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]))) AS g
        |  FROM t0 WHERE len(ws) >= 2),
        |bg AS (
        |  SELECT doc_id, CAST(doc_id % 32 AS INT) AS file,
        |    ('0x' || substr(md5(concat('141:', g)), 1, 15))::BIGINT AS bh
        |  FROM g0),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |dfc AS (SELECT bh, CAST(count(*) AS BIGINT) AS df
        |  FROM bg GROUP BY 1),
        |qt AS (
        |  SELECT target_div, qbh, df FROM (
        |    SELECT ds.target_div, bh AS qbh, df, row_number() OVER (
        |      PARTITION BY ds.target_div
        |      ORDER BY abs(df - (SELECT n FROM nd) // ds.target_div), bh)
        |      AS rn
        |    FROM dfc CROSS JOIN
        |      (SELECT unnest([200, 50, 20, 5]) AS target_div) ds)
        |  WHERE rn = 1),
        |ks AS (SELECT * FROM (VALUES (1), (16384), (268435456)) AS k(d)),
        |bits AS (SELECT DISTINCT file, (bh // ks.d) % 16384 AS bp
        |  FROM bg CROSS JOIN ks),
        |probe AS (
        |  SELECT f.file, q.target_div, q.df, count(bi.bp) = 3 AS hit
        |  FROM (SELECT DISTINCT file FROM bg) f
        |  CROSS JOIN qt q CROSS JOIN ks
        |  LEFT JOIN bits bi ON bi.file = f.file
        |    AND bi.bp = (q.qbh // ks.d) % 16384
        |  GROUP BY 1, 2, 3),
        |tru AS (
        |  SELECT DISTINCT q.target_div, bg.file
        |  FROM bg JOIN qt q ON q.qbh = bg.bh),
        |dm AS (
        |  SELECT q.target_div, CAST(count(DISTINCT doc_id) AS BIGINT)
        |    AS docs_matched
        |  FROM bg JOIN qt q ON q.qbh = bg.bh GROUP BY 1),
        |audit AS (
        |  SELECT p.target_div, CAST(max(p.df) AS BIGINT) AS df,
        |    CAST(count(*) AS BIGINT) AS n_files_probed,
        |    CAST(sum(CASE WHEN p.hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS files_bloom_hit,
        |    CAST(sum(CASE WHEN t.file IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS files_true,
        |    CAST(sum(CASE WHEN p.hit AND t.file IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_false_pos,
        |    min(CASE WHEN t.file IS NOT NULL
        |      THEN CASE WHEN p.hit THEN 1 ELSE 0 END ELSE 1 END) = 1
        |      AS no_false_negatives
        |  FROM probe p LEFT JOIN tru t ON t.target_div = p.target_div
        |    AND t.file = p.file
        |  GROUP BY 1)
        |SELECT a.target_div, a.df, a.n_files_probed, a.files_bloom_hit,
        |  a.files_true, a.n_false_pos, a.no_false_negatives, dm.docs_matched
        |FROM audit a JOIN dm ON dm.target_div = a.target_div
        |ORDER BY a.target_div""".stripMargin,
    "q142_kmeans" -> q142OracleSql,
    // q143: the same Lloyd CTEs + the IVF list assignment, probe and
    // quantized-cosine search — integer dot products make the cosine
    // order-independent, so two different algorithms hash-match.
    "q143_ivf_learned" -> q143OracleSql,
    // q144: the DAWUM payload is deterministic events arithmetic, so the
    // oracle recomputes the denormalized poll×party rows directly — no
    // JSON on the DuckDB side; the hash pins Spark's parse+denormalize.
    "q144_dawum_denormalize" ->
      """WITH s AS (
        |  SELECT event_id AS e, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_id % 97 = 0 AND event_id IS NOT NULL
        |    AND ts IS NOT NULL),
        |p(pid, off) AS (VALUES ('101', 0), ('102', 7), ('203', 13))
        |SELECT
        |  CAST(e AS VARCHAR) AS survey_id,
        |  d AS poll_date,
        |  d - 7 AS period_start,
        |  d AS period_end,
        |  CASE WHEN e % 10 = 0 THEN NULL
        |       ELSE CAST(500 + e % 1500 AS INT) END AS surveyed,
        |  CASE CAST(1 + e % 5 AS INT) WHEN 1 THEN 'Inst A'
        |    WHEN 2 THEN 'Inst B' WHEN 3 THEN 'Inst C'
        |    WHEN 4 THEN 'Inst D' ELSE 'Inst E' END AS institute,
        |  CASE CAST(1 + e % 3 AS INT) WHEN 1 THEN 'Tasker X'
        |    WHEN 2 THEN 'Tasker Y' ELSE 'Tasker Z' END AS tasker,
        |  CASE CAST(1 + e % 4 AS INT) WHEN 1 THEN 'BT' WHEN 2 THEN 'EP'
        |    WHEN 3 THEN 'LT-BY' ELSE 'LT-NW' END AS parliament,
        |  CASE CAST(1 + e % 2 AS INT) WHEN 1 THEN 'Online'
        |    ELSE 'Telefon' END AS method,
        |  pid AS party_id,
        |  CAST((e + off) % 120 AS DOUBLE) / 2 AS pct,
        |  CASE pid WHEN '101' THEN 'P1' WHEN '102' THEN 'P2'
        |    ELSE pid END AS party
        |FROM s CROSS JOIN p
        |WHERE e % 13 <> 0
        |ORDER BY e, pid""".stripMargin,
    // q145: the GESIS binding payload is deterministic doc_id
    // arithmetic, so the oracle recomputes the folded record per
    // resource directly (last-wins title, first-appearance variables,
    // fallbacks, the error row) — no JSON on the DuckDB side.
    "q145_gesis_fold" ->
      """WITH r AS (SELECT doc_id AS i FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id IS NOT NULL)
        |SELECT
        |  'https://data.gesis.org/ds/' || i AS id,
        |  'https://schema.org/Dataset' AS type,
        |  CASE WHEN i % 11 = 0 THEN 'Dataset ' || i
        |       WHEN i % 5 = 1 THEN 'T8_' || i
        |       WHEN i % 3 <> 0 THEN 'T0_' || i
        |       ELSE 'Dataset ' || i END AS title,
        |  CASE WHEN i % 11 = 0 THEN '' ELSE 'D_' || i END AS description,
        |  CASE WHEN i % 11 = 0 THEN '' ELSE 'C_' || i END AS creator,
        |  CASE WHEN i % 11 = 0 THEN '' ELSE 'Y' || i END AS issued,
        |  CASE WHEN i % 11 = 0 THEN ''
        |       ELSE 'v' || (i % 4) || '|v' || ((i + 1) % 4) END AS variables,
        |  CASE WHEN i % 11 = 0 THEN 'error' ELSE 'success' END AS status,
        |  CASE WHEN i % 11 = 0 THEN ''
        |       ELSE 'creator=C_' || i || ';description=D_' || i
        |         || ';issued=Y' || i || ';keyword=kw_' || i
        |         || CASE WHEN i % 5 = 1 THEN ';title=T8_' || i
        |                 WHEN i % 3 <> 0 THEN ';title=T0_' || i
        |                 ELSE '' END
        |         || ';variableMeasured=v' || (i % 4) END AS properties
        |FROM r ORDER BY id""".stripMargin,
    // q146: the SOEP summary/detail payloads are deterministic doc_id
    // arithmetic; the oracle replays the merge precedence per field.
    // q147: multi-probe IVF + recall audit — probes, both hit sets and
    // the recall join replayed from the shared Lloyd CTEs in exact
    // integer arithmetic.
    "q147_ivf_multiprobe" -> q147OracleSql,
    // q148: q139's unrolled supersteps with seed-restricted teleport.
    "q148_personalized_pagerank" -> q148OracleSql,
    // q149: the weighted supersteps — ppm outflow splits from line-item
    // cents, all Long arithmetic.
    "q149_weighted_pagerank" -> q149OracleSql,
    // q150: Lloyd over the base subset + stored-index and batch
    // assignments against the same final centroids.
    "q150_ivf_incremental" -> q150OracleSql,
    // q151: 12 unrolled pointer-doubling min-label rounds over the
    // thresholded purchase graph, with the convergence guard.
    "q151_connected_components" -> q151OracleSql,
    // q152: eight unrolled BPE training rounds - argmax merge + the
    // portable string-replace apply.
    "q152_bpe_train" -> q152OracleSql,
    // q153: per-window event-type domain < k = 8, so the streaming
    // SpaceSaving state is provably exact (q125's contract) and plain
    // per-window counts replay it; the watermark cutoff is the q134
    // closed-window filter.
    "q153_streaming_topk" ->
      """WITH e AS (SELECT * FROM events WHERE event_id % 2 = 1),
        |c AS (SELECT time_bucket(INTERVAL 24 HOUR, ts,
        |    TIMESTAMP '1970-01-01 00:00:00') AS win_start,
        |    event_type AS item, CAST(count(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY 1, 2),
        |n AS (SELECT win_start, CAST(sum(cnt) AS BIGINT) AS n_events
        |  FROM c GROUP BY 1),
        |r AS (SELECT win_start, item, cnt,
        |    row_number() OVER (PARTITION BY win_start
        |      ORDER BY cnt DESC, item) AS rank
        |  FROM c)
        |SELECT r.win_start, r.win_start + INTERVAL 24 HOUR AS win_end,
        |  n.n_events, CAST(r.rank AS INT) AS rank, r.item, r.cnt,
        |  CAST(0 AS BIGINT) AS err
        |FROM r JOIN n ON n.win_start = r.win_start
        |WHERE r.rank <= 8
        |  AND r.win_start + INTERVAL 24 HOUR <= (SELECT max(ts) FROM e)
        |ORDER BY r.win_start, r.rank""".stripMargin,
    // q154: JL sign projection + projected/full brute top-5 + recall
    // join, all exact-integer except the final rounded cosines.
    "q154_random_projection" -> q154OracleSql,
    // q155: q152's trained merges applied corpus-wide - per-source
    // token accounting off the final vocabulary sequences.
    "q155_bpe_encode" -> q155OracleSql,
    // q156: base-5 + warm-2 unrolled supersteps, stored ranks as r0.
    "q156_warmstart_pagerank" -> q156OracleSql,
    // q157: coarse Lloyd + 4 unrolled subspace Lloyds + code argmin +
    // ADC table lookups + exact-L2 brute truth; integer end to end.
    "q157_ivf_pq" -> q157OracleSql,
    // q158: q154's projection CTEs + 3 Lloyd rounds in projected space
    // + 2-probe list search + JL-brute leg + full-dim truth.
    "q158_jl_ivf" -> q158OracleSql(),
    // q159: the q151 doubling chain twice (full + base graph); fixpoint
    // uniqueness lets the incremental merge hash-match a full rebuild.
    "q159_incremental_cc" -> q159OracleSql,
    // q160: q157's oracle over RESIDUAL dims (q - coarse centroid) with
    // 16000+s codebook seeds; FAISS's by_residual=true default.
    "q160_residual_pq" -> q160OracleSql,
    // q161: the three-lever stack - q158's projection+Lloyd CTEs, four
    // 4-d subspace Lloyds, ADC + exact-in-list dual ranking, full-dim
    // L2 truth; integers end to end.
    "q161_jl_ivf_pq" -> q161OracleSql(),
    // q162: q160's training CTEs + per-(query, list) residual ADC
    // tables + two-probe candidate join; FAISS's real serving shape.
    "q162_residual_multiprobe" -> q162OracleSql(),
    // q164/q165/q166: q157/q160/q162's oracles over the planted-neighbor
    // dims derivation (plantedDimsCte) — same training/serving/truth
    // replay, recall columns now measure the index, not chance.
    "q164_planted_ivf_pq" -> ivfPqOracleSql(residual = false, planted = true),
    "q165_planted_residual_pq" ->
      ivfPqOracleSql(residual = true, planted = true),
    "q166_planted_multiprobe" -> q162OracleSql(planted = true),
    // q167/q168: q158/q161's oracles over the planted dims — the JL
    // levers' recall audits on separable geometry
    "q167_planted_jl_ivf" -> q158OracleSql(planted = true),
    "q168_planted_jl_ivf_pq" -> q161OracleSql(planted = true),
    // q169: q166's oracle + the exact-rerank CTEs (the ADC
    // k_factor×topk shortlist re-scored by exact L2 from dims — the
    // declared knee of the retired RerankSweep's curve, in lockstep
    // with Similarity.RerankKFactor)
    "q169_planted_rerank" -> q162OracleSql(planted = true,
      rerank = Similarity.RerankKFactor * Similarity.RerankTopK),
    // q163: signup-day cohorts x purchase-day offsets, dense grid with
    // emitted zeros, retention in exact per-mille.
    "q163_cohort_retention" ->
      s"""WITH cohorts AS (
         |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
         |  FROM events WHERE event_type = 'signup' GROUP BY 1),
         |sizes AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
         |  FROM cohorts GROUP BY 1),
         |active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
         |  FROM events WHERE event_type = 'purchase'),
         |hits AS (
         |  SELECT c.cohort_day,
         |    date_diff('day', c.cohort_day, a.day) AS off,
         |    CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_active
         |  FROM cohorts c JOIN active a USING (user_id)
         |  WHERE date_diff('day', c.cohort_day, a.day)
         |    BETWEEN 0 AND ${operators.Sessions.RetentionDays}
         |  GROUP BY 1, 2),
         |grid AS (SELECT s.cohort_day, s.n_cohort, CAST(o.o AS INT) AS off
         |  FROM sizes s,
         |    (SELECT unnest(range(0, ${operators.Sessions.RetentionDays + 1}))
         |       AS o) o)
         |SELECT g.cohort_day, g.off AS "offset", g.n_cohort,
         |  COALESCE(h.n_active, 0) AS n_active,
         |  COALESCE(h.n_active, 0) * 1000 // g.n_cohort AS retention_pm
         |FROM grid g LEFT JOIN hits h ON h.cohort_day = g.cohort_day
         |  AND h.off = g.off
         |ORDER BY g.cohort_day, g.off""".stripMargin,
    "q146_soep_merge" ->
      """WITH s AS (SELECT doc_id AS i,
        |    (doc_id % 10 = 0) AS det FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id % 35 <> 0 AND doc_id IS NOT NULL)
        |SELECT
        |  CAST(i AS BIGINT) AS id,
        |  'ind-' || i AS slug,
        |  CASE WHEN det AND i % 20 = 0 THEN 'DT_' || i
        |       ELSE 'ST_' || i END AS title,
        |  'SS_' || i AS subtitle,
        |  'SD_' || i AS short_description,
        |  CASE WHEN det THEN '<p>L_' || i || '</p>' END
        |    AS long_description_html,
        |  CASE WHEN det AND i % 20 = 0 THEN 'dt' || (i % 3)
        |       ELSE 't' || (i % 3) || '|n' || (i % 3) END AS topics,
        |  CASE WHEN det THEN 'sex=m,f;age=a1' ELSE '' END AS dimensions,
        |  CASE WHEN det AND i % 30 = 0 THEN 'UL (UD)'
        |       WHEN det AND i % 30 = 10 THEN 'UN'
        |       ELSE 'u' || (i % 2) END AS unit,
        |  CASE WHEN det THEN 'src-d' ELSE 'src-s' END AS source,
        |  CASE WHEN det THEN 'M_' || i END AS methodology,
        |  CASE WHEN det THEN (2000 + i % 20) || '|' || (2001 + i % 20)
        |       ELSE '' END AS available_years,
        |  CASE WHEN det THEN '2025-02-02'
        |       ELSE '2024-01-0' || (1 + i % 9) END AS last_updated_at
        |FROM s ORDER BY id""".stripMargin,
  )
}
