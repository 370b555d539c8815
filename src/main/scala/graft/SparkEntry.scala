package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see SURVEY.md §7 (repository root).
  *
  * Every entry in `queries` is one operator from SURVEY §2 re-expressed as a
  * declarative Spark program; `oracleSql` carries the DuckDB-equivalent SQL
  * the driver hash-compares against at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.groupAgg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 sources + §2.2 projections/filters
    "q_scan_filter_project" -> (Relational.scanFilterProject _),
    "q_csv_table_column" -> (CsvIngest.csvTableColumn _),
    "q_csv_badges"       -> (CsvIngest.csvTableBadges _),
    // §2.4 aggregations
    "q1_agg"        -> (Relational.groupAgg _),
    "q_count_group" -> (Relational.countGroup _),
    "q_usage_email_filter" -> (Relational.usageEmailFilter _),
    "q_column_stats" -> (Relational.columnStats _),
    "q_max_group"   -> (Relational.maxGroup _),
    "q_collect_agg" -> (Relational.collectAgg _),
    // §2.3 joins
    "q_broadcast_join" -> (Relational.broadcastJoin _),
    "q_multiway_join"  -> (Relational.multiwayJoin _),
    "q_left_join_agg"  -> (Relational.leftJoinAgg _),
    "q_anti_join"      -> (Relational.antiJoin _),
    "q_semi_join"      -> (Relational.semiJoin _),
    "q_bucketed_join"  -> ((s, d) => Relational.bucketedJoin(s, d)),
    // §2.4 set ops / dedup / sort-limit
    "q_union_dedup"    -> (Relational.unionDedup _),
    "q_dedup_rows"     -> (Relational.dedupRows _),
    "q_sort_limit"     -> (Relational.sortLimit _),
    "q_topk_per_group" -> (Relational.topkPerGroup _),
    // events / streaming-equivalent
    "q_windowed_events" -> (Events.windowedAgg _),
    "q_json_props"      -> (Events.jsonProps _),
    "q_bad_records"     -> (Events.badRecords _),
    "q_sessionize"      -> (Events.sessionize _),
    "q_asof_join"       -> (Events.asofAttribution _),
    // graph model pipeline (§1, §2.7 serializer fan-out + dedup)
    "q_graph_node_counts" -> (GraphBuild.nodeCounts _),
    "q_graph_edge_counts" -> (GraphBuild.edgeCounts _),
    "q_graph_table_nodes" -> (GraphBuild.tableNodes _),
    "q_table_lineage"     -> (GraphBuild.lineageEdges _),
    "q_column_lineage"    -> (GraphBuild.columnLineageEdges _),
    // dashboard model family graph build
    "q_dashboard_graph_nodes" -> (DashboardBuild.nodeCounts _),
    "q_dashboard_graph_nodes_staged" -> (DashboardBuild.nodeCountsStaged _),
    // §2.6 search-document queries
    "q_table_search_doc"     -> (SearchDocs.tableDocs _),
    "q_staged_table_search_doc" -> (SearchDocs.tableDocsStaged _),
    "q_user_search_doc"      -> (SearchDocs.userDocs _),
    "q_dashboard_search_doc" -> (SearchDocs.dashboardDocs _),
    "q_staged_user_search_doc"      -> (SearchDocs.userDocsStaged _),
    "q_staged_dashboard_search_doc" -> (SearchDocs.dashboardDocsStaged _),
    "q_table_search_doc_tagged"     -> (SearchDocs.tableDocsTagged _),
    "q_user_search_doc_tagged"      -> (SearchDocs.userDocsTagged _),
    "q_dashboard_search_doc_tagged" -> (SearchDocs.dashboardDocsTagged _),
    "q_es_published_table_docs"     -> (SearchDocs.tableDocsEsPublished _),
    "q_jdbc_roundtrip"              -> (graft.sources.Jdbc.jdbcRoundTrip _),
    "q_csv_loader_roundtrip"        -> (graft.sources.Stage.csvLoaderRoundTrip _),
    "q_neptune_csv_roundtrip"       -> (graft.sources.Stage.neptuneCsvRoundTrip _),
    "q_neptune_bulk_publish"        -> (graft.sources.NeptuneBulkLoad.bulkPublishRoundTrip _),
    "q_compact_files"               -> (graft.sources.Stage.compactionRoundTrip _),
    // §2.7 publisher + staleness
    "q_publish_upsert"      -> (Publish.upsertQuery _),
    "q_publish_lww"         -> (Publish.lwwUpsertQuery _),
    "q_publish_create_only" -> (Publish.createOnlyUpsertQuery _),
    "q_publish_empty_attr"  -> (Publish.emptyAttrUpsertQuery _),
    "q_delete_relation"     -> (Publish.deleteRelationQuery _),
    "q_edge_endpoint_check" -> (Publish.endpointCheckQuery _),
    "q_stale_sweep"         -> (Publish.staleSweepQuery _),
    "q_publish_lifecycle"   -> (Publish.publishLifecycleQuery _),
    "q_rds_stale_sweep"     -> (Publish.rdsStaleSweepQuery _),
    "q_neptune_stale_sweep" -> (Publish.neptuneStaleSweepQuery _),
    // §2.7 RDS relational-record universe
    "q_rds_records"  -> (RdsBuild.rdsRecordCounts _),
    "q_rds_fk_order" -> (RdsBuild.fkOrder _),
    // §2.3 REST-join framework (rest_api_query.py analog)
    "q_rest_join_inner" -> (RestJoin.restJoinInner _),
    "q_rest_join_outer" -> (RestJoin.restJoinOuter _),
    // §2.1 dialect metastore pipeline (join ∪ union → fold)
    "q_hive_metastore_fold" -> (Metastore.hiveMetastoreFold _),
    // §2.2/§2.5 scalar transformers
    "q_timestamp_epoch" -> (Transforms.timestampToEpoch _),
    "q_str_replace"     -> (Transforms.strReplace _),
    "q_key_format"      -> (Transforms.keyFormat _),
    "q_base64_json"     -> (Transforms.base64Json _),
    "q_posexplode_columns" -> (Transforms.glueColumns _),
    // text analysis (training-data pipeline)
    "q_text_tokens"     -> (TextOps.tokenCount _),
    "q_text_quality"    -> (TextOps.qualityScore _),
    "q_lang_id"         -> (TextOps.langId _),
    "q_doc_fingerprint" -> (TextOps.fingerprint _),
    "q_clean_pipeline"  -> (TextOps.cleanDecisions _),
    "q_text_repetition" -> (TextOps.repetitionSignals _),
    "q_domain_mix"      -> (TextOps.domainMix _),
    "q_vocab_topk"      -> ((s, d) => TextOps.vocabTopK(s, d)),
    "q_token_shards"    -> ((s, d) => TextOps.tokenShards(s, d)),
    "q_pack_sequences"  -> ((s, d) => TextOps.packSequences(s, d)),
    // scale-path twin of the exact quantiles: emits the exact values +
    // a within_eps rank-bracket self-check of the GK sketch, so the
    // DuckDB oracle fully gates it (no rows-only exemption)
    "q_length_quantiles_approx" -> ((s, d) => TextOps.lengthQuantilesApprox(s, d)),
    // int8 twin of q_ann_topk: the affine quantize/dequantize is exact
    // double arithmetic, so it carries a full DuckDB oracle
    "q_ann_topk_quantized" -> (SimilarityOps.annBruteForceQuantized _),
    "q_ann_topk_rerank"    -> (SimilarityOps.annTopKRerank _),
    "q_doc_winnow"      -> (TextOps.winnowFingerprint _),
    "q_pii_redact"      -> (TextOps.piiRedact _),
    "q_url_canon"       -> (TextOps.urlCanon _),
    // dedup family
    "q_dedup_exact"   -> (DedupOps.exactDedup _),
    "q_ngram_jaccard" -> (DedupOps.ngramJaccard _),
    "q_shared_ngrams" -> (DedupOps.sharedNgrams _),
    "q_minhash_lsh"   -> (DedupOps.minhashLshPairs _),
    "q_neardup_groups" -> (DedupOps.nearDupGroups _),
    "q_neardup_keep_best" -> (DedupOps.nearDupKeepBest _),
    "q_simhash"       -> (DedupOps.simhashBuckets _),
    "q_simhash_pairs" -> (DedupOps.simhashPairs _),
    "q_dedup_signals" -> (DedupOps.dedupSignals _),
    "q_dedup_gate"    -> (DedupOps.dedupGate _),
    "q_paragraph_dedup" -> (DedupOps.paragraphDedup _),
    "q_editdist_verify" -> (DedupOps.editDistVerify _),
    "q_dup_spans"     -> ((s, d) => DedupOps.dupSpans(s, d)),
    // intra-document repeated-span excision (self-repetition cleaning)
    "q_selfdup_spans" -> ((s, d) => DedupOps.selfDupSpans(s, d)),
    "q_exact_gate_bloom" -> (DedupOps.exactGateBloom _),
    // similarity search
    "q_embed_norm"        -> (SimilarityOps.norms _),
    "q_embed_pair_cosine" -> (SimilarityOps.pairCosine _),
    "q_ann_topk"          -> (SimilarityOps.annBruteForce _),
    "q_ann_lsh_pairs"     -> (SimilarityOps.annLshPairs _),
    "q_ann_ivf_pairs"     -> (SimilarityOps.annIvfPairs _),
    "q_embed_neardup_groups" -> (SimilarityOps.embedNearDupGroups _),
    "q_embed_quantize"    -> (SimilarityOps.quantize _),
    // per-label centroid cosine between snapshot slices, fixed-point sums
    "q_embed_drift"       -> (SimilarityOps.embedDrift _),
    "q_semantic_dedup"    -> (SimilarityOps.semanticDedup _),
    "q_ann_ivf_topk"      -> (SimilarityOps.annIvfTopK _),
    "q_ann_ivf_recall"    -> (SimilarityOps.annIvfRecall _),
    "q_ann_ivf_topk_quantized" -> (SimilarityOps.annIvfTopKQuantized _),
    // build→persist→serve lifecycle: index staged as cell-partitioned
    // parquet, search reads only the staged store (same oracle — lossless)
    "q_ann_ivf_topk_staged" -> (SimilarityOps.annIvfTopKStaged _),
    "q_ann_ivf_upsert"      -> (SimilarityOps.annIvfUpsert _),
    // centroid lifecycle: drift canary -> one Lloyd update -> migrate
    // only the vectors whose cell changes (touched-cell overwrite)
    "q_ann_recluster"       -> (SimilarityOps.annRecluster _),
    // tombstone path: ids-only delete, touched-cell anti-join rewrite
    "q_ann_ivf_delete"      -> (SimilarityOps.annIvfDelete _),
    "q_ann_pq_topk"       -> (SimilarityOps.annPqTopK _),
    // multimodal binary plumbing
    "q_multimodal_features" -> (MultimodalOps.binaryFeatures _),
    "q_frame_sample" -> ((s, d) => MultimodalOps.frameSample(s, d)),
    "q_media_decode_meta" -> (MultimodalOps.decodedMetaDF _),
    "q_media_resize"      -> ((s, d) => MultimodalOps.resizedMetaDF(s, d)),
    "q_media_chunks"      -> ((s, d) => MultimodalOps.mediaChunks(s, d)),
    "q_audio_decode_meta" -> (MultimodalOps.audioDecodedMetaDF _),
    // codec-verified multimodal admission gate (image ∧ audio rules)
    "q_media_curation"    -> (MultimodalOps.mediaCuration _),
    "q_audio_frame_energy" -> ((s, d) => MultimodalOps.audioFrameEnergy(s, d)),
    "q_video_frames"      -> ((s, d) => MultimodalOps.videoFrames(s, d)),
    // perceptual (pixel-level) image dedup: dHash + banded Hamming LSH
    "q_image_dhash" -> (MultimodalOps.imageDHashDF _),
    // (hot-key cap off here: the planted fixtures are degenerate-free,
    // so capped and uncapped verdicts coincide — spec-asserted)
    "q_image_dedup" -> ((s, d) => MultimodalOps.imageDedup(s, d)),
    // perceptual audio dedup: loudness-profile hash + banded Hamming LSH
    "q_audio_fingerprint" -> (MultimodalOps.audioFingerprintDF _),
    "q_audio_dedup"       -> ((s, d) => MultimodalOps.audioDedup(s, d)),
    // perceptual video dedup: temporal-gradient signature, exact equi-join
    "q_video_fingerprint" -> (MultimodalOps.videoFingerprintDF _),
    "q_video_dedup"       -> ((s, d) => MultimodalOps.videoDedup(s, d)),
    // streaming perceptual gate: dHash claims accrete across micro-batches
    "q_image_dedup_stream" ->
      (graft.streaming.MediaDedupStream.imageDedupStreamQuery _),
    // the audio modality through the same hash-agnostic streaming gate
    "q_audio_dedup_stream" ->
      (graft.streaming.MediaDedupStream.audioDedupStreamQuery _),
    // the EMBEDDING modality: streaming vector admission over the
    // cell-pruned accreting claim store (the IVF serving layout)
    "q_embed_dedup_stream" ->
      (graft.streaming.EmbedDedupStream.embedDedupStreamQuery _),
    // centroid lifecycle consumed by the stream: gate -> Lloyd refresh +
    // claim migration -> gate under the new artifact, verdicts unchanged
    "q_embed_recluster_stream" ->
      (graft.streaming.EmbedDedupStream.embedReclusterStreamQuery _),
    // payload-registry extractors (Feast feature registry, BambooHR XML)
    "q_feast_features" -> (RegistryIngest.feastFeatureTables _),
    "q_xml_users"      -> (RegistryIngest.bamboohrUsers _),
    // fetch-configured extractor gates (fixture clients from the star
    // schema drive the REAL pagination/parse/transform chains)
    "q_mode_dashboards"    -> (ExtractorOracles.modeDashboardMetadata _),
    "q_redash_dashboards"  -> (ExtractorOracles.redashDashboards _),
    "q_tableau_dashboards" -> (ExtractorOracles.tableauDashboards _),
    "q_atlas_table_docs"   -> (ExtractorOracles.atlasTableDocs _),
    // catalog sources (Spark-catalog walk, DESCRIBE-detail seam,
    // GenericExtractor, EsLastUpdated)
    "q_catalog_tables"       -> (ExtractorOracles.catalogTables _),
    "q_catalog_last_updated" -> (ExtractorOracles.catalogLastUpdated _),
    "q_es_last_updated"      -> (ExtractorOracles.esLastUpdated _),
    "q_generic_records"      -> (ExtractorOracles.genericRecords _),
    // REST fetch plumbing (driver pagination/retry/skip loop; executor-
    // distributed per-partition fetch) + full pipeline launch lifecycle
    "q_rest_fetch_pages"       -> (ExtractorOracles.restFetchPages _),
    "q_rest_fetch_distributed" -> (ExtractorOracles.restFetchDistributed _),
    "q_pipeline_e2e"           -> (ExtractorOracles.pipelineE2E _),
    // watermark model fan-out (part_name parse)
    "q_watermark_parse" -> (GraphBuild.watermarkNodes _),
    // corpus audit + decontamination
    "q_tfidf_topk"       -> ((s, d) => TextOps.tfidfTopK(s, d)),
    "q_length_quantiles" -> (TextOps.lengthQuantiles _),
    "q_decontaminate"    -> (DedupOps.decontaminate _),
    // bloom-prefiltered twin: same verdicts, corpus shingles gated by a
    // might_contain pass before the exact verify join
    "q_decontaminate_bloom" -> (DedupOps.decontaminateBloom _),
    // asymmetric containment (short-inside-long) on shingle-key candidates
    "q_containment_dedup" -> ((s, d) => DedupOps.containmentDedup(s, d)),
    // surgical decontamination: merged token-range excision spans
    "q_decontaminate_spans" -> (DedupOps.decontaminateSpans _),
    "q_unigram_logprob"  -> (TextOps.unigramLogprob _),
    // word-order-aware twin: interpolated bigram LM surprisal
    "q_bigram_logprob"   -> (TextOps.bigramLogprob _),
    "q_lm_ppl_buckets"   -> (TextOps.lmPerplexityBuckets _),
    "q_bpe_merges"       -> ((s, d) => TextOps.bpeMerges(s, d)),
    "q_bpe_encode"       -> (TextOps.bpeEncode _),
    // the SCALE-PATH encode under the driver gate: a 4096-merge
    // corpus-derived vocab (prefix chains + provably-inert tail) runs
    // the partition-local encoder; the oracle replays the firing
    // merges' replace chain iteratively (list_reduce)
    "q_bpe_encode_scaled" -> ((s, d) => TextOps.bpeEncodeScaled(s, d)),
    // tokenizer-artifact interop: trained table → tokenizer.json →
    // import → encode under the IMPORTED table
    "q_vocab_artifact_roundtrip" ->
      ((s, d) => TextOps.vocabArtifactRoundtrip(s, d)),
    // the interop's back half: piece→id under the artifact's derived
    // vocab map (OOV → -1), id-stream fingerprints per doc
    "q_bpe_encode_ids" -> ((s, d) => TextOps.bpeEncodeIds(s, d)),
    // tokenizer refresh lifecycle: retrain merges on the accreted corpus
    // into a versioned artifact, re-encode ONLY stale-vocab eras via the
    // touched-partition overwrite, manifest the refreshed store
    "q_bpe_refresh"      -> ((s, d) => LayoutOps.bpeRefreshStore(s, d)),
    "q_quality_logit"    -> (TextOps.qualityLogit _),
    "q_quality_train"    -> ((s, d) => TextOps.trainQualityModel(s, d)),
    "q_quality_eval"     -> ((s, d) => TextOps.qualityTrainEval(s, d)),
    "q_quality_filter_stream" ->
      (graft.streaming.QualityFilterStream.qualityFilterStreamQuery _),
    // streaming twin of the curation funnel: per-doc verdicts with
    // cross-batch first-wins dedup state (even docs arrive, then odd)
    "q_curation_stream" ->
      (graft.streaming.CurationStream.curationStreamQuery _),
    // incremental curated store: each micro-batch's admitted docs append
    // as shard tails; manifest read back from the on-disk store
    "q_curated_store_incremental" ->
      (graft.streaming.CurationStream.curatedStoreIncrementalQuery _),
    // incremental TOKENIZED store: each micro-batch's admitted docs
    // BPE-encode and pack into context windows continuing the store's
    // global token offset; manifest read back from the on-disk store
    "q_tokenized_store_incremental" ->
      (graft.streaming.CurationStream.tokenizedStoreIncrementalQuery _),
    // the tokenizer-refresh lifecycle DEPLOYED on the production
    // incremental tokenized store: per-batch encode under the committed
    // vocab artifact, era/vocab-stamped layout, canary-gated retrain,
    // stale-era-only refresh; per-(era, shard) manifest read back
    "q_tokenized_store_refresh" ->
      (graft.streaming.CurationStream.tokenizedStoreRefreshQuery _),
    // the offline window REPACK completing the refresh lifecycle: the
    // grid re-derives from the refreshed payload's token counts, back
    // to exact ctx alignment (positions immutable)
    "q_tokenized_store_repack" ->
      (graft.streaming.CurationStream.tokenizedStoreRepackQuery _),
    // streaming CROSS-MODAL gate: text funnel composed with the media
    // property gates and the accreting perceptual claim store per batch
    // per-batch stream funnel: the batch build's drop-accounting emitted
    // per micro-batch, replay-safe via tuple-max resolution
    "q_curation_stream_funnel" ->
      (graft.streaming.CurationStream.curationStreamFunnelQuery _),
    // retention THROUGH the perceptual gate: three batches, a guardrailed
    // sweep between stream runs, twins of aged-out parents re-admitting
    "q_audio_claim_retention" ->
      (graft.streaming.MediaDedupStream.audioClaimRetentionQuery _),
    // claim retention: epoch-stamped claims, guardrailed sweep at the
    // horizon — aged-out classes re-admit, in-horizon classes reject
    "q_claim_retention" ->
      (graft.streaming.CurationStream.claimRetentionQuery _),
    // retention THROUGH the text gate: two epochs, a guardrailed sweep
    // between runs, twins of aged-out classes re-admitting
    "q_curation_claim_retention" ->
      (graft.streaming.CurationStream.curationClaimRetentionQuery _),
    // retention THROUGH the embedding gate: epoch-stamped int8 claims,
    // sweep between runs, rescaled twins of aged parents re-admitting
    "q_embed_claim_retention" ->
      (graft.streaming.EmbedDedupStream.embedClaimRetentionQuery _),
    "q_curation_multimodal_stream" ->
      (graft.streaming.CurationStream.curationMultimodalStreamQuery _),
    // the composed gate driving the incremental curated store — the full
    // incremental multimodal pre-training loop in one artifact
    "q_curated_store_multimodal_stream" ->
      (graft.streaming.CurationStream.curatedStoreMultimodalStreamQuery _),
    "q_unimax_sample"    -> ((s, d) => TextOps.unimaxSample(s, d)),
    "q_heavy_hitters"    -> ((s, d) => TextOps.heavyHitters(s, d)),
    "q_pmi_bigrams"      -> ((s, d) => TextOps.pmiBigrams(s, d)),
    "q_chunk_split"      -> ((s, d) => TextOps.chunkSplit(s, d)),
    "q_temperature_mix"  -> (TextOps.temperatureMix _),
    "q_bpe_fertility"    -> (TextOps.bpeFertility _),
    "q_dsir_weight"      -> (TextOps.dsirWeight _),
    "q_gopher_rules"     -> (TextOps.gopherRules _),
    "q_c4_line_filter"   -> (TextOps.c4LineFilter _),
    "q_corpus_drift"     -> (TextOps.corpusDrift _),
    "q_zorder_stats"     -> (LayoutOps.zorderStats _),
    // deterministic global training-order shuffle + round-robin shards
    "q_corpus_shuffle"   -> ((s, d) => LayoutOps.corpusShuffle(s, d)),
    // epoch re-shuffle contract: per-epoch deterministic permutations
    // served as manifests over the immutable store (epoch 0 = the store
    // order itself; no shard is ever rewritten)
    "q_epoch_order"      -> ((s, d) => LayoutOps.epochOrderManifest(s, d)),
    // the same contract at the WINDOW grain — the dataloader's unit
    "q_epoch_windows"    -> ((s, d) => LayoutOps.epochWindowManifest(s, d)),
    // its write-side lifecycle: shard-partitioned pos-sorted store,
    // read back and folded to an order-digest manifest
    "q_shard_store"      -> ((s, d) => LayoutOps.corpusShuffleStore(s, d)),
    // incremental extension: old positions immutable, arrivals rank
    // into the tail and interleave across shards
    "q_shard_upsert"     -> ((s, d) => LayoutOps.corpusShuffleUpsert(s, d)),
    // the end-to-end product: curation survivors -> training order ->
    // sharded store -> loader manifest, one composed query
    "q_curated_store"    -> ((s, d) => LayoutOps.curatedStore(s, d)),
    // curriculum data ordering: survivors laid out quality-descending
    "q_curriculum_store" -> ((s, d) => LayoutOps.curriculumStore(s, d)),
    // data mixing composed into the corpus build: curation survivors
    // downsampled to per-language target rates, then ordered + sharded
    "q_curated_store_mixed" -> ((s, d) => LayoutOps.curatedStoreMixed(s, d)),
    // survivors BPE-encoded, packed into fixed context windows, written
    // as window-grain shards with a token-stream digest manifest
    "q_tokenized_shards" -> ((s, d) => LayoutOps.tokenizedShardStore(s, d)),
    // the dataloader contract: exact ctx-token window slices of the
    // packed stream, split mid-document where the boundary falls
    "q_window_slices"    -> ((s, d) => LayoutOps.windowSlices(s, d)),
    // HLL++ distinct-count sketch gated against the exact twin
    "q_distinct_sketch"  -> ((s, d) => TextOps.distinctTokensSketch(s, d)),
    // per-shard Datasketches HLL union == direct build, bit-exact
    "q_sketch_merge"     -> ((s, d) => TextOps.sketchMergeParity(s, d)),
    // count-min point frequencies gated by the CMS contract
    "q_cms_freq"         -> ((s, d) => TextOps.cmsFrequency(s, d)),
    // composed curation funnel: quality -> dedup -> decontam -> split
    "q_curation_pipeline" -> (TextOps.curationPipeline _),
    // cross-modal compose: the codec-verified media gates excise
    // text-curation survivors whose image/audio asset fails
    "q_curation_multimodal" -> (MultimodalOps.curationMultimodal _),
    // the multimodal corpus build product: (text AND media) survivors ->
    // training order -> sharded store -> loader manifest
    "q_curated_store_multimodal" ->
      ((s, d) => MultimodalOps.curatedStoreMultimodal(s, d)),
    // lineage-graph analytics (exact fixed-point PageRank)
    "q_pagerank_lineage" -> ((s, d) => GraphBuild.pageRankLineage(s, d)),
    "q_split_assign"     -> (TextOps.splitAssign _),
    "q_stratified_sample" -> (TextOps.stratifiedSample _),
    "q_weighted_sample"   -> (TextOps.weightedPoissonSample _),
    "q_corpus_rollup"    -> (TextOps.corpusRollup _),
    // distributed clustering (IVF index build step)
    "q_kmeans_iter"      -> ((s, d) => SimilarityOps.kmeansIterate(s, d)),
    // skew-safe salted join (identical results to the plain join)
    "q_salted_join"      -> (Relational.saltedJoinQuery _),
    // publish snapshot diff (CDC audit of a publish tag)
    "q_snapshot_diff"    -> (Publish.snapshotDiffQuery _),
    // ChainedTransformer composition through the Pipeline abstraction
    "q_transform_chain"  -> (Transforms.transformChain _),
    // continuous MERGE publishing: streamed micro-batch fold vs the
    // batch LWW oracle (disjoint per-batch key cohorts → order-free)
    "q_stream_publish_fold" -> (graft.streaming.StreamPublish.streamPublishFoldQuery _),
  )

  /** Unrolled DuckDB program for k BPE rounds: each round selects the
    * max-count pair (ties lexicographic) from the double-space symbol
    * strings, then merges it via the same literal replace the Spark side
    * applies. All counts BIGINT; the only strings are corpus symbols. */
  /** The deterministic k-round BPE trainer as a CTE chain (`w0`, `s0`,
    * `p1`..`p$k`, `s1`..`s$k`) — shared by the merge-table oracle and
    * the tokenizer-refresh oracle, which also ENCODES under the learned
    * rounds. No leading WITH, so callers can prepend their own CTEs. */
  private def bpeTrainerCtes(k: Int): String = {
    val head =
      """w0 AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS word
             FROM documents) GROUP BY word),
         s0 AS MATERIALIZED (SELECT word, freq, '  ' || array_to_string(
             list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)), '  ') || '  ' AS s
           FROM w0)"""
    val rounds = (1 to k).map { r =>
      val prev = s"s${r - 1}"
      s""",
         p$r AS MATERIALIZED (SELECT a, b, c FROM (
             SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS c FROM (
               SELECT freq, unnest(list_transform(range(1, len(tk)),
                 i -> {'a': tk[i], 'b': tk[i + 1]})) AS pr FROM (
                 SELECT freq, string_split(trim(s), '  ') AS tk FROM $prev))
             GROUP BY pr.a, pr.b)
           ORDER BY c DESC, a, b LIMIT 1),
         s$r AS MATERIALIZED (SELECT word, freq, replace(s,
             ' ' || (SELECT a FROM p$r) || '  ' || (SELECT b FROM p$r) || ' ',
             ' ' || (SELECT a FROM p$r) || (SELECT b FROM p$r) || ' ') AS s FROM $prev)"""
    }.mkString
    s"$head$rounds"
  }

  private def bpeOracleSql(k: Int): String = {
    val union = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, c AS pair_count FROM p$r")
      .mkString(" UNION ALL ")
    s"WITH ${bpeTrainerCtes(k)} SELECT * FROM ($union) ORDER BY merge_rank"
  }

  /** DuckDB twin of [[graft.operators.TextOps.vocabArtifactRoundtrip]]:
    * the artifact round trip is a Spark-side identity on the merge
    * table (spec-pinned: imported == trained), so the oracle replays
    * the k-round trainer and encodes every document DIRECTLY under the
    * learned table — any export/import defect that perturbs merge
    * order or symbol bytes diverges the piece fingerprints. */
  private def vocabArtifactRoundtripOracleSql(k: Int): String =
    s"""WITH ${bpeTrainerCtes(k)},
       t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       wu AS (SELECT doc_id, i.i AS wi, words[i.i] AS w
         FROM t, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) i
         WHERE len(words) > 0),
       wp AS (SELECT word, string_split(trim(s), '  ') AS pcs FROM s$k),
       pe AS (SELECT wu.doc_id, wu.wi, wp.pcs
         FROM wu JOIN wp ON wp.word = wu.w),
       de AS (SELECT doc_id, flatten(list(pcs ORDER BY wi)) AS pcs
         FROM pe GROUP BY doc_id)
       SELECT t.doc_id,
         CAST(coalesce(len(de.pcs), 0) AS BIGINT) AS n_bpe,
         coalesce(md5(array_to_string(de.pcs, ' ')), md5('')) AS tok_fp
       FROM t LEFT JOIN de USING (doc_id)
       ORDER BY t.doc_id"""

  /** DuckDB twin of [[graft.operators.TextOps.bpeEncodeIds]]: replays
    * the k-round trainer, RE-DERIVES the artifact vocab exactly as
    * [[graft.operators.TokenizerArtifact.vocabOf]] does — single-code-
    * point operands in code-point order (DuckDB's binary collation IS
    * code-point order; vocabOf sorts by codePointAt to match), then
    * multi-code-point operands no merge output produces in first-use
    * order (rank-major, lhs before rhs), then merge outputs in rank
    * order deduped first-wins, ids dense from 0 — then encodes every
    * document under the learned table and fingerprints the id streams
    * (OOV → -1, counted). */
  private def bpeEncodeIdsOracleSql(k: Int): String = {
    val mergeUnion = (1 to k).map(r =>
      s"SELECT $r AS rnk, a, b FROM p$r").mkString(" UNION ALL ")
    s"""WITH ${bpeTrainerCtes(k)},
       m AS MATERIALIZED ($mergeUnion),
       ops AS (SELECT a AS s, rnk * 2 AS fu FROM m
         UNION ALL SELECT b, rnk * 2 + 1 FROM m),
       outs AS (SELECT a || b AS s, rnk FROM m),
       voc0 AS (
         SELECT s, 0 AS sec, s AS skey, 0 AS fkey
           FROM (SELECT DISTINCT s FROM ops WHERE len(s) = 1)
         UNION ALL
         SELECT s, 1, '', MIN(fu) FROM ops
           WHERE len(s) > 1 AND s NOT IN (SELECT s FROM outs) GROUP BY s
         UNION ALL
         SELECT s, 2, '', MIN(rnk) FROM outs GROUP BY s),
       vocab AS MATERIALIZED (
         SELECT s, row_number() OVER (ORDER BY sec, skey, fkey) - 1 AS id
         FROM voc0),
       t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       wu AS (SELECT doc_id, i.i AS wi, words[i.i] AS w
         FROM t, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) i
         WHERE len(words) > 0),
       wp AS (SELECT word, string_split(trim(s), '  ') AS pcs FROM s$k),
       pe AS (SELECT wu.doc_id, wu.wi, wp.pcs
         FROM wu JOIN wp ON wp.word = wu.w),
       de AS (SELECT doc_id, flatten(list(pcs ORDER BY wi)) AS pcs
         FROM pe GROUP BY doc_id),
       dep AS (SELECT doc_id, unnest(pcs) AS p,
           unnest(range(1, len(pcs) + 1)) AS pi FROM de),
       idp AS (SELECT dep.doc_id, dep.pi, COALESCE(v.id, -1) AS tid
         FROM dep LEFT JOIN vocab v ON v.s = dep.p),
       agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bpe,
           CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pi)) AS ids_fp
         FROM idp GROUP BY doc_id)
       SELECT t.doc_id, coalesce(agg.n_bpe, 0) AS n_bpe,
         coalesce(agg.n_oov, 0) AS n_oov,
         coalesce(agg.ids_fp, md5('')) AS ids_fp
       FROM t LEFT JOIN agg USING (doc_id)
       ORDER BY t.doc_id"""
  }

  /** DuckDB twin of [[graft.operators.LayoutOps.bpeRefreshStore]]: the
    * k-round trainer replayed, then EVERY document encoded under the
    * learned table (the refreshed store's end state — stale eras were
    * re-encoded, fresh eras were born on it), per-era md5 ranks with the
    * odd era offset by the even era's row count, and the per-(era,shard)
    * manifest with the pos-ordered token digest chain. */
  private def bpeRefreshOracleSql(k: Int): String =
    s"""WITH ${bpeTrainerCtes(k)},
       t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       wu AS (SELECT doc_id, i.i AS wi, words[i.i] AS w
         FROM t, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) i
         WHERE len(words) > 0),
       wp AS (SELECT word, string_split(trim(s), '  ') AS pcs FROM s$k),
       pe AS (SELECT wu.doc_id, wu.wi, wp.pcs
         FROM wu JOIN wp ON wp.word = wu.w),
       de AS (SELECT doc_id, flatten(list(pcs ORDER BY wi)) AS pcs
         FROM pe GROUP BY doc_id),
       encd AS (SELECT doc_id, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM de),
       r0 AS (SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM t WHERE doc_id % 2 = 0 AND len(words) > 0),
       n0 AS (SELECT COUNT(*) AS c FROM r0),
       r1 AS (SELECT doc_id, (SELECT c FROM n0) +
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM t WHERE doc_id % 2 = 1 AND len(words) > 0),
       u AS (SELECT doc_id, pos, 0 AS era FROM r0
         UNION ALL SELECT doc_id, pos, 1 FROM r1),
       rws AS (SELECT u.era, u.pos % 4 AS shard, u.pos, encd.n_bpe, encd.tok_str
         FROM u JOIN encd USING (doc_id))
       SELECT CAST(era AS BIGINT) AS era, CAST(shard AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         CAST(MIN(pos) AS BIGINT) AS min_pos,
         CAST(MAX(pos) AS BIGINT) AS max_pos,
         CAST(1 AS BIGINT) AS vocab,
         list_reduce(list_prepend('', list(tok_str ORDER BY pos)),
           (acc, x) -> md5(acc || ',' || x)) AS token_digest
       FROM rws GROUP BY era, shard ORDER BY era, shard"""

  /** DuckDB twin of
    * [[graft.streaming.CurationStream.tokenizedStoreRefreshQuery]] — the
    * refresh lifecycle ON the production incremental tokenized store:
    * the arrival-order curation chain decides admission per parity era;
    * the WINDOW GRID is frozen at write time (era 0 packed under the
    * pinned v0 token counts from offset 0, era 1 under the retrained
    * table's counts continuing era 0's v0 token total — the TailCounter
    * contract); the k-round trainer replays and the refreshed store's
    * END STATE carries the learned-table payload everywhere (era 0
    * re-encoded by the stale-era rewrite, era 1 born on it); manifests
    * fold per (era, shard) with the pos-ordered token digest. */
  private def tokenizedStoreRefreshOracleSql(k: Int): String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val mergedV0 = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH ${tokenizedRefreshCommonCtes(k)},
       n0 AS (SELECT t.doc_id,
           CAST(list_sum(list_transform(t.words,
             w -> len(string_split(trim($mergedV0), '  ')))) AS BIGINT) AS n_bpe0
         FROM t WHERE t.doc_id IN (SELECT doc_id FROM adm)),
       c0 AS MATERIALIZED (SELECT r.doc_id, r.pos, n0.n_bpe0,
           SUM(n0.n_bpe0) OVER (ORDER BY r.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r JOIN n0 USING (doc_id) WHERE r.era = 0),
       tot0 AS MATERIALIZED (SELECT COALESCE(CAST(SUM(n_bpe0) AS BIGINT), 0) AS tot FROM c0),
       wn0 AS (SELECT doc_id, (cum - n_bpe0) // 2048 AS win FROM c0),
       c1 AS (SELECT r.doc_id, r.pos, e1.n_bpe,
           SUM(e1.n_bpe) OVER (ORDER BY r.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r JOIN e1 USING (doc_id) WHERE r.era = 1),
       wn1 AS (SELECT doc_id, ((SELECT tot FROM tot0) + cum - n_bpe) // 2048 AS win FROM c1),
       wins AS (SELECT * FROM wn0 UNION ALL SELECT * FROM wn1)
       ${tokenizedEraManifestSelect()}"""
  }

  /** The REPACK twin
    * ([[graft.streaming.CurationStream.tokenizedStoreRepackQuery]]):
    * same chain, but the window grid re-derives from the RETRAINED
    * table's token counts over ALL rows in pos order — the exact-ctx
    * realignment the offline repack restores after a payload-only
    * refresh. */
  private def tokenizedStoreRepackOracleSql(k: Int): String =
    s"""WITH ${tokenizedRefreshCommonCtes(k)},
       c AS MATERIALIZED (SELECT r.doc_id, r.pos, e1.n_bpe,
           SUM(e1.n_bpe) OVER (ORDER BY r.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r JOIN e1 USING (doc_id)),
       wins AS (SELECT doc_id, (cum - n_bpe) // 2048 AS win FROM c)
       ${tokenizedEraManifestSelect()}"""

  /** Shared final SELECT of the refresh/repack oracles: the
    * per-(era, shard) window-grain manifest with the pos-ordered token
    * digest (expects CTEs `r`, `e1`, `wins`). */
  private def tokenizedEraManifestSelect(): String =
    """, rws AS (SELECT r.era, wins.win, wins.win % 4 AS shard, r.pos,
           e1.n_bpe, e1.tok_str
         FROM r JOIN wins USING (doc_id) JOIN e1 USING (doc_id))
       SELECT CAST(era AS BIGINT) AS era, CAST(shard AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows,
         CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         CAST(MIN(pos) AS BIGINT) AS min_pos,
         CAST(MAX(pos) AS BIGINT) AS max_pos,
         CAST(MIN(win) AS BIGINT) AS min_win,
         CAST(MAX(win) AS BIGINT) AS max_win,
         CAST(1 AS BIGINT) AS vocab,
         list_reduce(list_prepend('', list(tok_str ORDER BY pos)),
           (acc, x) -> md5(acc || ',' || x)) AS token_digest
       FROM rws GROUP BY era, shard ORDER BY era, shard"""

  /** The chain shared by the refresh and repack oracles: k-round trainer,
    * arrival-order curation (admission per parity era), the retrained-
    * table encode of every admitted doc (`e1`), and the global md5 ranks
    * (`r`). */
  private def tokenizedRefreshCommonCtes(k: Int): String =
    s"""${bpeTrainerCtes(k)},
       t AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       sq AS (SELECT doc_id, text, words,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(['the','a','of','and','is'],
             m -> list_contains(words, m))) AS BIGINT) AS n_required
         FROM t),
       f AS (SELECT doc_id, md5(text) AS fp, words,
           (n_words >= 10 AND n_words <= 1000
             AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
             AND n_symbol * 10 <= n_words
             AND n_alpha * 5 >= n_words * 4
             AND n_required >= 2) AS keep_quality
         FROM sq),
       shq AS (SELECT doc_id,
           CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(words) - 3),
                       i -> array_to_string(words[i:i+4], ' '))) END AS sh
         FROM f WHERE keep_quality),
       ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\\s+'), x -> x <> '') AS toks
         FROM documents WHERE doc_id % 50 = 0),
       es AS (SELECT DISTINCT unnest(
           CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))) END) AS g
         FROM ev),
       cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
       cont AS (SELECT doc_id FROM cg JOIN es USING (g)
         GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
       wv AS (SELECT doc_id, fp, keep_quality,
           (doc_id % 2) * 1000000000 + doc_id AS wk
         FROM f),
       fl AS (SELECT wv.doc_id,
           (wv.keep_quality AND wv.wk =
             MIN(CASE WHEN wv.keep_quality THEN wv.wk END)
               OVER (PARTITION BY wv.fp)
             AND cont.doc_id IS NULL) AS admitted
         FROM wv LEFT JOIN cont ON wv.doc_id = cont.doc_id),
       adm AS MATERIALIZED (SELECT doc_id, doc_id % 2 AS era FROM fl WHERE admitted),
       wu AS (SELECT t.doc_id, i.i AS wi, t.words[i.i] AS w
         FROM t, LATERAL (SELECT unnest(range(1, len(t.words) + 1)) AS i) i
         WHERE len(t.words) > 0 AND t.doc_id IN (SELECT doc_id FROM adm)),
       wp AS (SELECT word, string_split(trim(s), '  ') AS pcs FROM s$k),
       pe AS (SELECT wu.doc_id, wu.wi, wp.pcs
         FROM wu JOIN wp ON wp.word = wu.w),
       de AS (SELECT doc_id, flatten(list(pcs ORDER BY wi)) AS pcs
         FROM pe GROUP BY doc_id),
       e1 AS MATERIALIZED (SELECT doc_id, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM de),
       r AS MATERIALIZED (SELECT doc_id, era,
           row_number() OVER (ORDER BY era, md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM adm)"""

  /** DuckDB twin of [[graft.operators.TextOps.bpeEncode]]: the same char
    * split into the double-space encoding and the same pinned merge chain,
    * unrolled as nested replace() calls. */
  private def bpeEncodeOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         FROM documents),
       p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks,
             w -> len(string_split(trim($merged), '  ')))) AS BIGINT) AS n_bpe_tokens,
           CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT) AS n_chars
         FROM t WHERE len(toks) > 0)
       SELECT doc_id, n_words, n_bpe_tokens,
         n_chars * 1000000 // n_bpe_tokens AS chars_per_token_ppm
       FROM p ORDER BY doc_id"""
  }

  /** DuckDB twin of [[graft.operators.TextOps.bpeEncodeScaled]] — the
    * scale-path encode under the oracle gate. The Spark side pads the
    * corpus-derived prefix-merge table with inert pairs (symbols
    * containing U+00A4, outside the corpus alphabet) purely to push the
    * table past the expression/partition-local threshold; an inert pair
    * can never match an adjacent symbol pair (symbols are always
    * concatenations of word characters), so the oracle replays exactly
    * the FIRING merges — iteratively via list_reduce over the
    * rank-ordered merge list (a 4096-deep nested replace() expression
    * would not parse), the same one-pass-per-merge boundary-safe
    * replace semantics as the expression chain and the encoder. */
  /** The scale-path oracle additionally REPLAYS the
    * [[graft.operators.TextOps.BpeWordLenCap]] long-word segmentation
    * (the CASE over `len(w)` in `enc`): words past the cap pre-split
    * into cap-sized segments, each encoding independently, pieces
    * concatenating — character-identical semantics to both Spark encode
    * paths. */
  private def bpeEncodeScaledOracleSql: String =
    """WITH RECURSIVE toks AS MATERIALIZED (
         SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
         FROM documents),
       freq AS MATERIALIZED (
         SELECT w, count(*) AS c
         FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY w),
       ranked AS MATERIALIZED (
         SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS rnk FROM freq
         QUALIFY rnk <= 200),
       pairs AS MATERIALIZED (
         SELECT substr(w, 1, i) AS lhs, substr(w, i + 1, 1) AS rhs,
           min(rnk * 1000 + i) AS first_seen
         FROM (SELECT w, rnk, unnest(range(1, len(w))) AS i FROM ranked)
         GROUP BY lhs, rhs),
       merges AS MATERIALIZED (
         SELECT list(lhs || chr(1) || rhs ORDER BY first_seen) AS ms FROM pairs),
       enc AS MATERIALIZED (
         SELECT w, flatten(list_transform(
             CASE WHEN len(w) <= CAP THEN [w]
                  ELSE list_transform(range(0, (len(w) - 1) // CAP + 1),
                         k -> substr(w, k * CAP + 1, CAP)) END,
             s -> string_split(trim(list_reduce(
               list_prepend(
                 '  ' || array_to_string(list_transform(range(1, len(s) + 1),
                   i -> substr(s, i, 1)), '  ') || '  ',
                 ms),
               (acc, m) -> replace(acc,
                 ' ' || string_split(m, chr(1))[1] || '  ' ||
                   string_split(m, chr(1))[2] || ' ',
                 ' ' || string_split(m, chr(1))[1] ||
                   string_split(m, chr(1))[2] || ' '))), '  '))) AS pcs
         FROM (SELECT DISTINCT unnest(toks) AS w FROM toks) CROSS JOIN merges),
       dt AS (SELECT doc_id, unnest(toks) AS w,
           unnest(range(1, len(toks) + 1)) AS pos FROM toks),
       docpcs AS (
         SELECT dt.doc_id,
           CAST(sum(len(e.pcs)) AS BIGINT) AS n_bpe,
           md5(string_agg(array_to_string(e.pcs, ' '), ' ' ORDER BY dt.pos))
             AS tok_fp
         FROM dt JOIN enc e ON e.w = dt.w GROUP BY dt.doc_id)
       SELECT t.doc_id, coalesce(p.n_bpe, 0) AS n_bpe,
         coalesce(p.tok_fp, md5('')) AS tok_fp
       FROM toks t LEFT JOIN docpcs p ON p.doc_id = t.doc_id
       ORDER BY t.doc_id"""
      .replace("CAP", graft.operators.TextOps.BpeWordLenCap.toString)

  /** DuckDB twin of [[graft.operators.LayoutOps.tokenizedShardStore]]:
    * the curation CTE chain, the md5 survivor ranking, the unrolled
    * merge-table encode, the windowed token prefix sum, and every
    * manifest field — the token digest chains over the piece-sequence
    * payload in pos order exactly as the partition-local fold does. */
  private def tokenizedShardsOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       s AS (SELECT doc_id, text, words,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(['the','a','of','and','is'],
             m -> list_contains(words, m))) AS BIGINT) AS n_required
         FROM t),
       f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
           (n_words >= 10 AND n_words <= 1000
             AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
             AND n_symbol * 10 <= n_words
             AND n_alpha * 5 >= n_words * 4
             AND n_required >= 2) AS keep_quality
         FROM s),
       shq AS (SELECT doc_id,
           CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(words) - 3),
                       i -> array_to_string(words[i:i+4], ' '))) END AS sh
         FROM f WHERE keep_quality),
       ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\\s+'), x -> x <> '') AS toks
         FROM documents WHERE doc_id % 50 = 0),
       es AS (SELECT DISTINCT unnest(
           CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))) END) AS g
         FROM ev),
       cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
       cont AS (SELECT doc_id FROM cg JOIN es USING (g)
         GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
       fl AS (SELECT f.doc_id,
           (f.keep_quality AND f.doc_id =
             MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
               OVER (PARTITION BY f.fp)
             AND cont.doc_id IS NULL) AS r3
         FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
       surv AS (SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM fl WHERE r3),
       e AS (SELECT surv.doc_id, surv.pos,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM surv JOIN t USING (doc_id)),
       e2 AS (SELECT doc_id, pos, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM e),
       c AS (SELECT doc_id, pos, n_bpe, tok_str,
           SUM(n_bpe) OVER (ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM e2),
       wn AS (SELECT pos, n_bpe, tok_str, (cum - n_bpe) // 2048 AS win FROM c)
       SELECT CAST(win % 4 AS BIGINT) AS shard,
         CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         CAST(MIN(win) AS BIGINT) AS min_window,
         CAST(MAX(win) AS BIGINT) AS max_window,
         list_reduce(list_prepend('', list(tok_str ORDER BY pos)),
           (acc, x) -> md5(acc || ',' || x)) AS token_digest
       FROM wn GROUP BY 1 ORDER BY shard"""
  }

  /** DuckDB twin of [[graft.operators.LayoutOps.windowSlices]]: the
    * curation chain, the md5 survivor ranking, the unrolled merge-table
    * encode, the GLOBAL TOKEN INDEX (running token sum + in-doc
    * position), and the per-window exact-slice aggregation — the window
    * digest string_aggs the pieces in token order, exactly the
    * sort_array(collect_list) fold Spark performs per ctx-bounded
    * window. */
  private def windowSlicesOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       s AS (SELECT doc_id, text, words,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(['the','a','of','and','is'],
             m -> list_contains(words, m))) AS BIGINT) AS n_required
         FROM t),
       f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
           (n_words >= 10 AND n_words <= 1000
             AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
             AND n_symbol * 10 <= n_words
             AND n_alpha * 5 >= n_words * 4
             AND n_required >= 2) AS keep_quality
         FROM s),
       shq AS (SELECT doc_id,
           CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(words) - 3),
                       i -> array_to_string(words[i:i+4], ' '))) END AS sh
         FROM f WHERE keep_quality),
       ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\\s+'), x -> x <> '') AS toks
         FROM documents WHERE doc_id % 50 = 0),
       es AS (SELECT DISTINCT unnest(
           CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))) END) AS g
         FROM ev),
       cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
       cont AS (SELECT doc_id FROM cg JOIN es USING (g)
         GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
       fl AS (SELECT f.doc_id,
           (f.keep_quality AND f.doc_id =
             MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
               OVER (PARTITION BY f.fp)
             AND cont.doc_id IS NULL) AS r3
         FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
       surv AS (SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM fl WHERE r3),
       e AS (SELECT surv.doc_id, surv.pos,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM surv JOIN t USING (doc_id)),
       c AS (SELECT doc_id, pos, pcs, CAST(len(pcs) AS BIGINT) AS n_bpe,
           SUM(CAST(len(pcs) AS BIGINT)) OVER (ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM e),
       tok AS (SELECT c.doc_id,
           CAST(c.cum - c.n_bpe + u.i AS BIGINT) AS idx,
           c.pcs[CAST(u.i AS INT) + 1] AS piece
         FROM c, LATERAL (SELECT unnest(range(len(c.pcs))) AS i) u)
       SELECT CAST(idx // 2048 AS BIGINT) AS win,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(MIN(idx) AS BIGINT) AS first_idx,
         CAST(MAX(idx) AS BIGINT) AS last_idx,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         md5(string_agg(piece, ' ' ORDER BY idx)) AS window_digest
       FROM tok GROUP BY 1 ORDER BY win"""
  }

  /** DuckDB twin of the WINDOW-grain epoch manifests: the window-id
    * universe derives from the survivors' total encoded token count
    * (the windowSlices CTE chain through the running sum), then each
    * epoch orders every shard's windows by its salted key — epoch 0 by
    * the window id itself (storage order, via a fixed-width pad so the
    * lexicographic ORDER BY equals the numeric order), epoch e ≥ 1 by
    * md5(win:e). */
  private def epochWindowOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       s AS (SELECT doc_id, text, words,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(['the','a','of','and','is'],
             m -> list_contains(words, m))) AS BIGINT) AS n_required
         FROM t),
       f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
           (n_words >= 10 AND n_words <= 1000
             AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
             AND n_symbol * 10 <= n_words
             AND n_alpha * 5 >= n_words * 4
             AND n_required >= 2) AS keep_quality
         FROM s),
       shq AS (SELECT doc_id,
           CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(words) - 3),
                       i -> array_to_string(words[i:i+4], ' '))) END AS sh
         FROM f WHERE keep_quality),
       ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\\s+'), x -> x <> '') AS toks
         FROM documents WHERE doc_id % 50 = 0),
       es AS (SELECT DISTINCT unnest(
           CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))) END) AS g
         FROM ev),
       cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
       cont AS (SELECT doc_id FROM cg JOIN es USING (g)
         GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
       fl AS (SELECT f.doc_id,
           (f.keep_quality AND f.doc_id =
             MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
               OVER (PARTITION BY f.fp)
             AND cont.doc_id IS NULL) AS r3
         FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
       surv AS (SELECT doc_id FROM fl WHERE r3),
       e AS (SELECT surv.doc_id,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM surv JOIN t USING (doc_id)),
       tot AS (SELECT COALESCE(CAST(SUM(len(pcs)) AS BIGINT), 0) AS n FROM e),
       w2 AS (SELECT unnest(range((n + 2047) // 2048)) AS win FROM tot),
       ep AS (SELECT unnest(range(3)) AS epoch),
       k AS (SELECT w2.win, w2.win % 4 AS shard, ep.epoch,
           CASE WHEN ep.epoch = 0 THEN lpad(CAST(w2.win AS VARCHAR), 20, '0')
                ELSE md5(CAST(w2.win AS VARCHAR) || ':' || CAST(ep.epoch AS VARCHAR)) END AS ek
         FROM w2, ep)
       SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         list_reduce(list_prepend('', list(CAST(win AS VARCHAR) ORDER BY ek, win)),
           (acc, x) -> md5(acc || ',' || x)) AS order_digest
       FROM k GROUP BY 1, 2 ORDER BY epoch, shard"""
  }

  /** DuckDB twin of the INCREMENTAL tokenized store
    * ([[graft.streaming.CurationStream.tokenizedStoreIncrementalQuery]]):
    * arrival-order stream verdicts (class winner minimizes
    * (batch, doc_id)), per-batch md5 ranking concatenated batch-major,
    * the unrolled merge-table encode, and the CROSS-BATCH window prefix
    * sum — batch 1's first window continues batch 0's partial tail. */
  private def tokenizedStoreIncrementalOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
         FROM documents),
       s AS (SELECT doc_id, text, words,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
           CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
           CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(['the','a','of','and','is'],
             m -> list_contains(words, m))) AS BIGINT) AS n_required
         FROM t),
       f AS (SELECT doc_id, md5(text) AS fp, words,
           (n_words >= 10 AND n_words <= 1000
             AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
             AND n_symbol * 10 <= n_words
             AND n_alpha * 5 >= n_words * 4
             AND n_required >= 2) AS keep_quality
         FROM s),
       shq AS (SELECT doc_id,
           CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(words) - 3),
                       i -> array_to_string(words[i:i+4], ' '))) END AS sh
         FROM f WHERE keep_quality),
       ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\\s+'), x -> x <> '') AS toks
         FROM documents WHERE doc_id % 50 = 0),
       es AS (SELECT DISTINCT unnest(
           CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(toks[i:i+4], ' '))) END) AS g
         FROM ev),
       cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
       cont AS (SELECT doc_id FROM cg JOIN es USING (g)
         GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
       wv AS (SELECT doc_id, fp, keep_quality,
           (doc_id % 2) * 1000000000 + doc_id AS wk
         FROM f),
       fl AS (SELECT wv.doc_id,
           (wv.keep_quality AND wv.wk =
             MIN(CASE WHEN wv.keep_quality THEN wv.wk END)
               OVER (PARTITION BY wv.fp)
             AND cont.doc_id IS NULL) AS admitted
         FROM wv LEFT JOIN cont ON wv.doc_id = cont.doc_id),
       e AS (SELECT fl.doc_id, fl.doc_id % 2 AS batch,
           flatten(list_transform(t.words, w -> string_split(trim($merged), '  '))) AS pcs
         FROM fl JOIN t USING (doc_id) WHERE admitted),
       e2 AS (SELECT doc_id, batch, CAST(len(pcs) AS BIGINT) AS n_bpe,
           array_to_string(pcs, ' ') AS tok_str FROM e),
       r AS (SELECT doc_id, n_bpe, tok_str,
           row_number() OVER (ORDER BY batch, md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM e2),
       c AS (SELECT pos, n_bpe, tok_str,
           SUM(n_bpe) OVER (ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM r),
       wn AS (SELECT pos, n_bpe, tok_str, (cum - n_bpe) // 2048 AS win FROM c)
       SELECT CAST(win % 4 AS BIGINT) AS shard,
         CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
         CAST(MIN(win) AS BIGINT) AS min_window,
         CAST(MAX(win) AS BIGINT) AS max_window,
         list_reduce(list_prepend('', list(tok_str ORDER BY pos)),
           (acc, x) -> md5(acc || ',' || x)) AS token_digest
       FROM wn GROUP BY 1 ORDER BY shard"""
  }

  /** DuckDB twin of [[graft.operators.TextOps.bpeFertility]]: the
    * bpeEncode piece counts rolled up at the language grain. */
  private def bpeFertilityOracleSql: String = {
    val enc =
      """'  ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), '  ') || '  '"""
    val merged = graft.operators.TextOps.BpeMergeTable.foldLeft(enc) {
      case (e, (a, b)) => s"replace($e, ' $a  $b ', ' $a$b ')"
    }
    s"""WITH t AS (SELECT lang,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         FROM documents),
       p AS (SELECT lang, CAST(len(toks) AS BIGINT) AS w_doc,
           CAST(list_sum(list_transform(toks,
             w -> len(string_split(trim($merged), '  ')))) AS BIGINT) AS b_doc
         FROM t WHERE len(toks) > 0)
       SELECT lang, CAST(SUM(w_doc) AS BIGINT) AS n_words,
         CAST(SUM(b_doc) AS BIGINT) AS n_bpe_tokens,
         (CAST(SUM(b_doc) AS BIGINT) * 1000000) // CAST(SUM(w_doc) AS BIGINT)
           AS fertility_ppm
       FROM p GROUP BY lang ORDER BY lang"""
  }

  /** DuckDB twin of [[graft.operators.LayoutOps.zorderStats]]: the same
    * exact integer normalization and the same unrolled bit interleave. */
  private def zorderOracleSql: String = {
    val z = (0 until 10).map { i =>
      s"((((xs >> $i) & 1) << ${2 * i}) + (((ys >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" + ")
    s"""WITH m AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS max_x,
           CAST(MAX(doc_id) AS BIGINT) AS max_y FROM documents),
       s AS (SELECT doc_id, n_chars,
           (n_chars * 1024) // (max_x + 1) AS xs,
           (doc_id * 1024) // (max_y + 1) AS ys
         FROM documents, m),
       z AS (SELECT doc_id, n_chars, ($z) AS zval FROM s)
       SELECT (zval >> 16) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars,
         CAST(MIN(doc_id) AS BIGINT) AS min_id,
         CAST(MAX(doc_id) AS BIGINT) AS max_id
       FROM z GROUP BY bucket ORDER BY bucket"""
  }

  /** Quantized IVF search oracle: full-precision cell assignment (the
    * index-time artifact) + int8 dequantized ranking inside the cell
    * join — both deterministic, so the combined search is exactly
    * reproducible. Shared by the in-memory twin (q_ann_ivf_topk_quantized)
    * and the staged serving twin (q_ann_ivf_topk_staged), whose parquet
    * round trip is lossless. */
  /** Brute-force pairwise replay of the embedding stream gate's
    * two-batch arrival — shared by the pinned-artifact gate and the
    * recluster lifecycle (verdict semantics are artifact-independent:
    * same-cell probe + exact cosine at the threshold, with cell-scoped
    * recall equal to brute force on this corpus — the q_ann_ivf_pairs
    * contract). */
  private def embedDedupStreamOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       c AS (SELECT vec_id, vec_id AS orig_id, 'orig' AS kind, v,
               CAST(vec_id % 2 AS INT) AS b
             FROM e
             UNION ALL
             SELECT vec_id + 1000000, vec_id, 'scale',
               list_transform(v, x -> x * 2), 1
             FROM e WHERE vec_id % 10 = 0),
       n AS (SELECT vec_id, orig_id, kind, b, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
       b0 AS (SELECT * FROM n WHERE b = 0),
       inc AS (SELECT * FROM n WHERE b = 1),
       m AS (SELECT inc.vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(b0.vec_id) AS min_match
             FROM inc JOIN b0
               ON list_sum(list_transform(range(1, 65), i -> inc.v[i] * b0.v[i]))
                  / (inc.nrm * b0.nrm) >= 0.99
             GROUP BY inc.vec_id)
       SELECT vec_id, orig_id, kind, TRUE AS admitted,
         CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
       FROM b0
       UNION ALL
       SELECT inc.vec_id, inc.orig_id, inc.kind, m.vec_id IS NULL AS admitted,
         COALESCE(m.n_matches, 0) AS n_matches,
         COALESCE(m.min_match, -1) AS min_match
       FROM inc LEFT JOIN m ON m.vec_id = inc.vec_id
       ORDER BY vec_id"""

  /** Retention through the embedding gate: batch-1 (odd) verdicts replay
    * pairwise against the evens; the post-sweep store is exactly the
    * batch-1 ADMITTED odd vectors; the twin batch (2×-rescaled copies of
    * (10k)-th even/aged and (10k+5)-th odd/in-horizon parents) replays
    * pairwise against that surviving set. */
  private def embedClaimRetentionOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       n AS (SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       b0 AS (SELECT * FROM n WHERE vec_id % 2 = 0),
       b1 AS (SELECT * FROM n WHERE vec_id % 2 = 1),
       tw AS (SELECT vec_id + 1000000 AS vec_id, vec_id AS orig_id,
                 'scale' AS kind, list_transform(v, x -> x * 2) AS v,
                 nrm * 2 AS nrm
               FROM n WHERE vec_id % 10 = 0
             UNION ALL
             SELECT vec_id + 2000000, vec_id, 'scale2',
                 list_transform(v, x -> x * 2), nrm * 2
               FROM n WHERE vec_id % 10 = 5),
       m1 AS (SELECT b1.vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(b0.vec_id) AS min_match
             FROM b1 JOIN b0
               ON list_sum(list_transform(range(1, 65), i -> b1.v[i] * b0.v[i]))
                  / (b1.nrm * b0.nrm) >= 0.99
             GROUP BY b1.vec_id),
       adm1 AS (SELECT b1.* FROM b1
           LEFT JOIN m1 ON m1.vec_id = b1.vec_id WHERE m1.vec_id IS NULL),
       m2 AS (SELECT tw.vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(q.vec_id) AS min_match
             FROM tw JOIN adm1 q
               ON list_sum(list_transform(range(1, 65), i -> tw.v[i] * q.v[i]))
                  / (tw.nrm * q.nrm) >= 0.99
             GROUP BY tw.vec_id)
       SELECT vec_id, orig_id, kind, admitted, n_matches, min_match FROM (
         SELECT vec_id, vec_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
           CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
         FROM b0
         UNION ALL
         SELECT b1.vec_id, b1.vec_id, 'orig', m1.vec_id IS NULL,
           COALESCE(m1.n_matches, 0), COALESCE(m1.min_match, -1)
         FROM b1 LEFT JOIN m1 ON m1.vec_id = b1.vec_id
         UNION ALL
         SELECT tw.vec_id, tw.orig_id, tw.kind, m2.vec_id IS NULL,
           COALESCE(m2.n_matches, 0), COALESCE(m2.min_match, -1)
         FROM tw LEFT JOIN m2 ON m2.vec_id = tw.vec_id)
       ORDER BY vec_id"""

  private def annIvfTopKQuantizedOracleSql: String =
    annIvfTopKQuantizedOracleSqlWith("vec_id < 64")

  /** Same search, centroid universe parameterized — the upsert gate pins
    * centroids to the BUILD corpus (base ids only) — and the serving
    * corpus parameterized — the delete gate excludes the removed cohort
    * from BOTH query and neighbor sides. */
  private def annIvfTopKQuantizedOracleSqlWith(centroidWhere: String,
      corpusWhere: String = "TRUE"): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       cen AS (SELECT vec_id AS c_id, v AS cv,
           sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE $centroidWhere),
       cellscore AS (SELECT e.vec_id, e.v, cen.c_id,
           list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
         FROM e CROSS JOIN cen),
       cell AS (SELECT vec_id, c_id AS cell FROM (
           SELECT vec_id, c_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
           FROM cellscore) WHERE rn = 1),
       qd AS (SELECT vec_id, v, list_min(v) AS vmin,
           CASE WHEN list_max(v) > list_min(v)
                THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
         FROM e),
       d AS (SELECT vec_id,
           list_transform(v,
             x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT) * scale + vmin) AS dv
         FROM qd),
       n AS (SELECT cell.vec_id, dv, cell,
           sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm
         FROM cell JOIN d ON cell.vec_id = d.vec_id
         WHERE $corpusWhere),
       s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, 65), i -> q.dv[i] * c.dv[i])) / (q.nrm * c.nrm) AS cos
         FROM n q JOIN n c ON q.cell = c.cell AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
       SELECT query_id, rank, neighbor_id, cos FROM (
         SELECT query_id, neighbor_id, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
         FROM s) WHERE rank <= 5
       ORDER BY query_id, rank"""

  /** Unrolled DuckDB program for k fixed-point PageRank rounds — the same
    * integer contribution (rank·85) // (100·outdeg) and integer fold as
    * [[graft.operators.GraphBuild.pageRankLineage]]. */
  private def pagerankOracleSql(iters: Int): String = {
    val head =
      """WITH e AS (SELECT DISTINCT 'tpch://part/' || l_partkey AS src,
             'tpch://sup/' || l_suppkey AS dst FROM lineitem),
         dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
         n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr FROM n)"""
    val rounds = (1 to iters).map { r =>
      s""",
         c$r AS (SELECT e.dst AS node,
             CAST(SUM((r.pr * 85) // (100 * dg.outdeg)) AS BIGINT) AS in_mass
           FROM e JOIN dg ON e.src = dg.src JOIN r${r - 1} r ON r.node = e.src
           GROUP BY e.dst),
         r$r AS (SELECT n.node, CAST(150000000 + COALESCE(c.in_mass, 0) AS BIGINT) AS pr
           FROM n LEFT JOIN c$r c ON n.node = c.node)"""
    }.mkString
    s"""$head$rounds
       SELECT node AS node_key, pr AS rank_scaled,
         round(CAST(pr AS DOUBLE) / 1000000000.0, 9) AS pagerank
       FROM r$iters ORDER BY rank_scaled DESC, node_key"""
  }

  /** The raw per-doc label + fixed-point feature extraction, DuckDB form
    * (mirrors TextOps.rawQualityFeatures), doc universe parameterized so
    * the train/eval split reuses it. */
  private def qualityRawFeatureSql(docWhere: String): String = {
    val FP = 1000000L
    s"""SELECT doc_id,
           CAST(CASE WHEN n BETWEEN 10 AND 1000 AND na * 5 >= n * 4
             AND nreq >= 2 THEN 1 ELSE 0 END AS BIGINT) AS y,
           least(n, 256) * $FP // 256 AS r_len,
           nd * $FP // n AS r_ttr,
           ns * $FP // n AS r_stop,
           na * $FP // n AS r_alpha
         FROM (
           SELECT doc_id, CAST(len(words) AS BIGINT) AS n,
             CAST(len(list_distinct(words)) AS BIGINT) AS nd,
             CAST(len(list_filter(words, w ->
               list_contains(['the','a','of','and','is'], w))) AS BIGINT) AS ns,
             CAST(len(list_filter(words, w ->
               regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS na,
             CAST(len(list_filter(['the','a','of','and','is'], m ->
               list_contains(words, m))) AS BIGINT) AS nreq
           FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
                 FROM documents WHERE $docWhere))
         WHERE n >= 1"""
  }

  /** Held-out test-feature CTEs (testraw + testf) centered with the
    * TRAIN means — shared by the eval and streaming-filter oracles. */
  private def qualityTestfSql: String = {
    val FP = 1000000L
    s"""testraw AS MATERIALIZED (
         ${qualityRawFeatureSql("doc_id % 2 = 1")}),
       testf AS MATERIALIZED (SELECT doc_id, y, CAST($FP AS BIGINT) AS x_bias,
           r_len - (SELECT m_len FROM mm) AS x_len,
           r_ttr - (SELECT m_ttr FROM mm) AS x_ttr,
           r_stop - (SELECT m_stop FROM mm) AS x_stop,
           r_alpha - (SELECT m_alpha FROM mm) AS x_alpha
         FROM testraw)"""
  }

  /** The hard-sigmoid prediction expression under the s`iters` weights. */
  private def qualityPredSql(iters: Int): String = {
    val FP = 1000000L
    s"""CASE WHEN greatest(0, least($FP, ${FP / 2} +
         (((SELECT w_bias FROM s$iters) * x_bias +
           (SELECT w_len FROM s$iters) * x_len +
           (SELECT w_ttr FROM s$iters) * x_ttr +
           (SELECT w_stop FROM s$iters) * x_stop +
           (SELECT w_alpha FROM s$iters) * x_alpha) // $FP) // 4)) * 2 >= $FP
       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
  }

  /** Unrolled replay of the fixed-point quality-model training
    * (TextOps.trainQualityModel): per round, one aggregation computes
    * the 5 gradient sums + the accuracy of the current weights; the next
    * round's weights come from scalar subqueries over the previous CTE
    * (all CTEs MATERIALIZED — plain CTEs inline and re-evaluate
    * exponentially through the subquery chain). All arithmetic is int64
    * with toward-zero division (`//` here, `div` in Spark, `/` on Long
    * on the driver), so the whole optimization is bit-exact across
    * engines. Returns the shared WITH-body; callers append the trace
    * selects (train gate) or the held-out confusion tail (eval gate). */
  private def qualityTrainOracleCtes(iters: Int, docWhere: String): String = {
    val FP = 1000000L
    val gain = 6L
    val head =
      s"""WITH raw AS MATERIALIZED (
           ${qualityRawFeatureSql(docWhere)}),
         nn AS MATERIALIZED (SELECT greatest(COUNT(*), 1) AS n_docs FROM raw),
         mm AS MATERIALIZED (SELECT
           CAST(sum(r_len) // (SELECT n_docs FROM nn) AS BIGINT) AS m_len,
           CAST(sum(r_ttr) // (SELECT n_docs FROM nn) AS BIGINT) AS m_ttr,
           CAST(sum(r_stop) // (SELECT n_docs FROM nn) AS BIGINT) AS m_stop,
           CAST(sum(r_alpha) // (SELECT n_docs FROM nn) AS BIGINT) AS m_alpha
           FROM raw),
         f AS MATERIALIZED (SELECT y, CAST($FP AS BIGINT) AS x_bias,
             r_len - (SELECT m_len FROM mm) AS x_len,
             r_ttr - (SELECT m_ttr FROM mm) AS x_ttr,
             r_stop - (SELECT m_stop FROM mm) AS x_stop,
             r_alpha - (SELECT m_alpha FROM mm) AS x_alpha
           FROM raw),
         s0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w_bias, CAST(0 AS BIGINT) AS w_len,
           CAST(0 AS BIGINT) AS w_ttr, CAST(0 AS BIGINT) AS w_stop,
           CAST(0 AS BIGINT) AS w_alpha)"""
    val rounds = (0 to iters).map { i =>
      val agg =
        s""",
         a$i AS MATERIALIZED (
           SELECT CAST(sum(err * x_bias // $FP) AS BIGINT) AS g0,
             CAST(sum(err * x_len // $FP) AS BIGINT) AS g1,
             CAST(sum(err * x_ttr // $FP) AS BIGINT) AS g2,
             CAST(sum(err * x_stop // $FP) AS BIGINT) AS g3,
             CAST(sum(err * x_alpha // $FP) AS BIGINT) AS g4,
             CAST(sum(CASE WHEN (sig * 2 >= $FP) = (y = 1) THEN 1 ELSE 0 END)
               AS BIGINT) AS correct
           FROM (
             SELECT y, x_bias, x_len, x_ttr, x_stop, x_alpha, sig,
               y * $FP - sig AS err
             FROM (
               SELECT *, greatest(0, least($FP, ${FP / 2} +
                 (((SELECT w_bias FROM s$i) * x_bias +
                   (SELECT w_len FROM s$i) * x_len +
                   (SELECT w_ttr FROM s$i) * x_ttr +
                   (SELECT w_stop FROM s$i) * x_stop +
                   (SELECT w_alpha FROM s$i) * x_alpha) // $FP) // 4)) AS sig
               FROM f)))"""
      val next = if (i < iters)
        s""",
         s${i + 1} AS MATERIALIZED (
           SELECT (SELECT w_bias FROM s$i) + (SELECT g0 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_bias,
             (SELECT w_len FROM s$i) + (SELECT g1 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_len,
             (SELECT w_ttr FROM s$i) + (SELECT g2 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_ttr,
             (SELECT w_stop FROM s$i) + (SELECT g3 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_stop,
             (SELECT w_alpha FROM s$i) + (SELECT g4 FROM a$i) * $gain // (SELECT n_docs FROM nn) AS w_alpha)"""
      else ""
      agg + next
    }.mkString
    s"$head$rounds"
  }

  private def qualityTrainOracleSql(iters: Int): String = {
    val selects = (0 to iters).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS iter, w_bias, w_len, w_ttr, w_stop, w_alpha,
           (SELECT correct FROM a$i) AS n_correct FROM s$i""")
      .mkString("\nUNION ALL\n")
    s"${qualityTrainOracleCtes(iters, "TRUE")}\n$selects\nORDER BY iter"
  }

  /** Train on even doc_ids, evaluate the held-out odd half with the
    * TRAIN-set means and final weights — one confusion row. */
  private def qualityEvalOracleSql(iters: Int): String = {
    val FP = 1000000L
    s"""${qualityTrainOracleCtes(iters, "doc_id % 2 = 0")},
       $qualityTestfSql,
       evalp AS MATERIALIZED (SELECT y, ${qualityPredSql(iters)} AS p FROM testf),
       conf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           CAST(sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         FROM evalp)
     SELECT n_test, tp, fp, tn, fn, (tp + tn) * $FP // n_test AS accuracy_ppm FROM conf"""
  }

  /** Per-doc predictions of the streaming filter over the held-out half
    * — the stream is stateless, so the relational replay is exact. */
  private def qualityFilterStreamOracleSql(iters: Int): String =
    s"""${qualityTrainOracleCtes(iters, "doc_id % 2 = 0")},
       $qualityTestfSql
     SELECT doc_id, y, ${qualityPredSql(iters)} AS pred FROM testf ORDER BY doc_id"""

  def oracleSql: Map[String, String] = Map(
    "q_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_csv_table_column" ->
      """SELECT 'tpch' AS database, r_name AS cluster, n_name AS "schema", c_name AS name,
           c_mktsegment || ',seg' AS description,
           o_orderkey AS sort_order,
           CASE WHEN o_orderkey IS NULL THEN NULL
                ELSE 'o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') END AS col_name,
           o_orderstatus AS col_type,
           o_orderpriority AS col_description
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN orders ON o_custkey = c_custkey
         ORDER BY cluster, "schema", name, sort_order""",
    "q_csv_badges" ->
      """SELECT 'tpch' AS database, r_name AS cluster, n_name AS "schema", c_name AS name,
           COALESCE(array_to_string(list_sort(list(DISTINCT 'st_' || lower(o_orderstatus))
             FILTER (WHERE o_orderstatus IS NOT NULL)), ','), '') AS badges,
           COUNT(DISTINCT o_orderstatus) AS n_badges
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN orders ON o_custkey = c_custkey
         GROUP BY 1, 2, 3, 4
         ORDER BY cluster, "schema", name""",
    "q_count_group" ->
      """SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS unique_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    // Column stats melt: min/max/sum/count per numeric column, keyed
    // `{column}/{stat}/` like the reference Stat nodes.
    "q_column_stats" ->
      """WITH a AS (SELECT
             MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q_sum,
             CAST(COUNT(l_quantity) AS DOUBLE) AS q_cnt,
             MIN(l_extendedprice) AS e_min, MAX(l_extendedprice) AS e_max,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS e_sum,
             CAST(COUNT(l_extendedprice) AS DOUBLE) AS e_cnt
           FROM lineitem),
         m AS (
           SELECT 'l_quantity' AS col_name, 'count' AS stat_type, q_cnt AS stat_val FROM a
           UNION ALL SELECT 'l_quantity', 'max', q_max FROM a
           UNION ALL SELECT 'l_quantity', 'min', q_min FROM a
           UNION ALL SELECT 'l_quantity', 'sum', q_sum FROM a
           UNION ALL SELECT 'l_extendedprice', 'count', e_cnt FROM a
           UNION ALL SELECT 'l_extendedprice', 'max', e_max FROM a
           UNION ALL SELECT 'l_extendedprice', 'min', e_min FROM a
           UNION ALL SELECT 'l_extendedprice', 'sum', e_sum FROM a)
         SELECT col_name, stat_type, stat_val,
           'hive://gold.tpch/lineitem/' || col_name || '/' || stat_type || '/' AS stat_key
         FROM m ORDER BY col_name, stat_type""",
    "q_usage_email_filter" ->
      """SELECT 's' || l_suppkey AS email, COUNT(*) AS read_count
         FROM lineitem
         WHERE regexp_matches('s' || l_suppkey, '^s[0-9]*[02468]$')
         GROUP BY 1 ORDER BY email""",
    "q_max_group" ->
      """SELECT o_custkey, MAX(o_orderdate) AS last_order, MIN(o_orderdate) AS first_order,
           COUNT(*) AS n_orders
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_collect_agg" ->
      """SELECT c_nationkey, array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           COUNT(*) AS n_customers
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q_broadcast_join" ->
      """SELECT r_name, COUNT(*) AS n_nations,
           array_to_string(list_sort(list(n_name)), ',') AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_multiway_join" ->
      """SELECT r_name, n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q_left_join_agg" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    // The bucketed write is lossless, so the co-located join's oracle is
    // the plain join-aggregate.
    "q_bucketed_join" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, o_orderpriority""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q_union_dedup" ->
      """SELECT custkey FROM (
           SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
           UNION
           SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         ORDER BY custkey""",
    "q_dedup_rows" ->
      """SELECT DISTINCT l_partkey, l_suppkey FROM lineitem ORDER BY l_partkey, l_suppkey""",
    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_topk_per_group" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rank,
             o_orderkey, o_totalprice
           FROM orders) WHERE rank <= 3
         ORDER BY o_orderpriority, rank""",
    "q_windowed_events" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    // SUM(BIGINT) is HUGEINT in DuckDB — cast back so the driver's
    // hash-compare sees int64 on both sides (round-1 hash_match failure).
    "q_json_props" ->
      """SELECT event_type,
           CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS n_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    // As-of attribution: DuckDB's native ASOF LEFT JOIN is the oracle for
    // the Spark sorted-window re-expression; both compare epoch micros.
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
         c AS (SELECT * FROM e WHERE event_type = 'click'),
         v AS (SELECT * FROM e WHERE event_type = 'view')
         SELECT c.event_id, c.user_id, c.us AS click_us,
           v.event_id AS view_event_id, v.us AS view_us,
           c.us - v.us AS lag_us
         FROM c ASOF LEFT JOIN v
           ON c.user_id = v.user_id AND v.us <= c.us
         ORDER BY c.event_id""",
    "q_sessionize" ->
      """WITH b AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS boundary
           FROM events),
         s AS (
           SELECT user_id, value,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM b)
         SELECT user_id, MAX(session_id) AS n_sessions, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM s GROUP BY user_id ORDER BY user_id""",
    "q_graph_node_counts" ->
      """SELECT label, n FROM (
           SELECT 'Table' AS label, (SELECT COUNT(*) FROM customer) AS n
           UNION ALL SELECT 'Description',
             (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'Column', (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'Tag', (SELECT COUNT(DISTINCT lower(c_mktsegment)) FROM customer)
           UNION ALL SELECT 'Database', CAST(1 AS BIGINT)
           UNION ALL SELECT 'Cluster',
             (SELECT COUNT(DISTINCT r_name) FROM customer
              JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey)
           UNION ALL SELECT 'Schema',
             (SELECT COUNT(DISTINCT n_name) FROM customer JOIN nation ON c_nationkey = n_nationkey)
         ) ORDER BY label""",
    "q_graph_edge_counts" ->
      """SELECT rel_type, n FROM (
           SELECT 'CLUSTER' AS rel_type,
             (SELECT COUNT(DISTINCT r_name) FROM customer
              JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey) AS n
           UNION ALL SELECT 'SCHEMA',
             (SELECT COUNT(DISTINCT n_name) FROM customer JOIN nation ON c_nationkey = n_nationkey)
           UNION ALL SELECT 'TABLE', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'DESCRIPTION',
             (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'TAGGED_BY', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'COLUMN', (SELECT COUNT(*) FROM orders)
         ) ORDER BY rel_type""",
    "q_graph_table_nodes" ->
      """SELECT 'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_name AS name, 'false' AS is_view
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         ORDER BY key""",
    "q_table_lineage" ->
      """SELECT DISTINCT 'tpch://part/' || l_partkey AS source_key,
           'tpch://sup/' || l_suppkey AS target_key,
           'HAS_DOWNSTREAM' AS rel_type, 'HAS_UPSTREAM' AS reverse_type
         FROM lineitem ORDER BY source_key, target_key""",
    "q_column_lineage" ->
      """SELECT DISTINCT 'tpch://part/' || l_partkey || '/retailprice' AS source_key,
           'tpch://sup/' || l_suppkey || '/acctbal' AS target_key,
           'HAS_DOWNSTREAM' AS rel_type, 'HAS_UPSTREAM' AS reverse_type
         FROM lineitem ORDER BY source_key, target_key""",
    "q_dashboard_graph_nodes" ->
      """SELECT label, n FROM (
           SELECT 'Badge' AS label,
             (SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END
              FROM part WHERE p_partkey % 5 = 0) AS n
           -- MERGE semantics: chart nodes are key-unique; the synthetic
           -- lineitem data contains duplicate full tuples
           UNION ALL SELECT 'Chart',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey || '_'
                || l_orderkey || '_' || l_linenumber) FROM lineitem)
           UNION ALL SELECT 'Cluster', CAST(1 AS BIGINT)
           UNION ALL SELECT 'Dashboard', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Dashboardgroup', (SELECT COUNT(DISTINCT p_brand) FROM part)
           UNION ALL SELECT 'Description', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Execution', (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
           UNION ALL SELECT 'Query',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey) FROM lineitem)
           UNION ALL SELECT 'Tag', (SELECT COUNT(DISTINCT lower(p_brand)) FROM part)
         ) WHERE n > 0 ORDER BY label""",
    // staged-facts twin: identical result by construction, same oracle
    "q_dashboard_graph_nodes_staged" ->
      """SELECT label, n FROM (
           SELECT 'Badge' AS label,
             (SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END
              FROM part WHERE p_partkey % 5 = 0) AS n
           UNION ALL SELECT 'Chart',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey || '_'
                || l_orderkey || '_' || l_linenumber) FROM lineitem)
           UNION ALL SELECT 'Cluster', CAST(1 AS BIGINT)
           UNION ALL SELECT 'Dashboard', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Dashboardgroup', (SELECT COUNT(DISTINCT p_brand) FROM part)
           UNION ALL SELECT 'Description', (SELECT COUNT(*) FROM part)
           UNION ALL SELECT 'Execution', (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
           UNION ALL SELECT 'Query',
             (SELECT COUNT(DISTINCT l_partkey || '_' || l_suppkey) FROM lineitem)
           UNION ALL SELECT 'Tag', (SELECT COUNT(DISTINCT lower(p_brand)) FROM part)
         ) WHERE n > 0 ORDER BY label""",
    "q_table_search_doc" ->
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         ORDER BY name""",
    // The staged round trip is lossless, so the oracle is the same query.
    "q_staged_table_search_doc" ->
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         ORDER BY name""",
    "q_user_search_doc" ->
      """WITH r AS (
           SELECT l_suppkey, COUNT(*) AS total_read, COUNT(DISTINCT l_partkey) AS total_own,
             COUNT(DISTINCT l_orderkey) AS total_follow
           FROM lineitem GROUP BY l_suppkey)
         SELECT 's' || s_suppkey AS email,
           string_split(s_name, '#')[1] AS first_name,
           string_split(s_name, '#')[2] AS last_name,
           s_name AS full_name, n_name AS team_name,
           's' || ((s_suppkey + 1) % 10) AS manager_email,
           'true' AS is_active,
           'gh_s' || s_suppkey AS github_username,
           '@s' || s_suppkey AS slack_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'eng' ELSE 'analyst' END AS role_name,
           'fte' AS employee_type,
           COALESCE(total_read, 0) AS total_read,
           COALESCE(total_own, 0) AS total_own,
           COALESCE(total_follow, 0) AS total_follow
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
           LEFT JOIN r ON s_suppkey = l_suppkey
         WHERE s_name IS NOT NULL ORDER BY email""",
    // Oracle recomputes what the dashboard graph encodes: dashboards are
    // parts ('d'+partkey under the brand group), charts are lineitems, the
    // last-successful execution is the max ship date.
    "q_dashboard_search_doc" ->
      """WITH u AS (
           SELECT l_partkey,
             -- chart paths after MERGE dedup: distinct (query, chart) keys
             COUNT(DISTINCT l_suppkey || '_' || l_orderkey || '_' || l_linenumber)
               AS total_usage,
             CAST(epoch(MAX(l_shipdate)) AS BIGINT) AS last_successful_run_timestamp,
             array_to_string(list_sort(list(DISTINCT 'supplier ' || l_suppkey)), ',') AS query_names,
             array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS chart_names
           FROM lineitem GROUP BY l_partkey)
         SELECT p_brand AS group_name, 'd' || p_partkey AS name,
           'gold' AS cluster,
           COALESCE(p_type, '') AS description,
           '' AS group_description,
           'https://mode.example/' || p_brand AS group_url,
           'https://mode.example/' || p_brand || '/d' || p_partkey AS url,
           'mode_dashboard://gold.' || p_brand || '/d' || p_partkey AS uri,
           'mode' AS product,
           COALESCE(last_successful_run_timestamp, 0) AS last_successful_run_timestamp,
           COALESCE(query_names, '') AS query_names,
           COALESCE(chart_names, '') AS chart_names,
           COALESCE(total_usage, 0) AS total_usage,
           lower(p_brand) AS tags,
           CASE WHEN p_partkey % 5 = 0 THEN 'certified' ELSE '' END AS badges
         FROM part LEFT JOIN u ON p_partkey = l_partkey
         ORDER BY group_name, name""",
    // JDBC write -> partitioned read over embedded Derby is lossless, so
    // the oracle is the plain source query.
    "q_jdbc_roundtrip" ->
      """SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment
         FROM customer WHERE c_custkey % 7 = 0 ORDER BY id""",
    // Loader round trips are lossless -> plain source oracles.
    "q_csv_loader_roundtrip" ->
      """SELECT o_orderkey AS order_id, o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS total
         FROM orders WHERE o_orderkey % 50 = 0 ORDER BY order_id""",
    "q_neptune_csv_roundtrip" ->
      """SELECT o_orderkey AS order_id, o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS total,
           CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS urgent
         FROM orders WHERE o_orderkey % 50 = 0 ORDER BY order_id""",
    // Compaction is lossless and the 64-shard fragmentation collapses to
    // one well-sized file at gate volume — both pinned as literals.
    "q_compact_files" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS order_id, o_orderstatus AS status,
           CAST(o_totalprice AS DOUBLE) AS total,
           CAST(64 AS BIGINT) AS in_files, CAST(1 AS BIGINT) AS out_files
         FROM orders WHERE o_orderkey % 10 = 0 ORDER BY order_id""",
    // The bulk-publish lifecycle stages typed CSVs, uploads them through
    // the object-store seam, and completes a deterministic in-process
    // load — lossless end to end, so the oracle is the source query with
    // the terminal status as a literal.
    "q_neptune_bulk_publish" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS supplier_id, s_name AS name,
           CAST(s_acctbal AS DOUBLE) AS acctbal,
           CAST(CASE WHEN s_nationkey < 12 THEN 1 ELSE 0 END AS BIGINT) AS western,
           'LOAD_COMPLETED' AS load_status
         FROM supplier WHERE s_suppkey % 20 = 0 ORDER BY supplier_id""",
    // The ES NDJSON publish round trip is lossless (string/long fields
    // only), so the oracle is the table-document query.
    "q_es_published_table_docs" ->
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         ORDER BY name""",
    // Tag-scoped extraction: the second publish stamped the tier-0
    // (c_custkey % 3 = 0) tables' nodes batch_2, so the filtered query is
    // the table-doc oracle restricted to those customers.
    "q_table_search_doc_tagged" ->
      """WITH colagg AS (
           SELECT o_custkey,
             array_to_string(list_sort(list('o' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'))), ',') AS column_names,
             array_to_string(list_sort(list(o_orderpriority)), ',') AS column_descriptions,
             CAST(epoch(MAX(o_orderdate)) AS BIGINT) AS last_updated_timestamp
           FROM orders GROUP BY o_custkey),
         usage_agg AS (
           SELECT o_custkey, COUNT(*) AS total_usage, COUNT(DISTINCT l_suppkey) AS unique_usage
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey)
         SELECT 'tpch' AS "database", r_name AS cluster, n_name AS "schema", c_name AS name,
           n_name || '.' || c_name AS display_name,
           'tpch://' || r_name || '.' || n_name || '/' || c_name AS key,
           c_mktsegment AS description, lower(c_mktsegment) AS tags,
           'schema ' || lower(n_name) AS schema_description,
           'tier ' || CAST(c_custkey % 3 AS VARCHAR) AS programmatic_descriptions,
           CASE WHEN c_acctbal >= 0 THEN 'active' ELSE 'delinquent' END AS badges,
           COALESCE(column_names, '') AS column_names,
           COALESCE(column_descriptions, '') AS column_descriptions,
           COALESCE(last_updated_timestamp, 0) AS last_updated_timestamp,
           COALESCE(total_usage, 0) AS total_usage,
           COALESCE(unique_usage, 0) AS unique_usage
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           LEFT JOIN colagg ON c_custkey = colagg.o_custkey
           LEFT JOIN usage_agg ON c_custkey = usage_agg.o_custkey
         WHERE c_custkey % 3 = 0
         ORDER BY name""",
    // Tag-scoped USER extraction: the second publish stamped every third
    // user's node batch_2; the WHERE binds only the primary `user`
    // variable, so the manager ring still resolves against the full set.
    "q_user_search_doc_tagged" ->
      """WITH r AS (
           SELECT l_suppkey, COUNT(*) AS total_read, COUNT(DISTINCT l_partkey) AS total_own,
             COUNT(DISTINCT l_orderkey) AS total_follow
           FROM lineitem GROUP BY l_suppkey)
         SELECT 's' || s_suppkey AS email,
           string_split(s_name, '#')[1] AS first_name,
           string_split(s_name, '#')[2] AS last_name,
           s_name AS full_name, n_name AS team_name,
           's' || ((s_suppkey + 1) % 10) AS manager_email,
           'true' AS is_active,
           'gh_s' || s_suppkey AS github_username,
           '@s' || s_suppkey AS slack_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'eng' ELSE 'analyst' END AS role_name,
           'fte' AS employee_type,
           COALESCE(total_read, 0) AS total_read,
           COALESCE(total_own, 0) AS total_own,
           COALESCE(total_follow, 0) AS total_follow
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
           LEFT JOIN r ON s_suppkey = l_suppkey
         WHERE s_name IS NOT NULL AND s_suppkey % 3 = 0 ORDER BY email""",
    // Tag-scoped DASHBOARD extraction: every third dashboard re-published
    // batch_2 — the dashboard-doc oracle restricted to those parts.
    "q_dashboard_search_doc_tagged" ->
      """WITH u AS (
           SELECT l_partkey,
             COUNT(DISTINCT l_suppkey || '_' || l_orderkey || '_' || l_linenumber)
               AS total_usage,
             CAST(epoch(MAX(l_shipdate)) AS BIGINT) AS last_successful_run_timestamp,
             array_to_string(list_sort(list(DISTINCT 'supplier ' || l_suppkey)), ',') AS query_names,
             array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS chart_names
           FROM lineitem GROUP BY l_partkey)
         SELECT p_brand AS group_name, 'd' || p_partkey AS name,
           'gold' AS cluster,
           COALESCE(p_type, '') AS description,
           '' AS group_description,
           'https://mode.example/' || p_brand AS group_url,
           'https://mode.example/' || p_brand || '/d' || p_partkey AS url,
           'mode_dashboard://gold.' || p_brand || '/d' || p_partkey AS uri,
           'mode' AS product,
           COALESCE(last_successful_run_timestamp, 0) AS last_successful_run_timestamp,
           COALESCE(query_names, '') AS query_names,
           COALESCE(chart_names, '') AS chart_names,
           COALESCE(total_usage, 0) AS total_usage,
           lower(p_brand) AS tags,
           CASE WHEN p_partkey % 5 = 0 THEN 'certified' ELSE '' END AS badges
         FROM part LEFT JOIN u ON p_partkey = l_partkey
         WHERE p_partkey % 3 = 0
         ORDER BY group_name, name""",
    // The staged round trips are lossless, so the oracles are the same
    // queries as the in-memory user/dashboard variants.
    "q_staged_user_search_doc" ->
      """WITH r AS (
           SELECT l_suppkey, COUNT(*) AS total_read, COUNT(DISTINCT l_partkey) AS total_own,
             COUNT(DISTINCT l_orderkey) AS total_follow
           FROM lineitem GROUP BY l_suppkey)
         SELECT 's' || s_suppkey AS email,
           string_split(s_name, '#')[1] AS first_name,
           string_split(s_name, '#')[2] AS last_name,
           s_name AS full_name, n_name AS team_name,
           's' || ((s_suppkey + 1) % 10) AS manager_email,
           'true' AS is_active,
           'gh_s' || s_suppkey AS github_username,
           '@s' || s_suppkey AS slack_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'eng' ELSE 'analyst' END AS role_name,
           'fte' AS employee_type,
           COALESCE(total_read, 0) AS total_read,
           COALESCE(total_own, 0) AS total_own,
           COALESCE(total_follow, 0) AS total_follow
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
           LEFT JOIN r ON s_suppkey = l_suppkey
         WHERE s_name IS NOT NULL ORDER BY email""",
    "q_staged_dashboard_search_doc" ->
      """WITH u AS (
           SELECT l_partkey,
             COUNT(DISTINCT l_suppkey || '_' || l_orderkey || '_' || l_linenumber)
               AS total_usage,
             CAST(epoch(MAX(l_shipdate)) AS BIGINT) AS last_successful_run_timestamp,
             array_to_string(list_sort(list(DISTINCT 'supplier ' || l_suppkey)), ',') AS query_names,
             array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS chart_names
           FROM lineitem GROUP BY l_partkey)
         SELECT p_brand AS group_name, 'd' || p_partkey AS name,
           'gold' AS cluster,
           COALESCE(p_type, '') AS description,
           '' AS group_description,
           'https://mode.example/' || p_brand AS group_url,
           'https://mode.example/' || p_brand || '/d' || p_partkey AS url,
           'mode_dashboard://gold.' || p_brand || '/d' || p_partkey AS uri,
           'mode' AS product,
           COALESCE(last_successful_run_timestamp, 0) AS last_successful_run_timestamp,
           COALESCE(query_names, '') AS query_names,
           COALESCE(chart_names, '') AS chart_names,
           COALESCE(total_usage, 0) AS total_usage,
           lower(p_brand) AS tags,
           CASE WHEN p_partkey % 5 = 0 THEN 'certified' ELSE '' END AS badges
         FROM part LEFT JOIN u ON p_partkey = l_partkey
         ORDER BY group_name, name""",
    "q_publish_upsert" ->
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         incoming AS (
           SELECT c_custkey AS key, c_name AS name, lower(c_mktsegment) AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(i.key, e.key) AS key, COALESCE(i.name, e.name) AS name,
           COALESCE(i.segment, e.segment) AS segment,
           CASE WHEN i.key IS NOT NULL THEN 'tag_2' ELSE '' END AS published_tag,
           CAST(CASE WHEN i.key IS NOT NULL THEN 2000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key""",
    "q_publish_lww" ->
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         batch AS (
           SELECT o_custkey AS key, o_orderstatus AS name, o_orderpriority AS segment,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders),
         incoming AS (SELECT key, name, segment FROM batch WHERE rn = 1)
         SELECT COALESCE(i.key, e.key) AS key, COALESCE(i.name, e.name) AS name,
           COALESCE(i.segment, e.segment) AS segment,
           CASE WHEN i.key IS NOT NULL THEN 'tag_3' ELSE '' END AS published_tag,
           CAST(CASE WHEN i.key IS NOT NULL THEN 3000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key""",
    "q_publish_create_only" ->
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         incoming AS (
           SELECT c_custkey AS key, c_name AS name, lower(c_mktsegment) AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(i.key, e.key) AS key,
           CASE WHEN e.key IS NOT NULL THEN e.name ELSE i.name END AS name,
           CASE WHEN e.key IS NOT NULL THEN e.segment ELSE i.segment END AS segment,
           CASE WHEN e.key IS NULL AND i.key IS NOT NULL THEN 'tag_2' ELSE '' END AS published_tag,
           CAST(CASE WHEN e.key IS NULL AND i.key IS NOT NULL THEN 2000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key""",
    "q_publish_empty_attr" ->
      """WITH existing AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         incoming AS (
           SELECT c_custkey AS key, c_name AS name,
             CASE WHEN c_custkey % 4 = 0 THEN '' ELSE lower(c_mktsegment) END AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(i.key, e.key) AS key,
           COALESCE(NULLIF(i.name, ''), e.name) AS name,
           COALESCE(NULLIF(i.segment, ''), e.segment) AS segment,
           CASE WHEN i.key IS NOT NULL THEN 'tag_2' ELSE '' END AS published_tag,
           CAST(CASE WHEN i.key IS NOT NULL THEN 2000 ELSE 0 END AS BIGINT) AS publisher_last_updated_epoch_ms
         FROM existing e FULL OUTER JOIN incoming i ON e.key = i.key ORDER BY key""",
    "q_delete_relation" ->
      """WITH cur AS (SELECT DISTINCT l_orderkey AS start_key, l_suppkey AS end_key FROM lineitem),
         del AS (SELECT DISTINCT l_orderkey AS start_key, l_suppkey AS end_key
                 FROM lineitem WHERE l_returnflag = 'R')
         SELECT c.start_key, c.end_key FROM cur c
         WHERE NOT EXISTS (SELECT 1 FROM del d
           WHERE d.start_key = c.start_key AND d.end_key = c.end_key)
         ORDER BY start_key, end_key""",
    "q_edge_endpoint_check" ->
      """SELECT 'c' || o_custkey AS start_key, 'o' || o_orderkey AS end_key
         FROM orders WHERE o_custkey % 5 <> 0
         ORDER BY start_key, end_key""",
    // Pins the FK-ordered publish sequence (mysql_csv_publisher.py:94-103):
    // seq_pos = application order, fk_rank = topological depth in the
    // _rk-derived FK DAG. Values are the publisher's contract, so the
    // oracle states them literally.
    "q_rds_fk_order" ->
      """SELECT * FROM (VALUES
           ('database', CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
           ('cluster', 2, 1),
           ('schema', 3, 2),
           ('table', 4, 3),
           ('table_description', 5, 4),
           ('tag', 6, 0),
           ('table_tag', 7, 4),
           ('column', 8, 4),
           ('column_description', 9, 5)
         ) AS t(rds_table, seq_pos, fk_rank)
         ORDER BY seq_pos""",
    "q_rds_records" ->
      """SELECT rds_table, n FROM (
           SELECT 'database' AS rds_table, CAST(1 AS BIGINT) AS n
           UNION ALL SELECT 'cluster',
             (SELECT COUNT(DISTINCT r_name) FROM customer
              JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey)
           UNION ALL SELECT 'schema',
             (SELECT COUNT(DISTINCT n_name) FROM customer JOIN nation ON c_nationkey = n_nationkey)
           UNION ALL SELECT 'table', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'table_description', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'tag', (SELECT COUNT(DISTINCT lower(c_mktsegment)) FROM customer)
           UNION ALL SELECT 'table_tag', (SELECT COUNT(*) FROM customer)
           UNION ALL SELECT 'column', (SELECT COUNT(*) FROM orders)
           UNION ALL SELECT 'column_description', (SELECT COUNT(*) FROM orders)
         ) ORDER BY rds_table""",
    "q_stale_sweep" ->
      """WITH nodes AS (
           SELECT o_orderkey AS key, o_orderpriority AS label, o_orderstatus AS status FROM orders),
         r AS (
           SELECT label, SUM(CASE WHEN status = 'F' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS ratio
           FROM nodes GROUP BY label)
         SELECT n.label AS label, COUNT(*) AS n_kept
         FROM nodes n JOIN r ON n.label = r.label
         WHERE status <> 'F' OR ratio >= 0.40
         GROUP BY n.label ORDER BY label""",
    // Composed lifecycle: publish(tag_1) → churn publish(tag_2, tag
    // retention on untouched rows) → guardrailed sweep → re-publish
    // (tag_3). Full-outer-join merge semantics replayed as CTE chain.
    "q_publish_lifecycle" ->
      """WITH a AS MATERIALIZED (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS seg
           FROM customer WHERE c_custkey % 3 <> 0),
         b AS MATERIALIZED (
           SELECT c_custkey AS key, upper(c_name) AS name, c_mktsegment AS seg
           FROM customer WHERE c_mktsegment <> 'FURNITURE' AND (c_custkey * 7) % 10 < 6),
         cur2 AS MATERIALIZED (
           SELECT coalesce(b.key, a.key) AS key,
             coalesce(b.name, a.name) AS name,
             coalesce(b.seg, a.seg) AS seg,
             CASE WHEN b.key IS NOT NULL THEN 'tag_2' ELSE 'tag_1' END AS tag,
             CASE WHEN b.key IS NOT NULL THEN 2000 ELSE 1000 END AS epoch
           FROM a FULL OUTER JOIN b ON a.key = b.key),
         ratios AS MATERIALIZED (
           SELECT seg, SUM(CASE WHEN tag <> 'tag_2' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS r
           FROM cur2 GROUP BY seg),
         cur3 AS MATERIALIZED (
           SELECT cur2.* FROM cur2 JOIN ratios USING (seg)
           WHERE tag = 'tag_2' OR r >= 0.5),
         c AS MATERIALIZED (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS seg
           FROM customer WHERE c_custkey % 5 = 0),
         cur4 AS MATERIALIZED (
           SELECT coalesce(c.key, cur3.key) AS key,
             coalesce(c.name, cur3.name) AS name,
             coalesce(c.seg, cur3.seg) AS seg,
             CASE WHEN c.key IS NOT NULL THEN 'tag_3' ELSE cur3.tag END AS tag,
             CASE WHEN c.key IS NOT NULL THEN 3000 ELSE cur3.epoch END AS epoch
           FROM cur3 FULL OUTER JOIN c ON cur3.key = c.key)
         SELECT seg AS label, tag AS published_tag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN name = upper(name) THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
           CAST(MIN(epoch) AS BIGINT) AS min_epoch,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch
         FROM cur4 GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_rds_stale_sweep" ->
      """WITH recs AS (
           SELECT 'orders_rec' AS rds_table, o_orderdate AS d FROM orders
           UNION ALL SELECT 'lineitem_rec', l_shipdate FROM lineitem)
         SELECT rds_table, COUNT(*) AS n_kept FROM recs
         WHERE d >= TIMESTAMP '1995-01-01'
         GROUP BY rds_table ORDER BY rds_table""",
    "q_neptune_stale_sweep" ->
      """WITH edges AS (
           SELECT l_returnflag AS label,
             CASE WHEN l_linenumber % 4 = 0 THEN 'user' ELSE 'job' END AS ct,
             l_shipdate AS d FROM lineitem),
         r AS (
           SELECT label,
             SUM(CASE WHEN ct = 'job' AND d < TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END)
               * 1.0 / COUNT(*) AS ratio
           FROM edges GROUP BY label)
         SELECT e.label AS label, COUNT(*) AS n_kept
         FROM edges e JOIN r ON e.label = r.label
         WHERE NOT (ct = 'job' AND d < TIMESTAMP '1996-01-01') OR ratio >= 0.75
         GROUP BY e.label ORDER BY label""",
    // REST-join framework: values round-trip through a JSON payload on the
    // Spark side (JSONPath extract + zip + explode); the oracle joins the
    // base tables directly — identical values prove the join semantics.
    "q_rest_join_inner" ->
      """SELECT c_custkey, c_name, CAST(o_orderkey AS BIGINT) AS order_id,
           o_orderstatus AS order_status
         FROM customer JOIN orders ON o_custkey = c_custkey
         ORDER BY c_custkey, order_id""",
    "q_rest_join_outer" ->
      """SELECT c_custkey, c_name, COALESCE(CAST(o_orderkey AS BIGINT), 0) AS order_id,
           COALESCE(o_orderstatus, '') AS order_status
         FROM customer LEFT JOIN orders ON o_custkey = c_custkey
         ORDER BY c_custkey, order_id""",
    "q_hive_metastore_fold" ->
      """WITH tbls AS (SELECT c_custkey AS tbl_id, c_nationkey AS db_id, c_name AS name,
             CASE WHEN c_custkey % 20 = 0 THEN 'VIRTUAL_VIEW' ELSE 'MANAGED_TABLE' END AS tbl_type,
             c_mktsegment AS description
           FROM customer),
         dbs AS (SELECT n_nationkey AS db_id, n_name AS schema_name FROM nation),
         cols AS (SELECT o_custkey AS tbl_id, 'c' || o_orderkey AS col_name,
             o_orderpriority AS col_type, o_orderkey AS col_sort_order,
             CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS is_partition_col
           FROM orders),
         folded AS (
           SELECT t.tbl_id, d.schema_name, t.name, t.description,
             t.tbl_type = 'VIRTUAL_VIEW' AS is_view,
             COUNT(*) AS n_cols,
             string_agg(c.col_name || ':' || c.col_type || ':' ||
                 CASE WHEN c.is_partition_col = 1 THEN 'partition column' ELSE '' END, ','
               ORDER BY (1 - c.is_partition_col), c.col_sort_order) AS columns
           FROM tbls t JOIN dbs d ON t.db_id = d.db_id JOIN cols c ON t.tbl_id = c.tbl_id
           GROUP BY 1, 2, 3, 4, 5)
         SELECT 'hive://gold.' || schema_name || '/' || name AS key,
           schema_name, name, description, is_view, n_cols, columns
         FROM folded ORDER BY key""",
    "q_timestamp_epoch" ->
      """SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
                ELSE 'not-a-timestamp' END AS ts_string,
           COALESCE(CAST(epoch(try_strptime(
             CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
                  ELSE 'not-a-timestamp' END, '%Y-%m-%dT%H:%M:%S')) AS BIGINT), 0) AS epoch
         FROM events ORDER BY event_id""",
    "q_str_replace" ->
      """SELECT doc_id, md5(replace(replace(text, ' ', '_'), 'a', '@')) AS fingerprint
         FROM documents ORDER BY doc_id""",
    "q_key_format" ->
      """SELECT c_custkey, 'tpch://' || r_name || '.' || n_name || '/' || c_name AS key
         FROM customer JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",
    "q_base64_json" ->
      """SELECT event_id, to_base64(encode(props)) AS encoded,
           TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
         FROM events WHERE event_id < 1000 ORDER BY event_id""",
    // Glue positional column fan-out; positions continue across the
    // columns ∪ partition-keys concat.
    "q_posexplode_columns" ->
      """SELECT p_partkey, CAST(x.pos AS INT) AS pos, x.col_name FROM (
           SELECT p_partkey, unnest(list_transform(range(1, len(arr) + 1),
               i -> {'pos': i - 1, 'col_name': arr[i]})) AS x
           FROM (SELECT p_partkey,
                   [p_name, p_brand, p_type, CAST(p_size AS VARCHAR)] AS arr
                 FROM part))
         ORDER BY p_partkey, pos""",
    "q_text_tokens" ->
      """WITH t AS (SELECT doc_id, length(text) AS n_chars,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks,
             list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> '') AS pieces
           FROM documents)
         SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(pieces) AS BIGINT) AS n_pieces
         FROM t ORDER BY doc_id""",
    "q_text_quality" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS type_token_ratio,
           CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS mean_token_len,
           len(toks) BETWEEN 10 AND 1000 AS passes_length_filter
         FROM t ORDER BY doc_id""",
    "q_clean_pipeline" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
             CAST(len(list_filter(toks, x ->
               list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
           FROM t),
         r AS (SELECT doc_id,
             CASE WHEN n_tokens < 10 OR n_tokens > 1000 THEN 'length'
                  WHEN ttr < 0.3 THEN 'low_diversity'
                  WHEN s_en <= 0 THEN 'wrong_lang'
                  WHEN doc_id <> canonical THEN 'duplicate'
                  ELSE 'keep' END AS reason
           FROM s)
         SELECT doc_id, reason, reason = 'keep' AS keep
         FROM r ORDER BY doc_id""",
    // Token-budget sharding: shard = preceding-token count div budget,
    // over the doc_id-ordered prefix sum.
    "q_token_shards" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM t)
         SELECT CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM c GROUP BY 1 ORDER BY shard""",
    // Sequence packing: segment by the same running-cumsum rule, then
    // next-fit within each segment via a per-segment recursive walk —
    // one recursion step advances every segment's next document at once.
    "q_pack_sequences" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM t),
         d AS (SELECT doc_id, n_tokens,
             CAST((cum - n_tokens) // 2048 AS BIGINT) AS seg,
             ROW_NUMBER() OVER (PARTITION BY CAST((cum - n_tokens) // 2048 AS BIGINT)
               ORDER BY doc_id) AS rn
           FROM c),
         r AS (
           SELECT seg, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin,
             n_tokens AS fill
           FROM d WHERE rn = 1
           UNION ALL
           SELECT nxt.seg, nxt.rn, nxt.doc_id, nxt.n_tokens,
             CASE WHEN r.fill + nxt.n_tokens <= 512 THEN r.bin ELSE r.bin + 1 END,
             CASE WHEN r.fill + nxt.n_tokens <= 512 THEN r.fill + nxt.n_tokens
                  ELSE nxt.n_tokens END
           FROM r JOIN d nxt ON nxt.seg = r.seg AND nxt.rn = r.rn + 1)
         SELECT doc_id, seg, bin, n_tokens FROM r ORDER BY doc_id""",
    // Vocabulary build: token count + doc frequency, deterministic
    // top-k via a total order on (n DESC, token).
    "q_vocab_topk" ->
      """WITH x AS (SELECT doc_id,
             unnest(string_split_regex(text, '\s+')) AS token
           FROM documents)
         SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
         FROM x WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token LIMIT 100""",
    // Gopher-style repetition: top-1 unigram/bigram/trigram frequency
    // fraction; both engines build the n-gram lists then count the mode
    // via distinct×filter, so the doubles divide identically.
    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, toks,
             CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i + 1]) END AS bg,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS tg
           FROM t)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN NULL
                ELSE CAST(list_max(list_transform(list_distinct(toks),
                       d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) END AS top_token_frac,
           CASE WHEN len(bg) = 0 THEN NULL
                ELSE CAST(list_max(list_transform(list_distinct(bg),
                       d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                     / CAST(len(bg) AS DOUBLE) END AS top_bigram_frac,
           CASE WHEN len(tg) = 0 THEN NULL
                ELSE CAST(list_max(list_transform(list_distinct(tg),
                       d -> len(list_filter(tg, x -> x = d)))) AS DOUBLE)
                     / CAST(len(tg) AS DOUBLE) END AS top_trigram_frac
         FROM g ORDER BY doc_id""",
    // Deterministic stratified mixing: md5(doc_id)-derived uniform vs a
    // per-language target rate over the language-ID assignment.
    "q_domain_mix" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
           CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
           CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
           CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','es'], x))) AS BIGINT) AS s_es,
           CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(toks, x -> list_contains(['的','是','在'], x))) AS BIGINT) AS s_zh
           FROM t),
         g AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM s),
         lang AS (SELECT doc_id,
           CASE WHEN s_en = best AND best > 0 THEN 'en'
                WHEN s_de = best AND best > 0 THEN 'de'
                WHEN s_es = best AND best > 0 THEN 'es'
                WHEN s_fr = best AND best > 0 THEN 'fr'
                WHEN s_zh = best AND best > 0 THEN 'zh'
                ELSE 'unknown' END AS predicted_lang
           FROM g),
         m AS (SELECT doc_id, predicted_lang,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS DOUBLE)
             / 1000000.0 AS sample_u,
           CASE predicted_lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                WHEN 'es' THEN 0.8 WHEN 'fr' THEN 0.3 WHEN 'zh' THEN 1.0
                ELSE 0.1 END AS rate
           FROM lang)
         SELECT doc_id, predicted_lang, sample_u, rate
         FROM m WHERE sample_u < rate ORDER BY doc_id""",
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
           CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
           CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
           CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','es'], x))) AS BIGINT) AS s_es,
           CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(toks, x -> list_contains(['的','是','在'], x))) AS BIGINT) AS s_zh
           FROM t),
         g AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM s)
         SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
           CASE WHEN s_en = best AND best > 0 THEN 'en'
                WHEN s_de = best AND best > 0 THEN 'de'
                WHEN s_es = best AND best > 0 THEN 'es'
                WHEN s_fr = best AND best > 0 THEN 'fr'
                WHEN s_zh = best AND best > 0 THEN 'zh'
                ELSE 'unknown' END AS predicted_lang
         FROM g ORDER BY doc_id""",
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_fp, md5(substr(text, 1, 64)) AS prefix_fp,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id""",
    // Winnowing: trigram rolling hashes (mod 2^31-1 on md5-derived token
    // hashes) then min-per-4-window; both engines compute identically.
    "q_doc_winnow" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         h AS (SELECT doc_id,
             list_transform(toks,
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % 2147483647) AS thm
           FROM t),
         r AS (SELECT doc_id,
             CASE WHEN len(thm) < 3 THEN CAST([] AS BIGINT[])
                  ELSE list_transform(range(1, len(thm) - 1),
                    i -> (thm[i] * 17161 + thm[i + 1] * 131 + thm[i + 2]) % 2147483647) END AS rh
           FROM h),
         f AS (SELECT doc_id,
             CASE WHEN len(rh) < 4 THEN rh
                  ELSE list_transform(range(1, len(rh) - 2),
                    j -> list_aggregate(rh[j:j + 3], 'min')) END AS fps
           FROM r)
         SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_windows,
           CAST(len(list_distinct(fps)) AS BIGINT) AS n_distinct_fp,
           COALESCE(CAST(list_aggregate(fps, 'min') AS BIGINT), -1) AS min_fp,
           COALESCE(CAST(list_aggregate(fps, 'max') AS BIGINT), -1) AS max_fp
         FROM f ORDER BY doc_id""",
    "q_pii_redact" ->
      """WITH t AS (
           SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                  ELSE '' END AS text2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text2, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(text2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
         FROM t ORDER BY doc_id""",
    "q_url_canon" ->
      """WITH u AS (
           SELECT doc_id,
             'HTTPS://WWW.Site' || (doc_id % 7) || '.COM/Path/' || (doc_id % 3) ||
             CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END ||
             CASE WHEN doc_id % 2 = 0
                  THEN '?utm_source=feed&id=' || (doc_id % 5) || '&utm_campaign=c'
                  ELSE '' END AS url
           FROM documents),
         q AS (
           SELECT doc_id, url,
             array_to_string(list_filter(string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
               p -> p <> '' AND substring(p, 1, 4) <> 'utm_'), '&') AS q2
           FROM u),
         c AS (
           SELECT doc_id,
             lower(regexp_extract(url, '^([^:]+)://', 1)) || '://' ||
             regexp_replace(lower(regexp_extract(url, '^[^:]+://([^/?]+)', 1)), '^www\.', '') ||
             regexp_replace(regexp_extract(url, '^[^:]+://[^/?]+([^?]*)', 1), '/+$', '') ||
             CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS canon_url
           FROM q)
         SELECT canon_url, COUNT(*) AS n_docs
         FROM c GROUP BY canon_url ORDER BY canon_url""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_fp, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
         FROM documents GROUP BY 1 ORDER BY canonical_doc_id""",
    // Contamination: per-doc fraction of distinct trigram shingles shared
    // with any other document.
    "q_shared_ngrams" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS sh
           FROM t),
         x AS (SELECT doc_id, unnest(sh) AS g FROM s),
         c AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM x GROUP BY g)
         SELECT x.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS shared_frac
         FROM x JOIN c USING (g) GROUP BY x.doc_id ORDER BY doc_id""",
    // Bloom gate: the verdict is EXACT membership (the bloom only prunes
    // the fast path and its false positives die in the verify semi-join),
    // so the oracle is a plain IN-subquery.
    "q_exact_gate_bloom" ->
      """WITH inc AS (
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000, reverse(text) FROM documents WHERE doc_id % 10 = 5)
         SELECT doc_id,
           CAST(CASE WHEN text IN (SELECT text FROM documents) THEN 1 ELSE 0 END AS BIGINT) AS is_dup
         FROM inc ORDER BY doc_id""",
    // Paragraph dedup: fixed 12-token chunks, first occurrence by
    // (doc_id, pos) survives corpus-wide, per-doc survival report.
    "q_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         n AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
         p AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             array_to_string(toks[(u.i*12+1):(u.i*12+12)], ' ') AS para
           FROM n, UNNEST(range(0, CAST(ceil(len(toks)/12.0) AS BIGINT))) AS u(i)),
         r AS (SELECT doc_id, para,
             ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
           FROM p)
         SELECT doc_id, COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS kept_frac
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
           FROM t)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             AS jaccard
         FROM s a JOIN s b ON b.doc_id = a.doc_id + 1 ORDER BY doc_a""",
    // Oracle is the brute-force all-pairs truth set; the Spark side is
    // MinHash+LSH banding + exact verification, which attains 100% recall
    // at jaccard>=0.8 on this (deterministic) corpus.
    // Admission gate: incoming docs vs the corpus — brute-force exact
    // Jaccard in the oracle (the LSH candidates have full recall for
    // pairs at this threshold, verified exactly, so the sets agree).
    "q_dedup_gate" ->
      """WITH incoming AS (
           SELECT doc_id + 1000000 AS doc_id, substr(text, 1, length(text) - 20) AS text
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000, reverse(text) FROM documents WHERE doc_id % 10 = 5),
         ti AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM incoming),
         si AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM ti WHERE len(toks) > 2),
         tc AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         sc AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM tc WHERE len(toks) > 2),
         v AS (SELECT i.doc_id AS in_id, c.doc_id AS corpus_id,
             CAST(len(list_filter(i.sh, x -> list_contains(c.sh, x))) AS DOUBLE)
               / (len(i.sh) + len(c.sh)
                 - len(list_filter(i.sh, x -> list_contains(c.sh, x)))) AS jaccard
           FROM si i JOIN sc c ON TRUE),
         hits AS (SELECT * FROM v WHERE jaccard >= 0.8),
         m AS (SELECT in_id, COUNT(*) AS n_matches FROM hits GROUP BY in_id),
         b AS (SELECT in_id, corpus_id AS best_match, jaccard AS best_jaccard
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY in_id
               ORDER BY jaccard DESC, corpus_id ASC) AS rn FROM hits)
           WHERE rn = 1)
         SELECT i.doc_id,
           CASE WHEN m.in_id IS NULL THEN 'admit' ELSE 'reject' END AS decision,
           COALESCE(m.n_matches, 0) AS n_matches,
           COALESCE(b.best_match, 0) AS best_match,
           COALESCE(b.best_jaccard, 0.0) AS best_jaccard
         FROM incoming i
           LEFT JOIN m ON i.doc_id = m.in_id
           LEFT JOIN b ON i.doc_id = b.in_id
         ORDER BY i.doc_id""",
    "q_minhash_lsh" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS inter,
             CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS tot
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, inter / (tot - inter) AS jaccard
         FROM p WHERE inter / (tot - inter) >= 0.8 ORDER BY doc_a, doc_b""",
    // Edit-distance confirmation over the same verified pair set: the
    // oracle re-derives q_minhash_lsh's brute-force pairs, then applies
    // the identical levenshtein arithmetic on just those rows.
    "q_editdist_verify" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS inter,
             CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS tot
           FROM s a JOIN s b ON a.doc_id < b.doc_id),
         v AS (SELECT doc_a, doc_b, inter / (tot - inter) AS jaccard
           FROM p WHERE inter / (tot - inter) >= 0.8),
         x AS (SELECT v.doc_a, v.doc_b, v.jaccard,
             CAST(levenshtein(ca.text, cb.text) AS BIGINT) AS dist,
             CAST(greatest(length(ca.text), length(cb.text)) AS BIGINT) AS mx
           FROM v JOIN corpus ca ON ca.doc_id = v.doc_a
                  JOIN corpus cb ON cb.doc_id = v.doc_b)
         SELECT doc_a, doc_b, jaccard, dist,
           (mx - dist) * 1000000 // mx AS edit_sim_ppm,
           dist * 5 <= mx AS confirmed
         FROM x ORDER BY doc_a, doc_b""",
    // Connected components over the same verified pair set: canonical =
    // min doc_id reachable, via a recursive transitive-closure CTE.
    "q_neardup_groups" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             / (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= 0.8),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(doc_id, label) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.dst, reach.label FROM reach JOIN e ON e.src = reach.doc_id)
         SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
         FROM reach GROUP BY doc_id ORDER BY doc_id""",
    // Keep-best selection: same recursive-CTE groups, argmax quality
    // (ttr DESC, doc_id) per group.
    "q_neardup_keep_best" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         s AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
           FROM t),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
             / (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= 0.8),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM p
               UNION ALL SELECT doc_b, doc_a FROM p),
         reach(doc_id, label) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.dst, reach.label FROM reach JOIN e ON e.src = reach.doc_id),
         g AS (SELECT doc_id, CAST(min(label) AS BIGINT) AS canonical_id
           FROM reach GROUP BY doc_id),
         q AS (SELECT doc_id,
             CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr
           FROM t),
         r AS (SELECT g.canonical_id, g.doc_id, q.ttr,
             ROW_NUMBER() OVER (PARTITION BY g.canonical_id
               ORDER BY q.ttr DESC, g.doc_id) AS rk
           FROM g JOIN q USING (doc_id))
         SELECT canonical_id, COUNT(*) AS n_members,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS keep_doc_id,
           MAX(CASE WHEN rk = 1 THEN ttr END) AS keep_ttr
         FROM r GROUP BY canonical_id ORDER BY canonical_id""",
    // Token hash = first 15 hex chars of md5 (60 bits) so DuckDB can
    // reproduce the bit-vote exactly; the vote is order-insensitive.
    "q_simhash" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         h AS (SELECT doc_id,
             list_transform(list_distinct(toks),
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS th
           FROM t),
         s AS (SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(th,
                      hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
           FROM h)
         SELECT doc_id, simhash, simhash >> 44 AS bucket FROM s ORDER BY doc_id""",
    // Ensemble calibration: the three near-dup signals on the
    // consecutive-pair probe set with a majority vote. Every kernel
    // (Jaccard, md5 SimHash + bit_count(xor), double cosine) is computed
    // identically by both engines.
    "q_dedup_signals" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS sh
           FROM t),
         jac AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
               / CAST(len(a.sh) + len(b.sh)
                   - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) AS jaccard
           FROM s a JOIN s b ON b.doc_id = a.doc_id + 1),
         hsh AS (SELECT doc_id,
             list_transform(list_distinct(toks),
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS th
           FROM t),
         sim AS (SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(th,
                      hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
           FROM hsh),
         ham AS (SELECT a.doc_id AS doc_a,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM sim a JOIN sim b ON b.doc_id = a.doc_id + 1),
         e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         cosp AS (SELECT a.vec_id AS doc_a,
             list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON b.vec_id = a.vec_id + 1)
         SELECT jac.doc_a, jac.doc_b, jac.jaccard, ham.hamming, cosp.cos,
           CAST(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END
             + CASE WHEN hamming <= 10 THEN 1 ELSE 0 END
             + CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END AS BIGINT) AS dup_votes
         FROM jac JOIN ham USING (doc_a) JOIN cosp USING (doc_a)
         ORDER BY doc_a""",
    // Candidate generation (bucket equality) and the Hamming verify are
    // both deterministic functions computed identically by both engines
    // (md5-based token hashes), so the compare is exact by construction.
    "q_simhash_pairs" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         h AS (SELECT doc_id,
             list_transform(list_distinct(toks),
               tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS th
           FROM t),
         s AS (SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN list_sum(list_transform(th,
                      hh -> CASE WHEN ((hh >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
           FROM h),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM s a JOIN s b
             ON (a.simhash >> 44) = (b.simhash >> 44) AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 10
         ORDER BY doc_a, doc_b""",
    "q_embed_norm" ->
      """SELECT vec_id,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
         FROM embeddings ORDER BY vec_id""",
    // Quantization: per-vector affine map to 0..255; floor(x+0.5)
    // rounding and list_sum reconstruction error match Spark's
    // left-to-right aggregate bit-for-bit on exact doubles.
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         m AS (SELECT vec_id, v,
             list_aggregate(v, 'min') AS vmin, list_aggregate(v, 'max') AS vmax
           FROM e),
         s AS (SELECT *, CASE WHEN vmax > vmin THEN (vmax - vmin) / 255.0
                              ELSE 1.0 END AS scale FROM m),
         q AS (SELECT vec_id, v, vmin, vmax, scale,
             list_transform(v, x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT)) AS qv
           FROM s)
         SELECT vec_id, vmin, vmax, qv[1] AS q0,
           CAST(list_aggregate(qv, 'max') AS BIGINT) AS qmax,
           list_sum(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - (vmin + qv[i] * scale)))) / len(v) AS mae
         FROM q ORDER BY vec_id""",
    // Embedding drift: centroid sums in 1e3 fixed point (exact BIGINT),
    // one double cosine at the end; round(6) absorbs last-ulp sqrt.
    "q_embed_drift" ->
      """WITH p AS (SELECT label, vec_id % 2 AS slice, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xq
           FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
         s AS (SELECT label, slice, i, CAST(SUM(xq) AS BIGINT) AS sv
           FROM p GROUP BY label, slice, i),
         d AS (SELECT label, i,
             CAST(SUM(CASE WHEN slice = 0 THEN sv END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN slice = 1 THEN sv END) AS BIGINT) AS sb
           FROM s GROUP BY label, i),
         g AS (SELECT label,
             CAST(SUM(sa * sb) AS BIGINT) AS dot,
             CAST(SUM(sa * sa) AS BIGINT) AS na,
             CAST(SUM(sb * sb) AS BIGINT) AS nb
           FROM d GROUP BY label),
         c AS (SELECT label,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM embeddings GROUP BY label)
         SELECT g.label, n_a, n_b,
           CASE WHEN na > 0 AND nb > 0
             THEN round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
           END AS cos_centroid
         FROM g JOIN c ON g.label = c.label ORDER BY g.label""",
    "q_embed_pair_cosine" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
         FROM n a JOIN n b ON b.vec_id = a.vec_id + 1 ORDER BY id_a""",
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank""",
    // int8 twin: quantize = floor((x - vmin)/scale + 0.5) with
    // scale = (vmax - vmin)/255, dequantize = code*scale + vmin — exact
    // affine double arithmetic both engines reproduce bit-for-bit, then
    // the same brute-force cosine ranking as q_ann_topk over the
    // dequantized vectors.
    "q_ann_topk_quantized" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         qd AS (SELECT vec_id, v, list_min(v) AS vmin,
             CASE WHEN list_max(v) > list_min(v)
                  THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
           FROM e),
         d AS (SELECT vec_id,
             list_transform(v,
               x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT) * scale + vmin) AS dv
           FROM qd),
         n AS (SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm FROM d),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.dv[i] * c.dv[i])) / (q.nrm * c.nrm) AS cos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank""",
    // Product quantization: codebook = first-128 sub-vectors, encode =
    // per-subspace L2 argmin (ties lowest code id), search = cosine of
    // query vs reconstruction — all exact double arithmetic, same
    // accumulation order both engines.
    "q_ann_pq_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cb AS (SELECT t.m AS m, e.vec_id AS cid,
             list_transform(range(1, 9), i -> v[t.m * 8 + i]) AS cw
           FROM e, range(0, 8) t(m) WHERE e.vec_id < 128),
         d AS (SELECT e.vec_id, cb.m, cb.cid,
             list_sum(list_transform(range(1, 9),
               i -> (e.v[cb.m * 8 + i] - cb.cw[i]) * (e.v[cb.m * 8 + i] - cb.cw[i]))) AS d2
           FROM e, cb),
         codes AS (SELECT vec_id, m, cid FROM (
             SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM d)
           WHERE rn = 1),
         recon AS (SELECT c.vec_id, flatten(list(cb.cw ORDER BY c.m)) AS rv
           FROM codes c JOIN cb ON cb.m = c.m AND cb.cid = c.cid GROUP BY c.vec_id),
         n AS (SELECT vec_id, rv, sqrt(list_sum(list_transform(rv, x -> x * x))) AS nrm FROM recon),
         q AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS qn FROM e WHERE vec_id < 20),
         s AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * n.rv[i])) / (q.qn * n.nrm) AS cos
           FROM q, n WHERE n.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank""",
    // Two-stage serving: the quantized CTE ranks the 20-candidate
    // shortlist, full-precision cosine re-ranks it — both passes exact
    // arithmetic with integer tie-breaks.
    "q_ann_topk_rerank" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         qd AS (SELECT vec_id, v, list_min(v) AS vmin,
             CASE WHEN list_max(v) > list_min(v)
                  THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS scale
           FROM e),
         d AS (SELECT vec_id,
             list_transform(v,
               x -> CAST(floor((x - vmin) / scale + 0.5) AS BIGINT) * scale + vmin) AS dv
           FROM qd),
         n AS (SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm FROM d),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.dv[i] * c.dv[i])) / (q.nrm * c.nrm) AS qcos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         short AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS srank
             FROM s) WHERE srank <= 20),
         f AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         r AS (SELECT short.query_id, short.neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM short JOIN f q ON short.query_id = q.vec_id
                      JOIN f c ON short.neighbor_id = c.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM r) WHERE rank <= 5
         ORDER BY query_id, rank""",
    // Oracle is the brute-force all-pairs truth; the Spark side is LSH
    // bucket-join candidates + exact cosine verify. Twins are scaled x2
    // copies, so hyperplane signs match the parent exactly and LSH recall
    // is 1.0 by construction (not probabilistically).
    "q_ann_lsh_pairs" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.99 ORDER BY id_a, id_b""",
    // IVF cell assignment is deterministic (first-64 centroids, lowest-id
    // tie-break), so DuckDB recomputes the buckets and the bucketed top-k
    // search compares bit-for-bit.
    "q_ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cen AS (SELECT vec_id AS c_id, v AS cv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE vec_id < 64),
         cellscore AS (SELECT e.vec_id, e.v, cen.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN cen),
         cell AS (SELECT vec_id, v, c_id AS cell FROM (
             SELECT vec_id, v, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM cellscore) WHERE rn = 1),
         n AS (SELECT vec_id, v, cell,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM cell),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM n q JOIN n c ON q.cell = c.cell AND q.vec_id < 20 AND c.vec_id <> q.vec_id)
         SELECT query_id, rank, neighbor_id, cos FROM (
           SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
           FROM s) WHERE rank <= 5
         ORDER BY query_id, rank""",
    // Quantized IVF: full-precision cell assignment (index-time artifact)
    // + int8 dequantized ranking inside the cell join — both deterministic,
    // so the combined search is exactly reproducible.
    "q_ann_ivf_topk_quantized" -> annIvfTopKQuantizedOracleSql,
    // The staged serving store (parquet int8 codes + affine params,
    // partitioned by cell) round-trips losslessly, so the staged twin
    // shares the in-memory twin's oracle.
    "q_ann_ivf_topk_staged" -> annIvfTopKQuantizedOracleSql,
    // Upsert gate: post-upsert store == full corpus, centroids pinned to
    // the BUILD corpus (base ids only) — replacements carry identical
    // vectors so the relational recomputation is exact.
    "q_ann_ivf_upsert" ->
      annIvfTopKQuantizedOracleSqlWith("vec_id < 64 AND vec_id % 10 <> 0"),
    // Delete gate: post-delete store == corpus minus the % 9 == 4 cohort
    // on BOTH query and neighbor sides; centroids stay pinned to the full
    // build corpus (a removed source vector does not move the cells).
    "q_ann_ivf_delete" ->
      annIvfTopKQuantizedOracleSqlWith("vec_id < 64",
        "cell.vec_id % 9 <> 4"),
    // Recluster gate: pinned assignment -> per-cell 1e-6 fixed-point
    // means (one Lloyd update; empty cells keep the pinned centroid) ->
    // max-cosine re-assignment -> migration counts. n_after is counted
    // from the REFRESHED on-disk store on the Spark side, so it must
    // equal the relational re-assignment here; mu0_micros uses the
    // truncating integer division that replays exactly in all engines.
    "q_ann_recluster" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cen AS (SELECT vec_id AS c_id, v AS cv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE vec_id < 64),
         sc0 AS (SELECT e.vec_id, cen.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN cen),
         c0 AS (SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM sc0) WHERE rn = 1),
         q AS (SELECT c0.cell, i.i AS dim,
             CAST(floor(v[i.i] * 1000000 + 0.5) AS BIGINT) AS qx
           FROM c0 JOIN e USING (vec_id), (SELECT unnest(range(1, 65)) AS i) i),
         s AS (SELECT cell, dim, CAST(SUM(qx) AS BIGINT) AS sq, COUNT(*) AS n
           FROM q GROUP BY cell, dim),
         m AS (SELECT cell, dim,
             CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mu FROM s),
         arrs AS (SELECT cell, list(mu ORDER BY dim) AS mus FROM m GROUP BY cell),
         nc AS (SELECT cen.c_id, COALESCE(arrs.mus, cen.cv) AS cv
           FROM cen LEFT JOIN arrs ON cen.c_id = arrs.cell),
         nc2 AS (SELECT c_id, cv,
             sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm FROM nc),
         sc1 AS (SELECT e.vec_id, nc2.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN nc2),
         c1 AS (SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM sc1) WHERE rn = 1),
         mig AS (SELECT c0.vec_id, c0.cell AS old_cell, c1.cell AS new_cell
           FROM c0 JOIN c1 USING (vec_id) WHERE c0.cell <> c1.cell),
         nb AS (SELECT cell, COUNT(*) AS n_before FROM c0 GROUP BY cell),
         na AS (SELECT cell, COUNT(*) AS n_after FROM c1 GROUP BY cell),
         mo AS (SELECT old_cell AS cell, COUNT(*) AS n_out FROM mig GROUP BY old_cell),
         mi AS (SELECT new_cell AS cell, COUNT(*) AS n_in FROM mig GROUP BY new_cell),
         sh AS (SELECT arrs.cell, sqrt(list_sum(list_transform(range(1, 65),
               i -> (mus[i] - cv[i]) * (mus[i] - cv[i])))) AS shift
           FROM arrs JOIN cen ON arrs.cell = cen.c_id),
         mz AS (SELECT cell, sq // n AS mu0_micros FROM s WHERE dim = 1)
         SELECT CAST(cen.c_id AS BIGINT) AS cell,
           CAST(COALESCE(nb.n_before, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(mo.n_out, 0) AS BIGINT) AS n_out,
           CAST(COALESCE(mi.n_in, 0) AS BIGINT) AS n_in,
           CAST(COALESCE(na.n_after, 0) AS BIGINT) AS n_after,
           CAST(mz.mu0_micros AS BIGINT) AS mu0_micros,
           sh.shift AS shift
         FROM cen
         LEFT JOIN nb ON nb.cell = cen.c_id
         LEFT JOIN mo ON mo.cell = cen.c_id
         LEFT JOIN mi ON mi.cell = cen.c_id
         LEFT JOIN na ON na.cell = cen.c_id
         LEFT JOIN mz ON mz.cell = cen.c_id
         LEFT JOIN sh ON sh.cell = cen.c_id
         ORDER BY cell""",
    // Per-query recall of the IVF search vs the brute-force truth: both
    // top-k sets are deterministic, so the fraction is exact.
    "q_ann_ivf_recall" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         sb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM n q, n c WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
         bf AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             FROM sb) WHERE rank <= 5),
         cen AS (SELECT vec_id AS c_id, v AS cv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm FROM e WHERE vec_id < 64),
         cellscore AS (SELECT e.vec_id, e.v, cen.c_id,
             list_sum(list_transform(range(1, 65), i -> cv[i] * v[i])) / cnrm AS score
           FROM e CROSS JOIN cen),
         cell AS (SELECT vec_id, v, c_id AS cell FROM (
             SELECT vec_id, v, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, c_id) AS rn
             FROM cellscore) WHERE rn = 1),
         nc AS (SELECT vec_id, v, cell,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM cell),
         si AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
           FROM nc q JOIN nc c ON q.cell = c.cell AND q.vec_id < 20 AND c.vec_id <> q.vec_id),
         ivf AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             FROM si) WHERE rank <= 5),
         h AS (SELECT bf.query_id, COUNT(ivf.neighbor_id) AS hits
           FROM bf LEFT JOIN ivf
             ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
           GROUP BY bf.query_id)
         SELECT query_id, CAST(hits AS BIGINT) AS hits, hits / 5.0 AS recall
         FROM h ORDER BY query_id""",
    // Recall 1.0 by construction (scaled twins), so the brute-force pair
    // set IS the LSH-verified pair set, and the components over it match.
    "q_embed_neardup_groups" ->
      """WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.99),
         ed AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION ALL SELECT id_b, id_a FROM p),
         reach(vec_id, label) AS (
           SELECT src, src FROM ed
           UNION
           SELECT ed.dst, reach.label FROM reach JOIN ed ON ed.src = reach.vec_id)
         SELECT vec_id, CAST(min(label) AS BIGINT) AS canonical_id
         FROM reach GROUP BY vec_id ORDER BY vec_id""",
    // SemDeDup: brute-force truth for the within-cell pair set (twins
    // share their parent's cell), the same recursive-CTE components, the
    // argmax cell assignment mirroring the kernel's dot/cnrm scan, and
    // the lexicographic (cell_cos, vec_id) keeper election.
    "q_semantic_dedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         cen AS (SELECT vec_id AS cell, v AS cv, sqrt(list_sum(list_transform(v, x -> x * x))) AS cnrm
                 FROM e WHERE vec_id < 64),
         asg AS (SELECT vec_id, cell, cell_dot / (nrm * cnrm) AS cell_cos FROM (
             SELECT n.vec_id, cen.cell, n.nrm, cen.cnrm,
               list_sum(list_transform(range(1, 65), i -> n.v[i] * cen.cv[i])) AS cell_dot,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                 ORDER BY list_sum(list_transform(range(1, 65), i -> n.v[i] * cen.cv[i])) / cen.cnrm DESC,
                   cen.cell ASC) AS rk
             FROM n, cen) WHERE rk = 1),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= 0.99),
         ed AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION ALL SELECT id_b, id_a FROM p),
         reach(vec_id, label) AS (
           SELECT src, src FROM ed
           UNION
           SELECT ed.dst, reach.label FROM reach JOIN ed ON ed.src = reach.vec_id),
         grp AS (SELECT vec_id, min(label) AS group_id FROM reach GROUP BY vec_id),
         vb AS (SELECT asg.vec_id,
             CAST(COALESCE(grp.group_id, asg.vec_id) AS BIGINT) AS group_id,
             CAST(asg.cell AS BIGINT) AS cell, asg.cell_cos
           FROM asg LEFT JOIN grp ON asg.vec_id = grp.vec_id)
         SELECT vec_id, group_id, cell, cell_cos,
           CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY group_id
             ORDER BY cell_cos, vec_id) = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM vb ORDER BY vec_id""",
    // IVF cell assignment is cosine-based, so a scaled twin shares its
    // parent's cell — recall 1.0 against the same brute-force truth.
    // Streaming embedding gate: batch 0 = even orig vectors (claim
    // vacuously); batch 1 = odd origs + 2x-rescaled twins of the
    // (10k)-th vectors, judged against exactly the batch-0 claims. The
    // oracle replays brute-force pairwise with the position-ordered
    // double cosine; cell scoping is an implementation detail exactly
    // where q_ann_ivf_pairs proves cell-scoped = brute force here.
    "q_embed_dedup_stream" -> embedDedupStreamOracleSql,
    "q_embed_claim_retention" -> embedClaimRetentionOracleSql,
    // Same verdict semantics after the refresh+migration (same-cell
    // probe, exact cosine at the threshold) — a migration hole or a
    // wrong-artifact probe breaks the pairwise replay.
    "q_embed_recluster_stream" -> embedDedupStreamOracleSql,
    "q_ann_ivf_pairs" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         c AS (SELECT vec_id, v FROM e
               UNION ALL
               SELECT vec_id + 1000000, list_transform(v, x -> x * 2)
               FROM e WHERE vec_id % 10 = 0),
         n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM c),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos
           FROM n a JOIN n b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM p WHERE cos >= 0.99 ORDER BY id_a, id_b""",
    "q_multimodal_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha256,
           substr(hex(encode(text)), 1, 16) AS head_hex,
           CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
           CAST(octet_length(encode(text)) % 480 AS INT) AS fake_height
         FROM documents ORDER BY doc_id""",
    "q_frame_sample" ->
      """SELECT doc_id, i AS frame_idx,
           CAST(i * (octet_length(encode(text)) - 8) // 3 AS BIGINT) AS offset,
           substr(hex(encode(text)),
             CAST(i * (octet_length(encode(text)) - 8) // 3 AS INT) * 2 + 1,
             16) AS frame_hex
         FROM documents, (SELECT unnest(range(4)) AS i)
         WHERE octet_length(encode(text)) >= 8
         ORDER BY doc_id, frame_idx""",
    // Multimodal decode/resize run a REAL javax.imageio codec over
    // deterministic checkerboard assets; the oracle (which cannot decode
    // images) replays the generator arithmetic — dims/format/gray derive
    // from doc_id — and expects the codec round trip to recover it
    // (px_ok gates pixel fidelity Spark-side: exact for PNG, ±8 JPEG).
    "q_media_decode_meta" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + doc_id % 32 AS INT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           TRUE AS px_ok
         FROM documents ORDER BY doc_id""",
    "q_media_resize" ->
      """SELECT doc_id,
           CAST(greatest(1, w0 * s // 1024) AS INT) AS width,
           CAST(greatest(1, h0 * s // 1024) AS INT) AS height,
           'png' AS format
         FROM (
           SELECT doc_id, w0, h0, least(32*1024 // w0, 32*1024 // h0) AS s
           FROM (SELECT doc_id, 16 + doc_id % 48 AS w0, 16 + doc_id % 32 AS h0
             FROM documents))
         ORDER BY doc_id""",
    // Audio-style hop chunking: overlapping fixed-width windows every
    // hop bytes, offsets as data.
    "q_media_chunks" ->
      """SELECT doc_id, i AS chunk_idx, i * 12 AS offset,
           substr(hex(encode(text)), CAST(i * 12 AS INT) * 2 + 1, 32) AS chunk_hex
         FROM documents, LATERAL (SELECT unnest(range(
           (octet_length(encode(text)) - 16) // 12 + 1)) AS i) t
         WHERE octet_length(encode(text)) >= 16
         ORDER BY doc_id, chunk_idx""",
    // Audio twin of the image codec gate: Spark encodes REAL RIFF/WAVE
    // PCM16 bytes and decodes them back with a chunk walker; the oracle
    // re-derives every sample from the generator arithmetic
    // ((id*31 + i*17) % 2003 - 1001) via an unnest(range(n)) lateral.
    "q_audio_decode_meta" ->
      """SELECT d.doc_id, 8000 AS sample_rate,
           CAST(64 + d.doc_id % 128 AS INT) AS n_samples,
           (64 + d.doc_id % 128) * 1000000 // 8000 AS duration_us,
           CAST(x.peak AS INT) AS peak, CAST(x.energy AS BIGINT) AS energy
         FROM documents d, LATERAL (
           SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak,
             SUM(((d.doc_id * 31 + i * 17) % 2003 - 1001)
               * ((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS energy
           FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x
         ORDER BY d.doc_id""",
    // Multimodal admission gate: both modalities' rules replayed over
    // the generator arithmetic (px_ok expected TRUE from the codec).
    "q_media_curation" ->
      """WITH img AS (SELECT doc_id,
             16 + doc_id % 48 AS w, 16 + doc_id % 32 AS h
           FROM documents),
         aud AS (SELECT d.doc_id,
             (64 + d.doc_id % 128) * 1000000 // 8000 AS duration_us,
             x.peak
           FROM documents d, LATERAL (
             SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak
             FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x)
         SELECT i.doc_id,
           (i.w >= 32 AND i.h >= 24) AS img_ok,
           (a.duration_us >= 12000 AND a.peak >= 200) AS audio_ok,
           ((i.w >= 32 AND i.h >= 24)
             AND (a.duration_us >= 12000 AND a.peak >= 200)) AS keep
         FROM img i JOIN aud a ON a.doc_id = i.doc_id
         ORDER BY i.doc_id""",
    "q_audio_frame_energy" ->
      """SELECT d.doc_id, f.f AS frame_idx,
           CAST((SELECT SUM(((d.doc_id * 31 + (f.f * 32 + j) * 17) % 2003 - 1001)
                   * ((d.doc_id * 31 + (f.f * 32 + j) * 17) % 2003 - 1001))
                 FROM (SELECT unnest(range(64)) AS j)) AS BIGINT) AS energy
         FROM documents d, LATERAL (
           SELECT unnest(range((64 + d.doc_id % 128 - 64) // 32 + 1)) AS f) f
         ORDER BY d.doc_id, frame_idx""",
    // Perceptual dHash of every PNG asset: the codec decodes real bytes,
    // box-averages onto a 9x8 grid and emits 64 gradient-sign bits; the
    // oracle replays the identical integer arithmetic over the generator
    // checkerboard (PNG is lossless, so the hash must match bit for bit;
    // bit 63 is summed as its signed value — DuckDB errors on 1<<63).
    "q_image_dhash" ->
      """WITH d AS (SELECT doc_id,
             CAST(16 + doc_id % 48 AS BIGINT) AS w,
             CAST(16 + doc_id % 32 AS BIGINT) AS h,
             CAST(28 + (doc_id * 37) % 200 AS BIGINT) AS ga
           FROM documents WHERE doc_id % 2 = 0),
         cells AS (
           SELECT d.doc_id, c.i, r.j,
             (SELECT SUM(CASE WHEN ((x // 8) + (y // 8)) % 2 = 0
                              THEN d.ga ELSE 255 - d.ga END) // COUNT(*)
              FROM (SELECT unnest(range(c.i * d.w // 9, (c.i + 1) * d.w // 9)) AS x) xs,
                   (SELECT unnest(range(r.j * d.h // 8, (r.j + 1) * d.h // 8)) AS y) ys) AS px
           FROM d,
             LATERAL (SELECT unnest(range(9)) AS i) c,
             LATERAL (SELECT unnest(range(8)) AS j) r),
         bits AS (
           SELECT a.doc_id, CAST(a.j * 8 + a.i AS INT) AS bi
           FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
           WHERE a.i < 8 AND b.px > a.px)
         SELECT d.doc_id,
           COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                  ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS dhash
         FROM d LEFT JOIN bits b USING (doc_id)
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    // Perceptual dedup recall gate: planted JPEG-transcode and
    // 3/4-downscale twins (high-contrast assets only) must surface their
    // original through the multiprobe banded-Hamming join. The oracle
    // replays the planting arithmetic; found is structurally TRUE (8
    // bands + one-bit multiprobe cover every hash within the 15-bit
    // verify radius; measured twin worst case is 13).
    "q_image_dedup" ->
      """WITH g AS (SELECT doc_id, 28 + (doc_id * 37) % 200 AS ga FROM documents)
         SELECT doc_id + 3000000 AS twin_id, doc_id AS orig_id,
           'reencode' AS kind, TRUE AS found
         FROM g WHERE doc_id % 6 = 0 AND abs(2 * ga - 255) >= 64
         UNION ALL
         SELECT doc_id + 4000000, doc_id, 'resize', TRUE
         FROM g WHERE doc_id % 6 = 3 AND abs(2 * ga - 255) >= 64
         ORDER BY twin_id""",
    // Streaming perceptual gate: batch 0 (4k-th PNG assets) admits
    // vacuously and seeds the claim store; batch 1 ((4k+2)-th assets +
    // re-encoded twins of batch 0's high-contrast assets) is judged
    // against exactly the batch-0 fingerprints. The banded multiprobe
    // join is recall-complete at radius 15 by pigeonhole, so the oracle
    // replays it brute-force pairwise with bit_count(xor(..)); the
    // twins' JPEG transcode is dHash-bit-identical on the DCT-aligned
    // checkerboards (spec-asserted over the full asset period).
    "q_image_dedup_stream" ->
      """WITH d0 AS (SELECT doc_id,
             CAST(16 + doc_id % 48 AS BIGINT) AS w,
             CAST(16 + doc_id % 32 AS BIGINT) AS h,
             CAST(28 + (doc_id * 37) % 200 AS BIGINT) AS ga
           FROM documents WHERE doc_id % 2 = 0),
         cells AS (
           SELECT d0.doc_id, c.i, r.j,
             (SELECT SUM(CASE WHEN ((x // 8) + (y // 8)) % 2 = 0
                              THEN d0.ga ELSE 255 - d0.ga END) // COUNT(*)
              FROM (SELECT unnest(range(c.i * d0.w // 9, (c.i + 1) * d0.w // 9)) AS x) xs,
                   (SELECT unnest(range(r.j * d0.h // 8, (r.j + 1) * d0.h // 8)) AS y) ys) AS px
           FROM d0,
             LATERAL (SELECT unnest(range(9)) AS i) c,
             LATERAL (SELECT unnest(range(8)) AS j) r),
         bits AS (
           SELECT a.doc_id, CAST(a.j * 8 + a.i AS INT) AS bi
           FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
           WHERE a.i < 8 AND b.px > a.px),
         dh AS (SELECT d0.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS dhash
           FROM d0 LEFT JOIN bits b USING (doc_id) GROUP BY d0.doc_id),
         b0 AS (SELECT doc_id, dhash FROM dh WHERE doc_id % 4 = 0),
         inc AS (
           SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, dhash
           FROM dh WHERE doc_id % 4 = 2
           UNION ALL
           SELECT dh.doc_id + 3000000, dh.doc_id, 'reencode', dh.dhash
           FROM dh JOIN d0 USING (doc_id)
           WHERE dh.doc_id % 4 = 0 AND dh.doc_id % 6 = 0
             AND abs(2 * d0.ga - 255) >= 64),
         m AS (SELECT inc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(b0.doc_id) AS min_match
           FROM inc JOIN b0 ON bit_count(xor(inc.dhash, b0.dhash)) <= 15
           GROUP BY inc.doc_id)
         SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
           CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
         FROM b0
         UNION ALL
         SELECT inc.doc_id, inc.orig_id, inc.kind, m.doc_id IS NULL AS admitted,
           COALESCE(m.n_matches, 0) AS n_matches,
           COALESCE(m.min_match, -1) AS min_match
         FROM inc LEFT JOIN m ON m.doc_id = inc.doc_id
         ORDER BY doc_id""",
    // Audio modality through the streaming gate: batch 0 = even-id
    // assets (seed the store vacuously); batch 1 = odd-id assets plus
    // 2x-gain twins of the (6k+4)-th assets, judged against exactly the
    // batch-0 loudness hashes. The hash is replayable for every asset
    // and the gain twin's hash is bit-identical, so the oracle replays
    // brute-force pairwise at the verify radius 7.
    "q_audio_dedup_stream" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c),
         ah AS (SELECT d.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
           FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
         b0 AS (SELECT doc_id, ahash FROM ah WHERE doc_id % 2 = 0),
         inc AS (
           SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, ahash
           FROM ah WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 5000000, doc_id, 'gain', ahash
           FROM ah WHERE doc_id % 6 = 4),
         m AS (SELECT inc.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(b0.doc_id) AS min_match
           FROM inc JOIN b0 ON bit_count(xor(inc.ahash, b0.ahash)) <= 7
           GROUP BY inc.doc_id)
         SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
           CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
         FROM b0
         UNION ALL
         SELECT inc.doc_id, inc.orig_id, inc.kind, m.doc_id IS NULL AS admitted,
           COALESCE(m.n_matches, 0) AS n_matches,
           COALESCE(m.min_match, -1) AS min_match
         FROM inc LEFT JOIN m ON m.doc_id = inc.doc_id
         ORDER BY doc_id""",
    // Perceptual audio fingerprint: the codec decodes real RIFF bytes
    // and hashes the magnitude-bucket histogram's gradient signs; the
    // oracle replays the identical integer arithmetic per sample
    // (WAV/PCM16 is lossless, so the hash matches bit for bit; bit 63
    // is summed as its signed value — DuckDB errors on 1<<63).
    "q_audio_fingerprint" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c)
         SELECT d.doc_id,
           COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                  ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
         FROM d LEFT JOIN bits b USING (doc_id)
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    // Perceptual audio dedup recall gate: planted 2x-volume and
    // 4-sample-silence-lead-in twins must surface their original through
    // the banded Hamming join. The oracle replays the planting
    // arithmetic; found is structurally TRUE (gain cancels exactly in
    // the integer bucket rational -> Hamming 0; padded zeros move only
    // bucket 0's count -> Hamming <= 1; either leaves >= 7 of 8 bands
    // exact, and the verify radius is 7).
    "q_audio_dedup" ->
      """SELECT doc_id + 5000000 AS twin_id, doc_id AS orig_id,
           'gain' AS kind, TRUE AS found
         FROM documents WHERE doc_id % 6 = 1
         UNION ALL
         SELECT doc_id + 6000000, doc_id, 'pad', TRUE
         FROM documents WHERE doc_id % 6 = 4
         ORDER BY twin_id""",
    // Perceptual video fingerprint: the codec decodes real animated-GIF
    // frames and chains the collapsed frame-luminance deltas through the
    // manifest md5 fold; the oracle replays the per-frame generator
    // arithmetic (consecutive synth grays never repeat — 29 is not a
    // multiple of 224 — so the collapse is the identity on originals).
    "q_video_fingerprint" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
         g AS (SELECT d.doc_id, f.f, 16 + (d.doc_id * 13 + f.f * 29) % 224 AS gray
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS f) f),
         dl AS (SELECT a.doc_id, a.f, CAST(b.gray - a.gray AS VARCHAR) AS delta
           FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.f = a.f + 1)
         SELECT doc_id, list_reduce(list_prepend('', list(delta ORDER BY f)),
           (acc, x) -> md5(acc || ',' || x)) AS vhash
         FROM dl GROUP BY doc_id ORDER BY doc_id""",
    // Perceptual video dedup recall gate: planted 2x-frame-rate,
    // +8-luminance, and 2x-rescale twins must surface their original
    // through the signature equi-join. found is structurally TRUE
    // (duplicated frames collapse away, the lift cancels in the deltas,
    // the rescale leaves the solid frame's probe pixel untouched).
    "q_video_dedup" ->
      """SELECT doc_id + 7000000 AS twin_id, doc_id AS orig_id,
           'fps' AS kind, TRUE AS found
         FROM documents WHERE doc_id % 6 = 2
         UNION ALL
         SELECT doc_id + 8000000, doc_id, 'bright', TRUE
         FROM documents WHERE doc_id % 6 = 5
         UNION ALL
         SELECT doc_id + 9000000, doc_id, 'scale', TRUE
         FROM documents WHERE doc_id % 6 = 0
         ORDER BY twin_id""",
    // Video twin: Spark encodes a REAL animated GIF per doc and decodes
    // every stride-2 frame back out of the container; the oracle replays
    // the generator arithmetic with a strided unnest(range).
    "q_video_frames" ->
      """SELECT d.doc_id, f.f AS frame_idx,
           CAST(16 + d.doc_id % 16 AS INT) AS width,
           CAST(12 + d.doc_id % 12 AS INT) AS height,
           CAST(16 + (d.doc_id * 13 + f.f * 29) % 224 AS INT) AS gray
         FROM documents d, LATERAL (
           SELECT unnest(range(0, 3 + d.doc_id % 5, 2)) AS f) f
         ORDER BY d.doc_id, frame_idx""",
    "q_feast_features" ->
      """SELECT 'feast' AS database_name, 'main' AS cluster, project,
           feature_table, col_name, col_type, sort_order
         FROM (
           SELECT r_name AS project, 'ft_' || lower(n_name) AS feature_table,
             lower(n_name) || '_id' AS col_name, 'INT64' AS col_type,
             CAST(0 AS BIGINT) AS sort_order
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT r_name, 'ft_' || lower(n_name), 'f_s' || s_suppkey, 'DOUBLE',
             CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey)
               AS BIGINT)
           FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
         ) ORDER BY project, feature_table, sort_order""",
    "q_xml_users" ->
      """SELECT 's' || s_suppkey || '@corp' AS email,
           'F' || s_suppkey AS first_name, 'L' || s_suppkey AS last_name,
           s_name AS name, n_name AS team_name,
           CASE WHEN s_suppkey % 2 = 0 THEN 'supplier' ELSE '' END AS role_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         ORDER BY email""",
    // Fetch-configured extractor gates: the fixture payloads are built
    // from the same key expressions these oracles recompute (the planted
    // bad timestamp at key % 97 = 0 exercises 0-on-parse-failure).
    "q_mode_dashboards" ->
      """WITH c AS (
           SELECT c_custkey AS ck, c_name, c_mktsegment, n_regionkey AS rk
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_custkey % 5 = 0)
         SELECT r_name AS dashboard_group, c_name AS dashboard_name,
           c_mktsegment AS description, 'gold' AS cluster, 'mode' AS product,
           'space ' || r_name AS dashboard_group_description,
           CASE WHEN ck % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + ck % 12, 1 + ck % 28,
               ck % 24, ck % 60, (ck * 7) % 60))::BIGINT END AS created_timestamp,
           'https://app.mode.com/graft/reports/rep' || ck AS dashboard_url,
           'https://app.mode.com/graft/spaces/sp' || rk AS group_url
         FROM c JOIN region ON rk = r_regionkey
         ORDER BY dashboard_url""",
    "q_redash_dashboards" ->
      """SELECT 'Redash' AS dashboard_group, 'redash' AS dashboard_group_id,
           'https://redash.example' AS dashboard_group_url,
           CAST(n_nationkey AS VARCHAR) AS dashboard_id,
           n_name AS dashboard_name,
           'https://redash.example/dashboards/' || n_nationkey AS dashboard_url,
           CASE WHEN n_nationkey % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + n_nationkey % 12, 1 + n_nationkey % 28,
               n_nationkey % 24, n_nationkey % 60, (n_nationkey * 7) % 60))::BIGINT
             END AS created_timestamp,
           CASE WHEN (n_nationkey + 7) % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + (n_nationkey + 7) % 12,
               1 + (n_nationkey + 7) % 28, (n_nationkey + 7) % 24,
               (n_nationkey + 7) % 60, ((n_nationkey + 7) * 7) % 60))::BIGINT
             END AS last_modified_timestamp,
           'u' || n_nationkey || '@corp' AS owner_email,
           'prod' AS cluster, 'redash' AS product
         FROM nation
         WHERE NOT (n_nationkey % 5 = 0 OR n_nationkey % 7 = 0)
         ORDER BY dashboard_id""",
    "q_tableau_dashboards" ->
      """SELECT n_name AS dashboard_group,
           'W' || s_name || 's' AS dashboard_name,
           'wb ' || s_name AS description,
           'gold' AS cluster, 'tableau' AS product,
           CASE WHEN s_suppkey % 97 = 0 THEN CAST(0 AS BIGINT)
             ELSE epoch(make_timestamp(2023, 1 + s_suppkey % 12, 1 + s_suppkey % 28,
               s_suppkey % 24, s_suppkey % 60, (s_suppkey * 7) % 60))::BIGINT
             END AS created_timestamp,
           'https://tableau.example/#/site/graft/workbooks/v' || s_suppkey
             || '/views' AS dashboard_url,
           'https://tableau.example/#/site/graft/projects/p' || n_nationkey AS group_url
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey % 11 <> 0
           AND n_name NOT IN (SELECT n_name FROM nation WHERE n_regionkey = 0)
         ORDER BY dashboard_url""",
    "q_atlas_table_docs" ->
      """WITH colagg AS (
           SELECT s_nationkey AS nk,
             string_agg('col_' || s_suppkey, '|' ORDER BY 'col_' || s_suppkey)
               FILTER (WHERE s_suppkey % 3 <> 0 AND s_suppkey % 13 <> 0) AS cn,
             string_agg('dc ' || s_suppkey, '|' ORDER BY 'dc ' || s_suppkey)
               FILTER (WHERE s_suppkey % 3 <> 0 AND s_suppkey % 13 <> 0
                 AND s_suppkey % 4 <> 0) AS cd
           FROM supplier GROUP BY s_nationkey)
         SELECT 'Table' AS database,
           'cl' || n_regionkey AS cluster,
           r_name AS "schema",
           n_name AS name,
           'db_' || lower(n_name) || '@cl' || n_regionkey AS key,
           'nation ' || n_name AS description,
           CAST(n_nationkey * 1000 AS BIGINT) AS last_updated_timestamp,
           CAST(n_nationkey AS BIGINT) AS total_usage,
           CAST(CASE WHEN n_nationkey % 6 = 0 THEN 1
             ELSE n_nationkey * 2 END AS BIGINT) AS unique_usage,
           coalesce(c.cn, '') AS column_names,
           coalesce(c.cd, '') AS column_descriptions,
           'tag' || n_nationkey || 'a' AS tags,
           CASE WHEN n_nationkey % 2 = 0 THEN 'pii' ELSE '' END AS badges,
           'db_' || lower(n_name) AS display_name,
           'src ' || n_name AS schema_description,
           'note ' || n_nationkey || '|src ' || n_name AS programmatic_descriptions
         FROM nation JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN colagg c ON n_nationkey = c.nk
         ORDER BY key""",
    // Catalog sources: the view/table fixtures are derived from `region`
    // and `orders`, so the catalog walk's output is relationally checkable.
    "q_catalog_tables" ->
      """SELECT 'session' AS table_schema,
           'gcat_' || regexp_replace(lower(r_name), '[^a-z0-9]', '_', 'g') AS table_name,
           true AS is_view, c.col_name, c.col_type, c.sort_order
         FROM region, (VALUES
           ('nation_id', 'bigint', CAST(0 AS BIGINT)),
           ('nation_name', 'string', CAST(1 AS BIGINT))) AS c(col_name, col_type, sort_order)
         ORDER BY table_name, sort_order""",
    "q_catalog_last_updated" ->
      """SELECT 'spark://local.default/gcatlu_' ||
           CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS table_key,
           epoch(date_trunc('day', max(o_orderdate)))::BIGINT AS last_updated
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_es_last_updated" ->
      """SELECT epoch(date_trunc('day', max(o_orderdate)))::BIGINT AS "timestamp"
         FROM orders""",
    "q_generic_records" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS region_id, r_name AS region_name
         FROM region ORDER BY region_id""",
    // REST fetch loop: pages of 3 per region; region 4 is the planted
    // permanent 404 the skip handler drops; page = position within the
    // region's nations ordered by key.
    "q_rest_fetch_pages" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS r_regionkey,
           CAST(((ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey)
             - 1) // 3) + 1 AS INT) AS page,
           CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
         FROM nation WHERE n_regionkey <> 4
         ORDER BY n_nationkey""",
    // Distributed fetch: nk % 7 = 0 is the permanent 404 (null payload);
    // the nk % 5 = 3 transient 503 must have been retried to 200.
    "q_rest_fetch_distributed" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           CASE WHEN n_nationkey % 7 = 0 THEN 404 ELSE 200 END AS status,
           CASE WHEN n_nationkey % 7 = 0 THEN NULL ELSE n_name END AS fetched_name
         FROM nation ORDER BY n_nationkey""",
    // Pipeline launch: None-drop filter, template key, per-role fan-out,
    // field removal — read back from the published CURRENT generation.
    "q_pipeline_e2e" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           'tpch://' || n_name || '/' || c_name AS key, role, c_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         CROSS JOIN (SELECT 'owner' AS role UNION ALL SELECT 'reader') roles
         WHERE c_acctbal >= 0
         ORDER BY c_custkey, role""",
    // Watermark model: low/high partition bounds per table, part_name
    // "col=value" parsed back into partition key/value (watermark.py:43-49).
    "q_watermark_parse" ->
      """WITH b AS (
           SELECT o_custkey, strftime(MIN(o_orderdate), '%Y-%m-%d') AS lo,
             strftime(MAX(o_orderdate), '%Y-%m-%d') AS hi
           FROM orders GROUP BY o_custkey),
         p AS (
           SELECT c_custkey, r_name AS cluster, n_name AS sch, c_name AS tbl
           FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey),
         w AS (
           SELECT cluster, sch, tbl, 'low_watermark' AS pt, lo AS v
           FROM b JOIN p ON o_custkey = c_custkey
           UNION ALL
           SELECT cluster, sch, tbl, 'high_watermark', hi
           FROM b JOIN p ON o_custkey = c_custkey)
         SELECT 'tpch://' || cluster || '.' || sch || '/' || tbl || '/' || pt || '/' AS key,
           'o_orderdate' AS partition_key, v AS partition_value, v AS create_time
         FROM w ORDER BY key""",
    // TF-IDF rank keys are integer-only (tf DESC, doc_freq ASC, token) so
    // the top-k selection is floating-point-free; the score is informational
    // and rounded to 6 dp on both sides (ln = natural log in DuckDB).
    "q_tfidf_topk" ->
      """WITH x AS (SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS token
           FROM documents),
         df AS (SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM x GROUP BY token),
         n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         tf AS (SELECT lang, token, COUNT(*) AS tf FROM x GROUP BY lang, token),
         s AS (SELECT lang, token, tf, doc_freq,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY tf DESC, doc_freq ASC, token) AS rk
           FROM tf JOIN df USING (token))
         SELECT lang, rk, token, tf, doc_freq,
           round(CAST(tf AS DOUBLE)
             * ln(CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE)), 6) AS tfidf
         FROM s, n WHERE rk <= 5 ORDER BY lang, rk""",
    // Exact interpolated quantiles: Spark percentile() and DuckDB
    // quantile_cont both linearly interpolate at (n-1)*q.
    "q_length_quantiles" ->
      """WITH q AS (
           SELECT lang, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
             MAX(n_chars) AS max_chars,
             quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS q
           FROM documents GROUP BY lang)
         SELECT lang, n_docs, min_chars, max_chars,
           q[1] AS p25, q[2] AS p50, q[3] AS p75
         FROM q ORDER BY lang""",
    // Sketch twin: exact quantiles replayed relationally; within_eps is
    // Spark's own rank-bracket check of the GK sketch against the exact
    // sorted group — the oracle expects it TRUE on every row.
    "q_length_quantiles_approx" ->
      """WITH q AS (
           SELECT lang, COUNT(*) AS n_docs,
             quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS q
           FROM documents GROUP BY lang)
         SELECT lang, n_docs, q[1] AS p25, q[2] AS p50, q[3] AS p75,
           TRUE AS within_eps
         FROM q ORDER BY lang""",
    // Decontamination: the eval set is a 200-char excerpt of every 50th
    // document, so both engines rebuild it deterministically; overlap is
    // counted on distinct word 5-grams.
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM t),
         ev AS (SELECT doc_id + 2000000 AS eval_id,
             list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT eval_id, unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM s),
         hits AS (SELECT doc_id, COUNT(DISTINCT g) AS n_overlap,
             COUNT(DISTINCT eval_id) AS n_eval_docs
           FROM cg JOIN es USING (g) GROUP BY doc_id)
         SELECT s.doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
           COALESCE(n_overlap, 0) AS n_overlap,
           COALESCE(n_eval_docs, 0) AS n_eval_docs,
           CAST(COALESCE(n_overlap, 0) AS DOUBLE) / CAST(len(sh) AS DOUBLE) AS overlap_frac,
           COALESCE(n_overlap, 0) >= 8 AS contaminated
         FROM s LEFT JOIN hits USING (doc_id)
         WHERE len(sh) > 0
         ORDER BY doc_id""",
    // Bloom-prefiltered decontamination twin: the bloom is only a
    // prefilter (exact join verifies), so the oracle is the exact
    // relational recomputation restricted to docs with >=1 hit.
    "q_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (SELECT doc_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM t),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM s)
         SELECT doc_id, CAST(COUNT(DISTINCT cg.g) AS BIGINT) AS n_overlap,
           COUNT(DISTINCT cg.g) >= 8 AS contaminated
         FROM cg JOIN es USING (g) GROUP BY doc_id ORDER BY doc_id""",
    // Surgical decontamination: positional 5-gram hits merged into
    // maximal excision spans by the gaps-and-islands fold.
    "q_decontaminate_spans" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         p AS (SELECT doc_id, i - 1 AS i,
             array_to_string(toks[i:i+4], ' ') AS g
           FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
           WHERE len(toks) >= 5),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         h AS (SELECT DISTINCT doc_id, i FROM p JOIN es USING (g)),
         w AS (SELECT doc_id, i,
             MAX(i + 4) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           FROM h),
         f AS (SELECT doc_id, i,
             CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END AS flag
           FROM w),
         isl AS (SELECT doc_id, i,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS island
           FROM f)
         SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
           CAST(MAX(i) + 4 AS BIGINT) AS span_end,
           CAST(MAX(i) + 4 - MIN(i) + 1 AS BIGINT) AS n_tokens_removed
         FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    // Asymmetric containment dedup: distinct-5-gram containment of the
    // token-aligned fragment (tokens 5..44 of every 10th doc) in each
    // candidate source, exact integer ppm. Shingles in more than 256
    // source docs are dropped before the join (the DF hot-key cap) —
    // replayed here so the gate covers the capped semantics.
    "q_containment_dedup" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         cs AS (SELECT doc_id AS src_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM t),
         fr AS (SELECT doc_id + 3000000 AS frag_id, toks[5:44] AS toks
           FROM t WHERE doc_id % 10 = 0),
         fs AS (SELECT frag_id,
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END AS sh
           FROM fr),
         fg AS (SELECT frag_id, CAST(len(sh) AS BIGINT) AS n_frag, unnest(sh) AS g FROM fs),
         cg AS (SELECT src_id, unnest(sh) AS g FROM cs),
         cold AS (SELECT src_id, g FROM cg
           WHERE g NOT IN (SELECT g FROM cg GROUP BY g HAVING COUNT(*) > 256)),
         p AS (SELECT frag_id, n_frag, src_id,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_shared
           FROM fg JOIN cold USING (g) GROUP BY frag_id, n_frag, src_id)
         SELECT frag_id, src_id, n_shared, n_frag,
           n_shared * 1000000 // n_frag AS containment_ppm,
           (n_shared * 1000000 // n_frag) >= 600000 AS contained
         FROM p WHERE n_shared >= 3 ORDER BY frag_id, src_id""",
    // HLL++ distinct-count sketch: exact counts replayed relationally;
    // within_eps is Spark's own 5-sigma self-check of the sketch — the
    // oracle expects TRUE on every row.
    "q_distinct_sketch" ->
      """WITH t AS (SELECT lang,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
           FROM documents)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
           TRUE AS within_eps
         FROM t GROUP BY lang ORDER BY lang""",
    // Count-min frequency gate: exact top-30 counts replayed
    // relationally (deterministic count-desc/token-asc tie-break); the
    // two bound bits are the CMS contract — the oracle expects TRUE.
    "q_cms_freq" ->
      """WITH t AS (SELECT
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
           FROM t GROUP BY token
           ORDER BY n_exact DESC, token ASC LIMIT 30)
         SELECT token, n_exact, TRUE AS never_undercounts, TRUE AS within_eps
         FROM c ORDER BY n_exact DESC, token ASC""",
    // Sketch merge parity: exact counts replayed relationally; the
    // merge_exact and within_eps bits are Spark's own gates (register-max
    // union == direct build; estimate within 5-sigma of truth) — the
    // oracle expects both TRUE.
    "q_sketch_merge" ->
      """WITH t AS (SELECT lang,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
           FROM documents)
         SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
           TRUE AS merge_exact, TRUE AS within_eps
         FROM t GROUP BY lang ORDER BY lang""",
    // Deterministic global training-order shuffle: rank of md5(doc_id)
    // with doc_id tiebreak; shard = pos mod 8 (round-robin).
    "q_corpus_shuffle" ->
      """WITH t AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           CAST(pos % 8 AS BIGINT) AS shard
         FROM t ORDER BY doc_id""",
    // Epoch re-shuffle manifests: shard = store order (pos % 4); within
    // a shard epoch e visits docs by md5(doc_id || ':' || e) (epoch 0 =
    // md5(doc_id), the store's own order); digest = the md5 chain.
    "q_epoch_order" ->
      """WITH r AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents),
         e AS (SELECT unnest(range(3)) AS epoch),
         k AS (SELECT r.doc_id, r.pos % 4 AS shard, e.epoch,
             md5(CAST(r.doc_id AS VARCHAR) ||
               CASE WHEN e.epoch = 0 THEN ''
                    ELSE ':' || CAST(e.epoch AS VARCHAR) END) AS ek
           FROM r, e)
         SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY ek, doc_id)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM k GROUP BY 1, 2 ORDER BY epoch, shard""",
    // Incremental shuffle extension: existing docs keep their standalone
    // ranks; arrivals rank among themselves offset by the old count.
    "q_shard_upsert" ->
      """WITH old AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents WHERE doc_id % 5 <> 0),
         n AS (SELECT COUNT(*) AS n_old FROM documents WHERE doc_id % 5 <> 0),
         nw AS (SELECT doc_id,
             (SELECT n_old FROM n) +
               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents WHERE doc_id % 5 = 0),
         u AS (SELECT doc_id, pos, FALSE AS is_new FROM old
           UNION ALL SELECT doc_id, pos, TRUE AS is_new FROM nw)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           CAST(pos % 8 AS BIGINT) AS shard, is_new
         FROM u ORDER BY doc_id""",
    // Curated-store manifest: the full composition replayed — curation
    // CTEs -> survivor ranking by md5(doc_id) -> pos%4 shards -> every
    // manifest field including the order digest.
    "q_curated_store" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)
               AND cont.doc_id IS NULL) AS r3
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         surv AS (SELECT doc_id, n_words,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE r3),
         sh2 AS (SELECT doc_id, n_words, pos, pos % 4 AS shard FROM surv)
         SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM sh2 GROUP BY shard ORDER BY shard""",
    // Curriculum store: the same survivors laid out QUALITY-DESCENDING
    // (hashed-feature logit replayed in integer ppm, doc_id tie-break)
    // instead of md5-shuffled, folded to the same manifest fields.
    "q_curriculum_store" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)
               AND cont.doc_id IS NULL) AS r3
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         q AS (SELECT t.doc_id,
             CAST(list_sum(list_transform(t.words, w ->
               ((CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 64)
                 * 2654435761) % 2001 - 1000)) AS BIGINT) AS logit_scaled,
             CAST(len(t.words) AS BIGINT) AS n_toks
           FROM t WHERE len(t.words) > 0),
         surv AS (SELECT fl.doc_id, fl.n_words,
             row_number() OVER (
               ORDER BY -(q.logit_scaled * 1000 // q.n_toks), fl.doc_id) - 1 AS pos
           FROM fl JOIN q ON q.doc_id = fl.doc_id WHERE fl.r3)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM surv GROUP BY 1 ORDER BY shard""",
    // Shard-store manifest: every field recomputed from the raw corpus —
    // the order_digest (an md5 CHAIN over the pos-ordered doc ids, O(1)
    // fold state on the Spark side) gates the store's doc sequence.
    "q_shard_store" ->
      """WITH t AS (SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM documents)
         SELECT CAST(pos % 8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM t GROUP BY 1 ORDER BY shard""",
    // Streaming curation gate: deterministic in the fixed arrival order
    // (even doc_ids then odd), so the class winner minimizes
    // (batch index, doc_id) — encoded as parity*1e9 + doc_id.
    "q_curation_stream" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         w AS (SELECT doc_id, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.keep_quality,
             (w.keep_quality AND w.wk <>
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)) AS is_dup,
             (cont.doc_id IS NOT NULL) AS is_contaminated
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id)
         SELECT doc_id, keep_quality, is_dup, is_contaminated,
           (keep_quality AND NOT is_dup AND NOT is_contaminated) AS admitted
         FROM fl ORDER BY doc_id""",
    // Streaming cross-modal gate: the text stream CTE chain composed
    // with both media property gates (generator arithmetic; px_ok is
    // codec-guaranteed) and the perceptual audio claim store replayed
    // in arrival order — batch 0 (even ids) claims every loudness hash
    // against an empty store, batch 1 (odd ids) is judged against
    // exactly those fingerprints, brute-force pairwise at radius 7.
    // Per-batch stream funnel: the mm stream chain per parity batch,
    // folded into the 8-stage drop-accounting (text chain, three media
    // property gates, perceptual novelty) — counts and token sums.
    "q_curation_stream_funnel" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c),
         ah AS (SELECT d.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
           FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
         med AS (SELECT documents.doc_id,
             (16 + documents.doc_id % 48 >= 32
               AND 16 + documents.doc_id % 32 >= 24) AS img_ok,
             ((64 + documents.doc_id % 128) * 1000000 // 8000 >= 12000
               AND pk.peak >= 200) AS audio_ok,
             (documents.doc_id % 5 >= 1 AND documents.doc_id % 16 >= 4
               AND documents.doc_id % 12 >= 4) AS video_ok
           FROM documents JOIN pk ON pk.doc_id = documents.doc_id),
         mdup AS (SELECT o.doc_id FROM ah o JOIN ah e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
               AND bit_count(xor(o.ahash, e.ahash)) <= 7
           GROUP BY o.doc_id),
         vsig AS (SELECT doc_id, array_to_string(
             list_transform(range(0, 2 + doc_id % 5),
               f -> ((doc_id * 13 + (f + 1) * 29) % 224)
                  - ((doc_id * 13 + f * 29) % 224)), ',') AS sig
           FROM documents),
         vdup AS (SELECT o.doc_id FROM vsig o JOIN vsig e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0 AND o.sig = e.sig
           GROUP BY o.doc_id),
         w AS (SELECT doc_id, n_words, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.n_words, w.keep_quality,
             (w.keep_quality AND w.wk <>
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)) AS is_dup,
             (cont.doc_id IS NOT NULL) AS is_contaminated
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id),
         base AS (SELECT fl.doc_id % 2 AS batch_id, fl.n_words,
             fl.keep_quality AS r1,
             (fl.keep_quality AND NOT fl.is_dup) AS r2,
             (fl.keep_quality AND NOT fl.is_dup AND NOT fl.is_contaminated) AS r3,
             med.img_ok, med.audio_ok, med.video_ok,
             (mdup.doc_id IS NOT NULL) AS media_dup,
             (vdup.doc_id IS NOT NULL) AS video_dup
           FROM fl
           JOIN med ON med.doc_id = fl.doc_id
           LEFT JOIN mdup ON mdup.doc_id = fl.doc_id
           LEFT JOIN vdup ON vdup.doc_id = fl.doc_id),
         st AS (SELECT batch_id, n_words, r1, r2, r3,
             (r3 AND img_ok) AS s4,
             (r3 AND img_ok AND audio_ok) AS s5,
             (r3 AND img_ok AND audio_ok AND video_ok) AS s6,
             (r3 AND img_ok AND audio_ok AND video_ok
               AND NOT media_dup AND NOT video_dup) AS s7
           FROM base),
         agg AS (SELECT batch_id,
             CAST(COUNT(*) AS BIGINT) AS d0, CAST(SUM(n_words) AS BIGINT) AS t0,
             CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN r1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN r2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN r3 THEN n_words ELSE 0 END) AS BIGINT) AS t3,
             CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(SUM(CASE WHEN s4 THEN n_words ELSE 0 END) AS BIGINT) AS t4,
             CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS d5,
             CAST(SUM(CASE WHEN s5 THEN n_words ELSE 0 END) AS BIGINT) AS t5,
             CAST(SUM(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT) AS d6,
             CAST(SUM(CASE WHEN s6 THEN n_words ELSE 0 END) AS BIGINT) AS t6,
             CAST(SUM(CASE WHEN s7 THEN 1 ELSE 0 END) AS BIGINT) AS d7,
             CAST(SUM(CASE WHEN s7 THEN n_words ELSE 0 END) AS BIGINT) AS t7
           FROM st GROUP BY batch_id)
         SELECT CAST(batch_id AS BIGINT) AS batch_id, stage, n_docs, n_tokens FROM (
           SELECT batch_id, '00_ingest' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
           UNION ALL SELECT batch_id, '01_quality', d1, t1 FROM agg
           UNION ALL SELECT batch_id, '02_dedup', d2, t2 FROM agg
           UNION ALL SELECT batch_id, '03_decontam', d3, t3 FROM agg
           UNION ALL SELECT batch_id, '04_media_image', d4, t4 FROM agg
           UNION ALL SELECT batch_id, '05_media_audio', d5, t5 FROM agg
           UNION ALL SELECT batch_id, '06_media_video', d6, t6 FROM agg
           UNION ALL SELECT batch_id, '07_media_novel', d7, t7 FROM agg)
         ORDER BY batch_id, stage""",
    // Retention through the gate: batch-1 verdicts replay pairwise
    // against the evens; the post-sweep store is exactly the batch-1
    // ADMITTED odd hashes; twin verdicts replay pairwise against that
    // surviving set (gain twins carry their parent's loudness hash).
    "q_audio_claim_retention" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c),
         ah AS (SELECT d.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
           FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
         b0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
         b1 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
         m1 AS (SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(e.doc_id) AS min_match
           FROM b1 o, b0 e, ah ao, ah ae
           WHERE ao.doc_id = o.doc_id AND ae.doc_id = e.doc_id
             AND bit_count(xor(ao.ahash, ae.ahash)) <= 7
           GROUP BY o.doc_id),
         b1adm AS (SELECT b1.doc_id FROM b1
           LEFT JOIN m1 ON m1.doc_id = b1.doc_id WHERE m1.doc_id IS NULL),
         t AS (SELECT doc_id + 5000000 AS doc_id, doc_id AS orig_id
             FROM documents WHERE doc_id % 6 = 4
           UNION ALL
           SELECT doc_id + 7000000, doc_id
             FROM documents WHERE doc_id % 6 = 3),
         m2 AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             MIN(q.doc_id) AS min_match
           FROM t, b1adm q, ah ap, ah aq
           WHERE ap.doc_id = t.orig_id AND aq.doc_id = q.doc_id
             AND bit_count(xor(ap.ahash, aq.ahash)) <= 7
           GROUP BY t.doc_id)
         SELECT doc_id, orig_id, kind, admitted, n_matches, min_match FROM (
           SELECT doc_id, doc_id AS orig_id, 'orig' AS kind, TRUE AS admitted,
             CAST(0 AS BIGINT) AS n_matches, CAST(-1 AS BIGINT) AS min_match
           FROM b0
           UNION ALL
           SELECT b1.doc_id, b1.doc_id, 'orig', m1.doc_id IS NULL,
             COALESCE(m1.n_matches, 0), COALESCE(m1.min_match, -1)
           FROM b1 LEFT JOIN m1 ON m1.doc_id = b1.doc_id
           UNION ALL
           SELECT t.doc_id, t.orig_id, 'gain', m2.doc_id IS NULL,
             COALESCE(m2.n_matches, 0), COALESCE(m2.min_match, -1)
           FROM t LEFT JOIN m2 ON m2.doc_id = t.doc_id)
         ORDER BY doc_id""",
    // Retention sweep: epoch = doc parity; the sweep keeps epoch >= 1,
    // so a class only even docs carry loses every claim (re-admits) and
    // a class any odd doc carries keeps exactly its epoch-1 claim.
    "q_claim_retention" ->
      """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
         agg AS (SELECT fp,
             MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS has0,
             MAX(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS has1
           FROM f GROUP BY fp)
         SELECT fp, CAST(has0 + has1 AS BIGINT) AS n_claims_before,
           CAST(has1 AS BIGINT) AS n_claims_after,
           (has1 = 0) AS re_admits
         FROM agg ORDER BY fp""",
    // Retention through the TEXT gate: batch 0 (evens) windows against
    // an empty store, batch 1 (odds) against the even claim set c1, the
    // sweep leaves exactly the classes batch 1 claimed (c2 = quality
    // odds whose class no quality even holds), and the twin run windows
    // against c2 alone — an aged-out class re-admits via its first twin.
    "q_curation_claim_retention" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         w0 AS (SELECT doc_id, fp, keep_quality FROM f WHERE doc_id % 2 = 0),
         v0 AS (SELECT doc_id, doc_id AS cdoc, keep_quality,
             (keep_quality AND doc_id <>
               MIN(CASE WHEN keep_quality THEN doc_id END)
                 OVER (PARTITION BY fp)) AS is_dup
           FROM w0),
         c1 AS (SELECT DISTINCT fp FROM w0 WHERE keep_quality),
         w1 AS (SELECT doc_id, fp, keep_quality FROM f WHERE doc_id % 2 = 1),
         v1 AS (SELECT w1.doc_id, w1.doc_id AS cdoc, w1.keep_quality,
             (w1.keep_quality AND (c1.fp IS NOT NULL OR w1.doc_id <>
               MIN(CASE WHEN w1.keep_quality THEN w1.doc_id END)
                 OVER (PARTITION BY w1.fp))) AS is_dup
           FROM w1 LEFT JOIN c1 ON w1.fp = c1.fp),
         c2 AS (SELECT DISTINCT w1.fp FROM w1 LEFT JOIN c1 ON w1.fp = c1.fp
           WHERE w1.keep_quality AND c1.fp IS NULL),
         tw AS (SELECT doc_id + 5000000 AS doc_id, doc_id AS parent
             FROM documents WHERE doc_id % 6 = 4
           UNION ALL
           SELECT doc_id + 7000000, doc_id
             FROM documents WHERE doc_id % 6 = 3),
         wt AS (SELECT tw.doc_id, f.fp, f.keep_quality, tw.parent
           FROM tw JOIN f ON f.doc_id = tw.parent),
         v2 AS (SELECT wt.doc_id, wt.parent AS cdoc, wt.keep_quality,
             (wt.keep_quality AND (c2.fp IS NOT NULL OR wt.doc_id <>
               MIN(CASE WHEN wt.keep_quality THEN wt.doc_id END)
                 OVER (PARTITION BY wt.fp))) AS is_dup
           FROM wt LEFT JOIN c2 ON wt.fp = c2.fp),
         base AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
           UNION ALL SELECT * FROM v2)
         SELECT base.doc_id, base.keep_quality, base.is_dup,
           (cont.doc_id IS NOT NULL) AS is_contaminated,
           (base.keep_quality AND NOT base.is_dup
             AND cont.doc_id IS NULL) AS admitted
         FROM base LEFT JOIN cont ON base.cdoc = cont.doc_id
         ORDER BY base.doc_id""",
    "q_curation_multimodal_stream" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         w AS (SELECT doc_id, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.keep_quality,
             (w.keep_quality AND w.wk <>
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)) AS is_dup,
             (cont.doc_id IS NOT NULL) AS is_contaminated
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id),
         d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c),
         ah AS (SELECT d.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
           FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
         med AS (SELECT documents.doc_id,
             (16 + documents.doc_id % 48 >= 32
               AND 16 + documents.doc_id % 32 >= 24) AS img_ok,
             ((64 + documents.doc_id % 128) * 1000000 // 8000 >= 12000
               AND pk.peak >= 200) AS audio_ok,
             (documents.doc_id % 5 >= 1 AND documents.doc_id % 16 >= 4
               AND documents.doc_id % 12 >= 4) AS video_ok
           FROM documents JOIN pk ON pk.doc_id = documents.doc_id),
         mdup AS (SELECT o.doc_id FROM ah o JOIN ah e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
               AND bit_count(xor(o.ahash, e.ahash)) <= 7
           GROUP BY o.doc_id),
         vsig AS (SELECT doc_id, array_to_string(
             list_transform(range(0, 2 + doc_id % 5),
               f -> ((doc_id * 13 + (f + 1) * 29) % 224)
                  - ((doc_id * 13 + f * 29) % 224)), ',') AS sig
           FROM documents),
         vdup AS (SELECT o.doc_id FROM vsig o JOIN vsig e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0 AND o.sig = e.sig
           GROUP BY o.doc_id)
         SELECT fl.doc_id, fl.keep_quality, fl.is_dup, fl.is_contaminated,
           med.img_ok, med.audio_ok,
           (mdup.doc_id IS NOT NULL) AS media_dup,
           med.video_ok,
           (vdup.doc_id IS NOT NULL) AS video_dup,
           (fl.keep_quality AND NOT fl.is_dup AND NOT fl.is_contaminated
             AND med.img_ok AND med.audio_ok
             AND mdup.doc_id IS NULL
             AND med.video_ok AND vdup.doc_id IS NULL) AS admitted
         FROM fl
         JOIN med ON med.doc_id = fl.doc_id
         LEFT JOIN mdup ON mdup.doc_id = fl.doc_id
         LEFT JOIN vdup ON vdup.doc_id = fl.doc_id
         ORDER BY fl.doc_id""",
    // Incremental curated store: the stream gate's admitted set in the
    // fixed arrival order (winner minimizes (batch, doc_id)), then the
    // two-stage tail ranking — batch-0 survivors ranked by md5 order,
    // batch-1 survivors ranked after them — folded to the same 4-shard
    // manifest fields as q_curated_store.
    "q_curated_store_incremental" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         w AS (SELECT doc_id, n_words, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.n_words,
             (w.keep_quality AND w.wk =
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)
               AND cont.doc_id IS NULL) AS admitted
           FROM w LEFT JOIN cont ON w.doc_id = cont.doc_id),
         b0 AS (SELECT doc_id, n_words,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 0),
         b1 AS (SELECT doc_id, n_words,
             (SELECT COUNT(*) FROM b0) +
               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 1),
         u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM u GROUP BY 1 ORDER BY shard""",
    // Mixed curated store: the curation chain's survivors further
    // downsampled by the deterministic md5-uniform language-target
    // admission (the q_domain_mix arithmetic), then the md5 training
    // order and the 4-shard manifest.
    "q_curated_store_mixed" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)
               AND cont.doc_id IS NULL) AS r3
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         ls AS (SELECT doc_id,
           CAST(len(list_filter(words, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS s_en,
           CAST(len(list_filter(words, x -> list_contains(['der','die','das','und','ist'], x))) AS BIGINT) AS s_de,
           CAST(len(list_filter(words, x -> list_contains(['el','la','de','y','es'], x))) AS BIGINT) AS s_es,
           CAST(len(list_filter(words, x -> list_contains(['le','la','et','les','des'], x))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(words, x -> list_contains(['的','是','在'], x))) AS BIGINT) AS s_zh
           FROM t),
         lg AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM ls),
         lang AS (SELECT doc_id,
           CASE WHEN s_en = best AND best > 0 THEN 'en'
                WHEN s_de = best AND best > 0 THEN 'de'
                WHEN s_es = best AND best > 0 THEN 'es'
                WHEN s_fr = best AND best > 0 THEN 'fr'
                WHEN s_zh = best AND best > 0 THEN 'zh'
                ELSE 'unknown' END AS predicted_lang
           FROM lg),
         mix AS (SELECT doc_id FROM (
             SELECT doc_id,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS DOUBLE)
                 / 1000000.0 AS sample_u,
               CASE predicted_lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                    WHEN 'es' THEN 0.8 WHEN 'fr' THEN 0.3 WHEN 'zh' THEN 1.0
                    ELSE 0.1 END AS rate
             FROM lang)
           WHERE sample_u < rate),
         surv AS (SELECT fl.doc_id, fl.n_words,
             row_number() OVER (ORDER BY md5(CAST(fl.doc_id AS VARCHAR)), fl.doc_id) - 1 AS pos
           FROM fl JOIN mix ON mix.doc_id = fl.doc_id
           WHERE fl.r3)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM surv GROUP BY 1 ORDER BY shard""",
    // Incremental MULTIMODAL curated store: the incremental-store chain
    // with the cross-modal stream gate composed into the admitted
    // predicate — property gates from the generator arithmetic, the
    // perceptual claim store as the brute-force odd-vs-even pairwise
    // loudness-hash join, then the two-stage tail ranking and manifest.
    "q_curated_store_multimodal_stream" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         d AS (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         sm AS (SELECT d.doc_id, ABS((d.doc_id * 31 + i.i * 17) % 2003 - 1001) AS a
           FROM d, LATERAL (SELECT unnest(range(d.n)) AS i) i),
         pk AS (SELECT doc_id, MAX(a) AS peak FROM sm GROUP BY doc_id),
         bk AS (SELECT sm.doc_id, (sm.a * 64) // pk.peak AS b
           FROM sm JOIN pk USING (doc_id)),
         cnts AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bk GROUP BY doc_id, b),
         grid AS (SELECT d.doc_id, g.k FROM d,
           LATERAL (SELECT unnest(range(65)) AS k) g),
         fullc AS (SELECT grid.doc_id, grid.k, COALESCE(cnts.c, 0) AS c
           FROM grid LEFT JOIN cnts
             ON cnts.doc_id = grid.doc_id AND cnts.b = grid.k),
         bits AS (SELECT a.doc_id, CAST(a.k AS INT) AS bi
           FROM fullc a JOIN fullc b ON b.doc_id = a.doc_id AND b.k = a.k + 1
           WHERE a.k < 64 AND b.c > a.c),
         ah AS (SELECT d.doc_id,
             COALESCE(CAST(SUM(CASE WHEN b.bi = 63 THEN -9223372036854775808
                                    ELSE CAST(1 AS BIGINT) << b.bi END) AS BIGINT), 0) AS ahash
           FROM d LEFT JOIN bits b USING (doc_id) GROUP BY d.doc_id),
         med AS (SELECT documents.doc_id,
             (16 + documents.doc_id % 48 >= 32
               AND 16 + documents.doc_id % 32 >= 24) AS img_ok,
             ((64 + documents.doc_id % 128) * 1000000 // 8000 >= 12000
               AND pk.peak >= 200) AS audio_ok,
             (documents.doc_id % 5 >= 1 AND documents.doc_id % 16 >= 4
               AND documents.doc_id % 12 >= 4) AS video_ok
           FROM documents JOIN pk ON pk.doc_id = documents.doc_id),
         mdup AS (SELECT o.doc_id FROM ah o JOIN ah e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0
               AND bit_count(xor(o.ahash, e.ahash)) <= 7
           GROUP BY o.doc_id),
         vsig AS (SELECT doc_id, array_to_string(
             list_transform(range(0, 2 + doc_id % 5),
               f -> ((doc_id * 13 + (f + 1) * 29) % 224)
                  - ((doc_id * 13 + f * 29) % 224)), ',') AS sig
           FROM documents),
         vdup AS (SELECT o.doc_id FROM vsig o JOIN vsig e
             ON o.doc_id % 2 = 1 AND e.doc_id % 2 = 0 AND o.sig = e.sig
           GROUP BY o.doc_id),
         w AS (SELECT doc_id, n_words, fp, keep_quality,
             (doc_id % 2) * 1000000000 + doc_id AS wk
           FROM f),
         fl AS (SELECT w.doc_id, w.n_words,
             (w.keep_quality AND w.wk =
               MIN(CASE WHEN w.keep_quality THEN w.wk END)
                 OVER (PARTITION BY w.fp)
               AND cont.doc_id IS NULL
               AND med.img_ok AND med.audio_ok
               AND mdup.doc_id IS NULL
               AND med.video_ok AND vdup.doc_id IS NULL) AS admitted
           FROM w
           JOIN med ON med.doc_id = w.doc_id
           LEFT JOIN cont ON w.doc_id = cont.doc_id
           LEFT JOIN mdup ON mdup.doc_id = w.doc_id
           LEFT JOIN vdup ON vdup.doc_id = w.doc_id),
         b0 AS (SELECT doc_id, n_words,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 0),
         b1 AS (SELECT doc_id, n_words,
             (SELECT COUNT(*) FROM b0) +
               row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
           FROM fl WHERE admitted AND doc_id % 2 = 1),
         u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM u GROUP BY 1 ORDER BY shard""",
    // Composed curation funnel: gopher rules on raw text -> first-wins
    // exact dedup among survivors -> eval-excerpt decontamination ->
    // md5-derived 80/10/10 split, replayed as one relational CTE chain
    // emitting the same 7-row doc/token funnel.
    "q_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words, f.keep_quality AS r1,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)) AS r2,
             (cont.doc_id IS NOT NULL) AS is_cont,
             CASE WHEN CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80
                    THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
                    THEN 'val'
                  ELSE 'test' END AS split
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         fl2 AS (SELECT doc_id, n_words, r1, r2, (r2 AND NOT is_cont) AS r3, split FROM fl),
         agg AS (SELECT
             CAST(COUNT(*) AS BIGINT) AS d0,
             CAST(SUM(n_words) AS BIGINT) AS t0,
             CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN r1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN r2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN r3 THEN n_words ELSE 0 END) AS BIGINT) AS t3,
             CAST(SUM(CASE WHEN r3 AND split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(SUM(CASE WHEN r3 AND split = 'train' THEN n_words ELSE 0 END) AS BIGINT) AS t4,
             CAST(SUM(CASE WHEN r3 AND split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS d5,
             CAST(SUM(CASE WHEN r3 AND split = 'val' THEN n_words ELSE 0 END) AS BIGINT) AS t5,
             CAST(SUM(CASE WHEN r3 AND split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS d6,
             CAST(SUM(CASE WHEN r3 AND split = 'test' THEN n_words ELSE 0 END) AS BIGINT) AS t6
           FROM fl2)
         SELECT stage, n_docs, n_tokens FROM (
           SELECT '00_ingest' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
           UNION ALL SELECT '01_quality', d1, t1 FROM agg
           UNION ALL SELECT '02_dedup', d2, t2 FROM agg
           UNION ALL SELECT '03_decontam', d3, t3 FROM agg
           UNION ALL SELECT '04_split_train', d4, t4 FROM agg
           UNION ALL SELECT '05_split_val', d5, t5 FROM agg
           UNION ALL SELECT '06_split_test', d6, t6 FROM agg)
         ORDER BY stage""",
    // Cross-modal curation: the text funnel's CTE chain (quality ->
    // first-wins dedup -> decontamination) extended with all three media
    // gates replayed over the generator arithmetic (image px_ok and
    // video gray fidelity are codec-guaranteed TRUE; audio peak
    // re-derived per sample; video frames/dims from the generator).
    "q_curation_multimodal" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words, f.keep_quality AS r1,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)) AS r2,
             (cont.doc_id IS NOT NULL) AS is_cont
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         fl2 AS (SELECT doc_id, n_words, r1, r2, (r2 AND NOT is_cont) AS r3 FROM fl),
         med AS (SELECT d.doc_id,
             (16 + d.doc_id % 48 >= 32 AND 16 + d.doc_id % 32 >= 24) AS img_ok,
             ((64 + d.doc_id % 128) * 1000000 // 8000 >= 12000
               AND x.peak >= 200) AS audio_ok,
             (3 + d.doc_id % 5 >= 4 AND 16 + d.doc_id % 16 >= 20
               AND 12 + d.doc_id % 12 >= 16) AS video_ok
           FROM documents d, LATERAL (
             SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak
             FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x),
         j AS (SELECT fl2.*, med.img_ok, med.audio_ok, med.video_ok
           FROM fl2 JOIN med ON med.doc_id = fl2.doc_id),
         agg AS (SELECT
             CAST(COUNT(*) AS BIGINT) AS d0,
             CAST(SUM(n_words) AS BIGINT) AS t0,
             CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN r1 THEN n_words ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN r2 THEN n_words ELSE 0 END) AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN r3 THEN n_words ELSE 0 END) AS BIGINT) AS t3,
             CAST(SUM(CASE WHEN r3 AND img_ok THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(SUM(CASE WHEN r3 AND img_ok THEN n_words ELSE 0 END) AS BIGINT) AS t4,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok THEN 1 ELSE 0 END) AS BIGINT) AS d5,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok THEN n_words ELSE 0 END) AS BIGINT) AS t5,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok AND video_ok THEN 1 ELSE 0 END) AS BIGINT) AS d6,
             CAST(SUM(CASE WHEN r3 AND img_ok AND audio_ok AND video_ok THEN n_words ELSE 0 END) AS BIGINT) AS t6
           FROM j)
         SELECT stage, n_docs, n_tokens FROM (
           SELECT '00_ingest' AS stage, d0 AS n_docs, t0 AS n_tokens FROM agg
           UNION ALL SELECT '01_quality', d1, t1 FROM agg
           UNION ALL SELECT '02_dedup', d2, t2 FROM agg
           UNION ALL SELECT '03_decontam', d3, t3 FROM agg
           UNION ALL SELECT '04_media_image', d4, t4 FROM agg
           UNION ALL SELECT '05_media_audio', d5, t5 FROM agg
           UNION ALL SELECT '06_media_video', d6, t6 FROM agg)
         ORDER BY stage""",
    // Multimodal curated store: the cross-modal funnel's survivors
    // (text chain AND both media gates, replayed over the generator
    // arithmetic) ranked into the md5 training order and folded to the
    // 4-shard loader manifest.
    "q_curated_store_multimodal" ->
      """WITH t AS (SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
           FROM documents),
         s AS (SELECT doc_id, text, words,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t),
         f AS (SELECT doc_id, n_words, md5(text) AS fp, words,
             (n_words >= 10 AND n_words <= 1000
               AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
               AND n_symbol * 10 <= n_words
               AND n_alpha * 5 >= n_words * 4
               AND n_required >= 2) AS keep_quality
           FROM s),
         shq AS (SELECT doc_id,
             CASE WHEN len(words) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(words) - 3),
                         i -> array_to_string(words[i:i+4], ' '))) END AS sh
           FROM f WHERE keep_quality),
         ev AS (SELECT list_filter(string_split_regex(substr(text, 21, 200), '\s+'), x -> x <> '') AS toks
           FROM documents WHERE doc_id % 50 = 0),
         es AS (SELECT DISTINCT unnest(
             CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(toks[i:i+4], ' '))) END) AS g
           FROM ev),
         cg AS (SELECT doc_id, unnest(sh) AS g FROM shq),
         cont AS (SELECT doc_id FROM cg JOIN es USING (g)
           GROUP BY doc_id HAVING COUNT(DISTINCT g) >= 8),
         fl AS (SELECT f.doc_id, f.n_words,
             (f.keep_quality AND f.doc_id =
               MIN(CASE WHEN f.keep_quality THEN f.doc_id END)
                 OVER (PARTITION BY f.fp)
               AND cont.doc_id IS NULL) AS r3
           FROM f LEFT JOIN cont ON f.doc_id = cont.doc_id),
         med AS (SELECT d.doc_id,
             (16 + d.doc_id % 48 >= 32 AND 16 + d.doc_id % 32 >= 24) AS img_ok,
             ((64 + d.doc_id % 128) * 1000000 // 8000 >= 12000
               AND x.peak >= 200) AS audio_ok,
             (3 + d.doc_id % 5 >= 4 AND 16 + d.doc_id % 16 >= 20
               AND 12 + d.doc_id % 12 >= 16) AS video_ok
           FROM documents d, LATERAL (
             SELECT MAX(ABS((d.doc_id * 31 + i * 17) % 2003 - 1001)) AS peak
             FROM (SELECT unnest(range(64 + d.doc_id % 128)) AS i)) x),
         surv AS (SELECT fl.doc_id, fl.n_words,
             row_number() OVER (ORDER BY md5(CAST(fl.doc_id AS VARCHAR)), fl.doc_id) - 1 AS pos
           FROM fl JOIN med ON med.doc_id = fl.doc_id
           WHERE fl.r3 AND med.img_ok AND med.audio_ok AND med.video_ok)
         SELECT CAST(pos % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           list_reduce(list_prepend('', list(CAST(doc_id AS VARCHAR) ORDER BY pos)),
             (acc, x) -> md5(acc || ',' || x)) AS order_digest
         FROM surv GROUP BY 1 ORDER BY shard""",
    // Unigram surprisal: the per-doc sum folds in position order on both
    // engines; round(6) absorbs last-ulp ln() differences.
    "q_unigram_logprob" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         x AS (SELECT doc_id, u.p AS pos, u.tk AS token FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
               i -> {'p': i, 'tk': toks[i]})) AS u
             FROM t)),
         c AS (SELECT token, COUNT(*) AS c FROM x GROUP BY token),
         n AS (SELECT COUNT(*) AS t FROM x),
         lp AS (SELECT doc_id, pos, -ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) AS logp
           FROM x JOIN c USING (token), n),
         g AS (SELECT doc_id, COUNT(*) AS n_tokens, list(logp ORDER BY pos) AS lps
           FROM lp GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           round(list_sum(lps) / n_tokens, 6) AS mean_surprisal
         FROM g ORDER BY doc_id""",
    // Interpolated bigram surprisal: same position-ordered fold; the
    // 0.7/0.3 mixture is written with identical op shape both sides.
    "q_bigram_logprob" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         x AS (SELECT doc_id, u.p AS pos, u.tk AS token FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
               i -> {'p': i, 'tk': toks[i]})) AS u
             FROM t)),
         xp AS (SELECT doc_id, pos, token,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM x),
         c AS (SELECT token, COUNT(*) AS cu FROM x GROUP BY token),
         n AS (SELECT COUNT(*) AS t FROM x),
         b AS (SELECT prev, token, COUNT(*) AS cb FROM xp
           WHERE prev IS NOT NULL GROUP BY prev, token),
         lp AS (SELECT xp.doc_id, xp.pos,
             -ln(CASE WHEN xp.prev IS NULL
                 THEN CAST(c.cu AS DOUBLE) / CAST(n.t AS DOUBLE)
                 ELSE 0.7 * (CAST(b.cb AS DOUBLE) / CAST(cp.cu AS DOUBLE)) +
                      0.3 * (CAST(c.cu AS DOUBLE) / CAST(n.t AS DOUBLE)) END) AS logp
           FROM xp
           JOIN c ON c.token = xp.token
           LEFT JOIN c cp ON cp.token = xp.prev
           LEFT JOIN b ON b.prev = xp.prev AND b.token = xp.token, n),
         g AS (SELECT doc_id, COUNT(*) AS n_tokens,
             list(logp ORDER BY pos) AS lps
           FROM lp GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           round(list_sum(lps) / n_tokens, 6) AS mean_surprisal
         FROM g ORDER BY doc_id""",
    // BPE merge induction: k unrolled rounds of pair-count argmax +
    // literal-replace merge over the double-space symbol encoding —
    // integer counts, lexicographic tie-breaks, same greedy left-to-
    // right replace semantics in both engines.
    "q_bpe_merges" -> bpeOracleSql(6),
    "q_bpe_encode" -> bpeEncodeOracleSql,
    "q_bpe_encode_scaled" -> bpeEncodeScaledOracleSql,
    "q_vocab_artifact_roundtrip" -> vocabArtifactRoundtripOracleSql(6),
    "q_bpe_encode_ids" -> bpeEncodeIdsOracleSql(6),
    "q_bpe_refresh" -> bpeRefreshOracleSql(6),
    "q_tokenized_store_refresh" -> tokenizedStoreRefreshOracleSql(6),
    "q_tokenized_store_repack" -> tokenizedStoreRepackOracleSql(6),
    "q_tokenized_shards" -> tokenizedShardsOracleSql,
    "q_epoch_windows" -> epochWindowOracleSql,
    "q_tokenized_store_incremental" -> tokenizedStoreIncrementalOracleSql,
    "q_window_slices" -> windowSlicesOracleSql,
    "q_pagerank_lineage" -> pagerankOracleSql(3),
    "q_quality_train" -> qualityTrainOracleSql(12),
    "q_quality_eval" -> qualityEvalOracleSql(12),
    "q_quality_filter_stream" -> qualityFilterStreamOracleSql(12),
    // hashed-feature linear scorer: integer fixed-point weights summed
    // exactly, one double division per doc
    "q_quality_logit" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         p AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(toks, w ->
               ((CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 64)
                 * 2654435761) % 2001 - 1000)) AS BIGINT) AS logit_scaled
           FROM t WHERE len(toks) > 0)
         SELECT doc_id, n_tokens, logit_scaled,
           logit_scaled * 1000 // n_tokens AS quality_logit_ppm,
           logit_scaled > 0 AS keep
         FROM p ORDER BY doc_id""",
    // UniMax admission: per-language running token sum over the
    // md5-shuffled order, cut at the budget
    "q_unimax_sample" ->
      """WITH d AS (SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST('0x' || substr(md5('unimax' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS shuffle_key
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM d)
         SELECT doc_id, lang, n_tokens, CAST(cum_before AS BIGINT) AS cum_before,
           (cum_before + n_tokens <= 3000) AS kept
         FROM c ORDER BY doc_id""",
    // the sketch is pruning-only: the exact answer is a plain
    // count-filter, which is what the oracle runs
    // relative threshold: freq·1e6 ≥ N·phiPpm (phiPpm = 5000), the
    // integer-exact corpus-proportional cut the Misra-Gries sketch is
    // sized for — same arithmetic on both engines
    "q_heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         nt AS (SELECT COUNT(*) AS n FROM toks)
         SELECT token, COUNT(*) AS freq FROM toks, nt
         GROUP BY token, nt.n HAVING COUNT(*) * 1000000 >= nt.n * 5000
         ORDER BY token""",
    // PMI collocations: integer counts, 1e6 fixed-point integer-div
    // score — ranking by pmi_scaled IS ranking by PMI (log monotone),
    // no float anywhere.
    "q_pmi_bigrams" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM (
           SELECT unnest(list_transform(range(1, len(toks)),
             i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS u
           FROM t WHERE len(toks) >= 2)),
         uni AS (SELECT a AS token, COUNT(*) AS n
           FROM (SELECT unnest(toks) AS a FROM t) GROUP BY a),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM uni),
         ab AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY w1, w2
           HAVING COUNT(*) >= 5)
         SELECT ab.w1, ab.w2, CAST(ab.n_ab AS BIGINT) AS n_ab,
           CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b,
           (CAST(ab.n_ab AS BIGINT) * n_total * 1000000)
             // (CAST(ua.n AS BIGINT) * CAST(ub.n AS BIGINT)) AS pmi_scaled
         FROM ab JOIN uni ua ON ua.token = ab.w1
           JOIN uni ub ON ub.token = ab.w2, tot
         ORDER BY pmi_scaled DESC, w1, w2""",
    // Context-window chunking: integer window arithmetic, md5 chunk ids.
    "q_chunk_split" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         n AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE (len(toks) - 64 + 47) // 48 + 1 END AS n_chunks
           FROM t WHERE len(toks) > 0),
         c AS (SELECT doc_id, u.cid AS chunk_id, u.chunk AS chunk FROM (
           SELECT doc_id, unnest(list_transform(range(0, n_chunks),
             i -> {'cid': i, 'chunk': list_slice(toks, i * 48 + 1, i * 48 + 64)})) AS u
           FROM n))
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 48 AS BIGINT) AS start_tok,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
         FROM c ORDER BY doc_id, chunk_id""",
    // Temperature mixing: exact integer masses, IEEE sqrt of identical
    // doubles, normalizer folded in language order on both sides.
    "q_temperature_mix" ->
      """WITH lt AS (SELECT lang,
             CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT)
               AS lang_tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
             list(lang_tokens ORDER BY lang) AS ls FROM lt),
         z AS (SELECT total_tokens,
             list_sum(list_transform(ls,
               c -> sqrt(CAST(c AS DOUBLE) / CAST(total_tokens AS DOUBLE)))) AS z
           FROM tot)
         SELECT lang, lang_tokens,
           lang_tokens * 1000000 // total_tokens AS p_proportional_ppm,
           round(sqrt(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) / z, 6)
             AS p_temperature,
           round(sqrt(CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)) / z
             / (CAST(lang_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)), 6)
             AS sampling_factor
         FROM lt, z ORDER BY lang""",
    "q_bpe_fertility" -> bpeFertilityOracleSql,
    // DSIR importance: two ≤1024-bucket add-one models, per-doc log-ratio
    // folded in position order (same ln/fold parity as q_lm_ppl_buckets).
    "q_dsir_weight" ->
      """WITH d AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         t AS (SELECT doc_id, lang, u.p AS pos, u.tok AS token FROM (
           SELECT doc_id, lang, unnest(list_transform(range(1, len(toks) + 1),
             i -> {'p': i, 'tok': toks[i]})) AS u FROM d)),
         b AS (SELECT doc_id, pos, lang,
             CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 1024 AS bucket
           FROM t),
         tgt AS (SELECT bucket, COUNT(*) AS c_t FROM b WHERE lang = 'en' GROUP BY bucket),
         src AS (SELECT bucket, COUNT(*) AS c_s FROM b GROUP BY bucket),
         tot AS (SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(COUNT(*) AS BIGINT) AS n_s FROM b),
         lr AS (SELECT doc_id, pos,
             ln(CAST(COALESCE(c_t, 0) + 1 AS DOUBLE) / CAST(n_t + 1024 AS DOUBLE))
           - ln(CAST(COALESCE(c_s, 0) + 1 AS DOUBLE) / CAST(n_s + 1024 AS DOUBLE)) AS lr
           FROM b LEFT JOIN tgt USING (bucket) LEFT JOIN src USING (bucket), tot),
         g AS (SELECT doc_id, COUNT(*) AS n_tokens,
             round(list_sum(list(lr ORDER BY pos)), 6) AS log_importance
           FROM lr GROUP BY doc_id)
         SELECT doc_id, n_tokens, log_importance,
           log_importance > 0.0 AS keep
         FROM g ORDER BY doc_id""",
    // Corpus drift: per-token JSD contributions of the even vs odd doc
    // slice, add-one smoothed over the joint vocab; no cross-row float
    // fold — each row is computed from integer counts (ln/round(6)
    // parity per the q_lm_ppl_buckets / q_dsir_weight precedent).
    "q_corpus_drift" ->
      """WITH t AS (
           SELECT doc_id % 2 = 0 AS in_a,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT token,
             CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           FROM t GROUP BY token),
         tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) AS BIGINT) AS tot_b,
             CAST(COUNT(*) AS BIGINT) AS v FROM c),
         s AS (SELECT token, n_a, n_b,
             CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE) AS p,
             CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE) AS q
           FROM c, tot)
         SELECT token, n_a, n_b,
           round((p * ln(p / ((p + q) / 2.0)) +
                  q * ln(q / ((p + q) / 2.0))) * 0.5, 6) AS jsd_contrib
         FROM s ORDER BY token""",
    // Gopher doc-level rules: planted `#` runs, integer-exact verdicts
    // (n*10 <= m forms), reported ratios as IEEE doubles of the same ints.
    "q_gopher_rules" ->
      """WITH p AS (
           SELECT doc_id,
             text || CASE WHEN doc_id % 8 > 0
               THEN ' ' || rtrim(repeat('# ', CAST(doc_id % 8 AS INT)))
               ELSE '' END AS text2
           FROM documents),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text2, '\s+'), x -> x <> '') AS words
           FROM p),
         s AS (SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, w -> len(w))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(words, w -> w = '#' OR w = '...')) AS BIGINT) AS n_symbol,
             CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(['the','a','of','and','is'],
               m -> list_contains(words, m))) AS BIGINT) AS n_required
           FROM t)
         SELECT doc_id, n_words,
           sum_len * 1000000 // n_words AS mean_word_len_ppm,
           n_symbol * 1000000 // n_words AS symbol_ratio_ppm,
           n_alpha * 1000000 // n_words AS frac_alpha_ppm,
           n_required,
           (n_words >= 10 AND n_words <= 1000) AS pass_word_count,
           (sum_len >= n_words * 3 AND sum_len <= n_words * 10) AS pass_word_len,
           (n_symbol * 10 <= n_words) AS pass_symbol,
           (n_alpha * 5 >= n_words * 4) AS pass_alpha,
           (n_required >= 2) AS pass_required,
           ((n_words >= 10 AND n_words <= 1000)
             AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
             AND (n_symbol * 10 <= n_words)
             AND (n_alpha * 5 >= n_words * 4)
             AND (n_required >= 2)) AS keep
         FROM s ORDER BY doc_id""",
    // C4 line rules over the deterministically rebuilt page: 8-token
    // slices with a (doc_id+i)%4-planted missing period + boilerplate
    // lines, first-failing doc reason, md5 of the surviving page.
    "q_c4_line_filter" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, list_transform(
               range(0, greatest(1, CAST(ceil(len(toks) / 8.0) AS BIGINT))),
               i -> array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') ||
                    CASE WHEN (doc_id + i) % 4 = 0 THEN '' ELSE '.' END) AS base
           FROM t),
         l AS (
           SELECT doc_id,
             base ||
             CASE WHEN doc_id % 5 = 0
               THEN ['please enable javascript to view this page.']
               ELSE CAST([] AS VARCHAR[]) END ||
             CASE WHEN doc_id % 7 = 3
               THEN ['lorem ipsum dolor sit amet.']
               ELSE CAST([] AS VARCHAR[]) END ||
             CASE WHEN doc_id % 11 = 7
               THEN ['function() { return; }']
               ELSE CAST([] AS VARCHAR[]) END AS lines
           FROM b),
         k AS (
           SELECT doc_id, lines,
             list_filter(lines, x -> ends_with(x, '.')
               AND len(string_split(x, ' ')) >= 5
               AND NOT contains(x, 'javascript')) AS kept
           FROM l),
         r AS (
           SELECT doc_id, lines, kept,
             CASE
               WHEN len(list_filter(lines, x -> contains(x, 'lorem ipsum'))) > 0
                 THEN 'lorem_ipsum'
               WHEN len(list_filter(lines, x -> contains(x, '{'))) > 0 THEN 'brace'
               WHEN len(kept) < 3 THEN 'too_few_sentences'
               ELSE 'keep' END AS reason
           FROM k)
         SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           reason, reason = 'keep' AS keep,
           -- array_to_string of an empty list is NULL in DuckDB but '' in
           -- Spark's array_join: coalesce to match md5('')
           md5(COALESCE(array_to_string(kept, ' | '), '')) AS kept_fp
         FROM r ORDER BY doc_id""",
    "q_zorder_stats" -> zorderOracleSql,
    // ExactSubstr dup spans: 20-token window hashes (60-bit, same conv
    // trick as elsewhere), >=2-distinct-doc filter, islands merge.
    "q_dup_spans" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, substr(text, 1, length(text) - 20)
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM corpus),
         wns AS (SELECT doc_id, u.s AS start, u.h AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(toks) - 20 + 1),
             i -> {'s': i,
               'h': CAST('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 20), ' ')), 1, 15) AS BIGINT)})) AS u
           FROM t WHERE len(toks) >= 20)),
         dh AS (SELECT h FROM wns GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         d AS (SELECT doc_id, start FROM wns JOIN dh USING (h)),
         f AS (SELECT doc_id, start,
             CASE WHEN lag(start + 20) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
                  OR start > lag(start + 20) OVER (PARTITION BY doc_id ORDER BY start)
               THEN 1 ELSE 0 END AS ni
           FROM d),
         g AS (SELECT doc_id, start,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
           FROM f)
         SELECT doc_id, CAST(island AS BIGINT) AS span_id,
           CAST(MIN(start) AS BIGINT) AS start_tok,
           CAST(MAX(start) + 20 AS BIGINT) AS end_tok,
           CAST(MAX(start) + 20 - MIN(start) AS BIGINT) AS n_dup_tokens
         FROM g GROUP BY doc_id, island ORDER BY doc_id, span_id""",
    // Intra-document repeated spans: every 7th doc re-appends its own
    // first 8 tokens; a window hash occurring >= 2 times within one doc
    // keeps its first occurrence and excises the rest, merged to
    // maximal spans by the islands fold.
    "q_selfdup_spans" ->
      """WITH t0 AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t0
           FROM documents),
         t AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN list_concat(t0, t0[1:8]) ELSE t0 END AS toks
           FROM t0 WHERE len(t0) >= 8),
         wns AS (SELECT doc_id, u.s AS start, u.h AS h FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(toks) - 8 + 1),
             i -> {'s': i,
               'h': CAST('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')), 1, 15) AS BIGINT)})) AS u
           FROM t)),
         rep AS (SELECT doc_id, start FROM (
             SELECT doc_id, start,
               COUNT(*) OVER (PARTITION BY doc_id, h) AS cnt,
               MIN(start) OVER (PARTITION BY doc_id, h) AS first_start
             FROM wns)
           WHERE cnt >= 2 AND start > first_start),
         f AS (SELECT doc_id, start,
             CASE WHEN lag(start + 8) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
                  OR start > lag(start + 8) OVER (PARTITION BY doc_id ORDER BY start)
               THEN 1 ELSE 0 END AS ni
           FROM rep),
         g AS (SELECT doc_id, start,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
           FROM f)
         SELECT doc_id, CAST(island AS BIGINT) AS span_id,
           CAST(MIN(start) AS BIGINT) AS start_tok,
           CAST(MAX(start) + 8 AS BIGINT) AS end_tok,
           CAST(MAX(start) + 8 - MIN(start) AS BIGINT) AS n_dup_tokens
         FROM g GROUP BY doc_id, island ORDER BY doc_id, span_id""",
    // Bigram add-one LM + per-lang terciles: integer counts, position-
    // ordered logp folds (round 6), integer rank → bucket.
    "q_lm_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents),
         x AS (SELECT doc_id, lang, u.p AS pos, u.a AS a, u.b AS b FROM (
             SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
               i -> {'p': i, 'a': toks[i], 'b': toks[i + 1]})) AS u
             FROM t)),
         c2 AS (SELECT a, b, COUNT(*) AS c_ab FROM x GROUP BY a, b),
         c1 AS (SELECT a, COUNT(*) AS c_a FROM (SELECT unnest(toks) AS a FROM t) GROUP BY a),
         v AS (SELECT COUNT(*) AS v FROM c1),
         lp AS (SELECT doc_id, lang, pos,
             -ln((CAST(c_ab AS DOUBLE) + 1) / (CAST(c_a AS DOUBLE) + v)) AS logp
           FROM x JOIN c2 USING (a, b) JOIN c1 USING (a), v),
         g AS (SELECT doc_id, lang, COUNT(*) AS n_bigrams,
             round(list_sum(list(logp ORDER BY pos)) / COUNT(*), 6) AS mean_nll
           FROM lp GROUP BY doc_id, lang),
         r AS (SELECT doc_id, lang, n_bigrams, mean_nll,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY mean_nll, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
           FROM g)
         SELECT doc_id, lang, n_bigrams, mean_nll,
           ['head','middle','tail'][CAST((3 * (rnk - 1)) // n_lang AS INT) + 1] AS ppl_bucket
         FROM r ORDER BY doc_id""",
    // Split assignment: md5(doc_id)-derived uniform, 80/10/10.
    "q_split_assign" ->
      """WITH s AS (SELECT lang, n_chars,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80
                    THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
                    THEN 'val'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM s GROUP BY lang, split ORDER BY lang, split""",
    // PPS Poisson sample: keep iff u*W <= k*w*M, all BIGINT — exact in
    // both engines.
    "q_weighted_sample" ->
      """WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 + 1 AS u
           FROM documents),
         s AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM t)
         SELECT doc_id, w AS weight, u FROM t, s
         WHERE u * w_total <= 50 * w * 1000001
         ORDER BY doc_id""",
    // Fixed-size per-source sample: md5-salted rank, first 20 per group —
    // the same draw on any engine.
    "q_stratified_sample" ->
      """SELECT source, rank, doc_id FROM (
           SELECT source, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
           FROM documents)
         WHERE rank <= 20 ORDER BY source, rank""",
    // One Lloyd iteration: assignment = argmin squared L2 (lowest-id
    // tie-break); the centroid update accumulates 1e-6 fixed-point
    // integers (exact + associative), so both engines produce the same
    // means bit-for-bit; norms/shifts fold per-dimension in dim order.
    "q_kmeans_iter" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         cen AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < 8),
         d AS (SELECT e.vec_id, cen.cluster,
             list_sum(list_transform(range(1, 65),
               i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
           FROM e CROSS JOIN cen),
         a AS (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
             FROM d) WHERE rn = 1),
         q AS (SELECT a.cluster, i.i AS dim,
             CAST(floor(v[i.i] * 1000000 + 0.5) AS BIGINT) AS qx
           FROM a JOIN e USING (vec_id), (SELECT unnest(range(1, 65)) AS i) i),
         s AS (SELECT cluster, dim, CAST(SUM(qx) AS BIGINT) AS sq, COUNT(*) AS n
           FROM q GROUP BY cluster, dim),
         m AS (SELECT cluster, dim,
             CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mu, n
           FROM s),
         arrs AS (SELECT cluster, MAX(n) AS n_members, list(mu ORDER BY dim) AS mus
           FROM m GROUP BY cluster),
         j AS (SELECT arrs.cluster, n_members, mus, cv
           FROM arrs JOIN cen ON arrs.cluster = cen.cluster)
         SELECT cluster, n_members, mus[1] AS mu0,
           sqrt(list_sum(list_transform(mus, x -> x * x))) AS new_norm,
           sqrt(list_sum(list_transform(range(1, 65),
             i -> (mus[i] - cv[i]) * (mus[i] - cv[i])))) AS shift
         FROM j ORDER BY cluster""",
    // Rollup: (lang, source), per-lang subtotal, grand total in one pass.
    "q_corpus_rollup" ->
      """SELECT COALESCE(lang, '(all)') AS lang,
           COALESCE(source, '(all)') AS source,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY ROLLUP (lang, source)
         ORDER BY lang, source""",
    // The oracle computes the PLAIN join: identical results prove the
    // salting rewrite (spread hot keys over sub-keys, replicate the
    // small side) is semantics-preserving.
    "q_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // Snapshot diff: before = custkey % 3 != 0, after = custkey % 2 == 0
    // with the segment lowercased for every 4th key, and the segment
    // NULLED for every 8th key — a nullable-attr case. IS DISTINCT FROM
    // is the comparison the fingerprint's NULL-sentinel encoding
    // implements (NULL vs value and NULL vs '' are both 'changed'); a
    // bare <> would NULL-propagate those rows to 'unchanged'.
    "q_snapshot_diff" ->
      """WITH before AS (
           SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
           FROM customer WHERE c_custkey % 3 <> 0),
         after AS (
           SELECT c_custkey AS key, c_name AS name,
             CASE WHEN c_custkey % 8 = 0 THEN NULL
                  WHEN c_custkey % 4 = 0 THEN lower(c_mktsegment)
                  ELSE c_mktsegment END AS segment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT COALESCE(b.key, a.key) AS key,
           CASE WHEN b.key IS NULL THEN 'added'
                WHEN a.key IS NULL THEN 'removed'
                WHEN b.name IS DISTINCT FROM a.name
                  OR b.segment IS DISTINCT FROM a.segment THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM before b FULL OUTER JOIN after a ON b.key = a.key
         ORDER BY key""",
    // Bad-records channel: every 7th event's props gains a doubled
    // opening brace; good = parseable JSON on both engines.
    "q_bad_records" ->
      """WITH r AS (SELECT event_type, event_id,
             CASE WHEN event_id % 7 = 0 THEN '{' || props ELSE props END AS raw
           FROM events)
         SELECT event_type,
           COUNT(CASE WHEN COALESCE(json_valid(raw), false) THEN 1 END) AS n_good,
           COUNT(CASE WHEN NOT COALESCE(json_valid(raw), false) THEN 1 END) AS n_bad,
           CAST(SUM(CASE WHEN json_valid(raw)
             THEN TRY_CAST(regexp_extract(raw, '"k": (\d+)', 1) AS BIGINT)
             END) AS BIGINT) AS sum_k_good
         FROM r GROUP BY event_type ORDER BY event_type""",
    // ChainedTransformer: template key -> literal replace -> None-drop ->
    // per-tag fan-out -> field removal, composed as DefaultTask would.
    "q_transform_chain" ->
      """WITH base AS (
           SELECT c_custkey, c_name,
             replace(c_mktsegment, 'MACHINERY', 'MACHINES') AS segment,
             'tpch://' || r_name || '.' || n_name || '/' || c_name AS key
           FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey),
         f AS (SELECT * FROM base WHERE segment <> 'FURNITURE')
         SELECT c_custkey, c_name, segment, key,
           unnest([lower(segment), 'default']) AS tag
         FROM f ORDER BY c_custkey, tag""",
    // the streamed fold over disjoint cohorts equals the global per-user
    // last write (ts desc, event_id desc)
    "q_stream_publish_fold" ->
      """SELECT key, event_type, eid FROM (
           SELECT CAST(user_id AS VARCHAR) AS key, event_type,
             CAST(event_id AS VARCHAR) AS eid,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY key""",
  )
}
