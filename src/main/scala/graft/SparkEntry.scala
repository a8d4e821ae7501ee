package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator from SURVEY.md §2,
  * realized over the star-schema fixtures (FIXTURES.md §B).
  * `oracleSql`: DuckDB-equivalent ANSI SQL over the same parquet tables.
  * Column names and ordering are aligned between the two on purpose —
  * the driver sorts columns by name and hashes values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.topkCustomersByRegion(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w1_topk_by_scope"        -> ((s, d) => Relational.topkCustomersByRegion(s, d)),
    "a1_scalar_sum_coalesce"  -> ((s, d) => Relational.scalarSumCoalesce(s, d)),
    "a2_sum_by_group"         -> ((s, d) => Relational.sumByGroup(s, d)),
    "a3_count_by_group"       -> ((s, d) => Relational.countByGroup(s, d)),
    "a5_count_distinct"       -> ((s, d) => Relational.countDistinctPerGroup(s, d)),
    "a6_multi_agg"            -> ((s, d) => Relational.multiAggPerSupplier(s, d)),
    "a7_monthly_timeline"     -> ((s, d) => Relational.monthlyTimeline(s, d)),
    "a8_frontier_max"         -> ((s, d) => Relational.frontierMax(s, d)),
    "a9_pct_of_total"         -> ((s, d) => Relational.pctOfTotal(s, d)),
    "j2_threeway_revenue"     -> ((s, d) => Relational.threeWayRevenue(s, d)),
    "j3_join_then_filter"     -> ((s, d) => Relational.joinThenFilter(s, d)),
    "j4_scope_semi"           -> ((s, d) => Relational.scopeSemiJoin(s, d)),
    "j5_semi_in_subquery"     -> ((s, d) => Relational.semiInSubquery(s, d)),
    "j8_anti_never_ordered"   -> ((s, d) => Relational.antiNeverOrdered(s, d)),
    "j9_hierarchy_join"       -> ((s, d) => Relational.hierarchyJoin(s, d)),
    "p4_dynamic_filter"       -> ((s, d) => Relational.dynamicFilter(s, d)),
    "p7_keyword_like"         -> ((s, d) => Relational.keywordLike(s, d)),
    "p8_null_guards"          -> ((s, d) => Relational.nullGuards(s, d)),
    "w2_argmax_per_group"     -> ((s, d) => Relational.argmaxPerGroup(s, d)),
    "w3_recent_n"             -> ((s, d) => Relational.recentN(s, d)),
    "w5_pagination"           -> ((s, d) => Relational.pagination(s, d)),
    "u1_union_distinct"       -> ((s, d) => Relational.unionDistinct(s, d)),
    "u2_keep_last_dedup"      -> ((s, d) => Relational.keepLastDedup(s, d)),
    "u3_dedup_derived_key"    -> ((s, d) => Relational.dedupDerivedKey(s, d)),
    "j7_fuzzy_link"           -> ((s, d) => FuzzyLink.linkSuppliersToCustomers(s, d)),
    "j7b_banded_link"         -> ((s, d) => FuzzyLink.linkSuppliersToCustomersBanded(s, d)),
    "s10_merge_upsert"        -> ((s, d) => MergeOps.mergeUpsert(s, d)),
    // partition-scoped MERGE: same semantics as s10, realized through
    // the rewrite-only-affected-partitions write path (oracle = the
    // plain full-outer formulation; equality proves the scoped path
    // computes the identical MERGE)
    "s10b_partitioned_merge"  -> ((s, d) => MergeOps.partitionedMergeUpsert(s, d)),
    "s11_insert_ignore"       -> ((s, d) => MergeOps.insertIgnore(s, d)),
    // s12/s13: write-mode semantics driver-gated — overwrite must not
    // double on re-load; append partials must re-aggregate to the
    // one-shot rollup
    "s12_truncate_reload"     -> ((s, d) => MergeOps.truncateReload(s, d)),
    "s13_batch_append"        -> ((s, d) => MergeOps.batchAppend(s, d)),
    // vector upsert: delta payloads replace base on the key; the
    // sign-flipped element sum makes replacement visible in the hash
    "s15_vector_upsert"       -> ((s, d) => MergeOps.vectorUpsert(s, d)),
    "i1_update_log"           -> ((s, d) => Incremental.updateLogEntry(s, d)),
    "i2_watermark_filter"     -> ((s, d) => Incremental.watermarkFilter(s, d)),
    "f1_name_parse"           -> ((s, d) => Scalars.nameParse(s, d)),
    "f2_normalize_names"      -> ((s, d) => Scalars.normalizeNames(s, d)),
    "f11_date_coerce"         -> ((s, d) => Scalars.dateCoerce(s, d)),
    "f10_truncate_preview"    -> ((s, d) => Scalars.truncateAndFormat(s, d)),
    "f14_daily_counts"        -> ((s, d) => Scalars.dailyCounts(s, d)),
    "t1_token_count"          -> ((s, d) => TextOps.tokenCounts(s, d)),
    "t2_quality_score"        -> ((s, d) => TextOps.qualityScores(s, d)),
    "t3_lang_id"              -> ((s, d) => TextOps.langId(s, d)),
    "t4_fingerprint"          -> ((s, d) => TextOps.fingerprints(s, d)),
    "d1_exact_dedup"          -> ((s, d) => Dedup.exactDedup(s, d)),
    "d2_ngram_jaccard"        -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    // d2b: SAME pairs via AllPairs/PPJoin prefix-filtered candidates —
    // the 100 TB twin (posting self-join volume cut ~20× before any
    // aggregate); hash-equal to d2 by the shared oracle
    "d2b_prefix_jaccard"      -> ((s, d) => Dedup.prefixJaccardPairs(s, d)),
    "d3_minhash_lsh"          -> ((s, d) => Dedup.minhashLshPairs(s, d)),
    "d4_simhash"              -> ((s, d) => Dedup.simhashSignatures(s, d)),
    "v1_cosine_topk"          -> ((s, d) => Similarity.cosineTopK(s, d)),
    // real-width (1536-dim) form over engine-portably derived vectors:
    // the driver hash, not just the spec suite, proves correctness at
    // the reference's embedding width
    "v1w_cosine_topk_wide"    -> ((s, d) => Similarity.cosineTopKWide(s, d)),
    "v2_neardup_top_pairs"    -> ((s, d) => Similarity.nearDupTopPairs(s, d)),
    // int8 (SQ8) quantized search: exact integer scoring, 4x density
    "v7_quantized_topk"       -> ((s, d) => Similarity.quantizedTopK(s, d)),
    // the quantized tier at the reference's real 1536-dim width
    "v7b_quantized_wide"      -> ((s, d) => Similarity.quantizedTopKWide(s, d)),
    // batched retrieval: one corpus scan scores the whole query batch
    "v8_batch_topk"           -> ((s, d) => Similarity.batchTopK(s, d)),
    "v3_lsh_topk"             -> ((s, d) => Similarity.lshTopK(s, d)),
    "m1_decode_features"      -> ((s, d) => Multimodal.decodeFeatures(s, d)),
    "m2_format_stats"         -> ((s, d) => Multimodal.formatStats(s, d)),
    "st1_windowed_agg"        -> ((s, d) => graft.streaming.EventsStream.windowedCountsBatch(s, d)),
    "f3_map_lookup"           -> ((s, d) => Scalars.mapLookup(s, d)),
    "f16_term_fold"           -> ((s, d) => Scalars.termFold(s, d)),
    "w4_multikey_nulls"       -> ((s, d) => Scalars.multiKeySortNulls(s, d)),
    "s14_column_update"       -> ((s, d) => MergeOps.columnUpdate(s, d)),
    "e1_entity_profile"       -> ((s, d) => Profile.customerProfile(s, d)),
    // e4: the four dashboard metric families from ONE cached scope
    // frame in one plan (app.py's 10+ round-trips collapsed)
    "e4_dashboard"            -> ((s, d) => Profile.dashboard(s, d)),
    // stub-embedder retrieval — oracle-checked since r6 (stubSearchSql
    // mirrors the md5-window embedder exactly)
    "v4_semantic_search"      -> ((s, d) => Similarity.semanticSearch(s, d)),
    "w5b_keyset_pagination"   -> ((s, d) => Relational.keysetPagination(s, d)),
    // HLL/quantile sketches: hashed columns are exact values plus
    // within-engine <=5% tolerance verdicts (see the a5b oracle note)
    "a5b_approx_distinct"     -> ((s, d) => Relational.approxDistinctPerGroup(s, d)),
    "v5_ivf_topk"             -> ((s, d) => Similarity.ivfTopK(s, d)),
    // v9: probe over the LANDED cell-partitioned index (dynamic
    // partition pruning reads one cell dir) — v5's oracle verbatim
    "v9_ivf_landed"           -> ((s, d) => Similarity.ivfLandedTopK(s, d)),
    // v9b: the same landed index probed at nprobe=2 — the recall
    // repair for Voronoi-boundary queries; still DPP-pruned (two cell
    // dirs read, never a scan)
    "v9b_ivf_nprobe2"         -> ((s, d) => Similarity.ivfLandedTopK2(s, d)),
    // v9c: the TRAINED index — converged Lloyd centroids instead of
    // first-8-by-id; same nprobe=2 probe plan (DPP-pruned), oracle
    // reads the landed _centroids table itself
    "v9c_trained_index"       -> ((s, d) => Similarity.ivfTrainedTopK2(s, d)),
    // v11: filtered ANN — metadata predicate PRE-applied to the index
    // scan (pushed filter + DPP compose); k survivors guaranteed
    "v11_filtered_ann"        -> ((s, d) => Similarity.ivfFilteredTopK(s, d)),
    // v9d: incremental index MAINTENANCE — a held-out delta appended
    // into the landed cells (landed files untouched); answers to v9b's
    // oracle verbatim, proving append-maintenance lossless
    "v9d_incremental_index"   -> ((s, d) => Similarity.ivfIncrementalTopK(s, d)),
    // v9e: partition-scoped DELETE from the landed index (the
    // right-to-be-forgotten path) — only affected cells rewritten;
    // oracle = the same probe over the corpus minus the doomed rows
    "v9e_deleted_index"       -> ((s, d) => Similarity.ivfDeletedTopK(s, d)),
    // v9f: CDC-to-serving-index — the s19 release changelog applied to
    // the LANDED ANN index via delete+append maintenance (no rebuild);
    // oracle = v9b's probe over the v2 corpus derived directly, so
    // hash equality proves changelog-apply ≡ rebuild at the serving tier
    "v9f_cdc_index"           -> ((s, d) => Similarity.ivfCdcTopK(s, d)),
    // v9g: churn-and-reclaim cycle — the holdout dripped in as many
    // fragment appends, the per-cell compaction fired by the listing-
    // only bound; answers v9b's oracle verbatim, proving the reclaim
    // moves rows without changing any
    "v9g_maintained_index"    -> ((s, d) => Similarity.ivfMaintainedTopK(s, d)),
    // x7d: model-output validation — malformed/drifted completions
    // quarantined with reasons, valid extractions content-hash-pinned
    "x7d_extract_quarantine"  -> ((s, d) => LlmOps.extractWithQuarantine(s, d)),
    // v10: product quantization + ADC — 8 codes per vector (32x under
    // float32), query scored via a 256-entry LUT, corpus floats never
    // read at query time
    "v10_pq_adc"              -> ((s, d) => Similarity.pqTopK(s, d)),
    // v10b: ADC shortlist + exact re-rank (the FAISS refine pattern)
    "v10b_pq_rerank"          -> ((s, d) => Similarity.pqTopKReranked(s, d)),
    // v12: IVF+PQ — cell DPP prune x code-only ADC x exact refine, the
    // billion-scale composition (FAISS IndexIVFPQ) over a landed index
    "v12_ivfpq"               -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    // v12b: the same IVF+PQ probe over TRAINED per-subspace codebooks
    // (converged Lloyd, landed in _codebook/); oracle reads the landed
    // artifact and recomputes encode/LUT/ADC/re-rank from it
    "v12b_ivfpq_trained"      -> ((s, d) => Similarity.ivfPqTrainedTopK(s, d)),
    // winnowing fingerprints: oracle mirrors the Mersenne-61 polynomial
    // hash + winnowing in HUGEINT SQL (see fpWindowHashSql); DedupSpec
    // additionally pins the tier against exact jaccard
    "d6_rolling_fingerprint"  -> ((s, d) => Dedup.rollingFingerprintPairs(s, d)),
    // batched decode: same md5 derivation as m1 plus the frame-offset
    // sample, so the oracle extends m1's — the mapPartitions path is
    // driver-hash-checked, not just spec-compared to the expression path
    "m1b_decode_batched"      -> ((s, d) => Multimodal.decodeFeaturesBatched(s, d)),
    "d4b_simhash_pairs"       -> ((s, d) => Dedup.simhashPairs(s, d)),
    "t1b_bpe_token_count"     -> ((s, d) => TextOps.bpeTokenCounts(s, d)),
    "a12_pivot_counts"        -> ((s, d) => Relational.pivotCounts(s, d)),
    "a13_rollup_timeline"     -> ((s, d) => Relational.rollupTimeline(s, d)),
    "a14_group_percentiles"   -> ((s, d) => Relational.groupPercentiles(s, d)),
    "st2_session_windows"     -> ((s, d) => graft.streaming.EventsStream.sessionWindows(s, d)),
    // st3: a REAL Structured Streaming stream-stream interval join under
    // the driver's oracle — both sides watermarked, inner join in append
    // mode; single-file source = one micro-batch, so the emitted pair
    // set provably equals the batch band join the oracle computes
    "st3_stream_stream_join"  -> ((s, d) => graft.streaming.EventsStream.viewPurchaseJoinStreaming(s, d)),
    "j9b_self_hierarchy"      -> ((s, d) => Relational.selfHierarchy(s, d)),
    "etl1_donation_pipeline"  -> ((s, d) => graft.sources.ReferenceSources.donationPipelineOverOrders(s, d)),
    "s4_vote_scan"            -> ((s, d) => graft.sources.ReferenceSources.voteScanOverEvents(s, d)),
    "s5_bill_xml_scan"        -> ((s, d) => graft.sources.ReferenceSources.billXmlOverParts(s, d)),
    "s6_committee_flatten"    -> ((s, d) => graft.sources.ReferenceSources.committeesOverNations(s, d)),
    "s7_paged_scan"           -> ((s, d) => graft.sources.PagedSource.pagedScanOverCustomers(s, d)),
    "s8_zip_ingest"           -> ((s, d) => graft.sources.ZipSource.zipIngestOverOrders(s, d)),
    // etl1b: reject accounting over the same zip scan — the dropped
    // side of the lineage as a first-class output (scanned = inserted
    // + Σ rejects, reconciled against the oracle's classification)
    "etl1b_reject_counts"     -> ((s, d) => graft.sources.ZipSource.zipRejectCountsOverOrders(s, d)),
    "s16_partitioned_sink"    -> ((s, d) => Partitioned.partitionedIncrementalCounts(s, d)),
    "s16b_compacted_read"     -> ((s, d) => Partitioned.compactedIncrementalCounts(s, d)),
    // range-clustered layout: disjoint per-file key ranges, footer-pruned read
    "s17_sorted_layout"       -> ((s, d) => Partitioned.sortedLayoutRollup(s, d)),
    // s20: Morton-curve clustering — the multi-dim layout s17 can't
    // express; pruning proofs live in PartitionedSpec footer stats
    "s20_zorder_layout"       -> ((s, d) => Partitioned.zorderLayoutRollup(s, d)),
    // mergeSchema read across batches written before/after a column existed
    "s18_schema_evolution"    -> ((s, d) => Partitioned.schemaEvolutionRollup(s, d)),
    "j6b_salted_join"         -> ((s, d) => SkewJoin.saltedSegmentRevenue(s, d)),
    "j2b_bucketed_join"       -> ((s, d) => Bucketing.bucketedPriorityRevenue(s, d)),
    "v2b_neardup_bucketed"    -> ((s, d) => Similarity.nearDupTopPairsBucketed(s, d)),
    // v2c: int8-prefiltered near-dup against v2's EXACT oracle — the
    // hash proves the quantized candidate tier + stored-correction
    // bound loses nothing (the self-join runs on 1/4 the bytes)
    "v2c_neardup_quantized"   -> ((s, d) => Similarity.nearDupTopPairsQuantized(s, d)),
    "c1_corpus_curation"      -> ((s, d) => Curation.curate(s, d)),
    // c1b: the pair frame billed once — CC clustering + keep-one-per-
    // component survivors, chained with the quality/dedup/split stages
    // in one oracle statement (quality -> exact -> pairs -> closure ->
    // keep-min -> rollup)
    "c1b_clustered_curation"  -> ((s, d) => Curation.curateClustered(s, d)),
    "c2_sequence_packing"     -> ((s, d) => Curation.sequencePacking(s, d)),
    "x7_llm_extract"          -> ((s, d) => LlmOps.extractKeywords(s, d)),
    "x7b_llm_extract_batched" -> ((s, d) => LlmOps.extractKeywordsBatched(s, d)),
    "x7c_rag_answer"          -> ((s, d) => LlmOps.ragAnswer(s, d)),
    "c3_decontamination"      -> ((s, d) => Curation.decontaminate(s, d)),
    "c4_stratified_sample"    -> ((s, d) => Curation.stratifiedSample(s, d)),
    // c4b: per-document quality-proportional keep, exact integer
    // Bernoulli (u32*1e6 < ppm*2^32) — map-only importance sampling
    "c4b_weighted_sample"     -> ((s, d) => Curation.weightedSample(s, d)),
    "c5_mixture_epochs"       -> ((s, d) => Curation.mixtureEpochs(s, d)),
    // shard assignment + per-shard manifest (the dataloader handoff)
    "c6_shard_manifest"       -> ((s, d) => Curation.shardManifest(s, d)),
    // c7: per-source caps — exact top-cap per domain WITHOUT a
    // whole-corpus window (count → broadcast over-cap probe → salted
    // two-phase top-K); kept_id_sum pins exact membership in the hash
    "c7_source_caps"          -> ((s, d) => Curation.sourceCaps(s, d)),
    // j12/j12b: range join, two physical forms against one oracle —
    // broadcast NLJ for a small interval table, bucket-expansion equi
    // join for the large-interval-table scale path
    "j12_range_join"          -> ((s, d) => RangeJoin.bandRollup(s, d)),
    "j12b_range_bucketed"     -> ((s, d) => RangeJoin.bandRollupBucketed(s, d)),
    // s19: CDC-style snapshot diff — corpus v2 derived deterministically
    // (delete/rewrite/add by md5 bucket), classified by a digest-only
    // full-outer compare; id_sum pins exact membership of every class
    "s19_release_diff"        -> ((s, d) => SnapshotDiff.releaseDiff(s, d)),
    // a17/a18: per-user sequential analytics — funnels and retention
    // cohorts, all aggregations co-partitioned on user_id
    "a17_funnel_stages"       -> ((s, d) => Behavior.funnelStages(s, d)),
    "a18_retention_cohorts"   -> ((s, d) => Behavior.retentionCohorts(s, d)),
    // m3: cross-modal pair gate — text quality × embedding coherence
    // (ppm-floored label centroids, broadcast into the pair scan)
    "m3_paired_curation"      -> ((s, d) => Multimodal.pairedCuration(s, d)),
    // s19b: changelog -> apply reconstructs the release; the oracle
    // derives v2 directly, so the hash proves the round-trip exact
    "s19b_changelog_apply"    -> ((s, d) => SnapshotDiff.changelogApply(s, d)),
    "v6_kmeans_step"          -> ((s, d) => Similarity.kmeansStep(s, d)),
    "j11_asof_join"           -> ((s, d) => AsofJoin.viewBeforePurchase(s, d)),
    // j11b: horizon-bucket second equi key — same oracle as j11, so the
    // hash proves the bucket blocking lossless (the j7b pattern)
    "j11b_bucketed_asof"      -> ((s, d) => AsofJoin.viewBeforePurchaseBucketed(s, d)),
    // j11c: the custom AsofMergeExec operator (graft.plans) — same
    // oracle again, so the hash proves the O(n+m) physical merge
    // implements the band-join + argmax semantics exactly
    "j11c_merge_asof"         -> ((s, d) => AsofJoin.viewBeforePurchaseMerged(s, d)),
    "t5_pii_scrub"            -> ((s, d) => TextOps.piiScrub(s, d)),
    "t6_repetition_stats"     -> ((s, d) => TextOps.repetitionStats(s, d)),
    // d8: bloom-prefiltered incremental dedup — the oracle reproduces
    // the STATUSES with plain joins; hash equality proves the bloom
    // probe + exact verify loses and invents nothing (the bloom stays
    // a pure physical optimization)
    "d8_incremental_dedup"    -> ((s, d) => Dedup.incrementalDedup(s, d)),
    // d11: cross-source vocabulary overlap by HLL union — K sketches,
    // K²/2 pair estimates, no gram join on the production path; the
    // gate emits exact anchors + a within-5%-of-(n_a+n_b) boolean
    // (the a5b tolerance-oracle discipline)
    "d11_source_overlap"      -> ((s, d) => Dedup.sourceOverlap(s, d)),
    // d11b: d11's PRODUCTION path gated by itself — estimates from the
    // LANDED per-source sketches, zero gram joins in the plan; the
    // verdict is the feasibility envelope the exact marginals impose
    // (no exact overlap exists sketch-only — that anchor is d11's)
    "d11b_sketch_overlap"     -> ((s, d) => Dedup.sketchOverlap(s, d)),
    // c11: d11's overlap matrix consumed downstream — unique-mass
    // mixture weights in integer ppm (sources covered by another
    // source sample less; the c5 mixture tier's input form)
    "c11_overlap_weights"     -> ((s, d) => Curation.overlapWeights(s, d)),
    // d9: SEMANTIC dedup (SemDeDup) — embed, cluster coarsely, drop
    // within-cell pairs over the cosine threshold; the paraphrase
    // catcher the lexical tiers structurally miss.
    // NON-SCALING by construction (round-16 demotion note): the cell
    // table is the FIRST 8 doc embeddings, so the within-cell pass is
    // (n/8)² — it exists as the SQL-mirrored oracle crosscheck of the
    // assignment/pair/rollup arithmetic at gate SFs only. The
    // production verb is d9b_semantic_dedup_trained (corpus-scaled
    // k = ⌈n/256⌉ Lloyd cells, ~linear ladder in SCALE.md §1).
    "d9_semantic_dedup"       -> ((s, d) => Dedup.semanticDedup(s, d)),
    // d9b: the PRODUCTION form — corpus-scaled trained centroids from
    // the landed cell index (cells stay ~SemCellTarget as the corpus
    // grows; d9's fixed 8 cells are the measured (k/8)² blowup)
    "d9b_semantic_dedup_trained" -> ((s, d) => Dedup.semanticDedupTrained(s, d)),
    // d10: duplicate-SPAN detection (Lee et al. substring dedup) — the
    // "some gram occurs twice" test is a group-by, not a pair join
    "d10_duplicate_spans"     -> ((s, d) => Dedup.duplicateSpans(s, d)),
    // d10b: the excision — d10's maximal spans REMOVED from every
    // occurrence; output is the cleaned corpus itself, hash-proven
    "d10b_span_scrub"         -> ((s, d) => Dedup.spanScrub(s, d)),
    // t7: CCNet-style perplexity bucketing with an integer-quantized
    // corpus bigram LM (floor-log2 via bin-string length, both engines)
    "t7_bigram_surprisal"     -> ((s, d) => TextOps.bigramSurprisal(s, d)),
    // t7b: the production form — cutpoints from a hash sample, applied
    // map-side; the whole-language NTILE sort disappears
    "t7b_sampled_buckets"     -> ((s, d) => TextOps.bigramSurprisalSampled(s, d)),
    // t8: BPE merge learning — corpus collapses to the vocab table
    // once, then every round is a vocab-sized argmax + framed replace
    "t8_bpe_merges"           -> ((s, d) => Bpe.bpeMerges(s, d)),
    // t8b: the learned merge table applied corpus-wide — N replace
    // literals folded into the scan, one per-doc partial-agg rollup
    "t8b_bpe_tokenize"        -> ((s, d) => Bpe.bpeTokenize(s, d)),
    "e2_corpus_profile"       -> ((s, d) => Profile.corpusProfile(s, d)),
    // e2b: the generic profiler over a second table (more column types)
    "e2b_orders_profile"      -> ((s, d) => Profile.ordersProfile(s, d)),
    // e3: FK audit — three clean native relations (all-zero proven, not
    // assumed) + the planted one (docs vs the s19 release: deletions
    // become dangling refs); orphan_key_sum pins membership
    "e3_integrity_audit"      -> ((s, d) => Profile.integrityAudit(s, d)),
    // d7b: O(log n)-round star contraction, same oracle as d7
    "d7b_star_clusters"       -> ((s, d) => Dedup.dedupClustersStar(s, d)),
    // distributed connected components over the d2 edge set; the oracle
    // recomputes the same fixpoint via a recursive-CTE closure
    "d7_dedup_clusters"       -> ((s, d) => Dedup.dedupClusters(s, d)),
    // d7c: clusters MAINTAINED incrementally — arriving edges relabel
    // through the landed clustering (a quotient graph, one node per
    // cluster), CC runs over that delta-sized quotient, and min-label
    // composition is exact; hash-equal to d7 by the shared oracle
    "d7c_incremental_clusters" -> ((s, d) => Dedup.dedupClustersIncremental(s, d)),
    "a15_cube_totals"         -> ((s, d) => Relational.cubeTotals(s, d)),
    "w7_moving_average"       -> ((s, d) => Relational.movingAverage(s, d)),
    // c8: DSIR data selection (Xie et al.) — hashed-bigram importance
    // weights, both LMs integer-quantized (floor-log2), one count pass
    // + one broadcast-scored pass; selection is the ratio ≥ 1 gate
    "c8_dsir_selection"       -> ((s, d) => Curation.dsirSelection(s, d)),
    // t9: RAG chunking — overlapping token windows, map-only explode;
    // chunk contents pinned cross-engine by md5 of the token slice
    "t9_chunk_windows"        -> ((s, d) => TextOps.chunkWindows(s, d)),
    // t10: exact heavy hitters via count-min prefilter — the vocabulary
    // never shuffles; only CMS-qualified occurrences reach the groupBy
    "t10_heavy_hitters"       -> ((s, d) => TextOps.heavyHitters(s, d)),
    // t11: BM25 lexical ranking — rational Robertson idf (no ln), the
    // whole per-term weight ONE integral division; tf from array
    // filter/size (no explode), stats one broadcast row
    "t11_bm25_rank"           -> ((s, d) => TextOps.bm25Rank(s, d)),
    // t11b: BM25 over the LANDED inverted index — query reads only its
    // terms' bucket dirs (partition-pruned); t11's oracle verbatim
    "t11b_bm25_indexed"       -> ((s, d) => TextOps.bm25IndexedTopK(s, d)),
    // t11d: faceted search — hits + facet counts from one matching set
    "t11d_faceted_search"     -> ((s, d) => TextOps.bm25Faceted(s, d)),
    // t11e: takedown DELETE from the landed postings (bucket-scoped
    // rewrite + negative stats partial + docids forget); oracle = the
    // page over documents minus the doomed predicate
    "t11e_deleted_postings"   -> ((s, d) => TextOps.bm25DeletedTopK(s, d)),
    // t11f: full lifecycle (build − holdout, append, delete) then
    // COMPACT — fragmented buckets fold to one file each, stats
    // partials to one row, the ledger to its live set; t11e's oracle
    // proves compaction changes no answer
    "t11f_compacted_index"    -> ((s, d) => TextOps.bm25CompactedTopK(s, d)),
    // t11g: CDC-to-serving-index for the lexical tier — the s19
    // changelog applied to the landed postings via delete+re-append;
    // oracle = t11's page over the v2 corpus derived directly
    "t11g_cdc_index"          -> ((s, d) => TextOps.bm25CdcTopK(s, d)),
    // st7: the t11g release loop as a STREAM — changelog micro-batches
    // apply through the tombstone maintenance verbs; the round-12
    // delete makes every batch change-sized
    "st7_cdc_stream"          -> ((s, d) => TextOps.bm25CdcStreamedTopK(s, d)),
    // st8: exact dedup AT INGEST — d1's digest dedup as a stream; the
    // survivor table is built by micro-batched dedup-appends and IS the
    // replay ledger (arrival order pinned to doc_id order, so the
    // oracle is the batch min-doc_id winner per digest)
    "st8_dedup_stream"        -> ((s, d) => Dedup.streamedExactDedup(s, d)),
    // st9: NEAR-dup discovery at ingest — d3's MinHash-LSH tier as a
    // stream: arriving docs collide their band buckets against the
    // landed index, verify exactly, and append pairs/buckets/docs
    // (each artifact its own ledger). Pair discovery is arrival-order
    // invariant, so the oracle is d3's SQL verbatim
    "st9_neardup_stream"      -> ((s, d) => Dedup.streamedNearDupPairs(s, d)),
    // st10: CURATION AT INGEST — c1's quality→exact-dedup→near-dup
    // composition as one stream, near-dup tier on the MinHash pairs
    // (the arrival-time-computable tier); rollup oracle-checked
    // against the single-statement SQL composition
    "st10_curate_stream"      -> ((s, d) => Curation.streamedCurate(s, d)),
    // st4: streaming ingestion into the landed index — micro-batches
    // append through the t11c seam; t11's oracle verbatim proves the
    // stream-maintained index equals a batch rebuild
    "st4_streaming_index"     -> ((s, d) => TextOps.bm25StreamedTopK(s, d)),
    // st6: streaming ingestion into the landed ANN index — embedding
    // micro-batches append through the v9d seam (idempotent per
    // vector: the index is the ledger); v9b's oracle verbatim proves
    // the stream-maintained index equals a batch rebuild
    "st6_ann_stream"          -> ((s, d) => Similarity.ivfStreamedTopK(s, d)),
    // t11h: batched multi-query BM25 — one pruned index probe serves
    // three queries; per-term df shared, per-query WindowGroupLimit
    // top-k; oracle = UNION ALL of the solo pages
    "t11h_batch_queries"      -> ((s, d) => TextOps.bm25BatchTopK(s, d)),
    // t11i: the t11h batch composed with w5b's keyset pagination — N
    // queries each fetch page 2 with the cursor their page-1 response
    // carried; the keyset filter runs BEFORE the per-query top-k
    "t11i_batch_page2"        -> ((s, d) => TextOps.bm25BatchPage2(s, d)),
    // c9: cluster-balanced diversity selection — cap per SEMANTIC
    // cluster (the c7 cap over embedding cells instead of sources),
    // keeping each cell's highest-quality docs; composition of the
    // shared IVF argmax, t2's quality ppm, and a WindowGroupLimit rank
    "c9_cluster_caps"         -> ((s, d) => Curation.clusterCaps(s, d)),
    // v15: MMR diversity re-rank — distributed exact shortlist, then
    // the greedy 0.7·rel − 0.3·maxsim selection (driver, bounded 20
    // rows); oracle unrolls the k selection rounds as CTE stages
    "v15_mmr_rerank"          -> ((s, d) => Similarity.mmrRerank(s, d)),
    // v15b: MMR over the HYBRID fused page — the serving shape
    // (diversity applied to the page the user actually sees)
    "v15b_mmr_hybrid"         -> ((s, d) => Similarity.mmrRerankHybrid(s, d)),
    // v13b: hybrid fusion with the lexical tier from the landed index
    "v13b_hybrid_indexed"     -> ((s, d) => Similarity.hybridRrfIndexed(s, d)),
    // t11c: append-maintained index — day-2 docs land as new files
    // inside the bucket dirs, stats partial-row appended; t11's oracle
    // verbatim proves maintenance lossless
    "t11c_incremental_postings" -> ((s, d) => TextOps.bm25IncrementalTopK(s, d)),
    // v13: hybrid retrieval — v4's semantic page + t11's lexical page
    // fused by reciprocal-rank fusion in exact integers (lcm(61..70)
    // vote units)
    "v13_hybrid_rrf"          -> ((s, d) => Similarity.hybridRrf(s, d)),
    // v14: ColBERT-style late interaction — per-TOKEN vectors, MaxSim
    // scoring; per-term max columns keep the double sum fixed-order
    "v14_colbert_maxsim"      -> ((s, d) => Similarity.colbertMaxsim(s, d)),
    // i6/i6b: SCD2 dimension build (no-op updates collapsed, validity
    // intervals per change) + point-in-time fact annotation
    "i6_scd2_build"           -> ((s, d) => Scd2.scd2Build(s, d)),
    "i6b_point_in_time"       -> ((s, d) => Scd2.pointInTime(s, d)),
    // e5: feed-volume anomaly screen — 2σ outlier days per event type,
    // evaluated in exact integer arithmetic (DECIMAL38 / HUGEINT)
    "e5_volume_anomaly"       -> ((s, d) => Profile.volumeAnomaly(s, d)),
    // m4: perceptual (blockhash) near-dup over asset payloads — band
    // candidates, hamming-verified (banding provably lossless, ≤3 of
    // 4); emitted as the per-hamming rollup with id-sum pins so a
    // clean corpus is a positive hash-checked verdict, not 0 rows
    "m4_phash_neardup"        -> ((s, d) => Multimodal.phashNeardupRollup(s, d)),
    // j13: interval-OVERLAP join — all versions active during each
    // session (a long session spans several; i6b's point lookup can't)
    "j13_session_versions"    -> ((s, d) => Scd2.sessionVersions(s, d)),
    // ts1: calendar-spine hourly resample — gap hours exist as explicit
    // zero cells with last-observation-carried-forward value levels
    "ts1_gap_fill"            -> ((s, d) => Timeseries.gapFillHourly(s, d)),
    // ts2: median/MAD outlier flags over ts1's resampled cells — the
    // robust twin of e5's mean/stddev flags, zeros included
    "ts2_mad_outliers"        -> ((s, d) => Timeseries.madOutliersHourly(s, d)),
    // t12: exact phrase search — contiguous token-sequence occurrence
    // counting as one map-only column expression
    "t12_phrase_search"       -> ((s, d) => TextOps.phraseSearch(s, d)),
    // t12b: the same page over the LANDED positional index — bucket-
    // pruned per-term reads, anchor-join intersection
    "t12b_phrase_indexed"     -> ((s, d) => TextOps.phraseIndexedSearch(s, d)),
    // t13: pseudo-relevance-feedback expansion — mine the base page's
    // top terms, re-rank with the dynamic-term row-form scorer
    "t13_prf_expansion"       -> ((s, d) => TextOps.prfExpandedSearch(s, d)),
    // t13b: the same PRF page over the LANDED index — the probe pages,
    // the page docs mine, and the index's posting rows ARE the rescore
    "t13b_prf_indexed"        -> ((s, d) => TextOps.prfExpandedIndexed(s, d)),
    // t14: best-window snippets for the page docs (display layer)
    "t14_snippets"            -> ((s, d) => TextOps.snippetPage(s, d)),
    // g1: integer PageRank over the near-dup pair graph
    "g1_pagerank"             -> ((s, d) => Graph.pagerank(s, d)),
    // g1b: centrality-canonical selection per d7 cluster
    "g1b_canonical_rank"      -> ((s, d) => Graph.canonicalByRank(s, d)),
    // m5: cross-modal retrieval off the binary asset table, filtered
    // by decoded metadata (format), stub-embedded, cosine-ranked
    "m5_crossmodal_topk"      -> ((s, d) => Multimodal.crossmodalSearch(s, d)),
    // g2: per-doc triangle counts over the dup graph — clique-vs-chain
    // density the component label can't express
    "g2_triangles"            -> ((s, d) => Graph.triangles(s, d)),
    // g2b: per-node triangle counts MAINTAINED incrementally — wedges
    // enumerate at newly-arrived nodes only, close against the landed
    // pair frame, and merge into the landed base state; hash-equal to
    // g2's full wedge join by the shared oracle
    "g2b_incremental_triangles" -> ((s, d) => Graph.trianglesIncremental(s, d)),
    // g2c: the same maintenance DEGREE-ORIENTED — each new edge expands
    // its lower-degree endpoint's adjacency (Σ min-deg work, the
    // edge-iterator bound applied to the delta), once-counting by
    // lex-least new edge; closes g2b's measured Σ deg² 30× boundary
    "g2c_oriented_triangles"  -> ((s, d) => Graph.trianglesIncrementalOriented(s, d)),
    // t15: top bigram collocations by integer-ratio PMI (min-count
    // floored — the Church & Hanks hapax caveat)
    "t15_pmi_collocations"    -> ((s, d) => TextOps.pmiCollocations(s, d)),
    // v16: ANN recall@k — exact vs IVF-probe page overlap per query,
    // the drift monitor for every approximate tier
    "v16_ann_recall"          -> ((s, d) => Similarity.annRecallAtK(s, d)),
    // v16b: the recall monitor extended to the PQ tier — trained vs
    // first-32 codebooks measured from one shared exact frame
    "v16b_pq_recall"          -> ((s, d) => Similarity.pqRecallAtK(s, d)),
    // g3: 2-core extraction — fixed-round peel over the landed pair
    // graph; pendants and chains drop, mutually-supported cores stay
    "g3_kcore"                -> ((s, d) => Graph.kcore(s, d)),
    // g3b: the 2-core of the grown graph — g3's kernel peel, which
    // ran level with or faster than the deleted anchored regrowth at
    // every measured size (SCALE.md §5)
    "g3b_incremental_kcore"   -> ((s, d) => Graph.kcore(s, d)),
    // t16: prefix autocomplete from the corpus' own vocabulary,
    // ranked by document frequency
    "t16_autocomplete"        -> ((s, d) => TextOps.autocomplete(s, d)),
    // t16b: the same page over the LANDED vocab artifact — the probe
    // reads ONE first-letter partition dir
    "t16b_autocomplete_indexed" -> ((s, d) => TextOps.autocompleteIndexed(s, d)),
    // st5: st2's session rollup as a stateful streaming query —
    // session_window state merges across micro-batches
    "st5_session_stream"      -> ((s, d) =>
      graft.streaming.EventsStream.sessionWindowsStreaming(s, d)),
    // c10: split-leakage audit — near-dup pairs straddling the
    // train/eval boundary, the contamination metric c1b drives to zero
    "c10_split_leakage"       -> ((s, d) => Curation.splitLeakage(s, d)),
    // m6: every-Kth-frame sampling with per-frame signatures — the
    // video-corpus pre-training pass (decode stubbed, plumbing real)
    "m6_frame_sample"         -> ((s, d) => Multimodal.frameSample(s, d)),
    // g4: per-edge triangle support — support-0 edges are the
    // unsupported bridges graph cleaning drops before closure
    "g4_edge_support"         -> ((s, d) => Graph.weakEdges(s, d)),
    // g4b: the edge-level CDC companion (nodes g2b/g2c, clusters d7c,
    // edges here) — delta triangles add support to their three edges,
    // including old-old edges a new corner now supports; merged over
    // the landed old-old support frame
    "g4b_incremental_support" -> ((s, d) => Graph.weakEdgesIncremental(s, d)),
    // g1c: PageRank over the grown graph — g1's CSR kernel, which beat
    // the deleted frontier apply over a landed rank history at every
    // measured size (SCALE.md §3)
    "g1c_incremental_pagerank" -> ((s, d) => Graph.pagerank(s, d)),
    // g2d: the DISPATCHED triangle maintenance verb — routes g2b vs
    // g2c from two Δ-sized wedge-cost stats (round-12 task #1); the
    // probe knowledge as code, not PLANS.md prose
    "g2d_maintained_triangles" -> ((s, d) => Graph.trianglesMaintain(s, d)),
    // g3c: the k-core maintenance verb — g3's kernel peel, like g3b
    "g3c_maintained_kcore"    -> ((s, d) => Graph.kcore(s, d)),
    // d7d: the dispatched clustering maintenance verb — |E| vs the
    // exchange crossover routes full CC vs quotient apply
    "d7d_maintained_clusters" -> ((s, d) => Dedup.dedupClustersMaintain(s, d)),
    // g1d: the PageRank maintenance verb — g1's kernel, like g1c
    "g1d_maintained_pagerank" -> ((s, d) => Graph.pagerank(s, d)),
  )

  /** Shared oracle-SQL fragments (DuckDB dialect). */
  private val toksSql =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"

  /** The ONE quality-feature base select (t2's `f` CTE) and the ONE
    * quality_ppm expression — shared by the t2 and c9 oracles so the
    * quality definition cannot drift between them (the same shared-val
    * rule as toksSql / ivfAssignedCte). */
  private lazy val qualityBaseSql: String =
    s"""SELECT doc_id,
             len($toksSql) AS n_tokens,
             len(list_filter($toksSql,
               x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stopwords,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
           FROM documents"""

  private val qualityPpmSql: String =
    """CASE WHEN n_tokens = 0 THEN 0
                ELSE CAST(floor((least(n_tokens, 100) / 100.0 * 0.5
                     + n_stopwords / CAST(n_tokens AS DOUBLE) * 0.5) * 1000000.0) AS BIGINT) END"""

  /** DuckDB cosine over two 64-dim list expressions — shared by the
    * IVF oracle family (double promotion before multiply/accumulate,
    * left-to-right fold: IEEE-identical to the Spark VecDot plan). */
  private def cosSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(64),
               j -> CAST($a[j+1] AS DOUBLE) * CAST($b[j+1] AS DOUBLE)), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(64),
                  j -> CAST($a[j+1] AS DOUBLE) * CAST($a[j+1] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(64),
                  j -> CAST($b[j+1] AS DOUBLE) * CAST($b[j+1] AS DOUBLE)), (x, y) -> x + y)))"""

  /** The IVF assignment (v5/v9/v9b's shared CTE pair) over an
    * arbitrary base relation: every vector joins all centroids, keeps
    * its argmax cell. v9e passes a filtered base (post-delete); v9c
    * passes a `centsSql` reading the LANDED trained centroid table
    * instead of the first-8-by-id default. */
  private def ivfAssignedCteOver(rel: String,
      centsSql: Option[String] = None): String =
    s"""cents AS (
           ${centsSql.getOrElse(
             s"SELECT vec_id AS cent_id, embedding AS cent_emb\n           FROM $rel WHERE vec_id < 8")}),
         assigned AS (
           SELECT vec_id, label, embedding, cent_id FROM (
             SELECT e.vec_id, e.label, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ${cosSql("e.embedding", "c.cent_emb")}
                 DESC, c.cent_id) AS rn
             FROM $rel e CROSS JOIN cents c) t
           WHERE rn = 1)"""

  private val ivfAssignedCte: String = ivfAssignedCteOver("embeddings")

  /** v15's oracle: the relevance shortlist, then the k greedy MMR
    * selection rounds UNROLLED as generated CTE stages (the t8
    * discipline for iterative algorithms) — stage t computes every
    * remaining candidate's max similarity to the selected set, scores
    * 0.7·rel − 0.3·maxsim in the same double op order as the driver
    * greedy, and picks the (score DESC, vec_id) argmax. shortlist and
    * every sel$t are MATERIALIZED: each round references the previous
    * selection three times, so plain CTEs get inlined ~3^K-fold by the
    * optimizer (each expansion re-opening the parquet scan — observed
    * fd exhaustion at K=10); materializing pins one evaluation per
    * round. */
  /** The k greedy rounds over an arbitrary `shortlist(idCol, embedding,
    * rel)` CTE — shared by v15 (vector shortlist) and v15b (hybrid
    * page). Emits `shortlist` through `sel$K`; the caller appends its
    * final SELECT. */
  private def mmrChainSql(shortlistSql: String, idCol: String, K: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""shortlist AS MATERIALIZED ($shortlistSql),
         sel1 AS MATERIALIZED (
           SELECT $idCol, embedding, rel, 0.7 * rel - 0.3 * 0.0 AS mmr, 1 AS rnk
           FROM shortlist ORDER BY rel DESC, $idCol LIMIT 1)"""
    for (t <- 2 to K) {
      val prev = s"sel${t - 1}"
      sb ++= s""",
         ms$t AS (
           SELECT d.$idCol, MAX(${cosSql("d.embedding", "s.embedding")}) AS msim
           FROM shortlist d CROSS JOIN $prev s
           WHERE d.$idCol NOT IN (SELECT $idCol FROM $prev)
           GROUP BY d.$idCol),
         pick$t AS (
           SELECT d.$idCol, d.embedding, d.rel, 0.7 * d.rel - 0.3 * m.msim AS mmr, $t AS rnk
           FROM shortlist d JOIN ms$t m ON d.$idCol = m.$idCol
           ORDER BY mmr DESC, d.$idCol LIMIT 1),
         sel$t AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM pick$t)"""
    }
    sb.toString
  }

  private lazy val mmrSql: String = {
    val S = 20; val K = 10
    s"""WITH ${mmrChainSql(
      s"""SELECT e.vec_id, e.embedding, ${cosSql("e.embedding", "q.qe")} AS rel
           FROM embeddings e CROSS JOIN
             (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
           WHERE e.vec_id <> 0
           ORDER BY rel DESC, e.vec_id LIMIT $S""", "vec_id", K)}
         SELECT CAST(rnk AS INTEGER) AS rnk, vec_id, round(mmr, 6) AS mmr_r
         FROM sel$K ORDER BY rnk"""
  }

  /** v15b's oracle: the v13 fusion CTEs cut at the shortlist size, the
    * page docs' stub embeddings as the MMR vectors (rel = stub cosine
    * to the query — StubEmbed's floats are bit-identical to the
    * md5-window SQL derivation, so the unrounded greedy comparisons
    * agree), then the same MATERIALIZED greedy unroll as v15. */
  private lazy val mmrHybridSql: String = {
    val S = 20; val K = 10
    val L = operators.Similarity.RrfLcm
    s"""${stubSearchSql(operators.Similarity.DefaultQuery, S)},
         $bm25Ctes,
         sem AS (
           SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS INTEGER) AS r_sem
           FROM hits),
         lexp AS (
           SELECT doc_id, score_milli FROM bmscored WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT $S),
         lex AS (
           SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_milli DESC, doc_id) AS INTEGER) AS r_lex
           FROM lexp),
         fused AS (
           SELECT COALESCE(sem.doc_id, lex.doc_id) AS doc_id,
             COALESCE($L // (60 + r_sem), 0)
               + COALESCE($L // (60 + r_lex), 0) AS rrf_units
           FROM sem FULL OUTER JOIN lex ON sem.doc_id = lex.doc_id),
         pagef AS (
           SELECT doc_id FROM fused ORDER BY rrf_units DESC, doc_id LIMIT $S),
         ${mmrChainSql(
      s"""SELECT p.doc_id, dv.emb AS embedding, ${cosSql("dv.emb", "q.emb")} AS rel
           FROM pagef p JOIN dvec dv USING (doc_id) CROSS JOIN qvec q""",
      "doc_id", K)}
         SELECT CAST(rnk AS INTEGER) AS rnk, doc_id, round(mmr, 6) AS mmr_r
         FROM sel$K ORDER BY rnk"""
  }

  /** v5's IVF probe formulation, shared with v9 (landed-index probe). */
  private val ivfTopKSql: String =
    s"""WITH $ivfAssignedCte,
         q AS (SELECT embedding AS qe, cent_id FROM assigned WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id, e.label,
             ${cosSql("e.embedding", "q.qe")} AS sim
           FROM assigned e JOIN q ON e.cent_id = q.cent_id
           WHERE e.vec_id <> 0)
         SELECT vec_id, label, round(sim, 6) AS sim_r FROM scored
         ORDER BY sim DESC, vec_id LIMIT 10"""

  /** v11: the nprobe=2 probe under a metadata predicate — the filter
    * applies to the ASSIGNED rows before scoring, exactly where the
    * Spark plan pushes it. */
  private val ivfFilteredSql: String =
    s"""WITH $ivfAssignedCte,
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         qcells AS (
           SELECT c.cent_id FROM cents c CROSS JOIN q
           ORDER BY ${cosSql("c.cent_emb", "q.qe")} DESC, c.cent_id LIMIT 2),
         scored AS (
           SELECT e.vec_id, e.label,
             ${cosSql("e.embedding", "q.qe")} AS sim
           FROM assigned e CROSS JOIN q
           WHERE e.vec_id <> 0 AND e.label <= 2
             AND e.cent_id IN (SELECT cent_id FROM qcells))
         SELECT vec_id, label, round(sim, 6) AS sim_r FROM scored
         ORDER BY sim DESC, vec_id LIMIT 10"""

  /** v9b's nprobe=2 probe: cells ranked by query-to-centroid cosine,
    * the top TWO probed (same tie-break as the Spark plan: similarity
    * desc, cent_id asc). Parametrized over the base relation so v9e
    * reuses the identical probe over the post-delete corpus. */
  private def ivfNprobe2SqlOver(rel: String, prelude: String = "",
      centsSql: Option[String] = None): String =
    s"""WITH $prelude${ivfAssignedCteOver(rel, centsSql)},
         q AS (SELECT embedding AS qe FROM $rel WHERE vec_id = 0),
         qcells AS (
           SELECT c.cent_id FROM cents c CROSS JOIN q
           ORDER BY ${cosSql("c.cent_emb", "q.qe")} DESC, c.cent_id LIMIT 2),
         scored AS (
           SELECT e.vec_id, e.label,
             ${cosSql("e.embedding", "q.qe")} AS sim
           FROM assigned e CROSS JOIN q
           WHERE e.vec_id <> 0
             AND e.cent_id IN (SELECT cent_id FROM qcells))
         SELECT vec_id, label, round(sim, 6) AS sim_r FROM scored
         ORDER BY sim DESC, vec_id LIMIT 10"""

  private val ivfNprobe2Sql: String = ivfNprobe2SqlOver("embeddings")

  /** v9c's oracle: the SAME nprobe=2 probe, but the centroid table is
    * the landed trained index's own `_centroids/` parquet (the t11b
    * treatment — the oracle takes the artifact as input, so Lloyd's
    * float iteration needn't be mirrored; assignment, cell ranking and
    * scoring are still recomputed independently in SQL). `def`: the
    * path is recorded when the v9c query lands the index, and Verify
    * dumps oracle SQL only after every query has run. */
  private def v9cSql: String = ivfNprobe2SqlOver("embeddings",
    centsSql = Some(Similarity.trainedIndexPathForOracle match {
      case Some(p) =>
        s"""SELECT cent_id, cent_emb FROM read_parquet('$p/_centroids/*.parquet')"""
      case None =>
        // Same class as trainedCbSql below (round-11 ADVICE): fail loudly at
        // oracle time instead of interpolating a sentinel path into read_parquet.
        """SELECT error('v9c trained-centroid artifact was not landed in this
           Verify run (v9c did not execute — query-filtered run?); this oracle
           is only valid in a dump where it ran')::INTEGER AS cent_id,
           CAST(NULL AS DOUBLE[]) AS cent_emb"""
    }))

  /** v9e: the SAME probe over the corpus minus the doomed predicate —
    * what a rebuild-after-delete would serve; the Spark side serves it
    * from the partition-scoped deleted index instead. */
  private val v9eSql: String = ivfNprobe2SqlOver("base",
    "base AS (SELECT * FROM embeddings WHERE NOT (vec_id >= 8 AND vec_id % 7 = 6)),\n         ")

  /** v9f: the SAME probe over the v2 embedding release derived
    * DIRECTLY (the s19 md5-bucket derivation lifted to vectors:
    * bucket 0 deleted, bucket 1 embedding-reversed, bucket 2 twinned
    * at +AddOffset; rows below the centroid range never mutate) — the
    * Spark side serves it from the changelog-maintained landed index,
    * so hash equality proves diff-apply ≡ rebuild. list_reverse moves
    * floats without computing on them, exact on both engines. */
  private val v9fSql: String = ivfNprobe2SqlOver("base",
    s"""eb AS (
           SELECT vec_id, label, embedding,
             CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT)
               % ${operators.SnapshotDiff.DeriveBuckets} AS bkt
           FROM embeddings),
         base AS (
           SELECT vec_id, label,
             CASE WHEN vec_id >= ${operators.Similarity.IvfCentroids} AND bkt = 1
                  THEN list_reverse(embedding) ELSE embedding END AS embedding
           FROM eb WHERE vec_id < ${operators.Similarity.IvfCentroids} OR bkt <> 0
           UNION ALL
           SELECT vec_id + ${operators.SnapshotDiff.AddOffset}, label, embedding
           FROM eb WHERE vec_id >= ${operators.Similarity.IvfCentroids} AND bkt = 2),
         """)

  /** Exact within-label near-dup top-k, shared by v2 (exact all-pairs)
    * and v2c (int8-prefiltered candidates + exact re-rank) — equality
    * against the SAME oracle proves the quantized tier lossless. */
  private val nearDupSql: String =
    """WITH scored AS (
         SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
           list_reduce(list_transform(range(64),
             j -> CAST(a.embedding[j+1] AS DOUBLE) * CAST(b.embedding[j+1] AS DOUBLE)), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(64),
                j -> CAST(a.embedding[j+1] AS DOUBLE) * CAST(a.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range(64),
                j -> CAST(b.embedding[j+1] AS DOUBLE) * CAST(b.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))) AS sim
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id)
       SELECT label, a_id, b_id, round(sim, 6) AS sim_r FROM scored
       ORDER BY sim DESC, a_id, b_id LIMIT 20"""

  /** Range-join oracle shared by j12 (broadcast NLJ) and j12b (bucket
    * expansion): a plain BETWEEN join against the band table, inlined
    * as VALUES from the SAME Scala constant the operator uses. */
  private val rangeJoinSql: String = {
    val bands = operators.RangeJoin.PriceBands
      .map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")
    s"""WITH bands(band, lo, hi) AS (VALUES $bands)
       SELECT b.band, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
       FROM orders o JOIN bands b
         ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
       GROUP BY b.band ORDER BY b.band"""
  }

  /** The fuzzy-link formulation, shared by j7 and its banded j7b form
    * (equality against the SAME oracle proves the second blocking key
    * loses nothing). */
  private val fuzzyLinkSql =
    """WITH cn AS (
         SELECT c_custkey, c_name, c_nationkey,
           array_to_string(list_sort(regexp_split_to_array(trim(upper(trim(translate(c_name, '.,', '')))), '\s+')), ' ') AS norm_c
         FROM customer),
       sn AS (
         SELECT s_suppkey, s_name, s_nationkey,
           array_to_string(list_sort(regexp_split_to_array(trim(upper(trim(translate(replace(s_name, 'Supplier', 'Customer'), '.,', '')))), '\s+')), ' ') AS norm_s
         FROM supplier),
       scored AS (
         SELECT sn.s_suppkey, sn.s_name, cn.c_custkey, cn.c_name,
           CASE WHEN greatest(length(norm_c), length(norm_s)) = 0 THEN 100
                ELSE CAST(floor(100 * (1 - CAST(levenshtein(norm_c, norm_s) AS DOUBLE)
                     / greatest(length(norm_c), length(norm_s)))) AS INTEGER) END AS score
         FROM sn JOIN cn ON sn.s_nationkey = cn.c_nationkey
         WHERE abs(length(norm_c) - length(norm_s))
               <= floor(0.15 * greatest(length(norm_c), length(norm_s)))),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY s_suppkey
           ORDER BY score DESC, c_custkey) AS rn
         FROM scored)
       SELECT s_suppkey, s_name, c_custkey, c_name, score
       FROM ranked WHERE rn = 1 AND score > 85 ORDER BY s_suppkey"""

  /** The d6 window hash as HUGEINT SQL: hash of the K-char window at
    * 0-based position p equals sum(char_j · B^(K-1-j)) mod M — exactly
    * the expression RollingFingerprint computes by Horner/rolling
    * update. Powers are precomputed modulo M and interpolated, so both
    * engines share the hash family; products stay < 2^77 (HUGEINT). */
  private val fpWindowHashSql: String = {
    import graft.functions.RollingFingerprint.{B, K, M}
    val terms = (0 until K).map { j =>
      val pw = BigInt(B).modPow(BigInt(K - 1 - j), BigInt(M))
      s"CAST(ord(substr(t, x.p + ${j + 1}, 1)) AS HUGEINT) * ${pw}::HUGEINT"
    }
    s"(${terms.mkString("\n               + ")}) % ${M}::HUGEINT"
  }

  /** Minhash seed constants shared with operators.Dedup — interpolated
    * into the d3 oracle so both engines use the identical hash family. */
  private val minhashSeedsSql: String =
    (0 until operators.Dedup.MinHashK)
      .map(i => s"(${i}, ${i / (operators.Dedup.MinHashK / operators.Dedup.LshBands)}, ${operators.Dedup.seedA(i)}, ${operators.Dedup.seedB(i)})")
      .mkString(", ")

  private val xSevenSql =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
         FROM documents),
       filt AS (
         SELECT doc_id, token FROM toks
         WHERE length(token) >= 4
           AND token NOT IN ('that','with','this','from','have','were','they','their')),
       counted AS (
         SELECT doc_id, token, COUNT(*) AS cnt FROM filt GROUP BY doc_id, token),
       ranked AS (
         SELECT doc_id, token,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rk
         FROM counted)
       SELECT doc_id, string_agg(token, ',' ORDER BY rk) AS keywords
       FROM ranked WHERE rk <= 5
       GROUP BY doc_id
       ORDER BY doc_id"""

  /** The stub-embedder retrieval formulation shared by v4 and x7c:
    * StubEmbed's md5-window token-hash derivation mirrored verbatim —
    * per-token 32-bit digest windows centered and summed as EXACT
    * integers (HUGEINT, order-free), one division by 2^32, an
    * ordered-fold L2 norm, float32 rounding via CAST AS REAL — then the
    * v1w cosine folds. Emits a WITH chain ending in `hits` (doc_id,
    * full-precision sim, top-`k` by sim). */
  /** DuckDB twins of the StubEmbed derivation (md5-window components,
    * float32 unit-norm) — shared by the v4/x7c retrieval oracles and
    * d9's semantic dedup. */
  private def stubVecOf(comp: String, keyed: Boolean): String =
    stubVecKeyed(comp, if (keyed) "doc_id" else "")
  /** Key-generalized form: `key` is the grouping column carried through
    * ("" = a single anonymous vector, "doc_id" = per-document,
    * "tok" = per-TOKEN — the v14 late-interaction unit). */
  private def stubVecKeyed(comp: String, key: String): String = {
    val k = if (key.isEmpty) "" else s"$key, "
    s"""(SELECT ${k}list_transform(raw, v ->
           CASE WHEN nrm = 0 THEN CAST(0.0 AS REAL) ELSE CAST(v / nrm AS REAL) END) AS emb
         FROM (SELECT ${k}raw,
                 sqrt(list_reduce(list_transform(raw, v -> v * v), (x, y) -> x + y)) AS nrm
               FROM (SELECT ${k}list(s / 4294967296.0 ORDER BY j) AS raw
                     FROM $comp GROUP BY ALL)))"""
  }
  private def stubCompOf(toks: String, keyed: Boolean,
      dim: Int = graft.functions.StubEmbed.DefaultDim): String =
    stubCompKeyed(toks, if (keyed) "doc_id" else "", dim)
  private def stubCompKeyed(toks: String, key: String,
      dim: Int = graft.functions.StubEmbed.DefaultDim): String = {
    val k = if (key.isEmpty) "" else s"$key, "
    s"""(SELECT ${k}x.j AS j,
           SUM(CAST('0x' || substr(md5(tok || ':' || CAST(x.j // 4 AS VARCHAR)),
                 CAST(1 + 8 * (x.j % 4) AS INTEGER), 8) AS BIGINT) - 2147483648) AS s
         FROM $toks, unnest(range($dim)) AS x(j)
         GROUP BY ALL)"""
  }

  /** The per-document stub-embedding CTE pair (dtoks + dvec). */
  private def stubDocVecCtes: String =
    s"""dtoks AS (
         SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
         FROM documents),
       dvec AS ${stubVecOf(stubCompOf("dtoks", keyed = true), keyed = true)}"""

  private def stubSearchSql(query: String, k: Int): String =
    "WITH " + stubSearchCtes(query, k, "documents")

  /** The CTE list (dtoks … hits), base-relation-parametrized so m5 can
    * run the same retrieval over a metadata-filtered asset set. */
  private def stubSearchCtes(query: String, k: Int, rel: String): String = {
    val dim = graft.functions.StubEmbed.DefaultDim
    // tokenize the query EXACTLY as StubEmbed does (Locale.ROOT lower,
    // the explicit [\t\n\f\r ] class — Java \s+ admits U+000B, RE2
    // does not), and escape quotes so a token can never splice SQL
    val qToks = query.trim.toLowerCase(java.util.Locale.ROOT)
      .split("[\\t\\n\\f\\r ]+").filter(_.nonEmpty)
      .map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    def vecOf(comp: String, keyed: Boolean): String = stubVecOf(comp, keyed)
    def compOf(toks: String, keyed: Boolean): String = stubCompOf(toks, keyed, dim)
    s"""dtoks AS (
         SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
         FROM $rel),
       qtoks AS (SELECT unnest([$qToks]) AS tok),
       dvec AS ${vecOf(compOf("dtoks", keyed = true), keyed = true)},
       qvec AS ${vecOf(compOf("qtoks", keyed = false), keyed = false)},
       hits AS (
         SELECT dv.doc_id,
           list_reduce(list_transform(range($dim),
             j -> CAST(dv.emb[j+1] AS DOUBLE) * CAST(q.emb[j+1] AS DOUBLE)), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range($dim),
                j -> CAST(dv.emb[j+1] AS DOUBLE) * CAST(dv.emb[j+1] AS DOUBLE)), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(range($dim),
                j -> CAST(q.emb[j+1] AS DOUBLE) * CAST(q.emb[j+1] AS DOUBLE)), (x, y) -> x + y))) AS sim
         FROM dvec dv, qvec q
         ORDER BY sim DESC, doc_id LIMIT $k)"""
  }

  /** d10/d10b shared: the span-detection chain through `sp` (doc_id,
    * pos, span_id) — same md5-derived gram hash and island rule as
    * Dedup.spanIslandsOf. */
  private lazy val d10Ctes: String = {
    val k = operators.Dedup.SpanGram
    s"""t AS (
           SELECT doc_id, $toksSql AS w FROM documents),
         g AS (
           SELECT doc_id, x.i AS pos,
             CAST('0x' || substr(md5(array_to_string(w[x.i+1:x.i+$k], ' ')), 1, 15) AS BIGINT) AS gram_h
           FROM t, unnest(range(len(w) - ${k - 1})) AS x(i)
           WHERE len(w) >= $k),
         dup AS (SELECT gram_h FROM g GROUP BY gram_h HAVING COUNT(*) >= 2),
         hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram_h)),
         brk AS (
           SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    <= $k THEN 0 ELSE 1 END AS brk
           FROM hits),
         sp AS (
           SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
           FROM brk)"""
  }

  /** t11/v13 shared: the BM25 scored frame — mirrors
    * TextOps.bm25ScoredOf integer-for-integer (rational Robertson idf,
    * common-denominator saturation, ONE integral division per term;
    * every aggregate CAST to BIGINT so DuckDB's HUGEINT SUM never
    * reaches the output). Terms interpolated from the same constant
    * the Spark plan uses. */
  private lazy val bm25Ctes: String = bm25CtesOver("documents")

  /** Base-relation-parametrized form: t11e passes a post-delete
    * filtered base (the v9e oracle discipline). `terms`/`tag` let
    * t11h's batch oracle stack one independently-named CTE chain per
    * query over the same corpus. */
  private def bm25CtesOver(rel: String,
      terms: Seq[String] = operators.TextOps.Bm25Terms,
      tag: String = ""): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> lower(x) = '${t.replace("'", "''")}')) AS BIGINT) AS tf$i"
    }.mkString(",\n           ")
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n           ")
    val scoreSum = terms.indices.map(i =>
      s"""(44000 * tf$i * tot * (2*n - 2*df$i + 1))
             // GREATEST((2*df$i + 1) * (20 * tf$i * tot + 6 * tot + 18 * dl * n), 1)""")
      .mkString("\n           + ")
    s"""bmt$tag AS (
           SELECT doc_id, lang, source, $toksSql AS w FROM $rel),
         bmd$tag AS (
           SELECT doc_id, lang, source, CAST(len(w) AS BIGINT) AS dl,
           $tfCols
           FROM bmt$tag),
         bmstats$tag AS (
           SELECT COUNT(*) AS n, CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS tot,
           $dfCols
           FROM bmd$tag),
         bmscored$tag AS (
           SELECT doc_id, lang, source,
           $scoreSum AS score_milli
           FROM bmd$tag CROSS JOIN bmstats$tag)"""
  }

  /** t11h's oracle: each batch query's SOLO page (its own tagged CTE
    * chain over the same corpus), UNION ALL'd under its query_id —
    * hash equality proves the one-probe batch serves every query
    * exactly what it would get alone. */
  private lazy val bm25BatchPageSql: String = {
    val chains = operators.TextOps.Bm25Queries.map { case (qid, q) =>
      bm25CtesOver("documents", operators.TextOps.bm25TermsOf(q), s"_q$qid")
    }.mkString(",\n         ")
    val pages = operators.TextOps.Bm25Queries.map { case (qid, _) =>
      s"""SELECT CAST($qid AS INTEGER) AS query_id, doc_id, lang, score_milli
           FROM (SELECT doc_id, lang, score_milli FROM bmscored_q$qid
                 WHERE score_milli > 0
                 ORDER BY score_milli DESC, doc_id LIMIT 10) p$qid"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH $chains
         SELECT query_id, doc_id, lang, score_milli FROM (
           $pages) u
         ORDER BY query_id, doc_id"""
  }

  /** t11i's oracle: each query's OFFSET page-2 slice — the ranking
    * order is total (score desc, doc_id asc), so the engine's keyset
    * page 2 must equal the offset slice row-for-row. */
  private lazy val bm25BatchPage2Sql: String = {
    val chains = operators.TextOps.Bm25Queries.map { case (qid, q) =>
      bm25CtesOver("documents", operators.TextOps.bm25TermsOf(q), s"_q$qid")
    }.mkString(",\n         ")
    val pages = operators.TextOps.Bm25Queries.map { case (qid, _) =>
      s"""SELECT CAST($qid AS INTEGER) AS query_id, doc_id, lang, score_milli
           FROM (SELECT doc_id, lang, score_milli FROM bmscored_q$qid
                 WHERE score_milli > 0
                 ORDER BY score_milli DESC, doc_id LIMIT 10 OFFSET 10) p$qid"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH $chains
         SELECT query_id, doc_id, lang, score_milli FROM (
           $pages) u
         ORDER BY query_id, doc_id"""
  }

  /** The v13/v13b fusion SQL — the indexed hybrid answers it verbatim. */
  private lazy val oracleSqlOfV13: String =
    s"""${stubSearchSql(operators.Similarity.DefaultQuery, 10)},
         $bm25Ctes,
         sem AS (
           SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS INTEGER) AS r_sem
           FROM hits),
         lexp AS (
           SELECT doc_id, score_milli FROM bmscored WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT 10),
         lex AS (
           SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_milli DESC, doc_id) AS INTEGER) AS r_lex
           FROM lexp),
         fused AS (
           SELECT COALESCE(sem.doc_id, lex.doc_id) AS doc_id,
             CAST(COALESCE(r_sem, 0) AS INTEGER) AS r_sem,
             CAST(COALESCE(r_lex, 0) AS INTEGER) AS r_lex,
             COALESCE(${operators.Similarity.RrfLcm} // (60 + r_sem), 0)
               + COALESCE(${operators.Similarity.RrfLcm} // (60 + r_lex), 0) AS rrf_units
           FROM sem FULL OUTER JOIN lex ON sem.doc_id = lex.doc_id)
         SELECT doc_id, r_sem, r_lex, CAST(rrf_units AS BIGINT) AS rrf_units FROM (
           SELECT * FROM fused ORDER BY rrf_units DESC, doc_id LIMIT 10) t
         ORDER BY doc_id"""

  /** The t11/t11b page SQL: top-10 matching docs by integer BM25. */
  private lazy val bm25PageSql: String =
    s"""WITH $bm25Ctes
         SELECT doc_id, lang, score_milli FROM (
           SELECT doc_id, lang, score_milli FROM bmscored
           WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT 10) t
         ORDER BY doc_id"""

  /** t11e's oracle: the same page over the corpus MINUS the doomed
    * predicate — what a rebuild-after-takedown would serve. */
  private lazy val bm25DeletedPageSql: String =
    s"""WITH bmbase AS (SELECT * FROM documents WHERE NOT (doc_id % 9 = 7)),
         ${bm25CtesOver("bmbase")}
         SELECT doc_id, lang, score_milli FROM (
           SELECT doc_id, lang, score_milli FROM bmscored
           WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT 10) t
         ORDER BY doc_id"""

  /** t11g's oracle: the t11 page over the v2 corpus derived DIRECTLY
    * (the s19 nextRelease derivation) — the Spark side serves it from
    * the changelog-maintained landed index. */
  private lazy val bm25CdcPageSql: String =
    s"""WITH bb AS (
           SELECT doc_id, text, lang, source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % ${operators.SnapshotDiff.DeriveBuckets} AS bkt
           FROM documents),
         bmbase AS (
           SELECT doc_id,
             CASE WHEN bkt = 1 THEN text || ' [rev2]' ELSE text END AS text,
             lang, source FROM bb WHERE bkt <> 0
           UNION ALL
           SELECT doc_id + ${operators.SnapshotDiff.AddOffset},
             text || ' [new]', lang, source FROM bb WHERE bkt = 2),
         ${bm25CtesOver("bmbase")}
         SELECT doc_id, lang, score_milli FROM (
           SELECT doc_id, lang, score_milli FROM bmscored
           WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT 10) t
         ORDER BY doc_id"""

  /** t8: the BPE merge learner, unrolled — one (pairs → argmax →
    * framed replace) CTE stage per round, exactly the loop
    * operators.Bpe.learnMerges drives. The framed-string replace is
    * greedy non-overlapping on both engines (see Bpe scaladoc); the
    * LEFT JOIN ON TRUE keeps later stages alive if a round runs dry
    * (mirroring the Scala early-stop). */
  /** The learner CTE chain (v0 + one p/m/v stage per round) — shared
    * by t8 (emit the merge table) and t8b (apply it corpus-wide). */
  private lazy val t8Ctes: String = {
    val rounds = operators.Bpe.BpeRounds
    val stages = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT s[x.i+1] AS lhs, s[x.i+2] AS rhs, SUM(freq) AS pair_count
           FROM (SELECT regexp_extract_all(syms, '\\[([^\\]]*)\\]', 1) AS s, freq
                 FROM v${r - 1}), unnest(range(len(s) - 1)) AS x(i)
           GROUP BY 1, 2),
         m$r AS (
           SELECT lhs, rhs, pair_count FROM p$r
           ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         v$r AS (
           SELECT CASE WHEN m.lhs IS NULL THEN v.syms
                  ELSE replace(v.syms, '[' || m.lhs || '][' || m.rhs || ']',
                               '[' || m.lhs || m.rhs || ']') END AS syms, v.freq
           FROM v${r - 1} v LEFT JOIN m$r m ON TRUE)"""
    }.mkString(",\n         ")
    s"""v0 AS (
           SELECT regexp_replace(word, '(.)', '[\\1]', 'g') AS syms, COUNT(*) AS freq
           FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               x -> x <> '')) AS word
                 FROM documents)
           WHERE word NOT LIKE '%[%' AND word NOT LIKE '%]%'
           GROUP BY word),
         $stages"""
  }

  private lazy val t8Sql: String = {
    val rounds = operators.Bpe.BpeRounds
    val union = (1 to rounds).map { r =>
      s"SELECT $r AS merge_rank, lhs, rhs, lhs || rhs AS merged, CAST(pair_count AS BIGINT) AS pair_count FROM m$r"
    }.mkString("\n           UNION ALL ")
    s"""WITH $t8Ctes
         SELECT CAST(merge_rank AS INTEGER) AS merge_rank, lhs, rhs, merged, pair_count
         FROM ($union)
         ORDER BY merge_rank"""
  }

  /** t8b: the learned merges applied corpus-wide — the same m1..mN
    * single-row CTEs, nested as framed replace() calls over every
    * corpus token (COALESCE to a never-matching chr(1) pattern keeps a
    * dry round a no-op, mirroring the Scala early stop). Symbol count
    * per word is its bracket count — pure integer arithmetic. */
  private lazy val t8bSql: String = {
    val rounds = operators.Bpe.BpeRounds
    val applied = (1 to rounds).foldLeft("regexp_replace(word, '(.)', '[\\1]', 'g')") {
      (acc, r) =>
        s"""replace($acc,
             COALESCE('[' || (SELECT lhs FROM m$r) || '][' || (SELECT rhs FROM m$r) || ']', chr(1)),
             COALESCE('[' || (SELECT lhs || rhs FROM m$r) || ']', chr(1)))"""
    }
    s"""WITH $t8Ctes,
         tok AS (
           SELECT doc_id, word FROM (
             SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                      x -> x <> '')) AS word
             FROM documents)
           WHERE word NOT LIKE '%[%' AND word NOT LIKE '%]%'),
         ap AS (SELECT doc_id, word, $applied AS s FROM tok)
         SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(length(word)) AS BIGINT) AS n_chars,
           CAST(SUM(length(s) - length(replace(s, '[', ''))) AS BIGINT) AS n_bpe_tokens,
           CAST(FLOOR(SUM(length(s) - length(replace(s, '[', ''))) * 1000000.0
             / SUM(length(word))) AS BIGINT) AS compression_ppm
         FROM ap GROUP BY doc_id ORDER BY doc_id"""
  }

  /** v10: the PQ tier — first-32 codebook, per-subspace L2 argmin
    * encode (rn=1 with the (dist, code) tie-break), query LUT, ADC as
    * a left-to-right add of 8 correlated scalar lookups (no float sum
    * crosses an aggregation). */
  /** The v10 encode/LUT/ADC CTE chain over a pluggable codebook CTE
    * body — the first-32 selection by default; v12b passes a
    * read_parquet over the landed TRAINED `_codebook/` (the v9c
    * artifact-as-input treatment). */
  private def v10CtesOver(cbSql: String): String = {
    import operators.Similarity.{PqSubDim, PqSubspaces}
    def fold(expr: String) =
      s"list_reduce(list_transform(range($PqSubDim), j -> $expr), (a, b) -> a + b)"
    val l2 = fold(
      """(CAST(e.embedding[x.m*8+j+1] AS DOUBLE) - CAST(cb.cb_emb[x.m*8+j+1] AS DOUBLE))
         * (CAST(e.embedding[x.m*8+j+1] AS DOUBLE) - CAST(cb.cb_emb[x.m*8+j+1] AS DOUBLE))""")
    val dot = fold(
      "CAST(q.q_emb[x.m*8+j+1] AS DOUBLE) * CAST(cb.cb_emb[x.m*8+j+1] AS DOUBLE)")
    val wideCols = (0 until PqSubspaces)
      .map(m => s"MAX(CASE WHEN m = $m THEN cb_k END) AS c$m").mkString(",\n           ")
    val adc = (0 until PqSubspaces)
      .map(m => s"(SELECT val FROM lut WHERE m = $m AND cb_k = w.c$m)")
      .mkString("\n             + ")
    s"""cb AS ($cbSql),
         dists AS (
           SELECT e.vec_id, e.label, cb.cb_k, x.m AS m, $l2 AS dist
           FROM embeddings e CROSS JOIN cb, unnest(range($PqSubspaces)) AS x(m)),
         codes AS (
           SELECT vec_id, label, m, cb_k FROM (
             SELECT vec_id, label, m, cb_k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cb_k) AS rn
             FROM dists) WHERE rn = 1),
         q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         lut AS (
           SELECT cb.cb_k, x.m AS m, $dot AS val
           FROM cb CROSS JOIN q, unnest(range($PqSubspaces)) AS x(m)),
         wide AS (
           SELECT vec_id, label, $wideCols
           FROM codes GROUP BY vec_id, label),
         scored AS (
           SELECT w.vec_id, w.label,
             $adc AS adc
           FROM wide w WHERE w.vec_id <> 0)"""
  }

  private lazy val v10Ctes: String = {
    import operators.Similarity.PqCodebook
    v10CtesOver(s"""SELECT CAST(vec_id AS INTEGER) AS cb_k, embedding AS cb_emb
           FROM embeddings WHERE vec_id < $PqCodebook""")
  }

  /** The trained codebook read from the landed v12b artifact — `def`:
    * the path is recorded when the v12b/v16b query lands the index,
    * and Verify dumps oracle SQL after every query has run (the v9c
    * mechanism). If NEITHER ran in this dump (a query-filtered Verify),
    * the oracle cannot name a real artifact; it must not interpolate a
    * sentinel path that would surface as a baffling file-not-found at
    * verify time (round-11 ADVICE) — instead it emits a SELF-DIAGNOSING
    * oracle that raises DuckDB's error() with the actual cause. The
    * dump itself stays valid JSON and every other query's compare is
    * unaffected; only running v12b/v16b's oracle without its query
    * fails, and it fails saying why. */
  private def trainedCbSql: String =
    operators.Similarity.pqTrainedPathForOracle match {
      case Some(p) =>
        s"""SELECT cb_k, cb_emb FROM read_parquet('$p/_codebook/*.parquet')"""
      case None =>
        """SELECT error('v12b trained-codebook artifact was not landed in this
           Verify run (v12b/v16b did not execute — query-filtered run?); this
           oracle is only valid in a dump where they ran')::INTEGER AS cb_k,
           CAST(NULL AS DOUBLE[]) AS cb_emb"""
    }

  private lazy val v10Sql: String =
    s"""WITH $v10Ctes
         SELECT vec_id, label, ROUND(adc, 6) AS adc_r FROM scored
         ORDER BY adc DESC, vec_id LIMIT 10"""

  /** v10b: the ADC shortlist re-ranked by the exact 64-dim inner
    * product (same left-to-right fold as the cosine family). */
  private lazy val v10bSql: String = {
    val dot64 = """list_reduce(list_transform(range(64),
             j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(q.q_emb[j+1] AS DOUBLE)),
             (a, b) -> a + b)"""
    s"""WITH $v10Ctes,
         short AS (
           SELECT vec_id FROM scored ORDER BY adc DESC, vec_id LIMIT 50),
         rer AS (
           SELECT e.vec_id, e.label, $dot64 AS ip
           FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q)
         SELECT vec_id, label, ROUND(ip, 6) AS ip_r FROM rer
         ORDER BY ip DESC, vec_id LIMIT 10"""
  }

  /** v12: IVF+PQ — the v10 code/LUT/ADC CTEs composed with the IVF
    * assignment + nprobe=2 cell ranking: ADC candidates restricted to
    * the probed cells, shortlist of 50 by ADC, exact inner-product
    * re-rank. ADC doubles are fold-order-identical to the Spark plan
    * (the v10 argument), so shortlist membership — the only thing the
    * ADC decides here — matches exactly. */
  private def v12SqlOver(pqCtes: String): String = {
    val dot64 = """list_reduce(list_transform(range(64),
             j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(q.q_emb[j+1] AS DOUBLE)),
             (a, b) -> a + b)"""
    s"""WITH $ivfAssignedCte,
         $pqCtes,
         qcells AS (
           SELECT c.cent_id FROM cents c CROSS JOIN q
           ORDER BY ${cosSql("c.cent_emb", "q.q_emb")} DESC, c.cent_id LIMIT 2),
         probed AS (
           SELECT s.vec_id, s.adc FROM scored s JOIN assigned a USING (vec_id)
           WHERE a.cent_id IN (SELECT cent_id FROM qcells)),
         short AS (SELECT vec_id FROM probed ORDER BY adc DESC, vec_id LIMIT 50),
         rer AS (
           SELECT e.vec_id, e.label, $dot64 AS ip
           FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q)
         SELECT vec_id, label, ROUND(ip, 6) AS ip_r FROM rer
         ORDER BY ip DESC, vec_id LIMIT 10"""
  }

  private lazy val v12Sql: String = v12SqlOver(v10Ctes)

  /** v12b: the identical IVF+PQ probe with the codebook read from the
    * landed trained artifact — encode, LUT, ADC shortlist and re-rank
    * all recomputed independently in SQL from it. */
  private def v12bSql: String = v12SqlOver(v10CtesOver(trainedCbSql))

  /** v16b: PQ-tier recall — exact inner-product top-10 per query
    * (vec_id < 8) vs the ADC top-10 of BOTH codebook tiers (first-32
    * derived in SQL; trained read from the v12b artifact). */
  private def v16bSql: String = {
    import operators.Similarity.{PqCodebook, PqSubDim, PqSubspaces}
    def fold(expr: String) =
      s"list_reduce(list_transform(range($PqSubDim), j -> $expr), (a, b) -> a + b)"
    val dot64 = """list_reduce(list_transform(range(64),
             j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(q.q_emb[j+1] AS DOUBLE)),
             (a, b) -> a + b)"""
    // one tier's encode/LUT/ADC/top/hit chain over a named codebook CTE
    def tier(tag: String): String = {
      val l2 = fold(
        s"""(CAST(e.embedding[x.m*8+j+1] AS DOUBLE) - CAST(cb.cb_emb[x.m*8+j+1] AS DOUBLE))
           * (CAST(e.embedding[x.m*8+j+1] AS DOUBLE) - CAST(cb.cb_emb[x.m*8+j+1] AS DOUBLE))""")
      val dot = fold(
        "CAST(q.q_emb[x.m*8+j+1] AS DOUBLE) * CAST(cb.cb_emb[x.m*8+j+1] AS DOUBLE)")
      val wideCols = (0 until PqSubspaces)
        .map(m => s"MAX(CASE WHEN m = $m THEN cb_k END) AS c$m").mkString(", ")
      val adc = (0 until PqSubspaces)
        .map(m => s"(SELECT val FROM lut_$tag l WHERE l.query_id = s.query_id AND l.m = $m AND l.cb_k = s.c$m)")
        .mkString("\n             + ")
      s"""dists_$tag AS (
           SELECT e.vec_id, cb.cb_k, x.m AS m, $l2 AS dist
           FROM corpus e CROSS JOIN cb_$tag cb, unnest(range($PqSubspaces)) AS x(m)),
         codes_$tag AS (
           SELECT vec_id, m, cb_k FROM (
             SELECT vec_id, m, cb_k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cb_k) AS rn
             FROM dists_$tag) WHERE rn = 1),
         lut_$tag AS (
           SELECT q.query_id, cb.cb_k, x.m AS m, $dot AS val
           FROM cb_$tag cb CROSS JOIN qs q, unnest(range($PqSubspaces)) AS x(m)),
         wide_$tag AS (SELECT vec_id, $wideCols FROM codes_$tag GROUP BY vec_id),
         scored_$tag AS (
           SELECT s.query_id, s.vec_id, $adc AS adc
           FROM (SELECT q.query_id, w.* FROM wide_$tag w CROSS JOIN (SELECT query_id FROM qs) q) s),
         top_$tag AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rk
             FROM scored_$tag) WHERE rk <= 10),
         hits_$tag AS (
           SELECT t.query_id, COUNT(*) AS n FROM top_$tag t
           JOIN exact x ON t.query_id = x.query_id AND t.vec_id = x.vec_id
           GROUP BY t.query_id)"""
    }
    s"""WITH qs AS (
           SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
         exact AS (
           SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY $dot64 DESC, e.vec_id) AS rk
             FROM corpus e CROSS JOIN qs q) WHERE rk <= 10),
         cb_c32 AS (
           SELECT CAST(vec_id AS INTEGER) AS cb_k, embedding AS cb_emb
           FROM embeddings WHERE vec_id < $PqCodebook),
         cb_tr AS ($trainedCbSql),
         ${tier("c32")},
         ${tier("tr")}
         SELECT q.query_id, CAST(10 AS BIGINT) AS k,
           CAST(COALESCE(h32.n, 0) AS BIGINT) AS n_hit_cb32,
           CAST(COALESCE(ht.n, 0) AS BIGINT) AS n_hit_trained,
           CAST(COALESCE(h32.n, 0) * 1000000 // 10 AS BIGINT) AS recall_cb32_ppm,
           CAST(COALESCE(ht.n, 0) * 1000000 // 10 AS BIGINT) AS recall_trained_ppm
         FROM (SELECT query_id FROM qs) q
         LEFT JOIN hits_c32 h32 ON q.query_id = h32.query_id
         LEFT JOIN hits_tr ht ON q.query_id = ht.query_id
         ORDER BY q.query_id"""
  }

  /** d9: semantic dedup — the stub-embedding CTEs (StubEmbed mirrored
    * exactly), first-8 coarse cells via the IVF argmax rule, the
    * within-cell pair scan with the threshold drop, per-cell rollup.
    * The whole tier is hash-checked end to end. */
  private lazy val d9Sql: String = d9SqlOver(
    s"""SELECT doc_id AS cent_id, emb AS cent_emb FROM dvec
           WHERE doc_id < ${operators.Similarity.IvfCentroids}""")

  /** d9b's oracle: the IDENTICAL pipeline, but the centroid table is
    * the landed trained cell index's own `_centroids/` parquet (the
    * v9c artifact-as-oracle-input treatment — Lloyd's float iteration
    * needn't be mirrored; assignment, the ≥τ pair scan, and the rollup
    * are still recomputed independently in SQL from the landed
    * centroids). `def`: the path is recorded when the d9b query lands
    * the index, and Verify dumps oracle SQL only after every query has
    * run. */
  private def d9bSql: String = d9SqlOver {
    // resolve the landing for the dir being DUMPED (round-15 ADVICE:
    // the old single volatile slot was overwritten by whichever dir
    // d9b touched last, so a scale ladder or multi-dir verify in the
    // same session silently compared against the wrong corpus's
    // centroids). Verify sets oracleDirHint to its sfDir; outside a
    // dump, a session that only ever ran one dir is unambiguous.
    val memo = operators.Dedup.semCentroidsPathForOracle
    val resolved = oracleDirHint.flatMap(d => Option(memo.get(d)))
      .orElse(if (memo.size == 1) Some(memo.values.iterator.next()) else None)
    resolved match {
      case Some(p) =>
        s"""SELECT cent_id, cent_emb FROM read_parquet('$p/_centroids/*.parquet')"""
      case None =>
        // fail loudly at oracle time instead of interpolating a
        // sentinel path into read_parquet (the round-11 ADVICE class)
        """SELECT error('d9b trained-centroid artifact was not landed (or is
           ambiguous across data dirs) in this Verify run; this oracle is only
           valid in a dump where d9b ran against the dumped dir')::INTEGER AS cent_id,
           CAST(NULL AS DOUBLE[]) AS cent_emb"""
    }
  }

  /** The d9/d9b pipeline over a pluggable centroid relation: stub
    * embeddings, argmax-cosine assignment (ties to the smaller
    * cent_id), within-cell ≥τ pair scan, per-cell rollup. */
  private def d9SqlOver(centsSql: String): String =
    s"""WITH $stubDocVecCtes,
         cents AS ($centsSql),
         assigned AS (
           SELECT doc_id, emb, cent_id FROM (
             SELECT d.doc_id, d.emb, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY d.doc_id ORDER BY
                 ${cosSql("d.emb", "c.cent_emb")} DESC, c.cent_id) AS rn
             FROM dvec d CROSS JOIN cents c) t
           WHERE rn = 1),
         drops AS (
           SELECT DISTINCT b.cent_id, b.doc_id
           FROM assigned a JOIN assigned b
             ON a.cent_id = b.cent_id AND a.doc_id < b.doc_id
           WHERE ${cosSql("a.emb", "b.emb")} >= ${operators.Dedup.SemanticTau}),
         agg AS (
           SELECT cent_id, COUNT(*) AS n_dropped, SUM(doc_id) AS s
           FROM drops GROUP BY cent_id),
         tot AS (SELECT cent_id, COUNT(*) AS n_total FROM assigned GROUP BY cent_id)
         SELECT t.cent_id, t.n_total,
           t.n_total - COALESCE(g.n_dropped, 0) AS n_kept,
           COALESCE(g.n_dropped, 0) AS n_dropped,
           CAST(COALESCE(g.s, 0) AS BIGINT) AS dropped_id_sum
         FROM tot t LEFT JOIN agg g ON t.cent_id = g.cent_id
         ORDER BY t.cent_id"""

  /** The d7 component oracle — the d2 pair CTEs verbatim, then a
    * recursive transitive closure: an INDEPENDENT formulation of the
    * component fixpoint. Shared verbatim by d7 (min-label propagation)
    * and d7b (large-star/small-star contraction) — equality proves the
    * two algorithms reach the identical fixpoint. */
  /** d7's pair/edge prefix (t … edges) — shared by the d7/d7b closure
    * oracle and the g1/g1b PageRank oracles. `edges` is MATERIALIZED:
    * the rank unroll references it once per iteration, and a plain CTE
    * would inline the whole pair derivation each time (the v15
    * CTE-inlining lesson). */
  private lazy val d7EdgeCtes: String =
    s"""t AS (
           SELECT doc_id, $toksSql AS w FROM documents),
         g0 AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         g AS (
           SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_h
           FROM g0),
         hot AS (
           SELECT gram_h FROM g GROUP BY gram_h
           HAVING COUNT(*) > ${operators.Dedup.dfCapSql("documents")}),
         rare AS (
           SELECT * FROM g WHERE gram_h NOT IN (SELECT gram_h FROM hot)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
           FROM rare a JOIN rare b ON a.gram_h = b.gram_h AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM common
           JOIN cnt ca ON a_id = ca.doc_id
           JOIN cnt cb ON b_id = cb.doc_id
           WHERE n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.8),
         edges AS MATERIALIZED (
           SELECT a_id AS a, b_id AS b FROM pairs
           UNION SELECT b_id, a_id FROM pairs)"""

  /** The transitive-closure tail (reach, comp) — d7's component
    * fixpoint, reused by g1b to name each canonical pick's cluster. */
  private lazy val d7ClosureCtes: String =
    """reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
           FROM reach GROUP BY a)"""

  // d2 mirrors the engine's single-phase shape over the df-capped
  // posting list: hot grams are removed from the similarity space
  // (counts AND intersections), so jaccard is over the capped space —
  // equal to plain jaccard whenever no gram exceeds the cap, as in
  // the fixtures. Hashing (md5 60-bit prefix) is shared with Dedup;
  // the cap is corpus-DERIVED on both sides (Dedup.dfCapSql mirrors
  // dfCapFrame's integer arithmetic as a scalar subquery). Shared by
  // d2 and its prefix-filter twin d2b, whose result must be
  // hash-identical.
  private lazy val d2Sql: String =
    s"""WITH t AS (
           SELECT doc_id, $toksSql AS w FROM documents),
         g0 AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         g AS (
           SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_h
           FROM g0),
         hot AS (
           SELECT gram_h FROM g GROUP BY gram_h
           HAVING COUNT(*) > ${operators.Dedup.dfCapSql("documents")}),
         rare AS (
           SELECT * FROM g WHERE gram_h NOT IN (SELECT gram_h FROM hot)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
           FROM rare a JOIN rare b ON a.gram_h = b.gram_h AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id, n_common,
           n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) AS jaccard
         FROM common
         JOIN cnt ca ON a_id = ca.doc_id
         JOIN cnt cb ON b_id = cb.doc_id
         WHERE n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.8
         ORDER BY a_id, b_id"""

  // d3's banded-LSH pair pipeline (signatures → band buckets →
  // candidate collisions → exact verify) as a CTE chain over a
  // parameterizable corpus source — shared by d3/st9 (over documents)
  // and st10 (over the exact-dedup survivor subset).
  private def minhashCtesOver(tSrc: String): String =
    s"""t AS (
           SELECT doc_id, $toksSql AS w FROM $tSrc),
         gr AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         seeds(seed, band, a, b) AS (VALUES $minhashSeedsSql),
         mh AS (
           SELECT g.doc_id, s.seed, s.band,
             MIN((s.a * CAST('0x' || substr(md5(g.gram), 1, 7) AS BIGINT) + s.b) % 2147483647) AS mhv
           FROM gr g CROSS JOIN seeds s
           GROUP BY g.doc_id, s.seed, s.band),
         bands AS (
           SELECT doc_id, band,
             md5(array_to_string(list(mhv ORDER BY seed), ',')) AS bucket
           FROM mh GROUP BY doc_id, band),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM gr GROUP BY doc_id),
         common AS (
           SELECT c.a_id, c.b_id, COUNT(*) AS n_common
           FROM cand c
           JOIN gr ga ON ga.doc_id = c.a_id
           JOIN gr gb ON gb.doc_id = c.b_id AND gb.gram = ga.gram
           GROUP BY c.a_id, c.b_id)"""

  // Shared by d3 and the streaming-ingest twin st9, whose accumulated
  // pair table must be hash-identical (pair discovery is
  // arrival-order invariant).
  private lazy val d3Sql: String =
    s"""WITH ${minhashCtesOver("documents")}
         SELECT a_id, b_id,
           n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) AS jaccard
         FROM common
         JOIN cnt ca ON a_id = ca.doc_id
         JOIN cnt cb ON b_id = cb.doc_id
         WHERE n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.8
         ORDER BY a_id, b_id"""

  // st10: c1's curation composition with the near-dup tier on the
  // MinHash pairs (the 100 TB swap c1's scaladoc names — the only
  // pair tier computable at arrival time), checked end-to-end:
  // quality gate + exact dedup + banded candidates + exact verify +
  // b-drop + (lang, split) rollup in ONE statement.
  private lazy val st10Sql: String =
    s"""WITH toks AS (
           SELECT doc_id, text, lang, len($toksSql) AS n_tokens FROM documents),
         q AS (SELECT * FROM toks WHERE n_tokens >= ${operators.Curation.MinTokens}),
         keepmin AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         ex AS (SELECT q.* FROM q JOIN keepmin USING (doc_id)),
         ${minhashCtesOver("documents JOIN keepmin USING (doc_id)")},
         dropped AS (
           SELECT DISTINCT b_id AS doc_id FROM common
           JOIN cnt ca ON a_id = ca.doc_id
           JOIN cnt cb ON b_id = cb.doc_id
           WHERE n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.8),
         kept AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
         SELECT lang,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                  % ${operators.Curation.EvalBuckets} = 0
             THEN 'eval' ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         FROM kept
         GROUP BY 1, 2
         ORDER BY 1, 2"""

  // g2's oriented wedge count, shared by g2 and its incremental twin
  // g2b, whose delta-apply plan must hash to the same per-node counts.
  private lazy val g2Sql: String =
    s"""WITH $d7EdgeCtes,
         degs AS MATERIALIZED (
           SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS deg
           FROM edges GROUP BY a),
         ore AS MATERIALIZED (
           SELECT e.a AS u, e.b AS v FROM edges e
           JOIN degs du ON e.a = du.id JOIN degs dv ON e.b = dv.id
           WHERE du.deg < dv.deg OR (du.deg = dv.deg AND e.a < e.b)),
         tri AS MATERIALIZED (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM ore e1 JOIN ore e2 ON e1.v = e2.u
           JOIN ore e3 ON e3.u = e1.u AND e3.v = e2.v),
         members AS (
           SELECT a AS id FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri),
         tc AS (SELECT id, COUNT(*) AS tri_cnt FROM members GROUP BY id)
         SELECT d.id AS doc_id, d.deg,
           CAST(COALESCE(t.tri_cnt, 0) AS BIGINT) AS tri_cnt
         FROM degs d LEFT JOIN tc t ON d.id = t.id
         ORDER BY doc_id"""

  private lazy val d7Sql: String =
    s"""WITH RECURSIVE $d7EdgeCtes,
         $d7ClosureCtes
         SELECT c.doc_id, c.cluster_id, s.n_docs
         FROM comp c
         JOIN (SELECT cluster_id, COUNT(*) AS n_docs FROM comp GROUP BY 1) s
           USING (cluster_id)
         ORDER BY c.doc_id"""

  /** The g1 rank unroll: deg + r0 + one MATERIALIZED stage per
    * iteration — integer PageRank exactly as Graph.pagerankOf iterates
    * it (contribution r div deg along each directed edge, damping as
    * the 150000/850//1000 integer split). */
  private def pagerankCtes(iters: Int): String = {
    val stages = (1 to iters).map { tt =>
      s"""r$tt AS MATERIALIZED (
           SELECT d.id,
             CAST(150000 + ((850 * COALESCE(SUM(c.c), 0)) // 1000) AS BIGINT) AS r
           FROM deg d LEFT JOIN (
             SELECT e.b AS id, (r.r // g.deg) AS c
             FROM edges e JOIN r${tt - 1} r ON e.a = r.id
             JOIN deg g ON e.a = g.id) c
             ON c.id = d.id
           GROUP BY d.id)"""
    }.mkString(",\n         ")
    s"""deg AS MATERIALIZED (
           SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS deg
           FROM edges GROUP BY a),
         r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
         $stages"""
  }

  /** The g3 peel unroll: per round, surviving-node set (degree >= k
    * over the previous round's edges) and the edge frame pruned to
    * both endpoints surviving — MATERIALIZED per stage (the v15
    * lesson; each round references the previous one three times). */
  private def kcoreCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("e0 AS MATERIALIZED (SELECT a AS u, b AS v FROM edges)")
    for (t <- 1 to rounds) {
      sb.append(s""",
         k$t AS MATERIALIZED (
           SELECT u FROM e${t - 1} GROUP BY u
           HAVING COUNT(*) >= ${operators.Graph.KcoreK}),
         e$t AS MATERIALIZED (
           SELECT e.u, e.v FROM e${t - 1} e
           JOIN k$t a ON e.u = a.u JOIN k$t b ON e.v = b.u)""")
    }
    sb.toString
  }

  /** The st2 session rollup (lag + cumulative sum gaps-and-islands) —
    * shared verbatim by the streaming twin st5: equality proves the
    * stateful session_window aggregation emits the batch sessions. */
  private val st2SessionsSql: String =
    """WITH marked AS (
           SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
           FROM events),
         numbered AS (
           SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
           FROM marked)
         SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS last_event,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM numbered
         GROUP BY user_id, session_id
         ORDER BY user_id, session_start"""

  /** The as-of join oracle — left band join + argmax window, -1
    * sentinels for render parity. Shared verbatim by j11 and the
    * bucketed j11b (equality proves the second join key lossless). */
  private val j11Sql: String =
    s"""WITH p AS (
         SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
         WHERE event_type = 'purchase'),
       v AS (
         SELECT user_id AS v_user, ts AS v_ts, event_id AS v_id FROM events
         WHERE event_type = 'view'),
       j AS (
         SELECT p.p_id, p.user_id, p.p_ts, v.v_ts, v.v_id,
           ROW_NUMBER() OVER (PARTITION BY p.p_id
             ORDER BY v.v_ts DESC NULLS LAST, v.v_id DESC NULLS LAST) AS rn
         FROM p LEFT JOIN v ON p.user_id = v.v_user
           AND v.v_ts <= p.p_ts
           AND v.v_ts >= p.p_ts - INTERVAL ${operators.AsofJoin.HorizonMinutes} MINUTE)
       SELECT p_id, user_id, p_ts,
         COALESCE(v_id, -1) AS v_id,
         COALESCE((epoch_us(p_ts) - epoch_us(v_ts)) // 1000000, -1) AS gap_s
       FROM j WHERE rn = 1
       ORDER BY p_id"""

  /** The data dir an oracle dump is being generated FOR — set by
    * Verify before it renders [[oracleSql]], so artifact-as-input
    * oracles (d9b) resolve the landing recorded for the dumped dir
    * instead of whichever dir a multi-dir session touched last
    * (round-15 ADVICE). */
  @volatile private[graft] var oracleDirHint: Option[String] = None

  def oracleSql: Map[String, String] = Map(
    // Convention (see Relational.moneyOut): aggregates run in DECIMAL for
    // order-independence, but every EMITTED money/ratio column is CAST to
    // DOUBLE on both sides, integer sums to BIGINT (DuckDB SUM(int) is
    // HUGEINT), and date outputs are yyyy-MM-dd strings — the driver
    // hashes pandas-rendered values, where DECIMAL/HUGEINT/DATE render
    // differently across the two load paths.
    "w1_topk_by_scope" ->
      """SELECT c.c_custkey, c.c_name,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'EUROPE'
         GROUP BY c.c_custkey, c.c_name
         ORDER BY total_amount DESC, c.c_custkey
         LIMIT 10""",
    "a1_scalar_sum_coalesce" ->
      """SELECT CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'""",
    "a2_sum_by_group" ->
      """SELECT o_orderpriority, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "a3_count_by_group" ->
      """SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type""",
    "a5_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // a5b: sketch internals are engine-specific, so the hashed columns
    // are the EXACT values plus tolerance verdicts — each engine checks
    // its own HLL / approx-quantile against its own exact aggregate
    // (<=5% relative error). A hash match proves both engines' sketches
    // sit inside the same tolerance of the same exact values. The
    // within-engine comparison also sidesteps the a14 cross-engine
    // percentile-definition problem: only the booleans cross engines.
    "a5b_approx_distinct" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           abs(CAST(approx_count_distinct(l_orderkey) AS DOUBLE) - COUNT(DISTINCT l_orderkey))
             <= COUNT(DISTINCT l_orderkey) * 0.05 AS distinct_ok,
           abs(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
             <= abs(quantile_cont(l_extendedprice, 0.5)) * 0.05 AS p50_ok,
           abs(approx_quantile(l_extendedprice, 0.95) - quantile_cont(l_extendedprice, 0.95))
             <= abs(quantile_cont(l_extendedprice, 0.95)) * 0.05 AS p95_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a6_multi_agg" ->
      """SELECT l_suppkey, COUNT(DISTINCT l_orderkey) AS n_orders,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / COUNT(*) AS DECIMAL(18,2)) AS DOUBLE) AS avg_price
         FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",
    "a7_monthly_timeline" ->
      """SELECT strftime(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month, o_orderstatus,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders GROUP BY 1, 2 ORDER BY month, o_orderstatus""",
    "a8_frontier_max" ->
      """SELECT c_mktsegment, MAX(CAST(regexp_extract(c_name, '[0-9]+') AS INTEGER)) AS max_id
         FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "a9_pct_of_total" ->
      """WITH per_status AS (
           SELECT o_orderstatus, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_amount
           FROM orders GROUP BY o_orderstatus)
         SELECT o_orderstatus, CAST(total_amount AS DOUBLE) AS total_amount,
           CAST(CAST(total_amount * 100 / SUM(total_amount) OVER () AS DECIMAL(18,6)) AS DOUBLE) AS pct
         FROM per_status ORDER BY o_orderstatus""",
    "a12_pivot_counts" ->
      """SELECT user_id,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "a13_rollup_timeline" ->
      """WITH r AS (
           SELECT strftime(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_raw,
             o_orderstatus AS status_raw,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_amount,
             COUNT(*) AS n_orders
           FROM orders
           GROUP BY ROLLUP (month_raw, status_raw))
         SELECT COALESCE(month_raw, 'ALL') AS month,
           COALESCE(status_raw, 'ALL') AS o_orderstatus,
           CAST(total_amount AS DOUBLE) AS total_amount, n_orders
         FROM r ORDER BY month, o_orderstatus""",
    "st2_session_windows" -> st2SessionsSql,
    // st5 answers the SAME oracle: the streaming session_window
    // aggregation must emit exactly the batch gaps-and-islands rows
    "st5_session_stream" -> st2SessionsSql,
    "j2_threeway_revenue" ->
      """SELECT c.c_mktsegment, CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""",
    "j3_join_then_filter" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderstatus = 'F'
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    "j4_scope_semi" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "j5_semi_in_subquery" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "j8_anti_never_ordered" ->
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE p_partkey NOT IN (
           SELECT l_partkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01')
         ORDER BY p_partkey""",
    "j9_hierarchy_join" ->
      """SELECT n.n_nationkey, n.n_name, r.r_name AS parent_name
         FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY n.n_nationkey""",
    "p4_dynamic_filter" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
         WHERE c_mktsegment = 'MACHINERY' AND c_acctbal >= 1000.0
           AND c_nationkey IN (1, 3, 5, 7)
         ORDER BY c_custkey""",
    "p7_keyword_like" ->
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE lower(p_name) LIKE '%widget%' OR lower(p_name) LIKE '%bolt%'
         ORDER BY p_partkey""",
    "p8_null_guards" ->
      """SELECT COALESCE(NULLIF(o_orderstatus, 'O'), 'Unknown') AS status_or_unknown,
         COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY status_or_unknown""",
    "w2_argmax_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_name, c_acctbal FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) t
         WHERE rn = 1 ORDER BY c_mktsegment""",
    "w3_recent_n" ->
      """SELECT event_id, ts, user_id, event_type FROM events
         ORDER BY ts DESC, event_id LIMIT 20""",
    "w5_pagination" ->
      """SELECT c_custkey, c_name FROM customer
         ORDER BY c_custkey LIMIT 50 OFFSET 100""",
    "w5b_keyset_pagination" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey > 100 ORDER BY c_custkey LIMIT 50""",
    "u1_union_distinct" ->
      """WITH u AS (
           SELECT * FROM orders WHERE o_orderstatus = 'F'
           UNION
           SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')
         SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
         FROM u GROUP BY 1, 2 ORDER BY o_orderstatus, o_orderpriority""",
    "u2_keep_last_dedup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
           SELECT l_orderkey, l_linenumber, l_partkey,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC) AS rn
           FROM lineitem) t
         WHERE rn = 1 ORDER BY l_orderkey""",
    "u3_dedup_derived_key" ->
      """SELECT CONCAT_WS('|', COALESCE(p_brand, ''), COALESCE(p_type, ''), CAST(p_size AS VARCHAR)) AS uid,
         MIN(p_partkey) AS first_partkey, COUNT(*) AS n_members
         FROM part GROUP BY 1 ORDER BY uid""",
    "j7_fuzzy_link" -> fuzzyLinkSql,
    // j7b runs the two-key (nationkey, length-band) blocked join; its
    // oracle is the SAME single-key formulation — hash equality proves
    // the band key is lossless (the j6b salted ≡ plain proof shape)
    "j7b_banded_link" -> fuzzyLinkSql,
    "s10_merge_upsert" ->
      """WITH existing AS (
           SELECT user_id AS e_user, event_type AS e_type, COUNT(*) AS e_n,
             SUM(CAST(value AS DECIMAL(18,2))) AS e_total
           FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00' GROUP BY 1, 2),
         incoming AS (
           SELECT user_id AS i_user, event_type AS i_type, COUNT(*) AS i_n,
             SUM(CAST(value AS DECIMAL(18,2))) AS i_total
           FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1, 2)
         SELECT COALESCE(i_user, e_user) AS user_id,
           COALESCE(i_type, e_type) AS event_type,
           COALESCE(i_n, e_n) AS n_events,
           CAST(COALESCE(i_total, e_total) AS DOUBLE) AS total_value,
           CASE WHEN e_user IS NOT NULL AND i_user IS NOT NULL THEN 'updated'
                WHEN e_user IS NULL THEN 'inserted' ELSE 'unchanged' END AS merge_action
         FROM existing FULL OUTER JOIN incoming
           ON e_user = i_user AND e_type = i_type
         ORDER BY user_id, event_type""",
    // identical SQL to s10 on purpose: the partition-scoped engine path
    // must produce byte-identical MERGE output to the full-outer form
    "s10b_partitioned_merge" ->
      """WITH existing AS (
           SELECT user_id AS e_user, event_type AS e_type, COUNT(*) AS e_n,
             SUM(CAST(value AS DECIMAL(18,2))) AS e_total
           FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00' GROUP BY 1, 2),
         incoming AS (
           SELECT user_id AS i_user, event_type AS i_type, COUNT(*) AS i_n,
             SUM(CAST(value AS DECIMAL(18,2))) AS i_total
           FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1, 2)
         SELECT COALESCE(i_user, e_user) AS user_id,
           COALESCE(i_type, e_type) AS event_type,
           COALESCE(i_n, e_n) AS n_events,
           CAST(COALESCE(i_total, e_total) AS DOUBLE) AS total_value,
           CASE WHEN e_user IS NOT NULL AND i_user IS NOT NULL THEN 'updated'
                WHEN e_user IS NULL THEN 'inserted' ELSE 'unchanged' END AS merge_action
         FROM existing FULL OUTER JOIN incoming
           ON e_user = i_user AND e_type = i_type
         ORDER BY user_id, event_type""",
    "s11_insert_ignore" ->
      """SELECT user_id, event_type, MIN(ts) AS first_seen, COUNT(*) AS n_events
         FROM events e
         WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
           AND NOT EXISTS (
             SELECT 1 FROM events x
             WHERE x.ts < TIMESTAMP '2024-01-03 00:00:00'
               AND x.user_id = e.user_id AND x.event_type = e.event_type)
         GROUP BY user_id, event_type ORDER BY user_id, event_type""",
    // s12/s13: both oracles are the PLAIN one-shot rollup — equality
    // proves double-overwrite doesn't duplicate (s12) and appended
    // partials re-aggregate exactly (s13)
    "s12_truncate_reload" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    "s13_batch_append" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    // s15: left-fold sum with a 0.0 init equals DuckDB's no-init fold
    // (0 + x is exact), so both engines produce bit-identical doubles
    "s15_vector_upsert" ->
      """WITH base AS (
           SELECT vec_id, CAST(label AS VARCHAR) AS label, embedding FROM embeddings
           WHERE vec_id % 2 = 0 AND vec_id % 3 <> 0),
         delta AS (
           SELECT vec_id, CAST(label AS VARCHAR) || '_v2' AS label,
             list_transform(embedding, x -> -x) AS embedding
           FROM embeddings WHERE vec_id % 3 = 0),
         merged AS (
           SELECT * FROM base UNION ALL SELECT * FROM delta)
         SELECT vec_id, label,
           CAST(floor(1000000 * COALESCE(
             list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
               (a, b) -> a + b), 0)) AS BIGINT) AS sum_ppm
         FROM merged ORDER BY vec_id""",
    "i1_update_log" ->
      """SELECT 'events' AS table_name, MAX(ts) AS last_update,
         COUNT(*) AS records_updated FROM events""",
    "i2_watermark_filter" ->
      """SELECT event_type, COUNT(*) AS n, MIN(ts) AS min_ts
         FROM events
         WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
         GROUP BY event_type ORDER BY event_type""",
    "f1_name_parse" ->
      """SELECT c_custkey,
           split_part(c_name || ', ' || c_mktsegment, ', ', 1) AS last_name,
           split_part(c_name || ', ' || c_mktsegment, ', ', 2) AS first_name,
           split_part(c_name || ', ' || c_mktsegment, ', ', 2) || ' ' ||
             split_part(c_name || ', ' || c_mktsegment, ', ', 1) AS display_name
         FROM customer ORDER BY c_custkey""",
    "f2_normalize_names" ->
      """SELECT s_suppkey, '  ' || lower(s_name) || ' .,' AS noisy,
           upper(trim(translate('  ' || lower(s_name) || ' .,', '.,', ''))) AS normalized
         FROM supplier ORDER BY s_suppkey""",
    "f11_date_coerce" ->
      """WITH coerced AS (
           SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL
                       ELSE CAST(o_orderdate AS DATE) END AS parsed
           FROM orders)
         SELECT year(parsed) AS yr, COUNT(*) AS n FROM coerced
         WHERE parsed IS NOT NULL GROUP BY 1 ORDER BY yr""",
    "f10_truncate_preview" ->
      """SELECT doc_id, substring(text, 1, 100) AS preview, length(text) AS text_len
         FROM documents ORDER BY doc_id""",
    "t1_token_count" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len($toksSql)) AS BIGINT) AS total_tokens,
         MAX(len($toksSql)) AS max_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "t1b_bpe_token_count" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len($toksSql)) AS BIGINT) AS ws_tokens,
         CAST(SUM(len(regexp_extract_all(lower(text), '${TextOps.BpePattern}'))) AS BIGINT) AS bpe_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    // t10: the answer is sketch-independent — the CMS only PRUNES
    // (superset guarantee), so the oracle is plain GROUP BY/HAVING
    "t10_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM tok),
         cnt AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
         SELECT token, CAST(cnt AS BIGINT) AS cnt
         FROM cnt CROSS JOIN tot
         WHERE cnt >= GREATEST(1, CAST(FLOOR(n / ${TextOps.HhSupportDiv}.0) AS BIGINT))
         ORDER BY cnt DESC, token""",
    // t11: BM25 page — scores are exact integers (see bm25Ctes), so
    // the hash pins the full ranking arithmetic, not just membership;
    // retrieval ranks MATCHING docs only (score > 0)
    "t11_bm25_rank" -> bm25PageSql,
    // t11b: the landed-inverted-index path answers t11's oracle
    // VERBATIM — hash equality proves the pruned-bucket probe serves
    // exactly what the two-pass corpus scan serves
    "t11b_bm25_indexed" -> bm25PageSql,
    // t11c: the append-maintained index answers the same oracle —
    // hash equality proves day-2 maintenance lossless
    "t11c_incremental_postings" -> bm25PageSql,
    // t11e: hash equality vs the filtered-corpus page proves the
    // bucket-scoped delete ≡ rebuild-after-takedown
    "t11e_deleted_postings" -> bm25DeletedPageSql,
    // t11g: diff-apply ≡ rebuild at the lexical serving tier — the
    // oracle never sees the changelog or the index
    "t11g_cdc_index" -> bm25CdcPageSql,
    // st7: the STREAMED changelog apply answers the identical v2 page —
    // hash equality proves stream-CDC ≡ rebuild at any micro-batching
    "st7_cdc_stream" -> bm25CdcPageSql,
    // st8: the streamed survivor table must equal the batch dedup's
    // min-doc_id winner per content digest — the stream arranges
    // arrival order = doc_id order, so first-wins IS min-doc_id
    "st8_dedup_stream" ->
      """WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents)
         SELECT MIN(doc_id) AS doc_id, digest FROM d
         GROUP BY digest ORDER BY doc_id""",
    // t11f: the compacted lifecycle answers the same filtered-corpus
    // page — hash equality proves compaction is answer-preserving
    "t11f_compacted_index" -> bm25DeletedPageSql,
    // st4: the stream-maintained index answers the full-corpus page —
    // hash equality proves micro-batched ingestion equals a rebuild
    "st4_streaming_index" -> bm25PageSql,
    // st6: the stream-maintained ANN index answers the full-corpus
    // nprobe=2 probe verbatim
    "st6_ann_stream" -> ivfNprobe2Sql,
    // t11h: the batch answers every query's solo page under its id —
    // hash equality proves batching is invisible per query
    "t11h_batch_queries" -> bm25BatchPageSql,
    // t11i: keyset page 2 ≡ the offset page-2 slice under the total
    // ranking order — per query, over the same corpus SQL
    "t11i_batch_page2" -> bm25BatchPage2Sql,
    // v15: the shortlist CTE + k unrolled greedy rounds — hash
    // equality proves the driver greedy IS the MMR selection
    "v15_mmr_rerank" -> mmrSql,
    "v15b_mmr_hybrid" -> mmrHybridSql,
    // c9: the v5 assignment CTE × t2's quality ppm × a per-cell
    // capped rank — all three pieces reuse their own oracles' SQL
    "c9_cluster_caps" ->
      s"""WITH $ivfAssignedCte,
         cq AS (
           SELECT doc_id, $qualityPpmSql AS quality_ppm
           FROM ($qualityBaseSql) f),
         ranked AS (
           SELECT a.cent_id, cq.doc_id, cq.quality_ppm,
             CAST(ROW_NUMBER() OVER (PARTITION BY a.cent_id
               ORDER BY cq.quality_ppm DESC, cq.doc_id) AS INTEGER) AS rn
           FROM cq JOIN assigned a ON cq.doc_id = a.vec_id)
         SELECT cent_id, doc_id, quality_ppm, rn FROM ranked
         WHERE rn <= 25 ORDER BY cent_id, doc_id""",
    // t11d: hits + facet counts from ONE matching-set frame; tagged
    // union rendered null-free (variant fields as strings, '' absent)
    "t11d_faceted_search" ->
      s"""WITH $bm25Ctes,
         bmm AS (SELECT * FROM bmscored WHERE score_milli > 0),
         bmhits AS (
           SELECT doc_id, score_milli FROM bmm
           ORDER BY score_milli DESC, doc_id LIMIT 10),
         bmfl AS (SELECT lang AS key, COUNT(*) AS n FROM bmm GROUP BY lang),
         bmfs AS (SELECT source AS key, COUNT(*) AS n FROM bmm GROUP BY source)
         SELECT kind, key, doc_id, n, score_milli FROM (
           SELECT 'hit' AS kind, '' AS key, CAST(doc_id AS VARCHAR) AS doc_id,
             '' AS n, CAST(score_milli AS VARCHAR) AS score_milli FROM bmhits
           UNION ALL SELECT 'facet_lang', key, '', CAST(n AS VARCHAR), '' FROM bmfl
           UNION ALL SELECT 'facet_source', key, '', CAST(n AS VARCHAR), '' FROM bmfs) u
         ORDER BY kind, key, doc_id""",
    // v13b: fusion with the lexical page served from the landed index
    // — answers v13's oracle verbatim
    "v13b_hybrid_indexed" -> oracleSqlOfV13,
    // v13: RRF fusion of the v4 semantic page (stubSearchSql CTEs
    // verbatim) and the t11 lexical page; votes are exact integers
    // lcm(61..70)/(60+rank), 0 = not retrieved by that tier
    "v13_hybrid_rrf" -> oracleSqlOfV13,
    // v14: per-token stub vectors (the key-generalized stubVec CTEs),
    // MaxSim = fixed-order sum of per-term maxima — the CASE list is
    // in the Spark plan's m0..mN order, so the double chain matches
    "v14_colbert_maxsim" -> {
      val terms = operators.TextOps.Bm25Terms
      val qList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      val caseSum = terms.map(t =>
        s"MAX(CASE WHEN qtok = '${t.replace("'", "''")}' THEN m END)")
        .mkString("\n           + ")
      s"""WITH mdt AS (
           SELECT DISTINCT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t <> '')) AS tok
           FROM documents),
         mvocab AS (SELECT DISTINCT tok FROM mdt),
         mtvec AS ${stubVecKeyed(stubCompKeyed("mvocab", "tok"), "tok")},
         mqt AS (SELECT unnest([$qList]) AS tok),
         mqvec AS ${stubVecKeyed(stubCompKeyed("mqt", "tok"), "tok")},
         mcs AS (
           SELECT dt.doc_id, qv.tok AS qtok,
             MAX(${cosSql("tv.emb", "qv.emb")}) AS m
           FROM mdt dt
           JOIN mtvec tv USING (tok)
           CROSS JOIN mqvec qv
           GROUP BY dt.doc_id, qv.tok),
         msc AS (
           SELECT doc_id,
           $caseSum AS sim
           FROM mcs GROUP BY doc_id)
         SELECT p.doc_id, d.lang, round(p.sim, 6) AS maxsim_r
         FROM (SELECT doc_id, sim FROM msc ORDER BY sim DESC, doc_id LIMIT 10) p
         JOIN documents d USING (doc_id)
         ORDER BY p.doc_id"""
    },
    "t2_quality_score" ->
      s"""WITH f AS ($qualityBaseSql)
         SELECT doc_id, n_tokens, n_stopwords, n_punct,
           CASE WHEN n_tokens = 0 THEN 0
                ELSE CAST(floor(n_stopwords * 1000000.0 / n_tokens) AS BIGINT) END AS stopword_ppm,
           $qualityPpmSql AS quality_ppm
         FROM f ORDER BY doc_id""",
    "t3_lang_id" ->
      """WITH hits AS (
           SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '\b(the|and|of|is|to)\b')) AS en_h,
             len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS fr_h,
             len(regexp_extract_all(lower(text), '\b(el|los|las|una|por)\b')) AS es_h,
             len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein)\b')) AS de_h
           FROM documents),
         pred AS (
           SELECT lang,
             CASE WHEN greatest(en_h, fr_h, es_h, de_h) = 0 THEN 'und'
                  WHEN en_h >= fr_h AND en_h >= es_h AND en_h >= de_h THEN 'en'
                  WHEN fr_h >= es_h AND fr_h >= de_h THEN 'fr'
                  WHEN es_h >= de_h THEN 'es'
                  ELSE 'de' END AS predicted
           FROM hits)
         SELECT lang, predicted, COUNT(*) AS n FROM pred
         GROUP BY lang, predicted ORDER BY lang, predicted""",
    "t4_fingerprint" ->
      """SELECT source, COUNT(*) AS n_docs,
         COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique
         FROM documents GROUP BY source ORDER BY source""",
    "d1_exact_dedup" ->
      """WITH g AS (
           SELECT md5(text) AS digest, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
           FROM documents GROUP BY 1)
         SELECT n_copies, COUNT(*) AS n_groups FROM g
         GROUP BY n_copies ORDER BY n_copies""",
    "d2_ngram_jaccard" -> d2Sql,
    // d2b computes the IDENTICAL pair set through prefix-filtered
    // candidate generation — one oracle proves both plans.
    "d2b_prefix_jaccard" -> d2Sql,
    "d3_minhash_lsh" -> d3Sql,
    // st9 accumulates the IDENTICAL pair set by streaming ingest —
    // discovery is arrival-order invariant, one oracle proves both
    "st9_neardup_stream" -> d3Sql,
    "st10_curate_stream" -> st10Sql,
    // d4b oracle is deliberately NOT the banded formulation: brute-force
    // all-pairs hamming at oracle scale, so a hash-match proves the
    // engine's multi-band LSH has full recall (pigeonhole: radius r →
    // r+1 disjoint bands, one must match exactly).
    "d4b_simhash_pairs" ->
      s"""WITH h AS (
           SELECT doc_id,
             list_transform($toksSql,
               t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hashes
           FROM documents),
         sigs AS (
           SELECT doc_id,
             CASE WHEN len(hashes) = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(list_sum(list_transform(range(60), j ->
                    CASE WHEN 2 * len(list_filter(hashes, h -> (h >> j) & 1 = 1)) >= len(hashes)
                         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) END AS simhash
           FROM h)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= ${operators.Dedup.SimHashMaxHamming}
         ORDER BY a_id, b_id""",
    "d4_simhash" ->
      s"""WITH h AS (
           SELECT doc_id,
             list_transform($toksSql,
               t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hashes
           FROM documents)
         SELECT doc_id,
           CASE WHEN len(hashes) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(list_sum(list_transform(range(60), j ->
                  CASE WHEN 2 * len(list_filter(hashes, h -> (h >> j) & 1 = 1)) >= len(hashes)
                       THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) END AS simhash
         FROM h ORDER BY doc_id""",
    "v1_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id, e.label,
             list_reduce(list_transform(range(64),
               j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(q.qe[j+1] AS DOUBLE)), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(e.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(q.qe[j+1] AS DOUBLE) * CAST(q.qe[j+1] AS DOUBLE)), (x, y) -> x + y))) AS sim
           FROM embeddings e, q WHERE e.vec_id <> 0)
         SELECT vec_id, label, round(sim, 6) AS sim_r FROM scored
         ORDER BY sim DESC, vec_id LIMIT 10""",
    // v1w: embeddings widened to 1536-dim via the cross-engine md5
    // derivation (same trick as the LSH plane matrix; one md5 feeds 4
    // components — window j%4 of md5("<vec_id>:<j//4>")); both engines
    // compute identical doubles, so the cosine top-k hash-matches at
    // the reference's real vector width.
    "v1w_cosine_topk_wide" ->
      """WITH wide AS (
           SELECT vec_id, label,
             list_transform(range(1536), j ->
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(j // 4 AS VARCHAR)),
                      CAST(1 + 8 * (j % 4) AS INTEGER), 8) AS BIGINT)
                 / 4294967296.0 - 0.5) AS embedding
           FROM embeddings),
         q AS (SELECT embedding AS qe FROM wide WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id, e.label,
             list_reduce(list_transform(range(1536),
               j -> e.embedding[j+1] * q.qe[j+1]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1536),
                  j -> e.embedding[j+1] * e.embedding[j+1]), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1536),
                  j -> q.qe[j+1] * q.qe[j+1]), (x, y) -> x + y))) AS sim
           FROM wide e, q WHERE e.vec_id <> 0)
         SELECT vec_id, label, round(sim, 6) AS sim_r FROM scored
         ORDER BY sim DESC, vec_id LIMIT 10""",
    // v7: the quantization (unit-norm floor to int8) and the integer
    // dot product are mirrored operation-for-operation — norms as the
    // same left-fold double sum as v1's oracle, then IEEE divide/
    // multiply/floor (portable; round-half would not be), then exact
    // integer arithmetic. The whole quantized tier is hash-checked.
    "v7_quantized_topk" ->
      """WITH n AS (
           SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(range(64),
               j -> CAST(embedding[j+1] AS DOUBLE) * CAST(embedding[j+1] AS DOUBLE)), (x, y) -> x + y)) AS nrm
           FROM embeddings),
         qz AS (
           SELECT vec_id, label,
             list_transform(range(64),
               j -> CAST(floor(CAST(embedding[j+1] AS DOUBLE) / nrm * 127.0) AS BIGINT)) AS q
           FROM n WHERE nrm > 0),
         qv AS (SELECT q AS qq FROM qz WHERE vec_id = 0),
         scored AS (
           SELECT z.vec_id, z.label,
             list_reduce(list_transform(range(64), j -> z.q[j+1] * qq[j+1]), (x, y) -> x + y) AS iscore
           FROM qz z, qv WHERE z.vec_id <> 0)
         SELECT vec_id, label, CAST(iscore AS BIGINT) AS iscore FROM scored
         ORDER BY iscore DESC, vec_id LIMIT 10""",
    // v7b: v1w's wide-vector derivation composed with v7's quantization
    // mirror — elements are already DOUBLE, so no float cast (matching
    // QuantizeVec's getDouble path exactly)
    "v7b_quantized_wide" ->
      """WITH wide AS (
           SELECT vec_id, label,
             list_transform(range(1536), j ->
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(j // 4 AS VARCHAR)),
                      CAST(1 + 8 * (j % 4) AS INTEGER), 8) AS BIGINT)
                 / 4294967296.0 - 0.5) AS embedding
           FROM embeddings),
         n AS (
           SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(range(1536),
               j -> embedding[j+1] * embedding[j+1]), (x, y) -> x + y)) AS nrm
           FROM wide),
         qz AS (
           SELECT vec_id, label,
             list_transform(range(1536),
               j -> CAST(floor(embedding[j+1] / nrm * 127.0) AS BIGINT)) AS q
           FROM n WHERE nrm > 0),
         qv AS (SELECT q AS qq FROM qz WHERE vec_id = 0),
         scored AS (
           SELECT z.vec_id, z.label,
             list_reduce(list_transform(range(1536), j -> z.q[j+1] * qq[j+1]), (x, y) -> x + y) AS iscore
           FROM qz z, qv WHERE z.vec_id <> 0)
         SELECT vec_id, label, CAST(iscore AS BIGINT) AS iscore FROM scored
         ORDER BY iscore DESC, vec_id LIMIT 10""",
    // v8: per-query brute force over the disjoint corpus split, ranked
    // by the same cosine derivation as v1's oracle
    "v8_batch_topk" ->
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
         scored AS (
           SELECT q.query_id, e.vec_id, e.label,
             list_reduce(list_transform(range(64),
               j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(q.q_emb[j+1] AS DOUBLE)), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(e.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(q.q_emb[j+1] AS DOUBLE) * CAST(q.q_emb[j+1] AS DOUBLE)), (x, y) -> x + y))) AS sim
           FROM embeddings e, q WHERE e.vec_id >= 8),
         ranked AS (
           SELECT query_id, vec_id, label, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
           FROM scored)
         SELECT query_id, rk, vec_id, label, round(sim, 6) AS sim_r
         FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""",
    "v2_neardup_top_pairs" -> nearDupSql,
    // v2c: the quantized-prefilter tier shares v2's oracle verbatim —
    // hash equality proves the int8 candidate bound lossless
    "v2c_neardup_quantized" -> nearDupSql,
    // v2b: near-dup pairs within (label, LSH bucket) cells — the skew
    // escape hatch for oversized label blocks. Bucket derivation is
    // identical to v3's (same md5 plane matrix), kept in lockstep.
    "v2b_neardup_bucketed" ->
      """WITH buckets AS (
           SELECT vec_id, label, first(embedding) AS embedding,
             SUM(CASE WHEN proj >= 0 THEN (1 << i) ELSE 0 END) AS bucket
           FROM (
             SELECT e.vec_id, e.label, e.embedding, p.i,
               list_reduce(list_transform(range(64), j ->
                 CAST(e.embedding[j+1] AS DOUBLE) *
                 (CAST('0x' || substr(md5(CAST(p.i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
                   / 4294967296.0 - 0.5)),
                 (x, y) -> x + y) AS proj
             FROM embeddings e, unnest(range(4)) AS p(i))
           GROUP BY vec_id, label),
         scored AS (
           SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
             list_reduce(list_transform(range(64),
               j -> CAST(a.embedding[j+1] AS DOUBLE) * CAST(b.embedding[j+1] AS DOUBLE)), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(a.embedding[j+1] AS DOUBLE) * CAST(a.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(b.embedding[j+1] AS DOUBLE) * CAST(b.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))) AS sim
           FROM buckets a JOIN buckets b
             ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT label, a_id, b_id, round(sim, 6) AS sim_r FROM scored
         ORDER BY sim DESC, a_id, b_id LIMIT 20""",
    "v3_lsh_topk" ->
      """WITH buckets AS (
           SELECT vec_id, label, first(embedding) AS embedding,
             SUM(CASE WHEN proj >= 0 THEN (1 << i) ELSE 0 END) AS bucket
           FROM (
             SELECT e.vec_id, e.label, e.embedding, p.i,
               list_reduce(list_transform(range(64), j ->
                 CAST(e.embedding[j+1] AS DOUBLE) *
                 (CAST('0x' || substr(md5(CAST(p.i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
                   / 4294967296.0 - 0.5)),
                 (x, y) -> x + y) AS proj
             FROM embeddings e, unnest(range(4)) AS p(i))
           GROUP BY vec_id, label),
         q AS (SELECT bucket, embedding AS qe FROM buckets WHERE vec_id = 0),
         scored AS (
           SELECT e.vec_id, e.label,
             list_reduce(list_transform(range(64),
               j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(q.qe[j+1] AS DOUBLE)), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(e.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(64),
                  j -> CAST(q.qe[j+1] AS DOUBLE) * CAST(q.qe[j+1] AS DOUBLE)), (x, y) -> x + y))) AS sim
           FROM buckets e JOIN q ON e.bucket = q.bucket
           WHERE e.vec_id <> 0)
         SELECT vec_id, label, round(sim, 6) AS sim_r FROM scored
         ORDER BY sim DESC, vec_id LIMIT 10""",
    "v5_ivf_topk" -> ivfTopKSql,
    // v9: the landed partition-pruned index probe shares v5's oracle;
    // v9b's oracle extends it with the top-2 cell ranking
    // verbatim — the layout changes bytes read, never results
    "v9_ivf_landed" -> ivfTopKSql,
    "v9b_ivf_nprobe2" -> ivfNprobe2Sql,
    "v9c_trained_index" -> v9cSql,
    // v9d: the incrementally-maintained index answers to the SAME
    // nprobe=2 oracle — hash equality proves the append path holds
    // row-for-row what a full rebuild holds
    "v9d_incremental_index" -> ivfNprobe2Sql,
    // v9g: the reclaim-maintained index answers the SAME nprobe=2
    // oracle — compaction is invisible to every probe
    "v9g_maintained_index" -> ivfNprobe2Sql,
    "v9e_deleted_index" -> v9eSql,
    // v9f: diff-apply ≡ rebuild at the ANN serving tier
    "v9f_cdc_index" -> v9fSql,
    "v11_filtered_ann" -> ivfFilteredSql,
    "x7d_extract_quarantine" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
           FROM documents),
         filt AS (
           SELECT doc_id, token FROM toks
           WHERE length(token) >= 4
             AND token NOT IN ('that','with','this','from','have','were','they','their')),
         counted AS (
           SELECT doc_id, token, COUNT(*) AS cnt FROM filt GROUP BY doc_id, token),
         ranked AS (
           SELECT doc_id, token,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rk
           FROM counted),
         kws AS (
           SELECT doc_id, string_agg(token, ',' ORDER BY rk) AS keywords
           FROM ranked WHERE rk <= 5 GROUP BY doc_id),
         cls AS (
           SELECT d.doc_id,
             CASE WHEN substr(md5(d.text), 1, 1) = '0' THEN 'malformed_json'
                  WHEN substr(md5(d.text), 1, 1) = '1' THEN 'missing_field'
                  ELSE 'valid' END AS status,
             COALESCE(k.keywords, '') AS keywords
           FROM documents d LEFT JOIN kws k USING (doc_id))
         SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(CASE WHEN status = 'valid'
             THEN CAST('0x' || substr(md5(keywords), 1, 8) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS kw_hash_sum
         FROM cls GROUP BY status ORDER BY status""",
    "v10_pq_adc" -> v10Sql,
    "v10b_pq_rerank" -> v10bSql,
    "v12_ivfpq" -> v12Sql,
    "v12b_ivfpq_trained" -> v12bSql,
    "v16b_pq_recall" -> v16bSql,
    "m1_decode_features" ->
      """SELECT doc_id AS asset_id, source,
           strlen(text) AS n_bytes,
           CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) % 1920 AS width,
           CAST('0x' || substr(md5(text), 5, 4) AS INTEGER) % 1080 AS height,
           (['jpeg','png','webp','tiff'])[(CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) % 4) + 1] AS format
         FROM documents ORDER BY asset_id""",
    // m1b: m1's derivation plus the 4 frame-sample offsets (hex nibbles
    // 10..13, 0-based → substr 11..14, modulo payload length) rendered
    // as the csv string the batched path emits.
    "m1b_decode_batched" ->
      """SELECT doc_id AS asset_id, source,
           strlen(text) AS n_bytes,
           CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) % 1920 AS width,
           CAST('0x' || substr(md5(text), 5, 4) AS INTEGER) % 1080 AS height,
           (['jpeg','png','webp','tiff'])[(CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) % 4) + 1] AS format,
           CAST(CAST('0x' || substr(md5(text), 11, 4) AS INTEGER) % greatest(strlen(text), 1) AS VARCHAR)
             || ',' || CAST(CAST('0x' || substr(md5(text), 12, 4) AS INTEGER) % greatest(strlen(text), 1) AS VARCHAR)
             || ',' || CAST(CAST('0x' || substr(md5(text), 13, 4) AS INTEGER) % greatest(strlen(text), 1) AS VARCHAR)
             || ',' || CAST(CAST('0x' || substr(md5(text), 14, 4) AS INTEGER) % greatest(strlen(text), 1) AS VARCHAR)
           AS frame_offsets
         FROM documents ORDER BY asset_id""",
    "m2_format_stats" ->
      """WITH f AS (
           SELECT doc_id, source, strlen(text) AS n_bytes,
             CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) % 1920 AS width,
             (['jpeg','png','webp','tiff'])[(CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) % 4) + 1] AS format
           FROM documents)
         SELECT source, format, COUNT(*) AS n_assets, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MAX(width) AS max_width
         FROM f GROUP BY source, format ORDER BY source, format""",
    "st1_windowed_agg" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
         COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",
    "f3_map_lookup" ->
      """SELECT n.n_nationkey, n.n_name,
           CASE r.r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
                WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
                WHEN 'MIDDLE EAST' THEN 'ME' END AS region_code
         FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
         ORDER BY n.n_nationkey""",
    "f16_term_fold" ->
      """SELECT user_id,
           MIN(strftime(ts, '%Y-%m-%d')) AS first_day,
           MAX(strftime(ts, '%Y-%m-%d')) AS last_day,
           COUNT(*) AS n_events
         FROM events GROUP BY user_id ORDER BY user_id""",
    "w4_multikey_nulls" ->
      """SELECT s_suppkey, s_name, s_nationkey,
           COALESCE(NULLIF(s_suppkey % 7, 0), 999) AS rank_eff
         FROM supplier
         ORDER BY rank_eff, s_nationkey, s_suppkey""",
    "s14_column_update" ->
      """WITH base AS (
           SELECT user_id, event_type, COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(18,2))) AS total_value
           FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00' GROUP BY 1, 2),
         incoming AS (
           SELECT user_id, event_type,
             SUM(CAST(value AS DECIMAL(18,2))) AS new_total
           FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' GROUP BY 1, 2)
         SELECT b.user_id, b.event_type, b.n_events,
           CAST(COALESCE(i.new_total, b.total_value) AS DOUBLE) AS total_value,
           CASE WHEN i.new_total IS NOT NULL THEN 'updated' ELSE 'kept' END AS update_status
         FROM base b LEFT JOIN incoming i
           ON b.user_id = i.user_id AND b.event_type = i.event_type
         ORDER BY b.user_id, b.event_type""",
    "e1_entity_profile" ->
      """WITH fin AS (
           SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend,
             COUNT(*) AS n_orders
           FROM orders GROUP BY o_custkey),
         act AS (
           SELECT o.o_custkey AS a_custkey, COUNT(*) AS n_items
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY o.o_custkey)
         SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(COALESCE(fin.total_spend, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
           COALESCE(fin.n_orders, 0) AS n_orders,
           COALESCE(act.n_items, 0) AS n_items
         FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         LEFT JOIN fin ON c.c_custkey = fin.o_custkey
         LEFT JOIN act ON c.c_custkey = act.a_custkey
         WHERE c.c_mktsegment = 'BUILDING'
         ORDER BY c.c_custkey""",
    // e4: the dashboard fan-out — all four metric families chained
    // from ONE scope CTE, mirroring the one-cached-scope plan; counts
    // are BIGINT, money through DECIMAL(18,2) then DOUBLE (moneyOut)
    "e4_dashboard" ->
      """WITH scope AS (
           SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
           FROM customer WHERE c_mktsegment = 'BUILDING'),
         fin AS (
           SELECT 'financial' AS family, o_orderpriority AS item, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
           FROM orders JOIN scope ON o_custkey = c_custkey
           GROUP BY o_orderpriority),
         act AS (
           SELECT 'activity' AS family, l_returnflag AS item, COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN scope ON o_custkey = c_custkey
           GROUP BY l_returnflag),
         vot AS (
           SELECT 'voting' AS family, event_type AS item, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS amount
           FROM events JOIN scope ON user_id = c_custkey
           GROUP BY event_type),
         mem AS (
           SELECT 'membership' AS family, n_name AS item, COUNT(*) AS n,
             CAST(SUM(c_acctbal) AS DOUBLE) AS amount
           FROM scope JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name)
         SELECT * FROM fin UNION ALL SELECT * FROM act
         UNION ALL SELECT * FROM vot UNION ALL SELECT * FROM mem
         ORDER BY family, item""",
    // e2: the profiler's one-pass wide aggregate, unpivoted per column
    // in the oracle as UNION ALL; min/max aggregate in the native type
    // and cast AFTER (lexicographic min of a numeric string is wrong)
    "e2_corpus_profile" -> Seq("doc_id", "lang", "source", "text").map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
          COUNT(*) - COUNT($c) AS n_null,
          COUNT(DISTINCT $c) AS n_distinct,
          COALESCE(CAST(MIN($c) AS VARCHAR), '') AS min_val,
          COALESCE(CAST(MAX($c) AS VARCHAR), '') AS max_val
          FROM documents"""
    }.mkString("", " UNION ALL ", " ORDER BY column_name"),
    // e2b: same generated shape over orders; money through the
    // DECIMAL(18,2) pre-cast both engines share (double min/max STRING
    // rendering diverges between engines; decimal rendering does not)
    "e2b_orders_profile" -> Seq(
      "o_orderkey" -> "o_orderkey",
      "o_custkey" -> "o_custkey",
      "o_orderstatus" -> "o_orderstatus",
      "o_totalprice" -> "CAST(o_totalprice AS DECIMAL(18,2))",
      "o_orderdate" -> "o_orderdate",
      "o_orderpriority" -> "o_orderpriority").map { case (n, e) =>
      s"""SELECT '$n' AS column_name, COUNT(*) AS n_rows,
          COUNT(*) - COUNT($e) AS n_null,
          COUNT(DISTINCT $e) AS n_distinct,
          COALESCE(CAST(MIN($e) AS VARCHAR), '') AS min_val,
          COALESCE(CAST(MAX($e) AS VARCHAR), '') AS max_val
          FROM orders"""
    }.mkString("", " UNION ALL ", " ORDER BY column_name"),
    "j9b_self_hierarchy" ->
      """WITH h AS (
           SELECT p_partkey AS id,
             CASE WHEN p_partkey % 10 = 0 THEN NULL
                  ELSE p_partkey - (p_partkey % 10) END AS parent_id,
             p_name AS name
           FROM part)
         SELECT p.id AS parent_id, p.name AS parent_name,
           COUNT(*) AS n_children, MIN(c.id) AS first_child
         FROM h c JOIN h p ON c.parent_id = p.id
         GROUP BY p.id, p.name
         ORDER BY parent_id""",
    // mirrors donationPipelineOverOrders: synthesize FEC-shaped strings
    // from orders (with planted bad dates / amounts), then the composed
    // filter → semi-join → uid → coerce → drop lineage, rolled up.
    "etl1_donation_pipeline" ->
      """WITH contribs AS (
           SELECT
             'C' || CAST(o_custkey % 50 AS VARCHAR) AS cmte_id,
             CASE WHEN o_orderkey % 7 = 0 THEN 'A' ELSE 'N' END AS amndt_ind,
             'DONOR, ' || CAST(o_custkey AS VARCHAR) AS name,
             lpad(CAST(o_custkey % 1000 AS VARCHAR), 5, '0') AS zip_code,
             o_orderpriority AS employer,
             CASE WHEN o_orderkey % 13 = 0 THEN '99999999'
                  ELSE strftime(o_orderdate, '%m%d%Y') END AS transaction_dt,
             CASE WHEN o_orderkey % 11 = 0 THEN 'n/a'
                  ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) END AS transaction_amt,
             CAST(o_orderkey AS VARCHAR) AS sub_id
           FROM orders),
         targets AS (SELECT 'C' || CAST(n_nationkey AS VARCHAR) AS cmte_id FROM nation),
         cleaned AS (
           SELECT cmte_id AS committee_id,
             name || '|' || zip_code || '|' || employer AS donor_uid,
             CAST(try_strptime(transaction_dt, '%m%d%Y') AS DATE) AS date,
             TRY_CAST(transaction_amt AS DECIMAL(12,2)) AS amount
           FROM contribs
           WHERE amndt_ind = 'N'
             AND cmte_id IN (SELECT cmte_id FROM targets))
         SELECT committee_id, COUNT(*) AS n_donations,
           COUNT(DISTINCT donor_uid) AS n_donors,
           CAST(SUM(amount) AS DOUBLE) AS total_amount,
           MIN(strftime(date, '%Y-%m-%d')) AS first_date
         FROM cleaned
         WHERE donor_uid IS NOT NULL AND date IS NOT NULL AND amount IS NOT NULL
         GROUP BY committee_id
         ORDER BY committee_id""",
    // a14: percentiles as the k-th smallest with k = ceil(p*n) — the
    // engine-portable "disc" definition; interpolating percentile
    // formulas differ across engines and would hash-mismatch.
    "a14_group_percentiles" ->
      """WITH ranked AS (
           SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
           FROM lineitem)
         SELECT l_returnflag, MAX(cnt) AS n,
           CAST(MAX(CASE WHEN rn = CEIL(cnt * 0.5) THEN l_quantity END) AS DOUBLE) AS p50,
           CAST(MAX(CASE WHEN rn = CEIL(cnt * 0.9) THEN l_quantity END) AS DOUBLE) AS p90,
           CAST(MAX(CASE WHEN rn = CEIL(cnt * 0.99) THEN l_quantity END) AS DOUBLE) AS p99
         FROM ranked
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    // c1: the four-stage curation pipeline (quality gate -> exact dedup
    // min-id survivor -> near-dup removal via the df-capped inverted
    // index over survivors -> deterministic md5 split) chained in one
    // DuckDB formulation; a final-rollup hash match pins every stage,
    // since any stage's error compounds into the (lang, split) totals.
    "c1_corpus_curation" ->
      s"""WITH toks AS (
           SELECT doc_id, text, lang, len($toksSql) AS n_tokens FROM documents),
         q AS (SELECT * FROM toks WHERE n_tokens >= ${operators.Curation.MinTokens}),
         keepmin AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         ex AS (SELECT q.* FROM q JOIN keepmin USING (doc_id)),
         t AS (SELECT doc_id, $toksSql AS w FROM documents JOIN keepmin USING (doc_id)),
         g0 AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         g AS (
           SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_h
           FROM g0),
         hot AS (
           SELECT gram_h FROM g GROUP BY gram_h
           HAVING COUNT(*) > ${operators.Dedup.dfCapSql("keepmin")}),
         rare AS (SELECT * FROM g WHERE gram_h NOT IN (SELECT gram_h FROM hot)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
           FROM rare a JOIN rare b ON a.gram_h = b.gram_h AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         dropped AS (
           SELECT DISTINCT b_id AS doc_id FROM common
           JOIN cnt ca ON a_id = ca.doc_id
           JOIN cnt cb ON b_id = cb.doc_id
           WHERE n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.8),
         kept AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
         SELECT lang,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                  % ${operators.Curation.EvalBuckets} = 0
             THEN 'eval' ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         FROM kept
         GROUP BY 1, 2
         ORDER BY 1, 2""",
    // c1b: c1's stages with the near-dup tier upgraded to connected
    // components — pairs feed a recursive transitive closure (the d7
    // oracle's independent formulation), survivors are each
    // component's min doc_id, and the rollup pins the whole chain.
    "c1b_clustered_curation" ->
      s"""WITH RECURSIVE toks AS (
           SELECT doc_id, text, lang, len($toksSql) AS n_tokens FROM documents),
         q AS (SELECT * FROM toks WHERE n_tokens >= ${operators.Curation.MinTokens}),
         keepmin AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         ex AS (SELECT q.* FROM q JOIN keepmin USING (doc_id)),
         t AS (SELECT doc_id, $toksSql AS w FROM documents JOIN keepmin USING (doc_id)),
         g0 AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         g AS (
           SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_h
           FROM g0),
         hot AS (
           SELECT gram_h FROM g GROUP BY gram_h
           HAVING COUNT(*) > ${operators.Dedup.dfCapSql("keepmin")}),
         rare AS (SELECT * FROM g WHERE gram_h NOT IN (SELECT gram_h FROM hot)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1),
         common AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
           FROM rare a JOIN rare b ON a.gram_h = b.gram_h AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT a_id, b_id FROM common
           JOIN cnt ca ON a_id = ca.doc_id
           JOIN cnt cb ON b_id = cb.doc_id
           WHERE n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.8),
         edges AS (
           SELECT a_id AS a, b_id AS b FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (
           SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
           FROM reach GROUP BY a),
         dropped AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
         kept AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropped))
         SELECT lang,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
                  % ${operators.Curation.EvalBuckets} = 0
             THEN 'eval' ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         FROM kept
         GROUP BY 1, 2
         ORDER BY 1, 2""",
    // c2: packing-bin assignment is a windowed running token total over
    // a deterministic (lang, shard) order — the SQL mirror uses the
    // identical ROWS UNBOUNDED PRECEDING frame and the same floor'd
    // double division, so bin ids match exactly.
    "c2_sequence_packing" ->
      s"""WITH toks AS (
           SELECT doc_id, lang, len($toksSql) AS n_tokens FROM documents),
         q AS (
           SELECT doc_id, lang, n_tokens, doc_id % ${operators.Curation.packShardsSql("documents")} AS shard
           FROM toks WHERE n_tokens >= ${operators.Curation.MinTokens}),
         b AS (
           SELECT lang, shard, doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens) / ${operators.Curation.PackBudget}.0) AS BIGINT) AS bin
           FROM q),
         pb AS (
           SELECT lang, shard, bin, COUNT(*) AS bin_docs, SUM(n_tokens) AS bin_tokens
           FROM b GROUP BY 1, 2, 3)
         SELECT lang, COUNT(*) AS n_bins,
           CAST(SUM(bin_docs) AS BIGINT) AS n_docs,
           CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(bin_tokens) AS BIGINT) AS max_bin_tokens
         FROM pb GROUP BY lang ORDER BY lang""",
    // x7/x7b: keyword extraction with the "model" stubbed to a
    // deterministic rule (top-5 tokens by frequency, ties lexicographic)
    // so BOTH execution paths — the codegen'd column plan and the
    // batched per-partition model-client path — are provable against
    // the same independent SQL formulation. The stopword IN-list and
    // min-length must stay in lockstep with LlmOps.Stopwords/MinTokenLen.
    "x7_llm_extract" -> xSevenSql,
    "x7b_llm_extract_batched" -> xSevenSql,
    // v4: the retrieval tier hash-checked end to end — stubSearchSql
    // mirrors StubEmbed's md5-window derivation exactly (integer sums,
    // ordered folds, float32 rounding), closing the round-5 rows-only gap
    "v4_semantic_search" ->
      s"""${stubSearchSql(operators.Similarity.DefaultQuery, 10)}
         SELECT h.doc_id, d.lang, round(h.sim, 6) AS sim_r,
           substr(d.text, 1, 60) AS preview
         FROM hits h JOIN documents d USING (doc_id)
         ORDER BY h.doc_id""",
    // x7c: retrieval (v4's CTE chain at k=5) composed with the x7
    // keyword rule — the grounded RAG answer reproduced verbatim
    "x7c_rag_answer" ->
      s"""${stubSearchSql(operators.Similarity.DefaultQuery, 5)},
         ktoks AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
           FROM documents),
         kfilt AS (
           SELECT doc_id, token FROM ktoks
           WHERE length(token) >= ${operators.LlmOps.MinTokenLen}
             AND token NOT IN (${operators.LlmOps.Stopwords.map(s => s"'$s'").mkString(",")})),
         kcount AS (SELECT doc_id, token, COUNT(*) AS cnt FROM kfilt GROUP BY doc_id, token),
         krank AS (
           SELECT doc_id, token,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rk
           FROM kcount),
         kw AS (
           SELECT doc_id, string_agg(token, ',' ORDER BY rk) AS keywords
           FROM krank WHERE rk <= 5 GROUP BY doc_id)
         SELECT h.doc_id, round(h.sim, 6) AS sim_r,
           'q[${operators.Similarity.DefaultQuery}] -> doc ' || CAST(h.doc_id AS VARCHAR)
             || ' (' || COALESCE(kw.keywords, '') || ')' AS answer
         FROM hits h LEFT JOIN kw USING (doc_id)
         ORDER BY h.doc_id""",
    // s7: the engine synthesizes a cursor-chained page feed from the
    // customer table, follows the pagination loop to a landed spool,
    // and parses the spool distributed; the oracle recomputes the
    // rollup straight from the customer table — equality proves every
    // page was visited exactly once (a dropped or doubled page shifts
    // the per-nation counts).
    "s7_paged_scan" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           COUNT(*) AS n_members,
           MIN(c_custkey) AS min_custkey,
           MAX(c_custkey) AS max_custkey,
           COUNT(DISTINCT c_mktsegment) AS n_segments
         FROM customer
         GROUP BY c_nationkey
         ORDER BY c_nationkey""",
    // s8: the engine renders the same FEC-shaped rows as pipe-text,
    // zips them (3 archives x 2 entries), and reads them back through
    // the distributed zip -> from_csv path into the donation lineage.
    // The oracle is the etl1 rollup computed straight from orders, with
    // key%17 rows excluded: those lines are planted TRUNCATED in the
    // archives (PERMISSIVE null tail-fill), so their null dates drop
    // them in the engine — equality proves the zip round trip and the
    // permissive parse lose nothing else.
    "s8_zip_ingest" ->
      """WITH contribs AS (
           SELECT
             'C' || CAST(o_custkey % 50 AS VARCHAR) AS cmte_id,
             CASE WHEN o_orderkey % 7 = 0 THEN 'A' ELSE 'N' END AS amndt_ind,
             'DONOR, ' || CAST(o_custkey AS VARCHAR) AS name,
             lpad(CAST(o_custkey % 1000 AS VARCHAR), 5, '0') AS zip_code,
             o_orderpriority AS employer,
             CASE WHEN o_orderkey % 13 = 0 THEN '99999999'
                  ELSE strftime(o_orderdate, '%m%d%Y') END AS transaction_dt,
             CASE WHEN o_orderkey % 11 = 0 THEN 'n/a'
                  ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) END AS transaction_amt,
             CAST(o_orderkey AS VARCHAR) AS sub_id
           FROM orders
           WHERE o_orderkey % 17 <> 0),
         targets AS (SELECT 'C' || CAST(n_nationkey AS VARCHAR) AS cmte_id FROM nation),
         cleaned AS (
           SELECT cmte_id AS committee_id,
             name || '|' || zip_code || '|' || employer AS donor_uid,
             CAST(try_strptime(transaction_dt, '%m%d%Y') AS DATE) AS date,
             TRY_CAST(transaction_amt AS DECIMAL(12,2)) AS amount
           FROM contribs
           WHERE amndt_ind = 'N'
             AND cmte_id IN (SELECT cmte_id FROM targets))
         SELECT committee_id, COUNT(*) AS n_donations,
           COUNT(DISTINCT donor_uid) AS n_donors,
           CAST(SUM(amount) AS DOUBLE) AS total_amount,
           MIN(strftime(date, '%Y-%m-%d')) AS first_date
         FROM cleaned
         WHERE donor_uid IS NOT NULL AND date IS NOT NULL AND amount IS NOT NULL
         GROUP BY committee_id
         ORDER BY committee_id""",
    // etl1b: the oracle classifies every synthesized row by the FIRST
    // failing gate in pipeline order — the same first-wins when-chain
    // as donationRejectCounts — and unpivots one conditional-count
    // aggregate row, so zero-count reasons still emit (the Spark stack
    // does too; a GROUP BY formulation would drop them).
    "etl1b_reject_counts" ->
      """WITH src AS (
           SELECT o_orderkey AS k, o_custkey % 50 AS ck FROM orders),
         cls AS (
           SELECT CASE
             WHEN k % 7 = 0 THEN 'amended'
             WHEN ck NOT IN (SELECT n_nationkey FROM nation) THEN 'off_target'
             WHEN k % 17 = 0 THEN 'truncated_line'
             WHEN k % 13 = 0 THEN 'bad_date'
             WHEN k % 11 = 0 THEN 'bad_amount'
             ELSE 'inserted' END AS reason
           FROM src),
         agg AS (
           SELECT COUNT(*) AS scanned,
             COUNT(*) FILTER (WHERE reason = 'amended') AS amended,
             COUNT(*) FILTER (WHERE reason = 'off_target') AS off_target,
             COUNT(*) FILTER (WHERE reason = 'truncated_line') AS truncated_line,
             COUNT(*) FILTER (WHERE reason = 'bad_date') AS bad_date,
             COUNT(*) FILTER (WHERE reason = 'bad_amount') AS bad_amount,
             COUNT(*) FILTER (WHERE reason = 'inserted') AS inserted
           FROM cls)
         SELECT reason, CAST(n AS BIGINT) AS n FROM (
           SELECT 'scanned' AS reason, scanned AS n FROM agg
           UNION ALL SELECT 'amended', amended FROM agg
           UNION ALL SELECT 'off_target', off_target FROM agg
           UNION ALL SELECT 'truncated_line', truncated_line FROM agg
           UNION ALL SELECT 'bad_date', bad_date FROM agg
           UNION ALL SELECT 'bad_amount', bad_amount FROM agg
           UNION ALL SELECT 'inserted', inserted FROM agg)
         ORDER BY reason""",
    // s4: the engine writes the recursive vote-JSON tree from events and
    // scans it back (readVoteFiles + double explode); the oracle computes
    // the same rollup straight from the events table — equality proves
    // the JSON round-trip and explode shapes are lossless.
    "s4_vote_scan" ->
      """WITH votes AS (
           SELECT DISTINCT day(ts) AS dy, strftime(ts, '%Y-%m-%d') AS date,
             event_type, user_id
           FROM events),
         filt AS (SELECT * FROM votes WHERE dy % 7 <> 0)
         SELECT CASE WHEN dy % 2 = 0 THEN 'HR' ELSE 'S' END
                  || CAST(dy AS VARCHAR) || '-118' AS bill_key,
           date, event_type AS vote_position, COUNT(*) AS n_voters
         FROM filt
         GROUP BY dy, date, event_type
         ORDER BY bill_key, date, vote_position""",
    // s5: the engine writes one bill-status XML file per bill and parses
    // them back through wholetext + from_xml (struct sponsor, cosponsor
    // array, explode_outer, boolean/date parses); the oracle recomputes
    // the rollup straight from part — equality proves the XML round-trip.
    "s5_bill_xml_scan" ->
      """WITH b AS (
           SELECT p_partkey AS k, p_name AS title FROM part
           WHERE p_partkey % 100 = 0)
         SELECT CASE WHEN k % 2 = 0 THEN 'HR' ELSE 'S' END
                  || CAST(k // 100 AS VARCHAR) AS official_bill_number,
           title,
           strftime(DATE '2023-01-01' + CAST(k % 365 AS INTEGER), '%Y-%m-%d') AS date_introduced,
           'S' || CAST(k % 500 AS VARCHAR) AS sponsor_bioguide,
           CAST(k % 3 AS BIGINT) AS n_cosponsors,
           CAST(CASE WHEN k % 3 > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_original
         FROM b ORDER BY official_bill_number""",
    // s6: the engine writes the committees JSON tree from nation and
    // flattens it back through readCommittees (field unswap, sub-id
    // composition, parent+sub union); the oracle recomputes the listing
    // from nation directly.
    "s6_committee_flatten" ->
      """WITH n AS (SELECT n_nationkey AS k, n_name FROM nation),
         parents AS (
           SELECT 'N' || CAST(k AS VARCHAR) AS committee_id, n_name AS name,
             CASE WHEN k % 2 = 0 THEN 'house' ELSE 'senate' END AS chamber,
             'standing' AS committee_type,
             CAST(NULL AS VARCHAR) AS parent_committee_id
           FROM n),
         subs AS (
           SELECT 'N' || CAST(k AS VARCHAR) || lpad(CAST(t.i AS VARCHAR), 2, '0') AS committee_id,
             n_name || ' Subcommittee ' || CAST(t.i AS VARCHAR) AS name,
             CASE WHEN k % 2 = 0 THEN 'house' ELSE 'senate' END AS chamber,
             'subcommittee' AS committee_type,
             'N' || CAST(k AS VARCHAR) AS parent_committee_id
           FROM n, unnest(range(k % 3)) AS t(i))
         SELECT * FROM (SELECT * FROM parents UNION ALL SELECT * FROM subs)
         ORDER BY committee_id""",
    "f14_daily_counts" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1 ORDER BY day""",
    // j6b: the engine runs the rollup through the salted scatter/
    // replicate join; the oracle is the PLAIN join — a hash match
    // proves salting is semantics-preserving.
    "j6b_salted_join" ->
      """SELECT c.c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    // j2b: the engine writes both fact tables bucketed on the join key
    // and joins bucket-to-bucket (exchange-free, plan asserted in
    // BucketingSpec); the oracle rolls up from the raw tables.
    "j2b_bucketed_join" ->
      """SELECT o.o_orderpriority, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",
    // s16: the engine writes events time-partitioned and reads back the
    // pruned incremental slice; the oracle computes the same rollup from
    // the raw table — equality proves the partitioned round-trip + prune
    // lose nothing.
    "s16_partitioned_sink" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n
         FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
         GROUP BY 1, 2 ORDER BY day, event_type""",
    // s16b: the engine lands events FRAGMENTED (hash-distributed
    // writers -> many files per day), compacts each day to one file by
    // stage-then-rename, and reads the pruned rollup through the
    // compacted table; the s16 formulation proves compaction loses and
    // duplicates nothing.
    "s16b_compacted_read" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n
         FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
         GROUP BY 1, 2 ORDER BY day, event_type""",
    // s17: the rollup from the RAW table — equality proves the range-
    // clustered round-trip loses nothing and the footer-pruned read
    // keeps every in-range row
    "s17_sorted_layout" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // s20: the z-ordered round-trip vs the raw table — layout changes
    // bytes read, never results; the pruning proofs are footer-stat
    // assertions in PartitionedSpec
    "s20_zorder_layout" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders
         WHERE o_custkey >= 40 AND o_custkey < 100
           AND o_orderdate >= TIMESTAMP '1994-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // s18: the evolved-read frame reconstructed from the raw table —
    // pre-evolution rows (even keys, landed without the column) must
    // surface NULL-filled, evolved rows keep their values
    "s18_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                     ELSE '<pre-evolution>' END AS priority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1 ORDER BY priority""",
    // c3: benchmark membership, the df cap, and the gram hash are all
    // interpolated from the Scala constants so both engines share them.
    "c3_decontamination" ->
      s"""WITH d AS (
           SELECT doc_id, lang, text,
             (CAST('0x' || substr(md5('contam:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
               % ${operators.Curation.BenchmarkBuckets} = 0) AS is_bench
           FROM documents),
         t AS (SELECT doc_id, lang, is_bench, $toksSql AS w FROM d),
         g0 AS (
           SELECT DISTINCT doc_id, lang, is_bench, gram FROM (
             SELECT doc_id, lang, is_bench, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         g AS (
           SELECT doc_id, lang, is_bench,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_h
           FROM g0),
         hot AS (
           SELECT gram_h FROM g GROUP BY gram_h
           HAVING COUNT(*) > ${operators.Dedup.dfCapSql("documents")}),
         rare AS (SELECT * FROM g WHERE gram_h NOT IN (SELECT gram_h FROM hot)),
         bench AS (SELECT gram_h, doc_id AS bench_id FROM rare WHERE is_bench)
         SELECT r.doc_id, r.lang,
           COUNT(DISTINCT r.gram_h) AS n_shared_grams,
           COUNT(DISTINCT b.bench_id) AS n_bench_docs
         FROM rare r JOIN bench b USING (gram_h)
         WHERE NOT r.is_bench
         GROUP BY r.doc_id, r.lang
         ORDER BY r.doc_id""",
    "c4_stratified_sample" ->
      s"""WITH d AS (
           SELECT doc_id, lang, len($toksSql) AS n_tokens,
             CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) AS bucket,
             CASE ${operators.Curation.SampleDenoms.map { case (l, n) => s"WHEN lang = '$l' THEN $n" }.mkString(" ")}
               ELSE ${operators.Curation.SampleDenomDefault} END AS denom
           FROM documents)
         SELECT doc_id, lang, n_tokens FROM d
         WHERE bucket % denom = 0
         ORDER BY doc_id""",
    // c4b: quality-proportional Bernoulli in exact integer arithmetic —
    // the u32*1e6 < ppm*2^32 compare is the same on both engines
    "c4b_weighted_sample" ->
      s"""WITH f AS (
           SELECT doc_id, lang,
             len($toksSql) AS n_tokens,
             len(list_filter($toksSql,
               x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop
           FROM documents),
         scored AS (
           SELECT doc_id, lang, n_tokens,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE CAST(floor((least(n_tokens, 100) / 100.0 * 0.5
                       + n_stop / CAST(n_tokens AS DOUBLE) * 0.5) * 1000000.0) AS BIGINT) END AS quality_ppm,
             CAST('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS u32
           FROM f)
         SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
         FROM scored
         WHERE u32 * 1000000 < quality_ppm * 4294967296
         GROUP BY lang ORDER BY lang""",
    "c5_mixture_epochs" ->
      s"""WITH d AS (
           SELECT doc_id, lang,
             CASE ${operators.Curation.MixtureEpochs.map { case (l, n) => s"WHEN lang = '$l' THEN $n" }.mkString(" ")}
               ELSE 1 END AS n_epochs
           FROM documents)
         SELECT doc_id, lang, x.e AS epoch,
           CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR) || ':' || CAST(x.e AS VARCHAR)), 1, 15) AS BIGINT) AS shuffle_key
         FROM d, unnest(range(1, n_epochs + 1)) AS x(e)
         ORDER BY doc_id, epoch""",
    // c6: shard = 60-bit salted md5 mod ManifestShards (both constants
    // interpolated); first_doc mirrors Spark's min(struct(skey,doc_id))
    // via ROW_NUMBER over the same ordering; integer sum through BIGINT
    "c6_shard_manifest" ->
      s"""WITH d AS (
           SELECT doc_id, len($toksSql) AS n_tokens,
             CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS skey
           FROM documents),
         s AS (
           SELECT doc_id, n_tokens, skey,
             skey % ${operators.Curation.ManifestShards} AS shard,
             ROW_NUMBER() OVER (PARTITION BY skey % ${operators.Curation.ManifestShards}
               ORDER BY skey, doc_id) AS rn
           FROM d)
         SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS first_doc
         FROM s GROUP BY shard ORDER BY shard""",
    // c7: the cap's priority reuses t2's hash-checked quality_ppm
    // expression; QUALIFY row_number keeps top-cap per source (under-cap
    // sources keep every row, mirroring the pass-through branch);
    // kept_id_sum pins exact membership, not just counts
    "c7_source_caps" ->
      s"""WITH f AS (
           SELECT doc_id, source,
             len($toksSql) AS n_tokens,
             len(list_filter($toksSql,
               x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop
           FROM documents),
         scored AS (
           SELECT doc_id, source,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE CAST(floor((least(n_tokens, 100) / 100.0 * 0.5
                       + n_stop / CAST(n_tokens AS DOUBLE) * 0.5) * 1000000.0) AS BIGINT) END AS quality_ppm
           FROM f),
         counts AS (SELECT source, COUNT(*) AS n_src FROM scored GROUP BY source),
         kept AS (
           SELECT * FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY quality_ppm DESC, doc_id) <= ${operators.Curation.SourceCap})
         SELECT k.source, COUNT(*) AS n_kept,
           CAST(c.n_src - COUNT(*) AS BIGINT) AS n_dropped,
           MIN(k.quality_ppm) AS min_kept_ppm,
           CAST(SUM(k.doc_id) AS BIGINT) AS kept_id_sum
         FROM kept k JOIN counts c USING (source)
         GROUP BY k.source, c.n_src ORDER BY k.source""",
    // e3: NOT-EXISTS formulations of the same four relations; the
    // release CTE mirrors s19's derivation
    "e3_integrity_audit" ->
      s"""WITH b AS (
           SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % ${operators.SnapshotDiff.DeriveBuckets} AS bkt
           FROM documents),
         v2 AS (
           SELECT doc_id FROM b WHERE bkt <> 0
           UNION ALL
           SELECT doc_id + ${operators.SnapshotDiff.AddOffset} FROM b WHERE bkt = 2),
         audits AS (
           SELECT 'events.user_id->customer' AS relation,
             (SELECT COUNT(*) FROM events) AS n_child_rows,
             (SELECT COUNT(*) FROM events e WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS n_orphans,
             (SELECT COALESCE(SUM(e.user_id), 0) FROM events e WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS orphan_key_sum
           UNION ALL
           SELECT 'lineitem.l_orderkey->orders',
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
             (SELECT COALESCE(SUM(l.l_orderkey), 0) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
           UNION ALL
           SELECT 'orders.o_custkey->customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
             (SELECT COALESCE(SUM(o.o_custkey), 0) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           UNION ALL
           SELECT 'v1.doc_id->next_release',
             (SELECT COUNT(*) FROM documents),
             (SELECT COUNT(*) FROM documents d WHERE NOT EXISTS
               (SELECT 1 FROM v2 WHERE v2.doc_id = d.doc_id)),
             (SELECT COALESCE(SUM(d.doc_id), 0) FROM documents d WHERE NOT EXISTS
               (SELECT 1 FROM v2 WHERE v2.doc_id = d.doc_id)))
         SELECT relation, CAST(n_child_rows AS BIGINT) AS n_child_rows,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           CAST(orphan_key_sum AS BIGINT) AS orphan_key_sum
         FROM audits ORDER BY relation""",
    // m3: centroid = per-dim mean of FLOORED-ppm values (exact integer
    // addends — order-free), cosine via the proven list_reduce mirror;
    // the confusion split is pinned per class
    "m3_paired_curation" ->
      s"""WITH f AS (
           SELECT doc_id,
             len($toksSql) AS n_tokens,
             len(list_filter($toksSql,
               x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS n_stop
           FROM documents),
         q AS (
           SELECT doc_id,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE CAST(floor((least(n_tokens, 100) / 100.0 * 0.5
                       + n_stop / CAST(n_tokens AS DOUBLE) * 0.5) * 1000000.0) AS BIGINT) END AS quality_ppm
           FROM f),
         cent AS (
           SELECT label,
             list_transform(range(64), j ->
               list_sum(list_transform(list(embedding), v -> floor(CAST(v[j+1] AS DOUBLE) * 1000000.0)))
                 / count(*)) AS c
           FROM embeddings GROUP BY label),
         p AS (
           SELECT e.vec_id, e.label, q.quality_ppm,
             CAST(floor(1000000.0 *
               list_reduce(list_transform(range(64), j -> CAST(e.embedding[j+1] AS DOUBLE) * c[j+1]), (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(range(64), j -> CAST(e.embedding[j+1] AS DOUBLE) * e.embedding[j+1]), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(range(64), j -> CAST(c[j+1] AS DOUBLE) * c[j+1]), (x, y) -> x + y)))) AS BIGINT) AS cos_ppm
           FROM embeddings e JOIN cent USING (label) JOIN q ON e.vec_id = q.doc_id),
         flags AS (
           SELECT label, vec_id,
             quality_ppm >= ${operators.Multimodal.PairTextMinPpm} AS q_ok,
             cos_ppm >= ${operators.Multimodal.PairCosineMinPpm} AS v_ok
           FROM p)
         SELECT label, COUNT(*) AS n_pairs,
           COUNT(*) FILTER (q_ok AND v_ok) AS n_kept,
           COUNT(*) FILTER (NOT q_ok AND v_ok) AS n_text_reject,
           COUNT(*) FILTER (q_ok AND NOT v_ok) AS n_vec_reject,
           COUNT(*) FILTER (NOT q_ok AND NOT v_ok) AS n_both_reject,
           CAST(SUM(vec_id) FILTER (q_ok AND v_ok) AS BIGINT) AS kept_id_sum
         FROM flags GROUP BY label ORDER BY label""",
    // a17: the oracle chains the same three strictly-after mins
    "a17_funnel_stages" ->
      """WITH t1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         t2 AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
         t3 AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id)
         SELECT '1_view' AS stage, COUNT(*) AS n_users,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum FROM t1
         UNION ALL
         SELECT '2_view_click', COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM t2
         UNION ALL
         SELECT '3_view_click_purchase', COUNT(*), CAST(SUM(user_id) AS BIGINT) FROM t3
         ORDER BY stage""",
    // a18: epoch-week arithmetic (floor of epoch micros / week) — no
    // week-of-year / timezone semantics to disagree on
    "a18_retention_cohorts" ->
      """WITH c AS (
           SELECT user_id,
             CAST(floor(epoch_us(min(ts)) / 604800000000) AS BIGINT) AS cohort_week
           FROM events GROUP BY user_id),
         cells AS (
           SELECT DISTINCT e.user_id, c.cohort_week,
             CAST(floor(epoch_us(e.ts) / 604800000000) AS BIGINT) - c.cohort_week AS week_offset
           FROM events e JOIN c ON e.user_id = c.user_id)
         SELECT cohort_week, week_offset, COUNT(*) AS n_users,
           CAST(SUM(user_id) AS BIGINT) AS user_id_sum
         FROM cells GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",
    // s19: the oracle derives the SAME v2 snapshot (md5-bucket
    // delete/rewrite/add) and classifies by direct value comparison —
    // proving the Spark side's digest compare equivalent to comparing
    // the payloads themselves
    "s19_release_diff" ->
      s"""WITH b AS (
           SELECT doc_id, text, lang, source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % ${operators.SnapshotDiff.DeriveBuckets} AS bkt
           FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN bkt = 1 THEN text || ' [rev2]' ELSE text END AS text,
             lang, source FROM b WHERE bkt <> 0
           UNION ALL
           SELECT doc_id + ${operators.SnapshotDiff.AddOffset},
             text || ' [new]', lang, source FROM b WHERE bkt = 2),
         d AS (
           SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'inserted'
                  WHEN n.doc_id IS NULL THEN 'deleted'
                  WHEN o.text IS NOT DISTINCT FROM n.text
                   AND o.lang IS NOT DISTINCT FROM n.lang
                   AND o.source IS NOT DISTINCT FROM n.source THEN 'unchanged'
                  ELSE 'updated' END AS op
           FROM documents o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id)
         SELECT op, COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM d GROUP BY op ORDER BY op""",
    // s19b: the oracle NEVER sees the changelog — it derives v2
    // directly and rolls up; the Spark side must reconstruct v2 from
    // v1 + changelog to match
    "s19b_changelog_apply" ->
      s"""WITH b AS (
           SELECT doc_id, text, lang, source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
               % ${operators.SnapshotDiff.DeriveBuckets} AS bkt
           FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN bkt = 1 THEN text || ' [rev2]' ELSE text END AS text,
             lang, source FROM b WHERE bkt <> 0
           UNION ALL
           SELECT doc_id + ${operators.SnapshotDiff.AddOffset},
             text || ' [new]', lang, source FROM b WHERE bkt = 2)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS text_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM v2 GROUP BY lang ORDER BY lang""",
    // j12/j12b: one BETWEEN-join oracle for both physical forms —
    // hash equality proves the bucket expansion + residual filter
    // loses and invents nothing vs the plain non-equi join
    "j12_range_join" -> rangeJoinSql,
    "j12b_range_bucketed" -> rangeJoinSql,
    // v6: assignment CTE identical to v5's; the re-estimated centroid
    // divides two exact integers as doubles (see Similarity.kmeansStep).
    "v6_kmeans_step" ->
      s"""WITH cents AS (
           SELECT vec_id AS cent_id, embedding AS cent_emb
           FROM embeddings WHERE vec_id < ${operators.Similarity.IvfCentroids}),
         assigned AS (
           SELECT vec_id, embedding, cent_id FROM (
             SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_reduce(list_transform(range(64),
                   j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(c.cent_emb[j+1] AS DOUBLE)), (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(range(64),
                      j -> CAST(e.embedding[j+1] AS DOUBLE) * CAST(e.embedding[j+1] AS DOUBLE)), (x, y) -> x + y))
                    * sqrt(list_reduce(list_transform(range(64),
                      j -> CAST(c.cent_emb[j+1] AS DOUBLE) * CAST(c.cent_emb[j+1] AS DOUBLE)), (x, y) -> x + y)))
                 DESC, c.cent_id) AS rn
             FROM embeddings e CROSS JOIN cents c) t
           WHERE rn = 1),
         expl AS (
           SELECT cent_id, x.i AS dim_idx,
             CAST(floor(CAST(embedding[x.i+1] AS DOUBLE) * 1000000) AS BIGINT) AS ppm
           FROM assigned, unnest(range(64)) AS x(i))
         SELECT cent_id, dim_idx,
           CAST(CAST(SUM(ppm) AS BIGINT) AS DOUBLE) / COUNT(*) AS centroid_ppm,
           COUNT(*) AS n_members
         FROM expl GROUP BY cent_id, dim_idx
         ORDER BY cent_id, dim_idx""",
    // j11: the oracle reproduces the as-of semantics with the identical
    // left band join + argmax window; -1 sentinels keep the output
    // columns non-nullable (render parity). j11b shares it VERBATIM —
    // equality proves the time-bucket second join key loses nothing.
    "j11b_bucketed_asof" -> j11Sql,
    "j11_asof_join" -> j11Sql,
    // st3: the streaming join's emitted pairs vs the plain batch band
    // join — equality holds because the single-file source arrives as
    // ONE micro-batch (enforced by the operator's require)
    "st3_stream_stream_join" ->
      s"""SELECT p.event_id AS p_id, v.event_id AS v_id
         FROM events p JOIN events v
           ON p.user_id = v.user_id
          AND p.event_type = 'purchase' AND v.event_type = 'view'
          AND v.ts <= p.ts
          AND v.ts >= p.ts - INTERVAL ${operators.AsofJoin.HorizonMinutes} MINUTE
         ORDER BY p_id, v_id""",
    // j11c: the custom physical operator answers to the same oracle too
    "j11c_merge_asof" -> j11Sql,
    // t5: patterns interpolated from the shared Scala constants; DuckDB
    // needs the explicit 'g' flag for a global replace (Spark's
    // regexp_replace is global by default) and counts matches via
    // regexp_extract_all.
    "t5_pii_scrub" ->
      s"""WITH prof AS (
           SELECT c_custkey,
             'Customer ' || c_name || ' reachable at user' || CAST(c_custkey AS VARCHAR)
               || '@example.' || CASE WHEN c_nationkey % 2 = 0 THEN 'com' ELSE 'org' END
               || repeat(' call 555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'),
                    CAST(c_custkey % 3 AS INTEGER))
               || ' segment ' || c_mktsegment AS profile
           FROM customer)
         SELECT c_custkey,
           CAST(len(regexp_extract_all(profile, '${operators.TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(profile, '${operators.TextOps.PhonePattern}')) AS BIGINT) AS n_phones,
           CAST('0x' || substr(md5(
             regexp_replace(regexp_replace(profile, '${operators.TextOps.EmailPattern}', '[EMAIL]', 'g'),
               '${operators.TextOps.PhonePattern}', '[PHONE]', 'g')), 1, 15) AS BIGINT) AS scrub_h
         FROM prof
         ORDER BY c_custkey""",
    // t6: repetition stats over word 2-grams. The null-gram sentinel
    // keeps <2-token docs in the output on both engines; the top-gram
    // tie-break (count desc, gram desc) mirrors Spark's max(struct)
    // ordering; thresholds interpolate from the shared constants.
    "t6_repetition_stats" ->
      s"""WITH toks AS (
           SELECT doc_id, $toksSql AS t FROM documents),
         g AS (
           SELECT doc_id,
             CASE WHEN len(t) < 2 THEN [NULL]
                  ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) END AS grams
           FROM toks),
         e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         cnt AS (SELECT doc_id, gram, count(*) AS c FROM e GROUP BY doc_id, gram),
         roll AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN gram IS NULL THEN 0 ELSE c END) AS BIGINT) AS n_grams,
             COUNT(gram) AS n_distinct
           FROM cnt GROUP BY doc_id),
         top AS (
           SELECT doc_id, gram AS top_gram, c AS top_c,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) AS rn
           FROM cnt WHERE gram IS NOT NULL),
         m AS (
           SELECT r.doc_id, r.n_grams,
             CASE WHEN r.n_grams = 0 THEN 0
                  ELSE CAST(floor((r.n_grams - r.n_distinct) * 1000000.0 / r.n_grams) AS BIGINT)
                  END AS dup_gram_ppm,
             COALESCE(t.top_gram, '') AS top_gram,
             CASE WHEN r.n_grams = 0 THEN 0
                  ELSE CAST(floor(t.top_c * 1000000.0 / r.n_grams) AS BIGINT)
                  END AS top_gram_ppm
           FROM roll r LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id))
         SELECT doc_id, n_grams, dup_gram_ppm, top_gram, top_gram_ppm,
           (dup_gram_ppm > ${operators.TextOps.DupGramPpmMax}
            OR top_gram_ppm > ${operators.TextOps.TopGramPpmMax}) AS flagged
         FROM m ORDER BY doc_id""",
    // d8: the planted batch reconstructed with UNION ALL; statuses via
    // plain set logic (dup_of_landed beats dup_in_batch; first doc_id
    // wins within the batch)
    "d8_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
         landed AS (SELECT digest FROM d WHERE doc_id % 4 <> 0),
         batch AS (
           SELECT doc_id, digest FROM d WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id + 100000, digest FROM d WHERE doc_id % 4 <> 0 AND doc_id % 7 = 1
           UNION ALL
           SELECT doc_id + 200000, digest FROM d WHERE doc_id % 4 = 0 AND doc_id % 10 = 2),
         firsts AS (SELECT digest, MIN(doc_id) AS first_id FROM batch GROUP BY digest)
         SELECT b.doc_id,
           CASE WHEN b.digest IN (SELECT digest FROM landed) THEN 'dup_of_landed'
                WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
                ELSE 'new' END AS status
         FROM batch b JOIN firsts f USING (digest)
         ORDER BY b.doc_id""",
    "d9_semantic_dedup" -> d9Sql,
    "d9b_semantic_dedup_trained" -> d9bSql,
    // d11: sketch internals are engine-specific (DataSketches vs
    // DuckDB's approx_count_distinct), so the a5b discipline applies —
    // exact anchors hash-compared, each engine's inclusion-exclusion
    // estimate asserted within 5% of (n_a + n_b) as a boolean
    "d11_source_overlap" ->
      s"""WITH t AS (
           SELECT doc_id, source, $toksSql AS w FROM documents),
         g AS (
           SELECT DISTINCT source, gram FROM (
             SELECT source, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         per AS (
           SELECT source, COUNT(DISTINCT gram) AS n,
             approx_count_distinct(gram) AS ap
           FROM g GROUP BY source),
         pr AS (
           SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n_a, b.n AS n_b, a.ap AS ap_a, b.ap AS ap_b
           FROM per a JOIN per b ON a.source < b.source),
         uni AS (
           SELECT p.source_a, p.source_b, approx_count_distinct(g.gram) AS ap_u
           FROM pr p JOIN g ON g.source IN (p.source_a, p.source_b)
           GROUP BY 1, 2),
         eo AS (
           SELECT x.source AS source_a, y.source AS source_b,
             COUNT(DISTINCT x.gram) AS ov
           FROM g x JOIN g y ON x.gram = y.gram AND x.source < y.source
           GROUP BY 1, 2)
         SELECT p.source_a, p.source_b,
           CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
           CAST(COALESCE(eo.ov, 0) AS BIGINT) AS ov_exact,
           abs((p.ap_a + p.ap_b - u.ap_u) - COALESCE(eo.ov, 0))
             <= 0.05 * (p.n_a + p.n_b) AS ov_ok
         FROM pr p
         JOIN uni u USING (source_a, source_b)
         LEFT JOIN eo USING (source_a, source_b)
         ORDER BY source_a, source_b""",
    // d11b: sketch-only on BOTH engines (no exact-overlap CTE) — each
    // engine's inclusion-exclusion estimate asserted inside the
    // feasibility envelope of its exact marginals, widened by d11's
    // ±5%(n_a+n_b) bound; marginals hash-compared exactly
    "d11b_sketch_overlap" ->
      s"""WITH t AS (
           SELECT doc_id, source, $toksSql AS w FROM documents),
         g AS (
           SELECT DISTINCT source, gram FROM (
             SELECT source, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         per AS (
           SELECT source, COUNT(DISTINCT gram) AS n,
             approx_count_distinct(gram) AS ap
           FROM g GROUP BY source),
         pr AS (
           SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n_a, b.n AS n_b, a.ap AS ap_a, b.ap AS ap_b
           FROM per a JOIN per b ON a.source < b.source),
         uni AS (
           SELECT p.source_a, p.source_b, approx_count_distinct(g.gram) AS ap_u
           FROM pr p JOIN g ON g.source IN (p.source_a, p.source_b)
           GROUP BY 1, 2)
         SELECT p.source_a, p.source_b,
           CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
           (p.ap_a + p.ap_b - u.ap_u) >= -0.05 * (p.n_a + p.n_b)
             AND (p.ap_a + p.ap_b - u.ap_u)
               <= least(p.n_a, p.n_b) + 0.05 * (p.n_a + p.n_b) AS est_ok
         FROM pr p JOIN uni u USING (source_a, source_b)
         ORDER BY source_a, source_b""",
    // c11: d11's exact-anchor chain + the unique-mass rollup — floor
    // ppm division, hashable; the estimate path feeds the same rollup
    // in production (d11's design point)
    "c11_overlap_weights" ->
      s"""WITH t AS (
           SELECT doc_id, source, $toksSql AS w FROM documents),
         g AS (
           SELECT DISTINCT source, gram FROM (
             SELECT source, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM t, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         per AS (SELECT source, COUNT(DISTINCT gram) AS n FROM g GROUP BY source),
         eo AS (
           SELECT x.source AS sa, y.source AS sb, COUNT(DISTINCT x.gram) AS ov
           FROM g x JOIN g y ON x.gram = y.gram AND x.source < y.source
           GROUP BY 1, 2),
         sides AS (SELECT sa AS source, ov FROM eo
                   UNION ALL SELECT sb, ov FROM eo),
         mo AS (SELECT source, MAX(ov) AS max_overlap FROM sides GROUP BY source),
         um AS (
           SELECT p.source, p.n AS n_grams,
             COALESCE(mo.max_overlap, 0) AS max_overlap,
             p.n - COALESCE(mo.max_overlap, 0) AS uniq
           FROM per p LEFT JOIN mo USING (source))
         SELECT source, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(max_overlap AS BIGINT) AS max_overlap,
           -- the engine's degenerate-corpus fallbacks, mirrored so the
           -- gate stays meaningful on mirrored/empty corpora: zero
           -- total unique mass -> n_grams-proportional; zero gram mass
           -- -> equal split (all masses are non-negative, so // and
           -- Spark's div agree)
           CAST(CASE
             WHEN (SELECT SUM(uniq) FROM um) > 0
               THEN (uniq * 1000000) // (SELECT SUM(uniq) FROM um)
             WHEN (SELECT SUM(n_grams) FROM um) > 0
               THEN (n_grams * 1000000) // (SELECT SUM(n_grams) FROM um)
             ELSE 1000000 // (SELECT COUNT(*) FROM um)
           END AS BIGINT) AS weight_ppm
         FROM um ORDER BY source""",
    "t8_bpe_merges" -> t8Sql,
    "t8b_bpe_tokenize" -> t8bSql,
    // d10: the island rule mirrors the Scala window exactly — the
    // first hit's NULL lag falls to the ELSE branch in both engines.
    // SUMs over ints are cast back to BIGINT (DuckDB widens to
    // HUGEINT); the ppm is the t2 floor'd-double convention.
    "d10_duplicate_spans" ->
      s"""WITH $d10Ctes,
         spans AS (
           SELECT doc_id, span_id,
             MAX(pos) + ${operators.Dedup.SpanGram} - MIN(pos) AS span_len
           FROM sp GROUP BY doc_id, span_id),
         nt AS (SELECT doc_id, len(w) AS n_tokens FROM t)
         SELECT s.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
           COUNT(*) AS n_spans,
           CAST(SUM(span_len) AS BIGINT) AS dup_tokens,
           CAST(FLOOR(SUM(span_len) * 1000000.0 / nt.n_tokens) AS BIGINT) AS dup_ppm
         FROM spans s JOIN nt USING (doc_id)
         GROUP BY s.doc_id, nt.n_tokens
         ORDER BY s.doc_id""",
    // d10b: the excision — every covered token position dropped; the
    // span ranges are d10's islands verbatim, so the oracle proves the
    // cleaned TEXT, not just the span accounting
    "d10b_span_scrub" ->
      s"""WITH $d10Ctes,
         spans2 AS (
           SELECT doc_id, MIN(pos) AS s,
             MAX(pos) + ${operators.Dedup.SpanGram} - 1 AS e
           FROM sp GROUP BY doc_id, span_id),
         tokpos AS (
           SELECT doc_id, x.i AS pos, w[x.i+1] AS tok
           FROM t, unnest(range(len(w))) AS x(i)),
         kept AS (
           SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
           WHERE NOT EXISTS (
             SELECT 1 FROM spans2 s
             WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.s AND s.e)),
         cleaned AS (
           SELECT doc_id, COUNT(*) AS n_kept,
             COALESCE(string_agg(tok, ' ' ORDER BY pos), '') AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(len(t.w) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
         FROM t LEFT JOIN cleaned c USING (doc_id)
         ORDER BY t.doc_id""",
    // t7: the quantized-surprisal LM — length(bin(x))-1 is floor(log2)
    // on both engines, so the score is exact integer math plus one
    // floor'd double division; NTILE's tie behavior is pinned by the
    // unique (surprisal, doc_id) order
    "t7_bigram_surprisal" ->
      s"""WITH t AS (
           SELECT doc_id, lang, $toksSql AS w FROM documents),
         g AS (
           SELECT doc_id,
             CAST('0x' || substr(md5(w[x.i+1] || ' ' || w[x.i+2]), 1, 15) AS BIGINT) AS gram_h
           FROM t, unnest(range(len(w) - 1)) AS x(i)
           WHERE len(w) >= 2),
         c AS (SELECT gram_h, COUNT(*) AS cnt FROM g GROUP BY gram_h),
         tot AS (SELECT COUNT(*) AS n_total FROM g),
         per AS (
           SELECT g.doc_id, COUNT(*) AS n_bigrams,
             CAST(FLOOR(SUM(length(bin(tot.n_total)) - length(bin(c.cnt))) * 1000.0
               / COUNT(*)) AS BIGINT) AS surprisal_milli
           FROM g JOIN c USING (gram_h) CROSS JOIN tot
           GROUP BY g.doc_id),
         alldocs AS (
           SELECT t.doc_id, t.lang,
             COALESCE(per.n_bigrams, 0) AS n_bigrams,
             COALESCE(per.surprisal_milli, 0) AS surprisal_milli
           FROM t LEFT JOIN per USING (doc_id))
         SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(surprisal_milli AS BIGINT) AS surprisal_milli,
           CAST(NTILE(3) OVER (PARTITION BY lang
             ORDER BY surprisal_milli, doc_id) AS INTEGER) AS ppl_bucket
         FROM alldocs ORDER BY doc_id""",
    // t7b: the same score chain, bucketed by SAMPLED cutpoints — rank
    // statistics of a hash-membership sample (no rand(), no doubles),
    // applied as two integer comparisons per doc
    "t7b_sampled_buckets" ->
      s"""WITH t AS (
           SELECT doc_id, lang, $toksSql AS w FROM documents),
         g AS (
           SELECT doc_id,
             CAST('0x' || substr(md5(w[x.i+1] || ' ' || w[x.i+2]), 1, 15) AS BIGINT) AS gram_h
           FROM t, unnest(range(len(w) - 1)) AS x(i)
           WHERE len(w) >= 2),
         c AS (SELECT gram_h, COUNT(*) AS cnt FROM g GROUP BY gram_h),
         tot AS (SELECT COUNT(*) AS n_total FROM g),
         per AS (
           SELECT g.doc_id, COUNT(*) AS n_bigrams,
             CAST(FLOOR(SUM(length(bin(tot.n_total)) - length(bin(c.cnt))) * 1000.0
               / COUNT(*)) AS BIGINT) AS surprisal_milli
           FROM g JOIN c USING (gram_h) CROSS JOIN tot
           GROUP BY g.doc_id),
         alldocs AS (
           SELECT t.doc_id, t.lang,
             COALESCE(per.n_bigrams, 0) AS n_bigrams,
             COALESCE(per.surprisal_milli, 0) AS surprisal_milli
           FROM t LEFT JOIN per USING (doc_id)),
         smp AS (
           SELECT * FROM alldocs
           WHERE CAST('0x' || substr(md5('t7b:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
             < 16384),
         ranked AS (
           SELECT lang, surprisal_milli, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY surprisal_milli, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS ns
           FROM smp),
         cuts AS (
           SELECT lang, MIN(surprisal_milli) AS c1, MAX(surprisal_milli) AS c2
           FROM ranked
           WHERE rn = (ns + 2) // 3 OR rn = (ns * 2 + 2) // 3
           GROUP BY lang)
         SELECT a.doc_id, a.lang, CAST(a.n_bigrams AS BIGINT) AS n_bigrams,
           CAST(a.surprisal_milli AS BIGINT) AS surprisal_milli,
           CAST(CASE WHEN cuts.c1 IS NULL THEN 2
             WHEN a.surprisal_milli <= cuts.c1 THEN 1
             WHEN a.surprisal_milli <= cuts.c2 THEN 2
             ELSE 3 END AS INT) AS ppl_bucket
         FROM alldocs a LEFT JOIN cuts USING (lang)
         ORDER BY a.doc_id""",
    // d6: the winnowing tier end to end. The window hash reproduces
    // RollingFingerprint's Rabin-Karp values exactly in HUGEINT; the
    // winnow encodes rightmost-tie argmin as MIN over a position-
    // inverted composite key — valid only while docs < 2^20 chars, so
    // the docs CTE ENFORCES the bound via error(): an oversized doc
    // fails the gate loudly instead of silently mis-ranking windows.
    // (RE2's \\s+ here is exactly the [\\t\\n\\f\\r ] class the Scala
    // expression normalizes with, and length()/ord() count CODE POINTS
    // to match its codePoints() loop.)
    "d6_rolling_fingerprint" ->
      s"""WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
           FROM documents),
         docs AS (
           SELECT doc_id, t,
             CASE WHEN length(t) >= 1048576
               THEN error('d6 oracle: normalized doc >= 2^20 chars breaks the position-inverted winnow key')
               ELSE length(t) END AS n
           FROM norm
           WHERE length(t) >= ${graft.functions.RollingFingerprint.K}),
         win AS (
           SELECT doc_id, x.p AS p,
             $fpWindowHashSql AS h
           FROM docs, unnest(range(n - ${graft.functions.RollingFingerprint.K - 1})) AS x(p)),
         keyed AS (
           SELECT doc_id, p, h, h * 1048576 + (1048575 - p) AS key,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_win
           FROM win),
         winnowed AS (
           SELECT doc_id, p, n_win,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN ${graft.functions.RollingFingerprint.W - 1} PRECEDING
               AND CURRENT ROW) AS mkey
           FROM keyed),
         fps0 AS (
           SELECT doc_id, mkey // 1048576 AS fp FROM winnowed
           WHERE n_win > ${graft.functions.RollingFingerprint.W}
             AND p >= ${graft.functions.RollingFingerprint.W - 1}
           UNION
           SELECT doc_id, MIN(key) // 1048576 AS fp FROM keyed
           WHERE n_win <= ${graft.functions.RollingFingerprint.W}
           GROUP BY doc_id),
         hot AS (
           SELECT fp FROM fps0 GROUP BY fp
           HAVING COUNT(*) > ${operators.Dedup.dfCapSql("documents")}),
         fps AS (SELECT * FROM fps0 WHERE fp NOT IN (SELECT fp FROM hot)),
         cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2
           HAVING COUNT(*) >= ${operators.Dedup.FingerprintMinShared}),
         cand_ids AS (
           SELECT a_id AS doc_id FROM cand UNION SELECT b_id FROM cand),
         ct AS (
           SELECT doc_id, $toksSql AS w FROM documents
           JOIN cand_ids USING (doc_id)),
         g0 AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, array_to_string(w[x.i+1:x.i+3], ' ') AS gram
             FROM ct, unnest(range(len(w) - 2)) AS x(i)
             WHERE len(w) >= 3)),
         g AS (
           SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gram_h
           FROM g0),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
         common AS (
           SELECT c.a_id, c.b_id, COUNT(*) AS n_common
           FROM cand c
           JOIN g ga ON ga.doc_id = c.a_id
           JOIN g gb ON gb.doc_id = c.b_id AND gb.gram_h = ga.gram_h
           GROUP BY 1, 2)
         SELECT a_id, b_id,
           n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) AS jaccard
         FROM common
         JOIN cnt ca ON a_id = ca.doc_id
         JOIN cnt cb ON b_id = cb.doc_id
         WHERE n_common / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.8
         ORDER BY a_id, b_id""",
    // d7: the d2 pair CTEs verbatim, then a recursive transitive
    // closure — an INDEPENDENT formulation of the component fixpoint
    // the Spark side reaches by min-label propagation.
    "d7_dedup_clusters" -> d7Sql,
    // d7c maintains the SAME clustering incrementally — one oracle
    // proves the quotient-compose plan equal to the full CC.
    "d7c_incremental_clusters" -> d7Sql,
    // d7b: the large-star/small-star contraction answers to the SAME
    // closure oracle — hash equality proves both algorithms reach the
    // identical component fixpoint on the real edge set
    "d7b_star_clusters" -> d7Sql,
    "a15_cube_totals" ->
      """WITH r AS (
           SELECT o_orderstatus AS status_raw, o_orderpriority AS prio_raw,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_amount,
             COUNT(*) AS n_orders
           FROM orders
           GROUP BY CUBE (status_raw, prio_raw))
         SELECT COALESCE(status_raw, 'ALL') AS o_orderstatus,
           COALESCE(prio_raw, 'ALL') AS o_orderpriority,
           CAST(total_amount AS DOUBLE) AS total_amount, n_orders
         FROM r ORDER BY o_orderstatus, o_orderpriority""",
    // w7: the trailing mean is floor'd cents (decimal division ties are
    // not portable); delta subtracts exact decimals, 0 for the first day.
    "w7_moving_average" ->
      """WITH daily AS (
           SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total
           FROM orders GROUP BY 1),
         win AS (
           SELECT day, day_total,
             CAST(floor(
               CAST(SUM(CAST(day_total * 100 AS BIGINT)) OVER
                 (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / COUNT(*) OVER
                 (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS BIGINT)
               AS ma7_cents,
             day_total - LAG(day_total, 1) OVER (ORDER BY day) AS delta
           FROM daily)
         SELECT day, CAST(day_total AS DOUBLE) AS day_total, ma7_cents,
           CAST(COALESCE(delta, 0) AS DOUBLE) AS delta
         FROM win ORDER BY day""",
    // c8: DSIR importance weights — both LMs integer-quantized via
    // floor-log2 (bin-string length, the t7 discipline), so the whole
    // selection is exact integer arithmetic on both engines. The ONE
    // count pass yields raw and target counts together (target is a
    // filtered sum of the same frame).
    "c8_dsir_selection" ->
      s"""WITH t AS (
           SELECT doc_id, source, lang, $toksSql AS w FROM documents),
         g AS (
           SELECT doc_id,
             source IN ('src0','src1','src2','src3') AS is_t,
             CAST('0x' || substr(md5(w[x.i+1] || ' ' || w[x.i+2]), 1, 15) AS BIGINT)
               % 256 AS b
           FROM t, unnest(range(len(w) - 1)) AS x(i)
           WHERE len(w) >= 2),
         lm AS (
           SELECT b,
             (length(bin(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 1)) - 1)
               - (length(bin(COUNT(*) + 1)) - 1) AS qdiff
           FROM g GROUP BY b),
         norm AS (
           SELECT (length(bin(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 256)) - 1)
                - (length(bin(COUNT(*) + 256)) - 1) AS cnorm
           FROM g),
         per AS (
           SELECT g.doc_id, COUNT(*) AS n_grams, SUM(lm.qdiff) AS qsum
           FROM g JOIN lm USING (b) GROUP BY g.doc_id)
         SELECT t.doc_id, t.source, t.lang,
           CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(per.qsum, 0)
             - COALESCE(per.n_grams, 0) * norm.cnorm AS BIGINT) AS dsir_weight,
           (COALESCE(per.qsum, 0)
             - COALESCE(per.n_grams, 0) * norm.cnorm) >= 0 AS selected
         FROM t LEFT JOIN per USING (doc_id) CROSS JOIN norm
         ORDER BY t.doc_id""",
    // t9: chunk geometry is pure integer arithmetic (W=32, S=24); the
    // chunk CONTENTS are pinned by md5 of the space-rejoined slice —
    // DuckDB list slicing is 1-based inclusive [a:b], Spark slice is
    // (start, length), so b = start + len - 1.
    "t9_chunk_windows" ->
      s"""WITH t AS (
           SELECT doc_id, lang, $toksSql AS w FROM documents),
         n AS (
           SELECT doc_id, lang, w, CAST(len(w) AS BIGINT) AS n
           FROM t WHERE len(w) >= 1),
         c AS (
           SELECT doc_id, lang, w, n,
             CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END AS n_chunks
           FROM n)
         SELECT doc_id, CAST(x.i AS BIGINT) AS chunk_id, lang,
           CAST(1 + x.i * 24 AS BIGINT) AS start_tok,
           CAST(least(32, n - (1 + x.i * 24) + 1) AS BIGINT) AS chunk_len,
           md5(array_to_string(
             w[(1 + x.i * 24):(x.i * 24 + least(32, n - (1 + x.i * 24) + 1))],
             ' ')) AS chunk_md5
         FROM c, unnest(range(n_chunks)) AS x(i)
         ORDER BY doc_id, chunk_id""",
    // i6: SCD2 build — no-op updates collapsed by the lag filter, then
    // version numbering + interval close over the surviving changes;
    // (ts, event_id) ordering resolves timestamp ties deterministically
    "i6_scd2_build" ->
      """WITH upd AS (
           SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
           FROM events WHERE event_type = 'click'),
         chg AS (
           SELECT user_id, ts, event_id, k FROM (
             SELECT user_id, ts, event_id, k,
               LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
             FROM upd)
           WHERE prev_k IS NULL OR k <> prev_k)
         SELECT user_id,
           CAST(ROW_NUMBER() OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
           k, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
         FROM chg ORDER BY user_id, version""",
    // i6b: point-in-time join — SCD2 intervals are disjoint per user,
    // so the interval predicate yields at most one match per purchase;
    // purchases before the first version keep NULLs
    "i6b_point_in_time" ->
      """WITH upd AS (
           SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
           FROM events WHERE event_type = 'click'),
         chg AS (
           SELECT user_id, ts, event_id, k FROM (
             SELECT user_id, ts, event_id, k,
               LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
             FROM upd)
           WHERE prev_k IS NULL OR k <> prev_k),
         dim AS (
           SELECT user_id,
             CAST(ROW_NUMBER() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
             k, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
           FROM chg),
         p AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts,
           dim.version AS k_version, dim.k AS k_at_purchase
         FROM p LEFT JOIN dim
           ON p.user_id = dim.user_id AND dim.valid_from <= p.ts
             AND (dim.valid_to IS NULL OR p.ts < dim.valid_to)
         ORDER BY p.event_id""",
    // e5: the 2σ screen as exact integer arithmetic — HUGEINT carries
    // the squared products that DECIMAL(38,0) carries on the Spark side
    "e5_volume_anomaly" ->
      """WITH daily AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             COUNT(*) AS n_events
           FROM events GROUP BY 1, 2),
         stats AS (
           SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS nd,
             SUM(CAST(n_events AS HUGEINT)) AS sx,
             SUM(CAST(n_events AS HUGEINT) * CAST(n_events AS HUGEINT)) AS sxx
           FROM daily GROUP BY 1)
         SELECT d.event_type, d.day, CAST(d.n_events AS BIGINT) AS n_events,
           (s.nd * d.n_events - s.sx) * (s.nd * d.n_events - s.sx)
             > (s.nd * s.sxx - s.sx * s.sx) * 4 AS is_anomaly
         FROM daily d JOIN stats s USING (event_type)
         ORDER BY d.event_type, d.day""",
    // m4: the block hash mirrored sample-for-sample — ord()/length()
    // count code points exactly like the expression's codePointAt
    // loop; bit j = (sum_j·n > total·cnt_j), block of sample i =
    // i·60 div n; bands and the hamming verify reproduce the same
    // candidate set (lossless at ≤3 of 4 bands by pigeonhole)
    "m4_phash_neardup" ->
      """WITH t AS (
           SELECT doc_id, text FROM documents WHERE length(text) > 0),
         cp AS (
           SELECT doc_id, x.i AS i,
             ord(substr(text, CAST(x.i + 1 AS INT), 1)) AS v,
             length(text) AS n
           FROM t, unnest(range(length(text))) AS x(i)),
         agg AS (
           SELECT doc_id, (i * 60) // n AS b,
             SUM(CAST(v AS BIGINT)) AS bs, COUNT(*) AS bc
           FROM cp GROUP BY 1, 2),
         tot AS (
           SELECT doc_id, SUM(CAST(v AS BIGINT)) AS total, COUNT(*) AS n
           FROM cp GROUP BY 1),
         bits AS (
           SELECT a.doc_id, a.b
           FROM agg a JOIN tot ON a.doc_id = tot.doc_id
           WHERE a.bs * tot.n > tot.total * a.bc),
         hash AS (
           SELECT t.doc_id, COALESCE(bh.h, 0) AS h
           FROM t LEFT JOIN (
             SELECT doc_id, SUM(CAST(1 AS BIGINT) << CAST(b AS INT)) AS h
             FROM bits GROUP BY 1) bh ON t.doc_id = bh.doc_id),
         bands AS (
           SELECT doc_id, h, x.k AS band,
             (h >> CAST(x.k * 15 AS INT)) % 32768 AS bv
           FROM hash, unnest(range(4)) AS x(k)),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.h AS ha, b.h AS hb
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         pairs AS (
           SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
           FROM cand WHERE bit_count(xor(ha, hb)) <= 3)
         SELECT CAST(x.h AS INT) AS hamming,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(p.s, 0) AS BIGINT) AS pair_id_sum
         FROM range(4) x(h) LEFT JOIN (
           SELECT hamming, COUNT(*) AS n, SUM(a_id + b_id) AS s
           FROM pairs GROUP BY 1) p ON x.h = p.hamming
         ORDER BY hamming""",
    // j13: st2's session formulation × i6's dimension, overlap-joined;
    // session endpoints are event instants (inclusive), versions are
    // half-open [valid_from, valid_to)
    "j13_session_versions" ->
      """WITH marked AS (
           SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
           FROM events),
         numbered AS (
           SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
           FROM marked),
         sessions AS (
           SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_event
           FROM numbered GROUP BY user_id, session_id),
         upd AS (
           SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
           FROM events WHERE event_type = 'click'),
         chg AS (
           SELECT user_id, ts, event_id, k FROM (
             SELECT user_id, ts, event_id, k,
               LAG(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
             FROM upd)
           WHERE prev_k IS NULL OR k <> prev_k),
         dim AS (
           SELECT user_id,
             CAST(ROW_NUMBER() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
             k, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
           FROM chg)
         SELECT s.user_id, s.session_start, s.last_event, d.version, d.k
         FROM sessions s LEFT JOIN dim d
           ON s.user_id = d.user_id AND d.valid_from <= s.last_event
             AND (d.valid_to IS NULL OR d.valid_to > s.session_start)
         ORDER BY s.user_id, s.session_start, d.version""",
    // ts1: the hourly cell rollup LEFT-joined onto a generated
    // calendar×type grid; carry_value is last_value IGNORE NULLS over
    // the grid order (DECIMAL sum, DOUBLE rendering — the f14 rule)
    "ts1_gap_fill" -> ts1Sql,
    // ts2: exact interpolated medians over ts1's cells, scaled to
    // fixed-point BIGINTs (×4 / ×16) so no float reaches the hash
    "ts2_mad_outliers" ->
      s"""WITH $ts1Ctes,
         cells AS (
           SELECT event_type, hour, n FROM filled),
         med AS (
           SELECT event_type,
             CAST(4 * quantile_cont(n, 0.5) AS BIGINT) AS med_q
           FROM cells GROUP BY event_type),
         dev AS (
           SELECT c.event_type, c.hour, c.n, m.med_q,
             abs(4 * c.n - m.med_q) AS dev_q
           FROM cells c JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type,
             CAST(4 * quantile_cont(dev_q, 0.5) AS BIGINT) AS mad_q
           FROM dev GROUP BY event_type)
         SELECT d.event_type, d.hour, d.n, d.med_q, a.mad_q,
           CASE WHEN 4 * d.dev_q > 3 * a.mad_q THEN 1 ELSE 0 END AS is_outlier
         FROM dev d JOIN mad a USING (event_type)
         ORDER BY d.event_type, d.hour""",
    // t12/t12b: contiguous-occurrence counting over token positions;
    // the indexed form answers the SAME page (hash equality proves the
    // positional intersection serves exactly what the scan counts)
    "t12_phrase_search" -> phrasePageSql,
    "t12b_phrase_indexed" -> phrasePageSql,
    // t13: the q0 chain (bm25Ctes verbatim), page-doc term mining with
    // the same exclusions, then the row-form rescore over the expanded
    // term RELATION — per-(doc,term) tf, per-term df, bm25NumDen
    "t13_prf_expansion" -> t13Sql,
    // t13b answers the SAME oracle — hash equality proves the landed
    // path serves exactly the scan form's expanded page
    "t13b_prf_indexed" -> t13Sql,
    // t14: q0 page + per-offset window scoring, argmax per doc
    "t14_snippets" -> t14Sql,
    // g1: d7's edge CTEs + the integer rank unroll (MATERIALIZED per
    // stage — the v15 lesson)
    "g1_pagerank" -> g1Sql,
    // g1c runs g1's kernel over the grown graph: the same ranks
    "g1c_incremental_pagerank" -> g1Sql,
    // g1b: the rank unroll joined to d7's closure components — argmax
    // rank per cluster, ties to the smaller doc id
    "g1b_canonical_rank" ->
      s"""WITH RECURSIVE $d7EdgeCtes,
         $d7ClosureCtes,
         ${pagerankCtes(operators.Graph.PagerankIters)}
         SELECT cluster_id, doc_id, rank_ppm FROM (
           SELECT c.cluster_id, r.id AS doc_id, r.r AS rank_ppm,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
               ORDER BY r.r DESC, r.id) AS rn
           FROM r${operators.Graph.PagerankIters} r
           JOIN comp c ON c.doc_id = r.id) t
         WHERE rn = 1 ORDER BY cluster_id""",
    // m5: m1's digest-derived format as the candidate filter, then
    // stubSearchSql's retrieval CTEs over the FILTERED relation
    "m5_crossmodal_topk" ->
      s"""WITH massets AS (
           SELECT doc_id, source, strlen(text) AS n_bytes,
             (['jpeg','png','webp','tiff'])[(CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) % 4) + 1] AS format,
             text
           FROM documents),
         mdocs AS (SELECT doc_id, text FROM massets WHERE format = 'jpeg'),
         ${stubSearchCtes(operators.Similarity.DefaultQuery, 10, "mdocs")}
         SELECT h.doc_id AS asset_id, a.source, a.format, a.n_bytes,
           round(h.sim, 6) AS sim_r
         FROM hits h JOIN massets a USING (doc_id)
         ORDER BY asset_id""",
    // g2: the d7 edge CTEs + degree orientation (edge kept once,
    // directed from its (deg,id)-smaller endpoint) + one wedge
    // self-join closed by a third edge join — the oriented frames
    // MATERIALIZED so the three-way reference doesn't re-inline the
    // pair derivation (the v15 lesson)
    "g2_triangles" -> g2Sql,
    // g2b maintains the SAME per-node counts incrementally — one oracle
    // proves the delta-apply plan equal to the full wedge join.
    "g2b_incremental_triangles" -> g2Sql,
    // g2c runs the degree-oriented delta expansion — same answer, the
    // shared oracle proves the orientation and once-counting exact
    "g2c_oriented_triangles" -> g2Sql,
    // t15: unigram/bigram counts from one token unnest; min-count
    // HAVING before the vocabulary joins; the PMI ratio as all-BIGINT
    // arithmetic with one integral division (log is monotone — the
    // ranking needs only the ratio)
    "t15_pmi_collocations" ->
      s"""WITH t AS (
           SELECT doc_id, $toksSql AS w FROM documents),
         tok AS MATERIALIZED (SELECT unnest(w) AS tok FROM t),
         uni AS MATERIALIZED (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
         tot AS (SELECT COUNT(*) AS n_tok FROM tok),
         big AS MATERIALIZED (
           SELECT w[x.i+1] AS x, w[x.i+2] AS y, COUNT(*) AS n_xy
           FROM t, unnest(range(len(w) - 1)) AS x(i)
           WHERE len(w) >= 2
           GROUP BY 1, 2
           HAVING COUNT(*) >= ${operators.TextOps.PmiMinCount}),
         scored AS (
           SELECT b.x, b.y, b.n_xy, ux.cnt AS n_x, uy.cnt AS n_y,
             (b.n_xy * tot.n_tok * 1000000) // (ux.cnt * uy.cnt) AS pmi_ratio_ppm
           FROM big b JOIN uni ux ON b.x = ux.tok
           JOIN uni uy ON b.y = uy.tok CROSS JOIN tot),
         top AS (
           SELECT * FROM scored
           ORDER BY pmi_ratio_ppm DESC, x, y LIMIT ${operators.TextOps.PmiTopK})
         SELECT x, y, CAST(n_xy AS BIGINT) AS n_xy, CAST(n_x AS BIGINT) AS n_x,
           CAST(n_y AS BIGINT) AS n_y, CAST(pmi_ratio_ppm AS BIGINT) AS pmi_ratio_ppm
         FROM top ORDER BY x, y""",
    // v16: the shared IVF assignment CTE feeds BOTH rankings — exact
    // (corpus × queries) and cell-restricted — so the overlap measures
    // exactly what the Spark plans compute; cosSql keeps similarity
    // bit-identical (fixed-order IEEE arithmetic)
    "v16_ann_recall" ->
      s"""WITH $ivfAssignedCte,
         qs AS MATERIALIZED (
           SELECT vec_id AS query_id, embedding AS qe, cent_id AS q_cell
           FROM assigned WHERE vec_id < 8),
         exact AS MATERIALIZED (
           SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id) AS rk
             FROM embeddings e, qs q WHERE e.vec_id >= 8)
           WHERE rk <= 10),
         ann AS MATERIALIZED (
           SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY ${cosSql("e.embedding", "q.qe")} DESC, e.vec_id) AS rk
             FROM assigned e JOIN qs q ON e.cent_id = q.q_cell
             WHERE e.vec_id >= 8)
           WHERE rk <= 10),
         annc AS (SELECT query_id, COUNT(*) AS n_ann FROM ann GROUP BY query_id),
         hits AS (
           SELECT a.query_id, COUNT(*) AS n_hit
           FROM ann a JOIN exact x ON a.query_id = x.query_id AND a.vec_id = x.vec_id
           GROUP BY a.query_id)
         SELECT q.query_id, CAST(10 AS BIGINT) AS k,
           CAST(COALESCE(ac.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST((COALESCE(h.n_hit, 0) * 1000000) // 10 AS BIGINT) AS recall_ppm
         FROM (SELECT DISTINCT query_id FROM qs) q
         LEFT JOIN annc ac ON q.query_id = ac.query_id
         LEFT JOIN hits h ON q.query_id = h.query_id
         ORDER BY q.query_id""",
    // g3: the d7 edge CTEs + the fixed-round peel unroll — degree
    // HAVING then a both-endpoints prune per round
    "g3_kcore" -> g3Sql,
    // g3b runs g3's peel over the grown graph
    "g3b_incremental_kcore" -> g3Sql,
    // t16/t16b: per-doc-distinct terms → df counts, prefix filter
    // before the count, page by (df desc, term) — the landed form
    // answers the SAME SQL (hash equality proves the letter-partition
    // prune serves exactly what the scan counts)
    "t16_autocomplete" -> autocompleteSql,
    "t16b_autocomplete_indexed" -> autocompleteSql,
    // c10: the d7 pair CTEs + the c1 split CASE applied to both
    // endpoints as a pure id function — no lookup join
    "c10_split_leakage" ->
      s"""WITH $d7EdgeCtes,
         cls AS (
           SELECT a_id, b_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(a_id AS VARCHAR)), 1, 4) AS INTEGER)
                    % ${operators.Curation.EvalBuckets} = 0
               THEN 'eval' ELSE 'train' END AS sa,
             CASE WHEN CAST('0x' || substr(md5(CAST(b_id AS VARCHAR)), 1, 4) AS INTEGER)
                    % ${operators.Curation.EvalBuckets} = 0
               THEN 'eval' ELSE 'train' END AS sb
           FROM pairs)
         SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(a_id + b_id) AS BIGINT) AS id_sum
         FROM cls GROUP BY 1, 2 ORDER BY 1, 2""",
    // m6: m1's digest conventions — frame count from nibbles 13-14,
    // per-frame signature re-digesting digest:idx
    "m6_frame_sample" ->
      s"""WITH a AS (
           SELECT doc_id AS asset_id, md5(text) AS digest,
             CAST(CAST('0x' || substr(md5(text), 13, 2) AS INTEGER) % 24 + 8 AS BIGINT) AS n_frames
           FROM documents)
         SELECT asset_id, n_frames, CAST(x.i AS BIGINT) AS frame_idx,
           substr(md5(digest || ':' || CAST(x.i AS VARCHAR)), 1, 8) AS frame_sig
         FROM a, unnest(range(0, n_frames, ${operators.Multimodal.FrameSampleStep})) AS x(i)
         ORDER BY asset_id, frame_idx""",
    // g4: g2's oriented CTEs + three role projections of the closed
    // triples, partial-agged on the normalized edge key
    "g4_edge_support" -> g4Sql,
    // g4b maintains the same per-edge support incrementally (delta
    // triangles merged over the landed old-old support frame) — the
    // shared oracle proves the delta apply ≡ the full role projection
    "g4b_incremental_support" -> g4Sql,
    // the dispatched maintenance verbs answer their artifacts' own
    // oracles — routing must be invisible in the result
    "g2d_maintained_triangles" -> g2Sql,
    "g3c_maintained_kcore" -> g3Sql,
    "d7d_maintained_clusters" -> d7Sql,
    "g1d_maintained_pagerank" -> g1Sql,
  )

  // g1: d7's edge CTEs + the integer rank unroll (MATERIALIZED per
  // stage — the v15 lesson)
  private lazy val g1Sql: String =
    s"""WITH $d7EdgeCtes,
         ${pagerankCtes(operators.Graph.PagerankIters)}
         SELECT id AS doc_id, r AS rank_ppm
         FROM r${operators.Graph.PagerankIters}
         ORDER BY doc_id"""

  private lazy val g3Sql: String =
    s"""WITH $d7EdgeCtes,
         ${kcoreCtes(operators.Graph.KcoreRounds)}
         SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         FROM e${operators.Graph.KcoreRounds}
         GROUP BY u ORDER BY doc_id"""

  private lazy val g4Sql: String =
    s"""WITH $d7EdgeCtes,
         degs AS MATERIALIZED (
           SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS deg
           FROM edges GROUP BY a),
         ore AS MATERIALIZED (
           SELECT e.a AS u, e.b AS v FROM edges e
           JOIN degs du ON e.a = du.id JOIN degs dv ON e.b = dv.id
           WHERE du.deg < dv.deg OR (du.deg = dv.deg AND e.a < e.b)),
         tri AS MATERIALIZED (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM ore e1 JOIN ore e2 ON e1.v = e2.u
           JOIN ore e3 ON e3.u = e1.u AND e3.v = e2.v),
         sup AS (
           SELECT LEAST(a, b) AS x, GREATEST(a, b) AS y FROM tri
           UNION ALL SELECT LEAST(b, c), GREATEST(b, c) FROM tri
           UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM tri),
         supc AS (SELECT x, y, COUNT(*) AS support FROM sup GROUP BY x, y)
         SELECT p.a_id, p.b_id,
           CAST(COALESCE(s.support, 0) AS BIGINT) AS support
         FROM pairs p LEFT JOIN supc s ON p.a_id = s.x AND p.b_id = s.y
         ORDER BY p.a_id, p.b_id"""

  /** t16's oracle: vocabulary with document frequency, prefix page. */
  private lazy val autocompleteSql: String =
    s"""WITH dt AS (
           SELECT DISTINCT doc_id, term FROM (
             SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                 x -> x <> '')) AS term
             FROM documents)),
         v AS (
           SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt
           WHERE term LIKE '${operators.TextOps.AutocompletePrefix}%'
           GROUP BY term),
         top AS (
           SELECT * FROM v ORDER BY df DESC, term
           LIMIT ${operators.TextOps.AutocompleteK})
         SELECT term, df FROM top ORDER BY term"""

  /** t12's occurrence CTEs: token array per doc, contiguous-match
    * count per window offset (w[i+j] is DuckDB's 1-based list index —
    * the Spark expression subscripts 0-based). */
  private lazy val phrasePageSql: String = {
    val phrase = operators.TextOps.phraseTermsOf(operators.TextOps.PhraseQuery)
    val m = phrase.size
    val conds = phrase.zipWithIndex.map { case (t, j) =>
      s"w[i + ${j + 1}] = '${t.replace("'", "''")}'"
    }.mkString(" AND ")
    s"""WITH pw AS (
           SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS w
           FROM documents),
         occ AS (
           SELECT doc_id, lang,
             CASE WHEN len(w) < $m THEN 0
                  ELSE len(list_filter(range(len(w) - ${m - 1}), i -> $conds)) END AS n_occ
           FROM pw)
         SELECT doc_id, lang, CAST(n_occ AS BIGINT) AS n_occ FROM (
           SELECT doc_id, lang, n_occ FROM occ WHERE n_occ > 0
           ORDER BY n_occ DESC, doc_id LIMIT 10) t
         ORDER BY doc_id"""
  }

  private lazy val t13Sql: String = {
    val q0 = operators.TextOps.Bm25Terms
    val nExp = operators.TextOps.PrfExpansionTerms
    val excluded = (q0 ++ operators.TextOps.Stopwords).distinct
      .map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    val q0List = q0.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH $bm25Ctes,
         page0 AS MATERIALIZED (
           SELECT doc_id FROM bmscored WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT 10),
         ptoks AS (
           SELECT lower(x.tok) AS tok
           FROM bmt b JOIN page0 USING (doc_id), unnest(b.w) AS x(tok)),
         exp AS (
           SELECT tok FROM ptoks WHERE tok NOT IN ($excluded)
           GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT $nExp),
         terms AS (SELECT tok FROM exp UNION SELECT unnest([$q0List]) AS tok),
         dmatch AS (
           SELECT b.doc_id, b.lang, CAST(len(b.w) AS BIGINT) AS dl, lower(x.tok) AS tok
           FROM bmt b, unnest(b.w) AS x(tok)),
         dtf AS (
           SELECT doc_id, lang, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM dmatch JOIN terms USING (tok) GROUP BY doc_id, lang, dl, tok),
         ddf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dtf GROUP BY tok),
         dscore AS (
           SELECT doc_id, lang,
             CAST(SUM((44000 * tf * tot * (2*n - 2*df + 1))
               // GREATEST((2*df + 1) * (20 * tf * tot + 6 * tot + 18 * dl * n), 1)) AS BIGINT) AS score_milli
           FROM dtf JOIN ddf USING (tok) CROSS JOIN bmstats
           GROUP BY doc_id, lang)
         SELECT doc_id, lang, score_milli FROM (
           SELECT doc_id, lang, score_milli FROM dscore WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT 10) t
         ORDER BY doc_id"""
  }

  private lazy val t14Sql: String = {
    val w = operators.TextOps.SnippetWidth
    val qList = operators.TextOps.Bm25Terms
      .map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH $bm25Ctes,
         page0 AS MATERIALIZED (
           SELECT doc_id FROM bmscored WHERE score_milli > 0
           ORDER BY score_milli DESC, doc_id LIMIT 10),
         pw AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS w
           FROM documents JOIN page0 USING (doc_id)),
         offs AS (
           SELECT doc_id, w, x.i
           FROM pw, unnest(CASE WHEN len(w) <= $w THEN [CAST(0 AS BIGINT)]
             ELSE range(len(w) - ${w - 1}) END) AS x(i)),
         sc AS (
           SELECT doc_id, i,
             len(list_filter([$qList], t -> list_contains(w[i+1:i+$w], t))) AS n_hits,
             array_to_string(w[i+1:i+$w], ' ') AS snippet
           FROM offs)
         SELECT doc_id, CAST(i AS INT) AS start_pos, CAST(n_hits AS INT) AS n_hits,
           snippet
         FROM (
           SELECT doc_id, i, n_hits, snippet,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, i) AS rn
           FROM sc) t
         WHERE rn = 1 ORDER BY doc_id"""
  }

  /** ts1's CTE chain through `filled` (event_type, hour, n, has_obs,
    * carry_value) — shared by the ts1 and ts2 oracles so the resample
    * definition cannot drift between them. */
  private lazy val ts1Ctes: String =
    """hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS v
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
           FROM events),
         spine AS (
           SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
           FROM bounds WHERE h0 IS NOT NULL),
         grid AS (
           SELECT event_type, h
           FROM (SELECT DISTINCT event_type FROM events) CROSS JOIN spine),
         filled AS (
           SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:00') AS hour,
             CAST(COALESCE(y.n, 0) AS BIGINT) AS n,
             CASE WHEN y.n IS NOT NULL THEN 1 ELSE 0 END AS has_obs,
             COALESCE(CAST(last_value(y.v IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE),
               0.0) AS carry_value
           FROM grid g LEFT JOIN hourly y
             ON g.event_type = y.event_type AND g.h = y.h)"""

  private lazy val ts1Sql: String =
    s"""WITH $ts1Ctes
         SELECT event_type, hour, n, has_obs, carry_value
         FROM filled ORDER BY event_type, hour"""
}
