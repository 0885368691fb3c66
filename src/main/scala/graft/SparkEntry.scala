package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers a `queries` entry; SQL-expressible
  * ones also register matching DuckDB `oracleSql`. Column names and value
  * rounding are kept identical on both sides (the driver sorts columns by
  * name and hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> Relational.pricingSummary,
    "q02_offset_scan" -> Relational.offsetScan,
    "q03_revenue_by_nation" -> Relational.revenueByNation,
    "q04_window_top_orders" -> Relational.windowTopOrders,
    "q05_top_revenue_parts" -> Relational.topRevenueParts,
    "q06_setops_customers" -> Relational.setOpsCustomers,
    "q07_rollup_pricing" -> Relational.rollupPricing,
    "q08_distinct_customers" -> Relational.distinctCustomers,
    "q09_json_props" -> Relational.jsonProps,
    "q10_event_windows" -> Relational.eventTumblingWindows,
    "q11_order_priority" -> Relational.orderPriorityCheck,
    "q12_customers_no_orders" -> Relational.customersWithoutOrders,
    "q13_cube_events" -> Relational.cubeEvents,
    "q14_approx_distinct" -> Relational.approxDistinctUsers,
    "q77_cms_frequency" -> Relational.cmsFrequencyPortable,
    "q78_hll_portable" -> Relational.hllPortable,
    "q79_salted_join" -> SkewJoin.saltedRevenue,
    "q80_hotkey_split_join" -> SkewJoin.hotKeySplitSpend,
    "q15_pivot_events" -> Relational.pivotEvents,
    "q16_intersect_customers" -> Relational.intersectCustomers,
    "q17_scalar_functions" -> Relational.scalarFunctions,
    "q18_supplier_balances" -> Relational.supplierBalances,
    "q19_props_map" -> Relational.propsAsMap,
    "q70_shipping_priority" -> Relational.shippingPriority,
    "q71_forecast_revenue" -> Relational.forecastRevenue,
    "q72_promo_revenue" -> Relational.promoRevenue,
    "q73_user_activity" -> Relational.userActivityStats,
    "q74_fuzzy_brand_match" -> Relational.fuzzyTypeMatch,
    "q75_min_cost_supplier" -> Relational.minCostSupplier,
    "q76_sole_late_supplier" -> Relational.soleLateSupplier,
    "q20_text_stats" -> TextAnalysis.textStats,
    "q21_token_counts" -> TextAnalysis.tokenCounts,
    "q22_lang_id" -> TextAnalysis.langId,
    "q23_fingerprint" -> TextAnalysis.fingerprint,
    "q24_quality_filter" -> TextAnalysis.qualityFilter,
    "q25_word_topk" -> TextAnalysis.wordTopK,
    // portable=true: md5-derived shingle hash so the whole winnow pipeline
    // is oracle-checkable in DuckDB (engine-internal callers keep xxhash64)
    "q26_winnow_pairs" -> ((s: SparkSession, d: String) =>
      TextAnalysis.winnowPairs(s, d, portable = true)),
    "q27_tfidf_topk" -> ((s: SparkSession, d: String) => TextAnalysis.tfIdfTopK(s, d)),
    "q28_bm25_rank" -> ((s: SparkSession, d: String) => TextAnalysis.bm25(s, d)),
    // temporal joins: as-of (union-window carry-forward, one shuffle) and
    // range (bucketed equi-join) — oracle is a DIFFERENT algorithm
    // (candidate join + rank / plain theta-join)
    "q45_asof_join" -> Temporal.purchaseAttribution _,
    "q46_range_join" -> Temporal.signupViewWindows _,
    // deterministic hash-membership sample: output is the sampled ROWS,
    // oracle replays membership row-for-row
    "q47_stratified_sample" -> Sampling.eventSample _,
    // int8 quantize → integer-dot retrieval; rank has NO float in it
    "q48_quantized_topk" -> ((s: SparkSession, d: String) => Similarity.quantizedTopK(s, d)),
    // per-label quantized centroids — exact-integer vector aggregation
    "q68_label_centroids" -> Similarity.labelCentroids _,
    "q30_dedup_exact" -> Dedup.exactDedup,
    "q31_dedup_first_per_key" -> Dedup.firstEventPerKey,
    "q32_jaccard_pairs" -> ((s: SparkSession, d: String) => Dedup.jaccardPairs(s, d)),
    "q33_minhash_signatures" -> Dedup.minhashSignatures,
    // exact keep-list (oracle); LSH-sourced scale variant spec-compared
    "q37_jaccard_dedup" -> ((s: SparkSession, d: String) => Dedup.nearDedup(s, d)),
    // portable=true: md5 signatures + value-keyed buckets → the whole LSH
    // pipeline is hash-checked in DuckDB (engine callers keep xxhash64);
    // shared: the pair table also feeds q38's clustering
    "q34_minhash_lsh_pairs" -> Dedup.minhashLshPairsShared _,
    // transitive duplicate CLUSTERS over the LSH pairs (min-label
    // propagation to fixpoint); oracle = recursive-CTE closure
    "q38_dup_clusters" -> Dedup.dupClusters _,
    // benchmark decontamination: broadcast the (tiny) eval-set shingles,
    // stream the training corpus once
    "q69_decontaminate" -> Dedup.decontaminate _,
    // group-aware split + distributed-prefix-sum sequence packing
    "q39_group_split" -> Sampling.docSplit _,
    "q49_sequence_pack" -> ((s: SparkSession, d: String) => Sampling.sequencePack(s, d)),
    "q35_simhash" -> Dedup.simhash,
    "q36_simhash_pairs" -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    "q40_cosine_topk" -> Similarity.cosineTopK,
    // gate runs a deterministic subsample with a CONSTANT pair budget:
    // the stride auto-sizes to the corpus (ceil(n/1000), floored at the
    // oracle's 1-in-2 literal for every driver-checked SF) so the exact
    // O(n²) baseline stays bounded as data grows; the benchmarked scale
    // path is q42, and specs drive the full modSample=1 version
    "q41_cosine_pairs" -> Similarity.cosinePairsAuto _,
    "q42_ann_lsh_pairs" -> ((s: SparkSession, d: String) => Similarity.annLshPairs(s, d)),
    // exact keep-list on the q41 subset (oracle-checked); the 100 TB pair
    // source is annLshPairs (exact=false), spec-compared
    "q44_cosine_dedup" -> Similarity.cosineDedupAuto _,
    // the exact-integer quantized IVF (hash-checkable: integer routing
    // has no float ties)
    "q43_ivf_topk" -> ((s: SparkSession, d: String) => Similarity.ivfTopKQuantized(s, d)),
    "q50_infer_cascade" -> Pipelines.inferCascade,
    "q51_csv_roundtrip" -> Pipelines.csvRoundtrip,
    "q52_tagged_inference" -> Pipelines.taggedInference,
    "q53_dsv2_source_agg" -> Pipelines.verbIngestAgg,
    "q54_stream_ingest" -> Pipelines.streamIngestSummary,
    // stream-stream interval join as a real streaming query; single-file
    // source → one micro-batch → provably complete vs the batch oracle
    "q57_stream_interval_join" -> Pipelines.streamIntervalJoin _,
    // watermarked windowed agg in APPEND mode: the oracle asserts the
    // watermark contract itself (emitted set == closed windows)
    "q58_stream_windows" -> Pipelines.streamWindows _,
    // streaming dedup (bounded state); output = deduped key set
    "q59_stream_dedup" -> Pipelines.streamDedup _,
    // curation suite: chunking, PII scrub, repetition stats, mixture
    // allocation, z-order layout
    "q81_doc_chunks" -> Curation.docChunksGate _,
    "q82_pii_scrub" -> Curation.piiScrubGate _,
    "q83_repetition_stats" -> Curation.repetitionGate _,
    "q84_mixture_alloc" -> Curation.mixtureGate _,
    "q85_zorder_layout" -> Curation.zorderGate _,
    // two-phase exact-k per-stratum sample (bucket-prefix prune, no
    // full-stratum shuffle); oracle runs the NAIVE per-stratum rank, a
    // different algorithm, so the gate checks the prune theorem itself
    "q86_reservoir_sample" -> Sampling.reservoirGate _,
    // portable fixed-bin histogram quantiles — integer bin bounds only
    "q87_length_histogram" -> ((s: SparkSession, d: String) =>
      TextAnalysis.lengthHistogram(s, d)),
    // chunk-level dedup: winner per content hash via min-struct hash-agg
    // (no per-key sort); oracle runs the naive rank-window formulation
    "q88_chunk_dedup" -> Curation.chunkDedupGate _,
    // cross-doc bigram novelty: postings-shaped (one df hash-agg + one
    // join back), exact-integer counts
    "q89_ngram_novelty" -> Curation.ngramNoveltyGate _,
    // portable Bloom semi-join: constant-size bitset broadcast, narrow
    // codegen'd probe, md5 positions replayed exactly by the oracle
    "q90_bloom_join" -> Bloom.bloomJoinGate _,
    // stream-static enrichment join (4th streaming join class; stateless,
    // broadcast dim, no state store)
    "q91_stream_enrich" -> Pipelines.streamEnrich,
    // ±1 random projection over int8-quantized embeddings: all-integer,
    // narrow, sign matrix derived from md5 parity on both engines
    "q92_random_projection" -> Similarity.randomProjectionGate _,
    // bloom-accelerated anti-join (incremental dedup): definitely-new
    // rows skip the shuffle; exact anti-join corrects false positives —
    // oracle equality with the plain anti-join proves it
    "q93_bloom_anti_join" -> Bloom.bloomAntiJoinGate _,
    // integer-exact k-means (2 unrolled Lloyd iterations): rounded
    // integer means, argmin by exact integer distance — DuckDB replays
    // the full iteration
    "q94_kmeans" -> ((s: SparkSession, d: String) => Similarity.kmeansInt(s, d)),
    "q95_approx_quantiles" -> Relational.approxQuantiles _,
    "q96_pps_sample" -> Sampling.ppsSampleGate _,
    // per-source cap via bounded TypedImperativeAggregate: state <= cap
    // per key, map-side combined — the skew-immune form of the
    // row_number window the oracle replays
    "q97_source_cap" -> Curation.sourceCapGate _,
    // table-reconciliation digest: order-independent per-bucket xor of
    // md5 row digests — the copy-verification step the reference lacks;
    // one narrow scan, 64-row map-side-combined agg at any SF
    "q99_table_digest" -> Reconcile.tableDigestGate _,
    // anti-entropy repair path: bucket-pruned two-sided key diff; the
    // oracle computes the diff DIRECTLY, so equality proves the pruned
    // protocol finds exactly the true diff (q93 convention)
    "q100_diff_keys" -> Reconcile.diffKeysGate _,
    // KMV bottom-k distinct sketch (5th sketch family): deterministic
    // md5 minima, so the oracle replays sketch AND estimate bit-for-bit
    // — plus union/intersection composition, no distinct shuffle
    "q101_kmv_distinct" -> Relational.kmvDistinct _,
    // CDC merge-upsert: apply a keyed+versioned changelog to a base
    // snapshot via ONE map-side max_by hash-agg (no window sort); the
    // oracle runs the row_number window formulation — agg ≡ sort
    "q102_merge_upsert" -> Reconcile.mergeUpsertGate _,
    // streaming CDC apply: the q102 changelog as a multi-batch stream
    // through flatMapGroupsWithState latest-wins state; contract oracle
    // (q54 convention) — batch and streamed snapshots both measured,
    // digests must equal DuckDB's window-formulation expectation
    "q103_cdc_apply_stream" -> Pipelines.cdcApplyStreamSummary _,
    // integer-exact PageRank (3 unrolled iterations) on the bipartite
    // customer↔supplier graph: one shuffle join + one hash-agg per
    // iteration, adjacency cached once
    "q98_pagerank" -> Graph.pageRankGate _,
    // Misra–Gries heavy hitters (6th sketch family): bounded counters,
    // map-side merged; gated on the MG theorem's order-independent
    // contract (guaranteed hit / underestimate / N-over-cap bound)
    "q104_heavy_hitters" -> Relational.mgHeavyHitters _,
    // exact substring-span dedup (Lee et al. 2021 as postings, no suffix
    // array): duplicated w-token windows -> per-doc merged span coverage
    "q105_dup_spans" -> Dedup.dupSpansGate _,
    // product quantization + ADC retrieval: 8 code bytes per vector,
    // broadcast distance tables, exact-integer on the int8 grid so the
    // full encode->lookup->rank pipeline replays in DuckDB
    "q106_pq_topk" -> Similarity.pqTopKGate _,
    // dedup-aware split: the split unit is the near-dup CLUSTER (q38
    // components), so near-identical docs can't straddle train/test —
    // the leakage mode a row-hash split can't prevent
    "q107_cluster_split" -> Dedup.clusterSplit _,
    // stream-stream LEFT OUTER interval join (6th streaming class):
    // outer emission on watermark-driven state eviction; the oracle
    // recomputes the eviction rule, so early/late/duplicated outer
    // rows diverge the hash
    "q108_stream_outer_join" -> Pipelines.streamOuterIntervalJoin _,
    // BPE tokenizer training: 2 pair merges learned on the word-freq
    // dictionary (bounded by vocab, not corpus); exact greedy
    // left-to-right merge via run parity — DuckDB replays both
    // iterations end-to-end
    "q109_bpe_train" -> TextAnalysis.bpeTrain _,
    // AMS join-size estimation (7th sketch family): |A join B| from two
    // narrow scans with 32 integer sums each — no key shuffle, no join;
    // md5-derived signs make the randomized estimate hash-exact
    "q110_ams_join_size" -> Relational.amsJoinSize _,
    // STREAMING Misra-Gries (7th streaming class: sketch state): the
    // q104 sketch updated then MERGED with restored state across 3 real
    // micro-batches; same theorem contract, now covering state restore
    "q111_stream_heavy_hitters" -> Pipelines.streamHeavyHitters _,
    // prefix-filtered exact Jaccard join (SSJoin/PPJoin principle): the
    // candidate join touches only each doc's rarest-prefix shingles;
    // oracle = q32's brute force VERBATIM, so equality proves the
    // pruning lossless
    "q112_prefix_jaccard" -> ((s: SparkSession, d: String) => Dedup.prefixJaccardPairs(s, d)),
    // bigram LM with stupid backoff trained on the even-doc_id half,
    // scoring the odd half in integer milli-bits/token (1-bit-quantized
    // log2 via bin-length) — the model-based quality-filter signal
    "q113_lm_quality" -> TextAnalysis.lmQualityScore _,
    // the trained tokenizer APPLIED: per-doc word + BPE-token counts via
    // the encoded vocab (word -> |seq|) — the corpus never re-segments
    "q114_bpe_encode" -> TextAnalysis.bpeEncode _,
    // SemDeDup (Abbas 2023): k-means-cluster the embeddings (q94's
    // integer Lloyd pipeline verbatim), then near-dup only WITHIN each
    // cluster — integer cross-multiplied cosine, q44's smaller-id keep
    "q115_semdedup" -> Similarity.semDedup _,
    // FUZZY decontamination: cross-corpus (R-S) MinHash-LSH join of the
    // training half against the benchmark half — catches paraphrased
    // leakage q69's exact 3-gram overlap misses; bench side broadcasts
    "q116_lsh_decontaminate" -> ((s: SparkSession, d: String) => Dedup.lshDecontaminate(s, d)),
    // RELATIVE per-group quality threshold (FineWeb/CCNet): keep each
    // language's docs above its own p25 — exact percentile via a
    // bounded-domain histogram cumsum; oracle uses percentile_disc, a
    // different formulation, so equality proves hist-percentile == sort
    "q117_group_quantile_filter" -> TextAnalysis.groupQuantileFilter _,
    // DSIR (Xie 2023): importance-resample raw docs toward a target
    // domain — two hashed-n-gram unigram models (≤8192-bucket tables,
    // broadcast), per-doc integer log2 likelihood-ratio, keep > 0
    "q118_dsir_resample" -> TextAnalysis.dsirResample _,
    // SCD2: the q102 changelog intervalized into the full type-2
    // dimension history — per-key lead() window, deletes close
    // intervals and leave validity gaps
    "q119_scd2_history" -> Reconcile.scd2Gate _,
    // corpus Gram/scatter matrix (PCA/whitening input) as ONE bounded
    // 2080-long-buffer aggregate pass; the oracle runs the explode-
    // and-groupBy formulation, so equality is the agg≡explode proof
    "q120_gram_matrix" -> Similarity.gramMatrix _,
    // streaming late-data dead-letter (8th streaming class): keyed-
    // watermark state routes late rows to a flagged side output
    // instead of silently dropping them; 3-wave delivery makes real
    // late rows, oracle replays the routing rule exactly
    "q121_stream_dead_letter" -> Pipelines.streamDeadLetter _,
    // filter evaluation: exact ROC-AUC (Mann-Whitney with tie credit)
    // of the q117 quality score against the lang='en' weak label, from
    // the bounded per-score histogram — no pairwise pass, no corpus sort
    "q122_auc_eval" -> TextAnalysis.aucEval _,
    // ordered funnel in ONE windowed pass (running conditional mins
    // qualify each step strictly after the previous); oracle runs the
    // 3-chained-join formulation -> equality proves the single-pass plan
    "q123_funnel" -> Relational.funnel _,
    // weekly retention cohorts: first-active-week x delta distinct
    // users; integer epoch-weeks, co-partitioned user join, bounded cells
    "q124_retention_cohorts" -> Relational.retentionCohorts _,
    // KMV sketch ROLL-UP (the sketch-cube pattern): per-group sketches
    // merged to a global sketch that is BIT-EQUAL to the direct one
    // (bottom-k of a union of bottom-ks) - merge input is groups x k
    // longs, never the data; both rows emitted and oracle-checked
    "q125_kmv_rollup" -> Relational.kmvRollup _,
    // INCREMENTAL ANN maintenance: existing corpus indexed ONCE and
    // PERSISTED (parquet artifact); the new batch is quantized, routed
    // off the persisted centroids, and searched against its cell of the
    // persisted index - the corpus is never re-encoded (daily-ingest
    // shape); oracle replays quantize + both routings + in-cell top-k
    // centStride pinned to the oracle literal (%100) — the library
    // DEFAULT (0) self-sizes stride ≈ √n, the production path
    "q126_ivf_incremental" -> ((s: SparkSession, d: String) => Similarity.ivfIncremental(s, d, centStride = 100)),
    // INCREMENTAL delta-dedup: the dedup face of the daily-ingest shape
    // - corpus MinHash signatures + band buckets persisted once, the
    // new batch admission-screened off the artifact (fresh batch sigs,
    // broadcast band join, per-new-doc admit/reject); the gate hash
    // also proves the signature parquet round-trip lossless
    "q127_delta_dedup" -> Dedup.deltaDedup _,
    // quality-aware dedup representative: keep the LONGEST member of
    // each near-dup cluster (ties -> min id), with per-doc provenance
    // (cluster, score, representative, verdict); oracle replays the
    // recursive-CTE closure + the same keep-longest rank
    "q128_cluster_reps" -> Dedup.clusterReps _,
    // one-pass table profiler (the ANALYZE shape): per-column nulls /
    // exact distincts / min-max in ONE aggregate over ONE scan, then
    // unpivoted - the oracle may rescan per column, the engine must not
    "q129_table_profile" -> Relational.tableProfile _,
    // referential-integrity audit: every FK edge of the star schema -
    // child rows / orphans / distinct orphan keys, one broadcast
    // left-join aggregate per edge (the post-landing data-quality gate)
    "q130_fk_audit" -> Reconcile.fkAudit _,
    // erasure cascade audit (right-to-be-forgotten): subject list ->
    // orders -> lineitem semi-join cascade, per-table before/erased/
    // after counts; subject side broadcasts at every step
    "q131_erasure_cascade" -> Reconcile.erasureCascade _,
    // time-series gap-fill + forward fill: generated day grid
    // (explode(sequence)), co-partitioned (user, day) left join, one
    // user-windowed carry-forward - the resample/densify primitive
    "q132_gap_fill" -> Relational.gapFill _,
    // event-sequence transition matrix (Markov/path analysis): one
    // lead-window pass pairs successors, |types|^2 bounded output,
    // integer-ppm row normalization via a broadcast totals join
    "q133_path_transitions" -> Relational.pathTransitions _,
    // multi-touch attribution (first/last/linear at once): purchase x
    // touch pairing via the bucketed rangeJoin, one windowed rank pass,
    // 3-way generated explode into a (model x touch_type) roll-up
    "q134_attribution" -> Relational.attribution _,
    // rolling anomaly detection, INTEGER-EXACT: trailing-7-day window
    // sums cross-multiplied so the 2-sigma flag needs no float mean/
    // var/sqrt - the hash-checkable z-test
    "q135_rolling_anomaly" -> Relational.rollingAnomaly _,
    // point-in-time SCD2 join: each fact joined to the dimension
    // version valid AT ITS OWN effective version (feature-store /
    // no-leakage join); key-equi shuffle with the interval predicate
    // inside, fan-out bounded by versions-per-key
    "q136_point_in_time_join" -> Reconcile.pointInTimeJoin _,
    // incremental aggregate maintenance: persisted per-group rollup
    // artifact + delta-only scan merged by union+re-agg; face emits
    // merged AND direct rows - their equality is the merge theorem,
    // hash-checked every run (the q125 convention)
    "q137_incremental_agg" -> Relational.incrementalAgg _,
    // streaming rolling anomaly (10th streaming class): per-user ring-
    // buffer state machine scores each newly-complete day against the
    // trailing 7 across micro-batch boundaries; oracle = q135's batch
    // SQL verbatim, so stream ≡ batch is on the hash path
    "q138_stream_rolling_anomaly" -> Pipelines.streamRollingAnomaly _,
    // distribution drift audit between two corpus snapshots: per
    // (feature, bucket) integer-ppm shares + |delta ppm| - TVD needs
    // no logarithm, so the drift report is hash-exact integer math
    "q139_drift_audit" -> TextAnalysis.driftAudit _,
    // tokenizer evaluation: fertility (tokens/word) and compression
    // (chars/token) per language off q114's trained model - the
    // over-fragmentation report; integer-ppm, |langs|-bounded
    "q140_tokenizer_stats" -> TextAnalysis.tokenizerStats _,
    // filter-funnel ablation: per filter, fail counts / unique kills /
    // sequential survivors from ONE scan's boolean flags - internally
    // consistent by construction, every number an exact integer
    "q141_filter_funnel" -> Curation.filterFunnel _,
    // cross-snapshot dedup-delta audit: how yesterday's near-dup
    // clusters became today's (appeared/merged/grown/churned/shrunk/
    // split/vanished) - ONE shared LSH pair table filtered per
    // snapshot (band candidacy is per-doc), two pair-graph closures,
    // bounded label-table joins
    "q142_dedup_delta" -> Dedup.dedupDelta _,
    // embedding-space drift: per-cell occupancy (integer argmax routing
    // to a FIXED bounded anchor grid - drift audits compare runs, so
    // the grid must not grow with n) of snapshot A vs B in exact ppm
    // shares - q139's TVD question asked of the vector space; ONE
    // assignment pass, snapshots as conditional aggs
    "q143_embedding_drift" -> Similarity.embeddingDrift _,
    // ANN recall audit: IVF top-k vs exact integer-dot ground truth on
    // the probe sample - recall@k as a hash-exact ppm fraction; the
    // quality gate to run after any index maintenance or stride change
    "q144_ann_recall" -> ((s: SparkSession, d: String) =>
      Similarity.annRecallAudit(s, d)),
    // ingest schema-drift audit: the reference's 7-rule inference
    // cascade run per cell on two export batches, per-column resolved
    // type A vs B + changed flag - catches an upstream type change AT
    // INGEST; null cells don't false-positive the resolution
    "q148_schema_drift" -> Pipelines.schemaDrift _,
    // streaming delta-dedup admission (11th streaming class): q127's
    // screening as a 3-wave stream against the persisted corpus index,
    // with parquet-appended admitted state - a doc admitted in an
    // earlier wave rejects its near-dup in a later one
    "q149_stream_admission" -> Pipelines.streamDedupAdmission _,
    // filter calibration audit: reliability diagram + integer ECE of
    // the q122 quality score - does the thresholded score read as a
    // probability, or just rank (q122's question)?
    "q150_calibration" -> TextAnalysis.calibrationAudit _,
    // LSH precision/recall vs exact sample Jaccard (q144's discipline
    // for the dedup family): truth = integer inequality 2|I| >= |A|+|B|-|I|
    // on a bounded doc sample; LSH side = the ONE shared pair table
    "q151_lsh_quality" -> ((s: SparkSession, d: String) =>
      Dedup.lshQualityAudit(s, d, mod = 29)),
    // IVF cell-occupancy balance: skew headline + rebalance work-list
    // sizes off one assignment pass (pinned stride for oracle parity)
    "q152_ivf_balance" -> ((s: SparkSession, d: String) =>
      Similarity.ivfBalanceAudit(s, d, centStride = 100)),
    // embedding validation: the ingest gate before any index build -
    // dup ids, ragged dims, zero vectors, NaN/Inf components, one scan
    "q153_embedding_validation" -> Similarity.embeddingValidation _,
    // intra-doc repetition spans: WHERE the boilerplate sits (q83 flags
    // the doc; this emits the cut list) - positional grams + islands
    "q154_intra_doc_repetition" -> Dedup.intraDocRepetition _,
    // span APPLY: splice q154's cut lists out of the text - the
    // redact-don't-drop step a pipeline actually executes (r12 item 5)
    "q155_apply_spans" -> Curation.applyRepetitionSpans _,
    // index coverage audit: corpus ids absent from the persisted IVF
    // index + which cells are stale - the crash-between-batches hole
    // (q126 increments, q144 recall, q152 balance; this closes coverage)
    "q156_index_coverage" -> ((s: SparkSession, d: String) =>
      Similarity.ivfCoverageAudit(s, d, centStride = 100)),
    // canary-planted LSH audit: deterministic 70%-prefix near-dups in
    // the sample stratum make q151's recall leg load-bearing (non-NULL)
    "q157_lsh_canary" -> ((s: SparkSession, d: String) =>
      Dedup.lshQualityAuditCanaried(s, d, mod = Dedup.LshAuditMod)),
    // decontamination splice: excise q147's benchmark-overlap spans
    // from the training docs - the redact-don't-drop APPLY, 2nd producer
    "q158_apply_contamination" -> Curation.applyContaminationSpans _,
    // coverage repair: route ONLY the missing vectors and append them
    // under their cells; re-audit off disk - the q156 audit's APPLY
    "q159_coverage_repair" -> ((s: SparkSession, d: String) =>
      Similarity.ivfCoverageRepair(s, d, centStride = 100)),
    // hybrid retrieval: dense (integer-dot) + lexical (shared-shingle)
    // legs fused per query by integer reciprocal-rank fusion
    "q160_hybrid_rrf" -> ((s: SparkSession, d: String) =>
      Similarity.hybridRetrievalRrf(s, d)),
    // streaming ANN index maintenance (12th streaming class): per-wave
    // broadcast-argmax routing into the cell-partitioned index with an
    // off-disk coverage receipt per micro-batch
    "q161_stream_index" -> Pipelines.streamIndexMaintenance _,
    // fusion diagnostics: leg agreement + fused-set provenance per probe
    "q162_fusion_diag" -> ((s: SparkSession, d: String) =>
      Similarity.fusionDiagnostics(s, d)),
    // corpus accounting: per-source raw/unique/filtered ledger with
    // integer-ppm drop rates - the release-time governance ledger
    "q163_corpus_accounting" -> Curation.corpusAccounting _,
    // multi-probe IVF retrieval (nprobe=3): each query searches its
    // top-3 cells - the recall-vs-cost lever behind q144's audit; index
    // assignment unchanged, only the query side widens (r13 item 1)
    "q164_ivf_multiprobe" -> ((s: SparkSession, d: String) =>
      Similarity.ivfTopKMultiProbe(s, d)),
    // index compaction: fold the q161 stream's accreted batch=N
    // generations into one generation per cell, receipt off disk -
    // rows conserved, files |gens·cells| -> |cells| (r13 item 3)
    "q165_ivf_compaction" -> Similarity.ivfCompactGate _,
    // vector-family erasure: remove a subject's rows from the persisted
    // quantized store, IVF index, and signature state, rewriting ONLY
    // the affected partitions; zero-residual audit off disk (r13 item 5)
    "q166_vector_erasure" -> Similarity.vectorErasure _,
    // IVF rebalance: split the cells q152's audit flags as hot - two
    // deterministic sub-cells (min/max-id member seeds, negative ids),
    // only the split cells' dirs touched; gate pins 1.1x mean so the
    // split path is exercised at gate SF (natural skew ~1.16x)
    "q167_ivf_rebalance" -> ((s: SparkSession, d: String) =>
      Similarity.ivfRebalanceSplit(s, d, thresholdPpm = 1100000L)),
    // nprobe auto-select: measure the recall/cost curve at nprobe=1..3
    // against exact truth, choose the cheapest probe width meeting the
    // target - the control loop closing q144 (audit) -> q164 (knob)
    "q168_nprobe_select" -> ((s: SparkSession, d: String) =>
      Similarity.nprobeSelect(s, d)),
    // filtered ANN: top-k under a metadata predicate (pre-filter before
    // ranking, multi-probe widened) - the production vector-store verb
    "q169_filtered_ann" -> ((s: SparkSession, d: String) =>
      Similarity.ivfTopKFiltered(s, d)),
    // cross-doc repeated-block dedup: corpus-wide 8-word block counts,
    // splice out every block seen more than once (CCNet boilerplate cut)
    "q170_block_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.blockDedup(s, d)),
    // LM filter ledger: apply q113's bigram-LM scores as a keep/drop
    // filter at the corpus-mean threshold, per-source keep-rate ledger
    "q171_lm_filter" -> ((s: SparkSession, d: String) =>
      TextAnalysis.lmQualityFilterLedger(s, d)),
    // deterministic epoch shard shuffle: portable-hash permutation into
    // training shards with reproducible in-shard order
    "q172_epoch_shuffle" -> ((s: SparkSession, d: String) =>
      Sampling.epochShardShuffle(s, d)),
    // IVF index merge: fold two independently-built half-indexes (same
    // grid) into one generation per cell; receipt + zero-missing audit
    "q173_ivf_merge" -> ((s: SparkSession, d: String) =>
      Similarity.ivfMergeIndexes(s, d)),
    // centroid recenter: one integer Lloyd step as the apply behind
    // q143's drift audit - per-cell occupancy before/after + moved count
    "q174_ivf_recenter" -> ((s: SparkSession, d: String) =>
      Similarity.ivfRecenter(s, d)),
    // streaming erasure propagation (13th streaming class): the
    // right-to-be-forgotten queue as a multi-batch stream - per-wave
    // touch-only cell rewrites with replay-stable receipts
    "q175_stream_erasure" -> ((s: SparkSession, d: String) =>
      Pipelines.streamErasure(s, d)),
    // shard balance audit (q172's audit leg): per-shard doc/char loads
    // in integer ppm - the training-straggler number
    "q176_shard_balance" -> ((s: SparkSession, d: String) =>
      Sampling.epochShardBalance(s, d)),
    // quantization fidelity: Kendall rank inversions between the float
    // top-k order and the int8 order - rank directly vs shortlist+rerank
    "q177_quant_fidelity" -> ((s: SparkSession, d: String) =>
      Similarity.quantFidelity(s, d)),
    // binary-quantization retrieval: 64 sign bits per vector (8 bytes,
    // 32x below float32), top-k by XOR+popcount Hamming - the coarsest
    // tier of the quantization ladder (float -> int8 -> PQ -> 1-bit)
    "q178_hamming_topk" -> ((s: SparkSession, d: String) =>
      Similarity.hammingTopK(s, d)),
    // two-stage retrieval: binary-Hamming shortlist (50) -> exact int8
    // dot rerank (10) - the shortlist+rerank serving shape q177's
    // rank-inversion numbers motivate; full precision touched only for
    // |probes| x shortlist rows
    "q179_two_stage" -> ((s: SparkSession, d: String) =>
      Similarity.twoStageTopK(s, d)),
    // contrastive triplet mining: per anchor the nearest same-label
    // (positive) and nearest different-label (hard negative) vectors
    // with the triplet margin - the DPR/SimCSE training-data generator
    "q180_contrastive_mine" -> ((s: SparkSession, d: String) =>
      Similarity.contrastiveMine(s, d)),
    // token-budget curation: per source keep the highest-quality score
    // groups whose cumulative tokens fit the budget - totals, cut,
    // kept docs/tokens, utilization ppm (the "best B tokens" ledger)
    "q181_token_budget" -> ((s: SparkSession, d: String) =>
      Curation.tokenBudgetSelect(s, d)),
    // streaming corpus-drift monitor (14th streaming class): per-wave
    // receipts scoring the cumulative arrived corpus against a persisted
    // reference profile - integer-ppm TVD, converging to 0 by the last
    // wave (the waves partition the corpus)
    "q182_stream_drift" -> ((s: SparkSession, d: String) =>
      Pipelines.streamDriftMonitor(s, d)),
    // sketch-mode table profiler: q129's 100 TB knob shipped - per
    // column one KMV bottom-256 sketch + null counter in ONE aggregate
    // over ONE scan (no Expand), estimates hash-replayed in DuckDB
    "q183_profile_kmv" -> ((s: SparkSession, d: String) =>
      Relational.tableProfileKmv(s, d)),
    // index integrity digest (q99's Merkle split for the vector tier):
    // per-cell count + xor-of-id-digests on corpus vs persisted index,
    // emitting the diverged cells - catches the corrupted-id class a
    // count-based audit (q156) cannot see; fixture plants 3 victims
    "q184_ivf_digest" -> ((s: SparkSession, d: String) =>
      Similarity.ivfDigestAudit(s, d, centStride = 100)),
    // mixture allocation APPLY: keep exactly q84's per-cell quota by
    // smallest portable hash via the two-phase quota reservoir - the
    // oracle is the naive rank-window formulation (two-phase == rank)
    "q185_mixture_apply" -> ((s: SparkSession, d: String) =>
      Curation.mixtureApply(s, d)),
    // curriculum shard ordering: q172's reproducible shuffle with the
    // in-shard order sorted easy->hard by the shared quality score
    // (bucket desc, hash within bucket) - curriculum training prep
    "q186_curriculum" -> ((s: SparkSession, d: String) =>
      Sampling.curriculumShuffle(s, d)),
    // normalized-form exact dedup: canonical (case/punct/whitespace-
    // folded) fingerprints vs raw q30 fingerprints, per-source ledger
    // of the extra dups normalization finds - planted shouting twins
    "q187_norm_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.normalizedDedup(s, d)),
    // MMR diversified retrieval: greedy lambda-weighted re-selection
    // over the bounded top-20 pool (7*rel - 3*maxsim, all integer) -
    // the RAG/search result-diversification verb, greedy cascade
    // oracle-replayed step by step
    "q188_mmr_diversify" -> ((s: SparkSession, d: String) =>
      Similarity.mmrDiversify(s, d)),
    // incremental profile maintenance: persisted per-column KMV
    // sketches merged with a delta-only sketch - merged estimate ==
    // full-scan estimate (bottom-k merge theorem, machine-checked)
    "q189_profile_incr" -> ((s: SparkSession, d: String) =>
      Relational.profileKmvIncremental(s, d)),
    // retrieval MRR: rank of the first same-label hit per probe with
    // NO corpus sort (conditional max_by + count-before), rr in ppm
    "q190_retrieval_mrr" -> ((s: SparkSession, d: String) =>
      Similarity.retrievalMrr(s, d)),
    // k-NN graph stats: mutual top-3 in-cell neighbors, wedge and
    // triangle counts, clustering coefficient in ppm - the geometry
    // audit behind SemDeDup (is the embedding space really clustered?)
    "q191_knn_graph" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraphStats(s, d)),
    // streaming budget admission (15th streaming class): per-source
    // token meter across waves, hard-close at the budget - per-wave
    // admit/reject receipts, cross-batch meter state load-bearing
    "q192_stream_budget" -> ((s: SparkSession, d: String) =>
      Pipelines.streamBudgetAdmission(s, d)),
    // temperature-scaled TOKEN mixture (alpha=0.25 via two IEEE-exact
    // sqrts) + repetition-factor audit in exact ppm - the data-card
    // "epochs per source" table; q84 budgets docs, this budgets tokens
    "q193_temp_mixture" -> ((s: SparkSession, d: String) =>
      Curation.temperatureMixture(s, d)),
    // declared-vs-detected language audit: per (source, label) cell,
    // mismatch ppm + modal wrong prediction - the metadata-trust gate
    // in front of every mixture that cells on the lang column
    "q194_lang_mismatch" -> ((s: SparkSession, d: String) =>
      TextAnalysis.langMismatchAudit(s, d)),
    // retrieval nDCG@10 with graded (label-distance) relevance - the
    // third QA leg beside q144 recall and q190 MRR; exact-integer DCG
    // via the 6-div-ilog2 discount (every term divides evenly)
    "q195_retrieval_ndcg" -> ((s: SparkSession, d: String) =>
      Similarity.retrievalNdcg(s, d)),
    // HTML/boilerplate strip + link-density keep flag in front of the
    // dedup family - tag strip hash-proven via md5(stripped); planted
    // page-skeleton + nav-chrome canaries (kept / dropped respectively)
    "q196_html_strip" -> ((s: SparkSession, d: String) =>
      Curation.htmlStrip(s, d)),
    // atomic-document FFD bin packing (q49's tradeoff twin: padding
    // instead of doc splits) - exact first-fit-decreasing computed
    // driver-side over the bounded length histogram, replayed from the
    // persisted interval artifact in both engines
    "q197_pack_atomic" -> ((s: SparkSession, d: String) =>
      Sampling.packAtomic(s, d)),
    // the pack's one-row accounting: bins, fill/padding-waste ppm,
    // oversize count - the padding number a training pipeline watches
    "q198_pack_ledger" -> ((s: SparkSession, d: String) =>
      Sampling.packLedger(s, d)),
    // OPQ/PCA rotation - q120's Gram matrix finally consumed: driver
    // Jacobi on the 64x64 scatter, integer-grid rotation artifact,
    // exact lambda-hat variance report + probe projections replayed
    // bit-for-bit from the artifact in both engines
    "q199_opq_rotate" -> ((s: SparkSession, d: String) =>
      Similarity.opqRotate(s, d)),
    // PQ+ADC retrieval over the OPQ-rotated grid - the quantization
    // ladder's last rung as a gate face; oracle splices q106's PQ CTEs
    // verbatim after the rotation replay, so raw-PQ and OPQ-PQ provably
    // run the same quantizer
    "q200_opq_pq" -> ((s: SparkSession, d: String) =>
      Similarity.opqPqTopK(s, d)),
    // pack APPLY (q185/q155 alloc->apply convention): materialize the
    // packed sequences q197 implies - per bin, doc token streams
    // truncated at packing length, concatenated in doc_id order,
    // hash-proven via md5
    "q201_pack_apply" -> ((s: SparkSession, d: String) =>
      Sampling.packApply(s, d)),
    // matryoshka truncation recall: top-k recall of prefix-dim rankings
    // (d = 8/16/32/64) vs the full-dim truth, all on the int8 grid -
    // the "can we ship the 4x-smaller index" audit (Kusupati et al.
    // 2022); the d=64 row is the built-in identity anchor (ppm = 1e6)
    "q202_matryoshka_recall" -> ((s: SparkSession, d: String) =>
      Similarity.matryoshkaRecall(s, d)),
    // k-center greedy coreset (Gonzalez 1985 farthest-point traversal;
    // Sener & Savarese 2018's selection criterion): driver greedy over
    // the bounded anchor pool, ONE corpus scan assigns to the nearest
    // center - per-center population, cover radius^2, distance mass
    "q203_kcenter_coreset" -> ((s: SparkSession, d: String) =>
      Similarity.kCenterCoreset(s, d)),
    // JSONL sink + re-read round-trip (the q51 convention for the OTHER
    // interchange format): engine writes docs + escape canaries as
    // newline-delimited JSON, re-reads with a declared schema, emits
    // null-safe match flags + md5(text); the oracle parses the SAME
    // artifact files - writer/parser/escape bugs land as hash mismatches
    "q204_jsonl_roundtrip" -> ((s: SparkSession, d: String) =>
      Pipelines.jsonlRoundtrip(s, d)),
    // image near-dup by perceptual hash: aHash through the REAL PNG/BMP
    // decoder (artifact-keyed like the media stats), pairs within
    // Hamming<=4 via pigeonhole-complete 5-chunk banding - re-encoded
    // copies land at Hamming 0 where byte dedup is blind; planted BMP
    // re-encode + perturbed-pixel canaries prove both directions
    "q205_image_dup_pairs" -> ((s: SparkSession, d: String) =>
      Multimodal.imageDupPairs(s, d)),
    // cross-doc n-gram duplication coverage (Lee et al. 2022's headline
    // audit): ppm of each source's 3-gram INSTANCES whose text occurs
    // in >=2 distinct docs - measures the duplication q30/q88/q170
    // remove; postings-shaped, NO pair join (f, not f^2, per hot gram)
    "q206_ngram_dup_coverage" -> ((s: SparkSession, d: String) =>
      Dedup.ngramDupCoverage(s, d)),
    // audio near-dup: PCM sign-delta fingerprint through the REAL
    // javax.sound decoder, q205's two-level collapse+banding shape -
    // an AIFF re-encode (different container, SWAPPED byte order, same
    // waveform) collapses with its WAV; a two-sample poke lands near
    "q207_audio_dup_pairs" -> ((s: SparkSession, d: String) =>
      Multimodal.audioDupPairs(s, d)),
    // semantic decontamination - the third decon leg (q69 exact n-gram,
    // q116 lexical LSH, this one embedding-space): flag training vectors
    // within rounded-cos >= 0.98 of the FIXED 64-vector benchmark slice;
    // planted exact-copy leaks (negative ids) must flag at cos = 1.0
    "q208_semantic_decon" -> ((s: SparkSession, d: String) =>
      Similarity.semanticDecontaminate(s, d)),
    // Broder containment pairs - the asymmetric near-dup Jaccard can't
    // see: a doc SUBSUMED by a larger one (quote/inclusion) has
    // containment 1.0 but Jaccard ~0.5; planted half-text twins
    // (doc_id % 77 = 5, negative ids) must flag at c ~ 1.0
    "q209_containment_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.containmentPairs(s, d)),
    // image duplicate-cluster ledger: q38's transitive components over
    // q205's rep pair graph (distinct content only), exact-hash class
    // sizes folded back - the per-cluster "keep 1, drop n-1" number
    "q210_image_dup_clusters" -> ((s: SparkSession, d: String) =>
      Multimodal.imageDupClusters(s, d)),
    // ANALYZE-style column statistics (CBO stats collector): row/null
    // counts, exact NDV, min/max per column from column-pruned scans;
    // the HLL one-pass variant is the 100TB path (q14/q78 price it)
    "q211_analyze_stats" -> ((s: SparkSession, d: String) =>
      Relational.analyzeColumnStats(s, d)),
    // contamination span evidence: WHERE each training doc overlaps
    // the benchmark set - maximal token spans of shared 3-grams
    // (coverage, longest run, first/last pos), the redact-not-drop
    // evidence q69's doc-level flags can't give
    "q147_contamination_spans" -> Dedup.contaminationSpans _,
    // filter kill-rate drift: q141's funnel flags on snapshot A vs B,
    // per-filter integer-ppm fail rates + |delta| from ONE scan - the
    // quality-gate alarm that names WHICH filter moved between crawls
    "q146_funnel_drift" -> Curation.filterFunnelDrift _,
    // incremental connected components: maintain q38's cluster labels
    // under a day's new edges by label-space condensation off the
    // persisted label artifact - oracle is q38's batch SQL VERBATIM,
    // so incremental == from-scratch is hash-checked per run
    "q145_incremental_components" -> Dedup.incrementalComponents _,
    "q55_jdbc_roundtrip" -> Pipelines.jdbcRoundtrip,
    "q56_double_cascade" -> Pipelines.doubleCascade,
    "q60_media_meta" -> Multimodal.mediaMeta,
    "q61_media_decode_summary" -> Multimodal.decodeSummary,
    // REAL codecs (JDK javax.imageio / javax.sound.sampled): Spark must
    // round-trip actual PNG/WAV bytes through the decoder to match the
    // oracle's closed-form recomputation from doc_id.
    "q64_image_decode" -> Multimodal.imageDecode,
    "q65_audio_decode" -> Multimodal.audioDecode,
    // pixel-level resize + container frame sampling — the remaining two
    // steps of the decode/feature-extract/resize/frame-sample pipeline
    // at the REAL-decoder level (q61 covers them at metadata level)
    "q66_image_resize" -> Multimodal.imageResize _,
    "q67_frame_sample" -> Multimodal.videoFrameSample _,
    // the whole-history batch face of sessionization (window SQL — spills
    // on hot keys instead of buffering; see Sessionize.sessionsBatch).
    // Fully SQL-expressible → hash-checked, closing the family's oracle
    // gap (q62's flatMapGroupsWithState face stays rows-only + spec).
    "q63_sessionize_batch" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val ev = graft.Tables.events(s, d)
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.Sessionize.sessionsBatch(ev, gapMs = 60 * 60 * 1000L)
        .select(col("user_id"),
          unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"),
          col("n_types"), col("closed_by"))
        .orderBy(col("user_id"), col("start_ms"))
    }),
    "q62_sessionize" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val ev = graft.Tables.events(s, d)
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.Sessionize.sessions(ev, gapMs = 60 * 60 * 1000L, flushOpen = true)
        .groupBy(col("closed_by"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("total_events"),
          round(sum(col("sum_value")), 4).as("total_value"))
        .orderBy(col("closed_by"))
    })
  )

  /** Gate entries whose oracle SQL bakes in a literal that an auto-sized
    * parameter can outgrow: q41/q44's `vec_id % 2` subsample stride and
    * q42's 4-bit band width are what [[graft.ops.Similarity]] selects at
    * every driver-checked SF, but at a larger corpus the auto-sizing
    * departs and the literal SQL no longer describes the query. Verify
    * omits these keys from oracle_sql.json in that case, so the driver
    * records an honest rows-only check instead of a hash mismatch that
    * looks like a correctness bug (r4 advice). */
  def oracleDowngrades(spark: SparkSession, sfDir: String): Set[String] = {
    val n = Similarity.corpusCount(spark, sfDir)
    val strideDeparts = Similarity.modSampleForCorpus(n) != 2
    // q42's literal SQL departs if EITHER the band width auto-sizes past
    // the floor OR the hot-bucket prune (which the SQL doesn't model)
    // would fire — i.e. some bucket at the floor width exceeds the cap
    val bitsDepart = Similarity.bitsForCorpus(n) != Similarity.BITS_PER_BAND
    val capFires = !bitsDepart &&
      Similarity.maxBandOccupancy(spark, sfDir, Similarity.BITS_PER_BAND) >
        Similarity.MaxBucketOcc
    // q90's oracle models the floor bitset (m = 2^20); when the build-side
    // key count auto-sizes m past it, the literal SQL no longer describes
    // the filter — downgrade to rows-only, same pattern as q41/q42
    val bloomDeparts = {
      import org.apache.spark.sql.functions.col
      val nKeys = Tables.customer(spark, sfDir)
        .where(col("c_mktsegment") === "BUILDING").count()
      Bloom.sizeBits(nKeys) != Bloom.DefaultBits
    }
    (if (strideDeparts) Set("q41_cosine_pairs", "q44_cosine_dedup")
     else Set.empty[String]) ++
      (if (bitsDepart || capFires) Set("q42_ann_lsh_pairs") else Set.empty[String]) ++
      (if (bloomDeparts) Set("q90_bloom_join") else Set.empty[String])
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> Relational.pricingSummarySql,
    "q02_offset_scan" -> Relational.offsetScanSql,
    "q03_revenue_by_nation" -> Relational.revenueByNationSql,
    "q04_window_top_orders" -> Relational.windowTopOrdersSql,
    "q05_top_revenue_parts" -> Relational.topRevenuePartsSql,
    "q06_setops_customers" -> Relational.setOpsCustomersSql,
    "q07_rollup_pricing" -> Relational.rollupPricingSql,
    "q08_distinct_customers" -> Relational.distinctCustomersSql,
    "q09_json_props" -> Relational.jsonPropsSql,
    "q10_event_windows" -> Relational.eventTumblingWindowsSql,
    "q11_order_priority" -> Relational.orderPriorityCheckSql,
    "q12_customers_no_orders" -> Relational.customersWithoutOrdersSql,
    "q13_cube_events" -> Relational.cubeEventsSql,
    // q14 (ORACLE-CHECKED since r7, was rows-only): native HLL++
    // registers aren't engine-portable, but the face now emits the exact
    // count (DuckDB recomputes) plus the integer-cross-multiplied
    // within-10% contract flag (oracle asserts TRUE; 10% = the library's
    // spec envelope, r8 ADVICE alignment) — a broken estimator flips the
    // flag and reds the hash
    "q14_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q77: the PORTABLE tabular CMS (md5 row hashes) — DuckDB rebuilds
    // the sketch and the min-over-rows estimates verbatim
    "q77_cms_frequency" -> Relational.cmsFrequencyPortableSql,
    // q78: portable HLL — integer register sums, literal-identical
    // estimate expressions; DuckDB rebuilds registers and estimate
    "q78_hll_portable" -> Relational.hllPortableSql,
    // q79/q80: skew machinery (salted join, hot-key split) — oracle is
    // the PLAIN join, proving row-for-row equivalence on real data
    "q79_salted_join" -> SkewJoin.saltedRevenueSql,
    "q80_hotkey_split_join" -> SkewJoin.hotKeySplitSpendSql,
    "q15_pivot_events" -> Relational.pivotEventsSql,
    "q16_intersect_customers" -> Relational.intersectCustomersSql,
    "q17_scalar_functions" -> Relational.scalarFunctionsSql,
    "q18_supplier_balances" -> Relational.supplierBalancesSql,
    "q19_props_map" -> Relational.propsAsMapSql,
    "q70_shipping_priority" -> Relational.shippingPrioritySql,
    "q71_forecast_revenue" -> Relational.forecastRevenueSql,
    "q72_promo_revenue" -> Relational.promoRevenueSql,
    "q73_user_activity" -> Relational.userActivityStatsSql,
    "q74_fuzzy_brand_match" -> Relational.fuzzyTypeMatchSql,
    "q75_min_cost_supplier" -> Relational.minCostSupplierSql,
    "q76_sole_late_supplier" -> Relational.soleLateSupplierSql,
    "q20_text_stats" -> TextAnalysis.textStatsSql,
    "q21_token_counts" -> TextAnalysis.tokenCountsSql,
    "q22_lang_id" -> TextAnalysis.langIdSql,
    "q23_fingerprint" -> TextAnalysis.fingerprintSql,
    "q24_quality_filter" -> TextAnalysis.qualityFilterSql,
    "q25_word_topk" -> TextAnalysis.wordTopKSql,
    "q26_winnow_pairs" -> TextAnalysis.winnowPairsSql,
    "q27_tfidf_topk" -> TextAnalysis.tfIdfTopKSql,
    "q28_bm25_rank" -> TextAnalysis.bm25Sql,
    "q45_asof_join" -> Temporal.purchaseAttributionSql,
    "q46_range_join" -> Temporal.signupViewWindowsSql,
    // q57: the streaming interval join computes exactly q46's semantics;
    // one-micro-batch completeness argument at Pipelines.streamIntervalJoin
    "q57_stream_interval_join" -> Temporal.signupViewWindowsSql,
    // q58: the oracle IS the watermark contract — closed windows only
    "q58_stream_windows" -> Pipelines.streamWindowsSql,
    "q59_stream_dedup" -> Pipelines.streamDedupSql,
    "q81_doc_chunks" -> Curation.docChunksSql,
    "q82_pii_scrub" -> Curation.piiScrubSql,
    "q83_repetition_stats" -> Curation.repetitionSql,
    "q84_mixture_alloc" -> Curation.mixtureSql,
    "q85_zorder_layout" -> Curation.zorderSql,
    "q86_reservoir_sample" -> Sampling.reservoirSql,
    "q87_length_histogram" -> TextAnalysis.lengthHistogramSql,
    "q88_chunk_dedup" -> Curation.chunkDedupSql,
    "q89_ngram_novelty" -> Curation.ngramNoveltySql,
    "q90_bloom_join" -> Bloom.bloomJoinSql,
    "q91_stream_enrich" -> Pipelines.streamEnrichSql,
    "q92_random_projection" -> Similarity.randomProjectionSql,
    "q93_bloom_anti_join" -> Bloom.bloomAntiJoinSql,
    "q94_kmeans" -> Similarity.kmeansIntSql,
    "q95_approx_quantiles" -> Relational.approxQuantilesSql,
    "q96_pps_sample" -> Sampling.ppsSampleSql,
    "q97_source_cap" -> Curation.sourceCapSql,
    "q99_table_digest" -> Reconcile.tableDigestSql,
    "q100_diff_keys" -> Reconcile.diffKeysSql,
    "q101_kmv_distinct" -> Relational.kmvDistinctSql,
    "q102_merge_upsert" -> Reconcile.mergeUpsertSql,
    "q103_cdc_apply_stream" -> Pipelines.cdcApplyStreamSql,
    "q98_pagerank" -> Graph.pageRankSql,
    "q104_heavy_hitters" -> Relational.mgHeavyHittersSql,
    "q105_dup_spans" -> Dedup.dupSpansSql,
    "q106_pq_topk" -> Similarity.pqTopKSql,
    "q107_cluster_split" -> Dedup.clusterSplitSql,
    "q108_stream_outer_join" -> Pipelines.streamOuterIntervalJoinSql,
    "q109_bpe_train" -> TextAnalysis.bpeTrainSql,
    "q110_ams_join_size" -> Relational.amsJoinSizeSql,
    "q111_stream_heavy_hitters" -> Pipelines.streamHeavyHittersSql,
    "q112_prefix_jaccard" -> Dedup.jaccardPairsSql,
    "q113_lm_quality" -> TextAnalysis.lmQualityScoreSql,
    "q114_bpe_encode" -> TextAnalysis.bpeEncodeSql,
    "q115_semdedup" -> Similarity.semDedupSql,
    "q116_lsh_decontaminate" -> Dedup.lshDecontaminateSql,
    "q117_group_quantile_filter" -> TextAnalysis.groupQuantileFilterSql,
    "q118_dsir_resample" -> TextAnalysis.dsirResampleSql,
    "q119_scd2_history" -> Reconcile.scd2Sql,
    "q120_gram_matrix" -> Similarity.gramMatrixSql,
    "q121_stream_dead_letter" -> Pipelines.streamDeadLetterSql,
    "q122_auc_eval" -> TextAnalysis.aucEvalSql,
    "q123_funnel" -> Relational.funnelSql,
    "q124_retention_cohorts" -> Relational.retentionCohortsSql,
    "q125_kmv_rollup" -> Relational.kmvRollupSql,
    "q126_ivf_incremental" -> Similarity.ivfIncrementalSql,
    "q127_delta_dedup" -> Dedup.deltaDedupSql,
    "q128_cluster_reps" -> Dedup.clusterRepsSql,
    "q129_table_profile" -> Relational.tableProfileSql,
    "q130_fk_audit" -> Reconcile.fkAuditSql,
    "q131_erasure_cascade" -> Reconcile.erasureCascadeSql,
    "q132_gap_fill" -> Relational.gapFillSql,
    "q133_path_transitions" -> Relational.pathTransitionsSql,
    "q134_attribution" -> Relational.attributionSql,
    "q135_rolling_anomaly" -> Relational.rollingAnomalySql,
    "q136_point_in_time_join" -> Reconcile.pointInTimeJoinSql,
    "q137_incremental_agg" -> Relational.incrementalAggSql,
    "q138_stream_rolling_anomaly" -> Pipelines.streamRollingAnomalySql,
    "q139_drift_audit" -> TextAnalysis.driftAuditSql,
    "q140_tokenizer_stats" -> TextAnalysis.tokenizerStatsSql,
    "q141_filter_funnel" -> Curation.filterFunnelSql,
    "q142_dedup_delta" -> Dedup.dedupDeltaSql,
    "q143_embedding_drift" -> Similarity.embeddingDriftSql,
    "q144_ann_recall" -> Similarity.annRecallAuditSql,
    // the batch closure verbatim: incremental must equal from-scratch
    "q145_incremental_components" -> Dedup.dupClustersSql,
    "q146_funnel_drift" -> Curation.filterFunnelDriftSql,
    "q147_contamination_spans" -> Dedup.contaminationSpansSql,
    "q148_schema_drift" -> Pipelines.schemaDriftSql,
    // stream == batch: the three waves unrolled in SQL
    "q149_stream_admission" -> Pipelines.streamDedupAdmissionSql,
    "q150_calibration" -> TextAnalysis.calibrationSql,
    "q151_lsh_quality" -> Dedup.lshQualityAuditSql,
    "q152_ivf_balance" -> Similarity.ivfBalanceAuditSql,
    "q153_embedding_validation" -> Similarity.embeddingValidationSql,
    "q154_intra_doc_repetition" -> Dedup.intraDocRepetitionSql,
    "q155_apply_spans" -> Curation.applyRepetitionSpansSql,
    "q156_index_coverage" -> Similarity.ivfCoverageAuditSql,
    "q157_lsh_canary" -> Dedup.lshQualityAuditCanariedSql,
    "q158_apply_contamination" -> Curation.applyContaminationSpansSql,
    "q159_coverage_repair" -> Similarity.ivfCoverageRepairSql,
    "q160_hybrid_rrf" -> Similarity.hybridRetrievalRrfSql,
    "q161_stream_index" -> Pipelines.streamIndexMaintenanceSql,
    "q162_fusion_diag" -> Similarity.fusionDiagnosticsSql,
    "q163_corpus_accounting" -> Curation.corpusAccountingSql,
    "q164_ivf_multiprobe" -> Similarity.ivfTopKMultiProbeSql,
    "q165_ivf_compaction" -> Similarity.ivfCompactGateSql,
    "q166_vector_erasure" -> Similarity.vectorErasureSql,
    "q167_ivf_rebalance" -> Similarity.ivfRebalanceSplitSql,
    "q168_nprobe_select" -> Similarity.nprobeSelectSql,
    "q169_filtered_ann" -> Similarity.ivfTopKFilteredSql,
    "q170_block_dedup" -> Dedup.blockDedupSql,
    "q171_lm_filter" -> TextAnalysis.lmQualityFilterLedgerSql,
    "q172_epoch_shuffle" -> Sampling.epochShardShuffleSql,
    "q173_ivf_merge" -> Similarity.ivfMergeIndexesSql,
    "q174_ivf_recenter" -> Similarity.ivfRecenterSql,
    "q175_stream_erasure" -> Pipelines.streamErasureSql,
    "q176_shard_balance" -> Sampling.epochShardBalanceSql,
    "q177_quant_fidelity" -> Similarity.quantFidelitySql,
    "q178_hamming_topk" -> Similarity.hammingTopKSql,
    "q179_two_stage" -> Similarity.twoStageTopKSql,
    "q180_contrastive_mine" -> Similarity.contrastiveMineSql,
    "q181_token_budget" -> Curation.tokenBudgetSelectSql,
    "q182_stream_drift" -> Pipelines.streamDriftMonitorSql,
    "q183_profile_kmv" -> Relational.tableProfileKmvSql,
    "q184_ivf_digest" -> Similarity.ivfDigestAuditSql,
    "q185_mixture_apply" -> Curation.mixtureApplySql,
    "q186_curriculum" -> Sampling.curriculumShuffleSql,
    "q187_norm_dedup" -> Dedup.normalizedDedupSql,
    "q188_mmr_diversify" -> Similarity.mmrDiversifySql,
    "q189_profile_incr" -> Relational.profileKmvIncrementalSql,
    "q190_retrieval_mrr" -> Similarity.retrievalMrrSql,
    "q191_knn_graph" -> Similarity.knnGraphStatsSql,
    "q192_stream_budget" -> Pipelines.streamBudgetAdmissionSql,
    "q193_temp_mixture" -> Curation.temperatureMixtureSql,
    "q194_lang_mismatch" -> TextAnalysis.langMismatchAuditSql,
    "q195_retrieval_ndcg" -> Similarity.retrievalNdcgSql,
    "q196_html_strip" -> Curation.htmlStripSql,
    "q197_pack_atomic" -> Sampling.packAtomicSql,
    "q198_pack_ledger" -> Sampling.packLedgerSql,
    "q199_opq_rotate" -> Similarity.opqRotateSql,
    "q200_opq_pq" -> Similarity.opqPqTopKSql,
    "q201_pack_apply" -> Sampling.packApplySql,
    "q202_matryoshka_recall" -> Similarity.matryoshkaRecallSql,
    "q203_kcenter_coreset" -> Similarity.kCenterCoresetSql,
    "q204_jsonl_roundtrip" -> Pipelines.jsonlRoundtripSql,
    "q205_image_dup_pairs" -> Multimodal.imageDupPairsSql,
    "q206_ngram_dup_coverage" -> Dedup.ngramDupCoverageSql,
    "q207_audio_dup_pairs" -> Multimodal.audioDupPairsSql,
    "q208_semantic_decon" -> Similarity.semanticDecontaminateSql,
    "q209_containment_pairs" -> Dedup.containmentPairsSql,
    "q210_image_dup_clusters" -> Multimodal.imageDupClustersSql,
    "q211_analyze_stats" -> Relational.analyzeColumnStatsSql,
    "q47_stratified_sample" -> Sampling.eventSampleSql,
    "q48_quantized_topk" -> Similarity.quantizedTopKSql,
    "q68_label_centroids" -> Similarity.labelCentroidsSql,
    "q30_dedup_exact" -> Dedup.exactDedupSql,
    "q31_dedup_first_per_key" -> Dedup.firstEventPerKeySql,
    "q32_jaccard_pairs" -> Dedup.jaccardPairsSql,
    "q33_minhash_signatures" -> Dedup.minhashSignaturesSql,
    "q34_minhash_lsh_pairs" -> Dedup.minhashLshPairsSql,
    "q38_dup_clusters" -> Dedup.dupClustersSql,
    "q69_decontaminate" -> Dedup.decontaminateSql,
    "q39_group_split" -> Sampling.docSplitSql,
    "q49_sequence_pack" -> Sampling.sequencePackSql,
    "q37_jaccard_dedup" -> Dedup.nearDedupSql,
    "q35_simhash" -> Dedup.simhashSql,
    // q36: banding is complete for Hamming<=5 (pigeonhole, spec-asserted),
    // so the brute-force all-pairs filter over per-doc signatures is an
    // exact oracle — tiny in DuckDB at verify SF
    "q36_simhash_pairs" -> Dedup.simhashPairsSql,
    "q40_cosine_topk" -> Similarity.cosineTopKSql,
    "q41_cosine_pairs" -> Similarity.cosinePairsSql,
    // q42: the hyperplanes are deterministic ±1 literals → the full LSH
    // pipeline (sign bits, banding, exact verify) replays in DuckDB
    "q42_ann_lsh_pairs" -> Similarity.annLshPairsSql,
    "q44_cosine_dedup" -> Similarity.cosineDedupSql,
    // q43: the quantized-IVF face — routing and ranking are exact integer
    // dots, so the full cell-routed pipeline replays in DuckDB
    "q43_ivf_topk" -> Similarity.ivfTopKQuantizedSql,
    "q50_infer_cascade" -> Pipelines.inferCascadeSql,
    // q51: the oracle reads the CSV ARTIFACT the engine wrote (path
    // substituted by Verify at dump time) and recomputes the content
    // digest the engine derives from the parquet source — artifact ≡
    // source is the check. q52: truth-table oracle (expected tags are
    // fixed by the construction; the quoted bit itself isn't SQL-visible).
    "q51_csv_roundtrip" -> Pipelines.csvRoundtripSql,
    "q52_tagged_inference" -> Pipelines.taggedInferenceSql,
    "q53_dsv2_source_agg" -> Pipelines.verbIngestAggSql,
    // q54: contract oracle (stream ≡ batch), both sides from orders —
    // the engine reports each side as measured; see streamIngestSummary.
    "q54_stream_ingest" -> Pipelines.streamIngestSummarySql,
    "q55_jdbc_roundtrip" -> Pipelines.jdbcRoundtripSql,
    "q56_double_cascade" -> Pipelines.doubleCascadeSql,
    "q60_media_meta" -> Multimodal.mediaMetaSql,
    // q61: all three decode paths (PNG, WAV, GFV1 video container) have
    // closed-form stats in doc_id → the mixed-kind summary hash-checks.
    "q61_media_decode_summary" -> Multimodal.decodeSummarySql,
    "q64_image_decode" -> Multimodal.imageDecodeSql,
    "q65_audio_decode" -> Multimodal.audioDecodeSql,
    "q66_image_resize" -> Multimodal.imageResizeSql,
    "q67_frame_sample" -> Multimodal.videoFrameSampleSql,
    "q63_sessionize_batch" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS tms, event_type, value FROM events),
        | flagged AS (
        |  SELECT *, CASE WHEN tms - lag(tms) OVER w <= 3600000 THEN 0 ELSE 1 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_type)),
        | numbered AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tms, event_type
        |                                ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM flagged),
        | agg AS (
        |  SELECT user_id, sess, min(tms) AS start_ms, max(tms) AS end_ms,
        |    count(*) AS n_events, round(sum(value), 4) AS sum_value,
        |    CAST(count(DISTINCT event_type) AS INT) AS n_types
        |  FROM numbered GROUP BY 1, 2)
        |SELECT user_id, start_ms, end_ms, n_events, sum_value, n_types,
        |  CASE WHEN sess = max(sess) OVER (PARTITION BY user_id)
        |       THEN 'flush' ELSE 'gap' END AS closed_by
        |FROM agg ORDER BY user_id, start_ms""".stripMargin,
    // q62 (ORACLE-CHECKED since r7, was rows-only): the engine aggregates
    // sessions produced by the flatMapGroupsWithState STATE MACHINE; the
    // oracle derives the same sessions with q63's window SQL (a different
    // algorithm) and aggregates identically — stateful ≡ batch is the
    // contract, per closed_by class. Integer columns exact; total_value
    // sums unrounded per-event doubles on both sides before one final
    // 4dp round.
    "q62_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ms(ts) AS tms, event_type, value FROM events),
        | flagged AS (
        |  SELECT *, CASE WHEN tms - lag(tms) OVER w <= 3600000 THEN 0 ELSE 1 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_type)),
        | numbered AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tms, event_type
        |                                ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM flagged),
        | agg AS (
        |  SELECT user_id, sess, count(*) AS n_events, sum(value) AS sval
        |  FROM numbered GROUP BY 1, 2),
        | cls AS (
        |  SELECT user_id, sess, n_events, sval,
        |    CASE WHEN sess = max(sess) OVER (PARTITION BY user_id)
        |         THEN 'flush' ELSE 'gap' END AS closed_by
        |  FROM agg)
        |SELECT closed_by, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  round(sum(sval), 4) AS total_value
        |FROM cls GROUP BY closed_by ORDER BY closed_by""".stripMargin
  )
}
