package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Audit, ConvertQueries, Curation, Dedup, Events, Export, Hybrid, ImageIndex, LshIndex, Multimodal, Packing, Pipeline, Relational, Retrieval, Sampling, Similarity, Sketches, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB-equivalent in [[oracleSql]]
  * with IDENTICAL output column names, a deterministic total ORDER BY,
  * doubles rounded to fixed decimals, and timestamps rendered as strings
  * (the driver hash-compares values after sorting columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.regionRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * north-star extension operators). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> Relational.pricingSummary _,
    "q02_top_customers" -> Relational.topCustomers _,
    "q03_shipping_priority" -> Relational.shippingPriority _,
    "q04_order_priority" -> Relational.orderPriority _,
    "q05_region_revenue" -> Relational.regionRevenue _,
    "q06_forecast_revenue" -> Relational.forecastRevenue _,
    "q07_top_orders_per_customer" -> Relational.topOrdersPerCustomer _,
    "q08_running_total" -> Relational.runningTotal _,
    "q09_except_buyers" -> Relational.exceptBuyers _,
    "q10_intersect_segments" -> Relational.intersectSegments _,
    "q11_supplier_part_breadth" -> Relational.supplierPartBreadth _,
    "q12_events_hourly" -> Events.hourly _,
    "q13_events_sessions" -> Events.sessions _,
    "q14_purchase_after_signup" -> Events.purchaseAfterSignup _,
    "q15_session_window" -> Events.sessionWindows _,
    "q41_asof_user_order" -> Events.asofUserOrder _,
    "q17_rollup_revenue" -> Relational.rollupRevenue _,
    "q18_window_suite" -> Relational.windowSuite _,
    "q19_value_percentiles" -> Relational.valuePercentiles _,
    "q16_salted_type_stats" -> ((s, d) => Events.saltedTypeStats(s, d)),
    "q20_text_stats" -> TextAnalysis.textStats _,
    "q21_lang_id" -> TextAnalysis.langId _,
    "q22_token_counts" -> TextAnalysis.tokenCounts _,
    "q23_quality_filter" -> TextAnalysis.qualityFilter _,
    "q24_fingerprints" -> TextAnalysis.fingerprints _,
    "q25_rolling_hash" -> TextAnalysis.rollingHash _,
    "q30_dedup_exact" -> Dedup.exact _,
    "q31_dedup_normalized" -> Dedup.normalized _,
    "q32_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "q33_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "q34_simhash" -> Dedup.simhash _,
    "q43_hybrid_neardup" -> Dedup.hybridNearDup _,
    "q44_customers_without_orders" -> Relational.customersWithoutOrders _,
    "q45_small_quantity_revenue" -> Relational.smallQuantityRevenue _,
    "q46_props_buckets" -> Events.propsBuckets _,
    "q35_simhash_neardup" -> ((s, d) => Dedup.simhashNearDup(s, d)),
    "q36_embedding_neardup" -> ((s, d) => Similarity.nearDup(s, d)),
    "q37_sim_topk" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    // default path = ADAPTIVE sizing (Similarity.adaptiveLshConfig):
    // (8,8) at gate scale — matching the static oracle SQL below — and
    // (12,5) at the 100x corpus; AdaptiveLshSpec pins the plateau
    "q38_ann_lsh" -> ((s, d) => Similarity.lshTopK(s, d)),
    // default path = ADAPTIVE codebook (Similarity.adaptiveIvfConfig):
    // 16 centroids at gate scale — matching the static oracle SQL below —
    // and 196 at the 100x corpus; AdaptiveIvfSpec pins the plateau
    "q39_ann_ivf" -> ((s, d) => Similarity.ivfTopK(s, d)),
    "q40_multimodal_meta" -> Multimodal.mediaMeta _,
    "q42_frame_sample" -> Multimodal.frameSample _,
    "q47_range_join" -> Relational.balanceBands _,
    "q48_pivot" -> Relational.segmentStatusPivot _,
    "q49_cube" -> Relational.cubeRevenue _,
    "q50_approx_distinct" -> ((s, d) => Relational.approxOrderCounts(s, d)),
    "q51_activity_full_outer" -> Relational.activityFullOuter _,
    "q52_union_parties" -> Relational.nationParticipants _,
    "q53_order_seasonality" -> Relational.orderSeasonality _,
    "q54_promo_revenue" -> Relational.promoRevenue _,
    "q55_approx_percentiles" -> Relational.approxPercentiles _,
    "q56_order_items_list" -> Relational.orderItemsList _,
    "q57_metrics_unpivot" -> Relational.metricsUnpivot _,
    "q58_dedup_keepers" -> ((s, d) => Dedup.keepers(s, d)),
    "q62_ann_recall" -> ((s, d) => Similarity.annRecall(s, d)),
    "q59_dedup_clusters" -> ((s, d) => Dedup.clusters(s, d)),
    "q60_stats_suite" -> Relational.statsSuite _,
    "q61_convert_roundtrip" -> ConvertQueries.roundtrip _,
    "q68_convert_json_roundtrip" -> ConvertQueries.jsonRoundtrip _,
    "q63_repetition" -> TextAnalysis.repetition _,
    "q69_decontaminate" -> TextAnalysis.decontaminate _,
    "q70_pii_redact" -> TextAnalysis.piiScan _,
    "q71_audio_meta" -> Multimodal.audioMeta _,
    "q72_curation_pipeline" -> Curation.curate _,
    "q73_funnel" -> Events.funnel _,
    "q74_top_ngrams" -> ((s, d) => TextAnalysis.topNgrams(s, d)),
    "q75_video_meta" -> Multimodal.videoMeta _,
    "q76_integrity_audit" -> Audit.integrity _,
    "q77_dupgraph_degrees" -> ((s, d) => Dedup.dupGraphDegrees(s, d)),
    "q78_label_centroids" -> Similarity.labelCentroids _,
    "q79_delta_merge" -> Curation.deltaMerge _,
    "q80_max_concurrency" -> Events.maxConcurrency _,
    "q81_cohort_retention" -> Events.cohortRetention _,
    "q82_chunk_stats" -> ((s, d) => TextAnalysis.chunkStats(s, d)),
    "q83_cast_null_stats" -> ConvertQueries.castNullStats _,
    "q84_rolling_active" -> ((s, d) => Events.rollingActive(s, d)),
    "q85_path_transitions" -> Events.pathTransitions _,
    "q86_hourly_anomalies" -> ((s, d) => Events.hourlyAnomalies(s, d)),
    "q87_schema_report" -> ConvertQueries.schemaReport _,
    "q88_source_dup_matrix" -> ((s, d) => Dedup.sourceDupMatrix(s, d)),
    "q89_quantization_error" -> Similarity.quantizationError _,
    "q90_template_prefixes" -> ((s, d) => TextAnalysis.templatePrefixes(s, d)),
    "q91_length_packing" -> ((s, d) => Packing.lengthPacking(s, d)),
    // the documented LSH scale config (BASELINE.md round-6 knob table:
    // 11-17x cheaper at 100x warm, 3.8x cold incl. signature build,
    // recall@3 1.000) under the same hash gate as the 8x8 default — the
    // scale path is gated evidence, not just a claim
    "q92_ann_lsh_scaled" -> ((s, d) => Similarity.lshTopK(s, d, bits = 12, nTables = 5)),
    "q93_pack_assignment" -> ((s, d) => Packing.packAssignment(s, d)),
    // the documented MinHash scale config (k=16, r=4: narrower bands cut
    // false-positive candidates from j^2 to j^4 per band) under the same
    // hash gate as the k=8/r=2 default — scale path as gated evidence,
    // the q92 discipline applied to the dedup ladder
    "q94_minhash_lsh_scaled" -> ((s, d) => Dedup.minhashLshScaled(s, d)),
    // the embedding rung's scale path: corpus-wide near-dup pairs via
    // sign-LSH buckets (adaptive config like q38) — q36 is the bounded
    // exact baseline, this is what runs over the full corpus
    "q95_embedding_neardup_lsh" -> ((s, d) => Similarity.nearDupLsh(s, d)),
    // embedding-space decontamination: the paraphrase hole in the
    // lexical rungs — eval-vs-corpus ANN via the q95 signature stage,
    // cosine-verified, q69-style per-doc verdict
    "q135_semantic_contamination" -> ((s, d) => Similarity.semanticContamination(s, d)),
    // delta-vs-corpus near-dedup: today's batch (hash split) killed
    // against the historical corpus through the shared confirmed-pair
    // stage, then within-batch — the daily-ingest shape
    "q96_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    // corpus unigram-LM quality proxy (CCNet-style order-0 filter)
    "q97_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogprob(s, d)),
    // temperature-based source mixing plan under a token budget
    "q98_source_mixing" -> ((s, d) => Sampling.sourceMixing(s, d)),
    // q69's verdict via the large-eval-set scale plan: Bloom prefilter
    // (codegen'd probe, ~1.2 bytes/gram) + exact confirm join
    "q99_decontaminate_bloom" -> ((s, d) => TextAnalysis.decontaminateBloom(s, d)),
    // leakage-safe train/val split: the unit of assignment is the
    // near-dup CLUSTER, so no confirmed pair can straddle the boundary
    "q100_cluster_split" -> ((s, d) => Curation.clusterSplit(s, d)),
    // deterministic global training-export shuffle: one md5 drives both
    // shard assignment and within-shard order; the checksum pins the
    // exact permutation under the oracle hash
    "q101_export_shuffle" -> ((s, d) => Sampling.exportShuffle(s, d)),
    // SemDeDup-style decision layer on the q95 pair relation: greedy
    // lowest-id keeper rule, reported as the per-label pruning profile
    "q102_semantic_keepers" -> ((s, d) => Similarity.semanticKeepers(s, d)),
    // exact substring duplication at sub-document granularity (fixed-
    // width window fingerprints, Lee et al. 2107.06499's index shape)
    "q103_dup_spans" -> ((s, d) => TextAnalysis.dupSpans(s, d)),
    // contamination severity per source: per-doc eval-gram hit fraction
    // rolled up — the remediation read on top of q69's membership verdict
    "q104_contamination_profile" -> ((s, d) => TextAnalysis.contaminationProfile(s, d)),
    // which doc pairs share exact spans (winnowed-fingerprint self-join)
    // — the asymmetric-containment case the whole-doc rungs miss
    "q105_dup_span_pairs" -> ((s, d) => TextAnalysis.dupSpanPairs(s, d)),
    // vocabulary freq-of-freq (Zipf) profile: integer bit-length buckets
    // — the tokenizer/vocab-sizing read
    "q106_vocab_zipf" -> ((s, d) => TextAnalysis.vocabZipf(s, d)),
    // per-label embedding outlier profile: cosine to the label centroid
    // — the actionable filter on top of q78's tightness diagnostic
    "q107_embedding_outliers" -> ((s, d) => Similarity.embeddingOutliers(s, d)),
    // candidate-pair Jaccard histogram off the shared pair stage — the
    // curve read before picking a dedup threshold
    "q108_jaccard_sensitivity" -> ((s, d) => Dedup.jaccardSensitivity(s, d)),
    // cumulative dedup-funnel accounting: raw -> exact -> normalized ->
    // near-dup cluster, docs+tokens per rung — the ladder's ROI curve
    "q109_dedup_funnel" -> ((s, d) => Dedup.dedupFunnel(s, d)),
    // BM25 top-k retrieval: broadcast query terms prune the corpus before
    // any shuffle; integer-scaled weights; salted two-phase top-k
    "q110_bm25_topk" -> ((s, d) => Retrieval.bm25TopK(s, d)),
    // dominant principal direction of the embedding cloud — anisotropy
    // diagnostic; both power-iteration mat-vecs are exact integer sums
    "q111_principal_direction" -> Similarity.principalDirection _,
    // asymmetric containment (quote/subset detector) off the shared
    // pair stage — pairs a Jaccard-thresholded dedup would miss
    "q112_containment_pairs" -> ((s, d) => Dedup.containmentPairs(s, d)),
    // bigram-LM NLL — order-sensitive quality score above q97's unigram
    "q113_bigram_logprob" -> TextAnalysis.bigramLogprob _,
    // stacked quality-gate accounting per source (q109's funnel, on the
    // quality axis): surface score -> unigram LM -> bigram LM
    "q114_quality_funnel" -> ((s, d) => Curation.qualityFunnel(s, d)),
    // first BPE merge round: char-pair counts over the word vocab —
    // corpus aggregates once to the vocab, pairs explode only words
    "q115_bpe_first_merges" -> ((s, d) => TextAnalysis.bpeFirstMerges(s, d)),
    // frame-level payload dup pairs: per-frame content hashes, distinct
    // per payload, hot-frame cap, self equi-join on the hash
    "q116_frame_dups" -> ((s, d) => Multimodal.frameDups(s, d)),
    // cross-source span matrix: q105's pair relation rolled up to
    // unordered source pairs — sub-document syndication detection
    "q117_source_span_matrix" -> ((s, d) => TextAnalysis.sourceSpanMatrix(s, d)),
    // capped temperature-mixture budget allocation: q98's weights +
    // epoch caps + one redistribution round
    "q118_budget_allocation" -> ((s, d) => Sampling.budgetAllocation(s, d)),
    // retrieval-based contamination triage: eval-doc prefixes as BM25
    // queries, self-hit excluded, shared 5-grams counted per hit
    "q119_contamination_retrieval" -> ((s, d) => Retrieval.contaminationRetrieval(s, d)),
    // the documented IVF scale config (64 centroids: list length and with
    // it scanned rows per query cut 4x at equal nProbe) under the same
    // hash gate as the 16-centroid plateau default — the q92 discipline
    // applied to the IVF rung
    "q120_ann_ivf_scaled" -> ((s, d) => Similarity.ivfTopK(s, d, nCentroids = 64)),
    // q168: flat-IVF lifecycle parity — base build (frozen codebook) +
    // delta append + tombstone + resurrection + compaction, served from
    // the persisted artifact (the q161/q162/q165 contract for the last
    // index family without one)
    "q168_ann_ivf_composed" -> ((s, d) => Similarity.ivfComposed(s, d)),
    // the BPE training LOOP (q115 is round 1's snapshot): per round the
    // top pair merges greedily into the vocab state — 5 gated rounds,
    // bounded driver loop with rounds telemetry
    "q122_bpe_merges" -> ((s, d) => TextAnalysis.bpeMerges(s, d)),
    // pixel-level image near-dup: REAL PNG encode (doc-varied filter/
    // level/chunking destroys byte equality) -> REAL decode -> aHash ->
    // banded bucket join — catches the re-encoded/resized duplicates the
    // exact-payload rung (q116) is blind to
    "q121_perceptual_image_dups" -> ((s, d) => Multimodal.perceptualDups(s, d)),
    // cross-format perceptual dedup: even docs encode their pixels as
    // PNG, odd docs as baseline JPEG (both byte-varied), decoded through
    // the magic-byte router — every even↔odd pair is a PNG↔JPEG
    // re-encode, the duplicate class a per-format family cannot see
    "q126_cross_format_image_dups" -> ((s, d) => Multimodal.crossFormatDups(s, d)),
    // the three-codec family: PNG / JPEG / GIF by doc_id mod 3, so the
    // planted pairs include GIF<->PNG and GIF<->JPEG re-encodes
    "q132_cross_format_trio_dups" -> ((s, d) => Multimodal.crossFormatTrioDups(s, d)),
    // the audio leg of the multimodal dedup trio: frame-energy gradient
    // fingerprint over real PCM WAV payloads — pairs the gain-scaled
    // re-encodes that exact payload hashing (q116) provably misses
    "q134_perceptual_audio_dups" -> ((s, d) => Multimodal.perceptualAudioDups(s, d)),
    // the q119 eval sweep as an API: pages id-range batches and unions
    // verdicts. The gate pins a FIXED window (ids < 600 in pages of
    // 200): exactly 3 real pages at EVERY scale factor — multi-page
    // mechanics proven against the single-relation oracle while the
    // benched work stays scale-invariant (batchWidth=200 over the FULL
    // id space measured 18 s at sf0.1 / 25 pages and would be 2 500
    // pages at 100×; a full-space sweep is priced as pages × per-page,
    // not benched per round — the q119 queryCap discipline, applied to
    // the sweep's window)
    "q123_contamination_sweep" ->
      ((s, d) => Retrieval.contaminationRetrievalSweep(s, d,
        batchWidth = 200L, maxQueryId = 600L)),
    // the retrieval SERVICE mode under the hash gate: q110's queries
    // answered from the session inverted index (+ cached dl stage)
    // instead of the per-call broadcast prune — both modes must be
    // row-identical, so the oracle is q110's relation verbatim
    "q124_bm25_indexed" -> ((s, d) => Retrieval.bm25TopK(s, d, indexed = true)),
    // BM25 served from the PERSISTED parquet index (postings bucketed by
    // term hash for scan-time pruning, built once per session+dir) — the
    // restartable-service lifecycle, pinned to the same oracle as
    // q110/q124: three serving shapes, one answer
    "q127_bm25_persisted" -> ((s, d) => Retrieval.bm25TopKPersisted(s, d)),
    // the incrementally-built index (base 70% persisted, 30% delta
    // appended per term bucket): merged answers must equal full-rebuild
    // answers under q110's own oracle
    "q133_bm25_incremental" -> ((s, d) => Retrieval.bm25TopKIncremental(s, d)),
    // apply a BPE merge table to the corpus (the train->apply loop q122
    // starts): per-word greedy fold per merge, in table order, then the
    // corpus-wide symbol histogram
    "q128_bpe_tokenize" -> ((s, d) => TextAnalysis.tokenizeWithMerges(s, d)),
    // two-level IVF at a fixed small config (8 coarse cells x 4 sub-
    // lists, probe 4x2) — the gated construction for the regime past
    // the 4096-centroid flat cap, where list length must come from
    // nCoarse x nSub without any corpus-proportional broadcast
    "q129_ann_ivf_two_level" -> ((s, d) =>
      Similarity.twoLevelIvfTopK(s, d, nCoarse = 8, nSub = 4,
        nProbe1 = 4, nProbe2 = 2, nQueries = 100)),
    // the two-level recall gate (q62's discipline one level up): recall
    // vs exact at the equal-probe budget AND a partial escalation, so
    // the knob->recall relationship is itself hash-pinned
    "q130_ann_recall_two_level" -> ((s, d) => Similarity.annRecallTwoLevel(s, d)),
    // q129 served from the persisted on-disk artifact (the q127
    // serving-shapes contract applied to ANN): same oracle, one answer
    "q131_ann_ivf_two_level_persisted" -> ((s, d) =>
      Similarity.twoLevelTopKPersisted(s, d, nCoarse = 8, nSub = 4,
        nProbe1 = 4, nProbe2 = 2, nQueries = 100)),
    // the incremental ANN lifecycle (q133's shape for the vector
    // index): base split trains + persists the index, the delta batch
    // merges under FROZEN codebooks, the merged artifact serves —
    // merged ≡ monolithic, pinned by an oracle that trains on the base
    // split while assigning the full corpus
    "q136_ann_ivf_two_level_incremental" -> ((s, d) =>
      Similarity.twoLevelIncremental(s, d, nCoarse = 8, nSub = 4,
        nProbe1 = 4, nProbe2 = 2, nQueries = 100, k = 3)),
    // product quantization: the code assignment itself (training +
    // encoding pinned cell for cell) ...
    "q137_pq_codes" -> ((s, d) => Similarity.pqCodes(s, d)),
    // ... and the full IVFADC + exact-re-rank serving pipeline: the
    // candidate scan touches only the compressed (m codes/vector)
    // inverted file; exact vectors are fetched for the bounded
    // shortlist alone
    "q138_ann_ivfpq_rerank" -> ((s, d) => Similarity.pqAdcTopK(s, d)),
    // q138 served from the persisted COMPRESSED artifact (codes scan +
    // cold exact-vector refine store): same oracle, one answer.
    // Load-once serving: the artifact relations are session-cached on
    // first use, so repeated batches pay the probe, not the full reload
    "q139_ann_ivfpq_persisted" -> ((s, d) => Similarity.pqTopKPersisted(s, d)),
    // the IVFADC recall gate (q130's discipline for the compressed
    // path): recall vs exact brute force at two probe budgets, each row
    // carrying its within_bound quality verdict — the production m/k
    // point's quality claim as gated evidence, not a probe table
    "q140_ann_ivfpq_recall" -> ((s, d) => Similarity.annRecallPq(s, d)),
    // the incremental PQ lifecycle (q136's frozen-codebook delta
    // contract through the compressed layers): base trains all three
    // codebook levels, delta encodes under them, merged artifact serves
    "q141_ann_ivfpq_incremental" -> ((s, d) => Similarity.pqIncremental(s, d)),
    // the delete half of the index lifecycle: base + delta + tombstoned
    // 10% served from the merged artifact must equal a rebuild on the
    // surviving corpus under q110's oracle
    "q142_bm25_tombstones" -> ((s, d) => Retrieval.bm25TopKWithTombstones(s, d)),
    // q143: deletes through the ANN artifact — tombstoned vectors drop
    // from the served inverted file (neither query nor surface) while
    // the codebooks stay frozen; serve ≡ rebuild-on-survivors
    "q143_ann_two_level_tombstones" -> ((s, d) => Similarity.twoLevelTombstoned(s, d)),
    // q144: q142's lifecycle COMPACTED — touched term buckets rewritten,
    // tombstones expunged, no anti-join left in the serving plan; the
    // fifth BM25 serving shape under the same oracle
    "q144_bm25_compacted" -> ((s, d) => Retrieval.bm25TopKCompacted(s, d)),
    // q145: deletes through the COMPRESSED artifact — the anti-join
    // covers both the codes scan and the refine store
    "q145_ann_ivfpq_tombstones" -> ((s, d) => Similarity.pqTombstoned(s, d)),
    // q146: q143 COMPACTED — only the cent_id cells holding dead
    // vectors are rewritten, tombstones expunged, no anti-join left
    "q146_ann_two_level_compacted" -> ((s, d) => Similarity.twoLevelCompacted(s, d)),
    // q147: q145 COMPACTED — codes compact per touched cell, the cold
    // refine store rewrites wholesale, the warm cache invalidates
    "q147_ann_ivfpq_compacted" -> ((s, d) => Similarity.pqCompacted(s, d)),
    // the gradient family of the perceptual rung: dHash (adjacent-block
    // order) survives the monotonic tone edits (gamma/contrast) that
    // flip aHash's block-vs-mean bits — the MinHash/SimHash two-family
    // pattern applied to images
    "q125_perceptual_gradient_dups" -> ((s, d) => Multimodal.perceptualDupsGradient(s, d)),
    "q64_char_entropy" -> TextAnalysis.charEntropy _,
    "q65_tfidf_top" -> ((s, d) => TextAnalysis.tfidfTop(s, d)),
    "q66_stratified_sample" -> ((s, d) => Sampling.stratifiedSample(s, d)),
    "q67_canonical_keepers" -> Dedup.canonical _,
    // q148: distinct users over arbitrary date ranges served from the
    // persisted per-(day, event_type) HLL rollup — the pre-aggregation
    // artifact that answers range-distinct at 100 TB without touching
    // raw events; verdict-gated against the exact answers (q50's
    // sketch discipline meets q127's artifact discipline)
    "q148_sketch_distinct_rollup" -> ((s, d) => Sketches.sketchDistinctRollup(s, d)),
    // q149: the rollup built INCREMENTALLY (base days + day-granular
    // delta append with replay guard) under q148's oracle — HLL union
    // is lossless, so merged ≡ monolithic exactly
    "q149_sketch_rollup_incremental" -> ((s, d) => Sketches.sketchRollupIncremental(s, d)),
    // q150: corpus heavy hitters via distributed Misra-Gries (k
    // bounded counters per partition, partials merged by sum) — the
    // capture guarantee (every token with cnt·κ > n surfaces, with
    // undercount ≤ n/(k+1)) holds for any partition layout and is
    // pinned inside the hash gate as a captured_bounded flag
    "q150_heavy_hitters_mg" -> ((s, d) => Sketches.heavyHittersMg(s, d)),
    // q151: weekly retention overlap (users active in week A AND week
    // B per event_type) served from q148's SAME rollup artifact via a
    // custom theta-sketch TypedImperativeAggregate — set intersection
    // is the algebra HLL structurally cannot express; the verdict gate
    // pins all three estimates (A, B, A∩B) against the raw table
    "q151_theta_retention" -> ((s, d) => Sketches.thetaRetention(s, d)),
    // q152: range quantiles from the same rollup artifact via a custom
    // mergeable KLL aggregate — per-day sketches, union-merged at
    // serve; the verdict checks each estimate's EXACT rank against the
    // distribution-free KLL guarantee and hashes exact percentiles only
    "q152_kll_range_quantiles" -> ((s, d) => Sketches.kllRangeQuantiles(s, d)),
    // q153: the correction half of the rollup lifecycle — three days
    // retracted (partition drops, cost oc retracted days) and re-rolled
    // from the raw table through the guarded append; retract+re-append
    // == monolithic under q148's oracle
    "q153_sketch_rollup_corrected" -> ((s, d) => Sketches.sketchRollupCorrected(s, d)),
    // q154: rolling actives (DAU + trailing-7-day WAU) — the sliding-
    // window shape over the rollup's day sketches; the anchor-window
    // join is rollup-sized, raw events appear only on the verdict side
    "q154_rolling_actives" -> ((s, d) => Sketches.rollingActives(s, d)),
    // q155: weekly churn (in week A, gone from week B) via theta A\B
    // off the same artifact — the difference op completing q151's set
    // algebra; exact anti-join on the verdict side only
    "q155_theta_churn" -> ((s, d) => Sketches.thetaChurn(s, d)),
    // q157: range heavy hitters from the SAME daily rollup artifact —
    // per-day mergeable LongsSketches (q150's MG guarantee, persisted),
    // merged per date range at serve; verdict hashes exact counts of
    // the mean-relative heavy set + the sketch's bound theorem as a
    // captured_bounded flag (estimates are layout-dependent, the bound
    // is not)
    "q157_range_heavy_hitters" -> ((s, d) => Sketches.rangeHeavyHitters(s, d)),
    // q156: q121's perceptual near-dup pairs served from the PERSISTED
    // decode-once hash artifact — no codec anywhere in the serve plan
    // (the corpus was decoded exactly once, at ingest); same oracle as
    // q121: live decode-per-invocation and artifact serving pin one
    // answer
    "q156_image_index_dups" -> ((s, d) => ImageIndex.imageDupsPersisted(s, d)),
    // q158: q125's GRADIENT pairs from the SAME artifact q156 serves —
    // one decode pass feeds BOTH hash families (the live path decodes
    // the corpus once per family per invocation)
    "q158_image_index_gradient" -> ((s, d) => ImageIndex.imageGradientDupsPersisted(s, d)),
    // q159: the image index's FULL lifecycle composed in one relation —
    // base build + delta append + tombstoned deletes + RE-APPEND of
    // half the deleted docs (resurrection — the deleted-then-re-appended
    // interaction pairwise gates can't see) + compaction, served under
    // q121's oracle restricted to the surviving corpus
    "q159_image_index_lifecycle" -> ((s, d) => ImageIndex.imageDupsLifecycle(s, d)),
    // q160/q161/q162: the SAME composed lifecycle (base + delta +
    // deletes + resurrection + compaction ≡ fresh rebuild of the
    // survivors) through the other three index families — BM25
    // postings, two-level IVF, and IVFPQ (codebooks frozen on the base
    // split in the ANN pair, exactly the q136/q141 incremental
    // contract under composition)
    "q160_bm25_composed" -> ((s, d) => Retrieval.bm25TopKComposed(s, d)),
    "q161_ann_two_level_composed" -> ((s, d) => Similarity.twoLevelComposed(s, d)),
    "q162_ann_ivfpq_composed" -> ((s, d) => Similarity.pqComposed(s, d)),
    // q163: hybrid lexical+dense retrieval fused by Reciprocal Rank
    // Fusion — the RAG serving shape (BM25 catches exact terms, the
    // embedding pool catches paraphrases; ranks fuse, scores don't).
    // RRF contributions are exact-integer floor divisions (1e12 DIV
    // (60+rank)) so the fused score is a LONG in both engines; both
    // pool ranks are already engine-exact under the q110/q37 recipes
    "q163_hybrid_retrieval_rrf" -> ((s, d) => Hybrid.rrfTopK(s, d)),
    // q164: q38's multi-probe LSH top-k served from the PERSISTED
    // artifact (vectors + bucket-partitioned probe store + frozen
    // geometry meta) — the last ANN family without an artifact now has
    // one; session-stage and restart-from-artifact shapes pin one
    // answer under q38's own oracle
    "q164_ann_lsh_persisted" -> ((s, d) => LshIndex.lshTopKPersisted(s, d)),
    // q165: the composed lifecycle (base + delta + deletes +
    // resurrection + compaction) through the LSH family. No trained
    // state — bucket keys are pure functions of the vector — so the
    // composition ≡ a fresh rebuild of the survivors EXACTLY (no
    // frozen-codebook caveat), gated under q38's oracle over survivors
    "q165_ann_lsh_composed" -> ((s, d) => LshIndex.lshTopKComposed(s, d)),
    // q171: the geometry-drift maintenance rebuild under q38's oracle —
    // an artifact frozen off the adaptive plateau (bits+4) is measured
    // and rebuilt by maintainGeometry; the serve answers exactly the
    // adaptive build's relation (rebuild ≡ fresh build, no trained
    // state), so the maintenance path sits inside the hash gate
    "q171_ann_lsh_regeom" -> ((s, d) => LshIndex.lshTopKRegeometried(s, d)),
    // q173: the TRAINED family's drift maintenance under q138's oracle
    // — the q171 contract for codebooks: an artifact whose books were
    // trained on the day-1 bootstrap batch (64 vectors) then grown to
    // the full corpus under them is measured (growth + explained-energy
    // probes) and RETRAINED-AND-RE-ENCODED by maintainPqCodebooks; the
    // deterministic rebuild ≡ the fresh full-corpus build, so the serve
    // is hash-pinned, and a second maintenance call must hold still
    "q173_ann_ivfpq_retrained" -> ((s, d) => Similarity.pqTopKRetrained(s, d)),
    // q172: the artifact-backed curation rule — the held side's
    // fingerprints probe a persisted FingerprintIndex store
    // (bucket-pruned, the steady-state nightly shape that never
    // re-scans held text) and must keep EXACTLY the docs the direct
    // batch rule (quality gate -> vs-corpus fp kill -> min keeper) keeps
    "q172_curated_batch_from_index" -> ((s, d) => Pipeline.curatedBatchFromIndex(s, d)),
    // q174: the fingerprint membership store's COMPOSED lifecycle (base
    // + delta + tombstones + resurrection + compaction) probed by the
    // q172 curation rule — no trained state, so the lifecycle ≡ a fresh
    // build of the surviving held set, and the oracle is q172's with
    // the held side restricted to the survivors
    "q174_curated_batch_lifecycle" -> ((s, d) => Pipeline.curatedBatchLifecycle(s, d)),
    // q175: the INCREMENTALLY-maintained training export's manifest —
    // the artifact seeds with yesterday's keeper corpus, today's
    // arriving slice admits through the touched-shard rewrite, and the
    // shipped accounting must equal an independent engine's FULL export
    // of the whole keeper corpus (q72 keeper chain + q101 permutation
    // + manifest aggregation): the incremental path is oracle-gated,
    // not just spec-pinned byte-wise against our own full rewrite
    "q175_export_manifest_incremental" -> ((s, d) => Export.manifestIncremental(s, d)),
    // q166: q163's fused relation served entirely from the persisted
    // BM25 + LSH artifacts — the RAG restart shape (a redeployed
    // service holds only its indexes): lexical pool from the
    // term-bucket-pruned postings artifact with the corpus
    // structurally unreachable, dense pool rescored exactly over the
    // LSH artifact's vectors store, same oracle as q163
    "q166_hybrid_from_indexes" -> ((s, d) => Hybrid.rrfTopKFromIndexes(s, d)),
    // q167: the DEPLOYED hybrid shape — LSH-multi-probe dense pool (from
    // the persisted artifact, pruned serve) + exact lexical pool + RRF —
    // gated by fused recall@10 vs the exact-pool q163 relation with a
    // verdict flag (the q62/q130/q140 recall-gate discipline)
    "q167_hybrid_ann_pool_recall" -> ((s, d) => Hybrid.rrfAnnPoolRecall(s, d)),
    // q169: the FULLY DEPLOYED hybrid — both pools from persisted
    // artifacts (pruned BM25 postings + pruned LSH multi-probe) + RRF,
    // under q167's fused-recall gate: the q166 restart shape combined
    // with the q167 ANN pool, end to end
    "q169_hybrid_deployed_recall" -> ((s, d) => Hybrid.rrfDeployedRecall(s, d)),
    // q170: the SECOND ANN family under the fused-recall gate — dense
    // pool from the persisted IVFADC+rerank artifact (the memory-bound
    // family at 10^9 vectors) with fuse() and the verdict shape shared
    // verbatim with q167/q169: RRF pool-agnosticism pinned structurally,
    // not on the one family q167 happened to gate
    "q170_hybrid_pq_pool_recall" -> ((s, d) => Hybrid.rrfPqPoolRecall(s, d)),
  )

  /** Shared DuckDB CTE prefix: tokenization + distinct word-3-gram
    * shingles (mirrors Dedup.shingles). */
  private val ShinglesCte =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
      |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
      |    ELSE [array_to_string(t, ' ')] END)) AS sh FROM tok)""".stripMargin

  /** MinHash + LSH banding CTEs on top of [[ShinglesCte]], parameterized
    * exactly like Dedup.minhashLshAt: per shingle, ceil(k/4) seeded md5s
    * concatenated and sliced into k 32-bit (8-hex) hashes; signature row
    * per doc; band keys = md5 over each band's r adjacent slices joined
    * by '|'. */
  private def minhashCtes(k: Int, r: Int): String = {
    val digests = Seq("a", "b", "c", "d").take((k + 3) / 4)
      .map(s => s"md5('$s|' || sh)").mkString(" || ")
    val b = k / r
    val bandKey = (i: Int) =>
      s"md5(${(0 until r).map(j => s"m${r * i + j}").mkString(" || '|' || ")})"
    ShinglesCte + s""",
      |sigs AS (SELECT doc_id,
      |    ${(0 until k).map(i => s"min(substring($digests, ${i * 8 + 1}, 8)) AS m$i").mkString(",\n      |    ")}
      |  FROM sh GROUP BY doc_id),
      |bands AS (SELECT doc_id, bnd AS band,
      |    CASE bnd ${(0 until b).map(i => s"WHEN $i THEN ${bandKey(i)}").mkString(" ")} END AS band_key
      |  FROM sigs CROSS JOIN (SELECT unnest(range($b)) AS bnd)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM bands a JOIN bands b USING (band, band_key)
      |         WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  /** The default dedup-ladder config (k=8, b=4, r=2) — shared by every
    * pair-stage consumer (q32/q33/q43/q59/q67/...). */
  private val MinhashCte = minhashCtes(k = 8, r = 2)

  /** Unit-vector CTEs for the embeddings table (mirrors
    * Similarity.unitVec: double precision, index-order sums). */
  private val UnitVecCte =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |u AS (SELECT vec_id,
      |        [x / sqrt(list_sum([y * y for y in v])) for x in v] AS u
      |      FROM e)""".stripMargin

  /** Index-order cosine between two unit-vector columns (DuckDB). */
  private def cosSql(a: String, b: String): String =
    s"list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)])"

  /** Winnowed-fingerprint CTE chain (mirrors [[graft.core.Winnow]]'s
    * arithmetic term-by-term: k=20 code-point k-grams, Karp-Rabin sum
    * mod 2^61-1 in HUGEINT with the kernel-generated power table — the
    * probeMasks discipline — then min per sliding window of w=8, distinct
    * per doc). Ends in `sel(doc_id, source, fp)`; shared by q103/q105. */
  private val WinnowCtes =
    s"""WITH d AS (SELECT doc_id, source, text FROM documents WHERE length(text) >= 27),
       |c AS (SELECT doc_id, source,
       |        [unicode(text[i]) for i in range(1, length(text) + 1)] AS cps
       |      FROM d),
       |h AS (SELECT doc_id, source,
       |        [CAST(list_sum([cps[p + j]::HUGEINT * pw[j + 1] for j in range(0, 20)])
       |              % 2305843009213693951 AS BIGINT)
       |         for p in range(1, len(cps) - 18)] AS hs
       |      FROM c, (SELECT [${graft.core.Winnow.powerTable(20).mkString(", ")}]::HUGEINT[] AS pw)),
       |s AS (SELECT doc_id, source,
       |        list_distinct([list_min(hs[p:p+7]) for p in range(1, len(hs) - 6)]) AS sel
       |      FROM h),
       |sel AS (SELECT doc_id, source, unnest(sel) AS fp FROM s)""".stripMargin

  /** Multi-table sign-LSH chain with multi-probe (mirrors
    * Similarity.lshTopK): `nTables` tables, table t keyed by the sign
    * bits of dims [t*bits+1, t*bits+bits] folded into ONE INTEGER (first
    * dim = most significant bit); each query probes `xor(bucket, mask)`
    * for every mask in the hamming-0/1/2 ladder. The literal mask list
    * comes from the SAME Scala function the Spark side explodes
    * ([[graft.ops.Similarity.probeMasks]]), so the probed bucket set is
    * identical by construction. Candidates dedup before exact scoring.
    * Emits `prefix`scored/`prefix`ranked on top of [[UnitVecCte]]. */
  /** The shared sg/tb bucket CTEs: per-vector integer sign keys per
    * table, exploded to (vec_id, tbl, bucket) rows — consumed by the
    * top-k ladder ([[lshCtes]]) and the near-dup pair query (q95).
    * Each key bit is the dot-sign against a seeded random hyperplane:
    * the integer weights come from the SAME generator the Spark side
    * embeds ([[graft.ops.Similarity.hyperplaneWeight]]), written as an
    * explicit left-associated term chain so the summation order matches
    * the codegen'd DotProduct loop term for term (integer weights are
    * exactly representable — no decimal-formatting ulp risk). */
  private def lshBucketCtes(bits: Int, nTables: Int): String = {
    val buckets = (0 until nTables).map { t =>
      (1 to bits).map { b =>
        val dot = (1 to 64)
          .map(i => s"u[$i] * (${graft.ops.Similarity.hyperplaneWeight(t, b, i)})")
          .mkString(" + ")
        s"(CASE WHEN $dot >= 0 THEN ${1 << (bits - b)} ELSE 0 END)"
      }.mkString(" + ")
    }.mkString("[", ",\n       ", "]")
    s""", sg AS (SELECT vec_id, $buckets AS buckets FROM u),
       |tb AS (
       |  SELECT vec_id, tbl, buckets[tbl + 1] AS bucket
       |  FROM sg, (SELECT unnest(range($nTables)) AS tbl))""".stripMargin
  }

  private def lshCtes(bits: Int, nTables: Int, nQueries: Int, prefix: String = "",
      servedPred: String = "TRUE"): String = {
    val masks = graft.ops.Similarity.probeMasks(bits, maxFlips = 2).mkString(", ")
    lshBucketCtes(bits, nTables) + s""",
       |stb AS (SELECT * FROM tb WHERE $servedPred),
       |probe AS (
       |  SELECT vec_id AS q_id, tbl, xor(bucket, mask) AS bucket
       |  FROM stb, (SELECT unnest([$masks]) AS mask)
       |  WHERE vec_id < $nQueries),
       |lcand AS (
       |  SELECT DISTINCT q_id, t.vec_id AS neighbor_id
       |  FROM probe p JOIN stb t USING (tbl, bucket)
       |  WHERE t.vec_id <> p.q_id),
       |${prefix}scored AS (
       |  SELECT c.q_id, c.neighbor_id, ${cosSql("q.u", "n.u")} AS cos
       |  FROM lcand c
       |  JOIN u q ON q.vec_id = c.q_id
       |  JOIN u n ON n.vec_id = c.neighbor_id),
       |${prefix}ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM ${prefix}scored)""".stripMargin
  }

  /** IVF chain (mirrors Similarity.ivfCentroids/ivfTopK): seed centroids
    * = first 16 vectors, one deterministic Lloyd round with means summed
    * as 1e6-scaled LONGS (integer addition is associative, so the mean is
    * bit-identical across engines and partitionings), nearest-centroid
    * assignment, `nProbe` probes, exact cosine within probed lists.
    * Emits `prefix`scored/`prefix`ranked. */
  private def ivfCtes(nQueries: Int, nProbe: Int = 8, prefix: String = "",
      nCentroids: Int = 16, trainPred: String = "TRUE",
      servedPred: String = "TRUE"): String =
    ivfAssignCtes(nCentroids, trainPred) + s""",
       |sflat AS (SELECT * FROM assigned WHERE $servedPred),
       |probes AS (
       |  SELECT vec_id AS q_id, u AS qu, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY round(cdot, 6) DESC, cent_id) AS crn
       |    FROM adist WHERE vec_id < $nQueries AND $servedPred)
       |  WHERE crn <= $nProbe),
       |${prefix}scored AS (
       |  SELECT q_id, a.vec_id AS neighbor_id, ${cosSql("qu", "a.u")} AS cos
       |  FROM probes p JOIN sflat a USING (cent_id)
       |  WHERE a.vec_id <> p.q_id),
       |${prefix}ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM ${prefix}scored)""".stripMargin

  /** The flat-IVF build (seed → one Lloyd round → refined assignment)
    * as oracle CTEs, shared by the flat probe tail ([[ivfCtes]]) and
    * the two-level extension ([[twoLevelIvfCtes]]). Ends with
    * `assigned` (the inverted file) and `adist` (per-vector centroid
    * dots, reused by the flat probe ladder). */
  private def ivfAssignCtes(nCentroids: Int, trainPred: String = "TRUE"): String =
    s""", cents0 AS (SELECT vec_id AS cent_id, u AS cu FROM u
       |             WHERE vec_id < $nCentroids AND $trainPred),
       |a0 AS (
       |  SELECT u.vec_id, u.u, cent_id, ${cosSql("u.u", "cu")} AS cdot
       |  FROM (SELECT * FROM u WHERE $trainPred) u CROSS JOIN cents0),
       |assigned0 AS (
       |  SELECT vec_id, u, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY round(cdot, 6) DESC, cent_id) AS crn
       |    FROM a0)
       |  WHERE crn = 1),
       |mm AS (
       |  SELECT cent_id, idx,
       |    sum(CAST(round(u[idx] * 1000000) AS BIGINT)) / (count(*) * 1000000.0) AS mval
       |  FROM assigned0, (SELECT unnest(range(1, 65)) AS idx)
       |  GROUP BY cent_id, idx),
       |cvv AS (SELECT cent_id, list(mval ORDER BY idx) AS v FROM mm GROUP BY cent_id),
       |cents AS (SELECT cent_id,
       |    [x / sqrt(list_sum([y * y for y in v])) for x in v] AS cu FROM cvv),
       |adist AS (
       |  SELECT u.vec_id, u.u, cent_id, ${cosSql("u.u", "cu")} AS cdot
       |  FROM u CROSS JOIN cents),
       |assigned AS (
       |  SELECT vec_id, u, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY round(cdot, 6) DESC, cent_id) AS crn
       |    FROM adist)
       |  WHERE crn = 1)""".stripMargin

  /** q129's oracle: the two-level IVF construction mirrored CTE for
    * CTE against [[graft.ops.Similarity.twoLevelIvfStage]] /
    * `twoLevelProbe` — coarse build from [[ivfAssignCtes]], per-cell
    * sub-seeds (row_number by vec_id within cell), one sub-Lloyd round
    * (within-cell assign → 1e6-scaled integer means → renormalize),
    * final within-cell assignment to the refined sub-centroids, then
    * the coarse-FIRST two-stage probe: nProbe1 cells by COARSE-centroid
    * dot (the refined `cents` relation — per-query cost nCoarse, not
    * nCoarse x nSub), then nProbe2 sub-lists per probed cell by sub-dot.
    * Every rank uses the flat path's (round(dot, 6) DESC, id ASC) total
    * tiebreak. */
  private def twoLevelIvfCtes(nCoarse: Int, nSub: Int,
      nProbe1: Int, nProbe2: Int, nQueries: Int): String =
    twoLevelIndexCtes(nCoarse, nSub) +
      twoLevelProbeCtes(nProbe1, nProbe2, nQueries, prefix = "")

  /** The two-level INDEX construction CTEs (through `cents`, `subcents`,
    * `assigned2`) — shared by every probe chain over the same codebook,
    * so q130's two probe configs pay one index build. */
  private def twoLevelIndexCtes(nCoarse: Int, nSub: Int,
      trainPred: String = "TRUE"): String =
    ivfAssignCtes(nCoarse, trainPred) + s""",
       |seeds AS (
       |  SELECT cent_id, CAST(rn - 1 AS BIGINT) AS sub_id, u AS su FROM (
       |    SELECT cent_id, vec_id, u,
       |      row_number() OVER (PARTITION BY cent_id ORDER BY vec_id) AS rn
       |    FROM assigned WHERE $trainPred)
       |  WHERE rn <= $nSub),
       |sd AS (
       |  SELECT a.vec_id, a.cent_id, a.u, s.sub_id, ${cosSql("a.u", "s.su")} AS sdot
       |  FROM (SELECT * FROM assigned WHERE $trainPred) a
       |  JOIN seeds s USING (cent_id)),
       |sl0 AS (
       |  SELECT vec_id, cent_id, u, sub_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY round(sdot, 6) DESC, sub_id) AS srn
       |    FROM sd)
       |  WHERE srn = 1),
       |smm AS (
       |  SELECT cent_id, sub_id, idx,
       |    sum(CAST(round(u[idx] * 1000000) AS BIGINT)) / (count(*) * 1000000.0) AS mval
       |  FROM sl0, (SELECT unnest(range(1, 65)) AS idx)
       |  GROUP BY cent_id, sub_id, idx),
       |scvv AS (SELECT cent_id, sub_id, list(mval ORDER BY idx) AS v
       |         FROM smm GROUP BY cent_id, sub_id),
       |subcents AS (SELECT cent_id, sub_id,
       |    [x / sqrt(list_sum([y * y for y in v])) for x in v] AS scu FROM scvv),
       |fd AS (
       |  SELECT a.vec_id, a.cent_id, a.u, s.sub_id, ${cosSql("a.u", "s.scu")} AS sdot
       |  FROM assigned a JOIN subcents s USING (cent_id)),
       |assigned2 AS (
       |  SELECT vec_id, cent_id, sub_id, u FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY round(sdot, 6) DESC, sub_id) AS srn
       |    FROM fd)
       |  WHERE srn = 1)""".stripMargin

  /** PQ training + encoding CTEs, mirrored against
    * [[graft.ops.Similarity.trainPqBookOf]] / [[graft.functions.PqOps]]
    * cell for cell: seeds = sub-slices of the training rows with
    * `vec_id < k`, codes = DENSE ranks over ascending seed vec_ids
    * (≡ vec_id on a full corpus; on a training split the rank skips the
    * held-out ids exactly as the Scala builder does), argmin-L2
    * assignment with the (round(d2, 6) ASC, code ASC) total tiebreak
    * and the kernel's EXPLICIT diff·diff (never pow — pow is not
    * guaranteed to be a plain multiply), 1e6-scaled integer means,
    * empty cells keeping their seed via LEFT JOIN + coalesce.
    * `trainPred` restricts BOTH seeding and the Lloyd means to the
    * training split (the q141 incremental contract) while `pcodes`
    * still encodes every row. Ends with `prcb`(j, code, cv) and
    * `pcodes`(vec_id, j, code); comprehension ranges are row-dependent
    * (`len(...)`) per the DuckDB lateral-bind quirk. */
  private def pqCtes(m: Int, k: Int, trainPred: String = "TRUE"): String = {
    val dsub = 64 / m
    def d2Sql(vec: String, j: String, cb: String): String =
      s"list_sum([(($vec[($j * $dsub) + i] - $cb[i]) * ($vec[($j * $dsub) + i] - $cb[i])) " +
        s"for i in range(1, len($cb) + 1)])"
    s""",
       |resid0 AS (
       |  SELECT a.vec_id, a.cent_id, a.sub_id, a.u, s.scu,
       |    ${cosSql("a.u", "s.scu")} AS proj
       |  FROM assigned2 a JOIN subcents s USING (cent_id, sub_id)),
       |resid AS (
       |  SELECT vec_id, cent_id, sub_id, proj,
       |    [u[i] - proj * scu[i] for i in range(1, len(u) + 1)] AS r
       |  FROM resid0),
       |ptrain AS (SELECT * FROM resid WHERE $trainPred),
       |jr AS (SELECT unnest(range(0, $m)) AS j),
       |pseed0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, r
       |  FROM ptrain WHERE vec_id < $k),
       |pseeds AS (
       |  SELECT jr.j, code,
       |    [r[(jr.j * $dsub) + i] for i in range(1, (len(r) // $m) + 1)] AS sv
       |  FROM pseed0 CROSS JOIN jr),
       |pd0 AS (
       |  SELECT v.vec_id, s.j, s.code, ${d2Sql("v.r", "s.j", "s.sv")} AS d2
       |  FROM ptrain v CROSS JOIN pseeds s),
       |pcodes0 AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY round(d2, 6) ASC, code ASC) AS rn FROM pd0)
       |  WHERE rn = 1),
       |pmm AS (
       |  SELECT c.j, c.code, dr.d,
       |    sum(CAST(round(v.r[(c.j * $dsub) + dr.d] * 1000000) AS BIGINT)) /
       |      (count(*) * 1000000.0) AS mv
       |  FROM pcodes0 c JOIN resid v ON v.vec_id = c.vec_id
       |  CROSS JOIN (SELECT unnest(range(1, $dsub + 1)) AS d) dr
       |  GROUP BY c.j, c.code, dr.d),
       |pml AS (SELECT j, code, list(mv ORDER BY d) AS cv FROM pmm GROUP BY j, code),
       |prcb AS (
       |  SELECT p.j, p.code, coalesce(m.cv, p.sv) AS cv
       |  FROM pseeds p LEFT JOIN pml m ON m.j = p.j AND m.code = p.code),
       |pfd AS (
       |  SELECT v.vec_id, r.j, r.code, ${d2Sql("v.r", "r.j", "r.cv")} AS d2
       |  FROM resid v CROSS JOIN prcb r),
       |pcodes AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY round(d2, 6) ASC, code ASC) AS rn FROM pfd)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The IVFADC + exact-re-rank chain over [[pqCtes]]'s relations,
    * `prefix`ed so multiple probe budgets can share one index + PQ
    * build (q140, as [[twoLevelProbeCtes]] is to q130): coarse-first
    * probe cells, candidates scored by per-subspace integer-micro ADC
    * partials (order-free cross-engine sum) plus the exact
    * proj·⟨q, scu⟩ term, ADC top-`rerank` shortlist, exact-cosine
    * re-rank. Emits `${prefix}xranked`. */
  private def pqAdcCtes(nProbe1: Int, nProbe2: Int, nQueries: Int,
      rerank: Int, prefix: String, servedRel: String = "assigned2"): String =
    twoLevelProbeCtes(nProbe1, nProbe2, nQueries, prefix = s"${prefix}q",
      servedRel = servedRel) + s""",
        |${prefix}adcj AS (
        |  SELECT p.q_id, a.vec_id AS neighbor_id, c.j,
        |    CAST(round(list_sum([p.qu[(c.j * 8) + i] * r.cv[i]
        |      for i in range(1, len(r.cv) + 1)]) * 1000000) AS BIGINT) AS pmic
        |  FROM ${prefix}qprobes2 p JOIN $servedRel a USING (cent_id, sub_id)
        |  JOIN pcodes c ON c.vec_id = a.vec_id
        |  JOIN prcb r ON r.j = c.j AND r.code = c.code
        |  WHERE a.vec_id <> p.q_id),
        |${prefix}adc AS (SELECT q_id, neighbor_id, sum(pmic) / 1000000.0 AS radc
        |         FROM ${prefix}adcj GROUP BY q_id, neighbor_id),
        |${prefix}base AS (
        |  SELECT p.q_id, a.vec_id AS neighbor_id, ${cosSql("p.qu", "s.scu")} AS bdot
        |  FROM ${prefix}qprobes2 p JOIN $servedRel a USING (cent_id, sub_id)
        |  JOIN subcents s ON s.cent_id = p.cent_id AND s.sub_id = p.sub_id
        |  WHERE a.vec_id <> p.q_id),
        |${prefix}short AS (
        |  SELECT q_id, neighbor_id FROM (
        |    SELECT b.q_id, b.neighbor_id,
        |      row_number() OVER (PARTITION BY b.q_id
        |        ORDER BY round(v.proj * b.bdot + d.radc, 6) DESC,
        |          b.neighbor_id) AS arn
        |    FROM ${prefix}base b JOIN ${prefix}adc d USING (q_id, neighbor_id)
        |    JOIN resid v ON v.vec_id = b.neighbor_id)
        |  WHERE arn <= $rerank),
        |${prefix}ex AS (
        |  SELECT s.q_id, s.neighbor_id, ${cosSql("x.u", "y.u")} AS cos
        |  FROM ${prefix}short s
        |  JOIN u x ON x.vec_id = s.q_id
        |  JOIN u y ON y.vec_id = s.neighbor_id),
        |${prefix}xranked AS (
        |  SELECT q_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM ${prefix}ex)""".stripMargin

  /** q138's oracle: IVFADC + exact re-rank over the shared two-level
    * index + PQ CTEs. Shared verbatim by q139 (persisted artifact —
    * identical answers by design); q141 reuses the chain with the
    * codebooks trained on the base split. */
  private lazy val Q138Sql: String = UnitVecCte +
      twoLevelIndexCtes(nCoarse = 8, nSub = 4) + pqCtes(m = 8, k = 64) +
      pqAdcCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, rerank = 16, prefix = "p") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM pxranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin

  /** The coarse-first two-stage probe CTEs over [[twoLevelIndexCtes]]'s
    * relations, `prefix`ed so multiple probe budgets can share one index
    * build (q130). `servedRel` substitutes the inverted file actually
    * SERVED (q143/q145 filter the tombstoned vectors out while the
    * codebooks stay full-corpus-frozen). Emits `${prefix}ranked`. */
  private def twoLevelProbeCtes(nProbe1: Int, nProbe2: Int, nQueries: Int,
      prefix: String, servedRel: String = "assigned2"): String =
    s""",
       |${prefix}qc AS (
       |  SELECT q.vec_id AS q_id, q.u AS qu, c.cent_id, ${cosSql("q.u", "c.cu")} AS cdot
       |  FROM $servedRel q CROSS JOIN cents c WHERE q.vec_id < $nQueries),
       |${prefix}cells AS (
       |  SELECT q_id, qu, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY round(cdot, 6) DESC, cent_id) AS crn
       |    FROM ${prefix}qc)
       |  WHERE crn <= $nProbe1),
       |${prefix}qd AS (
       |  SELECT c.q_id, c.qu, c.cent_id, s.sub_id,
       |    ${cosSql("c.qu", "s.scu")} AS sdot
       |  FROM ${prefix}cells c JOIN subcents s ON c.cent_id = s.cent_id),
       |${prefix}probes2 AS (
       |  SELECT q_id, qu, cent_id, sub_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id, cent_id
       |      ORDER BY round(sdot, 6) DESC, sub_id) AS srn
       |    FROM ${prefix}qd)
       |  WHERE srn <= $nProbe2),
       |${prefix}scored AS (
       |  SELECT q_id, a.vec_id AS neighbor_id, ${cosSql("qu", "a.u")} AS cos
       |  FROM ${prefix}probes2 p JOIN $servedRel a USING (cent_id, sub_id)
       |  WHERE a.vec_id <> p.q_id),
       |${prefix}ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM ${prefix}scored)""".stripMargin

  /** Multi-round BPE CTE chain (mirrors TextAnalysis.bpeMerges round for
    * round): s0 = per-word char-symbol state over the frequency-weighted
    * vocab; each round k counts adjacent symbol pairs, takes the LIMIT-1
    * top pair under the total (n DESC, a, b) tiebreak, and applies the
    * SAME greedy left-fold merge the Spark side runs (`list_reduce` with
    * a prepended empty accumulator ≡ the `aggregate` HOF: extend the
    * tail in place when it equals `a` and the next symbol is `b`, else
    * append — non-overlapping by construction because the merged tail no
    * longer equals `a`). chr(31) is the same U+001F separator. */
  private def bpeCtes(rounds: Int): String = {
    val head =
      """WITH w0 AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS wc FROM w0 GROUP BY w),
        |s0 AS (SELECT wc, array_to_string([w[i] for i in range(1, length(w) + 1)], chr(31)) AS s
        |       FROM wc)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s""",
         |y$k AS (SELECT wc, string_split(s, chr(31)) AS y FROM s${k - 1}),
         |p$k AS (SELECT u.a AS a, u.b AS b, CAST(sum(wc) AS BIGINT) AS n
         |  FROM y$k, unnest([{'a': y[i], 'b': y[i + 1]} for i in range(1, len(y))]) AS t(u)
         |  WHERE len(y) >= 2 GROUP BY u.a, u.b),
         |t$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
         |s$k AS (SELECT wc, list_reduce(list_prepend('', string_split(s, chr(31))),
         |    (acc, x) -> CASE WHEN acc = '' THEN x
         |      WHEN string_split(acc, chr(31))[len(string_split(acc, chr(31)))] = t.a AND x = t.b
         |        THEN acc || x
         |      ELSE acc || chr(31) || x END) AS s
         |  FROM s${k - 1}, t$k t)""".stripMargin
    }.mkString
    val union = (1 to rounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS round, a, b, n FROM t$k")
      .mkString("\nUNION ALL ")
    s"$head$roundCtes\nSELECT round, a, b, n FROM (\n$union)\nORDER BY round"
  }

  /** q128's oracle: the q122 fold applied with LITERAL merge pairs —
    * one list_reduce CTE per merge in table order (merge order is load-
    * bearing: th+e only fires after t+h built "th"), then the weighted
    * symbol histogram. Pairs are embedded from the same Scala constant
    * the Spark side folds over, so the two engines cannot disagree on
    * the table. */
  private def bpeTokenizeSql(merges: Seq[(String, String)], topK: Int): String = {
    val head =
      """WITH w0 AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS wc FROM w0 GROUP BY w),
        |s0 AS (SELECT wc, array_to_string([w[i] for i in range(1, length(w) + 1)], chr(31)) AS s
        |       FROM wc)""".stripMargin
    val mergeCtes = merges.zipWithIndex.map { case ((a, b), i) =>
      val k = i + 1
      s""",
         |s$k AS (SELECT wc, list_reduce(list_prepend('', string_split(s, chr(31))),
         |    (acc, x) -> CASE WHEN acc = '' THEN x
         |      WHEN string_split(acc, chr(31))[len(string_split(acc, chr(31)))] = '$a' AND x = '$b'
         |        THEN acc || x
         |      ELSE acc || chr(31) || x END) AS s
         |  FROM s$i)""".stripMargin
    }.mkString
    s"""$head$mergeCtes
       |SELECT symbol, CAST(sum(wc) AS BIGINT) AS n FROM (
       |  SELECT wc, unnest(string_split(s, chr(31))) AS symbol FROM s${merges.size})
       |GROUP BY symbol ORDER BY n DESC, symbol LIMIT $topK""".stripMargin
  }

  /** q110's oracle relation — per-term weights mirror Retrieval.bm25Rank
    * token for token (same literals, same association), weights cross
    * the unordered SUM as 1e6-scaled longs, rank tiebreak total
    * (sm desc, doc_id). Shared verbatim by q124 (indexed serving mode):
    * both Spark modes are row-identical by contract, so both gate
    * against the same SQL. `docsPred` restricts the corpus — q142's
    * tombstone gate runs the same SQL over the surviving docs, which IS
    * the "deletes ≡ rebuild on the filtered corpus" contract. */
  private def bm25TopKSqlOver(docsPred: String): String =
    s"""WITH q(query_id, qtext) AS (VALUES
      |    (1, 'spark table scan'), (2, 'window agg group'),
      |    (3, 'customer query fast'), (4, 'vector stream merge')),
      |qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
      |         unnest(regexp_extract_all(qtext, '\\S+')) AS term FROM q),
      |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS term
      |      FROM documents WHERE $docsPred),
      |dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS dl
      |       FROM documents WHERE $docsPred),
      |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
      |             sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
      |tf AS (SELECT query_id, doc_id, term, count(*) AS tf
      |       FROM w JOIN qt USING (term) GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df
      |          FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term),
      |scored AS (
      |  SELECT query_id, tf.doc_id,
      |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
      |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6, 0) AS BIGINT) AS sm
      |  FROM tf JOIN dfreq USING (term)
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN corpus),
      |agg AS (SELECT query_id, doc_id, sum(sm) AS sm FROM scored GROUP BY 1, 2),
      |ranked AS (SELECT query_id, doc_id, sm,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY sm DESC, doc_id) AS BIGINT) AS rank FROM agg)
      |SELECT query_id, doc_id, round(sm / 1000000.0, 4) AS score, rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private lazy val Bm25TopKSql = bm25TopKSqlOver("TRUE")

  /** q163's CTE chain (exact lexical pool `lex` of 20, exact dense pool
    * `den` of 20, fused `franked`) — the tail below emits the q163/q166
    * relation; q167 composes an ANN dense pool on top and compares. */
  private lazy val Q163Ctes: String = UnitVecCte + """,
        |tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |q AS (SELECT doc_id AS query_id, t[1:8] AS qt FROM tok WHERE doc_id < 8),
        |qt AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM q),
        |w AS (SELECT doc_id, unnest(t) AS term FROM tok),
        |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
        |             sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
        |tf AS (SELECT query_id, doc_id, term, count(*) AS tf
        |       FROM w JOIN qt USING (term) GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df
        |          FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term),
        |lscored AS (
        |  SELECT query_id, tf.doc_id,
        |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6, 0) AS BIGINT) AS sm
        |  FROM tf JOIN dfreq USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN corpus),
        |lagg AS (SELECT query_id, doc_id, sum(sm) AS sm FROM lscored
        |         WHERE doc_id <> query_id GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sm DESC, doc_id) AS BIGINT) AS rank_lex FROM lagg
        |  QUALIFY rank_lex <= 20),
        |dscored AS (
        |  SELECT qv.vec_id AS query_id, e2.vec_id AS doc_id,
        |    list_sum([qv.u[i] * e2.u[i] for i in range(1, len(qv.u) + 1)]) AS cos
        |  FROM u qv JOIN u e2 ON e2.vec_id <> qv.vec_id
        |  WHERE qv.vec_id < 8),
        |den AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(cos, 6) DESC, doc_id) AS BIGINT) AS rank_dense
        |  FROM dscored QUALIFY rank_dense <= 20),
        |fused AS (
        |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |    coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    coalesce(l.rank_lex, 0) AS rank_lex,
        |    coalesce(d.rank_dense, 0) AS rank_dense,
        |    coalesce(CAST(1000000000000 AS BIGINT) // (60 + l.rank_lex), 0) +
        |    coalesce(CAST(1000000000000 AS BIGINT) // (60 + d.rank_dense), 0) AS rrf_pico
        |  FROM lex l FULL OUTER JOIN den d
        |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
        |franked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_pico DESC, doc_id) AS BIGINT) AS rank FROM fused)""".stripMargin

  /** q163's oracle — shared verbatim by q166 (from-artifact hybrid
    * serving must pin the same fused relation the live pools serve). */
  private lazy val Q163Sql: String = Q163Ctes + """
        |SELECT query_id, doc_id, rank_lex, rank_dense, rrf_pico, rank
        |FROM franked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin

  /** q167's oracle: q163's exact-pool fusion as the reference, the SAME
    * lexical pool fused with an LSH multi-probe dense pool (q38's CTEs
    * at the frozen 8×8 gate geometry, rank ≤ poolK), and the verdict is
    * fused recall@10 with the bound flag — the q62 recall-gate
    * discipline applied to the deployed hybrid shape. */
  private lazy val Q167Sql: String = Q163Ctes +
    lshCtes(bits = 8, nTables = 8, nQueries = 8, prefix = "a") + """,
        |aden AS (SELECT q_id AS query_id, neighbor_id AS doc_id,
        |    rank AS rank_dense FROM aranked WHERE rank <= 20),
        |afused AS (
        |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |    coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    coalesce(CAST(1000000000000 AS BIGINT) // (60 + l.rank_lex), 0) +
        |    coalesce(CAST(1000000000000 AS BIGINT) // (60 + d.rank_dense), 0) AS rrf_pico
        |  FROM lex l FULL OUTER JOIN aden d
        |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
        |afranked AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_pico DESC, doc_id) AS BIGINT) AS rank FROM afused),
        |xfused AS (SELECT query_id, doc_id FROM franked WHERE rank <= 10),
        |afinal AS (SELECT query_id, doc_id FROM afranked WHERE rank <= 10)
        |SELECT 'hybrid_lsh_pool' AS method, n_exact, n_hit,
        |  round(n_hit * 1.0 / n_exact, 4) AS recall,
        |  n_hit * 1.0 / n_exact >= 0.7 AS recall_ok
        |FROM (
        |  SELECT count(*) AS n_exact,
        |    CAST(sum(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM xfused x LEFT JOIN afinal a
        |    ON x.query_id = a.query_id AND x.doc_id = a.doc_id)""".stripMargin

  /** q170's oracle: Q167's verdict with the ANN dense pool swapped to
    * the IVFADC+rerank chain (q138's CTEs at the full-corpus-trained
    * codebooks, nQueries = 8, rerank widened to 64 so the 20-pool
    * survives the ADC shortlist) — the exact-pool reference `franked`
    * and the fused-recall tail are shared with Q167 by construction. */
  private lazy val Q170Sql: String = Q163Ctes +
    twoLevelIndexCtes(nCoarse = 8, nSub = 4) + pqCtes(m = 8, k = 64) +
    pqAdcCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 8, rerank = 64, prefix = "a") + """,
        |aden AS (SELECT q_id AS query_id, neighbor_id AS doc_id,
        |    rank AS rank_dense FROM axranked WHERE rank <= 20),
        |afused AS (
        |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |    coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    coalesce(CAST(1000000000000 AS BIGINT) // (60 + l.rank_lex), 0) +
        |    coalesce(CAST(1000000000000 AS BIGINT) // (60 + d.rank_dense), 0) AS rrf_pico
        |  FROM lex l FULL OUTER JOIN aden d
        |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
        |afranked AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_pico DESC, doc_id) AS BIGINT) AS rank FROM afused),
        |xfused AS (SELECT query_id, doc_id FROM franked WHERE rank <= 10),
        |afinal AS (SELECT query_id, doc_id FROM afranked WHERE rank <= 10)
        |SELECT 'hybrid_pq_pool' AS method, n_exact, n_hit,
        |  round(n_hit * 1.0 / n_exact, 4) AS recall,
        |  n_hit * 1.0 / n_exact >= 0.7 AS recall_ok
        |FROM (
        |  SELECT count(*) AS n_exact,
        |    CAST(sum(CASE WHEN a.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM xfused x LEFT JOIN afinal a
        |    ON x.query_id = a.query_id AND x.doc_id = a.doc_id)""".stripMargin

  /** q38's oracle — shared verbatim by q164 (persisted-artifact serving
    * must pin the same relation the session stage serves). */
  private lazy val Q38Sql: String =
    UnitVecCte + lshCtes(bits = 8, nTables = 8, nQueries = 200) + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin

  /** q145's oracle (shared verbatim by q147 — compaction is
    * answer-invisible): the q138 chain with the SERVED relation
    * filtered by the tombstone rule while every codebook level stays
    * full-corpus-frozen. */
  private lazy val Q145Sql: String = UnitVecCte +
    twoLevelIndexCtes(nCoarse = 8, nSub = 4) + pqCtes(m = 8, k = 64) + """,
      |sassigned AS (SELECT * FROM assigned2 WHERE (vec_id * 7919) % 100 >= 10)""".stripMargin +
    pqAdcCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, rerank = 16, prefix = "p",
      servedRel = "sassigned") + """
      |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
      |FROM pxranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  /** The perceptual-dup oracle chain shared by q121 (aHash) and q125
    * (dHash): 16×16 pixels from the code-point rule, the 8×8 integer
    * block grid, then a 64-bit hash whose bit for absolute block index
    * `idx` (an SQL expression over the comprehension variable) is
    * `bit(idx)` — packed as two sub-2^32 halves, banded 4×16-bit on the
    * injective band*65536+key composite, population-capped, and
    * hamming-verified via bit_count(xor). */
  private def perceptualDupSql(bit: String => String,
      docsFilter: String = ""): String =
    perceptualDupChain(
      """px AS (SELECT doc_id, [cps[(p % len(cps)) + 1] for p in range(0, 256)] AS px
        |       FROM c),
        |blk AS (SELECT doc_id,
        |    [(px[(b // 8) * 32 + (b % 8) * 2 + 1] + px[(b // 8) * 32 + (b % 8) * 2 + 2]
        |      + px[(b // 8) * 32 + (b % 8) * 2 + 17] + px[(b // 8) * 32 + (b % 8) * 2 + 18]) // 4
        |     for b in range(0, 64)] AS blocks
        |  FROM px)""".stripMargin, bit, docsFilter)

  /** The band/verify tail shared by every perceptual-dup oracle (q121 /
    * q125 / q126): given a `blocks` CTE (64 BIGINT block values per
    * doc, built on top of the shared code-point CTE `c`), pack the
    * 64-bit hash from the given per-block bit rule as two sub-2^32
    * halves, band 4×16 on the injective band*65536+key composite,
    * population-cap, and hamming-verify via bit_count(xor). */
  private def perceptualDupChain(blocksCte: String, bit: String => String,
      docsFilter: String = ""): String =
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           WHERE text IS NOT NULL AND length(text) >= 1$docsFilter),
       |c AS (SELECT doc_id,
       |        [unicode(text[i]) % 256 for i in range(1, length(text) + 1)] AS cps
       |      FROM d),
       |$blocksCte,
       |m AS (SELECT doc_id, blocks, list_sum(blocks) // 64 AS mean FROM blk),
       |hh AS (SELECT doc_id,
       |    CAST(list_sum([CASE WHEN ${bit("b")}
       |      THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END for b in range(0, 32)]) AS BIGINT) AS hi,
       |    CAST(list_sum([CASE WHEN ${bit("b + 32")}
       |      THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END for b in range(0, 32)]) AS BIGINT) AS lo
       |  FROM m),
       |bd AS (SELECT doc_id, hi, lo,
       |    b * 65536 + (CASE b WHEN 0 THEN hi >> 16 WHEN 1 THEN hi & 65535
       |                        WHEN 2 THEN lo >> 16 ELSE lo & 65535 END) AS bk
       |  FROM hh, (SELECT unnest(range(4)) AS b)),
       |hot AS (SELECT bk FROM (SELECT bk, count(*) AS n FROM bd GROUP BY bk)
       |        WHERE n > 1000),
       |cool AS (SELECT * FROM bd WHERE bk NOT IN (SELECT bk FROM hot))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
       |FROM cool a JOIN cool b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  private def simhashVotes(src: String): String =
    (1 to 32).flatMap { i =>
      val d = s"substring(md5($src), $i, 1)"
      Seq(
        s"sum(CASE WHEN $d >= '8' THEN 1 ELSE -1 END) AS v${2 * i - 1}",
        s"sum(CASE WHEN $d BETWEEN '4' AND '7' OR $d BETWEEN 'c' AND 'f' THEN 1 ELSE -1 END) AS v${2 * i}")
    }.mkString(",\n    ")

  private val simhashBits =
    (1 to 64).map(i => s"CASE WHEN v$i >= 0 THEN '1' ELSE '0' END").mkString(" || ")

  /** Transitive near-dup clusters over the confirmed-pair graph (requires
    * MinhashCte's `sh`/`cand` CTEs and WITH RECURSIVE) — shared by q59
    * (cluster histogram) and q67 (canonical member selection). */
  private val ClusterCtes =
    """counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS n_inter
      |  FROM cand
      |  JOIN sh wa ON wa.doc_id = doc_a
      |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
      |  GROUP BY doc_a, doc_b),
      |jacpairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter
      |  JOIN counts ca ON ca.doc_id = doc_a
      |  JOIN counts cb ON cb.doc_id = doc_b
      |  WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) >= 0.5),
      |sym AS (SELECT doc_a, doc_b FROM jacpairs
      |        UNION SELECT doc_b, doc_a FROM jacpairs),
      |reach(doc_id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT s.doc_a, r.label FROM sym s JOIN reach r ON r.doc_id = s.doc_b),
      |per_doc AS (SELECT doc_id, min(label) AS cluster_rep FROM reach GROUP BY doc_id)""".stripMargin

  /** The word-5-gram decontamination verdict (q69 exact-broadcast plan
    * AND q99 Bloom-prefiltered plan — one relation, two physical
    * shapes). */
  private val DecontaminateSql =
    """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
      |                for i in range(1, len(t) - 3)]) AS gram
      |      FROM tok WHERE len(t) >= 5),
      |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
      |SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_shared,
      |       count(DISTINCT ev.eval_id) AS n_eval_hits
      |FROM tr JOIN ev USING (gram) GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB oracle for each query (same parquet tables, same column
    * names, same ordering). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_top_customers" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 10""".stripMargin,
    "q03_shipping_priority" ->
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q05_region_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q06_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q07_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn, o_orderkey""".stripMargin,
    "q08_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q09_except_buyers" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin,
    "q10_intersect_segments" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY custkey""".stripMargin,
    "q11_supplier_part_breadth" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |GROUP BY l_suppkey
        |ORDER BY n_parts DESC, l_suppkey
        |LIMIT 25""".stripMargin,
    "q12_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin,
    "q13_events_sessions" ->
      """WITH t AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM t),
        |sessions AS (
        |  SELECT user_id, event_id, value, us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  max(us) - min(us) AS duration_us,
        |  round(sum(value), 2) AS session_value
        |FROM sessions
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q14_purchase_after_signup" ->
      """SELECT event_id, user_id, prior_signup
        |FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_signup
        |  FROM events)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q15_session_window" ->
      """WITH t AS (
        |  SELECT user_id, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM t),
        |sessions AS (
        |  SELECT user_id, value, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |  count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM sessions
        |GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    "q41_asof_user_order" ->
      """WITH od AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS dr
        |    FROM orders)
        |  WHERE dr = 1)
        |SELECT e.event_id, e.user_id, od.o_orderkey AS last_order
        |FROM events e
        |ASOF LEFT JOIN od
        |  ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q44_customers_without_orders" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q45_small_quantity_revenue" ->
      """SELECT round(sum(l_extendedprice), 2) AS total_price,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN (SELECT l_partkey AS p_key, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) a
        |  ON l.l_partkey = a.p_key
        |WHERE l.l_quantity < a.avg_qty * 0.5""".stripMargin,
    "q46_props_buckets" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY k_bucket
        |ORDER BY k_bucket""".stripMargin,
    "q16_salted_type_stats" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q17_rollup_revenue" ->
      """SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q18_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS sum3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q19_value_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 2) AS p50,
        |  round(quantile_cont(value, 0.95), 2) AS p95,
        |  round(max(value), 2) AS p100
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q20_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |  round(length(regexp_replace(text, '\s', '', 'g')) * 1.0 /
        |    greatest(len(regexp_extract_all(text, '\S+')), 1), 4) AS avg_token_len,
        |  round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |    greatest(length(text), 1), 4) AS punct_ratio
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q21_lang_id" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS n_en,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) AS n_de,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|est)\b')) AS n_fr,
        |    len(regexp_extract_all(text, '\b(el|los|las|una|es)\b')) AS n_es
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN n_en = 0 AND n_de = 0 AND n_fr = 0 AND n_es = 0 THEN 'unk'
        |       WHEN n_en >= greatest(n_de, n_fr, n_es) THEN 'en'
        |       WHEN n_de >= greatest(n_fr, n_es) THEN 'de'
        |       WHEN n_fr >= n_es THEN 'fr'
        |       ELSE 'es' END AS lang_pred,
        |  count(*) AS n
        |FROM scored
        |GROUP BY lang, lang_pred
        |ORDER BY lang, lang_pred""".stripMargin,
    "q22_token_counts" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpe_tokens
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "q23_quality_filter" ->
      """SELECT doc_id,
        |  round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |      + 0.4 * least(len(regexp_extract_all(text, '\b(the|a|of|to|and|is|in)\b')) * 10.0 /
        |          greatest(len(regexp_extract_all(text, '\S+')), 1), 1.0)
        |      + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |          greatest(length(text), 1)), 4) AS quality
        |FROM documents
        |WHERE round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |      + 0.4 * least(len(regexp_extract_all(text, '\b(the|a|of|to|and|is|in)\b')) * 10.0 /
        |          greatest(len(regexp_extract_all(text, '\S+')), 1), 1.0)
        |      + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |          greatest(length(text), 1)), 4) >= 0.5
        |ORDER BY doc_id""".stripMargin,
    "q24_fingerprints" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q25_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(7 AS BIGINT),
        |      [CAST(ascii(c) AS BIGINT) for c in regexp_split_to_array(text, '') if c <> '']),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_hash
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q31_dedup_normalized" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')))
        |ORDER BY keep_id""".stripMargin,
    "q32_minhash_lsh" -> (MinhashCte + s"""
        |SELECT doc_a, doc_b,
        |  round((${(0 until 8).map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0, 3) AS est_jaccard
        |FROM cand
        |JOIN sigs x ON x.doc_id = doc_a
        |JOIN sigs y ON y.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin),
    // same ladder at the scale banding config (k=16, r=4): four seeded
    // digests, four slices per band key — all from the same minhashCtes
    // generator, so Spark and oracle band keys agree by construction
    "q94_minhash_lsh_scaled" -> (minhashCtes(k = 16, r = 4) + s"""
        |SELECT doc_a, doc_b,
        |  round((${(0 until 16).map(i => s"CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END").mkString(" + ")}) / 16.0, 3) AS est_jaccard
        |FROM cand
        |JOIN sigs x ON x.doc_id = doc_a
        |JOIN sigs y ON y.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q33_ngram_jaccard" -> (MinhashCte + """,
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b,
        |  round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
        |FROM inter
        |JOIN counts ca ON ca.doc_id = doc_a
        |JOIN counts cb ON cb.doc_id = doc_b
        |WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q43_hybrid_neardup" -> (MinhashCte + """,
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b),
        |jac AS (
        |  SELECT doc_a, doc_b,
        |    round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
        |  FROM inter
        |  JOIN counts ca ON ca.doc_id = doc_a
        |  JOIN counts cb ON cb.doc_id = doc_b),
        |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |uv AS (SELECT vec_id,
        |         [x / sqrt(list_sum([y * y for y in v])) for x in v] AS u
        |       FROM ev)
        |SELECT doc_a, doc_b, jaccard,
        |  round(list_sum([a.u[i] * b.u[i] for i in range(1, len(a.u) + 1)]), 4) AS cos_sim,
        |  CASE WHEN jaccard >= 0.5 THEN 'dup'
        |       WHEN jaccard >= 0.2
        |         OR round(list_sum([a.u[i] * b.u[i] for i in range(1, len(a.u) + 1)]), 4) >= 0.4
        |         THEN 'review'
        |       ELSE 'keep' END AS verdict
        |FROM jac
        |JOIN uv a ON a.vec_id = doc_a
        |JOIN uv b ON b.vec_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q34_simhash" -> (ShinglesCte + s""",
        |votes AS (
        |  SELECT doc_id,
        |    ${simhashVotes("sh")}
        |  FROM sh GROUP BY doc_id)
        |SELECT doc_id, $simhashBits AS simhash
        |FROM votes ORDER BY doc_id""".stripMargin),
    "q35_simhash_neardup" -> (ShinglesCte + s""",
        |votes AS (
        |  SELECT doc_id,
        |    ${simhashVotes("sh")}
        |  FROM sh GROUP BY doc_id),
        |fp AS (SELECT doc_id, $simhashBits AS simhash FROM votes),
        |nib AS (SELECT doc_id, simhash, n AS nib,
        |          substring(simhash, n * 16 + 1, 16) AS nib_key
        |        FROM fp CROSS JOIN (SELECT unnest(range(4)) AS n)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sha,
        |                b.doc_id AS doc_b, b.simhash AS shb
        |         FROM nib a JOIN nib b USING (nib, nib_key)
        |         WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(${(1 to 64).map(i => s"(CASE WHEN substring(sha, $i, 1) <> substring(shb, $i, 1) THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS hamming
        |FROM cand
        |WHERE ${(1 to 64).map(i => s"(CASE WHEN substring(sha, $i, 1) <> substring(shb, $i, 1) THEN 1 ELSE 0 END)").mkString(" + ")} <= 8
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q36_embedding_neardup" -> (UnitVecCte + """
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_sum([a.u[i] * b.u[i] for i in range(1, len(a.u) + 1)]), 4) AS cos_sim
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 500 AND b.vec_id < 500
        |  AND round(list_sum([a.u[i] * b.u[i] for i in range(1, len(a.u) + 1)]), 4) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin),
    // q95: same sg/tb bucket CTEs as q38 at the gate-scale adaptive
    // config (8x8 — the same n<=4096 plateau argument as q38's oracle);
    // no probes, no cap (gate-scale bucket populations sit far under the
    // Spark side's 1000 cap, the q32 precedent)
    // q135: the same signature construction, eval side split out; the
    // verdict aggregate mirrors the Spark plan (distinct pair before
    // count, round-4 cosine before both the threshold and the max)
    "q135_semantic_contamination" -> (UnitVecCte + lshBucketCtes(bits = 8, nTables = 8) + s""",
        |scand AS (
        |  SELECT DISTINCT t.vec_id, e.vec_id AS eval_id
        |  FROM tb t JOIN tb e USING (tbl, bucket)
        |  WHERE e.vec_id % 97 = 0 AND t.vec_id % 97 <> 0),
        |sv AS (
        |  SELECT c.vec_id, c.eval_id, round(${cosSql("x.u", "y.u")}, 4) AS cos_sim
        |  FROM scand c
        |  JOIN u x ON x.vec_id = c.vec_id
        |  JOIN u y ON y.vec_id = c.eval_id)
        |SELECT vec_id, count(*) AS n_eval_hits, max(cos_sim) AS max_cos_sim
        |FROM sv WHERE cos_sim >= 0.35
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin),
    "q95_embedding_neardup_lsh" -> (UnitVecCte + lshBucketCtes(bits = 8, nTables = 8) + s""",
        |ncand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM tb a JOIN tb b USING (tbl, bucket)
        |  WHERE a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(${cosSql("x.u", "y.u")}, 4) AS cos_sim
        |FROM ncand
        |JOIN u x ON x.vec_id = vec_a
        |JOIN u y ON y.vec_id = vec_b
        |WHERE round(${cosSql("x.u", "y.u")}, 4) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin),
    // incremental near-dedup: same confirmed-pair relation as q33
    // (MinhashCte candidates + exact-Jaccard >= 0.5 verification), then
    // the batch/corpus split and the two kill rules as plain joins
    "q96_incremental_dedup" -> (MinhashCte + """,
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b),
        |jacpairs AS (
        |  SELECT doc_a, doc_b
        |  FROM inter
        |  JOIN counts ca ON ca.doc_id = doc_a
        |  JOIN counts cb ON cb.doc_id = doc_b
        |  WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) >= 0.5),
        |sym AS (SELECT doc_a, doc_b FROM jacpairs
        |        UNION SELECT doc_b, doc_a FROM jacpairs),
        |d AS (SELECT doc_id, source,
        |        (doc_id * 2654435761) % 100 < 30 AS incoming
        |      FROM documents),
        |inc AS (SELECT doc_id, source FROM d WHERE incoming),
        |corpus_dup AS (
        |  SELECT DISTINCT s.doc_a AS doc_id FROM sym s
        |  WHERE s.doc_b IN (SELECT doc_id FROM d WHERE NOT incoming)),
        |fresh AS (SELECT * FROM inc
        |          WHERE doc_id NOT IN (SELECT doc_id FROM corpus_dup)),
        |batch_dup AS (
        |  SELECT DISTINCT s.doc_a AS doc_id FROM sym s
        |  WHERE s.doc_b < s.doc_a
        |    AND s.doc_a IN (SELECT doc_id FROM fresh)
        |    AND s.doc_b IN (SELECT doc_id FROM fresh)),
        |kept AS (SELECT * FROM fresh
        |         WHERE doc_id NOT IN (SELECT doc_id FROM batch_dup)),
        |ia AS (SELECT source, count(*) AS n_incoming FROM inc GROUP BY source),
        |fa AS (SELECT source, count(*) AS n_fresh FROM fresh GROUP BY source),
        |ka AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source)
        |SELECT ia.source, n_incoming,
        |  n_incoming - CAST(coalesce(n_fresh, 0) AS BIGINT) AS n_dup_corpus,
        |  CAST(coalesce(n_fresh, 0) AS BIGINT) - CAST(coalesce(n_kept, 0) AS BIGINT) AS n_dup_batch,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
        |FROM ia LEFT JOIN fa ON fa.source = ia.source
        |LEFT JOIN ka ON ka.source = ia.source
        |ORDER BY ia.source""".stripMargin),
    // q100: q59's recursive-closure cluster relation, split by the same
    // Knuth hash bucket the Spark side applies to the cluster label
    "q100_cluster_split" -> (MinhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      ClusterCtes + """
        |SELECT CASE WHEN (cluster_rep * 2654435761) % 100 < 90
        |            THEN 'train' ELSE 'val' END AS split,
        |  d.source, count(*) AS n_docs,
        |  CAST(count(DISTINCT cluster_rep) AS BIGINT) AS n_clusters,
        |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars
        |FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
        |GROUP BY 1, 2
        |ORDER BY split, source""".stripMargin),
    // q101: the salt-keyed md5 drives shard and order on both engines;
    // one leading nibble = the 16-shard plateau the sf0.01 corpus pins
    // (Sampling.shardNibbles: n <= 65536 -> 1 nibble)
    "q101_export_shuffle" ->
      """WITH k AS (SELECT doc_id, source, n_chars,
        |    md5('shuffle|' || doc_id) AS h FROM documents),
        |s AS (SELECT *, CAST(strpos('0123456789abcdef', substring(h, 1, 1)) - 1 AS BIGINT) AS shard
        |      FROM k),
        |p AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM s)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    // q102: q95's pair relation at the gate-scale adaptive config (8x8),
    // pruned = distinct higher id of every confirmed pair (the greedy
    // lowest-id keeper rule), profiled per embedding label
    "q102_semantic_keepers" -> (UnitVecCte + lshBucketCtes(bits = 8, nTables = 8) + s""",
        |ncand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM tb a JOIN tb b USING (tbl, bucket)
        |  WHERE a.vec_id < b.vec_id),
        |pruned AS (
        |  SELECT DISTINCT vec_b AS vec_id FROM ncand
        |  JOIN u x ON x.vec_id = vec_a
        |  JOIN u y ON y.vec_id = vec_b
        |  WHERE round(${cosSql("x.u", "y.u")}, 4) >= 0.4)
        |SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
        |  CAST(count(*) - sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM embeddings e LEFT JOIN pruned p ON p.vec_id = e.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // q103: winnowed fingerprints (k=20 code-point k-grams, min per
    // sliding window of w=8 hashes — Schleimer et al. 2003), via the
    // shared WinnowCtes chain
    "q103_dup_spans" -> (WinnowCtes + """,
        |sd AS (SELECT fp, count(DISTINCT doc_id) AS n_span_docs FROM sel GROUP BY fp),
        |pd AS (
        |  SELECT doc_id, source, count(*) AS n_fps,
        |    sum(CASE WHEN n_span_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM sel JOIN sd USING (fp) GROUP BY doc_id, source)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_dup,
        |  CAST(sum(n_fps) AS BIGINT) AS total_fps,
        |  CAST(sum(n_dup) AS BIGINT) AS dup_fps,
        |  round(sum(n_dup) * 1.0 / sum(n_fps), 4) AS dup_fp_frac
        |FROM pd GROUP BY source ORDER BY source""".stripMargin),
    // q105: pair enumeration over the same winnowed relation; the
    // eligibility window (shared by 2..100 docs) carries BOTH bounds —
    // the upper bound is operator SEMANTICS (maxFpPopulation=100), not a
    // perf-only band cap, so the oracle states it rather than relying on
    // no gate-scale fingerprint ever reaching population 101
    "q105_dup_span_pairs" -> (WinnowCtes + """,
        |el AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 100),
        |e AS (SELECT doc_id, fp FROM sel JOIN el USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_fps
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin),
    // q117: q105's pair relation rolled up to unordered source pairs —
    // the same two-sided eligibility window, stated for the same reason
    "q117_source_span_matrix" -> (WinnowCtes + """,
        |el AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 100),
        |e AS (SELECT doc_id, source, fp FROM sel JOIN el USING (fp)),
        |p AS (SELECT
        |    CASE WHEN a.source <= b.source THEN a.source ELSE b.source END AS src_a,
        |    CASE WHEN a.source <= b.source THEN b.source ELSE a.source END AS src_b,
        |    a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_doc_pairs,
        |  CAST(sum(n_shared) AS BIGINT) AS n_shared_fps
        |FROM p GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin),
    // q104: q69's gram relation, severity-profiled per source
    "q104_contamination_profile" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
        |                for i in range(1, len(t) - 3)]) AS gram
        |      FROM tok WHERE len(t) >= 5),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |pd AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
        |  FROM g LEFT JOIN ev ON ev.gram = g.gram
        |  WHERE g.doc_id % 97 <> 0
        |  GROUP BY g.doc_id)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  round(sum(n_hits) * 1.0 / sum(n_grams), 4) AS gram_hit_frac,
        |  round(max(n_hits * 1.0 / n_grams), 4) AS max_doc_frac
        |FROM pd JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q106_vocab_zipf" ->
      """WITH w AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS term FROM documents),
        |tc AS (SELECT term, count(*) AS cnt FROM w GROUP BY term)
        |SELECT CAST(length(bin(cnt)) AS BIGINT) AS freq_bucket,
        |  count(*) AS n_terms, CAST(sum(cnt) AS BIGINT) AS n_occurrences,
        |  CAST(min(cnt) AS BIGINT) AS min_count, CAST(max(cnt) AS BIGINT) AS max_count
        |FROM tc GROUP BY 1 ORDER BY 1""".stripMargin,
    // q107: centroid components are means of 1e6-scaled LONG sums (the
    // q78 discipline); cosines fold in index order on both engines
    "q107_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v
        |           FROM embeddings
        |           WHERE list_sum([x * x for x in embedding::DOUBLE[]]) > 0),
        |px AS (SELECT label, u.pos AS pos, u.x AS x FROM e,
        |       unnest([{'pos': i, 'x': v[i]} for i in range(1, len(v) + 1)]) AS t(u)),
        |sv AS (SELECT label, pos, sum(CAST(round(x * 1e6) AS BIGINT)) AS sv, count(*) AS n
        |       FROM px GROUP BY 1, 2),
        |cent AS (SELECT label, list(sv / n / 1e6 ORDER BY pos) AS cv FROM sv GROUP BY 1),
        |sc AS (SELECT e.label,
        |         list_sum([v[i] * cv[i] for i in range(1, len(v) + 1)]) /
        |         (sqrt(list_sum([x * x for x in v])) * sqrt(list_sum([c * c for c in cv]))) AS cos
        |       FROM e JOIN cent USING (label))
        |SELECT label, count(*) AS n_vecs,
        |  round(sum(CAST(round(cos * 1e6) AS BIGINT)) / count(*) / 1e6, 4) AS avg_cos,
        |  round(min(cos), 4) AS min_cos,
        |  CAST(sum(CASE WHEN cos < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // q108: bucket = comparison ladder (floor(10*j) without the floating
    // multiply-floor edge); jaccard relation identical to q33's oracle
    "q108_jaccard_sensitivity" -> (MinhashCte + s""",
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b),
        |jac AS (
        |  SELECT round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
        |  FROM inter
        |  JOIN counts ca ON ca.doc_id = doc_a
        |  JOIN counts cb ON cb.doc_id = doc_b)
        |SELECT CAST((${(1 to 10).map(i => s"(CASE WHEN jaccard >= ${i / 10.0} THEN 1 ELSE 0 END)").mkString(" + ")}) AS BIGINT) AS bucket,
        |  count(*) AS n_pairs,
        |  round(min(jaccard), 4) AS min_jaccard,
        |  round(max(jaccard), 4) AS max_jaccard
        |FROM jac GROUP BY 1 ORDER BY bucket""".stripMargin),
    // q109: cumulative survivor rungs; rung 3's cluster reps come from
    // the same recursive-reach relation as q59/q100
    "q109_dedup_funnel" -> (MinhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      ClusterCtes + """,
        |dd AS (SELECT doc_id, text,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
        |       FROM documents),
        |s1 AS (SELECT min(doc_id) AS doc_id FROM dd GROUP BY text),
        |s2 AS (SELECT min(doc_id) AS doc_id FROM dd
        |       WHERE doc_id IN (SELECT doc_id FROM s1)
        |       GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')))),
        |s3 AS (SELECT min(doc_id) AS doc_id FROM per_doc
        |       WHERE doc_id IN (SELECT doc_id FROM s2)
        |       GROUP BY cluster_rep),
        |fun AS (
        |  SELECT '0_raw' AS rung, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM dd
        |  UNION ALL
        |  SELECT '1_exact', count(*), CAST(sum(n_tok) AS BIGINT) FROM dd WHERE doc_id IN (SELECT doc_id FROM s1)
        |  UNION ALL
        |  SELECT '2_normalized', count(*), CAST(sum(n_tok) AS BIGINT) FROM dd WHERE doc_id IN (SELECT doc_id FROM s2)
        |  UNION ALL
        |  SELECT '3_neardup', count(*), CAST(sum(n_tok) AS BIGINT) FROM dd WHERE doc_id IN (SELECT doc_id FROM s3)),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS raw_tokens FROM dd)
        |SELECT rung, n_docs, n_tokens,
        |  round(n_tokens * 1.0 / raw_tokens, 4) AS token_frac
        |FROM fun CROSS JOIN tot ORDER BY rung""".stripMargin),
    // q112: containment off the same candidate relation as q33; the
    // contained side is the smaller distinct-shingle set (tie → doc_a)
    "q112_containment_pairs" -> (MinhashCte + """,
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b),
        |m AS (
        |  SELECT CASE WHEN ca.n_sh <= cb.n_sh THEN doc_a ELSE doc_b END AS doc_small,
        |    CASE WHEN ca.n_sh <= cb.n_sh THEN doc_b ELSE doc_a END AS doc_big,
        |    round(n_inter * 1.0 / least(ca.n_sh, cb.n_sh), 4) AS containment,
        |    round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
        |  FROM inter
        |  JOIN counts ca ON ca.doc_id = doc_a
        |  JOIN counts cb ON cb.doc_id = doc_b)
        |SELECT doc_small, doc_big, containment, jaccard
        |FROM m WHERE containment >= 0.8
        |ORDER BY doc_small, doc_big""".stripMargin),
    // q111: mirrors Similarity.principalDirection — ONE corpus pass
    // aggregates the flattened integer moment vector (1e4-quantized
    // ΣqqT row-major, Σq, n), then both power-iteration rounds run on
    // the 4161-cell relation via the exact centering identity; the
    // comprehension ranges are len(q)-derived because a literal range
    // inside a lateral unnest fails to bind the outer column (DuckDB
    // 1.0 quirk)
    "q111_principal_direction" ->
      """WITH e AS (SELECT [CAST(round(x * 1e4) AS BIGINT) for x in embedding::DOUBLE[]] AS q FROM embeddings),
        |mom AS (
        |  SELECT u.i AS idx, sum(u.v) AS s FROM e, unnest(
        |    [{'i': i, 'v': q[i // len(q) + 1] * q[i % len(q) + 1]} for i in range(0, len(q) * len(q))]
        |    || [{'i': len(q) * len(q) + i, 'v': q[i + 1]} for i in range(0, len(q))]
        |    || [{'i': len(q) * len(q) + len(q), 'v': 1}]) AS t(u)
        |  GROUP BY u.i),
        |n AS (SELECT s AS n FROM mom WHERE idx = 4160),
        |m AS (SELECT idx - 4096 AS j, CAST(round(s * 1.0 / n) AS BIGINT) AS m, s
        |      FROM mom CROSS JOIN n WHERE idx BETWEEN 4096 AND 4159),
        |g AS (SELECT idx // 64 AS j, idx % 64 AS k, s AS g FROM mom WHERE idx < 4096),
        |gc AS (SELECT g.j, g.k,
        |         g.g - mj.m * mk.s - mj.s * mk.m + (SELECT n FROM n) * mj.m * mk.m AS gc
        |       FROM g JOIN m mj ON mj.j = g.j JOIN m mk ON mk.j = g.k),
        |v1 AS (SELECT j, sum(gc) AS v1 FROM gc GROUP BY j),
        |vq AS (SELECT j AS k, CAST(round(v1 * 1.0e4 / (SELECT max(abs(v1)) FROM v1)) AS BIGINT) AS vq FROM v1),
        |v2 AS (SELECT gc.j, sum(CAST(round(gc.gc * 1.0 * vq / 1e6) AS BIGINT)) AS v2
        |       FROM gc JOIN vq ON vq.k = gc.k GROUP BY gc.j)
        |SELECT CAST(j + 1 AS BIGINT) AS pos,
        |  round(v2 * 1.0 / (SELECT max(abs(v2)) FROM v2), 4) AS loading
        |FROM v2 ORDER BY pos""".stripMargin,
    // q119: the q110 BM25 chain with queries derived from eval-doc
    // 8-token prefixes, self-hit excluded from the RANKING only (df
    // stays corpus-true), plus per-hit shared-5-gram counts; the
    // query-batch cap (doc_id < 10000) covers every eval id at this SF
    "q119_contamination_retrieval" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |q AS (SELECT doc_id AS query_id, t[1:8] AS qt FROM tok
        |      WHERE doc_id % 97 = 0 AND doc_id < 10000),
        |qt AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM q),
        |w AS (SELECT doc_id, unnest(t) AS term FROM tok),
        |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
        |             sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
        |tf AS (SELECT query_id, doc_id, term, count(*) AS tf
        |       FROM w JOIN qt USING (term) GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df
        |          FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term),
        |scored AS (
        |  SELECT query_id, tf.doc_id,
        |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6, 0) AS BIGINT) AS sm
        |  FROM tf JOIN dfreq USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN corpus),
        |agg AS (SELECT query_id, doc_id, sum(sm) AS sm FROM scored
        |        WHERE doc_id <> query_id GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, round(sm / 1000000.0, 4) AS score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sm DESC, doc_id) AS BIGINT) AS rank FROM agg),
        |topk AS (SELECT * FROM ranked WHERE rank <= 5),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
        |                for i in range(1, len(t) - 3)]) AS gram
        |      FROM tok WHERE len(t) >= 5),
        |ev AS (SELECT doc_id AS query_id, gram FROM g WHERE doc_id % 97 = 0),
        |sh AS (SELECT r.query_id, r.doc_id, count(*) AS n_shared_grams
        |       FROM topk r JOIN ev ON ev.query_id = r.query_id
        |       JOIN g ON g.doc_id = r.doc_id AND g.gram = ev.gram
        |       GROUP BY 1, 2)
        |SELECT r.query_id, r.doc_id, r.score, r.rank,
        |  COALESCE(sh.n_shared_grams, 0) AS n_shared_grams
        |FROM topk r LEFT JOIN sh ON sh.query_id = r.query_id AND sh.doc_id = r.doc_id
        |ORDER BY r.query_id, rank""".stripMargin,
    // q122: the merge loop UNROLLED as CTE rounds — per round, pair
    // counts over the vocab state, the LIMIT-1 top pair under the total
    // (n DESC, a, b) tiebreak, and the SAME greedy left-fold merge the
    // Spark side runs (list_reduce here, the aggregate HOF there), so
    // overlap semantics cannot drift; an exhausted vocabulary empties
    // every later round's CTEs on both sides identically
    "q122_bpe_merges" -> bpeCtes(rounds = 5),
    // q128: the apply half — the same list_reduce fold as q122's round
    // CTEs, one CTE per FIXED merge (literals generated from the same
    // Scala constant the Spark fold chain embeds), then the weighted
    // symbol histogram
    "q128_bpe_tokenize" -> bpeTokenizeSql(graft.ops.TextAnalysis.DefaultMerges, topK = 30),
    // q121: the oracle computes the aHash from the PIXEL RULE directly —
    // the Spark side goes pixels -> real PNG encode (varied settings) ->
    // real decode -> aHash, and the round-trip is an identity on pixels,
    // so both relations agree by construction (the q71/q75 gate pattern).
    // Integer-only block/mean math; hash packed as two sub-2^32 halves
    // (no signed-overflow edge at bit 63); band cap keyed on the
    // injective band*65536+key composite; hamming via bit_count(xor)
    "q121_perceptual_image_dups" ->
      perceptualDupSql(idx => s"blocks[$idx + 1] > mean"),
    // q125: identical chain with the GRADIENT bit rule — block (r, c)
    // vs its right neighbor (wrap-around), mirroring Multimodal.dHash64
    "q125_perceptual_gradient_dups" ->
      perceptualDupSql(idx =>
        s"blocks[(($idx) // 8) * 8 + (($idx) % 8) + 1] > " +
          s"blocks[(($idx) // 8) * 8 + ((($idx) % 8) + 1) % 8 + 1]"),
    // q156/q158: the persisted decode-once artifact serves q121's and
    // q125's relations — the oracles are VERBATIM q121/q125: three
    // physical shapes (live decode, artifact aHash, artifact dHash from
    // the same build), the same pinned answers
    "q156_image_index_dups" ->
      perceptualDupSql(idx => s"blocks[$idx + 1] > mean"),
    "q158_image_index_gradient" ->
      perceptualDupSql(idx =>
        s"blocks[(($idx) // 8) * 8 + (($idx) % 8) + 1] > " +
          s"blocks[(($idx) // 8) * 8 + ((($idx) % 8) + 1) % 8 + 1]"),
    // q159: the full lifecycle (base + delta + tombstones + re-append +
    // compaction) ≡ a fresh build of the SURVIVING corpus — q121's
    // chain restricted to survivors: everything except (deleted AND NOT
    // re-appended)
    "q159_image_index_lifecycle" ->
      perceptualDupSql(idx => s"blocks[$idx + 1] > mean",
        docsFilter = "\n           AND NOT ((doc_id * 7919) % 100 < 10" +
          " AND (doc_id * 104729) % 100 >= 50)"),
    // q126: the cross-format rung — the Spark side goes solid-tile
    // pixels -> real PNG (even ids) or real baseline JPEG (odd ids) ->
    // format router -> real decode -> aHash; the PNG round trip is
    // lossless and the JPEG round trip is EXACT on the solid-tile class
    // (AC quantize to zero, DC steps 1/2/4/8 divide 8), so the oracle
    // reads each aHash block straight from the tile rule: block b =
    // codePoint(b mod len) mod 256
    "q126_cross_format_image_dups" ->
      perceptualDupChain(
        """blk AS (SELECT doc_id,
          |    [CAST(cps[(b % len(cps)) + 1] AS BIGINT) for b in range(0, 64)] AS blocks
          |  FROM c)""".stripMargin,
        idx => s"blocks[$idx + 1] > mean"),
    // q134: the energy-gradient rule reads straight off the frame-amp
    // rule — gain and frame width cancel in every energy comparison
    // ((a*g)^2 > (b*g)^2 <=> a > b in exact integer math), so the
    // oracle is the q121 chain with dHash's adjacent rule in 1-D
    "q134_perceptual_audio_dups" ->
      perceptualDupChain(
        """blk AS (SELECT doc_id,
          |    [CAST(cps[(b % len(cps)) + 1] AS BIGINT) for b in range(0, 64)] AS blocks
          |  FROM c)""".stripMargin,
        idx => s"blocks[($idx) + 1] > blocks[((($idx) + 1) % 64) + 1]"),
    // q132: same oracle chain — PNG and GIF round-trip losslessly and
    // the JPEG solid-tile class exactly, so all THREE containers decode
    // back to the tile-rule pixels and the oracle never sees a format
    "q132_cross_format_trio_dups" ->
      perceptualDupChain(
        """blk AS (SELECT doc_id,
          |    [CAST(cps[(b % len(cps)) + 1] AS BIGINT) for b in range(0, 64)] AS blocks
          |  FROM c)""".stripMargin,
        idx => s"blocks[$idx + 1] > mean"),
    // q123: the sweep pages disjoint exhaustive id ranges whose union is
    // exactly the windowed eval set, so the oracle is q119's single
    // relation at the gate window (ids < 600) — one SQL, three Spark
    // pages at every SF
    "q123_contamination_sweep" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |q AS (SELECT doc_id AS query_id, t[1:8] AS qt FROM tok
        |      WHERE doc_id % 97 = 0 AND doc_id < 600),
        |qt AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM q),
        |w AS (SELECT doc_id, unnest(t) AS term FROM tok),
        |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        |corpus AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
        |             sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
        |tf AS (SELECT query_id, doc_id, term, count(*) AS tf
        |       FROM w JOIN qt USING (term) GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df
        |          FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term),
        |scored AS (
        |  SELECT query_id, tf.doc_id,
        |    CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6, 0) AS BIGINT) AS sm
        |  FROM tf JOIN dfreq USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN corpus),
        |agg AS (SELECT query_id, doc_id, sum(sm) AS sm FROM scored
        |        WHERE doc_id <> query_id GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, round(sm / 1000000.0, 4) AS score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sm DESC, doc_id) AS BIGINT) AS rank FROM agg),
        |topk AS (SELECT * FROM ranked WHERE rank <= 5),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
        |                for i in range(1, len(t) - 3)]) AS gram
        |      FROM tok WHERE len(t) >= 5),
        |ev AS (SELECT doc_id AS query_id, gram FROM g WHERE doc_id % 97 = 0),
        |sh AS (SELECT r.query_id, r.doc_id, count(*) AS n_shared_grams
        |       FROM topk r JOIN ev ON ev.query_id = r.query_id
        |       JOIN g ON g.doc_id = r.doc_id AND g.gram = ev.gram
        |       GROUP BY 1, 2)
        |SELECT r.query_id, r.doc_id, r.score, r.rank,
        |  COALESCE(sh.n_shared_grams, 0) AS n_shared_grams
        |FROM topk r LEFT JOIN sh ON sh.query_id = r.query_id AND sh.doc_id = r.doc_id
        |ORDER BY r.query_id, rank""".stripMargin,
    "q110_bm25_topk" -> Bm25TopKSql,
    // q124: the indexed serving mode answers IDENTICALLY to the pruned
    // default by contract (RetrievalSpec pins it; the index is just a
    // materialization of the same tf/dl relations), so the oracle is
    // q110's relation verbatim — the contract now sits under the hash
    // gate instead of only in a spec
    "q124_bm25_indexed" -> Bm25TopKSql,
    // q127: the persisted-index serving shape under the SAME oracle —
    // longs (tf/dl) and the 1e6-scaled weight sums round-trip parquet
    // exactly, so the on-disk index must reproduce q110's relation to
    // the hash or the artifact lost information
    "q127_bm25_persisted" -> Bm25TopKSql,
    // q133: the incremental merge must be answer-invisible — same oracle
    "q133_bm25_incremental" -> Bm25TopKSql,
    // q142: base − deleted + delta must equal a rebuild on the
    // surviving corpus — the SAME ranking SQL, corpus pre-filtered by
    // the tombstone rule (mirrors Retrieval.bm25TopKWithTombstones)
    "q142_bm25_tombstones" -> bm25TopKSqlOver("(doc_id * 7919) % 100 >= 10"),
    // q144 = q142 compacted: compaction must be answer-invisible, so
    // the oracle IS q142's
    "q144_bm25_compacted" -> bm25TopKSqlOver("(doc_id * 7919) % 100 >= 10"),
    // q143: codebooks train on the FULL corpus (frozen under deletes);
    // only the SERVED inverted file filters the tombstone rule
    "q143_ann_two_level_tombstones" -> (UnitVecCte +
      twoLevelIndexCtes(nCoarse = 8, nSub = 4) + """,
        |sassigned AS (SELECT * FROM assigned2 WHERE (vec_id * 7919) % 100 >= 10)""".stripMargin +
      twoLevelProbeCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, prefix = "",
        servedRel = "sassigned") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q146 = q143 compacted: compaction must be answer-invisible, so
    // the oracle IS q143's
    "q146_ann_two_level_compacted" -> (UnitVecCte +
      twoLevelIndexCtes(nCoarse = 8, nSub = 4) + """,
        |sassigned AS (SELECT * FROM assigned2 WHERE (vec_id * 7919) % 100 >= 10)""".stripMargin +
      twoLevelProbeCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, prefix = "",
        servedRel = "sassigned") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q145: the same served-relation filter through the PQ chain — the
    // codes/refine anti-join must reproduce it exactly
    "q145_ann_ivfpq_tombstones" -> Q145Sql,
    // q160/q161/q162: the composed lifecycles ≡ a fresh rebuild of the
    // SURVIVING corpus (everything except deleted AND not re-appended).
    // BM25 rebuilds fully on survivors; the ANN oracles train codebooks
    // on the base split (the q136/q141 incremental contract) and serve
    // only the surviving inverted file
    "q160_bm25_composed" -> bm25TopKSqlOver(
      "NOT ((doc_id * 7919) % 100 < 10 AND (doc_id * 104729) % 100 >= 50)"),
    "q161_ann_two_level_composed" -> (UnitVecCte +
      twoLevelIndexCtes(nCoarse = 8, nSub = 4,
        trainPred = "(vec_id * 2654435761) % 100 >= 30") + """,
        |sassigned AS (SELECT * FROM assigned2
        |  WHERE NOT ((vec_id * 7919) % 100 < 10 AND (vec_id * 104729) % 100 >= 50))""".stripMargin +
      twoLevelProbeCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, prefix = "",
        servedRel = "sassigned") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    "q162_ann_ivfpq_composed" -> (UnitVecCte +
      twoLevelIndexCtes(nCoarse = 8, nSub = 4,
        trainPred = "(vec_id * 2654435761) % 100 >= 30") +
      pqCtes(m = 8, k = 64, trainPred = "(vec_id * 2654435761) % 100 >= 30") + """,
        |sassigned AS (SELECT * FROM assigned2
        |  WHERE NOT ((vec_id * 7919) % 100 < 10 AND (vec_id * 104729) % 100 >= 50))""".stripMargin +
      pqAdcCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, rerank = 16, prefix = "p",
        servedRel = "sassigned") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM pxranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q163: hybrid RRF fusion — lexical pool mirrors the q119 recipe
    // (prefix-8 query terms from docs with doc_id < 8, integer-micro
    // BM25, self excluded before ranking, pool 20); dense pool mirrors
    // q37 (exact cosine, round(cos,6) rank order, self excluded, pool
    // 20); fused score = Σ floor(1e12/(60+rank)) in BIGINT floor
    // division (`//` here ≡ Spark's DIV), absent-from-pool = 0
    "q163_hybrid_retrieval_rrf" -> Q163Sql,
    // q166 serves q163's relation entirely from the persisted BM25 +
    // LSH artifacts (the RAG restart shape) — the live-vs-artifact
    // equivalence IS the gate, so the oracle is q163's verbatim
    "q166_hybrid_from_indexes" -> Q163Sql,
    // q167: fused recall of the ANN-pooled hybrid vs the exact-pool
    // fusion, bound flag included — both engines compute the identical
    // integer-exact RRF over the identical pools
    "q167_hybrid_ann_pool_recall" -> Q167Sql,
    // q169 is row-identical to q167 by construction (artifact lexical
    // pool == live pool per the q127 contract; the dense pool IS
    // q167's) — same oracle, the q164/q166 shared-oracle discipline
    "q169_hybrid_deployed_recall" -> Q167Sql,
    // q170: the same fused-recall verdict with the IVFADC dense pool —
    // the exact-pool reference CTEs are Q167's; only the ANN chain and
    // the method label change
    "q170_hybrid_pq_pool_recall" -> Q170Sql,
    // q147 = q145 compacted: compaction must be answer-invisible, so
    // the oracle IS q145's
    "q147_ann_ivfpq_compacted" -> Q145Sql,
    // q116: mirrors Multimodal.frameDups — 100-char frame slices,
    // md5 frame hashes, distinct per payload, cap never binds at this
    // SF (as q32's band cap), pairs sharing >= 3 frames
    "q116_frame_dups" ->
      """WITH f AS (SELECT DISTINCT doc_id,
        |    md5(substring(text, CAST(i * 100 + 1 AS BIGINT), 100)) AS fh
        |  FROM documents, unnest(range(0, (greatest(length(text), 1) - 1) // 100 + 1)) AS t(i)),
        |hot AS (SELECT fh FROM (SELECT fh, count(*) AS n FROM f GROUP BY fh) WHERE n > 1000),
        |cool AS (SELECT * FROM f WHERE fh NOT IN (SELECT fh FROM hot))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM cool a JOIN cool b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // q115: mirrors TextAnalysis.bpeFirstMerges — word-frequency-
    // weighted adjacent char pairs; rank tiebreak (n desc, a, b) total
    "q115_bpe_first_merges" ->
      """WITH w AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS wc FROM w GROUP BY w),
        |pairs AS (SELECT u.a AS a, u.b AS b, wc FROM wc,
        |    unnest([{'a': w[i], 'b': w[i + 1]} for i in range(1, len(w))]) AS t(u)
        |    WHERE len(w) >= 2),
        |pc AS (SELECT a, b, CAST(sum(wc) AS BIGINT) AS n FROM pairs GROUP BY a, b),
        |ranked AS (SELECT a, b, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, a, b) AS BIGINT) AS rank FROM pc)
        |SELECT a, b, n, rank FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // q114: composes the q23 quality expression with the q97/q113 LM
    // relations; missing LM rows (no tokens / no bigram positions)
    // COALESCE to +inf so they fail the rung in both engines
    "q114_quality_funnel" ->
      """WITH qual AS (SELECT doc_id, source,
        |    round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |        + 0.4 * least(len(regexp_extract_all(text, '\b(the|a|of|to|and|is|in)\b')) * 10.0 /
        |            greatest(len(regexp_extract_all(text, '\S+')), 1), 1.0)
        |        + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |            greatest(length(text), 1)), 4) AS quality
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents),
        |utf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
        |lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS term_count FROM utf GROUP BY term),
        |utot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM utf),
        |uterms AS (SELECT doc_id, tf,
        |    CAST(round(tf * ln(total * 1.0 / term_count) * 1e6) AS BIGINT) AS t6
        |  FROM utf JOIN lm USING (term) CROSS JOIN utot),
        |uni AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    round(sum(t6) * 1.0 / sum(tf) / 1e6, 4) AS u_nll
        |  FROM uterms GROUP BY doc_id),
        |tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |bg AS (SELECT doc_id, u.w1, u.w2 FROM tok,
        |       unnest([{'w1': t[i], 'w2': t[i + 1]} for i in range(1, len(t))]) AS s(u)
        |       WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM (SELECT DISTINCT unnest(t) AS term FROM tok)),
        |bterms AS (SELECT doc_id,
        |    CAST(round(-ln((c2 + 1.0) / (c1 + v)) * 1e6) AS BIGINT) AS t6
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
        |bi AS (SELECT doc_id, round(sum(t6) * 1.0 / count(*) / 1e6, 4) AS b_nll
        |  FROM bterms GROUP BY doc_id),
        |scored AS (
        |  SELECT qual.doc_id, source, COALESCE(uni.n_tokens, 0) AS n_tokens,
        |    quality >= 0.5 AS g1,
        |    quality >= 0.5 AND COALESCE(u_nll, 1e9) <= 3.45 AS g2,
        |    quality >= 0.5 AND COALESCE(u_nll, 1e9) <= 3.45
        |      AND COALESCE(b_nll, 1e9) <= 3.45 AS g3
        |  FROM qual LEFT JOIN uni ON uni.doc_id = qual.doc_id
        |  LEFT JOIN bi ON bi.doc_id = qual.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
        |  CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_unigram,
        |  CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bigram,
        |  round(sum(CASE WHEN g3 THEN n_tokens ELSE 0 END) * 1.0 /
        |    greatest(sum(n_tokens), 1), 4) AS token_frac
        |FROM scored GROUP BY source ORDER BY source""".stripMargin,
    // q113: mirrors TextAnalysis.bigramLogprob — Laplace-smoothed
    // bigram conditional, identical literals/association, per-doc mean
    // over 1e6-scaled long terms
    "q113_bigram_logprob" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |bg AS (SELECT doc_id, u.w1, u.w2 FROM tok,
        |       unnest([{'w1': t[i], 'w2': t[i + 1]} for i in range(1, len(t))]) AS s(u)
        |       WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |v AS (SELECT count(*) AS v FROM
        |      (SELECT DISTINCT unnest(t) AS term FROM tok)),
        |terms AS (SELECT doc_id,
        |    CAST(round(-ln((c2 + 1.0) / (c1 + v)) * 1e6) AS BIGINT) AS t6
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(t6) * 1.0 / count(*) / 1e6, 4) AS nll
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q97: per-(doc, term) contributions cross the unordered SUM as
    // 1e6-scaled longs (the q113 discipline) — exact under any
    // partitioning on both engines
    "q97_unigram_logprob" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
        |lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS term_count FROM tf GROUP BY term),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
        |terms AS (SELECT doc_id, tf,
        |    CAST(round(tf * ln(total * 1.0 / term_count) * 1e6) AS BIGINT) AS t6
        |  FROM tf JOIN lm USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(sum(t6) * 1.0 / sum(tf) / 1e6, 4) AS nll
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q118: mirrors Sampling.budgetAllocation — identical pow/association
    // (the q98 precedent for |sources|-row FP sums), allocations rounded
    // to whole tokens at the end
    "q118_budget_allocation" ->
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |st AS (SELECT sum(pow(n_tokens, 0.3)) AS sw, sum(n_tokens) AS total FROM s),
        |r1 AS (SELECT source, n_docs, n_tokens,
        |    pow(n_tokens, 0.3) AS w,
        |    1.0 * n_tokens AS cap,
        |    0.9 * total AS budget,
        |    0.9 * total * pow(n_tokens, 0.3) / sw AS a1,
        |    sw
        |  FROM s CROSS JOIN st),
        |r1c AS (SELECT *, a1 > cap AS capped FROM r1),
        |rd AS (SELECT sum(CASE WHEN capped THEN cap ELSE 0.0 END) AS capped_tok,
        |         sum(CASE WHEN NOT capped THEN w ELSE 0.0 END) AS nc_sw
        |       FROM r1c),
        |fin AS (SELECT source, n_docs, n_tokens, w, sw, capped,
        |    CASE WHEN capped THEN cap
        |         ELSE least((budget - capped_tok) * w / nc_sw, cap) END AS fin
        |  FROM r1c CROSS JOIN rd)
        |SELECT source, n_docs, n_tokens,
        |  round(w / sw, 6) AS mix_p, capped,
        |  CAST(round(fin, 0) AS BIGINT) AS alloc_tokens,
        |  round(CAST(round(fin, 0) AS BIGINT) * 1.0 / n_tokens, 4) AS epochs
        |FROM fin ORDER BY source""".stripMargin,
    "q98_source_mixing" ->
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(pow(n_tokens, 0.5)) AS total_w FROM s)
        |SELECT source, n_docs, n_tokens,
        |  round(pow(n_tokens, 0.5) / total_w, 6) AS mix_p,
        |  round(1000000 * pow(n_tokens, 0.5) / total_w / n_tokens, 4) AS epochs
        |FROM s CROSS JOIN t ORDER BY source""".stripMargin,
    "q37_sim_topk" -> (UnitVecCte + """
        |, scored AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
        |    list_sum([q.u[i] * e.u[i] for i in range(1, len(q.u) + 1)]) AS cos
        |  FROM u q JOIN u e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 5),
        |ranked AS (
        |  SELECT q_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin),
    // 8x8 is what adaptiveLshConfig derives across the whole n <= 4096
    // plateau (the gate corpus is 500 vectors; AdaptiveLshSpec pins the
    // band), so this static SQL stays equal to the adaptive Spark path
    "q38_ann_lsh" -> Q38Sql,
    // q164 serves q38's relation from the persisted artifact — the
    // artifact-vs-session-stage equivalence IS the gate, so the oracle
    // is q38's verbatim
    "q164_ann_lsh_persisted" -> Q38Sql,
    // q171 = q38's relation after the drift-rebuild: maintainGeometry
    // lands the artifact back on the adaptive plateau, whose serve is
    // the q38/q164 relation exactly — shared oracle, the q164 discipline
    "q171_ann_lsh_regeom" -> Q38Sql,
    // q172: the direct batch curation rule (q72's quality CTE + q31's
    // normalized fingerprint, vs-corpus anti-join on the q96 split,
    // min-doc_id keeper) — the artifact-backed path must keep exactly
    // this set
    "q172_curated_batch_from_index" ->
      """WITH q AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE (doc_id * 2654435761) % 100 < 30
        |    AND round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |      + 0.4 * least(len(regexp_extract_all(text, '\b(the|a|of|to|and|is|in)\b')) * 10.0 /
        |          greatest(len(regexp_extract_all(text, '\S+')), 1), 1.0)
        |      + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |          greatest(length(text), 1)), 4) >= 0.5),
        |held AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE (doc_id * 2654435761) % 100 >= 30),
        |qf AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM q),
        |fresh AS (SELECT qf.doc_id, qf.fp FROM qf ANTI JOIN held USING (fp))
        |SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp
        |ORDER BY doc_id""".stripMargin,
    // q174: q172's curation rule probed against the lifecycle-composed
    // store — held restricted to the SURVIVORS of the delete set (a
    // deleted doc re-appended with (doc_id*104729)%100 < 40 resurrects;
    // the rest stay expunged, so their fingerprints no longer kill).
    // The batch additionally carries re-keyed copies of every 7th held
    // doc (the corpus itself has zero duplicate fingerprints, so raw
    // docs would never exercise the kill): a copy kills iff its
    // original survived the lifecycle
    "q174_curated_batch_lifecycle" ->
      """WITH batch AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE (doc_id * 2654435761) % 100 < 30
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, n_chars FROM documents
        |  WHERE (doc_id * 2654435761) % 100 >= 30 AND doc_id % 7 = 0),
        |q AS (
        |  SELECT doc_id, text FROM batch
        |  WHERE round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |      + 0.4 * least(len(regexp_extract_all(text, '\b(the|a|of|to|and|is|in)\b')) * 10.0 /
        |          greatest(len(regexp_extract_all(text, '\S+')), 1), 1.0)
        |      + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |          greatest(length(text), 1)), 4) >= 0.5),
        |held AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE (doc_id * 2654435761) % 100 >= 30
        |    AND NOT ((doc_id * 7919) % 100 < 30 AND (doc_id * 104729) % 100 >= 40)),
        |qf AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM q),
        |fresh AS (SELECT qf.doc_id, qf.fp FROM qf ANTI JOIN held USING (fp))
        |SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp
        |ORDER BY doc_id""".stripMargin,
    // q165: the composed LSH lifecycle ≡ fresh rebuild of the
    // survivors (no trained state to freeze) — q38's chain with the
    // bucket relation (queries AND corpus) restricted to the
    // surviving vectors
    "q165_ann_lsh_composed" -> (UnitVecCte +
      lshCtes(bits = 8, nTables = 8, nQueries = 200,
        servedPred = "NOT ((vec_id * 7919) % 100 < 10 AND (vec_id * 104729) % 100 >= 50)") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // same ladder at the scale config (12 bits x 5 tables): bits*tables
    // still <= 64 dims, masks come from the same probeMasks function
    "q92_ann_lsh_scaled" -> (UnitVecCte + lshCtes(bits = 12, nTables = 5, nQueries = 200) + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q93: doc -> (shard, pack_seq, slot) assignment; same bucket ladder
    // as q91 (with an explicit NULL guard so a NULL text row stays NULL
    // in both engines instead of falling into the ELSE bucket), shard =
    // doc_id % 4 (sign-following % in both engines), rank/capacity
    // arithmetic in pure INTEGER division/modulo (DuckDB `//` ==
    // Spark `div` on the non-negative operands here) — no floating-point
    // dependency in the determinism argument
    "q93_pack_assignment" ->
      """WITH d AS (
        |  SELECT doc_id, source, len(regexp_extract_all(text, '\S+')) AS n_tok FROM documents),
        |b AS (
        |  SELECT doc_id, source, n_tok,
        |    CASE WHEN n_tok IS NULL THEN NULL
        |         WHEN n_tok > 64 THEN 128 WHEN n_tok <= 1 THEN 1 WHEN n_tok <= 2 THEN 2
        |         WHEN n_tok <= 4 THEN 4 WHEN n_tok <= 8 THEN 8 WHEN n_tok <= 16 THEN 16
        |         WHEN n_tok <= 32 THEN 32 ELSE 64 END AS bucket,
        |    doc_id % 4 AS shard
        |  FROM d),
        |r AS (
        |  SELECT doc_id, source, n_tok, CAST(bucket AS BIGINT) AS bucket,
        |    CAST(shard AS BIGINT) AS shard,
        |    row_number() OVER (PARTITION BY source, bucket, shard ORDER BY doc_id) - 1 AS rn
        |  FROM b)
        |SELECT doc_id, source, bucket, shard,
        |  CASE WHEN bucket = 128 THEN rn
        |       ELSE rn // (128 // bucket) END AS pack_seq,
        |  CASE WHEN bucket = 128 THEN CAST(0 AS BIGINT)
        |       ELSE rn % (128 // bucket) END AS slot,
        |  CAST(n_tok AS BIGINT) AS n_tok
        |FROM r ORDER BY doc_id""".stripMargin,
    // 16 centroids is what adaptiveIvfConfig derives across the whole
    // n <= 16384 plateau (the gate corpus is 500 vectors; AdaptiveIvfSpec
    // pins the band), so this static SQL stays equal to the adaptive
    // Spark path — the q38 precedent applied to the IVF rung
    "q39_ann_ivf" -> (UnitVecCte + ivfCtes(nQueries = 100) + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // same chain at the scale config (64 centroids, ~8-vector lists at
    // the 500-vector gate corpus): the codebook, Lloyd round and probe
    // ladder come from the same parameterized CTEs as q39
    "q120_ann_ivf_scaled" -> (UnitVecCte + ivfCtes(nQueries = 100, nCentroids = 64) + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q168: the flat-IVF lifecycle composed — the codebook trains on the
    // 70 % base split and stays frozen; the served inverted file (and
    // the query set) keep only the survivors of the delete/resurrection
    // rules; same CTE chain as q39 with the two predicates bound
    "q168_ann_ivf_composed" -> (UnitVecCte + ivfCtes(nQueries = 100,
        trainPred = "(vec_id * 2654435761) % 100 >= 30",
        servedPred = "NOT ((vec_id * 7919) % 100 < 10 AND (vec_id * 104729) % 100 >= 50)") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q129: the two-level chain — coarse CTEs shared with q39/q120,
    // then sub-seeds, sub-Lloyd, within-cell assignment and the 4x2
    // two-stage probe
    "q129_ann_ivf_two_level" -> (UnitVecCte +
      twoLevelIvfCtes(nCoarse = 8, nSub = 4, nProbe1 = 4, nProbe2 = 2, nQueries = 100) + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q131 = q129's construction served from the persisted artifact:
    // identical answers by design, so the oracle IS q129's
    "q131_ann_ivf_two_level_persisted" -> (UnitVecCte +
      twoLevelIvfCtes(nCoarse = 8, nSub = 4, nProbe1 = 4, nProbe2 = 2, nQueries = 100) + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q136 = the two-level chain with the codebook CTEs TRAINED on the
    // base split (q96's delta rule) while the inverted file assigns the
    // FULL corpus — the merge-equals-monolith contract of the
    // incremental index, expressed directly in the oracle
    "q136_ann_ivf_two_level_incremental" -> (UnitVecCte +
      twoLevelIndexCtes(nCoarse = 8, nSub = 4,
        trainPred = "(vec_id * 2654435761) % 100 >= 30") +
      twoLevelProbeCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, prefix = "") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q137: PQ training + encoding pinned directly — every (vector,
    // subspace) code must match the oracle's argmin-L2 over the
    // mirrored one-Lloyd-round codebook
    // residual PQ: the two-level index CTEs define the residuals the
    // codes quantize, so they precede pqCtes
    "q137_pq_codes" -> (UnitVecCte + twoLevelIndexCtes(nCoarse = 8, nSub = 4) +
      pqCtes(m = 8, k = 64) + """
        |SELECT vec_id, j AS subspace, code FROM pcodes
        |WHERE vec_id < 200
        |ORDER BY vec_id, subspace""".stripMargin),
    // q138: IVFADC + exact re-rank — two-level index CTEs + PQ CTEs +
    // the pq-prefixed probe cells, candidates scored by per-subspace
    // integer-micro ADC partials (order-free cross-engine sum), ADC
    // top-16 shortlist, exact-cosine top-3
    "q138_ann_ivfpq_rerank" -> Q138Sql,
    // q139 = q138 served from the persisted compressed artifact:
    // identical answers by design, so the oracle IS q138's
    "q139_ann_ivfpq_persisted" -> Q138Sql,
    // q173 = q138's relation after the codebook-drift rebuild:
    // maintainPqCodebooks retrains onto the live corpus, and the
    // deterministic full base build over it IS the fresh build the
    // q138 oracle describes — maintenance answer-pinned, like q171
    "q173_ann_ivfpq_retrained" -> Q138Sql,
    // q140: brute-force exact CTEs (q62's) + ONE index + PQ build, two
    // EXACT probe chains (c/d — the quantization references) and two
    // ADC chains (a/b) at the same budgets; quant_recall (ADC vs the
    // exact same-budget probe) carries the within_bound floor,
    // e2e_recall (vs brute force) rides along as evidence — the
    // verdict column is recomputed identically by the oracle
    "q140_ann_ivfpq_recall" -> (UnitVecCte + s"""
        |, xscored AS (
        |  SELECT q.vec_id AS q_id, e2.vec_id AS neighbor_id, ${cosSql("q.u", "e2.u")} AS cos
        |  FROM u q JOIN u e2 ON e2.vec_id <> q.vec_id
        |  WHERE q.vec_id < 100),
        |xranked AS (
        |  SELECT q_id, neighbor_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
        |  FROM xscored),
        |exact AS (SELECT q_id, neighbor_id FROM xranked WHERE rank <= 3)""".stripMargin
      + twoLevelIndexCtes(nCoarse = 8, nSub = 4) + pqCtes(m = 8, k = 64)
      + twoLevelProbeCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, prefix = "c")
      + twoLevelProbeCtes(nProbe1 = 6, nProbe2 = 3, nQueries = 100, prefix = "d")
      + pqAdcCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, rerank = 16, prefix = "a")
      + pqAdcCtes(nProbe1 = 6, nProbe2 = 3, nQueries = 100, rerank = 16, prefix = "b")
      + pqAdcCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, rerank = 64, prefix = "e") + """,
        |a3 AS (SELECT q_id, neighbor_id FROM axranked WHERE rank <= 3),
        |b3 AS (SELECT q_id, neighbor_id FROM bxranked WHERE rank <= 3),
        |e3 AS (SELECT q_id, neighbor_id FROM exranked WHERE rank <= 3),
        |c3 AS (SELECT q_id, neighbor_id FROM cranked WHERE rank <= 3),
        |d3 AS (SELECT q_id, neighbor_id FROM dranked WHERE rank <= 3)
        |SELECT method, n_ref, quant_hit,
        |  round(quant_hit * 1.0 / n_ref, 4) AS quant_recall,
        |  e2e_hit, round(e2e_hit * 1.0 / n_ref, 4) AS e2e_recall,
        |  CAST(CASE WHEN round(quant_hit * 1.0 / n_ref, 4) >=
        |    (CASE method WHEN 'pq_4x2_r64' THEN 0.9 ELSE 0.7 END)
        |    THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        |FROM (
        |  SELECT 'pq_4x2_r16' AS method,
        |    (SELECT count(*) FROM c3) AS n_ref,
        |    (SELECT CAST(sum(CASE WHEN a.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     FROM c3 x LEFT JOIN a3 a
        |       ON x.q_id = a.q_id AND x.neighbor_id = a.neighbor_id) AS quant_hit,
        |    (SELECT CAST(sum(CASE WHEN a.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     FROM exact x LEFT JOIN a3 a
        |       ON x.q_id = a.q_id AND x.neighbor_id = a.neighbor_id) AS e2e_hit
        |  UNION ALL
        |  SELECT 'pq_6x3_r16',
        |    (SELECT count(*) FROM d3),
        |    (SELECT CAST(sum(CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     FROM d3 x LEFT JOIN b3 b
        |       ON x.q_id = b.q_id AND x.neighbor_id = b.neighbor_id),
        |    (SELECT CAST(sum(CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     FROM exact x LEFT JOIN b3 b
        |       ON x.q_id = b.q_id AND x.neighbor_id = b.neighbor_id)
        |  UNION ALL
        |  SELECT 'pq_4x2_r64',
        |    (SELECT count(*) FROM c3),
        |    (SELECT CAST(sum(CASE WHEN e.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     FROM c3 x LEFT JOIN e3 e
        |       ON x.q_id = e.q_id AND x.neighbor_id = e.neighbor_id),
        |    (SELECT CAST(sum(CASE WHEN e.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |     FROM exact x LEFT JOIN e3 e
        |       ON x.q_id = e.q_id AND x.neighbor_id = e.neighbor_id))
        |ORDER BY method""".stripMargin),
    // q141 = the IVFADC chain with ALL THREE codebook levels (coarse,
    // sub, PQ) trained on the base split while encoding the full
    // corpus — q136's merge-equals-monolith contract carried through
    // the compressed layers
    "q141_ann_ivfpq_incremental" -> (UnitVecCte +
      twoLevelIndexCtes(nCoarse = 8, nSub = 4,
        trainPred = "(vec_id * 2654435761) % 100 >= 30") +
      pqCtes(m = 8, k = 64, trainPred = "(vec_id * 2654435761) % 100 >= 30") +
      pqAdcCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, rerank = 16, prefix = "p") + """
        |SELECT q_id, neighbor_id, round(cos, 4) AS cos_sim, rank
        |FROM pxranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),
    // q130: exact top-3 CTEs (q62's) + ONE two-level index build + two
    // prefixed probe chains at escalating budgets
    "q130_ann_recall_two_level" -> (UnitVecCte + s"""
        |, xscored AS (
        |  SELECT q.vec_id AS q_id, e2.vec_id AS neighbor_id, ${cosSql("q.u", "e2.u")} AS cos
        |  FROM u q JOIN u e2 ON e2.vec_id <> q.vec_id
        |  WHERE q.vec_id < 100),
        |xranked AS (
        |  SELECT q_id, neighbor_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
        |  FROM xscored),
        |exact AS (SELECT q_id, neighbor_id FROM xranked WHERE rank <= 3)""".stripMargin
      + twoLevelIndexCtes(nCoarse = 8, nSub = 4)
      + twoLevelProbeCtes(nProbe1 = 4, nProbe2 = 2, nQueries = 100, prefix = "a")
      + twoLevelProbeCtes(nProbe1 = 6, nProbe2 = 3, nQueries = 100, prefix = "b") + """,
        |a3 AS (SELECT q_id, neighbor_id FROM aranked WHERE rank <= 3),
        |b3 AS (SELECT q_id, neighbor_id FROM branked WHERE rank <= 3)
        |SELECT method, n_exact, n_hit, round(n_hit * 1.0 / n_exact, 4) AS recall
        |FROM (
        |  SELECT 'two_level_4x2' AS method, count(*) AS n_exact,
        |    CAST(sum(CASE WHEN a.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM exact x LEFT JOIN a3 a
        |    ON x.q_id = a.q_id AND x.neighbor_id = a.neighbor_id
        |  UNION ALL
        |  SELECT 'two_level_6x3', count(*),
        |    CAST(sum(CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM exact x LEFT JOIN b3 b
        |    ON x.q_id = b.q_id AND x.neighbor_id = b.neighbor_id)
        |ORDER BY method""".stripMargin),
    "q62_ann_recall" -> (UnitVecCte + s"""
        |, xscored AS (
        |  SELECT q.vec_id AS q_id, e2.vec_id AS neighbor_id, ${cosSql("q.u", "e2.u")} AS cos
        |  FROM u q JOIN u e2 ON e2.vec_id <> q.vec_id
        |  WHERE q.vec_id < 100),
        |xranked AS (
        |  SELECT q_id, neighbor_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
        |  FROM xscored),
        |exact AS (SELECT q_id, neighbor_id FROM xranked WHERE rank <= 3)""".stripMargin
      + lshCtes(bits = 8, nTables = 8, nQueries = 100, prefix = "l")
      + ivfCtes(nQueries = 100, prefix = "i") + """,
        |lsh AS (SELECT q_id, neighbor_id FROM lranked WHERE rank <= 3),
        |ivf AS (SELECT q_id, neighbor_id FROM iranked WHERE rank <= 3)
        |SELECT method, n_exact, n_hit, round(n_hit * 1.0 / n_exact, 4) AS recall
        |FROM (
        |  SELECT 'ivf' AS method, count(*) AS n_exact,
        |    CAST(sum(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM exact x LEFT JOIN ivf i
        |    ON x.q_id = i.q_id AND x.neighbor_id = i.neighbor_id
        |  UNION ALL
        |  SELECT 'lsh_mp', count(*),
        |    CAST(sum(CASE WHEN l.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM exact x LEFT JOIN lsh l
        |    ON x.q_id = l.q_id AND x.neighbor_id = l.neighbor_id)
        |ORDER BY method""".stripMargin),
    "q40_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(text::BLOB) AS n,
        |    greatest(octet_length(text::BLOB) % 640, 1) AS w,
        |    greatest((octet_length(text::BLOB) * 7) % 480, 1) AS h
        |  FROM documents)
        |SELECT doc_id, n AS n_bytes, w AS width, h AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  round((n * 31 % 256) / 255.0, 4) AS mean_pixel,
        |  CASE WHEN w >= h THEN 224 ELSE greatest(w * 224 // h, 1) END AS resized_w,
        |  CASE WHEN w >= h THEN greatest(h * 224 // w, 1) ELSE 224 END AS resized_h
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    "q42_frame_sample" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |  (doc_id * 1000003 + f * 7919) % 1000000007 AS frame_hash
        |FROM (SELECT doc_id, octet_length(text::BLOB) AS n_bytes FROM documents),
        |  unnest(range(0, (greatest(n_bytes, 1) - 1) // 100 + 1)) AS t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q47_range_join" ->
      """WITH bands AS (
        |  SELECT i AS band_id, (i * 1000 - 1000)::DOUBLE AS lo,
        |    (i * 1000 + 1500)::DOUBLE AS hi
        |  FROM (SELECT unnest(range(12)) AS i))
        |SELECT band_id, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_bal
        |FROM bands JOIN customer ON c_acctbal >= lo AND c_acctbal < hi
        |GROUP BY band_id
        |ORDER BY band_id""".stripMargin,
    "q48_pivot" ->
      """SELECT c_mktsegment,
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS rev_f,
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS rev_o,
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS rev_p
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q49_cube" ->
      // gid via IS NULL tests (neither column is genuinely null in the
      // data) — DuckDB's GROUPING_ID arg/bit conventions stay out of play
      """SELECT r_name, o_orderpriority,
        |  CAST(CASE WHEN r_name IS NULL THEN 2 ELSE 0 END
        |     + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
        |  round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, o_orderpriority)
        |ORDER BY gid, r_name NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    // q50/q55: the Spark side reduces each sketch to a deterministic
    // verdict relation (exact value + within_bound flag), so the oracle
    // is plain SQL with a constant 1 — a sketch drifting out of bound
    // flips the flag and fails the hash compare.
    "q50_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q55_approx_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 2) AS p50_exact,
        |  round(quantile_cont(value, 0.95), 2) AS p95_exact,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q51_activity_full_outer" ->
      """SELECT user_id, n_orders, order_value, n_events
        |FROM (SELECT o_custkey AS user_id, count(*) AS n_orders,
        |        round(sum(o_totalprice), 2) AS order_value
        |      FROM orders GROUP BY o_custkey) o
        |FULL OUTER JOIN (SELECT user_id, count(*) AS n_events
        |                 FROM events GROUP BY user_id) e
        |  USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q52_union_parties" ->
      """SELECT nationkey, count(*) AS n_parties
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      UNION ALL
        |      SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey
        |ORDER BY nationkey""".stripMargin,
    "q53_order_seasonality" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
        |  count(*) AS n_items,
        |  round(avg(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_ship_days
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_year, o_quarter
        |ORDER BY o_year, o_quarter""".stripMargin,
    "q54_promo_revenue" ->
      """SELECT p_brand,
        |  round(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2) AS promo_revenue,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q56_order_items_list" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list(l_partkey)), ',') AS partkeys,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY l_orderkey
        |HAVING count(*) >= 5
        |ORDER BY l_orderkey""".stripMargin,
    "q57_metrics_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |    round(sum(l_extendedprice), 2) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value
        |FROM (UNPIVOT agg ON sum_qty, sum_price INTO NAME metric VALUE value)
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q58_dedup_keepers" -> (MinhashCte + """,
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b),
        |losers AS (
        |  SELECT DISTINCT doc_b AS doc_id
        |  FROM inter
        |  JOIN counts ca ON ca.doc_id = doc_a
        |  JOIN counts cb ON cb.doc_id = doc_b
        |  WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) >= 0.5)
        |SELECT doc_id, lang, source
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin),
    // transitive closure via a recursive CTE mirrors Spark's min-label
    // propagation fixpoint: both converge to the component minimum
    "q59_dedup_clusters" -> (MinhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      ClusterCtes + """
        |SELECT cluster_rep, count(*) AS n_members
        |FROM per_doc
        |GROUP BY cluster_rep
        |HAVING count(*) >= 2
        |ORDER BY cluster_rep""".stripMargin),
    // q61: literal expected relation — the oracle for the converter path is
    // the reference's OWN semantics (Go strconv grammar, sample-based
    // inference), which no other engine's CSV reader reproduces. See
    // graft.ops.ConvertQueries for the fixture-to-row derivation.
    "q61_convert_roundtrip" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(1.5 AS DOUBLE), CAST(10 AS BIGINT), 'plain', CAST(NULL AS BIGINT), 'true', CAST(12345 AS DOUBLE), '0.5'),
        | (2, 3.0, 20, 'has, comma', NULL, 'false', CAST('9223372036854775808' AS DOUBLE), NULL),
        | (3, 1000.5, 30, 'say "hi"', NULL, 'true', -7.0, '0.75'),
        | (4, -225.0, 40, 'line1' || chr(10) || 'line2', NULL, 'false', 0.125, 'x1'),
        | (5, 0.5, 50, 'trailing space', NULL, 'true', 2.0, '1.0'),
        | (7, 10.0, 60, 'plain6', NULL, 'false', 3.0, '2'),
        | (8, 11.0, 70, 'after sample', NULL, 'true', 4.0, '3'),
        | (9, 12.0, NULL, 'not an int', NULL, 'false', 5.0, '4'),
        | (10, 13.0, 90, 'final', NULL, 'true', 6.0, '5')
        |) AS t(id, price_usd, qty_bought, note, empty_col, flagged, big_num, ratio)
        |ORDER BY id""".stripMargin,
    // q68: literal expected relation (see q61) — JSON-lines source through
    // primitivesAsString + nested-to-JSON-text + the reference lattice
    "q68_convert_json_roundtrip" ->
      """SELECT * FROM (VALUES
        | (CAST(1.5 AS DOUBLE), 'true', CAST(1 AS BIGINT), '{"k":"1"}', 'plain', '["a","b"]'),
        | (0.5, 'false', 2, '{"k":"2"}', 'hex amt', '["c"]'),
        | (CAST(NULL AS DOUBLE), 'true', 3, NULL, NULL, '[]'),
        | (NULL, NULL, 4, NULL, NULL, NULL),
        | (2.0, 'false', 5, '{"k":"3"}', 'end', '["d","e"]')
        |) AS t(amt, flag, id, meta, note, tags)
        |ORDER BY id""".stripMargin,
    // q69: n-gram decontamination — eval set = doc_id % 97 == 0; a train
    // doc is contaminated iff it shares a distinct word 5-gram with any
    // eval doc. Counts are over distinct (gram) / (eval doc) matches.
    "q69_decontaminate" -> DecontaminateSql,
    // q99 = q69's verdict through the Bloom-prefiltered plan; the filter
    // admits no false negatives and the confirm join kills its false
    // positives, so the ORACLE RELATION IS THE SAME — what differs (and
    // what the gate can't see) is the plan shape, pinned by
    // BloomDecontaminateSpec instead
    "q99_decontaminate_bloom" -> DecontaminateSql,
    // q90: identical first-10-token prefixes; clusters of 2+
    "q90_template_prefixes" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents)
        |SELECT array_to_string(t[1:10], ' ') AS prefix,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS example_id
        |FROM tok WHERE len(t) >= 10
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY prefix""".stripMargin,
    // q89: exact per-component quantize/dequantize; index-order error
    // folds; per-label averages cross the SUM as 1e9-scaled longs
    "q89_quantization_error" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT label, v, list_max([abs(x) for x in v]) AS s FROM e),
        |r AS (SELECT label,
        |        CASE WHEN s > 0
        |          THEN list_sum([abs(x - round(x / s * 127) * s / 127) for x in v]) / len(v)
        |          ELSE 0.0 END AS err
        |      FROM s)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(sum(CAST(round(err * 1e9) AS BIGINT)) / count(*) / 1e9, 6) AS avg_abs_err,
        |  round(max(CAST(round(err * 1e9) AS BIGINT)) / 1e9, 6) AS max_abs_err
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // q88: confirmed near-dup pairs bucketed by unordered source pair
    "q88_source_dup_matrix" -> (MinhashCte + """,
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b),
        |conf AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN counts ca ON ca.doc_id = doc_a
        |  JOIN counts cb ON cb.doc_id = doc_b
        |  WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) >= 0.5)
        |SELECT least(da.source, db.source) AS source_x,
        |  greatest(da.source, db.source) AS source_y,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM conf
        |JOIN documents da ON da.doc_id = conf.doc_a
        |JOIN documents db ON db.doc_id = conf.doc_b
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // q87: literal expected relation — drift_b's qty column ('x7') is
    // the one deviation from the 2-of-3 INT64 consensus
    "q87_schema_report" ->
      """SELECT * FROM (VALUES
        | ('drift_a.csv', 'id', 'INT64', 'INT64', CAST(0 AS BIGINT)),
        | ('drift_a.csv', 'note', 'STRING', 'STRING', 0),
        | ('drift_a.csv', 'price', 'DOUBLE', 'DOUBLE', 0),
        | ('drift_a.csv', 'qty', 'INT64', 'INT64', 0),
        | ('drift_b.csv', 'id', 'INT64', 'INT64', 0),
        | ('drift_b.csv', 'note', 'STRING', 'STRING', 0),
        | ('drift_b.csv', 'price', 'DOUBLE', 'DOUBLE', 0),
        | ('drift_b.csv', 'qty', 'STRING', 'INT64', 1),
        | ('drift_c.csv', 'extra', 'INT64', 'INT64', 0),
        | ('drift_c.csv', 'id', 'INT64', 'INT64', 0),
        | ('drift_c.csv', 'note', 'STRING', 'STRING', 0),
        | ('drift_c.csv', 'price', 'DOUBLE', 'DOUBLE', 0),
        | ('drift_c.csv', 'qty', 'INT64', 'INT64', 0)
        |) AS t(file, column_name, inferred_type, consensus_type, drift)
        |ORDER BY file, column_name""".stripMargin,
    // q86: |z| compares the ROUNDED z on both engines so last-ulp
    // moment differences cannot flip a boundary row
    "q86_hourly_anomalies" ->
      """WITH hourly AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma
        |  FROM hourly GROUP BY 1)
        |SELECT hour_start, event_type, n, round((n - mu) / sigma, 4) AS z
        |FROM hourly JOIN stats USING (event_type)
        |WHERE abs(round((n - mu) / sigma, 4)) > 2.0
        |ORDER BY hour_start, event_type""".stripMargin,
    // q85: transitions within q13's gap sessions; probabilities are
    // exact integer ratios rounded to 4
    "q85_path_transitions" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM t),
        |sess AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged),
        |steps AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id, session_id ORDER BY us, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM sess),
        |counts AS (
        |  SELECT prev_type, next_type, count(*) AS n FROM steps
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 4) AS p
        |FROM counts ORDER BY prev_type, next_type""".stripMargin,
    // q84: each (user, day) fact covers 7 report days; report days clamp
    // to the observed max so no partial-lookback tail is emitted
    "q84_rolling_active" ->
      """WITH f AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |mx AS (SELECT max(d) AS max_d FROM f),
        |r AS (SELECT user_id,
        |        unnest(range(d, d + INTERVAL 7 DAY, INTERVAL 1 DAY)) AS report_ts
        |      FROM f)
        |SELECT strftime(report_ts, '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        |FROM r, mx WHERE CAST(report_ts AS DATE) <= max_d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q83: literal expected relation — hand-derived from the quirks
    // fixture semantics (qty row 9 'oops' is the one true coercion;
    // ratio row 2 is whitespace-empty; empty_col is all-empty)
    "q83_cast_null_stats" ->
      """SELECT * FROM (VALUES
        | ('big_num',   CAST(9 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        | ('empty_col', 9, 9, 9, 0),
        | ('flagged',   9, 0, 0, 0),
        | ('id',        9, 0, 0, 0),
        | ('note',      9, 0, 0, 0),
        | ('price_usd', 9, 0, 0, 0),
        | ('qty_bought', 9, 0, 1, 1),
        | ('ratio',     9, 1, 1, 0)
        |) AS t(column_name, n_rows, n_empty_in, n_null_out, n_coerced)
        |ORDER BY column_name""".stripMargin,
    // q91: length-bucketed packing into 128-token sequences; bucket via
    // an explicit comparison ladder (log2 formulations can differ by an
    // ulp at boundaries across engines), pack math exact small-integer
    "q91_length_packing" ->
      """WITH d AS (
        |  SELECT source, len(regexp_extract_all(text, '\S+')) AS n_tok FROM documents),
        |b AS (
        |  SELECT source, n_tok,
        |    CASE WHEN n_tok IS NULL THEN NULL
        |         WHEN n_tok > 64 THEN 128 WHEN n_tok <= 1 THEN 1 WHEN n_tok <= 2 THEN 2
        |         WHEN n_tok <= 4 THEN 4 WHEN n_tok <= 8 THEN 8 WHEN n_tok <= 16 THEN 16
        |         WHEN n_tok <= 32 THEN 32 ELSE 64 END AS bucket
        |  FROM d),
        |g AS (
        |  SELECT source, CAST(bucket AS BIGINT) AS bucket,
        |    count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |    CAST(sum(CAST(ceil(n_tok / 128.0) AS BIGINT)) AS BIGINT) AS long_packs
        |  FROM b GROUP BY 1, 2),
        |p AS (
        |  SELECT source, bucket, n_docs, sum_tok,
        |    CASE WHEN bucket = 128 THEN long_packs
        |         ELSE CAST(ceil(n_docs * bucket / 128.0) AS BIGINT) END AS n_packs
        |  FROM g)
        |SELECT source, bucket, n_docs, n_packs,
        |  CAST(n_packs * 128 - sum_tok AS BIGINT) AS pad_tokens,
        |  floor(sum_tok / (n_packs * 128.0) * 10000 + 0.5) / 10000.0 AS fill_ratio
        |FROM p ORDER BY source, bucket""".stripMargin,
    // q82: 128-token context windows; ceil over integer token counts
    "q82_chunk_stats" ->
      """WITH d AS (
        |  SELECT source, len(regexp_extract_all(text, '\S+')) AS n_tok,
        |    CAST(ceil(len(regexp_extract_all(text, '\S+')) / 128.0) AS BIGINT) AS n_chunks
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(n_chunks * 128 - n_tok) AS BIGINT) AS pad_tokens,
        |  floor(sum(n_tok) / (sum(n_chunks) * 128.0) * 10000 + 0.5) / 10000.0 AS fill_ratio
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    // q81: both engines truncate weeks to Monday; offsets are exact
    // integer day arithmetic
    "q81_cohort_retention" ->
      """WITH w AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
        |  CAST((w.wk - c.cohort) // 7 AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q80: sweep-line peak concurrency; end+1µs exclusive bounds and
    // per-(day, µs) delta netting remove every tie-break ambiguity
    "q80_max_concurrency" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM t),
        |sess AS (
        |  SELECT user_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id, us
        |  FROM flagged),
        |iv AS (SELECT user_id, session_id, min(us) AS s_us, max(us) AS e_us FROM sess GROUP BY 1, 2),
        |days AS (
        |  SELECT s_us, e_us,
        |    unnest(range(CAST(to_timestamp(s_us / 1000000) AS DATE),
        |                 CAST(to_timestamp(e_us / 1000000) AS DATE) + INTERVAL 1 DAY,
        |                 INTERVAL 1 DAY)) AS day_ts
        |  FROM iv),
        |clipped AS (
        |  SELECT strftime(day_ts, '%Y-%m-%d') AS day,
        |    greatest(s_us, epoch_us(day_ts)) AS cs,
        |    least(e_us, epoch_us(day_ts + INTERVAL 1 DAY) - 1) AS ce
        |  FROM days),
        |deltas AS (
        |  SELECT day, cs AS us, 1 AS d FROM clipped
        |  UNION ALL SELECT day, ce + 1, -1 FROM clipped),
        |net AS (SELECT day, us, sum(d) AS nd FROM deltas GROUP BY 1, 2),
        |run AS (SELECT day,
        |    sum(nd) OVER (PARTITION BY day ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM net)
        |SELECT day, CAST(max(conc) AS BIGINT) AS max_concurrent
        |FROM run GROUP BY day ORDER BY day""".stripMargin,
    // q79: merge accounting on the normalization fingerprint; delta =
    // doc_id % 10 in {8, 9}
    "q79_delta_merge" ->
      """WITH f AS (
        |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
        |    CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END AS is_delta
        |  FROM documents),
        |g AS (SELECT fp, max(is_delta) AS has_delta, max(1 - is_delta) AS has_base FROM f GROUP BY 1)
        |SELECT
        |  CAST(count(*) FILTER (WHERE has_base = 1 AND has_delta = 0) AS BIGINT) AS n_base_kept,
        |  CAST(count(*) FILTER (WHERE has_base = 1 AND has_delta = 1) AS BIGINT) AS n_replaced,
        |  CAST(count(*) FILTER (WHERE has_base = 0 AND has_delta = 1) AS BIGINT) AS n_inserted,
        |  CAST(count(*) AS BIGINT) AS final_corpus
        |FROM g""".stripMargin,
    // q78: exact integer-scaled sums cross the unordered aggregates; the
    // only double fold (centroid norm) runs in sorted component order
    "q78_label_centroids" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT label, count(*) AS n_vecs,
        |        sum(CAST(round(sqrt(list_sum([x * x for x in v])) * 1e6) AS BIGINT)) AS snsum
        |      FROM e GROUP BY 1),
        |px AS (SELECT label, u.pos AS pos, u.x AS x FROM e,
        |       unnest([{'pos': i, 'x': v[i]} for i in range(1, len(v) + 1)]) AS t(u)),
        |sv AS (SELECT label, pos, sum(CAST(round(x * 1e6) AS BIGINT)) AS sv FROM px GROUP BY 1, 2),
        |cent AS (SELECT label, list(sv ORDER BY pos) AS svs FROM sv GROUP BY 1)
        |SELECT n.label, n.n_vecs,
        |  round(snsum / n_vecs / 1e6, 4) AS avg_norm,
        |  round(sqrt(list_sum([(s / n_vecs / 1e6) ** 2 for s in svs])), 4) AS centroid_norm
        |FROM n JOIN cent USING (label) ORDER BY label""".stripMargin,
    // q77: degree histogram of the confirmed near-dup graph (q33's
    // verified pairs), the pre-clustering shape diagnostic
    "q77_dupgraph_degrees" -> (MinhashCte + """,
        |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS n_inter
        |  FROM cand
        |  JOIN sh wa ON wa.doc_id = doc_a
        |  JOIN sh wb ON wb.doc_id = doc_b AND wa.sh = wb.sh
        |  GROUP BY doc_a, doc_b),
        |conf AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN counts ca ON ca.doc_id = doc_a
        |  JOIN counts cb ON cb.doc_id = doc_b
        |  WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) >= 0.5),
        |sym AS (SELECT doc_a AS d FROM conf UNION ALL SELECT doc_b FROM conf),
        |deg AS (SELECT d, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY d)
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),
    // q76: one named counter per invariant; non-zero = alert (the
    // doc↔embedding coverage counters are corpus facts, not failures)
    "q76_integrity_audit" ->
      """SELECT 'null_or_empty_text' AS check_name,
        |  CAST(count(*) FILTER (WHERE text IS NULL OR length(text) = 0) AS BIGINT) AS n_bad FROM documents
        |UNION ALL SELECT 'dup_doc_id', CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) FROM documents
        |UNION ALL SELECT 'n_chars_mismatch', CAST(count(*) FILTER (WHERE n_chars <> length(text)) AS BIGINT) FROM documents
        |UNION ALL SELECT 'null_embedding', CAST(count(*) FILTER (WHERE embedding IS NULL) AS BIGINT) FROM embeddings
        |UNION ALL SELECT 'bad_embedding_dim', CAST(count(*) FILTER (WHERE embedding IS NOT NULL AND len(embedding) <> 64) AS BIGINT) FROM embeddings
        |UNION ALL SELECT 'doc_missing_embedding', CAST(count(*) AS BIGINT)
        |  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id WHERE e.vec_id IS NULL
        |UNION ALL SELECT 'orphan_embedding', CAST(count(*) AS BIGINT)
        |  FROM embeddings e LEFT JOIN documents d ON d.doc_id = e.vec_id WHERE d.doc_id IS NULL
        |ORDER BY check_name""".stripMargin,
    // q75: the oracle recomputes the synthesis parameters (timescale by
    // doc_id, duration = 10 x payload bytes); the engine must parse them
    // back out of real ISO-BMFF boxes to agree
    "q75_video_meta" ->
      """SELECT doc_id,
        |  600 + (doc_id % 4) * 300 AS timescale,
        |  octet_length(text::BLOB) * 10 AS duration,
        |  octet_length(text::BLOB) AS mdat_bytes,
        |  (octet_length(text::BLOB) * 10 * 1000) // (600 + (doc_id % 4) * 300) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q74: deterministic top-20 corpus bigrams (tie-break on the bigram
    // string fixes the k-set)
    "q74_top_ngrams" ->
      """WITH tok AS (SELECT regexp_extract_all(text, '\S+') AS t FROM documents),
        |bg AS (SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |       FROM tok WHERE len(t) >= 2)
        |SELECT bg, count(*) AS n FROM bg
        |GROUP BY bg ORDER BY n DESC, bg LIMIT 20""".stripMargin,
    // q73: each stage is the earliest qualifying event within 24h of the
    // previous stage; the oracle chains them through join-aggregate CTEs
    // (engine side: chained conditional window minima, one shuffle)
    "q73_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END) AS t1 FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND us > t1 AND us <= t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND us > t2 AND us <= t2 + 86400000000 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(us) AS t4 FROM e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t3 AND us <= t3 + 86400000000 GROUP BY 1)
        |SELECT count(*) AS n_users,
        |  count(t1) AS n_signup, count(t2) AS n_view,
        |  count(t3) AS n_click, count(t4) AS n_purchase,
        |  CAST(coalesce(sum(t4 - t1), 0) AS BIGINT) AS sum_convert_us
        |FROM s1
        |LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |LEFT JOIN s4 USING (user_id)""".stripMargin,
    // q72: the composed pipeline — quality gate (q23's score) ->
    // keep-min normalized dedup (q31's fingerprint) -> decontamination
    // (q69's verdict over the full corpus) -> per-(lang, source) corpus
    // accounting
    "q72_curation_pipeline" ->
      """WITH q AS (
        |  SELECT * FROM documents
        |  WHERE round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |      + 0.4 * least(len(regexp_extract_all(text, '\b(the|a|of|to|and|is|in)\b')) * 10.0 /
        |          greatest(len(regexp_extract_all(text, '\S+')), 1), 1.0)
        |      + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |          greatest(length(text), 1)), 4) >= 0.5),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM q
        |  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')))),
        |tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
        |                for i in range(1, len(t) - 3)]) AS gram
        |      FROM tok WHERE len(t) >= 5),
        |contaminated AS (
        |  SELECT DISTINCT tr.doc_id
        |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0) tr
        |  JOIN (SELECT gram FROM g WHERE doc_id % 97 = 0) ev USING (gram)),
        |clean AS (
        |  SELECT q.* FROM q JOIN keep USING (doc_id)
        |  WHERE q.doc_id % 97 <> 0 AND q.doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens,
        |  min(doc_id) AS first_id
        |FROM clean GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q175: the q72 keeper chain + the q101 permutation (nib 1) + the
    // manifest aggregation — the accounting a FULL export of the keeper
    // corpus ships; the engine side serves it from the incrementally
    // maintained artifact
    "q175_export_manifest_incremental" ->
      """WITH q AS (
        |  SELECT * FROM documents
        |  WHERE round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |      + 0.4 * least(len(regexp_extract_all(text, '\b(the|a|of|to|and|is|in)\b')) * 10.0 /
        |          greatest(len(regexp_extract_all(text, '\S+')), 1), 1.0)
        |      + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0 /
        |          greatest(length(text), 1)), 4) >= 0.5),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id FROM q
        |  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')))),
        |tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
        |                for i in range(1, len(t) - 3)]) AS gram
        |      FROM tok WHERE len(t) >= 5),
        |contaminated AS (
        |  SELECT DISTINCT tr.doc_id
        |  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0) tr
        |  JOIN (SELECT gram FROM g WHERE doc_id % 97 = 0) ev USING (gram)),
        |clean AS (
        |  SELECT q.* FROM q JOIN keep USING (doc_id)
        |  WHERE q.doc_id % 97 <> 0 AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |k2 AS (SELECT doc_id, n_chars,
        |    len(regexp_extract_all(text, '\S+')) AS n_tok,
        |    md5('shuffle|' || doc_id) AS h FROM clean),
        |s AS (SELECT *, CAST(strpos('0123456789abcdef', substring(h, 1, 1)) - 1 AS BIGINT) AS shard
        |      FROM k2),
        |p AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM s)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    // q70: literal expected relation (the fixture pins the regex
    // semantics; Spark-side redaction is plain regexp_replace chains)
    "q70_pii_redact" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'Contact <EMAIL> for details'),
        | (2, 0, 0, 2, 0, 'Call <PHONE> or <PHONE> today'),
        | (3, 0, 1, 0, 1, 'SSN <SSN> leaked from <IP>'),
        | (4, 2, 0, 0, 0, '<EMAIL> and <EMAIL> wrote'),
        | (5, 0, 0, 0, 0, 'no pii here just words'),
        | (6, 0, 0, 0, 2, 'server <IP> pinged <IP>'),
        | (7, 1, 1, 1, 1, 'mixed: <EMAIL>, <SSN>, <PHONE>, <IP>'),
        | (8, 0, 0, 0, 0, ''),
        | (9, 1, 0, 0, 0, 'leak <EMAIL> now')
        |) AS t(id, n_emails, n_ssns, n_phones, n_ips, redacted)
        |ORDER BY id""".stripMargin,
    // q71: the oracle recomputes the deterministic synthesis parameters
    // (rate/channels by doc_id, data truncated to a 4-byte multiple with
    // a 4-byte floor) — the engine side must PARSE them back out of real
    // RIFF/WAVE bytes to agree.
    "q71_audio_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    8000 + (doc_id % 3) * 4000 AS sample_rate,
        |    1 + (doc_id % 2) AS channels,
        |    greatest(octet_length(text::BLOB) // 4 * 4, 4) AS data_len
        |  FROM documents)
        |SELECT doc_id, sample_rate, channels,
        |  CAST(16 AS BIGINT) AS bits_per_sample,
        |  data_len // (channels * 2) AS n_samples,
        |  (data_len // (channels * 2)) * 1000 // sample_rate AS duration_ms
        |FROM m ORDER BY doc_id""".stripMargin,
    "q63_repetition" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        |       FROM tok WHERE len(t) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  round(1.0 - count(*) * 1.0 / sum(n), 4) AS dup_ratio,
        |  round(max(n) * 1.0 / sum(n), 4) AS top_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q64: the p·ln p fold runs in sorted-char order on BOTH engines
    // (sequential list_reduce / aggregate-HOF) — an unordered double SUM
    // would vary in the last ulp with partitioning
    "q64_char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest([c for c in regexp_split_to_array(text, '') if c <> '']) AS ch
        |  FROM documents),
        |cc AS (SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY doc_id, ch),
        |d AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
        |        list(cnt ORDER BY ch) AS dist
        |      FROM cc GROUP BY doc_id)
        |SELECT doc_id, n_chars,
        |  round(-list_reduce(
        |      list_prepend(CAST(0.0 AS DOUBLE),
        |        [(x * 1.0 / n_chars) * ln(x * 1.0 / n_chars) for x in dist]),
        |      (acc, v) -> acc + v) / ln(2), 4) AS entropy_bits
        |FROM d ORDER BY doc_id""".stripMargin,
    "q65_tfidf_top" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM w) GROUP BY term),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln((SELECT count(*) FROM documents) * 1.0 / df), 6) AS tfidf
        |  FROM tf JOIN df USING (term)),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, round(tfidf, 4) AS tfidf, rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q66_stratified_sample" ->
      """WITH s AS (SELECT lang,
        |    (doc_id * 2654435761) % 100 < (CASE WHEN lang = 'en' THEN 20 ELSE 50 END) AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  round(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS frac
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "q67_canonical_keepers" -> (MinhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      ClusterCtes + s""",
        |qual AS (
        |  SELECT doc_id,
        |    round(0.4 * least(n_chars * 1.0 / 500.0, 1.0)
        |        + 0.4 * least(len(regexp_extract_all(text, '\\b(the|a|of|to|and|is|in)\\b')) * 10.0 /
        |            greatest(len(regexp_extract_all(text, '\\S+')), 1), 1.0)
        |        + 0.2 * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0 /
        |            greatest(length(text), 1)), 4) AS q
        |  FROM documents),
        |r AS (SELECT p.cluster_rep, p.doc_id, qual.q,
        |        row_number() OVER (PARTITION BY p.cluster_rep ORDER BY qual.q DESC, p.doc_id) AS rn,
        |        count(*) OVER (PARTITION BY p.cluster_rep) AS n
        |      FROM per_doc p JOIN qual ON qual.doc_id = p.doc_id)
        |SELECT cluster_rep, doc_id AS keep_id, q AS quality, CAST(n AS BIGINT) AS n_dups
        |FROM r WHERE rn = 1 AND n >= 2
        |ORDER BY keep_id""".stripMargin),
    "q60_stats_suite" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
        |  round(stddev_samp(l_quantity), 4) AS qty_stddev,
        |  round(var_samp(l_discount), 6) AS disc_var
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // q148/q149: the Spark side serves distinct-user estimates from the
    // persisted daily HLL rollup and reduces them to a verdict relation
    // (exact answers + within_bound), so the oracle is the raw-table
    // exact aggregate with a constant 1 — a sketch out of bound, a
    // lossy count merge, or a broken day append flips the flag and
    // fails the hash. q149 (incremental build) runs under the SAME
    // oracle: HLL union is lossless, merged ≡ monolithic exactly.
    "q148_sketch_distinct_rollup" -> SketchRollupSql,
    "q149_sketch_rollup_incremental" -> SketchRollupSql,
    "q153_sketch_rollup_corrected" -> SketchRollupSql,
    // q154: exact DAU/WAU per day with a constant flag — the rolling-
    // window sketch estimates are checked in Spark, never hashed
    "q154_rolling_actives" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |d AS (SELECT DISTINCT day FROM e)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e WHERE e.day = d.day) AS dau_exact,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e
        |     WHERE e.day BETWEEN d.day - 6 AND d.day) AS wau_exact,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM d
        |ORDER BY day""".stripMargin,
    // q150: exact heavy hitters (integer threshold: cnt·κ > n) with a
    // constant captured flag — the Spark side sets it from the MG
    // candidate set and the undercount bound, both theorems for any
    // partition layout, so a broken sketch fails the hash compare.
    // q152: the KLL range-quantile verdict — exact interpolated
    // percentiles per (range, event_type) (the q55-proven cross-engine
    // pair at 2 decimals) + constant flag; a sketch estimate whose
    // exact rank drifts past the 5 % tolerance flips the flag
    "q152_kll_range_quantiles" ->
      """SELECT CAST(1 AS BIGINT) AS range_id, event_type,
        |  CAST(count(value) AS BIGINT) AS n_values,
        |  round(quantile_cont(value, 0.5), 2) AS p50_exact,
        |  round(quantile_cont(value, 0.95), 2) AS p95_exact,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-15'
        |GROUP BY event_type
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, CAST(count(value) AS BIGINT),
        |  round(quantile_cont(value, 0.5), 2), round(quantile_cont(value, 0.95), 2),
        |  CAST(1 AS BIGINT)
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-01' AND CAST(ts AS DATE) < DATE '2024-02-01'
        |GROUP BY event_type
        |ORDER BY range_id, event_type""".stripMargin,
    // q155: churn twin of q151 — exact week-A actives and the A\B
    // anti-join count, constant flag
    "q155_theta_churn" ->
      """WITH a AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-15'),
        |b AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-15' AND CAST(ts AS DATE) < DATE '2024-01-22')
        |SELECT ea.event_type, ea.exact_a,
        |  COALESCE(ch.exact_churned, CAST(0 AS BIGINT)) AS exact_churned,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_a FROM a GROUP BY event_type) ea
        |LEFT JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_churned
        |           FROM a ANTI JOIN b USING (event_type, user_id) GROUP BY event_type) ch
        |  USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // q151: the theta-sketch retention verdict — exact per-type
    // distinct users for week A, week B, and their intersection, flag
    // constant 1; an intersection estimate drifting past 10 % (or a
    // broken sketch merge) flips the flag and fails the hash
    "q151_theta_retention" ->
      """WITH a AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-15'),
        |b AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-15' AND CAST(ts AS DATE) < DATE '2024-01-22')
        |SELECT ea.event_type,
        |  ea.exact_a, eb.exact_b, COALESCE(ib.exact_both, CAST(0 AS BIGINT)) AS exact_both,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_a FROM a GROUP BY event_type) ea
        |JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_b FROM b GROUP BY event_type) eb
        |  USING (event_type)
        |LEFT JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_both
        |           FROM a JOIN b USING (event_type, user_id) GROUP BY event_type) ib
        |  USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q150_heavy_hitters_mg" ->
      """WITH t AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS term FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_count FROM t GROUP BY term),
        |n AS (SELECT CAST(sum(exact_count) AS BIGINT) AS n_total FROM c)
        |SELECT term, exact_count, CAST(1 AS BIGINT) AS captured_bounded
        |FROM c, n WHERE exact_count * 500 > n_total
        |ORDER BY term""".stripMargin,
    // q157: exact mean-relative heavy hitters per (range, event_type)
    // with a constant captured flag — the Spark side sets it from the
    // merged LongsSketch's lower/upper bound theorem, which holds for
    // any merge order; a broken sketch merge or serve flips the flag
    "q157_range_heavy_hitters" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type, user_id FROM events),
        |r1 AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS exact_count FROM e
        |       WHERE day >= DATE '2024-01-08' AND day < DATE '2024-01-15' GROUP BY 1, 2),
        |n1 AS (SELECT event_type, sum(exact_count) AS n, count(*) AS u FROM r1 GROUP BY 1),
        |r2 AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS exact_count FROM e
        |       WHERE day >= DATE '2024-01-01' AND day < DATE '2024-02-01' GROUP BY 1, 2),
        |n2 AS (SELECT event_type, sum(exact_count) AS n, count(*) AS u FROM r2 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS range_id, event_type, user_id, exact_count,
        |  CAST(1 AS BIGINT) AS captured_bounded
        |FROM r1 JOIN n1 USING (event_type) WHERE exact_count * u > 2 * n
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), event_type, user_id, exact_count, CAST(1 AS BIGINT)
        |FROM r2 JOIN n2 USING (event_type) WHERE exact_count * u > 2 * n
        |ORDER BY range_id, event_type, user_id""".stripMargin,
  )

  /** Shared q148/q149 oracle: exact distinct users + event counts per
    * (range, event_type) straight off the raw events table. */
  private lazy val SketchRollupSql =
    """SELECT CAST(1 AS BIGINT) AS range_id, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  CAST(1 AS BIGINT) AS within_bound
      |FROM events
      |WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-15'
      |GROUP BY event_type
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), event_type, CAST(count(*) AS BIGINT),
      |  CAST(count(DISTINCT user_id) AS BIGINT), CAST(1 AS BIGINT)
      |FROM events
      |WHERE CAST(ts AS DATE) >= DATE '2024-01-01' AND CAST(ts AS DATE) < DATE '2024-02-01'
      |GROUP BY event_type
      |ORDER BY range_id, event_type""".stripMargin
}
