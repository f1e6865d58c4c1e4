package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the complete operator surface (SURVEY.md §2) expressed
  * over the driver test tables; `oracleSql` is the DuckDB-dialect
  * equivalent the driver hash-compares against. Aliases and rounding are
  * kept identical on both sides (the driver sorts columns by name before
  * hashing values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.localSupplierVolume(spark, "/root/testdata/sf0.001")

  /** Queries REGISTERED WITHOUT an oracle, each with the reason it is
    * not SQL-oracle-expressible. The registration gate
    * (RegistrationGateSpec) asserts `queries.keySet` is EXACTLY
    * `oracleSql.keySet ∪ rowsOnly.keySet` (disjoint) — so no query can
    * ship unchecked-by-omission again (the r6 q187-q189 drift). Every
    * entry here must still carry a bound/recompute spec; the reason
    * string names it. */
  val rowsOnly: Map[String, String] = Map(
    "q37_event_sketches" ->
      ("approximate sketches (HLL/CPC) — nondeterministic vs exact SQL; " +
        "error-bound spec in SketchSpec"),
    "q66_heavy_users" ->
      "approx_count_distinct inside the query — bound spec in SketchSpec",
    "q74_user_reach_sketch" ->
      ("HLL reach estimates — bound-vs-exact spec in SketchSpec " +
        "(tightened against q189's exact WAU this round)"),
    "q90_decon_bloom" ->
      ("one-sided Bloom filter — false-positive side has no SQL twin; " +
        "one-sidedness + fp-rate spec in DedupSpec"),
    "q96_quality_classifier" ->
      ("learned logistic weights (iterative fit) — recompute spec in " +
        "CurationSpec pins the training trajectory"),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Queries.pricingSummary _),
    "q02_scan_filter_project" -> (Queries.scanFilterProject _),
    "q03_join_orders_customer" -> (Queries.joinOrdersCustomer _),
    "q04_join_nation_region" -> (Queries.joinNationRegion _),
    "q05_global_max" -> (Queries.globalMax _),
    "q06_global_counts" -> (Queries.globalCounts _),
    "q07_global_means" -> (Queries.globalMeans _),
    "q08_distinct_values" -> (Queries.distinctValues _),
    "q09_normalize_by_max" -> (Queries.normalizeByMax _),
    "q10_top_orders" -> (Queries.topOrders _),
    "q11_window_top_per_customer" -> (Queries.windowTopPerCustomer _),
    "q12_semi_join_customers" -> (Queries.semiJoinCustomers _),
    "q13_anti_join_customers" -> (Queries.antiJoinCustomers _),
    "q14_union_high_value" -> (Queries.unionHighValue _),
    "q15_group_having" -> (Queries.groupHaving _),
    "q16_shipping_priority" -> (Queries.shippingPriority _),
    "q17_local_supplier_volume" -> (Queries.localSupplierVolume _),
    "q18_events_hourly" -> (Queries.eventsHourly _),
    "q19_events_sessionize" -> (Queries.eventsSessionize _),
    "q20_orders_by_month" -> (Queries.ordersByMonth _),
    "q21_dedup_exact" -> (Dedup.exact _),
    "q22_dedup_ngram_jaccard" -> (Dedup.ngramJaccard _),
    "q23_dedup_minhash_lsh" -> (Dedup.minhashNearDup _),
    "q24_dedup_simhash" -> (Dedup.simhash _),
    "q25_dedup_embedding_cosine" -> (Dedup.embeddingNearDup _),
    "q26_knn_bruteforce" -> (Similarity.bruteForceTopK _),
    "q27_knn_lsh" -> (Similarity.lshTopK _),
    "q28_text_langid" -> (TextAnalysis.langId _),
    "q29_text_quality" -> (TextAnalysis.qualityScore _),
    "q30_text_token_stats" -> (TextAnalysis.tokenStats _),
    "q31_text_fingerprint" -> (TextAnalysis.fingerprint _),
    "q32_media_metadata" -> (Multimodal.mediaMetadata _),
    // IVF ANN over the persisted index. The index clusters with the
    // deterministic fixed-round integer Lloyd (Similarity.lloyd), so
    // cells, probe selection, and scoring all replay in the oracle —
    // fully hash-checked since round 5 (rows-only before).
    "q33_knn_ivf" -> ((s: SparkSession, dir: String) => Similarity.ivfTopK(s, dir)),
    "q34_orders_rollup" -> (Queries.ordersRollup _),
    // sketches (HLL++/percentile_approx) are engine-specific: rows-only
    // driver check; SketchSpec bounds error vs exact answers.
    "q37_event_sketches" -> (Queries.eventSketches _),
    "q35_text_scalars" -> (Queries.textScalars _),
    "q36_full_outer" -> (Queries.fullOuterAccounting _),
    // exact top-k via bounded-heap TypedImperativeAggregate — same
    // result contract as q26, same oracle
    "q38_knn_topk_agg" -> (Similarity.bruteForceTopKAgg _),
    "q39_orders_cube" -> (Queries.ordersCube _),
    "q40_running_totals" -> (Queries.runningTotals _),
    "q41_date_parts" -> (Queries.orderDateParts _),
    "q42_pivot_by_status" -> (Queries.ordersPivotByStatus _),
    // exact twin of q37: count/distinct/median hash-checked; the sketch
    // columns stay rows-only + SketchSpec-bounded
    "q43_event_exact_stats" -> (Queries.eventExactStats _),
    // temporal joins composed scale-safe (union+window / bucket blocking)
    "q44_asof_join" -> (operators.TemporalJoins.asofJoin _),
    "q45_range_join_agg" -> (operators.TemporalJoins.rangeJoinAgg _),
    // PPJoin-style prefix-filtered exact Jaccard — same contract as q22
    // through a skew-robust candidate index; same oracle
    "q46_dedup_jaccard_prefix" -> (Dedup.ngramJaccardPrefix _),
    // BPE-ish regex pre-tokenization counts (letters/digits/punct runs)
    "q47_text_subwords" -> (TextAnalysis.subwordStats _),
    // int8-quantized coarse scan + exact re-rank (quantized scores are
    // exact integer arithmetic — candidate sets hash-match the oracle)
    "q48_knn_int8" -> ((s: SparkSession, dir: String) => Similarity.int8TopK(s, dir)),
    // connected components over the q23 near-dup pair graph → canonical
    // doc per duplicate cluster (oracle: DuckDB recursive CTE closure)
    "q49_dedup_clusters" -> (Dedup.nearDupClusters _),
    // content-hash-keyed stratified sampling (mixture rebalance, zero
    // shuffle, reproducible under re-ingestion)
    "q50_sample_stratified" -> (Curation.stratifiedSample _),
    // concat-and-chunk context-window packing (per-lang running sums)
    "q51_pack_windows" -> (Curation.packWindows _),
    // ANALYZE-style column profiler: unpivot + one exact hash-agg pass
    "q52_profile_columns" -> (Queries.profileColumns _),
    // weighted-term search: zero-shuffle tf scoring + TakeOrdered top-k
    "q53_term_search" -> (TextAnalysis.termSearch _),
    // content-keyed mixture upweighting (fractional epochs, >=1x langs)
    "q54_sample_upweight" -> (Curation.upsample _),
    // benchmark-leakage scan: 4-gram overlap vs broadcast eval set
    "q55_decontaminate" -> (Dedup.decontaminate _),
    // new-batch-vs-corpus ingest dedup: exact + banded near-dup drops
    "q56_ingest_dedup" -> (Dedup.ingestDedup _),
    // C4-style quality gate: rule cascade with first-fail verdicts
    "q57_corpus_filter" -> (TextAnalysis.corpusFilter _),
    // per-source reputation stats (integer milli-token density)
    "q58_source_stats" -> (Curation.sourceStats _),
    // deterministic curriculum: band + seeded content-hash shuffle rank
    "q59_curriculum" -> (Curation.curriculum _),
    // Z-order (Morton) clustering key: codegen bit-interleave on
    // (custkey, order day) for 2-D parquet data skipping
    "q60_zorder_keys" -> (operators.ZOrder.zorderKeys _),
    // Gopher-style repetition filters: dup-token / dup-5-gram permille
    "q61_repetition" -> (TextAnalysis.repetitionStats _),
    // top-3 TF-IDF terms per doc (integer milli-IDF, planner-chosen df join)
    "q62_tfidf_terms" -> (TextAnalysis.tfidfTerms _),
    // source-pair vocabulary Jaccard (corpus contamination matrix)
    "q63_source_overlap" -> (Curation.sourceOverlap _),
    // per-label embedding centroids (exact micro-unit reduction)
    "q64_label_centroids" -> (Similarity.labelCentroids _),
    // incremental view maintenance: merge-of-partials ≡ direct agg
    "q65_incremental_hourly" -> (operators.IncrementalAgg.incrementalHourly _),
    // Count-Min heavy hitters (rows-only like q37; SketchSpec bounds)
    "q66_heavy_users" -> (Queries.heavyUsers _),
    // as-of join via the custom physical operator (AsOfJoinExec):
    // same semantics and oracle as q44, merge-pass execution
    "q67_asof_exec" -> (operators.TemporalJoins.asofJoinExec _),
    // keyed MERGE/upsert: change batch applied via one full-outer join
    "q68_merge_upsert" -> (operators.MergeUpsert.mergeOrders _),
    // native session_window operator (per-session bounds; streaming-capable)
    "q69_session_windows" -> (Queries.sessionWindows _),
    // explicit GROUPING SETS (not a rollup/cube): one expand+hash-agg
    "q70_grouping_sets" -> (Queries.ordersGroupingSets _),
    // correlated scalar subqueries, executed via Catalyst decorrelation
    "q71_above_cust_avg" -> (Queries.ordersAboveCustAvg _),
    // row-level interval join (bucket-blocked)
    "q72_interval_pairs" -> (operators.TemporalJoins.intervalPairs _),
    // ranking suite: ntile deciles + percent_rank + lead/lag
    "q73_customer_deciles" -> (Queries.customerDeciles _),
    // mergeable HLL sketch partials (rows-only like q37; SketchSpec
    // pins merged ≡ direct and error vs exact)
    "q74_user_reach_sketch" -> (Queries.userReachSketch _),
    // SCD2 validity-interval build (window lead; as-of join read side)
    "q75_scd2_customers" -> (Queries.scd2Customers _),
    // share-of-total threshold via uncorrelated scalar subquery
    "q76_important_parts" -> (Queries.importantParts _),
    // to_json → get_json_object/from_json round trip (identity oracle)
    "q77_json_roundtrip" -> (Queries.jsonRoundTrip _),
    // posexplode generator (lateral-view unnest with ordinality)
    "q78_token_positions" -> (Queries.tokenPositions _),
    // CDC apply: latest-wins collapse + upsert + delete anti-join
    "q79_cdc_apply" -> (operators.MergeUpsert.cdcOrders _),
    // blocked fuzzy pairing with exact levenshtein verify
    "q80_fuzzy_pairs" -> (TextAnalysis.fuzzyPairs _),
    // array algebra: sort/distinct/slice/intersect/union/overlap
    "q81_array_ops" -> (TextAnalysis.arrayOps _),
    // MapType in flight, exploded back to relational rows
    "q82_word_map" -> (TextAnalysis.wordMap _),
    // product-quantization ANN: ADC scan over 8-byte codes + exact
    // re-rank. Codebooks learn via the per-subspace integer Lloyd and
    // the ADC table is exact integer arithmetic — fully oracle-checked
    // since round 5 (rows-only before); DedupSpec additionally holds
    // re-rank agreement, recall, and zero-refit.
    "q83_knn_pq" -> ((s: SparkSession, dir: String) => Similarity.pqTopK(s, dir)),
    // explicit INTERSECT / EXCEPT (distinct set semantics)
    "q84_set_ops" -> (Queries.setOps _),
    // string transforms + md5 content hashing
    "q85_string_transforms" -> (Queries.stringTransforms _),
    // first/last/nth value windows + cume_dist
    "q86_window_values" -> (Queries.windowValues _),
    // VARIANT semi-structured type: parse_json + typed variant_get
    "q87_variant_extract" -> (Queries.variantExtract _),
    // PII redaction: global regex masking + match counts
    "q88_pii_redact" -> (TextAnalysis.piiRedact _),
    // RAG token chunking: 50-token windows at stride 40, content-hashed
    "q89_chunk_tokens" -> (Curation.chunkTokens _),
    // bloom-filter decontamination (approximate, one-sided ⇒ rows-only;
    // DedupSpec pins no-false-negative vs exact q55 + FP bound)
    "q90_decon_bloom" -> (Dedup.deconBloom _),
    // exact-integer second moments: hash-exact variance + correlation
    "q91_exact_moments" -> (Queries.exactMoments _),
    // LIMIT/OFFSET pagination (rows 21-30 of the spend ranking)
    "q92_paged_orders" -> (Queries.pagedOrders _),
    // RECURSIVE CTE hierarchy rollup (Spark 4 WITH RECURSIVE)
    "q93_hierarchy_rollup" -> (Queries.hierarchyRollup _),
    // collation-aware grouping (Spark 4 UTF8_LCASE)
    "q94_collation_groups" -> (Queries.collationGroups _),
    // RANGE window frame (value-distance framing, trailing 30 days)
    "q95_range_frame" -> (Queries.rangeFrameSpend _),
    // classifier-based quality filter (HashingTF + LR over weak
    // labels): learned weights ⇒ rows-only; CurationSpec pins tolerance-
    // reproducibility + separation
    "q96_quality_classifier" -> (Curation.qualityClassifier _),
    // error-safe try_divide/try_cast/try_element_at (null, not abort)
    "q97_safe_arith" -> (Queries.safeArithmetic _),
    // parse_url host/path/query extraction (crawl-domain reputation)
    "q98_url_parts" -> (Queries.urlParts _),
    // map HOFs: map_filter + transform_values over per-doc freq maps
    "q99_repeated_tokens" -> (TextAnalysis.repeatedTokenShares _),
    // calendar-spine gap fill (dense months incl. zero-order months)
    "q100_monthly_spine" -> (Queries.monthlySpine _),
    // exact mergeable distinct via bitmap partials (bit_or merge) —
    // exact ⇒ plain COUNT(DISTINCT) oracle, unlike the q74 sketches
    "q101_bitmap_distinct" -> (Queries.bitmapDistinct _),
    // from_xml declared-schema parse (semi-structured trio w/ q77, q87)
    "q102_xml_roundtrip" -> (Queries.xmlRoundTrip _),
    // equi-width histogram via width_bucket
    "q103_value_histogram" -> (Queries.valueHistogram _),
    // Dataset.unpivot (melt) reshaping + profiler agg
    "q104_unpivot_measures" -> (Queries.unpivotMeasures _),
    // ordered listagg string aggregation (Spark 4 WITHIN GROUP)
    "q105_lang_rollup" -> (Queries.langRollup _),
    // 64-bit SimHash production mode: splitmix64 token mixing replayed
    // in the oracle via UBIGINT xor/shift + hi/lo-split wrapping
    // multiplication in HUGEINT — fully hash-checked since round 6
    // (rows-only before); DedupSpec pins chunk blocking ≡ all-pairs.
    "q106_dedup_simhash64" -> (Dedup.simhash64 _),
    // verbatim-span decontamination: longest consecutive shared-4-gram
    // run per contaminated doc (gaps-and-islands over matched positions)
    "q107_contam_spans" -> (Dedup.contamSpans _),
    // n-gram-LM fluency scoring in exact integer micro-units (the
    // CCNet-style perplexity filter; corpus is its own bigram model)
    "q108_bigram_fluency" -> (TextAnalysis.bigramFluency _),
    // ExactSubstr-style cross-doc verbatim overlap: longest shared
    // span via diagonal-grouped runs over the 8-gram inverted index
    "q109_verbatim_overlap" -> (Dedup.verbatimOverlap _),
    // mixture planning: the integer budget solver producing per-lang
    // sampling rates from token inventory + target shares
    "q110_mixture_plan" -> (Curation.mixturePlan _),
    // content-hash train/val/test split: reproducible membership under
    // re-ingestion/re-sharding (98/1/1 permille)
    "q111_split_assign" -> (Curation.splitAssign _),
    // per-benchmark-suite leakage report: q55 with conditional per-suite
    // counts in the one per-doc hash-agg
    "q112_decon_suites" -> (Dedup.deconSuites _),
    // KS-style ingest drift monitor: corpus-vs-batch length CDFs in
    // exact integer permille
    "q113_length_drift" -> (Curation.lengthDrift _),
    // BM25 retrieval in exact integer micro-units (rational Robertson
    // idf — no cross-engine ln drift)
    "q114_bm25_search" -> (TextAnalysis.bm25Search _),
    // SemDeDup semantic dedup: within-cell cosine prune over the
    // persisted IVF cells — oracle-checked since round 5 (the integer
    // Lloyd made the cells replayable); DedupSpec additionally pins
    // local recompute + soundness + zero-refit
    "q115_sem_dedup" -> (Dedup.semDedup _),
    // BPE tokenizer learning: one corpus hash-agg + bounded-vocab merge
    // loop, persisted salted stage. Oracle-checked since round 6: the
    // greedy merge recurrence replays as a DuckDB recursive CTE (state
    // = per-round symbolization; argmax via aggregate over the working
    // table); BpeSpec additionally pins an independent recompute + the
    // zero-relearn warm path.
    "q116_bpe_vocab" -> (Bpe.bpeVocab _),
    // per-doc BPE fertility/compression stats under the learned merges
    // (oracle: final-round CTE state IS each vocab word's encoding)
    "q117_bpe_encode" -> (Bpe.bpeEncode _),
    // winnowing fingerprints over the custom-generator shingle stream
    // (ShingleStreamExpr — the UDTF surface)
    "q118_winnow_fingerprints" -> (TextAnalysis.winnowFingerprints _),
    // cross-doc overlap pairs from shared winnowing fingerprints
    "q119_winnow_overlap" -> (TextAnalysis.winnowOverlap _),
    // exact-k per-stratum eval carve via the bounded-heap top-k
    // aggregate (no per-stratum sort)
    "q120_eval_carve" -> (Curation.evalCarve _),
    // content-defined chunking: offset-independent shared-block
    // inventory (Rabin-style cut rule over the generator hash stream)
    "q121_cdc_chunk_dups" -> (Dedup.cdcChunkDups _),
    // Horvitz-Thompson corpus estimates from the q50 sample cut
    "q122_sample_estimate" -> (Curation.sampleEstimate _),
    // q109 with the df cap real: stop-grams fall out of the index,
    // pair instances per gram bounded at cap^2
    "q123_verbatim_overlap_capped" -> (Dedup.verbatimOverlapCapped _),
    // ordered funnel (view -> click -> purchase), strictly staged
    "q124_event_funnel" -> (Queries.eventFunnel _),
    // cohort retention triangle on exact integer day indexes
    "q125_cohort_retention" -> (Queries.cohortRetention _),
    // PageRank, 5 fixed power iterations in exact integer micro-units
    // over the symmetric supplier-customer trade graph — one lazy plan,
    // no per-round driver barrier
    "q126_pagerank" -> (Graph.pageRank _),
    // degree-oriented triangle counting + local clustering coefficient
    // over the part co-purchase graph (O(sqrt m) out-degree bound)
    "q127_triangle_counts" -> (Graph.triangleCounts _),
    // collocation mining: bigram lift in exact integer milli-units
    // (monotone in PMI, no cross-engine ln)
    "q128_collocations" -> (TextAnalysis.collocations _),
    // DSIR-style importance weights: 1024-bucket hashed-token target/raw
    // probability ratios, broadcast weight table, per-doc mean affinity
    "q129_importance_weights" -> (Curation.importanceWeights _),
    // first-order Markov transition matrix of user event streams
    "q130_event_transitions" -> (Queries.eventTransitions _),
    // seeded multi-source BFS: exact hop distances within 4 rounds
    "q131_bfs_distances" -> (Graph.bfsDistances _),
    // per-document duplicated-span localization: maximal token islands
    // of cross-doc 8-grams (the span-cut step; no pair join)
    "q132_dup_spans" -> (Dedup.dupSpans _),
    // per-type daily volume anomaly monitor: exact-integer 3σ z-test
    // ((nD−T)² > 9(DS−T²)) — no sqrt, no division
    "q133_event_anomalies" -> (Queries.eventAnomalies _),
    // per-source quantile normalization of the integer quality score:
    // exact empirical rank permille within each source
    "q134_quality_calibration" -> (Curation.qualityCalibration _),
    // DSIR selection: deterministic exact-integer acceptance sampling
    // on the q129 weights (u = salted id-hash, keep iff u < min(w,1000))
    "q135_dsir_select" -> (Curation.dsirSelect _),
    // fixed-round integer Lloyd's k-means over embeddings (k=8, 2
    // rounds, first-k init) — unsupervised twin of q64
    "q136_kmeans_embed" -> (Similarity.kmeansEmbed _),
    // 64-token sequence-length buckets with exact padding-waste and
    // fill-ratio accounting — batch-shape planning
    "q137_length_buckets" -> (Curation.lengthBuckets _),
    // asymmetric containment pairs (|∩| / min size ≥ 0.8): the
    // sub-document duplicates symmetric Jaccard cannot see
    "q138_containment_pairs" -> (Dedup.containmentPairs _),
    // transitive contamination blast radius: q55 seeds expanded 2 hops
    // over q23's near-dup graph via frontier-delta BFS
    "q139_contam_radius" -> (Dedup.contamRadius _),
    // hard-negative mining: per query, top-5 nearest DIFFERENT-label
    // vectors via the bounded-heap aggregate — contrastive negatives
    "q140_hard_negatives" -> (Similarity.hardNegatives _),
    // session-level event association rules: support/confidence/lift
    // over q19's sessions in exact integer permille
    "q141_session_associations" -> (Queries.sessionAssociations _),
    // q138 with the stop-shingle df cap REAL (q123's production knob
    // threaded into the containment posting index)
    "q142_containment_capped" -> (Dedup.containmentPairsCapped _),
    // nearest-centroid classification over q64's prototypes: label
    // audit (is_match=0 = boundary/mislabel candidates) + runner-up
    // margin confidence, exact integer micro-units
    "q143_centroid_classify" -> (Similarity.centroidClassify _),
    // PII/policy-pattern scrub cascade (email → IPv4 → phone →
    // digit-run) over the event property channel — row-local regex
    // codegen, engine-portable patterns
    "q144_pii_scrub" -> (Curation.piiScrub _),
    // paragraph-granularity exact dedup (16-token chunks, first
    // occurrence wins) — the sub-document twin of q21
    "q145_chunk_dedup" -> (Dedup.chunkDedup _),
    // ANN eval harness: per-query recall@5 of the int8 (q48) and LSH
    // (q27) paths vs the brute-force truth (q26)
    "q146_quant_recall" -> (Similarity.quantRecall _),
    // per-source document caps (host-cap curation): bounded-heap
    // best-15 by integer quality, per-source retention report
    "q147_source_caps" -> (Curation.sourceCaps _),
    // integer multinomial naive Bayes over a deterministic 80/20
    // split — learned language classifier, fixed-point likelihoods
    "q148_nb_lang_classify" -> (TextAnalysis.nbLangClassify _),
    // per-doc novelty: fraction of a doc's distinct 8-grams whose
    // corpus-wide first holder is this doc — dataset-growth audit
    "q149_doc_novelty" -> (Dedup.docNovelty _),
    // cross-source duplication matrix: distinct shared 16-token
    // chunks per source pair, df-capped against boilerplate
    "q150_cross_source_dup" -> (Dedup.crossSourceDup _),
    // exact per-lang token-length percentiles from the bounded
    // (lang, len) histogram — no per-lang corpus sort
    "q151_length_percentiles" -> (Curation.lengthPercentiles _),
    // leakage-safe split: q111's content-hash split reconciled over
    // q49's near-dup clusters (cluster representative wins)
    "q152_leak_safe_split" -> (Curation.leakSafeSplit _),
    // embedding outlier sweep: distance-to-centroid vs cluster mean
    // in exact Lloyd micro-units; >= 2.5x mean flags
    "q153_embed_outliers" -> (Similarity.embedOutliers _),
    // canonical doc per q49 dup cluster: best quality wins, dropped
    // docs/chars accounted — the collapse step dedup feeds
    "q154_canonical_docs" -> (Curation.canonicalDocs _),
    // ingest-time chunk dedup: the arriving batch probes the
    // persisted standing-corpus chunk index (q145's q56 twin)
    "q155_ingest_chunk_dedup" -> (Dedup.ingestChunkDedup _),
    // embedding-space decontamination: the paraphrase leakage q55's
    // n-grams cannot see — bounded eval carve, exact cosine flags
    "q156_embed_decontam" -> (Dedup.embedDecontam _),
    // temperature-scaled source mixture (α = 1/2 via exact isqrt):
    // shares, drawn tokens, and per-source epoch counts
    "q157_temperature_mix" -> (Curation.temperatureMix _),
    // per-cell prototype exemplars of the q136 clustering via the
    // bounded-heap top-k (most-central 4 per cell)
    "q158_cluster_prototypes" -> (Similarity.clusterPrototypes _),
    // Heaps-law vocabulary growth: cumulative new token types across
    // 20 ingest-order slices, per language
    "q159_vocab_growth" -> (TextAnalysis.vocabGrowth _),
    // Johnson-Lindenstrauss ±1 random projection 64→16 dims (the q27
    // hyperplanes, values kept instead of signs) — map-only sketch
    "q160_rp_project" -> (Similarity.rpProject _),
    // farthest-point coreset (greedy 2-approx k-center): coverage-first
    // diverse selection, the complement of q158's central prototypes
    "q161_coreset_select" -> (Similarity.coresetSelect _),
    // k-core decomposition by fixed-round peeling: peel round + degree
    // at peel per node (0 = survives in the 3-core)
    "q162_k_core" -> (Graph.kCore _),
    // synchronous label-propagation communities (4 rounds, self-vote,
    // (count desc, label asc) tie-break)
    "q163_label_prop" -> (Graph.labelProp _),
    // time-decayed engagement: halving-per-week recency weights in
    // exact cents·permille integers, one user-keyed agg
    "q164_decayed_engagement" -> (Queries.decayedEngagement _),
    // corpus snapshot diff: per-lang added/removed/common distinct
    // contents between the standing corpus and the arriving snapshot
    "q165_snapshot_diff" -> (Curation.snapshotDiff _),
    // frame-sample planning: 4 uniform sample slots per media item
    // with byte offsets — the schedule the decode stage consumes
    "q166_frame_sample_plan" -> (Multimodal.frameSamplePlan _),
    // common-neighbor link prediction: wedge-join candidates (hub
    // df-cap) + exact integer Jaccard over full neighbor sets
    "q167_link_predict" -> (Graph.linkPredict _),
    // per-user inter-event gap order statistics (exact integer
    // min/median/p90/max/mean whole-second gaps)
    "q168_event_gaps" -> (Queries.eventGaps _),
    // per-doc token concentration: exact HHI ppm, top-share pm, TTR pm
    "q169_token_concentration" -> (TextAnalysis.tokenConcentration _),
    // corpus frequency-of-frequency spectrum in exact pow-2 buckets
    "q170_freq_spectrum" -> (TextAnalysis.freqSpectrum _),
    // k-anonymity suppression audit over (lang, length-bucket)
    "q171_k_anonymity" -> (Curation.kAnonymity _),
    // mutual nearest-neighbor pair mining within persisted IVF cells
    "q172_mutual_nn" -> (Similarity.mutualNn _),
    // Borda rank fusion of three quality signals via histogram ranks
    "q173_rank_fusion" -> (Curation.rankFusion _),
    // winsorized per-language length stats (exact p05/p95 clip)
    "q174_winsorize" -> (Curation.winsorizedStats _),
    // last-touch + linear conversion attribution over 7-day windows
    "q175_attribution" -> (Queries.attribution _),
    // deterministic weighted priority sampling (top-K bounded heap)
    "q176_priority_sample" -> (Curation.prioritySample _),
    // per-(lang, source) tokenizer fertility / byte-density profile
    "q177_tokenizer_fertility" -> (TextAnalysis.tokenizerFertility _),
    // seed-restart personalized PageRank over the trade graph
    "q178_personalized_pagerank" -> (Graph.personalizedPageRank _),
    // TPC-H Q17 shape: correlated per-part quantity threshold
    "q179_small_qty_revenue" -> (Queries.smallQuantityRevenue _),
    // per-language budgeted weighted sample (bounded-heap top-K)
    "q180_stratified_sample" -> (Curation.stratifiedPrioritySample _),
    // top 3-step event-type paths inside q19 sessions
    "q181_session_paths" -> (Queries.sessionPaths _),
    // LSH candidate recall/precision vs the exact-Jaccard ground truth
    "q182_lsh_eval" -> (Dedup.lshEval _),
    // minhash-agreement vs exact-Jaccard calibration curve
    "q183_minhash_calibration" -> (Dedup.minhashCalibration _),
    // per-(split, shard) export manifest over canonical docs
    "q184_export_manifest" -> (Curation.exportManifest _),
    // MAD-robust per-language length outlier audit
    "q185_mad_outliers" -> (Curation.madOutliers _),
    // per-dimension embedding health profile (64 rows)
    "q186_embedding_dim_stats" -> (Similarity.embeddingDimStats _),
    // exact phrase search over the persisted positional postings index
    "q187_phrase_search" -> (TextAnalysis.phraseSearch _),
    // equi-depth price histogram via the two-pass bounded cumsum
    "q188_equidepth_hist" -> (Queries.equiDepthHist _),
    // exact sliding 7-day distinct active users (DAU/WAU/stickiness)
    "q189_sliding_active_users" -> (Queries.slidingActiveUsers _),
    // proximity (NEAR/w) search over the persisted postings index
    "q190_proximity_search" -> (TextAnalysis.proximitySearch _),
    // forward-window-3 skip-gram co-occurrence with exact lift
    "q191_skipgram_cooc" -> (TextAnalysis.skipgramCooc _),
    // sparse tf-idf shingle cosine top-30 via inverted index, df-capped
    "q192_sparse_cosine" -> (TextAnalysis.sparseCosineTopK _),
    // gap-correct per-user lag/rolling feature matrix (range frames)
    "q193_lag_features" -> (Queries.lagFeatures _),
    // cross-table data-quality audit: one report row per check
    "q194_dq_violations" -> (Queries.dqViolations _),
    // lang x source chi-square mix-drift audit (exact milli)
    "q195_chisq_mix" -> (Curation.chisqMix _),
    // MRR of LSH/int8 ANN vs the exact rank-1 neighbor (micro units)
    "q196_mrr_eval" -> (Similarity.mrrEval _),
    // term burstiness / top-doc concentration (stopword-list evidence)
    "q197_term_burstiness" -> (TextAnalysis.termBurstiness _),
    // market-basket co-purchase part pairs with exact lift
    "q198_copurchase_pairs" -> (Queries.copurchasePairs _),
    // exact-quintile RFM customer scoring via bounded histograms
    "q199_rfm_scores" -> (Queries.rfmScores _),
    // AQE-style join-key skew profile + salt-split plan
    "q200_salt_plan" -> (Queries.saltPlan _),
    // gap-aware LOCF purchase-spend backfill per (user, active day)
    "q201_locf_features" -> (Queries.locfFeatures _),
    // CBO cardinality-estimate audit: capped stats vs exact self-join size
    "q202_join_card_est" -> (Queries.joinCardEst _),
    // file-stats data-skipping audit: pruned files + scan amplification
    "q203_pruning_stats" -> (Queries.pruningStats _),
    // exact distance-2 distinct reach per trade-graph node
    "q204_two_hop_reach" -> (Graph.twoHopReach _),
    // point-in-time churn labels: obs-window features, next-window label
    "q205_churn_labels" -> (Queries.churnLabels _),
    // deterministic A/B assignment + sample-ratio-mismatch chi-square
    "q206_ab_srm" -> (Queries.abSrm _),
    // precision-by-rank of co-purchase recs vs held-out baskets
    "q207_rec_eval" -> (Queries.recEval _),
    // signed degree-assortativity r^2 of the trade graph (exact milli)
    "q208_assortativity" -> (Graph.degreeAssortativity _),
    // confusion matrix + recall/precision shares of the q148 classifier
    "q209_nb_confusion" -> (TextAnalysis.nbConfusion _),
    // per-(event type, weekday) volume profile vs uniform week
    "q210_dow_profile" -> (Queries.dowProfile _),
    // first-significant-digit distribution of prices vs Benford's law
    "q211_benford_audit" -> (Queries.benfordAudit _),
    // GDPR erasure-batch impact report: per-table cascade tombstone audit
    "q212_forget_cascade" -> (Queries.forgetCascade _),
    // GPT-style concat-and-chunk shard layout: per-doc offset + chunk span
    "q213_context_packing" -> (TextAnalysis.contextPacking _),
    // per-source top shared 8-token prefix/suffix (template boilerplate)
    "q214_boilerplate_audit" -> (TextAnalysis.boilerplateAudit _),
    // Cohen's kappa between the q28 and q148 language classifiers
    "q215_classifier_kappa" -> (TextAnalysis.classifierKappa _),
    // chunk-side manifest of q213: docs per window, mask reset points
    "q216_chunk_manifest" -> (TextAnalysis.chunkManifest _),
    // greedy best-quality-first per-source token budget cutoff
    "q217_token_budget" -> (Curation.tokenBudgetCutoff _),
    // signed Spearman rho^2 of doc length vs quality score, exact milli
    "q218_length_quality_corr" -> (Curation.lengthQualityCorr _),
    // per-source exact KS distance of length CDF vs rest of corpus
    "q219_source_length_drift" -> (Curation.sourceLengthDrift _),
    // pairwise per-source vocabulary Jaccard overlap matrix
    "q220_source_vocab_overlap" -> (TextAnalysis.sourceVocabOverlap _),
    // per-source effective token yield after 1/cluster-size weighting
    "q221_dedup_yield" -> (Dedup.dedupYield _),
    // per-band LSH bucket histogram + candidate-pair cost model
    "q222_lsh_bucket_balance" -> (Dedup.lshBucketBalance _),
    // Kaplan-Meier user-lifetime survival curve, exact micro-units
    "q223_kaplan_meier" -> (Queries.kaplanMeier _),
    // exact p50/p90/p99 of funnel stage-to-stage latencies
    "q224_funnel_latency" -> (Queries.funnelLatency _),
    // ViT tile/patch/padding schedule per image item
    "q225_tile_grid_plan" -> (Multimodal.tileGridPlan _),
    // overlapping-window audio transcription schedule per item
    "q226_audio_chunk_plan" -> (Multimodal.audioChunkPlan _),
    // A-priori co-purchase part triples with support floor
    "q227_copurchase_triples" -> (Queries.copurchaseTriples _),
    // monthly open-order backlog count/value/age snapshots
    "q228_backlog_snapshots" -> (Queries.backlogSnapshots _),
    // cohort × month-offset active/revenue/cumulative-LTV triangle
    "q229_cohort_ltv" -> (Queries.cohortLtv _),
    // matched-sample Laspeyres price index per brand, exact milli
    "q230_price_index" -> (Queries.priceIndex _),
    // per-part cheapest-supplier arg-min with deterministic tie-break
    "q231_cheapest_supplier" -> (Queries.cheapestSupplier _),
    // exact Gini of the per-source document-length distribution
    "q232_length_gini" -> (Curation.lengthGini _),
    // ratio-to-centered-12-month-MA seasonal index per brand, exact milli
    "q233_seasonal_index" -> (Queries.seasonalIndex _),
    // (unit price, ship lag) Pareto frontier of suppliers — 2-D skyline
    "q234_supplier_skyline" -> (Queries.supplierSkyline _),
    // robust Theil-Sen monthly-revenue trend per brand (median pair slope)
    "q235_theilsen_trend" -> (Queries.theilSenTrend _),
    // graded position-discounted nDCG@5 of the LSH/int8 ANN paths
    "q236_ndcg_eval" -> (Similarity.ndcgEval _),
    // gapped ordered event-type triples with session support counts
    "q237_event_seq_triples" -> (Queries.eventSeqTriples _),
    // near-dup clusters mixing predicted languages (translation pairs)
    "q238_cluster_lang_mix" -> (Dedup.clusterLangMix _),
    // all-lines-shipped-within-30d perfect-order rate per month
    "q239_perfect_order" -> (Queries.perfectOrderRate _),
    // top eigenvector of the exact int8 Gram (GramAgg + power iteration)
    "q240_principal_direction" -> (Similarity.principalDirection _),
    // seasonal-naive vs naive-1 MASE forecast backtest per brand
    "q241_seasonal_backtest" -> (Queries.seasonalNaiveBacktest _),
    // per-source embedding anisotropy via GROUPED GramAgg + power iteration
    "q242_source_anisotropy" -> (Similarity.sourceAnisotropy _),
    // within-cluster pairwise length-delta / exact-pair dedup geometry
    "q243_cluster_diff_stats" -> (Dedup.clusterDiffStats _),
    // λ1, λ2 (one exact deflation round), trace, participation ratio
    "q244_spectral_spread" -> (Similarity.spectralSpread _),
    // virtual-pixel aHash near-dup pairs, 10-chunk pigeonhole banding
    "q245_image_ahash_neardup" -> (Multimodal.imageAHashNearDup _),
    // virtual-PCM band-energy hash near-dup pairs (audio payloads)
    "q246_audio_energy_neardup" -> (Multimodal.audioEnergyNearDup _),
    // metadata-filtered (cross-source) exact top-k retrieval
    "q247_filtered_knn" -> (Similarity.filteredKnn _),
    // post-filtered LSH path: fill rate + recall vs the exact answer
    "q248_filtered_lsh_audit" -> (Similarity.filteredLshAudit _),
    // MMR-diversified top-k over the relevance pool (exact integer MMR)
    "q249_mmr_diversified" -> (Similarity.mmrDiversified _),
    // connected components over the q245 aHash pair graph
    "q250_media_dup_clusters" -> (Multimodal.mediaDupClusters _),
    // reciprocal-rank fusion of the LSH and int8 ANN paths
    "q251_rrf_fusion" -> (Similarity.rrfFusion _),
    // pairwise-source linear-kernel MMD^2 embedding drift
    "q252_source_embed_drift" -> (Similarity.sourceEmbeddingDrift _),
    // per-chunk langid sequence: dominant language, share, switches
    "q253_code_switch_segments" -> (TextAnalysis.codeSwitchSegments _),
    // per-bit aHash set-share: the media-hash entropy monitor
    "q254_media_bit_balance" -> (Multimodal.mediaHashBitBalance _),
    // text (q23) vs media (q245) near-dup pair-set agreement
    "q255_dedup_modality_agreement" -> (Multimodal.dedupModalityAgreement _),
    // max-passage BM25: best 32-token window (stride 16) ranks the doc
    "q256_max_passage" -> (TextAnalysis.maxPassage _),
    // margin-based cross-language bitext candidate mining
    "q257_bitext_margin" -> (Similarity.bitextMargin _),
    // k-truss edge peel (k=12, 4 rounds) on the co-purchase graph
    "q258_ktruss" -> (Graph.kTruss _),
    // media-hash Hamming-threshold precision/recall curve vs q23 truth
    "q259_media_threshold_curve" -> (Multimodal.mediaThresholdCurve _),
    // Zipf doubling-ratio rank spectrum + head mass shares (no ln)
    "q260_zipf_spectrum" -> (TextAnalysis.zipfSpectrum _),
    // split-conformal keep-threshold for the q134 quality score
    "q261_conformal_quality" -> (Curation.conformalQuality _),
    // IVF recall@5 vs exact truth at nprobe 1/2/4/8 (one index build)
    "q262_ivf_probe_curve" -> (Similarity.ivfProbeCurve _),
    // passage-size ablation: q256 at {16,32,64} vs the 32 baseline
    "q263_passage_ablation" -> (TextAnalysis.passageSizeAblation _),
    // frame-sequence media containment: 4 per-frame aHashes, exact
    // hash-equality pairing, df-capped — the re-cut/clip detector
    "q264_frame_containment" -> (Multimodal.frameSeqContainment _),
    // lexical (3-gram Jaccard) + dense (cosine) RRF hybrid retrieval
    "q265_hybrid_mlt" -> (Similarity.hybridMoreLikeThis _),
    // dedup-threshold percolation: components/merge mass at 4 Jaccard bars
    "q266_dedup_threshold_curve" -> (Dedup.dedupThresholdCurve _),
    // per-rule curation decision table: flags, unique kills, kill-any
    "q267_rule_audit" -> (TextAnalysis.ruleAudit _),
    // monetary-quintile migration matrix across the order-history halves
    "q268_rfm_migration" -> (Queries.rfmMigration _),
    // per-source int8 quantization fidelity (squared cosine ppm floor)
    "q269_quant_fidelity" -> (Similarity.quantFidelity _),
    // minhash vs simhash pair agreement, exact-Jaccard arbitrated
    "q270_text_method_agreement" -> (Dedup.textMethodAgreement _),
    // per-shard adjacent-same-source rate vs the Simpson baseline
    "q271_interleave_audit" -> (Curation.interleaveAudit _),
    // brand-month revenue anomalies vs the brand's median/MAD
    "q272_mad_anomaly_calendar" -> (Queries.madAnomalyCalendar _),
    // exact Kendall tau-a of monthly revenue per brand pair
    "q273_kendall_comovement" -> (Queries.kendallComovement _),
    // per-source energy along the global v1/x2 spectral directions
    "q274_source_projection_energy" -> (Similarity.sourceProjectionEnergy _),
    // top-3 dims by exact |source mean − corpus mean| per source
    "q275_source_dim_drift" -> (Similarity.sourceDimDrift _),
    // degree-elite internal density vs global (rich-club curve)
    "q276_rich_club" -> (Graph.richClub _),
    // directed A→B rules: exact confidence + conviction, top 30
    "q277_association_rules" -> (Queries.associationRules _),
    // 1/cluster_n doc weights: per-source effective size + inflation
    "q278_dedup_effective_size" -> (Dedup.dedupEffectiveSize _),
    // sampled exact-kNN neighbor-source agreement per source
    "q279_knn_source_purity" -> (Similarity.knnSourcePurity _),
    // 12-tap dyadic EWMA revenue level + month-over-month turn
    "q280_dyadic_momentum" -> (Queries.dyadicMomentum _),
    // per-item PCM loudness/clip/crest audit (one-pass kernel)
    "q281_audio_loudness_audit" -> (Multimodal.audioLoudnessAudit _),
    // exact linear-CKA lexical/embedding alignment (CrossGramAgg)
    "q282_repr_alignment" -> (Similarity.reprAlignment _),
    // per-source distinct/hapax n-gram spectrum at n = 1, 2, 3
    "q283_ngram_diversity" -> (TextAnalysis.ngramDiversity _),
    // lag-1/lag-24 signed r-squared of hourly counts per event type
    "q284_hourly_autocorr" -> (Queries.hourlyAutocorr _),
    // Newman modularity contributions of the brand partition
    "q285_brand_modularity" -> (Graph.brandModularity _),
    // exact OLS slope of monthly qty on unit price per brand
    "q286_price_elasticity" -> (Queries.priceElasticity _),
    // q157 temperature mix over the q278 dedup-effective token supply
    "q287_effective_mixture" -> (Curation.effectiveTemperatureMix _),
    // classic A/B/C cumulative-revenue-share inventory classes
    "q288_abc_classes" -> (Queries.abcClasses _),
    // small-sample-fair supplier ranking: Wilson lower bound, z = 2
    "q289_wilson_ranking" -> (Queries.wilsonRanking _),
    // choose-your-n evidence: df-capped pair mass at n = 3, 5, 8
    "q290_shingle_ablation" -> (Dedup.shingleSizeAblation _),
    // adjacent-frame aHash Hamming boundaries (shot segmentation)
    "q291_scene_cuts" -> (Multimodal.sceneCuts _),
    // per-state next-event Gini impurity within sessions
    "q292_transition_impurity" -> (Queries.transitionImpurity _),
    // uniqueness-band near-dup rates + relative risk (q29 x q49)
    "q293_quality_dup_association" -> (Queries.qualityDupAssociation _),
    // ship-lag P50/P90/max + breach share per order priority tier
    "q294_priority_sla" -> (Queries.prioritySlaAudit _),
    // per-dim same-label vs all-pair spread ratio (pairwise eta^2)
    "q295_dim_label_informativeness" -> (Similarity.dimLabelInformativeness _),
    // exact Rand index of the q136 Lloyd clusters vs the labels
    "q296_cluster_label_rand" -> (Similarity.clusterLabelRand _),
    // deterministic Poisson-bootstrap CI for mean order value
    "q297_bootstrap_ci" -> (Queries.bootstrapCi _),
    // repeat share + first-to-second-order gap percentiles per segment
    "q298_repeat_latency" -> (Queries.repeatLatency _),
    // citation-slot concentration + source retrieval-bias ratio
    "q299_neighbor_concentration" -> (Similarity.neighborConcentration _),
    // Chao1 + Good-Turing vocabulary-saturation estimators per source
    "q300_vocab_saturation" -> (TextAnalysis.vocabSaturation _),
    // exact CUSUM structural-break day per event type
    "q301_cusum_changepoint" -> (Queries.cusumChangepoint _),
    // Mann-Whitney rank-sum test: returned vs kept transit time
    "q302_ranksum_shiplag" -> (Queries.rankSumShipLag _),
    // HITS hub/authority scores over the customer-part purchase graph
    "q303_hits_bipartite" -> (Graph.hitsBipartite _),
    // chi-square independence: priority x returnflag contingency
    "q304_chisq_independence" -> (Queries.chisqIndependence _),
    // variance-to-mean dispersion index per event type (burst audit)
    "q305_event_overdispersion" -> (Queries.eventOverdispersion _),
    // 32-replica bootstrap band for the median repeat-purchase gap
    "q306_median_bootstrap" -> (Queries.bootstrapMedianCi _),
    // pairwise label-AUC of the int8 cosine ranking per query source
    "q307_embedding_label_auc" -> (Similarity.embeddingLabelAuc _),
    // log-rank test: urgent-first-order vs rest repeat-purchase speed
    "q308_logrank_repeat" -> (Queries.logRankRepeat _),
    // BM25 with cluster-level document frequencies (dedup-corrected IDF)
    "q309_bm25_dedup" -> (TextAnalysis.bm25DedupCorrected _),
    // l-diversity + t-closeness release audit on q171's groups
    "q310_l_diversity" -> (Curation.lDiversityAudit _),
    // sampled-seed harmonic closeness within 4 hops (multi-source BFS)
    "q311_harmonic_closeness" -> (Graph.harmonicCloseness _),
    // held-out top-1 next-event accuracy vs the unconditional baseline
    "q312_markov_backtest" -> (Queries.markovBacktest _),
    // Kish effective-sample-size audit of the q129 importance weights
    "q313_importance_ess" -> (Curation.importanceEss _),
    // signed squared cosine + distance between q64 label centroids
    "q314_label_confusability" -> (Similarity.labelConfusability _),
    // pooled two-proportion z^2: return-rate drift across ship periods
    "q315_return_rate_drift" -> (Queries.returnRateDrift _),
    // per-part unit-price CV^2 dispersion shortlist (top-50)
    "q316_price_dispersion" -> (Queries.priceDispersion _),
    // per-label squared-norm bias audit (dot-product retrieval hazard)
    "q317_label_norm_bias" -> (Similarity.labelNormBias _),
    // near-dup cluster size spectrum over the persisted q49 labels
    "q318_dup_size_spectrum" -> (Dedup.dupSizeSpectrum _),
    // k-sample rank test: tie-corrected Kruskal-Wallis over the
    // (priority, lag) grid, doubled ranks, driver BigInt fold
    "q319_kruskal_wallis" -> (Queries.kruskalWallisLag _),
    // Wald-Wolfowitz runs test on daily order volume (randomness audit)
    "q320_runs_test" -> (Queries.runsTestDaily _),
    // Cochran-Armitage ordinal trend test on return rate by priority
    "q321_trend_test" -> (Queries.trendTestReturns _),
    // Spearman rank correlation of daily volume vs revenue (day grid)
    "q322_spearman_daily" -> (Queries.spearmanDaily _),
    // Beyer et al. distance-contrast: is NN search meaningful here?
    "q323_distance_contrast" -> (Similarity.distanceContrast _),
    // Herfindahl supply concentration per nation (ppm, exact cents)
    "q324_supply_hhi" -> (Queries.supplyHhi _),
    // gaps-and-islands purchasing bursts, length histogram per segment
    "q325_order_bursts" -> (Queries.orderBursts _),
    // chi2 term keyness per source vs corpus (df-capped, top-10)
    "q326_term_keyness" -> (TextAnalysis.termKeyness _),
    // LIX readability (integerized), 5-point-bucket histogram per source
    "q327_lix_readability" -> (TextAnalysis.lixReadability _),
    // pairwise Cramér's V over all categorical fact dims (one cube scan)
    "q328_cramers_v_matrix" -> (Queries.cramersVMatrix _),
    // expected-window spine vs observed: dead feeds the stream monitor
    // cannot see (longest dead streak via gaps-and-islands)
    "q329_feed_liveness" -> (Queries.feedLiveness _),
    // Mantel-Haenszel stratified odds ratio + CMH chi2 (confound-proof)
    "q330_mantel_haenszel" -> (Queries.mantelHaenszel _),
    // exact skewness/kurtosis of ship lag per priority (power sums)
    "q331_lag_moments" -> (Queries.lagMoments _),
    // Wilcoxon signed-rank: does the second repeat gap lengthen?
    "q332_wilcoxon_repeat" -> (Queries.wilcoxonRepeat _),
    // Friedman repeated-measures test: weekday exchangeability by week
    "q333_friedman_dow" -> (Queries.friedmanDow _),
    // as-of join with max-staleness TTL (feature-store point-in-time)
    "q334_asof_tolerance" -> (operators.TemporalJoins.asofJoinTolerance _),
    // out-of-orderness audit: the measured P99 watermark per type
    "q335_ooo_lateness" -> (Queries.oooLateness _),
    // connected components over the mutual-NN pair graph, per label
    "q336_mutual_nn_components" -> (Similarity.mutualNnComponents _),
    // code-vs-prose modality gate (symbol density + keyword rule)
    "q337_code_detect" -> (TextAnalysis.codeDetect _),
    // near-hapax token-mass share per source (lexical difficulty)
    "q338_rare_word_share" -> (TextAnalysis.rareWordShare _),
    // JSON key discovery over events.props (variant profiling)
    "q339_props_schema" -> (Queries.propsSchema _),
    // Lorenz points: within-segment revenue deciles + top-share
    "q340_revenue_concentration" -> (Queries.revenueConcentration _),
    // difference-in-differences on return rates across the period break
    "q341_did_returns" -> (Queries.didReturns _),
    // prospective power analysis: per-group n to detect observed deltas
    "q342_power_sample_size" -> (Queries.powerSampleSize _),
    // Little's law reconciliation: backlog vs throughput x latency
    "q343_little_law" -> (Queries.littleLawAudit _),
    // McNemar paired test on the q270 dedup-method 2x2
    "q344_mcnemar_dedup" -> (Dedup.mcnemarDedup _),
    // function-word style cosine between sources (Mosteller-Wallace)
    "q345_style_cosine" -> (TextAnalysis.styleCosine _),
    // Cramer-von Mises whole-CDF two-sample test on fulfillment lag
    "q346_cvm_lag" -> (Queries.cvmLag _),
    "q347_repeat_hazard" -> (Queries.repeatHazard _),
    "q348_source_tv" -> (TextAnalysis.sourceTvDistance _),
    // Benjamini-Hochberg step-up FDR over the per-nation return battery
    "q349_fdr_returns" -> (Queries.fdrReturns _),
    // exact Shapley channel credit over the 2^k exposure-set grid
    "q350_shapley_attribution" -> (Queries.shapleyAttribution _),
  )

  /** DuckDB oracle SQL for every key in `queries` not in `rowsOnly` —
    * split into per-family objects under graft.oracles (round 12);
    * this concatenation is the single surface the driver reads. */
  def oracleSql: Map[String, String] =
    oracles.OracleCore.sql ++ oracles.OracleStats.sql ++
    oracles.OracleDedup.sql ++ oracles.OracleSim.sql ++
    oracles.OracleText.sql ++ oracles.OracleCuration.sql ++
    oracles.OracleGraph.sql ++ oracles.OracleMultiOps.sql
}
