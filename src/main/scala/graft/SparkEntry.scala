package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnnAdvisor, Clustering, CorpusCuration, Dedup, ExtendedAnalytics, GraphAnn, Retrieval, Similarity, TaskAnalytics, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7 (plan).
  *
  * Every implemented operator has a `queries` entry; SQL-expressible ones
  * also have a DuckDB oracle in `oracleSql` with IDENTICAL output column
  * names (the driver sorts columns by name before hashing values).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TaskAnalytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 reference-derived relational operators
    "q_normalize_status" -> TaskAnalytics.normalizeStatus _,
    "q_dedup_keep_last"  -> TaskAnalytics.dedupKeepLast _,
    "q_filter_tags"      -> TaskAnalytics.filterTags _,
    "q_status_summary"   -> TaskAnalytics.statusSummary _,
    "q_status_dist"      -> TaskAnalytics.statusDist _,
    "q_priority_dist"    -> TaskAnalytics.priorityDist _,
    "q_overdue"          -> TaskAnalytics.overdue _,
    "q_oldest_pending"   -> TaskAnalytics.oldestPending _,
    "q_backlog_rank"     -> TaskAnalytics.backlogRank _,
    "q_weekly_velocity"  -> TaskAnalytics.weeklyVelocity _,
    "q_period_report"    -> TaskAnalytics.periodReport _,
    "q_parent_join"      -> TaskAnalytics.parentJoin _,
    "q_hierarchy_rollup" -> TaskAnalytics.hierarchyRollup _,
    "q_project_flags"    -> TaskAnalytics.projectFlags _,
    "q_clean_text"       -> TaskAnalytics.cleanTruncate _,
    "q_uncategorized"    -> TaskAnalytics.uncategorized _,
    "q_markdown_runs"    -> TaskAnalytics.markdownRuns _,
    "q_active_projects"  -> TaskAnalytics.activeProjects _,
    // §2.2 headline analytics
    "q1_pricing_summary" -> TaskAnalytics.q1PricingSummary _,
    "q3_top_revenue"     -> TaskAnalytics.q3TopRevenue _,
    "q5_region_volume"   -> TaskAnalytics.q5RegionVolume _,
    // §2.3 events (batch variants)
    "q_sessionize"       -> TaskAnalytics.sessionize _,
    "q_session_window"   -> TaskAnalytics.sessionWindow _,
    "q_event_window_agg" -> TaskAnalytics.eventWindowAgg _,
    "q_json_props"       -> TaskAnalytics.jsonProps _,
    "q_json_normalize"   -> TaskAnalytics.jsonNormalize _,
    // §2.4 deduplication
    "q_dedup_exact"         -> Dedup.exact _,
    "q_dedup_ngram_jaccard" -> Dedup.ngramJaccard _,
    "q_dedup_minhash"       -> ((s, d) => Dedup.minhashLsh(s, d)),
    // near-dup pairs rolled up to the (source, source) matrix
    "q_dup_matrix"          -> Dedup.dupMatrix _,
    "q_dedup_simhash"       -> ((s, d) => Dedup.simhash(s, d)),
    "q_dedup_embedding"     -> Similarity.embeddingDup _,
    "q_dedup_containment"   -> Dedup.containment _,
    "q_dedup_incremental"   -> Dedup.incremental _,
    // span-level (substring) dedup: maximal duplicated token spans
    "q_dedup_span"          -> ((s, d) => Dedup.spanDedup(s, d)),
    // the cleaning ACTION: cut the located spans out of the stream
    "q_span_scrub"          -> ((s, d) => Dedup.spanScrub(s, d)),
    // SemDeDup: cluster-restricted embedding near-dup prune
    "q_dedup_semantic"      -> Similarity.semanticDedup _,
    // cluster health card: size / cohesion / label purity per cell
    "q_topic_clusters"      -> Clustering.topicClusters _,
    // SSL-prototypes pruning: drop the most-prototypical quarter per cell
    "q_prototype_prune"     -> Clustering.prototypePrune _,
    // diversity rebalancing: cap every cell at the uniform share
    "q_cluster_mix"         -> Clustering.clusterMix _,
    // §2.5 similarity search
    "q_ann_brute_topk" -> Similarity.annBruteTopK _,
    // embedding-quality audit: 1-NN leave-one-out label accuracy
    "q_knn_label_acc"  -> Similarity.knnLabelAcc _,
    // attribute-filtered search (WHERE label = …): brute + IVF paths
    "q_ann_filtered_topk"     -> Similarity.annFilteredTopK _,
    "q_ann_ivf_filtered_topk" -> Similarity.annIvfFilteredTopK _,
    // contrastive hard-negative mining: nearest cross-label neighbors
    "q_hard_negatives"        -> Similarity.hardNegatives _,
    // the IVF-probed scale path of the same mining (rows-only; recall
    // vs the brute oracle is driver-gated via q_recall_report)
    "q_hard_negatives_ivf"    -> Similarity.hardNegativesIvf _,
    // SQ8 scalar quantization: the first accelerated path with a FULL
    // oracle — the integer fixed-point surrogate makes the candidate
    // cut engine-reproducible, so this one is hash-gated cell-exact
    "q_ann_sq_topk"    -> Similarity.annSqTopK _,
    // sign-bit binary quantization: the second full-oracle accelerated
    // path — Hamming surrogate is xor+popcount integers in both
    // engines, and with no trained parameters the oracle holds at any
    // corpus size
    "q_ann_bq_topk"    -> Similarity.annBqTopK _,
    "q_ann_lsh_topk"   -> Similarity.annLshTopK _,
    "q_ann_ivf_topk"   -> Similarity.annIvfTopK _,
    "q_ann_ivf2_topk"  -> Similarity.annIvfLearnedTopK _,
    "q_ann_pq_topk"    -> Similarity.annPqTopK _,
    "q_ann_opq_topk"   -> Similarity.annOpqTopK _,
    "q_ann_ivfpq_topk" -> Similarity.annIvfPqTopK _,
    // persisted-index twin: same ranking from the materialized
    // cell-partitioned artifact (sources.PqIndex; rows-only like the
    // other ANN entries — equality with q_ann_ivfpq_topk is spec'd)
    "q_ann_pq_indexed" -> sources.PqIndex.annPqIndexed _,
    // graph-based ANN (the SPANN/DiskANN split): driver-local NSW
    // beam routing over the bounded node set + distributed
    // bucket-pruned exact rerank; gated via ann_hnsw_recall5
    "q_ann_hnsw_topk"  -> GraphAnn.annHnswTopK _,
    // persisted-artifact twin: same neighbors from the node-partitioned
    // SPANN posting table + graph sidecar (sources.GraphIndex)
    "q_ann_hnsw_indexed" -> sources.GraphIndex.annHnswIndexed _,
    // full-oracle since r11: the participation ratio is computed via
    // trace identities (tr(C)²/(tr(C²)·d) — no eigenvalues), so the
    // whole decision pipeline is sequential-fold-reproducible in SQL
    "q_ann_advisor"    -> AnnAdvisor.advisorVerdict _,
    // third advisor axis: per-label filter selectivity → pre-filter
    // brute vs post-filtered IVF with a scaled probe budget
    "q_ann_advisor_filtered" -> AnnAdvisor.advisorFilteredVerdict _,
    // driver-checked quality gate for every approximate entry above:
    // recall@5 vs the exact in-catalog baselines + sketch error bounds,
    // emitted as thresholded verdict rows against a generated VALUES
    // oracle — a recall/bound regression now hash-fails the round
    "q_recall_report"  -> operators.RecallReport.report _,
    // §2.6 text analysis
    "q_token_count"     -> TextAnalysis.tokenCount _,
    "q_quality_score"   -> TextAnalysis.quality _,
    // quality-weighted (importance) sampling: keep-prob == score
    "q_quality_sample"  -> ((s, d) => TextAnalysis.qualitySample(s, d)),
    "q_lang_id"         -> TextAnalysis.languageId _,
    "q_doc_fingerprint" -> TextAnalysis.fingerprint _,
    "q_pii_scrub"       -> TextAnalysis.piiScrub _,
    "q_contamination"   -> TextAnalysis.contamination _,
    "q_contamination_score" -> ((s, d) => TextAnalysis.contaminationScore(s, d)),
    "q_tfidf_top_terms" -> TextAnalysis.tfidfTopTerms _,
    "q_lm_score"        -> TextAnalysis.lmScore _,
    "q_gopher_filter"   -> ((s, d) => TextAnalysis.gopherFilter(s, d)),
    // compressibility gate: per-doc character Shannon entropy
    "q_char_entropy"    -> ((s, d) => TextAnalysis.charEntropy(s, d)),
    // per-stage corpus yield report over the cleaning gates
    "q_pipeline_yield"  -> TextAnalysis.pipelineYield _,
    // bad-word density gate (C4 blocklist family)
    "q_blocklist_filter" -> ((s, d) => TextAnalysis.blocklistFilter(s, d)),
    "q_repetition"      -> ((s, d) => TextAnalysis.repetition(s, d)),
    "q_chunk_docs"      -> ((s, d) => TextAnalysis.chunkDocs(s, d)),
    "q_cooccur"         -> TextAnalysis.cooccur _,
    "q_dedup_clusters"  -> TextAnalysis.dedupClusters _,
    // the clustering ACTION: keep the best member per near-dup cluster
    "q_cluster_reps"    -> TextAnalysis.clusterReps _,
    "q_clean_pipeline"  -> TextAnalysis.cleanPipeline _,
    // the full corpus→training-sequences path as one composed query
    "q_corpus_pipeline" -> ((s, d) => TextAnalysis.corpusPipeline(s, d)),
    // §2.6b corpus curation (round 7): data selection / mixture monitors
    "q_token_budget"   -> ((s, d) => CorpusCuration.tokenBudget(s, d)),
    "q_ppl_buckets"    -> ((s, d) => CorpusCuration.pplBuckets(s, d)),
    "q_source_sim"     -> CorpusCuration.sourceSim _,
    "q_source_overlap" -> CorpusCuration.sourceOverlap _,
    // weighted PageRank over the content-sharing source graph (edges =
    // cross-source shared-shingle counts; 8 unrolled power iterations)
    "q_source_rank"    -> ((s, d) => CorpusCuration.sourceRank(s, d)),
    "q_kl_drift"       -> CorpusCuration.klDrift _,
    "q_epoch_shuffle"  -> ((s, d) => CorpusCuration.epochShuffle(s, d)),
    "q_quality_calibration" -> CorpusCuration.qualityCalibration _,
    "q_novelty"       -> ((s, d) => CorpusCuration.novelty(s, d)),
    "q_lang_mismatch" -> CorpusCuration.langMismatch _,
    // per-source dataset datasheet (docs/dups/tokens/quality/lang mix)
    "q_corpus_card"   -> CorpusCuration.corpusCard _,
    "q_term_search"   -> ((s, d) => CorpusCuration.termSearch(s, d)),
    // BM25 ranked search beside the boolean term search
    "q_bm25_rank"     -> ((s, d) => Retrieval.bm25Rank(s, d)),
    // standing-search twin: same ranking served from the persisted
    // shard-partitioned postings index (sources.Bm25Index) — shares
    // bm25Rank's oracle, the q_bpe_persisted artifact-identity pattern
    "q_bm25_indexed"  -> sources.Bm25Index.bm25Indexed _,
    // time-travel index read: ranks AT pinned v1 (the %3≠2 slice)
    // while the v2 append exists — oracle recomputes v1's slice
    "q_bm25_versioned" -> sources.Bm25Index.bm25Versioned _,
    // hybrid retrieval: integer-division reciprocal-rank fusion of the
    // BM25 and dense-cosine lists (full oracle — both lists are)
    "q_hybrid_rrf"    -> ((s, d) => Retrieval.hybridRrf(s, d)),
    // MMR diversified rerank of the dense retrieval list (full oracle:
    // the greedy rounds unroll as generated CTEs)
    "q_mmr_rerank"    -> ((s, d) => Retrieval.mmrRerank(s, d)),
    // exact-phrase ranked search (decontamination quote-lookup), and
    // its positional-postings standing twin — cell-equal, one oracle
    "q_phrase_search"  -> ((s, d) => Retrieval.phraseSearch(s, d)),
    "q_phrase_indexed" -> sources.PhraseIndex.phraseIndexed _,
    // exchange-free co-located fact join from the bucketed layout
    "q_bucketed_join"  -> sources.Bucketed.bucketedJoin _,
    // time-travel read of a pinned snapshot version while a later
    // append exists (manifest-versioned dataset)
    "q_snapshot_read"  -> sources.Snapshots.snapshotRead _,
    // append-only CDC over the same fixture: the 1→2 delta reads only
    // v2's new files (zero I/O against the standing corpus)
    "q_snapshot_changes" -> sources.Snapshots.snapshotChanges _,
    // versioned keyed MERGE (keep-last upsert committed as a rewrite):
    // updates replace, inserts land, untouched rows carry forward —
    // the oracle recomputes the merged state closed-form
    "q_snapshot_merge" -> sources.Snapshots.snapshotMerge _,
    // the merge CHANGE FEED (Delta CDF): the upsert delta across the
    // merge reads only the bounded changes/ files, never the corpus
    "q_snapshot_merge_changes" -> sources.Snapshots.snapshotMergeChanges _,
    // manifest-stats data skipping: the predicate prunes files at the
    // MANIFEST (zero footer I/O) and the oracle recomputes from the
    // predicate alone — skipping changes I/O, never results
    "q_snapshot_read_pruned" -> sources.Snapshots.snapshotReadPruned _,
    // planner-integrated skipping: the SAME predicate as an ordinary
    // DataFrame filter over a custom FileIndex — Catalyst's pushed
    // data filters reach the manifest stats prune, no StatsPred needed
    "q_snapshot_scan_pruned" -> sources.Snapshots.snapshotScanPruned _,
    // stats-pruned row-level DELETE (copy-on-write rewrites only the
    // stat-overlapping files) read back post-delete
    "q_snapshot_delete" -> sources.Snapshots.snapshotDelete _,
    // stats-pruned row-level UPDATE (copy-on-write with the Delta
    // pre+post change pair) read back post-update
    "q_snapshot_update" -> sources.Snapshots.snapshotUpdate _,
    // typed change feed: insert/delete rows attributed to their commits
    "q_snapshot_change_feed" -> sources.Snapshots.snapshotChangeFeed _,
    // per-file bloom membership skipping for point lookups on a
    // layout-uncorrelated column (min/max stats cannot prune those)
    "q_snapshot_bloom_lookup" -> sources.Snapshots.snapshotBloomLookup _,
    // Morton z-order layout: the SECOND z dimension pruned via
    // readWhere over a clusterZ'd artifact
    "q_snapshot_zorder" -> sources.Snapshots.snapshotZorder _,
    // cross-version corpus drift: per version slice, unigram KL to the
    // union mixture (the JS decomposition) — the curation monitor
    // composed onto the versioned layer
    "q_snapshot_drift" -> sources.Snapshots.snapshotDrift _,
    "q_rate_anomaly"  -> CorpusCuration.rateAnomaly _,
    "q_embed_drift"   -> CorpusCuration.embedDrift _,
    "q_pack_efficiency" -> CorpusCuration.packEfficiency _,
    "q_vocab_coverage"  -> CorpusCuration.vocabCoverage _,
    // distributional-health monitors beside q_kl_drift: rank-frequency
    // slope (marginals) and conditional next-token entropy (transitions)
    "q_zipf_fit"        -> CorpusCuration.zipfFit _,
    "q_bigram_entropy"  -> CorpusCuration.bigramEntropy _,
    // Efraimidis-Spirakis exact-size quality-weighted sample
    "q_weighted_sample" -> CorpusCuration.weightedSample _,
    // §2.6c learned data-selection filters (round 8): NB curated-text
    // classifier (train/score/holdout-eval) + DSIR importance weights —
    // full DuckDB oracles down to the training computation itself
    "q_nb_train"      -> ((s, d) => operators.Classifier.nbTrain(s, d)),
    "q_nb_score"      -> ((s, d) => operators.Classifier.nbScore(s, d)),
    "q_nb_eval"       -> operators.Classifier.nbEval _,
    // threshold-free ranking quality: binned ROC-AUC on the holdout
    "q_nb_auc"        -> operators.Classifier.nbAuc _,
    "q_dsir_weights"  -> ((s, d) => operators.Classifier.dsirWeights(s, d)),
    "q_dsir_select"   -> ((s, d) => operators.Classifier.dsirSelect(s, d)),
    // the cascade idiom: map-side heuristic gate prunes the stream
    // BEFORE the learned model's token join sees it
    "q_filter_cascade" -> ((s, d) => operators.Classifier.filterCascade(s, d)),
    // §2.7 multimodal metadata
    "q_multimodal_meta" -> TextAnalysis.multimodalMeta _,
    // multimodal → embedding bridge: REAL ImageIO decode feeds a
    // pixel-statistic embedding; near-dup IMAGE pairs, full oracle
    // (closed-form generator recompute — the shard_balance contract)
    "q_image_sim"       -> sources.ImageSim.imageSim _,
    // the audio mirror: REAL javax.sound sample decode feeds the
    // envelope+crossings embedding; near-dup CLIP pairs, full oracle
    "q_audio_sim"       -> sources.AudioSim.audioSim _,
    // record linkage: blocked fuzzy join over planted dirty records —
    // blocking equi-join + levenshtein verify, full oracle
    "q_entity_resolve"  -> operators.EntityResolve.entityResolve _,
    // incremental twin: the arriving batch broadcasts into the blocked
    // standing store — O(batch x avg-block) work, never O(store^2)
    "q_entity_resolve_incr" -> operators.EntityResolve.entityResolveIncremental _,
    // canonicalization: verified pairs -> connected components -> one
    // golden record per entity cluster (longest name, min-id tiebreak)
    "q_entity_clusters" -> operators.EntityResolve.entityClusters _,
    // §2.1b extended composed analytics
    "q_anti_join"         -> ExtendedAnalytics.customersWithoutOrders _,
    "q_semi_join"         -> ExtendedAnalytics.activeCustomers _,
    "q_rollup"            -> ExtendedAnalytics.rollupStatusPriority _,
    "q_pivot"             -> ExtendedAnalytics.pivotStatusPriority _,
    "q_stratified_sample" -> ExtendedAnalytics.stratifiedSample _,
    "q_data_split"        -> ((s, d) => ExtendedAnalytics.dataSplit(s, d)),
    "q_keyed_sample"      -> ExtendedAnalytics.keyedSample _,
    // pretraining-mixture resampling: map-side hash filter against
    // broadcast per-lang thresholds from one aggregate scan
    "q_domain_mix"        -> ExtendedAnalytics.domainMix _,
    "q_domain_mix_up"     -> ExtendedAnalytics.domainMixUpsample _,
    "q_domain_mix_alpha"  -> ExtendedAnalytics.domainMixAlpha _,
    // GPT-style concat-and-chunk packing via two-phase prefix sum
    "q_pack_sequences"    -> ((s, d) => ExtendedAnalytics.packSequences(s, d)),
    // distributed BPE vocabulary learning (operators.Bpe)
    "q_bpe_merges"        -> operators.Bpe.bpeMerges _,
    "q_bpe_vocab"         -> operators.Bpe.bpeVocab _,
    // unigram-LM tokenizer (SentencePiece family): vocab, Viterbi
    // encode, E-step piece counts
    "q_unigram_vocab"     -> operators.Unigram.unigramVocab _,
    "q_unigram_encode"    -> ((s, d) => operators.Unigram.unigramEncode(s, d)),
    "q_unigram_refit"     -> operators.Unigram.unigramRefit _,
    "q_bpe_encode"        -> ((s, d) => operators.Bpe.bpeEncode(s, d)),
    // persisted-tokenizer round trip: save, reload, encode — the
    // artifact contract is output identity with q_bpe_encode, so the
    // two queries share one oracle
    "q_bpe_persisted"     -> sources.TokenizerArtifact.encodePersisted _,
    // sharded-export audit: the query reads the written artifact, the
    // oracle recomputes the portable-hash assignment from the corpus
    "q_shard_balance"     -> sources.Export.shardBalance _,
    "q_bpe_fertility"     -> operators.Bpe.bpeFertility _,
    // bloom runtime-filter pruning (plans.BloomMightContain)
    "q_bloom_prefilter"   -> operators.BloomPrune.prefilterRevenue _,
    // attachment-content extraction (sources.Attachments: binaryFile
    // tree round-trip — download stage + readable-content query)
    "q_attachment_text"   -> sources.Attachments.attachmentText _,
    // block-tree + comments normalization (operators.BlockTree:
    // recursive page tree → ordered markdown lines, json_extract oracle)
    "q_block_tree"        -> operators.BlockTree.blockTree _,
    // report-document assembly (operators.ReportDoc: the reference's
    // PDF-report sections/grouping/numbering as position-ordered lines)
    "q_report_doc"        -> operators.ReportDoc.reportDoc _,
    // paginated-API ingest (sources.PagedTasks: DataSource V2 over
    // response-envelope pages — parallel cursor chain, 429 retry,
    // pruned parse, keep-last merge)
    "q_paged_ingest"      -> sources.PagedTasks.pagedIngest _,
    "q_vocab_topk"        -> ExtendedAnalytics.vocabTopK _,
    "q_ngram_freq"        -> ExtendedAnalytics.ngramFreqTopK _,
    "q_running_total"     -> ExtendedAnalytics.runningTotal _,
    "q_wow_change"        -> ExtendedAnalytics.weekOverWeek _,
    "q_length_stats"      -> ExtendedAnalytics.lengthStats _,
    // custom whole-operator (plans.AsOfJoin: LogicalPlan+Strategy+Exec)
    "q_asof_join"         -> ExtendedAnalytics.purchasesWithLastError _,
    // bucketized range join (no nested loop: (user, ts-bucket) equi-join
    // with the probe exploded to its 2 covering buckets)
    "q_interval_join"     -> ExtendedAnalytics.errorContext _,
    // SCD2 versioned-dimension build (keep-last dedup is the SCD1 half)
    "q_scd2"              -> ExtendedAnalytics.scd2Intervals _,
    // product-analytics staples over the event log
    "q_funnel"            -> ExtendedAnalytics.funnel _,
    "q_retention"         -> ExtendedAnalytics.retention _,
    "q_weekly_focus"      -> TaskAnalytics.weeklyFocus _,
    // sketches: both PORTABLE since r13 — q_approx_stats rides a KMV
    // bottom-k distinct sketch + integer-grid histogram median and
    // q_heavy_hitters a Count-Min sketch, each rebuilt bit-identically
    // by its DuckDB oracle (full hash gates; the relerr recall gates
    // additionally bound the estimates against exact answers)
    "q_approx_stats"      -> ExtendedAnalytics.approxStats _,
    "q_heavy_hitters"     -> operators.Sketches.heavyHitters _,
    "q_schema_health"     -> ExtendedAnalytics.schemaHealth _,
    // join-key skew diagnostic over the events fact
    "q_skew_report"       -> ExtendedAnalytics.skewReport _,
    // first-order Markov transition matrix over event types
    "q_event_transitions" -> ExtendedAnalytics.eventTransitions _,
    // top 3-step event-type paths (the multi-step habits a first-order
    // transition matrix flattens)
    "q_event_paths"       -> ExtendedAnalytics.eventPaths _,
    // log2-bucketed doc-length profile
    "q_length_histogram"  -> ExtendedAnalytics.lengthHistogram _,
    "q_report_goals"      -> ExtendedAnalytics.reportGoals _,
    "q_moving_avg"        -> ExtendedAnalytics.movingAvg _,
    "q_value_deciles"     -> ExtendedAnalytics.valueDeciles _,
    // custom bounded-heap operator (plans.TopKPerKey)
    "q_topk_per_key"      -> ExtendedAnalytics.topOrdersPerCustomer _,
    "q_cube"              -> ExtendedAnalytics.cubeStatusPriority _,
    "q_argmax"            -> ExtendedAnalytics.argmaxOrder _,
    "q_string_funcs"      -> ExtendedAnalytics.stringFuncs _,
    "q_date_funcs"        -> ExtendedAnalytics.dateFuncs _,
    "q_set_ops"           -> ExtendedAnalytics.setOps _,
    // typed Aggregator (functions.WeightedMean)
    "q_weighted_mean"     -> ExtendedAnalytics.weightedMeanPrice _,
  )

  /** Shared DuckDB fragments — single source for the standalone
    * quality/lang/PII oracles and the composed cleaning-pipeline oracle
    * (kept as plain literals: the s-interpolator would reject the regex
    * backslashes as escape sequences).
    */
  /** Shingle → Jaccard-pair → transitive-reach CTE chain ending in
    * `reach` — shared by the q_dedup_clusters and q_cluster_reps
    * oracles so the clustering definitions cannot drift. Callers
    * prefix `WITH RECURSIVE`.
    */
  private val sqlClusterCtes =
    """toks AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         sgl AS (
           SELECT doc_id, CASE WHEN len(t) >= 3
             THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                    i -> array_to_string(t[i:i + 2], ' ')))
             ELSE [] END AS shs FROM toks),
         docs AS (
           SELECT doc_id, list_distinct(list_transform(shs,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
                  (a, c) -> (a * 31 + c) % 1000000007))) AS sh
           FROM sgl WHERE len(shs) > 0),
         ex AS (SELECT doc_id, unnest(sh) AS h FROM docs),
         cooc AS (
           SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
           FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id GROUP BY 1, 2),
         pairs AS (
           SELECT a, b FROM cooc
           JOIN docs da ON da.doc_id = a JOIN docs db ON db.doc_id = b
           WHERE CAST(inter AS DOUBLE) / (len(da.sh) + len(db.sh) - inter) >= 0.6),
         edges AS (SELECT a AS s, d FROM (SELECT a, b AS d FROM pairs) UNION
                   SELECT b AS s, a AS d FROM pairs),
         reach AS (
           SELECT s, d FROM edges
           UNION
           SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)"""

  private val sqlQualityCtes =
    """qt AS (
           SELECT doc_id, CAST(length(text) AS DOUBLE) AS nchars,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS punct
           FROM documents),
         qs AS (
           SELECT doc_id, nchars, punct,
             CAST(len(toks) AS DOUBLE) AS nwords,
             CAST(len(list_intersect(toks,
               ['the','a','of','and','to','in','is','it'])) AS DOUBLE) AS stops
           FROM qt),
         qq AS (
           SELECT doc_id, floor((
               0.4 * least(nwords / 100.0, 1.0)
             + 0.3 * (1.0 - CASE WHEN nchars > 0 THEN punct / nchars ELSE 0.0 END)
             + 0.2 * (CASE WHEN nwords > 0 THEN stops / nwords ELSE 0.0 END)
             + 0.1 * least((CASE WHEN nwords > 0 THEN nchars / nwords ELSE 0.0 END) / 10.0, 1.0)
             ) * 10000.0 + 0.5) / 10000.0 AS quality
           FROM qs)"""

  /** Shared bigram-LM CTEs: documents → per-doc (n_pairs, lm_score) as
    * `lm` — single source for the q_lm_score oracle and the CCNet
    * perplexity-bucket oracle built on top of it.
    */
  private val sqlLmCtes =
    s"""d2 AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |  FROM documents
       |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 2
       |), pairs AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS w1, ts[i+1] AS w2
       |  FROM d2 CROSS JOIN unnest(generate_series(1, len(ts) - 1)) AS u(i)
       |), big AS (
       |  SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2
       |), uni AS (
       |  SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM big GROUP BY 1
       |), vocab AS (
       |  SELECT count(DISTINCT w.t) AS v
       |  FROM (SELECT unnest(ts) AS t FROM d2) w
       |), scored AS (
       |  SELECT p.doc_id, p.pos,
       |         ln(CAST(b.cb + ${TextAnalysis.LmAlpha} AS DOUBLE) /
       |            CAST(u.cu + ${TextAnalysis.LmAlpha} * v.v AS DOUBLE)) AS logp
       |  FROM pairs p JOIN big b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN vocab v
       |), lm AS (
       |  SELECT doc_id, count(*) AS n_pairs,
       |    round(-list_reduce(list_prepend(0.0, list(logp ORDER BY pos)), (a, x) -> a + x)
       |          / count(*), ${TextAnalysis.LmScoreDp}) AS lm_score
       |  FROM scored GROUP BY doc_id)""".stripMargin

  private val sqlLangCtes =
    """lt AS (
           SELECT doc_id, source, lang AS declared_lang,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
           FROM documents),
         lsc AS (
           SELECT doc_id, source, declared_lang,
             len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS s_en,
             len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein'])) AS s_de,
             len(list_intersect(toks, ['el','la','los','de','que','es','un'])) AS s_es
           FROM lt),
         lp AS (
           SELECT doc_id, source, declared_lang,
             CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 THEN 'unknown'
                  WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                  WHEN s_de >= s_es THEN 'de'
                  ELSE 'es' END AS pred_lang
           FROM lsc)"""

  private def sqlPii(c: String): String =
    """regexp_replace(
           regexp_replace(
             regexp_replace(COLREF,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
           '[0-9]{6,}', '<NUM>', 'g')""".replace("COLREF", c)

  /** Sort-free twin of every catalog query (`plans.Unordered` strips
    * the outermost presentation ORDER BY): the form a pipeline composes
    * when the next stage is a write/join/agg and the global range
    * exchange would be pure waste. Result SET identical to the ordered
    * form by construction; UnorderedFormSpec asserts the corpus-scale
    * entries carry no global Sort at all.
    */
  def unordered: Map[String, (SparkSession, String) => DataFrame] =
    queries.map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => graft.plans.Unordered.form(f(s, d)))
    }

  def oracleSql: Map[String, String] = Map(
    "q_normalize_status" ->
      """SELECT o_orderkey,
         CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
              WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM orders ORDER BY o_orderkey""",
    "q_dedup_keep_last" ->
      """SELECT user_id, event_type, event_id, round(value, 2) AS value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY user_id, event_type""",
    "q_filter_tags" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE list_has_any(string_split(text, ' '),
                            ['spark', 'shuffle', 'partition'])
         ORDER BY doc_id""",
    "q_status_summary" ->
      """SELECT count(*) AS total,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS finished,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS open,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS pending
         FROM orders""",
    "q_status_dist" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
              WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status,
         count(*) AS n
         FROM orders GROUP BY 1 ORDER BY status""",
    "q_priority_dist" ->
      """SELECT o_orderpriority AS priority,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         count(*) AS n, round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY 1, 2 ORDER BY prio_score""",
    "q_overdue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         o_orderpriority AS priority, round(o_totalprice, 2) AS total_price
         FROM orders
         WHERE o_orderstatus = 'O' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         ORDER BY order_date, o_orderkey""",
    "q_oldest_pending" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         o_orderpriority AS priority
         FROM orders WHERE o_orderstatus = 'O'
         ORDER BY order_date, o_orderkey LIMIT 5""",
    "q_backlog_rank" ->
      """SELECT o_orderkey,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         round(o_totalprice, 2) AS total_price
         FROM orders WHERE o_orderstatus = 'O'
         ORDER BY prio_score, order_date, o_orderkey LIMIT 15""",
    "q_weekly_velocity" ->
      """SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
         count(*) AS n_completed
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY 1 ORDER BY week""",
    "q_period_report" ->
      """SELECT o_orderpriority AS priority, count(*) AS n,
         round(sum(o_totalprice), 2) AS total_price
         FROM orders
         WHERE o_orderstatus = 'F'
           AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1997-06-30 00:00:00'
         GROUP BY 1 ORDER BY priority""",
    "q_parent_join" ->
      """SELECT c_custkey, c_name, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY c_custkey""",
    "q_hierarchy_rollup" ->
      """SELECT r_name, n_name, count(DISTINCT c_custkey) AS n_customers,
         count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY r_name, n_name""",
    "q_project_flags" ->
      """SELECT c_custkey, c_name, coalesce(n_orders, 0) AS n_orders,
         coalesce(n_orders, 0) >= 12 AS is_project
         FROM customer LEFT JOIN
           (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) t
           ON c_custkey = o_custkey
         ORDER BY c_custkey""",
    "q_clean_text" ->
      """SELECT doc_id,
         CASE WHEN length(t) > 60 THEN left(t, 57) || '...' ELSE t END AS clean_text
         FROM (SELECT doc_id,
               replace(replace(replace(replace(replace(replace(replace(text,
                 '’', ''''), '‘', ''''), '“', '"'), '”', '"'),
                 '–', '-'), '—', '-'), '…', '...') AS t
               FROM documents)
         ORDER BY doc_id""",
    "q_uncategorized" ->
      """SELECT o_orderkey, o_orderstatus AS status FROM orders
         WHERE o_orderstatus NOT IN ('O', 'F') ORDER BY o_orderkey""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_extendedprice), 4) AS avg_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",
    "q3_top_revenue" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_region_volume" ->
      """SELECT r_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE year(o_orderdate) = 1997
         GROUP BY 1, 2 ORDER BY r_name, n_name""",
    "q_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                  THEN 1 ELSE 0 END AS boundary
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           round(sum(value), 2) AS value_sum
         FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""",
    "q_session_window" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000
                  THEN 1 ELSE 0 END AS boundary
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS value_sum
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_start""",
    "q_event_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n, round(sum(value), 2) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "q_json_props" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
         FROM (SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
         GROUP BY 1 ORDER BY event_type""",
    "q_markdown_runs" ->
      """WITH md AS (
           SELECT doc_id,
             array_to_string(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+')[1:5],
               (x, i) -> CASE WHEN i % 2 = 0 THEN '**' || x || '**' ELSE x END), ' ') AS md
           FROM documents),
         segs AS (SELECT doc_id, string_split(md, '**') AS segs FROM md)
         SELECT doc_id, CAST(gs - 1 AS INTEGER) AS run_idx, segs[gs] AS run_text,
           (gs - 1) % 2 = 1 AS is_bold
         FROM segs, unnest(generate_series(1, len(segs))) AS g(gs)
         WHERE segs[gs] <> ''
         ORDER BY doc_id, run_idx""",
    "q_active_projects" ->
      """SELECT c_custkey, c_name, n_orders, n_open, open_prios
         FROM customer JOIN (
           SELECT o_custkey, count(*) AS n_orders,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
             array_to_string(list_sort(list(DISTINCT o_orderpriority)
               FILTER (WHERE o_orderstatus = 'O')), ',') AS open_prios
           FROM orders GROUP BY 1) t ON c_custkey = o_custkey
         WHERE n_orders >= 12 AND n_open > 0
         ORDER BY c_custkey""",
    "q_json_normalize" ->
      """WITH toks AS (
           SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         page AS (
           SELECT doc_id, to_json({
             id: doc_id,
             properties: {
               Status: CASE WHEN doc_id % 7 <> 0 THEN {"select": {name: lang}} ELSE NULL END,
               Tags: CASE WHEN len(t) >= 2
                 THEN {multi_select: [{name: t[1]}, {name: t[2]}]} ELSE NULL END,
               Name: {title: list_transform(t[1:3],
                 (x, i) -> {plain_text: x, bold: i % 2 = 0})}
             }}) AS j
           FROM toks)
         SELECT doc_id,
           coalesce(json_extract_string(j, '$.properties.Status.select.name'), 'none') AS status,
           CAST(coalesce(json_array_length(j, '$.properties.Tags.multi_select'), 0) AS INTEGER) AS n_tags,
           coalesce(json_extract_string(j, '$.properties.Tags.multi_select[0].name'), '') AS first_tag,
           coalesce(json_extract_string(j, '$.properties.Name.title[0].plain_text'), '')
             || CASE WHEN json_extract(j, '$.properties.Name.title[1].bold') = 'true'
                  THEN '**' || json_extract_string(j, '$.properties.Name.title[1].plain_text') || '**'
                  ELSE coalesce(json_extract_string(j, '$.properties.Name.title[1].plain_text'), '') END
             || coalesce(json_extract_string(j, '$.properties.Name.title[2].plain_text'), '') AS title_md
         FROM page ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_md5, count(*) AS n_docs, min(doc_id) AS rep_id
         FROM documents GROUP BY 1 ORDER BY content_md5""",
    "q_dedup_ngram_jaccard" -> Dedup.sqlNgramJaccard,
    "q_dedup_minhash"       -> Dedup.sqlMinhashLsh,
    "q_dup_matrix"          -> Dedup.sqlDupMatrix,
    "q_dedup_simhash"       -> Dedup.sqlSimhash,
    "q_dedup_embedding"     -> Similarity.sqlEmbeddingDup,
    "q_dedup_containment"   -> Dedup.sqlContainment,
    "q_dedup_incremental"   -> Dedup.sqlIncremental,
    "q_dedup_span"          -> Dedup.sqlSpanDedup,
    "q_span_scrub"          -> Dedup.sqlSpanScrub,
    "q_dedup_semantic"      -> Similarity.sqlSemanticDedup,
    "q_topic_clusters"      -> Clustering.sqlTopicClusters,
    "q_prototype_prune"     -> Clustering.sqlPrototypePrune,
    "q_cluster_mix"         -> Clustering.sqlClusterMix,
    "q_ann_brute_topk"      -> Similarity.sqlAnnBruteTopK,
    "q_ann_sq_topk"         -> Similarity.sqlAnnSqTopK,
    "q_ann_bq_topk"         -> Similarity.sqlAnnBqTopK,
    "q_ann_filtered_topk"   -> Similarity.sqlAnnFilteredTopK,
    "q_hard_negatives"      -> Similarity.sqlHardNegatives,
    "q_knn_label_acc"       -> Similarity.sqlKnnLabelAcc,
    "q_recall_report"       -> operators.RecallReport.oracleSql,
    "q_heavy_hitters"       -> operators.Sketches.heavyHittersOracleSql,
    "q_approx_stats"        -> ExtendedAnalytics.approxStatsOracleSql,
    "q_ann_advisor"          -> AnnAdvisor.sqlAdvisor,
    "q_ann_advisor_filtered" -> AnnAdvisor.sqlAdvisorFiltered,
    "q_keyed_sample" ->
      s"""WITH h AS (
           SELECT lang, doc_id,
             (doc_id * ${operators.ExtendedAnalytics.KeyedSampleA}) % ${functions.TextFunctions.HashP} AS hkey
           FROM documents)
         SELECT lang, doc_id, hkey FROM h
         QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id)
           <= ${operators.ExtendedAnalytics.KeyedSampleK}
         ORDER BY lang, hkey, doc_id""",
    "q_bloom_prefilter" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F'
           AND o_orderdate >= TIMESTAMP '${operators.BloomPrune.CutoffDate} 00:00:00'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_attachment_text" -> sources.Attachments.oracleSql,
    "q_gopher_filter" -> TextAnalysis.gopherOracleSql,
    "q_funnel" ->
      """WITH e AS (
         |  SELECT user_id, event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events
         |), s1 AS (
         |  SELECT user_id, min(us) AS t FROM e
         |  WHERE event_type = 'signup' GROUP BY user_id
         |), s2 AS (
         |  SELECT e.user_id, min(us) AS t FROM e JOIN s1 USING (user_id)
         |  WHERE event_type = 'click' AND us > s1.t GROUP BY e.user_id
         |), s3 AS (
         |  SELECT e.user_id, min(us) AS t FROM e JOIN s2 USING (user_id)
         |  WHERE event_type = 'purchase' AND us > s2.t GROUP BY e.user_id
         |)
         |SELECT 1 AS stage_no, 'signup' AS stage,
         |       (SELECT count(*) FROM s1) AS users
         |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
         |ORDER BY stage_no""".stripMargin,
    "q_retention" ->
      """WITH e AS (
         |  SELECT DISTINCT user_id,
         |         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
         |  FROM events
         |), c AS (
         |  SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id
         |)
         |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
         |  CAST(date_diff('day', cohort_week, week) // 7 AS INTEGER) AS week_offset,
         |  count(DISTINCT e.user_id) AS users
         |FROM e JOIN c USING (user_id)
         |GROUP BY c.cohort_week, week_offset
         |ORDER BY cohort_week, week_offset""".stripMargin,
    "q_scd2" ->
      """SELECT user_id,
         |  CAST(row_number() OVER w AS INTEGER) AS version,
         |  event_type AS state,
         |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
         |  strftime(CAST(lead(ts, 1) OVER w AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS valid_to
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, version""".stripMargin,
    "q_interval_join" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, event_type, value,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events)
         |SELECT a.event_id, a.user_id,
         |  count(b.us) AS n_prior,
         |  round(coalesce(sum(b.value), 0), 2) AS prior_value
         |FROM (SELECT * FROM e WHERE event_type = 'error') a
         |LEFT JOIN e b ON b.user_id = a.user_id
         |  AND b.us >= a.us - ${operators.ExtendedAnalytics.IntervalUs}
         |  AND b.us < a.us
         |GROUP BY a.event_id, a.user_id
         |ORDER BY a.event_id""".stripMargin,
    "q_repetition" -> TextAnalysis.repetitionOracleSql,
    "q_chunk_docs" -> TextAnalysis.chunkDocsOracleSql,
    "q_bpe_merges" -> operators.Bpe.bpeOracleSql,
    "q_bpe_vocab" -> operators.Bpe.bpeVocabOracleSql,
    "q_unigram_vocab" -> operators.Unigram.unigramVocabOracleSql,
    "q_unigram_encode" -> operators.Unigram.unigramEncodeOracleSql,
    "q_unigram_refit" -> operators.Unigram.unigramRefitOracleSql,
    "q_bpe_encode" -> operators.Bpe.bpeEncodeOracleSql,
    "q_bpe_persisted" -> operators.Bpe.bpeEncodeOracleSql,
    "q_shard_balance" -> sources.Export.shardBalanceOracleSql,
    "q_bpe_fertility" -> operators.Bpe.bpeFertilityOracleSql,
    "q_cooccur" -> TextAnalysis.cooccurOracleSql,
    "q_block_tree" -> operators.BlockTree.oracleSql,
    "q_report_doc" -> operators.ReportDoc.oracleSql,
    "q_paged_ingest" -> sources.PagedTasks.oracleSql,
    "q_lm_score" ->
      s"""WITH $sqlLmCtes
         |SELECT doc_id, n_pairs, lm_score FROM lm ORDER BY doc_id""".stripMargin,
    // CCNet head/middle/tail perplexity terciles per language
    "q_ppl_buckets" ->
      s"""WITH $sqlLmCtes,
         |ld AS (SELECT l.doc_id, d.lang, l.lm_score
         |       FROM lm l JOIN documents d USING (doc_id)),
         |thr AS (SELECT lang,
         |          floor(list_extract(quantile_cont(lm_score,
         |            [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]), 1)
         |            * 10000.0 + 0.5) / 10000.0 AS t1,
         |          floor(list_extract(quantile_cont(lm_score,
         |            [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]), 2)
         |            * 10000.0 + 0.5) / 10000.0 AS t2
         |        FROM ld GROUP BY lang)
         |SELECT doc_id, lang, lm_score,
         |  CASE WHEN lm_score <= t1 THEN 'head'
         |       WHEN lm_score <= t2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM ld JOIN thr USING (lang) ORDER BY doc_id""".stripMargin,
    // greedy best-quality-first selection under a corpus token budget
    "q_token_budget" ->
      s"""WITH $sqlQualityCtes,
         |tb AS (SELECT q.doc_id, q.quality, CAST(s.nwords AS BIGINT) AS ntok
         |       FROM qq q JOIN qs s USING (doc_id)),
         |tc AS (SELECT doc_id, quality, ntok,
         |         CAST(sum(ntok) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
         |           AS cum_tokens
         |       FROM tb),
         |bg AS (SELECT CAST(sum(ntok) AS BIGINT) // ${CorpusCuration.TokenBudgetDen}
         |         AS budget FROM tb)
         |SELECT doc_id, quality, ntok, cum_tokens FROM tc, bg
         |WHERE cum_tokens <= budget
         |ORDER BY quality DESC, doc_id""".stripMargin,
    // quality-decile vs mean LM score: composes the shared LM + quality
    // CTE families (names are disjoint: d2..lm vs qt/qs/qq)
    "q_quality_calibration" ->
      s"""WITH $sqlLmCtes, $sqlQualityCtes
         |SELECT CAST(floor(q.quality * 10.0) AS BIGINT) AS qbucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  floor(CAST(sum(CAST(l.lm_score AS DECIMAL(38,18))) AS DOUBLE)
         |        / count(*) * 1e6 + 0.5) / 1e6 AS mean_lm
         |FROM lm l JOIN qq q USING (doc_id)
         |GROUP BY 1 ORDER BY qbucket""".stripMargin,
    "q_source_sim"     -> CorpusCuration.sourceSimOracleSql,
    "q_source_overlap" -> CorpusCuration.sourceOverlapOracleSql,
    "q_source_rank"    -> CorpusCuration.sourceRankOracleSql,
    "q_kl_drift"       -> CorpusCuration.klDriftOracleSql,
    "q_corpus_card"    -> CorpusCuration.corpusCardOracleSql,
    "q_novelty"        -> CorpusCuration.noveltyOracleSql,
    "q_term_search"    -> CorpusCuration.termSearchOracleSql,
    "q_bm25_rank"      -> Retrieval.bm25RankOracleSql,
    "q_bm25_indexed"   -> Retrieval.bm25RankOracleSql,
    "q_bm25_versioned" -> sources.Bm25Index.bm25VersionedOracleSql,
    "q_hybrid_rrf"     -> Retrieval.hybridRrfOracleSql,
    "q_mmr_rerank"     -> Retrieval.mmrRerankOracleSql,
    "q_phrase_search"  -> Retrieval.phraseSearchOracleSql,
    "q_phrase_indexed" -> Retrieval.phraseSearchOracleSql,
    "q_bucketed_join"  -> sources.Bucketed.bucketedJoinOracleSql,
    "q_snapshot_read"  -> sources.Snapshots.snapshotReadOracleSql,
    "q_snapshot_merge" -> sources.Snapshots.snapshotMergeOracleSql,
    "q_snapshot_merge_changes" -> sources.Snapshots.snapshotMergeChangesOracleSql,
    "q_snapshot_read_pruned" -> sources.Snapshots.snapshotReadPrunedOracleSql,
    "q_snapshot_scan_pruned" -> sources.Snapshots.snapshotScanPrunedOracleSql,
    "q_snapshot_delete" -> sources.Snapshots.snapshotDeleteOracleSql,
    "q_snapshot_update" -> sources.Snapshots.snapshotUpdateOracleSql,
    "q_snapshot_change_feed" -> sources.Snapshots.snapshotChangeFeedOracleSql,
    "q_snapshot_bloom_lookup" -> sources.Snapshots.snapshotBloomLookupOracleSql,
    "q_snapshot_zorder" -> sources.Snapshots.snapshotZorderOracleSql,
    "q_snapshot_drift" -> sources.Snapshots.snapshotDriftOracleSql,
    "q_rate_anomaly"   -> CorpusCuration.rateAnomalyOracleSql,
    "q_embed_drift"    -> CorpusCuration.embedDriftOracleSql,
    "q_pack_efficiency" -> CorpusCuration.packEfficiencyOracleSql,
    "q_vocab_coverage"  -> CorpusCuration.vocabCoverageOracleSql,
    "q_zipf_fit"        -> CorpusCuration.zipfFitOracleSql,
    "q_bigram_entropy"  -> CorpusCuration.bigramEntropyOracleSql,
    "q_weighted_sample" ->
      s"""WITH $sqlQualityCtes,
         |k AS (
         |  SELECT doc_id, quality,
         |    CAST(floor(ln(CAST(doc_id % ${CorpusCuration.WSampleP}
         |        * ${CorpusCuration.WSampleA} % ${CorpusCuration.WSampleP}
         |        + 1 AS DOUBLE) / ${CorpusCuration.WSampleP})
         |      / greatest(quality, ${CorpusCuration.WSampleMinW}) * 1e6)
         |      AS BIGINT) AS key_micro
         |  FROM qq)
         |SELECT CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id)
         |    AS INTEGER) AS rank, doc_id, quality, key_micro
         |FROM k ORDER BY key_micro DESC, doc_id
         |LIMIT ${CorpusCuration.WSampleK}""".stripMargin,
    "q_nb_train"        -> operators.Classifier.nbTrainOracleSql,
    "q_nb_score"        -> operators.Classifier.nbScoreOracleSql,
    "q_nb_eval"         -> operators.Classifier.nbEvalOracleSql,
    "q_nb_auc"          -> operators.Classifier.nbAucOracleSql,
    "q_dsir_weights"    -> operators.Classifier.dsirWeightsOracleSql,
    "q_dsir_select"     -> operators.Classifier.dsirSelectOracleSql,
    "q_char_entropy"    -> TextAnalysis.charEntropyOracleSql,
    "q_blocklist_filter" -> TextAnalysis.blocklistFilterOracleSql,
    // yield-report oracle: same gate fragments as q_clean_pipeline,
    // reduced to cumulative stage counts
    "q_pipeline_yield" ->
      s"""WITH $sqlQualityCtes,
         $sqlLangCtes,
         g AS (
           SELECT d.doc_id, d.text,
             qq.quality >= ${operators.TextAnalysis.PipelineQualityMin} AS okq,
             lp.pred_lang <> 'unknown' AS okl
           FROM documents d
           JOIN qq ON qq.doc_id = d.doc_id
           JOIN lp ON lp.doc_id = d.doc_id),
         c AS (SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN okq THEN 1 ELSE 0 END) AS BIGINT) AS nq,
             CAST(sum(CASE WHEN okq AND okl THEN 1 ELSE 0 END) AS BIGINT) AS nql
           FROM g),
         dd AS (SELECT CAST(count(*) AS BIGINT) AS nqld FROM (
             SELECT row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM g WHERE okq AND okl) WHERE rn = 1),
         st AS (
           SELECT 1 AS stage_no, 'quality' AS stage, total AS n_in, nq AS n_out FROM c, dd
           UNION ALL SELECT 2, 'language', nq, nql FROM c, dd
           UNION ALL SELECT 3, 'exact_dedup', nql, nqld FROM c, dd)
         SELECT stage_no, stage, n_in, n_out, n_in - n_out AS rejected,
           floor(CAST(n_in - n_out AS DOUBLE) / greatest(n_in, 1) * 1e4 + 0.5) / 1e4
             AS reject_rate
         FROM st ORDER BY stage_no""",
    // cascade oracle: the quality CTEs compose with the NB CTEs (CTE
    // names disjoint); the model is trained on the UNGATED fold — the
    // cascade gates scoring, not training
    "q_filter_cascade" ->
      s"""WITH $sqlQualityCtes,
         |${operators.Classifier.nbSqlCtes}
         |SELECT b.doc_id, qq.quality,
         |  floor(CAST(coalesce(h.sx, 0) + p.p6 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4
         |    AS nb_score,
         |  CASE WHEN coalesce(h.sx, 0) + p.p6 > 0 THEN 1 ELSE 0 END AS pred_cur
         |FROM base b JOIN qq USING (doc_id) LEFT JOIN hit h USING (doc_id), pri p
         |WHERE qq.quality >= ${operators.Classifier.CascadeQualityMin}
         |ORDER BY doc_id""".stripMargin,
    // per-source declared-vs-predicted language audit (shared lang CTEs)
    "q_lang_mismatch" ->
      s"""WITH $sqlLangCtes
         |SELECT source, n_docs, n_confident, n_mismatch,
         |  floor(CAST(n_mismatch AS DOUBLE) / greatest(n_confident, 1)
         |        * 10000.0 + 0.5) / 10000.0 AS mismatch_rate
         |FROM (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN pred_lang != 'unknown' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_confident,
         |    CAST(sum(CASE WHEN pred_lang != 'unknown'
         |                   AND pred_lang != declared_lang THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_mismatch
         |  FROM lp GROUP BY source)
         |ORDER BY source""".stripMargin,
    "q_epoch_shuffle"  -> CorpusCuration.epochShuffleOracleSql,
    "q_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INTEGER) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "q_quality_score" ->
      s"""WITH $sqlQualityCtes
         SELECT doc_id, quality FROM qq ORDER BY doc_id""",
    "q_quality_sample" ->
      s"""WITH $sqlQualityCtes
         SELECT doc_id, quality FROM qq
         WHERE (doc_id * ${operators.TextAnalysis.QualitySampleA}) % 2147483648 % 10000
           < CAST(floor(quality * 10000.0 + 0.5) AS BIGINT)
         ORDER BY doc_id""",
    "q_lang_id" ->
      s"""WITH $sqlLangCtes
         SELECT doc_id, declared_lang, pred_lang FROM lp ORDER BY doc_id""",
    "q_clean_pipeline" ->
      s"""WITH $sqlQualityCtes,
         $sqlLangCtes,
         gated AS (
           SELECT d.doc_id, d.text, qq.quality, lp.pred_lang
           FROM documents d
           JOIN qq ON qq.doc_id = d.doc_id
           JOIN lp ON lp.doc_id = d.doc_id
           WHERE qq.quality >= ${operators.TextAnalysis.PipelineQualityMin}
             AND lp.pred_lang <> 'unknown'),
         dd AS (
           SELECT doc_id, text, quality, pred_lang,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM gated)
         SELECT doc_id, pred_lang, quality, ${sqlPii("text")} AS scrubbed
         FROM dd WHERE rn = 1 ORDER BY doc_id""",
    "q_corpus_pipeline" ->
      s"""WITH $sqlQualityCtes,
         $sqlLangCtes,
         gated AS (
           SELECT d.doc_id, d.text, qq.quality, lp.pred_lang
           FROM documents d
           JOIN qq ON qq.doc_id = d.doc_id
           JOIN lp ON lp.doc_id = d.doc_id
           WHERE qq.quality >= ${operators.TextAnalysis.PipelineQualityMin}
             AND lp.pred_lang <> 'unknown'),
         dd AS (
           SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           FROM gated),
         surv AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(${sqlPii("text")}), '[a-z0-9]+')) AS BIGINT) AS ntok
           FROM dd WHERE rn = 1),
         pd AS (SELECT doc_id, ntok FROM surv WHERE ntok >= 1),
         pc AS (SELECT doc_id, ntok,
                  CAST(sum(ntok) OVER (ORDER BY doc_id) AS BIGINT) - ntok AS gstart
                FROM pd),
         px AS (SELECT doc_id, ntok, gstart,
                  gstart // ${operators.ExtendedAnalytics.PackSeqLen} AS first_seq,
                  (gstart + ntok - 1) // ${operators.ExtendedAnalytics.PackSeqLen} AS last_seq
                FROM pc)
         SELECT doc_id, CAST(sq AS BIGINT) AS seq_id,
           CAST(greatest(0, gstart - sq * ${operators.ExtendedAnalytics.PackSeqLen}) AS INTEGER) AS seq_off,
           CAST(greatest(0, sq * ${operators.ExtendedAnalytics.PackSeqLen} - gstart) AS INTEGER) AS tok_from,
           CAST(least(ntok, (sq + 1) * ${operators.ExtendedAnalytics.PackSeqLen} - gstart) AS INTEGER) AS tok_to
         FROM px, unnest(generate_series(first_seq, last_seq)) AS u(sq)
         ORDER BY doc_id, seq_id""",
    "q_doc_fingerprint" ->
      s"""SELECT doc_id, ${functions.TextFunctions.docFingerprintSql} AS fp
         FROM documents ORDER BY doc_id""",
    "q_image_sim" -> sources.ImageSim.oracleSql,
    "q_audio_sim" -> sources.AudioSim.oracleSql,
    "q_entity_resolve" -> operators.EntityResolve.oracleSql,
    "q_entity_resolve_incr" -> operators.EntityResolve.incrOracleSql,
    "q_entity_clusters" -> operators.EntityResolve.clustersOracleSql,
    "q_snapshot_changes" -> sources.Snapshots.snapshotChangesOracleSql,
    "q_multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
         md5(text) AS content_md5, left(text, 16) AS prefix16
         FROM documents ORDER BY doc_id""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                       AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
         ORDER BY c_custkey""",
    "q_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         count(*) AS n, round(sum(o_totalprice), 2) AS total_price
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q_pivot" ->
      """SELECT o_orderpriority AS priority,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
         FROM orders GROUP BY 1 ORDER BY priority""",
    "q_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE ((doc_id * 2654435761) % 2147483648) % 100 <
           CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 80 WHEN 'es' THEN 80
                     WHEN 'fr' THEN 80 WHEN 'zh' THEN 50 ELSE 0 END
         ORDER BY doc_id""",
    "q_data_split" -> ExtendedAnalytics.dataSplitOracleSql,
    "q_domain_mix" -> ExtendedAnalytics.domainMixOracleSql,
    "q_domain_mix_up" -> ExtendedAnalytics.domainMixUpsampleOracleSql,
    "q_domain_mix_alpha" -> ExtendedAnalytics.domainMixAlphaOracleSql,
    "q_pack_sequences" -> ExtendedAnalytics.packSequencesOracleSql,
    "q_vocab_topk" ->
      """SELECT token, count(*) AS df FROM (
           SELECT doc_id, unnest(list_distinct(
             regexp_extract_all(lower(text), '[a-z0-9]+'))) AS token
           FROM documents)
         GROUP BY token ORDER BY df DESC, token LIMIT 20""",
    "q_ngram_freq" ->
      """SELECT ngram, count(*) AS df FROM (
           SELECT doc_id, unnest(sh) AS ngram FROM (
             SELECT doc_id, list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> array_to_string(t[i:i + 2], ' '))) AS sh
             FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                   FROM documents)
             WHERE len(t) >= 3))
         GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""",
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2)
           AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_wow_change" ->
      """WITH weekly AS (
           SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
             count(*) AS n
           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         SELECT week, n,
           coalesce(n - lag(n, 1) OVER (ORDER BY week), 0) AS wow_change
         FROM weekly ORDER BY week""",
    "q_length_stats" ->
      """SELECT lang, count(*) AS n, min(n_chars) AS min_chars,
         max(n_chars) AS max_chars,
         round(avg(n_chars), 4) AS avg_chars,
         round(quantile_cont(n_chars, 0.5), 4) AS median_chars
         FROM documents GROUP BY 1 ORDER BY lang""",
    "q_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         e.event_id AS error_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (
           -- pre-dedupe to one row per (user_id, ts): DuckDB's ASOF does
           -- not define which row wins a timestamp tie, so make the
           -- max-event_id tie-break (the Spark side's rightTieBreak)
           -- explicit here
           SELECT user_id, ts, max(event_id) AS event_id
           FROM events WHERE event_type = 'error' GROUP BY user_id, ts) e
           ON p.user_id = e.user_id AND p.ts >= e.ts
         ORDER BY purchase_id""",
    "q_weekly_focus" ->
      """WITH open_orders AS (
           SELECT o_orderkey,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00' THEN '1_IMMEDIATE'
                  WHEN o_orderdate < TIMESTAMP '1998-01-08 00:00:00' THEN '2_DUE_WEEK'
                  ELSE '3_BACKLOG' END AS section,
             CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
                  WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
                  WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date
           FROM orders WHERE o_orderstatus = 'O'),
         ranked AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY section
             ORDER BY prio_score, order_date, o_orderkey) AS INTEGER) AS rank
           FROM open_orders)
         SELECT section, rank, o_orderkey, prio_score, order_date
         FROM ranked WHERE rank <= 15 ORDER BY section, rank""",
    "q_skew_report" -> ExtendedAnalytics.skewReportOracleSql,
    "q_event_transitions" -> ExtendedAnalytics.eventTransitionsOracleSql,
    "q_event_paths" -> ExtendedAnalytics.eventPathsOracleSql,
    "q_length_histogram" -> ExtendedAnalytics.lengthHistogramOracleSql,
    "q_schema_health" ->
      """SELECT 'o_orderkey' AS col_name, TRUE AS present,
             count(*) FILTER (WHERE o_orderkey IS NULL) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct FROM orders
         UNION ALL
         SELECT 'o_orderstatus', TRUE,
             count(*) FILTER (WHERE o_orderstatus IS NULL),
             count(DISTINCT o_orderstatus) FROM orders
         UNION ALL
         SELECT 'o_orderdate', TRUE,
             count(*) FILTER (WHERE o_orderdate IS NULL),
             count(DISTINCT o_orderdate) FROM orders
         UNION ALL
         SELECT 'o_totalprice', TRUE,
             count(*) FILTER (WHERE o_totalprice IS NULL),
             count(DISTINCT o_totalprice) FROM orders
         UNION ALL
         SELECT 'o_comment_missing', FALSE, 0, 0
         ORDER BY col_name""",
    "q_report_goals" ->
      """SELECT o_orderkey,
         CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
              WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
              WHEN '5-LOW' THEN 4 ELSE 5 END AS prio_score,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM orders
         WHERE o_orderstatus = 'O'
           AND ((SELECT count(*) FROM orders WHERE o_orderstatus = 'O') <= 15
                OR o_orderdate <= TIMESTAMP '1998-01-15 00:00:00'
                OR CASE o_orderpriority WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
                       WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
                       WHEN '5-LOW' THEN 4 ELSE 5 END <= 1)
         ORDER BY o_orderkey""",
    "q_moving_avg" ->
      """WITH daily AS (
           SELECT date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS day_no,
             strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n
           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1, 2)
         SELECT day, n,
           round(avg(n) OVER (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
         FROM daily ORDER BY day""",
    "q_value_deciles" ->
      ("""WITH b AS (
           SELECT """ + (1 to 9).map(i =>
             s"floor(quantile_cont(o_totalprice, 0.$i) * 100 + 0.5) / 100 AS b$i")
             .mkString(", ") + """
           FROM orders),
         t AS (
           SELECT o_totalprice, CAST(1 """ + (1 to 9).map(i =>
             s"+ (CASE WHEN o_totalprice > b$i THEN 1 ELSE 0 END)").mkString(" ") + """
             AS INTEGER) AS decile
           FROM orders, b)
         SELECT decile, count(*) AS n,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
         FROM t GROUP BY 1 ORDER BY decile"""),
    "q_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total_price
         FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) <= 3
         ORDER BY o_custkey, o_orderkey""",
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q_argmax" ->
      """SELECT o_custkey,
         max_by(o_orderkey,
           lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 15, '0')
             || lpad(CAST(o_orderkey AS VARCHAR), 15, '0'))
           AS best_orderkey,
         round(max(o_totalprice), 2) AS best_price
         FROM orders GROUP BY 1 ORDER BY o_custkey""",
    "q_string_funcs" ->
      """SELECT doc_id,
         CAST(levenshtein(left(text, 15), 'spark shuffle') AS INTEGER) AS lev,
         reverse(left(text, 8)) AS rev8,
         lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded,
         upper(left(text, 10)) AS up10
         FROM documents ORDER BY doc_id""",
    "q_date_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS y,
         CAST(quarter(o_orderdate) AS INTEGER) AS q,
         CAST(month(o_orderdate) AS INTEGER) AS m,
         CAST(day(o_orderdate) AS INTEGER) AS d,
         CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
         CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
         CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
         strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
         strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
         FROM orders ORDER BY o_orderkey""",
    "q_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
              b AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
         SELECT (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS only_1996,
                (SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)) AS only_1997,
                (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS both_years""",
    "q_pii_scrub" ->
      s"""SELECT doc_id, ${sqlPii("text")} AS scrubbed
         FROM documents ORDER BY doc_id""",
    "q_contamination" ->
      """WITH toks AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(g, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 1000000007) AS h
           FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(t) - 4),
                   i -> array_to_string(t[i:i + 4], ' ')))) AS g
                 FROM toks WHERE len(t) >= 5)),
         ev AS (SELECT DISTINCT h FROM sh WHERE doc_id < 5)
         SELECT DISTINCT doc_id FROM sh
         WHERE doc_id >= 5 AND h IN (SELECT h FROM ev)
         ORDER BY doc_id""",
    "q_contamination_score" -> TextAnalysis.contaminationScoreOracleSql,
    "q_tfidf_top_terms" ->
      """WITH tf AS (
           SELECT doc_id, token, count(*) AS tf FROM (
             SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             FROM documents)
           GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT doc_id, token,
             round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS score
           FROM tf JOIN df USING (token) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, token, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, token) AS INTEGER) AS rank
           FROM scored)
         SELECT doc_id, rank, token, score FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlClusterCtes
         SELECT s AS doc_id, least(s, min(d)) AS cluster_id
         FROM reach GROUP BY s ORDER BY doc_id""",
    "q_cluster_reps" ->
      s"""WITH RECURSIVE $sqlClusterCtes,
         cl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
                FROM reach GROUP BY s),
         $sqlQualityCtes,
         j AS (
           SELECT cl.cluster_id, cl.doc_id,
             CAST(floor(qq.quality * 1e4 + 0.5) AS BIGINT) AS qint
           FROM cl JOIN qq USING (doc_id)),
         r AS (
           SELECT cluster_id, doc_id, qint,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY qint DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS nm
           FROM j)
         SELECT cluster_id, CAST(nm AS BIGINT) AS n_members,
           doc_id AS rep_doc_id, CAST(qint AS DOUBLE) / 1e4 AS rep_quality,
           CAST(nm - 1 AS BIGINT) AS n_dropped
         FROM r WHERE rn = 1 ORDER BY cluster_id""",
    "q_weighted_mean" ->
      """SELECT l_returnflag,
         round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wmean
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
  )
}
