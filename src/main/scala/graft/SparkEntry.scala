package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator from SURVEY.md §2 is exposed as a named batch
  * query over the driver testdata dir, with a DuckDB oracle restatement in
  * [[oracleSql]] where the semantics are SQL-expressible. */
object SparkEntry {

  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    BehaviorQueries.hotItemsTopN(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = Map[String, Q](
    // §2.5/2.6 windowed aggregations + Top-N (A1-A8, T1-T2)
    "hot_items_topn"  -> (BehaviorQueries.hotItemsTopN _),
    "hot_pages_topn"  -> (BehaviorQueries.hotPagesTopN _),
    // P2 end-to-end: rendered apache log lines through the real parser
    "log_hot_pages"   -> (BehaviorQueries.logHotPages _),
    // S3 generator mapping, oracle-backed (rate-source leg is structural)
    "marketing_sim"   -> (BehaviorQueries.marketingSim _),
    "page_views"      -> (BehaviorQueries.pageViews _),
    "unique_visitors" -> (BehaviorQueries.uniqueVisitors _),
    "uv_bitmap"       -> (BehaviorQueries.uvBitmap _),
    // A5 sketch path, oracle-gated via the 3σ bounds verdict (subsumes
    // the r1–r11 rows-only uv_approx: same sketch, now hash-gated)
    "uv_approx_bounds" -> (BehaviorQueries.uvApproxBounds _),
    "market_channel"  -> (BehaviorQueries.marketChannel _),
    "event_value_stats" -> (BehaviorQueries.eventValueStats _),
    "user_sessions"      -> (BehaviorQueries.userSessions _),
    "events_asof_signup" -> (BehaviorQueries.eventsAsofSignup _),
    "events_enriched"    -> (BehaviorQueries.eventsEnriched _),
    "activity_by_hour"   -> (BehaviorQueries.activityByHour _),
    "user_running_stats" -> (BehaviorQueries.userRunningStats _),
    "funnel_conversion"  -> (BehaviorQueries.funnelConversion _),
    "funnel_steps"       -> (BehaviorQueries.funnelSteps _),
    "item_pagerank"      -> (BehaviorQueries.itemPagerank _),
    "retention_cohorts"  -> (BehaviorQueries.retentionCohorts _),
    "volume_anomalies"   -> (BehaviorQueries.volumeAnomalies _),
    "item_pairs"         -> ((s, d) => BehaviorQueries.itemPairs(s, d)),
    "event_transitions"  -> (BehaviorQueries.eventTransitions _),
    "event_paths"        -> (BehaviorQueries.eventPaths _),
    "transition_drift"   -> (BehaviorQueries.transitionDrift _),
    // held-out next-event accuracy: trigram-with-backoff vs bigram
    "path_lift"          -> (BehaviorQueries.pathLift _),
    // held-out log-loss in exact micro-nats (exp(mean/1e6) = perplexity)
    "path_ppl"           -> (BehaviorQueries.pathPpl _),
    // top-50 most surprising transitions under the frozen trigram model
    "path_anomalies"     -> (BehaviorQueries.pathAnomalies _),
    "skew_profile"       -> (BehaviorQueries.skewProfile _),
    "cube_sales"         -> (RelationalQueries.cubeSales _),
    "props_parsed"       -> (BehaviorQueries.propsParsed _),
    "value_percentiles"  -> (BehaviorQueries.valuePercentiles _),
    // percentile sketch hash-gated against its declared rank envelope
    "value_percentile_bounds" -> (BehaviorQueries.valuePercentileBounds _),
    "market_total"    -> (BehaviorQueries.marketTotal _),
    "ad_province"     -> (BehaviorQueries.adProvince _),
    // §2.3/2.7/2.8 detectors, CEP-lite, two-stream joins (F6, J1-J2, C1-C5)
    "login_fail"            -> (DetectQueries.loginFail _),
    "login_fail_cep"        -> (DetectQueries.loginFailCep _),
    "login_fail_then_ok"    -> (DetectQueries.loginFailThenOk _),
    "order_timeout"         -> (DetectQueries.orderTimeout _),
    "order_timeout_full"    -> (DetectQueries.orderTimeoutFull _),
    "tx_match"              -> (DetectQueries.txMatch _),
    "tx_unmatched"          -> (DetectQueries.txUnmatched _),
    "ad_blacklist_kept"     -> (DetectQueries.adBlacklistKept _),
    "ad_blacklist_warnings" -> (DetectQueries.adBlacklistWarnings _),
    // relational core (scan/filter/join/agg/rank at scale)
    "q1_pricing"        -> (RelationalQueries.q1Pricing _),
    "q3_top_orders"     -> (RelationalQueries.q3TopOrders _),
    "q5_nation_revenue" -> (RelationalQueries.q5NationRevenue _),
    "q6_forecast"       -> (RelationalQueries.q6Forecast _),
    "big_spenders"       -> (RelationalQueries.bigSpenders _),
    "inactive_customers" -> (RelationalQueries.inactiveCustomers _),
    "max_order_per_cust" -> (RelationalQueries.maxOrderPerCustomer _),
    "rfm_segments"      -> (RelationalQueries.rfmSegments _),
    "rollup_revenue"    -> (RelationalQueries.rollupRevenue _),
    // training-data pipeline (dedup / similarity / text analysis)
    "dedup_exact"      -> (PipelineQueries.dedupExact _),
    "dedup_normalized" -> (PipelineQueries.dedupNormalized _),
    "top_terms_lang"   -> (PipelineQueries.topTermsPerLang _),
    "train_split"      -> (PipelineQueries.trainSplit _),
    // leakage-safe variant: buckets by near-dup cluster so duplicates
    // never straddle train/test
    "train_split_safe" -> (PipelineQueries.trainSplitSafe _),
    "text_stats"      -> (PipelineQueries.textStats _),
    "text_quality"    -> (PipelineQueries.textQuality _),
    "dedup_ngram"     -> (PipelineQueries.dedupNgram _),
    "dedup_minhash"   -> (PipelineQueries.dedupMinhash _),
    // threshold calibration: exact-Jaccard decile histogram over ALL
    // band-collision candidates
    "dedup_pair_hist" -> (PipelineQueries.dedupPairHist _),
    "dedup_containment" -> (PipelineQueries.dedupContainment _),
    "dedup_simhash"   -> (PipelineQueries.dedupSimhash _),
    "embed_topk"      -> (PipelineQueries.embedTopK _),
    "embed_topk_lsh"  -> (PipelineQueries.embedTopKLsh _),
    "dedup_embed"     -> (PipelineQueries.dedupEmbed _),
    "lang_id"         -> (PipelineQueries.langId _),
    "doc_fingerprint" -> (PipelineQueries.docFingerprint _),
    // true winnowing (Schleimer et al. 2003): per-8-window minima set
    "doc_winnow"      -> (PipelineQueries.docWinnow _),
    // MOSS-style near-dup pairs on shared winnowed fingerprints
    "dedup_winnow"    -> (PipelineQueries.dedupWinnow _),
    "gopher_repetition" -> (PipelineQueries.gopherRepetition _),
    "contamination"     -> (PipelineQueries.contamination _),
    "contamination_persist" -> (PipelineQueries.contaminationPersist _),
    // deployed per-delivery shape: bounded delivery probes the FIXED
    // broadcast eval-suite index — no corpus-sized term in the timed plan
    "contamination_delivery" -> (PipelineQueries.contaminationDelivery _),
    // near-dup decontamination: test docs with a verified train near-dup
    "contamination_near" -> (PipelineQueries.contaminationNear _),
    "embed_topk_ivf"    -> (PipelineQueries.embedTopKIvf _),
    // SemDeDup: coarse-centroid-scoped exhaustive semantic dedup — the
    // published complement to the banded-LSH dedup_embed pass
    "semdedup"          -> (PipelineQueries.semDedup _),
    // distributed fixed-round Lloyd k-means: broadcast literal centroids,
    // one narrow argmin pass + one k×dim aggregation per round
    "embed_kmeans"      -> (PipelineQueries.embedKmeans _),
    // per-cluster data map: size, exact inertia, majority-label purity
    "kmeans_map"        -> (PipelineQueries.kmeansMap _),
    // drift monitor: reference-trained centroids, full-corpus assignment,
    // per-cluster ppm share comparison
    "kmeans_drift"      -> (PipelineQueries.kmeansDrift _),
    // textual drift: per-term smoothed log-odds between corpus halves
    "term_drift"        -> (PipelineQueries.termDrift _),
    // cluster-balanced pruning: hash-rank quota per k-means cluster
    "sample_clusters"   -> (PipelineQueries.sampleClusters _),
    // SemDeDup over the TRAINED codebook: kmeans → assign → in-cell dedup
    "semdedup_kmeans"   -> (PipelineQueries.semDedupKmeans _),
    // MMR diversification: greedy λ-tradeoff re-rank of the shortlist
    "embed_topk_mmr"    -> (PipelineQueries.embedTopKMmr _),
    // contrastive-training negatives: nearest cross-label neighbors
    "hard_negatives"    -> (PipelineQueries.hardNegatives _),
    // BPE merge-round pair statistics over the vocab-sized word table
    "bpe_pairs"         -> (PipelineQueries.bpePairs _),
    // multi-round BPE tokenizer training: the first 10 learned merges
    "bpe_learn"         -> (PipelineQueries.bpeLearn _),
    // tokenizer apply: per-doc word/subword/char counts via the learned
    // merges, segmenting the vocab (model-sized), never the corpus
    "bpe_encode"        -> (PipelineQueries.bpeEncode _),
    // BPE apply x language ID: per-language fertility/compression ratios
    "tok_fertility"     -> (PipelineQueries.tokFertility _),
    "tok_compression"   -> (PipelineQueries.tokCompression _),
    // unigram-LM tokenizer (Kudo 2018): seed-candidate substring ranking,
    // hard-EM training in integer micro-nats, and the corpus apply —
    // the likelihood-pruning complement to the BPE merge family
    "uni_seed"          -> (PipelineQueries.uniSeed _),
    "uni_learn"         -> (PipelineQueries.uniLearn _),
    "uni_encode"        -> (PipelineQueries.uniEncode _),
    // per-language unigram fertility: tok_fertility's twin — the
    // language-level tokenizer fairness A/B
    "uni_fertility"     -> (PipelineQueries.uniFertility _),
    // per-word BPE vs unigram segmentation diff — the tokenizer-choice table
    "tok_ab"            -> (PipelineQueries.tokAb _),
    // DSIR hashed importance weights: target-vs-raw n-gram likelihood
    // ratios, quantized to integer sums (Xie et al., NeurIPS 2023)
    "dsir_weights"      -> ((s, d) => PipelineQueries.dsirWeights(s, d)),
    // DSIR's resampling step: Gumbel-top-k draw ∝ exp(logw), hash-derived
    "dsir_select"       -> ((s, d) => PipelineQueries.dsirSelect(s, d)),
    // multinomial Naive-Bayes language classifier: trained on the 80%
    // split, scored on the held-out test bucket — the model-based
    // quality/routing filter of the GPT-3/CCNet lineage
    "nb_classify"       -> ((s, d) => PipelineQueries.nbClassify(s, d)),
    // classifier evaluation: confusion matrix + recall/precision shares
    "nb_confusion"      -> (PipelineQueries.nbConfusion _),
    // classifier-confidence reliability bins (top1-top2 margin vs accuracy)
    "nb_calibration"    -> (PipelineQueries.nbCalibration _),
    "nb_classify_persist" -> (PipelineQueries.nbClassifyPersist _),
    // cross-source shingle-overlap audit (pairwise shingle-set Jaccard)
    "source_overlap"    -> (PipelineQueries.sourceOverlap _),
    // index-quality gate: recall@3 of IVF vs brute cosine and of
    // PQ+rerank vs brute exact L2, per query
    "ann_recall"        -> (PipelineQueries.annRecall _),
    // default resolution = star contraction (O(log²n) rounds, 5× cheaper
    // on the r7 gate artifact); propagation kept as the parity path below
    "dedup_clusters"    -> (PipelineQueries.dedupClusters _),
    // quality-argmax keeper per near-dup cluster (production keep policy)
    "dedup_canonical"   -> (PipelineQueries.dedupCanonical _),
    // the full curation press in one table: gates + canonical + safe split
    "corpus_manifest"   -> (PipelineQueries.corpusManifest _),
    // manifest from the persisted cluster assignment: prices the
    // per-shipment cost once the lifecycle maintains the resolution
    "corpus_manifest_persist" -> (PipelineQueries.corpusManifestPersist _),
    // per-source press yield: gate rejections + keep rate, the sourcing report
    "curation_yield"    -> (PipelineQueries.curationYield _),
    "dedup_clusters_prop" -> (PipelineQueries.dedupClustersProp _),
    // incremental maintenance: delivery folded into an existing base
    // assignment over a delivery-sized delta graph; same oracle as above
    "dedup_clusters_delta" -> (PipelineQueries.dedupClustersDelta _),
    // same fold with the base state read from parquet (ClusterState setup
    // stage) — the production shape; bench time = delivery-sized cost
    "dedup_clusters_persist" -> (PipelineQueries.dedupClustersPersist _),
    // chunk → feature-hash embed → cosine top-k → offsets mapped back
    "chunk_topk"        -> ((s, d) => PipelineQueries.chunkTopK(s, d)),
    // lexical BM25 retrieval: posting-join shape, exact micro-unit scores
    "bm25_topk"         -> ((s, d) => PipelineQueries.bm25TopK(s, d)),
    // impact-pruned lexical serve: per-term top-64 postings by
    // precomputed score — candidates per query independent of corpus
    "bm25_topk_impact"  -> ((s, d) => PipelineQueries.bm25TopKImpact(s, d)),
    // recall@5 of the impact-pruned serve vs the exact BM25 ranking
    "lex_recall"        -> (PipelineQueries.lexRecall _),
    // exactness-CERTIFIED pruned serve: per-query WAND-style certificate
    // from persisted pruned-tail bounds, exact-serve fallback where it
    // fails — always bit-identical to bm25_topk (its oracle)
    "bm25_topk_certified" -> ((s, d) => PipelineQueries.bm25TopKCertified(s, d)),
    // the certificate/fallback ledger: certified flag + the bounds the
    // decision compared, per query (fallback rate = 1 − avg(certified))
    "lex_certified_rate" -> ((s, d) => PipelineQueries.lexCertifiedRate(s, d)),
    "bm25_topk_persist" -> ((s, d) => PipelineQueries.bm25TopKPersist(s, d)),
    // takedown folded OUT of the persisted full index (df down-fold,
    // no re-tokenize): the removal half of the lexical serving lifecycle
    "bm25_topk_takedown" -> ((s, d) => PipelineQueries.bm25TopKTakedown(s, d)),
    // the removal half's STORE PROBE: the df down-fold of a bounded
    // takedown batch read from the partition-bucketed forward index with
    // plan-time pruning (PartitionFilters on _kb — PlanShapeSpec asserts it)
    "bm25_downfold_probe" -> ((s, d) => PipelineQueries.bm25DownfoldProbe(s, d)),
    "hybrid_rrf"        -> ((s, d) => PipelineQueries.hybridRrf(s, d)),
    "hybrid_rrf_persist" -> ((s, d) => PipelineQueries.hybridRrfPersist(s, d)),
    // the right-to-be-forgotten check: a takedown flows through BOTH
    // retrievers (lexical df down-fold + dense row drop), fused as usual
    "hybrid_rrf_takedown" -> ((s, d) => PipelineQueries.hybridRrfTakedown(s, d)),
    // RRF diversification audit: fused top-5 classified by which
    // single-retriever top-5 lists each row came from
    "rrf_overlap"        -> ((s, d) => PipelineQueries.rrfOverlap(s, d)),
    // the dense leg served from the PQ index over the persisted store:
    // ADC shortlist + exact re-rank replaces the brute full-store scan
    "hybrid_rrf_pq"      -> ((s, d) => PipelineQueries.hybridRrfPq(s, d)),
    // fused-list overlap of the PQ-served fusion vs the brute fusion —
    // the number that licenses switching the serving leg to the index
    "rrf_overlap_pq"     -> ((s, d) => PipelineQueries.rrfOverlapPq(s, d)),
    "rrf_overlap_pq_persist" -> ((s, d) => PipelineQueries.rrfOverlapPqPersist(s, d)),
    "embed_sq8"         -> (PipelineQueries.embedSq8 _),
    "sq8_topk"          -> (PipelineQueries.sq8TopK _),
    // SoftDedup commonness reweighting (down-weight, don't drop)
    "dedup_soft"        -> (PipelineQueries.dedupSoft _),
    // perceptual image fingerprints over real decoded rasters
    "image_dhash"       -> (PipelineQueries.imageDhash _),
    // image near-dup pairs: hamming-banded dHash candidates, exact verify
    "dedup_dhash"       -> (PipelineQueries.dedupDhash _),
    // energy-contour audio fingerprint over real decoded PCM
    "audio_fingerprint" -> (PipelineQueries.audioFingerprintQ _),
    // frame-contour video fingerprint over index-directed frame reads
    "video_fingerprint" -> (PipelineQueries.videoFingerprintQ _),
    // multimodal leakage check: test images hamming-near a train image
    "contamination_image" -> (PipelineQueries.contaminationImage _),
    // quality-score distribution drift between snapshot halves
    "quality_drift"     -> (PipelineQueries.qualityDrift _),
    "chunk_topk_pq"     -> ((s, d) => PipelineQueries.chunkTopKPq(s, d)),
    // takedown maintenance: removals re-resolve ONLY affected clusters
    // (removals can split); oracle = the same CTE over surviving docs
    "dedup_clusters_takedown" -> (PipelineQueries.dedupClustersTakedown _),
    // same takedown with assignment + edge table read from parquet —
    // bench time = takedown-batch-sized cost, no base-recompute tax
    "dedup_clusters_takedown_persist" -> (PipelineQueries.dedupClustersTakedownPersist _),
    // per-cluster over-merge audit: pair density + weakest pair evidence
    "cluster_scorecard" -> (PipelineQueries.clusterScorecard _),
    // shard count left at the oracle default here; real deployments pass
    // shards sized to the cluster (see seqPack scaladoc)
    "seq_pack"          -> ((s, d) => PipelineQueries.seqPack(s, d)),
    "doc_chunks"        -> ((s, d) => PipelineQueries.docChunks(s, d)),
    "doc_sentences"     -> (PipelineQueries.docSentences _),
    "sample_stratified" -> (PipelineQueries.sampleStratified _),
    "sample_weighted"   -> (PipelineQueries.sampleWeighted _),
    "corpus_health"     -> (PipelineQueries.corpusHealth _),
    // per-source inclusion scorecard: volume / language spread / dup rate
    "source_scorecard"  -> (PipelineQueries.sourceScorecard _),
    // incremental delivery dedup against the existing corpus (asymmetric
    // band join: candidates scale with the delivery, not the corpus)
    "dedup_incremental" -> (PipelineQueries.dedupIncremental _),
    // PII injection → real regex redaction, regex-free arithmetic oracle
    "pii_scrub"         -> (PipelineQueries.piiScrub _),
    "secret_scan"       -> (PipelineQueries.secretScan _),
    "dup_span_stats"    -> (PipelineQueries.dupSpanStats _),
    // top shared 5-token spans: the boilerplate the hot-key caps exclude
    "boilerplate_spans" -> (PipelineQueries.boilerplateSpans _),
    "span_scrub"        -> (PipelineQueries.spanScrub _),
    "salient_terms"     -> (PipelineQueries.salientTerms _),
    "lm_fluency"        -> (PipelineQueries.lmFluency _),
    "snapshot_diff"     -> (PipelineQueries.snapshotDiff _),
    "embed_centroids"   -> (PipelineQueries.embedCentroids _),
    "pq_codes"          -> (PipelineQueries.pqCodes _),
    "pq_topk"           -> (PipelineQueries.pqTopK _),
    "pq_topk_rr"        -> (PipelineQueries.pqTopKRerank _),
    // IVF-PQ serve from the cell-partitioned persisted codes: probed
    // cells only — the query-load scale path (plan-time pruned store)
    "pq_topk_ivf"       -> (PipelineQueries.pqTopKIvf _),
    // recall@3 of the IVF-PQ serve vs brute exact-L2 truth
    "ann_recall_ivfpq"  -> (PipelineQueries.annRecallIvfPq _),
    "domain_mix"        -> (PipelineQueries.domainMix _),
    // α=0.5 temperature mixing: sqrt-damped minority upsampling
    "domain_mix_temp"   -> (PipelineQueries.domainMixTemp _),
    "curate_corpus"     -> (PipelineQueries.curateCorpus _),
    // multimodal plumbing (binary payload + partition-batched decode stub)
    "multimodal_meta"     -> (PipelineQueries.multimodalMeta _),
    "multimodal_features" -> (PipelineQueries.multimodalFeatures _),
    // real image decode: ImageIO-written PNG/JPEG blobs through the
    // pure-JVM header parser and the JDK codec
    "multimodal_headers"  -> (PipelineQueries.multimodalHeaders _),
    "multimodal_pixels"   -> (PipelineQueries.multimodalPixels _),
    // real audio decode (JDK javax.sound WAV encode → own RIFF parse +
    // sample-exact PCM sums) and video-container decode (ISO-BMFF box walk)
    "multimodal_audio"    -> (PipelineQueries.multimodalAudio _),
    "multimodal_video"    -> (PipelineQueries.multimodalVideo _),
    // real frame sampling: stsz/stco sample-table walk, frames read at
    // the table's offsets (index-directed, never a payload scan)
    "multimodal_frames"   -> (PipelineQueries.multimodalFrames _),
  )

  /** The entries of [[queries]] with these names, or all of them for no
    * names, in name order. An unknown name fails before any query is
    * built, and the message lists every unknown name. */
  def named(names: Seq[String]): Seq[(String, Q)] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    all.toSeq.filter { case (n, _) => names.isEmpty || names.contains(n) }.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    BehaviorOracles.all ++ DetectOracles.all ++ RelationalOracles.all ++
      PipelineOracles.all
}
