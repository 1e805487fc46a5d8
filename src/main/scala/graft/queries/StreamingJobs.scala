package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.RankOps
import graft.sources.Tables
import graft.streaming.{Detectors, StreamOps}
import graft.streaming.Detectors.KeyedEvent

/**
 * The reference jobs as live Structured Streaming pipelines over a replayed
 * `events` table (SURVEY.md §3: same operator composition as the batch
 * queries, streaming execution). Each `*Stream` returns an unstarted
 * streaming DataFrame/Dataset; `run*` starts it against a sink.
 *
 * The parquet replay reads the events file as a file-source stream with the
 * same explicit nanos schema the batch reader uses.
 */
object StreamingJobs {

  /** events.parquet as a streaming source, ts: TimestampType, NOT yet
    * watermarked — for ops that place their own withWatermark. */
  def eventsStreamRaw(spark: SparkSession, dir: String): DataFrame = {
    // decode path shared with the batch reader (Tables.eventsDecode):
    // the generator's ts annotation changed across driver rounds
    val (schema, normalizeTs) = Tables.eventsDecode(spark, dir)
    normalizeTs(tableStream(spark, dir, "events.parquet", schema))
  }

  /** A file-stream source over the watched directory `dir` that ingests
    * every file named `table` at any depth below it: the table itself and
    * later deliveries such as `<dir>/b1/<table>`. Without the recursive
    * lookup a file-stream source lists only `dir`'s own files. */
  private def tableStream(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", table)
      .parquet(dir)

  /** embeddings.parquet as a streaming source — vectors arriving live
    * (ingest path of a vector index). */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    tableStream(spark, dir, "embeddings.parquet", schema)
  }

  /** documents.parquet as a streaming source — the corpus-ingest replay
    * (documents arriving from a crawl/delivery feed). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    tableStream(spark, dir, "documents.parquet", schema)
  }

  /** ONLINE dedup over the replayed corpus: md5 content hash per document,
    * doc_id as the arrival clock (the corpus has no event time; a live
    * feed would use its ingest timestamp). Append stream of immutable
    * keep/drop decisions from [[Detectors.onlineDedup]] — the rows an
    * ingest pipeline acts on. */
  def onlineDedupStream(spark: SparkSession, dir: String): Dataset[Detectors.DedupDecision] = {
    import spark.implicits._
    documentsStream(spark, dir)
      .select(md5(col("text")).as("h"), col("doc_id"),
        col("doc_id").as("sec"))
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "60 seconds")
      .as[Detectors.DocEvent]
      .transform(Detectors.onlineDedup(_, streaming = true))
  }

  /** ONLINE SemDeDup over the embedding ingest feed: coarse assignment is
    * a stateless narrow map against the offline-trained codebook (read
    * from the batch table — [[graft.ops.SimilarityOps.coarseAssigned]]),
    * so the only streaming state is per-cluster membership inside
    * [[Detectors.onlineSemDedup]]. vec_id is the arrival clock, as doc_id
    * is for [[onlineDedupStream]]. Append stream of immutable keep/drop
    * decisions that converges to the batch `semdedup` relation. */
  def onlineSemDedupStream(spark: SparkSession, dir: String,
      nCentroids: Int = 16,
      threshold: Double = 0.4): Dataset[Detectors.SemDecision] = {
    import spark.implicits._
    graft.ops.SimilarityOps
      .coarseAssigned(embeddingsStream(spark, dir),
        Tables.embeddings(spark, dir), nCentroids)
      .selectExpr("cid", "id AS vec_id", "qvec", "norm2", "id AS sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "60 seconds")
      .as[Detectors.VecEvent]
      .transform(Detectors.onlineSemDedup(_, threshold, streaming = true))
  }

  /** ONLINE DSIR importance scoring: documents arriving on a stream are
    * scored STATELESSLY against the offline-trained bucket model
    * ([[PipelineQueries.dsirModelArray]] — B quantized log-ratios frozen
    * into a literal array), the production ingest-time shape: the model
    * trains on yesterday's corpus, today's deliveries are scored on
    * arrival with zero state and zero shuffles. Bit-identical to the
    * batch `dsir_weights` rows (same hash fragment, same integer sums) —
    * asserted by the live-replay spec. */
  def dsirScoreStream(spark: SparkSession, dir: String,
                      buckets: Int = PipelineQueries.DsirBuckets): DataFrame =
    PipelineQueries.dsirScore(documentsStream(spark, dir),
      PipelineQueries.dsirModelArray(spark, dir, buckets), buckets)

  /** ONLINE unigram token counting: documents arriving on a stream get
    * their (n_words, n_tokens, n_chars) budget rows STATELESSLY from the
    * offline-trained unigram tokenizer ([[PipelineQueries.uniModel]] — a
    * bounded piece→micro-nat score map frozen into the closure) — the
    * ingest-time twin of batch `uni_encode` (bit-identical; live-replay
    * specced): the token-budget meter a delivery pays on arrival, before
    * anything downstream is priced in sequence length. */
  def uniScoreStream(spark: SparkSession, dir: String): DataFrame =
    PipelineQueries.uniScore(documentsStream(spark, dir),
      PipelineQueries.uniModel(spark, dir))

  /** Ingest-time BM25 scoring of a document stream against a FROZEN index
    * ([[PipelineQueries.bm25Model]]) — the retrieval member of the
    * frozen-model scorer family (nbScore / dsirScore): per micro-batch
    * the arriving docs get their (q_id, score_micro) rows from
    * [[PipelineQueries.bm25Score]] and are handed to `sink`. A doc's
    * scores are self-contained given the frozen df/N/Σdl, so the union of
    * all batches is bit-identical to scoring the same docs in one batch
    * (parity-specced against the oracle-green bm25_topk scores).
    * foreachBatch rather than a stream transform because per-doc tf/dl
    * need a per-batch (doc, term) aggregation — delivery-sized, the same
    * shape the curation press uses for its per-delivery scoring. */
  def runBm25Score(spark: SparkSession, docsStream: DataFrame,
                   model: PipelineQueries.Bm25Model)(
      sink: DataFrame => Unit): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = spark.createDataFrame(batch.select("doc_id", "text").rdd,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
        sink(PipelineQueries.bm25Score(b, model))
      }
      .start()

  /** LIVE retrieval over the impact-pruned index — the serve direction
    * of the lexical family ([[runBm25Score]] scores arriving DOCUMENTS
    * against frozen queries; this serves arriving QUERIES from the
    * frozen pruned index `idx` = [[graft.queries.IndexState
    * .bm25ImpactPaths]]): per micro-batch the arriving query docs are
    * tokenized (batch-sized) and broadcast-joined against the pruned
    * lists, so per-batch cost is |batch terms| × 64 — independent of the
    * corpus behind the index, the flat 0.5–0.8 s serve SCALE.md's
    * serve_qload_lex measures, run live. A query's result rows depend
    * only on (its text, the frozen index), so the union over batches is
    * bit-identical to the batch serve — parity-specced against the
    * oracle-green bm25_topk_impact rows. That identity is a SET
    * identity, and foreachBatch is at-least-once: a replayed
    * micro-batch (or the same q_id arriving in two batches) emits its
    * result rows AGAIN to an appending sink. PRECONDITION for an
    * exactly-once downstream: query ids are unique across the stream
    * and the sink is idempotent per (q_id, doc_id) — dedup there, or
    * relay through the graft-cdc sink whose per-(queryId, epoch)
    * markers make replays no-ops (the [[runBm25Score]] family's same
    * invariant). The recall precondition and measure-then-enable rule
    * are the batch serve's ([[PipelineQueries.bm25TopKImpact]]
    * scaladoc). */
  def runImpactServe(spark: SparkSession, queriesStream: DataFrame,
                     idx: DataFrame, kTop: Int = 5)(
      sink: DataFrame => Unit): StreamingQuery =
    queriesStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = spark.createDataFrame(batch.select("doc_id", "text").rdd,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
        sink(PipelineQueries.bm25ImpactRank(idx,
          PipelineQueries.bm25Postings(b).selectExpr("doc_id AS q_id", "term"),
          kTop))
      }
      .start()

  /** LIVE exactness-CERTIFIED retrieval — the [[runImpactServe]] twin
    * with NO recall trade: per micro-batch the arriving query docs are
    * tokenized (batch-sized) and walk the certificate ladder against
    * the frozen leveled store (`ranked` =
    * [[graft.queries.IndexState.bm25ImpactRankedPaths]], with the full
    * (tfq, dl, dft, stats) quadruple for exact candidate scoring and
    * the per-query exact-serve fallback) — so every served row is
    * bit-identical to the batch exact serve for that query, whatever
    * the corpus profile (parity-specced against the oracle-green
    * bm25_topk rows through uneven batches). Per-batch cost: certified
    * queries pay candidates ≤ |terms| × certification depth;
    * fallback queries pay their exact serve — the
    * [[PipelineQueries.bm25TopKCertified]] economics, run live. Same
    * at-least-once / idempotent-sink precondition as
    * [[runImpactServe]]. */
  def runCertifiedServe(spark: SparkSession, queriesStream: DataFrame,
      ranked: DataFrame, tfq: DataFrame, dl: DataFrame, dft: DataFrame,
      stats: DataFrame, kTop: Int = 5)(
      sink: DataFrame => Unit): StreamingQuery =
    queriesStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = spark.createDataFrame(batch.select("doc_id", "text").rdd,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
        sink(PipelineQueries.bm25CertifiedRank(ranked,
          PipelineQueries.bm25Postings(b).selectExpr("doc_id AS q_id", "term"),
          tfq, dl, dft, stats, kTop))
      }
      .start()

  /** ONLINE incremental cluster maintenance over a delivery stream: every
    * micro-batch is one DELIVERY, folded into the maintained assignment by
    * [[graft.ops.ClusterOps.incrementalClusters]] while the signature
    * index accretes ([[graft.ops.DedupOps.setsOfShingles]] unioned per
    * batch) — the streaming execution of `dedup_clusters_delta`, and the
    * job shape that keeps a 100 TB corpus' clusters current per delivery
    * instead of re-resolving the world.
    *
    * foreachBatch, not a stateful agg: component resolution is global —
    * merges can span arbitrary keys — so it is not an incrementalizable
    * keyed streaming aggregate (same rationale as Top-N ranking, SURVEY
    * §2.6); the micro-batch boundary IS the delivery boundary. `sink`
    * receives the FULL updated assignment (doc_id, cluster_id) after each
    * delivery; the multi-delivery fold provably converges to the
    * from-scratch resolution (ClusterTextOpsSpec), so the stream's final
    * state equals batch `dedup_clusters` on the same corpus.
    *
    * Restart contract: `sink` receives BOTH maintained tables — the
    * assignment and the signature index, exactly what a production
    * pipeline persists between runs — and `initialAssign`/`initialSets`
    * bootstrap a restarted job from that persisted pair (a stop/restart
    * round-trip converges to the same state as an uninterrupted run;
    * spec-verified). State is epoch-scoped by construction — the index
    * holds one row per corpus document, the same asymptotics as the
    * batch signature index. */
  def runIncrementalClusters(spark: SparkSession, docsStream: DataFrame,
      k: Int = 3, nPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      initialAssign: Option[DataFrame] = None,
      initialSets: Option[DataFrame] = None)(
      sink: (DataFrame, DataFrame) => Unit): StreamingQuery = {
    val emptyDocs = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    var sets: DataFrame = initialSets.map(_.localCheckpoint())
      .getOrElse(graft.ops.DedupOps.setsOfShingles(
        graft.ops.DedupOps.allShingles(emptyDocs, "text", k)).localCheckpoint())
    var assign: DataFrame = initialAssign.map(_.localCheckpoint())
      .getOrElse(emptyDocs.selectExpr("doc_id", "doc_id AS cluster_id"))
    docsStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // re-root the micro-batch on the DRIVING session: foreachBatch
        // hands a clone-session DataFrame, and composing it into the
        // accumulated frames' self-union plans breaks attribute
        // resolution ("key not found: <attr>"); the RDD hop stays
        // distributed and pins one session for the whole fold
        val dAll = spark.createDataFrame(
          batch.select("doc_id", "text").rdd,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType)))).localCheckpoint()
        // at-least-once replay safety: foreachBatch may re-deliver a batch
        // after a failure, and this fold keeps its state in driver-side
        // vars rather than a stream checkpoint — a re-delivered doc would
        // otherwise be unioned into the signature index twice AND emitted
        // twice by incrementalClusters (once via the delivery path, once
        // via the base relabel), corrupting the maintained assignment
        // permanently. The anti-join is against the ASSIGNMENT, not the
        // signature index: a doc shorter than the shingle width produces
        // zero shingles and never enters the index, but every ingested doc
        // has an assignment row — so the assignment is the complete
        // ingested-id set. dropDuplicates guards against at-least-once
        // duplicates of the same doc WITHIN one batch the same way.
        val d = dAll.dropDuplicates("doc_id")
          .join(assign.select("doc_id"), Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val dSets = graft.ops.DedupOps.setsOfShingles(
          graft.ops.DedupOps.allShingles(d, "text", k)).localCheckpoint()
        val dd = graft.ops.DedupOps.minhashPairsOfSets(
          dSets, nPerms, rowsPerBand, threshold)
        val db = graft.ops.DedupOps.crossNearPairsOfSets(
          sets, dSets, nPerms, rowsPerBand, threshold)
        assign = graft.ops.ClusterOps.incrementalClusters(
          assign, d.select("doc_id"), dd, db).localCheckpoint()
        sets = sets.union(dSets).localCheckpoint()
        sink(assign, sets)
      }
      .start()
  }

  /** [[runIncrementalClusters]] over the corpus-ingest replay of `dir`. */
  def runIncrementalClustersFromDir(spark: SparkSession, dir: String)(
      sink: (DataFrame, DataFrame) => Unit): StreamingQuery =
    runIncrementalClusters(spark, documentsStream(spark, dir))(sink)

  /** Streaming corpus LIFECYCLE maintainer — [[runIncrementalClusters]]
    * extended with TAKEDOWNS, closing the r8 gap where a long-lived
    * maintainer had to stop for every removal. `opsStream` is one tagged
    * CDC-style feed (doc_id, text, op) with op ∈ 'add' | 'remove'
    * (text is ignored for removes), optionally carrying a per-row `seq`
    * column (any integral type): with seq, conflicting ops for the SAME
    * doc inside one micro-batch net to the doc's LAST op by feed order
    * (ties toward remove), so the terminal state does not depend on where
    * trigger boundaries fall; without seq there is no intra-batch order
    * to recover, and the fallback is adds-before-removes (a doc added and
    * removed in the same batch ends removed). Adds are idempotent, not
    * upserts — INSERT-ONLY is the feed contract for the whole lifecycle
    * family (this, [[runBm25Lifecycle]], [[runServingLifecycle]]): an add
    * for an already-ingested doc_id is a no-op EVEN IF ITS TEXT DIFFERS,
    * so a content update must be shipped as a remove in one batch
    * followed by an add in a LATER batch. A same-batch remove+add of one
    * doc nets (under seq) to the add, which the idempotency anti-join
    * then swallows — the state keeps the original content by design, not
    * by accident; producers that need in-place updates must split the
    * remove and the re-add across trigger boundaries.
    *
    * Three tables are maintained and handed to `sink` after every batch —
    * the assignment, the signature index, and the near-dup PAIR LIST,
    * which is the extra state takedowns require:
    * [[graft.ops.ClusterOps.removeFromClusters]] re-resolves exactly the
    * affected clusters from their surviving edges (removal can SPLIT a
    * cluster, which the additive quotient fold cannot express), and the
    * edge list is what scopes that work — the same triple a production
    * pipeline persists ([[ClusterState.fullStatePaths]] persists the
    * batch analogue). Removals also retire the doc from the index and the
    * pair list, so later deliveries never band against ghosts.
    *
    * Replay safety: foreachBatch re-delivers only the most recent batch
    * on recovery, in order; adds are idempotent via an anti-join against
    * the maintained ASSIGNMENT (the complete ingested-id set — the
    * signature index misses sub-shingle-width docs) plus a per-batch
    * doc_id dedup, and removes are naturally idempotent (removing an
    * absent doc is a no-op), so a re-delivered mixed batch folds to the
    * identical state. Scale shape per batch:
    * add cost is the delivery-sized quotient fold; remove cost scales
    * with the affected clusters' edges (takedown-batch-sized), never the
    * corpus. */
  def runClusterLifecycle(spark: SparkSession, opsStream: DataFrame,
      k: Int = 3, nPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      initialAssign: Option[DataFrame] = None,
      initialSets: Option[DataFrame] = None,
      initialPairs: Option[DataFrame] = None)(
      sink: (DataFrame, DataFrame, DataFrame) => Unit): StreamingQuery =
    runClusterLifecycleDelta(spark, opsStream, k, nPerms, rowsPerBand,
      threshold, initialAssign, initialSets, initialPairs)(
      (assign, sets, pairs, _, _, _) => sink(assign, sets, pairs))

  /** [[runClusterLifecycle]] with the per-batch DELTAS handed to the sink
    * alongside the maintained state: `added` is the (doc_id, text) frame
    * actually folded this batch (post seq-netting, post idempotency
    * anti-join — never a re-add), `removed` the distinct takedown ids
    * applied after the adds. Downstream per-batch maintainers (the
    * curation press) need exactly these to keep their own delivery-sized
    * state without re-deriving the netting semantics.
    *
    * In tagged-store (segmented) mode the sink additionally receives
    * `touched` = Some((touched cluster ids, their CURRENT membership
    * rows)) — derived from the delta folds themselves (retired ∪
    * re-emitted cluster ids), both frames touched-cluster-sized and
    * checkpointed. The press consumes this instead of diffing two
    * corpus-sized assignments per batch (the full-outer `changed` join
    * SCALE.md r15 named in the residual +8 % per-delivery drift).
    * Simple-fold mode passes None (the press falls back to its diff).
    *
    * `stateRoot` (segmented mode only): a disk root enabling
    * KEY-BUCKETED state ([[graft.streaming.SegmentedState]] bucketed
    * mode) for the assignment (cluster_id-keyed) and the pair list
    * (doc_a-keyed) — the bounded per-batch point reads (moved/affected
    * cluster membership, takedown edge scoping, touched membership)
    * then run through `probe()` (segment skip + plan-time partition
    * pruning) instead of scanning corpus-sized views. */
  def runClusterLifecycleDelta(spark: SparkSession, opsStream: DataFrame,
      k: Int = 3, nPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      initialAssign: Option[DataFrame] = None,
      initialSets: Option[DataFrame] = None,
      initialPairs: Option[DataFrame] = None,
      pressStore: Option[TaggedPressStore] = None,
      stateRoot: Option[String] = None)(
      sink: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
             Option[(DataFrame, DataFrame)]) => Unit): StreamingQuery = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def empty(schema: StructType): DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // NOTE (r13, amended r15): converting the press's MANY SMALL tables
    // to per-table SegmentedStates was built and measured SLOWER at both
    // 1× and 10× (249 → 297 → 312 s for the 10× pipeline feed) — the
    // per-table bookkeeping dominates; the r14 TaggedPressStore (one
    // tagged store) won that back at plant feed lengths. r13 also judged
    // the assign/pairs quotient folds non-segmentable ("merges rewrite
    // arbitrary rows; pair removal masks on either endpoint") — r15
    // REFUTED both halves by construction: merges rewrite only TOUCHED
    // clusters (delta-reported folds + a cluster_id-keyed state, below),
    // and either-endpoint masking is exactly what the endpoint-tombstone
    // SegmentedState mode expresses. Measured: the 100-delivery pipeline
    // front-20→back-20 per-delivery growth fell +24% → +8% (SCALE.md
    // r15). The simple folds remain the unsegmented (short-feed) mode.
    // in tagged-store mode ([[TaggedPressStore]]) the signature sets live
    // in the store (the press seeds it from the same initial state), so
    // the local fold variable stays untouched
    var sets: DataFrame =
      if (pressStore.isDefined) null
      else initialSets.map(_.localCheckpoint())
        .getOrElse(graft.ops.DedupOps.setsOfShingles(
          graft.ops.DedupOps.allShingles(empty(docSchema), "text", k)).localCheckpoint())
    def setsCur: DataFrame = pressStore.map(_.setsView).getOrElse(sets)
    // In tagged-store (segmented) mode the ASSIGNMENT lives in a
    // cluster_id-keyed SegmentedState and the CC folds report DELTAS
    // (ClusterOps.incrementalClustersDelta / removeFromClustersDelta):
    // only clusters the delivery TOUCHES retire-and-re-emit, untouched
    // rows carry by reference — the r14 probe's last measured
    // per-delivery growth term was exactly the full-assignment
    // re-checkpoint this removes. The PAIR LIST likewise moves to an
    // endpoint-tombstoned SegmentedState: per batch one delivery-sized
    // segment append, removals as id tombstones masking either
    // endpoint — no O(pairs) rewrite.
    val bkts = graft.streaming.SegmentedState.DefaultBuckets
    val assignSt: Option[graft.streaming.SegmentedState] =
      if (pressStore.isDefined)
        Some(new graft.streaming.SegmentedState(
          initialAssign.getOrElse(
            empty(docSchema).selectExpr("doc_id", "doc_id AS cluster_id")),
          Seq("cluster_id"),
          bucketed = stateRoot.map(r => (bkts, s"$r/assign"))))
      else None
    val pairsSt: Option[graft.streaming.SegmentedState] =
      if (pressStore.isDefined)
        Some(new graft.streaming.SegmentedState(
          initialPairs.getOrElse(empty(StructType(Seq(
            StructField("doc_a", LongType), StructField("doc_b", LongType))))),
          Seq("doc_a"), endpointCols = Seq("doc_a", "doc_b"),
          bucketed = stateRoot.map(r => (bkts, s"$r/pairs"))))
      else None
    // bounded point-read routes for the delta folds: through the
    // bucketed probe() when a state root was given, else the plain
    // broadcast-scan joins inside ClusterOps
    val assignLookup: Option[DataFrame => DataFrame] =
      assignSt.filter(_ => stateRoot.isDefined).map(st => st.probe _)
    val pairsLookup: Option[DataFrame => DataFrame] =
      pairsSt.filter(_ => stateRoot.isDefined).map(st => st.probe _)
    var assign: DataFrame =
      if (assignSt.isDefined) null
      else initialAssign.map(_.localCheckpoint())
        .getOrElse(empty(docSchema).selectExpr("doc_id", "doc_id AS cluster_id"))
    def assignCur: DataFrame = assignSt.map(_.view).getOrElse(assign)
    var pairs: DataFrame =
      if (pairsSt.isDefined) null
      else initialPairs.map(_.localCheckpoint())
        .getOrElse(empty(StructType(Seq(
          StructField("doc_a", LongType), StructField("doc_b", LongType)))))
    def pairsCur: DataFrame = pairsSt.map(_.view).getOrElse(pairs)
    // bloom route for the per-batch add-idempotency probe of the
    // corpus-sized assignment (see IngestBloom): fresh docs admit
    // without scanning it; maybes fall back to the exact probe
    val ingBloom = new graft.streaming.IngestBloom(
      assignCur.select("doc_id"), "doc_id",
      graft.streaming.IngestBloom.DefaultExpected,
      graft.streaming.IngestBloom.DefaultFpp)
    opsStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // re-root on the driving session (see runIncrementalClusters)
        val hasSeq = batch.columns.contains("seq")
        val opSchema = StructType(docSchema ++
          Seq(StructField("op", StringType)) ++
          (if (hasSeq) Seq(StructField("seq", LongType)) else Nil))
        val raw = if (hasSeq)
          batch.select(col("doc_id"), col("text"), col("op"), col("seq").cast("long"))
        else batch.select("doc_id", "text", "op")
        val bRaw = spark.createDataFrame(raw.rdd, opSchema).localCheckpoint()
        // per-doc netting: with a `seq` column the batch collapses to each
        // doc's LAST op (ties toward remove), so conflicting ops for one
        // doc inside one micro-batch resolve by FEED order, not by where
        // the trigger boundary fell — without seq there is no intra-batch
        // order to recover and the documented adds-before-removes fallback
        // applies (a doc both added and removed in one batch ends removed)
        val bAll = if (hasSeq) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))
            .orderBy(col("seq").desc, col("op").desc)
          bRaw.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn", "seq")
        } else bRaw
        // ADDS: replay-idempotent delivery fold, identical to
        // runIncrementalClusters (anti-join against the ASSIGNMENT — the
        // complete ingested-id set, which the signature index is not:
        // sub-shingle-width docs never enter it), plus pair-list accretion
        val d = ingBloom.admitFresh(
            bAll.filter(col("op") === "add").select("doc_id", "text")
              .dropDuplicates("doc_id"),
            graft.streaming.IngestBloom.viewProbe(
              assignCur.select("doc_id"), "doc_id"))
          .localCheckpoint()
        val dSets = graft.ops.DedupOps.setsOfShingles(
          graft.ops.DedupOps.allShingles(d, "text", k)).localCheckpoint()
        val dd = graft.ops.DedupOps.minhashPairsOfSets(
          dSets, nPerms, rowsPerBand, threshold)
        val db = graft.ops.DedupOps.crossNearPairsOfSets(
          setsCur, dSets, nPerms, rowsPerBand, threshold)
        // touched-cluster ids accumulated from the delta folds (segmented
        // mode) — the press's diff-free change feed
        var touchedParts = Vector.empty[DataFrame]
        assignSt match {
          case Some(st) =>
            // delta fold: the CC quotient runs as always, but only the
            // touched clusters' ids tombstone and their rows re-emit —
            // remove-then-append, reading the pre-mutation snapshot
            val (retired0, newRows0) = graft.ops.ClusterOps
              .incrementalClustersDelta(st.view, d.select("doc_id"), dd, db,
                membersOf = assignLookup)
            val retired = retired0.localCheckpoint()
            val newRows = newRows0.localCheckpoint()
            st.remove(retired)
            st.append(newRows)
            touchedParts :+= retired.select("cluster_id")
            touchedParts :+= newRows.select("cluster_id")
          case None =>
            assign = graft.ops.ClusterOps.incrementalClusters(
              assign, d.select("doc_id"), dd, db).localCheckpoint()
        }
        pressStore match {
          case Some(stq) => stq.queueSetsAppend(dSets)
          case None => sets = sets.union(dSets).localCheckpoint()
        }
        val dPairs = dd.select("doc_a", "doc_b")
          .union(db.selectExpr("doc_id AS doc_a", "base_id AS doc_b"))
        pairsSt match {
          case Some(st) => st.append(dPairs)
          case None => pairs = pairs.union(dPairs).localCheckpoint()
        }
        // REMOVES: affected-cluster re-resolution + state retirement
        val rem = bAll.filter(col("op") === "remove")
          .select("doc_id").distinct().localCheckpoint()
        if (!rem.isEmpty) {
          assignSt match {
            case Some(st) =>
              val (affected0, reassigned0) = graft.ops.ClusterOps
                .removeFromClustersDelta(st.view, pairsCur,
                  "doc_a", "doc_b", rem,
                  membersOf = assignLookup, edgesOf = pairsLookup)
              val affected = affected0.localCheckpoint()
              val reassigned = reassigned0.localCheckpoint()
              st.remove(affected)
              st.append(reassigned)
              touchedParts :+= affected.select("cluster_id")
              touchedParts :+= reassigned.select("cluster_id")
            case None =>
              assign = graft.ops.ClusterOps.removeFromClusters(
                assign, pairs, "doc_a", "doc_b", rem).localCheckpoint()
          }
          // takedown batches are bounded by contract: broadcast them
          // into the corpus-sized retirement folds (scan-only rewrites,
          // no corpus-side exchange from the stat-less checkpoints)
          pressStore match {
            case Some(stq) => stq.queueSetsRemove(rem)
            case None => sets = sets
              .join(broadcast(rem), Seq("doc_id"), "left_anti")
              .localCheckpoint()
          }
          pairsSt match {
            case Some(st) => st.remove(rem.select("doc_id"))
            case None => pairs = pairs
              .join(broadcast(rem.withColumnRenamed("doc_id", "doc_a")),
                Seq("doc_a"), "left_anti")
              .join(broadcast(rem.withColumnRenamed("doc_id", "doc_b")),
                Seq("doc_b"), "left_anti")
              .select("doc_a", "doc_b")
              .localCheckpoint()
          }
        }
        // the press's change feed (segmented mode): touched cluster ids +
        // their CURRENT (post-mutation) membership — both bounded by the
        // delivery's blast radius; membership via the bucketed probe when
        // available, else one broadcast-probe scan (which REPLACES the
        // press's own scan, it doesn't add one)
        val touchedInfo: Option[(DataFrame, DataFrame)] = assignSt.map { st =>
          val t = (touchedParts :+ empty(StructType(Seq(
              StructField("cluster_id", LongType)))))
            .reduce(_ unionByName _).distinct().localCheckpoint()
          val m = (if (stateRoot.isDefined) st.probe(t)
            else st.view.join(broadcast(t), Seq("cluster_id"), "left_semi"))
            .localCheckpoint()
          (t, m)
        }
        sink(assignCur, setsCur, pairsCur, d, rem, touchedInfo)
      }
      .start()
  }

  /** Streaming LEXICAL-INDEX lifecycle maintainer — the BM25 analogue of
    * [[runClusterLifecycle]], closing the serving loop whose two halves
    * are already oracle-green as batch queries: one tagged add/remove CDC
    * feed (same contract: op ∈ 'add' | 'remove', optional `seq` for
    * per-doc last-op netting with ties toward remove; without seq,
    * adds-before-removes; adds are INSERT-ONLY — content updates ship as
    * remove-then-add across separate batches, see
    * [[runClusterLifecycle]]) maintains the deployed (postings, dl, df)
    * triple per micro-batch. Deliveries fold IN with the
    * bm25_topk_persist algebra (disjoint doc partitions union; df is a
    * vocabulary-keyed sum); takedowns fold OUT with the
    * bm25_topk_takedown algebra (doc-keyed retirement of postings and
    * lengths; df decremented by the removed docs' term counts, read from
    * the MAINTAINED postings — the store lookup a real engine does;
    * zero-df terms retire). A fourth maintained table — the ingested-id
    * set — makes adds replay-idempotent even for docs that tokenize to
    * nothing (they never enter postings/dl, so those tables cannot serve
    * as the ingested set; the runIncrementalClusters assignment
    * rationale). `sink` receives the maintained triple after every
    * batch; serving [[PipelineQueries]]'s bm25 rank stage over it plus
    * re-derived 1-row stats equals bm25_topk over exactly the surviving
    * corpus (spec-verified through interleaved adds and removes,
    * including add+remove of one doc in one batch).
    *
    * Scale shape per batch: add cost = delivery-sized tokenize + a
    * vocabulary-keyed df fold; remove cost = a takedown-scoped semi-join
    * over the stored postings + the same vocab-keyed fold; never a
    * corpus re-tokenize. State is the index itself — exactly what the
    * batch [[IndexState.bm25FullPaths]] persists — held in
    * [[graft.streaming.SegmentedState]] (delivery-sized segment
    * checkpoints + geometric compaction), the r13 fix for the measured
    * quadratic term: re-materializing the whole index per batch made
    * per-delivery cost grow linearly with corpus-so-far (SCALE.md). */
  def runBm25Lifecycle(spark: SparkSession, opsStream: DataFrame,
      initialPostings: Option[DataFrame] = None,
      initialIds: Option[DataFrame] = None,
      checkpoint: Option[String] = None,
      stateRoot: Option[String] = None)(
      sink: (DataFrame, DataFrame, DataFrame) => Unit): StreamingQuery = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def empty(schema: StructType): DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // checkpoint the restart input ONCE: four derivations read it
    // (postings base, dl, dft, ids) and each would otherwise re-evaluate
    // the caller's corpus-sized plan from scratch
    val post0: DataFrame = initialPostings.map(_.localCheckpoint())
      .getOrElse(empty(StructType(Seq(StructField("doc_id", LongType),
        StructField("term", StringType), StructField("tf", LongType)))))
    // `stateRoot` flips the doc-keyed states to KEY-BUCKETED mode (r15
    // verdict #2): the per-batch bounded point reads — the takedown df
    // down-fold and the ingest-idempotency maybe-probe — then run
    // through probe() (segment skip + plan-time bucket pruning) instead
    // of scanning the corpus-sized views
    val bkts = graft.streaming.SegmentedState.DefaultBuckets
    def bk(name: String) = stateRoot.map(r => (bkts, s"$r/$name"))
    val postings = new graft.streaming.SegmentedState(post0, Seq("doc_id"),
      bucketed = bk("postings"))
    val dl = new graft.streaming.SegmentedState(
      post0.groupBy("doc_id").agg(sum(col("tf")).as("dl")), Seq("doc_id"),
      bucketed = bk("dl"))
    var dft: DataFrame = post0.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df")).localCheckpoint()
    val ids0 = initialIds.getOrElse(post0.select("doc_id").distinct())
      .localCheckpoint()
    val ids = new graft.streaming.SegmentedState(ids0, Seq("doc_id"),
      bucketed = bk("ids"))
    // the r14 fix for the stated per-batch O(corpus) add-idempotency
    // term: fresh keys admit without probing the maintained id set at
    // all; only bloom-maybes (re-deliveries, remove-then-re-add, fpp
    // noise) pay one bounded probe of it
    val idsBloom = new graft.streaming.IngestBloom(ids0, "doc_id",
      graft.streaming.IngestBloom.DefaultExpected,
      graft.streaming.IngestBloom.DefaultFpp)
    val idsPresent: DataFrame => DataFrame =
      if (stateRoot.isDefined) mk => ids.probe(mk)
      else graft.streaming.IngestBloom.viewProbe(ids.view, "doc_id")
    val writer = opsStream.writeStream.outputMode("append")
    checkpoint.foreach(cp => writer.option("checkpointLocation", cp))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // re-root + per-doc netting: same contract as runClusterLifecycle
        val hasSeq = batch.columns.contains("seq")
        val opSchema = StructType(docSchema ++
          Seq(StructField("op", StringType)) ++
          (if (hasSeq) Seq(StructField("seq", LongType)) else Nil))
        val raw = if (hasSeq)
          batch.select(col("doc_id"), col("text"), col("op"), col("seq").cast("long"))
        else batch.select("doc_id", "text", "op")
        val bRaw = spark.createDataFrame(raw.rdd, opSchema).localCheckpoint()
        val bAll = if (hasSeq) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))
            .orderBy(col("seq").desc, col("op").desc)
          bRaw.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn", "seq")
        } else bRaw
        // ADDS: idempotent via the bloom-routed ingested-id set (see
        // IngestBloom: fresh keys skip the corpus-sized membership probe)
        val cand = bAll.filter(col("op") === "add").select("doc_id", "text")
          .dropDuplicates("doc_id")
        val d = idsBloom.admitFresh(cand, idsPresent).localCheckpoint()
        val dPost = PipelineQueries.bm25Postings(d).localCheckpoint()
        postings.append(dPost)
        dl.append(dPost.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
        dft = dft.union(dPost.groupBy("term").agg(count(lit(1)).cast("long").as("df")))
          .groupBy("term").agg(sum(col("df")).as("df")).localCheckpoint()
        ids.append(d.select("doc_id"))
        // REMOVES: doc-keyed retirement + the df down-fold from the
        // store — the takedown batch is bounded by contract, so it
        // reads through the bucketed probe() when a state root was
        // given (plan-time bucket pruning — never touching unprobed
        // store directories), else BROADCASTS into a scan of the stored
        // postings (scan-only; without the hint the stat-less
        // checkpointed store plans a corpus-side shuffle write before
        // AQE can rescue the join)
        val rem = bAll.filter(col("op") === "remove")
          .select("doc_id").distinct().localCheckpoint()
        if (!rem.isEmpty) {
          val remPost =
            if (stateRoot.isDefined) postings.probe(rem)
            else postings.view.join(broadcast(rem), Seq("doc_id"), "left_semi")
          val dfRem = remPost
            .groupBy("term").agg(count(lit(1)).cast("long").as("df_t"))
          dft = dft.join(broadcast(dfRem), Seq("term"), "left")
            .selectExpr("term", "df - coalesce(df_t, 0L) AS df")
            .filter(col("df") > 0).localCheckpoint()
          postings.remove(rem)
          dl.remove(rem)
          ids.remove(rem)
        }
        sink(postings.view, dl.view, dft)
      }
      .start()
  }

  /** The SERVING-STACK lifecycle — [[runBm25Lifecycle]] composed with
    * dense-store maintenance: one tagged add/remove CDC feed (same
    * contract as [[runClusterLifecycle]], including INSERT-ONLY adds —
    * content updates ship as remove-then-add across separate batches)
    * keeps BOTH retrievers' deployed state current per micro-batch, so
    * the hybrid RRF fusion can be served from maintained state that is
    * never rebuilt. The lexical triple folds exactly as in runBm25Lifecycle;
    * the quantized vector store ([[graft.ops.SimilarityOps.quantStore]]
    * rows — per-row deterministic, so maintained state ≡ a from-scratch
    * encode of the survivors) adds by encoding the batch's added ids'
    * embeddings (`embeddings` plays the ingest-time embedder: a
    * batch-sized semi-join, the per-delivery embed cost a real pipeline
    * pays) and removes by doc-keyed row drops (per-row independence —
    * no global statistics to fold on the dense side). `sink` receives
    * (postings, dl, df, store) after every batch; fusing
    * [[PipelineQueries]]'s rank stages over the maintained quadruple
    * equals the oracle-green `hybrid_rrf_takedown` when the feed's
    * survivors match its residue class (spec-verified through
    * interleaved adds and removals). */
  def runServingLifecycle(spark: SparkSession, opsStream: DataFrame,
      embeddings: DataFrame, checkpoint: Option[String] = None,
      stateRoot: Option[String] = None)(
      sink: (DataFrame, DataFrame, DataFrame, DataFrame) => Unit): StreamingQuery = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def empty(schema: StructType): DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val post0: DataFrame = empty(StructType(Seq(StructField("doc_id", LongType),
      StructField("term", StringType), StructField("tf", LongType))))
    // the maintained quadruple lives in SegmentedState (delivery-sized
    // segment checkpoints + geometric compaction) — the r13 fix for the
    // measured per-batch O(corpus) state rewrite (SCALE.md). `stateRoot`
    // flips the doc-keyed states to bucketed mode so the bounded point
    // reads run through probe() (runBm25Lifecycle rationale). The dense
    // store stays unbucketed: removals are tombstone masks and it takes
    // no point reads.
    val bkts = graft.streaming.SegmentedState.DefaultBuckets
    def bk(name: String) = stateRoot.map(r => (bkts, s"$r/$name"))
    val postings = new graft.streaming.SegmentedState(post0, Seq("doc_id"),
      bucketed = bk("postings"))
    val dl = new graft.streaming.SegmentedState(
      post0.groupBy("doc_id").agg(sum(col("tf")).as("dl")), Seq("doc_id"),
      bucketed = bk("dl"))
    var dft: DataFrame = post0.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df")).localCheckpoint()
    val ids0 = post0.select("doc_id").distinct().localCheckpoint()
    val ids = new graft.streaming.SegmentedState(ids0, Seq("doc_id"),
      bucketed = bk("ids"))
    val idsBloom = new graft.streaming.IngestBloom(ids0, "doc_id",
      graft.streaming.IngestBloom.DefaultExpected,
      graft.streaming.IngestBloom.DefaultFpp)
    val idsPresent: DataFrame => DataFrame =
      if (stateRoot.isDefined) mk => ids.probe(mk)
      else graft.streaming.IngestBloom.viewProbe(ids.view, "doc_id")
    val store = new graft.streaming.SegmentedState(
      graft.ops.SimilarityOps.quantStore(embeddings.limit(0)), Seq("vec_id"))
    val embSrc = embeddings.localCheckpoint()
    val writer = opsStream.writeStream.outputMode("append")
    checkpoint.foreach(cp => writer.option("checkpointLocation", cp))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // re-root + per-doc netting: same contract as runClusterLifecycle
        val hasSeq = batch.columns.contains("seq")
        val opSchema = StructType(docSchema ++
          Seq(StructField("op", StringType)) ++
          (if (hasSeq) Seq(StructField("seq", LongType)) else Nil))
        val raw = if (hasSeq)
          batch.select(col("doc_id"), col("text"), col("op"), col("seq").cast("long"))
        else batch.select("doc_id", "text", "op")
        val bRaw = spark.createDataFrame(raw.rdd, opSchema).localCheckpoint()
        val bAll = if (hasSeq) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))
            .orderBy(col("seq").desc, col("op").desc)
          bRaw.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn", "seq")
        } else bRaw
        // ADDS: lexical fold + the delivery-sized embed+encode, admitted
        // through the bloom route (see runBm25Lifecycle)
        val cand = bAll.filter(col("op") === "add").select("doc_id", "text")
          .dropDuplicates("doc_id")
        val d = idsBloom.admitFresh(cand, idsPresent).localCheckpoint()
        val dPost = PipelineQueries.bm25Postings(d).localCheckpoint()
        postings.append(dPost)
        dl.append(dPost.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
        dft = dft.union(dPost.groupBy("term").agg(count(lit(1)).cast("long").as("df")))
          .groupBy("term").agg(sum(col("df")).as("df")).localCheckpoint()
        ids.append(d.select("doc_id"))
        store.append(graft.ops.SimilarityOps.quantStore(
          embSrc.join(broadcast(d.selectExpr("doc_id AS vec_id")),
            Seq("vec_id"), "left_semi")))
        // REMOVES: lexical down-fold + dense row drops (bounded takedown
        // batch reads through the bucketed probe when rooted, else
        // broadcasts into the store scan)
        val rem = bAll.filter(col("op") === "remove")
          .select("doc_id").distinct().localCheckpoint()
        if (!rem.isEmpty) {
          val remPost =
            if (stateRoot.isDefined) postings.probe(rem)
            else postings.view.join(broadcast(rem), Seq("doc_id"), "left_semi")
          val dfRem = remPost
            .groupBy("term").agg(count(lit(1)).cast("long").as("df_t"))
          dft = dft.join(broadcast(dfRem), Seq("term"), "left")
            .selectExpr("term", "df - coalesce(df_t, 0L) AS df")
            .filter(col("df") > 0).localCheckpoint()
          postings.remove(rem)
          dl.remove(rem)
          ids.remove(rem)
          store.remove(rem.withColumnRenamed("doc_id", "vec_id"))
        }
        sink(postings.view, dl.view, dft, store.view)
      }
      .start()
  }

  /** The streaming CURATION PRESS — the continuously-maintained
    * [[PipelineQueries.corpusManifest]]: one tagged add/remove CDC feed
    * (same contract as [[runClusterLifecycle]]) drives the near-dup
    * cluster lifecycle, and after every micro-batch the keep/split
    * manifest of the ENTIRE surviving corpus is handed to `sink` — the
    * "ship to training continuously" composition (the closing r9 gap):
    * quality gate, repetition gate, canonical-among-survivors flag,
    * leakage-safe cluster-hash split, all live.
    *
    * Composition discipline (everything per-batch is DELIVERY- or
    * TOUCHED-CLUSTER-sized, never corpus-sized recompute):
    *  - the frozen per-doc scorers ([[PipelineQueries.textQualityOf]] +
    *    [[PipelineQueries.gopherRepetitionOf]] — stateless, shared
    *    verbatim with the batch press) score ONLY the docs actually
    *    folded this batch; the inner join to the repetition pass
    *    reproduces the batch trigram gate (sub-trigram docs never enter
    *    the manifest);
    *  - the canonical rank is re-run ONLY for clusters whose membership
    *    changed (a 2-column diff of consecutive assignments — the same
    *    compact-table size class as the lifecycle's own assignment fold —
    *    names the touched clusters; merges and takedown splits change
    *    members' cluster_id, so the diff catches them);
    *  - untouched clusters' manifest rows (canonical flag, keep bit,
    *    split) are carried forward verbatim, so a quiet 100 TB corpus
    *    pays only for its deliveries.
    *
    * Convergence contract (specced incl. takedowns): after any sequence
    * of deliveries and takedowns, the maintained manifest equals batch
    * [[PipelineQueries.corpusManifestOf]] over exactly the surviving
    * documents.
    *
    * Restart contract: `sink` receives the full [[PressState]] — the
    * lifecycle triple (assignment / signature index / pair list) plus the
    * press's own score table and manifest, exactly what a production run
    * persists between restarts — and `initial` bootstraps a new press
    * from that persisted five-table state (stop/restart converges to the
    * same manifest as an uninterrupted run; spec-verified through a
    * post-restart takedown). */
  def runCurationPress(spark: SparkSession, opsStream: DataFrame,
      k: Int = 3, nPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      initial: Option[PressState] = None,
      segmented: Boolean = true,
      stateRoot: Option[String] = None)(
      sink: PressState => Unit): StreamingQuery =
    runCurationPressDelta(spark, opsStream, k, nPerms, rowsPerBand,
      threshold, initial, segmented, stateRoot)((st, _, _) => sink(st))

  /** [[runCurationPress]] with the per-batch DELTAS handed to the sink
    * alongside the press state ([[runClusterLifecycleDelta]]'s `added` /
    * `removed`, post netting and idempotency) — the hook a co-maintained
    * consumer ([[runCorpusPipeline]]'s serving folds) composes on
    * without re-deriving the feed semantics. */
  def runCurationPressDelta(spark: SparkSession, opsStream: DataFrame,
      k: Int = 3, nPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      initial: Option[PressState] = None,
      segmented: Boolean = true,
      stateRoot: Option[String] = None)(
      sink: (PressState, DataFrame, DataFrame) => Unit): StreamingQuery = {
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StringType, StructField, StructType}
    def empty(schema: StructType): DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val scoresSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("quality", DoubleType),
      StructField("rep_pass", BooleanType)))
    val manifestSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("cluster_id", LongType),
      StructField("quality", DoubleType), StructField("rep_pass", BooleanType),
      StructField("canonical", BooleanType), StructField("keep", BooleanType),
      StructField("split", StringType)))
    var prevAssign: DataFrame = initial.map(_.assign.localCheckpoint())
      .getOrElse(empty(StructType(Seq(
        StructField("doc_id", LongType), StructField("cluster_id", LongType)))))
    // `segmented = true` (the shipped default, r14-measured): sets/
    // scores/manifest live in ONE TaggedPressStore — one queued append +
    // one tombstone batch per micro-batch. At the 100-delivery probe feed
    // the tagged store wins on TOTAL (785.7 s vs 807.6 s) and on SHAPE
    // (per-delivery quartile means 7.4/9.6/7.0/7.5 s — flat with
    // promotion spikes — vs the simple fold's monotone 6.1→8.4→8.7→9.0 s,
    // still climbing); the crossover sits at ~delivery 100, exactly where
    // r13's 40-delivery measurement extrapolated it. `segmented = false`
    // keeps the simple union+re-checkpoint fold — measured faster below
    // ~40 deliveries (SCALE.md press rows), the short-feed option.
    val store: Option[TaggedPressStore] =
      if (!segmented) None
      else Some(new TaggedPressStore(
        initial.map(_.sets).getOrElse(graft.ops.DedupOps.setsOfShingles(
          graft.ops.DedupOps.allShingles(empty(docSchema), "text", k))),
        initial.map(_.scores).getOrElse(empty(scoresSchema)),
        initial.map(_.manifest).getOrElse(empty(manifestSchema)),
        bucketed = stateRoot.map(r =>
          (graft.streaming.SegmentedState.DefaultBuckets, s"$r/press"))))
    var scores: DataFrame =
      if (segmented) null
      else initial.map(_.scores.localCheckpoint()).getOrElse(empty(scoresSchema))
    var manifest: DataFrame =
      if (segmented) null
      else initial.map(_.manifest.localCheckpoint()).getOrElse(empty(manifestSchema))
    runClusterLifecycleDelta(spark, opsStream, k, nPerms, rowsPerBand,
      threshold,
      initialAssign = initial.map(_.assign),
      initialSets = initial.map(_.sets),
      initialPairs = initial.map(_.pairs),
      pressStore = store,
      stateRoot = stateRoot) { (assign, sets, pairs, added, removed,
                                touchedInfo) =>
      // 1. frozen-model scoring of exactly this delivery; inner join =
      //    the batch trigram gate. The scorers are per-doc pure functions,
      //    so delivery scoring ≡ batch scoring doc-for-doc.
      val newScores = graft.queries.PipelineQueries.textQualityOf(added)
        .join(graft.queries.PipelineQueries.gopherRepetitionOf(added)
          .select(col("doc_id"), col("pass").as("rep_pass")), "doc_id")
        .select("doc_id", "quality", "rep_pass")
      store.foreach { stq =>
        stq.queueScoresAppend(newScores)
        stq.queueScoresRemove(removed)
      }
      if (store.isEmpty)
        scores = scores.unionByName(newScores)
          .join(broadcast(removed), Seq("doc_id"), "left_anti")
          .localCheckpoint()
      // 2. touched clusters + their CURRENT membership: handed down by
      //    the lifecycle's delta folds in segmented mode (retired ∪
      //    re-emitted cluster ids — no corpus-sized assignment diff);
      //    the simple fold keeps the legacy full-outer diff of
      //    consecutive assignments (it has no delta to read)
      val (touched, membership) = touchedInfo match {
        case Some((t, m)) => (t, m.select("doc_id", "cluster_id"))
        case None =>
          val changed = prevAssign.selectExpr("doc_id", "cluster_id AS old_cid")
            .join(assign.selectExpr("doc_id", "cluster_id AS new_cid"),
              Seq("doc_id"), "full_outer")
            .filter("old_cid IS NULL OR new_cid IS NULL OR old_cid <> new_cid")
          val t = changed.selectExpr("old_cid AS cluster_id")
            .union(changed.selectExpr("new_cid AS cluster_id"))
            .filter("cluster_id IS NOT NULL").distinct().localCheckpoint()
          (t, assign.select("doc_id", "cluster_id")
            .join(broadcast(t), Seq("cluster_id"), "left_semi"))
      }
      // the score rows this batch ranks over: in store mode a BOUNDED
      // point read of the touched members' scores (bucketed probe when
      // the store has a disk root) minus removals plus this delivery's
      // fresh scores — never a scan of the corpus-sized score table;
      // the simple fold ranks over its maintained frame
      val scoresSrc = store match {
        case Some(stq) if touchedInfo.isDefined =>
          stq.scoresFor(membership.select("doc_id"))
            .join(broadcast(removed), Seq("doc_id"), "left_anti")
            .unionByName(newScores)
        case Some(stq) =>
          stq.scoresView.join(broadcast(removed), Seq("doc_id"), "left_anti")
            .unionByName(newScores)
        case None => scores
      }
      // 3. re-rank ONLY the touched clusters over those scores — both
      // sides are touched-cluster-sized, so both broadcast: nothing
      // corpus-sized is shuffled (and with the probe, nothing
      // corpus-sized is even scanned)
      val rebuilt = broadcast(membership)
        .join(scoresSrc, "doc_id")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id").asc)))
        .selectExpr("doc_id", "cluster_id", "quality", "rep_pass",
          "rn = 1 AS canonical",
          "quality >= CAST(0.5 AS DOUBLE) AND rep_pass AND rn = 1 AS keep",
          s"${graft.ops.DedupOps.md5Long("CAST(cluster_id AS STRING)")} % 10 AS bucket")
        .selectExpr("doc_id", "cluster_id", "quality", "rep_pass",
          "canonical", "keep",
          "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split")
      store match {
        case Some(stq) =>
          stq.queueManifestRemove(touched)
          stq.queueManifestAppend(rebuilt)
          // ONE tombstone batch + ONE segment append for the whole
          // press's per-batch bookkeeping, tombstones first (same-batch
          // retire-then-rebuild resolves by generation)
          stq.flush()
        case None =>
          manifest = manifest
            .join(broadcast(touched), Seq("cluster_id"), "left_anti")
            .select("doc_id", "cluster_id", "quality", "rep_pass", "canonical",
              "keep", "split")
            .unionByName(rebuilt)
            .localCheckpoint()
      }
      // only the legacy diff path reads prevAssign (segmented mode gets
      // touched ids from the delta folds and never diffs)
      if (touchedInfo.isEmpty)
        prevAssign = assign // already lineage-truncated by the lifecycle
      val st = store match {
        case Some(stq) =>
          PressState(assign, stq.setsView, pairs, stq.scoresView, stq.manifestView)
        case None => PressState(assign, sets, pairs, scores, manifest)
      }
      sink(st, added, removed)
    }
  }

  /** The WHOLE training-data plant on ONE CDC feed — [[runCurationPress]]
    * composed with [[runServingLifecycle]]'s retriever maintenance, the
    * "never rebuilt" end state the r11 verdict asked to close: each
    * micro-batch delivery/takedown simultaneously maintains (1) the
    * near-dup cluster state + the keep/split manifest (the press half,
    * verbatim — same folds, same convergence contract) and (2) BOTH
    * deployed retrievers — the BM25 (postings, dl, df) triple and the
    * quantized dense store. The serving folds consume the press's
    * per-batch DELTAS ([[runCurationPressDelta]]): `added` is already
    * netted and idempotency-filtered against the maintained corpus, so
    * the two halves cannot disagree about what was ingested, and the
    * ingested-id set needs no second copy. `sink` receives the press
    * state plus the serving quadruple after every batch; serving the
    * hybrid fusion over the quadruple equals the from-scratch survivors'
    * fusion, and the manifest equals batch corpus_manifest over the same
    * survivors — one feed, one truth (spec-verified through interleaved
    * adds and takedowns arriving via the graft-cdc source).
    *
    * Scale shape per batch: the press pays delivery- or touched-cluster-
    * sized work (its documented contract); the serving folds add the
    * delivery-sized tokenize + vocab-keyed df fold and the
    * delivery-sized embed+encode — nothing corpus-sized anywhere. */
  def runCorpusPipeline(spark: SparkSession, opsStream: DataFrame,
      embeddings: DataFrame,
      k: Int = 3, nPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      initial: Option[PressState] = None,
      segmented: Boolean = true,
      stateRoot: Option[String] = None)(
      sink: (PressState, DataFrame, DataFrame, DataFrame, DataFrame) => Unit): StreamingQuery = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    def empty(schema: StructType): DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val post0: DataFrame = empty(StructType(Seq(StructField("doc_id", LongType),
      StructField("term", StringType), StructField("tf", LongType))))
    // SegmentedState for the serving quadruple (r13: the per-batch
    // O(corpus) state rewrite was the pipeline's measured growth term);
    // `stateRoot` flips the point-read states — here and down the press
    // stack — to bucketed mode (r15 verdict #2)
    val bkts = graft.streaming.SegmentedState.DefaultBuckets
    def bk(name: String) = stateRoot.map(r => (bkts, s"$r/$name"))
    val postings = new graft.streaming.SegmentedState(post0, Seq("doc_id"),
      bucketed = bk("postings"))
    val dl = new graft.streaming.SegmentedState(
      post0.groupBy("doc_id").agg(sum(col("tf")).as("dl")), Seq("doc_id"),
      bucketed = bk("dl"))
    var dft: DataFrame = post0.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df")).localCheckpoint()
    val store = new graft.streaming.SegmentedState(
      graft.ops.SimilarityOps.quantStore(embeddings.limit(0)), Seq("vec_id"))
    val embSrc = embeddings.localCheckpoint()
    runCurationPressDelta(spark, opsStream, k, nPerms, rowsPerBand,
      threshold, initial, segmented, stateRoot) { (press, added, removed) =>
      // ADDS: lexical fold + delivery-sized embed+encode (the
      // runServingLifecycle algebra over the press's netted delta)
      val dPost = PipelineQueries.bm25Postings(added).localCheckpoint()
      postings.append(dPost)
      dl.append(dPost.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
      dft = dft.union(dPost.groupBy("term").agg(count(lit(1)).cast("long").as("df")))
        .groupBy("term").agg(sum(col("df")).as("df")).localCheckpoint()
      store.append(graft.ops.SimilarityOps.quantStore(
        embSrc.join(broadcast(added.selectExpr("doc_id AS vec_id")),
          Seq("vec_id"), "left_semi")))
      // REMOVES: lexical down-fold from the store + dense row drops
      // (bounded takedown batch reads through the bucketed probe when
      // rooted, else broadcasts into the store scan)
      if (!removed.isEmpty) {
        val remPost =
          if (stateRoot.isDefined) postings.probe(removed)
          else postings.view.join(broadcast(removed), Seq("doc_id"), "left_semi")
        val dfRem = remPost
          .groupBy("term").agg(count(lit(1)).cast("long").as("df_t"))
        dft = dft.join(broadcast(dfRem), Seq("term"), "left")
          .selectExpr("term", "df - coalesce(df_t, 0L) AS df")
          .filter(col("df") > 0).localCheckpoint()
        postings.remove(removed)
        dl.remove(removed)
        store.remove(removed.withColumnRenamed("doc_id", "vec_id"))
      }
      sink(press, postings.view, dl.view, dft, store.view)
    }
  }

  /** The five tables a curation-press run persists between restarts:
    * the lifecycle triple plus the press's score table and manifest. */
  case class PressState(assign: DataFrame, sets: DataFrame, pairs: DataFrame,
                        scores: DataFrame, manifest: DataFrame)

  /** ONE tagged [[graft.streaming.SegmentedState]] holding the press's
    * three add/remove-maintained tables (signature sets / scores /
    * manifest) under a `tbl` discriminator, keyed (tbl, k) with k the
    * table's natural retirement key (doc_id for sets/scores, cluster_id
    * for the manifest — a touched cluster retires ALL its rows with one
    * tombstone key).
    *
    * Why one store instead of three: the r13 probe measured the
    * per-table segmented form SLOWER than the simple union+re-checkpoint
    * folds (SCALE.md: 246 → 298 s at the 10× pipeline feed) because the
    * press maintains MANY SMALL tables and the segmented bookkeeping —
    * per-table segment checkpoint + tombstone fold + count, tens of
    * small Spark jobs per micro-batch — dominates what segmentation
    * saves. Tagging collapses that to ONE queued append and ONE queued
    * tombstone batch per micro-batch regardless of table count
    * ([[flush]]), keeping the LSM economics (O(delta) per-batch state
    * writes, geometric compaction) at a single table's bookkeeping
    * price. The cost moved TO the read side: each table's view scans
    * the mixed store (sets' signature arrays dominate its width), which
    * is why this shape is a measured adjudication, not a default —
    * see SCALE.md's r14 press rows.
    *
    * Mutations QUEUE (lazy, delivery-sized frames) and fold at
    * [[flush]], tombstones before appends, so a remove-then-re-add
    * within one batch resolves by generation exactly like the direct
    * SegmentedState contract. Views read the CURRENT store — pre-flush
    * reads see the previous batch's state, the snapshot the press's
    * fold algebra expects. */
  private[queries] final class TaggedPressStore(sets0: DataFrame,
      scores0: DataFrame, manifest0: DataFrame,
      bucketed: Option[(Int, String)] = None) {
    import TaggedPressStore._

    // keyed (k, tbl) — k FIRST so bucketed mode hashes the natural
    // retirement id (doc_id / cluster_id) and [[scoresFor]]'s bounded
    // point reads prune on it; the tombstone anti-join matches both
    // columns by name, so key order is otherwise inert
    private val st = new graft.streaming.SegmentedState(
      tagSets(sets0).unionByName(tagScores(scores0))
        .unionByName(tagManifest(manifest0)),
      Seq("k", "tbl"), bucketed = bucketed)

    private var pendApp = Vector.empty[DataFrame]
    private var pendRem = Vector.empty[DataFrame]

    def setsView: DataFrame = st.view.filter(col("tbl") === "sets")
      .select("doc_id", "hs", "n_sh")
    def scoresView: DataFrame = st.view.filter(col("tbl") === "scores")
      .select("doc_id", "quality", "rep_pass")
    def manifestView: DataFrame = st.view.filter(col("tbl") === "manifest")
      .select("doc_id", "cluster_id", "quality", "rep_pass", "canonical",
        "keep", "split")

    /** Bounded point read of the SCORES table for a touched-membership-
      * sized doc_id set — the bucketed probe (segment skip + plan-time
      * bucket pruning) when the store is bucketed, one broadcast-probe
      * scan otherwise. Reads the CURRENT store (pre-flush), like the
      * views. */
    def scoresFor(ids: DataFrame): DataFrame = {
      val keys = ids.selectExpr("doc_id AS k")
      val rows = bucketed match {
        case Some(_) => st.probe(keys)
        case None => st.view.join(broadcast(keys), Seq("k"), "left_semi")
      }
      rows.filter(col("tbl") === "scores")
        .select("doc_id", "quality", "rep_pass")
    }

    def queueSetsAppend(dSets: DataFrame): Unit = pendApp :+= tagSets(dSets)
    def queueScoresAppend(dScores: DataFrame): Unit =
      pendApp :+= tagScores(dScores)
    def queueManifestAppend(dMan: DataFrame): Unit =
      pendApp :+= tagManifest(dMan)
    def queueSetsRemove(ids: DataFrame): Unit =
      pendRem :+= keyOf("sets", ids, "doc_id")
    def queueScoresRemove(ids: DataFrame): Unit =
      pendRem :+= keyOf("scores", ids, "doc_id")
    def queueManifestRemove(clusterIds: DataFrame): Unit =
      pendRem :+= keyOf("manifest", clusterIds, "cluster_id")

    /** Fold every queued mutation: ONE tombstone batch, then ONE segment
      * append — the whole press's per-batch state bookkeeping. */
    def flush(): Unit = {
      if (pendRem.nonEmpty) {
        st.remove(pendRem.reduce(_ unionByName _)); pendRem = Vector.empty
      }
      if (pendApp.nonEmpty) {
        st.append(pendApp.reduce(_ unionByName _)); pendApp = Vector.empty
      }
    }
  }

  private[queries] object TaggedPressStore {
    private def tagSets(df: DataFrame): DataFrame = df.selectExpr(
      "'sets' AS tbl", "doc_id AS k", "doc_id", "hs", "n_sh",
      "CAST(NULL AS BIGINT) AS cluster_id", "CAST(NULL AS DOUBLE) AS quality",
      "CAST(NULL AS BOOLEAN) AS rep_pass", "CAST(NULL AS BOOLEAN) AS canonical",
      "CAST(NULL AS BOOLEAN) AS keep", "CAST(NULL AS STRING) AS split")
    private def tagScores(df: DataFrame): DataFrame = df.selectExpr(
      "'scores' AS tbl", "doc_id AS k", "doc_id",
      "CAST(NULL AS ARRAY<BIGINT>) AS hs", "CAST(NULL AS BIGINT) AS n_sh",
      "CAST(NULL AS BIGINT) AS cluster_id", "quality", "rep_pass",
      "CAST(NULL AS BOOLEAN) AS canonical", "CAST(NULL AS BOOLEAN) AS keep",
      "CAST(NULL AS STRING) AS split")
    private def tagManifest(df: DataFrame): DataFrame = df.selectExpr(
      "'manifest' AS tbl", "cluster_id AS k", "doc_id",
      "CAST(NULL AS ARRAY<BIGINT>) AS hs", "CAST(NULL AS BIGINT) AS n_sh",
      "cluster_id", "quality", "rep_pass", "canonical", "keep", "split")
    private def keyOf(tbl: String, ids: DataFrame, c: String): DataFrame =
      ids.selectExpr(s"'$tbl' AS tbl", s"$c AS k")
  }

  /** events.parquet as a streaming source (ts: TimestampType, watermarked). */
  def eventsStream(spark: SparkSession, dir: String, watermark: String = "1 hour"): DataFrame =
    eventsStreamRaw(spark, dir).withWatermark("ts", watermark)

  /** A3 PageView as a stream: tumbling 1 h count of views, append mode.
    * The source is already watermarked — compose with the plain window op
    * (a second withWatermark is disallowed on one stream). */
  def pageViewsStream(spark: SparkSession, dir: String): DataFrame =
    graft.ops.WindowOps.tumblingCount(
      eventsStream(spark, dir).filter(col("event_type") === "view").select("ts"),
      col("ts"), "1 hour")

  /** A1+T1 HotItems as a stream: windowed counts maintained incrementally;
    * rank evaluated per micro-batch in foreachBatch (SURVEY §2.6 — ranking
    * is not an incrementalizable streaming agg, foreachBatch is the
    * idiomatic route). `sink` receives the ranked top-3 per window. */
  def runHotItemsTopN(spark: SparkSession, dir: String)(
      sink: DataFrame => Unit): StreamingQuery = {
    val counts = eventsStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(get_json_object(col("props"), "$.k").cast("long").as("item_id"), col("ts"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("item_id"))
      .agg(count(lit(1)).as("cnt"))
    counts.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(RankOps.topN(
          graft.ops.WindowOps.epochWindow(batch), 3,
          Seq(col("window_start")), Seq(col("cnt").desc, col("item_id").asc)))
      }
  }.start()

  /** A6 marketing channel counts as a stream (sliding 1h/15m per
    * (channel, behavior)) — same composition as the batch query. */
  def marketChannelStream(spark: SparkSession, dir: String): DataFrame =
    graft.ops.WindowOps.slidingCount(
      eventsStream(spark, dir)
        .filter(col("event_type") =!= "error")
        .select(concat(lit("ch"), (col("user_id") % 4).cast("string")).as("channel"),
          col("event_type").as("behavior"), col("ts")),
      col("ts"), "1 hour", "15 minutes", col("channel"), col("behavior"))

  /** A8 ad-province counts as a stream. */
  def adProvinceStream(spark: SparkSession, dir: String): DataFrame =
    graft.ops.WindowOps.slidingCount(
      eventsStream(spark, dir)
        .filter(col("event_type") === "click")
        .select(concat(lit("p"),
          (get_json_object(col("props"), "$.k").cast("long") % 10).cast("string"))
          .as("province"), col("ts")),
      col("ts"), "1 hour", "15 minutes", col("province"))

  /** A4/A5 UV as a stream: tumbling-day distinct viewers via the HLL
    * sketch (the streaming-safe distinct — same default the optimizer rule
    * picks for batch at scale; exact per-window distinct needs unbounded
    * state). */
  def uvStream(spark: SparkSession, dir: String): DataFrame =
    StreamOps.tumblingApproxDistinct(
      eventsStreamRaw(spark, dir).filter(col("event_type") === "view")
        .select(col("user_id"), col("ts")),
      "ts", "1 hour", "1 day", col("user_id"))

  /** The sketch-bounds gate ON THE LIVE PATH — [[uvStream]] emits the
    * HLL estimate unasserted; this twin runs `uv_approx_bounds`'s
    * 3σ-envelope verdict per event-time day INSIDE the stream, so a
    * drifting sketch alerts while it happens, not at the next batch
    * calibration. Streaming cannot run countDistinct in a windowed agg,
    * so exactness rides the standard dedup cascade: an in-watermark
    * (user, day) dropDuplicates first (a same-day duplicate is < 24 h
    * from its first sighting, inside the 1-day delay, so the dedup is
    * exact for day windows), after which a plain count IS the exact UV
    * and the HLL estimate computes over the same deduplicated rows —
    * estimate, exact, bound and verdict in ONE aggregation, the batch
    * gate's row shape ([[BehaviorQueries.uvApproxBounds]]: same
    * [[BehaviorQueries.UvApproxRsd]] sketch, same
    * `max(⌈exact·rel⌉, floor)` envelope). Windows emit on close (append
    * mode); the parity spec asserts the verdict TRUE for every emitted
    * window on the replay corpus. */
  def uvBoundsStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.BehaviorQueries.{UvApproxRsd, UvBoundsFloor, UvBoundsRel}
    eventsStreamRaw(spark, dir).filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
      // epoch-aligned day bucket — the SAME bucketing window(ts, '1 day')
      // uses downstream (date_trunc would bucket by SESSION-TIMEZONE days
      // and silently diverge from the window under any non-UTC session,
      // double-counting users whose views straddle the local midnight)
      .withColumn("day",
        col("ts").cast("long") - pmod(col("ts").cast("long"), lit(86400L)))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id"), UvApproxRsd).as("uv_est"),
        count(lit(1)).as("uv_exact"))
      .selectExpr("window.start AS window_start", "window.end AS window_end",
        "uv_exact",
        s"greatest(CAST(ceil(CAST(uv_exact AS DOUBLE) * $UvBoundsRel) AS BIGINT), ${UvBoundsFloor}L) AS bound_abs",
        s"abs(uv_est - uv_exact) <= greatest(CAST(ceil(CAST(uv_exact AS DOUBLE) * $UvBoundsRel) AS BIGINT), ${UvBoundsFloor}L) AS within")
  }

  /** User sessionization as a stream: gap-closed sessions per user —
    * sessions emit when the watermark passes last-event + gap, state
    * drops with them. Same session_window composition as the batch
    * user_sessions query. */
  def userSessionsStream(spark: SparkSession, dir: String, gap: String = "2 hours"): DataFrame =
    StreamOps.sessionCount(
      eventsStreamRaw(spark, dir).select(col("user_id"), col("ts")),
      "ts", "1 hour", gap, col("user_id"))

  /** The drift monitor as a LIVE job: reference model (centroids + the
    * reference window's per-cluster census) trained and FROZEN from the
    * batch corpus before the stream starts; arriving vectors are
    * assigned statelessly against the frozen centroids, a running
    * per-cluster count accumulates (complete-mode agg — cluster
    * cardinality = k rows of state), and every trigger emits the full
    * drift table against the frozen shares — so the ingest watch alerts
    * WHILE a skewed delivery is arriving, not after. The drained stream's
    * final table equals the batch kmeans_drift rows exactly (parity
    * spec); integer ppm arithmetic matches the batch query's `div`. */
  def runKmeansDrift(spark: SparkSession, dir: String)(
      sink: DataFrame => Unit): StreamingQuery = {
    val emb = Tables.embeddings(spark, dir)
    val cents = graft.ops.SimilarityOps.kmeansCentroids(
      emb.filter("vec_id % 2 = 0"), 64, 8, 3)
    val refCells = graft.ops.SimilarityOps.kmeansAssignedOf(
        emb.filter("vec_id % 2 = 0"), cents)
      .groupBy("cluster").agg(count(lit(1)).as("n_ref"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val tRef = refCells.map(_._2).sum
    val counts = graft.ops.SimilarityOps.kmeansAssignedOf(
        embeddingsStream(spark, dir).filter(col("vec_id") % 2 === 1), cents)
      .groupBy("cluster").agg(count(lit(1)).as("n_cur"))
    counts.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val cur = batch.cache()
        try {
          val tCur = cur.agg(coalesce(sum(col("n_cur")), lit(0L)))
            .collect()(0).getLong(0)
          if (tCur > 0L) {
            import ss.implicits._
            val refDf = refCells.toDF("cluster", "n_ref")
            val z = "CAST(0 AS BIGINT)"
            sink(refDf.join(cur, Seq("cluster"), "full_outer")
              .selectExpr("cluster",
                s"coalesce(n_ref, $z) AS n_ref",
                s"coalesce(n_cur, $z) AS n_cur",
                s"coalesce(n_ref, $z) * 1000000 div ${tRef}L AS ref_ppm",
                s"coalesce(n_cur, $z) * 1000000 div ${tCur}L AS cur_ppm",
                s"abs(coalesce(n_ref, $z) * 1000000 div ${tRef}L" +
                  s" - coalesce(n_cur, $z) * 1000000 div ${tCur}L) AS drift_ppm"))
          }
        } finally { cur.unpersist(); () }
      }
  }.start()

  /** k-means assignment on the live vector stream: centroids trained
    * OFFLINE on the batch corpus
    * ([[graft.ops.SimilarityOps.kmeansCentroids]]), frozen as plan
    * literals, applied statelessly per arriving vector — zero shuffles,
    * no state store, bit-identical arithmetic to the batch embed_kmeans
    * assignment (parity spec: drained stream equals the batch rows
    * exactly). The train-offline/assign-on-ingest shape of a production
    * vector-index or routing tier. */
  def kmeansAssignStream(spark: SparkSession, dir: String): DataFrame = {
    val cents = graft.ops.SimilarityOps.kmeansCentroids(
      Tables.embeddings(spark, dir), 64, 8, 3)
    graft.ops.SimilarityOps.kmeansAssignedOf(embeddingsStream(spark, dir), cents)
  }

  /** J2 TxPayMatchByJoin as Spark's NATIVE watermarked stream-stream
    * interval join (reference: TxPayMatchByJoin.java:63-67): BOTH live
    * streams carry watermarks and the join condition carries an
    * event-time band, so the state store evicts rows the moment the
    * watermark passes their band — state stays bounded by band width ×
    * arrival rate regardless of stream length, the property that keeps a
    * reconciliation join alive at production scale. This is the
    * engine-native complement to [[graft.streaming.Detectors.reconcile]]
    * (flatMapGroupsWithState), which exists for the side-output/timer
    * semantics (unmatched rows) a plain inner join cannot express.
    * Inner joins emit on match arrival — the watermark only bounds state
    * — so a drained replay reproduces the batch
    * [[DetectQueries.txMatch]] row set exactly (parity spec). */
  def txMatchStream(spark: SparkSession, dir: String,
                    bandSec: Long = 1800L): DataFrame = {
    val pays = eventsStreamRaw(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("pay_id"), col("user_id"),
        col("ts").as("pay_ts"))
      .withWatermark("pay_ts", s"$bandSec seconds")
    val receipts = eventsStreamRaw(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("receipt_id"), col("user_id").as("r_user"),
        col("ts").as("receipt_ts"))
      .withWatermark("receipt_ts", s"$bandSec seconds")
    pays.join(receipts, expr(
        s"user_id = r_user AND " +
          s"receipt_ts >= pay_ts - INTERVAL $bandSec SECONDS AND " +
          s"receipt_ts <= pay_ts + INTERVAL $bandSec SECONDS"))
      .select(col("pay_id"), col("receipt_id"), col("user_id"),
        col("pay_ts").cast("long").as("pay_sec"),
        col("receipt_ts").cast("long").as("receipt_sec"))
  }

  /** Stream-static enrichment: the live event stream joined to the static
    * customer dimension (broadcast per micro-batch — no state store). */
  def enrichedStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
        col("c_custkey") === col("user_id") + 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment").as("segment"))

  /** Hourly volume anomalies as a live monitor: type-keyed hourly counts
    * close when the watermark passes the hour, each emitted with its
    * trailing-window comparison — the streaming twin of the batch
    * volume_anomalies query (Detectors.volumeAnomaly). */
  def volumeAnomalyStream(spark: SparkSession, dir: String): Dataset[Detectors.HourStat] = {
    import spark.implicits._
    val keyed = eventsStream(spark, dir, watermark = "1 hour")
      .select(col("event_type").as("key"), col("ts").cast("long").as("sec"),
        col("ts"))
      .as[Detectors.TypeEvent]
    Detectors.volumeAnomaly(keyed, trailRows = 24, minTrail = 12,
      factor = 2L, streaming = true)
  }

  /** Funnel progression as a live monitor: per-user view→click→purchase
    * step rows re-emitted as the watermark finalizes each advance — the
    * streaming twin of the batch funnel_steps query (Detectors.funnel; the
    * last row per user equals the batch row). */
  def funnelStream(spark: SparkSession, dir: String): Dataset[Detectors.FunnelRow] = {
    import spark.implicits._
    val keyed = eventsStream(spark, dir, watermark = "1 hour")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").as("key"),
        expr("CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END")
          .as("step"),
        col("ts").cast("long").as("sec"), col("event_id").as("id"), col("ts"))
      .as[Detectors.StepEvent]
    Detectors.funnel(keyed, streaming = true)
  }

  /** Event-type transition increments as a stream: one (user, from, to)
    * row per finalized consecutive pair; the live transition matrix is
    * `groupBy(from_type, to_type).count()` over this append stream
    * (Detectors.transitionIncrements — the streaming twin of
    * event_transitions). */
  def transitionStream(spark: SparkSession, dir: String): Dataset[Detectors.TransInc] = {
    import spark.implicits._
    val keyed = eventsStream(spark, dir, watermark = "1 hour")
      .select(col("user_id").as("key"), col("event_type").as("etype"),
        col("ts").cast("long").as("sec"), col("event_id").as("id"), col("ts"))
      .as[Detectors.SeqTypeEvent]
    Detectors.transitionIncrements(keyed, streaming = true)
  }

  /** Retention cohort cells as a stream: each (user, cohort_week,
    * week_offset) emitted once when finalized; the cohort triangle is
    * `groupBy(cohort_week, week_offset).count()` over this append stream
    * (Detectors.retentionCells — the streaming twin of retention_cohorts). */
  def retentionStream(spark: SparkSession, dir: String): Dataset[Detectors.RetentionCell] = {
    import spark.implicits._
    val keyed = eventsStream(spark, dir, watermark = "1 hour")
      .select(col("user_id").as("key"), col("ts").cast("long").as("sec"),
        col("ts"))
      .as[Detectors.WeekEvent]
    Detectors.retentionCells(keyed, streaming = true)
  }

  /** Market-basket pair increments as a stream: one row per new
    * (user × unordered item pair); pair counts are a plain aggregation over
    * the stream (Detectors.itemPairIncrements — the streaming twin of
    * item_pairs' pre-ranking counts; ranking stays per micro-batch or
    * downstream, as with hot items). */
  def itemPairsStream(spark: SparkSession, dir: String,
                      maxItemsPerUser: Long = 2000L): Dataset[Detectors.PairInc] = {
    import spark.implicits._
    val keyed = eventsStream(spark, dir)
      .select(col("user_id").as("key"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull)
      .as[Detectors.ItemEvent]
    Detectors.itemPairIncrements(keyed, maxItemsPerUser, streaming = true)
  }

  /** Key-skew profile as a live monitor: running per-key counts (update
    * stateful agg), profiled per micro-batch in foreachBatch — same
    * top-k + ppm math as the batch skew_profile query. `sink` receives
    * the 10-row profile each trigger; the final one equals the batch
    * query on the same data. */
  def runSkewProfile(spark: SparkSession, dir: String)(
      sink: DataFrame => Unit): StreamingQuery = {
    val counts = eventsStream(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    counts.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val freq = batch.cache()
        val totals = freq.agg(sum(col("cnt")).as("total_rows"),
          count(lit(1)).as("n_keys"))
        sink(freq.orderBy(col("cnt").desc, col("user_id").asc).limit(10)
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(
              col("cnt").desc, col("user_id").asc)).cast("long"))
          .crossJoin(broadcast(totals))
          .selectExpr("user_id", "cnt", "rn", "total_rows", "n_keys",
            "cnt * 1000000L div total_rows AS share_ppm"))
        freq.unpersist()
        ()
      }
  }.start()

  /** C2/C3 login-fail alarms as a stream: error events through the
    * consecutive-run detector. */
  def loginFailAlarms(spark: SparkSession, dir: String, n: Int,
                      withinSec: Long): Dataset[Detectors.RunMatch] = {
    import spark.implicits._
    // keep the watermarked ts column in the frame — a typed map would
    // project it away and EventTimeTimeout needs it visible; as[KeyedEvent]
    // binds by name and carries the extra column along
    val keyed = eventsStream(spark, dir, watermark = "1 hour")
      .select(col("user_id").as("key"), col("ts").cast("long").as("tsSec"),
        col("event_id").as("id"), (col("event_type") === "error").as("hit"), col("ts"))
      .as[KeyedEvent]
    Detectors.consecutive(keyed, n, withinSec, streaming = true)
  }
}
