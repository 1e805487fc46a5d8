package graft.queries

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.ops.{ClusterOps, DedupOps}
import graft.sources.Tables

/**
 * Persisted BASE cluster state — the setup stage that makes incremental
 * maintenance's cost claim measurable. [[PipelineQueries.dedupClustersDelta]]
 * proves the ALGEBRA (quotient contraction reproduces the from-scratch
 * assignment) but its self-contained contract recomputes the base
 * assignment in-query, so its wall time shows base-recompute cost, not the
 * delivery-sized cost the method exists to deliver. This object plays the
 * "previous run" of a production pipeline: it resolves the BASE split of
 * the corpus once (star contraction), writes the assignment and the
 * signature index to parquet under the build directory, and hands the
 * paths to [[PipelineQueries.dedupClustersPersist]], whose timed work is
 * then exactly a delivery fold against persisted state — the shape a
 * 100 TB deployment runs per delivery.
 *
 * State is keyed by the data directory plus a (size, mtime) fingerprint of
 * `documents.parquet` and `embeddings.parquet`, so a regenerated corpus
 * can never be served stale state. Each artifact is one directory under
 * the root's `artifacts/`, built into a tmp sibling and published by one
 * atomic rename ([[graft.io.PublishOnce]]): a published directory is
 * complete by construction, a crashed or losing build leaves only an
 * inert `.tmp-*` sibling, and a deleted artifact is rebuilt on next use.
 * The write lands under `target/` (the build dir, relative to the process
 * cwd like every bench artifact) — never in the read-only data
 * directories.
 */
object ClusterState {

  /** Delivery modulus shared by [[PipelineQueries.dedupClustersPersist]]'s
    * split filter, its [[baseStatePaths]] call, and [[graft.Bench]]'s
    * untimed state prime. One constant on purpose: if these drifted apart
    * the prime would silently stop covering the query and the one-time
    * base resolution would land inside timed rep 0 — exactly the
    * distortion the prime exists to prevent, with no error raised. */
  val PersistDeliveryMod = 50

  /** MinHash band geometry (permutations, rows per band, verify threshold)
    * shared by the state WRITERS here and the probe side of
    * [[PipelineQueries.dedupClustersPersist]]. One set of constants for
    * the same reason as [[PersistDeliveryMod]]: a stored banded index and
    * a probe deriving band keys at a different geometry would join
    * nothing (or garbage) with no runtime error — only the downstream
    * oracle hash could catch it. The geometry is also encoded in the
    * state directory names, so a tuned geometry can never silently read
    * an index fitted at the old one. */
  val BandPerms = 16
  val BandRows = 4
  val BandThreshold = 0.5

  /** PQ geometry (subspaces × dims-per-subspace) shared by every PQ
    * state writer here and the explicit read schemas
    * ([[IndexState.readPqCellCodes]]): a reader pinning a different
    * code_m column count than the writer encoded would get
    * silently-null columns from the explicit-schema read, with only
    * the downstream oracle hash to catch it. */
  val PqNSub = 8
  val PqSubDim = 8

  private[queries] def stateRoot(dir: String): File = {
    // BOTH corpora fingerprint the root: the dense store
    // ([[IndexState.denseStorePaths]]) derives from embeddings.parquet,
    // so an embeddings regeneration without a documents change must
    // invalidate state too — keying on documents alone would silently
    // serve a stale quantized store to hybrid_rrf_persist (r11 advice)
    val docs = new File(dir, "documents.parquet")
    val emb = new File(dir, "embeddings.parquet")
    val fp = s"${docs.length()}_${docs.lastModified()}" +
      s"_e${emb.length()}_${emb.lastModified()}"
    new File(s"target/graft-state/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_$fp")
  }

  /** Absolute path of the artifact `name` of `dir`'s state, which `build`
    * writes on first use into the path it is handed. Identity (geometry,
    * layout) belongs in `name`: a published name is served as it is
    * until it is deleted. */
  private[queries] def artifact(dir: String, name: String)(build: String => Unit): String =
    graft.io.PublishOnce(new File(stateRoot(dir), s"artifacts/$name"))(
      tmp => build(tmp.getAbsolutePath)).getAbsolutePath

  /** Absolute parquet paths of (full-corpus assignment, full near-dup pair
    * list) for `dir` — the state a production pipeline persists next to
    * its resolution, and exactly what [[ClusterOps.removeFromClusters]]
    * consumes. Computing and persisting happen on first use;
    * [[PipelineQueries.dedupClustersTakedownPersist]] then pays only
    * takedown-batch-sized work per timed run. */
  def fullStatePaths(spark: SparkSession, dir: String): (String, String) = {
    val p = artifact(dir, s"full_p${BandPerms}r$BandRows") { tmp =>
      val docs = Tables.documents(spark, dir)
      val pairs = DedupOps.minhashPairs(
        DedupOps.allShingles(docs, "text", 3),
        BandPerms, BandRows, BandThreshold).localCheckpoint()
      val cc = ClusterOps.connectedComponentsStar(pairs, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      PipelineQueries.attachSingletons(docs, cc).write.parquet(s"$tmp/assign")
      pairs.select("doc_a", "doc_b").write.parquet(s"$tmp/pairs")
    }
    (s"$p/assign", s"$p/pairs")
  }

  /** Absolute parquet paths of (base assignment, base signature-set index,
    * base BANDED index) for `dir`'s base split (doc_id % `mod` != 0; the
    * complementary doc_id % `mod` = 0 slice is the delivery), computing and
    * persisting them on first use. `mod` sizes the delivery relative to the
    * corpus: the dedup_clusters_delta family's self-contained split uses 5
    * (20% delivery), while dedup_clusters_persist uses
    * [[PersistDeliveryMod]] (2% — a realistic per-delivery fraction for a
    * long-lived corpus, making the delivery-sized cost claim visible in
    * the bench). The banded index ([[DedupOps.bandKeysOfSets]], band_key →
    * doc_id) is persisted ALONGSIDE the raw sets: deriving it from the
    * sets at probe time costs O(corpus × shingles × perms) signature math
    * per delivery — the r8 gate artifact priced that tax at the full
    * from-scratch resolution (persist 2.339 s vs dedup_clusters 2.341 s),
    * defeating the row's purpose. */
  def baseStatePaths(spark: SparkSession, dir: String,
                     mod: Int = 5): (String, String, String) = {
    // geometry in the name: state fitted at (perms, rows) can never be
    // served to a probe tuned to a different geometry
    val p = artifact(dir, s"base_m${mod}_p${BandPerms}r$BandRows") { tmp =>
      val base = Tables.documents(spark, dir)
        .filter(org.apache.spark.sql.functions.expr(s"doc_id % $mod != 0"))
      val bSets = DedupOps.setsOfShingles(
        DedupOps.allShingles(base, "text", 3)).localCheckpoint()
      val basePairs = DedupOps.minhashPairsOfSets(
        bSets, BandPerms, BandRows, BandThreshold)
      val baseCc = ClusterOps.connectedComponentsStar(basePairs, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      PipelineQueries.attachSingletons(base, baseCc).write.parquet(s"$tmp/assign")
      bSets.write.parquet(s"$tmp/sets")
      DedupOps.bandKeysOfSets(bSets, BandPerms, BandRows).write.parquet(s"$tmp/bands")
    }
    (s"$p/assign", s"$p/sets", s"$p/bands")
  }
}

/**
 * Persisted BM25 inverted index for the BASE split — the lexical
 * engine's analogue of [[ClusterState]]: [[PipelineQueries.bm25TopK]]
 * proves the ranking but rebuilds the index per run, so its wall time is
 * index-build cost, not the query-time cost a deployed engine pays.
 * This object plays the previous indexing run: postings (doc, term, tf),
 * document lengths and document frequencies of the base split
 * (doc_id % [[ClusterState.PersistDeliveryMod]] != 0) land in parquet
 * once; [[PipelineQueries.bm25TopKPersist]]'s timed work is then the
 * delivery-sized tokenize plus the index fold. Same publish contract as
 * ClusterState: fingerprint-keyed root, one atomically published
 * directory per artifact, its name carrying the delivery modulus.
 */
object IndexState {

  import ClusterState.artifact

  /** Absolute parquet paths of (postings, dl, df) for `dir`'s base
    * split, computed and persisted on first use. */
  def bm25BasePaths(spark: SparkSession, dir: String,
                    mod: Int = ClusterState.PersistDeliveryMod)
      : (String, String, String) =
    bm25Index(dir, s"bm25_m$mod")(PipelineQueries.bm25Postings(
      Tables.documents(spark, dir)
        .filter(org.apache.spark.sql.functions.expr(s"doc_id % $mod != 0"))))

  /** Absolute parquet paths of (postings, dl, df) for the FULL corpus —
    * the deployed index [[PipelineQueries.bm25TopKTakedown]] subtracts a
    * takedown batch from (the lexical analogue of
    * [[ClusterState.fullStatePaths]]: deliveries fold INTO the base
    * index, takedowns fold OUT of the full one). */
  def bm25FullPaths(spark: SparkSession, dir: String)
      : (String, String, String) =
    bm25Index(dir, "bm25_full")(PipelineQueries.bm25Postings(Tables.documents(spark, dir)))

  /** (postings, dl, df) paths of the BM25 index artifact `name`, built
    * from the postings `tfq` (evaluated only when the artifact is built). */
  private def bm25Index(dir: String, name: String)(
      tfq: => org.apache.spark.sql.DataFrame): (String, String, String) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val p = artifact(dir, name) { tmp =>
      val postings = tfq
      postings.write.parquet(s"$tmp/postings")
      postings.groupBy("doc_id").agg(sum(col("tf")).as("dl")).write.parquet(s"$tmp/dl")
      postings.groupBy("term").agg(count(lit(1)).as("df")).write.parquet(s"$tmp/df")
    }
    (s"$p/postings", s"$p/dl", s"$p/df")
  }

  /** Absolute parquet paths of (priors, dense model) for the trained NB
    * classifier — the frozen artifact
    * [[PipelineQueries.nbClassifyPersist]] scores against (train
    * offline, classify at ingest), computed and persisted on first
    * use. Bucket count in the names: a model fitted at one feature
    * geometry can never be served to a scorer hashing at another. */
  def nbModelPaths(spark: SparkSession, dir: String,
                   buckets: Int = PipelineQueries.NbBuckets)
      : (String, String) = {
    val p = artifact(dir, s"nb_b$buckets") { tmp =>
      val counts = PipelineQueries.nbCounts(spark, dir, buckets)
      val priors = PipelineQueries.nbPriorsFrom(spark, dir, counts)
        .localCheckpoint()
      priors.write.parquet(s"$tmp/priors")
      PipelineQueries.nbModelFrom(counts, priors, buckets).write.parquet(s"$tmp/model")
    }
    (s"$p/priors", s"$p/model")
  }

  /** Absolute parquet path of the BASE split's quantized vector store —
    * (vec_id, qvec, norm2), [[graft.ops.SimilarityOps.quantStore]]'s
    * serving form for vec_id % `mod` != 0 — the dense artifact
    * [[PipelineQueries.hybridRrfPersist]] folds a delivery into. The
    * quantization is per-row deterministic, so store + delivery-encode
    * reproduce a from-scratch encode bit-exactly. Same staleness
    * contract as the rest of the state family (fingerprint-keyed root;
    * the test corpora regenerate documents and embeddings together, so
    * the documents fingerprint covers both). */
  def denseStorePaths(spark: SparkSession, dir: String,
                      mod: Int = ClusterState.PersistDeliveryMod): String =
    artifact(dir, s"dense_store_m$mod") { tmp =>
      val base = Tables.embeddings(spark, dir)
        .filter(org.apache.spark.sql.functions.expr(s"vec_id % $mod != 0"))
      graft.ops.SimilarityOps.quantStore(base).write.parquet(tmp)
    }

  /** Absolute parquet path of the BASE split's PQ CODES table —
    * (vec_id, code_0..code_7), [[graft.ops.SimilarityOps.pqEncode]]
    * against the codebook fitted on the FULL corpus (the train job's
    * model, memo-shared with the pq_topk family) — the 16×-narrower
    * serving artifact [[PipelineQueries.hybridRrfPq]] probes: ADC reads
    * stored codes, so a serve never re-runs the per-row distance folds
    * over the store. Geometry in the name (8×8) for the usual reason: a
    * codes table encoded at one geometry can never be probed by a
    * ranker fitted at another. */
  def pqCodesPaths(spark: SparkSession, dir: String,
                   mod: Int = ClusterState.PersistDeliveryMod): String = {
    val geo = s"${ClusterState.PqNSub}x${ClusterState.PqSubDim}"
    artifact(dir, s"pq_codes_${geo}_m$mod") { tmp =>
      val emb = Tables.embeddings(spark, dir)
      val base = emb
        .filter(org.apache.spark.sql.functions.expr(s"vec_id % $mod != 0"))
      graft.ops.SimilarityOps.pqEncode(
          graft.ops.SimilarityOps.quantStore(base),
          ClusterState.PqNSub, ClusterState.PqSubDim,
          fitOn = graft.ops.SimilarityOps.quantStore(emb))
        .write.parquet(tmp)
    }
  }

  /** Absolute parquet path of the IMPACT-ORDERED PRUNED postings — the
    * lexical query-load scale path (static index pruning, Carmel et al.
    * 2001 / the impact-ordered-list family): the per-posting BM25
    * micro-score is a pure function of index-time quantities
    * (tf, df, dl, N, Σdl), so it is precomputed and each term keeps only
    * its top-`m` postings by (s_micro DESC, doc_id ASC). A query's
    * candidate set is then bounded by |query terms| × m — independent of
    * corpus size — where the exact serve's candidates are all postings
    * of its terms (O(corpus) for common terms; the measured serve_qload
    * growth). The trade is recall against the exact ranking, priced by
    * the oracle-backed `lex_recall` gate. */
  def bm25ImpactPaths(spark: SparkSession, dir: String,
                      m: Int = 64): String =
    artifact(dir, s"bm25_impact_m$m") { tmp =>
      import org.apache.spark.sql.functions.{col, count, lit, row_number, sum}
      val (postingsP, dlP, dfP) = bm25FullPaths(spark, dir)
      val tfq = spark.read.parquet(postingsP)
      val dl = spark.read.parquet(dlP)
      val dft = spark.read.parquet(dfP)
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      tfq.join(dft, "term").join(dl, "doc_id")
        .crossJoin(org.apache.spark.sql.functions.broadcast(stats))
        .selectExpr("term", "doc_id",
          s"${PipelineQueries.bm25MicroTerm} AS s_micro")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
            .orderBy(col("s_micro").desc, col("doc_id").asc)))
        .filter(col("rn") <= m)
        .select("term", "doc_id", "s_micro")
        .write.parquet(tmp)
    }

  /** Absolute parquet path of the IMPACT-RANKED full postings — every
    * (term, doc_id, s_micro) with its per-term impact rank `rn`
    * ((s_micro DESC, doc_id ASC)-ordered) and the CORPUS-SCALED base depth
    * `d0` ([[PipelineQueries.certD0Sql]], a build-time constant column), written PARTITIONED by the
    * geometric level bucket `lvl` ([[PipelineQueries.certLvlSql]]:
    * rank ranges (0, d0], (d0, 4·d0], (4·d0, 16·d0], (16·d0, ∞) — the
    * [[PipelineQueries.CertLevels]] ladder scaled to the corpus so the
    * zero-tail df/n_docs threshold — the certificate's real invariant —
    * survives growth). One store serves every
    * depth of the exactness-certified serve
    * ([[PipelineQueries.bm25TopKCertified]]): the level-i champion
    * lists are `lvl ≤ i` — a PURE partition filter, unneeded deeper
    * level directories prune at PLAN time (the bm25_downfold_probe
    * discipline) — and the level-i pruned-tail upper bounds are the
    * boundary rows `rn = d0·mult(i) + 1` in bucket i+1 (the max over
    * each term's pruned tail, because the lists are impact-ordered;
    * terms whose whole list fits in level i have no boundary row —
    * tail 0). */
  def bm25ImpactRankedPaths(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // the LADDER is part of the layout identity: a store bucketed at
    // one set of level boundaries must never serve a ladder with
    // another — a deeper new level would look for its boundary tail
    // rows in a bucket the old layout never split out, read tail 0,
    // and certify UNSOUNDLY. Same convention as the PQ geometry names.
    // The df-aware scheme (CertFrac) is part of that identity too.
    val tag = s"nd${PipelineQueries.CertFrac}_" +
      PipelineQueries.CertLevels.mkString("_")
    artifact(dir, s"bm25_impact_ranked_$tag") { tmp =>
      val (postingsP, dlP, dfP) = bm25FullPaths(spark, dir)
      val tfq = spark.read.parquet(postingsP)
      val dl = spark.read.parquet(dlP)
      val dft = spark.read.parquet(dfP)
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      PipelineQueries.bm25ImpactRanked(tfq, dl, dft, stats)
        .repartition(col("lvl"))
        .write.partitionBy("lvl").parquet(tmp)
    }
  }

  /** Absolute parquet path of the CELL-PARTITIONED full-corpus PQ codes
    * — the IVF-PQ serving store ([[PipelineQueries.pqTopKIvf]]): codes
    * encoded against the full-corpus fit, each carrying its L2-nearest
    * coarse cell ([[graft.ops.SimilarityOps.ivfCellOf]]), written
    * `partitionBy(cell)` with one file per cell (repartition first) so a
    * query's probed-cell set — a bounded literal — prunes unprobed cell
    * directories at PLAN time. Geometry (8×8 PQ, `nCells`) in the
    * artifact name: codes from one fit can never serve another. */
  def pqCellCodesPaths(spark: SparkSession, dir: String,
                       nCells: Int = 16): String = {
    import org.apache.spark.sql.functions.col
    val geo = s"${ClusterState.PqNSub}x${ClusterState.PqSubDim}"
    artifact(dir, s"pq_cell_codes_${geo}_c$nCells") { tmp =>
      val store = graft.ops.SimilarityOps.quantStore(
        Tables.embeddings(spark, dir))
      graft.ops.SimilarityOps.pqEncode(store,
          ClusterState.PqNSub, ClusterState.PqSubDim, fitOn = store)
        .join(graft.ops.SimilarityOps.ivfCellOf(store, nCells), "vec_id")
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(tmp)
    }
  }

  /** The cell-codes store read back with `cell` PINNED to LongType via
    * an explicit user schema. `partitionBy("cell")` stores the value in
    * directory names, and read-back partition-column type INFERENCE
    * yields IntegerType while the probe side
    * ([[graft.ops.SimilarityOps.ivfCellOf]]) produces Long — without
    * the pin, the isin pruning filter and the join key only line up
    * because Spark's UnwrapCastInBinaryComparison happens to unwrap the
    * implicit cast (version-fragile). A user schema makes the partition
    * column NATIVELY long (no cast in the plan at all), so the
    * PartitionFilters pruning PlanShapeSpec asserts is unconditional. All
    * serving-path consumers read through this. */
  def readPqCellCodes(spark: SparkSession, dir: String,
                      nCells: Int = 16): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(
      StructField("vec_id", LongType) +:
        (0 until ClusterState.PqNSub)
          .map(m => StructField(s"code_$m", LongType)) :+
        StructField("cell", LongType))
    spark.read.schema(schema)
      .parquet(pqCellCodesPaths(spark, dir, nCells))
  }

  /** Absolute parquet path of the BRUTE-fusion audit baseline — the
    * [[PipelineQueries.hybridRrf]] fused top-`kTop` (q_id, doc_id)
    * pairs, persisted once per corpus fingerprint (the r12 verdict's
    * one remaining widest-plan note: `rrf_overlap_pq` re-ran BOTH
    * fusion stacks per audit). With the baseline stored,
    * [[PipelineQueries.rrfOverlapPqPersist]] prices the PQ-served
    * fusion with one join against an nQ×kTop frame — the brute stack
    * runs only here, once per corpus. Geometry in the artifact name for
    * the usual reason (a baseline fused at one (nQ, kIn, kTop) can
    * never audit a stack serving another); the fingerprint-keyed root
    * re-derives it whenever documents OR embeddings regenerate. */
  def rrfBruteFusedPaths(spark: SparkSession, dir: String, nQ: Int = 8,
                         kIn: Int = 20, kTop: Int = 5): String =
    artifact(dir, s"rrf_brute_fused_q${nQ}_k${kIn}_t$kTop") { tmp =>
      PipelineQueries.hybridRrf(spark, dir, nQ, kIn, kTop)
        .select("q_id", "doc_id").write.parquet(tmp)
    }

  /** Key-hash bucket count for the partitioned FORWARD index
    * ([[bm25ForwardPaths]]): a deploy knob sized so one bucket holds a
    * point-lookup-friendly slice (here ~1k postings rows at sf0.1; a
    * plant sizes buckets ∝ corpus so the pruned probe cost stays
    * delivery-proportional as the corpus grows). */
  val ForwardBuckets: Int = 256

  /** Absolute parquet path of the full corpus' FORWARD index — the
    * doc-keyed postings table written PARTITIONED by a stable key-hash
    * bucket (`_kb = pmod(hash(doc_id), ForwardBuckets)`), the store a
    * real engine point-reads for deletes: a takedown-sized probe filters
    * on its ids' buckets and the scan PRUNES to those partition
    * directories at PLAN time (`PartitionFilters` in the plan — the
    * PushedFilters discipline applied to the store, r13 verdict item
    * #4). The inverted consumers ([[bm25FullPaths]]) keep their own
    * layout; this is the removal side's access path. One file per
    * bucket: the writer repartitions by `_kb` before partitionBy, so
    * the file count is `buckets`, not `buckets × tasks`. */
  def bm25ForwardPaths(spark: SparkSession, dir: String,
                       buckets: Int = ForwardBuckets): String =
    artifact(dir, s"bm25_forward_b$buckets") { tmp =>
      import org.apache.spark.sql.functions.{col, hash, lit, pmod}
      PipelineQueries.bm25Postings(Tables.documents(spark, dir))
        .withColumn("_kb", pmod(hash(col("doc_id")), lit(buckets)))
        .repartition(col("_kb"))
        .write.partitionBy("_kb").parquet(tmp)
    }

  /** Absolute parquet path of the TRAIN split's distinct shingle-hash
    * set — the decontamination index
    * [[PipelineQueries.contaminationPersist]] probes (the eval suite is
    * fixed; every delivery checks against it), computed and persisted on
    * first use. */
  def contamIndexPaths(spark: SparkSession, dir: String): String =
    artifact(dir, "contam_train_sh3") { tmp =>
      val train = Tables.documents(spark, dir)
        .selectExpr("doc_id", "text",
          s"${PipelineQueries.splitCase} AS split")
        .filter(org.apache.spark.sql.functions.col("split") === "train")
      DedupOps.shingleHashes(train, "text", 3)
        .select("h").distinct().write.parquet(tmp)
    }

  /** Eval-suite shingle-hash index for contamination_delivery — the
    * ROLE-CORRECT store of the deployed decontamination shape: the
    * benchmark/eval suite is FIXED (test-split docs under `evalCap`, a
    * corpus-independent set), its distinct shingle hashes are built once
    * and broadcast at every probe; the TRAIN-side corpus — the store
    * that grows to 100 TB — is never scanned at probe time. (The
    * [[contamIndexPaths]] direction, train-index-probed-by-test, is the
    * whole-corpus AUDIT semantics; its cost is ∝ corpus by definition.) */
  def contamEvalIndexPaths(spark: SparkSession, dir: String,
                           evalCap: Long = 500L): String =
    artifact(dir, s"contam_eval_sh3_c$evalCap") { tmp =>
      import org.apache.spark.sql.functions.col
      val eval = Tables.documents(spark, dir)
        .filter(col("doc_id") < evalCap)
        .selectExpr("doc_id", "text",
          s"${PipelineQueries.splitCase} AS split")
        .filter(col("split") === "test")
      DedupOps.shingleHashes(eval, "text", 3)
        .select("h").distinct().coalesce(1).write.parquet(tmp)
    }
}
