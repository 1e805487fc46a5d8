package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`, fixed dim).
 *
 * Cosine is computed over 1e7-quantized integer components: both engines
 * round the identical double `v * 1e7` with the identical half-away rule,
 * so dot products and norms are exact BIGINT sums (dim 64 × |q|≈5e6 →
 * < 2^53) and the final `dot / (sqrt(na)·sqrt(nb))` is bit-deterministic —
 * results hash-match the DuckDB oracle exactly.
 *
 * Plan shape: each vector is quantized ONCE into an `array<bigint>` column
 * (`qvec`), and all pairwise scoring uses the native `ldot` expression
 * (graft.functions.LongDot — a primitive loop, no per-element lambda
 * interpretation and no re-rounding per pair). Brute force broadcasts the
 * small query set against a corpus scan (zero corpus shuffle); the LSH
 * variants hash vectors into sign-pattern buckets via `ldot` against
 * literal hyperplane weights and only score collisions — the recall/cost
 * trade that holds at large N.
 */
object SimilarityOps {

  /** Quantized `array<bigint>` form of the embedding, computed per row. */
  val qvecExpr: String =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000.0D) AS BIGINT))"

  private def registered(emb: DataFrame): DataFrame = {
    graft.functions.QuantizedDot.register(emb.sparkSession)
    emb
  }

  /** (vec_id, qvec, norm2) — the scored corpus representation, public as
    * the SERVING form a vector store persists: the quantization is
    * per-row deterministic, so vectors ingested offline
    * ([[graft.queries.IndexState.denseStorePaths]]) and vectors encoded
    * at delivery time land in the identical representation and any
    * ranking over their union is bit-equal to a from-scratch encode. */
  def quantStore(emb: DataFrame): DataFrame =
    registered(emb)
      .selectExpr("vec_id", s"$qvecExpr AS qvec")
      .selectExpr("vec_id", "qvec", "ldot(qvec, qvec) AS norm2")

  private def quantVecs(emb: DataFrame): DataFrame = quantStore(emb)

  /** The scoring+rank stage shared by [[cosineTopK]] and
    * [[cosineTopKOfVecs]] — one body, so the from-scratch and
    * prepared-store rankings cannot drift. `qs` carries (q_id, qq, nq). */
  private def cosineRank(vecs: DataFrame, qs: DataFrame, k: Int): DataFrame =
    vecs.selectExpr("vec_id AS c_id", "qvec AS qc", "norm2 AS nc")
      .crossJoin(broadcast(qs))
      .filter(col("q_id") =!= col("c_id"))
      .selectExpr("q_id", "c_id", "nq", "nc", "ldot(qq, qc) AS dot")
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cos", "rn")

  /** Brute-force cosine top-k of `emb` for the query vectors `queryPred`
    * selects. Output: q_id, c_id, cos, rn. */
  def cosineTopK(emb: DataFrame, dim: Int, queryPred: String, k: Int): DataFrame = {
    val vecs = quantVecs(emb)
    // query side: quantize the FILTERED rows — queryPred pushes into the
    // query-side scan (PushedFilters, a pruned read at scale) instead of
    // semi-joining the whole quantized corpus against the matching id set.
    // Per-row quantization commutes with the filter, so rows are identical.
    val qs = quantVecs(emb.filter(expr(queryPred)))
      .selectExpr("vec_id AS q_id", "qvec AS qq", "norm2 AS nq")
    cosineRank(vecs, qs, k)
  }

  /** Brute cosine top-k over an ALREADY-PREPARED (vec_id, qvec, norm2)
    * frame — the serving-path twin of [[cosineTopK]] for a persisted
    * store folded with a delivery. `queryPred` must reference only the
    * store columns (vec_id in practice). */
  def cosineTopKOfVecs(vecs: DataFrame, queryPred: String, k: Int): DataFrame = {
    graft.functions.QuantizedDot.register(vecs.sparkSession)
    val qs = vecs.filter(expr(queryPred))
      .selectExpr("vec_id AS q_id", "qvec AS qq", "norm2 AS nq")
    cosineRank(vecs, qs, k)
  }

  /** Deterministic hyperplane weights for (plane j ∈ [0,nPlanes), dim
    * d ∈ [1,dim]): integer in [-1000, 1000] derived from md5(s"{j}_{d}") —
    * computed here once and inlined as plan literals; the DuckDB oracle
    * recomputes the identical values via its own md5. */
  def planeWeights(nPlanes: Int, dim: Int): Seq[Seq[Long]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (1 to dim).map { d =>
        val hex = md.digest(s"${j}_$d".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
      }
    }
  }

  /** Per-plane signed projections as `ldot` against literal weight arrays. */
  private def planeSums(nPlanes: Int, dim: Int): Seq[String] = {
    val ws = planeWeights(nPlanes, dim)
    (0 until nPlanes).map { j =>
      s"ldot(qvec, array(${ws(j).mkString("L, ")}L)) AS s_$j"
    }
  }

  /** Sign-pattern LSH bucket per vector: one narrow pass, no shuffle. */
  def lshBuckets(emb: DataFrame, dim: Int, nPlanes: Int): DataFrame = {
    val bucket = (0 until nPlanes)
      .map(j => s"CASE WHEN s_$j >= 0 THEN shiftleft(CAST(1 AS BIGINT), $j) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    quantVecs(emb)
      .selectExpr(Seq("vec_id AS id", "qvec", "norm2") ++ planeSums(nPlanes, dim): _*)
      .selectExpr("id", "qvec", "norm2", s"$bucket AS bucket")
  }

  /** Embedding-cosine near-duplicate pairs: banded sign-LSH candidates
    * (collide on ANY band — a single wide bucket has ~p^nPlanes collision
    * probability, hopeless at moderate thresholds), verified at quantized
    * cosine ≥ threshold. Candidates carry only the id pair through the
    * self-join + distinct; vectors are broadcast-joined back for scoring. */
  def cosineDupPairs(emb: DataFrame, dim: Int, nPlanes: Int, bandSize: Int,
                     threshold: Double): DataFrame = {
    require(nPlanes % bandSize == 0)
    val bandExprs = (0 until nPlanes / bandSize).map { b =>
      val bits = (0 until bandSize)
        .map(i => s"CASE WHEN s_${b * bandSize + i} >= 0 THEN shiftleft(CAST(1 AS BIGINT), $i) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"struct(${b}L AS band, $bits AS bucket)"
    }.mkString(", ")
    val vecs = quantVecs(emb)
    val banded = vecs
      .selectExpr(Seq("vec_id AS id") ++ planeSums(nPlanes, dim): _*)
      .selectExpr("id", s"explode(array($bandExprs)) AS bb")
      .selectExpr("id", "bb.band AS band", "bb.bucket AS bucket")
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cand
      .join(broadcast(vecs.selectExpr("vec_id AS id_a", "qvec AS qa", "norm2 AS na")), "id_a")
      .join(broadcast(vecs.selectExpr("vec_id AS id_b", "qvec AS qb", "norm2 AS nb")), "id_b")
      .selectExpr("id_a", "id_b", "na", "nb", "ldot(qa, qb) AS dot")
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** IVF (inverted-file) ANN: `nCentroids` coarse centroids partition the
    * corpus into inverted lists; each query probes its `nProbe` nearest
    * lists and scores only those.
    *
    * Centroids come from an offline training job in a real deployment; the
    * first `nCentroids` corpus vectors stand in deterministically here. The
    * codebook is collected ONCE (O(nCentroids·dim) — model parameters, not
    * data) and inlined as plan literals, so list assignment is one narrow
    * codegen'd pass over the corpus: per row, `nCentroids` `ldot`s + a CASE
    * argmax — NO shuffle and NO row expansion on the corpus side (the
    * row_number alternative would shuffle corpus×nCentroids rows). Probe
    * selection explodes only the tiny query set. Ties on equal cosine go to
    * the lowest centroid id, matching the oracle's (cos DESC, cid ASC) rank.
    *
    * Output: q_id, c_id, cos, rn (≤ k rows per query — recall bounded by
    * the probed lists, the standard IVF trade). */
  def ivfTopK(emb: DataFrame, dim: Int, nCentroids: Int, nProbe: Int,
              queryPred: String, k: Int): DataFrame = {
    val vecs = quantVecs(emb)
    // the "codebook": (cid, quantized vector literal, norm2) — the shared
    // memoized collect (one fit job per plan, not one per serve)
    val centroids = collectCentroids(vecs, nCentroids)
    def cosExpr(qv: Seq[Long], n2: Long): String =
      s"CAST(ldot(qvec, array(${qv.mkString("L,")}L)) AS DOUBLE)" +
        s" / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(${n2}L AS DOUBLE)))"
    // corpus → inverted-list id, per-row argmax over literal codebook dots.
    // One scores ARRAY + array_position(.., array_max(..)): a greatest +
    // CASE-chain argmax would inline the 16 dot expressions O(n²) times
    // after projection collapse and detonate codegen. array_position takes
    // the FIRST maximum → ties go to the lowest centroid id (cids sorted).
    val ccs = centroids.map { case (_, qv, n2) => cosExpr(qv, n2) }
      .mkString("array(", ", ", ")")
    val cidArr = centroids.map(c => s"${c._1}L").mkString("array(", ", ", ")")
    val assigned = vecs
      .selectExpr("vec_id AS c_id", "qvec AS qc", "norm2 AS nc",
        s"element_at($cidArr, CAST(array_position($ccs, array_max($ccs)) AS INT)) AS bucket")
    // queries → nProbe nearest centroids (explode is over queries only)
    val centroidStructs = centroids.map { case (cid, qv, n2) =>
      s"struct(${cid}L AS cid, ${cosExpr(qv, n2)} AS cos)"
    }.mkString(", ")
    val probes = quantVecs(emb.filter(expr(queryPred)))
      .selectExpr("vec_id AS q_id", "qvec", "norm2",
        s"explode(array($centroidStructs)) AS c")
      .selectExpr("q_id", "qvec AS qq", "norm2 AS nq", "c.cid AS bucket", "c.cos AS ccos")
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("bucket").asc)))
      .filter(col("pr") <= nProbe)
      .select("q_id", "qq", "nq", "bucket")
    assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .selectExpr("q_id", "c_id", "nq", "nc", "ldot(qq, qc) AS dot")
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cos", "rn")
  }

  /** Brute-force exact quantized squared-L2 top-k — the metric-matched
    * ground truth for the PQ family ([[pqTopKRerank]] approximates exact
    * L2, not cosine, so its recall must be measured against this, not
    * [[cosineTopK]]). Same broadcast-queries/corpus-scan shape as the
    * cosine brute. Output: q_id, c_id, l2, rn. */
  def l2TopK(emb: DataFrame, dim: Int, queryPred: String, k: Int): DataFrame = {
    val vecs = quantVecs(emb)
    // pruned query-side scan, not a corpus semi-join (see cosineTopK)
    val qs = quantVecs(emb.filter(expr(queryPred)))
      .selectExpr("vec_id AS q_id", "qvec AS qq", "norm2 AS nq")
    vecs.selectExpr("vec_id AS c_id", "qvec AS qc", "norm2 AS nc")
      .crossJoin(broadcast(qs))
      .filter(col("q_id") =!= col("c_id"))
      .selectExpr("q_id", "c_id", "nq + nc - 2 * ldot(qq, qc) AS l2")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("l2").asc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "l2", "rn")
  }

  /** The per-(id, pos, v) long form of the quantized corpus — the frame
    * the SQ8 scale fit and codec audit aggregate over. */
  private def quantLong(emb: DataFrame): DataFrame =
    registered(emb).selectExpr("vec_id AS id", s"posexplode($qvecExpr) AS (pos, v)")

  /** Per-dimension symmetric int8 scale: max |v| over the corpus (floored
    * at 1 so an all-zero dimension cannot divide by zero) — `dim` rows,
    * the bounded model parameter an SQ8 index persists. */
  def sq8Scales(emb: DataFrame): DataFrame =
    quantLong(emb).groupBy("pos")
      .agg(greatest(max(abs(col("v"))), lit(1L)).as("maxabs"))

  /** SQ8 codec audit — per dimension: the fitted scale, how many codes
    * saturate at ±127, and the exact integer code sums (an
    * order-independent signature of the whole code table). The report a
    * vector-store owner reads before trusting an int8 index: a dimension
    * with mass piled at ±127 is clipping; a near-zero sum_abs dimension
    * carries no signal and is a pruning candidate. Two corpus passes
    * (scale fit, then encode) — the honest scalar-quantization shape;
    * the scale frame is dim-row bounded and broadcast back. */
  def sq8Audit(emb: DataFrame): DataFrame =
    quantLong(emb).join(broadcast(sq8Scales(emb)), "pos")
      .selectExpr("pos", "maxabs",
        "CAST(round(CAST(v AS DOUBLE) * 127.0D / CAST(maxabs AS DOUBLE)) AS BIGINT) AS code")
      .groupBy("pos")
      .agg(max(col("maxabs")).as("maxabs"),
        sum(when(abs(col("code")) === 127, 1L).otherwise(0L)).as("n_sat"),
        sum(col("code")).as("sum_code"),
        sum(abs(col("code"))).as("sum_abs_code"))
      .selectExpr("CAST(pos + 1 AS BIGINT) AS dim", "maxabs", "n_sat",
        "sum_code", "sum_abs_code")

  /** SQ8 approximate top-k: vectors encoded to int8 codes against the
    * per-dim symmetric scales, candidates ranked by code-space cosine —
    * dot and norms are EXACT integer arithmetic over the codes (`ldot`),
    * only the final cosine division is floating point (engine-stable:
    * IEEE sqrt/div of exact integers). The memory-bandwidth member of
    * the ANN family (16× smaller vectors than the raw floats, no
    * codebook training unlike PQ); same broadcast-query zero-corpus-
    * shuffle shape as [[cosineTopK]]. The dim-row scale table is
    * collected once and inlined as a plan literal (the IVF/PQ codebook
    * discipline), so encoding is one narrow codegen'd pass. */
  /** Stateless SQ8 encode of any vector frame against FROZEN per-dim
    * scales (the dim-row model parameter, inlined as a plan literal) —
    * one narrow per-row pass, no shuffle and no state, so the identical
    * plan encodes a live embedding stream (the pqCodesStreaming shape;
    * parity proven in StreamingJobsSpec). */
  def sq8CodesWith(vecs: DataFrame, scales: Seq[Long]): DataFrame = {
    val scaleLit = s"array(${scales.mkString("L, ")}L)"
    registered(vecs)
      .selectExpr("vec_id",
        s"zip_with($qvecExpr, $scaleLit, (x, m) -> " +
          "CAST(round(CAST(x AS DOUBLE) * 127.0D / CAST(m AS DOUBLE)) AS BIGINT)) AS c8")
      .selectExpr("vec_id", "c8", "ldot(c8, c8) AS n8")
  }

  /** The fitted per-dim scale vector in pos order — the bounded artifact
    * [[sq8CodesWith]] freezes. */
  def sq8ScaleArray(emb: DataFrame, dim: Int): Seq[Long] =
    memoModel(s"sq8scales|$dim", emb) {
      val scales = sq8Scales(emb).orderBy("pos").collect().map(_.getLong(1)).toSeq
      require(scales.length == dim, s"sq8: expected $dim dims, got ${scales.length}")
      scales
    }

  def sq8TopK(emb: DataFrame, dim: Int, queryPred: String, k: Int): DataFrame = {
    val scales = sq8ScaleArray(emb, dim) // model fit stays corpus-wide
    val codes = sq8CodesWith(emb, scales)
    // pruned query-side scan encoded against the same frozen scales, not
    // a corpus semi-join (see cosineTopK) — identical rows by per-row
    // determinism of the encode
    val qs = sq8CodesWith(emb.filter(expr(queryPred)), scales)
      .selectExpr("vec_id AS q_id", "c8 AS q8", "n8 AS nq")
    codes.selectExpr("vec_id AS c_id", "c8", "n8 AS nc")
      .crossJoin(broadcast(qs))
      .filter(col("q_id") =!= col("c_id"))
      .selectExpr("q_id", "c_id", "ldot(q8, c8) AS dot8", "nq", "nc")
      .withColumn("cos8", col("dot8").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos8").desc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "dot8", "cos8", "rn")
  }

  /** Per-query recall@k of an approximate index against its exact ground
    * truth: both inputs carry (q_id, c_id) top-k rows; truth rows drive
    * (an index that returns fewer than k rows — LSH/IVF under-probe —
    * still yields a row per truth query, with the misses counted).
    * Output: family, q_id, hits, k, recall. */
  def recallAtK(family: String, truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select("q_id", "c_id")
      .join(approx.select(col("q_id"), col("c_id"), lit(1).as("hit")),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"), count(col("hit")).as("hits"))
      .selectExpr(s"'$family' AS family", "q_id", "hits", "k",
        "CAST(hits AS DOUBLE) / CAST(k AS DOUBLE) AS recall")

  /** (id, qvec, norm2, cid) for any vector table: nearest-coarse-centroid
    * assignment in one narrow codegen'd pass — literal codebook dots +
    * argmax (scores ARRAY + array_position: first max → ties to the lowest
    * cid; see [[ivfTopK]] for why not a greatest/CASE chain). The codebook
    * is collected from `codebookFrom` (a BATCH table — the offline-trained
    * centroids; the first `nCentroids` of its vectors stand in
    * deterministically), so `vecs` may be batch OR streaming: the
    * assignment is stateless and serves the live ingest path unchanged. */
  def coarseAssigned(vecs: DataFrame, codebookFrom: DataFrame,
                     nCentroids: Int): DataFrame = {
    val centroids = quantVecs(codebookFrom).filter(col("vec_id") < nCentroids)
      .selectExpr("vec_id", "qvec", "norm2")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1)
    def cosExpr(qv: Seq[Long], n2: Long): String =
      s"CAST(ldot(qvec, array(${qv.mkString("L,")}L)) AS DOUBLE)" +
        s" / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(${n2}L AS DOUBLE)))"
    val ccs = centroids.map { case (_, qv, n2) => cosExpr(qv, n2) }
      .mkString("array(", ", ", ")")
    val cidArr = centroids.map(c => s"${c._1}L").mkString("array(", ", ", ")")
    quantVecs(vecs).selectExpr("vec_id AS id", "qvec", "norm2",
      s"element_at($cidArr, CAST(array_position($ccs, array_max($ccs)) AS INT)) AS cid")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup scoped
    * by coarse clustering. Every vector is assigned to its nearest coarse
    * centroid in one narrow codegen'd pass (literal codebook dots + argmax,
    * the [[ivfTopK]] list-assignment shape — no corpus shuffle, no row
    * expansion), then pairs are cosine-scored ONLY within a cluster and a
    * member is dropped when a lower-id in-cluster neighbor sits at
    * cos ≥ threshold. This is the published complement to the banded-LSH
    * pass ([[cosineDupPairs]]): instead of hash collisions bounding the
    * candidate set, the coarse partition bounds it at O(Σ m_c²) — and at
    * corpus scale k grows with n (the paper uses k ≈ 11k for 440M
    * embeddings) so per-cluster membership m_c — the self-join's shuffle
    * key cardinality — stays bounded. Centroids stand in deterministically
    * as the first `nCentroids` corpus vectors (same convention as
    * [[ivfTopK]]); a real deployment trains them offline.
    *
    * Output: one row per corpus vector — vec_id, cid, n_near (count of
    * lower-id in-cluster neighbors at cos ≥ threshold), kept. */
  def semDedup(emb: DataFrame, dim: Int, nCentroids: Int,
               threshold: Double): DataFrame =
    semDedupScoped(coarseAssigned(emb, emb, nCentroids), threshold)

  /** SemDeDup's pair-scoring half over ANY coarse partition: `assigned`
    * carries (id, qvec, norm2, cid); pairs are scored only within a cid.
    * Factored out so the partition can come from the first-N stand-in
    * codebook ([[semDedup]]) OR from a trained one ([[semDedupKmeans]]). */
  private def semDedupScoped(assigned: DataFrame,
                             threshold: Double): DataFrame = {
    val near = assigned.alias("a")
      .join(assigned.alias("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .selectExpr("b.id AS id",
        "CAST(ldot(a.qvec, b.qvec) AS DOUBLE)" +
          " / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos")
      .filter(col("cos") >= threshold)
      .groupBy("id").agg(count(lit(1)).as("n_near"))
    assigned.select("id", "cid").join(near, Seq("id"), "left")
      .selectExpr("id AS vec_id", "cid",
        "coalesce(n_near, CAST(0 AS BIGINT)) AS n_near", "n_near IS NULL AS kept")
  }

  /** SemDeDup scoped by the TRAINED clustering instead of the first-N
    * stand-in codebook: [[kmeans]] learns the coarse partition (the
    * offline training job the stand-in convention defers to), and the
    * within-cluster exhaustive pass scores pairs inside it — the
    * composition a production deployment actually runs (train codebook →
    * assign → dedup within cells). Same output contract as [[semDedup]]:
    * vec_id, cid, n_near, kept. */
  def semDedupKmeans(emb: DataFrame, dim: Int, k: Int, rounds: Int,
                     threshold: Double): DataFrame = {
    val assign = kmeans(emb, dim, k, rounds)
      .select(col("vec_id"), col("cluster").as("cid"))
    val assigned = quantVecs(emb).join(assign, "vec_id")
      .selectExpr("vec_id AS id", "qvec", "norm2", "cid")
    semDedupScoped(assigned, threshold)
  }

  /** Product quantization: split each quantized vector into `nSub`
    * subvectors of `subDim` dims; per subspace, learn ≤ 16 centroids and
    * represent every vector by its per-subspace nearest-centroid codes —
    * 64 float dims become `nSub` small ints, the standard way to hold a
    * billion-vector index in memory.
    *
    * Training is DETERMINISTIC and fully distributed (one aggregation):
    * vectors are pre-bucketed per subspace by a 4-bit sign-LSH code over
    * fixed md5-derived hyperplanes, and each non-empty bucket's centroid is
    * the component-wise floored integer mean of its members — exact BIGINT
    * arithmetic, so training reproduces bit-for-bit on any cluster size and
    * in the DuckDB oracle (k-means would converge differently per run; this
    * is one deterministic Lloyd-style assignment from a fixed init).
    * The codebook (≤ nSub × 16 × subDim ints — model parameters, not data)
    * is collected once and referenced from generated code as one object
    * ([[graft.functions.PqDists]]) — literal-expression inlining at this
    * size broke whole-stage codegen compilation (see pqCodesWith).
    */
  /** Fitted-codebook memo: training is an offline model fit, so identical
    * (input plan, hyperparams) re-fits are served from cache — a search
    * query against an already-encoded corpus shouldn't re-train. Keyed by
    * the canonicalized input plan PLUS a data fingerprint (leaf-file path,
    * length, mtime), so a different path/SF — or the SAME path rewritten
    * in-place within one JVM — trains fresh. Determinism makes a hit safe:
    * a cache hit IS the re-fit result. Bounded: model params are small,
    * but a long-lived session cycling many corpora shouldn't grow it
    * unboundedly. */
  private val codebookCacheMax = 64
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[(Long, Seq[Long])])]]()

  /** Test/ops hook: drop all memoized codebooks (e.g. after overwriting a
    * corpus in-place when mtime granularity could mask the rewrite). */
  def clearCodebookCache(): Unit = { codebookCache.clear(); modelCache.clear() }

  /** The codebook memo discipline applied to the OTHER bounded fitted
    * parameters (per-dim SQ8 scales, coarse IVF centroids): each is a
    * deterministic function of its training plan, so a hit IS the re-fit
    * result. Without the memo every serve re-runs the fit collect as a
    * separate driver job per invocation — at scale, a full corpus
    * aggregation per query batch for a dim-row constant. Keyed like the
    * PQ codebook (params + canonicalized plan + leaf-file fingerprint);
    * same staleness contract. */
  private val modelCacheMax = 256
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def memoModel[T <: AnyRef](tag: String, df: DataFrame)(fit: => T): T = {
    val key = s"$tag|${df.queryExecution.analyzed.canonicalized}|${dataFingerprint(df)}"
    val hit = modelCache.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val v = fit
    if (modelCache.size >= modelCacheMax) modelCache.clear()
    modelCache.put(key, v)
    v
  }

  /** Leaf-file identity of every file-based relation under `df`'s plan:
    * (path, length, modificationTime) per file. Non-file sources (in-memory
    * test frames) contribute nothing and fall back to plan identity only. */
  private def dataFingerprint(df: DataFrame): String =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.listFiles(Nil, Nil).flatMap(_.files)
              .map(f => s"${f.getPath}#${f.getLen}#${f.getModificationTime}")
              .sorted.mkString(",")
          case _ => ""
        }
    }.mkString(";")

  private def pqCodebook(emb: DataFrame, dim: Int, nSub: Int,
                         subDim: Int): Seq[(Int, Seq[(Long, Seq[Long])])] = {
    require(nSub * subDim == dim)
    pqCodebookQ(quantVecs(emb), nSub, subDim)
  }

  /** [[pqCodebook]] over a PRE-QUANTIZED (vec_id, qvec BIGINT array) table
    * — the entry point for vector families that are integer-exact by
    * construction (the feature-hashed chunk embeddings) rather than
    * quantized floats. Same deterministic fit, same memoization. */
  private[graft] def pqCodebookQ(vecs: DataFrame, nSub: Int,
                          subDim: Int): Seq[(Int, Seq[(Long, Seq[Long])])] = {
    val emb = vecs
    val key = s"$nSub|$subDim|${emb.queryExecution.analyzed.canonicalized}" +
      s"|${dataFingerprint(emb)}"
    val cached = codebookCache.get(key)
    if (cached != null) return cached
    // geometry guard (fit path only — memoized away afterwards): a qvec
    // whose length ≠ nSub·subDim would be silently TRUNCATED by the
    // subspace slices, so the ADC shortlist and the exact re-rank would
    // score different spaces with no error anywhere
    emb.select(size(col("qvec"))).head(1).foreach { r =>
      require(r.getInt(0) == nSub * subDim,
        s"PQ geometry mismatch: qvec has ${r.getInt(0)} dims, " +
          s"nSub*subDim = ${nSub * subDim}")
    }
    val ws = planeWeights(nSub * 4, subDim)
    val subCols = (0 until nSub).map(m => s"slice(qvec, ${m * subDim + 1}, $subDim) AS sub_$m")
    val codeExprs = (0 until nSub).map { m =>
      val bits = (0 until 4).map { i =>
        val w = ws(m * 4 + i)
        s"CASE WHEN ldot(sub_$m, array(${w.mkString("L,")}L)) >= 0 THEN ${1L << i}L ELSE 0L END"
      }.mkString(" + ")
      s"struct(${m}L AS m, $bits AS code, sub_$m AS sub)"
    }.mkString(", ")
    // long form (vec, subspace, init bucket, subvector) — cached: both the
    // init-centroid pass and the Lloyd reassignment pass aggregate over it,
    // and without the cache each pass re-runs scan+quantize+explode
    val subRows = registered(vecs)
      .selectExpr(Seq("vec_id") ++ subCols: _*)
      .selectExpr("vec_id", s"explode(array($codeExprs)) AS mc")
      .selectExpr("vec_id", "mc.m AS m", "mc.code AS code", "mc.sub AS sub")
      .cache()
    // floored integer mean per (subspace, assigned code, dim) —
    // (s - pmod(s, n)) div n floors for negative sums too, matching the
    // oracle's rounding-agnostic (s - floormod(s, n)) // n
    def centroidsFrom(assigned: DataFrame): Seq[(Int, Seq[(Long, Seq[Long])])] = {
      val sums = assigned
        .selectExpr("m", "code", "posexplode(sub) AS (d, v)")
        .groupBy("m", "code", "d")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .selectExpr("m", "code", "d", "(s - pmod(s, n)) div n AS c")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      sums.groupBy(_._1).toSeq.sortBy(_._1).map { case (m, rows) =>
        (m.toInt, rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (code, comp) =>
          (code, comp.sortBy(_._3).map(_._4).toSeq)
        })
      }
    }
    // one exact Lloyd refinement: reassign every subvector to its nearest
    // init centroid (argmin, ties to lowest code), then recompute the
    // means — deterministic (pure integer math from a fixed init), and a
    // materially tighter codebook than the sign-LSH buckets alone. The
    // distance fold is the native pq_sub_dists bound to the init codebook
    // (see pqCodesWith for why literal distance expressions are out).
    val c0 = centroidsFrom(subRows)
    graft.functions.PqDists.register(emb.sparkSession, centArray(c0), subDim)
    val reassign = c0.map { case (m, cents) =>
      val ids = cents.map(_._1).map(c => s"${c}L").mkString("array(", ",", ")")
      s"WHEN m = $m THEN element_at($ids, CAST(array_position(" +
        s"pq_sub_dists(sub, ${m}L), array_min(pq_sub_dists(sub, ${m}L))) AS INT))"
    }.mkString("CASE ", " ", " END")
    val fitted =
      try centroidsFrom(subRows.selectExpr("vec_id", "m", s"$reassign AS code", "sub"))
      finally subRows.unpersist()
    if (codebookCache.size >= codebookCacheMax) codebookCache.clear()
    codebookCache.put(key, fitted)
    fitted
  }

  /** Codebook as the primitive array [[graft.functions.PqDists]] references
    * from generated code: outer = subspace position (the codebook Seq is
    * m-sorted and every subspace is populated), inner = centroids in
    * codebook order — the order `array_position` tie-breaks against. */
  private def centArray(codebook: Seq[(Int, Seq[(Long, Seq[Long])])]): Array[Array[Array[Long]]] = {
    require(codebook.zipWithIndex.forall { case ((m, _), ix) => m == ix },
      s"PQ codebook subspaces must be contiguous from 0: ${codebook.map(_._1)}")
    codebook.map(_._2.map(_._2.toArray).toArray).toArray
  }

  /** PQ encode: (vec_id, code_0..code_{nSub-1}) — per subspace, the id of
    * the nearest codebook centroid (ties to the lowest id). One narrow
    * codegen'd pass over the corpus: no shuffle, no row expansion. */
  def pqCodes(emb: DataFrame, dim: Int, nSub: Int, subDim: Int): DataFrame =
    pqCodesWith(quantVecs(emb), pqCodebook(emb, dim, nSub, subDim), subDim)

  /** [[pqCodes]] over a pre-quantized (vec_id, qvec) table. */
  def pqCodesQ(vecs: DataFrame, nSub: Int, subDim: Int): DataFrame =
    pqCodesWith(vecs, pqCodebookQ(vecs, nSub, subDim), subDim)

  private def pqCodesWith(vecs: DataFrame,
                          codebook: Seq[(Int, Seq[(Long, Seq[Long])])],
                          subDim: Int): DataFrame = {
    // one native pq_dists call per row (the codebook rides into codegen as
    // a referenced object), then 8 tiny argmin projections over its result.
    // The previous literal-SQL expansion (nSub × nCents distance exprs,
    // each inlining two ldot loops + a literal array) blew past janino's
    // generated-method limits, so the corpus encode — the hot pass of a PQ
    // index build — silently fell back to INTERPRETED projection.
    // Catalyst keeps the pd-producing project separate (CollapseProject
    // refuses to inline a non-cheap expression referenced 3× per column),
    // so the distance fold runs once per row.
    graft.functions.PqDists.register(vecs.sparkSession, centArray(codebook), subDim)
    val codeCols = codebook.map { case (m, cents) =>
      val ids = cents.map(_._1).map(c => s"${c}L").mkString("array(", ",", ")")
      // array_position takes the FIRST minimum → ties to lowest code id
      s"element_at($ids, CAST(array_position(element_at(pd, ${m + 1}), " +
        s"array_min(element_at(pd, ${m + 1}))) AS INT)) AS code_$m"
    }
    vecs
      .selectExpr("vec_id", "pq_dists(qvec) AS pd")
      .selectExpr(Seq("vec_id") ++ codeCols: _*)
  }

  /** PQ ADC top-k: each query computes its per-subspace distance lookup
    * table against the codebook ONCE (nSub arrays of ≤16 exact BIGINT
    * distances), then every corpus vector is scored by `nSub` array lookups
    * on its codes — no per-pair dot products, the asymmetric-distance
    * search that makes a PQ index cheap to probe. Queries are broadcast;
    * the corpus side stays a narrow scan of the codes. Output:
    * q_id, c_id, adc (exact quantized squared-L2 approximation), rn. */
  def pqTopK(emb: DataFrame, dim: Int, nSub: Int, subDim: Int,
             queryPred: String, k: Int): DataFrame =
    pqTopKWith(quantVecs(emb), pqCodebook(emb, dim, nSub, subDim), nSub, subDim,
      queryPred, k)

  /** `excludeExpr` (over q_id, c_id) drops forbidden query/candidate pairs
    * BEFORE ranking — identity by default; chunk retrieval passes a
    * same-document predicate so a query never retrieves its own doc. */
  private[graft] def pqTopKWith(vecs: DataFrame,
                         codebook: Seq[(Int, Seq[(Long, Seq[Long])])],
                         nSub: Int, subDim: Int,
                         queryPred: String, k: Int,
                         excludeExpr: String = "q_id <> c_id"): DataFrame =
    pqShortlistWith(pqCodesWith(vecs, codebook, subDim), vecs, codebook,
      nSub, subDim, queryPred, k, excludeExpr)

  /** The ADC scoring half of [[pqTopKWith]] over an ALREADY-ENCODED
    * codes frame (vec_id, code_0..code_{nSub-1}) — factored so a
    * persisted codes table ([[graft.queries.IndexState]]) can be probed
    * without re-encoding the corpus; `queryVecs` supplies the query
    * vectors' qvec for the per-query distance LUTs. */
  /** The three ADC expression builders — per-query LUT projections, the
    * code→LUT-slot CASE chains, and the lookup-sum — factored out of the
    * flat shortlist so the IVF-PQ serve reuses the IDENTICAL codegen
    * strings (two hand-maintained copies of performance-sensitive SQL
    * drift silently; one builder means a fix lands once).
    *
    * Slot lookup is a flat literal CASE, NOT element_at(map(...)): the
    * map literal is re-CONSTRUCTED per evaluated row, and the ADC scan
    * evaluates this once per (candidate × query) — bulk retrieval
    * (chunk_topk_pq, ~2.5M pairs at sf0.1) spent most of its probe time
    * allocating maps before this was flattened. */
  private def adcLutCols(codebook: Seq[(Int, Seq[(Long, Seq[Long])])])
      : Seq[String] =
    codebook.map { case (m, _) => s"element_at(pd, ${m + 1}) AS lut_$m" }

  // code id → LUT slot (codes are the surviving init buckets, not 0..15)
  private def adcSlotOf(codebook: Seq[(Int, Seq[(Long, Seq[Long])])])
      : Seq[String] =
    codebook.map { case (m, cents) =>
      val whens = cents.zipWithIndex
        .map { case ((code, _), ix) => s"WHEN ${code}L THEN ${ix + 1}" }.mkString(" ")
      s"CASE code_$m $whens END"
    }

  private def adcSumExpr(codebook: Seq[(Int, Seq[(Long, Seq[Long])])],
                         nSub: Int): String = {
    val slotOf = adcSlotOf(codebook)
    (0 until nSub).map(m => s"element_at(lut_$m, ${slotOf(m)})").mkString(" + ")
  }

  private def pqShortlistWith(codes: DataFrame, queryVecs: DataFrame,
                              codebook: Seq[(Int, Seq[(Long, Seq[Long])])],
                              nSub: Int, subDim: Int,
                              queryPred: String, k: Int,
                              excludeExpr: String): DataFrame = {
    graft.functions.PqDists.register(codes.sparkSession, centArray(codebook), subDim)
    val queries = registered(queryVecs).filter(expr(queryPred))
      .selectExpr("vec_id AS q_id", "pq_dists(qvec) AS pd")
      .selectExpr(Seq("q_id") ++ adcLutCols(codebook): _*)
    val adc = adcSumExpr(codebook, nSub)
    codes.crossJoin(broadcast(queries))
      .selectExpr("q_id", "vec_id AS c_id", s"$adc AS adc")
      .filter(expr(excludeExpr))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "adc", "rn")
  }

  /** PQ encode for an unbounded vector STREAM: the codebook is fitted on
    * the (batch) training corpus, then applied to the stream as plan
    * literals — a stateless narrow map, so it runs in append mode with no
    * state store and no watermark. This is the payoff of literal-codebook
    * design: the same encode expression serves batch backfill and the live
    * ingest path. */
  def pqCodesStreaming(stream: DataFrame, trainedOn: DataFrame, dim: Int,
                       nSub: Int, subDim: Int): DataFrame =
    pqCodesWith(quantVecs(stream), pqCodebook(trainedOn, dim, nSub, subDim), subDim)

  /** PQ search with exact re-rank — the production shape: the ADC pass
    * shortlists `shortlist` candidates per query from codes alone, then
    * ONLY those rows fetch their true vectors for an exact quantized-L2
    * re-rank. On near-isotropic data pure ADC top-k recall is poor (the
    * quantization error rivals the neighbor-distance spread); the
    * shortlist restores it while still scoring a small constant per query
    * instead of the corpus. Output: q_id, c_id, l2 (exact), rn. */
  def pqTopKRerank(emb: DataFrame, dim: Int, nSub: Int, subDim: Int,
                   queryPred: String, k: Int, shortlist: Int): DataFrame =
    pqTopKRerankWith(quantVecs(emb), pqCodebook(emb, dim, nSub, subDim),
      nSub, subDim, queryPred, k, shortlist)

  /** [[pqTopKRerank]] over a pre-quantized (vec_id, qvec) table — the bulk
    * retrieval entry for integer-exact vector families (feature-hashed
    * chunk embeddings). `excludeExpr` (over q_id, c_id) scopes which
    * candidates a query may retrieve — chunk retrieval excludes the
    * query's own document.
    *
    * `fitOn` splits MODEL identity from probe materialization: the
    * codebook is fitted (and memoized) against `fitOn`'s plan while the
    * encode/ADC/re-rank passes run over `vecs`. Pass the deterministic
    * un-checkpointed plan as `fitOn` and a checkpointed copy of the SAME
    * data as `vecs`: the checkpoint stops the vector-construction chain
    * being re-evaluated once per consumer (codes, query LUTs, both
    * re-rank sides), while the memo key stays stable across invocations —
    * a checkpoint RDD id in the key would silently re-train per run. This
    * is the production split: the codebook comes from the train job, the
    * probes read stored vectors. */
  def pqTopKRerankQ(vecs: DataFrame, nSub: Int, subDim: Int,
                    queryPred: String, k: Int, shortlist: Int,
                    excludeExpr: String = "q_id <> c_id",
                    fitOn: Option[DataFrame] = None): DataFrame =
    pqTopKRerankWith(vecs, pqCodebookQ(fitOn.getOrElse(vecs), nSub, subDim),
      nSub, subDim, queryPred, k, shortlist, excludeExpr)

  private def pqTopKRerankWith(vecs: DataFrame,
                               codebook: Seq[(Int, Seq[(Long, Seq[Long])])],
                               nSub: Int, subDim: Int, queryPred: String,
                               k: Int, shortlist: Int,
                               excludeExpr: String = "q_id <> c_id"): DataFrame =
    exactRerank(
      pqTopKWith(vecs, codebook, nSub, subDim, queryPred, shortlist,
        excludeExpr).select("q_id", "c_id"),
      vecs, k, queryPred)

  /** The exact quantized-L2 re-rank of a (q_id, c_id) shortlist against
    * the true vectors — only shortlist rows ever see a dot product.
    * `queryPred` (the caller's query predicate over `vecs`) prunes the
    * broadcast query-vector fetch to a filtered scan: the previous
    * formulation broadcast the ENTIRE vector table to serve a handful of
    * q_ids — a corpus-sized broadcast at scale. */
  private def exactRerank(short: DataFrame, vecs: DataFrame, k: Int,
                          queryPred: String): DataFrame = {
    val nv = registered(vecs)
      .selectExpr("vec_id", "qvec", "ldot(qvec, qvec) AS norm2")
    short
      .join(nv.selectExpr("vec_id AS c_id", "qvec AS qc", "norm2 AS nc"), "c_id")
      .join(broadcast(nv.filter(expr(queryPred))
        .selectExpr("vec_id AS q_id", "qvec AS qq", "norm2 AS nq")), "q_id")
      .selectExpr("q_id", "c_id", "nq + nc - 2 * ldot(qq, qc) AS l2")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("l2").asc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "l2", "rn")
  }

  /** Stateless PQ encode of `vecs` against the codebook fitted (and
    * memoized) on `fitOn` — the INDEX-BUILD half a deployment persists
    * ([[graft.queries.IndexState.pqCodesPaths]]): codes are 16× narrower
    * than the quantized vectors, so a probe that reads stored codes
    * never pays the per-row distance folds of a fresh encode. */
  def pqEncode(vecs: DataFrame, nSub: Int, subDim: Int,
               fitOn: DataFrame): DataFrame =
    pqCodesWith(vecs, pqCodebookQ(fitOn, nSub, subDim), subDim)

  /** [[pqTopKRerankQ]] probing an ALREADY-ENCODED codes table: the ADC
    * shortlist scans `codes` (vec_id, code_0..) — the persisted index —
    * while `vecs` supplies query vectors for the distance LUTs and the
    * true vectors of shortlist rows for the exact re-rank. The codebook
    * comes from `fitOn` (the train job's plan, memo-shared), which MUST
    * be the same fit the codes were encoded against — the geometry is in
    * the persisted path name for the same reason the banded indexes
    * carry theirs. */
  def pqTopKRerankCodes(codes: DataFrame, vecs: DataFrame, nSub: Int,
                        subDim: Int, queryPred: String, k: Int,
                        shortlist: Int, fitOn: DataFrame,
                        excludeExpr: String = "q_id <> c_id"): DataFrame = {
    val codebook = pqCodebookQ(fitOn, nSub, subDim)
    exactRerank(
      pqShortlistWith(codes, vecs, codebook, nSub, subDim, queryPred,
        shortlist, excludeExpr).select("q_id", "c_id"),
      vecs, k, queryPred)
  }

  /** Coarse IVF cell of every corpus vector — the L2-metric companion of
    * [[ivfTopK]]'s cosine assignment, used by the IVF-PQ serve (PQ
    * approximates quantized L2, so its cells must be L2-assigned or the
    * probe order and the metric disagree). Centroids are the first
    * `nCells` corpus vectors (the deterministic stand-in for an
    * offline-trained coarse codebook, same convention as [[ivfTopK]]),
    * collected once as plan literals — a bounded MODEL collect. The
    * assignment is one narrow codegen'd pass: per row `nCells` `ldot`s +
    * an array argmin; ties go to the lowest cell id (array_position
    * takes the first minimum over ascending cids). Input is the
    * quantized store form (vec_id, qvec, norm2) like the rest of the PQ
    * family. Output: (vec_id, cell). */
  def ivfCellOf(store: DataFrame, nCells: Int): DataFrame = {
    val vecs = registered(store)
    val cents = collectCentroids(vecs, nCells)
    val dArr = cents.map { case (_, qv, n2) =>
      s"norm2 + ${n2}L - 2 * ldot(qvec, array(${qv.mkString("L,")}L))"
    }.mkString("array(", ", ", ")")
    val cidArr = cents.map(c => s"${c._1}L").mkString("array(", ", ", ")")
    vecs.selectExpr("vec_id",
      s"element_at($cidArr, CAST(array_position($dArr, array_min($dArr)) AS INT)) AS cell")
  }

  private def collectCentroids(vecs: DataFrame, nCells: Int)
      : Array[(Long, Seq[Long], Long)] =
    memoModel(s"centroids|$nCells", vecs) {
      vecs.filter(col("vec_id") < nCells)
        .selectExpr("vec_id", "qvec", "norm2")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
        .sortBy(_._1)
    }

  /** IVF-PQ serve over a PERSISTED cell-partitioned codes table — the
    * shape that survives query-load growth. The flat ADC serve
    * ([[pqTopKRerankCodes]]) scores every stored code against every
    * query: O(queries × corpus) lookups, measured growing 4.6× for 8×
    * the queries at a 10× corpus (SCALE.md serve_qload). Here each query
    * L2-ranks the literal coarse centroids, keeps its `nProbe` nearest
    * cells, and scores ONLY those cells' codes: the probed fraction
    * (nProbe/nCells of the corpus in expectation) bounds the per-query
    * work, and because the store is PARTITIONED by cell
    * ([[graft.queries.IndexState.pqCellCodesPaths]]) the union of probed
    * cells — collected driver-side, bounded by nCells — becomes a
    * literal partition filter: unprobed cell directories are pruned at
    * PLAN time, never listed into the scan (the bm25_downfold_probe
    * discipline applied to the dense store). The ADC arithmetic, the
    * shortlist, and the exact re-rank are byte-identical to the flat
    * serve — only the candidate set is restricted, which is the IVF
    * recall trade, priced by the same shortlist logic.
    *
    * `cellCodes`: (vec_id, code_0.., cell); `vecs` supplies query LUT
    * vectors and the shortlist rows' true vectors; `fitOn` must be the
    * fit the codes were encoded against. Output: q_id, c_id, l2, rn. */
  def ivfPqTopKRerankCodes(cellCodes: DataFrame, vecs: DataFrame,
                           nSub: Int, subDim: Int, nCells: Int, nProbe: Int,
                           queryPred: String, k: Int, shortlist: Int,
                           fitOn: DataFrame): DataFrame = {
    val codebook = pqCodebookQ(fitOn, nSub, subDim)
    graft.functions.PqDists.register(vecs.sparkSession, centArray(codebook), subDim)
    val qvecs = registered(vecs)
    val cents = collectCentroids(qvecs, nCells)
    // per query: nProbe L2-nearest cells (explode is over queries only;
    // exact integer distances, ties to the lowest cell id like the store
    // assignment so probe order and assignment cannot disagree)
    val centroidStructs = cents.map { case (cid, qv, n2) =>
      s"struct(${cid}L AS cid, norm2 + ${n2}L - 2 * ldot(qvec, array(${qv.mkString("L,")}L)) AS d2)"
    }.mkString(", ")
    val probes = qvecs.filter(expr(queryPred))
      .selectExpr("vec_id AS q_id", "qvec", "norm2",
        s"explode(array($centroidStructs)) AS c")
      .selectExpr("q_id", "c.cid AS cell", "c.d2 AS d2")
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2").asc, col("cell").asc)))
      .filter(col("pr") <= nProbe)
      .select("q_id", "cell")
      .localCheckpoint()
    // the probed-cell union is bounded by nCells — a literal partition
    // filter, so the store scan prunes to the probed directories
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    // the LUT/slot/sum codegen strings come from the SAME builders as
    // the flat shortlist ([[adcLutCols]]/[[adcSumExpr]]) — the ADC
    // arithmetic here is byte-identical by construction, not by copy
    val queries = qvecs.filter(expr(queryPred))
      .selectExpr("vec_id AS q_id", "pq_dists(qvec) AS pd")
      .selectExpr(Seq("q_id") ++ adcLutCols(codebook): _*)
      .join(probes, "q_id") // (q_id, lut_0.., cell) — nQ × nProbe rows
    val adc = adcSumExpr(codebook, nSub)
    val short = cellCodes
      .filter(col("cell").isin(probedCells.map(Long.box): _*))
      .join(broadcast(queries), Seq("cell"))
      .selectExpr("q_id", "vec_id AS c_id", s"$adc AS adc")
      .filter("q_id <> c_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= shortlist)
      .select("q_id", "c_id")
    exactRerank(short, vecs, k, queryPred)
  }

  /** LSH-bucketed ANN: score only same-bucket collisions, top-k per query.
    * Output: q_id, c_id, cos, rn (may return < k rows per query — the
    * recall trade documented above). */
  def lshCosineTopK(emb: DataFrame, dim: Int, nPlanes: Int, queryPred: String,
                    k: Int): DataFrame = {
    val buckets = lshBuckets(emb, dim, nPlanes)
    // pruned query-side scan re-deriving the same per-row buckets, not a
    // corpus semi-join (see cosineTopK)
    val qs = lshBuckets(emb.filter(expr(queryPred)), dim, nPlanes)
      .selectExpr("id AS q_id", "qvec AS qq", "bucket", "norm2 AS nq")
    val cs = buckets
      .selectExpr("id AS c_id", "qvec AS qc", "bucket AS bucket_c", "norm2 AS nc")
    cs.join(broadcast(qs), col("bucket") === col("bucket_c") && col("q_id") =!= col("c_id"))
      .selectExpr("q_id", "c_id", "nq", "nc", "ldot(qq, qc) AS dot")
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cos", "rn")
  }

  /** Hard-negative mining for embedding-model training: per query vector,
    * the top-k most-similar corpus vectors with a DIFFERENT label — the
    * near-misses a contrastive fine-tune needs as negatives (easy random
    * negatives teach nothing once the model separates classes). Same
    * broadcast-queries/corpus-scan shape as [[cosineTopK]]; the label
    * inequality prunes before the rank. Output: q_id, q_label, c_id,
    * c_label, cos, rn. */
  def hardNegatives(emb: DataFrame, dim: Int, queryPred: String,
                    k: Int): DataFrame = {
    // label is carried through the quantization projection — one narrow
    // pass; the previous quantVecs-join-emb formulation self-joined the
    // corpus just to re-attach a column the scan already had
    def labeled(df: DataFrame): DataFrame = registered(df)
      .selectExpr("vec_id", s"$qvecExpr AS qvec", "CAST(label AS BIGINT) AS label")
      .selectExpr("vec_id", "qvec", "ldot(qvec, qvec) AS norm2", "label")
    val vecs = labeled(emb)
    // pruned query-side scan, not a corpus semi-join (see cosineTopK)
    val qs = labeled(emb.filter(expr(queryPred)))
      .selectExpr("vec_id AS q_id", "qvec AS qq", "norm2 AS nq",
        "label AS q_label")
    vecs.selectExpr("vec_id AS c_id", "qvec AS qc", "norm2 AS nc",
        "label AS c_label")
      .crossJoin(broadcast(qs))
      .filter(col("q_id") =!= col("c_id") && col("q_label") =!= col("c_label"))
      .selectExpr("q_id", "q_label", "c_id", "c_label", "nq", "nc",
        "ldot(qq, qc) AS dot")
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "q_label", "c_id", "c_label", "cos", "rn")
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein,
    * SIGIR'98): brute cosine shortlists `shortlist` candidates per query,
    * then `nSelect` greedy rounds each pick
    * argmax λ·rel − (1−λ)·max_sim-to-already-selected (λ = 0.5) — the
    * re-rank a retrieval stack runs so the returned set covers distinct
    * regions instead of `k` near-duplicates of the best hit.
    *
    * Scale shape: the greedy loop is a STATIC per-round DAG over
    * shortlist-sized frames — the corpus is touched exactly once (the
    * shortlist scan); candidate vectors and pair sims are
    * queries×shortlist-bounded and broadcast. Determinism: rel/sim are
    * the bit-exact quantized cosines, ×0.5 is exact halving, score
    * subtraction is one IEEE op in fixed operand order, argmax ties to
    * the lowest candidate id — so the unrolled SQL restatement
    * hash-matches. Output: q_id, c_id, mmr_rank (1-based selection
    * order), score. */
  def mmrTopK(emb: DataFrame, dim: Int, queryPred: String, shortlist: Int,
              nSelect: Int): DataFrame = {
    // Both greedy inputs are queries×shortlist-bounded, so the selection
    // itself is MODEL-SIZED work: collect the shortlist and the candidate
    // vectors once (two bounded driver jobs — the kmeansCentroids/codebook
    // discipline) and run the nSelect greedy rounds driver-side, emitting
    // the selection as one local frame. The r16 shape checkpointed a
    // KB-scale frame per greedy round — O(nSelect) sequential driver jobs
    // whose task-scheduling cost grew with core count (the suite's worst
    // anti-scaler at 8↔32 cores, r16 verdict #4/next-round #3).
    //
    // Bit-determinism is unchanged: rel/sim are collected (rel) or
    // recomputed from collected qvecs (sim) with the identical IEEE ops in
    // the identical operand order as the old per-round SQL — exact Long
    // dot, Math.sqrt, one multiply, one divide, ×0.5 halvings, one
    // subtraction — and the argmax resolves exactly like the old
    // row_number window: score DESC by java.lang.Double.compare (NaN
    // greatest, Spark's double ordering), ties to the lowest c_id.
    val spark = emb.sparkSession
    val cands = cosineTopK(emb, dim, queryPred, shortlist)
      .select(col("q_id"), col("c_id"), col("cos").as("rel"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // candidate vectors: the bounded id set becomes a pushed In-filter on
    // the corpus scan (no join at all — PushedFilters prunes at the source)
    val ids = cands.map(_._2).distinct.toSeq
    val cvecs = quantVecs(emb).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("qvec"), col("norm2"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toArray, r.getLong(2))))
      .toMap
    def sim(a: Long, b: Long): Double = {
      val (qa, na) = cvecs(a)
      val (qb, nb) = cvecs(b)
      val n = math.min(qa.length, qb.length)
      var dot = 0L
      var i = 0
      while (i < n) { dot += qa(i) * qb(i); i += 1 }
      dot.toDouble / (Math.sqrt(na.toDouble) * Math.sqrt(nb.toDouble))
    }
    // (score, c_id) argmax with the window's exact ordering: score desc
    // via Double.compare, ties broken by the LOWEST candidate id
    def better(s: Double, c: Long, bs: Double, bc: Long): Boolean = {
      val cmp = java.lang.Double.compare(s, bs)
      cmp > 0 || (cmp == 0 && c < bc)
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    cands.groupBy(_._1).foreach { case (q, qc) =>
      val rel = qc.map(t => t._2 -> t._3).toMap
      val selected = scala.collection.mutable.ArrayBuffer[Long]()
      val remaining = scala.collection.mutable.Set[Long](rel.keySet.toSeq: _*)
      for (r <- 1 to math.min(nSelect, qc.length)) {
        var first = true
        var bestC = 0L
        var bestS = Double.NaN
        remaining.foreach { c =>
          val score =
            if (r == 1) rel(c) * 0.5
            else {
              var maxsim = Double.NegativeInfinity
              selected.foreach { b =>
                val s = sim(c, b)
                if (java.lang.Double.compare(s, maxsim) > 0) maxsim = s
              }
              rel(c) * 0.5 - maxsim * 0.5
            }
          if (first || better(score, c, bestS, bestC)) {
            first = false; bestC = c; bestS = score
          }
        }
        out += ((q, bestC, r.toLong, bestS))
        selected += bestC
        remaining -= bestC
      }
    }
    import spark.implicits._
    out.toSeq.toDF("q_id", "c_id", "mmr_rank", "score")
  }

  /** Distributed fixed-round Lloyd k-means over the embedding corpus —
    * the clustering pass behind data maps, SemDeDup codebooks and
    * cluster-balanced curation. Extends the PQ fit's single Lloyd step
    * ([[pqCodebookQ]]) to full multi-round training while keeping the
    * same bit-determinism guarantees: exact BIGINT squared-L2 distances
    * over the 1e7-quantized vectors, argmin ties to the lowest cluster
    * id, centroid updates as component-wise FLOORED integer means
    * ((s - floormod(s, n)) / n), empty clusters carrying their previous
    * centroid — so the run reproduces bit-for-bit on any cluster size
    * and in the unrolled DuckDB oracle.
    *
    * Scale shape: centroids are O(k·dim) model parameters. Each round is
    * ONE narrow codegen'd corpus pass (k literal-centroid `ldot`s + a
    * struct array_min argmin — no corpus shuffle, no row expansion) into
    * ONE (cluster, dim)-keyed aggregation whose k·dim partial sums
    * combine map-side, then a bounded driver-side mean — the canonical
    * broadcast-centroids/tree-aggregate k-means on Spark, linear in the
    * corpus per round regardless of cluster count. The quantized corpus
    * is cached across the `rounds` scans and unpersisted before return.
    *
    * Init: the k lowest-vec_id corpus vectors (cluster ids 0..k-1 in
    * vec_id order) — an offline deployment would seed from a sample.
    * Output: one row per vector — vec_id, cluster, dist2 (exact integer
    * squared L2 to its FINAL centroid: the per-row inertia term). */
  def kmeans(emb: DataFrame, dim: Int, k: Int, rounds: Int): DataFrame =
    kmeansAssignExpr(quantVecs(emb), kmeansCentroids(emb, dim, k, rounds))
      .select("vec_id", "cluster", "dist2")

  /** Nearest-centroid assignment over a quantVecs-form frame: one narrow
    * codegen'd pass (k literal-centroid `ldot`s + struct array_min). */
  private def kmeansAssignExpr(vecsQ: DataFrame,
                               cents: Seq[(Long, Seq[Long])]): DataFrame = {
    val structs = cents.map { case (cid, c) =>
      val n2 = c.map(x => x * x).sum
      s"struct(${n2}L + norm2 - 2 * ldot(qvec, array(${c.mkString("L,")}L)) AS dist2, ${cid}L AS cid)"
    }.mkString(", ")
    vecsQ.selectExpr("vec_id", "qvec", s"array_min(array($structs)) AS best")
      .selectExpr("vec_id", "qvec", "best.cid AS cluster", "best.dist2 AS dist2")
  }

  /** The k-means FIT alone: trained centroids as bounded model params —
    * for consumers that freeze the model and assign elsewhere (the
    * streaming scorer, a separate corpus). Same arithmetic contract as
    * [[kmeans]]. */
  def kmeansCentroids(emb: DataFrame, dim: Int, k: Int,
                      rounds: Int): Seq[(Long, Seq[Long])] = {
    val vecs = quantVecs(emb).cache()
    try {
      // deterministic seed: k lowest-vec_id vectors (bounded collect —
      // O(k·dim) model parameters, never data)
      var centroids: Seq[(Long, Seq[Long])] =
        vecs.orderBy(col("vec_id").asc).limit(k).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
          .zipWithIndex
          .map { case ((_, qv), i) => (i.toLong, qv) }
      require(centroids.size == k, s"k-means needs >= $k corpus vectors")
      for (_ <- 1 to rounds) {
        val sums = kmeansAssignExpr(vecs, centroids)
          .selectExpr("cluster", "posexplode(qvec) AS (d, v)")
          .groupBy("cluster", "d")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
          .collect()
          .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
          .toMap
        centroids = centroids.map { case (cid, prev) =>
          if (sums.contains((cid, 0)))
            (cid, prev.indices.map { d =>
              val (n, s) = sums((cid, d))
              (s - Math.floorMod(s, n)) / n
            })
          else (cid, prev) // empty cluster: carry the previous centroid
        }
      }
      centroids
    } finally vecs.unpersist(blocking = false)
  }

  /** Frozen-model assignment of ANY (vec_id, embedding) frame — batch OR
    * streaming — against already-trained centroids: stateless, zero
    * shuffles, no state store; the train-offline/assign-on-ingest shape
    * ([[pqCodesStreaming]] discipline). Output: vec_id, cluster, dist2. */
  def kmeansAssignedOf(vecs: DataFrame,
                       cents: Seq[(Long, Seq[Long])]): DataFrame =
    kmeansAssignExpr(quantVecs(vecs), cents)
      .select("vec_id", "cluster", "dist2")
}
