package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{ClusterOps, DedupOps, SimilarityOps}
import graft.sources.Tables

/**
 * Training-data-pipeline operators over `documents` — the capability class
 * the reference lacks but a 100 TB corpus engine needs: dedup, text quality
 * scoring, token counting. Everything here is pure Catalyst expressions
 * (higher-order array functions, regex, hash built-ins) — no UDFs, fully
 * codegen'd, filter/prune pushed to the parquet scan.
 */
object PipelineQueries {

  /** Exact dedup: group by content hash, keep the smallest doc_id as the
    * canonical representative. At scale this is one hash-shuffle on a
    * 128-bit key — the standard exact-dedup pass. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup after canonicalization: lower-case, trim, collapse runs of
    * whitespace — the normalization pass real pipelines run before hashing
    * (catches case/spacing-only duplicates the raw hash misses). The
    * canonicalizer is one native byte pass ([[graft.functions.NormalizeWs]],
    * regex-parity-specced) instead of a per-byte regexp_replace — this pass
    * touches 100% of corpus bytes, so the regex engine was the suite's most
    * persistent cost/variance magnet. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.NormalizeWs.register(spark)
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "md5(normalize_ws(text)) AS text_hash")
      .groupBy("text_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
  }

  /** Top-5 terms per language by document frequency (tf over distinct
    * per-doc tokens) — the corpus-profiling aggregation. */
  def topTermsPerLang(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("lang",
        "explode(array_distinct(filter(split(trim(text), ' '), t -> t <> ''))) AS term")
      .groupBy("lang", "term").agg(count(lit(1)).as("df"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("df").desc, col("term").asc)).cast("long"))
      .filter(col("rn") <= 5)
      .select("lang", "term", "df", "rn")

  /** Deterministic train/val/test split by content-hash bucket (md5-derived
    * so re-runs, engines, and cluster sizes all agree — never `rand()`):
    * 80/10/10 over hash(doc_id || content_hash) % 10. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id",
        s"${DedupOps.md5Long("concat(CAST(doc_id AS STRING), '|', md5(text))")} % 10 AS bucket")
      .selectExpr("doc_id", "bucket",
        "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split")

  /** Per-document text statistics: token count (whitespace), regex-token
    * count (BPE-ish word/number/punct split), average token length, punct
    * count, stopword count.
    *
    * Tokenizer contract (deliberate, shared with every oracle): a token is
    * a maximal run of non-SPACE (0x20) characters. Tab/CR/LF are ordinary
    * token CHARACTERS, not delimiters — `(?<=^| )[^ ]` counts exactly the
    * non-empty fields of split-on-space, so "a\tb c" is 2 tokens in both
    * engines (and "\ta" one token containing the tab). A corpus that
    * delimits with tabs or newlines should be whitespace-normalized first
    * (as dedup_normalized does) — counting them as delimiters here would
    * desync from the split-on-space oracles. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    textStatsOf(Tables.documents(spark, dir))

  /** [[textStats]] over an arbitrary (doc_id, text) frame — the per-doc
    * scorer is STATELESS, so the streaming press scores each delivery
    * with exactly the batch pass. */
  def textStatsOf(docs: DataFrame): DataFrame = {
    // one native single-pass scan per document ([[graft.functions
    // .TextScanStats]]) — replaces four regex passes, the worst a
    // backtracking alternation lookaround for stopword hits. Catalyst keeps
    // the struct-producing project separate from the field extraction
    // (CollapseProject treats non-cheap expressions referenced more than
    // once as non-collapsible), so the scan runs once per row.
    graft.functions.TextScanStats.register(docs.sparkSession)
    val stops = TextLang.langs.toMap.apply("en").mkString(",")
    docs
      .selectExpr("doc_id", s"text_scan(text, '$stops') AS ts")
      .selectExpr(
        "doc_id",
        "ts.n_tokens AS n_tokens",
        "ts.n_rtokens AS n_rtokens",
        "CAST(ts.nonspace_len AS DOUBLE) / CAST(nullif(ts.n_tokens, 0) AS DOUBLE) AS avg_token_len",
        "ts.punct_cnt AS punct_cnt",
        "ts.stop_cnt AS stop_cnt")
  }

  /** Quality score in [0,1]: length saturation + punctuation cleanliness +
    * stopword density, the usual cheap pre-filter before expensive dedup. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    textQualityOf(Tables.documents(spark, dir))

  /** [[textQuality]] over an arbitrary (doc_id, text) frame (stateless —
    * shared verbatim by the streaming curation press). */
  def textQualityOf(docs: DataFrame): DataFrame =
    textStatsOf(docs).selectExpr(
      "doc_id",
      "CAST(0.4 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))" +
        " + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(punct_cnt AS DOUBLE) / (CAST(punct_cnt AS DOUBLE) + CAST(100.0 AS DOUBLE)))" +
        " + CAST(0.3 AS DOUBLE) * (CAST(stop_cnt AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)) AS quality")

  /** Gopher-style repetition filters: per doc, the most-frequent-2-gram
    * mass fraction and the duplicated-3-gram fraction, plus the pass flag —
    * the cheap repetition gate a pretraining pipeline runs before dedup.
    * Two narrow explode→groupBy passes (shuffle keyed by doc), no joins
    * against other documents. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetitionOf(Tables.documents(spark, dir))

  /** [[gopherRepetition]] over an arbitrary (doc_id, text) frame: per-doc
    * shingle statistics only — no cross-document state, so a streaming
    * delivery scores identically to the batch pass.
    *
    * One unioned (doc, n, shingle) frame feeds a single per-shingle
    * count and one per-doc aggregation (2 exchanges, both doc-local
    * keys): the distinct-trigram count is the ROW count of the shingle
    * aggregate — the previous formulation paid five exchanges (separate
    * bigram/trigram chains, a countDistinct expand, a doc join). Docs
    * lacking a trigram (< 3 tokens) are dropped, matching the old inner
    * join. */
  def gopherRepetitionOf(docs: DataFrame): DataFrame =
    DedupOps.allShingles(docs, "text", 2).selectExpr("doc_id", "2L AS k", "sh")
      .unionByName(DedupOps.allShingles(docs, "text", 3)
        .selectExpr("doc_id", "3L AS k", "sh"))
      .groupBy("doc_id", "k", "sh").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(max(when(col("k") === 2, col("cnt"))).as("mx"),
        sum(when(col("k") === 2, col("cnt"))).as("tot"),
        count(when(col("k") === 3, lit(1))).as("dist3"),
        sum(when(col("k") === 3, col("cnt"))).as("tot3"))
      .filter(col("tot").isNotNull && col("tot3").isNotNull)
      .selectExpr("doc_id",
        "CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE) AS top_bigram_frac",
        "CAST(tot3 - dist3 AS DOUBLE) / CAST(tot3 AS DOUBLE) AS dup_trigram_frac")
      .selectExpr("doc_id", "top_bigram_frac", "dup_trigram_frac",
        "top_bigram_frac <= 0.08D AND dup_trigram_frac <= 0.6D AS pass")

  /** Train/test contamination: for each test-split document, how many of
    * its distinct 3-gram shingles appear anywhere in the train split.
    * Scale shape: ONE semi-join shuffled on the shingle hash — the
    * train-side distinct and the join co-partition; no doc×doc pairing. */
  /** The 80/10/10 content-hash split as a SQL CASE — one statement for
    * every split consumer (contamination, its persisted twin's index
    * builder and prober) so the surfaces cannot disagree on membership. */
  private[queries] val splitCase: String =
    s"CASE WHEN ${DedupOps.md5Long("concat(CAST(doc_id AS STRING), '|', md5(text))")} % 10 < 8 THEN 'train' " +
      s"WHEN ${DedupOps.md5Long("concat(CAST(doc_id AS STRING), '|', md5(text))")} % 10 = 8 THEN 'val' ELSE 'test' END"

  def contamination(spark: SparkSession, dir: String): DataFrame = {
    // the split is a per-row hash — compute it as a carried column inside
    // the one shingle scan instead of joining a second documents pass
    val docs = Tables.documents(spark, dir).selectExpr("doc_id", "text",
      s"$splitCase AS split")
    val sh = DedupOps.shingleHashes(docs, "text", 3, "split")
    // ONE pass over the shingle set (a filtered self-join would shingle the
    // corpus twice — the split filters break subplan reuse): per shingle, a
    // train-presence flag + the test docs carrying it; exploding the
    // per-shingle test-doc sets yields each test doc's distinct shingles
    // exactly once. Set sizes are bounded by test-docs-per-shingle (~10% of
    // docs sharing a shingle).
    sh.groupBy("h")
      .agg(max(col("split") === "train").as("in_train"),
        collect_set(when(col("split") === "test", col("doc_id"))).as("tdocs"))
      .select(explode(col("tdocs")).as("doc_id"), col("in_train"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        count(when(col("in_train"), lit(1))).as("n_hit"))
      .selectExpr("doc_id", "n_sh", "n_hit",
        "CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) AS containment")
  }

  /** Decontamination against a PERSISTED train-shingle index — the
    * deployed shape ([[contamination]] proves the semantics, this row
    * prices it): at 100 TB the benchmark/eval suite is fixed and its
    * shingle index is built once; every delivery probes it. The train
    * side's distinct shingle hashes come from parquet
    * ([[IndexState.contamIndexPaths]] — the ClusterState discipline);
    * the timed work is the TEST split's shingle explode (the split
    * filter runs before the explode, so only test docs fan out) + one
    * semi-join against the index. Converges to [[contamination]]
    * bit-exactly — the oracle IS contamination's SQL. */
  def contaminationPersist(spark: SparkSession, dir: String): DataFrame = {
    val idxP = IndexState.contamIndexPaths(spark, dir)
    val test = Tables.documents(spark, dir)
      .selectExpr("doc_id", "text", s"$splitCase AS split")
      .filter(col("split") === "test")
    DedupOps.shingleHashes(test, "text", 3)
      .join(spark.read.parquet(idxP).withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .selectExpr("doc_id", "n_sh", "n_hit",
        "CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) AS containment")
  }

  /** Per-DELIVERY decontamination — the deployed direction with the
    * roles the right way around for scale. [[contamination]] /
    * [[contaminationPersist]] audit the WHOLE corpus (test split probed
    * against the train shingle index — cost necessarily ∝ corpus, the
    * SCALE.md `contamination` row). A plant doesn't run that per
    * delivery: the eval/benchmark suite is FIXED and SMALL, its shingle
    * index is built once ([[IndexState.contamEvalIndexPaths]]) and
    * BROADCAST; each incoming training delivery (bounded, stood in here
    * by a fixed doc_id range of train docs) probes it. Nothing in the
    * timed plan scales with the corpus: delivery shingling is
    * delivery-sized, the index is eval-suite-sized, the join is a
    * broadcast hash join — measured flat across a 30× corpus
    * (SCALE.md `contamination_delivery`). */
  /** The stand-in delivery's doc_id bounds — named and shared with
    * graft.PlanShapeSpec's pushed-filter assertion (which interpolates
    * [[ContamDeliveryLo]] into the expected `PushedFilters` string) and
    * with the DuckDB oracle, so changing the bound cannot silently
    * desynchronize the query, its plan gate and its oracle. */
  val ContamDeliveryLo: Long = 100L
  val ContamDeliveryHi: Long = 350L

  def contaminationDelivery(spark: SparkSession, dir: String): DataFrame = {
    val idxP = IndexState.contamEvalIndexPaths(spark, dir)
    val delivery = Tables.documents(spark, dir)
      .filter(col("doc_id") >= ContamDeliveryLo && col("doc_id") < ContamDeliveryHi)
      .selectExpr("doc_id", "text", s"$splitCase AS split")
      .filter(col("split") === "train")
    DedupOps.shingleHashes(delivery, "text", 3)
      .join(broadcast(spark.read.parquet(idxP).withColumn("hit", lit(1))),
        Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .selectExpr("doc_id", "n_sh", "n_hit",
        "CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) AS containment")
  }

  /** IVF ANN top-3 for query vectors vec_id < 32: 16 coarse centroids
    * (the first corpus vectors stand in for an offline-trained codebook),
    * 4 probes per query. */
  def embedTopKIvf(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.ivfTopK(Tables.embeddings(spark, dir), 64,
      nCentroids = 16, nProbe = 4, "vec_id < 32", 3)

  /** Near-dup pairs by exact word-3-gram Jaccard ≥ 0.5, scoped per source
    * (bounds the quadratic shingle self-join). */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    DedupOps.ngramJaccardPairs(
      DedupOps.shingleHashes(Tables.documents(spark, dir), "text", 3, "source"),
      "source", 0.5)

  /** MinHash(16 perms) + LSH(4 bands × 4 rows) candidates, verified with
    * exact Jaccard ≥ 0.5 — the scale path for near-dup dedup. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minhashPairs(
      DedupOps.allShingles(Tables.documents(spark, dir), "text", 3), 16, 4, 0.5)

  /** TEXTUAL drift between the reference and current corpus halves — the
    * content-shift complement to the embedding-space kmeans_drift: per
    * term, add-one-smoothed log-odds of appearing in the current half vs
    * the reference half (the "fightin' words" shape), quantized to
    * integer micro-nats exactly like the DSIR model so ordering is
    * engine-stable; top 20 by |log-odds| via TakeOrderedAndProject. At
    * scale: one term-keyed count aggregation + three scalar broadcasts —
    * the vocabulary row count is the only post-shuffle state. */
  def termDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .selectExpr("CAST(doc_id % 2 AS BIGINT) AS half",
        "explode(filter(split(trim(text), ' '), t -> t <> '')) AS t")
    val counts = toks.groupBy("t").agg(
      sum(expr("CASE WHEN half = 0 THEN 1 ELSE 0 END")).as("c_ref"),
      sum(expr("CASE WHEN half = 1 THEN 1 ELSE 0 END")).as("c_cur"))
      .filter(col("c_ref") + col("c_cur") >= 20)
    val totals = toks.groupBy().agg(
      sum(expr("CASE WHEN half = 0 THEN 1 ELSE 0 END")).as("t_ref"),
      sum(expr("CASE WHEN half = 1 THEN 1 ELSE 0 END")).as("t_cur"))
    val vocab = counts.groupBy().agg(count(lit(1)).as("v"))
    counts.crossJoin(broadcast(totals)).crossJoin(broadcast(vocab))
      .selectExpr("t AS term", "c_ref", "c_cur",
        "CAST(round(1000000.0D * ln((CAST(c_cur + 1 AS DOUBLE) / CAST(c_ref + 1 AS DOUBLE))" +
          " * (CAST(t_ref + v AS DOUBLE) / CAST(t_cur + v AS DOUBLE)))) AS BIGINT) AS lo_q")
      .orderBy(abs(col("lo_q")).desc, col("term").asc)
      .limit(20)
  }

  /** Threshold-calibration histogram for the MinHash dedup family: ALL
    * band-collision candidates (floor 0.05 — common ≥ 1 both engines)
    * verified with exact Jaccard, bucketed by decile with per-bucket
    * min/max. This is the curve an operator reads before choosing the
    * production threshold: where the near-dup mass sits vs where LSH
    * candidate recall falls off — shipped with the dedup pass, not
    * guessed. Same banding geometry as dedup_minhash. */
  def dedupPairHist(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minhashPairs(
        DedupOps.allShingles(Tables.documents(spark, dir), "text", 3), 16, 4, 0.05)
      .selectExpr("CAST(floor(jaccard * 10) AS BIGINT) AS bucket", "jaccard")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_j"), max(col("jaccard")).as("max_j"))

  /** Directed near-containment pairs (excerpt/quote dedup): shared-5-span
    * candidates, exact 3-gram asymmetric overlap ≥ 0.6
    * ([[DedupOps.containmentPairs]]). */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    DedupOps.containmentPairs(Tables.documents(spark, dir), "text", 5, 3, 0.6)

  /** 60-bit SimHash fingerprint per document. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simhash(Tables.documents(spark, dir), "text")

  /** Brute-force quantized-cosine top-5 neighbors for query vectors
    * vec_id < 8. */
  def embedTopK(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.cosineTopK(Tables.embeddings(spark, dir), 64, "vec_id < 8", 5)

  /** Int8 scalar-quantization codec audit over the embedding corpus —
    * per dimension the fitted symmetric scale, saturation count and exact
    * code sums ([[SimilarityOps.sq8Audit]]). */
  def embedSq8(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.sq8Audit(Tables.embeddings(spark, dir))

  /** SQ8 approximate top-5 for query vectors vec_id < 8 — int8 codes,
    * exact integer dot, code-space cosine rank
    * ([[SimilarityOps.sq8TopK]]); same query set as embed_topk so the
    * two rankings are directly comparable. */
  def sq8TopK(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.sq8TopK(Tables.embeddings(spark, dir), 64, "vec_id < 8", 5)

  /** LSH-bucketed (8 hyperplanes) ANN top-3 for query vectors vec_id < 32;
    * recall-bounded by bucket collisions. */
  def embedTopKLsh(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.lshCosineTopK(Tables.embeddings(spark, dir), 64, 8,
      "vec_id < 32", 3)

  /** Embedding-cosine near-dup pairs: banded sign-LSH candidates (4 bands ×
    * 4 planes) verified at quantized cosine ≥ 0.4 — the embedding-level
    * dedup pass after text-level dedup. */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.cosineDupPairs(Tables.embeddings(spark, dir), 64, 16, 4, 0.4)

  /** Stopword-profile language ID: argmax stopword hits over four small
    * language lists (deterministic tie-break by language code). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOf(Tables.documents(spark, dir), Seq.empty)

  /** [[langId]] over a caller-supplied documents frame, with `keep`
    * columns carried through — the seam that lets a consumer compute the
    * language verdict ON ITS OWN corpus scan row (and keep e.g. `text`
    * for further per-row work) instead of joining two corpus-sized
    * frames by doc_id (r17: the fertility queries' doc_id shuffle join
    * is gone — lang rides the encode pass). */
  private def langIdOf(docs: DataFrame, keep: Seq[String]): DataFrame = {
    // one codegen'd regexp_count per language profile (token boundaries
    // asserted by lookarounds), argmax as a per-row CASE chain — narrow
    // plan: no token-array explode and NO per-doc window shuffle. Ties
    // resolve to the alphabetically-first language, matching the oracle's
    // (score DESC, lang ASC) rank.
    val scoreCols = TextLang.langs.map { case (lang, words) =>
      // \z not $ — see textStats
      s"CAST(regexp_count(text, '(?<=^| )(?:${words.mkString("|")})(?= |\\\\z)') AS BIGINT) AS s_$lang"
    }
    val langsSorted = TextLang.langs.map(_._1).sorted
    val best = langsSorted.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val pick = langsSorted.map(l => s"WHEN s_$l = __best THEN '$l'")
      .mkString("CASE ", " ", " END")
    docs
      .selectExpr(Seq("doc_id") ++ keep ++ scoreCols: _*)
      .withColumn("__best", expr(best))
      .selectExpr(Seq("doc_id") ++ keep ++
        Seq(s"$pick AS lang", "__best AS score"): _*)
  }

  /** Multimodal metadata pass: binary payload column + typed metadata
    * (byte length, content hash) — the columnar media-plumbing surface. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.withPayload(Tables.documents(spark, dir), "text")
      .select("doc_id", "byte_len", "content_hash")

  /** Multimodal feature extraction (partition-batched decode with the codec
    * STUBBED — deterministic byte statistics stand in for decoded frames).
    * Rows-only check: the stub's array output is not oracle-SQL-stated. */
  /** REAL image-header decode: deterministic real PNG/JPEG blobs (written
    * by the JDK's ImageIO — actual format bytes) parsed by the pure-JVM
    * header reader ([[graft.ops.MultimodalOps.imageMeta]] /
    * [[graft.functions.ImageHeader]]). The oracle states the expected
    * dimensions arithmetically, so this passes only if real format bytes
    * round-trip through the real parser. */
  def multimodalHeaders(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.imageMeta(
      graft.ops.MultimodalOps.synthImages(
        Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .select("doc_id", "format", "width", "height", "bit_depth", "channels")

  /** REAL pixel decode: the PNG half of the synthetic corpus decompressed
    * by ImageIO, per-channel integer pixel sums off the decoded raster
    * ([[graft.ops.MultimodalOps.pixelSums]]) — lossless, so the oracle
    * states the sums exactly from the known fill color. */
  def multimodalPixels(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.pixelSums(
      graft.ops.MultimodalOps.synthImages(
        Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .select("doc_id", "n_px", "sum_r", "sum_g", "sum_b")

  /** Perceptual image fingerprints over REAL decoded rasters: deterministic
    * gradient PNGs ([[graft.ops.MultimodalOps.synthGradientImages]] — every
    * id ≡ 9 mod 10 is a locally-edited VARIANT of id−1) through the
    * standard dHash (9×8 luminance grid, one bit per horizontal neighbor
    * pair — [[graft.ops.MultimodalOps.dHash]]). The oracle restates the
    * full pipeline (nearest-neighbor sample positions, integer luminance,
    * gradient bits) from the PNG color ramps arithmetically — valid
    * because PNG round-trips losslessly — so this row is green only if a
    * real ImageIO decode feeds a bit-exact perceptual hash. Narrow
    * mapPartitions, zero shuffles. */
  def imageDhash(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.dHash(
      graft.ops.MultimodalOps.synthGradientImages(
        Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .select("doc_id", "dhash")

  /** IMAGE train/test contamination — the multimodal member of the
    * leakage-check family (text contamination catches shared shingles;
    * re-encoded or lightly-edited images leak past byte hashes): split
    * images 80/10/10 by the id hash (the [[trainSplit]] discipline on
    * doc_id alone — payloads are derived from ids), then find test
    * images with a hamming-near (≤ 8) TRAIN image through the same
    * 4×16-bit banded candidates as [[dedupDhash]] — asymmetric by
    * construction (test-side probes against train-side band keys only,
    * candidates scale with the test split). The train side carries the
    * same hot-band cap as [[dedupDhash]] (≤ 20 docs per band key): a
    * degenerate band shared by many train images — a solid-color
    * boilerplate band — would otherwise pair every probing test image
    * with ALL of them, quadratic in the hot key; capping the train side
    * bounds per-probe fanout at 20 candidates per band (no ≥2 floor —
    * a singleton train band is a perfectly good probe target here).
    * Per test image: its nearest train hamming and the match count —
    * the gate an image-bench curator runs before trusting held-out
    * numbers. */
  def contaminationImage(spark: SparkSession, dir: String): DataFrame =
    contaminationImageOf(imageDhash(spark, dir))

  /** [[contaminationImage]] over any (doc_id, dhash) frame — factored so
    * the hot-band cap is testable against a degenerate corpus
    * (GuardrailSpec trips it with a solid-color boilerplate band; the
    * dir entry point never exercises it on the driver testdata). */
  private[graft] def contaminationImageOf(hashed: DataFrame): DataFrame = {
    val d = hashed
      .selectExpr("doc_id", "dhash",
        s"${DedupOps.md5Long("CAST(doc_id AS STRING)")} % 10 AS b")
      .selectExpr("doc_id", "dhash",
        "CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split")
      .localCheckpoint()
    def bandsOf(df: DataFrame) = df
      .selectExpr("doc_id", "dhash", "explode(sequence(0, 3)) AS j")
      .selectExpr("doc_id", "dhash", "j",
        "shiftright(dhash, 16 * CAST(j AS INT)) & 65535 AS bkey")
    val trAll = bandsOf(d.filter("split = 'train'"))
    val usable = trAll.groupBy("j", "bkey").agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= 20).select("j", "bkey")
    val tr = trAll.join(usable, Seq("j", "bkey"))
    val te = bandsOf(d.filter("split = 'test'"))
    te.alias("a").join(tr.alias("b"),
        col("a.j") === col("b.j") && col("a.bkey") === col("b.bkey"))
      .selectExpr("a.doc_id AS doc_id", "b.doc_id AS train_id",
        "CAST(bit_count(a.dhash ^ b.dhash) AS BIGINT) AS hamming")
      .distinct()
      .filter(col("hamming") <= 8)
      .groupBy("doc_id")
      .agg(min(col("hamming")).as("min_hamming"),
        count(lit(1)).as("n_near_train"))
  }

  /** Energy-contour audio fingerprints over REAL decoded PCM: the synth
    * WAV corpus (actual RIFF bytes from the JDK encoder) through
    * [[graft.ops.MultimodalOps.audioFingerprint]] — 16 exact integer
    * window energies, 15 contour bits. The oracle restates windows,
    * energies and bits from the PCM sample formula arithmetically, so
    * the row is green only if real WAV bytes round-trip through a real
    * parse into a bit-exact contour. Narrow mapPartitions, zero
    * shuffles. */
  def audioFingerprintQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.audioFingerprint(
      graft.ops.MultimodalOps.synthAudio(
        Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .select("doc_id", "n_frames", "fp", "e_total")

  /** Frame-contour video fingerprint — the third modality's perceptual
    * hash: per video the per-frame byte sums (REAL index-directed frame
    * reads, [[graft.ops.MultimodalOps.frameFacts]] over the stsz/stco
    * sample-table walk) reduced to frame-to-frame gradient bits, the same
    * contour idiom as image dHash / audio contour. The facts table is
    * materialized once (two consumers). Oracle restates frames, sums and
    * bits from the container formula end to end.
    *
    * The fingerprint carries the FIRST 63 gradient bits only (frame
    * transitions 0→1 … 62→63): Java's `shiftleft(1, i)` wraps the shift
    * amount mod 64, so an uncapped term would silently alias transition
    * 64 onto bit 0 (and bit 63 flips the sign) for any real video ≥ 64
    * frames — the r10 advice finding. 63 transitions is the dHash-style
    * sketch budget anyway; longer videos are summarized by their first
    * 64 frames, stated identically in the oracle. */
  def videoFingerprintQ(spark: SparkSession, dir: String): DataFrame = {
    val facts = graft.ops.MultimodalOps.frameFacts(
      graft.ops.MultimodalOps.synthFrameVideos(
        Tables.documents(spark, dir).select("doc_id"))).toDF()
      .localCheckpoint()
    val bits = facts.alias("a").join(facts.alias("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.frame_idx") === col("a.frame_idx") + 1 &&
          col("a.frame_idx") < 63)
      .selectExpr("a.doc_id AS doc_id",
        "CASE WHEN a.f_sum < b.f_sum THEN shiftleft(CAST(1 AS BIGINT), CAST(a.frame_idx AS INT)) ELSE CAST(0 AS BIGINT) END AS t")
      .groupBy("doc_id").agg(sum(col("t")).as("fp"))
    facts.groupBy("doc_id")
      .agg((max(col("frame_idx")) + 1).as("n_frames"),
        sum(col("f_sum")).as("s_total"))
      .join(bits, "doc_id")
      .select("doc_id", "n_frames", "fp", "s_total")
  }

  /** Image NEAR-DUP pairs over the perceptual fingerprints — the
    * image-side member of the dedup family (byte hashes catch only exact
    * re-uploads; dHash catches re-encodes, brightness shifts, local
    * edits): 4×16-bit hamming bands (a pair within hamming ≤ 8 of 64
    * bits is guaranteed to agree on ≥ 1 band... when its flips cluster —
    * here variants flip only bottom-row bits, i.e. band 3), band keys
    * capped at 2–20 docs exactly like [[dedupWinnow]]'s hot-fp cap (a
    * boilerplate band would otherwise pair the corpus quadratically),
    * then the exact `bit_count(a ^ b) ≤ 8` hamming verify on the banded
    * candidates. Scale shape: the banded join is the SimHash/MinHash
    * candidate discipline applied to images — never image × image. */
  def dedupDhash(spark: SparkSession, dir: String): DataFrame = {
    val d = imageDhash(spark, dir).localCheckpoint()
    val bands = d.selectExpr("doc_id", "dhash",
      "explode(sequence(0, 3)) AS j")
      .selectExpr("doc_id", "dhash", "j",
        "shiftright(dhash, 16 * CAST(j AS INT)) & 65535 AS bkey")
    val usable = bands.groupBy("j", "bkey").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= 20).select("j", "bkey")
    val bu = bands.join(usable, Seq("j", "bkey"))
    bu.alias("a").join(bu.alias("b"),
        col("a.j") === col("b.j") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
        "CAST(bit_count(a.dhash ^ b.dhash) AS BIGINT) AS hamming")
      .distinct()
      .filter(col("hamming") <= 8)
  }

  /** REAL audio decode: deterministic WAV blobs written by the JDK's
    * `javax.sound.sampled` encoder (actual RIFF bytes), parsed back by the
    * pure-JVM container reader and 16-bit PCM decoder
    * ([[graft.ops.MultimodalOps.audioFacts]] /
    * [[graft.functions.MediaContainers]]). The oracle states channel
    * count, sample rate, frame count and BOTH PCM sums arithmetically —
    * this passes only if real WAV bytes round-trip through a real parse
    * and sample-exact decode. */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.audioFacts(
      graft.ops.MultimodalOps.synthAudio(
        Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .selectExpr("doc_id", "format", "channels", "sample_rate", "bits",
        "n_samples", "CAST((n_samples * 1000) DIV sample_rate AS BIGINT) AS dur_ms",
        "sum_pcm", "sum_abs")

  /** REAL video-container decode: deterministic ISO-BMFF (MP4) blobs —
    * composed box-by-box to the ISO/IEC 14496-12 layout, alternating
    * mvhd/tkhd version 0/1 — parsed by the pure-JVM box walker
    * ([[graft.ops.MultimodalOps.videoFacts]]). The oracle states brand,
    * timescale, duration, presentation dimensions and the mdat byte sum
    * arithmetically. */
  def multimodalVideo(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.videoFacts(
      graft.ops.MultimodalOps.synthVideo(
        Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .select("doc_id", "format", "brand", "timescale", "duration",
        "width", "height", "mdat_bytes", "mdat_sum")

  /** REAL frame sampling: MP4s carrying a real sample table (stsz/stco)
    * are indexed by [[graft.functions.MediaContainers.parseMp4Samples]]
    * and each frame's bytes are read AT the table's offsets — the
    * index-directed access of a production video pipeline, never a
    * payload scan ([[graft.ops.MultimodalOps.frameFacts]]). The oracle
    * states every frame's offset/size/byte-sum arithmetically, so it is
    * green only if the composed sample table round-trips through the
    * real walk. */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.frameFacts(
        graft.ops.MultimodalOps.synthFrameVideos(
          Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .select("doc_id", "frame_idx", "f_offset", "f_size", "f_sum")

  /** Unified REAL-decoder feature sweep over a mixed-modality corpus
    * (payload modality by doc_id % 4: PNG / WAV / MP4 / opaque bytes):
    * every row's kind comes from magic-byte dispatch and its facts from
    * the matching real decode — ImageIO pixel sums, sample-exact PCM
    * fold, ISO-BMFF walk — with byte-math only on the no-parser-claims
    * slot ([[graft.ops.MultimodalOps.extractFeatures]]). The oracle
    * states all five facts arithmetically per modality. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.ops.MultimodalOps.extractFeatures(
        graft.ops.MultimodalOps.synthMedia(
          Tables.documents(spark, dir).select("doc_id")))
      .toDF()
      .select("doc_id", "kind", "dim1", "dim2", "n_units", "sum1", "sum2")

  /** Attach singleton docs to a CC labeling: every doc gets a cluster
    * (its own id when edge-untouched) — shared by every cluster query. */
  private[queries] def attachSingletons(docIds: DataFrame, cc: DataFrame): DataFrame =
    docIds.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .selectExpr("doc_id", "coalesce(cluster_id, doc_id) AS cluster_id")

  /** The shipped cluster columns: canonical-survivor flag + cluster size
    * (one count shuffled by cluster id). */
  private def withClusterFacts(assign: DataFrame): DataFrame =
    assign
      .withColumn("csize", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .selectExpr("doc_id", "cluster_id", "doc_id = cluster_id AS is_canonical",
        "csize")

  /** Near-dup cluster resolution: MinHash+LSH pairs → connected components
    * → canonical survivor per cluster (min doc_id). One row per document,
    * singletons included — the keep/drop decision a dedup pipeline actually
    * ships.
    *
    * Resolution DEFAULTS to alternating star contraction
    * ([[ClusterOps.connectedComponentsStar]]): O(log²n) rounds regardless
    * of component diameter — the only CC whose round budget survives
    * adversarial long-chain duplicate graphs at 100 TB — and 5× cheaper
    * on the r7 gate artifact (BENCH_RUNS dedup_clusters, propagation,
    * [9.62, 11.73, 4.99] vs dedup_clusters_star [1.84, 1.85, 2.04] on
    * identical pairs; propagation pays 2 driver-blocking jobs per
    * diameter-bound round). Min-label propagation stays available as the
    * parity path ([[dedupClustersProp]]) verified against the SAME
    * oracle. Scale shape: the contraction loop touches only edge-involved
    * docs; the corpus-wide cost is one left join plus a count shuffled by
    * cluster id. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersOf(Tables.documents(spark, dir))

  /** [[dedupClusters]] over an arbitrary (doc_id, text) frame — the
    * from-scratch resolution the streaming press's convergence spec
    * compares against on the SURVIVING corpus after takedowns. */
  def dedupClustersOf(docs: DataFrame): DataFrame = {
    val pairs = DedupOps.minhashPairs(
      DedupOps.allShingles(docs, "text", 3), 16, 4, 0.5)
    val cc = ClusterOps.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    withClusterFacts(attachSingletons(docs, cc))
  }

  /** [[dedupClusters]] with the component resolution swapped to MIN-LABEL
    * PROPAGATION ([[ClusterOps.connectedComponents]] — rounds = component
    * diameter, the cheap path on dense short-diameter near-dup clumps).
    * Output contract is identical, so the SAME recursive-CTE oracle
    * verifies both resolutions end-to-end. */
  def dedupClustersProp(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = DedupOps.minhashPairs(
      DedupOps.allShingles(docs, "text", 3), 16, 4, 0.5)
    val cc = ClusterOps.connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    withClusterFacts(attachSingletons(docs, cc))
  }

  /** INCREMENTAL cluster maintenance end-to-end: the corpus split into an
    * existing BASE (doc_id % 5 != 0, the same split as dedup_incremental)
    * whose cluster assignment already exists, plus a new DELIVERY
    * (doc_id % 5 = 0) folded in WITHOUT re-resolving the base — delivery
    * pairs from [[DedupOps.minhashPairs]] on the delivery alone,
    * delivery↔base edges from the asymmetric band join
    * ([[DedupOps.crossNearPairs]]), and the delta resolved over a
    * delivery-sized quotient graph ([[ClusterOps.incrementalClusters]]).
    *
    * Splitting the band join into base×base ∪ delivery×delivery ∪
    * delivery×base reproduces the FULL corpus pair set exactly (band keys
    * are per-doc; verification is the same per-pair Jaccard), so the
    * incremental composition must emit the SAME assignment as
    * [[dedupClusters]] — and is verified against the same recursive-CTE
    * oracle. In production `baseAssign` is READ from the previous run's
    * output, not recomputed; it is recomputed here only because the query
    * contract is a single self-contained DataFrame over the test corpus. */
  def dedupClustersDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(expr("doc_id % 5 != 0"))
    val delivery = docs.filter(expr("doc_id % 5 = 0"))
    // each side's signature-set table is materialized ONCE and reused by
    // both its within-side banding and the cross banding — the in-query
    // twin of the persisted signature index a production pipeline keeps
    // (without this the base corpus is shingled and aggregated once per
    // banding that references it)
    val bSets = DedupOps.setsOfShingles(
      DedupOps.allShingles(base, "text", 3)).localCheckpoint()
    val dSets = DedupOps.setsOfShingles(
      DedupOps.allShingles(delivery, "text", 3)).localCheckpoint()
    val basePairs = DedupOps.minhashPairsOfSets(bSets, 16, 4, 0.5)
    val baseCc = ClusterOps.connectedComponentsStar(basePairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    val baseAssign = attachSingletons(base, baseCc)
    val ddPairs = DedupOps.minhashPairsOfSets(dSets, 16, 4, 0.5)
    val dbPairs = DedupOps.crossNearPairsOfSets(bSets, dSets, 16, 4, 0.5)
    withClusterFacts(ClusterOps.incrementalClusters(
      baseAssign, delivery.select("doc_id"), ddPairs, dbPairs))
  }

  /** [[dedupClustersDelta]] with the base state READ FROM PARQUET — the
    * production run shape, and the query that makes the incremental cost
    * claim MEASURABLE. [[ClusterState]] persists the base assignment, the
    * signature-set index AND the banded index once (an untimed setup
    * stage, the "previous run" of the pipeline); the work HERE — what the
    * bench times after its warmup rep triggers the setup — is a parquet
    * read of the persisted triple plus the delivery fold: delivery
    * shingling, within-delivery banding, the asymmetric probe of the
    * STORED banded index ([[DedupOps.crossNearPairsFromIndex]] — no
    * signature math over the base, the r8 defect that priced this row at
    * full-resolution cost), star CC over a delivery-sized delta graph,
    * and the relabel join ([[ClusterOps.incrementalClusters]]). The base
    * corpus is never re-shingled, re-signed, re-banded, or re-resolved —
    * so this entry's bench time is the per-delivery cost a 100 TB corpus
    * actually pays, while `dedup_clusters_delta` (self-contained contract)
    * keeps proving the algebra. Verified against the SAME full-corpus
    * recursive-CTE oracle as `dedup_clusters`. */
  def dedupClustersPersist(spark: SparkSession, dir: String): DataFrame = {
    // 2% delivery (mod 50), not the delta query's 20%: a realistic
    // per-delivery fraction of a long-lived corpus, so the bench row
    // prices what a delivery actually costs — the oracle is invariant to
    // the split (any base/delivery partition reproduces the full pair
    // set), only the measured fraction changes
    val mod = ClusterState.PersistDeliveryMod
    val (assignP, setsP, bandsP) = ClusterState.baseStatePaths(spark, dir, mod)
    val baseAssign = spark.read.parquet(assignP)
    val bSets = spark.read.parquet(setsP)
    val bBands = spark.read.parquet(bandsP)
    val delivery = Tables.documents(spark, dir).filter(expr(s"doc_id % $mod = 0"))
    val dSets = DedupOps.setsOfShingles(
      DedupOps.allShingles(delivery, "text", 3)).localCheckpoint()
    // geometry from the SAME constants the state writer used: a probe at
    // a different (perms, rows) than the stored banded index would match
    // nothing with no error (ClusterState encodes it in the paths too)
    val (p, r, t) =
      (ClusterState.BandPerms, ClusterState.BandRows, ClusterState.BandThreshold)
    val ddPairs = DedupOps.minhashPairsOfSets(dSets, p, r, t)
    val dbPairs = DedupOps.crossNearPairsFromIndex(bBands, bSets, dSets, p, r, t)
    withClusterFacts(ClusterOps.incrementalClusters(
      baseAssign, delivery.select("doc_id"), ddPairs, dbPairs))
  }

  /** NEAR-DUP contamination: test-split documents with a verified
    * MinHash near-duplicate (Jaccard ≥ 0.5) in the TRAIN split — the
    * decontamination level labs actually enforce; exact-shingle
    * [[contamination]] misses paraphrased/lightly-edited leaks this
    * catches. Asymmetric band join ([[DedupOps.crossNearPairs]], train as
    * the indexed base): candidates scale with the test split, never
    * train×train. Aggregates are order-independent (count, min id, max of
    * the IEEE-exact jaccard), so the report is bit-deterministic. The
    * oracle restates it from the SYMMETRIC full-corpus pair list
    * restricted to cross-split endpoints — equal because band keys are
    * per-doc and verification per-pair. */
  def contaminationNear(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .selectExpr("doc_id", "text",
        s"${DedupOps.md5Long("concat(CAST(doc_id AS STRING), '|', md5(text))")} % 10 AS sb")
      .selectExpr("doc_id", "text",
        "CASE WHEN sb < 8 THEN 'train' WHEN sb = 8 THEN 'val' ELSE 'test' END AS split")
    DedupOps.crossNearPairs(
        docs.filter(col("split") === "train"),
        docs.filter(col("split") === "test"),
        "text", 3, 16, 4, 0.5)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("base_id")).as("min_train_dup"),
        max(col("jaccard")).as("max_jaccard"))
      .select("doc_id", "n_matches", "min_train_dup", "max_jaccard")
  }

  /** Cluster-quality SCORECARD — the over-merge audit a dedup pipeline
    * reviews before acting on a resolution (LSH false positives chain
    * unrelated docs into one cluster; low pair density / low min-jaccard
    * clusters are the tell): one row per MULTI-doc cluster with its size,
    * verified-pair count vs the possible pair count, and the weakest and
    * strongest pair evidence. min/max of the IEEE-exact jaccard are
    * order-independent, so the audit is bit-deterministic (no double
    * sums). Scale: pair rows shuffle once on cluster id — pairs, not
    * corpus, bound the cost. */
  def clusterScorecard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = DedupOps.minhashPairs(
      DedupOps.allShingles(docs, "text", 3), 16, 4, 0.5).localCheckpoint()
    val cc = ClusterOps.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    val assign = attachSingletons(docs, cc)
    val sizes = assign.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize"))
      .filter(col("csize") > 1)
    val pairStats = pairs
      .join(assign.select(col("doc_id").as("doc_a"), col("cluster_id")), "doc_a")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
    sizes.join(pairStats, Seq("cluster_id"))
      .selectExpr("cluster_id", "csize", "n_pairs",
        "csize * (csize - 1) div 2 AS n_possible",
        "min_jaccard", "max_jaccard")
  }

  /** TAKEDOWN maintenance end-to-end: remove every doc_id % 17 == 0 from
    * the resolved corpus and re-resolve ONLY the clusters they belonged
    * to ([[ClusterOps.removeFromClusters]]) — removals can SPLIT a
    * cluster (the removed doc may be its only bridge), the one lifecycle
    * event [[dedupClustersDelta]]'s contraction cannot absorb. Because
    * surviving-pair evidence is unaffected by removals (band keys are
    * per-doc, verification per-pair), the scoped re-resolution must equal
    * resolving the surviving corpus from scratch — the oracle is the
    * dedup_clusters recursive CTE restricted to surviving docs/pairs. */
  def dedupClustersTakedown(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = DedupOps.minhashPairs(
      DedupOps.allShingles(docs, "text", 3), 16, 4, 0.5)
      .localCheckpoint() // the persisted edge table a pipeline keeps
    val cc = ClusterOps.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    val assign = attachSingletons(docs, cc)
    val removed = docs.filter(expr("doc_id % 17 = 0")).select("doc_id")
    withClusterFacts(ClusterOps.removeFromClusters(
      assign, pairs, "doc_a", "doc_b", removed))
  }

  /** Takedown against PERSISTED state — the other half of what
    * [[dedupClustersPersist]] makes measurable. [[dedupClustersTakedown]]
    * proves the scoped-re-resolution algebra but recomputes the full
    * corpus resolution in-query (the self-containment tax its scaladoc
    * concedes), so its bench time prices base recompute, not the
    * takedown. Here the assignment and the near-dup edge table are READ
    * from parquet ([[ClusterState.fullStatePaths]], written once by the
    * setup stage — exactly the pair of tables a production pipeline
    * persists next to its resolution), and the timed work is only what a
    * real takedown pays: two scoping joins keyed by cluster/doc id plus a
    * star CC over the affected clusters' surviving edges. Verified
    * against the SAME restricted recursive-CTE oracle as
    * dedup_clusters_takedown. */
  def dedupClustersTakedownPersist(spark: SparkSession, dir: String): DataFrame = {
    val (assignP, pairsP) = ClusterState.fullStatePaths(spark, dir)
    val assign = spark.read.parquet(assignP)
    val pairs = spark.read.parquet(pairsP)
    val removed = Tables.documents(spark, dir)
      .filter(expr("doc_id % 17 = 0")).select("doc_id")
    withClusterFacts(ClusterOps.removeFromClusters(
      assign, pairs, "doc_a", "doc_b", removed))
  }

  /** Leakage-safe train/val/test split: bucket by the near-dup CLUSTER
    * (from [[dedupClusters]]), not the document — so near-duplicates can
    * never straddle train and test, the classic split-contamination bug a
    * per-doc hash split ([[trainSplit]]) carries. Scale shape: the split
    * itself adds zero exchanges on top of the cluster resolution — one
    * codegen'd hash projection on its output. */
  def trainSplitSafe(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .selectExpr("doc_id", "cluster_id",
        s"${DedupOps.md5Long("CAST(cluster_id AS STRING)")} % 10 AS bucket")
      .selectExpr("doc_id", "cluster_id", "bucket",
        "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split")

  /** Quality-argmax canonical selection per near-dup cluster: within each
    * [[dedupClusters]] cluster, keep the HIGHEST-[[textQuality]] member
    * (ties break to the lower doc_id) — the production keeper policy,
    * where the min-id `is_canonical` flag is only an arbitrary
    * representative. Safe to rank on the double score because
    * text_quality itself is hash-green (both engines produce the same
    * IEEE doubles in the same operation order). Scale shape: one doc_id
    * join of two green passes + one rank window keyed by cluster_id —
    * singleton clusters (the corpus mass) rank trivially and AQE
    * coalesces them; no new corpus-sized exchange beyond the parents'. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir).select("doc_id", "cluster_id", "csize")
      .join(textQuality(spark, dir), "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id").asc)).cast("long"))
      .selectExpr("doc_id", "cluster_id", "csize", "quality", "rn",
        "rn = 1 AS keep")

  /** The corpus MANIFEST — the full curation press as one query, the
    * table a pipeline actually ships to training: per document its
    * quality score, repetition verdict, near-dup-cluster canonical flag
    * ([[dedupCanonical]]'s quality-argmax keeper), the combined keep
    * decision (quality ≥ 0.5 AND repetition pass AND canonical), and the
    * leakage-safe split (cluster-hash bucketing, [[trainSplitSafe]]).
    * Composition discipline: the cluster resolution runs ONCE and feeds
    * both the canonical rank and the split hash — the expensive pass is
    * shared, not recomputed per consumer. Short documents without a
    * trigram drop out with the repetition join, matching
    * [[curateCorpus]]'s gate semantics — and the canonical rank runs
    * AFTER that join, so a cluster whose quality-argmax keeper is too
    * short to be repetition-scored promotes its next-best SURVIVING
    * member instead of shipping with zero canonical/keep rows (the
    * manifest's keeper may therefore differ from [[dedupCanonical]]'s on
    * exactly those clusters: dedupCanonical states the pure near-dup
    * keeper policy; the manifest states it among gate-survivors). */
  def corpusManifest(spark: SparkSession, dir: String): DataFrame =
    corpusManifestOf(Tables.documents(spark, dir))

  /** [[corpusManifest]] over an arbitrary (doc_id, text) frame — the
    * batch truth the streaming press ([[StreamingJobs.runCurationPress]])
    * must converge to on the surviving corpus. */
  def corpusManifestOf(docs: DataFrame): DataFrame =
    manifestOverClusters(dedupClustersOf(docs).select("doc_id", "cluster_id"), docs)

  /** The manifest computed from a PERSISTED cluster assignment
    * ([[ClusterState.fullStatePaths]]) — the cost shape a production
    * press actually pays per shipment: the near-dup resolution (the
    * expensive pass — banded pairs + star CC) is state maintained by the
    * delivery/takedown lifecycle, so shipping a manifest costs only the
    * two linear scorer scans + the rank. Same oracle as
    * [[corpusManifest]] (the persisted assignment IS the from-scratch
    * assignment), pricing the self-containment tax the corpus_manifest
    * row pays — the manifest sibling of dedup_clusters_persist. */
  def corpusManifestPersist(spark: SparkSession, dir: String): DataFrame = {
    val (assignP, _) = ClusterState.fullStatePaths(spark, dir)
    manifestOverClusters(
      spark.read.parquet(assignP).select("doc_id", "cluster_id"),
      Tables.documents(spark, dir))
  }

  /** The post-resolution half of the press (repetition gate + quality
    * join + canonical rank + split hash), shared by the from-scratch and
    * persisted-assignment manifests. */
  private def manifestOverClusters(cl: DataFrame, docs: DataFrame): DataFrame = {
    val rep = gopherRepetitionOf(docs)
      .select(col("doc_id"), col("pass").as("rep_pass"))
    cl.join(textQualityOf(docs), "doc_id")
      .join(rep, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id").asc)))
      .selectExpr("doc_id", "cluster_id", "quality", "rep_pass",
        "rn = 1 AS canonical",
        "quality >= CAST(0.5 AS DOUBLE) AND rep_pass AND rn = 1 AS keep",
        s"${DedupOps.md5Long("CAST(cluster_id AS STRING)")} % 10 AS bucket")
      .selectExpr("doc_id", "cluster_id", "quality", "rep_pass", "canonical",
        "keep",
        "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split")
  }

  /** Curation YIELD by delivery source — the sourcing business report on
    * top of [[corpusManifest]]: per source, how many documents entered
    * the press, how many each gate rejected (quality / repetition /
    * non-canonical — flags counted independently, so a doc failing two
    * gates appears under both), how many survive, and the keep rate as
    * an exact integer per-myriad. The number that decides which
    * crawls/feeds are worth paying for. One broadcast-able join of the
    * manifest to the doc→source map + a |sources|-row aggregation. */
  def curationYield(spark: SparkSession, dir: String): DataFrame =
    corpusManifest(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") < 0.5, 1L).otherwise(0L)).as("n_low_quality"),
        sum(when(!col("rep_pass"), 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(!col("canonical"), 1L).otherwise(0L)).as("n_dup_shadowed"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .selectExpr("source", "n_docs", "n_low_quality", "n_repetitive",
        "n_dup_shadowed", "n_kept",
        "n_kept * 10000L div n_docs AS keep_per_myriad")

  /** Sentence segmentation with stable indices: sentences are maximal runs
    * of non-terminator characters plus an optional trailing `[.!?]` —
    * an RE2-safe contract (no lookbehind) both engines state identically,
    * so the oracle hash-verifies the full segmentation. `sent_idx` is the
    * match position BEFORE empty-after-trim matches are dropped, so
    * downstream joins see stable indices under edits to neighbors.
    * Narrow plan: scan → regexp_extract_all → posexplode, zero shuffles. */
  def docSentences(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id",
        "posexplode(regexp_extract_all(text, '[^.!?]+[.!?]?', 0)) AS (i0, s)")
      .selectExpr("doc_id", "CAST(i0 + 1 AS BIGINT) AS sent_idx",
        "trim(s) AS sent_text", "CAST(length(trim(s)) AS BIGINT) AS n_chars")
      .filter(col("sent_text") =!= "")

  /** Overlapping-window document chunking (the RAG/embedding-prep shape):
    * fixed `win`-token windows starting every `stride` tokens — start
    * positions are `sequence(1, n_tokens, stride)`, so trailing windows
    * shorten rather than shift (deterministic, engine-restatable; a
    * production chunker that suppresses sub-window tails filters on
    * `n_tok`). Narrow plan: scan → split → explode → slice, zero
    * shuffles — each chunk row carries its token offset so downstream
    * embedding/dedup stages can map hits back into the document. */
  def docChunks(spark: SparkSession, dir: String, win: Int = 64,
                stride: Int = 48): DataFrame =
    docChunksTok(spark, dir, win, stride)
      .selectExpr("doc_id", "chunk_idx", "tok_start", "n_tok",
        "array_join(cw, ' ') AS chunk_text")

  /** [[docChunks]] with the chunk kept as its TOKEN ARRAY (`cw`) instead
    * of re-joined text — the form embedding consumers actually want
    * ([[chunkTopK]] previously re-split the joined chunk_text, paying the
    * corpus tokenization twice). Same chunking, shared code. */
  def docChunksTok(spark: SparkSession, dir: String, win: Int = 64,
                   stride: Int = 48): DataFrame =
    docChunksTokOf(Tables.documents(spark, dir), win, stride)

  /** [[docChunksTok]] over a caller-supplied documents frame — the seam
    * the chunk-retrieval queries use to raise scan parallelism on the RAW
    * (doc_id, text) rows BEFORE the tokenize/explode (an exchange of
    * exploded token-array chunk rows moves ~win/stride× the text and
    * sorts it; r17 A/B at 32 cores/sf0.1: chunk-table checkpoint
    * 0.93 → 0.53 s raw-first). */
  def docChunksTokOf(docs: DataFrame, win: Int = 64,
                     stride: Int = 48): DataFrame =
    docs
      .selectExpr("doc_id", "filter(split(trim(text), ' '), t -> t <> '') AS w")
      .selectExpr("doc_id", "w", "size(w) AS n")
      .filter(col("n") > 0)
      .selectExpr("doc_id", "w", "n", s"explode(sequence(1, n, $stride)) AS st")
      .selectExpr("doc_id",
        s"CAST((st - 1) div $stride AS BIGINT) AS chunk_idx",
        "CAST(st AS BIGINT) AS tok_start",
        s"CAST(least($win, n - st + 1) AS BIGINT) AS n_tok",
        s"slice(w, st, $win) AS cw")

  /** Chunk→embed→retrieve composition — the production RAG-prep shape:
    * [[docChunks]] output → deterministic chunk embeddings → cosine top-k
    * retrieval → hits mapped BACK to (doc_id, chunk_idx, token offset),
    * proving the chunker's offsets survive retrieval end-to-end.
    *
    * Embedding: signed feature hashing (Weinberger et al., ICML'09) —
    * each token hashes to ONE of `dim` buckets (60-bit md5 prefix mod
    * dim, the [[DedupOps.md5Long]] fragment shared with the oracle) with
    * a ±1 sign from hash bit 40; the chunk vector is the per-bucket sign
    * sum over ALL token occurrences. Integer-exact by construction, so
    * dot products and norms are exact BIGINT sums and the final
    * `dot/(√nq·√nc)` is IEEE-bit-deterministic — the same determinism
    * contract as [[SimilarityOps]]' 1e7-quantized cosine.
    *
    * Plan shape: the embedding is a NARROW per-row expression chain
    * (split → hash per token → dim×ntok aggregate), zero shuffles — the
    * map-only stage a 100 TB chunk corpus needs; queries (docs with
    * doc_id % 125 = 0 — a BOUNDED retrieval batch: brute-force scoring is
    * O(corpus × batch) by construction, so the batch is held at
    * retrieval-request size and bulk retrieval belongs to the PQ/IVF
    * family) are broadcast against one corpus scan and scored
    * with the native `ldot` primitive; the only exchange is the per-query
    * top-k rank. Zero-norm chunks (signs fully cancelled) are excluded
    * from both sides — cosine is undefined for them. */
  /** Raise `df`'s partition count to the session's default parallelism
    * BEFORE a localCheckpoint that feeds a fan-out scoring stage
    * (broadcast join + per-partition top-k). A chunk table derived
    * narrowly from a single-split parquet scan materializes as ONE
    * checkpoint partition, serializing every downstream pair-scoring loop
    * on one core; corpora already split across ≥ parallelism partitions
    * pass through untouched, so at 100 TB this is a no-op, not an extra
    * corpus shuffle. */
  private def withMinParallelism(df: DataFrame): DataFrame =
    graft.ops.Parallelism.ensureMin(df)

  /** Token-hash array expression over a chunk's token array `cw` — the
    * shared front half of the feature-hash chunk embedding
    * ([[chunkTopK]], [[chunkTopKPq]]). */
  private def chunkHvExpr: String = s"transform(cw, t -> ${DedupOps.md5Long("t")})"

  /** SINGLE-PASS bucket-sum over the token hashes `hv` building the whole
    * dim-vector: one fold, NOT a per-dimension aggregate. The
    * per-dimension form re-evaluated `hv` (64 md5s) once per dimension
    * after CollapseProject inlined it — 2048 md5s per chunk, and the r8
    * bench measured 27 s for what is an 8k-vector problem. Same output
    * exactly: per-bucket ±1 sums over tokens in token order (integer
    * addition, commutative — the DuckDB oracle groups by bucket). */
  private def chunkFoldExpr(dim: Int): String =
    s"aggregate(hv, array_repeat(0L, $dim), (acc, h) -> " +
      s"transform(acc, (v, j) -> v + IF(h % $dim = CAST(j AS BIGINT), " +
      "IF(shiftright(h, 40) & 1 = 1, 1L, -1L), 0L)))"

  def chunkTopK(spark: SparkSession, dir: String, dim: Int = 32,
                k: Int = 3): DataFrame = {
    graft.functions.QuantizedDot.register(spark)
    val hv = chunkHvExpr
    val comp = chunkFoldExpr(dim)
    // two localCheckpoints, both of chunk-count-sized tables (tiny next to
    // the corpus text): the first pins the md5 token hashes so the
    // norm/filter consumers re-fold cheap integers instead of re-hashing,
    // the second stops the whole embedding chain from being re-evaluated
    // by BOTH join sides
    // parallelism raised on the RAW (doc_id, text) rows BEFORE the
    // chunk/tokenize explode so the md5 work is distributed and the
    // exchange moves un-exploded text, not win/stride-duplicated token
    // arrays (r17: 0.93 → 0.53 s for the chunk-table materialization)
    val hashed = docChunksTokOf(withMinParallelism(
        Tables.documents(spark, dir).select("doc_id", "text")))
      .selectExpr("doc_id", "chunk_idx", "tok_start", s"$hv AS hv")
      .localCheckpoint()
    val vecs = hashed
      .selectExpr("doc_id", "chunk_idx", "tok_start", s"$comp AS qvec")
      .selectExpr("doc_id", "chunk_idx", "tok_start", "qvec",
        "ldot(qvec, qvec) AS norm2")
      .filter(col("norm2") > 0)
      .localCheckpoint()
    val qs = vecs.filter(expr("doc_id % 125 = 0"))
      .selectExpr("doc_id AS q_doc", "chunk_idx AS q_chunk",
        "qvec AS qq", "norm2 AS nq")
    vecs
      .selectExpr("doc_id AS c_doc", "chunk_idx AS c_chunk",
        "tok_start AS c_tok_start", "qvec AS qc", "norm2 AS nc")
      .crossJoin(broadcast(qs))
      .filter(col("q_doc") =!= col("c_doc"))
      .selectExpr("q_doc", "q_chunk", "c_doc", "c_chunk", "c_tok_start",
        "nq", "nc", "ldot(qq, qc) AS dot")
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_doc"), col("q_chunk"))
          .orderBy(col("cos").desc, col("c_doc").asc, col("c_chunk").asc)).cast("long"))
      .filter(col("rn") <= k)
      .select("q_doc", "q_chunk", "c_doc", "c_chunk", "c_tok_start", "cos", "rn")
  }

  /** Chunk-id packing for the PQ retrieval path: a chunk is addressed as
    * ONE BIGINT `vec_id = doc_id · 2^16 + chunk_idx`, so the whole PQ
    * stack (codebook fit, encode, ADC, re-rank — all keyed by a single
    * vector id) applies unchanged and the hit set maps back to
    * (doc_id, chunk_idx, token offset) by div/mod. 2^16 chunk slots per
    * doc = docs up to ~3.1M tokens at the default 48-token stride —
    * far past this corpus' documents; a corpus of book-length docs would
    * widen the packing constant. */
  val ChunkIdMod: Long = 1L << 16

  /** BULK chunk retrieval via product quantization — the scale path
    * [[chunkTopK]]'s scaladoc defers to, composed end-to-end:
    * [[docChunksTok]] → feature-hash chunk embeddings (identical fold to
    * chunkTopK) → PQ codebook fit on the chunk corpus → ADC shortlist →
    * exact integer-L2 re-rank ([[SimilarityOps.pqTopKRerankQ]]) → hits
    * mapped back to (doc_id, chunk_idx, token offset). Queries are every
    * chunk of every 25th document (5× chunk_topk's batch): per-query cost
    * is nSub=8 LUT lookups per candidate code row instead of a
    * dim-length dot per corpus vector — the shape that lets a RAG index
    * answer retrieval over a 100 TB chunk corpus from codes (≤ 8 small
    * ints per chunk) rather than full vectors.
    *
    * Scale notes: the chunk-vector plan is deliberately NOT checkpointed —
    * it stays a deterministic expression chain over the parquet scan, so
    * the memoized codebook (keyed by canonicalized plan + file
    * fingerprint) fits ONCE per corpus and every later invocation is
    * probe-only, the train-once/probe-many economics of a real PQ index;
    * a production deployment would persist the codes table the same way
    * [[ClusterState]] persists the banded minhash index. Exclusion is by
    * DOCUMENT (a query never retrieves its own doc's chunks), matching
    * chunk_topk. Exact re-rank of the 32-candidate shortlist makes the
    * result oracle-statable: the DuckDB oracle restates fit, encode, ADC
    * and re-rank in exact integer arithmetic, like pq_topk_rr. */
  def chunkTopKPq(spark: SparkSession, dir: String, dim: Int = 32,
                  k: Int = 3, shortlist: Int = 32): DataFrame = {
    // 8 subspaces of dim/8: a non-multiple would integer-divide into
    // subspaces that silently drop the trailing dimensions
    require(dim % 8 == 0, s"chunkTopKPq: dim $dim must be a multiple of 8")
    graft.functions.QuantizedDot.register(spark)
    // parallelism raised on the RAW documents rows BEFORE the
    // chunk/tokenize explode and the hash+fold projections (the expensive
    // per-chunk work) so they run distributed even off a one-split scan
    // while the exchange moves un-exploded text (see docChunksTokOf);
    // the repartition is part of the fitOn plan too, which is fine — the
    // codebook memo needs the plan STABLE across invocations, not minimal
    val vecsPlan = docChunksTokOf(withMinParallelism(
        Tables.documents(spark, dir).select("doc_id", "text")))
      .selectExpr(s"doc_id * $ChunkIdMod + chunk_idx AS vec_id",
        s"$chunkHvExpr AS hv")
      .selectExpr("vec_id", s"${chunkFoldExpr(dim)} AS qvec")
    // codebook fitted on the DETERMINISTIC plan (memo hit across runs =
    // train-once); probes run over one checkpointed materialization so
    // the tokenize→hash→fold chain executes once, not once per consumer.
    // The checkpoint keeps the raised partitioning, so the ADC loop and
    // the partial top-k sort run across all cores — off a one-split scan
    // without it, the whole probe serialized on one task (measured 5 s
    // vs ~0.5 s at sf0.1)
    val vecs = vecsPlan.localCheckpoint()
    SimilarityOps.pqTopKRerankQ(vecs, nSub = 8, subDim = dim / 8,
        queryPred = s"(vec_id div $ChunkIdMod) % 25 = 0", k = k,
        shortlist = shortlist,
        excludeExpr = s"q_id div $ChunkIdMod <> c_id div $ChunkIdMod",
        fitOn = Some(vecsPlan))
      .selectExpr(
        s"q_id div $ChunkIdMod AS q_doc", s"q_id % $ChunkIdMod AS q_chunk",
        s"c_id div $ChunkIdMod AS c_doc", s"c_id % $ChunkIdMod AS c_chunk",
        // tok_start = chunk_idx·stride + 1 (docChunksTok's start sequence)
        s"(c_id % $ChunkIdMod) * 48 + 1 AS c_tok_start",
        "l2", "rn")
  }

  /** Default seqPack shard count — the value both the query entry and its
    * oracle restatement interpolate, so they can never drift. Small here
    * because the oracle corpus is small; see [[seqPack]] for sizing. */
  val SeqPackShards: Int = 8

  /** Sequence packing for pretraining: concatenate each shard's documents
    * in doc_id order into a token stream and cut fixed 512-token context
    * windows; emit every doc's stream offset and spanned window range.
    * The running sum is windowed PER SHARD (the unit a packing worker owns)
    * — never a global single-partition prefix scan.
    *
    * `shards` bounds the packing parallelism: each shard is one window
    * partition = one reducer sorting its slice, so size it to the cluster
    * (≈ a few × total executor cores at 100 TB — e.g. 4096 for a
    * 1000-executor job), NOT the [[SeqPackShards]] oracle default, which
    * only matches the small test corpus. */
  def seqPack(spark: SparkSession, dir: String,
              shards: Int = SeqPackShards): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", s"doc_id % $shards AS shard",
        "CAST(regexp_count(text, '(?<=^| )[^ ]') AS BIGINT) AS n_tok")
      .filter(col("n_tok") > 0)
      .withColumn("tok_end", sum(col("n_tok")).over(
        Window.partitionBy(col("shard")).orderBy(col("doc_id"))))
      .selectExpr("doc_id", "shard", "n_tok",
        "tok_end - n_tok AS tok_start",
        "(tok_end - n_tok) div 512 AS bin_first",
        "(tok_end - 1) div 512 AS bin_last",
        "(tok_end - 1) div 512 - (tok_end - n_tok) div 512 + 1 AS n_bins")

  /** Domain balancing by deterministic upsampling: repeat each document
    * `min(4, max_lang_count / lang_count)` times so minority languages
    * approach the majority's mass (integer epochs only — no fractional
    * sampling, no rand()). The per-lang counts are a 5-row broadcast; the
    * corpus side is one narrow explode. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val mx = counts.agg(max(col("n")).as("maxn"))
    docs.select("doc_id", "lang")
      .join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(mx))
      .selectExpr("doc_id", "lang", "least(4L, maxn div n) AS repeats")
      .selectExpr("doc_id", "lang", "repeats",
        "explode(sequence(1L, repeats)) AS copy_ix")
  }

  /** Temperature-damped domain mixing (the multilingual α=0.5 upsampling):
    * each language's post-mix size is EXACTLY `K = ⌊√(maxn·n)⌋` — i.e.
    * `n·√(maxn/n)`, the square-root compromise between natural frequency
    * and uniform that [[domainMix]]'s linear `maxn/n` overshoots. Every
    * doc gets `K div n` copies and the `K mod n` remainder docs (chosen by
    * deterministic hash rank within the language — no rand()) one more,
    * so `Σ copies = K` per language, sharply.
    *
    * Integer-exact on purpose: `maxn·n` is an exact double for corpora to
    * 2^52 and IEEE sqrt is correctly rounded, so `⌊√x⌋` is bit-identical
    * across engines — no pow()/libm divergence risk in the oracle.
    *
    * Scale: the remainder selection needs a per-language total order —
    * the same per-stratum rank the quota sampler uses; at 100 TB either
    * reuse that machinery or take the remainder by hash threshold
    * (approximate to ±hash-collision error) and skip the rank shuffle. */
  def domainMixTemp(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val mx = counts.agg(max(col("n")).as("maxn"))
    docs.selectExpr("doc_id", "lang",
        "md5(concat(CAST(doc_id AS STRING), '|', md5(text))) AS hh")
      .withColumn("r", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("hh"))).cast("long"))
      .join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(mx))
      .selectExpr("doc_id", "lang", "r", "n",
        "CAST(floor(sqrt(CAST(maxn * n AS DOUBLE))) AS BIGINT) AS k")
      .selectExpr("doc_id", "lang",
        "k div n + (CASE WHEN r <= k % n THEN 1L ELSE 0L END) AS copies")
      .selectExpr("doc_id", "lang", "copies",
        "explode(sequence(1L, copies)) AS copy_ix")
  }

  /** End-to-end curation decision: per document, the quality score, the
    * repetition gate, exact-dup canonicality, and the combined keep flag —
    * the composed filter chain a corpus build actually runs. Flags, not a
    * filtered subset, so every stage's verdict is auditable. */
  def curateCorpus(spark: SparkSession, dir: String): DataFrame = {
    val q = textQuality(spark, dir)
    val rep = gopherRepetition(spark, dir)
      .select(col("doc_id"), col("pass").as("rep_pass"))
    val canon = dedupExact(spark, dir)
      .select(col("keep_id").as("doc_id"), lit(true).as("canon"))
    q.join(rep, "doc_id")
      .join(canon, Seq("doc_id"), "left")
      .selectExpr("doc_id", "quality", "rep_pass",
        "coalesce(canon, false) AS is_canonical",
        "quality >= 0.5D AND rep_pass AND coalesce(canon, false) AS keep")
  }

  /** Deterministic stratified quota sample: the 20 lowest-hash documents
    * per language — reproducible corpus subsetting that never consults
    * rand() ([[graft.ops.SamplingOps]]; `hashRateSample` is the
    * shuffle-free rate-based mode for the 100 TB path). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SamplingOps.stratifiedQuota(
      Tables.documents(spark, dir).select("doc_id", "lang", "text"),
      "lang", "concat(CAST(doc_id AS STRING), '|', md5(text))", 20)
      .select("doc_id", "lang", "rk")

  /** Cross-document repeated-span statistics on 5-token windows: the
    * boilerplate / repeated-paragraph signal ([[DedupOps.spanStats]] — the
    * span-frequency table it builds is what a removal pass joins against). */
  def dupSpanStats(spark: SparkSession, dir: String): DataFrame =
    DedupOps.spanStats(DedupOps.shingleHashes(Tables.documents(spark, dir), "text", 5))

  /** Top-20 most widely shared 5-token spans — the boilerplate
    * inspection table behind every hot-key cap in the dedup family
    * (minhash band caps, containment maxDocsPerSpan, winnow hot-fp cap):
    * it SHOWS the license headers / navigation chrome those caps exclude,
    * with doc reach, occurrence count, and an example doc to pull. One
    * span-keyed aggregation (map-side combined) + distributed top-k
    * (TakeOrderedAndProject — per-partition heaps, no global sort); the
    * (n_docs, n_occurrences, sh) order is total because sh is the group
    * key, so the 20-cut is deterministic in both engines. */
  def boilerplateSpans(spark: SparkSession, dir: String): DataFrame =
    DedupOps.allShingles(Tables.documents(spark, dir), "text", 5)
      .groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"), min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("sh").asc)
      .limit(20)

  /** Product-quantization codes for the whole corpus: 64 quantized dims →
    * 8 nearest-centroid ids from a deterministically trained codebook
    * ([[SimilarityOps.pqCodes]] — sign-LSH-initialized floored-integer-mean
    * centroids, exact BIGINT distances). */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.pqCodes(Tables.embeddings(spark, dir), 64, 8, 8)

  /** PQ asymmetric-distance top-3 neighbors for the first 8 vectors: per
    * query one ≤16-entry LUT per subspace, then 8 array lookups per corpus
    * row — no per-pair dot products ([[SimilarityOps.pqTopK]]). */
  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.pqTopK(Tables.embeddings(spark, dir), 64, 8, 8, "vec_id < 8", 3)

  /** Cross-document repeated-span REMOVAL on 5-token windows: each doc
    * rewritten without the tokens covered by spans shared with other docs
    * ([[DedupOps.spanScrub]] — the transform dup_span_stats measures).
    * text_clean is whitespace-normalized (rebuilt from the token stream). */
  def spanScrub(spark: SparkSession, dir: String): DataFrame =
    DedupOps.spanScrub(Tables.documents(spark, dir), "text", 5)

  /** Per-document salient terms: top-3 by an integer tf·idf-style score
    * (tf × 1e6 div df) — keyword extraction whose ranking is pure integer
    * arithmetic, so order is engine-exact (no floating log/division). */
  def salientTerms(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(filter(split(trim(text), ' '), t -> t <> '')) AS term")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .selectExpr("doc_id", "term", "tf", "df", "tf * 1000000L div df AS score")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)).cast("long"))
      .filter(col("rn") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rn")
  }

  /** Hashed-feature bucket count for [[dsirWeights]] — 2^10 keeps the
    * importance model broadcast-trivial at any corpus size while leaving
    * add-one smoothing mild for this corpus's ~1e4 distinct n-grams. */
  val DsirBuckets: Int = 1024

  /** DSIR-style importance weights (Xie et al., NeurIPS 2023, "Data
    * Selection for Language Models via Importance Resampling"): score each
    * document by how much more likely its hashed bag-of-n-grams is under a
    * TARGET distribution than under the raw corpus — the published
    * data-selection estimator behind quality-targeted pretraining mixes.
    * Target slice here: `lang = 'en'` (a deterministic stand-in for the
    * paper's formal-text reference corpus). Features are unigrams plus
    * adjacent bigrams hashed into [[DsirBuckets]] buckets (the paper's
    * hashed n-gram reduction); bucket probabilities are add-one smoothed;
    * a doc's log-weight is its feature-count-weighted sum of per-bucket
    * log-likelihood ratios. `selected` marks docs more target-like than
    * raw (logw > 0); for a sized selection, feed `logw_q` to the
    * [[sampleWeighted]] machinery instead of thresholding.
    *
    * Engine-exactness contract: the bucket model is integer counts; the
    * ratio `((ct+1)/(cr+1)) · ((R+B)/(T+B))` is two IEEE divisions and a
    * multiply (correctly rounded, bit-identical across engines); `ln` is
    * the ONE libm call in the suite — both engines' ln is faithful to
    * ≤ 1 ulp of a bit-identical input, so the 1e6-quantized `qlr` can
    * diverge only when the true value sits within ~2 ulp (≈ 4e-10) of a
    * half-integer: ~4e-7 odds across 2^10 buckets, pinned for this corpus
    * by the tri-SF oracle runs. Per-doc sums are then exact BIGINT
    * arithmetic (the [[salientTerms]] discipline).
    *
    * Scale shape: ONE corpus-sized exchange — the (doc, bucket) count —
    * whose canonically-equal subtree feeds both the model branch and the
    * scoring branch (the [[lmFluency]] ReusedExchange pattern), then a
    * B-row model crossed with a 1-row total, broadcast back for the
    * per-doc sum. No corpus self-join, no checkpoint. */
  def dsirWeights(spark: SparkSession, dir: String,
                  buckets: Int = DsirBuckets): DataFrame = {
    val feats = dsirFeats(spark, dir, buckets)
    feats.join(broadcast(dsirModel(spark, dir, buckets)), "b")
      .groupBy("doc_id", "lang")
      .agg(sum(col("cnt")).as("n_feats"), sum(expr("cnt * qlr")).as("logw_q"))
      .selectExpr("doc_id", "lang", "lang = 'en' AS is_target",
        "n_feats", "logw_q", "logw_q > 0 AS selected")
  }

  /** Feature-array SQL fragment over token array `w` — bucket ids of all
    * unigrams + adjacent bigrams, shared by the batch aggregation and the
    * streaming per-row scorer (identical bytes → identical hashes). */
  private def dsirFeatArr(buckets: Int): String = {
    val uniH = s"${DedupOps.md5Long("t")} % $buckets"
    val bigH = DedupOps.md5Long("concat(element_at(w, i), ' ', element_at(w, i + 1))")
    s"concat(transform(w, t -> $uniH), " +
      s"IF(size(w) > 1, transform(sequence(1, size(w) - 1), i -> $bigH % $buckets), " +
      "array()))"
  }

  /** Corpus (doc, lang, bucket, cnt) feature counts — the ONE corpus-sized
    * exchange of the DSIR family; its canonically-equal subtree appears
    * under both [[dsirWeights]]'s scoring branch and [[dsirModel]], so AQE
    * materializes it once (ReusedExchange-verified via `graft.Plans executed`). */
  private def dsirFeats(spark: SparkSession, dir: String, buckets: Int): DataFrame =
    // one-split corpora otherwise serialize the per-token md5 explode on a
    // single task (see [[graft.ops.Parallelism]]); no-op on real corpora.
    // r17 probe: moving the repartition ahead of the tokenize (the
    // chunk-table win) A/B'd as a wash here under ±40% ambient — the
    // pre-exchange projection is only a cheap split, unlike the chunk
    // path's md5+fold — so the proven shape stays (honest-revert rule)
    graft.ops.Parallelism.ensureMin(Tables.documents(spark, dir)
        .selectExpr("doc_id", "lang",
          "filter(split(trim(text), ' '), t -> t <> '') AS w"))
      .selectExpr("doc_id", "lang", s"explode(${dsirFeatArr(buckets)}) AS b")
      // explicit not-null on the join key so InferFiltersFromConstraints
      // cannot specialize the scoring branch's copy of this subtree — the
      // [[lmFluency]] trick that lets AQE materialize the exchange ONCE
      .filter(col("b").isNotNull)
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt"))

  /** The trained importance model: per-bucket quantized log-likelihood
    * ratio (b, qlr) — B rows at any corpus size. */
  def dsirModel(spark: SparkSession, dir: String,
                buckets: Int = DsirBuckets): DataFrame = {
    val B = buckets
    val model = dsirFeats(spark, dir, buckets).groupBy("b").agg(
      sum(col("cnt")).as("cr"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"))
    model.crossJoin(broadcast(dsirTotals(spark, dir)))
      .selectExpr("b",
        "CAST(round(1000000.0 * ln((CAST(ct + 1 AS DOUBLE) / CAST(cr + 1 AS DOUBLE))" +
          s" * (CAST(r + $B AS DOUBLE) / CAST(t + $B AS DOUBLE)))) AS BIGINT) AS qlr")
  }

  /** Grand totals R=Σcr, T=Σct arithmetically: a doc with n tokens emits
    * exactly 2n-1 features (n unigrams + n-1 bigrams) — one narrow count
    * scan instead of a third copy of the explode+aggregate subtree. */
  private def dsirTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("lang", "size(filter(split(trim(text), ' '), t -> t <> '')) AS n")
      .agg(sum(expr("IF(n > 1, 2 * n - 1, CAST(n AS BIGINT))")).as("r"),
        sum(expr("IF(lang = 'en', IF(n > 1, 2 * n - 1, CAST(n AS BIGINT)), 0L)")).as("t"))

  /** [[dsirModel]] densified to a bucket-indexed array (bounded model
    * params — the collect the PQ codebook discipline allows): buckets the
    * corpus never emitted get the ct=cr=0 smoothed ratio, so the scorer's
    * lookup is total. Rounding mirrors Spark's `round` (HALF_UP on the
    * shortest-repr decimal). */
  def dsirModelArray(spark: SparkSession, dir: String,
                     buckets: Int = DsirBuckets): Array[Long] = {
    val tot = dsirTotals(spark, dir).collect()(0)
    val (r, t) = (tot.getLong(0), tot.getLong(1))
    val default = java.math.BigDecimal.valueOf(
        1000000.0 * math.log((r + buckets).toDouble / (t + buckets).toDouble))
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val m = dsirModel(spark, dir, buckets).collect()
      .map(row => row.getLong(0).toInt -> row.getLong(1)).toMap
    Array.tabulate(buckets)(b => m.getOrElse(b, default))
  }

  /** The RESAMPLING step DSIR exists for: k documents drawn WITHOUT
    * replacement with probability ∝ exp(logw) via the Gumbel-top-k
    * identity (perturb each log-weight with an independent Gumbel noise
    * term, take the k largest keys — Vieira 2014; the paper's §2.3
    * selection). The uniforms are hash-derived, not rand(): u =
    * (2·md5(doc_id)+1)/2^61 ∈ (0,1) strictly — both the doubling trick
    * (odd numerator, exactly-representable 2^61 denominator) and the
    * Gumbel transform −ln(−ln u) are stated identically in the oracle,
    * with the same 1e6 quantization margin as the model's log-ratios
    * (~2 ulp of libm risk per doc, pinned tri-SF); the final key is then
    * an EXACT integer sum in shared micro-nat units. Top-k is
    * orderBy+limit = TakeOrderedAndProject — per-partition heads, no
    * single-partition window — with doc_id as total tie-break. */
  def dsirSelect(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val h = DedupOps.md5Long("CAST(doc_id AS STRING)")
    dsirWeights(spark, dir)
      .selectExpr("doc_id", "lang", "is_target", "logw_q",
        s"CAST(round(1000000.0 * -ln(-ln(CAST(2 * ($h) + 1 AS DOUBLE)" +
          " / 2305843009213693952.0D))) AS BIGINT) AS gumbel_q")
      .selectExpr("doc_id", "lang", "is_target", "logw_q", "gumbel_q",
        "logw_q + gumbel_q AS gkey")
      .orderBy(col("gkey").desc, col("doc_id").asc)
      .limit(k)
  }

  /** STATELESS per-row DSIR scoring against a frozen model array — the
    * ingest-time shape (train offline, score on arrival); works on batch
    * and streaming frames alike and is bit-identical to [[dsirWeights]]
    * by construction (same hash fragment, same integer sums — asserted in
    * PipelineSpec and live-replayed in StreamingJobsSpec). */
  def dsirScore(docs: DataFrame, qlr: Array[Long],
                buckets: Int = DsirBuckets): DataFrame =
    docs.withColumn("qlrarr", typedLit(qlr.toSeq))
      .selectExpr("doc_id", "lang",
        "filter(split(trim(text), ' '), t -> t <> '') AS w", "qlrarr")
      .selectExpr("doc_id", "lang", s"${dsirFeatArr(buckets)} AS fb", "qlrarr")
      .selectExpr("doc_id", "lang", "lang = 'en' AS is_target",
        "CAST(size(fb) AS BIGINT) AS n_feats",
        "aggregate(fb, 0L, (acc, b) -> acc + element_at(qlrarr, CAST(b + 1 AS INT))) AS logw_q")
      .selectExpr("doc_id", "lang", "is_target", "n_feats", "logw_q",
        "logw_q > 0 AS selected")

  /** Incremental corpus update: diff the documents snapshot against a
    * deterministically derived successor (every 7th doc dropped, every 11th
    * edited, every 13th re-added under a new id) —
    * [[DedupOps.snapshotDiff]], one id+hash full-outer join. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(spark, dir)
    val b = a.filter(expr("doc_id % 7 != 0"))
      .selectExpr("doc_id",
        "CASE WHEN doc_id % 11 = 0 THEN concat(text, ' edited') ELSE text END AS text")
      .unionByName(a.filter(expr("doc_id % 13 = 0"))
        .selectExpr("doc_id + 1000000 AS doc_id", "text"))
    DedupOps.snapshotDiff(a, b, "doc_id", "text")
  }

  /** One-row corpus health profile — the data-quality gate a pipeline runs
    * before anything else: row/distinct-id/duplicate-content counts, null
    * and empty text counts, and exact integer length stats. All counts are
    * single-pass aggregates; the two distincts are the only shuffles. */
  def corpusHealth(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("doc_id")).as("n_ids"),
      count_distinct(md5(col("text"))).as("n_distinct_texts"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("n_empty_text"),
      min(length(col("text"))).cast("long").as("min_len"),
      max(length(col("text"))).cast("long").as("max_len"),
      sum(length(col("text"))).cast("long").as("sum_len"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("source")).as("n_sources"))

  /** PII scrub, oracle-backed end-to-end: deterministic PII (one email,
    * one IPv4, one phone run, all derived arithmetically from doc_id) is
    * injected into each document, then detected and redacted by the REAL
    * regex pipeline ([[graft.ops.TextOps.redactPii]]). The oracle never
    * runs a regex — it states the counts (1/1/1; the base corpus contains
    * no digits or '@', verified across SFs) and the md5 of the exactly-
    * redacted text, so this is green only if the Java patterns match the
    * injected spans precisely and nothing else. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).selectExpr("doc_id",
      ("concat(text," +
        " ' contact user', CAST(doc_id AS STRING), '@ex', CAST(doc_id % 10 AS STRING), '.com'," +
        " ' from 10.', CAST(doc_id % 256 AS STRING), '.', CAST(doc_id % 100 AS STRING), '.', CAST((doc_id * 3) % 256 AS STRING)," +
        " ' call +1 ', CAST(200 + doc_id % 700 AS STRING), ' 555 ', CAST(1000 + doc_id % 9000 AS STRING)) AS text"))
    graft.ops.TextOps.redactPii(withPii, "text")
      .selectExpr("doc_id", "n_emails", "n_ips", "n_phones",
        "md5(text_redacted) AS redacted_hash")
  }

  /** Secret/credential scan, oracle-backed end-to-end via the
    * [[piiScrub]] injection discipline: deterministic fake credentials
    * (an AWS-style `AKIA`+16-upper-hex key into every doc_id % 7 = 0
    * document, a bare 32-hex token into every doc_id % 11 = 0 document,
    * both derived from md5(doc_id)) are appended to the corpus, then
    * detected by the REAL scanner ([[graft.ops.TextOps.secretScan]]:
    * word-bounded regex candidates + exact micro-nat Shannon-entropy
    * confirmation). The oracle never runs the detector — it states the
    * injected tokens and their entropy arithmetically (the base corpus
    * contains no digits, so no natural 32-hex or AKIA run exists —
    * verified across SFs by the compare itself: one false positive or
    * miss breaks rows_match loudly). */
  def secretScan(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextOps.secretScan(injectSecrets(Tables.documents(spark, dir)), "text")

  /** The deterministic credential injection behind [[secretScan]] —
    * public so the streaming parity spec can feed the identical fixture
    * through the stateless scanner. */
  def injectSecrets(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id",
      ("concat(text," +
        " CASE WHEN doc_id % 7 = 0 THEN concat(' key AKIA'," +
        " upper(substr(md5(CAST(doc_id AS STRING)), 1, 16))) ELSE '' END," +
        " CASE WHEN doc_id % 11 = 0 THEN concat(' token '," +
        " substr(md5(concat('h', CAST(doc_id AS STRING))), 1, 32)) ELSE '' END) AS text"))

  /** Incremental delivery dedup: the corpus splits into BASE
    * (doc_id % 5 != 0 — the existing corpus) and DELIVERY (doc_id % 5 = 0
    * — the new batch); each delivery doc classifies as exact / near / new
    * against base via [[DedupOps.incrementalDedup]] (same MinHash
    * parameters as `dedup_minhash`, so the oracle reuses that pair SQL
    * restricted to crossing pairs). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    DedupOps.incrementalDedup(
      docs.filter(expr("doc_id % 5 != 0")),
      docs.filter(expr("doc_id % 5 = 0")),
      "text", 3, 16, 4, 0.5)
  }

  /** Per-source scorecard — the source-inclusion decision table a corpus
    * pipeline reviews before mixing: volume, language spread, exact-dup
    * rate and corpus share per delivery source. One aggregation keyed by
    * source (the distinct-text count map-side-combines through the same
    * exchange) plus one broadcast of the 1-row total — no second
    * full-data shuffle. */
  def sourceScorecard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val total = docs.agg(count(lit(1)).as("corpus_docs"))
    docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(md5(col("text"))).as("uniq_texts"),
        min(col("n_chars")).cast("long").as("min_chars"),
        max(col("n_chars")).cast("long").as("max_chars"))
      .crossJoin(broadcast(total))
      .selectExpr("source", "n_docs", "total_chars", "n_langs", "uniq_texts",
        "n_docs - uniq_texts AS dup_docs",
        "min_chars", "max_chars",
        "n_docs * 1000000L div corpus_docs AS share_ppm")
  }

  /** Quality-weighted sampling: each document's keep-probability IS its
    * quality score — `hashRateSample`'s rate expression referencing a
    * computed column, so better documents survive proportionally more
    * often, deterministically (the curriculum/downsampling shape, no
    * rand()). */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SamplingOps.hashRateSample(
      Tables.documents(spark, dir).select("doc_id", "text")
        .join(textQuality(spark, dir).select("doc_id", "quality"), "doc_id"),
      "concat(CAST(doc_id AS STRING), '|', md5(text))",
      "least(CAST(1.0 AS DOUBLE), quality)")
      .select("doc_id", "quality", "sample_bucket")

  /** Corpus-typicality fluency score from a self-trained bigram LM: per
    * document, the mean MLE transition probability P(w2|w1) over its bigram
    * occurrences, in exact integer micro-units (c2 × 1e6 div c1) — the
    * KenLM-style quality-filter shape with engine-exact arithmetic (no
    * floating log, no smoothing; unique prefixes score P=1, the standard
    * MLE overfit — a production filter would smooth, the plan shape is
    * identical). Counts shuffle as 60-bit hashes, never strings. */
  def lmFluency(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: occurrences pre-aggregate to (doc_id, h1, h2, cnt)
    // before anything else consumes them. The three consumers below (c2,
    // c1, the scoring join) all hang off this identical aggregated subtree,
    // so ReusedExchange materializes its shuffle once — the executed plan
    // has a single explode, where the previous formulation re-scanned and
    // re-exploded the corpus once per consumer (a genuine 3× at 100 TB).
    val occ = Tables.documents(spark, dir)
      .selectExpr("doc_id", "filter(split(trim(text), ' '), t -> t <> '') AS w")
      .filter(expr("size(w) >= 2"))
      .selectExpr("doc_id", "w", "explode(sequence(1, size(w) - 1)) AS i")
      .selectExpr("doc_id",
        s"${DedupOps.md5Long("element_at(w, i)")} AS h1",
        s"${DedupOps.md5Long("concat(element_at(w, i), ' ', element_at(w, i + 1))")} AS h2")
      // explicit both-keys not-null (always true for md5-derived hashes):
      // without it, InferFiltersFromConstraints pushes a DIFFERENT inferred
      // isnotnull into each consumer branch (h2-only under c2, h1-only
      // under c1, both under the scoring join), the subtrees stop being
      // canonically equal, and exchange reuse never fires — three full
      // corpus scans instead of one
      .filter(col("h1").isNotNull && col("h2").isNotNull)
      .groupBy("doc_id", "h1", "h2").agg(count(lit(1)).as("cnt"))
    val c2 = occ.groupBy("h2").agg(sum(col("cnt")).as("c2"))
    val c1 = occ.groupBy("h1").agg(sum(col("cnt")).as("c1"))
    // p is per distinct (h1, h2), so weighting by cnt restates the
    // per-occurrence sum exactly (integer div happens before the weight)
    occ.join(c2, "h2").join(c1, "h1")
      .selectExpr("doc_id", "cnt", "c2 * 1000000L div c1 AS p")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"), sum(expr("cnt * p")).as("sum_p"))
      .selectExpr("doc_id", "n_bigrams", "sum_p",
        "CAST(sum_p AS DOUBLE) / n_bigrams AS fluency")
  }

  /** PQ with exact re-rank: ADC shortlists 48 candidates per query, the
    * true top-3 by exact quantized L2 come from re-scoring only those
    * ([[SimilarityOps.pqTopKRerank]] — the recall/cost shape a production
    * PQ index runs). */
  def pqTopKRerank(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.pqTopKRerank(Tables.embeddings(spark, dir), 64, 8, 8,
      "vec_id < 8", 3, 48)

  /** IVF-PQ serve from the persisted cell-partitioned codes store
    * ([[IndexState.pqCellCodesPaths]]): each query probes its 4
    * L2-nearest of 16 coarse cells and ADC-scores ONLY those cells'
    * stored codes (plan-time pruned partitions — PlanShapeSpec asserts the
    * cell PartitionFilters), then exact-re-ranks the bounded shortlist
    * ([[IvfPqShortlist]]). The
    * query-load scale path: flat-ADC serve cost is queries × corpus
    * (SCALE.md serve_qload); this caps per-query work at the probed
    * fraction. Same arithmetic as [[pqTopKRerank]], restricted
    * candidates — the recall trade is priced by `ann_recall_ivfpq`. */
  /** The IVF-PQ serve's shortlist depth — raised 48 → 96 in r15 (the
    * r14 verdict #3 geometry adjudication): the sweep over (nCells,
    * nProbe, shortlist) showed shortlist depth is the recall lever
    * that costs NO extra probing (the probed fraction — the partition
    * pruning win — stays 4/16) and only doubles the bounded re-rank
    * set: measured recall@3 0.958 at both sf0.001 and sf0.01 vs 0.875
    * at 48, while nProbe increases bought nothing at 48. Shared with
    * the DuckDB restatement. */
  val IvfPqShortlist: Int = 96

  def pqTopKIvf(spark: SparkSession, dir: String): DataFrame = {
    val store = SimilarityOps.quantStore(Tables.embeddings(spark, dir))
    SimilarityOps.ivfPqTopKRerankCodes(
      IndexState.readPqCellCodes(spark, dir),
      store, 8, 8, nCells = 16, nProbe = 4, "vec_id < 8", 3, IvfPqShortlist,
      fitOn = store)
  }

  /** Deterministic per-label embedding centroids in long (label, dim) form:
    * exact quantized-integer sums — BIGINT all the way through the shuffle,
    * so the mean is ONE double division and bit-stable under any partition
    * or reduction order (a float sum would drift per run). The map-side
    * partial aggregate collapses each partition to ≤ labels×64 rows, so the
    * 64× posexplode never reaches the exchange at full width. */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .selectExpr("CAST(label AS BIGINT) AS label",
        s"posexplode(${SimilarityOps.qvecExpr}) AS (pos, v)")
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .selectExpr("label", "CAST(pos + 1 AS BIGINT) AS dim", "n", "s",
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS c_mean")

  /** Rolling-hash document fingerprint: min of the 5-char polynomial
    * rolling hash over the text (winnowing-style content signature).
    * Computed per row with transform + array_min — narrow plan, no
    * position explode and no shuffle. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.RollingMinHash.register(spark)
    Tables.documents(spark, dir)
      .filter(expr("length(text) >= 5"))
      .selectExpr("doc_id", "rolling_min5(text) AS fingerprint",
        "CAST(length(text) - 4 AS BIGINT) AS n_windows")
  }

  /** TRUE winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the
    * MOSS algorithm): the 5-char polynomial rolling hashes, then the MIN
    * of every 8-hash window, deduplicated — the guarantee the global-min
    * [[docFingerprint]] cannot give: any shared substring of length
    * ≥ w+k−1 (= 12 chars) between two documents shares at least one
    * selected fingerprint. Emitted per doc as the fingerprint-set
    * profile (count, min, max, exact sum — an order-independent integer
    * signature). Zero shuffles: the whole selection runs in one
    * codegen'd scan where the document is read — the 100 TB
    * fingerprint-extraction shape; a dedup pass joins on the exploded
    * fingerprint values. */
  /** (doc_id, fps) — the winnowed fingerprint SET per document; the
    * join surface of a winnowing dedup pass, exposed for the coverage
    * spec. */
  /** Base-31 polynomial over the k chars at position p, as a SQL string
    * valid in BOTH Spark SQL and DuckDB (per-term BIGINT cast: the
    * k=12 coefficients overflow INT32). Shared with the oracle so the
    * two engines hash identically by construction. */
  private[graft] def winnowHashTerms(k: Int): String =
    (0 until k).map { i =>
      // exact integer power: math.pow is double math and 31^11 > 2^53 —
      // it rounds the coefficient and silently shifts every hash
      val coef = (0 until k - 1 - i).foldLeft(1L)((a, _) => a * 31L)
      s"CAST(ascii(substr(text, p + $i, 1)) AS BIGINT) * $coef"
    }.mkString(" + ")

  private[graft] def winnowFps(docs: DataFrame, k: Int = 5): DataFrame = {
    // native single-pass expression ([[graft.functions.WinnowFps]]): the
    // SQL formulation (nested transform/sequence + slice/array_min per
    // window) is interpreted HOF work — one lambda tree walk per position
    // — and benched 8 s for a 1.5M-position corpus; the codegen'd loop is
    // ~8×. The scan still spreads across cores first (no-op on a
    // multi-split corpus): a one-split parquet file would otherwise
    // serialize the extraction on a single task (the chunk_topk lesson).
    graft.functions.WinnowFps.register(docs.sparkSession)
    withMinParallelism(docs).filter(s"length(text) >= ${k + 7}")
      .selectExpr("doc_id", s"winnow_fps(text, $k) AS fps")
  }

  def docWinnow(spark: SparkSession, dir: String): DataFrame =
    winnowFps(Tables.documents(spark, dir))
      .selectExpr("doc_id", "CAST(size(fps) AS BIGINT) AS n_fps",
        "array_min(fps) AS fp_min", "array_max(fps) AS fp_max",
        "aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x) AS fp_sum")

  /** Winnowing-based near-dup pairs — the MOSS use of winnowed
    * fingerprints: documents joined on shared fingerprints (hot
    * fingerprints capped at 20 docs — the containmentPairs blast-radius
    * guard: boilerplate minima otherwise quadratically pair the corpus),
    * scored as shared-fp count over the SMALLER document's fingerprint
    * set (containment-style, so an excerpt inside a larger document
    * still scores high), kept at overlap ≥ 0.3. Uses k=12 character
    * windows (vs [[docWinnow]]'s k=5 profile): the guarantee becomes
    * "any shared substring ≥ 19 chars shares a fingerprint", and the
    * windows span word boundaries — with a small vocabulary, 5-char
    * windows collapse to a corpus-wide fingerprint set too small to
    * discriminate (61 distinct at sf0.01, nearly all over the hot cap).
    * Character-level where the shingle family is token-level: catches
    * shared runs that whitespace tokenization splits differently. */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame =
    dedupWinnowOf(Tables.documents(spark, dir))

  /** [[dedupWinnow]] over any (doc_id, text) frame — factored so the
    * hot-fingerprint cap is testable against a degenerate boilerplate
    * corpus (GuardrailSpec). */
  private[graft] def dedupWinnowOf(docs: DataFrame): DataFrame = {
    // The fingerprint table MUST be materialized before the self-join:
    // otherwise the join's pushed-down null filters re-inline the
    // O(len²) transform chain under the explode and evaluate it
    // interpreted once per exploded row (thread-dump verified). This is
    // also the production shape — the fingerprint index is built once,
    // then joined on.
    val w = winnowFps(docs, k = 12).localCheckpoint()
    val f = w.selectExpr("doc_id", "explode(fps) AS fp")
    val nf = w.selectExpr("doc_id", "CAST(size(fps) AS BIGINT) AS n")
    val usable = f.groupBy("fp").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= 20).select("fp")
    val fu = f.join(usable, "fp")
    val pairs = fu.alias("a").join(fu.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    pairs.join(nf.selectExpr("doc_id AS doc_a", "n AS na"), "doc_a")
      .join(nf.selectExpr("doc_id AS doc_b", "n AS nb"), "doc_b")
      .withColumn("overlap", col("n_shared").cast("double") /
        least(col("na"), col("nb")).cast("double"))
      .filter(col("overlap") >= 0.3)
      .select("doc_a", "doc_b", "n_shared", "overlap")
  }

  /** SemDeDup semantic dedup over the embedding corpus: 16 coarse
    * centroids, within-cluster pairwise quantized cosine, members with a
    * lower-id in-cluster neighbor at cos ≥ 0.4 marked dropped
    * ([[graft.ops.SimilarityOps.semDedup]]). Same 0.4 threshold as
    * dedup_embed so the two passes' keep/drop decisions are comparable —
    * the banded-LSH pass trades recall for never materializing clusters;
    * this pass is exhaustive within its coarse partition. */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.semDedup(Tables.embeddings(spark, dir), 64, 16, 0.4)

  /** Hard-negative mining: for query vectors vec_id < 8, the top-5
    * most-similar vectors with a DIFFERENT label — contrastive-training
    * negatives ([[graft.ops.SimilarityOps.hardNegatives]]). */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.hardNegatives(Tables.embeddings(spark, dir), 64,
      "vec_id < 8", 5)

  /** MMR-diversified retrieval (λ=0.5): brute top-10 shortlist per query
    * vector (vec_id < 8, as embed_topk), then 3 greedy
    * max-marginal-relevance selections — the diversification re-rank of
    * a RAG stack ([[graft.ops.SimilarityOps.mmrTopK]]). */
  def embedTopKMmr(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.mmrTopK(Tables.embeddings(spark, dir), 64, "vec_id < 8", 10, 3)

  /** SemDeDup over the TRAINED k-means partition (k=8, 3 rounds,
    * cos ≥ 0.4) — the production composition the stand-in-codebook
    * convention defers to: [[embedKmeans]] is the offline codebook
    * training job, this query is its consumer (train → assign → dedup
    * within cells). Same output contract and threshold as semdedup, so
    * the two rows price the stand-in vs trained partitions directly. */
  def semDedupKmeans(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.semDedupKmeans(Tables.embeddings(spark, dir), 64, 8, 3, 0.4)

  /** Distributed multi-round Lloyd k-means over the embedding corpus
    * (k=8, 3 rounds — [[graft.ops.SimilarityOps.kmeans]]): the clustering
    * job behind corpus data maps and offline codebook training (the
    * coarse centroids semdedup / embed_topk_ivf stand in for
    * deterministically are trained by exactly this pass in a real
    * deployment). Bit-deterministic by construction — integer distances,
    * floored integer means, ties to the lowest cluster id — so the
    * unrolled 3-round DuckDB oracle hash-matches exactly. */
  def embedKmeans(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.kmeans(Tables.embeddings(spark, dir), 64, 8, 3)

  /** Embedding-distribution drift monitor: centroids are trained on the
    * REFERENCE window only (vec_id % 2 = 0 — in production, last week's
    * snapshot), the FULL corpus is assigned against that frozen model,
    * and each cluster's share of reference vs current population is
    * compared in exact ppm integers. A large drift_ppm on any cluster is
    * the signal that new data occupies embedding space differently than
    * the corpus the downstream models were tuned on — the check a
    * curation team runs before absorbing a delivery. Cost: the fit runs
    * on the reference window; the comparison is one assignment pass +
    * one cluster-keyed aggregation. */
  def kmeansDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = SimilarityOps.kmeansCentroids(
      emb.filter("vec_id % 2 = 0"), 64, 8, 3)
    val cells = SimilarityOps.kmeansAssignedOf(emb, cents)
      .groupBy("cluster")
      .agg(sum(expr("CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END")).as("n_ref"),
        sum(expr("CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END")).as("n_cur"))
    val tot = cells.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    cells.crossJoin(broadcast(tot))
      .selectExpr("cluster", "n_ref", "n_cur",
        "n_ref * 1000000 div t_ref AS ref_ppm",
        "n_cur * 1000000 div t_cur AS cur_ppm",
        "abs(n_ref * 1000000 div t_ref - n_cur * 1000000 div t_cur) AS drift_ppm")
  }

  /** Corpus data map over the k-means clustering: per cluster — member
    * count, exact inertia (Σ dist2 accumulated as DECIMAL(38,0):
    * order-independent, never a float sum, wide enough that
    * petabyte-scale member counts cannot overflow the BIGINT distances —
    * but SURFACED as an exact hi/lo BIGINT pair, `inertia_hi * 10^18 +
    * inertia_lo`, because DECIMAL in a final output hits the driver's
    * hash-canonicalization divergence purged in r3, SURVEY §9), majority
    * label with ties to
    * the lowest label id, and purity. The audit a curation team reads to
    * decide which regions of embedding space are over/under-represented
    * before mixing ([[embedKmeans]] ∘ one two-level keyed aggregation). */
  def kmeansMap(spark: SparkSession, dir: String): DataFrame = {
    val asg = embedKmeans(spark, dir)
    val lab = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS label")
    val byLabel = asg.join(lab, "vec_id")
      .groupBy("cluster", "label")
      .agg(count(lit(1)).as("ln"),
        sum(col("dist2").cast("decimal(28,0)")).as("li"))
    byLabel.groupBy("cluster")
      .agg(sum(col("ln")).as("n"),
        sum(col("li")).as("inertia_raw"),
        max(struct(col("ln").as("c"), (-col("label")).as("negl"))).as("top"))
      .selectExpr("cluster", "n",
        "inertia_raw div 1000000000000000000 AS inertia_hi",
        "CAST(inertia_raw % 1000000000000000000 AS BIGINT) AS inertia_lo",
        "-top.negl AS top_label", "top.c AS top_label_n",
        "CAST(top.c AS DOUBLE) / CAST(n AS DOUBLE) AS purity")
  }

  /** Cluster-balanced subsampling: deterministic hash-rank quota per
    * k-means cluster ([[embedKmeans]] ∘
    * [[graft.ops.SamplingOps.stratifiedQuota]]) — the pruning selection
    * that shrinks a corpus while keeping its embedding-space coverage
    * (every cluster keeps up to the quota; no region is emptied the way
    * a uniform sample empties small clusters). Same hash-derived
    * determinism as sample_stratified: reproducible on any cluster
    * size, and the scale path (hash-slab prefilter) applies unchanged. */
  def sampleClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SamplingOps.stratifiedQuota(
      embedKmeans(spark, dir).select("vec_id", "cluster"),
      "cluster", "CAST(vec_id AS STRING)", 40)
      .select("vec_id", "cluster", "rk")

  /** ANN index-quality gate: per-query recall@3 of each approximate index
    * against its METRIC-MATCHED exact ground truth — IVF (4 of 16 lists
    * probed) vs brute cosine, and PQ ADC+48-shortlist re-rank vs brute
    * exact quantized L2 ([[graft.ops.SimilarityOps.recallAtK]]). This is
    * the measurement a production deployment runs on a sampled query set
    * before turning the brute path off — at 100 TB the truth side runs
    * over a bounded sample while the approx side exercises the real
    * index, so the gate costs O(sample × corpus) once, not per query
    * batch. Geometries match embed_topk_ivf / pq_topk_rr exactly so the
    * recall rows price those indexes as shipped. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // ONE brute cosine pass serves BOTH metric-matched truths: ranking is
    // per-q_id over the same full candidate corpus, so truth(vec_id < 8)
    // IS truth(vec_id < 32) filtered to q_id < 8 — row-identical. The
    // ranked frame is ≤ 32×3 rows; localCheckpoint materializes it once
    // so the sq8 leg reads a bounded frame instead of re-running the
    // whole brute stack (a second corpus-wide scan+rank at 100 TB).
    val cosTruth = SimilarityOps.cosineTopK(emb, 64, "vec_id < 32", 3)
      .localCheckpoint()
    val ivf = SimilarityOps.recallAtK("ivf",
      cosTruth,
      SimilarityOps.ivfTopK(emb, 64, nCentroids = 16, nProbe = 4, "vec_id < 32", 3))
    val pq = SimilarityOps.recallAtK("pq",
      SimilarityOps.l2TopK(emb, 64, "vec_id < 8", 3),
      SimilarityOps.pqTopKRerank(emb, 64, 8, 8, "vec_id < 8", 3, 48))
    // sq8 ranks by code-space cosine, so its truth is the exact cosine
    // top-k (metric-matched, like ivf's) — the recall gate that prices
    // the int8 codec's precision loss next to its 16× memory win
    val sq8 = SimilarityOps.recallAtK("sq8",
      cosTruth.filter(col("q_id") < 8),
      SimilarityOps.sq8TopK(emb, 64, "vec_id < 8", 3))
    ivf.unionByName(pq).unionByName(sq8)
  }

  /** Recall gate for the IVF-PQ serve ([[pqTopKIvf]]): per-query
    * recall@3 against the brute exact-L2 truth — prices the probed-cell
    * restriction (the IVF trade) on top of the PQ shortlist trade the
    * `pq` row of [[annRecall]] already prices. Kept a separate row so
    * the serve path that ships ([[IndexState.pqCellCodesPaths]]-backed)
    * is gated as shipped. */
  def annRecallIvfPq(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.recallAtK("ivfpq",
      SimilarityOps.l2TopK(Tables.embeddings(spark, dir), 64, "vec_id < 8", 3),
      pqTopKIvf(spark, dir))

  /** The BM25 per-term partial score in exact micro-units, shared
    * TEXTUALLY between the Spark plan and the DuckDB oracle (the
    * winnowChain discipline: one arithmetic statement, two engines — so
    * the engines cannot drift). Okapi BM25 with k1=1.2, b=0.75 and the
    * always-positive idf `ln(1 + (N−df+0.5)/(df+0.5))`; each per-term
    * double is rounded to an integer MICRO-score before the per-(q,doc)
    * sum, so the aggregation is exact BIGINT arithmetic — never an
    * order-dependent float sum (SURVEY §9 discipline). */
  private[queries] val bm25MicroTerm: String =
    "CAST(round(1000000.0 * " +
      "ln(CAST(1 AS DOUBLE) + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))" +
      " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))) * " +
      "(CAST(tf AS DOUBLE) / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * " +
      "(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) " +
      "/ (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))" +
      ") AS BIGINT)"

  /** BM25 lexical retrieval over the document corpus (Robertson et al.,
    * TREC-3 Okapi): documents `doc_id < 8` act as queries (their distinct
    * whitespace tokens, query-side tf ignored as in standard Okapi), every
    * corpus document is a candidate, top-5 per query by exact micro-unit
    * score (ties to the lower doc_id). The lexical complement to the
    * embedding retrieval family (embed_topk/chunk_topk) and the seed-based
    * quality-filter shape (score a crawl against a trusted seed corpus —
    * CCNet-style) a curation pipeline runs before model-based filters.
    *
    * Scale shape: ONE corpus tokenization feeds term frequencies, document
    * lengths AND document frequencies (no second scan); the retrieval join
    * is posting-list-shaped — keyed by term, co-partitioned with the
    * vocabulary-sized df table, the bounded query term set broadcast; the
    * global (N, Σdl) pair is a 1-row broadcast. Nothing is ever doc×doc;
    * candidates per query are bounded by postings of its terms. Note the
    * self-match need NOT rank first: length normalization can put a
    * shorter document with high tf on the query's rare terms above the
    * query doc itself — the spec pins the scores against a driver-local
    * recomputation instead. */
  /** The (doc, term, tf) postings table — ONE tokenization statement
    * shared by [[bm25TopK]], [[bm25Model]] and [[bm25Score]] so the three
    * surfaces cannot drift, built ONCE and materialized (localCheckpoint):
    * its consumers (dl, df, the global stats, the query term sets) would
    * otherwise each re-run the corpus tokenize+aggregate from the scan —
    * the plan audit of the first cut showed 4 corpus scans + 4
    * corpus-wide shuffles (a query-side doc_id pushdown defeats
    * ReusedExchange). This IS the inverted-index build a lexical engine
    * persists at 100 TB. */
  private[graft] def bm25Postings(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id",
        "explode(filter(split(trim(text), ' '), t -> t <> '')) AS term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()

  /** The retrieval stage over prepared index tables — shared by the
    * from-scratch [[bm25TopK]] and the persisted-index
    * [[bm25TopKPersist]] so the two rankings cannot drift. */
  private[graft] def bm25Rank(tfq: DataFrame, dl: DataFrame, dft: DataFrame,
                       stats: DataFrame, nQ: Int, kTop: Int): DataFrame =
    bm25RankQ(tfq.filter(col("doc_id") < nQ)
      .selectExpr("doc_id AS q_id", "term"), tfq, dl, dft, stats, kTop)

  /** [[bm25Rank]] over an EXPLICIT query-term set — factored so the
    * certified serve's fallback leg ([[bm25TopKCertified]]) can run the
    * exact ranking for ONLY the queries whose certificate failed. */
  private[graft] def bm25RankQ(qterms: DataFrame, tfq: DataFrame,
                       dl: DataFrame, dft: DataFrame,
                       stats: DataFrame, kTop: Int): DataFrame =
    qterms.join(tfq, "term").join(dft, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("q_id", "doc_id", s"$bm25MicroTerm AS s_micro")
      .groupBy("q_id", "doc_id").agg(sum(col("s_micro")).as("score_micro"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rn") <= kTop)
      .select("q_id", "doc_id", "score_micro", "rn")

  def bm25TopK(spark: SparkSession, dir: String, nQ: Int = 8,
               kTop: Int = 5): DataFrame =
    bm25TopKOver(Tables.documents(spark, dir), nQ, kTop)

  /** From-scratch BM25 ranking over an arbitrary document frame — shared
    * by [[bm25TopK]] (the whole corpus) and the takedown convergence
    * spec (the surviving corpus), so the reference ranking is one code
    * path. */
  private[graft] def bm25TopKOver(docs: DataFrame, nQ: Int = 8,
                                  kTop: Int = 5): DataFrame = {
    val tok = bm25Postings(docs)
    val dl = tok.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dft = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    bm25Rank(tok, dl, dft, stats, nQ, kTop)
  }

  /** Takedown batch modulus for the lexical index family (doc_id %
    * [[Bm25TakedownMod]] = 0 is removed) — the dedup takedown family's
    * 17-convention. */
  val Bm25TakedownMod: Int = 17

  /** BM25 retrieval from the IMPACT-PRUNED index
    * ([[IndexState.bm25ImpactPaths]] — per term, only the top-64
    * postings by precomputed score survive): the serve joins the
    * bounded query-term set against the pruned lists, so candidates per
    * query are ≤ |terms| × 64 — independent of corpus size, where the
    * exact serve's candidate set is every posting of every query term
    * (the measured O(queries × corpus) term in SCALE.md serve_qload; a
    * corpus-wide common term contributes its WHOLE posting list there,
    * and exactly 64 docs here). Scores of returned pairs are exact
    * micro-unit sums over the SURVIVING postings — an underestimate
    * when a match lived only in pruned tails.
    *
    * THE GATE IS THE POINT: static pruning presumes the Zipfian
    * term-score concentration of natural text (few high-idf terms carry
    * each winner — those lists are short and survive whole). The driver
    * corpus is the measured WORST CASE — a uniform ~90-word vocabulary
    * puts the score mass across many low-idf common terms, exact
    * winners crack no per-term champion list, and [[lexRecall]]
    * measures recall@5 = 0.0 at every pruning depth up to 20% of list
    * length (SCALE.md). So the deployment rule this family ships is:
    * run `lex_recall` on YOUR corpus; enable the pruned serve only when
    * it holds (PipelineSpec measures 0.725 on generated Zipf text vs
    * 0.0 here, same code path — and the hybrid fusion here
    * correspondingly keeps the EXACT lexical leg). */
  def bm25TopKImpact(spark: SparkSession, dir: String, nQ: Int = 8,
                     kTop: Int = 5): DataFrame = {
    val idx = spark.read.parquet(IndexState.bm25ImpactPaths(spark, dir))
    val (postingsP, _, _) = IndexState.bm25FullPaths(spark, dir)
    val qterms = spark.read.parquet(postingsP).filter(col("doc_id") < nQ)
      .selectExpr("doc_id AS q_id", "term")
    bm25ImpactRank(idx, qterms, kTop)
  }

  /** The impact serve's ranking stage — shared by the persisted-index
    * [[bm25TopKImpact]], the from-scratch [[bm25TopKImpactOver]] (the
    * Zipf-corpus spec) and the live [[StreamingJobs.runImpactServe]] so
    * the three cannot drift. */
  private[queries] def bm25ImpactRank(idx: DataFrame, qterms: DataFrame,
                             kTop: Int): DataFrame =
    idx.join(broadcast(qterms), "term")
      .groupBy("q_id", "doc_id").agg(sum(col("s_micro")).as("score_micro"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rn") <= kTop)
      .select("q_id", "doc_id", "score_micro", "rn")

  /** From-scratch impact-pruned retrieval over an arbitrary document
    * frame — the [[bm25TopKOver]] twin for the pruned index, used by the
    * PipelineSpec Zipf-corpus case that proves the pruning's
    * Zipfian-precondition claim by measurement. */
  private[graft] def bm25TopKImpactOver(docs: DataFrame, nQ: Int,
                                        kTop: Int, m: Int): DataFrame = {
    val tok = bm25Postings(docs)
    val dl = tok.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dft = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val idx = tok.join(dft, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("term", "doc_id", s"$bm25MicroTerm AS s_micro")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("s_micro").desc, col("doc_id").asc)))
      .filter(col("rn") <= m)
      .select("term", "doc_id", "s_micro")
    bm25ImpactRank(idx, tok.filter(col("doc_id") < nQ)
      .selectExpr("doc_id AS q_id", "term"), kTop)
  }

  /** The certificate stage of the EXACTNESS-CERTIFIED pruned serve
    * (the max-score/WAND idiom — Turtle & Flood 1995 — applied to a
    * statically impact-ranked index): the champion-list candidate set
    * is EXACTLY scored (a bounded probe — candidates ≤ |T(q)| × depth,
    * and exact-scoring them joins only their own postings), and the
    * per-term pruned-tail bounds then need to exclude ONLY the docs in
    * no champion list at all.
    *
    * Soundness: let tail(t) = the max pruned micro-score of term t (0
    * when t's whole list survives at this depth). A doc outside EVERY
    * champion list of q's terms has true score ≤ tail_sum(q) =
    * Σ_{t ∈ T(q)} tail(t); every candidate's score here is exact. So
    * if the kth exact candidate score strictly exceeds tail_sum(q),
    * every non-candidate sits strictly below the whole top-k and the
    * candidate top-k IS the true top-k, already exactly ordered
    * (candidate ties resolve by the serve's own doc_id tie-break;
    * non-candidate ids are unknown, so their bound stays strict — an
    * equality refuses). An earlier lower-bound-only variant (rank
    * candidates by surviving-postings partial sums, bound below-rank
    * candidates by lb + uncovered tails) was MEASURED never to certify
    * on realistic mixed-rarity queries: the boundary gap between
    * near-tie candidates is tf/dl noise while any common term's tail
    * is ~half its max impact — exact-scoring the bounded candidate set
    * removes that slack entirely and leaves only the honest
    * never-seen-docs condition.
    *
    * Scale shape: candidates ≤ |T(q)| × depth; exact scoring is a
    * doc-keyed join of the candidate set against the postings store
    * producing ≤ candidates × |T(q)| rows (row production bounded by
    * the depth, NOT by posting-list lengths — the exact serve's
    * O(queries × corpus) term is exactly that unbounded row
    * production); tails/tail-sums are query-sized. With the
    * corpus-scaled ladder the base depth is n_docs/CertFrac, so the
    * candidate set is a 1/CertFrac-of-corpus fraction per common term
    * — a constant-FACTOR win over the exact serve, scale-stable rate
    * (the absolute ≤ |terms| × 64 bound belonged to the fixed ladder
    * whose certificates collapsed at 10×). The candidate broadcast
    * assumes the certifying (short, search-shaped) query load; a bulk
    * doc-length load neither certifies nor should pay this probe — the
    * ladder bails to the exact serve after one non-certifying level.
    * Returns
    * (scoredTopK, cert): scoredTopK = (q_id, doc_id, score_micro, rn)
    * EXACT rows for every query's candidate top-k (valid serve rows
    * wherever cert says certified); cert = one row per query (q_id,
    * certified 0/1, kth_exact, tail_sum — −1 sentinel where < k
    * candidates exist). */
  private[graft] def bm25Certify(champ: DataFrame, tail: DataFrame,
      qterms: DataFrame, tfq: DataFrame, dl: DataFrame, dft: DataFrame,
      stats: DataFrame, kTop: Int): (DataFrame, DataFrame) = {
    val qt = qterms.join(tail, Seq("term"), "left")
      .selectExpr("q_id", "term", "coalesce(tail_micro, 0L) AS tail_micro")
    val tailSum = qt.groupBy("q_id").agg(sum(col("tail_micro")).as("tail_sum"))
    val cand = champ.join(broadcast(qt.select("q_id", "term")), "term")
      .select("q_id", "doc_id").distinct()
    // exact scores for the bounded candidate set: candidate docs keyed
    // into the postings store, restricted to the query's own terms
    val scored = broadcast(cand)
      .join(tfq, "doc_id")
      .join(qterms.selectExpr("q_id", "term"), Seq("q_id", "term"))
      .join(dft, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("q_id", "doc_id", s"$bm25MicroTerm AS s_micro")
      .groupBy("q_id", "doc_id").agg(sum(col("s_micro")).as("score_micro"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .localCheckpoint()
    val topk = scored.filter(col("rn") <= kTop)
      .select("q_id", "doc_id", "score_micro", "rn")
    val kth = scored.filter(col("rn") === kTop)
      .select(col("q_id"), col("score_micro").as("kth_exact"))
    val cert = tailSum
      .join(kth, Seq("q_id"), "left")
      .selectExpr("q_id",
        "CAST(CASE WHEN kth_exact IS NOT NULL AND tail_sum < kth_exact " +
          "THEN 1 ELSE 0 END AS BIGINT) AS certified",
        "coalesce(kth_exact, -1L) AS kth_exact",
        "tail_sum")
    (topk, cert)
  }

  /** The certified serve's escalation ladder: MINIMUM champion-list
    * depths tried in order, geometrically spaced (×4) so the total
    * postings read for a query certifying at level i is < 4/3 of that
    * level's depth (sum of the shallower tiers). Queries the deepest
    * level cannot certify fall back to the exact serve — so the ladder
    * bounds COST adaptively while the result is exact at every depth.
    *
    * The depths are CORPUS-SCALED (r15 verdict #1): the base depth is
    * d0 = max(64, ⌈n_docs/[[CertFrac]]⌉) — a build-time constant of the
    * index, level i's depth is d0 × (CertLevels(i)/CertLevels.head).
    * Fixed absolute depths were measured collapsing the base-level
    * certificate rate 0.97 → 0.0 from 1× → 10× on Zipf text (SCALE.md
    * r15 serve_qload_cert), and the r16 diagnosis is WHY corpus-scaled
    * is the right geometry: at 1× the certificates' slack came from the
    * query's DISCRIMINATIVE (rare/mid-df) terms being FULLY covered —
    * tail bound 0 — while only the common terms' bulk-level tails
    * remained; as the corpus grows ×10, a fixed (or per-term-df
    * fractional) depth lets the rare terms' lists outgrow coverage, and
    * their boundary tails — carrying exactly the high idf that made
    * them discriminative — kill every certificate. A depth scaled to
    * the CORPUS keeps "df ≤ n_docs/CertFrac ⟹ whole list covered"
    * true at every scale: which terms have zero tails is a function of
    * df/n_docs (the idf axis), so the certificate rate is
    * scale-INVARIANT by construction (measured 1.000 at 1× and 10× on
    * the Zipf short-query load; a per-term df-fraction variant was
    * built first and measured 0.97 → 0.0 — the covered fraction is the
    * wrong invariant, the zero-tail df/N threshold is the right one).
    * For n_docs ≤ 64 × CertFrac = 4096 the depths equal the old
    * absolute ladder exactly. Shared with the leveled store layout
    * ([[IndexState.bm25ImpactRankedPaths]] partitions by
    * [[certLvlSql]]'s bucket of these boundaries; the store carries
    * d0 as a constant column so the serve derives the layout from the
    * store itself — a stats/store N drift can never make tail lookups
    * read an absent boundary and certify unsoundly). */
  val CertLevels: Seq[Int] = Seq(64, 256, 1024)

  /** Corpus-fraction denominator of the base depth: level 0 fully
    * covers every term present in ≤ 1/CertFrac of the corpus'
    * documents (d0 = max(CertLevels.head, ⌈n_docs/CertFrac⌉)). */
  val CertFrac: Int = 64

  /** The BASE champion depth as SQL over an `n_docs` column — shared by
    * the store writer, the in-memory ranked twin and the DuckDB oracle
    * restatement so the three cannot disagree. */
  val certD0Sql: String =
    s"greatest(CAST(${CertLevels.head} AS BIGINT), " +
      s"CAST(ceil(n_docs / $CertFrac.0) AS BIGINT))"

  /** Per-level depth multiplier over the base depth: level i's depth is
    * d0 × certLvlMult(i) (= 1, 4, 16 for the shipped ladder). */
  def certLvlMult(i: Int): Long = (CertLevels(i) / CertLevels.head).toLong

  /** The geometric level bucket of an impact rank — SQL over `rn` and
    * `d0` columns, shared by the store writer (partition column) and
    * the serve's pruning filters, so the layout and the reads cannot
    * disagree. Level i holds ranks in (d0·mult(i−1), d0·mult(i)];
    * the overflow bucket holds everything past the deepest level. */
  val certLvlSql: String = {
    val cases = CertLevels.indices
      .map(i => s"WHEN rn <= ${certLvlMult(i)} * d0 THEN $i").mkString(" ")
    s"CASE $cases ELSE ${CertLevels.length} END"
  }

  /** The impact-ranked postings frame over prepared index tables —
    * (term, doc_id, s_micro, rn, lvl), the in-memory twin of
    * [[IndexState.bm25ImpactRankedPaths]]; shared by the from-scratch
    * certified serve and the ScaleProbe serve pairs so the chain exists
    * once. */
  private[graft] def bm25ImpactRanked(tok: DataFrame, dl: DataFrame,
      dft: DataFrame, stats: DataFrame): DataFrame =
    tok.join(dft, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("term", "doc_id", "n_docs", s"$bm25MicroTerm AS s_micro")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("s_micro").desc, col("doc_id").asc)).cast("long"))
      .withColumn("d0", expr(certD0Sql))
      .withColumn("lvl", expr(certLvlSql))
      .drop("n_docs")

  /** The LEVEL-i champion lists of an impact-ranked frame — with the
    * df-aware bucketing, membership of level ≤ i IS the depth filter
    * (lvl ≤ i ⟺ rn ≤ d0·mult(i)), so the champion read is a pure
    * partition filter: unneeded deeper level directories prune at PLAN
    * time on the persisted store. */
  private def certChamp(ranked: DataFrame, level: Int): DataFrame =
    ranked.filter(col("lvl") <= level).select("term", "doc_id")

  /** The LEVEL-i boundary tail bounds: per term, the first posting
    * PAST the level-i depth (rn = d0·mult(i) + 1 — the max of the
    * pruned tail, because lists are impact-ordered). That row always
    * lives in bucket i+1 (depths grow ×4 ≥ +1 per level), so the read
    * prunes to ONE level directory plus a per-row rank predicate;
    * terms whose whole list fits in level i — on the corpus-scaled
    * ladder, exactly the df ≤ n_docs·mult(i)/CertFrac discriminative
    * band, at EVERY corpus size — have no boundary row: tail 0 via the
    * certify join's coalesce. */
  private def certTail(ranked: DataFrame, level: Int): DataFrame =
    ranked
      .filter(col("lvl") === (level + 1) &&
        col("rn") === col("d0") * lit(certLvlMult(level)) + lit(1L))
      .select(col("term"), col("s_micro").as("tail_micro"))

  /** The certificate ledger at ladder level `level` over an
    * impact-ranked frame — champion lists and boundary tails are level
    * filters; shared by the persisted [[lexCertifiedRate]] and the
    * ScaleProbe rate columns. */
  private[graft] def certLedger(ranked: DataFrame, qterms: DataFrame,
      tfq: DataFrame, dl: DataFrame, dft: DataFrame, stats: DataFrame,
      kTop: Int, level: Int = 0): DataFrame =
    bm25Certify(certChamp(ranked, level), certTail(ranked, level),
      qterms, tfq, dl, dft, stats, kTop)._2

  /** The certified serve's full ranking stage — shared by the
    * persisted-index [[bm25TopKCertified]] and the from-scratch
    * [[bm25TopKCertifiedOver]] (the Zipf-corpus spec) so the two cannot
    * drift. `ranked` is the impact-ranked postings (term, doc_id,
    * s_micro, rn); each query walks the [[CertLevels]] ladder and stops
    * at the first depth whose certificate ([[bm25Certify]]) PROVES its
    * candidate top-k exact — the candidate scores are exact already
    * (bm25Certify exact-scores the bounded candidate set), so a
    * certified query's rows emit directly. Queries no level certifies
    * run the exact serve, alone. Output is therefore bit-identical to
    * [[bm25TopK]] on EVERY corpus — the oracle IS bm25_topk's SQL —
    * while a certified query's row production is bounded by its
    * certification depth instead of its terms' full posting lists.
    * [[lexCertifiedRate]] prices the base level; the PipelineSpec
    * ladder cases pin measured depth-vs-rate curves on both corpus
    * profiles and both query shapes. */
  private[graft] def bm25CertifiedRank(ranked: DataFrame,
      qterms: DataFrame, tfq: DataFrame, dl: DataFrame, dft: DataFrame,
      stats: DataFrame, kTop: Int,
      levels: Seq[Int] = CertLevels): DataFrame = {
    val spark = ranked.sparkSession
    import spark.implicits._
    val legs = Seq.newBuilder[DataFrame]
    // bounded witness: the distinct query ids (≤ nQ). The ladder is
    // driver-side BY DESIGN (per-level certificate flags route queries
    // between legs), so its plans carry isin literal lists over the
    // remaining ids — fine for the delivery-sized query batches the
    // serve contract names, catastrophic for a corpus-sized frame
    // (a 100k-literal plan per level). Fail fast instead of building
    // it (GuardrailSpec trips this).
    var remaining = qterms.select("q_id").distinct()
      .as[Long].collect().sorted.toSeq
    require(remaining.length <= CertBatchMax,
      s"graft: bm25CertifiedRank serves delivery-sized query batches " +
        s"(got ${remaining.length} distinct q_ids, cap $CertBatchMax); " +
        s"partition the query frame or use the exact serve for bulk loads")
    var bail = false
    val levelCertified = Seq.newBuilder[Int]
    var levelsWalked = 0
    // one ladder level over a bounded id set: emits the certified ids'
    // exact top-k rows and returns which ids certified
    def certifyLevel(i: Int, ids: Seq[Long]): Seq[Long] = {
      val qt = qterms.filter(col("q_id").isin(ids.map(Long.box): _*))
      val (topk, cert) =
        bm25Certify(certChamp(ranked, i), certTail(ranked, i),
          qt, tfq, dl, dft, stats, kTop)
      val flags = cert.select("q_id", "certified").collect()
        .filter(_.getLong(1) == 1L).map(_.getLong(0)).toSet
      val certified = ids.filter(flags)
      if (certified.nonEmpty)
        legs += topk.filter(col("q_id").isin(certified.map(Long.box): _*))
      certified
    }
    // PILOT probe (r16): whether a LOAD certifies is a load-level
    // property — the measured regimes are ≥ 0.75 (short/search-shaped
    // loads, uniform doc-loads) vs ≤ 0.05 (bulk doc-length loads on
    // Zipf text), nothing in between — so a fixed-size pilot decides
    // the routing before the full load pays the base probe. Without
    // it, a misrouted 64-doc-length-query load at 30× Zipf paid 32.0 s
    // vs the exact serve's 13.0 s — ~19 s of that was the full-load
    // base certify whose only product was the decision to bail (the
    // candidate-scoring join reads the same posting mass the exact
    // serve reads when queries span the vocabulary — no depth bound
    // can win there). The pilot caps that discovery price at
    // [[CertPilot]]/load of the base probe. Exactness unaffected on
    // every path; pilot-certified queries' rows emit directly.
    var pilotCertified = -1
    if (remaining.length > CertPilot) {
      val pilot = remaining.take(CertPilot)
      val certified = certifyLevel(0, pilot)
      pilotCertified = certified.length
      remaining = remaining.filterNot(certified.toSet)
      bail = certified.length < CertPilot * CertBailFrac
    }
    for (i <- levels.indices if remaining.nonEmpty && !bail) {
      val before = remaining.length
      val certified = certifyLevel(i, remaining)
      remaining = remaining.filterNot(certified.toSet)
      levelCertified += certified.length
      levelsWalked = i + 1
      // a level certifying less than CertBailFrac of its load routes the
      // remainder to the exact serve instead of escalating: the level's
      // own ledger is the evidence this load doesn't certify (doc-length
      // loads — every query's tail sum spans ~50 terms' common-term mass
      // while its kth margin doesn't grow with depth). The original
      // bail-only-on-ZERO heuristic was MEASURED paying the full
      // corpus-scaled ladder for a 0.047-rate load: 64 doc-length
      // queries on 30× Zipf cost 51.4 s vs the exact serve's 13.7 s,
      // because 3 base certificates kept 61 queries escalating through
      // depths of N/64 × 4^i. Cost-only heuristic: results are exact on
      // every path, only which path pays changes.
      bail = certified.length < before * CertBailFrac
    }
    if (remaining.nonEmpty)
      legs += bm25RankQ(
        qterms.filter(col("q_id").isin(remaining.map(Long.box): _*)),
        tfq, dl, dft, stats, kTop)
    CertStats.record(CertStats.Run(levelsWalked, levelCertified.result(),
      bailed = bail, exactFallback = remaining.length,
      pilotCertified = if (pilotCertified < 0) None else Some(pilotCertified)))
    val built = legs.result()
    // an empty query frame (e.g. a live micro-batch whose docs all
    // tokenize to zero terms) builds no legs — return the empty serve
    // frame instead of crashing the streaming query on reduce
    if (built.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("q_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score_micro",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rn",
            org.apache.spark.sql.types.LongType))))
    else built.reduce(_.unionByName(_))
  }

  /** Fail-fast cap on distinct query ids per [[bm25CertifiedRank]]
    * invocation — the ladder's per-level certificate flags are a
    * driver-side witness and its legs carry isin literal filters over
    * the remaining ids, both bounded by this (the engine's GuardrailSpec
    * discipline: every driver-bounded path trips loudly, never builds
    * an unbounded plan). Generously above any delivery-sized batch. */
  val CertBatchMax: Int = 4096

  /** Minimum fraction of a level's remaining load that must certify for
    * the ladder to escalate the rest; below it the remainder routes to
    * the exact serve immediately. 1/4 separates the two measured
    * regimes by an order of magnitude on every probe corpus: loads the
    * certificates FIT certify ≥ 0.75 of queries at the base level
    * (Zipf short 1.0, uniform 0.75–1.0 across 1×–30×), loads they
    * don't sit ≤ 0.05 (Zipf doc-length 0.0–0.047) — there is no
    * measured load in between, so the threshold is not delicate.
    * Cost-only: the serve is exact on every path. */
  val CertBailFrac: Double = 0.25

  /** Pilot size for [[bm25CertifiedRank]]'s load-routing probe: loads
    * larger than this certify a take-first pilot at the base level
    * before committing the full load, and a pilot rate below
    * [[CertBailFrac]] routes everything straight to the exact serve —
    * capping what a misrouted bulk load pays for the routing decision
    * at pilot-sized rather than load-sized base-probe work. Sized well
    * above the rate gap between the two measured regimes (≥ 0.75 vs
    * ≤ 0.05; a 16-query pilot cannot read ≥ 4 certificates from a
    * 0.05-rate load except vanishingly rarely, and a miss costs only
    * one more level-0 pass, never correctness). */
  val CertPilot: Int = 16

  /** Per-invocation witness of [[bm25CertifiedRank]]'s ladder walk —
    * how many levels ran, how many queries each certified, whether the
    * [[CertBailFrac]] bail fired, how many queries fell back to the
    * exact serve, and the [[CertPilot]] pilot's certified count (None =
    * load fit inside the pilot, no pilot ran). Mirrors
    * [[graft.ops.ClusterOps.CcStats]]: a few appends per QUERY BATCH
    * (never per row), drained by specs and probes to assert routing
    * behavior that result equality cannot see (every path returns the
    * same exact rows — only cost moves). */
  object CertStats {
    final case class Run(levelsWalked: Int, certifiedPerLevel: Seq[Int],
                         bailed: Boolean, exactFallback: Int,
                         pilotCertified: Option[Int])
    private val MaxBuffered = 512
    private val buf = scala.collection.mutable.ArrayBuffer[Run]()
    private[queries] def record(r: Run): Unit = synchronized {
      if (buf.size >= MaxBuffered) buf.remove(0)
      buf += r
    }
    /** Returns and clears everything recorded since the last drain. */
    def drain(): Seq[Run] = synchronized { val r = buf.toList; buf.clear(); r }
  }

  /** Exactness-CERTIFIED lexical retrieval from the leveled
    * impact-ranked store — the r14 verdict's top item:
    * [[bm25TopKImpact]] trades recall and ships disabled on non-Zipf
    * corpora; this serve keeps pruned-candidate economics WITHOUT the
    * trade by walking the [[CertLevels]] ladder per query and proving
    * (from the boundary-row tail bounds) when the pruned top-k is
    * exact, escalating — ultimately to the exact serve — when it
    * cannot. Always bit-identical to [[bm25TopK]];
    * [[lexCertifiedRate]] is the oracle-backed base-level ledger. */
  def bm25TopKCertified(spark: SparkSession, dir: String, nQ: Int = 8,
                        kTop: Int = 5): DataFrame = {
    val ranked = spark.read.parquet(IndexState.bm25ImpactRankedPaths(spark, dir))
    val (postingsP, dlP, dfP) = IndexState.bm25FullPaths(spark, dir)
    val tfq = spark.read.parquet(postingsP)
    val dl = spark.read.parquet(dlP)
    val dft = spark.read.parquet(dfP)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = tfq.filter(col("doc_id") < nQ)
      .selectExpr("doc_id AS q_id", "term")
    bm25CertifiedRank(ranked, qterms, tfq, dl, dft, stats, kTop)
  }

  /** The certificate LEDGER at the ladder's base level (corpus-scaled
    * depth d0 = max(64, ⌈n_docs/[[CertFrac]]⌉)) — one row per
    * query: certified (1 = the base-level candidate top-k is provably
    * exact), with the kth EXACT candidate score and the
    * never-seen-docs tail-sum bound the decision compared.
    * 1 − avg(certified) is the fraction of query load escalating past
    * the base depth; the serve stays EXACT either way — only the cost
    * moves. Measured (deterministic corpora): Zipf text certifies at
    * the base for document-length AND short queries; the uniform-vocab
    * driver corpus — static pruning's worst case, where the
    * recall-trading impact serve reads 0.0 recall — still certifies
    * 2/8 here and honestly falls back on the rest (PipelineSpec pins
    * all of it by measurement). */
  def lexCertifiedRate(spark: SparkSession, dir: String, nQ: Int = 8,
                       kTop: Int = 5): DataFrame = {
    val ranked = spark.read.parquet(IndexState.bm25ImpactRankedPaths(spark, dir))
    val (postingsP, dlP, dfP) = IndexState.bm25FullPaths(spark, dir)
    val tfq = spark.read.parquet(postingsP)
    val dl = spark.read.parquet(dlP)
    val dft = spark.read.parquet(dfP)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = tfq.filter(col("doc_id") < nQ)
      .selectExpr("doc_id AS q_id", "term")
    certLedger(ranked, qterms, tfq, dl, dft, stats, kTop, level = 0)
  }

  /** From-scratch certified retrieval over an arbitrary document frame
    * — the [[bm25TopKOver]]/[[bm25TopKImpactOver]] twin for the
    * certified serve, used by the PipelineSpec cases that pin the
    * depth-vs-certificate-rate curve by measurement and prove the
    * always-exact claim on both corpus profiles. Returns (served rows,
    * base-level cert ledger). */
  private[graft] def bm25TopKCertifiedOver(docs: DataFrame, nQ: Int,
      kTop: Int, levels: Seq[Int] = CertLevels,
      qtermsOpt: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val tok = bm25Postings(docs)
    val dl = tok.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dft = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val ranked = bm25ImpactRanked(tok, dl, dft, stats).localCheckpoint()
    val qterms = qtermsOpt.getOrElse(tok.filter(col("doc_id") < nQ)
      .selectExpr("doc_id AS q_id", "term"))
    (bm25CertifiedRank(ranked, qterms, tok, dl, dft, stats, kTop, levels),
      certLedger(ranked, qterms, tok, dl, dft, stats, kTop, level = 0))
  }

  /** Recall gate for the impact-pruned lexical serve: per-query
    * recall@5 of [[bm25TopKImpact]] against the exact [[bm25TopK]]
    * ranking — the lexical twin of [[annRecallIvfPq]], so the pruned
    * index ships with its trade priced. */
  def lexRecall(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.recallAtK("bm25_impact",
      bm25TopK(spark, dir).selectExpr("q_id", "doc_id AS c_id"),
      bm25TopKImpact(spark, dir).selectExpr("q_id", "doc_id AS c_id"))

  /** BM25 retrieval AFTER A TAKEDOWN folded OUT of the persisted
    * full-corpus index — the removal half of the lexical serving
    * lifecycle ([[bm25TopKPersist]] folds deliveries IN): the deployed
    * postings/dl/df come from parquet ([[IndexState.bm25FullPaths]]),
    * and the timed work is what a real takedown pays — NO tokenization
    * and NO corpus-wide re-aggregation: surviving postings and lengths
    * are doc-keyed filters of the stored tables, document frequencies
    * fold DOWN by the removed docs' term counts (a takedown-sized
    * aggregation over the stored postings' removed slice), and the 1-row
    * stats re-derive from the surviving dl. Converges BIT-EXACTLY to the
    * from-scratch ranking over the surviving corpus (spec set-equality;
    * the oracle is the bm25_topk SQL with the survivor filter). Terms
    * whose postings all died drop to df=0 and are removed — they can
    * match no surviving posting anyway. */
  def bm25TopKTakedown(spark: SparkSession, dir: String, nQ: Int = 8,
                       kTop: Int = 5): DataFrame = {
    val (postingsP, dlP, dfP) = IndexState.bm25FullPaths(spark, dir)
    val td = Bm25TakedownMod
    val tfq = spark.read.parquet(postingsP).filter(expr(s"doc_id % $td != 0"))
    val dl = spark.read.parquet(dlP).filter(expr(s"doc_id % $td != 0"))
    // the removed docs' per-term counts from a TAKEDOWN-SIZED tokenize of
    // the removal batch (identical to their stored postings by
    // determinism) — not a second full scan of the stored postings: the
    // doc-keyed point reads a real engine would do here are exactly what
    // a columnar postings scan can't, and the batch is 1/td of the corpus
    val dfT = bm25Postings(
        Tables.documents(spark, dir).filter(expr(s"doc_id % $td = 0")))
      .groupBy("term").agg(count(lit(1)).as("df_t"))
    val dft = spark.read.parquet(dfP).join(dfT, Seq("term"), "left")
      .selectExpr("term", "df - coalesce(df_t, 0L) AS df")
      .filter(col("df") > 0)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    bm25Rank(tfq, dl, dft, stats, nQ, kTop)
  }

  /** The df DOWN-FOLD of a bounded takedown batch, read from the
    * PERSISTED partition-bucketed forward index
    * ([[IndexState.bm25ForwardPaths]]) with PLAN-TIME pruning — the
    * store-probe shape of the removal half at 100 TB: a takedown batch
    * is delivery-sized, so its key-hash buckets name a small fraction
    * of the store's partition directories, and the scan reads ONLY
    * those (`PartitionFilters` on `_kb`, plus `PushedFilters` In on
    * doc_id inside them — both literal, both derived from the bounded
    * batch via a witness collect of ≤ |takedown| ids). Converges
    * bit-exactly to tokenizing the removal batch from scratch
    * (determinism of [[bm25Postings]]) — the oracle tokenizes. The
    * takedown batch here is the Bm25TakedownMod residue RESTRICTED to a
    * fixed id window, so it stays the same bounded batch at every SF
    * (the lifecycle contract's takedown size class); the unbounded
    * residue class belongs to [[bm25TopKTakedown]], whose whole-corpus
    * semantics a pruned probe deliberately does not serve. */
  def bm25DownfoldProbe(spark: SparkSession, dir: String): DataFrame = {
    val fwdP = IndexState.bm25ForwardPaths(spark, dir)
    val td = Bm25TakedownMod
    // ONE witness collect for both the id list and the bucket set (r17:
    // the separate ids + distinct-buckets collects were two sequential
    // driver jobs over the same pruned scan); the bucket hash rides the
    // same bounded row set and distincts driver-side
    val idRows = Tables.documents(spark, dir)
      .filter(expr(s"doc_id % $td = 0 AND doc_id < 340"))
      .select(col("doc_id"),
        pmod(hash(col("doc_id")), lit(IndexState.ForwardBuckets)).as("b"))
      .collect()
    val idVals = idRows.map(_.getLong(0)).sorted.toSeq
    val buckets = idRows.map(_.getInt(1)).distinct.sorted.toSeq
    spark.read.parquet(fwdP)
      .filter(col("_kb").isin(buckets: _*) && col("doc_id").isin(idVals: _*))
      .groupBy("term").agg(count(lit(1)).cast("long").as("df_t"))
  }

  /** BM25 retrieval over a PERSISTED inverted index folded with a
    * delivery — the production shape of a lexical engine ([[bm25TopK]]
    * proves the ranking; this row prices it): the base split's postings,
    * document lengths and document frequencies come from parquet (built
    * once by [[IndexState.bm25BasePaths]], the ClusterState discipline —
    * fingerprint-keyed, atomically published), and the timed work is the
    * DELIVERY-sized tokenize (doc_id % [[ClusterState.PersistDeliveryMod]]
    * = 0, 2% of the corpus) plus the index merge: postings/dl union
    * disjoint doc partitions exactly; df folds as a vocabulary-keyed sum;
    * the 1-row stats re-derive from the |docs|-row dl table. Converges to
    * the from-scratch [[bm25TopK]] BIT-EXACTLY — the oracle IS
    * bm25_topk's SQL. */
  def bm25TopKPersist(spark: SparkSession, dir: String, nQ: Int = 8,
                      kTop: Int = 5): DataFrame = {
    val (tfq, dl, dft, stats) = bm25FoldedIndex(spark, dir)
    bm25Rank(tfq, dl, dft, stats, nQ, kTop)
  }

  /** The persisted base index folded with the delivery — the
    * (postings, dl, df, stats) quadruple [[bm25TopKPersist]] ranks over,
    * shared with [[hybridRrfPersist]]'s lexical side so the two
    * serving-path rankings cannot drift. */
  private def bm25FoldedIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (postingsP, dlP, dfP) = IndexState.bm25BasePaths(spark, dir)
    val mod = ClusterState.PersistDeliveryMod
    val dTfq = bm25Postings(Tables.documents(spark, dir)
      .filter(expr(s"doc_id % $mod = 0")))
    val tfq = spark.read.parquet(postingsP).unionByName(dTfq)
    val dl = spark.read.parquet(dlP).unionByName(
      dTfq.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
    val dft = spark.read.parquet(dfP)
      .unionByName(dTfq.groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum(col("df")).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    (tfq, dl, dft, stats)
  }

  /** HYBRID retrieval: reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009) of the lexical BM25 ranking and the dense embedding-cosine
    * ranking — the production RAG retrieval shape (two independent
    * retrievers, one fused list; RRF needs no score calibration between
    * a micro-unit BM25 integer and a cosine, only RANKS). Per query doc
    * (doc_id < 8, the bm25_topk query set; embeddings.vec_id is the
    * document's embedding — same id space): top-20 from each retriever,
    * fused by `Σ 1e6 div (60 + rank)` — the standard k=60 constant,
    * integer-exact in both engines — then the top-5 by (fused score,
    * doc_id). Self-matches are excluded from BOTH lists (the lexical
    * rank is recomputed over non-self candidates; taking top-21 overall
    * first is exact — at most one self row can be dropped). Ranks a doc
    * earns in only one list contribute that one term (standard RRF over
    * the union); absent ranks surface as the −1 sentinel.
    *
    * Scale shape: the two retrieval stacks are the proven bounded plans
    * (posting-list join; broadcast-query brute cosine); the fusion
    * itself joins two nQ×20-row frames — nothing new touches the
    * corpus. */
  def hybridRrf(spark: SparkSession, dir: String, nQ: Int = 8,
                kIn: Int = 20, kTop: Int = 5): DataFrame = {
    val lex = rrfLexRank(bm25TopK(spark, dir, nQ, kIn + 1), kIn)
    val dns = SimilarityOps.cosineTopK(
        Tables.embeddings(spark, dir), 64, s"vec_id < $nQ", kIn)
      .selectExpr("q_id", "c_id AS doc_id", "rn AS rank_dense")
    rrfFuse(lex, dns, kTop)
  }

  /** Hybrid RRF retrieval AFTER A TAKEDOWN — the removal flowing through
    * the WHOLE serving stack: the lexical ranks come from the persisted
    * full index with the takedown folded out ([[bm25TopKTakedown]] — the
    * real df down-fold algebra), and the dense ranks from the surviving
    * embeddings (per-row independence makes a vector-store removal
    * exactly a row drop — no global statistics to fold). Queries in the
    * takedown batch vanish from BOTH sides; surviving queries re-rank
    * over survivors only. Fusion/rank stages shared with [[hybridRrf]]
    * (rrfLexRank/rrfFuse), so the twins cannot drift; the oracle is the
    * hybrid_rrf SQL with the survivor filters on both populations. The
    * compliance check a production RAG stack runs after a
    * right-to-be-forgotten batch: no removed doc may surface from either
    * retriever. */
  def hybridRrfTakedown(spark: SparkSession, dir: String, nQ: Int = 8,
                        kIn: Int = 20, kTop: Int = 5): DataFrame = {
    val td = Bm25TakedownMod
    val lex = rrfLexRank(bm25TopKTakedown(spark, dir, nQ, kIn + 1), kIn)
    val dns = SimilarityOps.cosineTopK(
        Tables.embeddings(spark, dir).filter(expr(s"vec_id % $td != 0")),
        64, s"vec_id < $nQ", kIn)
      .selectExpr("q_id", "c_id AS doc_id", "rn AS rank_dense")
    rrfFuse(lex, dns, kTop)
  }

  /** RRF diversification audit — the retrieval-quality gate for the
    * hybrid stack (the ann_recall discipline applied to fusion): per
    * query, of the fused top-5, how many rows also sit in the lexical
    * top-5, in the dense top-5, and in NEITHER (ranks it earned only
    * through fusion — the diversification RRF exists to buy). The
    * single-retriever membership is read off the rank columns the
    * fusion already carries, so the audit costs ONE aggregation over
    * the fused nQ×5-row frame — no retrieval stack runs twice. All
    * counts are exact integers. */
  def rrfOverlap(spark: SparkSession, dir: String, nQ: Int = 8,
                 kIn: Int = 20, kTop: Int = 5): DataFrame =
    hybridRrf(spark, dir, nQ, kIn, kTop)
      .groupBy("q_id").agg(
        count(lit(1)).as("k"),
        sum(expr(s"CASE WHEN rank_lex BETWEEN 1 AND $kTop THEN 1L ELSE 0L END")).as("n_lex"),
        sum(expr(s"CASE WHEN rank_dense BETWEEN 1 AND $kTop THEN 1L ELSE 0L END")).as("n_dense"),
        sum(expr(s"CASE WHEN NOT (rank_lex BETWEEN 1 AND $kTop)" +
          s" AND NOT (rank_dense BETWEEN 1 AND $kTop) THEN 1L ELSE 0L END")).as("n_fused_only"))

  /** Non-self lexical rank at `kIn` over a BM25 ranking taken at kIn+1
    * (at most one self row can drop) — shared by [[hybridRrf]] and
    * [[hybridRrfPersist]] so the two fusions cannot drift. */
  private[graft] def rrfLexRank(bm25: DataFrame, kIn: Int): DataFrame =
    bm25.filter(col("doc_id") =!= col("q_id"))
      .withColumn("rank_lex", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank_lex") <= kIn)
      .select("q_id", "doc_id", "rank_lex")

  /** The RRF fusion stage — full-outer rank union, integer
    * `1e6 div (60 + rank)` terms, −1 sentinels, (score, doc_id) top-k. */
  private[graft] def rrfFuse(lex: DataFrame, dns: DataFrame, kTop: Int): DataFrame =
    lex.join(dns, Seq("q_id", "doc_id"), "full_outer")
      .selectExpr("q_id", "doc_id",
        "coalesce(1000000L div (60 + rank_lex), 0L)" +
          " + coalesce(1000000L div (60 + rank_dense), 0L) AS rrf_micro",
        "coalesce(rank_lex, -1L) AS rank_lex",
        "coalesce(rank_dense, -1L) AS rank_dense")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("rrf_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rn") <= kTop)
      .select("q_id", "doc_id", "rank_lex", "rank_dense", "rrf_micro", "rn")

  /** Hybrid RRF retrieval over PERSISTED serving state — the production
    * RAG shape [[hybridRrf]] proves the ranking of: the lexical side
    * ranks over the persisted BM25 inverted index folded with the
    * delivery ([[bm25FoldedIndex]] — the bm25_topk_persist machinery),
    * and the dense side ranks over the persisted quantized vector store
    * ([[IndexState.denseStorePaths]]) unioned with the delivery's
    * vectors encoded at probe time ([[SimilarityOps.quantStore]] — the
    * identical per-row deterministic representation, so the union IS the
    * from-scratch encode). Timed work per run: the delivery-sized
    * tokenize + index fold, the delivery-sized vector encode, the two
    * bounded retrieval stacks, and the nQ×20-row fusion. Converges to
    * the self-contained [[hybridRrf]] BIT-EXACTLY — the oracle IS
    * hybrid_rrf's SQL. */
  def hybridRrfPersist(spark: SparkSession, dir: String, nQ: Int = 8,
                       kIn: Int = 20, kTop: Int = 5): DataFrame = {
    val (tfq, dl, dft, stats) = bm25FoldedIndex(spark, dir)
    val lex = rrfLexRank(bm25Rank(tfq, dl, dft, stats, nQ, kIn + 1), kIn)
    val mod = ClusterState.PersistDeliveryMod
    // the store lands as ONE parquet file; without the one-split guard
    // the scan feeds the brute-cosine stage — which has no exchange to
    // re-balance it — as a SINGLE task (the documented serialization
    // trap). No-op once a real deployment's store spans many files.
    val store = graft.ops.Parallelism.ensureMin(
      spark.read.parquet(IndexState.denseStorePaths(spark, dir)))
    val delivery = SimilarityOps.quantStore(
      Tables.embeddings(spark, dir).filter(expr(s"vec_id % $mod = 0")))
    // NOT checkpointed: the cosine ranker reads its input twice (query +
    // candidate side), but a one-shot materialization of the folded
    // store A/B-measured as a wash at sf0.1 under ±25% ambient (2.93 vs
    // the 2.81 un-checkpointed median, ratios to the self-contained twin
    // disagreeing across runs) and was reverted — the r9
    // incremental-facts discipline: unverifiable changes don't ship
    val dns = SimilarityOps.cosineTopKOfVecs(
        store.unionByName(delivery), s"vec_id < $nQ", kIn)
      .selectExpr("q_id", "c_id AS doc_id", "rn AS rank_dense")
    rrfFuse(lex, dns, kTop)
  }

  /** ADC shortlist size of the PQ-served hybrid dense leg — shared by
    * [[hybridRrfPq]] and its oracle restatement so the two cannot drift.
    * Sized ≥ 2× the fused-leg depth (kIn = 20): the exact re-rank then
    * re-orders a candidate set comfortably wider than what fusion
    * consumes, the standard shortlist/return ratio the pq_topk_rr gate
    * already prices. */
  val HybridPqShortlist = 48

  /** Hybrid RRF served with the DENSE LEG ON THE PQ INDEX — closing the
    * one scale-killer the r11 audit named: [[hybridRrfPersist]] proves
    * the persisted-state algebra but its dense side still scores a brute
    * cosine over the ENTIRE store per serve (O(corpus × nQ) at every
    * query batch). Here the dense ranking is the production index probe:
    * ADC over the PERSISTED PQ codes table
    * ([[IndexState.pqCodesPaths]] — stored (vec_id, code_0..7) rows, 16×
    * narrower than the quantized vectors; the delivery's codes encode at
    * probe time and fold in) shortlists [[HybridPqShortlist]]
    * candidates per query from codes alone — `nSub` array lookups per
    * candidate, no per-pair dot products — and ONLY the shortlist
    * fetches true vectors for the exact quantized-L2 re-rank
    * ([[graft.ops.SimilarityOps.pqTopKRerankCodes]], the pq_topk_rr
    * machinery probing stored codes). Per serve, the full-width corpus
    * scan AND the per-row corpus encode are replaced by a narrow codes
    * read plus a shortlist-sized exact pass — the UV-at-10^8 design
    * economy applied to retrieval. The codebook is the offline-trained
    * artifact: fitted (and memoized) against the full-corpus plan,
    * exactly the model the pq_topk family and the stored codes serve.
    *
    * The dense leg ranks by exact L2 over the shortlist (the PQ family's
    * metric) where [[hybridRrf]]'s brute leg ranks by cosine — a
    * DIFFERENT dense retriever by design, priced against the brute
    * fusion by [[rrfOverlapPq]]. The oracle restates this exact chain
    * (shared pqChain CTEs + the shared BM25 chain + the shared fusion
    * arithmetic), so the index-served fusion is hash-gated end to end. */
  def hybridRrfPq(spark: SparkSession, dir: String, nQ: Int = 8,
                  kIn: Int = 20, kTop: Int = 5): DataFrame = {
    val (tfq, dl, dft, stats) = bm25FoldedIndex(spark, dir)
    val lex = rrfLexRank(bm25Rank(tfq, dl, dft, stats, nQ, kIn + 1), kIn)
    rrfFuse(lex, pqDenseLeg(spark, dir, nQ, kIn), kTop)
  }

  /** The PQ-served dense rank leg — shared by [[hybridRrfPq]] and
    * [[rrfOverlapPq]] so the fusion and its audit price the SAME
    * serving path. The ADC scan reads the PERSISTED codes table
    * ([[IndexState.pqCodesPaths]] — 16× narrower than the quantized
    * vectors) folded with the delivery's probe-time encode, so a serve
    * never re-runs the per-row distance folds over the store; the
    * quantized vector store supplies only the query LUTs and the
    * shortlist rows' exact re-rank. The codebook fit is pinned to the
    * full-corpus plan (MODEL state, memo-shared with the pq_topk
    * family — the same fit the persisted codes were encoded against,
    * geometry in the artifact name). */
  private def pqDenseLeg(spark: SparkSession, dir: String, nQ: Int,
                         kIn: Int): DataFrame = {
    val mod = ClusterState.PersistDeliveryMod
    val fitOn = SimilarityOps.quantStore(Tables.embeddings(spark, dir))
    val delivery = SimilarityOps.quantStore(
      Tables.embeddings(spark, dir).filter(expr(s"vec_id % $mod = 0")))
    // one-split guard on the CODES side only — that scan feeds the ADC
    // loop (the per-row × per-query lookup work that serializes on a
    // single task without it). The vector store's consumers are cheap
    // probes (query-LUT filter, shortlist-broadcast re-rank joins), and
    // the r17 interleaved A/B read the store-side round-robin exchange +
    // 32-partition checkpoint as pure overhead: leg 0.96-1.36 s with it,
    // 0.89-1.03 s without, NEW ≤ OLD in every round.
    val store = spark.read.parquet(IndexState.denseStorePaths(spark, dir))
    val codes = graft.ops.Parallelism.ensureMin(
      spark.read.parquet(IndexState.pqCodesPaths(spark, dir)))
    // the folded vector store is checkpointed ONCE: it feeds the query
    // LUTs and both re-rank sides, and each reference would re-run the
    // store read + delivery encode otherwise
    val vecs = store.unionByName(delivery).localCheckpoint()
    SimilarityOps.pqTopKRerankCodes(
        codes.unionByName(SimilarityOps.pqEncode(delivery, 8, 8, fitOn)),
        vecs, 8, 8, s"vec_id < $nQ", kIn, HybridPqShortlist, fitOn)
      .selectExpr("q_id", "c_id AS doc_id", "rn AS rank_dense")
  }

  /** Fused-list drift audit of the PQ-served fusion against the brute
    * one — the recall-gate discipline ([[SimilarityOps.recallAtK]],
    * `rrf_overlap`) applied to the END PRODUCT of the serving stack: per
    * query, how many of [[hybridRrfPq]]'s fused top-5 also sit in
    * [[hybridRrf]]'s brute fused top-5. This is the number a deployment
    * reads before switching the dense leg to the index: the fused-list
    * overlap bounds how much the index approximation (ADC shortlist +
    * L2-vs-cosine metric swap) can change what retrieval actually
    * returns. Cost: the two fusion stacks (each bounded) + one join of
    * two nQ×5-row frames. */
  def rrfOverlapPq(spark: SparkSession, dir: String, nQ: Int = 8,
                   kIn: Int = 20, kTop: Int = 5): DataFrame = {
    // ONE lexical rank feeds BOTH fusions (the lexical leg is identical
    // row-for-row between the brute and PQ-served stacks — the drift
    // this audit prices is all dense-leg, so paying the BM25 chain
    // twice would measure nothing; the shared subplan also lets the
    // fusion joins reuse its exchange). The dense legs are the two
    // actually-competing retrievers: the brute cosine ranker and the
    // PQ probe over the identical quantized rows.
    val lex = rrfLexRank(bm25TopK(spark, dir, nQ, kIn + 1), kIn)
    val brute = SimilarityOps.cosineTopK(
        Tables.embeddings(spark, dir), 64, s"vec_id < $nQ", kIn)
      .selectExpr("q_id", "c_id AS doc_id", "rn AS rank_dense")
    rrfFuse(lex, pqDenseLeg(spark, dir, nQ, kIn), kTop).select("q_id", "doc_id")
      .join(rrfFuse(lex, brute, kTop)
          .select(col("q_id"), col("doc_id"), lit(1).as("hit")),
        Seq("q_id", "doc_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"), count(col("hit")).as("n_common"))
  }

  /** [[rrfOverlapPq]] as a deployment actually runs it: the brute fused
    * top-5 is PERSISTED once per corpus fingerprint
    * ([[IndexState.rrfBruteFusedPaths]] — the IndexState discipline, so
    * a regenerated corpus re-derives the baseline) and the recurring
    * audit is the PQ-served fusion ([[hybridRrfPq]] — persisted postings
    * + persisted codes, both delivery-sized probes) joined against the
    * stored nQ×5 frame. The brute stack is absent from this plan
    * entirely; [[rrfOverlapPq]] survives as the from-scratch twin that
    * re-derives both sides (the audit OF the baseline), same oracle.
    * Cost: the serving stack + one broadcast join against ≤ nQ·kTop
    * stored rows — the audit is now priced like any other `_persist`
    * probe instead of re-running the widest plan in the suite. */
  def rrfOverlapPqPersist(spark: SparkSession, dir: String, nQ: Int = 8,
                          kIn: Int = 20, kTop: Int = 5): DataFrame = {
    val baseline = spark.read.parquet(
      IndexState.rrfBruteFusedPaths(spark, dir, nQ, kIn, kTop))
    hybridRrfPq(spark, dir, nQ, kIn, kTop).select("q_id", "doc_id")
      .join(baseline.select(col("q_id"), col("doc_id"), lit(1).as("hit")),
        Seq("q_id", "doc_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"), count(col("hit")).as("n_common"))
  }

  /** The two SoftDedup micro-unit statements, shared textually between
    * the Spark plan and the DuckDB oracle (one arithmetic statement, two
    * engines): per-shingle ln(df) in exact micro-nats, and the
    * exp(−commonness) sampling weight. */
  private[queries] val softLnTerm: String =
    "CAST(round(1000000.0 * ln(CAST(df AS DOUBLE))) AS BIGINT)"
  private[queries] val softWeight: String =
    "CAST(round(1000000.0 * exp(-(CAST(mean_lndf_micro AS DOUBLE) / 1000000.0))) AS BIGINT)"

  /** SoftDedup-style commonness reweighting (He et al. 2024,
    * arXiv:2407.06654): instead of DROPPING near-duplicate mass, each doc
    * gets a sampling weight that decays with how COMMON its content is —
    * the mean ln(document frequency) of its distinct 3-gram shingles,
    * in exact micro-nats, mapped through `exp(−·)` to a weight in
    * (0, 1e6]. A doc of corpus-unique shingles keeps weight 1e6; boiler-
    * plate-heavy docs are down-weighted smoothly, preserving the long
    * tail hard dedup would delete. Weight arithmetic is the shared-
    * statement micro-unit idiom (sum of per-shingle integer micro-nats,
    * exact integer mean), so the ranking is engine-exact; only the final
    * ln/exp are libm calls, confined to the same 1e6-quantization margin
    * the DSIR/NB models document.
    *
    * Scale shape: shingles travel as 62-bit [[graft.functions.SpanHashes]]
    * hashes; TWO shingle-keyed exchanges (the df aggregation and the
    * join back) + one doc-keyed aggregation — contamination's cost
    * class, never doc×doc. At 100 TB the df table is the persistable
    * corpus-commonness index. */
  def dedupSoft(spark: SparkSession, dir: String): DataFrame = {
    val sh = DedupOps.shingleHashes(Tables.documents(spark, dir), "text", 3)
      .select("doc_id", "h").distinct()
    val dfT = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfT, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(expr(softLnTerm)).as("s"))
      .selectExpr("doc_id", "n_sh", "s div n_sh AS mean_lndf_micro")
      .selectExpr("doc_id", "n_sh", "mean_lndf_micro",
        s"$softWeight AS weight_micro")
  }

  /** Quality-score DISTRIBUTION drift: the quality scorer is a frozen
    * pure function, so a shift in its score distribution between the
    * reference window (doc_id % 2 = 0 — last snapshot) and the current
    * window is a data-mix signal, not a model change — the gate a
    * curation team reads next to [[kmeansDrift]] before absorbing a
    * delivery (embedding-space drift and quality-mass drift catch
    * different regressions). Per 0.1-wide quality bin: ref/cur counts
    * and exact ppm shares with the absolute drift, the same integer-ppm
    * comparison shape as kmeans_drift. Cost: the linear quality scan +
    * one ≤11-row aggregation + a 1-row broadcast. */
  def qualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = textQuality(spark, dir)
      .selectExpr("doc_id",
        "least(CAST(floor(quality * CAST(10 AS DOUBLE)) AS BIGINT), CAST(9 AS BIGINT)) AS bin")
      .groupBy("bin")
      .agg(sum(expr("CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END")).as("n_ref"),
        sum(expr("CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END")).as("n_cur"))
    val tot = cells.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    cells.crossJoin(broadcast(tot))
      .selectExpr("bin", "n_ref", "n_cur",
        "n_ref * 1000000 div t_ref AS ref_ppm",
        "n_cur * 1000000 div t_cur AS cur_ppm",
        "abs(n_ref * 1000000 div t_ref - n_cur * 1000000 div t_cur) AS drift_ppm")
  }

  /** The frozen BM25 index statistics [[bm25Score]] scores against:
    * the query term sets with their CORPUS document frequencies (bounded —
    * only terms occurring in a query doc matter to any score), plus the
    * global (N, Σdl) pair. The trained artifact a production deployment
    * persists; everything is collected over vocabulary-of-the-queries
    * sized data, never the corpus. */
  case class Bm25Model(terms: Seq[(Long, String, Long)], nDocs: Long,
                       sumDl: Long)

  /** Train the frozen index from the batch corpus — same tokenization and
    * statistics as [[bm25TopK]]'s inline chain. */
  def bm25Model(spark: SparkSession, dir: String, nQ: Int = 8): Bm25Model = {
    val tok = bm25Postings(Tables.documents(spark, dir))
    val dl = tok.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val Array(st) = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl")).collect()
    val dft = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val terms = tok.filter(col("doc_id") < nQ)
      .selectExpr("doc_id AS q_id", "term")
      .join(dft, "term")
      .select("q_id", "term", "df")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    Bm25Model(terms, st.getLong(0), st.getLong(1))
  }

  /** STATELESS BM25 scoring of arriving documents against a FROZEN index
    * ([[Bm25Model]]) — the ingest-time seed-similarity filter shape
    * (score a crawl against trusted seed queries on arrival, CCNet-style;
    * the retrieval twin of [[nbScore]]/dsirScore). Per arriving doc its
    * tf and dl are self-contained, and df/N/Σdl come from the frozen
    * model, so a doc's (q_id, score_micro) rows are BIT-IDENTICAL however
    * the stream is batched — the convergence property the parity spec
    * pins against the batch [[bm25TopK]] scores. The model join is a
    * broadcast of the bounded query-term table; micro-unit arithmetic is
    * the SAME shared statement ([[bm25MicroTerm]]). */
  def bm25Score(docs: DataFrame, model: Bm25Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = model.terms.toDF("q_id", "term", "df")
    val tok = bm25Postings(docs)
    val dl = tok.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    tok.join(broadcast(qdf), "term").join(dl, "doc_id")
      .withColumn("n_docs", lit(model.nDocs))
      .withColumn("sum_dl", lit(model.sumDl))
      .selectExpr("q_id", "doc_id", s"$bm25MicroTerm AS s_micro")
      .groupBy("q_id", "doc_id").agg(sum(col("s_micro")).as("score_micro"))
  }

  /** BPE-trainer statistics pass: the corpus word-frequency table, then
    * adjacent character-pair counts weighted by word frequency — exactly
    * the candidate ranking one byte-pair-encoding merge round consumes
    * (Sennrich et al. 2016, arXiv:1508.07909). The pair stage aggregates
    * over the DISTINCT-WORD table (vocabulary-sized, not corpus-sized) —
    * the property that makes tokenizer training tractable at 100 TB: the
    * corpus is scanned once to count words; every merge round thereafter
    * touches only the vocabulary. Global top-50 by (count DESC, pair ASC)
    * via orderBy+limit = TakeOrderedAndProject (per-partition heads merged
    * on the driver) — no single-partition window. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .selectExpr("explode(filter(split(trim(text), ' '), x -> x <> '')) AS w")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words.filter(length(col("w")) >= 2)
      .selectExpr("freq",
        "explode(transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))) AS pair")
      .groupBy("pair")
      .agg(sum(col("freq")).as("cnt"), count(lit(1)).as("n_forms"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(50)
  }

  /** Rounds learned by [[bpeLearn]]. 10 keeps the oracle restatement (one
    * CTE block per round) readable while exercising multi-round symbol
    * growth — merged tokens re-merging in later rounds. */
  val BpeRounds: Int = 10

  /** Multi-round BPE tokenizer TRAINING ([[graft.ops.BpeOps]] — Sennrich
    * et al. 2016): the first [[BpeRounds]] merges (round, lhs, rhs,
    * merged, cnt) learned from the corpus word-frequency table, extending
    * the single-round statistics pass [[bpePairs]] to the full learning
    * loop. Corpus-sized work is ONE word-count aggregation; every round
    * after that is vocabulary-sized (driver-local below
    * [[graft.ops.BpeOps.DefaultLocalMaxWords]], distributed above it —
    * bit-identical, parity-specced). The oracle restates the same greedy
    * left-to-right merge with window-function islanding: a merge starts at
    * every odd-ranked candidate within a run of consecutive candidate
    * positions (equivalent to the textbook scan — for lhs≠rhs candidates
    * are never adjacent, for lhs=rhs a run merges at offsets 1,3,5…). */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    graft.ops.BpeOps.learnMerges(bpeVocab(spark, dir), BpeRounds)

  /** Corpus word-frequency table — the tokenizer-training input. */
  private def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("explode(filter(split(trim(text), ' '), x -> x <> '')) AS word")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Tokenizer APPLY over the corpus — the token-budgeting pass a
    * pretraining pipeline runs once a tokenizer exists: [[bpeLearn]]'s
    * merges segment the VOCABULARY ([[graft.ops.BpeOps.segmentCounts]]),
    * and each document's subword count is the freq-weighted sum of its
    * words' counts. Segmenting the vocab instead of the corpus is the
    * standard trick: the per-character merge scan runs over model-sized
    * data, the corpus pays only one word explode + a broadcast word join
    * + one doc-keyed aggregation. Output per doc: whitespace word count,
    * BPE subword count, character count — the three denominators token
    * budgets are quoted in. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val seg = graft.ops.BpeOps.segmentCounts(bpeVocab(spark, dir), BpeRounds)
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(filter(split(trim(text), ' '), x -> x <> '')) AS word")
      .join(broadcast(seg), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
  }

  /** [[bpeEncode]] over a caller-supplied documents frame carrying a
    * per-document slice column (`lang`, `source`) computed ON THE SAME
    * scan row — the fertility/compression consumers group per
    * (doc, slice) with no second corpus scan and no corpus-sized doc_id
    * join (r17; the slice is functionally dependent on the doc, so the
    * extra group key changes nothing). */
  private def bpeEncodeBy(spark: SparkSession, dir: String,
                          docs: DataFrame, slice: String): DataFrame = {
    val seg = graft.ops.BpeOps.segmentCounts(bpeVocab(spark, dir), BpeRounds)
    docs
      .selectExpr("doc_id", slice,
        "explode(filter(split(trim(text), ' '), x -> x <> '')) AS word")
      .join(broadcast(seg), "word")
      .groupBy("doc_id", slice)
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
  }

  /** Tokenizer fertility by language — the multilingual-fairness
    * diagnostic a shared-tokenizer pipeline reports before fixing a token
    * budget: per detected language, corpus-summed word/subword/char
    * counts from the BPE apply ([[bpeEncode]]) keyed by [[langId]]'s
    * verdict, with exact integer micro-ratios (subwords per word,
    * chars per subword — languages the tokenizer segments poorly show
    * high fertility and pay more sequence length for the same text).
    * Composition of two green passes: the corpus pays the bpeEncode word
    * explode + one doc-keyed agg and the langId narrow scan, then a
    * |languages|-row aggregation. Micro-ratios are BIGINT
    * (sum × 10^6 div sum): headroom to ~9×10^12 tokens per language —
    * beyond that, widen to DECIMAL(38,0) before the multiply. */
  def tokFertility(spark: SparkSession, dir: String): DataFrame =
    // lang rides the encode scan ([[langIdOf]] keeps text for the word
    // explode) — one corpus pass, no doc_id shuffle join (r17)
    bpeEncodeBy(spark, dir,
        langIdOf(Tables.documents(spark, dir), Seq("text"))
          .select("doc_id", "lang", "text"), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
      .selectExpr("lang", "n_docs", "n_words", "n_tokens", "n_chars",
        "n_tokens * 1000000L div n_words AS fertility_micro",
        "n_chars * 1000000L div n_tokens AS compression_micro")

  /** Tokenizer compression by delivery SOURCE — the sourcing-side twin
    * of [[tokFertility]] (fertility slices by language for fairness;
    * this slices by feed for procurement): per source the corpus-summed
    * word/subword/char counts from the BPE apply and the exact integer
    * micro-ratios. A feed whose chars-per-token runs hot against the
    * corpus is tokenizer-out-of-distribution — its text costs more
    * sequence budget per byte, the signal that sends a source to
    * re-weighting ([[domainMix]]) or tokenizer retraining before a
    * token budget is fixed. Same cost shape as tok_fertility: the
    * bpeEncode pass + a |sources|-row aggregation (the source column
    * rides the documents scan — no second text pass). */
  def tokCompression(spark: SparkSession, dir: String): DataFrame =
    // source is a column of the SAME scan the encode pass reads — carry
    // it through the explode instead of a corpus-sized doc_id join (r17)
    bpeEncodeBy(spark, dir,
        Tables.documents(spark, dir).select("doc_id", "source", "text"),
        "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
      .selectExpr("source", "n_docs", "n_words", "n_tokens", "n_chars",
        "n_tokens * 1000000L div n_words AS fertility_micro",
        "n_chars * 1000000L div n_tokens AS compression_micro")

  /** Unigram-LM word table: corpus word frequencies, with words longer
    * than [[graft.ops.UnigramOps.MaxWordLen]] routed around the subword
    * model (the documented length filter, mirrored by the oracle). */
  private def uniVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("explode(filter(split(trim(text), ' '), x -> x <> '')) AS word")
      .filter(length(col("word")) <= graft.ops.UnigramOps.MaxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Unigram-LM seed-candidate statistics — the substring ranking the
    * tokenizer's seed inventory consumes ([[graft.ops.UnigramOps]] —
    * Kudo 2018), the single-stage twin of [[bpePairs]]: freq-weighted
    * counts of every 2..4-char substring over the VOCABULARY (never the
    * corpus), global top-50 by (count DESC, piece ASC) via orderBy+limit
    * = TakeOrderedAndProject. */
  def uniSeed(spark: SparkSession, dir: String): DataFrame =
    graft.ops.UnigramOps.substrings(uniVocab(spark, dir))
      .filter(length(col("piece")) > 1)
      .groupBy("piece")
      .agg(sum(col("freq")).as("cnt"), count(lit(1)).as("n_forms"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(50)

  /** Unigram-LM tokenizer TRAINING ([[graft.ops.UnigramOps]] — Kudo,
    * ACL 2018): the trained piece inventory (piece, cnt, score_micro)
    * after [[graft.ops.UnigramOps.EmRounds]] hard-EM rounds — seeded
    * from substring counts, Viterbi-segmented, pruned and Laplace-
    * rescored in integer micro-nats. The likelihood-pruning complement
    * to [[bpeLearn]]'s greedy merge growth. Corpus-sized work is ONE
    * word-count aggregation; every EM round is a vocabulary-sized
    * narrow scan under a broadcast score map, and every collect is
    * model-sized (bounded by |alphabet| + SeedMulti). The oracle
    * restates each round as a position-unrolled integer DP (one CTE
    * per position, MAX-path forward, longest-piece backtrack). */
  def uniLearn(spark: SparkSession, dir: String): DataFrame = {
    val (model, _) = graft.ops.UnigramOps.train(uniVocab(spark, dir))
    spark.createDataFrame(model).toDF("piece", "cnt", "score_micro")
  }

  /** Unigram tokenizer APPLY over the corpus — [[bpeEncode]]'s twin
    * under the trained unigram model: the vocabulary is Viterbi-
    * segmented under the final scores ([[graft.ops.UnigramOps
    * .segmentCounts]]), and each document's piece count is the
    * freq-weighted sum of its words' counts via one broadcast word
    * join — the corpus never pays the DP. Output per doc: word count,
    * unigram piece count, char count (words ≤ MaxWordLen only, the
    * same routing filter as training — mirrored in the oracle). */
  def uniEncode(spark: SparkSession, dir: String): DataFrame = {
    val seg = graft.ops.UnigramOps.segmentCounts(uniVocab(spark, dir))
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "explode(filter(split(trim(text), ' '), x -> x <> '')) AS word")
      .filter(length(col("word")) <= graft.ops.UnigramOps.MaxWordLen)
      .join(broadcast(seg), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
  }

  /** [[uniEncode]] with a per-document slice column on the same scan row
    * — [[bpeEncodeBy]]'s unigram twin. */
  private def uniEncodeBy(spark: SparkSession, dir: String,
                          docs: DataFrame, slice: String): DataFrame = {
    val seg = graft.ops.UnigramOps.segmentCounts(uniVocab(spark, dir))
    docs
      .selectExpr("doc_id", slice,
        "explode(filter(split(trim(text), ' '), x -> x <> '')) AS word")
      .filter(length(col("word")) <= graft.ops.UnigramOps.MaxWordLen)
      .join(broadcast(seg), "word")
      .groupBy("doc_id", slice)
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
  }

  /** Unigram fertility by language — [[tokFertility]]'s twin under the
    * unigram-LM tokenizer, and together with it the LANGUAGE-level
    * tokenizer A/B ([[tokAb]] compares per word; this compares where the
    * fairness question actually lands): per detected language the
    * corpus-summed word/piece/char counts from the unigram apply
    * ([[uniEncode]]) with the same exact integer micro-ratios. A
    * language whose fertility drops under the unigram model is evidence
    * for shipping it over BPE for that corpus mix. Same cost shape:
    * the uniEncode pass + the langId narrow scan + a |languages|-row
    * aggregation. */
  def uniFertility(spark: SparkSession, dir: String): DataFrame =
    // lang rides the encode scan — one corpus pass, no doc_id join (r17)
    uniEncodeBy(spark, dir,
        langIdOf(Tables.documents(spark, dir), Seq("text"))
          .select("doc_id", "lang", "text"), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"), sum(col("n_chars")).as("n_chars"))
      .selectExpr("lang", "n_docs", "n_words", "n_tokens", "n_chars",
        "n_tokens * 1000000L div n_words AS fertility_micro",
        "n_chars * 1000000L div n_tokens AS compression_micro")

  /** Tokenizer A/B at the vocabulary level — the table a pipeline reads
    * before CHOOSING between its two trained tokenizers: per word, the
    * BPE subword count ([[graft.ops.BpeOps.segmentCounts]] under
    * [[bpeLearn]]'s merges) against the unigram-LM Viterbi piece count
    * ([[graft.ops.UnigramOps.segmentCounts]] under [[uniLearn]]'s
    * model), with the corpus frequency that weights the difference.
    * Words where `diff` runs positive are where likelihood pruning
    * beats greedy merging (and vice versa) — fertility deltas land on
    * exactly these rows. The inner join pins the compared population to
    * the MaxWordLen-filtered vocabulary (BPE trains on all words; the
    * unigram contract routes longer words around the model). Cost: both
    * trainings' one-corpus-aggregation each, then everything is
    * vocabulary-sized. */
  def tokAb(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus word-count pass (r17): the unfiltered vocabulary is
    // checkpointed once and everything downstream — the BPE training
    // input, the MaxWordLen-filtered unigram vocabulary, and the join
    // base — derives from the materialized vocabulary-sized table; the
    // old shape re-ran the corpus tokenize+aggregate three times (BPE
    // vocab, unigram vocab, join base)
    val base = bpeVocab(spark, dir).localCheckpoint()
    val uniV = base.filter(length(col("word")) <= graft.ops.UnigramOps.MaxWordLen)
    val bpe = graft.ops.BpeOps.segmentCounts(base, BpeRounds)
      .withColumnRenamed("n_tok", "n_bpe")
    val uni = graft.ops.UnigramOps.segmentCounts(uniV)
      .withColumnRenamed("n_tok", "n_uni")
    uniV
      .join(bpe, "word").join(uni, "word")
      .selectExpr("word", "freq", "CAST(length(word) AS BIGINT) AS len",
        "n_bpe", "n_uni", "n_bpe - n_uni AS diff")
  }

  /** The frozen unigram tokenizer model: trained piece scores as a plain
    * map — bounded by |alphabet| + SeedMulti, a model parameter in the
    * PQ-codebook/dsirModelArray sense. */
  def uniModel(spark: SparkSession, dir: String): Map[String, Long] =
    graft.ops.UnigramOps.train(uniVocab(spark, dir))._2

  /** STATELESS per-row unigram token counting against a frozen model —
    * the ingest-time member of the frozen-model scorer family
    * (dsirScore / nbScore / bm25Score): train offline, meter each
    * arriving document's token budget with zero state and zero shuffles.
    * Works on batch and streaming frames alike and is bit-identical to
    * [[uniEncode]] by construction: the word extraction is the same
    * engine fragment (split/trim/filter + the MaxWordLen routing
    * filter), the per-word segmentation the same integer Viterbi DP.
    * Docs with no in-contract words drop out, matching uniEncode's
    * inner join. */
  def uniScore(docs: DataFrame, score: Map[String, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val m = score
    docs.selectExpr("CAST(doc_id AS LONG) AS doc_id",
        "filter(split(trim(text), ' '), x -> x <> '' AND length(x) <= " +
          s"${graft.ops.UnigramOps.MaxWordLen}) AS ws")
      .as[(Long, Seq[String])]
      .map { case (id, ws) =>
        (id, ws.size.toLong,
          ws.iterator.map(w => graft.ops.UnigramOps.segment(w, m).length.toLong).sum,
          ws.iterator.map(_.length.toLong).sum)
      }
      .toDF("doc_id", "n_words", "n_tokens", "n_chars")
      .filter(col("n_words") > 0)
  }

  /** Hashed-feature space of the Naive-Bayes classifier (shared with the
    * oracle and the frozen-model scorer). */
  val NbBuckets: Int = 1024

  /** Per-language marker vocabularies for the classifier's
    * injection oracle. The synthetic corpus's `lang` column is
    * label-INDEPENDENT of the text (verified: stopword rates are uniform
    * across labels; a driver-side NB tops out below the majority prior),
    * so — the [[piiScrub]] discipline — the query PLANTS a deterministic
    * signal by appending each doc's language markers, then asserts the
    * learner recovers the labels on held-out docs. The de/en/es/fr rows
    * are [[TextLang.langs]]; zh gets a pinyin particle list. */
  val NbMarkers: Seq[(String, String)] =
    (TextLang.langs.map { case (l, ws) => l -> ws.mkString(" ") } :+
      ("zh" -> "de shi bu le zai you he wo zhe ge")).sortBy(_._1)

  /** `CASE lang ... END` fragment appending the marker tokens — literal
    * SQL shared verbatim with the DuckDB oracle. */
  private def nbMarkedTextExpr: String =
    NbMarkers.map { case (l, m) => s"WHEN '$l' THEN concat(text, ' ', '$m')" }
      .mkString("CASE lang ", " ", " ELSE text END")

  /** The [[trainSplit]] bucket expression (over the ORIGINAL text, so the
    * classifier's train/test split is the same 80/10/10 content-hash split
    * every other split consumer uses). */
  private def nbBucketExpr: String =
    s"${DedupOps.md5Long("concat(CAST(doc_id AS STRING), '|', md5(text))")} % 10"

  private def nbTokExpr: String = "filter(split(trim(mtext), ' '), t -> t <> '')"

  /** Marker-inject a (doc_id, lang, text) frame for the frozen-model
    * scorer — the same CASE the batch classifier applies internally. */
  def nbMarkText(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "lang", s"$nbMarkedTextExpr AS text")

  /** Documents with the marker-injected feature text alongside the raw
    * split key. */
  private[queries] def nbDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang", s"$nbMarkedTextExpr AS mtext",
        s"$nbBucketExpr AS bucket")

  /** The train split's hashed-feature count table (c, b, cnt, fd) — ONE
    * tokenize+explode pass over the train corpus, ≤ C·(B+1) rows out,
    * localCheckpointed because every NB surface hangs at least two
    * consumers off it (the per-class token totals feeding the priors and
    * the dense model grid; uncheckpointed, each branch re-runs the
    * corpus scan — differing downstream groupings defeat ReusedExchange).
    *
    * `posexplode_outer` lets the SAME pass carry the per-class DOC count
    * (`fd` sums one marker row per document: its pos-0 token, or the
    * single null row an empty/null token array explodes to), so the r16
    * separate doc-count corpus scan is gone — priors (d_c = Σ_b fd,
    * n_c = Σ_b cnt: every token lands in exactly one bucket) and the
    * dense model grid all fold out of this one table. Null-bucket rows
    * (empty docs) carry cnt = 0 (`count(t)` skips the null token) and
    * never match the model grid's 0..B-1 join keys, so the dense model
    * is unchanged by their presence. */
  private[queries] def nbCounts(spark: SparkSession, dir: String,
                                buckets: Int): DataFrame = {
    val bExpr = s"${DedupOps.md5Long("t")} % $buckets"
    // explode FIRST, hash the exploded column: the md5 bucket hash then
    // runs inside whole-stage codegen; the same hash inside a
    // `transform(w, t -> ...)` lambda is interpreted expression-tree
    // evaluation per token.
    // No ensureMin repartition: the tokenize pass runs at the scan's own
    // parallelism — a corpus big enough for single-task tokenize to hurt
    // arrives in many splits anyway, while on a small corpus the
    // round-robin exchange (sortBeforeRepartition + 32-task scheduling)
    // costs more than the tokenize itself (r17 A/B at 32 cores/sf0.1:
    // 1.1-1.3 s with the repartition vs 0.62-0.75 s without).
    // coalesce(1): the aggregate is ≤ C·(B+1) rows — checkpointing it as
    // one partition makes the eager materialization a single task and
    // every downstream reference a 1-partition read (the r16 verdict's
    // NB fix).
    nbDocs(spark, dir).filter(col("bucket") < 8)
      .selectExpr("lang AS c", s"$nbTokExpr AS w")
      .select(col("c"), posexplode_outer(col("w")).as(Seq("pos", "t")))
      .selectExpr("c", s"$bExpr AS b", "t",
        "IF(pos IS NULL OR pos = 0, 1L, 0L) AS fd0")
      .groupBy("c", "b").agg(count(col("t")).as("cnt"), sum(col("fd0")).as("fd"))
      .coalesce(1)
      .localCheckpoint()
  }

  /** Train-split class summary: per language, document count, token count,
    * and the 1e6-quantized log prior — C rows at any corpus size, derived
    * ENTIRELY from the checkpointed count table (doc counts from its `fd`
    * marker sums — every train doc leaves exactly one marker row, so
    * classes whose docs all tokenize empty still appear with n_c = 0;
    * token totals from its `cnt` sums): no second corpus scan and no
    * second checkpoint — every reference re-plans only a C·(B+1)-row
    * single-partition aggregation (the r16 verdict's second NB fix). */
  private[queries] def nbPriorsFrom(spark: SparkSession, dir: String,
                                    counts: DataFrame): DataFrame = {
    val classes = counts.groupBy("c")
      .agg(sum(col("fd")).as("d_c"), sum(col("cnt")).as("n_c"))
      .selectExpr("c AS lang", "d_c", "n_c")
    classes.crossJoin(broadcast(classes.agg(sum(col("d_c")).as("d"))))
      .selectExpr("lang AS c", "d_c", "n_c",
        "CAST(round(1000000.0 * ln(CAST(d_c AS DOUBLE) / CAST(d AS DOUBLE))) AS BIGINT) AS prior_q")
  }

  /** [[nbPriorsFrom]] building its own count table — for standalone
    * consumers; surfaces that also need the model must build
    * [[nbCounts]] once and use the From-variants so the train corpus is
    * scanned once. */
  private[queries] def nbPriors(spark: SparkSession, dir: String): DataFrame =
    nbPriorsFrom(spark, dir, nbCounts(spark, dir, NbBuckets))

  /** Dense smoothed per-(class, bucket) log-likelihoods: every class ×
    * every bucket, Laplace +1 — C·B rows, broadcast to the scorer so
    * test-side features never shuffle to meet the model. */
  private[queries] def nbModelFrom(counts: DataFrame, priors: DataFrame,
                                   buckets: Int): DataFrame =
    priors
      .selectExpr("c", "n_c",
        s"explode(sequence(0L, ${buckets - 1}L)) AS b")
      .join(counts, Seq("c", "b"), "left")
      .selectExpr("c", "b",
        "CAST(round(1000000.0 * ln(CAST(coalesce(cnt, 0L) + 1 AS DOUBLE)" +
          s" / CAST(n_c + $buckets AS DOUBLE))) AS BIGINT) AS llh_q")

  /** [[nbModelFrom]] building its own inputs (callers that already built
    * priors pass them in — a fresh build here would re-run the
    * train-corpus scan per consumer). */
  private[queries] def nbModel(spark: SparkSession, dir: String,
                      buckets: Int = NbBuckets,
                      priorsIn: DataFrame = null): DataFrame = {
    val counts = nbCounts(spark, dir, buckets)
    val priors = Option(priorsIn).getOrElse(nbPriorsFrom(spark, dir, counts))
    nbModelFrom(counts, priors, buckets)
  }

  /** Multinomial Naive-Bayes language classifier — the model-based quality
    * / routing filter of the GPT-3/CCNet lineage (train a cheap linear
    * classifier on a trusted split, score the rest of the corpus), here
    * over hashed unigram features predicting `lang` so accuracy has a
    * ground-truth column. Because the synthetic corpus's labels are
    * text-independent, features come from [[NbMarkers]]-injected text (the
    * injection-oracle discipline — see [[NbMarkers]]); held-out accuracy
    * is then a real assertion, not noise. Train = the [[trainSplit]] 80%
    * buckets, scored = the held-out test bucket; all log terms are
    * 1e6-quantized integers (the DSIR discipline — per-doc scores are
    * exact BIGINT sums, the only libm risk is one `ln` per model row,
    * margin pinned tri-SF).
    *
    * Scale shape: the model branch is one exchange collapsing the train
    * corpus to ≤ C·B rows; scoring explodes test tokens once, joins the
    * BROADCAST dense model (×C per token), and pays ONE corpus-sized
    * exchange — the (doc, class) aggregation — plus the per-doc argmax
    * window. No corpus self-join; empty docs fall back to the prior by a
    * cheap filtered union, never a corpus-wide left join. */
  def nbClassify(spark: SparkSession, dir: String,
                 buckets: Int = NbBuckets): DataFrame =
    nbArgmax(nbScoredAll(spark, dir, buckets))

  /** NB classification against the PERSISTED model — the ingest-time
    * shape priced on the bench (bm25_topk_persist's discipline applied
    * to the model-based filter): priors and the dense (class, bucket)
    * log-likelihood table come from parquet
    * ([[IndexState.nbModelPaths]] — built once, fingerprint-keyed), so
    * the timed work is the HELD-OUT split's tokenize + two broadcast
    * joins + the argmax rank; the train-corpus tokenize/fit never runs.
    * Converges to [[nbClassify]] bit-exactly — the oracle IS
    * nb_classify's SQL. */
  def nbClassifyPersist(spark: SparkSession, dir: String): DataFrame = {
    val (priorsP, modelP) = IndexState.nbModelPaths(spark, dir)
    nbArgmax(nbScoredAllWith(spark, dir, NbBuckets,
      spark.read.parquet(priorsP), spark.read.parquet(modelP)))
  }

  /** The rn=1 argmax shared by the self-contained and persisted-model
    * classifiers so the two surfaces cannot drift. */
  private def nbArgmax(scored: DataFrame): DataFrame =
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_q").desc, col("c").asc)))
      .filter(col("rn") === 1)
      .selectExpr("doc_id", "lang", "c AS pred", "score_q", "lang = c AS correct")

  /** The full per-(doc, class) NB score frame [[nbClassify]] and
    * [[nbCalibration]] rank — every held-out doc × every class, exact
    * micro-log-units. */
  private def nbScoredAll(spark: SparkSession, dir: String,
                          buckets: Int): DataFrame = {
    // one shared count table → priors and model; the train corpus is
    // tokenized exactly once per classifier run
    val counts = nbCounts(spark, dir, buckets)
    val priorsFull = nbPriorsFrom(spark, dir, counts)
    nbScoredAllWith(spark, dir, buckets, priorsFull,
      nbModelFrom(counts, priorsFull, buckets))
  }

  /** [[nbScoredAll]] against caller-supplied model frames — the seam the
    * persisted-model classifier injects parquet reads through. */
  private def nbScoredAllWith(spark: SparkSession, dir: String, buckets: Int,
                              priorsFull: DataFrame,
                              model: DataFrame): DataFrame = {
    val bExpr = s"${DedupOps.md5Long("t")} % $buckets"
    val priors = priorsFull.select("c", "prior_q")
    val test = nbDocs(spark, dir).filter(col("bucket") === 9)
    // ONE held-out pass (r17): posexplode_outer keeps empty-tokenizing
    // docs as a single null-token row that hashes to the sentinel bucket
    // -1 (token buckets are 0..B-1, so no collision); the model is
    // widened by C sentinel rows with llh_q = 0, so an empty doc joins
    // every class once and scores prior_q + 0 — exactly the old
    // crossJoin(priors) empty branch, without its second corpus scan or
    // the union. Docs whose tokenization is NULL (null text) were absent
    // from both old branches (explode drops null arrays; size(null) ≠ 0)
    // — the isNotNull filter pins that.
    // No ensureMin: same measured trade as nbCounts — the held-out split
    // is a tenth of the corpus, and the round-robin exchange of its token
    // arrays costs more than tokenizing them at scan parallelism.
    val modelPlus = model.unionByName(
      priors.selectExpr("c", "CAST(-1 AS BIGINT) AS b", "CAST(0 AS BIGINT) AS llh_q"))
    test
      .selectExpr("doc_id", "lang", s"$nbTokExpr AS w")
      .filter(col("w").isNotNull)
      // explode-then-hash keeps the md5 bucket hash codegen'd (see nbModel)
      .select(col("doc_id"), col("lang"), posexplode_outer(col("w")).as(Seq("pos", "t")))
      .selectExpr("doc_id", "lang", s"coalesce($bExpr, -1L) AS b")
      .join(broadcast(modelPlus), "b")
      .groupBy("doc_id", "lang", "c").agg(sum(col("llh_q")).as("s_q"))
      .join(broadcast(priors), "c")
      .selectExpr("doc_id", "lang", "c", "prior_q + s_q AS score_q")
  }

  /** Reliability diagram of the NB classifier — the evaluation that
    * decides whether a model-based filter's CONFIDENCE can gate routing
    * decisions, completing the [[nbConfusion]] suite: per held-out doc
    * the top1−top2 margin in exact micro-log-units (the classifier's own
    * integer scores, no float softmax), binned at 4 log-units per bin
    * (capped at bin 19), and per bin the doc count, correct count, exact
    * ppm accuracy, and mean margin. A well-calibrated filter shows
    * accuracy rising with the margin bin; a flat curve means thresholding
    * on confidence is noise. Cost: the one classifier pass
    * ([[nbClassify]]'s own chain) + a top-2 rank + a ≤10-row
    * aggregation. */
  def nbCalibration(spark: SparkSession, dir: String): DataFrame = {
    val ranked = nbScoredAll(spark, dir, NbBuckets)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_q").desc, col("c").asc)))
      .filter(col("rn") <= 2)
    ranked.groupBy("doc_id", "lang")
      .agg(max(when(col("rn") === 1,
          struct(col("score_q").as("s"), col("c").as("c")))).as("t1"),
        max(when(col("rn") === 2, col("score_q"))).as("s2"))
      // a doc scored for exactly one class has no rn=2 row → no margin;
      // the oracle's INNER join on r2.rn = 2 drops it, so drop it here
      // too instead of letting a NULL-margin bin diverge the surfaces
      // (latent today — every doc is scored against every class — but
      // the two engines must pin the same single-class behavior)
      .filter(col("s2").isNotNull)
      .selectExpr("lang = t1.c AS correct", "t1.s - s2 AS margin_q")
      .selectExpr("least(margin_q div 4000000, CAST(19 AS BIGINT)) AS bin",
        "correct", "margin_q")
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"),
        sum(col("margin_q")).as("sum_margin"))
      .selectExpr("bin", "n", "n_correct",
        "n_correct * 1000000L div n AS acc_ppm",
        "sum_margin div n AS avg_margin_q")
  }

  /** Classifier evaluation closing the train→score→evaluate loop: the
    * confusion matrix of [[nbClassify]]'s held-out predictions, each cell
    * carrying its row (true-class) and column (predicted-class) totals
    * and the derived recall/precision shares — the diagonal cells read as
    * per-class recall and precision, the off-diagonals as the error
    * routing a model owner actually debugs. One keyed aggregation over
    * the classifier output; totals are class-cardinality-sized. */
  def nbConfusion(spark: SparkSession, dir: String): DataFrame = {
    // totals as WINDOW sums over the |classes|²-row cell frame, not
    // re-aggregations: joining separate groupBys re-planned the whole
    // classifier chain per branch (the r9 plan audit counted 46 shuffle
    // exchanges); the windows reuse the one cell aggregation
    val cells = nbClassify(spark, dir)
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_true", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("n_pred", sum(col("n")).over(Window.partitionBy(col("pred"))))
      .selectExpr("lang", "pred", "n", "n_true", "n_pred",
        "CAST(n AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall_share",
        "CAST(n AS DOUBLE) / CAST(n_pred AS DOUBLE) AS precision_share")
  }

  /** The trained model densified for the frozen-model scorer: class list
    * (sorted) with prior and the full bucket-indexed llh array per class —
    * bounded model params (C·B longs), the PQ-codebook collect discipline. */
  def nbModelArrays(spark: SparkSession, dir: String,
                    buckets: Int = NbBuckets): Seq[(String, Long, Array[Long])] = {
    val counts = nbCounts(spark, dir, buckets)
    val priorsFull = nbPriorsFrom(spark, dir, counts)
    val pri = priorsFull.select("c", "prior_q").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    nbModelFrom(counts, priorsFull, buckets).collect()
      .map(r => (r.getString(0), r.getLong(1).toInt, r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rows) =>
        val arr = new Array[Long](buckets)
        rows.foreach { case (_, b, q) => arr(b) = q }
        (c, pri(c), arr)
      }
  }

  /** STATELESS per-row NB scoring against a frozen model — the ingest-time
    * shape (train offline, classify on arrival); batch/streaming-agnostic
    * and bit-identical to [[nbClassify]] on the same rows (same hash
    * fragment, same integer sums; asserted in PipelineSpec and live-run in
    * StreamingJobsSpec). The per-row argmax is a single array fold —
    * no shuffle at all. */
  def nbScore(docs: DataFrame, model: Seq[(String, Long, Array[Long])],
              buckets: Int = NbBuckets): DataFrame = {
    val bExpr = s"${DedupOps.md5Long("t")} % $buckets"
    val classes = model.map(_._1)
    val scoreCols = model.zipWithIndex.map { case ((c, prior, arr), i) =>
      s"$prior + aggregate(fb, 0L, (acc, b) -> acc + element_at(m$i, CAST(b + 1 AS INT))) AS s$i"
    }
    val tok = "filter(split(trim(text), ' '), t -> t <> '')"
    val withArrs = model.zipWithIndex.foldLeft(
        docs.selectExpr("doc_id", "lang", s"transform($tok, t -> $bExpr) AS fb")) {
      case (df, ((_, _, arr), i)) => df.withColumn(s"m$i", typedLit(arr.toSeq))
    }
    val scoreArr = model.indices.map(i => s"s$i").mkString("array(", ", ", ")")
    val classArr = classes.map(c => s"'$c'").mkString("array(", ", ", ")")
    withArrs
      .selectExpr(Seq("doc_id", "lang") ++ scoreCols: _*)
      .selectExpr("doc_id", "lang", s"$scoreArr AS ss")
      // argmax with the same (score desc, class asc) tie-break as the
      // batch window: classes are pre-sorted, strict > keeps the first
      .selectExpr("doc_id", "lang", "ss",
        "aggregate(IF(size(ss) > 1, sequence(1, size(ss) - 1), array()), 0, " +
          "(best, i) -> IF(element_at(ss, i + 1) > element_at(ss, best + 1), i, best)) AS bi")
      .selectExpr("doc_id", "lang",
        s"element_at($classArr, bi + 1) AS pred",
        "element_at(ss, bi + 1) AS score_q",
        s"lang = element_at($classArr, bi + 1) AS correct")
  }

  /** Cross-source content-overlap audit: for every source pair, how many
    * distinct word-3-shingles appear in BOTH, as a shingle-set Jaccard —
    * the cross-source contamination profile a multi-source corpus build
    * checks before assigning per-source quotas (shared crawls inflate a
    * naive mix). The raw-document variant (shared exact-content hashes)
    * degenerates on this corpus — no two sources share a byte-identical
    * document — so the unit is the shingle, the same granularity the
    * dedup family measures.
    *
    * Scale shape: never doc × doc and never a hash self-join — shingles
    * shared by k sources would pay k² join rows, so instead ONE
    * aggregation per shingle collects the (bounded, ≤ #sources) sorted
    * source set and the pairs explode from that array; the pair count is
    * then a #sources²-keyed aggregation. Shingles travel as the 62-bit
    * [[graft.functions.SpanHashes]] hashes, not strings. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = DedupOps.shingleHashes(Tables.documents(spark, dir), "text", 3, "source")
      .select("source", "h").distinct()
    val tot = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sh.groupBy("h").agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .selectExpr("explode(flatten(transform(sequence(1, size(ss) - 1), j -> " +
        "transform(sequence(0, j - 1), i -> " +
        "struct(element_at(ss, i + 1) AS source_a, element_at(ss, j + 1) AS source_b))))) AS p")
      .selectExpr("p.source_a AS source_a", "p.source_b AS source_b")
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(tot.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "n_a")), "source_a")
      .join(broadcast(tot.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "n_b")), "source_b")
      .selectExpr("source_a", "source_b", "n_a", "n_b", "shared",
        "CAST(shared AS DOUBLE) / CAST(n_a + n_b - shared AS DOUBLE) AS overlap_jaccard")
  }
}

/** Shared language stopword profiles (small on purpose — the data is
  * synthetic; what is tested is the deterministic argmax machinery). */
object TextLang {
  val langs: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"))
}

object PipelineOracles {
  val dedupExact: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
      |FROM documents GROUP BY 1""".stripMargin

  private val toks = "list_filter(string_split(trim(text), ' '), t -> t <> '')"

  val textStats: String =
    s"""SELECT doc_id,
       |  CAST(len($toks) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_rtokens,
       |  CAST(list_sum(list_transform($toks, t -> length(t))) AS DOUBLE)
       |    / CAST(nullif(len($toks), 0) AS DOUBLE) AS avg_token_len,
       |  CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS punct_cnt,
       |  CAST(len(list_filter($toks,
       |    t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t))) AS BIGINT) AS stop_cnt
       |FROM documents""".stripMargin

  val textQuality: String =
    s"""WITH s AS ($textStats)
       |SELECT doc_id,
       |  CAST(0.4 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
       |  + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(punct_cnt AS DOUBLE) / (CAST(punct_cnt AS DOUBLE) + CAST(100.0 AS DOUBLE)))
       |  + CAST(0.3 AS DOUBLE) * (CAST(stop_cnt AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)) AS quality
       |FROM s""".stripMargin

  /** Word-3-shingle CTEs shared by the dedup oracles (list comprehension:
    * DuckDB's generate_series cannot be laterally parameterized). */
  private def shingleCte(carrySource: Boolean): String = {
    val src = if (carrySource) ", source" else ""
    s"""toks AS (SELECT doc_id$src, list_filter(string_split(trim(text), ' '), t -> t <> '') AS w FROM documents),
       |sh0 AS (SELECT doc_id$src, unnest([w[k] || ' ' || w[k+1] || ' ' || w[k+2]
       |                 for k in generate_series(1, len(w) - 2)]) AS sh FROM toks),
       |sh AS (SELECT DISTINCT doc_id$src, sh FROM sh0),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)""".stripMargin
  }

  /** [[PipelineQueries.boilerplateSpans]] restatement: 5-token span
    * comprehension, span-keyed aggregate, same total order and 20-cut. */
  val boilerplateSpans: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> t <> '') AS w FROM documents),
      |s AS (SELECT doc_id, unnest([w[k] || ' ' || w[k+1] || ' ' || w[k+2] || ' ' || w[k+3] || ' ' || w[k+4]
      |        for k in generate_series(1, len(w) - 4)]) AS sh FROM toks),
      |g AS (SELECT sh, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |             CAST(count(*) AS BIGINT) AS n_occurrences, min(doc_id) AS example_doc
      |      FROM s GROUP BY 1)
      |SELECT sh, n_docs, n_occurrences, example_doc FROM g WHERE n_docs >= 2
      |ORDER BY n_docs DESC, n_occurrences DESC, sh ASC LIMIT 20""".stripMargin

  val dedupNgram: String =
    s"""WITH ${shingleCte(carrySource = true)},
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, common,
       |  CAST(common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - common AS DOUBLE) AS jaccard
       |FROM p JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - common AS DOUBLE) >= 0.5""".stripMargin

  /** The MinHash candidate+verify chain through CTE `jp` =
    * (doc_a, doc_b, jaccard) over ALL band-collision candidates with ≥ 1
    * common shingle — shared by the threshold query (dedupMinhash) and
    * the calibration histogram (dedupPairHist). */
  private val minhashChain: String = {
    val perms = graft.ops.DedupOps.permConstants(16)
      .map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")
    s"""${shingleCte(carrySource = false)},
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647 AS h32 FROM sh),
       |perms(i, a, b) AS (VALUES $perms),
       |mh AS (SELECT doc_id, i, min((a * h32 + b) % 2147483647) AS v
       |       FROM h CROSS JOIN perms GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // 4 AS band,
       |                 string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS sig
       |          FROM mh GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |cm AS (SELECT doc_a, doc_b, count(*) AS common
       |       FROM cand
       |       JOIN sh sa ON sa.doc_id = doc_a
       |       JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
       |       GROUP BY 1, 2),
       |jp AS (SELECT doc_a, doc_b,
       |         CAST(common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - common AS DOUBLE) AS jaccard
       |       FROM cm JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b)""".stripMargin
  }

  val dedupMinhash: String =
    s"""WITH $minhashChain
       |SELECT doc_a, doc_b, jaccard FROM jp WHERE jaccard >= 0.5""".stripMargin

  /** [[PipelineQueries.termDrift]] restatement: same tokenization, same
    * single-ln quantized ratio (the dsirWeights idiom — one combined
    * ratio per ln call), same (|lo| DESC, term ASC) rank. */
  val termDrift: String =
    s"""WITH tk AS (SELECT CAST(doc_id % 2 AS BIGINT) AS half,
       |              unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS t
       |            FROM documents),
       |counts AS (SELECT t, SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c_ref,
       |                  SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c_cur
       |           FROM tk GROUP BY 1
       |           HAVING SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
       |                + SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) >= 20),
       |tot AS (SELECT SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS t_ref,
       |               SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS t_cur FROM tk),
       |voc AS (SELECT count(*) AS v FROM counts),
       |lo AS (SELECT t AS term, CAST(c_ref AS BIGINT) AS c_ref, CAST(c_cur AS BIGINT) AS c_cur,
       |         CAST(round(1000000.0 * ln((CAST(c_cur + 1 AS DOUBLE) / CAST(c_ref + 1 AS DOUBLE))
       |              * (CAST(t_ref + v AS DOUBLE) / CAST(t_cur + v AS DOUBLE)))) AS BIGINT) AS lo_q
       |       FROM counts CROSS JOIN tot CROSS JOIN voc)
       |SELECT term, c_ref, c_cur, lo_q FROM lo
       |ORDER BY abs(lo_q) DESC, term ASC LIMIT 20""".stripMargin

  /** [[PipelineQueries.dedupPairHist]] restatement: the same chain, low
    * floor, decile bucketing with exact min/max per bucket. */
  val dedupPairHist: String =
    s"""WITH $minhashChain
       |SELECT CAST(floor(jaccard * 10) AS BIGINT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       MIN(jaccard) AS min_j, MAX(jaccard) AS max_j
       |FROM jp WHERE jaccard >= 0.05 GROUP BY 1""".stripMargin

  val dedupSimhash: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(list_distinct(list_filter(string_split(trim(text), ' '), t -> t <> ''))) AS tok
      |    FROM documents)),
      |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
      |bits AS (SELECT doc_id, g.j AS j,
      |                SUM(CASE WHEN (h >> g.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |         FROM h CROSS JOIN generate_series(0, 59) g(j) GROUP BY 1, 2)
      |SELECT doc_id,
      |       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      |FROM bits GROUP BY 1""".stripMargin

  private def quantCteOver(where: String): String =
    s"""qz AS (SELECT vec_id AS id, p.p AS pos,
       |              CAST(round(CAST(embedding[p.p] AS DOUBLE) * 10000000) AS BIGINT) AS v
       |       FROM embeddings CROSS JOIN generate_series(1, 64) p(p)$where),
       |nrm AS (SELECT id, SUM(v * v) AS norm2 FROM qz GROUP BY 1)""".stripMargin

  private val quantCte = quantCteOver("")

  val embedTopK: String =
    s"""WITH $quantCte,
       |d AS (SELECT a.id AS q_id, b.id AS c_id, SUM(a.v * b.v) AS dot
       |      FROM qz a JOIN qz b ON a.pos = b.pos AND a.id <> b.id
       |      WHERE a.id < 8 GROUP BY 1, 2),
       |s AS (SELECT q_id, c_id,
       |             CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |      FROM d JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id)
       |SELECT q_id, c_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM s
       |) WHERE rn <= 5""".stripMargin

  /** Shared SQ8 CTE chain over [[quantCte]]'s long form: per-dim
    * symmetric scales (floored at 1) and the int8 code table — the one
    * statement both [[embedSq8]] and [[sq8TopK]] consume. */
  private val sq8Cte: String =
    """mx AS (SELECT pos, GREATEST(MAX(ABS(v)), 1) AS maxabs FROM qz GROUP BY 1),
      |c8 AS (SELECT id, pos, maxabs,
      |              CAST(round(CAST(v AS DOUBLE) * 127.0 / CAST(maxabs AS DOUBLE)) AS BIGINT) AS code
      |       FROM qz JOIN mx USING (pos))""".stripMargin

  /** [[PipelineQueries.embedSq8]] restatement: the same quantized long
    * form, scale fit, encode and per-dim audit sums. */
  val embedSq8: String =
    s"""WITH $quantCte,
       |$sq8Cte
       |SELECT CAST(pos AS BIGINT) AS dim, CAST(MAX(maxabs) AS BIGINT) AS maxabs,
       |  CAST(SUM(CASE WHEN ABS(code) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
       |  CAST(SUM(code) AS BIGINT) AS sum_code,
       |  CAST(SUM(ABS(code)) AS BIGINT) AS sum_abs_code
       |FROM c8 GROUP BY 1""".stripMargin

  /** [[PipelineQueries.sq8TopK]] restatement: the shared code table,
    * exact integer code dot/norms, code-space cosine rank. */
  val sq8TopK: String =
    s"""WITH $quantCte,
       |$sq8Cte,
       |n8 AS (SELECT id, SUM(code * code) AS n8 FROM c8 GROUP BY 1),
       |d8 AS (SELECT a.id AS q_id, b.id AS c_id, CAST(SUM(a.code * b.code) AS BIGINT) AS dot8
       |       FROM c8 a JOIN c8 b ON a.pos = b.pos AND a.id <> b.id
       |       WHERE a.id < 8 GROUP BY 1, 2),
       |s8 AS (SELECT q_id, c_id, dot8,
       |              CAST(dot8 AS DOUBLE) / (sqrt(CAST(na.n8 AS DOUBLE)) * sqrt(CAST(nb.n8 AS DOUBLE))) AS cos8
       |       FROM d8 JOIN n8 na ON na.id = q_id JOIN n8 nb ON nb.id = c_id)
       |SELECT q_id, c_id, dot8, cos8, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos8 DESC, c_id ASC) AS rn FROM s8)
       |WHERE rn <= 5""".stripMargin

  val embedTopKLsh: String =
    s"""WITH $quantCte,
       |w AS (SELECT j.j AS j, p.p AS pos,
       |             CAST(('0x' || substr(md5(j.j || '_' || p.p), 1, 15)) AS BIGINT) % 2001 - 1000 AS wt
       |      FROM generate_series(0, 7) j(j) CROSS JOIN generate_series(1, 64) p(p)),
       |sums AS (SELECT id, j, SUM(v * wt) AS s
       |         FROM qz JOIN w ON qz.pos = w.pos GROUP BY 1, 2),
       |b AS (SELECT id, SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS bucket
       |      FROM sums GROUP BY 1),
       |cand AS (SELECT q.id AS q_id, c.id AS c_id
       |         FROM b q JOIN b c ON q.bucket = c.bucket AND q.id <> c.id
       |         WHERE q.id < 32),
       |d AS (SELECT q_id, c_id, SUM(a.v * bb.v) AS dot
       |      FROM cand JOIN qz a ON a.id = q_id JOIN qz bb ON bb.id = c_id AND bb.pos = a.pos
       |      GROUP BY 1, 2),
       |s AS (SELECT q_id, c_id,
       |             CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |      FROM d JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id)
       |SELECT q_id, c_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM s
       |) WHERE rn <= 3""".stripMargin

  val dedupEmbed: String =
    s"""WITH $quantCte,
       |w AS (SELECT j.j AS j, p.p AS pos,
       |             CAST(('0x' || substr(md5(j.j || '_' || p.p), 1, 15)) AS BIGINT) % 2001 - 1000 AS wt
       |      FROM generate_series(0, 15) j(j) CROSS JOIN generate_series(1, 64) p(p)),
       |sums AS (SELECT id, j, SUM(v * wt) AS s
       |         FROM qz JOIN w ON qz.pos = w.pos GROUP BY 1, 2),
       |bb AS (SELECT id, j // 4 AS band,
       |              SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(j % 4 AS INT)) ELSE CAST(0 AS BIGINT) END) AS bucket
       |       FROM sums GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |         FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |d AS (SELECT id_a, id_b, SUM(x.v * y.v) AS dot
       |      FROM cand JOIN qz x ON x.id = id_a JOIN qz y ON y.id = id_b AND y.pos = x.pos
       |      GROUP BY 1, 2),
       |s AS (SELECT id_a, id_b,
       |             CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |      FROM d JOIN nrm na ON na.id = id_a JOIN nrm nb ON nb.id = id_b)
       |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.4""".stripMargin

  /** Language-ID CTE chain ending in `lid(doc_id, lang, score)` — the
    * argmax stopword-profile verdict, shared by langId and tokFertility.
    * CTE names are `l`-prefixed so the chain composes with bpeChain. */
  private def langIdChain: String = {
    val branches = TextLang.langs.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString(", ")
      s"SELECT doc_id, '$lang' AS lang, CAST(len(list_filter(toks, t -> list_contains([$arr], t))) AS BIGINT) AS score FROM lt"
    }.mkString("\nUNION ALL\n")
    s"""lt AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), t -> t <> '') AS toks FROM documents),
       |ls AS ($branches),
       |lid AS (SELECT doc_id, lang, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn FROM ls
       |) WHERE rn = 1)""".stripMargin
  }

  val langId: String =
    s"WITH $langIdChain\nSELECT doc_id, lang, score FROM lid"

  val gopherRepetition: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w) - 1)]) AS sh FROM t),
      |bc AS (SELECT doc_id, sh, count(*) AS cnt FROM bg GROUP BY 1, 2),
      |bs AS (SELECT doc_id, max(cnt) AS mx, sum(cnt) AS tot FROM bc GROUP BY 1),
      |tg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in generate_series(1, len(w) - 2)]) AS sh FROM t),
      |ts AS (SELECT doc_id, count(DISTINCT sh) AS dist3, count(*) AS tot3 FROM tg GROUP BY 1)
      |SELECT doc_id,
      |  CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE) AS top_bigram_frac,
      |  CAST(tot3 - dist3 AS DOUBLE) / CAST(tot3 AS DOUBLE) AS dup_trigram_frac,
      |  (CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE)) <= 0.08
      |    AND (CAST(tot3 - dist3 AS DOUBLE) / CAST(tot3 AS DOUBLE)) <= 0.6 AS pass
      |FROM bs JOIN ts USING (doc_id)""".stripMargin

  val contamination: String =
    """WITH spl AS (
      |  SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 15)) AS BIGINT) % 10 AS b
      |        FROM documents)),
      |t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in generate_series(1, len(w) - 2)]) AS sh FROM t)),
      |tr AS (SELECT DISTINCT sh FROM g JOIN spl USING (doc_id) WHERE split = 'train'),
      |te AS (SELECT g.doc_id, g.sh FROM g JOIN spl USING (doc_id) WHERE split = 'test')
      |SELECT te.doc_id, count(*) AS n_sh, count(tr.sh) AS n_hit,
      |  CAST(count(tr.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS containment
      |FROM te LEFT JOIN tr ON te.sh = tr.sh GROUP BY 1""".stripMargin

  /** [[PipelineQueries.contaminationDelivery]] restatement: the fixed
    * eval-suite shingle set (test docs under the cap) left-joined by the
    * bounded delivery's shingles — string shingles stand in for the
    * 62-bit hashes exactly as in [[contamination]]. */
  val contaminationDelivery: String =
    s"""WITH spl AS (
      |  SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 15)) AS BIGINT) % 10 AS b
      |        FROM documents)),
      |t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in generate_series(1, len(w) - 2)]) AS sh FROM t)),
      |ev AS (SELECT DISTINCT sh FROM g JOIN spl USING (doc_id) WHERE split = 'test' AND doc_id < 500),
      |de AS (SELECT g.doc_id, g.sh FROM g JOIN spl USING (doc_id)
      |       WHERE split = 'train' AND g.doc_id >= ${PipelineQueries.ContamDeliveryLo}
      |         AND g.doc_id < ${PipelineQueries.ContamDeliveryHi})
      |SELECT de.doc_id, count(*) AS n_sh, count(ev.sh) AS n_hit,
      |  CAST(count(ev.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS containment
      |FROM de LEFT JOIN ev ON de.sh = ev.sh GROUP BY 1""".stripMargin

  /** [[PipelineQueries.dedupSoft]] restatement: string shingles stand in
    * for the 62-bit hashes (identity-equivalent for df counting), the
    * SAME shared micro-unit statements
    * ([[PipelineQueries.softLnTerm]]/[[PipelineQueries.softWeight]]). */
  val dedupSoft: String =
    s"""WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
       |g AS (SELECT DISTINCT doc_id, sh FROM (
       |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in generate_series(1, len(w) - 2)]) AS sh FROM t)),
       |dfx AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1),
       |d AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
       |        CAST(SUM(${PipelineQueries.softLnTerm}) AS BIGINT) AS s
       |      FROM g JOIN dfx USING (sh) GROUP BY 1),
       |m AS (SELECT doc_id, n_sh, CAST(s // n_sh AS BIGINT) AS mean_lndf_micro FROM d)
       |SELECT doc_id, n_sh, mean_lndf_micro, ${PipelineQueries.softWeight} AS weight_micro FROM m""".stripMargin

  /** [[PipelineQueries.qualityDrift]] restatement: the quality oracle as
    * a CTE, 0.1-wide bins, the kmeans_drift integer-ppm comparison. */
  val qualityDrift: String =
    s"""WITH q AS ($textQuality),
       |cells AS (SELECT least(CAST(floor(quality * CAST(10 AS DOUBLE)) AS BIGINT), CAST(9 AS BIGINT)) AS bin,
       |            SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
       |            SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_cur
       |          FROM q GROUP BY 1),
       |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cells)
       |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       |  CAST(n_ref * 1000000 // t_ref AS BIGINT) AS ref_ppm,
       |  CAST(n_cur * 1000000 // t_cur AS BIGINT) AS cur_ppm,
       |  CAST(abs(n_ref * 1000000 // t_ref - n_cur * 1000000 // t_cur) AS BIGINT) AS drift_ppm
       |FROM cells CROSS JOIN tot""".stripMargin

  val embedTopKIvf: String =
    s"""WITH $quantCte,
       |cd AS (SELECT a.id AS vid, b.id AS cid, SUM(a.v * b.v) AS dot
       |       FROM qz a JOIN qz b ON a.pos = b.pos WHERE b.id < 16 GROUP BY 1, 2),
       |cs AS (SELECT vid, cid,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |       FROM cd JOIN nrm na ON na.id = vid JOIN nrm nb ON nb.id = cid),
       |assign AS (SELECT vid AS c_id, cid AS bucket FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid ASC) AS rn FROM cs)
       |  WHERE rn = 1),
       |probes AS (SELECT vid AS q_id, cid AS bucket FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid ASC) AS rn FROM cs WHERE vid < 32)
       |  WHERE rn <= 4),
       |cand AS (SELECT q_id, c_id FROM probes JOIN assign USING (bucket) WHERE c_id <> q_id),
       |d AS (SELECT q_id, c_id, SUM(a.v * b.v) AS dot
       |      FROM cand JOIN qz a ON a.id = q_id JOIN qz b ON b.id = c_id AND b.pos = a.pos
       |      GROUP BY 1, 2),
       |sc AS (SELECT q_id, c_id,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |       FROM d JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id)
       |SELECT q_id, c_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM sc)
       |WHERE rn <= 3""".stripMargin

  /** Same assignment CTEs as embedTopKIvf (argmax ties → lowest cid via
    * the (cos DESC, cid ASC) rank, matching Spark's first-max
    * array_position), then exhaustive within-cluster pair scoring. */
  val semDedup: String =
    s"""WITH $quantCte,
       |cd AS (SELECT a.id AS vid, b.id AS cid, SUM(a.v * b.v) AS dot
       |       FROM qz a JOIN qz b ON a.pos = b.pos WHERE b.id < 16 GROUP BY 1, 2),
       |cs AS (SELECT vid, cid,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |       FROM cd JOIN nrm na ON na.id = vid JOIN nrm nb ON nb.id = cid),
       |assign AS (SELECT vid, cid FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid ASC) AS rn FROM cs)
       |  WHERE rn = 1),
       |pr AS (SELECT a.vid AS ida, b.vid AS idb
       |       FROM assign a JOIN assign b ON a.cid = b.cid AND a.vid < b.vid),
       |d AS (SELECT ida, idb, SUM(x.v * y.v) AS dot
       |      FROM pr JOIN qz x ON x.id = ida JOIN qz y ON y.id = idb AND y.pos = x.pos
       |      GROUP BY 1, 2),
       |s AS (SELECT ida, idb,
       |        CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |      FROM d JOIN nrm na ON na.id = ida JOIN nrm nb ON nb.id = idb),
       |nn AS (SELECT idb AS vid, count(*) AS n_near FROM s WHERE cos >= 0.4 GROUP BY 1)
       |SELECT a.vid AS vec_id, a.cid AS cid,
       |  COALESCE(nn.n_near, CAST(0 AS BIGINT)) AS n_near, nn.n_near IS NULL AS kept
       |FROM assign a LEFT JOIN nn ON nn.vid = a.vid""".stripMargin

  /** Unrolled 3-round Lloyd restatement of
    * [[PipelineQueries.embedKmeans]]: identical integer squared-L2
    * distances, argmin ties to the lowest cluster id ((dist2, cid) rank),
    * floored integer means via the rounding-agnostic
    * (s - floormod(s, n)) // n, and empty clusters carrying the previous
    * centroid through the LEFT JOIN coalesce. */
  /** The unrolled Lloyd CTE chain, parametrized by the TRAINING
    * population (`qt` — the fit's vectors; assignment always covers the
    * full qz). `trainWhere` of "TRUE" reproduces embedKmeans; a filter
    * trains on a sub-population (the drift monitor's reference window).
    * Ends with CTE `af` = (id, cid, dist2, rn): final full-corpus
    * assignment rows are those with rn = 1. */
  private def kmeansChain(trainWhere: String): String = {
    def round(r: Int): String = {
      val p = r - 1
      s"""d$r AS (SELECT q.id, c.cid, SUM((q.v - c.c) * (q.v - c.c)) AS dist2
         |      FROM qt q JOIN c$p c ON c.pos = q.pos GROUP BY 1, 2),
         |a$r AS (SELECT id, cid,
         |             row_number() OVER (PARTITION BY id ORDER BY dist2 ASC, cid ASC) AS rn
         |      FROM d$r),
         |m$r AS (SELECT a.cid, q.pos, count(*) AS n, SUM(q.v) AS s
         |      FROM a$r a JOIN qt q ON q.id = a.id AND a.rn = 1 GROUP BY 1, 2),
         |c$r AS (SELECT p.cid, p.pos,
         |             COALESCE((m.s - (((m.s % m.n) + m.n) % m.n)) // m.n, p.c) AS c
         |      FROM c$p p LEFT JOIN m$r m ON m.cid = p.cid AND m.pos = p.pos)""".stripMargin
    }
    s"""$quantCte,
       |qt AS (SELECT * FROM qz WHERE $trainWhere),
       |ini AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS cid
       |        FROM (SELECT DISTINCT id FROM qt ORDER BY id LIMIT 8)),
       |c0 AS (SELECT ini.cid AS cid, qt.pos AS pos, qt.v AS c
       |       FROM ini JOIN qt ON qt.id = ini.id),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |df AS (SELECT q.id, c.cid, SUM((q.v - c.c) * (q.v - c.c)) AS dist2
       |       FROM qz q JOIN c3 c ON c.pos = q.pos GROUP BY 1, 2),
       |af AS (SELECT id, cid, dist2,
       |              row_number() OVER (PARTITION BY id ORDER BY dist2 ASC, cid ASC) AS rn
       |       FROM df)""".stripMargin
  }

  val embedKmeans: String =
    s"""WITH ${kmeansChain("TRUE")}
       |SELECT id AS vec_id, cid AS cluster, CAST(dist2 AS BIGINT) AS dist2
       |FROM af WHERE rn = 1""".stripMargin

  /** [[PipelineQueries.kmeansDrift]] restatement: the Lloyd chain trained
    * on the reference half (`qt` filter), full-corpus assignment, then
    * the exact-integer ppm share comparison. */
  val kmeansDrift: String =
    s"""WITH ${kmeansChain("id % 2 = 0")},
       |cells AS (SELECT cid AS cluster,
       |            SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
       |            SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS n_cur
       |          FROM af WHERE rn = 1 GROUP BY 1),
       |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cells)
       |SELECT cluster, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       |  CAST(n_ref * 1000000 // t_ref AS BIGINT) AS ref_ppm,
       |  CAST(n_cur * 1000000 // t_cur AS BIGINT) AS cur_ppm,
       |  CAST(abs(n_ref * 1000000 // t_ref - n_cur * 1000000 // t_cur) AS BIGINT) AS drift_ppm
       |FROM cells CROSS JOIN tot""".stripMargin

  /** [[PipelineQueries.kmeansMap]] restatement over the full unrolled
    * k-means assignment: same two-level aggregation, majority-label rank
    * (ln DESC, label ASC) matching Spark's max(struct(ln, -label)). */
  val kmeansMap: String =
    s"""WITH base AS ($embedKmeans),
       |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label FROM embeddings),
       |bl AS (SELECT b.cluster, l.label, count(*) AS ln, SUM(b.dist2) AS li
       |       FROM base b JOIN lab l ON l.id = b.vec_id GROUP BY 1, 2),
       |top AS (SELECT cluster, label AS top_label, ln AS top_label_n,
       |               row_number() OVER (PARTITION BY cluster ORDER BY ln DESC, label ASC) AS rn
       |        FROM bl)
       |SELECT bl.cluster, CAST(SUM(bl.ln) AS BIGINT) AS n,
       |       CAST(SUM(bl.li) // 1000000000000000000 AS BIGINT) AS inertia_hi,
       |       CAST(SUM(bl.li) % 1000000000000000000 AS BIGINT) AS inertia_lo,
       |       t.top_label, CAST(t.top_label_n AS BIGINT) AS top_label_n,
       |       CAST(t.top_label_n AS DOUBLE) / CAST(SUM(bl.ln) AS DOUBLE) AS purity
       |FROM bl JOIN top t ON t.cluster = bl.cluster AND t.rn = 1
       |GROUP BY bl.cluster, t.top_label, t.top_label_n""".stripMargin

  /** [[PipelineQueries.hardNegatives]] restatement: the embedTopK chain
    * with the label carried and the cross-label filter before the rank. */
  val hardNegatives: String =
    s"""WITH $quantCte,
       |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label FROM embeddings),
       |d AS (SELECT a.id AS q_id, b.id AS c_id, SUM(a.v * b.v) AS dot
       |      FROM qz a JOIN qz b ON a.pos = b.pos AND a.id <> b.id
       |      WHERE a.id < 8 GROUP BY 1, 2),
       |s AS (SELECT q_id, la.label AS q_label, c_id, lb.label AS c_label,
       |             CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |      FROM d JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id
       |      JOIN lab la ON la.id = q_id JOIN lab lb ON lb.id = c_id
       |      WHERE la.label <> lb.label)
       |SELECT q_id, q_label, c_id, c_label, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM s
       |) WHERE rn <= 5""".stripMargin

  /** [[PipelineQueries.embedTopKMmr]] restatement: brute shortlist,
    * candidate-pair sims, then the 3 greedy MMR rounds unrolled — the
    * score expression `rel * 0.5 - maxsim * 0.5` keeps Spark's exact
    * operand order (×0.5 is exact halving; one IEEE subtraction). */
  val embedTopKMmr: String =
    s"""WITH $quantCte,
       |bd AS (SELECT a.id AS q_id, b.id AS c_id, SUM(a.v * b.v) AS dot
       |       FROM qz a JOIN qz b ON a.pos = b.pos AND a.id <> b.id
       |       WHERE a.id < 8 GROUP BY 1, 2),
       |bs AS (SELECT q_id, c_id,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS rel
       |       FROM bd JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id),
       |cands AS (SELECT q_id, c_id, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id ASC) AS rn FROM bs)
       |  WHERE rn <= 10),
       |pp AS (SELECT x.q_id, x.c_id AS a_id, y.c_id AS b_id
       |       FROM cands x JOIN cands y ON x.q_id = y.q_id AND x.c_id <> y.c_id),
       |pd AS (SELECT pp.q_id, pp.a_id, pp.b_id, SUM(xa.v * xb.v) AS dot
       |       FROM pp JOIN qz xa ON xa.id = pp.a_id JOIN qz xb ON xb.id = pp.b_id AND xb.pos = xa.pos
       |       GROUP BY 1, 2, 3),
       |psim AS (SELECT q_id, a_id, b_id,
       |           CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS sim
       |         FROM pd JOIN nrm na ON na.id = a_id JOIN nrm nb ON nb.id = b_id),
       |s1 AS (SELECT q_id, c_id, score FROM (
       |    SELECT q_id, c_id, rel * 0.5 AS score,
       |           row_number() OVER (PARTITION BY q_id ORDER BY rel * 0.5 DESC, c_id ASC) AS prn
       |    FROM cands) WHERE prn = 1),
       |r2 AS (SELECT c.q_id, c.c_id, c.rel, MAX(p.sim) AS maxsim
       |       FROM cands c JOIN s1 ON s1.q_id = c.q_id AND c.c_id <> s1.c_id
       |       JOIN psim p ON p.q_id = c.q_id AND p.a_id = c.c_id AND p.b_id = s1.c_id
       |       GROUP BY 1, 2, 3),
       |s2 AS (SELECT q_id, c_id, score FROM (
       |    SELECT q_id, c_id, rel * 0.5 - maxsim * 0.5 AS score,
       |           row_number() OVER (PARTITION BY q_id ORDER BY rel * 0.5 - maxsim * 0.5 DESC, c_id ASC) AS prn
       |    FROM r2) WHERE prn = 1),
       |r3 AS (SELECT c.q_id, c.c_id, c.rel, MAX(p.sim) AS maxsim
       |       FROM cands c JOIN s1 ON s1.q_id = c.q_id JOIN s2 ON s2.q_id = c.q_id
       |       JOIN psim p ON p.q_id = c.q_id AND p.a_id = c.c_id
       |                  AND (p.b_id = s1.c_id OR p.b_id = s2.c_id)
       |       WHERE c.c_id <> s1.c_id AND c.c_id <> s2.c_id
       |       GROUP BY 1, 2, 3),
       |s3 AS (SELECT q_id, c_id, score FROM (
       |    SELECT q_id, c_id, rel * 0.5 - maxsim * 0.5 AS score,
       |           row_number() OVER (PARTITION BY q_id ORDER BY rel * 0.5 - maxsim * 0.5 DESC, c_id ASC) AS prn
       |    FROM r3) WHERE prn = 1)
       |SELECT q_id, c_id, CAST(1 AS BIGINT) AS mmr_rank, score FROM s1
       |UNION ALL SELECT q_id, c_id, CAST(2 AS BIGINT), score FROM s2
       |UNION ALL SELECT q_id, c_id, CAST(3 AS BIGINT), score FROM s3""".stripMargin

  /** [[PipelineQueries.semDedupKmeans]] restatement: the unrolled k-means
    * assignment as the coarse partition, then the semDedup within-cluster
    * pair scoring verbatim. */
  val semDedupKmeans: String =
    s"""WITH base AS ($embedKmeans),
       |$quantCte,
       |pr AS (SELECT a.vec_id AS ida, b.vec_id AS idb
       |       FROM base a JOIN base b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
       |d AS (SELECT ida, idb, SUM(x.v * y.v) AS dot
       |      FROM pr JOIN qz x ON x.id = ida JOIN qz y ON y.id = idb AND y.pos = x.pos
       |      GROUP BY 1, 2),
       |s AS (SELECT ida, idb,
       |        CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |      FROM d JOIN nrm na ON na.id = ida JOIN nrm nb ON nb.id = idb),
       |nn AS (SELECT idb AS vid, count(*) AS n_near FROM s WHERE cos >= 0.4 GROUP BY 1)
       |SELECT a.vec_id, a.cluster AS cid,
       |  COALESCE(nn.n_near, CAST(0 AS BIGINT)) AS n_near, nn.n_near IS NULL AS kept
       |FROM base a LEFT JOIN nn ON nn.vid = a.vec_id""".stripMargin

  /** [[PipelineQueries.sampleClusters]] restatement: the unrolled k-means
    * assignment, then the sample_stratified hash-rank quota per cluster. */
  val sampleClusters: String =
    s"""WITH base AS ($embedKmeans),
       |h AS (SELECT vec_id, cluster,
       |  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
       |  FROM base)
       |SELECT vec_id, cluster, rk FROM (
       |  SELECT vec_id, cluster,
       |         CAST(row_number() OVER (PARTITION BY cluster ORDER BY hh ASC) AS BIGINT) AS rk
       |  FROM h)
       |WHERE rk <= 40""".stripMargin

  /** Recall@3 restatement: brute cosine / brute L2 as truth, the
    * embedTopKIvf and pqTopKRerank chains (verbatim CTEs, same geometry)
    * as the approximate sides, left-join counting per truth query. */
  val annRecall: String =
    s"""WITH $quantCte,
       |bt_d AS (SELECT a.id AS q_id, b.id AS c_id, SUM(a.v * b.v) AS dot
       |         FROM qz a JOIN qz b ON a.pos = b.pos AND a.id <> b.id
       |         WHERE a.id < 32 GROUP BY 1, 2),
       |bt_s AS (SELECT q_id, c_id,
       |           CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |         FROM bt_d JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id),
       |bt AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM bt_s)
       |  WHERE rn <= 3),
       |cd AS (SELECT a.id AS vid, b.id AS cid, SUM(a.v * b.v) AS dot
       |       FROM qz a JOIN qz b ON a.pos = b.pos WHERE b.id < 16 GROUP BY 1, 2),
       |cs AS (SELECT vid, cid,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |       FROM cd JOIN nrm na ON na.id = vid JOIN nrm nb ON nb.id = cid),
       |assign AS (SELECT vid AS c_id, cid AS bucket FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid ASC) AS rn FROM cs)
       |  WHERE rn = 1),
       |probes AS (SELECT vid AS q_id, cid AS bucket FROM (
       |    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid ASC) AS rn FROM cs WHERE vid < 32)
       |  WHERE rn <= 4),
       |cand AS (SELECT q_id, c_id FROM probes JOIN assign USING (bucket) WHERE c_id <> q_id),
       |d AS (SELECT q_id, c_id, SUM(a.v * b.v) AS dot
       |      FROM cand JOIN qz a ON a.id = q_id JOIN qz b ON b.id = c_id AND b.pos = a.pos
       |      GROUP BY 1, 2),
       |sc AS (SELECT q_id, c_id,
       |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
       |       FROM d JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id),
       |iv AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM sc)
       |  WHERE rn <= 3),
       |v AS (SELECT id, pos, v FROM qz),
       |${pqChain(8, 8)},
       |pt_d AS (SELECT a.id AS q_id, b.id AS c_id, SUM((a.v - b.v) * (a.v - b.v)) AS l2
       |         FROM qz a JOIN qz b ON a.pos = b.pos AND a.id <> b.id
       |         WHERE a.id < 8 GROUP BY 1, 2),
       |pt AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY l2 ASC, c_id ASC) AS rn FROM pt_d)
       |  WHERE rn <= 3),
       |qd AS (SELECT id AS q_id, m, code, dist FROM kd WHERE id < 8),
       |adc AS (SELECT qd.q_id, k.id AS c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
       |        FROM codes k JOIN qd ON qd.m = k.m AND qd.code = k.code AND k.id <> qd.q_id
       |        GROUP BY 1, 2),
       |short AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, c_id ASC) AS rn
       |    FROM adc) WHERE rn <= 48),
       |ex AS (SELECT s.q_id, s.c_id, CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS l2
       |       FROM short s JOIN v a ON a.id = s.q_id
       |       JOIN v b ON b.id = s.c_id AND b.pos = a.pos
       |       GROUP BY 1, 2),
       |pa AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY l2 ASC, c_id ASC) AS rn FROM ex)
       |  WHERE rn <= 3),
       |r1 AS (SELECT 'ivf' AS family, bt.q_id AS q_id, CAST(count(iv.c_id) AS BIGINT) AS hits,
       |              CAST(count(*) AS BIGINT) AS k,
       |              CAST(count(iv.c_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |       FROM bt LEFT JOIN iv ON iv.q_id = bt.q_id AND iv.c_id = bt.c_id GROUP BY 2),
       |r2 AS (SELECT 'pq' AS family, pt.q_id AS q_id, CAST(count(pa.c_id) AS BIGINT) AS hits,
       |              CAST(count(*) AS BIGINT) AS k,
       |              CAST(count(pa.c_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |       FROM pt LEFT JOIN pa ON pa.q_id = pt.q_id AND pa.c_id = pt.c_id GROUP BY 2),
       |$sq8Cte,
       |n8t AS (SELECT id, SUM(code * code) AS n8 FROM c8 GROUP BY 1),
       |d8q AS (SELECT a.id AS q_id, b.id AS c_id, SUM(a.code * b.code) AS dot8
       |        FROM c8 a JOIN c8 b ON a.pos = b.pos AND a.id <> b.id
       |        WHERE a.id < 8 GROUP BY 1, 2),
       |s8q AS (SELECT q_id, c_id,
       |          CAST(dot8 AS DOUBLE) / (sqrt(CAST(na.n8 AS DOUBLE)) * sqrt(CAST(nb.n8 AS DOUBLE))) AS cos8
       |        FROM d8q JOIN n8t na ON na.id = q_id JOIN n8t nb ON nb.id = c_id),
       |s8 AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos8 DESC, c_id ASC) AS rn FROM s8q)
       |  WHERE rn <= 3),
       |bt8 AS (SELECT q_id, c_id FROM bt WHERE q_id < 8),
       |r3 AS (SELECT 'sq8' AS family, bt8.q_id AS q_id, CAST(count(s8.c_id) AS BIGINT) AS hits,
       |              CAST(count(*) AS BIGINT) AS k,
       |              CAST(count(s8.c_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |       FROM bt8 LEFT JOIN s8 ON s8.q_id = bt8.q_id AND s8.c_id = bt8.c_id GROUP BY 2)
       |SELECT family, q_id, hits, k, recall FROM r1
       |UNION ALL SELECT family, q_id, hits, k, recall FROM r2
       |UNION ALL SELECT family, q_id, hits, k, recall FROM r3""".stripMargin

  /** Shared BM25 CTE chain (tokenize → tf/dl/df → stats → per-(q,doc)
    * micro-unit scores `g`) — the single statement [[bm25TopK]],
    * [[hybridRrf]] and (with the survivor filter) [[bm25TopKTakedown]]
    * rank over, so the oracles cannot drift. */
  private def bm25ChainOver(where: String): String =
    s"""tok AS (SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS term FROM documents$where),
       |tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |dlt AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tfq GROUP BY 1),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dlt),
       |q AS (SELECT doc_id AS q_id, term FROM tfq WHERE doc_id < 8),
       |s AS (SELECT q.q_id, t.doc_id, ${PipelineQueries.bm25MicroTerm} AS s_micro
       |      FROM q JOIN tfq t USING (term) JOIN dft USING (term)
       |      JOIN dlt USING (doc_id) CROSS JOIN st),
       |g AS (SELECT q_id, doc_id, CAST(SUM(s_micro) AS BIGINT) AS score_micro
       |      FROM s GROUP BY 1, 2)""".stripMargin

  /** [[PipelineQueries.bm25TopK]] restatement: the identical single
    * tokenization feeding tf/dl/df, the same 1-row (N, Σdl) statistics,
    * and the SHARED micro-unit per-term arithmetic
    * ([[PipelineQueries.bm25MicroTerm]] — one statement, two engines). */
  private val bm25Chain: String = bm25ChainOver("")

  val bm25TopK: String =
    s"""WITH $bm25Chain
       |SELECT q_id, doc_id, score_micro, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC) AS rn FROM g)
       |WHERE rn <= 5""".stripMargin

  /** The impact-pruned index + serve as a CTE chain over [[bm25Chain]]'s
    * tfq/dlt/dft/st/q: per-posting exact micro-score, top-64 per term by
    * (s_micro DESC, doc_id ASC), then the bounded query-term join and
    * the same aggregation — ends in `gi(q_id, doc_id, score_micro)`.
    * Shared by the serve oracle and its recall gate. */
  /** The per-posting exact micro-score CTE over [[bm25ChainOver]]'s
    * tfq/dlt/dft/st — shared by the impact chain and the certificate
    * chain so the scored-postings statement exists once. */
  private val bm25ScoredCte: String =
    s"""sc AS (SELECT t.term, t.doc_id, n_docs, ${PipelineQueries.bm25MicroTerm} AS s_micro
       |       FROM tfq t JOIN dft USING (term) JOIN dlt USING (doc_id) CROSS JOIN st)""".stripMargin

  private val bm25ImpactChain: String =
    s"""$bm25ScoredCte,
       |pr AS (SELECT term, doc_id, s_micro FROM (
       |    SELECT term, doc_id, s_micro,
       |           row_number() OVER (PARTITION BY term ORDER BY s_micro DESC, doc_id ASC) AS rn
       |    FROM sc) WHERE rn <= 64),
       |gi AS (SELECT q.q_id, pr.doc_id, CAST(SUM(pr.s_micro) AS BIGINT) AS score_micro
       |       FROM q JOIN pr USING (term) GROUP BY 1, 2)""".stripMargin

  /** [[PipelineQueries.lexCertifiedRate]] restatement — the whole
    * certificate computed independently in DuckDB: champion lists and
    * the boundary-posting tail bounds from the same scored postings —
    * at the CORPUS-SCALED base depth d0 = max(64, ⌈n_docs/CertFrac⌉)
    * ([[PipelineQueries.certD0Sql]], restated verbatim so the oracle
    * recomputes the ladder geometry too) — the candidate set EXACTLY
    * scored through the shared chain's `s` (per-(q, doc, term) micro
    * scores), and the kth-exact vs tail-sum test
    * ([[PipelineQueries.bm25Certify]] scaladoc has the soundness
    * argument). kTop = 5 and level 0 mirror the serve's base level. */
  val lexCertifiedRate: String =
    s"""WITH $bm25Chain,
       |$bm25ScoredCte,
       |ctr AS (SELECT term, doc_id, s_micro,
       |          greatest(CAST(${PipelineQueries.CertLevels.head} AS BIGINT),
       |                   CAST(ceil(n_docs / ${PipelineQueries.CertFrac}.0) AS BIGINT)) AS d0,
       |          row_number() OVER (PARTITION BY term ORDER BY s_micro DESC, doc_id ASC) AS rn
       |        FROM sc),
       |chp AS (SELECT term, doc_id FROM ctr WHERE rn <= d0),
       |tlb AS (SELECT term, s_micro AS tail_micro FROM ctr WHERE rn = d0 + 1),
       |tsm AS (SELECT q.q_id, CAST(SUM(coalesce(tlb.tail_micro, 0)) AS BIGINT) AS tail_sum
       |        FROM q LEFT JOIN tlb USING (term) GROUP BY 1),
       |cnd AS (SELECT DISTINCT q.q_id, chp.doc_id FROM q JOIN chp USING (term)),
       |ex AS (SELECT c.q_id, c.doc_id, CAST(SUM(s.s_micro) AS BIGINT) AS score_micro
       |       FROM cnd c JOIN s ON s.q_id = c.q_id AND s.doc_id = c.doc_id
       |       GROUP BY 1, 2),
       |kth AS (SELECT q_id, score_micro AS kth_exact FROM (
       |    SELECT q_id, score_micro,
       |           row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC) AS rn
       |    FROM ex) WHERE rn = 5)
       |SELECT ts.q_id,
       |  CAST(CASE WHEN k.kth_exact IS NOT NULL AND ts.tail_sum < k.kth_exact
       |       THEN 1 ELSE 0 END AS BIGINT) AS certified,
       |  CAST(coalesce(k.kth_exact, -1) AS BIGINT) AS kth_exact,
       |  ts.tail_sum
       |FROM tsm ts LEFT JOIN kth k ON k.q_id = ts.q_id""".stripMargin

  /** [[PipelineQueries.bm25TopKImpact]] restatement via
    * [[bm25ImpactChain]]. */
  val bm25TopKImpact: String =
    s"""WITH $bm25Chain,
       |$bm25ImpactChain
       |SELECT q_id, doc_id, score_micro, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC) AS rn FROM gi)
       |WHERE rn <= 5""".stripMargin

  /** [[PipelineQueries.lexRecall]] restatement: the exact chain's top-5
    * (`g`) as truth, the impact chain's top-5 (`gi`) as the approx side,
    * per-query recall@5 — one WITH, both rankings from the same
    * tokenization. */
  val lexRecall: String =
    s"""WITH $bm25Chain,
       |$bm25ImpactChain,
       |tr AS (SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC) AS rn
       |    FROM g) WHERE rn <= 5),
       |ax AS (SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC) AS rn
       |    FROM gi) WHERE rn <= 5)
       |SELECT 'bm25_impact' AS family, tr.q_id,
       |  CAST(count(ax.doc_id) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS k,
       |  CAST(count(ax.doc_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM tr LEFT JOIN ax ON ax.q_id = tr.q_id AND ax.doc_id = tr.doc_id
       |GROUP BY 2""".stripMargin

  /** [[PipelineQueries.bm25TopKTakedown]] restatement: the identical
    * chain over the SURVIVING corpus — the takedown fold must equal a
    * from-scratch index of the survivors. */
  val bm25TopKTakedown: String =
    s"""WITH ${bm25ChainOver(s" WHERE doc_id % ${PipelineQueries.Bm25TakedownMod} != 0")}
       |SELECT q_id, doc_id, score_micro, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC) AS rn FROM g)
       |WHERE rn <= 5""".stripMargin

  /** [[PipelineQueries.bm25DownfoldProbe]] restatement: per term, the
    * count of bounded-takedown-batch docs containing it — the pruned
    * forward-store probe must equal a from-scratch tokenize of exactly
    * the removal batch. */
  val bm25DownfoldProbe: String =
    s"""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS term
       |             FROM documents WHERE doc_id % ${PipelineQueries.Bm25TakedownMod} = 0 AND doc_id < 340),
       |tfq AS (SELECT doc_id, term FROM tok GROUP BY 1, 2)
       |SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tfq GROUP BY 1""".stripMargin

  /** [[PipelineQueries.hybridRrf]] restatement: the shared BM25 chain
    * ranked over non-self candidates, the embed_topk cosine chain at
    * k=20, full-outer fusion with the identical integer
    * `1e6 // (60 + rank)` terms and −1 sentinels. The two WHERE
    * parameters restrict the document / embedding populations — empty
    * for the full-corpus fusion, survivor filters for the takedown
    * twin. */
  /** The non-self lexical rank CTE over the shared BM25 chain's `g` —
    * one statement for every fusion oracle. */
  private val lexrCte: String =
    """lexr AS (SELECT q_id, doc_id, CAST(rn AS BIGINT) AS rank_lex FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_micro DESC, doc_id ASC) AS rn
      |    FROM g WHERE doc_id <> q_id)
      |  WHERE rn <= 20)""".stripMargin

  /** The RRF fusion pair of CTEs (`fName` = full-outer rank union,
    * `rName` = integer fusion terms + −1 sentinels) over any lexical /
    * dense rank CTEs — one arithmetic statement for the brute AND the
    * PQ-served fusions, so the restatements cannot drift. */
  private def rrfFusePair(fName: String, rName: String,
                          lexName: String, dnsName: String): String =
    s"""$fName AS (SELECT coalesce(l.q_id, dn.q_id) AS q_id,
       |             coalesce(l.doc_id, dn.doc_id) AS doc_id,
       |             l.rank_lex AS rank_lex, dn.rank_dense AS rank_dense
       |      FROM $lexName l FULL OUTER JOIN $dnsName dn
       |        ON dn.q_id = l.q_id AND dn.doc_id = l.doc_id),
       |$rName AS (SELECT q_id, doc_id,
       |        CAST(coalesce(1000000 // (60 + rank_lex), 0)
       |           + coalesce(1000000 // (60 + rank_dense), 0) AS BIGINT) AS rrf_micro,
       |        CAST(coalesce(rank_lex, -1) AS BIGINT) AS rank_lex,
       |        CAST(coalesce(rank_dense, -1) AS BIGINT) AS rank_dense
       |      FROM $fName)""".stripMargin

  /** The BRUTE dense rank leg (non-self cosine top-20 over `qz`/`nrm`). */
  private val bruteDenseCtes: String =
    """dd AS (SELECT a.id AS q_id, b.id AS c_id, SUM(a.v * b.v) AS dot
      |       FROM qz a JOIN qz b ON a.pos = b.pos AND a.id <> b.id
      |       WHERE a.id < 8 GROUP BY 1, 2),
      |sc AS (SELECT q_id, c_id,
      |              CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))) AS cos
      |       FROM dd JOIN nrm na ON na.id = q_id JOIN nrm nb ON nb.id = c_id),
      |dnsr AS (SELECT q_id, c_id AS doc_id, CAST(rn AS BIGINT) AS rank_dense FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM sc)
      |  WHERE rn <= 20)""".stripMargin

  /** The PQ-SERVED dense rank leg ([[PipelineQueries.hybridRrfPq]]'s
    * restatement): the shared [[pqChain]] fit over the full corpus, ADC
    * shortlist of [[PipelineQueries.HybridPqShortlist]] per query, exact
    * quantized-L2 re-rank of the shortlist, top-20 as `dnsp` — the
    * chunk_topk_pq discipline over the embeddings table. */
  private val pqDenseCtes: String =
    s"""v AS (SELECT id, pos, v FROM qz),
       |${pqChain(8, 8)},
       |qd AS (SELECT id AS q_id, m, code, dist FROM kd WHERE id < 8),
       |adc AS (SELECT qd.q_id, k.id AS c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
       |        FROM codes k JOIN qd ON qd.m = k.m AND qd.code = k.code AND k.id <> qd.q_id
       |        GROUP BY 1, 2),
       |short AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, c_id ASC) AS rn
       |    FROM adc) WHERE rn <= ${PipelineQueries.HybridPqShortlist}),
       |ex AS (SELECT sh.q_id, sh.c_id, CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS l2
       |       FROM short sh JOIN v a ON a.id = sh.q_id
       |       JOIN v b ON b.id = sh.c_id AND b.pos = a.pos
       |       GROUP BY 1, 2),
       |dnsp AS (SELECT q_id, c_id AS doc_id, CAST(rn AS BIGINT) AS rank_dense FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY l2 ASC, c_id ASC) AS rn
       |    FROM ex) WHERE rn <= 20)""".stripMargin

  private def hybridRrfChain(docWhere: String, vecWhere: String): String =
    s"""${bm25ChainOver(docWhere)},
       |$lexrCte,
       |${quantCteOver(vecWhere)},
       |$bruteDenseCtes,
       |${rrfFusePair("f", "r", "lexr", "dnsr")}""".stripMargin

  private def hybridRrfOver(docWhere: String, vecWhere: String): String =
    s"""WITH ${hybridRrfChain(docWhere, vecWhere)}
       |SELECT q_id, doc_id, rank_lex, rank_dense, rrf_micro, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id ASC) AS rn FROM r)
       |WHERE rn <= 5""".stripMargin

  val hybridRrf: String = hybridRrfOver("", "")

  /** [[PipelineQueries.rrfOverlap]] restatement: the same fused top-5,
    * classified by whether each row also sits in a single retriever's
    * top-5 (its rank_lex / rank_dense carried through the fusion). */
  val rrfOverlap: String =
    s"""WITH ${hybridRrfChain("", "")}
       |SELECT q_id, CAST(count(*) AS BIGINT) AS k,
       |  CAST(SUM(CASE WHEN rank_lex BETWEEN 1 AND 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_lex,
       |  CAST(SUM(CASE WHEN rank_dense BETWEEN 1 AND 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dense,
       |  CAST(SUM(CASE WHEN NOT (rank_lex BETWEEN 1 AND 5) AND NOT (rank_dense BETWEEN 1 AND 5)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_fused_only
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id ASC) AS rn FROM r)
       |WHERE rn <= 5 GROUP BY 1""".stripMargin

  /** [[PipelineQueries.hybridRrfTakedown]] restatement: the identical
    * fusion over the SURVIVING corpus on both retrieval sides. */
  val hybridRrfTakedown: String = {
    val td = PipelineQueries.Bm25TakedownMod
    hybridRrfOver(s" WHERE doc_id % $td != 0", s" WHERE vec_id % $td != 0")
  }

  /** [[PipelineQueries.hybridRrfPq]] restatement: the shared BM25 chain
    * and lexical rank, the shared PQ chain (fit → codes → ADC shortlist
    * → exact re-rank) as the dense rank, and the shared fusion
    * arithmetic — every stage a CTE already proven by another green
    * oracle (bm25_topk, pq_topk_rr, hybrid_rrf). */
  val hybridRrfPq: String =
    s"""WITH ${bm25ChainOver("")},
       |$lexrCte,
       |${quantCteOver("")},
       |$pqDenseCtes,
       |${rrfFusePair("f", "r", "lexr", "dnsp")}
       |SELECT q_id, doc_id, rank_lex, rank_dense, rrf_micro, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id ASC) AS rn FROM r)
       |WHERE rn <= 5""".stripMargin

  /** [[PipelineQueries.rrfOverlapPq]] restatement: BOTH fusions — brute
    * dense leg and PQ-served dense leg — from the same shared chains,
    * their top-5s compared per query. */
  val rrfOverlapPq: String =
    s"""WITH ${bm25ChainOver("")},
       |$lexrCte,
       |${quantCteOver("")},
       |$bruteDenseCtes,
       |${rrfFusePair("fb", "rb", "lexr", "dnsr")},
       |$pqDenseCtes,
       |${rrfFusePair("fp", "rp", "lexr", "dnsp")},
       |b5 AS (SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id ASC) AS rn
       |    FROM rb) WHERE rn <= 5),
       |p5 AS (SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id ASC) AS rn
       |    FROM rp) WHERE rn <= 5)
       |SELECT p5.q_id, CAST(count(*) AS BIGINT) AS k,
       |       CAST(count(b5.doc_id) AS BIGINT) AS n_common
       |FROM p5 LEFT JOIN b5 ON b5.q_id = p5.q_id AND b5.doc_id = p5.doc_id
       |GROUP BY 1""".stripMargin

  val bpePairs: String =
    """WITH t AS (SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS w FROM documents),
      |f AS (SELECT w, count(*) AS freq FROM t GROUP BY 1),
      |p AS (SELECT freq, unnest([substr(w, i, 2) for i in generate_series(1, length(w) - 1)]) AS pair
      |      FROM f WHERE length(w) >= 2),
      |g AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt, count(*) AS n_forms FROM p GROUP BY 1)
      |SELECT pair, cnt, n_forms FROM g ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin

  /** Generated multi-round restatement of the BPE learning loop: one CTE
    * block per round computes the freq-weighted pair argmax (same
    * (cnt DESC, lhs, rhs) tie-break) and applies the merge by islanding —
    * candidates are pair-start positions; within each run of CONSECUTIVE
    * candidate positions the odd-ranked ones start a merge (textbook
    * greedy: non-adjacent for lhs≠rhs, offsets 1,3,5… inside an equal-
    * symbol run), the following position is consumed, and positions are
    * renumbered so adjacency stays an integer-gap test next round. */
  /** Shared CTE prefix for the BPE oracles: word-frequency table, initial
    * character rows, and one merge-round block per round — `s<rounds>` is
    * the final segmented vocabulary. */
  private def bpeChain(rounds: Int): String = {
    def round(r: Int): String = {
      val p = s"s${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT word, freq, pos, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $p),
         |best$r AS MATERIALIZED (SELECT sym AS l, nxt AS r2, CAST(SUM(freq) AS BIGINT) AS cnt
         |           FROM p$r WHERE nxt IS NOT NULL GROUP BY 1, 2
         |           ORDER BY cnt DESC, l ASC, r2 ASC LIMIT 1),
         |c$r AS (SELECT word, freq, pos, sym,
         |               CASE WHEN sym = (SELECT l FROM best$r) AND nxt = (SELECT r2 FROM best$r)
         |                    THEN 1 ELSE 0 END AS c
         |        FROM p$r),
         |g$r AS (SELECT *, CASE WHEN c = 1
         |               THEN pos - row_number() OVER (PARTITION BY word, c ORDER BY pos) END AS grp
         |        FROM c$r),
         |m$r AS (SELECT word, freq, pos, sym,
         |               CASE WHEN c = 1 AND (row_number() OVER (PARTITION BY word, grp ORDER BY pos)) % 2 = 1
         |                    THEN 1 ELSE 0 END AS ms
         |        FROM g$r),
         |d$r AS (SELECT word, freq, pos, sym, ms,
         |               coalesce(lag(ms) OVER (PARTITION BY word ORDER BY pos), 0) AS consumed
         |        FROM m$r),
         |s$r AS MATERIALIZED (SELECT word, freq, row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |               CASE WHEN ms = 1 THEN (SELECT l FROM best$r) || (SELECT r2 FROM best$r) ELSE sym END AS sym
         |        FROM d$r WHERE consumed = 0)""".stripMargin
    }
    s"""w0 AS (SELECT word, count(*) AS freq FROM (
       |  SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word FROM documents)
       |  GROUP BY 1),
       |s0 AS (SELECT word, freq, unnest(generate_series(1, length(word))) AS pos,
       |              unnest([substr(word, i, 1) for i in generate_series(1, length(word))]) AS sym
       |       FROM w0),
       |""".stripMargin +
      (1 to rounds).map(round).mkString(",\n")
  }

  val bpeLearn: String = {
    val rounds = PipelineQueries.BpeRounds
    s"WITH ${bpeChain(rounds)}\n" +
      (1 to rounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, l AS lhs, r2 AS rhs, l || r2 AS merged, cnt FROM best$r")
        .mkString("\nUNION ALL\n")
  }

  /** [[PipelineQueries.tokFertility]] restatement: the bpeEncode per-doc
    * encode CTE joined to the langIdChain verdict, summed per language
    * with the same BIGINT micro-ratio arithmetic (`//` = Spark's div). */
  val tokFertility: String = {
    val rounds = PipelineQueries.BpeRounds
    s"""WITH ${bpeChain(rounds)},
       |seg AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tok FROM s$rounds GROUP BY 1),
       |dw AS (SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word FROM documents),
       |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |               CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |        FROM dw JOIN seg USING (word) GROUP BY 1),
       |$langIdChain
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_tokens) * 1000000 // sum(n_words) AS BIGINT) AS fertility_micro,
       |  CAST(sum(n_chars) * 1000000 // sum(n_tokens) AS BIGINT) AS compression_micro
       |FROM enc JOIN lid USING (doc_id) GROUP BY 1""".stripMargin
  }

  val bpeEncode: String = {
    val rounds = PipelineQueries.BpeRounds
    s"""WITH ${bpeChain(rounds)},
       |seg AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tok FROM s$rounds GROUP BY 1),
       |dw AS (SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |FROM dw JOIN seg USING (word) GROUP BY 1""".stripMargin
  }

  /** [[PipelineQueries.tokCompression]] restatement: the bpeEncode chain
    * joined to the document→source map, per-source sums and the same
    * exact micro-ratios as tokFertility. */
  val tokCompression: String = {
    val rounds = PipelineQueries.BpeRounds
    s"""WITH ${bpeChain(rounds)},
       |seg AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tok FROM s$rounds GROUP BY 1),
       |dw AS (SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word FROM documents),
       |enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |               CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |        FROM dw JOIN seg USING (word) GROUP BY 1),
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_tokens) * 1000000 // sum(n_words) AS BIGINT) AS fertility_micro,
       |  CAST(sum(n_chars) * 1000000 // sum(n_tokens) AS BIGINT) AS compression_micro
       |FROM enc JOIN src USING (doc_id) GROUP BY 1""".stripMargin
  }

  // ---- unigram-LM tokenizer (UnigramOps — Kudo 2018) ----
  // The oracle restates each hard-EM round as a position-unrolled
  // INTEGER dynamic program: scores are micro-nat BIGINTs (the one
  // round(1e6·ln(·)) per piece), so the forward MAX-path blocks and the
  // longest-piece backtrack blocks below are exact integer arithmetic —
  // bit-identical to UnigramOps.segment by construction. One CTE per
  // word position, bounded by the documented MaxWordLen contract.
  private val UniP = graft.ops.UnigramOps.MaxPieceLen
  private val UniW = graft.ops.UnigramOps.MaxWordLen
  private val UniK = graft.ops.UnigramOps.SeedMulti

  /** Forward Viterbi blocks for DP `r` under score table `sc`:
    * f{r}p{p}.best = max path score reaching position p. */
  private def uniFwd(r: Int, sc: String, w: String = "w0"): Seq[String] =
    s"f${r}p0 AS (SELECT word, CAST(0 AS BIGINT) AS best FROM $w)" +:
      (1 to UniW).map { p =>
        val arms = (1 to math.min(UniP, p)).map { k =>
          s"SELECT f.word AS word, f.best + s.s AS cand FROM f${r}p${p - k} f " +
            s"JOIN $sc s ON s.piece = substr(f.word, ${p - k + 1}, $k) " +
            s"WHERE length(f.word) >= $p"
        }
        s"f${r}p$p AS MATERIALIZED (SELECT word, MAX(cand) AS best " +
          s"FROM (${arms.mkString(" UNION ALL ")}) GROUP BY word)"
      }

  /** Backtrack blocks for DP `r`: descending positions; o{r}p{p} = words
    * whose Viterbi path visits position p (their length is p, or a later
    * on-path position chose p as predecessor); c{r}p{p}.kp = the LONGEST
    * piece length achieving the forward max there (the pinned tie-break).
    * pk{r} = every (word, piece) on the path. */
  private def uniBwd(r: Int, sc: String, w: String = "w0"): Seq[String] = {
    val blocks = (UniW to 1 by -1).flatMap { p =>
      val on = s"SELECT word FROM $w WHERE length(word) = $p" +:
        (p + 1 to math.min(p + UniP, UniW)).map(q =>
          s"SELECT word FROM c${r}p$q WHERE $q - kp = $p")
      val arms = (1 to math.min(UniP, p)).map { k =>
        s"SELECT o.word AS word, $k AS k FROM o${r}p$p o " +
          s"JOIN f${r}p${p - k} fb ON fb.word = o.word " +
          s"JOIN f${r}p$p fp ON fp.word = o.word " +
          s"JOIN $sc s ON s.piece = substr(o.word, ${p - k + 1}, $k) " +
          "WHERE fb.best + s.s = fp.best"
      }
      Seq(s"o${r}p$p AS MATERIALIZED (${on.mkString(" UNION ALL ")})",
        s"c${r}p$p AS MATERIALIZED (SELECT word, MAX(k) AS kp " +
          s"FROM (${arms.mkString(" UNION ALL ")}) GROUP BY word)")
    }
    val picks = (1 to UniW).map(p =>
      s"SELECT word, substr(word, $p - kp + 1, kp) AS piece FROM c${r}p$p")
    blocks :+ s"pk$r AS (SELECT word, piece FROM (${picks.mkString(" UNION ALL ")}))"
  }

  /** One hard-EM round: forward + backtrack under the previous scores,
    * Viterbi recount, zero-count multi-char prune (chars kept), Laplace
    * rescore — sc{r} is the round's (piece, cnt, s) model. */
  private def uniRound(r: Int, w: String = "w0"): Seq[String] = {
    val sc = s"sc${r - 1}"
    uniFwd(r, sc, w) ++ uniBwd(r, sc, w) ++ Seq(
      s"ct$r AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM pk$r JOIN $w USING (word) GROUP BY 1)",
      s"v$r AS (SELECT s.piece AS piece, coalesce(c.cnt, 0) AS cnt FROM $sc s LEFT JOIN ct$r c USING (piece) " +
        "WHERE length(s.piece) = 1 OR coalesce(c.cnt, 0) > 0)",
      s"sc$r AS MATERIALIZED (SELECT piece, cnt, CAST(round(1000000.0 * ln(CAST(cnt + 1 AS DOUBLE) / " +
        s"CAST((SELECT SUM(cnt) FROM v$r) + (SELECT COUNT(*) FROM v$r) AS DOUBLE))) AS BIGINT) AS s FROM v$r)")
  }

  /** Word table (the MaxWordLen routing filter) — shared prefix. The
    * table name is a parameter so the chain can coexist with bpeChain's
    * unfiltered `w0` inside one composed oracle (tok_ab). */
  private def uniW0(w: String = "w0"): String =
    s"""$w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |  SELECT unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word FROM documents)
       |  WHERE length(word) <= $UniW GROUP BY 1)""".stripMargin

  /** Seed inventory: every single char + top-UniK multi-char substrings
    * by (cnt DESC, piece ASC); sc0 = micro-nat seed scores. */
  private def uniSeedChain(w: String = "w0"): Seq[String] = Seq(
    uniW0(w),
    s"""sub AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |  SELECT $w.freq AS freq, substr($w.word, i.i, k.k) AS piece
       |  FROM $w, generate_series(1, $UniP) AS k(k), generate_series(1, $UniW) AS i(i)
       |  WHERE i.i + k.k - 1 <= length($w.word)) GROUP BY 1)""".stripMargin,
    s"mc AS (SELECT piece, cnt FROM sub WHERE length(piece) > 1 ORDER BY cnt DESC, piece ASC LIMIT $UniK)",
    "sel0 AS (SELECT piece, cnt FROM sub WHERE length(piece) = 1 UNION ALL SELECT piece, cnt FROM mc)",
    "sc0 AS MATERIALIZED (SELECT piece, CAST(round(1000000.0 * ln(CAST(cnt AS DOUBLE) / " +
      "CAST((SELECT SUM(cnt) FROM sel0) AS DOUBLE))) AS BIGINT) AS s FROM sel0)")

  /** The trained chain through the final EM round's model sc{EmRounds}. */
  private def uniChain(w: String = "w0"): Seq[String] =
    uniSeedChain(w) ++ (1 to graft.ops.UnigramOps.EmRounds).flatMap(r => uniRound(r, w))

  /** uniChain + one more DP under the final model: pk{EmRounds+1} is the
    * vocabulary's Viterbi path piece multiset under the trained scores. */
  private def uniEncodeChain(w: String = "w0"): Seq[String] = {
    val last = graft.ops.UnigramOps.EmRounds
    uniChain(w) ++ uniFwd(last + 1, s"sc$last", w) ++ uniBwd(last + 1, s"sc$last", w)
  }

  val uniSeed: String =
    s"""WITH ${uniW0()}
       |SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt, CAST(COUNT(*) AS BIGINT) AS n_forms FROM (
       |  SELECT w0.freq AS freq, substr(w0.word, i.i, k.k) AS piece
       |  FROM w0, generate_series(1, $UniP) AS k(k), generate_series(1, $UniW) AS i(i)
       |  WHERE i.i + k.k - 1 <= length(w0.word))
       |WHERE length(piece) > 1
       |GROUP BY piece ORDER BY cnt DESC, piece ASC LIMIT 50""".stripMargin

  val uniLearn: String = {
    val last = graft.ops.UnigramOps.EmRounds
    s"WITH ${uniChain().mkString(",\n")}\nSELECT piece, cnt, s AS score_micro FROM sc$last"
  }

  /** [[PipelineQueries.uniEncode]] restatement: one more DP under the
    * final model segments the vocabulary; the corpus pays only the word
    * join (the bpeEncode shape). */
  val uniEncode: String = {
    val last = graft.ops.UnigramOps.EmRounds
    val enc = uniEncodeChain() ++ Seq(
      s"seg AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok FROM pk${last + 1} GROUP BY 1)",
      s"""dw AS (SELECT doc_id, word FROM (
         |  SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word FROM documents)
         |  WHERE length(word) <= $UniW)""".stripMargin)
    s"WITH ${enc.mkString(",\n")}\n" +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(length(word)) AS BIGINT) AS n_chars FROM dw JOIN seg USING (word) GROUP BY 1"
  }

  /** [[PipelineQueries.uniFertility]] restatement: the uniEncode chain's
    * per-doc encode joined to the langIdChain verdict, summed per
    * language with the same BIGINT micro-ratio arithmetic. */
  val uniFertility: String = {
    val last = graft.ops.UnigramOps.EmRounds
    val enc = uniEncodeChain() ++ Seq(
      s"seg AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok FROM pk${last + 1} GROUP BY 1)",
      s"""dw AS (SELECT doc_id, word FROM (
         |  SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS word FROM documents)
         |  WHERE length(word) <= $UniW)""".stripMargin,
      """enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |               CAST(SUM(length(word)) AS BIGINT) AS n_chars
        |        FROM dw JOIN seg USING (word) GROUP BY 1)""".stripMargin)
    s"""WITH ${enc.mkString(",\n")},
       |$langIdChain
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_tokens) * 1000000 // sum(n_words) AS BIGINT) AS fertility_micro,
       |  CAST(sum(n_chars) * 1000000 // sum(n_tokens) AS BIGINT) AS compression_micro
       |FROM enc JOIN lid USING (doc_id) GROUP BY 1""".stripMargin
  }

  /** [[PipelineQueries.tokAb]] restatement: the full BPE chain and the
    * full unigram chain composed in ONE statement — the unigram word
    * table is namespaced `uw0` so it coexists with bpeChain's unfiltered
    * `w0`; the inner join on word pins the compared population to the
    * intersection (exactly the MaxWordLen-filtered vocabulary). */
  val tokAb: String = {
    val bpeRounds = PipelineQueries.BpeRounds
    val last = graft.ops.UnigramOps.EmRounds
    val blocks = Seq(bpeChain(bpeRounds)) ++ Seq(
      s"bseg AS (SELECT word, CAST(count(*) AS BIGINT) AS n_bpe FROM s$bpeRounds GROUP BY 1)") ++
      uniEncodeChain("uw0") ++ Seq(
      s"useg AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_uni FROM pk${last + 1} GROUP BY 1)")
    s"WITH ${blocks.mkString(",\n")}\n" +
      "SELECT word, freq, CAST(length(word) AS BIGINT) AS len, n_bpe, n_uni, n_bpe - n_uni AS diff " +
      "FROM uw0 JOIN bseg USING (word) JOIN useg USING (word)"
  }

  val docFingerprint: String =
    """WITH h AS (
      |  SELECT doc_id, unnest([
      |    ascii(substr(text, p, 1)) * 923521 + ascii(substr(text, p + 1, 1)) * 29791
      |    + ascii(substr(text, p + 2, 1)) * 961 + ascii(substr(text, p + 3, 1)) * 31
      |    + ascii(substr(text, p + 4, 1))
      |    for p in generate_series(1, length(text) - 4)]) AS h
      |  FROM documents WHERE length(text) >= 5)
      |SELECT doc_id, CAST(min(h) AS BIGINT) AS fingerprint, count(*) AS n_windows
      |FROM h GROUP BY 1""".stripMargin

  /** Winnowed fingerprint-set CTEs (h = rolling hashes, w = per-doc
    * distinct window minima) shared by docWinnow (k=5) and dedupWinnow
    * (k=12). The polynomial terms come from the SAME builder the Spark
    * side uses ([[PipelineQueries.winnowHashTerms]]) — the two engines
    * hash identically by construction, not by parallel maintenance. */
  private def winnowChain(k: Int): String =
    s"""h AS (
       |  SELECT doc_id, [${PipelineQueries.winnowHashTerms(k)}
       |    for p in generate_series(1, length(text) - ${k - 1})] AS hs
       |  FROM documents WHERE length(text) >= ${k + 7}),
       |w AS (SELECT doc_id,
       |        list_distinct([list_min(hs[i:i+7]) for i in generate_series(1, len(hs) - 7)]) AS fps
       |      FROM h)""".stripMargin

  /** [[PipelineQueries.docWinnow]] restatement: same polynomial hashes,
    * per-8-window list_min comprehension, distinct, exact profile. */
  val docWinnow: String =
    s"""WITH ${winnowChain(5)}
       |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
       |  CAST(list_min(fps) AS BIGINT) AS fp_min, CAST(list_max(fps) AS BIGINT) AS fp_max,
       |  CAST(list_sum(fps) AS BIGINT) AS fp_sum
       |FROM w""".stripMargin

  /** [[PipelineQueries.dedupWinnow]] restatement: shared-fingerprint
    * pairs under the 20-doc hot-fingerprint cap, containment-style
    * overlap vs the smaller fingerprint set, same k=12 windows and
    * 0.3 floor. */
  val dedupWinnow: String =
    s"""WITH ${winnowChain(12)},
       |f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
       |nf AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n FROM w),
       |us AS (SELECT fp FROM (SELECT fp, count(*) AS nd FROM f GROUP BY 1)
       |       WHERE nd >= 2 AND nd <= 20),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |      FROM f a JOIN us USING (fp)
       |      JOIN f b ON b.fp = a.fp AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       |  CAST(n_shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) AS overlap
       |FROM p JOIN nf na ON na.doc_id = doc_a JOIN nf nb ON nb.doc_id = doc_b
       |WHERE CAST(n_shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) >= 0.3""".stripMargin

  val multimodalMeta: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |       md5(text) AS content_hash
      |FROM documents""".stripMargin

  /** Oracles for the REAL decode: the synthetic corpus derives every
    * dimension and fill color arithmetically from doc_id, so the expected
    * header fields and pixel sums are stated directly — the Spark side
    * must write real PNG/JPEG bytes and parse/decode them back to match. */
  val multimodalHeaders: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |  CAST(1 + doc_id % 64 AS BIGINT) AS width,
      |  CAST(1 + (doc_id * 7) % 48 AS BIGINT) AS height,
      |  CAST(8 AS BIGINT) AS bit_depth,
      |  CAST(3 AS BIGINT) AS channels
      |FROM documents""".stripMargin

  /** [[PipelineQueries.imageDhash]] restatement: the gradient-PNG color
    * ramps, nearest-neighbor 9×8 sample positions, integer luminance and
    * gradient bits — pure integer arithmetic end to end (valid because
    * PNG round-trips losslessly, the multimodal_pixels argument). */
  val imageDhash: String =
    """WITH ids AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS base,
      |    CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END AS var
      |  FROM documents),
      |dim AS (SELECT doc_id, base, var,
      |    CAST(9 + (base * 7) % 23 AS BIGINT) AS w,
      |    CAST(8 + (base * 11) % 19 AS BIGINT) AS h,
      |    CAST(37 + (base * 13) % 191 AS BIGINT) AS sr,
      |    CAST(29 + (base * 17) % 181 AS BIGINT) AS sg,
      |    CAST(23 + (base * 19) % 171 AS BIGINT) AS sb
      |  FROM ids),
      |lum AS (SELECT doc_id, gx.x AS x, gy.y AS y,
      |    ( (base + sr * (gx.x * w // 9)
      |        + CASE WHEN var = 1 AND gx.x * w // 9 >= w // 2
      |                    AND gy.y * h // 8 >= (7 * h) // 8 THEN 48 ELSE 0 END) % 256
      |    + (3 * base + sg * (gy.y * h // 8)) % 256
      |    + (5 * base + sb * ((gx.x * w // 9) + (gy.y * h // 8))) % 256 ) // 3 AS l
      |  FROM dim CROSS JOIN generate_series(0, 8) gx(x)
      |           CROSS JOIN generate_series(0, 7) gy(y)),
      |bits AS (SELECT a.doc_id, a.y * 8 + a.x AS i,
      |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
      |  FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 8)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN bit = 0 THEN CAST(0 AS BIGINT)
      |           WHEN i = 63 THEN (CAST(-9223372036854775807 AS BIGINT) - 1)
      |           ELSE (CAST(1 AS BIGINT) << i) END) AS BIGINT) AS dhash
      |FROM bits GROUP BY 1""".stripMargin

  /** [[PipelineQueries.dedupDhash]] restatement: the dhash oracle as a
    * CTE, the same 4×16-bit banding with the 2–20 band cap, exact
    * hamming via bit_count(xor). */
  val dedupDhash: String =
    s"""WITH d AS ($imageDhash),
       |bands AS (SELECT doc_id, dhash, g.j AS j,
       |    (dhash >> (16 * g.j)) & 65535 AS bkey
       |  FROM d CROSS JOIN generate_series(0, 3) g(j)),
       |usable AS (SELECT j, bkey FROM (
       |    SELECT j, bkey, count(*) AS nd FROM bands GROUP BY 1, 2)
       |  WHERE nd >= 2 AND nd <= 20),
       |bu AS (SELECT b.* FROM bands b JOIN usable USING (j, bkey)),
       |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
       |  FROM bu a JOIN bu b ON b.j = a.j AND b.bkey = a.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 8""".stripMargin

  /** [[PipelineQueries.contaminationImage]] restatement: the dhash
    * oracle as a CTE, the id-hash split, the same asymmetric 4×16-bit
    * band probe (train side hot-band-capped at ≤ 20) and exact hamming
    * gate. */
  val contaminationImage: String =
    s"""WITH d AS ($imageDhash),
       |spl AS (SELECT doc_id, dhash,
       |          CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
       |        FROM (SELECT doc_id, dhash,
       |                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
       |              FROM d)),
       |tball AS (SELECT doc_id, dhash, g.j AS j, (dhash >> (16 * g.j)) & 65535 AS bkey
       |       FROM spl CROSS JOIN generate_series(0, 3) g(j) WHERE split = 'train'),
       |tcap AS (SELECT j, bkey FROM (
       |    SELECT j, bkey, count(*) AS nd FROM tball GROUP BY 1, 2) WHERE nd <= 20),
       |tb AS (SELECT b.* FROM tball b JOIN tcap USING (j, bkey)),
       |teb AS (SELECT doc_id, dhash, g.j AS j, (dhash >> (16 * g.j)) & 65535 AS bkey
       |        FROM spl CROSS JOIN generate_series(0, 3) g(j) WHERE split = 'test'),
       |p AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS train_id,
       |        CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
       |      FROM teb a JOIN tb b ON b.j = a.j AND b.bkey = a.bkey)
       |SELECT doc_id, CAST(MIN(hamming) AS BIGINT) AS min_hamming,
       |  CAST(count(*) AS BIGINT) AS n_near_train
       |FROM p WHERE hamming <= 8 GROUP BY 1""".stripMargin

  /** [[PipelineQueries.audioFingerprintQ]] restatement: the synth PCM
    * sample formula through the SAME window formula `w = i·16 // n`,
    * exact integer window energies and contour bits. */
  val audioFingerprint: String =
    """WITH prm AS (SELECT doc_id, CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |               CAST(64 + doc_id % 256 AS BIGINT) AS n FROM documents),
      |smp AS (SELECT doc_id, n, (gi.i * 16) // n AS w,
      |          abs((doc_id * 31 + gi.i * 7 + gc.c * 13) % 2048 - 1024) AS a
      |        FROM prm
      |        CROSS JOIN generate_series(0, 319) gi(i)
      |        CROSS JOIN generate_series(0, 1) gc(c)
      |        WHERE gi.i < n AND gc.c < ch),
      |win AS (SELECT doc_id, n, w, SUM(a) AS e FROM smp GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_frames,
      |          CAST(SUM(e) AS BIGINT) AS e_total FROM win GROUP BY 1),
      |bits AS (SELECT a.doc_id, a.w AS w, CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
      |         FROM win a JOIN win b ON b.doc_id = a.doc_id AND b.w = a.w + 1),
      |f AS (SELECT doc_id,
      |        CAST(SUM(CASE WHEN bit = 1 THEN (CAST(1 AS BIGINT) << w) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
      |      FROM bits GROUP BY 1)
      |SELECT t.doc_id, t.n_frames, f.fp, t.e_total FROM tot t JOIN f USING (doc_id)""".stripMargin

  val multimodalPixels: String =
    """WITH d AS (SELECT doc_id,
      |  CAST((1 + doc_id % 64) * (1 + (doc_id * 7) % 48) AS BIGINT) AS n_px
      |  FROM documents WHERE doc_id % 2 = 0)
      |SELECT doc_id, n_px,
      |  CAST(n_px * (doc_id % 256) AS BIGINT) AS sum_r,
      |  CAST(n_px * ((doc_id * 3) % 256) AS BIGINT) AS sum_g,
      |  CAST(n_px * ((doc_id * 5) % 256) AS BIGINT) AS sum_b
      |FROM d""".stripMargin

  /** Audio oracle: every WAV field and both PCM sums are derived from
    * doc_id by the same arithmetic the generator uses — sample k (linear
    * over frames×channels) is `(id*31 + (k/ch)*7 + (k%ch)*13) % 2048 - 1024`. */
  val multimodalAudio: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(1 + doc_id % 2 AS BIGINT) AS channels,
      |    CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |         ELSE 44100 END AS BIGINT) AS sample_rate,
      |    CAST(64 + doc_id % 256 AS BIGINT) AS n_samples
      |  FROM documents),
      |s AS (SELECT doc_id,
      |    CAST(COALESCE(list_sum([
      |      (doc_id*31 + (k // channels)*7 + (k % channels)*13) % 2048 - 1024
      |      for k in generate_series(0, n_samples*channels - 1)]), 0) AS BIGINT) AS sum_pcm,
      |    CAST(COALESCE(list_sum([
      |      abs((doc_id*31 + (k // channels)*7 + (k % channels)*13) % 2048 - 1024)
      |      for k in generate_series(0, n_samples*channels - 1)]), 0) AS BIGINT) AS sum_abs
      |  FROM d)
      |SELECT d.doc_id, 'wav' AS format, channels, sample_rate,
      |  CAST(16 AS BIGINT) AS bits, n_samples,
      |  (n_samples * 1000) // sample_rate AS dur_ms, sum_pcm, sum_abs
      |FROM d JOIN s USING (doc_id)""".stripMargin

  /** Video oracle: container facts stated arithmetically from doc_id —
    * the Spark side must compose real ISO-BMFF boxes and walk them back. */
  val multimodalVideo: String =
    """SELECT doc_id, 'mp4' AS format, 'isom' AS brand,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |       ELSE 90000 END AS BIGINT) AS timescale,
      |  CAST(500 + (doc_id * 11) % 9000 AS BIGINT) AS duration,
      |  CAST(16 * (1 + doc_id % 120) AS BIGINT) AS width,
      |  CAST(16 * (1 + (doc_id * 3) % 68) AS BIGINT) AS height,
      |  CAST(32 + doc_id % 64 AS BIGINT) AS mdat_bytes,
      |  CAST(COALESCE(list_sum([(doc_id*131 + i*17) % 256
      |    for i in generate_series(0, 32 + doc_id % 64 - 1)]), 0) AS BIGINT) AS mdat_sum
      |FROM documents""".stripMargin

  /** Oracle for the REAL-decoder feature sweep: per modality slot
    * (doc_id % 4) every fact is stated arithmetically from the synthetic
    * generators' formulas — PNG pixel sums from the fill color, WAV PCM
    * sums from the sample expression, MP4 facts from the box fields, and
    * the opaque slot's byte sum from its generator polynomial. The Spark
    * side must write real container bytes, dispatch on magic bytes, and
    * decode them back to match. */
  val multimodalFeatures: String =
    """SELECT doc_id, 'image' AS kind,
      |  CAST(1 + doc_id % 64 AS BIGINT) AS dim1,
      |  CAST(1 + (doc_id * 7) % 48 AS BIGINT) AS dim2,
      |  CAST((1 + doc_id % 64) * (1 + (doc_id * 7) % 48) AS BIGINT) AS n_units,
      |  CAST((1 + doc_id % 64) * (1 + (doc_id * 7) % 48)
      |    * ((doc_id % 256) + ((doc_id * 3) % 256) + ((doc_id * 5) % 256)) AS BIGINT) AS sum1,
      |  CAST((1 + doc_id % 64) * (1 + (doc_id * 7) % 48) * (doc_id % 256) AS BIGINT) AS sum2
      |FROM documents WHERE doc_id % 4 = 0
      |UNION ALL
      |SELECT doc_id, 'audio' AS kind,
      |  CAST(1 + doc_id % 2 AS BIGINT) AS dim1,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |       ELSE 44100 END AS BIGINT) AS dim2,
      |  CAST(64 + doc_id % 256 AS BIGINT) AS n_units,
      |  CAST(COALESCE(list_sum([
      |    (doc_id*31 + (k // (1 + doc_id % 2))*7 + (k % (1 + doc_id % 2))*13) % 2048 - 1024
      |    for k in generate_series(0, (64 + doc_id % 256)*(1 + doc_id % 2) - 1)]), 0) AS BIGINT) AS sum1,
      |  CAST(COALESCE(list_sum([
      |    abs((doc_id*31 + (k // (1 + doc_id % 2))*7 + (k % (1 + doc_id % 2))*13) % 2048 - 1024)
      |    for k in generate_series(0, (64 + doc_id % 256)*(1 + doc_id % 2) - 1)]), 0) AS BIGINT) AS sum2
      |FROM documents WHERE doc_id % 4 = 1
      |UNION ALL
      |SELECT doc_id, 'video' AS kind,
      |  CAST(16 * (1 + doc_id % 120) AS BIGINT) AS dim1,
      |  CAST(16 * (1 + (doc_id * 3) % 68) AS BIGINT) AS dim2,
      |  CAST(500 + (doc_id * 11) % 9000 AS BIGINT) AS n_units,
      |  CAST(COALESCE(list_sum([(doc_id*131 + i*17) % 256
      |    for i in generate_series(0, 32 + doc_id % 64 - 1)]), 0) AS BIGINT) AS sum1,
      |  CAST(32 + doc_id % 64 AS BIGINT) AS sum2
      |FROM documents WHERE doc_id % 4 = 2
      |UNION ALL
      |SELECT doc_id, 'other' AS kind,
      |  CAST(0 AS BIGINT) AS dim1, CAST(0 AS BIGINT) AS dim2,
      |  CAST(32 + doc_id % 64 AS BIGINT) AS n_units,
      |  CAST(COALESCE(list_sum([(doc_id*131 + i*17) % 256
      |    for i in generate_series(0, 32 + doc_id % 64 - 1)]), 0) AS BIGINT) AS sum1,
      |  CAST(0 AS BIGINT) AS sum2
      |FROM documents WHERE doc_id % 4 = 3""".stripMargin

  /** Frame-table oracle: per doc, `3 + id%6` frames with size
    * `8 + (id*7 + i*3) % 24`, offsets the prefix sums, byte sums from the
    * generator polynomial — recoverable engine-side only via the real
    * stsz/stco walk. */
  val multimodalFrames: String =
    """WITH f AS (
      |  SELECT doc_id, i AS frame_idx,
      |    CAST(8 + (doc_id*7 + i*3) % 24 AS BIGINT) AS sz,
      |    CAST(COALESCE(list_sum([8 + (doc_id*7 + j*3) % 24
      |      for j in generate_series(0, i - 1)]), 0) AS BIGINT) AS off
      |  FROM (SELECT doc_id,
      |          unnest(generate_series(0, CAST(3 + doc_id % 6 AS BIGINT) - 1)) AS i
      |        FROM documents))
      |SELECT doc_id, frame_idx, off AS f_offset, sz AS f_size,
      |  CAST(COALESCE(list_sum([(doc_id*131 + (off + j)*17) % 256
      |    for j in generate_series(0, sz - 1)]), 0) AS BIGINT) AS f_sum
      |FROM f""".stripMargin

  /** [[PipelineQueries.videoFingerprintQ]] restatement: the frame-facts
    * oracle as a CTE, adjacent-frame gradient bits, exact totals. */
  val videoFingerprint: String =
    s"""WITH ff AS ($multimodalFrames),
       |pairs AS (SELECT a.doc_id, a.frame_idx AS i,
       |            CASE WHEN a.f_sum < b.f_sum THEN 1 ELSE 0 END AS bit
       |          FROM ff a JOIN ff b ON b.doc_id = a.doc_id AND b.frame_idx = a.frame_idx + 1
       |          WHERE a.frame_idx < 63),
       |f AS (SELECT doc_id,
       |        CAST(SUM(CASE WHEN bit = 1 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
       |      FROM pairs GROUP BY 1),
       |t AS (SELECT doc_id, CAST(MAX(frame_idx) + 1 AS BIGINT) AS n_frames,
       |        CAST(SUM(f_sum) AS BIGINT) AS s_total FROM ff GROUP BY 1)
       |SELECT t.doc_id, t.n_frames, f.fp, t.s_total FROM t JOIN f USING (doc_id)""".stripMargin

  val dedupNormalized: String =
    """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash,
      |       min(doc_id) AS keep_id, count(*) AS dup_cnt
      |FROM documents GROUP BY 1""".stripMargin

  val topTermsPerLang: String =
    """WITH t AS (
      |  SELECT lang, unnest(list_distinct(list_filter(string_split(trim(text), ' '), x -> x <> ''))) AS term
      |  FROM documents
      |), d AS (
      |  SELECT lang, term, count(*) AS df FROM t GROUP BY 1, 2
      |)
      |SELECT lang, term, df, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY df DESC, term ASC) AS rn FROM d
      |) WHERE rn <= 5""".stripMargin

  val trainSplit: String =
    """WITH b AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 15)) AS BIGINT) % 10 AS bucket
      |  FROM documents
      |)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
      |FROM b""".stripMargin

  /** Transitive closure of the minhash near-dup pairs via recursive CTE —
    * cluster_id = min reachable doc (the component minimum), exactly the
    * label-propagation fixpoint the Spark side computes iteratively. */
  val dedupClusters: String =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($dedupMinhash) mp),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS lid, min(d) AS mn FROM reach GROUP BY 1)
       |SELECT d.doc_id,
       |  least(d.doc_id, coalesce(l.mn, d.doc_id)) AS cluster_id,
       |  d.doc_id = least(d.doc_id, coalesce(l.mn, d.doc_id)) AS is_canonical,
       |  count(*) OVER (PARTITION BY least(d.doc_id, coalesce(l.mn, d.doc_id))) AS csize
       |FROM documents d LEFT JOIN lbl l ON l.lid = d.doc_id""".stripMargin

  /** Scorecard oracle: the dedup_clusters assignment CTE joined back to
    * the verified pair list; min/max jaccard are order-independent over
    * the IEEE-exact per-pair doubles, so the audit hash-matches. */
  val clusterScorecard: String =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b, jaccard FROM ($dedupMinhash) mp),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS lid, min(d) AS mn FROM reach GROUP BY 1),
       |assign AS (SELECT d.doc_id,
       |             least(d.doc_id, coalesce(l.mn, d.doc_id)) AS cluster_id
       |           FROM documents d LEFT JOIN lbl l ON l.lid = d.doc_id),
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
       |       FROM assign GROUP BY 1),
       |pj AS (SELECT a.cluster_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |              min(p.jaccard) AS min_jaccard,
       |              max(p.jaccard) AS max_jaccard
       |       FROM pairs p JOIN assign a ON a.doc_id = p.doc_a GROUP BY 1)
       |SELECT s.cluster_id, s.csize, pj.n_pairs,
       |  s.csize * (s.csize - 1) // 2 AS n_possible,
       |  pj.min_jaccard, pj.max_jaccard
       |FROM sz s JOIN pj USING (cluster_id) WHERE s.csize > 1""".stripMargin

  /** Near-contamination oracle: the symmetric full-corpus pair list
    * restricted to train/test cross endpoints (equal to the asymmetric
    * band join by the per-doc-band restriction property). */
  val contaminationNear: String =
    s"""WITH spl AS (
       |  SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 15)) AS BIGINT) % 10 AS b
       |        FROM documents)),
       |mp AS (SELECT doc_a, doc_b, jaccard FROM ($dedupMinhash) m),
       |ct AS (SELECT CASE WHEN sa.split = 'test' THEN mp.doc_a ELSE mp.doc_b END AS doc_id,
       |              CASE WHEN sa.split = 'test' THEN mp.doc_b ELSE mp.doc_a END AS train_id,
       |              mp.jaccard
       |       FROM mp JOIN spl sa ON sa.doc_id = mp.doc_a
       |            JOIN spl sb ON sb.doc_id = mp.doc_b
       |       WHERE (sa.split = 'train' AND sb.split = 'test')
       |          OR (sa.split = 'test' AND sb.split = 'train'))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |  min(train_id) AS min_train_dup, max(jaccard) AS max_jaccard
       |FROM ct GROUP BY 1""".stripMargin

  /** Takedown oracle: the dedup_clusters recursive CTE restricted to
    * surviving docs and surviving pairs — valid because removals cannot
    * change the pair evidence BETWEEN surviving docs (per-doc band keys,
    * per-pair verification), so the scoped re-resolution must reproduce
    * the from-scratch resolution of the surviving corpus. */
  val dedupClustersTakedown: String =
    s"""WITH RECURSIVE
       |pairs AS (SELECT doc_a, doc_b FROM ($dedupMinhash) mp
       |          WHERE doc_a % 17 != 0 AND doc_b % 17 != 0),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lbl AS (SELECT s AS lid, min(d) AS mn FROM reach GROUP BY 1)
       |SELECT d.doc_id,
       |  least(d.doc_id, coalesce(l.mn, d.doc_id)) AS cluster_id,
       |  d.doc_id = least(d.doc_id, coalesce(l.mn, d.doc_id)) AS is_canonical,
       |  count(*) OVER (PARTITION BY least(d.doc_id, coalesce(l.mn, d.doc_id))) AS csize
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 != 0) d
       |LEFT JOIN lbl l ON l.lid = d.doc_id""".stripMargin

  /** [[PipelineQueries.dedupCanonical]] restatement: the dedup_clusters
    * oracle as a CTE joined to the quality oracle, quality-DESC/doc-ASC
    * rank per cluster. */
  val dedupCanonical: String =
    s"""WITH c AS ($dedupClusters),
       |q AS ($textQuality)
       |SELECT c.doc_id, c.cluster_id, c.csize, q.quality,
       |  CAST(row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id ASC) AS BIGINT) AS rn,
       |  row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id ASC) = 1 AS keep
       |FROM c JOIN q ON q.doc_id = c.doc_id""".stripMargin

  /** [[PipelineQueries.corpusManifest]] restatement: cluster CTE +
    * quality + repetition + canonical rank + cluster-hash split, all
    * reusing the parent oracles as CTEs. The rank runs AFTER the
    * repetition join (gate-dropped keepers promote the next-best
    * surviving member), mirroring the Spark side exactly. */
  val corpusManifest: String =
    s"""WITH c AS ($dedupClusters),
       |q AS ($textQuality),
       |rep AS (SELECT doc_id, pass AS rep_pass FROM ($gopherRepetition) g),
       |r AS (SELECT c.doc_id, c.cluster_id, q.quality, rep.rep_pass,
       |        row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id ASC) AS rn
       |      FROM c JOIN q ON q.doc_id = c.doc_id JOIN rep ON rep.doc_id = c.doc_id)
       |SELECT r.doc_id, r.cluster_id, r.quality, r.rep_pass,
       |  r.rn = 1 AS canonical,
       |  r.quality >= CAST(0.5 AS DOUBLE) AND r.rep_pass AND r.rn = 1 AS keep,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(r.cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 THEN 'train'
       |       WHEN CAST(('0x' || substr(md5(CAST(r.cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 8 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM r""".stripMargin

  /** [[PipelineQueries.curationYield]] restatement: the manifest oracle
    * as a CTE, joined to the doc→source map, per-source gate counts and
    * the integer per-myriad keep rate. */
  val curationYield: String =
    s"""WITH m AS ($corpusManifest)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN m.quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       |  CAST(sum(CASE WHEN NOT m.rep_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       |  CAST(sum(CASE WHEN NOT m.canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shadowed,
       |  CAST(sum(CASE WHEN m.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN m.keep THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS keep_per_myriad
       |FROM m JOIN documents d ON d.doc_id = m.doc_id
       |GROUP BY 1""".stripMargin

  /** Leakage-safe split oracle: the cluster CTE is the dedup_clusters
    * oracle verbatim; the split hashes the CLUSTER id. */
  val trainSplitSafe: String =
    s"""WITH c AS ($dedupClusters)
       |SELECT doc_id, cluster_id,
       |  CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bucket,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 THEN 'train'
       |       WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 8 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM c""".stripMargin

  /** Sentence oracle: the identical RE2-safe extraction, indexed via
    * generate_series over the match array. */
  val docSentences: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]?') AS arr FROM documents),
      |x AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i FROM t)
      |SELECT doc_id, CAST(i AS BIGINT) AS sent_idx, trim(arr[i]) AS sent_text,
      |  CAST(length(trim(arr[i])) AS BIGINT) AS n_chars
      |FROM x WHERE trim(arr[i]) <> ''""".stripMargin

  /** Chunking oracle: identical start/width contract via generate_series
    * and 1-based inclusive list slicing. */
  val docChunks: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
      |c AS (SELECT doc_id, w, n, unnest(generate_series(1, n, 48)) AS st FROM s)
      |SELECT doc_id,
      |  CAST((st - 1) // 48 AS BIGINT) AS chunk_idx,
      |  CAST(st AS BIGINT) AS tok_start,
      |  CAST(least(64, n - st + 1) AS BIGINT) AS n_tok,
      |  array_to_string(w[st:st+63], ' ') AS chunk_text
      |FROM c""".stripMargin

  /** Chunk retrieval oracle: restates the chunking CTE, the signed
    * feature-hash embedding (sparse (bucket, value) rows — absent buckets
    * are zero, so the bucket-equijoin dot product equals the dense
    * Spark-side `ldot`; pairs with NO common bucket get their dot
    * COALESCEd to 0 via the left join against the full query×candidate
    * pair list), and the per-query top-3 rank. */
  val chunkTopK: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
      |c AS (SELECT doc_id, w, n, unnest(generate_series(1, n, 48)) AS st FROM s),
      |ch AS (SELECT doc_id, CAST((st - 1) // 48 AS BIGINT) AS chunk_idx,
      |              CAST(st AS BIGINT) AS tok_start, w[st:st+63] AS cw FROM c),
      |tok AS (SELECT doc_id, chunk_idx, tok_start, unnest(cw) AS tk FROM ch),
      |h AS (SELECT doc_id, chunk_idx, tok_start,
      |             CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h FROM tok),
      |comp AS (SELECT doc_id, chunk_idx, tok_start, h % 32 AS b,
      |                SUM(CASE WHEN (h >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |         FROM h GROUP BY 1, 2, 3, 4),
      |nrm AS (SELECT doc_id, chunk_idx, tok_start, SUM(v * v) AS norm2
      |        FROM comp GROUP BY 1, 2, 3 HAVING SUM(v * v) > 0),
      |d AS (SELECT a.doc_id AS q_doc, a.chunk_idx AS q_chunk,
      |             b.doc_id AS c_doc, b.chunk_idx AS c_chunk, SUM(a.v * b.v) AS dot
      |      FROM comp a JOIN comp b ON a.b = b.b AND a.doc_id % 125 = 0 AND a.doc_id <> b.doc_id
      |      GROUP BY 1, 2, 3, 4),
      |p AS (SELECT q.doc_id AS q_doc, q.chunk_idx AS q_chunk, cc.doc_id AS c_doc,
      |             cc.chunk_idx AS c_chunk, cc.tok_start AS c_tok_start,
      |             q.norm2 AS nq, cc.norm2 AS nc
      |      FROM nrm q JOIN nrm cc ON q.doc_id % 125 = 0 AND q.doc_id <> cc.doc_id),
      |sc AS (SELECT p.q_doc, p.q_chunk, p.c_doc, p.c_chunk, p.c_tok_start,
      |              CAST(COALESCE(d.dot, 0) AS DOUBLE) /
      |                (sqrt(CAST(p.nq AS DOUBLE)) * sqrt(CAST(p.nc AS DOUBLE))) AS cos
      |       FROM p LEFT JOIN d ON d.q_doc = p.q_doc AND d.q_chunk = p.q_chunk
      |                         AND d.c_doc = p.c_doc AND d.c_chunk = p.c_chunk)
      |SELECT q_doc, q_chunk, c_doc, c_chunk, c_tok_start, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_doc, q_chunk
      |                               ORDER BY cos DESC, c_doc ASC, c_chunk ASC) AS rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  /** Bulk chunk retrieval via PQ: the [[chunkTopK]] tokenize→chunk→
    * feature-hash front half (dense 32-dim integer vectors, ids packed as
    * doc_id·2^16+chunk_idx), then the SAME fit→encode→ADC→re-rank chain
    * as [[pqTopKRerank]] at 8×4 geometry, with same-document exclusion
    * and the hit set unpacked to (doc, chunk, token offset). */
  val chunkTopKPq: String = {
    val M = PipelineQueries.ChunkIdMod
    s"""WITH tt AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |ss AS (SELECT doc_id, w, len(w) AS n FROM tt WHERE len(w) > 0),
      |cc AS (SELECT doc_id, w, n, unnest(generate_series(1, n, 48)) AS st FROM ss),
      |chk AS (SELECT doc_id * $M + CAST((st - 1) // 48 AS BIGINT) AS id, w[st:st+63] AS cw FROM cc),
      |tok AS (SELECT id, unnest(cw) AS tk FROM chk),
      |hh AS (SELECT id, CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h FROM tok),
      |comp AS (SELECT id, h % 32 AS b, SUM(CASE WHEN (h >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS vv
      |         FROM hh GROUP BY 1, 2),
      |v AS (SELECT cid.id, p.p AS pos, CAST(COALESCE(comp.vv, 0) AS BIGINT) AS v
      |      FROM (SELECT DISTINCT id FROM chk) cid CROSS JOIN generate_series(1, 32) p(p)
      |      LEFT JOIN comp ON comp.id = cid.id AND comp.b = p.p - 1),
      |${pqChain(8, 4)},
      |qd AS (SELECT id AS q_id, m, code, dist FROM kd WHERE (id // $M) % 25 = 0),
      |adc AS (SELECT qd.q_id, kk.id AS c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
      |        FROM codes kk JOIN qd ON qd.m = kk.m AND qd.code = kk.code
      |                             AND kk.id // $M <> qd.q_id // $M
      |        GROUP BY 1, 2),
      |short AS (SELECT q_id, c_id FROM (
      |    SELECT q_id, c_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, c_id ASC) AS rn
      |    FROM adc) WHERE rn <= 32),
      |ex AS (SELECT sh.q_id, sh.c_id, CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS l2
      |       FROM short sh JOIN v a ON a.id = sh.q_id
      |       JOIN v b ON b.id = sh.c_id AND b.pos = a.pos
      |       GROUP BY 1, 2)
      |SELECT q_id // $M AS q_doc, q_id % $M AS q_chunk,
      |       c_id // $M AS c_doc, c_id % $M AS c_chunk,
      |       (c_id % $M) * 48 + 1 AS c_tok_start, l2, rn
      |FROM (SELECT q_id, c_id, l2,
      |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY l2 ASC, c_id ASC) AS BIGINT) AS rn
      |      FROM ex)
      |WHERE rn <= 3""".stripMargin
  }

  val seqPack: String =
    s"""WITH t AS (SELECT doc_id, doc_id % ${PipelineQueries.SeqPackShards} AS shard,
      |                  CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS BIGINT) AS n_tok
      |           FROM documents),
      |c AS (SELECT doc_id, shard, n_tok,
      |             CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS tok_end
      |      FROM t WHERE n_tok > 0)
      |SELECT doc_id, shard, n_tok, tok_end - n_tok AS tok_start,
      |  (tok_end - n_tok) // 512 AS bin_first,
      |  (tok_end - 1) // 512 AS bin_last,
      |  (tok_end - 1) // 512 - (tok_end - n_tok) // 512 + 1 AS n_bins
      |FROM c""".stripMargin

  val domainMix: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |m AS (SELECT max(n) AS maxn FROM c)
      |SELECT doc_id, d.lang, CAST(least(4, maxn // n) AS BIGINT) AS repeats,
      |       unnest(generate_series(1, least(4, maxn // n))) AS copy_ix
      |FROM documents d JOIN c USING (lang) CROSS JOIN m""".stripMargin

  /** Temperature-mix oracle: ⌊√(maxn·n)⌋ is bit-identical across engines
    * (exact-double product, correctly-rounded sqrt); the remainder rank
    * orders by the same md5 hash string, so copies match row for row. */
  val domainMixTemp: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |m AS (SELECT max(n) AS maxn FROM c),
      |rk AS (SELECT doc_id, lang,
      |         CAST(row_number() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || md5(text))) AS BIGINT) AS r
      |       FROM documents),
      |t AS (SELECT rk.doc_id, rk.lang,
      |        CAST(floor(sqrt(CAST(maxn * n AS DOUBLE))) AS BIGINT) // n
      |          + CASE WHEN rk.r <= CAST(floor(sqrt(CAST(maxn * n AS DOUBLE))) AS BIGINT) % n
      |                 THEN 1 ELSE 0 END AS copies
      |      FROM rk JOIN c USING (lang) CROSS JOIN m)
      |SELECT doc_id, lang, CAST(copies AS BIGINT) AS copies,
      |       unnest(generate_series(1, copies)) AS copy_ix
      |FROM t""".stripMargin

  val curateCorpus: String =
    s"""WITH q AS ($textQuality),
       |g AS ($gopherRepetition),
       |k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
       |SELECT q.doc_id, quality, g.pass AS rep_pass,
       |  k.doc_id IS NOT NULL AS is_canonical,
       |  quality >= 0.5 AND g.pass AND k.doc_id IS NOT NULL AS keep
       |FROM q JOIN g ON g.doc_id = q.doc_id LEFT JOIN k ON k.doc_id = q.doc_id""".stripMargin

  val sampleStratified: String =
    """WITH h AS (SELECT doc_id, lang,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 15)) AS BIGINT) AS hh
      |  FROM documents)
      |SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang,
      |         CAST(row_number() OVER (PARTITION BY lang ORDER BY hh ASC) AS BIGINT) AS rk
      |  FROM h)
      |WHERE rk <= 20""".stripMargin

  val dupSpanStats: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      |                         for i in generate_series(1, len(w) - 4)]) AS sh FROM t)),
      |f AS (SELECT sh, count(*) AS ndocs FROM g GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS shared_frac
      |FROM g JOIN f USING (sh) GROUP BY 1""".stripMargin

  val embedCentroids: String =
    """WITH qz AS (SELECT CAST(label AS BIGINT) AS label, p.p AS pos,
      |              CAST(round(CAST(embedding[p.p] AS DOUBLE) * 10000000) AS BIGINT) AS v
      |       FROM embeddings CROSS JOIN generate_series(1, 64) p(p))
      |SELECT label, CAST(pos AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(v) AS BIGINT) AS s,
      |  CAST(SUM(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS c_mean
      |FROM qz GROUP BY 1, 2""".stripMargin

  /** Shared PQ CTE chain: quantize → subspaces → md5 hyperplanes →
    * sign-LSH init codes → floored-integer-mean centroids → per-(vec,
    * subspace, centroid) exact distances → nearest-centroid codes. The
    * floored mean is written rounding-agnostically ((s − floormod(s, n))
    * is exactly divisible, so `//` vs truncation cannot differ), matching
    * Spark's `(s - pmod(s, n)) div n`. */
  private val pqBase: String =
    """v AS (SELECT vec_id AS id, p.p AS pos,
      |             CAST(round(CAST(embedding[p.p] AS DOUBLE) * 10000000) AS BIGINT) AS v
      |      FROM embeddings CROSS JOIN generate_series(1, 64) p(p)),""".stripMargin +
      "\n" + pqChain(8, 8)

  /** The source-independent tail of the PQ restatement: consumes a dense
    * long-form `v(id, pos, v)` CTE and chains subspace split → md5
    * hyperplanes → sign-LSH init → floored-mean centroids → one Lloyd
    * refinement → exact per-(vec, subspace, centroid) distances →
    * nearest-centroid codes, for any (nSub, subDim) geometry. Shared by
    * the embeddings PQ oracles (8×8 over 64 dims) and the chunk-corpus
    * retrieval oracle (8×4 over 32 feature-hash dims). */
  private def pqChain(nSub: Int, subDim: Int): String =
    s"""sub AS (SELECT id, (pos - 1) // $subDim AS m, (pos - 1) % $subDim + 1 AS d, v FROM v),
      |w AS (SELECT j.j AS j, p.p AS d,
      |             CAST(('0x' || substr(md5(j.j || '_' || p.p), 1, 15)) AS BIGINT) % 2001 - 1000 AS wt
      |      FROM generate_series(0, ${nSub * 4 - 1}) j(j) CROSS JOIN generate_series(1, $subDim) p(p)),
      |dots AS (SELECT s.id, s.m, w.j, SUM(s.v * w.wt) AS dot
      |         FROM sub s JOIN w ON w.j // 4 = s.m AND w.d = s.d GROUP BY 1, 2, 3),
      |ic AS (SELECT id, m,
      |         CAST(SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << CAST(j % 4 AS INT)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS code
      |       FROM dots GROUP BY 1, 2),
      |cent0 AS (SELECT s.m, ic.code, s.d,
      |           CAST((SUM(s.v) - ((SUM(s.v) % COUNT(*) + COUNT(*)) % COUNT(*))) // COUNT(*) AS BIGINT) AS c
      |         FROM sub s JOIN ic ON ic.id = s.id AND ic.m = s.m GROUP BY 1, 2, 3),
      |kd0 AS (SELECT s.id, s.m, c.code, SUM((s.v - c.c) * (s.v - c.c)) AS dist
      |       FROM sub s JOIN cent0 c ON c.m = s.m AND c.d = s.d GROUP BY 1, 2, 3),
      |asg0 AS (SELECT id, m, code FROM (
      |    SELECT id, m, code,
      |           row_number() OVER (PARTITION BY id, m ORDER BY dist ASC, code ASC) AS rn
      |    FROM kd0) WHERE rn = 1),
      |cent AS (SELECT s.m, a.code, s.d,
      |           CAST((SUM(s.v) - ((SUM(s.v) % COUNT(*) + COUNT(*)) % COUNT(*))) // COUNT(*) AS BIGINT) AS c
      |         FROM sub s JOIN asg0 a ON a.id = s.id AND a.m = s.m GROUP BY 1, 2, 3),
      |kd AS (SELECT s.id, s.m, c.code, SUM((s.v - c.c) * (s.v - c.c)) AS dist
      |       FROM sub s JOIN cent c ON c.m = s.m AND c.d = s.d GROUP BY 1, 2, 3),
      |codes AS (SELECT id, m, code FROM (
      |    SELECT id, m, code,
      |           row_number() OVER (PARTITION BY id, m ORDER BY dist ASC, code ASC) AS rn
      |    FROM kd) WHERE rn = 1)""".stripMargin

  val pqCodes: String = {
    val pivot = (0 until 8)
      .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS code_$m").mkString(",\n  ")
    s"""WITH $pqBase
       |SELECT id AS vec_id,
       |  $pivot
       |FROM codes GROUP BY id""".stripMargin
  }

  val pqTopK: String =
    s"""WITH $pqBase,
       |qd AS (SELECT id AS q_id, m, code, dist FROM kd WHERE id < 8),
       |adc AS (SELECT qd.q_id, k.id AS c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
       |        FROM codes k JOIN qd ON qd.m = k.m AND qd.code = k.code AND k.id <> qd.q_id
       |        GROUP BY 1, 2)
       |SELECT q_id, c_id, adc, rn FROM (
       |  SELECT q_id, c_id, adc,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, c_id ASC) AS BIGINT) AS rn
       |  FROM adc)
       |WHERE rn <= 3""".stripMargin

  val pqTopKRerank: String =
    s"""WITH $pqBase,
       |qd AS (SELECT id AS q_id, m, code, dist FROM kd WHERE id < 8),
       |adc AS (SELECT qd.q_id, k.id AS c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
       |        FROM codes k JOIN qd ON qd.m = k.m AND qd.code = k.code AND k.id <> qd.q_id
       |        GROUP BY 1, 2),
       |short AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, c_id ASC) AS rn
       |    FROM adc) WHERE rn <= 48),
       |ex AS (SELECT s.q_id, s.c_id, CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS l2
       |       FROM short s JOIN v a ON a.id = s.q_id
       |       JOIN v b ON b.id = s.c_id AND b.pos = a.pos
       |       GROUP BY 1, 2)
       |SELECT q_id, c_id, l2, rn FROM (
       |  SELECT q_id, c_id, l2,
       |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY l2 ASC, c_id ASC) AS BIGINT) AS rn
       |  FROM ex)
       |WHERE rn <= 3""".stripMargin

  /** The IVF-PQ serve restatement, as a CTE chain over [[pqBase]]'s
    * `v`/`kd`/`codes`: coarse L2 cells (centroids = first 16 corpus
    * vectors, ties to the lowest cid), per-query 4 nearest probes, ADC
    * restricted to probed cells, then the [[pqTopKRerank]] shortlist +
    * exact re-rank tail. Shared by the serve oracle and its recall
    * gate so they restate ONE chain. Ends in `ivfpq(q_id, c_id, l2,
    * rn)`. */
  private val ivfPqChain: String =
    s"""cvec AS (SELECT id AS cid, pos, v FROM v WHERE id < 16),
      |cdist AS (SELECT a.id, c.cid, SUM((a.v - c.v) * (a.v - c.v)) AS d2
      |          FROM v a JOIN cvec c ON c.pos = a.pos GROUP BY 1, 2),
      |cell AS (SELECT id, cid AS cell FROM (
      |    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
      |    FROM cdist) WHERE rn = 1),
      |probes AS (SELECT id AS q_id, cid AS cell FROM (
      |    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
      |    FROM cdist WHERE id < 8) WHERE rn <= 4),
      |qd AS (SELECT id AS q_id, m, code, dist FROM kd WHERE id < 8),
      |adcx AS (SELECT qd.q_id, k.id AS c_id, CAST(SUM(qd.dist) AS BIGINT) AS adc
      |        FROM codes k
      |        JOIN cell ce ON ce.id = k.id
      |        JOIN probes p ON p.cell = ce.cell
      |        JOIN qd ON qd.m = k.m AND qd.code = k.code AND qd.q_id = p.q_id AND k.id <> qd.q_id
      |        GROUP BY 1, 2),
      |short AS (SELECT q_id, c_id FROM (
      |    SELECT q_id, c_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, c_id ASC) AS rn
      |    FROM adcx) WHERE rn <= ${PipelineQueries.IvfPqShortlist}),
      |ex AS (SELECT s.q_id, s.c_id, CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS l2
      |       FROM short s JOIN v a ON a.id = s.q_id
      |       JOIN v b ON b.id = s.c_id AND b.pos = a.pos
      |       GROUP BY 1, 2),
      |ivfpq AS (SELECT q_id, c_id, l2,
      |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY l2 ASC, c_id ASC) AS BIGINT) AS rn
      |  FROM ex)""".stripMargin

  /** [[PipelineQueries.pqTopKIvf]] restatement via [[ivfPqChain]]. */
  val pqTopKIvf: String =
    s"""WITH $pqBase,
       |$ivfPqChain
       |SELECT q_id, c_id, l2, rn FROM ivfpq WHERE rn <= 3""".stripMargin

  /** [[PipelineQueries.annRecallIvfPq]] restatement: brute exact-L2
    * top-3 truth vs the [[ivfPqChain]] serve, per-query recall@3. */
  val annRecallIvfPq: String =
    s"""WITH $pqBase,
       |$ivfPqChain,
       |bl2 AS (SELECT a.id AS q_id, b.id AS c_id, SUM((a.v - b.v) * (a.v - b.v)) AS l2
       |        FROM v a JOIN v b ON b.pos = a.pos AND b.id <> a.id
       |        WHERE a.id < 8 GROUP BY 1, 2),
       |truth AS (SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY l2 ASC, c_id ASC) AS rn
       |    FROM bl2) WHERE rn <= 3),
       |apx AS (SELECT q_id, c_id FROM ivfpq WHERE rn <= 3)
       |SELECT 'ivfpq' AS family, t.q_id,
       |  CAST(count(a.c_id) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS k,
       |  CAST(count(a.c_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN apx a ON a.q_id = t.q_id AND a.c_id = t.c_id
       |GROUP BY 2""".stripMargin

  val spanScrub: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |sp AS (SELECT doc_id, s.i AS i, s.h AS h FROM (
      |  SELECT doc_id, unnest([{'i': i,
      |    'h': CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15)) AS BIGINT)}
      |    for i in generate_series(1, len(w) - 4)]) AS s FROM t)),
      |fr AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS ndocs FROM sp GROUP BY 1) WHERE ndocs > 1),
      |cov AS (SELECT DISTINCT sp.doc_id, sp.i + d.d AS j
      |        FROM sp JOIN fr USING (h) CROSS JOIN generate_series(0, 4) d(d)),
      |tok AS (SELECT doc_id, u.j AS j, u.tok AS tok FROM (
      |  SELECT doc_id, unnest([{'j': i, 'tok': w[i]} for i in generate_series(1, len(w))]) AS u FROM t))
      |SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(sum(CASE WHEN cov.j IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN cov.j IS NULL THEN tok.tok END, ' ' ORDER BY tok.j), '') AS text_clean
      |FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.j = tok.j
      |GROUP BY 1""".stripMargin

  val salientTerms: String =
    """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |s AS (SELECT doc_id, term, tf.tf AS tf, df.df AS df,
      |             CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score
      |      FROM tf JOIN df USING (term))
      |SELECT doc_id, term, tf, df, score, rn FROM (
      |  SELECT doc_id, term, tf, df, score,
      |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rn
      |  FROM s)
      |WHERE rn <= 3""".stripMargin

  val dsirWeights: String = {
    val b = PipelineQueries.DsirBuckets
    s"""WITH toks AS (SELECT doc_id, lang, list_filter(string_split(trim(text), ' '), t -> t <> '') AS w FROM documents),
       |f0 AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(w, t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % $b)) AS b
       |  FROM toks
       |  UNION ALL
       |  SELECT doc_id, lang,
       |         unnest([CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15)) AS BIGINT) % $b
       |                 for i in generate_series(1, len(w) - 1)]) AS b
       |  FROM toks),
       |fc AS (SELECT doc_id, lang, b, count(*) AS cnt FROM f0 GROUP BY 1, 2, 3),
       |m AS (SELECT b, SUM(cnt) AS cr, SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS ct
       |      FROM fc GROUP BY 1),
       |tot AS (SELECT SUM(cr) AS r, SUM(ct) AS t FROM m),
       |q AS (SELECT b, CAST(round(1000000.0 * ln((CAST(ct + 1 AS DOUBLE) / CAST(cr + 1 AS DOUBLE))
       |                 * (CAST(r + $b AS DOUBLE) / CAST(t + $b AS DOUBLE)))) AS BIGINT) AS qlr
       |      FROM m CROSS JOIN tot)
       |SELECT fc.doc_id, fc.lang, fc.lang = 'en' AS is_target,
       |       CAST(SUM(cnt) AS BIGINT) AS n_feats, CAST(SUM(cnt * qlr) AS BIGINT) AS logw_q,
       |       SUM(cnt * qlr) > 0 AS selected
       |FROM fc JOIN q USING (b) GROUP BY 1, 2, 3""".stripMargin
  }

  val dsirSelect: String = {
    val h = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"""SELECT doc_id, lang, is_target, logw_q, gumbel_q, logw_q + gumbel_q AS gkey
       |FROM (
       |  SELECT doc_id, lang, is_target, logw_q,
       |         CAST(round(1000000.0 * -ln(-ln(CAST(2 * ($h) + 1 AS DOUBLE)
       |              / 2305843009213693952.0))) AS BIGINT) AS gumbel_q
       |  FROM ($dsirWeights))
       |ORDER BY gkey DESC, doc_id ASC LIMIT 100""".stripMargin
  }

  /** The shared NB score chain (everything through the per-(doc, class)
    * `scored` relation) — one statement reused by the [[nbClassify]] and
    * [[nbCalibration]] oracles so the two cannot drift. */
  private val nbScoredCte: String = {
    val b = PipelineQueries.NbBuckets
    val tok = "list_filter(string_split(trim(mtext), ' '), t -> t <> '')"
    val hb = s"t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % $b"
    val marked = PipelineQueries.NbMarkers
      .map { case (l, m) => s"WHEN '$l' THEN text || ' ' || '$m'" }
      .mkString("CASE lang ", " ", " ELSE text END")
    s"""d AS (
       |  SELECT doc_id, lang, $marked AS mtext,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)), 1, 15)) AS BIGINT) % 10 AS bucket
       |  FROM documents),
       |tr AS (SELECT * FROM d WHERE bucket < 8),
       |te AS (SELECT * FROM d WHERE bucket = 9),
       |cls AS (SELECT lang, count(*) AS d_c, SUM(len($tok)) AS n_c FROM tr GROUP BY 1),
       |tot AS (SELECT SUM(d_c) AS d FROM cls),
       |pri AS (SELECT lang AS c, n_c,
       |        CAST(round(1000000.0 * ln(CAST(d_c AS DOUBLE) / CAST(d AS DOUBLE))) AS BIGINT) AS prior_q
       |        FROM cls CROSS JOIN tot),
       |cnts AS (SELECT lang AS c, b, count(*) AS cnt FROM (
       |  SELECT lang, unnest(list_transform($tok, $hb)) AS b FROM tr) GROUP BY 1, 2),
       |model AS (SELECT pri.c AS c, bs.b AS b,
       |        CAST(round(1000000.0 * ln(CAST(coalesce(cnt, 0) + 1 AS DOUBLE)
       |             / CAST(n_c + $b AS DOUBLE))) AS BIGINT) AS llh_q
       |        FROM pri CROSS JOIN generate_series(0, ${b - 1}) bs(b)
       |        LEFT JOIN cnts ON cnts.c = pri.c AND cnts.b = bs.b),
       |sdoc AS (SELECT t.doc_id, t.lang, m.c AS c, SUM(m.llh_q) AS s_q FROM (
       |  SELECT doc_id, lang, unnest(list_transform($tok, $hb)) AS b FROM te) t
       |  JOIN model m USING (b) GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT sdoc.doc_id, sdoc.lang, sdoc.c AS c, CAST(prior_q + s_q AS BIGINT) AS score_q
       |  FROM sdoc JOIN pri ON pri.c = sdoc.c
       |  UNION ALL
       |  SELECT doc_id, lang, pri.c AS c, CAST(prior_q AS BIGINT) AS score_q FROM te CROSS JOIN pri
       |  WHERE len($tok) = 0)""".stripMargin
  }

  val nbClassify: String =
    s"""WITH $nbScoredCte
       |SELECT doc_id, lang, pred, score_q, correct FROM (
       |  SELECT doc_id, lang, c AS pred, score_q, lang = c AS correct,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, c ASC) AS rn
       |  FROM scored)
       |WHERE rn = 1""".stripMargin

  /** [[PipelineQueries.nbCalibration]] restatement: the shared scored
    * chain, top-2 rank, exact integer margin, 4-log-unit bins. */
  val nbCalibration: String =
    s"""WITH $nbScoredCte,
       |rk AS (SELECT doc_id, lang, c, score_q,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, c ASC) AS rn
       |       FROM scored),
       |pd AS (SELECT r1.doc_id, r1.lang = r1.c AS correct,
       |         CAST(r1.score_q - r2.score_q AS BIGINT) AS margin_q
       |       FROM rk r1 JOIN rk r2 ON r2.doc_id = r1.doc_id AND r2.rn = 2
       |       WHERE r1.rn = 1),
       |bn AS (SELECT least(margin_q // 4000000, CAST(19 AS BIGINT)) AS bin, correct, margin_q FROM pd)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_ppm,
       |  CAST(SUM(margin_q) // count(*) AS BIGINT) AS avg_margin_q
       |FROM bn GROUP BY 1""".stripMargin

  /** [[PipelineQueries.nbConfusion]] restatement: the nbClassify chain as
    * a CTE, one cell aggregation, row/column totals joined back. */
  val nbConfusion: String =
    s"""WITH pr AS ($nbClassify),
       |cells AS (SELECT lang, pred, count(*) AS n FROM pr GROUP BY 1, 2),
       |bt AS (SELECT lang, SUM(n) AS n_true FROM cells GROUP BY 1),
       |bp AS (SELECT pred, SUM(n) AS n_pred FROM cells GROUP BY 1)
       |SELECT c.lang, c.pred, CAST(c.n AS BIGINT) AS n,
       |  CAST(bt.n_true AS BIGINT) AS n_true, CAST(bp.n_pred AS BIGINT) AS n_pred,
       |  CAST(c.n AS DOUBLE) / CAST(bt.n_true AS DOUBLE) AS recall_share,
       |  CAST(c.n AS DOUBLE) / CAST(bp.n_pred AS DOUBLE) AS precision_share
       |FROM cells c JOIN bt ON bt.lang = c.lang JOIN bp ON bp.pred = c.pred""".stripMargin

  val sourceOverlap: String =
    s"""WITH ${shingleCte(carrySource = true)},
       |ssh AS (SELECT DISTINCT source, sh FROM sh),
       |stot AS (SELECT source, count(*) AS n FROM ssh GROUP BY 1),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
       |      FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2)
       |SELECT source_a, source_b, ta.n AS n_a, tb.n AS n_b, shared,
       |       CAST(shared AS DOUBLE) / CAST(ta.n + tb.n - shared AS DOUBLE) AS overlap_jaccard
       |FROM p JOIN stot ta ON ta.source = source_a JOIN stot tb ON tb.source = source_b""".stripMargin

  val lmFluency: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |occ AS (SELECT doc_id, u.h1 AS h1, u.h2 AS h2 FROM (
      |  SELECT doc_id, unnest([{
      |    'h1': CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT),
      |    'h2': CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15)) AS BIGINT)}
      |    for i in generate_series(1, len(w) - 1)]) AS u FROM t)),
      |c2 AS (SELECT h2, count(*) AS c2 FROM occ GROUP BY 1),
      |c1 AS (SELECT h1, count(*) AS c1 FROM occ GROUP BY 1),
      |p AS (SELECT doc_id, CAST(c2.c2 * 1000000 // c1.c1 AS BIGINT) AS p
      |      FROM occ JOIN c2 USING (h2) JOIN c1 USING (h1))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(p) AS BIGINT) AS sum_p,
      |  CAST(SUM(p) AS DOUBLE) / count(*) AS fluency
      |FROM p GROUP BY 1""".stripMargin

  val snapshotDiff: String =
    """WITH b AS (
      |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 != 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
      |ah AS (SELECT doc_id AS id, md5(text) AS ha FROM documents),
      |bh AS (SELECT doc_id AS id, md5(text) AS hb FROM b)
      |SELECT coalesce(ah.id, bh.id) AS id,
      |  CASE WHEN ha IS NULL THEN 'added'
      |       WHEN hb IS NULL THEN 'removed'
      |       WHEN ha = hb THEN 'unchanged'
      |       ELSE 'changed' END AS status
      |FROM ah FULL OUTER JOIN bh ON ah.id = bh.id""".stripMargin

  val sampleWeighted: String =
    s"""WITH q AS ($textQuality),
       |h AS (SELECT q.doc_id, q.quality,
       |        CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || md5(d.text)), 1, 15)) AS BIGINT) % 1000000 AS sample_bucket
       |      FROM documents d JOIN q ON q.doc_id = d.doc_id)
       |SELECT doc_id, quality, sample_bucket FROM h
       |WHERE sample_bucket < CAST(round(least(CAST(1.0 AS DOUBLE), quality) * 1000000.0) AS BIGINT)""".stripMargin

  val corpusHealth: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
      |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
      |  CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
      |  CAST(min(length(text)) AS BIGINT) AS min_len,
      |  CAST(max(length(text)) AS BIGINT) AS max_len,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM documents""".stripMargin

  val sourceScorecard: String =
    """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS corpus_docs FROM documents)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS uniq_texts,
      |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS dup_docs,
      |  CAST(min(n_chars) AS BIGINT) AS min_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars,
      |  CAST(count(*) AS BIGINT) * 1000000 // (SELECT corpus_docs FROM t) AS share_ppm
      |FROM documents GROUP BY source""".stripMargin

  /** PII-scrub oracle — regex-free by design: the injected spans are the
    * only matchable content (base corpus has no digits/'@'), so counts and
    * the redacted text are stated directly. */
  val piiScrub: String =
    """SELECT doc_id,
      |  CAST(1 AS BIGINT) AS n_emails,
      |  CAST(1 AS BIGINT) AS n_ips,
      |  CAST(1 AS BIGINT) AS n_phones,
      |  md5(text || ' contact <EMAIL> from <IP> call <PHONE>') AS redacted_hash
      |FROM documents""".stripMargin

  /** [[PipelineQueries.secretScan]] restatement: the injected tokens
    * stated arithmetically (never a regex), their per-character counts
    * via generate_series+substr, and the SAME per-class micro-nat
    * entropy term — green only if the Java scanner found exactly the
    * injected spans and the entropy arithmetic is engine-exact. */
  val secretScan: String =
    """WITH toks AS (
      |  SELECT doc_id, 'aws' AS kind,
      |         'AKIA' || upper(substr(md5(CAST(doc_id AS VARCHAR)), 1, 16)) AS tok
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, 'hex' AS kind,
      |         substr(md5('h' || CAST(doc_id AS VARCHAR)), 1, 32) AS tok
      |  FROM documents WHERE doc_id % 11 = 0),
      |ch AS (SELECT doc_id, kind, tok, substr(tok, g.i, 1) AS ch
      |       FROM toks CROSS JOIN generate_series(1, 32) g(i)
      |       WHERE g.i <= length(tok)),
      |cc AS (SELECT doc_id, kind, tok, ch, count(*) AS k FROM ch GROUP BY 1, 2, 3, 4),
      |nn AS (SELECT doc_id, kind, tok, SUM(k) AS n, count(*) AS n_chars FROM cc GROUP BY 1, 2, 3),
      |t AS (SELECT cc.doc_id, cc.kind, cc.tok, nn.n, nn.n_chars,
      |        CAST(round(1000000.0 * (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
      |          * ln(CAST(n AS DOUBLE) / CAST(k AS DOUBLE))) AS BIGINT) AS term
      |      FROM cc JOIN nn USING (doc_id, kind, tok))
      |SELECT doc_id, kind, tok, CAST(n AS BIGINT) AS token_len,
      |  CAST(n_chars AS BIGINT) AS n_distinct_chars,
      |  CAST(SUM(term) AS BIGINT) AS ent_micro,
      |  CAST(SUM(term) AS BIGINT) >= 2000000 AS flagged
      |FROM t GROUP BY 1, 2, 3, 4, 5""".stripMargin

  /** Incremental-dedup oracle: the near tier reuses the dedup_minhash pair
    * SQL verbatim, restricted to pairs crossing the base/delivery split;
    * the exact tier is a min-combined hash join. Exact precedence matches
    * the engine. */
  val dedupIncremental: String =
    s"""WITH mp AS ($dedupMinhash),
       |del AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0),
       |bas AS (SELECT md5(text) AS h, min(doc_id) AS exact_of
       |        FROM documents WHERE doc_id % 5 != 0 GROUP BY 1),
       |ex AS (SELECT doc_id, exact_of FROM del JOIN bas USING (h)),
       |nr AS (SELECT d.doc_id,
       |         min(CASE WHEN mp.doc_a = d.doc_id THEN mp.doc_b ELSE mp.doc_a END) AS near_of
       |       FROM del d JOIN mp
       |         ON (mp.doc_a = d.doc_id AND mp.doc_b % 5 != 0)
       |         OR (mp.doc_b = d.doc_id AND mp.doc_a % 5 != 0)
       |       GROUP BY 1)
       |SELECT d.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
       |       WHEN nr.doc_id IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
       |  CAST(coalesce(ex.exact_of, nr.near_of, -1) AS BIGINT) AS dup_of
       |FROM del d
       |LEFT JOIN ex ON ex.doc_id = d.doc_id
       |LEFT JOIN nr ON nr.doc_id = d.doc_id""".stripMargin

  val dedupContainment: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS w FROM documents),
      |sp AS (SELECT DISTINCT doc_id,
      |         CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h FROM (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      |                         for i in generate_series(1, len(w) - 4)]) AS sh FROM t)),
      |usable AS (SELECT h FROM (SELECT h, count(*) AS ndocs FROM sp GROUP BY 1)
      |           WHERE ndocs BETWEEN 2 AND 20),
      |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |         FROM sp a JOIN usable u ON u.h = a.h
      |         JOIN sp b ON b.h = a.h AND a.doc_id < b.doc_id),
      |g AS (SELECT DISTINCT doc_id,
      |        CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS g FROM (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                         for i in generate_series(1, len(w) - 2)]) AS sh FROM t)),
      |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |cm AS (SELECT c.da, c.db, count(*) AS common
      |       FROM cand c JOIN g x ON x.doc_id = c.da
      |       JOIN g y ON y.doc_id = c.db AND y.g = x.g
      |       GROUP BY 1, 2),
      |sc AS (SELECT cm.da, cm.db, CAST(cm.common AS BIGINT) AS common,
      |              na.n AS na, nb.n AS nb
      |       FROM cm JOIN n na ON na.doc_id = cm.da JOIN n nb ON nb.doc_id = cm.db),
      |dir AS (SELECT da AS contained, db AS container, common,
      |               CAST(common AS DOUBLE) / CAST(na AS DOUBLE) AS containment FROM sc
      |        UNION ALL
      |        SELECT db, da, common,
      |               CAST(common AS DOUBLE) / CAST(nb AS DOUBLE) AS containment FROM sc)
      |SELECT contained, container, common, containment FROM dir
      |WHERE containment >= 0.6""".stripMargin

  val all: Map[String, String] = Map(
    "dedup_containment" -> dedupContainment,
    "corpus_health"     -> corpusHealth,
    "source_scorecard"  -> sourceScorecard,
    "dedup_incremental" -> dedupIncremental,
    "pii_scrub"         -> piiScrub,
    "secret_scan"       -> secretScan,
    "sample_weighted"   -> sampleWeighted,
    "snapshot_diff"     -> snapshotDiff,
    "lm_fluency"        -> lmFluency,
    "span_scrub"        -> spanScrub,
    "salient_terms"     -> salientTerms,
    "pq_codes"          -> pqCodes,
    "pq_topk"           -> pqTopK,
    "pq_topk_rr"        -> pqTopKRerank,
    "pq_topk_ivf"       -> pqTopKIvf,
    "ann_recall_ivfpq"  -> annRecallIvfPq,
    "sample_stratified" -> sampleStratified,
    "dup_span_stats"    -> dupSpanStats,
    "embed_centroids"   -> embedCentroids,
    "train_split"      -> trainSplit,
    "train_split_safe" -> trainSplitSafe,
    "multimodal_meta"  -> multimodalMeta,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_headers" -> multimodalHeaders,
    "multimodal_pixels"  -> multimodalPixels,
    "multimodal_audio"   -> multimodalAudio,
    "multimodal_video"   -> multimodalVideo,
    "multimodal_frames"  -> multimodalFrames,
    "dedup_normalized" -> dedupNormalized,
    "top_terms_lang"   -> topTermsPerLang,
    "dedup_exact"     -> dedupExact,
    "text_stats"      -> textStats,
    "text_quality"    -> textQuality,
    "dedup_ngram"     -> dedupNgram,
    "dedup_minhash"   -> dedupMinhash,
    "dedup_simhash"   -> dedupSimhash,
    "embed_topk"      -> embedTopK,
    "embed_topk_lsh"  -> embedTopKLsh,
    "dedup_embed"     -> dedupEmbed,
    "lang_id"         -> langId,
    "doc_fingerprint" -> docFingerprint,
    "gopher_repetition" -> gopherRepetition,
    "contamination"     -> contamination,
    // converges to contamination bit-exactly through the persisted index
    "contamination_persist" -> contamination,
    "contamination_delivery" -> contaminationDelivery,
    "embed_topk_ivf"    -> embedTopKIvf,
    "semdedup"          -> semDedup,
    "embed_kmeans"      -> embedKmeans,
    "kmeans_map"        -> kmeansMap,
    "kmeans_drift"      -> kmeansDrift,
    "sample_clusters"   -> sampleClusters,
    "semdedup_kmeans"   -> semDedupKmeans,
    "dedup_pair_hist"   -> dedupPairHist,
    "term_drift"        -> termDrift,
    "doc_winnow"        -> docWinnow,
    "dedup_winnow"      -> dedupWinnow,
    "embed_topk_mmr"    -> embedTopKMmr,
    "hard_negatives"    -> hardNegatives,
    "bpe_pairs"         -> bpePairs,
    "bpe_learn"         -> bpeLearn,
    "bpe_encode"        -> bpeEncode,
    "tok_fertility"     -> tokFertility,
    "tok_compression"   -> tokCompression,
    "uni_seed"          -> uniSeed,
    "uni_learn"         -> uniLearn,
    "uni_encode"        -> uniEncode,
    "uni_fertility"     -> uniFertility,
    "tok_ab"            -> tokAb,
    "dsir_weights"      -> dsirWeights,
    "dsir_select"       -> dsirSelect,
    "nb_classify"       -> nbClassify,
    "nb_confusion"      -> nbConfusion,
    "nb_calibration"    -> nbCalibration,
    // converges to nb_classify bit-exactly through the persisted model
    "nb_classify_persist" -> nbClassify,
    "source_overlap"    -> sourceOverlap,
    "ann_recall"        -> annRecall,
    "dedup_clusters"    -> dedupClusters,
    "dedup_canonical"   -> dedupCanonical,
    "boilerplate_spans" -> boilerplateSpans,
    "corpus_manifest"   -> corpusManifest,
    // persisted-assignment manifest must reproduce the from-scratch one
    "corpus_manifest_persist" -> corpusManifest,
    "curation_yield"    -> curationYield,
    "seq_pack"          -> seqPack,
    "doc_chunks"        -> docChunks,
    "doc_sentences"     -> docSentences,
    // min-label-propagation resolution must reproduce the SAME clusters
    // as the star-contraction default
    "dedup_clusters_prop" -> dedupClusters,
    // persisted-base incremental fold must ALSO reproduce them
    "dedup_clusters_persist" -> dedupClusters,
    "chunk_topk" -> chunkTopK,
    "chunk_topk_pq" -> chunkTopKPq,
    "bm25_topk" -> bm25TopK,
    "bm25_topk_impact" -> bm25TopKImpact,
    "lex_recall" -> lexRecall,
    // the certified serve is ALWAYS exact (certificate or fallback) —
    // the oracle IS bm25_topk's SQL, the persist-twin discipline
    "bm25_topk_certified" -> bm25TopK,
    "lex_certified_rate" -> lexCertifiedRate,
    // converges to the from-scratch ranking bit-exactly through the
    // persisted index — the oracle IS bm25_topk's SQL
    "bm25_topk_persist" -> bm25TopK,
    // takedown folded OUT of the persisted index must equal a
    // from-scratch index of the survivors
    "bm25_topk_takedown" -> bm25TopKTakedown,
    // the partition-pruned forward-store probe must equal tokenizing
    // the bounded removal batch from scratch
    "bm25_downfold_probe" -> bm25DownfoldProbe,
    // the takedown through the whole serving stack: both retrievers
    // restricted to survivors
    "hybrid_rrf_takedown" -> hybridRrfTakedown,
    // fused-list diversification audit over the carried single ranks
    "rrf_overlap" -> rrfOverlap,
    // persisted serving state — the oracle IS hybrid_rrf's SQL
    "hybrid_rrf_persist" -> hybridRrf,
    "hybrid_rrf" -> hybridRrf,
    // the dense leg served from the PQ index (ADC shortlist + re-rank)
    "hybrid_rrf_pq" -> hybridRrfPq,
    // fused-list overlap of the PQ-served fusion vs the brute fusion
    "rrf_overlap_pq" -> rrfOverlapPq,
    // the _persist twin serves the SAME relation: the stored baseline is
    // the brute fusion by construction, so the restatement is identical
    "rrf_overlap_pq_persist" -> rrfOverlapPq,
    "embed_sq8" -> embedSq8,
    "sq8_topk" -> sq8TopK,
    "dedup_soft" -> dedupSoft,
    "quality_drift" -> qualityDrift,
    "image_dhash" -> imageDhash,
    "dedup_dhash" -> dedupDhash,
    "audio_fingerprint" -> audioFingerprint,
    "video_fingerprint" -> videoFingerprint,
    "contamination_image" -> contaminationImage,
    // incremental (base + delivery) composition must ALSO reproduce them:
    // splitting the band join into its three cross-parts loses no pair
    "dedup_clusters_delta" -> dedupClusters,
    "dedup_clusters_takedown" -> dedupClustersTakedown,
    "dedup_clusters_takedown_persist" -> dedupClustersTakedown,
    "cluster_scorecard" -> clusterScorecard,
    "contamination_near" -> contaminationNear,
    "domain_mix"        -> domainMix,
    "domain_mix_temp"   -> domainMixTemp,
    "curate_corpus"     -> curateCorpus,
  )
}
