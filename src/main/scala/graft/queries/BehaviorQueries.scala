package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{RankOps, WindowOps}
import graft.sources.Tables

/**
 * The reference's 13 user-behavior jobs re-expressed as declarative Spark
 * queries over the driver `events` table (event_id, ts, user_id,
 * event_type ∈ {view,click,purchase,signup,error}, value, props JSON).
 *
 * Mapping of reference streams onto `events` (SURVEY.md §1.1):
 *  - UserBehavior.pv        → event_type = 'view'
 *  - itemId                 → props.k (JSON field, 0..99)
 *  - url / page             → event_type (low-cardinality page analogue)
 *  - marketing channel      → 'ch' || user_id % 4
 *  - ad province            → 'p' || props.k % 10
 *  - login fail             → event_type = 'error'
 *  - order create / pay     → view / purchase per user
 *  - pay / receipt streams  → purchase / click per user
 *
 * All window bounds are emitted as epoch seconds (BIGINT) so the DuckDB
 * oracle compares engine-agnostically.
 */
object BehaviorQueries {

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  /** A1+T1 HotItems: top-3 items per sliding 1h/15m window of views.
    * Reference: HotItem.java:73-80 (window agg) + :134-192 (TopN process
    * fn); here one groupBy + rank-over-window, no state/timers. */
  def hotItemsTopN(spark: SparkSession, dir: String): DataFrame = {
    val views = ev(spark, dir)
      .filter(col("event_type") === "view")
      .select(Tables.itemId.as("item_id"), col("ts"))
    val counts = WindowOps.epochWindow(
      WindowOps.slidingCount(views, col("ts"), "1 hour", "15 minutes", col("item_id")))
    RankOps.topN(counts, 3, Seq(col("window_start")),
        Seq(col("cnt").desc, col("item_id").asc))
      .select("window_start", "window_end", "item_id", "cnt", "rn")
  }

  /** A2+T2 HotPages: top-3 "pages" (event_type) per sliding 1h/15m window,
    * excluding the error page (the reference excludes static resources via
    * regex, HotPage.java:70-73 — same shape: negative filter then rank). */
  def hotPagesTopN(spark: SparkSession, dir: String): DataFrame = {
    val pages = ev(spark, dir)
      .filter(!col("event_type").rlike("^(error)$"))
      .select(col("event_type").as("page"), col("ts"))
    val counts = WindowOps.epochWindow(
      WindowOps.slidingCount(pages, col("ts"), "1 hour", "15 minutes", col("page")))
    RankOps.topN(counts, 3, Seq(col("window_start")),
        Seq(col("cnt").desc, col("page").asc))
      .select("window_start", "window_end", "page", "cnt", "rn")
  }

  /** P2 apache-log parse, oracle-backed end-to-end: deterministic apache
    * log LINES are rendered from the events table (ip/method/url derived
    * arithmetically from the row, ts formatted `dd/MM/yyyy:HH:mm:ss` — the
    * reference's HotPage line shape), then parsed back by the REAL parser
    * ([[graft.sources.EventSources.parseApacheLog]],
    * network-flow-analysis/.../HotPage.java:50-54) and aggregated GET-only
    * with static resources excluded (HotPage.java:70-73) per (url, hour).
    * The oracle derives the same counts from events directly, so this is
    * green only if render→parse is a true round-trip through the parser. */
  def logHotPages(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.events(spark, dir).selectExpr(
      """concat(
        |'10.0.', CAST(user_id % 256 AS STRING), '.', CAST(user_id div 256 % 256 AS STRING),
        |' - - ',
        |date_format(ts, 'dd/MM/yyyy:HH:mm:ss'),
        |' +0000 ',
        |CASE WHEN event_type IN ('view', 'click') THEN 'GET' ELSE 'POST' END,
        |' /', event_type, '/p', CAST(user_id % 50 AS STRING),
        |CASE WHEN user_id % 7 = 0 THEN '.css' ELSE '' END,
        |' HTTP/1.1') AS value""".stripMargin.replace("\n", ""))
    graft.sources.EventSources.parseApacheLog(lines)
      .filter(col("method") === "GET")
      .filter(!col("url").rlike("\\.(css|js|png|ico)$"))
      .groupBy(col("url"), expr("unix_timestamp(ts) div 3600").as("hour"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** S3 oracle-backed: the simulated marketing source's cyclic
    * (userId, behavior, channel) mapping driven by event_id as the
    * monotone counter, aggregated per (channel, behavior) — the oracle
    * restates the modular arithmetic, so the generator mapping itself is
    * hash-checked (the rate-source timestamp leg stays structural:
    * processing time has no oracle). */
  def marketingSim(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .selectExpr(graft.sources.EventSources.marketingMapping("event_id"): _*)
      .groupBy(col("channel"), col("behavior"))
      .agg(count(lit(1)).as("cnt"), count_distinct(col("userId")).as("users"))

  /** A3 PageView: global tumbling 1h count of views. The reference's 10-way
    * salted two-phase count (PageView.java:66-166) is parallelism plumbing;
    * Spark's partial/final hash agg over the window key is the same thing,
    * planned automatically. */
  def pageViews(spark: SparkSession, dir: String): DataFrame =
    WindowOps.epochWindow(
      WindowOps.tumblingCount(
        ev(spark, dir).filter(col("event_type") === "view").select("ts"),
        col("ts"), "1 hour"))
      .withColumnRenamed("cnt", "pv")
      .select("window_start", "window_end", "pv")

  /** A4 UniqueVisitor: tumbling 1-day exact distinct users over views
    * (UniqueVisitor.java:64-79 builds a HashSet per window; here
    * count_distinct with partial aggregation). */
  def uniqueVisitors(spark: SparkSession, dir: String): DataFrame =
    WindowOps.epochWindow(
      WindowOps.tumblingDistinct(
        ev(spark, dir).filter(col("event_type") === "view")
          .select("ts", "user_id"),
        col("ts"), "1 day", col("user_id")))
      .select("window_start", "window_end", "uv")

  /** A5 engine-native bloom-UV parity: exact distinct via the custom
    * `exact_distinct` TypedImperativeAggregate (graft.functions), replacing
    * the reference's per-window Redis bitmap
    * (UniqueVisitorWithBloomFilter.java:93-171). */
  def uvBitmap(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ExactDistinct.register(spark)
    WindowOps.epochWindow(
      ev(spark, dir).filter(col("event_type") === "view")
        .select(col("ts"), col("user_id"))
        .groupBy(window(col("ts"), "1 day"))
        .agg(expr("exact_distinct(user_id)").as("uv")))
      .select("window_start", "window_end", "uv")
  }

  /** A5 at-scale default: HyperLogLog++ sketch distinct (fixed-size state —
    * the 10^8-cardinality answer). No DuckDB oracle for the RAW estimate:
    * sketch values are engine-specific — [[uvApproxBounds]] is the
    * oracle-gated form. */
  def uvApprox(spark: SparkSession, dir: String): DataFrame =
    WindowOps.epochWindow(
      ev(spark, dir).filter(col("event_type") === "view")
        .select(col("ts"), col("user_id"))
        .groupBy(window(col("ts"), "1 day"))
        .agg(approx_count_distinct(col("user_id")).as("uv_approx")))
      .select("window_start", "window_end", "uv_approx")

  /** Declared HLL++ precision of [[uvApproxBounds]] and the error envelope
    * it is gated at: `UvBoundsRel` = 3 × rsd (a 3σ envelope on the
    * sketch's relative standard deviation), `UvBoundsFloor` the small-
    * cardinality absolute floor where relative bounds are meaningless.
    * One set of constants shared by the Spark query and the oracle
    * restatement ([[BehaviorOracles.uvApproxBounds]]). */
  val UvApproxRsd = 0.05
  val UvBoundsRel = 0.15
  val UvBoundsFloor = 8L

  /** A5's sketch path, ORACLE-GATED — the bounds gate that closes the
    * `uv_approx` rows-only hole: per tumbling day, the HLL++ estimate
    * (declared rsd [[UvApproxRsd]]) is computed alongside the exact
    * distinct in ONE aggregation, and the emitted row carries the exact
    * count, the allowed absolute error bound derived from the declared
    * rsd (3σ: `max(⌈uv_exact · 0.15⌉, 8)`), and the BOOLEAN verdict
    * `|estimate − exact| ≤ bound`. DuckDB restates the exact side and
    * the bound arithmetically and asserts the verdict is literally TRUE
    * — so the sketch path is hash-gated end to end: if Spark's HLL++
    * ever drifts outside its declared envelope on this data, the hash
    * goes red. (The raw estimate itself stays out of the output on
    * purpose — it is the one engine-specific value; measured margin at
    * sf0.1 is 1.7σ worst-case, 55 % of the bound.) The exact side is
    * the SAME per-window distinct already gated by `unique_visitors` /
    * `uv_bitmap`; at 10^8 cardinality a deployment drops the exact twin
    * and serves the sketch alone — this query is the calibration run
    * that justifies doing so. */
  def uvApproxBounds(spark: SparkSession, dir: String): DataFrame =
    WindowOps.epochWindow(
      ev(spark, dir).filter(col("event_type") === "view")
        .select(col("ts"), col("user_id"))
        .groupBy(window(col("ts"), "1 day"))
        .agg(approx_count_distinct(col("user_id"), UvApproxRsd).as("uv_est"),
          countDistinct(col("user_id")).as("uv_exact")))
      .selectExpr("window_start", "window_end", "uv_exact",
        s"greatest(CAST(ceil(CAST(uv_exact AS DOUBLE) * $UvBoundsRel) AS BIGINT), ${UvBoundsFloor}L) AS bound_abs",
        s"abs(uv_est - uv_exact) <= greatest(CAST(ceil(CAST(uv_exact AS DOUBLE) * $UvBoundsRel) AS BIGINT), ${UvBoundsFloor}L) AS within")

  /** Gap-based sessionization: one row per (user, session) where a session
    * breaks after 2 h of inactivity — `session_window`, the third window
    * type (the reference has only tumbling/sliding). */
  def userSessions(spark: SparkSession, dir: String): DataFrame =
    WindowOps.epochWindow(
      WindowOps.sessionCount(
        ev(spark, dir).select(col("ts"), col("user_id")),
        col("ts"), "2 hours", col("user_id")))
      .select("user_id", "window_start", "window_end", "cnt")

  /** Per-type value statistics over the events stream table (count + exact
    * integer-cents sum + derived average — the sum/avg surface the
    * reference's count-only aggregations lack). Cents as BIGINT: the one
    * encoding whose external hash canonicalization is engine-agnostic (see
    * RelationalQueries header). */
  def eventValueStats(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        expr("SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))").as("sum_value_cents"),
        expr("CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*)").as("avg_value"))

  /** As-of join: each event annotated with the user's most recent signup
    * at-or-before it (point-in-time attribute lookup, the training-pipeline
    * join Spark lacks natively — JoinOps.asofJoin's union-and-carry plan). */
  def eventsAsofSignup(spark: SparkSession, dir: String): DataFrame = {
    val withSec = ev(spark, dir).withColumn("sec", col("ts").cast("long"))
    val e = withSec.select(col("event_id"), col("user_id"), col("ts"), col("sec"))
    val s = withSec.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_id"),
        col("sec").as("signup_sec"))
    graft.ops.JoinOps.asofJoin(e, s, "user_id", "ts", "ts",
        Seq("signup_id", "signup_sec"))
      .select("event_id", "user_id", "sec", "signup_id", "signup_sec")
  }

  /** View→purchase conversion funnel per marketing channel: distinct
    * viewers, distinct purchasers, and their ratio (exact integer counts →
    * one deterministic double division). */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
      .withColumn("channel", concat(lit("ch"), (col("user_id") % 4).cast("string")))
    val viewers = e.filter(col("event_type") === "view")
      .groupBy("channel").agg(count_distinct(col("user_id")).as("viewers"))
    val purchasers = e.filter(col("event_type") === "purchase")
      .groupBy("channel").agg(count_distinct(col("user_id")).as("purchasers"))
    viewers.join(purchasers, Seq("channel"), "left")
      .withColumn("purchasers", coalesce(col("purchasers"), lit(0L)))
      .withColumn("conversion",
        col("purchasers").cast("double") / col("viewers").cast("double"))
  }

  /** Multi-step funnel per user: first view, then the first click AFTER
    * that view, then the first purchase AFTER that click — step timestamps
    * and reached depth. Declarative sequence analytics (three conditional
    * min-aggregations, user-keyed — no NFA state, no per-user sort), the
    * N-step generalization of [[funnelConversion]]'s distinct-count ratio.
    * Absent steps are sentinel −1 (mixed null/typed columns hash poorly
    * across engines — same convention as the rollup subtotals). */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).withColumn("sec", col("ts").cast("long"))
      .select("user_id", "event_type", "sec")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("sec")).as("view_sec"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("sec") > col("view_sec"))
      .groupBy("user_id").agg(min(col("sec")).as("click_sec"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("sec") > col("click_sec"))
      .groupBy("user_id").agg(min(col("sec")).as("purchase_sec"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .selectExpr("user_id", "view_sec",
        "coalesce(click_sec, -1L) AS click_sec",
        "coalesce(purchase_sec, -1L) AS purchase_sec",
        "CASE WHEN purchase_sec IS NOT NULL THEN 3L WHEN click_sec IS NOT NULL THEN 2L ELSE 1L END AS depth")
  }

  /** Market-basket item co-occurrence: the top-20 item pairs by the number
    * of users who interacted with both. The per-user distinct item set is
    * collected as ONE sorted array (`collect_set` dedupes map-side inside
    * the single user-keyed aggregation) and ordered pairs are generated
    * inline from the array — no self-join, no window, no sort: TWO
    * exchanges total (user-keyed basket agg, pair-keyed count), which is
    * the 100 TB plan (the r4 self-join formulation duplicated a
    * distinct+sort+window subtree on both join sides — 5 exchanges).
    * Ties rank (cnt DESC, item_a, item_b) for a deterministic top-20.
    *
    * Skew guard: a single crawler/bot user with 10⁴ distinct items would
    * contribute 5×10⁷ pairs from ONE row — the classic basket-skew
    * detonation. Baskets larger than `maxItemsPerUser` fail fast with a
    * remediation message (same contract as `DedupOps.ngramJaccardPairs`),
    * BEFORE the pair explode, with zero extra plan cost (the size check
    * rides the already-aggregated array). */
  def itemPairs(spark: SparkSession, dir: String,
                maxItemsPerUser: Long = 2000L): DataFrame = {
    val baskets = ev(spark, dir)
      .withColumn("item", Tables.itemId)
      .filter(col("item").isNotNull)
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .filter(expr(
        s"""assert_true(size(items) <= ${maxItemsPerUser}L, concat(
           |'itemPairs: user ', CAST(user_id AS STRING), ' has ',
           |CAST(size(items) AS STRING),
           |' distinct items (cap $maxItemsPerUser); the basket pair fan-out
           | is quadratic per user — pre-cap baskets to top-M items or raise
           | maxItemsPerUser')) IS NULL""".stripMargin.replace("\n", "")))
    baskets
      // ascending array → x pairs with every later y, so item_a < item_b
      // by construction; slice clamps past the end. Two chained
      // GENERATORS (posexplode, then explode over a slice) instead of
      // nested transform lambdas: generators and slice stay inside
      // whole-stage codegen, where the lambda tree was interpreted
      // per basket — and no per-pair struct allocation
      .selectExpr("items", "posexplode(items) AS (i, item_a)")
      .selectExpr("item_a",
        "explode(slice(items, i + 2, size(items))) AS item_b")
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_users"))
      // distributed top-k (TakeOrderedAndProject), then rank only the 20
      // survivors — a global row_number window here would funnel every
      // pair count through one sort partition
      .orderBy(col("n_users").desc, col("item_a").asc, col("item_b").asc)
      .limit(20)
      .withColumn("rn", row_number().over(Window.orderBy(
        col("n_users").desc, col("item_a").asc, col("item_b").asc)).cast("long"))
  }

  /** Per-user event-type TRANSITION matrix — the first-order Markov view
    * of behavior (what users do NEXT after each action; the model behind
    * next-action prediction and funnel-drop diagnosis, complementing the
    * fixed-sequence [[funnelSteps]]): per user, events ordered by
    * (ts, event_id — (user, ts) is unique in this corpus, event_id pins
    * determinism anyway), each consecutive pair counted into a
    * |types|²-bounded cell frame with per-source totals and exact ppm
    * transition probabilities. Totals are WINDOW sums over the cell
    * frame (the nbConfusion discipline — a re-aggregation join would
    * re-plan the corpus chain per branch). One corpus-sized lead window
    * + one cell aggregation; everything after is |types|²-sized. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val cells = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_from", sum(col("n")).over(
        Window.partitionBy(col("from_type"))))
      .selectExpr("from_type", "to_type", "n", "n_from",
        "n * 1000000L div n_from AS p_ppm")
  }

  /** SECOND-order event-type transitions — the trigram-path view
    * ([[eventTransitions]] is first-order): per user, events ordered by
    * (ts, event_id); each consecutive TRIPLE (a → b → c) counted into a
    * |types|³-bounded cell frame keyed by the (a, b) context pair, with
    * per-context totals and exact ppm continuation probabilities. This
    * is the next-action model conditioned on the last TWO actions — the
    * view that separates "cart after view" from "cart after view-view"
    * loops a first-order matrix conflates. Both leads ride ONE window
    * sort (same partition/order spec → one Window node); totals are
    * WINDOW sums over the cell frame (the nbConfusion discipline).
    * Cost: one corpus lead window + one cell aggregation; everything
    * downstream is |types|³-sized. */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cells = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("mid_type", lead(col("event_type"), 1).over(w))
      .withColumn("to_type", lead(col("event_type"), 2).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("mid_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_ctx", sum(col("n")).over(
        Window.partitionBy(col("from_type"), col("mid_type"))))
      .selectExpr("from_type", "mid_type", "to_type", "n", "n_ctx",
        "n * 1000000L div n_ctx AS p_ppm")
  }

  /** Transition-distribution DRIFT monitor — [[eventTransitions]]'s
    * matrix compared between the reference user half (user_id % 2 = 0 —
    * the last-snapshot population) and the current half: per (from, to)
    * cell, counts and exact ppm shares of each half's total transition
    * mass with the absolute drift — the behavioral-mix gate a product
    * team reads next to kmeans_drift/quality_drift (embedding drift,
    * quality drift and BEHAVIOR drift catch different regressions).
    * Splitting by USER keeps every sequence intact in exactly one half,
    * so each half's matrix is a true transition distribution. ONE corpus
    * lead window + one cell aggregation with conditional half sums (the
    * qualityDrift pattern); the whole-frame totals are window sums over
    * the |types|²-row cell frame (bounded — the documented
    * dimension-frame sort). */
  def transitionDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(sum(expr("CASE WHEN user_id % 2 = 0 THEN 1L ELSE 0L END")).as("n_ref"),
        sum(expr("CASE WHEN user_id % 2 = 1 THEN 1L ELSE 0L END")).as("n_cur"))
    val tot = Window.partitionBy(lit(1))
    cells
      .withColumn("t_ref", sum(col("n_ref")).over(tot))
      .withColumn("t_cur", sum(col("n_cur")).over(tot))
      .selectExpr("from_type", "to_type", "n_ref", "n_cur",
        "n_ref * 1000000L div t_ref AS ref_ppm",
        "n_cur * 1000000L div t_cur AS cur_ppm",
        "abs(n_ref * 1000000L div t_ref - n_cur * 1000000L div t_cur) AS drift_ppm")
  }

  /** Next-event prediction LIFT — the evaluation that justifies keeping
    * the second-order model ([[eventPaths]]) next to the first-order
    * matrix ([[eventTransitions]]): both models are trained on the even
    * user half (argmax continuation per context, ties to the
    * lexicographically first type) and scored on the odd half's
    * consecutive triples — the bigram model predicts from the
    * immediately preceding event, the trigram model from the last two
    * with bigram BACKOFF for unseen contexts (standard n-gram backoff).
    * Output: one row per model with exact hit counts and ppm accuracy.
    * Splitting by USER keeps train sequences fully out of the test set
    * (the leakage-safe-split discipline).
    *
    * Cost: ONE corpus window pass (both leads, checkpointed so the
    * model and case branches read it once), two |types|²/³-bounded
    * model aggregations broadcast back, one corpus-sized case join +
    * one aggregation. */
  def pathLift(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("mid_type", lead(col("event_type"), 1).over(w))
      .withColumn("to_type", lead(col("event_type"), 2).over(w))
      .localCheckpoint()
    val bpred = base
      .filter(col("mid_type").isNotNull && expr("user_id % 2 = 0"))
      .groupBy(col("event_type").as("bf"), col("mid_type").as("bt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bf")).orderBy(col("n").desc, col("bt").asc)))
      .filter(col("rn") === 1).select(col("bf"), col("bt").as("bi_pred"))
    val tpred = base
      .filter(col("to_type").isNotNull && expr("user_id % 2 = 0"))
      .groupBy(col("event_type").as("tf"), col("mid_type").as("tm"),
        col("to_type").as("tt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tf"), col("tm")).orderBy(col("n").desc, col("tt").asc)))
      .filter(col("rn") === 1).select(col("tf"), col("tm"), col("tt").as("tri_pred0"))
    val cases = base
      .filter(col("to_type").isNotNull && expr("user_id % 2 = 1"))
      .select(col("event_type").as("f"), col("mid_type").as("m"), col("to_type").as("t"))
    cases
      .join(broadcast(bpred), cases("m") === bpred("bf"), "left")
      .join(broadcast(tpred), cases("f") === tpred("tf") && cases("m") === tpred("tm"), "left")
      .selectExpr("t", "bi_pred", "coalesce(tri_pred0, bi_pred) AS tri_pred")
      .agg(count(lit(1)).as("n_cases"),
        sum(expr("CASE WHEN bi_pred = t THEN 1L ELSE 0L END")).as("bi_hits"),
        sum(expr("CASE WHEN tri_pred = t THEN 1L ELSE 0L END")).as("tri_hits"))
      .selectExpr("stack(2, 'bigram', n_cases, bi_hits, 'trigram', n_cases, tri_hits)" +
        " AS (model, n_cases, n_hits)")
      .selectExpr("model", "n_cases", "n_hits",
        "n_hits * 1000000L div n_cases AS acc_ppm")
  }

  /** Held-out LOG-LOSS of the transition models in exact integer
    * micro-nats — [[pathLift]] scores top-1 accuracy; this scores the
    * full predictive distribution (the metric that actually orders
    * language models): per odd-half test triple (a, b, c), the
    * Laplace-smoothed probability the train-half model assigns the true
    * continuation — bigram `(n(b,c)+1)/(n(b)+V)`, trigram
    * `(n(a,b,c)+1)/(n(a,b)+V)`, V = distinct train event types —
    * quantized per case to micro-nats (the DSIR/NB `round(1e6·ln)` idiom:
    * exact-integer ratio in, one libm call, then EXACT BIGINT sums).
    * Unseen contexts fall back to the uniform 1/V smoothing mass
    * automatically (counts coalesce to 0). Lower mean loss = better
    * model; exp(mean/1e6) is the perplexity.
    *
    * Cost: the [[pathLift]] shape — one corpus window pass
    * (checkpointed), bounded model aggregations broadcast back, one
    * case join + one aggregation. */
  def pathPpl(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("mid_type", lead(col("event_type"), 1).over(w))
      .withColumn("to_type", lead(col("event_type"), 2).over(w))
      .localCheckpoint()
    val vT = base.filter(expr("user_id % 2 = 0"))
      .agg(countDistinct(col("event_type")).as("v"))
    val n2 = base.filter(col("mid_type").isNotNull && expr("user_id % 2 = 0"))
      .groupBy(col("event_type").as("b2"), col("mid_type").as("c2"))
      .agg(count(lit(1)).as("n2"))
    val n1 = n2.groupBy(col("b2").as("b1")).agg(sum(col("n2")).as("n1"))
    val n3 = base.filter(col("to_type").isNotNull && expr("user_id % 2 = 0"))
      .groupBy(col("event_type").as("a3"), col("mid_type").as("b3"),
        col("to_type").as("c3"))
      .agg(count(lit(1)).as("n3"))
    val nc = n3.groupBy(col("a3").as("ac"), col("b3").as("bc"))
      .agg(sum(col("n3")).as("nctx"))
    val cases = base.filter(col("to_type").isNotNull && expr("user_id % 2 = 1"))
      .select(col("event_type").as("a"), col("mid_type").as("b"), col("to_type").as("c"))
    def qloss(n: String, ctx: String) =
      s"-CAST(round(1000000.0 * ln(CAST(coalesce($n, 0L) + 1 AS DOUBLE)" +
        s" / CAST(coalesce($ctx, 0L) + v AS DOUBLE))) AS BIGINT)"
    cases
      .join(broadcast(n2), cases("b") === n2("b2") && cases("c") === n2("c2"), "left")
      .join(broadcast(n1), cases("b") === n1("b1"), "left")
      .join(broadcast(n3), cases("a") === n3("a3") && cases("b") === n3("b3")
        && cases("c") === n3("c3"), "left")
      .join(broadcast(nc), cases("a") === nc("ac") && cases("b") === nc("bc"), "left")
      .crossJoin(broadcast(vT))
      .selectExpr(s"${qloss("n2", "n1")} AS bi_loss", s"${qloss("n3", "nctx")} AS tri_loss")
      .agg(count(lit(1)).as("n_cases"), sum(col("bi_loss")).as("bi_total"),
        sum(col("tri_loss")).as("tri_total"))
      .selectExpr("stack(2, 'bigram', n_cases, bi_total, 'trigram', n_cases, tri_total)" +
        " AS (model, n_cases, loss_total_micro)")
      .selectExpr("model", "n_cases", "loss_total_micro",
        "loss_total_micro div n_cases AS loss_mean_micro")
  }

  /** The frozen trigram model as plain maps — (n3 triple counts, nctx
    * context totals, V distinct train types), all bounded by |types|³:
    * the model parameter the stateless surprisal scorer
    * ([[graft.streaming.Detectors.surprise]]) freezes into its closure
    * (the dsirModelArray discipline). Trained on the even user half —
    * the same split every model in the path family uses. */
  def pathModel(spark: SparkSession, dir: String)
      : (Map[(String, String, String), Long], Map[(String, String), Long], Long) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tri = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("mid_type", lead(col("event_type"), 1).over(w))
      .withColumn("to_type", lead(col("event_type"), 2).over(w))
      .filter(col("to_type").isNotNull && expr("user_id % 2 = 0"))
      .groupBy("event_type", "mid_type", "to_type").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getAs[Long]("n"))
      .toMap
    val nctx = tri.toSeq.groupBy { case ((a, b, _), _) => (a, b) }
      .view.mapValues(_.map(_._2).sum).toMap
    val v = ev(spark, dir).filter(expr("user_id % 2 = 0"))
      .select("event_type").distinct().count()
    (tri, nctx, v)
  }

  /** Behavioral ANOMALY monitor — the top-50 most surprising observed
    * transitions under the frozen trigram model: every consecutive
    * triple in the corpus (BOTH halves — production scores everything
    * that arrives) carries its Laplace log-loss in exact micro-nats
    * ([[pathPpl]]'s trigram statement), aggregated per distinct
    * (user, triple) with its occurrence count, ranked by (loss DESC,
    * then the full key ascending — a total order). Sequences a user
    * model has never seen rank first: the account-takeover /
    * bot-behavior review queue, next to [[volumeAnomalies]]' volume
    * gate. Cost: one corpus window pass + the broadcast model joins +
    * one aggregation; top-50 via orderBy+limit = TakeOrderedAndProject. */
  def pathAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("mid_type", lead(col("event_type"), 1).over(w))
      .withColumn("to_type", lead(col("event_type"), 2).over(w))
      .localCheckpoint()
    val vT = base.filter(expr("user_id % 2 = 0"))
      .agg(countDistinct(col("event_type")).as("v"))
    val n3 = base.filter(col("to_type").isNotNull && expr("user_id % 2 = 0"))
      .groupBy(col("event_type").as("a3"), col("mid_type").as("b3"),
        col("to_type").as("c3"))
      .agg(count(lit(1)).as("n3"))
    val nc = n3.groupBy(col("a3").as("ac"), col("b3").as("bc"))
      .agg(sum(col("n3")).as("nctx"))
    val cases = base.filter(col("to_type").isNotNull)
      .select(col("user_id"), col("event_type").as("f"), col("mid_type").as("m"),
        col("to_type").as("t"))
    cases
      .join(broadcast(n3), cases("f") === n3("a3") && cases("m") === n3("b3")
        && cases("t") === n3("c3"), "left")
      .join(broadcast(nc), cases("f") === nc("ac") && cases("m") === nc("bc"), "left")
      .crossJoin(broadcast(vT))
      .selectExpr("user_id", "f AS from_type", "m AS mid_type", "t AS to_type",
        "-CAST(round(1000000.0 * ln(CAST(coalesce(n3, 0L) + 1 AS DOUBLE)" +
          " / CAST(coalesce(nctx, 0L) + v AS DOUBLE))) AS BIGINT) AS loss_micro")
      .groupBy("user_id", "from_type", "mid_type", "to_type", "loss_micro")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("loss_micro").desc, col("user_id").asc, col("from_type").asc,
        col("mid_type").asc, col("to_type").asc)
      .limit(50)
  }

  /** Key-distribution skew profile for a join/aggregation key (user_id
    * here): the top-10 heaviest keys with their parts-per-million share,
    * plus global row/key totals — the pre-flight diagnostic that decides
    * whether a key needs `SkewOps` salting or AQE skew handling before a
    * 100 TB shuffle. One aggregation + distributed top-k + a broadcast
    * single-row totals join; share is integer ppm (cnt × 1e6 div total). */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val freq = ev(spark, dir).groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val totals = freq.agg(sum(col("cnt")).as("total_rows"),
      count(lit(1)).as("n_keys"))
    freq.orderBy(col("cnt").desc, col("user_id").asc).limit(10)
      .withColumn("rn", row_number().over(Window.orderBy(
        col("cnt").desc, col("user_id").asc)).cast("long"))
      .crossJoin(broadcast(totals))
      .selectExpr("user_id", "cnt", "rn", "total_rows", "n_keys",
        "cnt * 1000000L div total_rows AS share_ppm")
  }

  /** Weekly retention cohorts: users grouped by the epoch-week of their
    * first event; for each (cohort, weeks-since-cohort) cell, how many of
    * the cohort's users were active — the standard retention triangle.
    * Two keyed aggregations (first-week per user, distinct active weeks)
    * and one count: no windows, no self-join explosion. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val weeks = ev(spark, dir)
      .selectExpr("user_id", "ts", "CAST(ts AS LONG) div 86400 div 7 AS week")
    val cohort = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val active = weeks.select("user_id", "week").distinct()
    active.join(cohort, "user_id")
      .selectExpr("cohort_week", "week - cohort_week AS week_offset", "user_id")
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("active_users"))
  }

  /** Hourly volume anomalies per event type: an hour is anomalous when its
    * count exceeds 2× the average of the trailing 24 OBSERVED hours (rows,
    * not wall hours — empty hours produce no row) with at least 12 of them
    * present. The comparison is cross-multiplied into pure integers
    * (cnt × n > 2 × sum) — no floating threshold, engine-exact. One
    * aggregation plus one bounded window frame per type (types are few;
    * at scale the frame is per (type, day-partition) anyway since the
    * trailing horizon never crosses 24 rows). */
  def volumeAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val hourly = ev(spark, dir)
      .selectExpr("event_type", "CAST(ts AS LONG) div 3600 AS hour")
      .groupBy("event_type", "hour").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour").asc)
      .rowsBetween(-24, -1)
    hourly
      .withColumn("trail_sum", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("trail_n", count(lit(1)).over(w))
      .selectExpr("event_type", "hour", "cnt", "trail_sum", "trail_n",
        "trail_n >= 12 AND cnt * trail_n > 2 * trail_sum AS anomalous")
  }

  /** Item importance from user navigation paths: consecutive-item edges
    * per user (time order) feed 3 rounds of exact integer PageRank
    * ([[graft.ops.ClusterOps.pagerankFixed]] — 1e-6 rank units, floored
    * division, bit-deterministic across engines and cluster sizes). */
  def itemPagerank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec").asc, col("event_id").asc)
    val e = ev(spark, dir)
      .withColumn("sec", col("ts").cast("long"))
      .withColumn("item", Tables.itemId)
      .filter(col("item").isNotNull)
    val edges = e
      .withColumn("dst", lead(col("item"), 1).over(w))
      .filter(col("dst").isNotNull && col("item") =!= col("dst"))
      .select(col("item").as("src"), col("dst"))
    graft.ops.ClusterOps.pagerankFixed(edges, 3)
      .select(col("id").as("item_id"), col("rank"))
  }

  /** Per-user running analytics: cumulative event count and seconds since
    * the previous event (running-frame window aggregation + lag). */
  def userRunningStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec").asc, col("event_id").asc)
    ev(spark, dir)
      .withColumn("sec", col("ts").cast("long"))
      .withColumn("running_cnt",
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gap_sec", col("sec") - lag(col("sec"), 1).over(w))
      .select("event_id", "user_id", "sec", "running_cnt", "gap_sec")
  }

  /** Time-dimension profile: activity by (day-of-week, hour-of-day) — the
    * calendar-function surface (UTC session ⇒ engine-agnostic parts). */
  def activityByHour(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .selectExpr("CAST(dayofweek(ts) AS BIGINT) AS dow",
        "CAST(hour(ts) AS BIGINT) AS hod")
      .groupBy("dow", "hod").agg(count(lit(1)).as("cnt"))

  /** Typed JSON parse of `props` via from_json with a declared schema (the
    * schema-on-read path for semi-structured columns; get_json_object
    * covers the ad-hoc path elsewhere). */
  def propsParsed(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .selectExpr("event_id", "from_json(props, 'k BIGINT') AS p")
      .selectExpr("event_id", "p.k AS k")

  /** Dimension enrichment: events joined to the customer dim (broadcast —
    * the stream-static join shape; streaming twin in StreamingJobs). */
  def eventsEnriched(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))),
        col("c_custkey") === col("user_id") + 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment").as("segment"), col("c_nationkey").cast("long").as("nation"))

  /** Discrete percentiles of `value` per event type. Two modes, mirroring
    * the A5 exact/HLL pattern (plans/ApproxDistinctRewrite):
    *
    *  - default: `approx_percentile` with accuracy 10⁴ (rank error ≤ n/10⁴
    *    per group) — a partial-aggregable KLL-style sketch, ONE map-side-
    *    combined shuffle, no sort. This is the only shape that survives
    *    100 TB: the exact form funnels the whole table through one sort
    *    partition per event type (5 here).
    *  - `spark.graft.exactPercentiles=true` (set by graft.Verify): the
    *    rank-based exact value at row ceil(p·n) in value order —
    *    deterministic and engine-agnostic, used as the DuckDB-oracle
    *    parity mode. */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame = {
    val exact =
      spark.conf.getOption("spark.graft.exactPercentiles").exists(_.toBoolean)
    if (exact)
      ev(spark, dir)
        .selectExpr("event_type", "value", "event_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("value").asc, col("event_id").asc)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .groupBy("event_type")
        .agg(
          expr("max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END)").as("p50"),
          expr("max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END)").as("p90"),
          expr("max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END)").as("p99"))
    else
      ev(spark, dir)
        .groupBy("event_type")
        .agg(
          expr("approx_percentile(value, 0.5, 10000)").as("p50"),
          expr("approx_percentile(value, 0.9, 10000)").as("p90"),
          expr("approx_percentile(value, 0.99, 10000)").as("p99"))
  }

  /** Declared GK accuracy of [[valuePercentileBounds]] (rank error
    * ≤ n/accuracy) and the probed percentiles — shared with the oracle
    * restatement. 100 is the honest AT-SCALE setting (the fixed-size
    * sketch an aggregation server actually runs); `value_percentiles`'
    * 10000 happens to be exact on this data, which gates the VALUES but
    * says nothing about the sketch's operating envelope. */
  val PctAccuracy = 100
  val PctPs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** The percentile-sketch BOUNDS gate — the [[uvApproxBounds]] pattern
    * applied to the second sketch family: per event_type and percentile
    * p, `approx_percentile` (Greenwald–Khanna, declared accuracy
    * [[PctAccuracy]]) returns an actual data element v; the gated row
    * asserts v's RANK RANGE honors the declared envelope. Rank range,
    * not point rank, because ties matter: with r_lt = |values < v| and
    * r_le = |values ≤ v| (exact integer counts over cents), v is a
    * valid answer iff [r_lt+1, r_le] intersects
    * [⌈p·n⌉ − bound, ⌈p·n⌉ + bound], with bound = ⌈2n/accuracy⌉ + 1 —
    * 2× the nominal GK guarantee εn plus one, the same operating-
    * envelope discipline as the UV gate (measured margin asserted
    * tighter in the spec). DuckDB restates (event_type, n, p, bound)
    * arithmetically and asserts `within` is literally TRUE; the sketch
    * value itself stays out of the gated row (engine-specific). Values
    * ride as exact DECIMAL(12,2) cents so the rank counts are integer-
    * exact in both engines. Cost: one corpus agg for the sketches + one
    * broadcast-join rank pass — no sort, no window over the corpus. */
  def valuePercentileBounds(spark: SparkSession, dir: String): DataFrame = {
    val psArr = PctPs.map(p => s"${p}D").mkString("array(", ", ", ")")
    val cents = ev(spark, dir).selectExpr("event_type",
      "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents")
    val appx = cents.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        expr(s"approx_percentile(cents, $psArr, $PctAccuracy)").as("vs"))
      .selectExpr("event_type", "n", "posexplode(vs) AS (i, v)")
      .selectExpr("event_type", "n", s"element_at($psArr, i + 1) AS p", "v")
    val bound = s"CAST(ceil(CAST(2 * n AS DOUBLE) / CAST($PctAccuracy AS DOUBLE)) AS BIGINT) + 1L"
    val target = "CAST(ceil(p * CAST(n AS DOUBLE)) AS BIGINT)"
    appx.join(cents, "event_type")
      .groupBy("event_type", "n", "p", "v")
      .agg(sum(when(col("cents") < col("v"), 1L).otherwise(0L)).as("r_lt"),
        sum(when(col("cents") <= col("v"), 1L).otherwise(0L)).as("r_le"))
      .selectExpr("event_type", "n", "p", s"$bound AS bound_rank",
        s"r_lt + 1L <= $target + ($bound) AND r_le >= $target - ($bound) AS within")
  }

  /** A6 AppMarketingByChannel: sliding 1h/15m count per (channel, behavior),
    * uninstall-filter analogue (F4) = drop errors; windowEnd also formatted
    * as 'yyyy-MM-dd HH:mm:ss' (P6, AppMarketingByChannel.java:136-137). */
  def marketChannel(spark: SparkSession, dir: String): DataFrame = {
    val m = ev(spark, dir)
      .filter(col("event_type") =!= "error")
      .select(concat(lit("ch"), (col("user_id") % 4).cast("string")).as("channel"),
        col("event_type").as("behavior"), col("ts"))
    WindowOps.epochWindow(
        WindowOps.slidingCount(m, col("ts"), "1 hour", "15 minutes",
          col("channel"), col("behavior")))
      .withColumn("window_time",
        date_format(to_timestamp(col("window_end")), "yyyy-MM-dd HH:mm:ss"))
      .select("window_start", "window_end", "window_time", "channel", "behavior", "cnt")
  }

  /** A7 AppMarketingStatistics: sliding 1h/15m global count (constant-key
    * P5 collapses to a keyless window groupBy). */
  def marketTotal(spark: SparkSession, dir: String): DataFrame =
    WindowOps.epochWindow(
      WindowOps.slidingCount(
        ev(spark, dir).filter(col("event_type") =!= "error").select("ts"),
        col("ts"), "1 hour", "15 minutes"))
      .select("window_start", "window_end", "cnt")

  /** A8 AdStatisticsByProvince: sliding 1h/15m click count per province
    * ('p' || props.k % 10). */
  def adProvince(spark: SparkSession, dir: String): DataFrame = {
    val clicks = ev(spark, dir)
      .filter(col("event_type") === "click")
      .select(concat(lit("p"), (Tables.itemId % 10).cast("string")).as("province"), col("ts"))
    WindowOps.epochWindow(
        WindowOps.slidingCount(clicks, col("ts"), "1 hour", "15 minutes",
          col("province")))
      .select("window_start", "window_end", "province", "cnt")
  }
}
