package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cep.Cep
import graft.ops.{JoinOps, StatefulOps}
import graft.sources.Tables

/**
 * The reference's detector/join jobs (SURVEY.md §2.3 F6, §2.7 J1-J2,
 * §2.8 C1-C5) over the `events` table. Stream mapping: login-fail = error
 * events per user; order create/pay = view/purchase per user; pay/receipt
 * reconciliation = purchase/click per user.
 */
object DetectQueries {

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("sec", col("ts").cast("long"))

  /** C2 LoginFail (immediate variant, n=2 within 30 min): adjacent error
    * events per user. Reference: LoginFail.java:145-196. */
  def loginFail(spark: SparkSession, dir: String): DataFrame =
    Cep.adjacentHits(ev(spark, dir), col("user_id"), col("sec"),
        col("event_id"), col("event_type") === "error", 1800)
      .select(col("key").as("user_id"), col("first_id"), col("last_id"),
        col("first_ts").as("first_fail"), col("last_ts").as("last_fail"),
        concat(lit("login fail 2 times in 1800s")).as("warning"))

  /** C3 LoginFailWithCEP (times(3).consecutive().within(1 day) — horizon
    * scaled to the events table's per-user event density).
    * Reference: LoginFailWithCEP.java:62-68. */
  def loginFailCep(spark: SparkSession, dir: String): DataFrame =
    Cep.consecutiveHits(ev(spark, dir), col("user_id"), col("sec"),
        col("event_id"), col("event_type") === "error", 3, 86400)
      .select(col("key").as("user_id"), col("first_id"), col("last_id"),
        col("first_ts").as("first_fail"), col("last_ts").as("last_fail"),
        col("n_hits"))

  /** Composable-pattern query (cep/PatternDetector): two CONSECUTIVE error
    * events followed (relaxed) by the next non-error event, all within 2
    * days — the "failed twice then recovered" sequence. Each adjacent error
    * pair emits at its first completing event (no-skip overlap). */
  def loginFailThenOk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.cep.PatternDetector.{PatternSpec, Stage}
    val keyed = ev(spark, dir)
      .select(col("user_id").as("key"), col("sec").as("tsSec"),
        col("event_id").as("id"), (col("event_type") === "error").as("hit"))
      .as[graft.streaming.Detectors.KeyedEvent]
    graft.cep.PatternDetector.detect(keyed,
        PatternSpec(Seq(Stage(_.hit, times = 2, consecutive = true),
          Stage(e => !e.hit)), withinSec = 172800),
        streaming = false)
      .select(col("key").as("user_id"), col("first_id"), col("last_id"),
        col("first_ts"), col("last_ts"), col("n_events"))
  }

  /** C4/C5 OrderTimeout: each view ("create") is matched if the same user
    * purchases ("pays") within 1 h, else timeout.
    * Reference: OrderTimeout.java:52-96, OrderTimeoutWithoutCEP.java:68-161. */
  def orderTimeout(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val creates = e.filter(col("event_type") === "view")
      .select(col("event_id").as("create_id"), col("user_id"),
        col("sec").as("create_sec"))
    val pays = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("sec").as("pay_sec"))
    JoinOps.followedByWithin(creates, pays,
        col("user_id") === col("p_user"), col("create_sec"), col("pay_sec"),
        3600, "payed", "timeout")
      .select("create_id", "user_id", "create_sec", "status")
  }

  /** C5 FULL taxonomy: per user, the FIRST view ("create") against the
    * FIRST purchase ("pay") with a 15-min deadline — all four outcomes of
    * the reference's non-CEP monitor (payed successfully / payed but
    * already timeout / already payed but not found created log / order pay
    * timeout). Reference: OrderTimeoutWithoutCEP.java:91-160. */
  def orderTimeoutFull(spark: SparkSession, dir: String): DataFrame = {
    // "order id" twin: (user, item) pairs — sparse enough that every
    // outcome (incl. pay-without-create and create-without-pay) occurs
    val e = ev(spark, dir)
      .withColumn("key", col("user_id") * 100 + Tables.itemId % 100)
    val w = Window.partitionBy(col("key")).orderBy(col("sec"), col("event_id"))
    def first(eventType: String, idAs: String, tsAs: String): DataFrame =
      e.filter(col("event_type") === eventType)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("key"), col("event_id").as(idAs), col("sec").as(tsAs))
    JoinOps.followedByFullStatus(
        first("view", "create_id", "create_sec"),
        first("purchase", "pay_id", "pay_sec"),
        "key", "create_sec", "pay_sec", 900,
        "payed successfully", "payed but already timeout",
        "already payed but not found created log", "order pay timeout")
      .select(col("key"),
        coalesce(col("create_id"), lit(-1L)).as("create_id"),
        coalesce(col("create_sec"), lit(-1L)).as("create_sec"),
        coalesce(col("pay_id"), lit(-1L)).as("pay_id"),
        coalesce(col("pay_sec"), lit(-1L)).as("pay_sec"),
        col("status"))
  }

  /** J2 TxPayMatchByJoin: interval join purchase("pay") ⋈ click("receipt")
    * per user, receipt within ±30 min of the pay.
    * Reference: TxPayMatchByJoin.java:63-67 (between(-3s, +5s)). */
  def txMatch(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val pays = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pay_id"), col("user_id"), col("sec").as("pay_sec"))
    val receipts = e.filter(col("event_type") === "click")
      .select(col("event_id").as("receipt_id"), col("user_id").as("r_user"),
        col("sec").as("receipt_sec"))
    JoinOps.intervalJoin(pays, receipts, col("user_id") === col("r_user"),
        col("pay_sec"), col("receipt_sec"), -1800, 1800)
      .select("pay_id", "receipt_id", "user_id", "pay_sec", "receipt_sec")
  }

  /** J1 TxPayMatch side-outputs: pays with no receipt in the band and
    * receipts with no pay, tagged. Reference: TxPayMatch.java:147-168. */
  def txUnmatched(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val pays = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("sec"))
    val receipts = e.filter(col("event_type") === "click")
      .select(col("event_id").as("r_event_id"), col("user_id").as("r_user"),
        col("sec").as("r_sec"))
    JoinOps.unmatched(pays, receipts, col("user_id") === col("r_user"),
      col("sec"), col("r_sec"), -1800, 1800,
      "unmatched_pay", "unmatched_receipt",
      Seq(col("event_id"), col("user_id"), col("sec")),
      Seq(col("r_event_id").as("event_id"), col("r_user").as("user_id"),
        col("r_sec").as("sec")))
  }

  private def clicks(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), Tables.itemId.mod(2).as("ad_id"), col("sec"))

  /** F6 blacklist filter, pass-through side: first 2 clicks per
    * (user, ad, event-time day) survive.
    * Reference: AdStatisticsByProvinceWithoutBlacklist.java:117-179. */
  def adBlacklistKept(spark: SparkSession, dir: String): DataFrame =
    StatefulOps.blacklistKept(clicks(spark, dir), col("sec"), col("event_id"),
        2, col("user_id"), col("ad_id"))
      .select("event_id", "user_id", "ad_id", "day_start", "rn")

  /** F6 warning side-output: one row per (user, ad, day) over threshold. */
  def adBlacklistWarnings(spark: SparkSession, dir: String): DataFrame =
    StatefulOps.blacklistWarnings(clicks(spark, dir), col("sec"),
        2, col("user_id"), col("ad_id"))
      .select("user_id", "ad_id", "day_start", "click_cnt", "warning")
}

object DetectOracles {
  private val evt =
    "SELECT event_id, user_id, event_type, (epoch_us(ts) // 1000000) AS sec, " +
      "CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id FROM events"

  val loginFail: String =
    s"""WITH e AS ($evt),
       |l AS (
       |  SELECT user_id, event_id, sec, event_type = 'error' AS hit,
       |         lag(event_type = 'error') OVER w AS ph,
       |         lag(sec) OVER w AS psec, lag(event_id) OVER w AS pid
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
       |)
       |SELECT user_id, pid AS first_id, event_id AS last_id,
       |       psec AS first_fail, sec AS last_fail,
       |       'login fail 2 times in 1800s' AS warning
       |FROM l WHERE hit AND ph AND sec - psec <= 1800""".stripMargin

  val loginFailCep: String =
    s"""WITH e AS ($evt),
       |l AS (
       |  SELECT user_id, event_id, sec, event_type = 'error' AS hit,
       |         lag(event_type = 'error', 1) OVER w AS h1,
       |         lag(event_type = 'error', 2) OVER w AS h2,
       |         lag(sec, 2) OVER w AS sec2, lag(event_id, 2) OVER w AS id2
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
       |)
       |SELECT user_id, id2 AS first_id, event_id AS last_id,
       |       sec2 AS first_fail, sec AS last_fail, CAST(3 AS BIGINT) AS n_hits
       |FROM l WHERE hit AND h1 AND h2 AND sec - sec2 <= 86400""".stripMargin

  val orderTimeout: String =
    s"""WITH e AS ($evt),
       |c AS (SELECT event_id AS create_id, user_id, sec AS create_sec FROM e WHERE event_type = 'view'),
       |p AS (SELECT user_id, sec FROM e WHERE event_type = 'purchase')
       |SELECT create_id, user_id, create_sec,
       |  CASE WHEN EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
       |    AND p.sec > c.create_sec AND p.sec <= c.create_sec + 3600)
       |  THEN 'payed' ELSE 'timeout' END AS status
       |FROM c""".stripMargin

  val orderTimeoutFull: String =
    s"""WITH e AS (SELECT *, user_id * 100 + item_id % 100 AS key FROM ($evt)),
       |c AS (SELECT key, event_id AS create_id, sec AS create_sec,
       |             row_number() OVER (PARTITION BY key ORDER BY sec, event_id) AS rn
       |      FROM e WHERE event_type = 'view'),
       |p AS (SELECT key, event_id AS pay_id, sec AS pay_sec,
       |             row_number() OVER (PARTITION BY key ORDER BY sec, event_id) AS rn
       |      FROM e WHERE event_type = 'purchase'),
       |c1 AS (SELECT key, create_id, create_sec FROM c WHERE rn = 1),
       |p1 AS (SELECT key, pay_id, pay_sec FROM p WHERE rn = 1)
       |SELECT key,
       |  COALESCE(create_id, CAST(-1 AS BIGINT)) AS create_id,
       |  COALESCE(create_sec, CAST(-1 AS BIGINT)) AS create_sec,
       |  COALESCE(pay_id, CAST(-1 AS BIGINT)) AS pay_id,
       |  COALESCE(pay_sec, CAST(-1 AS BIGINT)) AS pay_sec,
       |  CASE WHEN create_sec IS NULL THEN 'already payed but not found created log'
       |       WHEN pay_sec IS NULL THEN 'order pay timeout'
       |       WHEN pay_sec < create_sec + 900 THEN 'payed successfully'
       |       ELSE 'payed but already timeout' END AS status
       |FROM c1 FULL OUTER JOIN p1 USING (key)""".stripMargin

  val txMatch: String =
    s"""WITH e AS ($evt),
       |p AS (SELECT event_id AS pay_id, user_id, sec AS pay_sec FROM e WHERE event_type = 'purchase'),
       |r AS (SELECT event_id AS receipt_id, user_id, sec AS receipt_sec FROM e WHERE event_type = 'click')
       |SELECT pay_id, receipt_id, p.user_id, pay_sec, receipt_sec
       |FROM p JOIN r ON p.user_id = r.user_id
       |  AND receipt_sec >= pay_sec - 1800 AND receipt_sec <= pay_sec + 1800""".stripMargin

  val txUnmatched: String =
    s"""WITH e AS ($evt),
       |p AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'purchase'),
       |r AS (SELECT event_id, user_id, sec FROM e WHERE event_type = 'click')
       |SELECT 'unmatched_pay' AS tag, event_id, user_id, sec FROM p
       |WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.user_id = p.user_id
       |  AND r.sec >= p.sec - 1800 AND r.sec <= p.sec + 1800)
       |UNION ALL
       |SELECT 'unmatched_receipt' AS tag, event_id, user_id, sec FROM r
       |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = r.user_id
       |  AND r.sec >= p.sec - 1800 AND r.sec <= p.sec + 1800)""".stripMargin

  private val clicks =
    s"""SELECT event_id, user_id, item_id % 2 AS ad_id, sec,
       |  sec // 86400 * 86400 AS day_start
       |FROM ($evt) WHERE event_type = 'click'""".stripMargin

  val adBlacklistKept: String =
    s"""WITH c AS ($clicks),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY user_id, ad_id, day_start ORDER BY sec, event_id) AS rn
       |  FROM c
       |)
       |SELECT event_id, user_id, ad_id, day_start, rn FROM ranked WHERE rn <= 2""".stripMargin

  val adBlacklistWarnings: String =
    s"""WITH c AS ($clicks)
       |SELECT user_id, ad_id, day_start, count(*) AS click_cnt,
       |       'click over 2 times today' AS warning
       |FROM c GROUP BY user_id, ad_id, day_start
       |HAVING count(*) > 2""".stripMargin

  /** Pattern-NFA restatement: adjacent error pairs (stage 1, consecutive)
    * each matched to their FIRST later non-error event within the horizon
    * (stage 2, relaxed) — overlap per pair, like the NFA's no-skip. */
  val loginFailThenOk: String =
    s"""WITH e AS (SELECT user_id, event_id, (epoch_us(ts) // 1000000) AS sec,
       |                  event_type = 'error' AS hit FROM events),
       |l AS (
       |  SELECT user_id, event_id, sec, hit,
       |         lag(hit) OVER w AS ph, lag(sec) OVER w AS psec, lag(event_id) OVER w AS pid
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
       |),
       |pairs AS (
       |  SELECT user_id, pid AS first_id, psec AS first_sec,
       |         event_id AS second_id, sec AS second_sec
       |  FROM l WHERE hit AND ph AND sec - psec <= 172800
       |),
       |m AS (
       |  SELECT p.user_id, p.first_id, p.first_sec, b.event_id AS ok_id, b.sec AS ok_sec,
       |         row_number() OVER (PARTITION BY p.user_id, p.first_id, p.second_id
       |                            ORDER BY b.sec, b.event_id) AS rn
       |  FROM pairs p JOIN e b ON b.user_id = p.user_id AND NOT b.hit
       |    AND (b.sec > p.second_sec OR (b.sec = p.second_sec AND b.event_id > p.second_id))
       |    AND b.sec - p.first_sec <= 172800
       |)
       |SELECT user_id, first_id, ok_id AS last_id, first_sec AS first_ts,
       |       ok_sec AS last_ts, CAST(3 AS BIGINT) AS n_events
       |FROM m WHERE rn = 1""".stripMargin

  val all: Map[String, String] = Map(
    "login_fail_then_ok"     -> loginFailThenOk,
    "login_fail"             -> loginFail,
    "login_fail_cep"         -> loginFailCep,
    "order_timeout"          -> orderTimeout,
    "order_timeout_full"     -> orderTimeoutFull,
    "tx_match"               -> txMatch,
    "tx_unmatched"           -> txUnmatched,
    "ad_blacklist_kept"      -> adBlacklistKept,
    "ad_blacklist_warnings"  -> adBlacklistWarnings,
  )
}
