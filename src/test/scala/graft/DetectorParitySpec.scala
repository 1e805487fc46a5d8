package graft

import scala.reflect.runtime.universe.TypeTag
import scala.util.Random

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cep.PatternDetector
import graft.cep.PatternDetector.{PatternSpec, Stage}
import graft.ops.{JoinOps, StatefulOps}
import graft.streaming.Detectors
import graft.streaming.Detectors._

/** The quiet-key case: a detector's state for a key is removed once the
  * key's buffer drains and nothing else is left, so state does not grow
  * with the number of keys ever seen. */
trait QuietKeyCases { this: SparkSpec =>

  /** Feed one event for a quiet key, then a far-future sentinel key that
    * carries the watermark past every deadline (and past end of day), then
    * one more trigger so the quiet key's timer fires with no new data. */
  protected def quietKeyDropsState[E <: Product : TypeTag](name: String, quiet: E,
      sentinel: Long => E)(detector: Dataset[E] => Dataset[_]): Unit =
    test(s"$name detector removes state rows for keys that go quiet") {
      import spark.implicits._
      val input = MemoryStream[E](21, spark, None)
      val withWm = input.toDS()
        .withColumn("ts", timestamp_seconds(col("tsSec")))
        .withWatermark("ts", "60 seconds")
        .as[E]
      val q = detector(withWm)
        .writeStream.format("memory").queryName(s"quiet_$name").outputMode("append").start()
      try {
        input.addData(quiet)
        q.processAllAvailable()
        input.addData(sentinel(100000L))
        q.processAllAvailable()
        input.addData(sentinel(100001L))
        q.processAllAvailable()
        // only the sentinel key's buffered events remain as state
        assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 1L)
      } finally q.stop()
    }

  protected val quietHit = KeyedEvent(1L, 1000L, 1L, hit = true)
  protected def keyedSentinel(ts: Long) = KeyedEvent(99L, ts, ts, hit = false)

  protected def consecutiveGoesQuiet(): Unit =
    quietKeyDropsState("consecutive", quietHit, keyedSentinel)(
      Detectors.consecutive(_, 3, 100, streaming = true))

  protected def reconcileGoesQuiet(): Unit =
    quietKeyDropsState("reconcile", TxEvent(1L, 1000L, 1L, hit = true),
      ts => TxEvent(99L, ts, ts, hit = true))(
      Detectors.reconcile(_, 5, 3, streaming = true))
}

/** Parity of the followed-by (order timeout), blacklist, and reconcile
  * streaming detectors against their declarative batch formulations. */
class DetectorParitySpec extends SparkSpec with QuietKeyCases {
  import spark.implicits._

  private val rnd = new Random(7)

  test("followedBy batch-mode matches semi/anti-join formulation") {
    val evs = (0 until 300).map { i =>
      KeyedEvent(rnd.nextInt(4).toLong, 1000L + rnd.nextInt(1000), i.toLong,
        hit = rnd.nextDouble() < 0.5)
    }
    val df = evs.toDF()
    val a = df.filter(col("hit")).select(col("key"), col("tsSec").as("a_ts"),
      col("id").as("a_id"))
    val b = df.filter(!col("hit")).select(col("key").as("kb"), col("tsSec").as("b_ts"))
    val expected = JoinOps.followedByWithin(a, b, col("key") === col("kb"),
        col("a_ts"), col("b_ts"), 200, "matched", "timeout")
      .select(col("key"), col("a_id"), col("a_ts"), col("status"))
      .as[FollowResult].collect().toSet
    val got = Detectors.followedBy(evs.toDS(), withinSec = 200,
      matchedTag = "matched", timeoutTag = "timeout", streaming = false)
      .collect().toSet
    assert(got == expected)
    assert(got.exists(_.status == "matched") && got.exists(_.status == "timeout"))
  }

  test("followedBy streaming with out-of-order arrival matches batch") {
    val evs = (0 until 200).map { i =>
      KeyedEvent(rnd.nextInt(3).toLong, 1000L + rnd.nextInt(800), i.toLong,
        hit = rnd.nextDouble() < 0.5)
    }
    val expected = Detectors.followedBy(evs.toDS(), 150, "m", "t",
      streaming = false).collect().toSet
    val input = MemoryStream[KeyedEvent](2, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "50 seconds")
      .as[KeyedEvent]
    val q = Detectors.followedBy(withWm, 150, "m", "t", streaming = true)
      .writeStream.format("memory").queryName("fb_out").outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 40L)(_.tsSec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      input.addData(KeyedEvent(99L, 100000L, 9999L, hit = false))
      q.processAllAvailable()
      val got = spark.table("fb_out").as[FollowResult].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  private def fullEvs: Seq[KeyedEvent] = (0 until 60).flatMap { k =>
    val a = if (rnd.nextDouble() < 0.75)
      Seq(KeyedEvent(k.toLong, 1000L + rnd.nextInt(400), k * 2L, hit = true)) else Nil
    val b = if (rnd.nextDouble() < 0.75)
      Seq(KeyedEvent(k.toLong, 1000L + rnd.nextInt(400), k * 2L + 1, hit = false)) else Nil
    a ++ b
  }

  test("followedByFull batch matches the full-outer taxonomy join") {
    val evs = fullEvs
    val df = evs.toDF()
    val a = df.filter(col("hit"))
      .select(col("key"), col("id").as("a_id"), col("tsSec").as("a_ts"))
    val b = df.filter(!col("hit"))
      .select(col("key"), col("id").as("b_id"), col("tsSec").as("b_ts"))
    val expected = JoinOps.followedByFullStatus(a, b, "key", "a_ts", "b_ts",
        150, "ok", "late", "orphan", "timeout")
      .select(col("key"),
        coalesce(col("a_id"), lit(-1L)).as("a_id"),
        coalesce(col("a_ts"), lit(-1L)).as("a_ts"),
        coalesce(col("b_id"), lit(-1L)).as("b_id"),
        coalesce(col("b_ts"), lit(-1L)).as("b_ts"), col("status"))
      .as[FullResult].collect().toSet
    val got = Detectors.followedByFull(evs.toDS(), 150, "ok", "late",
      "orphan", "timeout", streaming = false).collect().toSet
    assert(got == expected)
    assert(Set("ok", "late", "orphan", "timeout").subsetOf(got.map(_.status)))
  }

  test("followedByFull streaming matches batch when events buffer to the watermark") {
    val evs = fullEvs
    val expected = Detectors.followedByFull(evs.toDS(), 150, "ok", "late",
      "orphan", "timeout", streaming = false).collect().toSet
    val input = MemoryStream[KeyedEvent](7, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "500 seconds")
      .as[KeyedEvent]
    val q = Detectors.followedByFull(withWm, 150, "ok", "late", "orphan",
        "timeout", streaming = true)
      .writeStream.format("memory").queryName("fbf_out").outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 100L)(_.tsSec)
        .foreach { batch => input.addData(batch); q.processAllAvailable() }
      input.addData(KeyedEvent(999L, 100000L, 9999L, hit = false))
      q.processAllAvailable()
      val got = spark.table("fbf_out").as[FullResult].collect().toSet
      assert(got.filterNot(_.key == 999L) == expected)
    } finally q.stop()
  }

  test("blacklist batch-mode matches the rank formulation") {
    val evs = (0 until 300).map { i =>
      BlEvent(rnd.nextInt(3).toLong, rnd.nextInt(2).toLong,
        86400L * rnd.nextInt(3) + rnd.nextInt(86400), i.toLong)
    }
    val df = evs.toDF().withColumnRenamed("user", "user_id")
      .withColumnRenamed("ad", "ad_id").withColumnRenamed("id", "event_id")
    val expKept = StatefulOps.blacklistKept(df, col("tsSec"), col("event_id"), 3,
        col("user_id"), col("ad_id"))
      .select("event_id", "user_id", "ad_id", "day_start", "rn")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expWarnKeys = StatefulOps.blacklistWarnings(df, col("tsSec"), 3,
        col("user_id"), col("ad_id"))
      .select("user_id", "ad_id", "day_start").as[(Long, Long, Long)].collect().toSet
    val got = Detectors.blacklist(evs.toDS(), threshold = 3, streaming = false).collect()
    val gotKept = got.filter(_.tag == "kept")
      .map(o => (o.event_id, o.user_id, o.ad_id, o.day_start, o.seq)).toSet
    val gotWarn = got.filter(_.tag == "warning")
      .map(o => (o.user_id, o.ad_id, o.day_start)).toSet
    assert(gotKept == expKept)
    assert(gotWarn == expWarnKeys)
    assert(gotWarn.nonEmpty)
  }

  consecutiveGoesQuiet()
  quietKeyDropsState("followedBy", quietHit, keyedSentinel)(
    Detectors.followedBy(_, 150, "m", "t", streaming = true))
  quietKeyDropsState("followedByFull", quietHit, keyedSentinel)(
    Detectors.followedByFull(_, 150, "ok", "late", "orphan", "timeout", streaming = true))
  reconcileGoesQuiet()
  quietKeyDropsState("PatternDetector", quietHit, keyedSentinel)(
    PatternDetector.detect(_, PatternSpec(Seq(Stage(_.hit), Stage(e => !e.hit)), 400),
      streaming = true))
  // the sentinel lies past the end of the quiet click's day
  quietKeyDropsState("blacklist", BlEvent(1L, 1L, 1000L, 1L),
    ts => BlEvent(99L, 99L, ts, ts))(
    Detectors.blacklist(_, threshold = 3, streaming = true))

  test("blacklist streaming with out-of-order arrival matches batch") {
    // clicks straddle two midnights, so keys cross days mid-stream
    val evs = (0 until 200).map { i =>
      BlEvent(rnd.nextInt(3).toLong, rnd.nextInt(2).toLong,
        86400L * (1 + rnd.nextInt(2)) - 300 + rnd.nextInt(600), i.toLong)
    }
    val expected = Detectors.blacklist(evs.toDS(), threshold = 3, streaming = false)
      .collect().toSet
    val input = MemoryStream[BlEvent](5, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "100 seconds")
      .as[BlEvent]
    val q = Detectors.blacklist(withWm, threshold = 3, streaming = true)
      .writeStream.format("memory").queryName("bl_out").outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 60L)(_.tsSec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      input.addData(BlEvent(99L, 99L, 1000000L, 9999L))
      q.processAllAvailable()
      val got = spark.table("bl_out").as[BlOut].collect().toSet
      assert(got.filterNot(_.user_id == 99L) == expected)
      assert(expected.exists(_.tag == "warning"))
    } finally q.stop()
  }

  test("reconcile emits matched and both unmatched sides with timer semantics") {
    val evs = Seq(
      TxEvent(1, 100, 1, hit = true),  // pay, receipt arrives at 103 → matched
      TxEvent(1, 103, 2, hit = false),
      TxEvent(2, 200, 3, hit = true),  // pay, no receipt within 5 → unmatched_pay
      TxEvent(3, 300, 4, hit = false), // receipt, no pay within 3 → unmatched_receipt
      TxEvent(4, 400, 5, hit = false), // receipt first, pay at 402 → matched
      TxEvent(4, 402, 6, hit = true))
    val got = Detectors.reconcile(evs.toDS(), payWaitSec = 5, receiptWaitSec = 3,
      streaming = false).collect().toSet
    assert(got == Set(
      TxOut("matched", 1, 1, 2, 100, 103),
      TxOut("unmatched_pay", 2, 3, -1, 200, -1),
      TxOut("unmatched_receipt", 3, -1, 4, -1, 300),
      TxOut("matched", 4, 6, 5, 402, 400)))
  }

  test("reconcile streaming matches batch on random interleavings") {
    val evs = (0 until 200).map { i =>
      TxEvent(rnd.nextInt(40).toLong, 1000L + rnd.nextInt(500), i.toLong,
        hit = rnd.nextDouble() < 0.5)
    }
    val expected = Detectors.reconcile(evs.toDS(), 5, 3, streaming = false)
      .collect().toSet
    val input = MemoryStream[TxEvent](3, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "30 seconds")
      .as[TxEvent]
    val q = Detectors.reconcile(withWm, 5, 3, streaming = true)
      .writeStream.format("memory").queryName("tx_out").outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 25L)(_.tsSec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      input.addData(TxEvent(999L, 100000L, 9999L, hit = true))
      q.processAllAvailable()
      val got = spark.table("tx_out").as[TxOut].collect().toSet
      // drop the sentinel's own unmatched row
      assert(got.filterNot(_.key == 999L) == expected)
    } finally q.stop()
  }
}
