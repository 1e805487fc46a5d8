package graft

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cep.{Cep, PatternDetector}
import graft.cep.PatternDetector.{PatternMatch, PatternSpec, Stage}
import graft.streaming.Detectors
import graft.streaming.Detectors.KeyedEvent

/** The composable pattern NFA must reproduce the two fixed detector shapes
  * exactly, handle multi-stage chains, and agree batch vs streaming. */
class PatternDetectorSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(21)
  private def randomEvents(n: Int, keys: Int, span: Int): Seq[KeyedEvent] =
    (0 until n).map(i => KeyedEvent(rnd.nextInt(keys).toLong,
      1000L + rnd.nextInt(span), i.toLong, rnd.nextDouble() < 0.55))

  test("single consecutive stage reproduces Cep.consecutiveHits") {
    val evs = randomEvents(400, 5, 2000)
    val expected = Cep.consecutiveHits(evs.toDF(), col("key"), col("tsSec"),
        col("id"), col("hit"), 3, 300)
      .select("key", "first_id", "last_id").as[(Long, Long, Long)].collect().toSet
    val got = PatternDetector.detect(evs.toDS(),
        PatternSpec(Seq(Stage(_.hit, times = 3, consecutive = true)), 300),
        streaming = false)
      .select("key", "first_id", "last_id").as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("two-stage followedBy matches the semi-join matched set") {
    val evs = randomEvents(300, 4, 1000)
    // A = hit, B = !hit; pattern A followedBy B within 200
    val df = evs.toDF()
    val a = df.filter(col("hit")).select(col("key"), col("tsSec").as("a_ts"),
      col("id").as("a_id"))
    val b = df.filter(!col("hit")).select(col("key").as("kb"), col("tsSec").as("b_ts"))
    val matchedA = graft.ops.JoinOps.followedByWithin(a, b, col("key") === col("kb"),
        col("a_ts"), col("b_ts"), 200, "m", "t")
      .filter(col("status") === "m")
      .select("a_id").as[Long].collect().toSet
    val got = PatternDetector.detect(evs.toDS(),
        PatternSpec(Seq(Stage(e => e.hit), Stage(e => !e.hit)), 200),
        streaming = false).collect()
    // one emission per completed A-partial; its first_id is the A event
    assert(got.map(_.first_id).toSet == matchedA)
    assert(got.nonEmpty)
  }

  test("three-stage chain: fail×2 consecutive, then success, within horizon") {
    val evs = Seq(
      KeyedEvent(1, 10, 1, hit = true), KeyedEvent(1, 20, 2, hit = true),
      KeyedEvent(1, 30, 3, hit = false), // completes: 1,2 consecutive + success
      KeyedEvent(1, 40, 4, hit = true), KeyedEvent(1, 45, 5, hit = false),
      KeyedEvent(1, 50, 6, hit = true), // 4 broken by 5; 6 pending
      KeyedEvent(2, 10, 7, hit = true), KeyedEvent(2, 200, 8, hit = true),
      KeyedEvent(2, 210, 9, hit = false)) // 7,8 not consecutive? they are (no gap events) but 7→9 spans 200 > within
    val got = PatternDetector.detect(evs.toDS(),
      PatternSpec(Seq(Stage(_.hit, times = 2, consecutive = true),
        Stage(e => !e.hit)), withinSec = 100),
      streaming = false).collect().toSet
    // key 1: hits 1,2 then success 3 → match (span 20 ≤ 100). Partial from
    // hit 2 needs another consecutive hit; 3 breaks it.
    // key 2: 7,8 consecutive hits (no interleaving events) but the match
    // would span 10→210 = 200 > 100 → no match.
    assert(got == Set(PatternMatch(1, 1, 3, 10, 30, 3)))
  }

  test("detectWithMetrics counts capped partials in streaming, none in batch") {
    // five A's then one B: cap-free, every A completes
    val evs = (1 to 5).map(i => KeyedEvent(1, 100L + i, i, hit = true)) :+
      KeyedEvent(1, 110, 6, hit = false)
    val spec = PatternSpec(Seq(Stage(_.hit), Stage(e => !e.hit)), 1000, maxPartials = 2)
    val expected = (1 to 5).map(i => PatternMatch(1, i, 6, 100L + i, 110, 2)).toSet
    val (batch, batchDropped) = PatternDetector.detectWithMetrics(evs.toDS(), spec,
      streaming = false)
    assert(batch.collect().toSet == expected)
    assert(batchDropped.value == 0L)

    val input = MemoryStream[KeyedEvent](32, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "10 seconds")
      .as[KeyedEvent]
    val (stream, dropped) = PatternDetector.detectWithMetrics(withWm, spec, streaming = true)
    val q = stream.writeStream.format("memory").queryName("pat_cap_out")
      .outputMode("append").start()
    try {
      input.addData(evs)
      q.processAllAvailable()
      input.addData(KeyedEvent(99, 100000L, 9998, hit = false))
      q.processAllAvailable()
      input.addData(KeyedEvent(99, 100001L, 9999, hit = false))
      q.processAllAvailable()
      assert(dropped.value > 0L)
      // the cap keeps the newest partials
      assert(spark.table("pat_cap_out").as[PatternMatch].collect().toSet ==
        expected.filter(_.first_id >= 4))
    } finally q.stop()
  }

  test("streaming pattern detection matches batch under bounded disorder") {
    val evs = randomEvents(300, 4, 1500)
    val expected = PatternDetector.detect(evs.toDS(),
      PatternSpec(Seq(Stage(_.hit, times = 2, consecutive = true),
        Stage(e => !e.hit)), 400), streaming = false).collect().toSet
    val input = MemoryStream[KeyedEvent](31, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "100 seconds")
      .as[KeyedEvent]
    val q = PatternDetector.detect(withWm,
        PatternSpec(Seq(Stage(_.hit, times = 2, consecutive = true),
          Stage(e => !e.hit)), 400), streaming = true)
      .writeStream.format("memory").queryName("pat_out").outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 90L)(_.tsSec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      input.addData(KeyedEvent(99, 1000000L, 9999, hit = false))
      q.processAllAvailable()
      val got = spark.table("pat_out").as[PatternMatch].collect().toSet
        .filterNot(_.key == 99)
      assert(got == expected)
    } finally q.stop()
  }
}
