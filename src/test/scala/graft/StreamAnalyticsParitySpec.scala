package graft

import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{BehaviorQueries, StreamingJobs}
import graft.streaming.Detectors
import graft.streaming.Detectors._

/** Parity of the funnel / retention / basket-pair / skew streaming twins
  * against their declarative batch queries: the batch-mode fold must equal
  * the SQL formulation exactly, and the streaming mode under bounded
  * disorder must converge to the same final table. */
class StreamAnalyticsParitySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(11)

  private def stepEvents = graft.sources.Tables.events(spark, sf0001)
    .filter(col("event_type").isin("view", "click", "purchase"))
    .select(col("user_id").as("key"),
      expr("CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END")
        .as("step"),
      col("ts").cast("long").as("sec"), col("event_id").as("id"))
    .as[StepEvent]

  test("funnel batch-mode matches the declarative funnel_steps query") {
    val expected = BehaviorQueries.funnelSteps(spark, sf0001)
      .select("user_id", "view_sec", "click_sec", "purchase_sec", "depth")
      .as[FunnelRow].collect().toSet
    val got = Detectors.funnel(stepEvents, streaming = false).collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("funnel streaming under bounded disorder converges to batch") {
    val evs = (0 until 400).map { i =>
      StepEvent(rnd.nextInt(30).toLong, 1 + rnd.nextInt(3),
        1000L + rnd.nextInt(800), i.toLong)
    }
    val expected = Detectors.funnel(evs.toDS(), streaming = false).collect().toSet
    val input = MemoryStream[StepEvent](31, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "60 seconds")
      .as[StepEvent]
    val q = Detectors.funnel(withWm, streaming = true)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 50L)(_.sec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      input.addData(StepEvent(9999L, 1, 100000L, 99999L))
      q.processAllAvailable()
      // per user, emissions carry strictly increasing depth; the deepest is
      // the final state and must equal the batch row
      val last = spark.table("funnel_out").as[FunnelRow].collect()
        .filterNot(_.user_id == 9999L)
        .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.depth) }.toSet
      assert(last == expected)
    } finally q.stop()
  }

  private def weekEvents = graft.sources.Tables.events(spark, sf0001)
    .select(col("user_id").as("key"), col("ts").cast("long").as("sec"))
    .as[WeekEvent]

  test("retentionCells batch fold aggregates to the retention_cohorts query") {
    val expected = BehaviorQueries.retentionCohorts(spark, sf0001)
      .select("cohort_week", "week_offset", "active_users")
      .as[(Long, Long, Long)].collect().toSet
    val got = Detectors.retentionCells(weekEvents, streaming = false)
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("active_users"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("retentionCells streaming under bounded disorder matches batch") {
    val evs = (0 until 400).map { _ =>
      WeekEvent(rnd.nextInt(25).toLong, 1000000L + rnd.nextInt(3000000))
    }
    val expected = Detectors.retentionCells(evs.toDS(), streaming = false)
      .collect().toSet
    val input = MemoryStream[WeekEvent](32, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "60000 seconds")
      .as[WeekEvent]
    val q = Detectors.retentionCells(withWm, streaming = true)
      .writeStream.format("memory").queryName("ret_out")
      .outputMode("append").start()
    try {
      // ~50 buckets over the 3,000,000 s span, so ~50 triggers
      boundedDisorder(evs, rnd, 60000L)(_.sec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      input.addData(WeekEvent(99999L, 100000000L))
      q.processAllAvailable()
      val got = spark.table("ret_out").as[RetentionCell].collect()
        .filterNot(_.user_id == 99999L).toSet
      assert(got == expected)
    } finally q.stop()
  }

  private def itemEvents = graft.sources.Tables.events(spark, sf0001)
    .select(col("user_id").as("key"),
      get_json_object(col("props"), "$.k").cast("long").as("item"))
    .filter(col("item").isNotNull)
    .as[ItemEvent]

  test("transitionIncrements batch fold aggregates to the event_transitions query") {
    val expected = BehaviorQueries.eventTransitions(spark, sf0001)
      .select("from_type", "to_type", "n")
      .as[(String, String, Long)].collect().toSet
    val typeEvents = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id").as("key"), col("event_type").as("etype"),
        col("ts").cast("long").as("sec"), col("event_id").as("id"))
      .as[SeqTypeEvent]
    val got = Detectors.transitionIncrements(typeEvents, streaming = false)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("pathIncrements batch fold aggregates to the event_paths query") {
    val expected = BehaviorQueries.eventPaths(spark, sf0001)
      .select("from_type", "mid_type", "to_type", "n")
      .as[(String, String, String, Long)].collect().toSet
    val typeEvents = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id").as("key"), col("event_type").as("etype"),
        col("ts").cast("long").as("sec"), col("event_id").as("id"))
      .as[SeqTypeEvent]
    val got = Detectors.pathIncrements(typeEvents, streaming = false)
      .groupBy("from_type", "mid_type", "to_type").agg(count(lit(1)).as("n"))
      .as[(String, String, String, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("pathIncrements streaming under bounded disorder converges to batch") {
    val types = Seq("view", "click", "cart", "purchase", "uninstall")
    val evs = (0 until 400).map { i =>
      SeqTypeEvent(rnd.nextInt(25).toLong, types(rnd.nextInt(types.length)),
        1000L + i * 2 + rnd.nextInt(2), i.toLong)
    }
    val expected = Detectors.pathIncrements(evs.toDS(), streaming = false)
      .groupBy("from_type", "mid_type", "to_type").agg(count(lit(1)).as("n"))
      .as[(String, String, String, Long)].collect().toSet
    val input = MemoryStream[SeqTypeEvent](37, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "60 seconds")
      .as[SeqTypeEvent]
    val q = Detectors.pathIncrements(withWm, streaming = true)
      .writeStream.format("memory").queryName("path_out")
      .outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 50L)(_.sec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      // flush: one far-future event per key closes every buffer (the
      // flush event itself is never drained, so no increment ends at it)
      input.addData(evs.map(_.key).distinct.map(k =>
        SeqTypeEvent(k, "view", 100000L, 99000L + k)))
      q.processAllAvailable()
      val got = spark.table("path_out")
        .groupBy("from_type", "mid_type", "to_type").agg(count(lit(1)).as("n"))
        .as[(String, String, String, Long)].collect().toSet
      assert(got == expected && got.nonEmpty)
    } finally q.stop()
  }

  test("surprise over the increment fold reproduces the path_anomalies monitor") {
    val (n3, nctx, v) = BehaviorQueries.pathModel(spark, sf0001)
    val typeEvents = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id").as("key"), col("event_type").as("etype"),
        col("ts").cast("long").as("sec"), col("event_id").as("id"))
      .as[SeqTypeEvent]
    val scored = Detectors.surprise(
        Detectors.pathIncrements(typeEvents, streaming = false), n3, nctx, v)
      .collect()
    // recompose the batch monitor: per distinct (user, triple) count +
    // loss, top-50 by (loss DESC, full key ASC)
    val recomposed = scored
      .groupBy(s => (s.user_id, s.from_type, s.mid_type, s.to_type, s.loss_micro))
      .view.mapValues(_.length.toLong).toSeq
      .map { case ((u, f, m, t, l), n) => (u, f, m, t, l, n) }
      .sortBy { case (u, f, m, t, l, _) => (-l, u, f, m, t) }
      .take(50)
    val batch = BehaviorQueries.pathAnomalies(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("from_type"),
        r.getAs[String]("mid_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("loss_micro"), r.getAs[Long]("n"))).toSeq
    assert(recomposed == batch && batch.nonEmpty)
  }

  test("transitionIncrements streaming under bounded disorder converges to batch") {
    val types = Seq("view", "click", "cart", "purchase", "uninstall")
    val evs = (0 until 400).map { i =>
      SeqTypeEvent(rnd.nextInt(25).toLong, types(rnd.nextInt(types.length)),
        1000L + i * 2 + rnd.nextInt(2), i.toLong)
    }
    val expected = Detectors.transitionIncrements(evs.toDS(), streaming = false)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    val input = MemoryStream[SeqTypeEvent](34, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "60 seconds")
      .as[SeqTypeEvent]
    val q = Detectors.transitionIncrements(withWm, streaming = true)
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 50L)(_.sec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      // flush: one far-future event per key closes every buffer
      input.addData(evs.map(_.key).distinct.map(k =>
        SeqTypeEvent(k, "view", 100000L, 99000L + k)))
      q.processAllAvailable()
      val got = spark.table("trans_out")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().toSet
      assert(got == expected && got.nonEmpty)
    } finally q.stop()
  }

  test("idle-TTL drops a drained carry: one gap transition lost, exactly as documented") {
    // identical feeds through the fold WITH and WITHOUT the opt-in TTL:
    // user 1 emits view→click, goes idle far past the TTL while other
    // traffic advances the watermark, then returns with a purchase. The
    // TTL run must drop the drained carry (state removed — the
    // gap-spanning click→purchase is LOST), the default run must keep
    // it (the carry exists precisely to link across gaps).
    def run(streamId: Int, ttl: Option[Long], name: String): Set[(String, String)] = {
      val input = MemoryStream[SeqTypeEvent](streamId, spark, None)
      val withWm = input.toDS()
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withWatermark("ts", "10 seconds")
        .as[SeqTypeEvent]
      val q = Detectors.transitionIncrements(withWm, streaming = true,
          idleTtlSec = ttl)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        Seq(
          Seq(SeqTypeEvent(1L, "view", 100L, 0L), SeqTypeEvent(1L, "click", 102L, 1L)),
          Seq(SeqTypeEvent(2L, "view", 1200L, 2L)),  // wm → ~1190: user 1 drains
          Seq(SeqTypeEvent(2L, "click", 1400L, 3L)), // wm → ~1390: TTL timer armed at drain fires next
          Seq(SeqTypeEvent(2L, "view", 2000L, 4L)),  // user-1 timeout fires here (no data for key 1)
          Seq(SeqTypeEvent(1L, "purchase", 5000L, 5L)), // the return after the gap
          Seq(SeqTypeEvent(1L, "view", 100000L, 6L),    // flush: drain the purchase
            SeqTypeEvent(2L, "view", 100000L, 7L))
        ).foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name).filter(col("user_id") === 1L)
          .select("from_type", "to_type")
          .as[(String, String)].collect().toSet
      } finally q.stop()
    }
    val withTtl = run(38, Some(60L), "trans_ttl_on")
    val without = run(39, None, "trans_ttl_off")
    assert(without == Set(("view", "click"), ("click", "purchase")),
      s"the default carry must link across the gap, got $without")
    assert(withTtl == Set(("view", "click")),
      s"the TTL run must lose EXACTLY the gap transition, got $withTtl")
  }

  test("itemPairIncrements aggregate to the item_pairs query") {
    val expected = BehaviorQueries.itemPairs(spark, sf0001)
      .select("item_a", "item_b", "n_users", "rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = Detectors.itemPairIncrements(itemEvents, 2000L, streaming = false)
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("item_a").asc, col("item_b").asc)
      .limit(20)
      .withColumn("rn", row_number().over(Window.orderBy(
        col("n_users").desc, col("item_a").asc, col("item_b").asc)).cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("itemPairIncrements streaming counts equal batch regardless of order") {
    val evs = (0 until 500).map { _ =>
      ItemEvent(rnd.nextInt(20).toLong, rnd.nextInt(15).toLong)
    }
    val expected = Detectors.itemPairIncrements(evs.toDS(), 2000L, streaming = false)
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val input = MemoryStream[ItemEvent](33, spark, None)
    val q = Detectors.itemPairIncrements(input.toDS(), 2000L, streaming = true)
      .writeStream.format("memory").queryName("pairs_out")
      .outputMode("append").start()
    try {
      rnd.shuffle(evs).grouped(60)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      val got = spark.table("pairs_out")
        .groupBy("item_a", "item_b").agg(count(lit(1)).as("n"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("itemPairIncrements enforces the basket cap with remediation") {
    val evs = (0 until 10).map(i => ItemEvent(1L, i.toLong))
    val e = intercept[Exception](
      Detectors.itemPairIncrements(evs.toDS(), 5L, streaming = false).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("pre-cap baskets")))
  }

  test("streaming skew profile converges to the batch skew_profile query") {
    val expected = BehaviorQueries.skewProfile(spark, sf0001)
      .select("user_id", "cnt", "rn", "total_rows", "n_keys", "share_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    @volatile var last: Set[(Long, Long, Long, Long, Long, Long)] = Set.empty
    val q = StreamingJobs.runSkewProfile(spark, sf0001) { profile =>
      last = profile
        .select("user_id", "cnt", "rn", "total_rows", "n_keys", "share_ppm")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    }
    try {
      q.processAllAvailable()
      assert(last == expected)
    } finally q.stop()
  }

  test("file-replay funnel and retention streams stay prefix-consistent with batch") {
    val batchFunnel = Detectors.funnel(stepEvents, streaming = false)
      .collect().map(r => r.user_id -> r).toMap
    val fq = StreamingJobs.funnelStream(spark, sf0001)
      .writeStream.format("memory").queryName("funnel_file")
      .outputMode("append").start()
    try {
      fq.processAllAvailable()
      val rows = spark.table("funnel_file").as[FunnelRow].collect()
      assert(rows.nonEmpty, "watermark should finalize most funnel steps")
      // every emitted row is a prefix of the batch row: identical view, and
      // each later step either already final or still sentinel (the tail
      // hour never finalizes in a bounded replay)
      rows.foreach { r =>
        val b = batchFunnel(r.user_id)
        assert(r.view_sec == b.view_sec, s"user ${r.user_id} view")
        assert(r.click_sec == b.click_sec || r.click_sec == -1L,
          s"user ${r.user_id} click")
        assert(r.purchase_sec == b.purchase_sec || r.purchase_sec == -1L,
          s"user ${r.user_id} purchase")
      }
    } finally fq.stop()
    val batchCells = Detectors.retentionCells(weekEvents, streaming = false)
      .collect().toSet
    val rq = StreamingJobs.retentionStream(spark, sf0001)
      .writeStream.format("memory").queryName("ret_file")
      .outputMode("append").start()
    try {
      rq.processAllAvailable()
      val got = spark.table("ret_file").as[RetentionCell].collect().toSet
      assert(got.nonEmpty && got.subsetOf(batchCells))
    } finally rq.stop()
  }

  test("onlineDedup batch-mode agrees with the dedup_exact keep decision") {
    val docEvents = graft.sources.Tables.documents(spark, sf0001)
      .select(md5(col("text")).as("h"), col("doc_id"), lit(0L).as("sec"))
      .as[DocEvent]
    val decisions = Detectors.onlineDedup(docEvents, streaming = false).collect()
    val batch = graft.queries.PipelineQueries.dedupExact(spark, sf0001)
      .select("text_hash", "keep_id", "dup_cnt")
      .as[(String, Long, Long)].collect()
      .map { case (h, keep, cnt) => h -> (keep, cnt) }.toMap
    assert(decisions.nonEmpty && decisions.length ==
      batch.values.map(_._2).sum)
    // constant sec → keeper is the min doc_id, i.e. dedup_exact's keep_id
    decisions.foreach { d =>
      val (keepId, _) = batch(d.h)
      if (d.keep) assert(d.doc_id == keepId && d.dup_of == -1L)
      else assert(d.doc_id != keepId && d.dup_of == keepId)
    }
  }

  test("onlineDedup streaming under bounded disorder converges to batch") {
    val evs = (0 until 600).map { i =>
      DocEvent(s"h${rnd.nextInt(40)}", i.toLong, 1000L + rnd.nextInt(900))
    }
    val expected = Detectors.onlineDedup(evs.toDS(), streaming = false)
      .collect().toSet
    val input = MemoryStream[DocEvent](47, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "60 seconds")
      .as[DocEvent]
    val q = Detectors.onlineDedup(withWm, streaming = true)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      boundedDisorder(evs, rnd, 50L)(_.sec)
        .foreach { b => input.addData(b); q.processAllAvailable() }
      // advance the watermark past every buffered event so all decide
      input.addData(DocEvent("hz", 999999L, 100000L))
      q.processAllAvailable()
      val got = spark.table("dedup_out").as[DedupDecision].collect()
        .filterNot(_.h == "hz").toSet
      assert(got == expected && got.nonEmpty)
    } finally q.stop()
  }

  test("epoch-scoped onlineDedup: cross-epoch duplicates re-keep, state dies with its epoch") {
    // identical feeds through the detector WITH and WITHOUT the opt-in
    // epoch key (epochSec=1000): hash "ha" keeps in epoch 0; its epoch-1
    // re-arrival must DROP in all-time mode (the keeper is permanent)
    // and KEEP in epoch mode (the keeper died with its snapshot — the
    // documented price); the within-epoch duplicate must drop in BOTH,
    // pointing at its own epoch's keeper. And the point of the trade:
    // epoch-mode state is bounded by one epoch's hashes, not all-time.
    def run(streamId: Int, epoch: Option[Long], name: String)
        : (Map[Long, (Boolean, Long)], Long) = {
      val input = MemoryStream[DocEvent](streamId, spark, None)
      val withWm = input.toDS()
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withWatermark("ts", "10 seconds")
        .as[DocEvent]
      val q = Detectors.onlineDedup(withWm, streaming = true, epochSec = epoch)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        Seq(
          // epoch 0: the keeper + 30 one-off hashes (state ballast)
          DocEvent("ha", 1L, 100L) +: (0 until 30).map(i =>
            DocEvent(s"pad$i", 100L + i, 110L)),
          Seq(DocEvent("hb", 200L, 1200L)), // wm → ~1190: epoch 0 over
          Seq(DocEvent("hb", 201L, 1450L)), // epoch-0 death timers fire
          Seq(DocEvent("ha", 2L, 1500L),    // the cross-epoch re-arrival
            DocEvent("ha", 3L, 1600L)),     // the within-epoch duplicate
          Seq(DocEvent("hz", 999L, 99999L)), // flush every buffer
          Seq(DocEvent("hz", 998L, 199999L)) // fire remaining death timers
        ).foreach { b => input.addData(b); q.processAllAvailable() }
        val rows = spark.table(name).as[DedupDecision].collect()
          .filter(_.h == "ha").map(d => d.doc_id -> (d.keep, d.dup_of)).toMap
        val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
        (rows, stateRows)
      } finally q.stop()
    }
    val (allTime, allRows) = run(72, None, "dedup_epoch_off")
    val (epochal, epochRows) = run(73, Some(1000L), "dedup_epoch_on")
    assert(allTime(1L) == ((true, -1L)) && epochal(1L) == ((true, -1L)))
    assert(allTime(2L) == ((false, 1L)),
      "all-time mode must drop the cross-epoch duplicate against the permanent keeper")
    assert(epochal(2L) == ((true, -1L)),
      "epoch mode must RE-KEEP the cross-epoch duplicate — the documented price")
    assert(allTime(3L) == ((false, 1L)) && epochal(3L) == ((false, 2L)),
      "within-epoch duplicates drop in both modes, against their own epoch's keeper")
    assert(epochRows < allRows && epochRows <= 4L,
      s"epoch state must die with its epoch: $epochRows rows vs all-time $allRows")
  }

  test("onlineSemDedup cap: arrivals past maxMembers are scored but not appended — suppression recall loss only") {
    // cluster 7: a, b along u (identical direction), c along w, e along w.
    // Uncapped: c keeps (orthogonal to a,b), e drops (near c). Capped at
    // 2: c is scored identically (n=0, keeps) but NOT appended, so e is
    // wrongly KEPT — the stated recall price; no decision ever flips from
    // keep to drop (suppression loss only).
    val u = Seq(1000L, 0L); val w = Seq(0L, 1000L); val n2 = 1000000L
    val evs = Seq(
      Detectors.VecEvent(7L, 1L, u, n2, 10L),
      Detectors.VecEvent(7L, 2L, u, n2, 11L),
      Detectors.VecEvent(7L, 3L, w, n2, 12L),
      Detectors.VecEvent(7L, 4L, w, n2, 13L)).toDS()
    def decisions(cap: Option[Int]): Map[Long, (Long, Boolean)] =
      Detectors.onlineSemDedup(evs, 0.9, streaming = false, maxMembers = cap)
        .collect().map(d => d.vec_id -> (d.n_near, d.kept)).toMap
    val exact = decisions(None)
    val capped = decisions(Some(2))
    assert(exact == Map(1L -> (0L, true), 2L -> (1L, false),
      3L -> (0L, true), 4L -> (1L, false)))
    assert(capped == Map(1L -> (0L, true), 2L -> (1L, false),
      3L -> (0L, true), 4L -> (0L, true)),
      "the capped run keeps vec 4 — near only the unappended member: recall loss, not a wrong drop")
    assert(capped.forall { case (id, (_, kept)) => kept || !exact(id)._2 },
      "capping can only ADD keeps, never drop something the exact run kept")
  }
}
