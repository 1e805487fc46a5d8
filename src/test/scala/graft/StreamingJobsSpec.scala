package graft

import org.apache.spark.sql.functions._

import graft.queries.{BehaviorQueries, StreamingJobs}

/** The reference jobs running as live file-replay streams over the sf0.001
  * events table, checked against their batch twins. */
class StreamingJobsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming volume anomaly equals the batch query per closed hour") {
    val batch = BehaviorQueries.volumeAnomalies(spark, sf0001)
      .select("event_type", "hour", "cnt", "trail_sum", "trail_n", "anomalous")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // batch-mode detector ≡ the SQL window formulation, fully
    val keyed = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type").as("key"), col("ts").cast("long").as("sec"))
      .as[graft.streaming.Detectors.TypeEvent]
    val viaDetector = graft.streaming.Detectors
      .volumeAnomaly(keyed, 24, 12, 2L, streaming = false)
      .collect()
      .map(h => (h.event_type, h.hour) -> ((h.cnt, h.trail_sum, h.trail_n, h.anomalous))).toMap
    assert(viaDetector == batch)
    // streaming mode: every watermark-closed hour matches the batch row
    val q = StreamingJobs.volumeAnomalyStream(spark, sf0001)
      .writeStream.format("memory").queryName("vol_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("vol_stream")
        .select("event_type", "hour", "cnt", "trail_sum", "trail_n", "anomalous")
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
      assert(got.nonEmpty, "watermark should close most replayed hours")
      got.foreach { r =>
        assert(batch((r._1, r._2)) == ((r._3, r._4, r._5, r._6)),
          s"hour ${r._2} type ${r._1}")
      }
    } finally q.stop()
  }

  test("streaming page views equals batch for watermark-closed windows") {
    val batch = BehaviorQueries.pageViews(spark, sf0001)
      .select("window_start", "pv").as[(Long, Long)].collect().toMap
    val q = graft.ops.WindowOps.epochWindow(
        StreamingJobs.pageViewsStream(spark, sf0001))
      .select("window_start", "cnt")
      .writeStream.format("memory").queryName("pv_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("pv_stream").as[(Long, Long)].collect().toMap
      assert(got.nonEmpty, "watermark should close most replayed windows")
      // every closed window must agree exactly with the batch count
      got.foreach { case (ws, cnt) => assert(batch(ws) == cnt, s"window $ws") }
    } finally q.stop()
  }

  test("streaming page views ingest a later delivery under the watched directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pv_deliveries")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "events.parquet"),
      dir.resolve("events.parquet"))
    // the second delivery: the same events 60 days later, so none is late
    val (schema, _) = graft.sources.Tables.eventsDecode(spark, sf0001)
    val shift = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts") + lit(60L * 86400 * 1000000000L)
      case _ => col("ts") + expr("INTERVAL 60 DAYS")
    }
    val staged = dir.resolve("_staged").toString
    spark.read.schema(schema).parquet(s"$sf0001/events.parquet")
      .withColumn("ts", shift).coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    val views = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type") === "view").count()
    val q = StreamingJobs.pageViewsStream(spark, dir.toString)
      .writeStream.format("memory").queryName("pv_deliveries").outputMode("complete").start()
    def counted(): Long =
      spark.table("pv_deliveries").agg(sum("cnt")).as[Option[Long]].head().getOrElse(0L)
    try {
      q.processAllAvailable()
      assert(counted() == views)
      java.nio.file.Files.createDirectory(dir.resolve("b1"))
      java.nio.file.Files.move(part.toPath, dir.resolve("b1/events.parquet"))
      q.processAllAvailable()
      assert(counted() == 2 * views, "the b1 delivery's views are counted")
    } finally q.stop()
  }

  test("streaming hot-items ranking matches the batch query") {
    val batch = BehaviorQueries.hotItemsTopN(spark, sf0001)
      .select("window_start", "item_id", "rn").as[(Long, Long, Long)].collect().toSet
    @volatile var last: Set[(Long, Long, Long)] = Set.empty
    val q = StreamingJobs.runHotItemsTopN(spark, sf0001) { ranked =>
      last = ranked.select("window_start", "item_id", "rn")
        .as[(Long, Long, Long)].collect().toSet
    }
    try {
      q.processAllAvailable()
      assert(last == batch)
    } finally q.stop()
  }

  test("streaming market-channel and ad-province counts equal batch on closed windows") {
    def closedEquals(streamDf: org.apache.spark.sql.DataFrame,
                     batchDf: org.apache.spark.sql.DataFrame,
                     keys: Seq[String], name: String): Unit = {
      val batch = batchDf.select("window_start", keys :+ "cnt": _*)
        .collect().map(_.toSeq).toSet
      val q = graft.ops.WindowOps.epochWindow(streamDf)
        .select("window_start", keys :+ "cnt": _*)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        val got = spark.table(name).collect().map(_.toSeq).toSet
        assert(got.nonEmpty, s"$name emitted nothing")
        assert(got.subsetOf(batch), s"$name diverges from batch")
        // emitted (closed) windows are the overwhelming majority of batch
        assert(got.size * 10 > batch.size * 8, s"$name closed too few windows")
      } finally q.stop()
    }
    closedEquals(StreamingJobs.marketChannelStream(spark, sf0001),
      graft.queries.BehaviorQueries.marketChannel(spark, sf0001),
      Seq("channel", "behavior"), "mc_stream")
    closedEquals(StreamingJobs.adProvinceStream(spark, sf0001),
      graft.queries.BehaviorQueries.adProvince(spark, sf0001),
      Seq("province"), "ap_stream")
  }

  test("stream-static dimension join equals the batch join") {
    val batch = BehaviorQueries.eventsEnriched(spark, sf0001)
      .select("event_id", "segment").as[(Long, String)].collect().toSet
    val q = StreamingJobs.enrichedStream(spark, sf0001)
      .select("event_id", "segment")
      .writeStream.format("memory").queryName("enr_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enr_stream").as[(Long, String)].collect().toSet
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("live drift monitor's drained census equals the batch kmeans_drift") {
    val batch = graft.queries.PipelineQueries.kmeansDrift(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    @volatile var last = Set.empty[(Long, Long, Long, Long, Long, Long)]
    val q = StreamingJobs.runKmeansDrift(spark, sf0001) { df =>
      last = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    }
    try {
      q.processAllAvailable()
      assert(last == batch,
        "drained live drift table must equal the batch kmeans_drift rows")
    } finally q.stop()
  }

  test("frozen-centroid kmeans assignment on the stream equals the batch") {
    val batch = graft.queries.PipelineQueries.embedKmeans(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSet
    val q = StreamingJobs.kmeansAssignStream(spark, sf0001)
      .writeStream.format("memory").queryName("km_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("km_stream").as[(Long, Long, Long)].collect().toSet
      assert(got == batch, "streamed assignment must equal batch embed_kmeans")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("native stream-stream interval join equals the batch tx_match") {
    val batch = graft.queries.DetectQueries.txMatch(spark, sf0001)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture must produce pay/receipt matches")
    val q = StreamingJobs.txMatchStream(spark, sf0001)
      .writeStream.format("memory").queryName("txj_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("txj_stream")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == batch,
        "drained stream-stream interval join must equal the batch interval join")
    } finally q.stop()
  }

  test("streaming uv (HLL) equals the batch sketch on closed windows") {
    val batch = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type") === "view")
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id")).as("uv_approx"))
      .select(col("window.start").cast("long"), col("uv_approx"))
      .as[(Long, Long)].collect().toMap
    val q = StreamingJobs.uvStream(spark, sf0001)
      .select(col("window.start").cast("long").as("ws"), col("uv_approx"))
      .writeStream.format("memory").queryName("uv_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("uv_stream").as[(Long, Long)].collect().toMap
      assert(got.nonEmpty, "at least one daily window should close")
      got.foreach { case (ws, uv) => assert(batch(ws) == uv, s"window $ws") }
    } finally q.stop()
  }

  test("streaming uv bounds gate: every closed window's verdict is TRUE and restates the batch gate") {
    // the r13 twin of uv_approx_bounds on the LIVE path: per closed day
    // window the stream emits (exact, bound, verdict) from one
    // aggregation; verdicts must be TRUE throughout the replay, and the
    // exact counts + bounds must equal the batch calibration query's
    val q = StreamingJobs.uvBoundsStream(spark, sf0001)
      .select(col("window_start").cast("long").as("ws"), col("uv_exact"),
        col("bound_abs"), col("within"))
      .writeStream.format("memory").queryName("uv_bounds_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("uv_bounds_stream")
        .as[(Long, Long, Long, Boolean)].collect()
      assert(got.nonEmpty, "at least one daily window should close")
      assert(got.forall(_._4),
        s"the 3σ verdict must hold for every emitted window: $got")
      val batch = graft.queries.BehaviorQueries.uvApproxBounds(spark, sf0001)
        .select(col("window_start"), col("uv_exact"), col("bound_abs"))
        .as[(Long, Long, Long)].collect()
        .map { case (ws, ex, b) => ws -> ((ex, b)) }.toMap
      got.foreach { case (ws, ex, b, _) =>
        assert(batch(ws) == ((ex, b)),
          s"window $ws: streaming (exact=$ex, bound=$b) must restate the batch gate") }
    } finally q.stop()
  }

  test("streaming sessions equal the batch session_window on closed sessions") {
    val batch = graft.sources.Tables.events(spark, sf0001)
      .groupBy(session_window(col("ts"), "2 hours").as("session"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session.start").cast("long"), col("user_id"), col("cnt"))
      .as[(Long, Long, Long)].collect().toSet
    val q = StreamingJobs.userSessionsStream(spark, sf0001)
      .select(col("session.start").cast("long").as("ss"), col("user_id"), col("cnt"))
      .writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_stream").as[(Long, Long, Long)].collect().toSet
      assert(got.nonEmpty, "watermark should close most sessions")
      assert(got.subsetOf(batch), "closed sessions must agree with batch")
      assert(got.size * 10 > batch.size * 5, "too few sessions closed")
    } finally q.stop()
  }

  test("streaming login-fail alarms agree with the batch detector") {
    val batchEvents = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id").as("key"), col("ts").cast("long").as("tsSec"),
        col("event_id").as("id"), (col("event_type") === "error").as("hit"))
      .as[graft.streaming.Detectors.KeyedEvent]
    val expected = graft.streaming.Detectors
      .consecutive(batchEvents, 2, 86400, streaming = false).collect().toSet
    val q = StreamingJobs.loginFailAlarms(spark, sf0001, 2, 86400)
      .writeStream.format("memory").queryName("lf_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("lf_stream")
        .as[graft.streaming.Detectors.RunMatch].collect().toSet
      // the stream's final watermark stops 1h short of the tail: emitted
      // alarms must be a prefix-consistent subset of the batch alarms
      assert(got.subsetOf(expected))
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("the simulated marketing rate source runs live and honors its mapping") {
    val q = graft.sources.EventSources.marketingRate(spark, rowsPerSecond = 200)
      .writeStream.format("memory").queryName("mkt_rate")
      .outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var n = 0L
      while (n < 100 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        n = spark.table("mkt_rate").count()
        if (n < 100) Thread.sleep(200)
      }
      assert(n >= 100, s"rate source produced only $n rows in 30s")
      val rows = spark.table("mkt_rate")
        .select("userId", "behavior", "channel")
        .as[(Long, String, String)].collect()
      val behaviors = Set("CLICK", "DOWNLOAD", "INSTALL", "UNINSTALL")
      val channels = Set("app store", "wechat", "weibo", "browser")
      rows.foreach { case (u, b, c) =>
        assert(u >= 0 && u < 1000 && behaviors(b) && channels(c))
      }
      // the cyclic mapping should hit every (behavior, channel) cell over
      // any 16 consecutive counter values
      assert(rows.map(r => (r._2, r._3)).distinct.length == 16)
    } finally q.stop()
  }

  test("online dedup over the corpus replay agrees with the batch keep decision") {
    val docEvents = graft.sources.Tables.documents(spark, sf0001)
      .select(md5(col("text")).as("h"), col("doc_id"),
        col("doc_id").as("sec"))
      .as[graft.streaming.Detectors.DocEvent]
    val expected = graft.streaming.Detectors
      .onlineDedup(docEvents, streaming = false).collect().toSet
    val q = StreamingJobs.onlineDedupStream(spark, sf0001)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .as[graft.streaming.Detectors.DedupDecision].collect().toSet
      // the final watermark stops short of the tail doc_ids: decisions
      // must be a prefix-consistent subset of batch, and nonempty
      assert(got.subsetOf(expected))
      assert(got.nonEmpty, "watermark should decide most replayed documents")
    } finally q.stop()
  }

  test("online semdedup over the embedding feed agrees with the batch query") {
    import graft.streaming.Detectors
    // batch truth: the oracle-backed semdedup query
    val batchOut = graft.queries.PipelineQueries.semDedup(spark, sf0001)
      .selectExpr("vec_id", "cid", "n_near", "kept")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    // exact parity of the detector arithmetic: batch-mode run over the
    // same assigned rows must EQUAL the SQL relation bit-for-bit
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val assigned = graft.ops.SimilarityOps.coarseAssigned(emb, emb, 16)
      .selectExpr("cid", "id AS vec_id", "qvec", "norm2", "id AS sec")
      .as[Detectors.VecEvent]
    val detBatch = Detectors.onlineSemDedup(assigned, 0.4, streaming = false)
      .collect().map(d => (d.vec_id, d.cid, d.n_near, d.kept)).toSet
    assert(detBatch == batchOut && batchOut.nonEmpty)
    // live replay: append decisions are a prefix-consistent subset (the
    // final watermark stops short of the tail vec_ids)
    val q = StreamingJobs.onlineSemDedupStream(spark, sf0001)
      .writeStream.format("memory").queryName("semdedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("semdedup_stream").as[Detectors.SemDecision]
        .collect().map(d => (d.vec_id, d.cid, d.n_near, d.kept)).toSet
      assert(got.subsetOf(batchOut))
      assert(got.nonEmpty, "watermark should decide most replayed vectors")
    } finally q.stop()
  }

  test("streaming incremental clusters converge to batch dedup_clusters") {
    // deliveries arrive as micro-batches; after the last one the
    // maintained assignment must equal the from-scratch batch resolution
    // of the whole corpus - the strongest possible claim for an online
    // cluster maintainer
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](61, spark, None)
    @volatile var last: Array[(Long, Long)] = Array.empty
    val q = StreamingJobs.runIncrementalClusters(
        spark, in.toDS().toDF("doc_id", "text")) { (assign, _) =>
      last = assign.select("doc_id", "cluster_id").as[(Long, Long)].collect()
    }
    try {
      docs.grouped(math.max(docs.length / 3, 1)).foreach { delivery =>
        in.addData(delivery.toSeq); q.processAllAvailable()
      }
      val expected = graft.queries.PipelineQueries.dedupClusters(spark, sf0001)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
      assert(last.toSet == expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("streaming lifecycle (adds + takedowns) converges to the surviving-corpus resolution") {
    // deliveries and takedowns interleave on ONE tagged feed, including a
    // batch that adds and removes in the same micro-batch (add applies
    // first, so those docs end removed); the maintained assignment must
    // equal from-scratch resolution of exactly the SURVIVING docs — the
    // invariant ClusterOps.removeFromClusters is specified by, here
    // verified through the whole streaming composition
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(docs.length / 3, 1)).toSeq
    val takedown1 = chunks(0).map(_._1).filter(_ % 10 == 0)
    // second takedown: earlier-delivery docs AND docs added in the very
    // same micro-batch
    val takedown2 = chunks(1).map(_._1).filter(_ % 7 == 0) ++
      chunks(2).map(_._1).filter(_ % 9 == 0)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](64, spark, None)
    @volatile var lastAssign: Array[(Long, Long)] = Array.empty
    @volatile var lastSetIds: Array[Long] = Array.empty
    @volatile var lastPairs: Array[(Long, Long)] = Array.empty
    val q = StreamingJobs.runClusterLifecycle(
        spark, in.toDS().toDF("doc_id", "text", "op")) { (assign, sets, pairs) =>
      lastAssign = assign.select("doc_id", "cluster_id").as[(Long, Long)].collect()
      lastSetIds = sets.select("doc_id").as[Long].collect()
      lastPairs = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect()
    }
    try {
      def adds(c: Seq[(Long, String)]) = c.map { case (i, t) => (i, t, "add") }
      def rems(ids: Seq[Long]) = ids.map(i => (i, "", "remove"))
      in.addData(adds(chunks(0))); q.processAllAvailable()
      in.addData(adds(chunks(1))); q.processAllAvailable()
      in.addData(rems(takedown1)); q.processAllAvailable()
      in.addData(adds(chunks(2)) ++ rems(takedown2)); q.processAllAvailable()
      // grouped() may leave a remainder chunk — deliver everything
      chunks.drop(3).foreach { c => in.addData(adds(c)); q.processAllAvailable() }

      val removed = (takedown1 ++ takedown2).toSet
      val surviving = docs.filterNot(d => removed(d._1))
      val sdf = surviving.toSeq.toDF("doc_id", "text")
      val p = graft.ops.DedupOps.minhashPairs(
        graft.ops.DedupOps.allShingles(sdf, "text", 3), 16, 4, 0.5)
      val cc = graft.ops.ClusterOps.connectedComponentsStar(p, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      val expected = sdf.select("doc_id").join(cc, Seq("doc_id"), "left")
        .selectExpr("doc_id", "coalesce(cluster_id, doc_id) AS cluster_id")
        .as[(Long, Long)].collect().toSet
      assert(lastAssign.toSet == expected && expected.nonEmpty)
      // the index holds exactly the survivors; no pair touches a removed doc
      assert(lastSetIds.toSet == surviving.map(_._1).toSet)
      assert(lastPairs.forall { case (a, b) => !removed(a) && !removed(b) })
      assert(lastPairs.nonEmpty)
    } finally q.stop()
  }

  test("perceptual hashes run statelessly on streams and equal their batch rows") {
    // dHash / audio contour are narrow mapPartitions over (doc_id,
    // payload): they must plan on an UNBOUNDED stream unchanged (no
    // stateful op sneaks in) and produce the batch rows exactly — the
    // ingest-time fingerprint shape (hash blobs as they arrive, dedup
    // against the persisted fingerprint index downstream)
    val batchImg = graft.queries.PipelineQueries.imageDhash(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val batchAud = graft.queries.PipelineQueries.audioFingerprintQ(spark, sf0001)
      .select("doc_id", "fp").as[(Long, Long)].collect().toMap
    val ids = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id").as[Long].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](70, spark, None)
    val q = graft.ops.MultimodalOps.dHash(
        graft.ops.MultimodalOps.synthGradientImages(in.toDS().toDF("doc_id")))
      .toDF()
      .writeStream.format("memory").queryName("dhash_stream")
      .outputMode("append").start()
    val in2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](71, spark, None)
    val q2 = graft.ops.MultimodalOps.audioFingerprint(
        graft.ops.MultimodalOps.synthAudio(in2.toDS().toDF("doc_id")))
      .toDF()
      .writeStream.format("memory").queryName("afp_stream")
      .outputMode("append").start()
    try {
      ids.grouped(math.max(ids.length / 3, 1)).foreach { c =>
        in.addData(c.toSeq); in2.addData(c.toSeq)
        q.processAllAvailable(); q2.processAllAvailable()
      }
      val gotImg = spark.table("dhash_stream")
        .select("doc_id", "dhash").as[(Long, Long)].collect().toMap
      val gotAud = spark.table("afp_stream")
        .select("doc_id", "fp").as[(Long, Long)].collect().toMap
      assert(gotImg == batchImg && batchImg.nonEmpty)
      assert(gotAud == batchAud && batchAud.nonEmpty)
    } finally { q.stop(); q2.stop() }
  }

  test("secret scan and frozen-scale SQ8 encode run statelessly on streams") {
    // both scorers are per-row (zero shuffles, no state): they must plan
    // on an unbounded stream unchanged and reproduce their batch rows
    // exactly across arbitrary micro-batching — the ingest-time shapes
    // (scan documents for leaked credentials as they arrive; encode
    // arriving embeddings against the frozen SQ8 scales)
    val batchSec = graft.queries.PipelineQueries.secretScan(spark, sf0001)
      .selectExpr("doc_id", "kind", "tok", "ent_micro")
      .as[(Long, String, String, Long)].collect().toSet
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val scales = graft.ops.SimilarityOps.sq8ScaleArray(emb, 64)
    val batchSq8 = graft.ops.SimilarityOps.sq8CodesWith(emb, scales)
      .selectExpr("vec_id", "n8").as[(Long, Long)].collect().toMap
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val vecs = emb.selectExpr("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](72, spark, None)
    val q = graft.ops.TextOps.secretScan(
        graft.queries.PipelineQueries.injectSecrets(
          in.toDS().toDF("doc_id", "text")), "text")
      .writeStream.format("memory").queryName("secret_stream")
      .outputMode("append").start()
    val in2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](73, spark, None)
    val q2 = graft.ops.SimilarityOps.sq8CodesWith(
        in2.toDS().toDF("vec_id", "embedding"), scales)
      .selectExpr("vec_id", "n8")
      .writeStream.format("memory").queryName("sq8_stream")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(docs.length / 3, 1)).foreach { c =>
        in.addData(c.toSeq); q.processAllAvailable()
      }
      vecs.grouped(math.max(vecs.length / 3, 1)).foreach { c =>
        in2.addData(c.toSeq); q2.processAllAvailable()
      }
      val gotSec = spark.table("secret_stream")
        .selectExpr("doc_id", "kind", "tok", "ent_micro")
        .as[(Long, String, String, Long)].collect().toSet
      val gotSq8 = spark.table("sq8_stream")
        .as[(Long, Long)].collect().toMap
      assert(gotSec == batchSec && batchSec.nonEmpty)
      assert(gotSq8 == batchSq8 && batchSq8.nonEmpty)
    } finally { q.stop(); q2.stop() }
  }

  test("live impact serve: streamed queries retrieve the batch bm25_topk_impact rows exactly") {
    val idx = spark.read.parquet(
      graft.queries.IndexState.bm25ImpactPaths(spark, sf0001))
    val queries = graft.sources.Tables.documents(spark, sf0001)
      .filter("doc_id < 8").select("doc_id", "text")
      .as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](68, spark, None)
    val got = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    val q = StreamingJobs.runImpactServe(
        spark, in.toDS().toDF("doc_id", "text"), idx) { served =>
      got ++= served.as[(Long, Long, Long, Long)].collect()
    }
    try {
      // three uneven batches: batching-invariance is the claim
      Seq(queries.take(3), queries.slice(3, 4), queries.drop(4)).foreach { c =>
        in.addData(c.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = graft.queries.PipelineQueries.bm25TopKImpact(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.toSet == batch && batch.nonEmpty)
  }

  test("live certified serve: streamed queries retrieve the batch bm25_topk rows exactly") {
    // the no-recall-trade live serve: whatever the batching, every
    // query's served rows must equal the EXACT batch ranking (the
    // certificate either proves the pruned top-k or the query runs its
    // exact serve inside the batch) — on the driver corpus, the
    // certificate's measured worst case
    val ranked = spark.read.parquet(
      graft.queries.IndexState.bm25ImpactRankedPaths(spark, sf0001))
    val (postingsP, dlP, dfP) =
      graft.queries.IndexState.bm25FullPaths(spark, sf0001)
    val tfq = spark.read.parquet(postingsP)
    val dl = spark.read.parquet(dlP)
    val dft = spark.read.parquet(dfP)
    val stats = dl.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"),
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("dl")).as("sum_dl"))
    val queries = graft.sources.Tables.documents(spark, sf0001)
      .filter("doc_id < 8").select("doc_id", "text")
      .as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](69, spark, None)
    val got = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    val q = StreamingJobs.runCertifiedServe(
        spark, in.toDS().toDF("doc_id", "text"),
        ranked, tfq, dl, dft, stats) { served =>
      got ++= served.as[(Long, Long, Long, Long)].collect()
    }
    try {
      Seq(queries.take(3), queries.slice(3, 4), queries.drop(4)).foreach { c =>
        in.addData(c.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = graft.queries.PipelineQueries.bm25TopK(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got.toSet == batch && batch.nonEmpty)
  }

  test("frozen-index BM25 stream scoring equals batch scoring and the bm25_topk rows") {
    val model = graft.queries.PipelineQueries.bm25Model(spark, sf0001)
    assert(model.terms.nonEmpty && model.nDocs > 0 && model.sumDl > 0)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](67, spark, None)
    val got = scala.collection.mutable.Map[(Long, Long), Long]()
    val q = StreamingJobs.runBm25Score(
        spark, in.toDS().toDF("doc_id", "text"), model) { scored =>
      scored.select("q_id", "doc_id", "score_micro")
        .as[(Long, Long, Long)].collect()
        .foreach { case (qi, d, s) => got((qi, d)) = s }
    }
    try {
      docs.grouped(math.max(docs.length / 3, 1)).foreach { c =>
        in.addData(c.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    // batching-invariance: the streamed union equals one-shot batch scoring
    val batch = graft.queries.PipelineQueries
      .bm25Score(docs.toSeq.toDF("doc_id", "text"), model)
      .select("q_id", "doc_id", "score_micro")
      .as[(Long, Long, Long)].collect()
      .map { case (qi, d, s) => (qi, d) -> s }.toMap
    assert(got.toMap == batch && batch.nonEmpty)
    // and the frozen scorer agrees with the oracle-green retrieval query
    // on every (query, doc) pair the top-5 surface exposes
    graft.queries.PipelineQueries.bm25TopK(spark, sf0001)
      .select("q_id", "doc_id", "score_micro")
      .as[(Long, Long, Long)].collect()
      .foreach { case (qi, d, s) =>
        assert(got((qi, d)) == s, s"(q=$qi, doc=$d) frozen-scorer divergence")
      }
  }

  private def pressConvergenceScenario(segmented: Boolean, streamId: Int,
      stateRoot: Option[String] = None): Unit = {
    // the composed "ship to training continuously" maintainer: deliveries
    // and takedowns on one CDC feed; after every batch the press's
    // manifest must equal batch corpus_manifest over exactly the
    // SURVIVING corpus — canonical promotion, keep bits, and splits
    // included. Checked at an intermediate point AND at the end, so the
    // convergence is maintained, not merely terminal. Runs identically
    // in both press-table modes (simple folds / one TaggedPressStore).
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(docs.length / 3, 1)).toSeq
    val takedown1 = chunks(0).map(_._1).filter(_ % 10 == 0)
    val takedown2 = chunks(1).map(_._1).filter(_ % 7 == 0) ++
      chunks(2).map(_._1).filter(_ % 9 == 0)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](streamId, spark, None)
    type ManRow = (Long, Long, Double, Boolean, Boolean, Boolean, String)
    @volatile var last: Array[ManRow] = Array.empty
    val q = StreamingJobs.runCurationPress(
        spark, in.toDS().toDF("doc_id", "text", "op"),
        segmented = segmented, stateRoot = stateRoot) { st =>
      last = st.manifest.select("doc_id", "cluster_id", "quality", "rep_pass",
        "canonical", "keep", "split")
        .as[(Long, Long, Double, Boolean, Boolean, Boolean, String)].collect()
    }
    def expectedOver(surviving: Seq[(Long, String)]): Set[ManRow] =
      graft.queries.PipelineQueries.corpusManifestOf(
        surviving.toDF("doc_id", "text"))
        .select("doc_id", "cluster_id", "quality", "rep_pass",
          "canonical", "keep", "split")
        .as[(Long, Long, Double, Boolean, Boolean, Boolean, String)].collect().toSet
    try {
      def adds(c: Seq[(Long, String)]) = c.map { case (i, t) => (i, t, "add") }
      def rems(ids: Seq[Long]) = ids.map(i => (i, "", "remove"))
      in.addData(adds(chunks(0))); q.processAllAvailable()
      in.addData(adds(chunks(1))); q.processAllAvailable()
      in.addData(rems(takedown1)); q.processAllAvailable()
      // mid-stream convergence right after the first takedown
      val surviving1 = (chunks(0) ++ chunks(1)).filterNot(d => takedown1.contains(d._1))
      val mid = expectedOver(surviving1)
      assert(last.toSet == mid && mid.nonEmpty,
        "post-takedown manifest must equal the surviving-corpus batch manifest")
      // a batch that adds and removes in the same micro-batch (adds fold
      // first, so those docs end removed), then the remainder
      in.addData(adds(chunks(2)) ++ rems(takedown2)); q.processAllAvailable()
      chunks.drop(3).foreach { c => in.addData(adds(c)); q.processAllAvailable() }
      val removed = (takedown1 ++ takedown2).toSet
      val surviving = docs.filterNot(d => removed(d._1)).toSeq
      val expected = expectedOver(surviving)
      assert(last.toSet == expected && expected.nonEmpty)
      // sanity on the semantics carried through: exactly one canonical per
      // cluster, keep = quality>=0.5 AND rep_pass AND canonical
      val byCluster = last.groupBy(_._2)
      byCluster.foreach { case (cid, ms) =>
        assert(ms.count(_._5) == 1, s"cluster $cid canonical count != 1")
      }
      last.foreach { case (id, _, qv, rep, canon, keep, _) =>
        assert(keep == (qv >= 0.5 && rep && canon), s"doc $id keep bit")
      }
    } finally q.stop()
  }

  test("streaming curation press converges to the batch manifest, through a takedown") {
    pressConvergenceScenario(segmented = false, streamId = 66)
  }

  test("segmented (tagged single-store) press converges identically") {
    pressConvergenceScenario(segmented = true, streamId = 77)
  }

  test("bucketed (stateRoot) press converges identically through probe-routed folds") {
    // the r15 verdict #2 wiring end-to-end: assignment / pair-list /
    // tagged-store point reads all run through SegmentedState.probe()
    // (bucketed mode, disk-rooted compactions) and the manifest still
    // equals the batch manifest through adds and takedowns — the
    // lifecycle convergence contract is probe-route-invariant
    val root = java.nio.file.Files
      .createTempDirectory("graft_press_kb").toString
    try pressConvergenceScenario(segmented = true, streamId = 88,
      stateRoot = Some(root))
    finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("curation press survives a stop/restart through persisted state, then a takedown") {
    // run deliveries 1-2, stop, round-trip the FULL five-table PressState
    // through plain collected rows (a true persistence simulation), boot a
    // NEW press, feed the rest of the corpus plus a takedown: the final
    // manifest must equal the batch manifest of the surviving corpus
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(docs.length / 4, 1)).toSeq
    type ManRow = (Long, Long, Double, Boolean, Boolean, Boolean, String)
    @volatile var pAssign: Array[(Long, Long)] = Array.empty
    @volatile var pSets: Array[(Long, Seq[Long], Long)] = Array.empty
    @volatile var pPairs: Array[(Long, Long)] = Array.empty
    @volatile var pScores: Array[(Long, Double, Boolean)] = Array.empty
    @volatile var pMan: Array[ManRow] = Array.empty
    def adds(c: Seq[(Long, String)]) = c.map { case (i, t) => (i, t, "add") }
    def rems(ids: Seq[Long]) = ids.map(i => (i, "", "remove"))
    val in1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](68, spark, None)
    val q1 = StreamingJobs.runCurationPress(
        spark, in1.toDS().toDF("doc_id", "text", "op")) { st =>
      pAssign = st.assign.select("doc_id", "cluster_id").as[(Long, Long)].collect()
      pSets = st.sets.select("doc_id", "hs", "n_sh").as[(Long, Seq[Long], Long)].collect()
      pPairs = st.pairs.select("doc_a", "doc_b").as[(Long, Long)].collect()
      pScores = st.scores.select("doc_id", "quality", "rep_pass")
        .as[(Long, Double, Boolean)].collect()
      pMan = st.manifest.select("doc_id", "cluster_id", "quality", "rep_pass",
        "canonical", "keep", "split").as[(Long, Long, Double, Boolean, Boolean, Boolean, String)].collect()
    }
    try {
      chunks.take(2).foreach { d => in1.addData(adds(d)); q1.processAllAvailable() }
    } finally q1.stop()
    assert(pMan.nonEmpty && pScores.nonEmpty && pPairs.nonEmpty)

    val boot = StreamingJobs.PressState(
      pAssign.toSeq.toDF("doc_id", "cluster_id"),
      pSets.toSeq.toDF("doc_id", "hs", "n_sh"),
      pPairs.toSeq.toDF("doc_a", "doc_b"),
      pScores.toSeq.toDF("doc_id", "quality", "rep_pass"),
      pMan.toSeq.map(identity[(Long, Long, Double, Boolean, Boolean, Boolean, String)]).toDF("doc_id", "cluster_id", "quality", "rep_pass",
        "canonical", "keep", "split"))
    val takedown = docs.map(_._1).filter(_ % 11 == 0)
    @volatile var last: Array[ManRow] = Array.empty
    val in2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](69, spark, None)
    val q2 = StreamingJobs.runCurationPress(
        spark, in2.toDS().toDF("doc_id", "text", "op"),
        initial = Some(boot)) { st =>
      last = st.manifest.select("doc_id", "cluster_id", "quality", "rep_pass",
        "canonical", "keep", "split").as[(Long, Long, Double, Boolean, Boolean, Boolean, String)].collect()
    }
    try {
      chunks.drop(2).foreach { d => in2.addData(adds(d)); q2.processAllAvailable() }
      in2.addData(rems(takedown)); q2.processAllAvailable()
      val surviving = docs.filterNot(d => takedown.contains(d._1)).toSeq
      val expected = graft.queries.PipelineQueries.corpusManifestOf(
          surviving.toDF("doc_id", "text"))
        .select("doc_id", "cluster_id", "quality", "rep_pass",
          "canonical", "keep", "split").as[(Long, Long, Double, Boolean, Boolean, Boolean, String)].collect().toSet
      assert(last.toSet == expected && expected.nonEmpty)
    } finally q2.stop()
  }

  test("lifecycle seq netting and add idempotency: feed order wins inside a batch; " +
      "short docs and re-adds never duplicate") {
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Long)](65, spark, None)
    @volatile var rows: Array[Long] = Array.empty
    val q = StreamingJobs.runClusterLifecycle(
        spark, in.toDS().toDF("doc_id", "text", "op", "seq")) { (assign, _, _) =>
      rows = assign.select("doc_id").as[Long].collect()
    }
    try {
      // doc 4 is SHORTER than the shingle width (1 token): it never enters
      // the signature index, so idempotency must come from the assignment
      in.addData((1L, "alpha beta gamma delta", "add", 1L),
        (2L, "epsilon zeta eta theta", "add", 2L), (4L, "hi", "add", 3L))
      q.processAllAvailable()
      assert(rows.sorted.toSeq == Seq(1L, 2L, 4L))
      // remove-then-re-add of doc 1 in ONE batch: with seq the net op is
      // the ADD, so doc 1 survives regardless of trigger boundaries
      in.addData((1L, "", "remove", 4L), (1L, "alpha beta gamma delta", "add", 5L))
      q.processAllAvailable()
      assert(rows.sorted.toSeq == Seq(1L, 2L, 4L))
      // the symmetric net (add then remove by seq) ends removed; duplicate
      // add rows in the same batch and a re-add of the short doc must not
      // duplicate assignment rows
      in.addData((3L, "iota kappa lambda mu", "add", 6L), (3L, "", "remove", 7L),
        (5L, "nu xi omicron pi", "add", 8L), (5L, "nu xi omicron pi", "add", 9L),
        (4L, "hi", "add", 10L))
      q.processAllAvailable()
      assert(rows.sorted.toSeq == Seq(1L, 2L, 4L, 5L),
        s"exactly one assignment row per live doc, got ${rows.sorted.toSeq}")
    } finally q.stop()
  }

  test("incremental clusters survive a stop/restart through persisted state") {
    // run deliveries 1-2, stop, round-trip the (assignment, index) pair
    // through plain collected rows - a true persistence simulation - and
    // bootstrap a NEW stream for deliveries 3-4: the final state must
    // equal batch dedup_clusters over the whole corpus
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(docs.length / 4, 1)).toSeq
    @volatile var pAssign: Array[(Long, Long)] = Array.empty
    @volatile var pSets: Array[(Long, Seq[Long], Long)] = Array.empty
    val in1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](62, spark, None)
    val q1 = StreamingJobs.runIncrementalClusters(
        spark, in1.toDS().toDF("doc_id", "text")) { (assign, sets) =>
      pAssign = assign.select("doc_id", "cluster_id").as[(Long, Long)].collect()
      pSets = sets.select("doc_id", "hs", "n_sh")
        .as[(Long, Seq[Long], Long)].collect()
    }
    try {
      chunks.take(2).foreach { d => in1.addData(d.toSeq); q1.processAllAvailable() }
    } finally q1.stop()

    val bootAssign = pAssign.toSeq.toDF("doc_id", "cluster_id")
    val bootSets = pSets.toSeq.toDF("doc_id", "hs", "n_sh")
    @volatile var last: Array[(Long, Long)] = Array.empty
    val in2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](63, spark, None)
    val q2 = StreamingJobs.runIncrementalClusters(
        spark, in2.toDS().toDF("doc_id", "text"),
        initialAssign = Some(bootAssign), initialSets = Some(bootSets)) {
      (assign, _) =>
        last = assign.select("doc_id", "cluster_id").as[(Long, Long)].collect()
    }
    try {
      chunks.drop(2).foreach { d => in2.addData(d.toSeq); q2.processAllAvailable() }
      val expected = graft.queries.PipelineQueries.dedupClusters(spark, sf0001)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
      assert(last.toSet == expected && expected.nonEmpty)
    } finally q2.stop()
  }

  test("streaming BM25 lifecycle (adds + takedowns) converges to the survivors' index") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(docs.length / 3, 1)).toSeq
    val takedown1 = chunks(0).map(_._1).filter(_ % 10 == 0)
    // second takedown: earlier-delivery docs AND docs added the same batch
    val takedown2 = chunks(1).map(_._1).filter(_ % 7 == 0) ++
      chunks(2).map(_._1).filter(_ % 9 == 0)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](65, spark, None)
    @volatile var lastPost: Set[(Long, String, Long)] = Set.empty
    @volatile var lastDl: Set[(Long, Long)] = Set.empty
    @volatile var lastDf: Set[(String, Long)] = Set.empty
    val q = StreamingJobs.runBm25Lifecycle(
        spark, in.toDS().toDF("doc_id", "text", "op")) { (post, dl, df) =>
      lastPost = post.as[(Long, String, Long)].collect().toSet
      lastDl = dl.as[(Long, Long)].collect().toSet
      lastDf = df.as[(String, Long)].collect().toSet
    }
    try {
      def adds(c: Seq[(Long, String)]) = c.map { case (i, t) => (i, t, "add") }
      def rems(ids: Seq[Long]) = ids.map(i => (i, "", "remove"))
      in.addData(adds(chunks(0))); q.processAllAvailable()
      // replay-idempotency: re-adding already-ingested docs is a no-op
      in.addData(adds(chunks(0).take(5)) ++ adds(chunks(1))); q.processAllAvailable()
      in.addData(rems(takedown1)); q.processAllAvailable()
      in.addData(adds(chunks(2)) ++ rems(takedown2)); q.processAllAvailable()
      chunks.drop(3).foreach { c => in.addData(adds(c)); q.processAllAvailable() }

      val removed = (takedown1 ++ takedown2).toSet
      val sdf = docs.filterNot(d => removed(d._1)).toSeq.toDF("doc_id", "text")
      val expPost = graft.queries.PipelineQueries.bm25Postings(sdf)
        .as[(Long, String, Long)].collect().toSet
      assert(lastPost == expPost && expPost.nonEmpty,
        "maintained postings must equal a from-scratch index of the survivors")
      // toSeq first: grouping the Set and mapping tf values would DEDUPE
      // equal tf values before the sum
      assert(lastDl == expPost.toSeq.groupBy(_._1).view
        .mapValues(_.map(_._3).sum).toSet)
      assert(lastDf == expPost.toSeq.groupBy(_._2).view
        .mapValues(_.size.toLong).toSet)
    } finally q.stop()
  }

  test("serving lifecycle: hybrid fusion over maintained state equals the takedown query") {
    import graft.queries.PipelineQueries
    val td = PipelineQueries.Bm25TakedownMod
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val chunks = docs.grouped(math.max(docs.length / 3, 1)).toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](66, spark, None)
    @volatile var st: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = None
    val q = StreamingJobs.runServingLifecycle(
        spark, in.toDS().toDF("doc_id", "text", "op"),
        graft.sources.Tables.embeddings(spark, sf0001)) { (p, dl, df, s) =>
      st = Some((p, dl, df, s))
    }
    try {
      def adds(c: Seq[(Long, String)]) = c.map { case (i, t) => (i, t, "add") }
      def rems(ids: Seq[Long]) = ids.map(i => (i, "", "remove"))
      // interleave: some takedowns arrive mid-ingest, the rest at the end,
      // so the final survivors are exactly the takedown query's residue class
      in.addData(adds(chunks(0))); q.processAllAvailable()
      in.addData(adds(chunks(1)) ++
        rems(chunks(0).map(_._1).filter(_ % td == 0))); q.processAllAvailable()
      in.addData(adds(chunks.drop(2).flatten.toSeq)); q.processAllAvailable()
      in.addData(rems(docs.map(_._1).filter(_ % td == 0))); q.processAllAvailable()
      val (post, dl, df, store) = st.get
      // serve the hybrid fusion from the MAINTAINED quadruple, with the
      // shared rank/fuse stages — it must equal the oracle-green
      // hybrid_rrf_takedown over the same survivors
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val lex = PipelineQueries.rrfLexRank(
        PipelineQueries.bm25Rank(post, dl, df, stats, 8, 21), 20)
      val dns = graft.ops.SimilarityOps.cosineTopKOfVecs(store, "vec_id < 8", 20)
        .selectExpr("q_id", "c_id AS doc_id", "rn AS rank_dense")
      val fused = PipelineQueries.rrfFuse(lex, dns, 5)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      val expected = PipelineQueries.hybridRrfTakedown(spark, sf0001)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(fused == expected && expected.nonEmpty,
        "serving from maintained state must equal the from-scratch survivors' fusion")
    } finally q.stop()
  }

  test("online unigram token counting replays to the exact batch encode") {
    import graft.queries.PipelineQueries
    def rowKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_chars"))
    val batch = PipelineQueries.uniEncode(spark, sf0001).collect().map(rowKey).toSet
    // the stateless scorer over the static table is bit-identical
    val model = PipelineQueries.uniModel(spark, sf0001)
    val scored = PipelineQueries.uniScore(
      graft.sources.Tables.documents(spark, sf0001), model).collect().map(rowKey).toSet
    assert(scored == batch && batch.nonEmpty)
    // live replay: a stateless append stream emits EVERY row
    val q = StreamingJobs.uniScoreStream(spark, sf0001)
      .writeStream.format("memory").queryName("uni_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("uni_stream").collect().map(rowKey).toSet == batch)
    } finally q.stop()
  }

  test("online DSIR scoring replays to the exact batch weights") {
    import graft.queries.PipelineQueries
    def rowKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_feats"),
        r.getAs[Long]("logw_q"), r.getAs[Boolean]("selected"))
    val batch = PipelineQueries.dsirWeights(spark, sf0001).collect().map(rowKey).toSet
    // the stateless scorer over the static table is bit-identical
    val arr = PipelineQueries.dsirModelArray(spark, sf0001)
    val scored = PipelineQueries.dsirScore(
      graft.sources.Tables.documents(spark, sf0001), arr).collect().map(rowKey).toSet
    assert(scored == batch && batch.nonEmpty)
    // live replay: a stateless append stream emits EVERY row — full
    // equality, not a watermark-bounded subset
    val q = StreamingJobs.dsirScoreStream(spark, sf0001)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dsir_stream").collect().map(rowKey).toSet == batch)
    } finally q.stop()
  }
}
