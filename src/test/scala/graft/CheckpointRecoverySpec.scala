package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming fault tolerance: a windowed-count query with a file checkpoint,
 * stopped after the first half of the input and restarted on the second
 * half, must emit every closed window exactly once with full counts
 * (Structured Streaming's exactly-once contract via checkpointed offsets +
 * state store — the recovery story the reference never enables, SURVEY §4
 * "checkpointing unused").
 *
 * The first half arrives as more than ten files read one per micro-batch,
 * so the first run commits more state versions than a store keeps as
 * deltas (or changelogs) before it takes a snapshot, and the restart
 * recovers from a snapshot plus the deltas after it.
 */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  /** Appends the rows of `df` whose `key` lies in [lo, hi) to `dir`, one
    * file per `step` of `key` in ascending order. */
  private def appendSteps(df: DataFrame, key: Column, lo: Long, hi: Long, step: Long,
                          dir: String): Unit =
    (lo until hi by step).foreach { s =>
      df.filter(key >= s && key < math.min(s + step, hi)).coalesce(1)
        .write.mode("append").parquet(dir)
    }

  /** The files of a checkpoint's state directory, counted by extension
    * (checksum files left out). */
  private def stateFiles(ckpt: String): Map[String, Int] =
    Using.resource(Files.walk(Paths.get(ckpt, "state")))(_.iterator.asScala
      .map(_.getFileName.toString).filter(n => n.contains('.') && !n.endsWith(".crc"))
      .toSeq.groupMapReduce(n => n.substring(n.lastIndexOf('.') + 1))(_ => 1)(_ + _))

  private val UnloadOnCommit = "spark.sql.streaming.stateStore.unloadOnCommit"

  /** The first run: drained over more than ten micro-batches, then
    * stopped. With `unloadOnCommit` every commit runs the store's
    * maintenance at once and every batch reloads its state from the
    * checkpoint, so the snapshot a store takes every `minDeltasForSnapshot`
    * versions is on disk before the stop (Spark's 60 s maintenance timer
    * would not fire within the run), and the restart loads that snapshot
    * and replays the deltas or changelogs after it. */
  private def firstRun(q: => StreamingQuery, ckpt: String): Unit = {
    spark.conf.set(UnloadOnCommit, "true")
    try {
      val run = q
      try {
        run.processAllAvailable()
        assert(run.lastProgress.batchId >= 10, s"only ${run.lastProgress.batchId + 1} batches")
      } finally run.stop()
    } finally spark.conf.unset(UnloadOnCommit)
    val files = stateFiles(ckpt)
    info(s"state after the first run: ${files.toSeq.sorted.map { case (e, n) => s"$n $e" }.mkString(", ")}")
    // HDFS-backed store: <version>.snapshot; RocksDB: <version>.zip
    assert(files.contains("snapshot") || files.contains("zip"), s"no state snapshot: $files")
  }

  private def drain(q: StreamingQuery): Unit = try q.processAllAvailable() finally q.stop()

  test("windowed count resumes from checkpoint without duplicate or lost windows") {
    val srcDir = Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val events = graft.sources.Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"))
    val day = floor(col("ts").cast("long") / 86400L)
    val (firstDay, lastDay) = events.agg(min(day), max(day)).as[(Long, Long)].head()
    val midDay = (firstDay + lastDay + 1) / 2 // 2024-01-15 at sf0.001

    val batchExpected = graft.ops.WindowOps.epochWindow(
        graft.ops.WindowOps.tumblingCount(
          events.filter(col("event_type") === "view"), col("ts"), "1 day"))
      .select("window_start", "cnt").as[(Long, Long)].collect().toMap

    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def start() = {
      val counts = spark.readStream
        .schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .filter(col("event_type") === "view")
        .withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.WindowOps.epochWindow(counts)
        .select("window_start", "cnt")
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.as[(Long, Long)].collect()
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()
    }

    // phase 1: only the first half of the input exists, a file per day
    appendSteps(events, day, firstDay, midDay, 1, srcDir)
    firstRun(start(), ckpt)
    val afterFirst = emitted.synchronized(emitted.size)

    // phase 2: the rest + a sentinel arrive; restart from the checkpoint
    events.filter(day >= midDay).coalesce(1).write.mode("append").parquet(srcDir)
    Seq((java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")), "view"))
      .toDF("ts", "event_type").write.mode("append").parquet(srcDir)
    drain(start())

    val gotWindows = emitted.synchronized(emitted.toList)
      .filterNot(_._1 >= 1767225600L) // drop the sentinel's own window
    // exactly-once: no window emitted twice across the restart
    assert(gotWindows.map(_._1).distinct.size == gotWindows.size,
      s"duplicate windows across restart: $gotWindows")
    assert(gotWindows.toMap == batchExpected)
    assert(afterFirst > 0 && afterFirst < gotWindows.size,
      s"expected emissions both before and after restart ($afterFirst/${gotWindows.size})")
  }

  test("online dedup resumes from checkpoint: every doc decided exactly once") {
    import graft.streaming.Detectors
    val srcDir = Files.createTempDirectory("graft_dedup_src").toString
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt").toString
    // sec is doc_id + 100, NOT doc_id: an event whose event-time equals
    // the current watermark is dropped by Spark's stateful late filter
    // (ts <= wm), and doc 0 at epoch 0 would sit exactly on the initial
    // watermark — the allowed-lateness-0 boundary, not a recovery bug
    val docEvents = graft.sources.Tables.documents(spark, sf0001)
      .select(md5(col("text")).as("h"), col("doc_id"),
        (col("doc_id") + 100L).as("sec"))

    val batchExpected = Detectors
      .onlineDedup(docEvents.as[Detectors.DocEvent], streaming = false)
      .collect().map(d => d.doc_id -> ((d.h, d.keep, d.dup_of))).toMap

    val emitted = scala.collection.mutable.ArrayBuffer[Detectors.DedupDecision]()
    def start() = {
      val src = spark.readStream
        .schema(docEvents.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withWatermark("ts", "60 seconds")
        .as[Detectors.DocEvent]
      Detectors.onlineDedup(src, streaming = true)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Detectors.DedupDecision], _: Long) =>
          val rows = b.collect()
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()
    }

    // phase 1: first half of the corpus (doc_id IS the event clock), 20
    // documents a file
    appendSteps(docEvents, col("doc_id"), 0, 250, 20, srcDir)
    firstRun(start(), ckpt)
    val afterFirst = emitted.synchronized(emitted.size)

    // phase 2: the rest + a watermark-advancing sentinel; restart
    docEvents.filter(col("doc_id") >= 250).coalesce(1)
      .write.mode("append").parquet(srcDir)
    Seq(("zz_sentinel", 999999L, 1000000L)).toDF("h", "doc_id", "sec")
      .write.mode("append").parquet(srcDir)
    drain(start())

    val got = emitted.synchronized(emitted.toList)
      .filterNot(_.h == "zz_sentinel")
    // exactly-once: each document decided once across the restart, and the
    // decisions equal the batch fold (buffered state recovered intact)
    assert(got.map(_.doc_id).distinct.size == got.size,
      "a document was decided twice across the restart")
    assert(got.map(d => d.doc_id -> ((d.h, d.keep, d.dup_of))).toMap == batchExpected)
    assert(afterFirst > 0 && afterFirst < got.size,
      s"expected decisions both before and after restart ($afterFirst/${got.size})")
  }
}
