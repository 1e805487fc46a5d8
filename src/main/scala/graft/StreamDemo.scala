package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{Detectors, StreamOps}
import graft.streaming.Detectors.KeyedEvent

/**
 * Runnable example of the streaming surface: a login-fail CEP detector and
 * a sliding window count fed by a MemoryStream, watermark-driven, append
 * mode — the streaming twin of the batch queries in SparkEntry.
 */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-stream-demo", 4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // 2 users; user 1 fails 3x within the horizon, user 2's run is broken
    val events = Seq(
      KeyedEvent(1, 100, 1, hit = true), KeyedEvent(1, 110, 2, hit = true),
      KeyedEvent(1, 120, 3, hit = true), KeyedEvent(2, 100, 4, hit = true),
      KeyedEvent(2, 105, 5, hit = false), KeyedEvent(2, 110, 6, hit = true))

    val input = MemoryStream[KeyedEvent](1, spark, None)
    val withWm = input.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "10 seconds")
      .as[KeyedEvent]
    val cep = Detectors.consecutive(withWm, n = 3, withinSec = 60, streaming = true)
      .writeStream.format("memory").queryName("alarms").outputMode("append").start()

    val input2 = MemoryStream[KeyedEvent](2, spark, None)
    val counts = StreamOps.slidingCount(
      input2.toDF().withColumn("ts", timestamp_seconds(col("tsSec"))),
      "ts", "10 seconds", "60 seconds", "30 seconds", col("key"))
    val win = counts.writeStream.format("memory").queryName("win")
      .outputMode("append").start()

    input.addData(events)
    input2.addData(events)
    cep.processAllAvailable(); win.processAllAvailable()
    input.addData(KeyedEvent(9, 10000, 99, hit = false)) // advance watermark
    input2.addData(KeyedEvent(9, 10000, 99, hit = false))
    cep.processAllAvailable(); win.processAllAvailable()

    println("=== CEP alarms (expect exactly user 1) ===")
    spark.table("alarms").show(false)
    println("=== closed sliding windows ===")
    spark.table("win").orderBy("window").show(20, false)
    cep.stop(); win.stop()

    // fixed-schema CSV source → apache-log parse → tagged splitter sink
    val tmp = java.nio.file.Files.createTempDirectory("graft_demo")
    val csv = tmp.resolve("UserBehavior.csv")
    java.nio.file.Files.writeString(csv,
      "543462,1715136,4756105,pv,1511658000\n662867,2244074,1575622,buy,1511658060\n")
    println("=== CSV source (fixed schema, event-time ts) ===")
    graft.sources.EventSources.readCsv(spark, csv.toString,
      graft.sources.EventSources.userBehaviorSchema).show(false)

    println("=== apache.log parse ===")
    graft.sources.EventSources.parseApacheLog(Seq(
      "83.149.9.216 - - 17/05/2015:10:05:03 +0000 GET /kibana-search.png")
      .toDF("value")).show(false)

    println("=== composable pattern NFA: fail x2 consecutive, then success ===")
    import graft.cep.PatternDetector
    import graft.cep.PatternDetector.{PatternSpec, Stage}
    val patEvents = Seq(
      KeyedEvent(1, 100, 1, hit = true), KeyedEvent(1, 110, 2, hit = true),
      KeyedEvent(1, 120, 3, hit = false), // completes for user 1
      KeyedEvent(2, 100, 4, hit = true), KeyedEvent(2, 105, 5, hit = false),
      KeyedEvent(2, 110, 6, hit = true)) // user 2's run broken
    val patIn = MemoryStream[KeyedEvent](4, spark, None)
    val patStream = patIn.toDS()
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "10 seconds")
      .as[KeyedEvent]
    val patQ = PatternDetector.detect(patStream,
        PatternSpec(Seq(Stage(_.hit, times = 2, consecutive = true),
          Stage(e => !e.hit)), withinSec = 60), streaming = true)
      .writeStream.format("memory").queryName("pat").outputMode("append").start()
    patIn.addData(patEvents); patQ.processAllAvailable()
    patIn.addData(KeyedEvent(9, 10000, 99, hit = true)); patQ.processAllAvailable()
    spark.table("pat").show(false) // expect exactly user 1, events 1..3
    patQ.stop()

    println("=== tagged splitter (side-output pattern) ===")
    val input3 = MemoryStream[(String, Long)](3, spark, None)
    val split = graft.sinks.Sinks.splitByTag(input3.toDF().toDF("tag", "v"), "tag",
      Map(
        "alarm" -> (df => { println(s"alarm sink got ${df.count()} rows") }),
        "ok" -> (df => { println(s"ok sink got ${df.count()} rows") }))).start()
    input3.addData(("alarm", 1L), ("ok", 2L), ("ok", 3L))
    split.processAllAvailable()
    split.stop()
    spark.stop()
  }
}
