package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.ops.{RankOps, WindowOps}
import graft.sources.Tables
import graft.streaming.{Detectors, StreamOps}
import graft.streaming.Detectors.{KeyedEvent, TxEvent}

/** The reference's stateful jobs as live twins over one delivery feed.
  *
  * The generated log is cut into fixed-size delivery files, fed in a closed
  * loop: the next file is linked into the watched directory only after
  * every twin has committed the previous one (its data batch and the
  * no-data batch that follows). The first delivery warms the twins up; the
  * timed feed goes in rounds of [[StreamWorkload.PerRound]] deliveries, and
  * a last delivery holds far-future events that move every watermark past
  * the log, so the drained outputs cover every window and every detector
  * timer.
  *
  * The twins read the watched directory with the engine's own events
  * decoder (`Tables.eventsDecode`); the engine's `StreamingJobs` sources
  * watch a single file name and would see only the first delivery.
  */
object StreamWorkload {
  val Windows = Seq("hot_items", "uv_hll")
  val Detect = Seq("login_fail", "tx_reconcile")
  val Twins: Seq[String] = Windows ++ Detect
  val Flush = "flush.parquet"
  /** Data deliveries that warm the twins up, and per timed round. */
  val WarmUp = 1
  val PerRound = 3

  /** One delivery's timings: ms until each twin had committed it, and the
    * JVM's CPU ms until the last had. */
  final case class Delivery(name: String, round: Int, twinMs: Map[String, Double], cpuMs: Double,
                            ok: Boolean) {
    def upTo(twins: Seq[String]): Double = twins.map(twinMs).max
  }

  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r

  /** Highest file-source log offset any retained progress reports. */
  def logOffset(q: StreamingQuery): Long =
    q.recentProgress.flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset).flatMap(LogOffset.findFirstMatchIn(_)))
      .map(_.group(1).toLong)
      .maxOption.getOrElse(-1L)

  def start(spark: SparkSession, decodeDir: String, watch: String, ck: String,
            out: String): Seq[(String, StreamingQuery)] = {
    import spark.implicits._
    val (schema, normalizeTs) = Tables.eventsDecode(spark, decodeDir)
    def src: DataFrame = normalizeTs(spark.readStream.schema(schema).parquet(watch))
    def wm: DataFrame = src.withWatermark("ts", "1 hour")
    val item = get_json_object(col("props"), "$.k").cast("long")
    val views = col("event_type") === "view"
    def sink(name: String, df: DataFrame): StreamingQuery =
      df.writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", s"$ck/$name").queryName(name)
        .start(s"$out/$name")
    def keyed(df: DataFrame, hit: org.apache.spark.sql.Column): DataFrame =
      df.select(col("user_id").as("key"), col("ts").cast("long").as("tsSec"),
        col("event_id").as("id"), hit.as("hit"), col("ts"))

    // composed as StreamingJobs composes its twins: hot items windows the
    // watermarked stream in complete mode and re-ranks it in full on every
    // trigger; UV watermarks the filtered views
    val hot = WindowOps.slidingCount(
        wm.filter(views).select(item.as("item_id"), col("ts")),
        col("ts"), "1 hour", "15 minutes", col("item_id"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$ck/hot_items").queryName("hot_items")
      .foreachBatch { (b: DataFrame, _: Long) =>
        RankOps.topN(WindowOps.epochWindow(b), 3, Seq(col("window_start")),
            Seq(col("cnt").desc, col("item_id").asc))
          .select("window_start", "window_end", "item_id", "cnt", "rn")
          .write.mode("overwrite").parquet(s"$out/hot_items")
        ()
      }.start()
    val uv = sink("uv_hll", WindowOps.epochWindow(
        StreamOps.tumblingApproxDistinct(src.filter(views).select("user_id", "ts"),
          "ts", "1 hour", "1 day", col("user_id")))
      .select("window_start", "window_end", "uv_approx"))
    val login = sink("login_fail", Detectors.consecutive(
      keyed(wm, col("event_type") === "error").as[KeyedEvent], 2, 1800L,
      streaming = true).toDF())
    val tx = sink("tx_reconcile", Detectors.reconcile(
      keyed(wm.filter(col("event_type").isin("purchase", "click")),
        col("event_type") === "purchase").as[TxEvent],
      1800L, 1800L, streaming = true).toDF())
    Seq("hot_items" -> hot, "uv_hll" -> uv, "login_fail" -> login, "tx_reconcile" -> tx)
  }
}

final class StreamWorkload extends Workload {
  import Main.{median, ms}
  import StreamWorkload._

  private val pool = Executors.newFixedThreadPool(Twins.size, (r: Runnable) => {
    val t = new Thread(r, "perfbench-await"); t.setDaemon(true); t
  })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  override def oracles: Seq[String] = Seq("hot_items_topn", "unique_visitors", "login_fail")

  /** A set-up starts and stops four twins, about a second and a half. */
  override def setups: Int = 3

  private var twins: Seq[(String, StreamingQuery)] = Nil
  private var watch: File = _
  private var fed = 0

  private def data(c: Main.Conf): Seq[File] =
    new File(c.in, "deliveries").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != Flush).sortBy(_.getName).toSeq

  /** Link one delivery into the watched directory and wait until every
    * twin has committed it. */
  private def deliver(f: File, round: Int): Delivery = {
    val c0 = Main.cpuMs()
    val t0 = System.nanoTime()
    Files.createLink(new File(watch, f.getName).toPath, f.toPath)
    val i = fed
    fed += 1
    val waits = twins.map { case (name, q) =>
      Future {
        try {
          q.processAllAvailable()
          // a trigger that listed the directory just before the link can
          // end the wait early; wait again until the file is in
          while (logOffset(q) < i) q.processAllAvailable()
          (name, ms(t0, System.nanoTime()), true)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] twin $name delivery ${f.getName}: $e")
            (name, ms(t0, System.nanoTime()), false)
        }
      }
    }
    val res = waits.map(Await.result(_, Duration.Inf))
    Delivery(f.getName, round, res.map(x => x._1 -> x._2).toMap, Main.cpuMs() - c0,
      res.forall(_._3))
  }

  /** Start every twin on an empty feed and stop it again: planning, the
    * checkpoint metadata and the first listing of the watched directory. */
  override def buildState(spark: SparkSession, dir: String, c: Main.Conf, setup: Int): Unit = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val root = s"${c.work}/stream/setup$setup"
    new File(root, "in").mkdirs()
    start(spark, dir, s"$root/in", s"$root/ck", s"$root/out").foreach(_._2.stop())
  }

  /** Start the measured twins and feed them the first deliveries. */
  override def warmup(spark: SparkSession, dir: String, c: Main.Conf): Unit = {
    watch = new File(c.work, "stream/in")
    watch.mkdirs()
    twins = start(spark, dir, watch.getAbsolutePath, s"${c.work}/stream/ck",
      s"${c.work}/out/stream")
    data(c).take(WarmUp).foreach(deliver(_, -1))
  }

  /** Rounds of [[PerRound]] deliveries until the time is up or the feed
    * runs out, then the end-of-feed delivery: an operation whose outputs
    * are checked, left out of the timings. */
  override def measure(spark: SparkSession, dir: String, c: Main.Conf, out: String,
                       trace: Option[Trace], m: mutable.Map[String, Double]): Seq[Op] = {
    val feed = data(c).drop(WarmUp).grouped(PerRound).filter(_.size == PerRound).toSeq
    val warmBatches = twins.map { case (n, q) => n -> q.lastProgress.batchId }.toMap
    val ds = Seq.newBuilder[Delivery]
    val startT = System.nanoTime()
    var r = 0
    while (r < feed.size && (r == 0 || ms(startT, System.nanoTime()) < c.seconds * 1000)) {
      feed(r).foreach(f => ds += deliver(f, r))
      r += 1
    }
    val stateRows = twins.map { case (n, q) =>
      n -> q.lastProgress.stateOperators.map(_.numRowsTotal).sum.toDouble }.toMap
    val flush = deliver(new File(c.in, s"deliveries/$Flush"), r)
    val progress = twins.map { case (n, q) =>
      n -> q.recentProgress.filter(_.batchId > warmBatches(n)).toSeq }.toMap
    twins.foreach(_._2.stop())
    pool.shutdown()
    val timed = ds.result()
    val all = timed :+ flush
    val rounds = timed.groupBy(_.round).values.toSeq
    m("pass_cpu_s") = median(rounds.map(_.map(_.cpuMs).sum)) / 1000
    m("op_cpu_p50_ms") = median(timed.map(_.cpuMs))
    m("streaming.delivery.wall_ms") = median(timed.map(_.upTo(Twins)))
    m("streaming.windows.wall_ms") = median(timed.map(_.upTo(Windows)))
    m("streaming.detect.wall_ms") = median(timed.map(_.upTo(Detect)))
    if (trace.isDefined) Twins.foreach { t =>
      val ps = progress(t)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      m(s"streaming.$t.trigger_ms") = median(ps.map(dur(_, "triggerExecution")))
      m(s"streaming.$t.add_batch_ms") = median(ps.map(dur(_, "addBatch")))
      m(s"streaming.$t.commit_ms") =
        median(ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")))
      m(s"streaming.$t.batches_per_delivery") = ps.size.toDouble / all.size
      m(s"streaming.$t.state_rows") = stateRows(t)
      m(s"streaming.$t.state_commit_ms") =
        median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
    }
    all.map(d => Op(d.name, d.round, d.upTo(Twins), d.cpuMs, d.ok, s"$out/stream"))
  }
}
