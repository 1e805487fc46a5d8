package perfbench

import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

object BatchWorkload {

  /** The reference's 13 jobs as their 16 batch queries, in two families. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "windows" -> Seq("hot_items_topn", "hot_pages_topn", "page_views",
      "unique_visitors", "uv_bitmap", "market_channel", "market_total", "ad_province"),
    "detect" -> Seq("login_fail", "login_fail_cep", "order_timeout",
      "order_timeout_full", "tx_match", "tx_unmatched", "ad_blacklist_kept",
      "ad_blacklist_warnings"))

  val Queries: Seq[String] = Families.flatMap(_._2)

  /** Untimed concurrent passes before the timed rounds, and the fewest
    * timed rounds a run makes. */
  val WarmPasses = 1
  val MinRounds = 2

  /** One query rep: ms until the query function returned its plan
    * (construction), until its output was written, and the JVM's CPU ms
    * over the same span. */
  final case class Rec(q: String, round: Int, constructMs: Double, ms: Double, cpuMs: Double,
                       ok: Boolean)

  /** Drop what a finished query left cached or checkpointed, so each
    * operation starts from the same session state. */
  def reset(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Whole-stage codegen classes Spark has compiled in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

final class BatchWorkload extends Workload {
  import BatchWorkload._
  import Main.{cpuMs, median, ms}

  private def run(spark: SparkSession, dir: String, q: String, round: Int,
                  outPath: String, clear: Boolean = true): Rec = {
    if (clear) reset(spark)
    spark.sparkContext.setJobGroup(s"$q#$round", q, interruptOnCancel = false)
    val c0 = cpuMs()
    val t0 = System.nanoTime()
    var t1 = t0
    val ok =
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        t1 = System.nanoTime()
        df.write.mode("overwrite").parquet(outPath)
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q round $round failed: $e")
          false
      }
    val t2 = System.nanoTime()
    val c2 = cpuMs()
    spark.sparkContext.clearJobGroup()
    Rec(q, round, ms(t0, t1), ms(t0, t2), c2 - c0, ok)
  }

  override def oracles: Seq[String] = Queries

  /** A set-up is a session start alone, a fraction of a second. */
  override def setups: Int = 5

  /** A full pass that runs [[Main.Cores]] queries at a time: it loads the
    * engine's classes and compiles its generated code in about two thirds
    * of the time a one-at-a-time pass takes. */
  override def warmup(spark: SparkSession, dir: String, c: Main.Conf): Unit = {
    val pool = Executors.newFixedThreadPool(Main.Cores)
    try (0 until WarmPasses).foreach { p =>
      val t0 = System.nanoTime()
      Queries.map(q => pool.submit(new Callable[Rec] {
        def call(): Rec = run(spark, dir, q, -1 - p, s"${c.work}/warm/$q", clear = false)
      })).foreach(_.get())
      System.err.println(f"[perfbench] warm-up pass $p: ${ms(t0, System.nanoTime())}%.0f ms")
    } finally pool.shutdown()
    reset(spark)
  }

  override def measure(spark: SparkSession, dir: String, c: Main.Conf, out: String,
                       trace: Option[Trace], m: mutable.Map[String, Double]): Seq[Op] = {
    val recs = Seq.newBuilder[Rec]
    val passes = Seq.newBuilder[(Double, Double)] // (wall ms, codegen compiles)
    val start = System.nanoTime()
    var round = 0
    while (round < MinRounds || ms(start, System.nanoTime()) < c.seconds * 1000) {
      val (t0, k0) = (System.nanoTime(), codegenCompiles)
      Queries.foreach(q => recs += run(spark, dir, q, round, s"$out/$q/r$round"))
      passes += ((ms(t0, System.nanoTime()), (codegenCompiles - k0).toDouble))
      System.gc()
      round += 1
    }
    val all = recs.result()
    val rounds = all.groupBy(_.round).values.toSeq
    def perRound(qs: Seq[String])(v: Rec => Double): Double =
      median(rounds.map(_.filter(r => qs.contains(r.q)).map(v).sum))
    // each query's median over the rounds, so a stall that hits a few
    // queries of one round does not move the sum
    val qCpu = Queries.map(q => q -> median(all.filter(_.q == q).map(_.cpuMs))).toMap
    m("pass_cpu_s") = Queries.map(qCpu).sum / 1000
    m("op_cpu_p50_ms") = median(Queries.map(qCpu))
    m("queries.pass.wall_ms") = median(passes.result().map(_._1))
    m("queries.pass.codegen_compiles") = median(passes.result().map(_._2))
    Queries.foreach(q => m(s"queries.$q.cpu_ms") = qCpu(q))
    Families.foreach { case (f, qs) =>
      m(s"queries.$f.cpu_ms") = qs.map(qCpu).sum
      m(s"queries.$f.wall_ms") = perRound(qs)(_.ms)
    }
    trace.foreach { t =>
      // the source layer alone: three full reads of the log through the
      // engine's reader
      val scans = (0 until 3).map { i =>
        val g = s"scan#$i"
        spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
        val t0 = System.nanoTime()
        Tables.events(spark, dir).write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        spark.sparkContext.clearJobGroup()
        (ms(t0, t1), g)
      }
      Thread.sleep(1000) // let the listener bus deliver the last task ends
      m("sources.events.scan_ms") = median(scans.map(_._1))
      m("sources.events.scan_tasks") = median(scans.map(s => t.tasksOf(s._2).n.toDouble))
      def group(r: Rec) = s"${r.q}#${r.round}"
      Families.foreach { case (f, qs) =>
        m(s"queries.$f.construct_ms") = perRound(qs)(_.constructMs)
        m(s"queries.$f.jobs") = perRound(qs)(r => t.jobSpans(group(r))._1.toDouble)
        m(s"queries.$f.driver_gap_ms") = perRound(qs)(r => r.ms - t.jobSpans(group(r))._2)
        m(s"queries.$f.tasks") = perRound(qs)(r => t.tasksOf(group(r)).n.toDouble)
        m(s"queries.$f.executor_run_ms") = perRound(qs)(r => t.tasksOf(group(r)).runMs.toDouble)
        m(s"queries.$f.shuffle_write_bytes") =
          perRound(qs)(r => t.tasksOf(group(r)).shuffleWrite.toDouble)
        m(s"queries.$f.spill_bytes") = perRound(qs)(r => t.tasksOf(group(r)).spill.toDouble)
      }
    }
    all.map(r => Op(r.q, r.round, r.ms, r.cpuMs, r.ok, s"$out/${r.q}/r${r.round}"))
  }
}
