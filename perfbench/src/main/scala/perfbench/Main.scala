package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up the workload several times
  * (session and the workload's own set-up), warm it up, then measure whole
  * rounds of its operations for the requested seconds (and at least the
  * workload's fewest rounds), and write every measurement to
  * `<work>/out/result.json` for run.py to check and report.
  *
  * Costs are the JVM's CPU time: on a shared virtual machine the wall time
  * of the same code moves with the time the hypervisor steals, which the
  * guest does not charge to the process.
  *
  * Usage: Main <behavior_batch|behavior_stream> <inDir> <workDir> <seconds> <trace 0|1>
  */
object Main {

  final case class Conf(workload: String, in: String, work: String, seconds: Double,
                        trace: Boolean)

  /** Spark's local parallelism: the host's cores, at most four. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU ms all threads of this JVM have used, native ones included. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  def session(c: Conf): SparkSession = {
    val s = graft.GraftSession.builder("perfbench", Cores)
      .master(s"local[$Cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(c.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(c.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fresh data directory of hard links to the generated inputs: the
    * engine keys its persisted state and its memos on the directory path,
    * so each set-up builds them anew from the same bytes. */
  def linkedDir(c: Conf, i: Int): String = {
    val d = new File(c.work, s"data_s$i")
    d.mkdirs()
    new File(c.in).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.createLink(new File(d, f.getName).toPath, f.toPath)
    }
    d.getAbsolutePath
  }

  def json(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1")
    val out = new File(c.work, "out")
    out.mkdirs()
    val workload: Workload = c.workload match {
      case "behavior_batch" => new BatchWorkload
      case "behavior_stream" => new StreamWorkload
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val m = mutable.LinkedHashMap[String, Double]()
    // the first set-up also loads Spark's classes, so it is never the median
    var spark: SparkSession = null
    var dir = ""
    val setups = (1 to workload.setups).map { i =>
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      dir = linkedDir(c, i)
      val (c0, t0) = (cpuMs(), System.nanoTime())
      spark = session(c)
      val (c1, t1) = (cpuMs(), System.nanoTime())
      workload.buildState(spark, dir, c, i)
      val (c2, t2) = (cpuMs(), System.nanoTime())
      System.err.println(f"[perfbench] setup $i: session ${ms(t0, t1)}%.0f ms (cpu ${c1 - c0}%.0f), " +
        f"state ${ms(t1, t2)}%.0f ms (cpu ${c2 - c1}%.0f)")
      (c1 - c0, c2 - c1, ms(t0, t2))
    }
    m("setup_s") = median(setups.map(s => s._1 + s._2)) / 1000
    m("setup.session_cpu_ms") = median(setups.map(_._1))
    m("setup.state_build_cpu_ms") = median(setups.map(_._2))
    m("setup.wall_ms") = median(setups.map(_._3))
    val w0 = System.nanoTime()
    workload.warmup(spark, dir, c)
    m("setup.warmup_ms") = ms(w0, System.nanoTime())
    val trace = if (c.trace) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ops = workload.measure(spark, dir, c, out.getAbsolutePath, trace, m)
    spark.stop()
    val oracle = workload.oracles.map(q => s"${json(q)}: ${json(graft.SparkEntry.oracleSql(q))}")
      .mkString("{", ", ", "}\n")
    Files.write(Paths.get(out.getAbsolutePath, "oracle_sql.json"), oracle.getBytes("UTF-8"))
    val result = ops.map(o => s"""{"name": ${json(o.name)}, "round": ${o.round}, """ +
        s""""ms": ${o.ms}, "cpu_ms": ${o.cpuMs}, "ok": ${o.ok}, "out": ${json(o.out)}}""")
      .mkString("{\"ops\": [", ", ", "], ") +
      m.map { case (k, v) => s"${json(k)}: $v" }.mkString("\"metrics\": {", ", ", "}}\n")
    Files.write(Paths.get(out.getAbsolutePath, "result.json"), result.getBytes("UTF-8"))
  }
}

/** One timed operation: a batch query rep or a stream delivery, with its
  * wall and CPU ms. */
final case class Op(name: String, round: Int, ms: Double, cpuMs: Double, ok: Boolean, out: String)

trait Workload {
  /** Engine queries whose oracle SQL checks the outputs. */
  def oracles: Seq[String]
  /** Set-ups per run; `setup_s` is their median. */
  def setups: Int
  /** The set-up work a deployment of the workload repeats per session. */
  def buildState(spark: SparkSession, dir: String, c: Main.Conf, setup: Int): Unit = ()
  /** One untimed pass that compiles and loads the workload's code paths. */
  def warmup(spark: SparkSession, dir: String, c: Main.Conf): Unit
  /** Whole rounds for `c.seconds`; end-to-end metrics into `m`, and the
    * per-layer ones when tracing. */
  def measure(spark: SparkSession, dir: String, c: Main.Conf, out: String,
              trace: Option[Trace], m: mutable.Map[String, Double]): Seq[Op]
}
