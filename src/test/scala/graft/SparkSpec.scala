package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per JVM across suites. It is a
  * plain session, not a [[GraftSession]]: Spark's HDFS-backed state store,
  * the stock `file:` filesystem, the default codegen cache. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A new session of the shared context with `conf` set on it. */
  def sessionWith(conf: Seq[(String, String)]): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** The shared context with the engine's state store: RocksDB with
    * changelog checkpointing, as every [[GraftSession]] has it. */
  lazy val productionStore: SparkSession = sessionWith(GraftSession.StateStore)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Event-time-bucketed shuffle: disorder bounded by `bucketSec`, buckets
    * delivered in order — arrival is out-of-order but never later than the
    * watermark delay, so a streaming run must equal the batch run (late
    * events beyond the watermark are dropped by design, like Flink's
    * allowed-lateness 0). */
  def boundedDisorder[T](evs: Seq[T], rnd: scala.util.Random, bucketSec: Long)(
      ts: T => Long): Seq[Seq[T]] =
    evs.groupBy(e => ts(e) / bucketSec).toSeq.sortBy(_._1)
      .map { case (_, g) => rnd.shuffle(g) }
}
