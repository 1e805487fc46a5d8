package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The plan tool over [[SparkEntry.queries]], on the session Bench runs
  * ([[Bench.session]]). Three modes:
  *
  *  - `runMain graft.Plans inventory <dir>` prints one markdown row per
  *    query: shuffle and broadcast exchanges in the pre-execution adaptive
  *    plan — the table behind PLANS.md. (Codegen spans only materialize at
  *    execution under AQE, so they are not countable here; iterative
  *    queries — dedup_clusters, pq_* — show their FINAL composed plan,
  *    their training/loop actions having already run during query
  *    construction.)
  *  - `runMain graft.Plans dump <outDir> <suffix> [query ...]` writes
  *    `<outDir>/<query>_<suffix>.txt`, the formatted physical plan of each
  *    query (the `plans/` artifacts), and prints its scan, exchange and
  *    join counts.
  *  - `runMain graft.Plans executed [query ...]` runs each query and prints
  *    its FINAL adaptive plan with its counts of parquet scans, reused and
  *    fresh exchanges — the only place AQE decisions (stage reuse,
  *    coalesced shuffle reads, broadcast demotions) are visible; the
  *    pre-execution plan cannot confirm them.
  *
  * `dump` and `executed` read Bench's data dir (`SPARK_GRAFT_SF_DIR`) and
  * take every query when given no names, as Bench does. */
object Plans {
  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "inventory" :: dir :: Nil => inventory(_, dir)
      case "dump" :: outDir :: suffix :: names =>
        val selected = SparkEntry.named(names)
        dump(_, selected, outDir, suffix)
      case "executed" :: names =>
        val selected = SparkEntry.named(names)
        executed(_, selected)
      case _ => throw new IllegalArgumentException("usage: graft.Plans " +
        "inventory <dir> | dump <outDir> <suffix> [query ...] | executed [query ...]")
    }
    val spark = Bench.session("graft-plans")
    try run(spark) finally spark.stop()
  }

  private def count(pattern: String, text: String): Int = pattern.r.findAllIn(text).size

  private def inventory(spark: SparkSession, dir: String): Unit = {
    println("| query | shuffle exch | broadcast exch |")
    println("|---|---|---|")
    SparkEntry.named(Nil).foreach { case (name, fn) =>
      try {
        val lines = fn(spark, dir).queryExecution.executedPlan.toString.linesIterator.toSeq
        val bcast = lines.count(_.contains("BroadcastExchange"))
        // ReusedExchange nodes reference an exchange planned elsewhere
        // (possibly a broadcast one) — counting them as fresh shuffles
        // would overstate the plan's exchange cost
        val shuffle = lines.count(l =>
          l.contains("Exchange ") && !l.contains("BroadcastExchange") &&
            !l.contains("ReusedExchange"))
        println(s"| $name | $shuffle | $bcast |")
      } catch {
        case e: Throwable => println(s"| $name | plan error: ${e.getMessage} | |")
      }
    }
  }

  private def dump(spark: SparkSession, selected: Seq[(String, SparkEntry.Q)],
                   outDir: String, suffix: String): Unit = {
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      val txt = fn(spark, Bench.sfDir).queryExecution.explainString(FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plans] $name scans=${count("Scan parquet", txt)} " +
        s"exchanges=${count("\\bExchange\\b", txt)} " +
        s"bhj=${count("BroadcastHashJoin", txt)} smj=${count("SortMergeJoin", txt)}")
    }
  }

  private def executed(spark: SparkSession, selected: Seq[(String, SparkEntry.Q)]): Unit =
    selected.foreach { case (name, fn) =>
      val df = fn(spark, Bench.sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      println(s"== $name executed plan ==\n$plan")
      println(s"[plans] $name SCANS=${count("Scan parquet", plan)} " +
        s"REUSEDEXCH=${count("ReusedExchange", plan)} " +
        s"EXCH=${count("(?<!Reused)Exchange", plan)}")
    }
}
