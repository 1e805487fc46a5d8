package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * F6 stateful blacklist filter (SURVEY.md §2.3): the reference passes
 * clicks through per (userId, adId) until the threshold-th click of the
 * day, emits one warning, then drops the rest until the midnight reset
 * (market-analysis/.../AdStatisticsByProvinceWithoutBlacklist.java:117-179).
 *
 * Batch semantics are a rank-per-(key, day) — fully declarative, one
 * shuffle, codegen'd. The day boundary is the event-time day (the
 * reference's processing-time midnight timer is re-specified as event-time
 * per SURVEY.md §7.4-4). The streaming twin is
 * [[graft.streaming.Detectors.blacklist]] (flatMapGroupsWithState).
 */
object StatefulOps {

  /** Clicks that pass the filter: rank within (keys..., day) by event time
    * ≤ threshold. Emits `day_start` (epoch s) and `rn`. */
  def blacklistKept(df: DataFrame, tsSec: Column, id: Column,
                    threshold: Int, keys: Column*): DataFrame = {
    val withDay = df.withColumn("day_start", (tsSec.cast("long") / 86400).cast("long") * 86400)
    val w = Window.partitionBy(keys :+ col("day_start"): _*).orderBy(tsSec.asc, id.asc)
    withDay.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= threshold)
  }

  /** One warning per (keys..., day) whose click count exceeds `threshold`,
    * with the formatted message (P7, ...WithoutBlacklist.java:158). */
  def blacklistWarnings(df: DataFrame, tsSec: Column,
                        threshold: Int, keys: Column*): DataFrame = {
    val withDay = df.withColumn("day_start", (tsSec.cast("long") / 86400).cast("long") * 86400)
    withDay.groupBy(keys :+ col("day_start"): _*)
      .agg(count(lit(1)).as("click_cnt"))
      .filter(col("click_cnt") > threshold)
      .withColumn("warning",
        concat(lit("click over "), lit(threshold).cast("string"), lit(" times today")))
  }
}
