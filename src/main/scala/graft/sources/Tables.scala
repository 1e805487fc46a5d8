package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Fixed-schema readers for the driver-generated parquet testdata
 * (TESTDATA.md): TPC-H-ish star schema + an `events` stream table +
 * `documents`/`embeddings` for the data-pipeline operators.
 *
 * Schemas are carried by the parquet footers; readers are thin on purpose so
 * Catalyst sees a plain `FileSourceScanExec` and can push filters/prune
 * columns into the scan. Mirrors the reference's fixed-compile-time-schema
 * stance (SURVEY.md §1.4) without re-declaring what parquet already encodes.
 */
object Tables {
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")

  /** Schema for generator revisions that stored ts as INT64
    * TIMESTAMP(NANOS), which Spark's parquet reader rejects outright
    * (PARQUET_TYPE_ILLEGAL). Reading with an explicit LongType schema
    * yields the raw nanosecond ticks, converted to TimestampType (µs)
    * below — schema-on-read with a fixed, declared schema, mirroring the
    * reference's stance (SURVEY.md §1.4). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The driver's generator has shipped the events ts column in TWO
    * encodings across rounds: INT64 TIMESTAMP(NANOS) (rounds ≤7; Spark
    * rejects the annotation, so it must be read as raw longs and divided
    * to µs) and standard TIMESTAMP(MICROS) without timezone (round 8+;
    * Spark infers TimestampNTZType, and the old div-by-1000 would
    * compress the timeline 1000× and disagree with DuckDB's `epoch_us`
    * oracle view by the same factor). One footer probe per call site
    * picks the path: Some(inferred ts type) when the file carries a
    * readable timestamp annotation (NTZ or LTZ), None for the legacy
    * raw-nanos encoding. Either path lands on the identical µs timeline
    * the oracle sees (the NTZ→LTZ cast is the identity under the UTC
    * session timezone every graft entry point sets). */
  def eventsTsType(spark: SparkSession, dir: String): Option[DataType] = {
    // memoized per (dir, file size+mtime): the probe is one driver-side
    // footer read for a value that is constant per data directory, and
    // events() / eventsStreamRaw() call it per invocation — the
    // fingerprint (same scheme as ClusterState.stateRoot) keeps a
    // regenerated corpus from being served a stale answer
    val f = new java.io.File(s"$dir/events.parquet")
    val key = s"$dir#${f.length()}_${f.lastModified()}"
    tsTypeCache.computeIfAbsent(key, _ =>
      try {
        Option(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
          .filter(t => t == TimestampType || t == TimestampNTZType)
      } catch {
        // ONLY the expected legacy-encoding rejection (schema conversion
        // refusing INT64 TIMESTAMP(NANOS), surfaced as AnalysisException /
        // PARQUET_TYPE_ILLEGAL) selects the raw-nanos path. Anything else
        // (IO failure, interrupt) propagates instead of being cached as
        // "legacy" for the process lifetime — a transient probe error on a
        // MICROS file must not silently pin the wrong decode.
        case _: org.apache.spark.sql.AnalysisException => None
      })
  }
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[DataType]]()

  /** The (read schema, ts normalization) pair for `dir`'s events encoding —
    * the ONE place both the batch and the streaming reader get their
    * decode path from, so a future third encoding is handled here alone. */
  def eventsDecode(spark: SparkSession, dir: String): (StructType, DataFrame => DataFrame) =
    eventsTsType(spark, dir) match {
      case Some(t) =>
        val schema = StructType(
          eventsRawSchema.map(f => if (f.name == "ts") f.copy(dataType = t) else f))
        (schema, df => df.withColumn("ts", col("ts").cast(TimestampType)))
      case None =>
        // integer `div`, NOT `/`: ~1.7e18 ns exceeds double's 2^53 mantissa,
        // so float division would corrupt the low microseconds.
        (eventsRawSchema,
          df => df.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
    }

  /** The item id of a behavior event: the `k` field of its `props` JSON,
    * as a long (the reference's `itemId`; province and ad keys derive
    * from it too). */
  def itemId: Column = get_json_object(col("props"), "$.k").cast("long")

  /** Behavior-event stream table: the Spark analogue of the reference's
    * `UserBehavior`/`AdClickEvent`/`LoginEvent` CSV streams
    * (reference: hot-items-analysis/.../beans/UserBehavior.java:11-15).
    * Columns: event_id, ts (timestamp, µs), user_id, event_type
    * (view|click|purchase|signup|error), value, props (JSON string). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val (schema, normalizeTs) = eventsDecode(spark, dir)
    normalizeTs(spark.read.schema(schema).parquet(s"$dir/events.parquet"))
  }

  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
