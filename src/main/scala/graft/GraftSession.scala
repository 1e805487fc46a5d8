package graft

import org.apache.spark.sql.SparkSession

/**
 * Engine-tuned session factory: one place that encodes the scale defaults
 * (SURVEY.md §7.4-7) so every entry point — Verify, Bench, user code —
 * starts from the same plan-quality baseline.
 *
 *  - AQE on: runtime coalescing, skew-join splitting, join re-planning;
 *  - shuffle partitions sized to the machine, not Spark's default 200
 *    (on a real cluster: ~2-3× total executor cores, or AQE-coalesced);
 *  - RocksDB state store for streaming, with changelog checkpointing
 *    ([[StateStore]]): keeps flatMapGroupsWithState / windowed-agg state
 *    off-heap and spillable — required at 10^8+ keys — and makes a
 *    micro-batch's state durable by writing a changelog file instead of a
 *    full snapshot;
 *  - UTC session timezone (event-time determinism + oracle parity);
 *  - a whole-stage codegen cache that holds every generated class of a
 *    full pass of the engine's queries, so a repeated query reuses its
 *    compiled code instead of compiling (and JIT-warming) it again;
 *  - the `file:` scheme served by [[graft.io.GraftLocalFileSystem]] and
 *    [[graft.io.GraftLocalFs]], Hadoop's local filesystem without its shell
 *    fallbacks: without libhadoop, stock Hadoop forks `chmod` per created
 *    file and `readlink` per `FileContext` rename, on every streaming
 *    commit. `FileSystem.get` caches the `file:` filesystem once per JVM,
 *    so this applies only if a session from this builder is the JVM's
 *    first; the `FileContext` side is created per use and always applies;
 *  - graft SQL functions injected via [[GraftExtensions]].
 */
object GraftSession {
  /** Spark's codegen cache bound (default 100; a static conf). One sf0.001
    * `graft.Verify` pass over all 173 queries compiles 2,358–2,470
    * distinct generated classes (`CodegenMetrics`), so this holds a full
    * pass. A second pass in the same JVM still compiles 1,365 classes
    * whose code differs from the first pass's, with this bound or with
    * 100,000 alike; the 16 reference-job queries compile none. */
  private val CodegenCacheEntries = 4000

  /** The state-store settings every session of this builder carries.
    *
    * Without changelog checkpointing, RocksDB commits a full snapshot for
    * every state partition on every micro-batch: it flushes the memtable,
    * builds a native checkpoint, uploads and zips its files, and forks
    * `rm -rf` twice (`JavaUtils.deleteRecursively`). With it, a commit
    * writes the batch's changes to a `<version>.changelog` file; a
    * snapshot is taken only every `minDeltasForSnapshot` (10) versions and
    * uploaded by the maintenance thread (every 60 s), and recovery loads
    * the latest uploaded snapshot and replays the changelogs after it.
    * This is the per-batch commit log with incrementally durable state of
    * Structured Streaming (SIGMOD 2018, §6), and what Flink's incremental
    * checkpoints give the reference's stateful jobs.
    *
    * On `perfbench/run.py --workload behavior_stream --seconds 5`, 21
    * interleaved pairs on a shared 4-vCPU host: `pass_cpu_s` 24.74 →
    * 23.14 CPU s (medians), lower in 17 of 21 pairs; in traced runs each
    * twin's `state_commit_ms` fell from 195–236 to 39–45 ms (medians of 3
    * pairs) with the same `state_rows`, and a JFR-recorded run started 50
    * processes where the parent started 318 (`RocksDB.commit`: 12 vs 280).
    *
    * Session confs, so a test can apply them to `spark.newSession()`. */
  private[graft] val StateStore: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  def builder(appName: String, cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    StateStore.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", "graft.io.GraftLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.io.GraftLocalFs")
      .withExtensions(new GraftExtensions)
}
