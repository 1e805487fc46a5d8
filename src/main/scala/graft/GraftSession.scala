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
 *  - RocksDB state store for streaming: keeps flatMapGroupsWithState /
 *    windowed-agg state off-heap and spillable — required at 10^8+ keys;
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

  def builder(appName: String, cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", "graft.io.GraftLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.io.GraftLocalFs")
      .withExtensions(new GraftExtensions)
}
