package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Drop Spark-side state a finished query leaked (persisted RDDs from
    * iterative fixpoints' `localCheckpoint`, cached plans), so each timed
    * run starts from the same clean session. Without this, queries late in
    * the alphabet were measured against the accumulated block-manager
    * residue of ~80 earlier queries — the r5 artifact recorded same-code
    * inflations up to 10× on tail queries for exactly this reason.
    * Unpersist is BLOCKING: with blocking=false the block removal raced
    * the next rep's execution (the r6 forensics suspect for the
    * item_pagerank 4–23 s rep spread — checkpoint blocks of a previous
    * rep being evicted mid-measurement). */
  private[graft] def resetState(spark: SparkSession): Unit = {
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // ContextCleaner only reaps a query's shuffle files after its
      // ShuffleDependency objects are GC'd; without an explicit GC a
      // shuffle-heavy query's files accrete across its OWN reps on a
      // disk-pressured host (the r9 escalating-rep residue:
      // cluster_scorecard reps 1.16 → 7.23 → 17.1 s with unchanged work,
      // the driver-local union-find inside it degrading 18 → 715 ms).
      // The brief sleep gives the async cleaner thread a window to drain
      // the reference queue before the next rep starts writing.
      System.gc(); Thread.sleep(100)
    } catch { case e: Throwable => System.err.println(s"[bench] reset: $e") }
  }

  /** Cumulative stop-the-world GC millis of this JVM (all collectors). */
  private def gcMillis(): Long = {
    var s = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  /** Bytes currently held by Spark block-manager directories (shuffle
    * .data/.index files + spilled blocks) under java.io.tmpdir — the
    * on-disk residue ContextCleaner is responsible for reaping. Sampled
    * per rep so the artifact can correlate inflated reps with disk
    * accretion (r9 "What's wrong #3" forensics). */
  private def blockMgrDiskBytes(): Long = {
    def size(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foldLeft(0L)((a, c) => a + size(c))
    try {
      val tmp = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("blockmgr-"))
        .foldLeft(0L)((a, d) => a + size(d))
    } catch { case _: Throwable => -1L }
  }

  /** The data dir of a bench run (`SPARK_GRAFT_SF_DIR`). */
  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The session every main but ScaleProbe runs on: [[GraftSession]] at
    * `SPARK_GRAFT_CPUS` local cores (4 by default), no UI. */
  private[graft] def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(appName, cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `runMain graft.Bench [query ...]` times the named [[SparkEntry.queries]]
    * entries, or all of them, and writes BENCH_LAST.json, BENCH_RUNS.json
    * and CC_ROUNDS.json in the working directory. */
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.named(args.toSeq)
    val sfDir = Bench.sfDir
    // median-of-N per query (N=3 default): one shot was hostage to ambient
    // host contention — the r5 gate artifact disagreed with same-code
    // reruns by up to 10× on single queries
    // malformed env values degrade to the defaults rather than aborting
    // the whole bench run with a NumberFormatException
    val reps = scala.util.Try(sys.env("SPARK_GRAFT_BENCH_REPS").trim.toInt)
      .getOrElse(3).max(1)
    val spark = session("graft-bench")
    // per-query untimed warmup reps (below) replace the old global "warm
    // the first query" pass: JIT/codegen warmup of a CODEPATH otherwise
    // lands on whichever query reaches it first alphabetically — the r6
    // artifact recorded dedup_clusters (first user of the CC fixpoint
    // path) 3.8× SLOWER than its own superset query train_split_safe for
    // exactly this reason, and the same mechanism inverted the pair the
    // other way in r5. One still-global pass warms the session itself.
    val warmups = scala.util.Try(sys.env("SPARK_GRAFT_BENCH_WARMUPS").trim.toInt)
      .getOrElse(1).max(0)
    try spark.range(16).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    // prime the persisted-state setup stages OUTSIDE any timed rep: the
    // dedup_clusters_persist / _takedown_persist queries exist to price
    // delivery/takedown-sized cost, and with SPARK_GRAFT_BENCH_WARMUPS=0
    // their lazy one-time base resolution would otherwise land inside
    // timed rep 0 (and its CC runs inside CC_ROUNDS.json), contradicting
    // the very claim the rows measure. A prime that fails ends the run:
    // carrying on would fold the build into timed rep 0 instead
    try {
      graft.queries.ClusterState.baseStatePaths(spark, sfDir,
        graft.queries.ClusterState.PersistDeliveryMod)
      graft.queries.ClusterState.fullStatePaths(spark, sfDir)
      graft.queries.IndexState.bm25BasePaths(spark, sfDir)
      graft.queries.IndexState.bm25FullPaths(spark, sfDir)
      graft.queries.IndexState.nbModelPaths(spark, sfDir)
      graft.queries.IndexState.contamIndexPaths(spark, sfDir)
      graft.queries.IndexState.contamEvalIndexPaths(spark, sfDir)
      graft.queries.IndexState.bm25ForwardPaths(spark, sfDir)
      graft.queries.IndexState.denseStorePaths(spark, sfDir)
      graft.queries.IndexState.pqCodesPaths(spark, sfDir)
      graft.queries.IndexState.pqCellCodesPaths(spark, sfDir)
      graft.queries.IndexState.bm25ImpactPaths(spark, sfDir)
      graft.queries.IndexState.bm25ImpactRankedPaths(spark, sfDir)
      graft.queries.IndexState.rrfBruteFusedPaths(spark, sfDir)
      graft.ops.ClusterOps.CcStats.drain()
    } catch { case e: Throwable => spark.stop(); throw e }
    // per-(query, rep) CC fixpoint forensics: variant, round count, and
    // per-round wall millis, drained from ClusterOps.CcStats after each
    // timed rep — the r7 verdict's open question (driver-measured
    // dedup_clusters at 5x its builder-local cost with identical plans)
    // needs per-round evidence FROM THE GATE ENVIRONMENT to name the
    // mechanism; CC_ROUNDS.json below is that artifact.
    val ccRounds = scala.collection.mutable.ArrayBuffer[(String, Int, graft.ops.ClusterOps.CcStats.Run)]()
    // wall-clock anchor for per-rep start offsets (BENCH_RUNS "starts"):
    // the r8 gate artifact showed two alphabetically ADJACENT queries
    // inflated together with a mid-query recovery (hot_pages rep 3 back at
    // r7 cost) — a transient host-contention window. Absolute rep timing
    // makes such windows directly visible across query boundaries instead
    // of inferred from adjacency.
    val benchT0 = System.nanoTime()
    val allRuns = selected.map { case (name, fn) =>
      // untimed: compiles/loads this query's whole codepath (codegen
      // classes, expression JIT, parquet footers) so rep 1 measures the
      // plan, not the first-touch costs
      (0 until warmups).foreach { _ =>
        resetState(spark)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // failures surface in timed reps
      }
      graft.ops.ClusterOps.CcStats.drain() // warmup runs don't pollute the artifact
      val times = (0 until reps).map { rep =>
        resetState(spark)
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val startOff = (t0 - benchT0) / 1e9
        // noop sink forces full materialization of every output column —
        // count() would let Catalyst prune the computed columns away.
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        // per-rep forensics (r9 "What's wrong #3"): GC millis spent INSIDE
        // the rep and block-manager disk bytes at rep end — distinguishes
        // heap/GC pressure from shuffle-file accretion when reps escalate
        val gcMs = gcMillis() - gc0
        val diskB = blockMgrDiskBytes()
        graft.ops.ClusterOps.CcStats.drain().foreach(r => ccRounds += ((name, rep, r)))
        // a crashed run must be distinguishable from a fast success:
        // elapsed-until-failure rides along negated
        (if (ok) sec else -sec, startOff, gcMs, diskB)
      }
      name -> times
    }
    // a query is failed if ANY rep crashed; otherwise score the median rep
    val results = allRuns.map { case (name, times) =>
      val secs = times.map(_._1)
      name -> secs.find(_ < 0).getOrElse(secs.sorted.apply(secs.length / 2))
    }.toMap
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // millisecond precision keeps the artifact line short: the round-3
    // capture lost 11 of 78 per-query times because the full-precision
    // line outgrew the driver's stdout tail buffer
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    import Verify.jsonString
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => jsonString(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map(jsonString).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"warmups":$warmups,"queries":$qs,"failed":$failedJson,"sf":${jsonString(sfDir)}}"""
    // one `"<field>":{"<query>":[per-rep values]}` member of BENCH_RUNS.json
    def perRep(field: String, value: ((Double, Double, Long, Long)) => String): String =
      allRuns.map { case (k, ts) => jsonString(k) + ":" + ts.map(value).mkString("[", ",", "]") }
        .mkString(jsonString(field) + ":{", ",", "}")
    // durable copies first: even if the stdout tail is clipped again, the
    // full metrics object survives as a whole file in the repo; the
    // per-rep detail (for variance audits) goes to its own file so the
    // stdout line stays within the driver's tail buffer
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LAST.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val runsJson = Seq(
        perRep("runs", t => fmt(t._1)),
        // per-rep start offsets (seconds since bench start): lets a
        // variance audit see whether inflated reps share one wall-clock
        // window across adjacent queries (host contention) or track the
        // query itself (a real plan cost)
        perRep("starts", t => fmt(t._2)),
        // per-rep stop-the-world GC millis inside each rep + block-manager
        // disk megabytes at rep end (r9 escalating-rep forensics: is an
        // inflated rep paying GC, reading past residue, or neither?)
        perRep("gc_ms", _._3.toString),
        // -1 = sampling failed; keep the sentinel instead of
        // truncating it into a plausible-looking 0 MB
        perRep("disk_mb", t => (if (t._4 < 0) -1L else t._4 / (1024 * 1024)).toString)
      ).mkString(s"""{"reps":$reps,""", ",", "}\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_RUNS.json"),
        runsJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val ccJson = ccRounds
        .map { case (q, rep, r) =>
          s"""{"query":${jsonString(q)},"rep":$rep,"variant":${jsonString(r.variant)},"rounds":${r.rounds},""" +
            s""""total_ms":${r.totalMillis},"round_ms":${r.roundMillis.mkString("[", ",", "]")}}"""
        }
        .mkString("[", ",\n ", "]\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("CC_ROUNDS.json"),
        ccJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] file write: $e") }
    spark.stop()
    // the JSON line is the FINAL stdout of the process — nothing (not even
    // Spark shutdown chatter) may land after it in the captured tail
    println(json)
  }
}
