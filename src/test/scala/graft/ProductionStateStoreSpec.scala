package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The stateful cases re-run on the state store the engine's sessions use,
  * [[GraftSession.StateStore]]: RocksDB with changelog checkpointing. The
  * other suites share a plain session on Spark's HDFS-backed store, so
  * only this suite runs RocksDB:
  *
  *  - the two [[CheckpointRecoverySpec]] restarts, whose first run commits
  *    more versions than `minDeltasForSnapshot`, so the restart loads a
  *    snapshot and replays the changelogs after it;
  *  - the quiet-key case of `consecutive` and `reconcile`: a drained key's
  *    removal reaches the store;
  *  - a guard on the processes a state commit starts. */
class ProductionStateStoreSpec extends CheckpointRecoverySpec with QuietKeyCases {
  override lazy val spark: SparkSession = SparkSpec.productionStore

  consecutiveGoesQuiet()
  reconcileGoesQuiet()

  private val Changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val RocksDbCommit = "org.apache.spark.sql.execution.streaming.state.RocksDB.commit"

  /** A keyed count over 25 micro-batches on `session`: the `rm` processes
    * started under `RocksDB.commit`, and the snapshots a changelog store
    * takes over as many versions, every partition counted. */
  private def commitForks(session: SparkSession): (Int, Long) = {
    import session.implicits._
    val input = MemoryStream[Long](41, session, None)
    val q = input.toDS().groupBy("value").count()
      .writeStream.format("memory").queryName("commit_forks").outputMode("update").start()
    try {
      val starts = ProcessStarts.during {
        (0L until 25L).foreach { b => input.addData((0L until 16L).map(_ + b)); q.processAllAvailable() }
      }
      val versions = q.lastProgress.batchId + 1
      assert(versions >= 25)
      val partitions = session.conf.get("spark.sql.shuffle.partitions").toLong
      val minDeltas = session.conf.get("spark.sql.streaming.stateStore.minDeltasForSnapshot").toLong
      (starts.count(s => s.program == "rm" && s.frames.contains(RocksDbCommit)),
        partitions * (versions / minDeltas))
    } finally q.stop()
  }

  test("state commits fork rm at most once per snapshot and partition") {
    val (forks, snapshots) = commitForks(spark)
    assert(forks <= snapshots, s"$forks rm starts from RocksDB.commit for $snapshots snapshots")
    // the guard is live: a store that snapshots every commit forks more
    val (forksOff, snapshotsOff) =
      commitForks(SparkSpec.sessionWith(GraftSession.StateStore :+ (Changelog -> "false")))
    assert(forksOff > snapshotsOff, s"$forksOff rm starts without changelog checkpointing")
    info(s"rm starts from RocksDB.commit: $forks with changelog checkpointing, $forksOff without")
  }
}
