package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions.lit

import graft.io.PublishOnce
import graft.queries.IndexState
import graft.streaming.SegmentedState

/** Persisted state is published by one atomic rename or not at all: a
  * build that dies between its outputs publishes nothing, a deleted
  * artifact is rebuilt, and racing builders (threads or sessions, no lock)
  * end with exactly one complete directory. */
class PublishOnceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpSiblings(dest: File): Seq[String] =
    Option(dest.getAbsoluteFile.getParentFile.list()).toSeq.flatten
      .filter(_.startsWith(s".${dest.getName}.tmp-"))

  /** A fresh fingerprint root: the testdata corpora copied to a new
    * directory, so the state builders find nothing published yet. */
  private def corpusCopy(tag: String): String = {
    val d = Files.createTempDirectory(s"graft-publish-$tag")
    Seq("documents.parquet", "embeddings.parquet").foreach(f =>
      Files.copy(new File(sf0001, f).toPath, d.resolve(f)))
    d.toString
  }

  /** Remove the state root that published `artifact`, and the corpus copy. */
  private def cleanUp(artifact: String, corpus: String): Unit = {
    SegmentedState.deleteRecursively(new File(artifact).getParentFile.getParentFile)
    SegmentedState.deleteRecursively(new File(corpus))
  }

  private def hashes(path: String): Seq[Long] =
    spark.read.parquet(path).as[Long].collect().toSeq.sorted

  test("a build that dies between its two outputs publishes nothing") {
    val dest = new File(Files.createTempDirectory("graft-publish-crash").toFile, "idx")
    // what a process killed mid-build leaves behind: a partial tmp sibling
    val stray = new File(dest.getParentFile, s".${dest.getName}.tmp-dead")
    spark.range(3).write.parquet(new File(stray, "a").getPath)
    val crash = intercept[IllegalStateException] {
      PublishOnce(dest) { tmp =>
        spark.range(5).write.parquet(s"$tmp/a")
        throw new IllegalStateException("killed between outputs")
      }
    }
    assert(crash.getMessage == "killed between outputs")
    assert(!dest.exists(), "a failed build must leave nothing published")
    assert(tmpSiblings(dest) == Seq(stray.getName), "the failed build's tmp is removed")
    var builds = 0
    val out = PublishOnce(dest) { tmp =>
      builds += 1
      spark.range(5).write.parquet(s"$tmp/a")
      spark.range(7).write.parquet(s"$tmp/b")
    }
    assert(builds == 1 && out == dest)
    assert(spark.read.parquet(s"$out/a").count() == 5)
    assert(spark.read.parquet(s"$out/b").count() == 7)
    // published: the next call serves it without building
    assert(PublishOnce(dest)(_ => builds += 1) == dest && builds == 1)
    SegmentedState.deleteRecursively(dest.getParentFile)
  }

  test("a deleted artifact is rebuilt on its next use") {
    val dir = corpusCopy("deleted")
    val p = IndexState.contamEvalIndexPaths(spark, dir)
    val first = hashes(p)
    assert(first.nonEmpty)
    SegmentedState.deleteRecursively(new File(p))
    assert(IndexState.contamEvalIndexPaths(spark, dir) == p)
    assert(new File(p).isDirectory, "the deleted state must be rebuilt")
    assert(hashes(p) == first)
    cleanUp(p, dir)
  }

  test("two threads publishing the same artifact: one whole payload wins") {
    val dest = new File(Files.createTempDirectory("graft-publish-race").toFile, "idx")
    // both builds finish writing before either publishes
    val written = new CountDownLatch(2)
    def build(who: String)(tmp: File): Unit = {
      spark.range(50).withColumn("who", lit(who)).write.parquet(s"$tmp/a")
      spark.range(30).withColumn("who", lit(who)).write.parquet(s"$tmp/b")
      written.countDown()
      assert(written.await(120, TimeUnit.SECONDS))
    }
    val outs = Await.result(Future.sequence(Seq("one", "two").map(w =>
      Future(PublishOnce(dest)(build(w))))), 5.minutes)
    assert(outs.distinct == Seq(dest), "both callers get the published path")
    val who = Seq("a", "b").flatMap(t =>
      spark.read.parquet(s"$dest/$t").select("who").as[String].collect()).distinct
    assert(who.length == 1, s"one payload published, never a mix: $who")
    assert(spark.read.parquet(s"$dest/a").count() == 50)
    assert(spark.read.parquet(s"$dest/b").count() == 30)
    assert(tmpSiblings(dest).isEmpty, "the losing build's tmp is removed")
    SegmentedState.deleteRecursively(dest.getParentFile)
  }

  test("two sessions building the same state agree with a single build") {
    val raced = corpusCopy("sessions")
    val single = corpusCopy("single")
    val paths = Await.result(Future.sequence(Seq(spark.newSession(), spark.newSession())
      .map(s => Future(IndexState.contamEvalIndexPaths(s, raced)))), 5.minutes)
    assert(paths.distinct.length == 1)
    val expect = IndexState.contamEvalIndexPaths(spark, single)
    assert(hashes(paths.head) == hashes(expect))
    assert(tmpSiblings(new File(paths.head)).isEmpty)
    cleanUp(paths.head, raced)
    cleanUp(expect, single)
  }
}
