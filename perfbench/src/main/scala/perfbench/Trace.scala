package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** The traced run's view of the engine's jobs: every job, stage and task
  * the listener bus reports, keyed by the job group the harness sets
  * around each timed operation. Registered only when tracing, so the
  * end-to-end runs carry no listener. */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.Map[Int, Job]()
  private val stageGroup = mutable.Map[Int, String]()
  private val tasks = mutable.Map[String, Tasks]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = Job(g, e.time, -1L)
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val t = tasks.getOrElseUpdate(g, Tasks())
    t.n += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** (jobs, union of job spans in ms) of one job group. */
  def jobSpans(group: String): (Int, Long) = synchronized {
    val spans = jobs.values.filter(_.group == group)
      .map(j => (j.start, if (j.end < 0) j.start else j.end)).toSeq.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (spans.size, covered)
  }

  def tasksOf(group: String): Tasks = synchronized(tasks.getOrElse(group, Tasks()))
}

object Trace {
  final case class Job(group: String, start: Long, var end: Long)
  final case class Tasks(var n: Long = 0, var runMs: Long = 0,
                         var shuffleWrite: Long = 0, var spill: Long = 0)
}
