package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes this JVM starts while a block runs, read from a JFR
  * recording of `jdk.ProcessStart` events with their stack traces. */
object ProcessStarts {

  /** One process start: its command line, the id of the Java thread that
    * started it, and that thread's frames as `Class.method`, innermost
    * first. */
  final case class Start(command: String, threadId: Long, frames: Seq[String]) {
    /** The program's file name: `rm` for `/bin/rm -rf …`. */
    def program: String = Paths.get(command.trim.split("\\s+")(0)).getFileName.toString
  }

  def during(body: => Unit): Seq[Start] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && e.getThread != null)
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
          Start(e.getString("command"), e.getThread.getJavaThreadId, frames)
        }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }
}
