package graft.io

import java.io.File
import java.nio.file.{FileSystemException, Files, StandardCopyOption}
import java.util.UUID

import graft.streaming.SegmentedState

/**
 * Build-then-rename publication of an immutable directory: the one commit
 * step for persisted state that is built once and then only read
 * (indexes, models, generated corpora).
 *
 * An existing `dest` directory is the only sign of completeness. A build
 * writes into a fresh sibling `.<name>.tmp-<uuid>`, and one atomic rename
 * onto `dest` is its last step, so a reader sees either nothing or the
 * whole artifact. A build that throws leaves nothing published; a process
 * that dies mid-build leaves an inert tmp sibling that no call ever
 * returns. Two builders racing for `dest` (threads or JVMs, no lock
 * involved) both finish, one rename wins, and the loser drops its copy
 * and returns the winner's.
 */
object PublishOnce {

  /** `dest`, built by `build` into the directory it is handed (which
    * does not exist yet) unless `dest` is already published. */
  def apply(dest: File)(build: File => Unit): File = {
    if (!dest.isDirectory) {
      val parent = dest.getAbsoluteFile.getParentFile
      parent.mkdirs()
      val tmp = new File(parent, s".${dest.getName}.tmp-${UUID.randomUUID}")
      try {
        build(tmp)
        // rename(2) refuses a non-empty target; on Linux the JDK reports
        // that ENOTEMPTY as a plain FileSystemException, so the test for
        // a lost race is the target's existence, not the exception type
        try Files.move(tmp.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if dest.isDirectory => () }
      } finally SegmentedState.deleteRecursively(tmp)
    }
    dest
  }
}
