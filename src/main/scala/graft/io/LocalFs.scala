package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local filesystem without its shell fallbacks, for the `file:`
 * scheme (registered by [[graft.GraftSession]]).
 *
 * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file or
 * directory it creates with a permission, and `readlink` for every
 * `getFileLinkStatus`, which `FileContext.rename` calls twice. Structured
 * Streaming's offset and commit logs (create-temp + rename through
 * `FileContext`) and the RocksDB state uploads (`copyFromLocalFile`) pay
 * those forks on every trigger. This class answers the common cases
 * through `java.nio` and keeps Hadoop's code for the rest: modes with
 * sticky/setuid/setgid bits, a JVM without POSIX file attributes, and
 * symbolic links.
 */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    if ((mode & ~0x1ff) != 0 || !GraftRawLocalFileSystem.posix) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists owner rwx, group rwx, others rwx: mode bits 8..0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }
  }

  /** A path that is not a symbolic link is its own link status, exactly
    * what Hadoop returns once `readlink` has printed nothing. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The checksummed `FileSystem` (`fs.file.impl`): parquet writes, RocksDB's
  * `copyFromLocalFile`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The raw `AbstractFileSystem` over [[GraftRawLocalFileSystem]], with the
  * overrides of Hadoop's `local.RawLocalFs`. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`):
  * `FileContext`, which `CheckpointFileManager` uses for create-temp +
  * rename. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
