package graft.io

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.ProcessStarts

/** The graft `file:` filesystem against Hadoop's stock local filesystem:
  * the same files, modes and statuses through both the `FileSystem` and
  * the `FileContext` API, and no `chmod`/`readlink`/`stat`/`ls` process
  * started on the paths streaming commits take. */
class LocalFsSpec extends AnyFunSuite {

  private val Stock = ("org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs")
  private val Graft = ("graft.io.GraftLocalFileSystem", "graft.io.GraftLocalFs")
  private val Umask = "027"

  // copyFromLocalFile reads through FileSystem.getLocal, the JVM-wide
  // cached `file:` filesystem: pin it to the default before any conf
  // below could become the cached one
  FileSystem.getLocal(new Configuration())

  private def conf(impl: (String, String)): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", impl._1)
    c.set("fs.AbstractFileSystem.file.impl", impl._2)
    c.set("fs.permissions.umask-mode", Umask)
    c
  }

  /** A fresh, uncached `FileSystem` and a `FileContext` for `impl`. */
  private def open(impl: (String, String)): (FileSystem, FileContext) = {
    val c = conf(impl)
    (FileSystem.newInstance(URI.create("file:///"), c), FileContext.getFileContext(URI.create("file:///"), c))
  }

  private def tmpDir(tag: String): JPath = Files.createTempDirectory(s"graft-localfs-$tag")
  private def hpath(p: JPath): Path = new Path(p.toUri)
  private def deleteTree(d: JPath): Unit =
    Files.walk(d).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Each implementation's run of `body` in its own directory, relative
    * names listed with their modes. */
  private def parity[A](body: (FileSystem, FileContext, JPath) => A): ((A, Seq[(String, Int)]), (A, Seq[(String, Int)])) = {
    def run(impl: (String, String)) = {
      val (fs, fc) = open(impl)
      val dir = tmpDir("parity")
      try {
        val a = body(fs, fc, dir)
        val listing = Files.walk(dir).iterator.asScala.filter(_ != dir).toSeq
          .map(p => dir.relativize(p).toString -> mode(p)).sorted
        (a, listing)
      } finally { fs.close(); deleteTree(dir) }
    }
    (run(Stock), run(Graft))
  }

  test("the graft classes serve both APIs") {
    val (fs, fc) = open(Graft)
    try {
      assert(fs.isInstanceOf[GraftLocalFileSystem])
      assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
      assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    } finally fs.close()
  }

  test("mkdirs and create apply the umask as stock Hadoop does") {
    val (stock, graft) = parity { (fs, _, dir) =>
      assert(fs.mkdirs(hpath(dir.resolve("a/b/c")), new FsPermission("775")))
      assert(fs.mkdirs(hpath(dir.resolve("d"))))
      val out = fs.create(hpath(dir.resolve("a/f")), new FsPermission("666"), true, 4096,
        1.toShort, 1L << 20, null)
      out.write("x".getBytes(UTF_8)); out.close()
      val out2 = fs.create(hpath(dir.resolve("d/e/g")))
      out2.close()
    }
    assert(graft == stock)
    val modes = graft._2.toMap
    assert(modes("a") == Integer.parseInt("750", 8) && modes("a/b/c") == Integer.parseInt("750", 8))
    assert(modes("a/f") == Integer.parseInt("640", 8))
    assert(modes("d/e/g") == Integer.parseInt("640", 8))
  }

  test("FileContext create + rename with OVERWRITE matches stock") {
    val (stock, graft) = parity { (_, fc, dir) =>
      def write(name: String, text: String): Unit = {
        val out = fc.create(hpath(dir.resolve(name)),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(text.getBytes(UTF_8)); out.close()
      }
      write("log/.1.tmp", "first")
      fc.rename(hpath(dir.resolve("log/.1.tmp")), hpath(dir.resolve("log/1")), Options.Rename.OVERWRITE)
      write("log/.1b.tmp", "second")
      fc.rename(hpath(dir.resolve("log/.1b.tmp")), hpath(dir.resolve("log/1")), Options.Rename.OVERWRITE)
      new String(Files.readAllBytes(dir.resolve("log/1")), UTF_8)
    }
    assert(graft == stock)
    assert(graft._1 == "second")
    assert(graft._2.map(_._1) == Seq("log", "log/.1.crc", "log/1"))
  }

  /** The fields a link status answers, with `dir` written as `<d>`;
    * `FileStatus.equals` compares paths only. */
  private def fields(s: FileStatus, dir: JPath) = {
    def rel(x: Path) = x.toString.replace(dir.toString, "<d>")
    (rel(s.getPath), s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) rel(s.getSymlink) else "", s.getLen)
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    val (stock, graft) = parity { (fs, fc, dir) =>
      Files.write(dir.resolve("file"), "abc".getBytes(UTF_8))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      // plain and scheme-qualified paths: Hadoop reads a link through
      // `readlink` of the path's string, so only the plain form resolves
      val paths = for (n <- Seq("file", "dir", "link"); p <- Seq(
        new Path(dir.resolve(n).toString), hpath(dir.resolve(n)))) yield p
      val viaFs = paths.map(p => fields(fs.getFileLinkStatus(p), dir))
      val viaFc = paths.map(p => fields(fc.getFileLinkStatus(p), dir))
      intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(dir.resolve("missing"))))
      intercept[FileNotFoundException](fc.getFileLinkStatus(hpath(dir.resolve("missing"))))
      (viaFs, viaFc)
    }
    assert(graft == stock)
    val (viaFs, viaFc) = graft._1
    val kinds = viaFs.map(f => (f._2, f._3, f._4))
    assert(kinds.take(4) == Seq.fill(2)((true, false, false)) ++ Seq.fill(2)((false, true, false)))
    assert(kinds(4) == ((false, false, true)), viaFs(4))
    // FileSystem qualifies the link target with the scheme
    assert(viaFs(4)._5.startsWith("file:") && viaFs(4)._5.endsWith("<d>/file"), viaFs(4))
    assert(viaFc.map(_._4).count(identity) >= 1, viaFc)
  }

  test("setPermission matches stock, sticky bit included") {
    val (stock, graft) = parity { (fs, _, dir) =>
      Files.createDirectory(dir.resolve("sticky"))
      Files.write(dir.resolve("f"), Array[Byte](1))
      fs.setPermission(hpath(dir.resolve("sticky")), new FsPermission("1755"))
      fs.setPermission(hpath(dir.resolve("f")), new FsPermission("604"))
      intercept[IOException](fs.setPermission(hpath(dir.resolve("missing")), new FsPermission("644")))
    }
    assert(graft._2 == stock._2)
    assert(graft._2.toMap == Map("sticky" -> Integer.parseInt("1755", 8), "f" -> Integer.parseInt("604", 8)))
  }

  /** The processes this thread started over 50 cycles of the filesystem
    * calls a streaming commit makes. */
  private def commitCycles(impl: (String, String)): Seq[ProcessStarts.Start] = {
    val (fs, fc) = open(impl)
    val dir = tmpDir("forks")
    val local = dir.resolve("local.sst")
    Files.write(local, Array.fill[Byte](1024)(7))
    val self = Thread.currentThread.getId
    try ProcessStarts.during {
      (1 to 50).foreach { i =>
        assert(fs.mkdirs(hpath(dir.resolve(s"state/$i"))))
        val tmp = hpath(dir.resolve(s"offsets/.$i.tmp"))
        val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(i); out.close()
        fc.rename(tmp, hpath(dir.resolve(s"offsets/$i")), Options.Rename.OVERWRITE)
        fs.copyFromLocalFile(false, true, hpath(local), hpath(dir.resolve(s"state/$i/$i.sst")))
      }
    }.filter(_.threadId == self) finally { fs.close(); deleteTree(dir) }
  }

  private def shellForks(starts: Seq[ProcessStarts.Start]): Seq[String] =
    starts.filter(s => Set("chmod", "readlink", "stat", "ls")(s.program)).map(_.command)

  test("commit cycles start no chmod/readlink/stat/ls process; stock ones do") {
    // the guard is live: without libhadoop, stock Hadoop forks on this path
    assume(!org.apache.hadoop.io.nativeio.NativeIO.isAvailable, "libhadoop is loaded")
    val stock = shellForks(commitCycles(Stock))
    assert(stock.nonEmpty, "stock Hadoop started no shell process; the guard sees nothing")
    val graft = shellForks(commitCycles(Graft))
    assert(graft.isEmpty, s"${graft.size} shell processes, e.g. ${graft.take(3).mkString("; ")}")
  }
}
