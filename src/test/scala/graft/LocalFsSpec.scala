package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LocalFs

/** `graft.core.LocalFs` against stock Hadoop on the same directory:
  * the same permission bits, `.crc` siblings, renames and link
  * statuses, through the FileContext API and on the raw filesystem; and
  * the session factory binds FileContext's `file:` to it.
  */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String = "022", graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (graft) c.set(LocalFs.binding._1, LocalFs.binding._2)
    c
  }

  private def rawFileSystem(c: Configuration, graft: Boolean): RawLocalFileSystem = {
    val fs = if (graft) new LocalFs.Raw else new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def fileContext(c: Configuration): FileContext =
    FileContext.getFileContext(URI.create("file:///"), c)

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Each side gets its own subdirectory of one temp dir. */
  private def sides[A](f: (JPath, Boolean) => A): (A, A) = {
    val root = Files.createTempDirectory("graft-localfs")
    (f(Files.createDirectory(root.resolve("stock")), false),
      f(Files.createDirectory(root.resolve("graft")), true))
  }

  private def write(out: org.apache.hadoop.fs.FSDataOutputStream, s: String): Unit =
    try out.write(s.getBytes("UTF-8")) finally out.close()

  test("created files, dirs and .crc siblings get stock permission bits under umask 077 and 022") {
    for (umask <- Seq("077", "022")) {
      val (stock, ours) = sides { (dir, graft) =>
        val fc = fileContext(conf(umask, graft))
        for ((rel, body) <- Seq("d/f.txt" -> "x", "fc.txt" -> "y"))
          write(fc.create(new Path(dir.resolve(rel).toString),
            java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()), body)
        Seq("d", "d/f.txt", "d/.f.txt.crc", "fc.txt", ".fc.txt.crc").map { rel =>
          val p = dir.resolve(rel)
          assert(Files.exists(p), s"$rel missing (graft=$graft, umask $umask)")
          rel -> perms(p)
        }
      }
      assert(ours === stock, s"umask $umask")
      // a create that skipped setPermission would keep the process
      // umask, which cannot equal both Hadoop umasks
      if (umask == "077") assert(ours.toMap.apply("d/f.txt") === "rw-------")
      else assert(ours.toMap.apply("d/f.txt") === "rw-r--r--")
    }
  }

  test("FileContext rename with and without OVERWRITE matches stock") {
    val (stock, ours) = sides { (dir, graft) =>
      val fc = fileContext(conf(graft = graft))
      def file(name: String, body: String): Path = {
        val p = new Path(dir.resolve(name).toString)
        write(fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE)), body)
        p
      }
      val dst = new Path(dir.resolve("dst").toString)
      fc.rename(file("a", "first"), dst)
      val refused =
        try { fc.rename(file("b", "second"), dst); "renamed" }
        catch { case e: java.io.IOException => e.getClass.getSimpleName }
      fc.rename(new Path(dir.resolve("b").toString), dst, Options.Rename.OVERWRITE)
      val listing = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      (refused, listing, new String(Files.readAllBytes(dir.resolve("dst")), "UTF-8"))
    }
    assert(ours === stock)
    assert(ours === (("FileAlreadyExistsException", Seq(".dst.crc", "dst"), "second")))
  }

  test("link status of a symlink, a dangling link and a missing path matches stock") {
    def describe(s: FileStatus, dir: JPath): String =
      s"symlink=${s.isSymlink} target=${if (s.isSymlink) s.getSymlink.toUri.getPath.stripPrefix(dir.toString) else ""}"
    val (stock, ours) = sides { (dir, graft) =>
      val c = conf(graft = graft)
      val target = Files.writeString(dir.resolve("target.txt"), "t")
      Files.createSymbolicLink(dir.resolve("link"), target)
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      val raw = rawFileSystem(c, graft)
      val fc = fileContext(c)
      Seq("link", "dangling", "target.txt", "missing").flatMap { name =>
        val p = new Path(dir.resolve(name).toString)
        def status(f: Path => FileStatus): String =
          try describe(f(p), dir)
          catch { case _: FileNotFoundException => "FileNotFoundException" }
        Seq(s"fs $name ${status(raw.getFileLinkStatus)}", s"fc $name ${status(fc.getFileLinkStatus)}")
      }
    }
    assert(ours === stock)
    assert(ours.contains("fs link symlink=true target=/target.txt"), ours)
    assert(ours.contains("fc dangling symlink=true target=/gone"), ours)
    assert(ours.contains("fs missing FileNotFoundException"), ours)
  }

  test("a GraftSession.build session binds file: for FileContext") {
    val hadoopConf = TestSpark.spark.sparkContext.hadoopConfiguration
    assert(AbstractFileSystem.get(URI.create("file:///"), hadoopConf).isInstanceOf[LocalFs.Fs])
  }
}
