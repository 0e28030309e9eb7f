package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` scheme without a process fork per file.
  *
  * Hadoop without `libhadoop` (the Spark distribution's case) runs
  * `chmod` through `Shell.execCommand` for every file and directory
  * `RawLocalFileSystem` creates, and `readlink` for every
  * `getFileLinkStatus`, which FileContext's rename calls on both paths.
  * A streaming checkpoint write (offset log, commit log, state-store
  * delta, each with a `.crc` sibling and an atomic rename) thus cost
  * ~20 forks per micro-batch. [[Raw]] does the same two things through
  * `java.nio`; every file, checksum and rename stays as Hadoop writes it.
  * [[GraftSession.build]] binds FileContext's `file:` scheme
  * (`fs.AbstractFileSystem.file.impl`), which Spark's checkpoint manager
  * writes through, to [[Fs]]; the FileSystem API keeps Hadoop's own.
  */
object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** The nine rwx bits through `java.nio`; the sticky bit or a
      * non-POSIX filesystem fall back to Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission's declaration order is OWNER_READ ..
        // OTHERS_EXECUTE, i.e. octal bit 8 down to bit 0
        PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      }
    }

    /** Only a symlink needs Hadoop's `readlink`; anything else has the
      * status `getFileStatus` gives (and a missing path its
      * `FileNotFoundException`). */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** FileContext's raw local filesystem over [[Raw]]: Hadoop's own
    * `RawLocalFs`, whose constructor is package-private. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: checksummed FileContext
    * filesystem over [[RawFs]], as Hadoop's `LocalFs` over `RawLocalFs`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** The Hadoop conf key and value that bind FileContext's `file:` to [[Fs]]. */
  val binding: (String, String) = "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName
}
