package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem: Hadoop's local filesystem with its two
  * process forks done in-process.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission`
  * runs `chmod` for every file and directory it creates, and
  * `getFileLinkStatus` runs `readlink`. A stream's checkpoint pays
  * several of each per state-store commit and per offsets or commits
  * log entry, ~200 child processes per micro-batch on the reference
  * CDC topology with 8 state partitions. [[LocalFs.Raw]] makes both calls through java.nio
  * with the same result; everything else, the `.crc` checksum layer
  * and the temp-then-rename commits included, is Hadoop's own.
  * `GraftSession.builder` routes the `file:` scheme here through both
  * Hadoop APIs: [[LocalFs.ForFileSystem]] and [[LocalFs.ForFileContext]].
  */
object LocalFs {

  /** `RawLocalFileSystem` with chmod and readlink in-process. */
  class Raw extends RawLocalFileSystem {

    /** The 9 permission bits through `chmod(2)`. A mode with the sticky
      * bit takes the forked `chmod`, as does a directory carrying setuid
      * or setgid: `chmod 0755` keeps those on a directory, the 9-bit
      * call would clear them. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      val file = pathToFile(p).toPath
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val setIdDir = (current & 0xf000) == 0x4000 && (current & 0xc00) != 0
      if ((mode & ~0x1ff) != 0 || setIdDir) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(mode))
    }

    /** `RawLocalFileSystem`'s non-native link status with `readlink`
      * in-process. Like it, this reads the link of `new File(f.toString)`,
      * so a `file:`-qualified path never reads as a link. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val target = readLink(new File(f.toString))
      val status =
        try {
          val fs = getFileStatus(f)
          if (target.isEmpty) fs
          else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
            fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
            fs.getGroup, new Path(target), f)
        } catch {
          // a dangling link: it exists, but its target does not
          case _: FileNotFoundException if target.nonEmpty =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
              new Path(target), f)
        }
      if (status.isSymlink)
        status.setSymlink(
          FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
      status
    }
  }

  /** The FileSystem API's `file:` (parquet writes, RocksDB file copies). */
  class ForFileSystem extends LocalFileSystem(new Raw)

  /** FileContext's `file:` (Spark's checkpoint file manager: offsets,
    * commits, state-store zips). `AbstractFileSystem.get` constructs it
    * from (URI, Configuration); like Hadoop's `LocalFs` it ignores the
    * URI. */
  class ForFileContext(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawForFileContext(conf))

  /** Hadoop's `RawLocalFs` over [[Raw]], with its four overrides. */
  private class RawForFileContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  // values runs OWNER_READ .. OTHERS_EXECUTE: index i is mode bit 8 - i
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }.toSet.asJava

  // `readlink <f>` as FileUtil.readLink runs it: the target of a link,
  // "" for anything else
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
}
