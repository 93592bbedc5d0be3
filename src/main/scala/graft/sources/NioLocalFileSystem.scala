package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with the two calls that fork a
  * process done through `java.nio.file` instead. Without the native
  * hadoop library, `RawLocalFileSystem` runs `chmod` for every file and
  * directory it creates with a permission (every parquet part file,
  * checksum file, checkpoint and commit-log file) and `readlink` for
  * every link-status lookup (FileContext's rename of each streaming
  * checkpoint file looks its source up).
  *
  *  - [[setPermission]]: a plain 9-bit mode is set with
  *    `Files.setPosixFilePermissions`, which follows a link like `chmod`
  *    does. A sticky bit, or a file system without POSIX attributes,
  *    falls back to Hadoop's own code.
  *  - [[getFileLinkStatus]]: a path that is not a symbolic link has the
  *    status of the file itself, as in Hadoop's code. A link's status
  *    has the fields Hadoop's `deprecatedGetFileLinkStatusInternal` sets,
  *    with the target from `Files.readSymbolicLink`: Hadoop's own code
  *    runs `readlink` on the path's string, which for a qualified
  *    `file:/…` path names no file, so it reports the link as a plain
  *    file.
  *
  * Everything else is Hadoop's. [[graft.Graft.session]] installs it as
  * the `file:` FileSystem ([[NioLocalFileSystem]]) and FileContext
  * ([[NioLocalFs]]). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try { Files.setPosixFilePermissions(file.toPath, NioRawLocalFileSystem.posix(mode)); () }
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = FSLinkResolver.qualifySymlinkTarget(getUri, f, new Path(Files.readSymbolicLink(file).toString))
      // the fields of what the link points to; a dangling link gets
      // Hadoop's placeholder ones
      try {
        val st = getFileStatus(f)
        new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize, st.getModificationTime,
          st.getAccessTime, st.getPermission, st.getOwner, st.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object NioRawLocalFileSystem {
  /** Owner, group, other: read, write, execute, from the high bit down. */
  private val Bits = Array(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE,
    PosixFilePermission.GROUP_READ, PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE)

  /** The POSIX permission set of a 9-bit mode. */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(Bits(i)))
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed local file system over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext twin of [[NioRawLocalFileSystem]], as Hadoop's
  * `RawLocalFs` wraps `RawLocalFileSystem`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed [[NioRawLocalFs]], as
  * Hadoop's `LocalFs` wraps `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
