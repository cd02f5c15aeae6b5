package graft

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without process starts. Without the native Hadoop
  * library, stock [[RawLocalFileSystem]] forks `chmod` for every create and
  * mkdir, and `readlink` for every link probe a FileContext rename makes
  * (about three per checkpoint or state-store file, `.crc` included). These
  * two overrides ask java.nio the same question about the same file, and
  * leave to the stock shell-out what nio cannot say. */
class SpawnFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits, on the file `chmod` would be given; a sticky bit or
    * a filesystem without POSIX attributes goes to the stock `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** Stock runs `readlink` on `new File(f.toString)`, which for a qualified
    * `file:/...` path is a relative name that never exists: "not a link".
    * The same file is probed here, and a real link still goes to the stock
    * path for its target. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` FileSystem: the checksummed [[LocalFileSystem]] over the
  * spawn-free raw filesystem. */
class SpawnFreeLocalFileSystem extends LocalFileSystem(new SpawnFreeRawLocalFileSystem)

/** The `file:` AbstractFileSystem, which Spark's checkpoint manager and
  * state store write through (FileContext): stock `LocalFs` (a ChecksumFs
  * over `RawLocalFs`) on the spawn-free raw filesystem. */
class SpawnFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new SpawnFreeRawLocalFs(uri, conf))

/** Stock `RawLocalFs` (whose constructors are package-private) with its four
  * overrides, delegating to the spawn-free raw filesystem. */
private[graft] class SpawnFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SpawnFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
