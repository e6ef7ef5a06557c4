package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local filesystem without shell forks.
  *
  * Without libhadoop (`NativeIO.isAvailable` false) the stock
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates, and forks `readlink` for every `getFileLinkStatus` — about three
  * per FileContext rename. A fork costs milliseconds; the write itself costs
  * tens of microseconds. This subclass sets the same mode bits with
  * `java.nio.file.Files.setPosixFilePermissions` and answers
  * `getFileLinkStatus` for a non-symlink with its plain `getFileStatus`
  * (which is what the stock code returns once `readlink` prints nothing).
  * Symlinks, sticky bits and non-POSIX filesystems keep the stock path, as
  * does everything when libhadoop is present.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
    else {
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** The permission set of a mode's low nine bits (`rwxrwxrwx`). */
  def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // PosixFilePermission is declared OWNER_READ .. OTHERS_EXECUTE, i.e.
    // from mode bit 8 down to bit 0
    for (bit <- 0 until 9 if (mode & (1 << bit)) != 0)
      set.add(PosixFilePermission.values()(8 - bit))
    set
  }
}

/** `file:` FileSystem: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]], so `.crc` sidecars are written and verified
  * exactly as before. Installed with `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext binding of [[NioRawLocalFileSystem]]: Hadoop's `RawLocalFs`
  * (same scheme, port, server defaults and name rule) over the fork-free
  * FileSystem. Symlink support comes from `DelegateToFileSystem`, as in
  * `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)

  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` AbstractFileSystem: `ChecksumFs` over [[NioRawLocalFs]], as
  * Hadoop's `LocalFs` is over `RawLocalFs`. FileContext renames (store
  * manifest commits, streaming checkpoints) go through it. Installed with
  * `fs.AbstractFileSystem.file.impl`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
