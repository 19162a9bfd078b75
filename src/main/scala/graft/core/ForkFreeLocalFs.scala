package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process forks.
  *
  * Without the Hadoop native library, `RawLocalFileSystem` shells out
  * for two calls that every checkpoint file goes through: `chmod` on
  * each create and mkdir (`setPermission`) and `readlink` on each
  * `getFileLinkStatus`, which `FileContext.rename` calls twice. A
  * stateful micro-batch writes an offset-log entry, a commit-log entry
  * and a state file per partition and store, so the forks, not the
  * I/O, were its fixed cost. These two overrides do the same work
  * through `java.nio.file`; anything they cannot express (the sticky
  * bit, a real symlink, a filesystem without POSIX attributes) goes to
  * the forking original. Everything else — `.crc` checksums,
  * rename-with-overwrite, the umask applied before `setPermission` —
  * is Hadoop's own code, because [[ForkFreeLocalFileSystem]] and
  * [[ForkFreeLocalFs]] wrap this class exactly as `LocalFileSystem`
  * and `LocalFs` wrap `RawLocalFileSystem`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !ForkFreeRawLocalFileSystem.posix) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL)
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx.mkString))
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `fs.file.impl`: the checksummed `FileSystem` over
  * [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side that
  * streaming checkpoints write through: Hadoop's `LocalFs` with
  * [[ForkFreeRawLocalFileSystem]] underneath. `uri` is ignored, as in
  * `LocalFs`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {

  /** `RawLocalFs` over [[ForkFreeRawLocalFileSystem]], with its four
    * overrides.
    */
  private class Raw(conf: Configuration)
      extends DelegateToFileSystem(
        FsConstants.LOCAL_FS_URI,
        new ForkFreeRawLocalFileSystem,
        conf,
        FsConstants.LOCAL_FS_URI.getScheme,
        false
      ) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("mirrors the deprecated AbstractFileSystem method", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
