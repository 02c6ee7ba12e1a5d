package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every session ([[graft.Tables.sessionConf]]):
  * Hadoop's local file system with no process started per file.
  *
  * Without the native Hadoop library, stock `RawLocalFileSystem` runs
  * `chmod` in a child process for every file and directory it creates
  * (a data file and its `.crc` are two), and `readlink` for every
  * `getFileLinkStatus`, which a `FileContext` rename calls eight times.
  * Structured Streaming writes its offset and commit logs through
  * `FileContext` on every trigger, and every audit flush creates files,
  * so these process starts were most of a warm stream trigger
  * (PERF_NOTES "A file system that starts no process").
  *
  * [[ForkFreeRawLocalFileSystem]] does both in the JVM with the same
  * result; the two public wrappers are the stock ones' checksummed
  * layers over it, one per Hadoop API.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode (already masked by the umask) applied with
    * `Files.setPosixFilePermissions`; a sticky bit, which that cannot
    * express, and a store without POSIX permissions take stock's `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
            permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
        ()
      } catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }

  /** Stock's answer: it runs `readlink` on the path's text, which is ""
    * for anything but a symbolic link, and then returns
    * `getFileStatus`. Only a symbolic link takes stock's path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the `FileSystem` API, checksummed like
  * `LocalFileSystem`.
  */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` API, checksummed
  * like `org.apache.hadoop.fs.local.LocalFs`. Hadoop instantiates it by
  * its `(URI, Configuration)` constructor; like `LocalFs` it ignores the
  * URI, which is always `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` over the fork-free raw file
  * system, with its overrides.
  */
private final class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // the OS decides which names are valid, as for RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}
