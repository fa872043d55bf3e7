package graft.sinks

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem without its two child processes. Without
  * the native hadoop library, `RawLocalFileSystem` sets the mode of every
  * file and directory it creates by forking a `chmod`, and answers every
  * `getFileLinkStatus` (which `FileContext.rename` asks of both its
  * paths) by forking a `readlink`.
  *
  *   - A bucketed merge creates one data file per touched bucket (4 on
  *     the bench state), their checksum files and their directories per
  *     batch. The `chmod` forks were most of its write stage (a sampling
  *     profile of the write tasks: about 60% of their samples under
  *     `Shell.execCommand`). This sets the same mode through `java.nio`
  *     in-process.
  *   - A streaming query's checkpoint logs create a temp file and rename
  *     it per entry, about 30 `chmod` and `readlink` forks per
  *     micro-batch on the stream thread. A path that is not a symlink is
  *     answered from `getFileStatus`, as Hadoop's own code answers it
  *     when `readlink` prints nothing.
  *
  * With the native library, for a mode NIO cannot express (the sticky
  * bit), or for a real symlink, it defers to Hadoop. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
    // without the sticky bit, a mode renders as the nine rwx characters
    // PosixFilePermissions parses
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(p: Path): FileStatus =
    if (NativeIO.isAvailable || Files.isSymbolicLink(pathToFile(p).toPath))
      super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed local filesystem (`file:`) over [[NioRawLocalFileSystem]];
  * [[graft.GraftSession.builder]] installs it as `fs.file.impl`, the
  * `FileSystem` that data files are written through. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `AbstractFileSystem` behind `FileContext`
  * for `file:`) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` filesystem for `file:` over
  * [[NioRawLocalFs]], Hadoop's `LocalFs` without its forks;
  * [[graft.GraftSession.builder]] installs it as
  * `fs.AbstractFileSystem.file.impl`, the filesystem Spark writes
  * streaming checkpoint logs and state-store files through. Hadoop builds
  * it by reflection from a `(URI, Configuration)` constructor. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
