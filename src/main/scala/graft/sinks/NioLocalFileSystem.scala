package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem with one change: without the native
  * hadoop library, `RawLocalFileSystem` sets the mode of every file and
  * directory it creates by forking a `chmod` child process. A bucketed
  * merge creates 32 data files, their 32 checksum files and their
  * directories per batch, and the forks were most of its write stage
  * (a sampling profile of the write tasks: about 60% of their samples
  * under `Shell.execCommand`). This sets the same mode through
  * `java.nio` in-process. With the native library, or for a mode NIO
  * cannot express (the sticky bit), it defers to Hadoop. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
    // without the sticky bit, a mode renders as the nine rwx characters
    // PosixFilePermissions parses
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

/** The checksummed local filesystem (`file:`) over [[NioRawLocalFileSystem]];
  * [[graft.GraftSession.builder]] installs it as `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
