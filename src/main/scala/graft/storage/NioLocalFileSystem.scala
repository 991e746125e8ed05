package graft.storage

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

/** Hadoop's local file system with permission bits set in process.
  *
  * Hadoop's `create` sets the permission of every file it makes (a
  * data file and its `.crc` both), and `mkdirs` of every directory,
  * through `RawLocalFileSystem.setPermission` — which forks a `chmod`
  * process whenever the native Hadoop library is not loaded, about
  * 12–15 ms per file on a 4-vCPU host against 0.2 ms for a rename.
  * This file system sets the same bits with `java.nio` instead; all
  * else is Hadoop's. [[EventLog]] opens `file://` paths through it
  * ([[EventLog.LocalFs]]). */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw layer of [[NioLocalFileSystem]]. A permission `java.nio`
  * cannot express (the sticky bit), or a platform without POSIX
  * attributes, keeps Hadoop's own path. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.Posix)
      super.setPermission(p, permission)
    else
      // FsPermission renders as the nine rwx characters nio parses
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
}

object NioRawLocalFileSystem {
  private val Posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}
