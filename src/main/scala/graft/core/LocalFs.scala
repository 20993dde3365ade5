package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`file:`), with one change:
  * setting a plain `rwx` mode goes through `Files.setPosixFilePermissions`
  * instead of Hadoop's shell fallback, which forks a `chmod` process for
  * every file and directory it creates when the native Hadoop library
  * is not loaded. The mode bits, `.crc` checksums and file layout are
  * the stock ones. A mode with the sticky bit, or any bit beyond `0777`,
  * goes to the stock implementation, since NIO cannot set it.
  * `Sessions.configure` registers it as `fs.file.impl`.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, m: FsPermission): Unit =
      if ((m.toShort & ~0x1ff) != 0) super.setPermission(p, m)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        m.getUserAction.SYMBOL + m.getGroupAction.SYMBOL + m.getOtherAction.SYMBOL))
  }
}
