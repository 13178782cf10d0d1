package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem with an in-process chmod.
  *
  * Without Hadoop's native IO library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and every file and directory a parquet write
  * creates on the local filesystem pays one (about 1,750 forks, ~3 ms
  * each, per nightly run). This one sets the same bits through
  * `java.nio`; a sticky bit, which POSIX file attributes cannot carry,
  * still goes through Hadoop's own path. `Sessions.local` binds it to
  * the `file:` scheme. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFileSystem.Raw)

object LocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }
}
