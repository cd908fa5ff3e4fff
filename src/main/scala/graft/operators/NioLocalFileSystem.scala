package graft.operators

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` file system with one change: permission bits are set
  * through `java.nio` instead of a forked `chmod`. Without `libhadoop`,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process, and
  * its own `create` and `mkdirs` call it for every data file, `.crc` file
  * and directory. The override sits on the raw file system those calls
  * dispatch to; the checksumming wrapper is Hadoop's own. A sticky bit (the
  * only bit past `rwx` an `FsPermission` carries) and a non-POSIX file
  * store keep the stock call. `Engine.LocalFsConf` installs it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
