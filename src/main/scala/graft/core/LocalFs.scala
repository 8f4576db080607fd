package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem, installed by [[GraftSession]]
  * through `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * a raw filesystem that sets permissions through
  * `java.nio.file.Files.setPosixFilePermissions`.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` sets the mode
  * of every file and directory a write creates by forking a `chmod`
  * process (`org.apache.hadoop.util.Shell`): about 420 forks per
  * `graft.pset.Pipeline.run` pass. The NIO call gives the same modes
  * without a process. A sticky bit has no NIO form and still goes
  * through Hadoop's own path.
  *
  * `rename` keeps the contract of Hive's `ProxyLocalFileSystem`, which
  * the Spark jars otherwise register for `file:`: it returns false and
  * moves nothing when the destination is an existing file.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` runs in-process. Its
    * `create` and `mkdirs` set the umask-applied mode through this
    * method. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
  }
}
