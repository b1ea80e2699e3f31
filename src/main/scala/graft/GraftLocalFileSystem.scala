package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's checksummed local file system over [[GraftLocalFileSystem.Raw]]:
  * the same files, `.crc` side files and modes, without a process fork
  * per file. `GraftSession.build` installs it as `fs.file.impl`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` is one system call.
    *
    * Without `libhadoop` (Spark's jar directory does not ship it) the
    * stock `setPermission` forks a `chmod` process, and Hadoop calls it
    * for every file and directory it creates: a parquet write forks
    * for its part files, their `.crc` files, `_SUCCESS` and the
    * `_temporary` attempt directories. Here the mode is set with
    * `Files.setPosixFilePermissions`, which gives the same mode bits.
    * A sticky bit (which java.nio cannot set) and a store without a
    * POSIX attribute view fall back to the stock path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      posixPermissions(permission) match {
        case Some(perms) =>
          try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
          catch {
            case _: UnsupportedOperationException =>
              super.setPermission(p, permission)
          }
        case None => super.setPermission(p, permission)
      }
  }

  /** The java.nio form of `perm`, or None when it carries a sticky bit,
    * which the POSIX attribute view cannot express. */
  def posixPermissions(perm: FsPermission)
      : Option[java.util.Set[PosixFilePermission]] =
    if (perm.getStickyBit) None
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
          x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) perms.add(r)
        if (a.implies(FsAction.WRITE)) perms.add(w)
        if (a.implies(FsAction.EXECUTE)) perms.add(x)
      }
      add(perm.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(perm.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(perm.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      Some(perms)
    }
}
