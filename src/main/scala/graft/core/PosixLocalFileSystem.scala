package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed `file:` FileSystem over [[PosixRawLocalFileSystem]]:
  * [[SessionTuning.tune]] routes `fs.file.impl` here.
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** Hadoop's raw local FileSystem, except that permissions are set in
  * process. Without the native Hadoop library, `RawLocalFileSystem`
  * forks a `chmod` for every file it creates and every directory it
  * makes (about 13 forks per snapshot write); this sets the same bits
  * through `java.nio`, and falls back to the fork only where the file
  * store has no POSIX attributes or the sticky bit is asked for.
  */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
