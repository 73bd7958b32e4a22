package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`file:`), with file modes set in
  * process instead of by a `chmod` child process.
  *
  * Without libhadoop (`NativeIO.isAvailable` false, as on a stock JVM
  * install), `RawLocalFileSystem.setPermission` forks `chmod` for every
  * file it creates and every directory it makes, and a checksummed create
  * makes two files (the data and its `.crc`). A part write, a task commit
  * and a catalog directory each pay that fork. Here the raw filesystem sets
  * the nine rwx bits with `Files.setPosixFilePermissions`: the same mode
  * the `chmod` set (the caller has already applied the umask), with `.crc`
  * sidecars still written and verified by [[LocalFileSystem]].
  *
  * Hadoop's own code still handles what a plain `chmod(2)` of nine bits
  * would get wrong: a sticky bit in the requested mode, a target that
  * already carries setuid, setgid or sticky bits (`chmod` keeps a
  * directory's), and a filesystem without POSIX attributes.
  *
  * Registered for `file:` by `Sessions.build` (`spark.hadoop.fs.file.impl`);
  * `FileSystem.getLocal` returns it, since it is a [[LocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** The raw filesystem under [[ForkFreeLocalFileSystem]]. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !setRwx(pathToFile(p), permission))
        super.setPermission(p, permission)
  }

  private val Special = 0xe00 // setuid 04000 | setgid 02000 | sticky 01000

  /** Sets exactly the rwx bits of `permission` (no sticky bit) on `f`;
    * false when that would not match `chmod`: `f` has setuid, setgid or
    * sticky bits, or its filesystem has no POSIX modes. */
  private def setRwx(f: java.io.File, permission: FsPermission): Boolean = {
    val path = f.toPath
    val current =
      try Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(f.toString)
        case _: UnsupportedOperationException | _: IllegalArgumentException => return false
      }
    if ((current & Special) != 0) return false
    val perms = PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
      permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL)
    try { Files.setPosixFilePermissions(path, perms); true }
    catch { case _: UnsupportedOperationException => false }
  }
}
