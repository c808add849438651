package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem with a `setPermission` that forks nothing.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` runs
  * `chmod` through `org.apache.hadoop.util.Shell`, once for every file and
  * directory Hadoop creates: 16 processes a stateful micro-batch.
  * [[GraftRawLocalFileSystem]] sets the same 9 bits with one chmod(2).
  * Everything else is Hadoop's: this is a `LocalFileSystem`, so a
  * `ChecksumFileSystem` that writes, renames and verifies the `.crc`
  * sidecars. [[SessionConfs]] registers it as `fs.file.impl`
  * (ARCHITECTURE.md, design rule 10).
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is a chmod(2) call. It falls
  * back to Hadoop's `chmod` process where the two would differ: for a mode
  * above 0777 (the sticky bit), for a file that already carries setuid or
  * setgid (GNU `chmod 0755` keeps them on a directory, chmod(2) clears
  * them; `mkdir` under a setgid directory inherits the bit), and where the
  * filesystem has no `unix` attribute view.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val file = pathToFile(p).toPath
    val current =
      try Some(Files.getAttribute(file, "unix:mode").asInstanceOf[Int])
      catch { case _: UnsupportedOperationException => None }
    // 0x1ff is 0777, 0xc00 is 06000 (setuid, setgid): Scala has no octal literals
    if ((mode & ~0x1ff) != 0 || current.forall(m => (m & 0xc00) != 0))
      super.setPermission(p, permission)
    else {
      val bits = PosixFilePermission.values // OWNER_READ (0400) … OTHERS_EXECUTE (01)
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) set.add(bits(i)))
      Files.setPosixFilePermissions(file, set)
    }
  }
}
