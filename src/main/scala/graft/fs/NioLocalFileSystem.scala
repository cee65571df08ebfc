package graft.fs

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem with a fork-free
  * `setPermission`. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process,
  * and every local file or directory Hadoop creates with a permission
  * pays it: each part file and its `.crc`, each task-attempt directory,
  * `_SUCCESS` and its `.crc` (785 forks in one perfbench `board` run on a
  * 4-core host, none with this class). Reads, listings, renames and the
  * `.crc` handling are Hadoop's own. Bound by [[LocalIo]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  class Raw extends RawLocalFileSystem {

    /** The same nine mode bits `chmod` would set, through
      * `Files.setPosixFilePermissions`. A sticky bit, which java.nio
      * cannot set, still goes to `chmod`.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        // PosixFilePermission's order is owner rwx, group rwx, others rwx:
        // ordinal i is mode bit 8 - i
        val bits = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
        Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      }
  }
}
