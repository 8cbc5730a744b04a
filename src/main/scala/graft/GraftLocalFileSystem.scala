package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem, with a chmod that does not fork.
  *
  * Without libhadoop (none is installed with the Spark jars),
  * `RawLocalFileSystem.setPermission` runs `/bin/chmod` through
  * `Shell.execCommand`: one process fork for every file and directory a
  * write creates, and two per checksummed file (the data file and its
  * `.crc`). Measured on a 4-vCPU VM: 20–25 ms per create and 6 ms per
  * `mkdirs`, against 0.7 ms and 0.12 ms when the same mode bits are set
  * through `java.nio.file.Files.setPosixFilePermissions`.
  *
  * Everything else is stock [[LocalFileSystem]]: `.crc` files are
  * written and verified on read, and the mode bits are the ones chmod(1)
  * would set. [[GraftSession]] installs it as `fs.file.impl`.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  // PosixFilePermission.values runs OWNER_READ … OTHERS_EXECUTE, i.e. the
  // nine mode bits from 0400 down to 0001
  private val permBits: Seq[(PosixFilePermission, Int)] =
    PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => p -> (0x100 >> i) }

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      // chmod(2) through NIO can neither set the sticky/setuid/setgid bits
      // nor keep a directory's setuid/setgid bits the way `chmod 0755`
      // does: those rare cases keep the stock path
      def keepsSpecialBits =
        Files.isDirectory(file) &&
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
      if ((mode & ~0x1ff) != 0 || keepsSpecialBits) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        permBits.foreach { case (perm, bit) => if ((mode & bit) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(file, perms)
      }
    }
  }
}
