package graft.lake

import java.nio.file.{Files, attribute}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`file:`), with permissions set
  * in-process instead of by a forked `chmod`.
  *
  * Without libhadoop's native `NativeIO`, the stock `RawLocalFileSystem`
  * runs `chmod <mode> <path>` as a child process for every file and
  * directory it creates — each data file, its `.crc` sidecar and each
  * temp file of a rename-into-place commit. The raw layer here overrides
  * only `setPermission`, writing the same nine rwx bits with
  * `Files.setPosixFilePermissions`. Everything else — the `.crc`
  * `ChecksumFileSystem` on top, umask handling, rename, status — is the
  * stock code path, and `FileSystem.getLocal(conf)` still casts.
  *
  * Installed for every local runner session by [[graft.Scratch.configure]]
  * through `spark.hadoop.fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Mode bits beyond rwx: setuid, setgid, sticky (octal 7000). */
  private final val SpecialBits = Integer.parseInt("7000", 8)

  /** Owner-read first: `PosixFilePermission.values()` runs from bit 8 down
    * to bit 0 of the octal mode.
    */
  private val posixBits = attribute.PosixFilePermission.values().toSeq
    .zipWithIndex.map { case (p, i) => (p, 0x100 >> i) }

  private def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    posixBits.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }

  class Raw extends RawLocalFileSystem {

    /** NIO expresses only the rwx bits. A sticky-bit request, or a path
      * already carrying setuid/setgid (which `chmod` keeps on a directory
      * while NIO would clear them), takes the stock path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val path = pathToFile(p).toPath
      val current = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      if (permission.getStickyBit || (current & SpecialBits) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(path, posix(permission.toShort.toInt))
    }
  }
}
