package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with one change: mode bits
  * are set through NIO instead of a forked `chmod`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process, and the raw layer calls it for
  * every file it creates (data and `.crc`) and every directory, so a
  * partitioned write forks a process per file and per directory.
  * `Files.setPosixFilePermissions` sets the same nine bits in-process. A mode NIO cannot express (the sticky
  * bit) takes Hadoop's own path.
  *
  * `src/main/resources/core-site.xml` registers it as `fs.file.impl`,
  * so every `Configuration` on the program's classpath uses it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw (unchecksummed) layer; only `setPermission` differs. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(permission.toShort))
  }

  /** The nine rwx bits of `mode`, owner/group/others, as NIO's set. */
  private def posixBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // PosixFilePermission's declaration order is OWNER_READ .. OTHERS_EXECUTE,
    // i.e. bit 8 down to bit 0 of the octal mode
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(perm)
    }
    out
  }
}
