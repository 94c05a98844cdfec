package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NioLocalFileSystem

/** `core-site.xml` puts graft's NIO local file system behind every
  * `Configuration`, and it leaves the same mode bits on disk as
  * Hadoop's own raw local file system.
  */
class LocalFsSpec extends AnyFunSuite {

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  /** The permission bits, sticky bit included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def withTempDir(f: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-localfs")
    try f(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  test("FileSystem.getLocal of a fresh Configuration is graft's NIO file system") {
    val fs = FileSystem.getLocal(new Configuration())
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.getRaw.getClass == classOf[NioLocalFileSystem.Raw])
  }

  test("created files, checksums, directories and an explicit 0700 get Hadoop's raw mode bits") {
    withTempDir { dir =>
      val conf = new Configuration()
      val raw = new RawLocalFileSystem()
      raw.initialize(java.net.URI.create("file:///"), conf)
      for ((name, fs) <- Seq("nio" -> FileSystem.getLocal(conf), "raw" -> raw)) {
        val base = new Path(dir.resolve(name).toUri)
        val out = fs.create(new Path(base, "a/b/f.bin"))
        out.write(1)
        out.close()
        fs.mkdirs(new Path(base, "c/d"))
        fs.mkdirs(new Path(base, "e"), new FsPermission(octal("750")))
        fs.create(new Path(base, "g")).close()
        fs.setPermission(new Path(base, "g"), new FsPermission(octal("700")))
      }
      for (rel <- Seq("a", "a/b", "a/b/f.bin", "c", "c/d", "e", "g"))
        assert(mode(dir.resolve("nio").resolve(rel)) == mode(dir.resolve("raw").resolve(rel)), rel)
      // the checksum file is created like its data file
      assert(mode(dir.resolve("nio/a/b/.f.bin.crc")) == mode(dir.resolve("raw/a/b/f.bin")))
      assert(mode(dir.resolve("nio/g")) == octal("700"))
    }
  }

  test("a sticky-bit mode is set through Hadoop's own path") {
    withTempDir { dir =>
      val shared = dir.resolve("shared")
      Files.createDirectory(shared)
      FileSystem.getLocal(new Configuration()).setPermission(new Path(shared.toUri), new FsPermission(octal("1777")))
      // NIO's permission set has no sticky bit; only chmod can set it
      assert(mode(shared) == octal("1777"))
    }
  }
}
