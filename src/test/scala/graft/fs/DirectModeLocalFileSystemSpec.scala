package graft.fs

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class DirectModeLocalFileSystemSpec extends AnyFunSuite {

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission(01755) on a directory reads back 1755: the sticky bit survives") {
    val fs = new DirectModeLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = Files.createTempDirectory("graft-mode")
    try {
      fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert(mode(dir).toOctalString == "1755")
    } finally {
      Files.delete(dir)
      fs.close()
    }
  }

  test("a file: destination gets the direct-mode filesystem; create makes the parents") {
    val conf = new Configuration()
    val dir = Files.createTempDirectory("graft-dstfs")
    val fs = DstFileSystem.taskPrivate(dir.toString, conf)
    try {
      assert(fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw
        .isInstanceOf[DirectModeLocalFileSystem])
      val out = fs.create(new Path(dir.toString, "x/y.txt"), true)
      out.write(1)
      out.close()
      assert(Files.isRegularFile(dir.resolve("x/y.txt")))
    } finally {
      fs.close()
      Files.delete(dir.resolve("x/y.txt")); Files.delete(dir.resolve("x")); Files.delete(dir)
    }
  }
}
