package graft.exec

import java.io.IOException
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class ShellHelperSpec extends AnyFunSuite {

  test("quote: single quotes, ' as '\\'', a newline through $nl, NUL refused") {
    assert(ShellHelper.quote("a b") == "'a b'")
    assert(ShellHelper.quote("it's") == "'it'\\''s'")
    assert(ShellHelper.quote("x\ny") == "'x'\"$nl\"'y'")
    intercept[IOException](ShellHelper.quote("a\u0000b"))
  }

  test("a missing input writes `cannot open` to the stderr file and exits 2; the helper runs on") {
    val dir = Files.createTempDirectory("graft-shell")
    val (out, err) = (dir.resolve("out").toString, dir.resolve("err").toString)
    val shell = new ShellHelper
    try {
      assert(shell.run(Seq("cat"), dir.resolve("missing").toString, out, err, errToOut = false) == 2)
      assert(Files.readString(dir.resolve("err")).contains("cannot open"))
      Files.writeString(dir.resolve("in"), "x\n")
      assert(shell.run(Seq("cat"), dir.resolve("in").toString, out, err, errToOut = false) == 0)
      assert(Files.readString(dir.resolve("out")) == "x\n" && Files.size(dir.resolve("err")) == 0)
    } finally shell.close()
  }

  test("a child killed by a signal exits 128 + the signal number") {
    val dir = Files.createTempDirectory("graft-shell")
    Files.writeString(dir.resolve("in"), "")
    val shell = new ShellHelper
    try {
      val exit = shell.run(Seq("sh", "-c", "kill -9 $$"), dir.resolve("in").toString,
        dir.resolve("out").toString, dir.resolve("err").toString, errToOut = false)
      assert(exit == 137)
    } finally shell.close()
  }
}
