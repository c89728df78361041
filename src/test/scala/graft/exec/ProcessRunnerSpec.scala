package graft.exec

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class ProcessRunnerSpec extends AnyFunSuite {

  private def bytes(s: String) = new ByteArrayInputStream(s.getBytes(UTF_8))

  test("basic cat round-trip with byte counters (reference SimpleExecutorTest parity)") {
    val input = "This is a test of the basic functionality.\n"
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val res = ProcessRunner.run(Seq("cat"), bytes(input), out, err)
    assert(res.exitCode == 0)
    assert(out.toString("UTF-8") == input)
    assert(res.bytesIn == input.getBytes(UTF_8).length)
    assert(res.bytesOut == input.getBytes(UTF_8).length)
    assert(res.bytesErr == 0)
  }

  test("large stream does not deadlock and preserves every byte") {
    val n = 8 * 1024 * 1024 // 8 MiB >> any pipe buffer
    val input = new Array[Byte](n)
    new scala.util.Random(42).nextBytes(input)
    val out = new ByteArrayOutputStream(n)
    val res = ProcessRunner.run(
      Seq("cat"), new ByteArrayInputStream(input), out, new ByteArrayOutputStream())
    assert(res.exitCode == 0)
    assert(res.bytesOut == n.toLong)
    assert(java.util.Arrays.equals(out.toByteArray, input))
  }

  test("stderr is captured separately") {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val res = ProcessRunner.run(
      Seq("sh", "-c", "echo OUT; echo ERR >&2"), bytes(""), out, err)
    assert(res.exitCode == 0)
    assert(out.toString("UTF-8") == "OUT\n")
    assert(err.toString("UTF-8") == "ERR\n")
  }

  test("redirectErrorToOut interleaves stderr into stdout") {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val res = ProcessRunner.run(
      Seq("sh", "-c", "echo OUT; echo ERR >&2"), bytes(""), out, err,
      redirectErrorToOut = true)
    assert(res.exitCode == 0)
    val o = out.toString("UTF-8")
    assert(o.contains("OUT\n") && o.contains("ERR\n"))
    assert(err.size() == 0)
  }

  test("grep exit-code exception: bare grep names accept exit 1") {
    for (g <- Seq("grep", "egrep", "fgrep", "zgrep", "zegrep", "zfgrep"))
      assert(ExitPolicy.accepts(Seq(g, "x"), 1))
    assert(ExitPolicy.accepts(Seq("grep"), 0))
  }

  test("grep exception is FULL match: /bin/grep exit 1 is a failure (reference nuance)") {
    assert(!ExitPolicy.accepts(Seq("/bin/grep", "x"), 1))
    assert(!ExitPolicy.accepts(Seq("grepx"), 1))
    assert(!ExitPolicy.accepts(Seq("cat"), 1))
    assert(!ExitPolicy.accepts(Seq("grep"), 2))
  }

  test("Executor throws on rejected exit code, accepts grep miss") {
    val sink = new ByteArrayOutputStream()
    // the pumped exec path's sequence: run the argv, then check its exit
    def execute(commandLine: String, stdin: String): ExecResult = {
      val argv = CommandLine.translate(commandLine)
      val res = ProcessRunner.run(argv, bytes(stdin), sink, sink)
      ExitPolicy.check(argv, res.exitCode)
      res
    }
    intercept[IOException] {
      execute("sh -c 'exit 3'", "")
    }
    // grep with no match exits 1 — accepted for bare grep
    val res = execute("grep nomatch", "other text\n")
    assert(res.exitCode == 1)
  }
}
