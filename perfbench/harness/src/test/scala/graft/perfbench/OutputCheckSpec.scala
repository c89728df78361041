package graft.perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class OutputCheckSpec extends AnyFunSuite {
  private def tree(): (Path, Path) = {
    val root = Files.createTempDirectory("outcheck")
    val src = root.resolve("src")
    val dst = root.resolve("dst")
    Seq("d0/a.txt" -> "café naïve", "d1/b.txt" -> "plain ascii\n").foreach { case (r, s) =>
      val in = src.resolve(r)
      Files.createDirectories(in.getParent)
      Files.write(in, s.getBytes(ISO_8859_1))
      val out = dst.resolve(r)
      Files.createDirectories(out.getParent)
      Files.write(out, Latin1ToUtf8.expected(s.getBytes(ISO_8859_1)))
    }
    Files.createDirectories(dst.resolve("_distexec_logs_x"))
    Files.write(dst.resolve("_distexec_logs_x/_SUCCESS"), Array.emptyByteArray)
    (src, dst)
  }

  test("correct exec outputs pass, the failure log directory aside") {
    val (src, dst) = tree()
    val r = ExecCheck.run(src, dst)
    assert(r.ok == 2 && r.failed == 0, r.problems)
    Trees.deleteTree(src.getParent)
  }

  test("a corrupted exec output counts as a failure") {
    val (src, dst) = tree()
    // the Latin-1 input bytes themselves: what a no-op command would write
    Files.write(dst.resolve("d0/a.txt"), Files.readAllBytes(src.resolve("d0/a.txt")))
    val r = ExecCheck.run(src, dst)
    assert(r.ok == 1 && r.failed == 1)
    Files.delete(dst.resolve("d1/b.txt"))
    assert(ExecCheck.run(src, dst).failed == 2)
    Trees.deleteTree(src.getParent)
  }

  test("left-behind temporaries and stderr files count as failures") {
    val (src, dst) = tree()
    Files.createDirectories(dst.resolve("_distexec_tmp_abc/0-1"))
    Files.write(dst.resolve("d0/a.txt.stderr"), "warning".getBytes(ISO_8859_1))
    val r = ExecCheck.run(src, dst)
    assert(r.ok == 2 && r.failed == 2, r.problems)
    assert(r.stderrBytes == "warning".length)
    Trees.deleteTree(src.getParent)
  }

  test("a wrong or unknown query digest counts as a failure") {
    val ref = Map("q1" -> "3:00000000000000ff:0000000000000001")
    assert(QueryDigests.check("q1", "3:00000000000000ff:0000000000000001", ref).isEmpty)
    assert(QueryDigests.check("q1", "3:00000000000000fe:0000000000000001", ref).isDefined)
    assert(QueryDigests.check("q2", "3:00000000000000ff:0000000000000001", ref).isDefined)
  }
}
