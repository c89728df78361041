package graft.operators

import java.io.IOException
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.fs.{DuplicationException, Manifest}
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class DistExecJobSpec extends AnyFunSuite with SparkSpec {

  private def mkTree(): JPath = {
    val root = Files.createTempDirectory("graft-exec-src")
    Files.writeString(root.resolve("a.txt"), "alpha\nmatch me\n")
    Files.writeString(root.resolve("b.txt"), "bravo\n")
    val sub = Files.createDirectories(root.resolve("sub"))
    Files.writeString(sub.resolve("c.txt"), "match too\ncharlie\n")
    Files.createDirectories(root.resolve("emptydir"))
    root
  }

  private def tmpDst(): JPath = {
    val d = Files.createTempDirectory("graft-exec-dst")
    Files.delete(d)
    d
  }

  // unix:mode, not Hadoop getFileStatus: without libhadoop that forks `ls`
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def walk(root: JPath): List[JPath] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Run `cat` plus a stderr line over [[mkTree]] and check every entry
    * under dst (outputs, `.stderr` sidecars, mirrored dirs) has the
    * stock-Hadoop mode for the session's umask, and no `.crc` exists.
    */
  private def assertModes(fileMode: Int, dirMode: Int): Unit = {
    val src = mkTree()
    val dst = tmpDst()
    val rows = DistExecJob.run(spark, Seq(src.toString), dst.toString,
      "sh -c 'cat; echo oops >&2'").collect()
    assert(rows.length == 3 && rows.forall(_.ok))
    // dst itself is made on the driver through the cached FileSystem
    val entries = walk(dst).filter(_ != dst)
    val names = entries.map(p => dst.relativize(p).toString).toSet
    assert(Set("a.txt", "a.txt.stderr", "sub", "sub/c.txt", "sub/c.txt.stderr", "emptydir")
      .subsetOf(names), names)
    assert(!names.exists(_.endsWith(".crc")), names)
    entries.foreach { p =>
      val want = if (Files.isDirectory(p)) dirMode else fileMode
      assert(mode(p) == want, f"${dst.relativize(p)}: mode ${mode(p)}%o, want $want%o")
    }
  }

  test("e2e cat: mirrored tree with identical content (README primary example)") {
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat")
    val rows = status.collect()
    assert(rows.forall(_.ok))
    assert(rows.length == 3)
    assert(Files.readString(dst.resolve("a.txt")) == "alpha\nmatch me\n")
    assert(Files.readString(dst.resolve("sub/c.txt")) == "match too\ncharlie\n")
    assert(Files.isDirectory(dst.resolve("emptydir")), "empty dirs materialize")
    assert(!Files.exists(dst.resolve("a.txt.stderr")), "no stderr file when stderr empty")
    val c = DistExecJob.counters(status)
    assert(c.executed == 3 && c.failed == 0)
    assert(c.bytesExecuted == c.bytesWritten)
    // tmp dir cleaned up
    assert(!Files.list(dst).iterator().hasNext ||
      Files.list(dst).toArray.map(_.toString).forall(p => !p.contains("_distexec_tmp_")))
  }

  test("grep: exit 1 on no-match accepted; empty stdout produces NO dst file") {
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "grep match")
    val byRel = status.collect().map(s => s.relativeDst -> s).toMap
    assert(byRel.values.forall(_.ok))
    assert(Files.readString(dst.resolve("a.txt")) == "match me\n")
    assert(Files.readString(dst.resolve("sub/c.txt")) == "match too\n")
    assert(!Files.exists(dst.resolve("b.txt")), "no-match grep output file must not exist")
    assert(byRel("b.txt").exitCode == 1 && byRel("b.txt").bytesOut == 0)
  }

  test("failing command: job continues, FAIL status rows, no output files") {
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "sh -c 'exit 7'")
    val rows = status.collect()
    assert(rows.forall(!_.ok))
    assert(rows.forall(_.error.startsWith("FAIL ")))
    assert(!Files.exists(dst.resolve("a.txt")))
    val c = DistExecJob.counters(status)
    assert(c.failed == 3 && c.executed == 0)
  }

  test("command that cannot start: job returns, one FAIL row per file, nothing written") {
    val src = mkTree()
    val dst = tmpDst()
    val rows = DistExecJob.run(spark, Seq(src.toString), dst.toString,
      "graft-no-such-command --flag").collect()
    assert(rows.map(_.relativeDst).sorted.toSeq == Seq("a.txt", "b.txt", "sub/c.txt"))
    assert(rows.forall(r => !r.ok && r.error.startsWith(s"FAIL ${r.relativeDst} : ")),
      rows.toSeq)
    assert(rows.forall(_.error.contains("graft-no-such-command")), rows.toSeq)
    val left = walk(dst).filter(_ != dst)
    assert(left.forall(Files.isDirectory(_)), s"files written: $left")
    assert(!left.exists(_.toString.contains("_distexec_tmp_")), s"tmp left: $left")
  }

  test("stderr sidecar: .stderr file written only when stderr non-empty") {
    val src = mkTree()
    val dst = tmpDst()
    DistExecJob.run(spark, Seq(src.toString), dst.toString,
      "sh -c 'cat; echo oops >&2'").collect()
    assert(Files.readString(dst.resolve("a.txt")) == "alpha\nmatch me\n")
    assert(Files.readString(dst.resolve("a.txt.stderr")) == "oops\n")
  }

  test("redirectErrorToOut interleaves stderr into stdout (real, unlike reference)") {
    val src = mkTree()
    val dst = tmpDst()
    DistExecJob.run(spark, Seq(src.toString), dst.toString,
      "sh -c 'echo first; echo second >&2'",
      DistExecOptions(redirectErrorToOut = true)).collect()
    val out = Files.readString(dst.resolve("a.txt"))
    assert(out.contains("first\n") && out.contains("second\n"))
    assert(!Files.exists(dst.resolve("a.txt.stderr")))
  }

  test("single-file special case: dst itself becomes the output file") {
    val src = mkTree()
    val dst = tmpDst()
    DistExecJob.run(spark, Seq(src.resolve("a.txt").toString), dst.toString, "cat").collect()
    assert(Files.isRegularFile(dst), "dst must be the output FILE, not a dir")
    assert(Files.readString(dst) == "alpha\nmatch me\n")
  }

  test("duplicate destinations abort before any execution (same-NAMED sources)") {
    // Two sources with the SAME final name mirror to the same
    // dst/<srcname>/... namespace — the reference aborts here too.
    val p1 = Files.createTempDirectory("graft-dup1")
    val p2 = Files.createTempDirectory("graft-dup2")
    val r1 = Files.createDirectories(p1.resolve("data"))
    val r2 = Files.createDirectories(p2.resolve("data"))
    Files.writeString(r1.resolve("a.txt"), "1\n")
    Files.writeString(r2.resolve("a.txt"), "2\n")
    val dst = tmpDst()
    intercept[graft.fs.DuplicationException] {
      DistExecJob.run(spark, Seq(r1.toString, r2.toString), dst.toString, "cat")
    }
    assert(!Files.exists(dst.resolve("data/a.txt")))
  }

  test("multi-root: each source mirrors under dst/<srcname>/ (reference root choice)") {
    // Non-special (2 srcs): relativized against each source's PARENT
    // (DistExec.java:553), so same-named files in different trees don't
    // collide.
    val r1 = Files.createTempDirectory("graft-r1")
    val r2 = Files.createTempDirectory("graft-r2")
    Files.writeString(r1.resolve("one.txt"), "1\n")
    Files.writeString(r2.resolve("one.txt"), "2\n")
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(r1.toString, r2.toString), dst.toString, "cat")
    assert(status.collect().forall(_.ok))
    assert(Files.readString(dst.resolve(s"${r1.getFileName}/one.txt")) == "1\n")
    assert(Files.readString(dst.resolve(s"${r2.getFileName}/one.txt")) == "2\n")
  }

  test("singleOut merge: one combined file, lines prefixed with source name") {
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "grep match")
    DistExecJob.singleOutMerge(spark, dst.toString, status)
    val merged = Files.readString(dst.resolve("_singleout"))
    assert(merged == "a.txt:\tmatch me\nsub/c.txt:\tmatch too\n")
  }

  test("rerun into an existing dst nests under the source name (reference root choice)") {
    val src = mkTree()
    val dst = tmpDst()
    // First run: special (dst does not exist) → contents land in dst.
    DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat").collect()
    assert(Files.readString(dst.resolve("a.txt")) == "alpha\nmatch me\n")
    // Second run: dst exists → non-special → tree nests under <srcname>.
    DistExecJob.run(spark, Seq(src.toString), dst.toString, "tr a-z A-Z").collect()
    assert(Files.readString(dst.resolve(s"${src.getFileName}/a.txt")) == "ALPHA\nMATCH ME\n")
    assert(Files.readString(dst.resolve("a.txt")) == "alpha\nmatch me\n",
      "first run's files are untouched")
  }

  test("overwrite semantics: rerun with the same layout replaces dst files") {
    val src = mkTree()
    val dst = tmpDst()
    Files.createDirectories(dst) // dst exists for BOTH runs → same nested layout
    DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat").collect()
    DistExecJob.run(spark, Seq(src.toString), dst.toString, "tr a-z A-Z").collect()
    assert(Files.readString(dst.resolve(s"${src.getFileName}/a.txt")) == "ALPHA\nMATCH ME\n")
  }

  test("singleOut on the single-file special case returns dst itself (no merge)") {
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.resolve("a.txt").toString), dst.toString, "cat")
    val merged = DistExecJob.singleOutMerge(spark, dst.toString, status)
    assert(merged.toString == new org.apache.hadoop.fs.Path(dst.toString).toString)
    assert(Files.readString(dst) == "alpha\nmatch me\n", "dst is already the single output")
  }

  test("CLI failure echo is bounded: many-failure run never collects to driver") {
    import spark.implicits._
    val status = spark.createDataset((1 to 250).map(i =>
      ExecStatus(s"f$i", ok = false, exitCode = 7, 0L, 0L, 0L, s"err $i")))
    val echoed = graft.cli.Main.failureEcho(status)
    assert(echoed.length == graft.cli.Main.MaxStderrEcho + 1)
    assert(echoed.last.contains("capped"))
    // an all-green run echoes nothing
    val ok = spark.createDataset(Seq(ExecStatus("f", ok = true, 0, 1L, 1L, 0L, "")))
    assert(graft.cli.Main.failureEcho(ok).isEmpty)
  }

  test("default map cap tracks the session, not a hard-coded node count") {
    val sc = spark.sparkContext
    // local[4]: one "node" → 20 maps/node, floored at defaultParallelism
    assert(DistExecJob.sessionMapCap(spark) ==
      math.max(DistExecJob.MaxMapsPerNode, sc.defaultParallelism))
    // explicit -m / options still win over the derived cap
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat",
      DistExecOptions(maxMaps = Some(1)))
    assert(status.rdd.getNumPartitions == 1, "-m pins the task count")
  }

  test("failure log dir: FAIL rows land in _distexec_logs_<id> (inside dst dir)") {
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "sh -c 'exit 7'")
    val logPath = DistExecJob.writeFailureLog(spark, dst.toString, status)
    assert(logPath.getName.startsWith("_distexec_logs_"))
    assert(logPath.getParent.toUri.getPath == dst.toString, "log dir sits inside the dst dir")
    val lines = spark.read.textFile(logPath.toString).collect()
    assert(lines.length == 3 && lines.forall(_.startsWith("FAIL ")))
  }

  test("failure log with no failures: the dir exists, reads 0 lines, nothing else left") {
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat")
    val logPath = DistExecJob.writeFailureLog(spark, dst.toString, status)
    assert(Files.isDirectory(dst.resolve(logPath.getName)))
    assert(spark.read.textFile(logPath.toString).count() == 0)
    val names = walk(dst).map(p => dst.relativize(p).toString)
    assert(!names.exists(n => n.contains("_temporary") || n.contains("_tmp") || n.endsWith(".crc")),
      names)
  }

  test("exact placement: 8 equal-size files at maxMaps 8 give every task one file") {
    val src = Files.createTempDirectory("graft-exec-place")
    (0 until 8).foreach(i => Files.writeString(src.resolve(s"f$i.txt"), "0123456789\n"))
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat",
      DistExecOptions(maxMaps = Some(8)))
    val perTask = status.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    assert(perTask == Seq.fill(8)(1), perTask)
  }

  test("job budget: run + counters + failure log take at most 6 Spark jobs") {
    val src = mkTree()
    val dst = tmpDst()
    val sc = spark.sparkContext
    val group = "distexec-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat")
      assert(DistExecJob.counters(status).executed == 3)
      DistExecJob.writeFailureLog(spark, dst.toString, status)
      ListenerBusAccess.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get > 0 && jobs.get <= 6, s"${jobs.get} Spark jobs")
  }

  test("runManifest on a duplicated manifest throws and leaves dst absent") {
    val r1 = mkTree()
    val r2 = mkTree()
    // special: both trees spill into dst itself, so every file name collides
    val manifest = Manifest.build(spark, Seq(r1.toString, r2.toString), special = true)
    val dst = tmpDst()
    intercept[DuplicationException] {
      DistExecJob.runManifest(spark, manifest, dst.toString, "cat")
    }
    assert(!Files.exists(dst))
  }

  test("large payload streams: 32 MB through cat, exact bytes, bounded heap") {
    // R10/R12 claim the exec operator never materializes a file in
    // memory: stdin pump reads 1 KiB chunks over a 128 KiB buffer,
    // stdout streams to the (lazy) output. A payload far larger than
    // any pump buffer must arrive byte-exact with matching counters.
    val src = Files.createTempDirectory("graft-exec-big")
    val n = 32 * 1024 * 1024
    val line = ("x" * 63) + "\n"
    val big = new StringBuilder(n)
    while (big.length < n) big.append(line)
    Files.writeString(src.resolve("big.txt"), big.toString)
    // a second file keeps the run on the normal tree path (a lone file
    // into a nonexistent dst would trigger the R18 dst-is-the-file rule)
    Files.writeString(src.resolve("small.txt"), "tiny\n")
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, "cat")
    val c = DistExecJob.counters(status)
    assert(c.executed == 2 && c.failed == 0)
    assert(c.bytesExecuted == big.length.toLong + 5 &&
      c.bytesWritten == big.length.toLong + 5)
    val out = dst.resolve("big.txt")
    assert(Files.size(out) == big.length.toLong, "output must be byte-exact")
    // spot-check content edges rather than loading the file whole
    val head = new String(java.nio.file.Files.newInputStream(out).readNBytes(64))
    assert(head == line)
  }

  test("modes match stock Hadoop under the default umask: 0644 files, 0755 dirs, no .crc") {
    val umask = org.apache.hadoop.fs.permission.FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    assert(umask.toShort == 0x12, umask) // 022
    assertModes(fileMode = 0x1a4, dirMode = 0x1ed) // 0644, 0755
  }

  test("modes follow fs.permissions.umask-mode=077: 0600 files, 0700 dirs") {
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "fs.permissions.umask-mode"
    val old = hc.get(key)
    hc.set(key, "077")
    try assertModes(fileMode = 0x180, dirMode = 0x1c0) // 0600, 0700
    finally if (old == null) hc.unset(key) else hc.set(key, old)
  }

  test("stdout close failure: FAIL row, stderr stream still closed, no tmp left") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    import org.apache.hadoop.util.Progressable
    val conf = new Configuration()
    val closed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // every created stream records its close; the stdout one then throws
    val failing = new FilterFileSystem(FileSystem.getLocal(conf).getRaw) {
      override def create(f: Path, permission: FsPermission, overwrite: Boolean,
          bufferSize: Int, replication: Short, blockSize: Long,
          progress: Progressable): FSDataOutputStream = {
        val inner = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
        new FSDataOutputStream(inner, null) {
          override def close(): Unit = {
            super.close()
            closed.add(f.getName)
            if (!f.getName.endsWith(".stderr")) throw new IOException("injected close failure")
          }
        }
      }
    }
    val src = Files.createTempDirectory("graft-close-src")
    Files.writeString(src.resolve("f.txt"), "payload\n")
    val dst = tmpDst()
    Files.createDirectories(dst)
    val entry = graft.fs.FileEntry(src.resolve("f.txt").toString,
      src.toString, "f.txt", 8L, isDir = false, 0L)
    val tmpRoot = dst.resolve("_distexec_tmp_close")
    val st = DistExecJob.executeOne(conf, failing, entry, dst.toString, tmpRoot.toString,
      "0-1", "sh -c 'cat; echo oops >&2'", redirectErrorToOut = false,
      special = false)
    assert(!st.ok && st.error.contains("injected close failure"), st)
    assert(closed.asScala == Set("f.txt", "f.txt.stderr"), s"closed: $closed")
    assert(walk(dst).forall(Files.isDirectory(_)), s"files left: ${walk(dst)}")
  }

  test("speculation race: two attempts of one file — last rename wins, no partial output") {
    // The R15/R20 claim driven adversarially: Spark speculation runs the
    // SAME file in two concurrent attempts. Each writes an
    // attempt-unique tmp and atomically renames into place, so the
    // surviving dst must be one attempt's COMPLETE output — never a
    // torn interleave, never a leftover tmp. Repeat to shake
    // interleavings.
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    val conf = new Configuration()
    val payload = "speculation payload\n" * 200
    for (round <- 1 to 10) {
      val src = Files.createTempDirectory(s"graft-spec-src$round")
      Files.writeString(src.resolve("f.txt"), payload)
      val dst = tmpDst()
      Files.createDirectories(dst)
      val dstFs = new Path(dst.toString).getFileSystem(conf)
      val entry = graft.fs.FileEntry(src.resolve("f.txt").toString,
        src.toString, "f.txt", payload.length.toLong, isDir = false, 0L)
      val tmpRoot = dst.resolve("_distexec_tmp_race").toString
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[ExecStatus]()
      val threads = Seq("0-1", "1-2").map { attempt =>
        new Thread(() => {
          barrier.await()
          results.add(DistExecJob.executeOne(conf, dstFs, entry, dst.toString,
            tmpRoot, attempt, "cat", redirectErrorToOut = false,
            special = false))
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val rs = results.toArray(Array.empty[ExecStatus])
      assert(rs.exists(_.ok), s"round $round: at least one attempt must publish")
      // the dst file is exactly one attempt's complete output
      assert(Files.readString(dst.resolve("f.txt")) == payload,
        s"round $round: dst must be a complete copy, never torn")
      // no attempt-tmp residue anywhere under dst
      val leftovers = Files.walk(dst).iterator()
      val tmps = Iterator.continually(leftovers)
        .takeWhile(_.hasNext).map(_.next().toString)
        .filter(p => p.contains("_distexec_tmp_race/") && !Files.isDirectory(java.nio.file.Paths.get(p)))
        .toList
      assert(tmps.isEmpty, s"round $round: tmp residue $tmps")
    }
  }
}
