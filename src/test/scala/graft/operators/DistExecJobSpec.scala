package graft.operators

import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import graft.SparkSpec
import graft.exec.ShellHelper
import graft.fs.{DstFileSystem, DuplicationException, FileEntry, Manifest}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem}
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

class DistExecJobSpec extends AnyFunSuite with SparkSpec {

  /** `p` on the `pumplocal:` scheme ([[PumpLocalFileSystem]]): a job
    * over it writes through no local instance of
    * [[DstFileSystem.taskPrivate]], so every file takes the pump path.
    */
  private def viaPump(p: JPath): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.pumplocal.impl", classOf[PumpLocalFileSystem].getName)
    s"pumplocal:$p"
  }

  /** A case run on both exec paths: as `name` over plain local paths
    * (the local path) and as `name (pump path)` over [[viaPump]] ones.
    */
  private def bothPaths(name: String)(body: (JPath => String) => Unit): Unit = {
    test(name)(body(_.toString))
    test(s"$name (pump path)")(body(viaPump))
  }

  /** A case run over both kinds of manifest: as `name` over
    * [[Manifest.build]]'s, held on the driver, and as
    * `name (listDistributed manifest)` over [[Manifest.listDistributed]]'s.
    * `body` gets a runManifest call over the chosen kind.
    */
  private def bothManifests(name: String)(
      body: ((Seq[String], String, String, DistExecOptions) => Dataset[ExecStatus]) => Unit): Unit = {
    def over(list: (Seq[String], Boolean) => Dataset[FileEntry]) =
      (srcs: Seq[String], dst: String, cmd: String, options: DistExecOptions) =>
        DistExecJob.runManifest(spark, list(srcs, DistExecJob.manifestSpecial(spark, srcs, dst)),
          dst, cmd, options)
    test(name)(body(over(Manifest.build(spark, _, _))))
    test(s"$name (listDistributed manifest)")(body(over(Manifest.listDistributed(spark, _, _))))
  }

  /** The live shell helpers this JVM started. */
  private def helpers(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().arguments().toScala.exists(_.contains(ShellHelper.Script))).toSeq

  /** One local-path task attempt writing under `dst`, as runManifest makes it. */
  private def taskExec(dst: JPath, command: String, shell: ShellHelper,
      attempt: String = "0-1"): DistExecJob.TaskExec = {
    val conf = new Configuration()
    new DistExecJob.TaskExec(conf, DstFileSystem.taskPrivate(dst.toString, conf), dst.toString,
      dst.resolve("_distexec_tmp_t").toString, attempt, command, redirectErrorToOut = false,
      special = false, shell)
  }

  private def fileEntry(src: JPath, rel: String): FileEntry =
    FileEntry(src.resolve(rel).toString, src.toString, rel, Files.size(src.resolve(rel)), isDir = false, 0L)

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
  private def assertModes(fileMode: Int, dirMode: Int, uri: JPath => String = _.toString): Unit = {
    val src = mkTree()
    val dst = tmpDst()
    val rows = DistExecJob.run(spark, Seq(uri(src)), uri(dst),
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

  bothPaths("grep: exit 1 on no-match accepted; empty stdout produces NO dst file") { uri =>
    val src = mkTree()
    val dst = tmpDst()
    val status = DistExecJob.run(spark, Seq(uri(src)), uri(dst), "grep match")
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

  bothPaths("command that cannot start: job returns, one FAIL row per file, nothing written") { uri =>
    val src = mkTree()
    val dst = tmpDst()
    val rows = DistExecJob.run(spark, Seq(uri(src)), uri(dst),
      "graft-no-such-command --flag").collect()
    assert(rows.map(_.relativeDst).sorted.toSeq == Seq("a.txt", "b.txt", "sub/c.txt"))
    assert(rows.forall(r => !r.ok && r.error.startsWith(s"FAIL ${r.relativeDst} : ")),
      rows.toSeq)
    assert(rows.forall(_.error.contains("graft-no-such-command")), rows.toSeq)
    val left = walk(dst).filter(_ != dst)
    assert(left.forall(Files.isDirectory(_)), s"files written: $left")
    assert(!left.exists(_.toString.contains("_distexec_tmp_")), s"tmp left: $left")
  }

  bothPaths("stderr sidecar: .stderr file written only when stderr non-empty") { uri =>
    val src = mkTree()
    val dst = tmpDst()
    DistExecJob.run(spark, Seq(uri(src)), uri(dst),
      "sh -c 'cat; echo oops >&2'").collect()
    assert(Files.readString(dst.resolve("a.txt")) == "alpha\nmatch me\n")
    assert(Files.readString(dst.resolve("a.txt.stderr")) == "oops\n")
  }

  bothPaths("redirectErrorToOut interleaves stderr into stdout (real, unlike reference)") { uri =>
    val src = mkTree()
    val dst = tmpDst()
    DistExecJob.run(spark, Seq(uri(src)), uri(dst),
      "sh -c 'echo first; echo second >&2'",
      DistExecOptions(redirectErrorToOut = true)).collect()
    val out = Files.readString(dst.resolve("a.txt"))
    assert(out.contains("first\n") && out.contains("second\n"))
    assert(!Files.exists(dst.resolve("a.txt.stderr")))
  }

  bothPaths("single-file special case: dst itself becomes the output file") { uri =>
    val src = mkTree()
    val dst = tmpDst()
    DistExecJob.run(spark, Seq(uri(src.resolve("a.txt"))), uri(dst), "cat").collect()
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

  bothManifests("default map cap tracks the session, not a hard-coded node count") { run =>
    val sc = spark.sparkContext
    // local[4]: one "node" → 20 maps/node, floored at defaultParallelism
    assert(DistExecJob.sessionMapCap(spark) ==
      math.max(DistExecJob.MaxMapsPerNode, sc.defaultParallelism))
    // explicit -m / options still win over the derived cap; the exec
    // stage is the last one the run submits
    val src = mkTree()
    val dst = tmpDst()
    var status: Dataset[ExecStatus] = null
    val stages = ListenerBusAccess.stageTasks(sc) {
      status = run(Seq(src.toString), dst.toString, "cat", DistExecOptions(maxMaps = Some(1)))
    }
    assert(stages.last == 1, s"-m pins the task count: $stages")
    assert(status.collect().count(_.ok) == 3)
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

  bothManifests("exact placement: 8 equal-size files at maxMaps 8 give every task one file") { run =>
    val src = Files.createTempDirectory("graft-exec-place")
    (0 until 8).foreach(i => Files.writeString(src.resolve(s"f$i.txt"), "0123456789\n"))
    val dst = tmpDst()
    // each task's files run from its own shell helper, the child's parent
    val stages = ListenerBusAccess.stageTasks(spark.sparkContext) {
      run(Seq(src.toString), dst.toString, "sh -c 'echo $PPID'", DistExecOptions(maxMaps = Some(8)))
    }
    assert(stages.last == 8, stages)
    val helperOf = (0 until 8).map(i => Files.readString(dst.resolve(s"f$i.txt")).trim)
    val perTask = helperOf.groupBy(identity).values.map(_.size).toSeq
    assert(perTask == Seq.fill(8)(1), helperOf)
  }

  test("job budget: run + counters + failure log take at most 6 Spark jobs") {
    // over a manifest listed on executors: planning, exec, counters and
    // failure log each run a job
    val src = mkTree()
    val dst = tmpDst()
    val srcs = Seq(src.toString)
    val manifest = Manifest.listDistributed(spark, srcs, DistExecJob.manifestSpecial(spark, srcs, dst.toString))
    val jobs = ListenerBusAccess.jobCount(spark.sparkContext) {
      val status = DistExecJob.runManifest(spark, manifest, dst.toString, "cat")
      assert(DistExecJob.counters(status).executed == 3)
      DistExecJob.writeFailureLog(spark, dst.toString, status)
    }
    assert(jobs > 0 && jobs <= 6, s"$jobs Spark jobs")
  }

  test("one job: over a driver-held manifest, run + counters + failure log take 1 Spark job, 2 when a file fails") {
    val src = mkTree()
    def jobs(command: String): (Int, Seq[String]) = {
      val dst = tmpDst()
      var log: org.apache.hadoop.fs.Path = null
      val n = ListenerBusAccess.jobCount(spark.sparkContext) {
        val status = DistExecJob.run(spark, Seq(src.toString), dst.toString, command)
        val c = DistExecJob.counters(status)
        assert(c.executed + c.failed == 3)
        log = DistExecJob.writeFailureLog(spark, dst.toString, status)
      }
      val logDir = dst.resolve(log.getName)
      (n, walk(logDir).filter(Files.isRegularFile(_)).flatMap(Files.readAllLines(_).asScala))
    }
    assert(jobs("cat") == (1, Nil))
    // exit 1 of /bin/grep is a failure: b.txt holds no match
    val (n, lines) = jobs("/bin/grep match")
    assert(n == 2 && lines.size == 1 && lines.head.startsWith("FAIL b.txt : "), (n, lines))
  }

  bothManifests("an empty source directory is mirrored") { run =>
    val src = Files.createTempDirectory("graft-exec-emptysrc")
    Files.createDirectories(src.resolve("a/b"))
    Files.createDirectories(src.resolve("c"))
    val dst = tmpDst()
    assert(run(Seq(src.toString), dst.toString, "cat", DistExecOptions()).collect().isEmpty)
    val left = walk(dst).map(dst.relativize(_).toString).toSet
    assert(left == Set("", "a", "a/b", "c"), left)
  }

  test("reading a driver-held status twice never re-runs a child") {
    val src = mkTree()
    val dst = tmpDst()
    val runs = Files.createTempFile("graft-exec-runs", ".txt")
    // sh exits with grep's status: 1 for b.txt, a failure
    val status = DistExecJob.run(spark, Seq(src.toString), dst.toString,
      s"sh -c 'echo x >> $runs; grep match'")
    val want = ExecCounters(executed = 2, failed = 1,
      bytesExecuted = Files.size(src.resolve("a.txt")) + Files.size(src.resolve("sub/c.txt")),
      bytesWritten = "match me\nmatch too\n".length)
    assert(DistExecJob.counters(status) == want)
    assert(DistExecJob.counters(status) == want)
    assert(graft.cli.Main.failureEcho(status).map(_.takeWhile(_ != ':')) == Seq("FAIL b.txt "))
    assert(Files.readAllLines(runs).size == 3)
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

  bothPaths("modes follow fs.permissions.umask-mode=077: 0600 files, 0700 dirs") { uri =>
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "fs.permissions.umask-mode"
    val old = hc.get(key)
    hc.set(key, "077")
    try assertModes(fileMode = 0x180, dirMode = 0x1c0, uri) // 0600, 0700
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
    // not taskPrivate's local instance: the pump path, whose helper never starts
    val st = new DistExecJob.TaskExec(conf, failing, dst.toString, tmpRoot.toString,
      "0-1", "sh -c 'cat; echo oops >&2'", redirectErrorToOut = false,
      special = false, new ShellHelper).executeOne(entry)
    assert(!st.ok && st.error.contains("injected close failure"), st)
    assert(closed.asScala == Set("f.txt", "f.txt.stderr"), s"closed: $closed")
    assert(walk(dst).forall(Files.isDirectory(_)), s"files left: ${walk(dst)}")
  }

  test("speculation race: two attempts of one file — last rename wins, no partial output") {
    speculationRace(local = false) // the stock local filesystem: the pump path
  }

  test("speculation race: two attempts of one file — last rename wins, no partial output (local path)") {
    speculationRace(local = true)
  }

  private def speculationRace(local: Boolean): Unit = {
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
      val dstFs =
        if (local) DstFileSystem.taskPrivate(dst.toString, conf)
        else new Path(dst.toString).getFileSystem(conf)
      val entry = graft.fs.FileEntry(src.resolve("f.txt").toString,
        src.toString, "f.txt", payload.length.toLong, isDir = false, 0L)
      val tmpRoot = dst.resolve("_distexec_tmp_race").toString
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[ExecStatus]()
      val threads = Seq("0-1", "1-2").map { attempt =>
        new Thread(() => {
          val shell = new ShellHelper
          val exec = new DistExecJob.TaskExec(conf, dstFs, dst.toString,
            tmpRoot, attempt, "cat", redirectErrorToOut = false,
            special = false, shell)
          barrier.await()
          try results.add(exec.executeOne(entry)) finally { shell.close(); exec.close() }
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

  // ------------------------------------------------- the local exec path

  /** Names of the `graft-pump-*` threads alive at some point while
    * `body` runs, sampled every 10 ms.
    */
  private def pumpThreadsDuring(body: => Unit): Set[String] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => while (running.get) {
      Thread.getAllStackTraces.keySet.asScala.map(_.getName)
        .filter(_.startsWith("graft-pump-")).foreach(seen.add)
      Thread.sleep(10)
    })
    sampler.start()
    try body finally { running.set(false); sampler.join() }
    seen.asScala.toSet
  }

  test("a local run starts no graft-pump-* thread") {
    val src = mkTree()
    val dst = tmpDst()
    val seen = pumpThreadsDuring {
      val rows = DistExecJob.run(spark, Seq(src.toString), dst.toString, "sh -c 'sleep 0.3; cat'").collect()
      assert(rows.length == 3 && rows.forall(_.ok), rows.toSeq)
    }
    assert(seen.isEmpty, seen)
    assert(Files.readString(dst.resolve("a.txt")) == "alpha\nmatch me\n")
  }

  test("a pump-path run starts graft-pump-* threads (the probe sees them)") {
    val src = mkTree()
    val seen = pumpThreadsDuring {
      DistExecJob.run(spark, Seq(viaPump(src)), viaPump(tmpDst()), "sh -c 'sleep 0.3; cat'").collect()
    }
    assert(seen.nonEmpty)
  }

  test("no shell helper outlives a job, successful or with a failing file") {
    val src = mkTree()
    assert(helpers().isEmpty, helpers())
    val ok = DistExecJob.run(spark, Seq(src.toString), tmpDst().toString, "cat").collect()
    assert(ok.length == 3 && ok.forall(_.ok), ok.toSeq)
    assert(helpers().isEmpty, helpers())
    // exit 1 of /bin/grep is a failure: the grep exception is for bare names
    val mixed = DistExecJob.run(spark, Seq(src.toString), tmpDst().toString, "/bin/grep match").collect()
    assert(mixed.filterNot(_.ok).map(_.relativeDst).toSeq == Seq("b.txt"), mixed.toSeq)
    assert(helpers().isEmpty, helpers())
  }

  test("the shell helper starts at the first local file, and close kills it") {
    val src = mkTree()
    val dst = Files.createDirectories(tmpDst())
    val shell = new ShellHelper
    val exec = taskExec(dst, "cat", shell)
    assert(helpers().isEmpty, helpers())
    assert(exec.executeOne(fileEntry(src, "a.txt")).ok)
    assert(helpers().size == 1, helpers())
    shell.close()
    assert(helpers().isEmpty, helpers())
  }

  bothPaths("argv and file names holding shell metacharacters, newlines, a leading - and non-ASCII text round-trip") { uri =>
    val jnu = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    // text outside ASCII, where the JVM can name it to the OS at all
    val other = Seq("caf\u00e9 \u0436").filter(jnu.newEncoder().canEncode(_))
    val words = Seq("it's", "say \"hi\"", "$HOME", "`id`", "back\\slash", "two  words",
      "line1\nline2", "-e", "-", "*") ++ other
    val names = Seq("it's \"q\" $HOME `id` back\\slash.txt", "-lead\nnew line*.txt") ++ other.map(_ + ".txt")
    val src = Files.createTempDirectory("graft-exec-names")
    val dir = Files.createDirectories(src.resolve("d $x 'y'"))
    names.foreach(n => Files.write(dir.resolve(n), s"body of $n\n".getBytes(UTF_8)))
    val dst = tmpDst()
    // CommandLine groups a word in '…', or in "…" when it holds a '
    val quoted = words.map(w => if (w.contains('\'')) "\"" + w + "\"" else "'" + w + "'")
    val cmd = "sh -c 'printf \"%s\\0\" \"$@\"; cat' sh " + quoted.mkString(" ")
    val rows = DistExecJob.run(spark, Seq(uri(src)), uri(dst), cmd).collect()
    assert(rows.length == names.length && rows.forall(_.ok), rows.toSeq)
    names.foreach { n =>
      val out = new String(Files.readAllBytes(dst.resolve("d $x 'y'").resolve(n)), UTF_8)
      assert(out == words.map(_ + "\u0000").mkString + s"body of $n\n", n)
    }
  }

  test("bytesIn on the local path is the source length, also when the child reads 1 byte") {
    val src = Files.createTempDirectory("graft-exec-head")
    Files.write(src.resolve("f.bin"), Array.fill[Byte](4096)('x'))
    val rows = DistExecJob.run(spark, Seq(src.toString), tmpDst().toString, "head -c 1").collect()
    assert(rows.map(r => (r.ok, r.bytesIn, r.bytesOut)).toSeq == Seq((true, 4096L, 1L)), rows.toSeq)
  }

  test("builtins as commands give FAIL rows and leave the helper serving the next file") {
    val src = mkTree()
    for (cmd <- Seq("exit 3", "cd /")) {
      val rows = DistExecJob.run(spark, Seq(src.toString), tmpDst().toString, cmd).collect()
      assert(rows.length == 3 && rows.forall(r => !r.ok && r.error.contains("status 127")), rows.toSeq)
    }
    // one helper across three attempts: the builtins run in its subshells
    val dst = Files.createDirectories(tmpDst())
    val shell = new ShellHelper
    try {
      assert(!taskExec(dst, "exit 3", shell, attempt = "0-1").executeOne(fileEntry(src, "a.txt")).ok)
      val helper = helpers()
      assert(helper.size == 1, helper)
      assert(!taskExec(dst, "cd /", shell, attempt = "0-2").executeOne(fileEntry(src, "a.txt")).ok)
      assert(taskExec(dst, "pwd", shell, attempt = "0-3").executeOne(fileEntry(src, "a.txt")).ok)
      assert(Files.readString(dst.resolve("a.txt")) == System.getProperty("user.dir") + "\n")
      assert(helpers() == helper)
    } finally shell.close()
  }

  test("a helper killed mid-task fails only the file in flight; the next file starts a new one") {
    val src = Files.createTempDirectory("graft-exec-kill")
    val words = Seq("one", "die", "three")
    words.foreach(w => Files.writeString(src.resolve(s"$w.txt"), s"$w\n"))
    val dst = Files.createDirectories(tmpDst())
    val shell = new ShellHelper
    // the child's parent is the helper
    val exec = taskExec(dst, "sh -c 'read x; [ \"$x\" != die ] || kill -9 $PPID; echo \"$x\"'", shell)
    try {
      val rows = words.map(w => exec.executeOne(fileEntry(src, s"$w.txt")))
      assert(rows.map(_.ok) == Seq(true, false, true), rows)
      assert(rows(1).error.contains("shell helper"), rows(1))
      assert(Files.readString(dst.resolve("one.txt")) == "one\n")
      assert(Files.readString(dst.resolve("three.txt")) == "three\n")
      exec.close()
      val files = walk(dst).filter(Files.isRegularFile(_)).map(dst.relativize(_).toString).toSet
      assert(files == Set("one.txt", "three.txt"), files)
    } finally shell.close()
  }

  test("a task reuses its empty tmp file, and close removes its tmp files") {
    val src = mkTree()
    val dst = Files.createDirectories(tmpDst())
    val shell = new ShellHelper
    val exec = taskExec(dst, "cat", shell)
    val attemptDir = dst.resolve("_distexec_tmp_t/0-1")
    def errInode() = Files.getAttribute(attemptDir.resolve("err"), "unix:ino")
    try {
      assert(exec.executeOne(fileEntry(src, "a.txt")).ok)
      val ino = errInode()
      assert(exec.executeOne(fileEntry(src, "b.txt")).ok)
      assert(errInode() == ino, "the empty stderr tmp is truncated, not made again")
      assert(Files.readString(dst.resolve("b.txt")) == "bravo\n")
      exec.close()
      assert(!Files.exists(attemptDir), walk(dst))
    } finally shell.close()
  }

  test("a publish failure is a FAIL row that leaves no tmp and no partial destination") {
    val src = mkTree()
    val dst = Files.createDirectories(tmpDst())
    // a plain file where the output's parent directory belongs
    Files.writeString(dst.resolve("sub"), "plain\n")
    val shell = new ShellHelper
    try {
      val st = taskExec(dst, "sh -c 'cat; echo oops >&2'", shell).executeOne(fileEntry(src, "sub/c.txt"))
      assert(!st.ok && st.error.startsWith("FAIL sub/c.txt : "), st)
      val files = walk(dst).filter(Files.isRegularFile(_))
      assert(files == Seq(dst.resolve("sub")), files)
      assert(Files.readString(dst.resolve("sub")) == "plain\n")
    } finally shell.close()
  }
}

/** The stock local filesystem under the `pumplocal:` scheme. */
class PumpLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("pumplocal:///")
})
