package graft.perfbench

import java.io.{ByteArrayInputStream, FileInputStream, FileOutputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import graft.exec.{CommandLine, ProcessRunner}
import graft.fs.Manifest
import graft.operators.DistExecJob

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `iconv -f iso8859-1 -t utf-8`: the input decoded as Latin-1 and
  * encoded as UTF-8, computed in the JVM.
  */
object Latin1ToUtf8 {
  def expected(in: Array[Byte]): Array[Byte] = new String(in, ISO_8859_1).getBytes(UTF_8)
  def matches(in: Path, out: Path): Boolean =
    java.util.Arrays.equals(expected(Files.readAllBytes(in)), Files.readAllBytes(out))
}

/** exec_small's input tree: many small Latin-1 text files in a
  * two-level tree of `Fanout` × `Fanout` directories, through the
  * paper's own command.
  */
object ExecSmall {
  val Name = "exec_small"
  val Command = "iconv -f iso8859-1 -t utf-8"
  val FileCount = 1000
  val Fanout = 10
  val MinBytes = 256
  val MaxBytes = 4096
  val NominalPassSeconds = 4.5
}

/** Output check for one job: every input has a correct output at the
  * mirrored path, nothing else is there (the job's `_distexec_logs_*`
  * directory aside), and no `_distexec_tmp_*` directory or `.stderr`
  * file is left behind. Each bad file and each leftover is one failure.
  */
object ExecCheck {
  final case class Result(ok: Long, failed: Long, problems: Seq[String], stderrBytes: Long)

  def run(src: Path, dst: Path): Result = {
    val inputs = listFiles(src).map(p => src.relativize(p).toString).toSet
    val outputs = listFiles(dst).map(p => dst.relativize(p).toString)
      .filterNot(_.startsWith("_distexec_logs_"))
    val leftovers = (listAll(dst).map(p => dst.relativize(p).toString)
      .filter(r => r.split('/').last.startsWith("_distexec_tmp_")) ++
      outputs.filter(_.endsWith(".stderr"))).distinct
    val extra = outputs.filterNot(o => inputs(o) || o.endsWith(".stderr") ||
      o.split('/').exists(_.startsWith("_distexec_tmp_")))
    val outSet = outputs.toSet
    val bad = inputs.toSeq.sorted.filter { r =>
      !outSet(r) || !Latin1ToUtf8.matches(src.resolve(r), dst.resolve(r))
    }
    val problems = bad.map(r => s"wrong or missing output: $r") ++
      leftovers.map(r => s"left behind: $r") ++ extra.map(r => s"unexpected output: $r")
    val stderrBytes = outputs.filter(_.endsWith(".stderr")).map(r => Files.size(dst.resolve(r))).sum
    Result(inputs.size - bad.size, bad.size + leftovers.size + extra.size, problems, stderrBytes)
  }

  private def listAll(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filterNot(_ == root).toVector finally s.close()
    }

  private def listFiles(root: Path): Seq[Path] = listAll(root).filter(Files.isRegularFile(_))
}

object Trees {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}

final class ExecWorkload(seed: Long, work: Path, nproc: Int) extends Workload {
  import ExecSmall._
  val name: String = Name
  private val src = work.resolve("src")
  private var inputBytes = 0L
  // traced-phase records: counters of the last job, committed stderr
  // bytes, and per job the bin count and the largest bin's bytes over
  // the mean
  private var lastCounters: Option[graft.operators.ExecCounters] = None
  private var bytesErr = 0L
  private val binStats = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]

  def conf: Seq[(String, String)] = Seq("spark.sql.shuffle.partitions" -> nproc.toString)

  def nominalPassSeconds: Double = NominalPassSeconds

  def prepare(): Unit = {
    Trees.deleteTree(src)
    val rng = new SplittableRandom(seed)
    (0 until FileCount).foreach { i =>
      val dir = src.resolve(s"d${i % Fanout}").resolve(s"e${(i / Fanout) % Fanout}")
      Files.createDirectories(dir)
      val size = MinBytes + rng.nextInt(MaxBytes - MinBytes + 1)
      Files.write(dir.resolve(f"f$i%05d.txt"), latin1(rng, size))
      inputBytes += size
    }
  }

  /** Latin-1 text: mostly ASCII words, about a fifth bytes 0xA0–0xFF
    * (two bytes each in UTF-8, so the output is larger than the input).
    */
  private def latin1(rng: SplittableRandom, size: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    var i = 0
    while (i < size) {
      val r = rng.nextInt(100)
      b(i) =
        if (r < 3) '\n'.toByte
        else if (r < 15) ' '.toByte
        else if (r < 80) ('a' + rng.nextInt(26)).toByte
        else (0xa0 + rng.nextInt(96)).toByte
      i += 1
    }
    b
  }

  /** Seeded bytes (xorshift64*) for the pump micro-benchmark, written
    * and synced so that the timed copy does not share the disk with
    * this file's writeback.
    */
  private def writeRandom(f: Path, size: Int, seed0: Long): Unit = {
    var x = seed0 | 1L
    val buf = ByteBuffer.allocate(1 << 20)
    val ch = FileChannel.open(f, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      var left = size
      while (left > 0) {
        buf.clear()
        while (buf.remaining() >= 8) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          buf.putLong(x * 0x2545f4914f6cdd1dL)
        }
        buf.flip()
        buf.limit(math.min(left, buf.limit()))
        left -= buf.remaining()
        while (buf.hasRemaining) ch.write(buf)
      }
      ch.force(true)
    } finally ch.close()
  }

  private def firstInput(): Path = {
    val s = Files.walk(src)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString).head
    finally s.close()
  }

  def pass(spark: SparkSession, tracer: Tracer, passNo: Int): Seq[Op] = {
    val dst = work.resolve(s"out-$passNo")
    Trees.deleteTree(dst)
    val srcs = Seq(src.toString)
    val t0 = System.nanoTime()
    val c =
      if (!tracer.enabled) {
        // the call sequence graft.cli.Main makes
        val status = DistExecJob.run(spark, srcs, dst.toString, Command)
        val c = DistExecJob.counters(status)
        DistExecJob.writeFailureLog(spark, dst.toString, status)
        c
      } else tracer.span("op") {
        val special = DistExecJob.manifestSpecial(spark, srcs, dst.toString)
        val manifest = tracer.span("fs.list")(Manifest.build(spark, srcs, special))
        tracer.span("fs.dupcheck")(Manifest.checkDuplication(manifest))
        binStats += tracer.span("fs.binpack")(bins(spark, manifest))
        val status = tracer.span("distexec.run")(
          DistExecJob.runManifest(spark, manifest, dst.toString, Command))
        val c = tracer.span("distexec.counters")(DistExecJob.counters(status))
        tracer.span("distexec.failure_log")(DistExecJob.writeFailureLog(spark, dst.toString, status))
        c
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val check = ExecCheck.run(src, dst)
    if (tracer.enabled) bytesErr += check.stderrBytes
    Trees.deleteTree(dst)
    lastCounters = Some(c)
    Seq(Op(name, sec, check.ok, inputBytes, attempted = FileCount,
      failed = math.max(check.failed, c.failed), problems = check.problems.take(5)))
  }

  /** Bin packing as runManifest does it (same map cap and target bytes),
    * forced by aggregating bytes per bin.
    */
  private def bins(spark: SparkSession, manifest: org.apache.spark.sql.Dataset[graft.fs.FileEntry]): (Long, Double) = {
    val files = manifest.filter(!col("isDir"))
    val r = files.agg(count(lit(1)), sum(col("length"))).head()
    val n = r.getLong(0)
    val total = math.max(if (r.isNullAt(1)) 0L else r.getLong(1), 1L)
    val tasks = Manifest.mapCount(n, DistExecJob.sessionMapCap(spark))
    val target = math.max(total / tasks, 1L)
    val perBin = Manifest.binPack(manifest, target).groupBy(col("bin"))
      .agg(sum(col("length"))).collect().map(_.getLong(1))
    if (perBin.isEmpty) (0L, 0.0)
    else (perBin.length.toLong, perBin.max / (perBin.sum.toDouble / perBin.length))
  }

  def rates(ops: Seq[Seq[Op]]): (Double, Double, Double) = {
    val jobs = ops.flatten
    (Stats.median(jobs.map(o => o.items / o.seconds)),
      Stats.median(jobs.map(o => o.bytes / 1048576.0 / o.seconds)),
      Stats.median(jobs.map(_.seconds)))
  }

  def tracedItemsPerSecond(tracer: Tracer, traced: Seq[Seq[Op]]): Double = {
    // the traced job adds separate dupcheck and binpack calls that the
    // untraced job makes inside runManifest; count only the rest
    val byName = tracer.all.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
    val sec = Seq("fs.list", "distexec.run", "distexec.counters", "distexec.failure_log")
      .map(byName.getOrElse(_, 0.0)).sum
    traced.flatten.map(_.items).sum / sec
  }

  def layerMetrics(spark: SparkSession, tracer: Tracer, traced: Seq[Seq[Op]]): Map[String, Double] = {
    val jobs = traced.flatten
    val byName = tracer.all.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
    def perJob(span: String) = byName.getOrElse(span, 0.0) / jobs.size
    val c = lastCounters.get
    val runS = perJob("distexec.run")
    Map(
      "fs.list_s" -> perJob("fs.list"),
      "fs.list_entries" -> Manifest.build(spark, Seq(src.toString)).count().toDouble,
      "fs.dupcheck_s" -> perJob("fs.dupcheck"),
      "fs.binpack_s" -> perJob("fs.binpack"),
      "fs.bins" -> binStats.last._1.toDouble,
      "fs.bin_bytes_max_over_mean" -> binStats.last._2,
      "distexec.run_s" -> runS,
      "distexec.counters_s" -> perJob("distexec.counters"),
      "distexec.failure_log_s" -> perJob("distexec.failure_log"),
      "distexec.ms_per_file" -> runS * nproc * 1000.0 / FileCount,
      "distexec.files_ok" -> c.executed.toDouble,
      "distexec.files_failed" -> c.failed.toDouble,
      "distexec.bytes_in" -> c.bytesExecuted.toDouble,
      "distexec.bytes_out" -> c.bytesWritten.toDouble,
      "distexec.bytes_err" -> (bytesErr / jobs.size).toDouble,
    ) ++ spawn() ++ pump() ++ Map("distexec.rename_ms_p50" -> renameMs(spark))
  }

  private val discard: OutputStream = OutputStream.nullOutputStream()

  /** Single-thread spawn latency of the workload's command on one small
    * input (the first input file, at most 4 KiB of it), and the spawn
    * rate with nproc threads spawning at once.
    */
  private def spawn(): Map[String, Double] = {
    val argv = CommandLine.translate(Command)
    val in = Files.readAllBytes(firstInput())
    val sample = java.util.Arrays.copyOf(in, math.min(in.length, 4096))
    def once(): Unit = ProcessRunner.run(argv, new ByteArrayInputStream(sample), discard, discard)
    (1 to 10).foreach(_ => once())
    val ms = (1 to 120).map { _ =>
      val t = System.nanoTime(); once(); (System.nanoTime() - t) / 1e6
    }
    val perThread = 60
    val t0 = System.nanoTime()
    val threads = (1 to nproc).map(_ => new Thread(() => (1 to perThread).foreach(_ => once())))
    threads.foreach(_.start()); threads.foreach(_.join())
    val rate = nproc * perThread / ((System.nanoTime() - t0) / 1e9)
    Map("exec.spawn_ms_p50" -> Stats.percentile(ms, 50), "exec.spawn_ms_p90" -> Stats.percentile(ms, 90),
      "exec.spawn_per_s_4t" -> rate)
  }

  /** `cat` moving one 64 MiB file to a file in the workload's directory. */
  private def pump(): Map[String, Double] = {
    val in = work.resolve("pump-in.bin")
    val out = work.resolve("pump-out.bin")
    writeRandom(in, 64 << 20, seed)
    val mbs = (1 to 3).map { _ =>
      val t = System.nanoTime()
      val i = new FileInputStream(in.toFile)
      val o = new FileOutputStream(out.toFile)
      try ProcessRunner.run(Seq("cat"), i, o, discard) finally { i.close(); o.close() }
      val s = (System.nanoTime() - t) / 1e9
      Files.delete(out)
      64.0 / s
    }
    Files.delete(in)
    Map("exec.pump_mb_per_s" -> Stats.median(mbs))
  }

  /** The FileSystem calls of the job's commit (exists, delete, mkdirs,
    * rename) on a task-style instance over the workload's directory.
    */
  private def renameMs(spark: SparkSession): Double = {
    val root = work.resolve("rename")
    Trees.deleteTree(root)
    val fs = FileSystem.newInstance(root.toUri, spark.sparkContext.hadoopConfiguration)
    try {
      fs.setWriteChecksum(false)
      val n = 200
      val tmp = (0 until n).map { i =>
        val p = new HPath(root.resolve(s"tmp/$i/f.txt").toUri)
        val o = fs.create(p, true); o.write(1); o.close()
        p
      }
      val ms = tmp.zipWithIndex.map { case (t, i) =>
        val d = new HPath(root.resolve(s"dst/d${i % 10}/f$i.txt").toUri)
        val t0 = System.nanoTime()
        if (fs.exists(d)) fs.delete(d, false)
        fs.mkdirs(d.getParent)
        if (!fs.rename(t, d)) throw new java.io.IOException(s"rename $t -> $d failed")
        (System.nanoTime() - t0) / 1e6
      }
      Stats.median(ms)
    } finally { fs.close(); Trees.deleteTree(root) }
  }

  def report(timed: Seq[Seq[Op]]): Seq[(String, Any)] = Seq(
    "command" -> Command,
    "files" -> FileCount,
    "input_bytes" -> inputBytes,
    "job_seconds" -> timed.flatten.map(_.seconds))
}
