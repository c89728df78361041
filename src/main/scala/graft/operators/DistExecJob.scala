package graft.operators

import java.io.{IOException, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, Path => JPath}

import graft.exec.{CommandLine, ExitPolicy, ProcessRunner, ShellHelper}
import graft.fs.{DstFileSystem, FileEntry, Manifest, ModPartitioner}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}

/** Per-file execution outcome (reference's FAIL log rows + counters,
  * ExecFilesMapper.java:27,184-187, re-expressed as a status Dataset).
  * `bytesOut` and `bytesErr` are the lengths of what the child wrote.
  * `bytesIn` is the source's listed length on the local path (see
  * [[DistExecJob.TaskExec]]), also when the child stops reading early
  * (`head -c 1`, `grep -m`); on the pump path it counts the bytes the
  * child read, fewer for such a child. A FAIL row counts 0 bytes.
  */
final case class ExecStatus(
    relativeDst: String,
    ok: Boolean,
    exitCode: Int,
    bytesIn: Long,
    bytesOut: Long,
    bytesErr: Long,
    error: String)

/** The reference's four counters: `bytesExecuted` sums the OK rows'
  * `bytesIn` (source lengths on the local path, see [[ExecStatus]]),
  * `bytesWritten` their `bytesOut`.
  */
final case class ExecCounters(executed: Long, failed: Long, bytesExecuted: Long, bytesWritten: Long)

final case class DistExecOptions(
    // None → derived from the session at run time (the reference's
    // 20 × live-cluster-nodes, DistExec.java:419-426); Some(n) pins it.
    maxMaps: Option[Int] = None,
    redirectErrorToOut: Boolean = false)

/** The core operator: pipe every file of the source trees through a shell
  * command, writing stdout (and a `.stderr` sidecar) to a mirrored path
  * under `dst`.
  *
  * Spark-native redesign of the reference's map-only job
  * (DistExec.java:318-339 + ExecFilesMapper.java:82-208): the manifest is
  * a `Dataset[FileEntry]`; one planning pass over it checks duplicates
  * and counts ([[Manifest.checkDuplication]]); split planning is
  * size-weighted binning ([[Manifest.binPack]]) with bin b placed on
  * task b mod the task count; and the per-file exec runs inside
  * `mapPartitions` (opaque to Catalyst by design — process spawn
  * dominates cost, like `RDD.pipe` but per-file and binary-safe), each
  * task also making its share of the mirrored directories. Like the
  * reference, a manifest listed on the driver ([[Manifest.build]]) is
  * planned and binned there and its status is kept there, so a run
  * plus its counters and failure log is ONE Spark job, two when a file
  * fails. A manifest listed on executors ([[Manifest.listDistributed]])
  * is planned by a Spark job, binned by the exec job's shuffle, and its
  * status checkpointed and folded by Spark jobs.
  *
  * Scale/durability deltas vs the reference:
  *  - tmp paths are task-attempt-unique + atomic rename, so speculative
  *    execution is SAFE here (the reference had to disable it,
  *    DistExec.java:443-445);
  *  - never materializes a file in memory (no `binaryFile` 2 GB
  *    limit). A file whose source and destination are both local runs
  *    with kernel redirects from a per-task `sh` ([[ShellHelper]]), so
  *    no byte passes through the JVM and no child forks from it; any
  *    other file is streamed through the child by [[graft.exec.ProcessRunner]]'s
  *    pump threads ([[TaskExec]]);
  *  - a manifest can be listed on executors in one Spark job for wide
  *    trees ([[Manifest.listDistributed]]);
  *  - a local destination is written through
  *    [[graft.fs.DirectModeLocalFileSystem]], not the stock local
  *    filesystem, because without libhadoop the stock one forks a
  *    `chmod` process for every file and directory it creates.
  */
object DistExecJob {

  /** Reference `MAX_MAPS_PER_NODE` (DistExec.java:76). */
  val MaxMapsPerNode = 20

  /** Default map cap for THIS session: the reference's 20 × live NODES
    * (DistExec.java:419-426) read from the actual cluster instead of a
    * hard-coded node count. Nodes = distinct executor HOSTS (an
    * executor is not a node: 10 hosts × 4 executors must cap at 20×10,
    * not 20×40), minus one for the driver's host when others exist
    * (conservative when the driver co-locates with an executor), floored
    * at `defaultParallelism` so a single fat node still fills its cores.
    * `-m` / `DistExecOptions.maxMaps` override as before.
    */
  def sessionMapCap(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val hosts = sc.statusTracker.getExecutorInfos.map(_.host).distinct.length
    val nodes = math.max(hosts - 1, 1)
    math.max(MaxMapsPerNode * nodes, sc.defaultParallelism)
  }

  def run(
      spark: SparkSession,
      srcs: Seq[String],
      dst: String,
      command: String,
      options: DistExecOptions = DistExecOptions()): Dataset[ExecStatus] = {
    require(srcs.nonEmpty, "at least one source required")
    // Secure clusters: grab delegation tokens for every src/dst
    // filesystem before touching them (reference checkSrcPath,
    // DistExec.java:209-226). No-op without kerberos.
    Manifest.obtainDelegationTokens(
      spark.sparkContext.hadoopConfiguration, srcs :+ dst)
    // Reference root choice (DistExec.java:546-553): only the special
    // single-src-into-nonexistent-dst job spills a directory's CONTENTS
    // into dst; otherwise every source mirrors under dst/<srcname>/...,
    // so multiple sources (or a rerun into an existing dst) keep disjoint
    // namespaces.
    runManifest(spark, Manifest.build(spark, srcs, manifestSpecial(spark, srcs, dst)),
      dst, command, options)
  }

  /** The reference's job-level `special` flag (DistExec.java:546):
    * exactly one source into a dst that does not exist yet. Use this for
    * the `special` argument of [[Manifest.build]]/[[Manifest.listDistributed]]
    * when building a manifest for [[runManifest]] yourself.
    */
  def manifestSpecial(spark: SparkSession, srcs: Seq[String], dst: String): Boolean = {
    val dstPath = new Path(dst)
    val dstFs = dstPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    srcs.size == 1 && !dstFs.exists(dstPath)
  }

  /** Run over a pre-built manifest — pass [[Manifest.listDistributed]]'s
    * output here when the tree is too wide to list on the driver.
    * IMPORTANT: build the manifest with the SAME `special` value
    * [[run]] would compute ([[manifestSpecial]]) or the root-choice
    * semantics (nest under dst/<srcname> vs contents-into-dst) will not
    * match the reference's.
    *
    * A manifest held on the driver (`manifest.isLocal`, as every
    * [[Manifest.build]] output is) is planned, binned and placed there
    * from one `collect()`, and the exec job is the run's only Spark job:
    * its statuses come back to the driver, at most one row per file,
    * and are returned as a Dataset held there. Any other manifest, such
    * as [[Manifest.listDistributed]]'s, is read twice, by the planning
    * job and by the exec job's binning shuffle, so it must read the same
    * rows every time (that one is checkpointed), and its status is
    * `localCheckpoint`ed. Either way the mirrored directories are made
    * by the exec tasks, spread over them by name (a file published
    * before its directory makes the missing parent), and the returned
    * Dataset never re-runs a child process.
    */
  def runManifest(
      spark: SparkSession,
      manifest: Dataset[FileEntry],
      dst: String,
      command: String,
      options: DistExecOptions = DistExecOptions()): Dataset[ExecStatus] = {
    import spark.implicits._
    CommandLine.translate(command) // fail fast on unbalanced quotes (R1/R11)

    // Plan the job before anything under dst is created: the duplicate
    // check, the counts and the bucket byte totals binning needs. For a
    // manifest not held on the driver, one Spark job does it and the
    // driver sees those figures, never the manifest (SURVEY R5).
    val rows = if (manifest.isLocal) Some(manifest.collect().toSeq) else None
    val plan = rows.fold(Manifest.plan(manifest))(Manifest.plan)
    plan.checkDuplication()

    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new Path(dst)
    val dstFs = dstPath.getFileSystem(conf)
    val fileCount = plan.fileCount
    val totalBytes = math.max(plan.totalBytes, 1L)

    // Reference "special" single-file case (DistExec.java:545,
    // ExecFilesMapper.java:131-139): exactly one src file into a
    // nonexistent/non-dir dst → dst itself is the output file.
    val special = fileCount == 1 && plan.dirCount == 0 &&
      (!dstFs.exists(dstPath) || dstFs.getFileStatus(dstPath).isFile)

    // Ship the driver's effective Hadoop config (credentials, defaultFS,
    // spark.hadoop.* overrides) — a bare `new Configuration()` on the
    // executor would see classpath defaults only.
    val confEntries = Manifest.hadoopConfEntries(conf)
    val dstStr = dstPath.toString
    // Dest-dir semantics (DistExec.java:543-545,623-628): materialize the
    // dst root when more than one source entry lands in it; the exec
    // tasks make every manifest dir below it (EMPTY dirs too).
    if (!special) dstFs.mkdirs(dstPath)

    val jobId = java.lang.Long.toString(System.nanoTime(), 36)
    val tmpRoot = new Path(if (special) dstPath.getParent else dstPath, s"_distexec_tmp_$jobId")

    val numTasks = Manifest.mapCount(fileCount,
      options.maxMaps.getOrElse(sessionMapCap(spark)))
    val target = math.max(totalBytes / numTasks, 1L)

    // Each row's task is its key mod numTasks: bin b runs on task b mod
    // numTasks, and the directories spread over the tasks by name.
    val toTask = new ModPartitioner(numTasks)
    val mirrored = (e: FileEntry) => e.isDir && e.relativeDst != "."
    val dirKey = (d: FileEntry) => java.lang.Math.floorMod(d.relativeDst.hashCode, numTasks).toLong

    val cmd = command
    val redirect = options.redirectErrorToOut
    val tmpRootStr = tmpRoot.toString
    val isSpecial = special
    val execute = (it: Iterator[FileEntry]) => {
      val taskConf = Manifest.restoreConf(confEntries)
      val dstFsTask = DstFileSystem.taskPrivate(dstStr, taskConf)
      // the helper starts at the task's first local file; when the task
      // ends, however it ends, it is killed with every process it
      // started and the attempt's tmp files are removed
      val shell = new ShellHelper
      val exec = new TaskExec(taskConf, dstFsTask, dstStr, tmpRootStr, taskAttempt(),
        cmd, redirect, isSpecial, shell)
      TaskContext.get().addTaskCompletionListener[Unit] { _ => shell.close(); exec.close() }
      val root = new Path(dstStr)
      it.flatMap { e =>
        if (e.isDir) { dstFsTask.mkdirs(new Path(root, e.relativeDst)); None }
        else Some(exec.executeOne(e))
      }
    }

    val out = rows match {
      case Some(rs) =>
        // files in (bucket, path) order, so each bin's in path order
        val byTask = (rs.filter(mirrored).map(d => dirKey(d) -> d) ++
          Manifest.binned(rs, plan, target).map { case (e, _, bin) => bin -> e })
          .groupMap(k => toTask.getPartition(k._1))(_._2)
        val tasks = (0 until numTasks).map(i => byTask.getOrElse(i, Nil))
        spark.createDataset(
          spark.sparkContext.parallelize(tasks, numTasks).flatMap(identity).mapPartitions(execute)
            .collect().toSeq)
      case None =>
        val byTask = Manifest.binned(manifest, plan, target)
          .map { case (e, _, bin) => (bin, e) }
          .union(manifest.rdd.filter(mirrored).map(d => (dirKey(d), d)))
          .partitionBy(toTask)
          .values
        // Eager + lineage-truncated: re-running the returned Dataset
        // must NOT re-execute child processes.
        spark.createDataset(byTask.mapPartitions(execute)).localCheckpoint(true)
    }
    try dstFs.delete(tmpRoot, true) catch { case _: IOException => () }
    out
  }

  /** Aggregate the reference's four counters (EXECUTED, FAIL,
    * BYTESEXECUTED, BYTESWRITTEN) from a status Dataset: on the driver
    * for a status held there ([[runManifest]] over a driver-held
    * manifest), with no Spark job; otherwise in one stage, each task
    * folding its partition and the driver adding the partials.
    */
  def counters(status: Dataset[ExecStatus]): ExecCounters = {
    def one(s: ExecStatus) =
      ExecCounters(if (s.ok) 1L else 0L, if (s.ok) 0L else 1L, s.bytesIn, s.bytesOut)
    def add(a: ExecCounters, b: ExecCounters) =
      ExecCounters(a.executed + b.executed, a.failed + b.failed,
        a.bytesExecuted + b.bytesExecuted, a.bytesWritten + b.bytesWritten)
    val zero = ExecCounters(0L, 0L, 0L, 0L)
    if (status.isLocal) status.collect().iterator.map(one).foldLeft(zero)(add)
    else status.rdd.map(one).fold(zero)(add)
  }

  /** `-singleOut` (README-promised, never implemented in the reference —
    * README.md:48, TODO at DistExec.java:453): combine all per-file stdout
    * into ONE file under `dst`, each line prefixed with its source's
    * relative name (the "single reducer prepending filename" design).
    *
    * The concatenation is inherently serial (one output file) but runs as
    * a SINGLE EXECUTOR TASK (repartition(1) + mapPartitions + tmp-rename
    * publish), not on the driver: the driver never opens data streams.
    * The sorted name list lives in that task's memory — bounded by the
    * premise that the merged result is one reasonable file.
    *
    * Special single-file jobs (dst itself IS the one output file) are
    * already a single output: returned as-is, no merge, no prefix —
    * there is nothing to distinguish.
    */
  def singleOutMerge(spark: SparkSession, dst: String, status: Dataset[ExecStatus]): Path = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new Path(dst)
    val fs = dstPath.getFileSystem(conf)
    if (fs.exists(dstPath) && fs.getFileStatus(dstPath).isFile) return dstPath
    val confEntries = Manifest.hadoopConfEntries(conf)
    val dstStr = dstPath.toString
    val outPath = new Path(dstPath, "_singleout")
    status.filter(s => s.ok && s.bytesOut > 0).map(_.relativeDst)
      .repartition(1)
      .mapPartitions { it =>
        val root = new Path(dstStr)
        val taskFs = DstFileSystem.taskPrivate(dstStr, Manifest.restoreConf(confEntries))
        val tmp = new Path(root, s"_singleout_tmp_${taskAttempt()}")
        val out = taskFs.create(tmp, true)
        try {
          it.toArray.sorted.foreach { rel =>
            val in = taskFs.open(new Path(root, rel))
            try {
              val reader = new java.io.BufferedReader(
                new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
              var line = reader.readLine()
              while (line != null) {
                out.write(s"$rel:\t$line\n".getBytes(StandardCharsets.UTF_8))
                line = reader.readLine()
              }
            } finally in.close()
          }
        } finally out.close()
        // Atomic publish, same pattern as TaskExec: attempt-unique tmp
        // then rename, so a speculative/retried merge task never
        // interleaves with a competing writer.
        val target = new Path(root, "_singleout")
        rename(taskFs, tmp, target)
        Iterator(target.toString)
      }
      .collect() // force the single merge task
    outPath
  }

  /** Failure-log sink (reference parity: FAIL rows land in a
    * `_distexec_logs_<id>` directory, DistExec.java:507-521 — inside dst
    * when dst is an existing directory, beside it otherwise). Returns the
    * log path; the directory exists even when there are no failures (the
    * reference's job-output dir always exists).
    *
    * Each task with failures writes its FAIL lines to one `part-NNNNN`
    * text file, published by the TaskExec pattern (attempt-unique tmp
    * then rename) through [[DstFileSystem.taskPrivate]]; no output
    * committer, no `.crc` sidecars. A status held on the driver is read
    * there first, and the write job runs only when a row failed.
    */
  def writeFailureLog(spark: SparkSession, dst: String, status: Dataset[ExecStatus]): Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new Path(dst)
    val fs = dstPath.getFileSystem(conf)
    val name = s"_distexec_logs_${java.lang.Long.toString(System.nanoTime(), 36)}"
    val logPath =
      if (fs.exists(dstPath) && fs.getFileStatus(dstPath).isDirectory) new Path(dstPath, name)
      else new Path(dstPath.getParent, name)
    fs.mkdirs(logPath)
    val confEntries = Manifest.hadoopConfEntries(conf)
    val logStr = logPath.toString
    // a status held on the driver is read there: the write job runs
    // only when one of its rows failed
    if (!status.isLocal || status.collect().exists(!_.ok))
      status.rdd.foreachPartition { (it: Iterator[ExecStatus]) =>
        val fails = it.filter(!_.ok)
        if (fails.hasNext) {
          val root = new Path(logStr)
          val taskFs = DstFileSystem.taskPrivate(logStr, Manifest.restoreConf(confEntries))
          val part = f"part-${TaskContext.getPartitionId()}%05d"
          // '_'-prefixed: readers of the log dir skip a tmp a killed task left
          val tmp = new Path(root, s"_tmp_${part}_${taskAttempt()}")
          val out = taskFs.create(tmp, true)
          try fails.foreach(s => out.write(s"${s.error}\n".getBytes(StandardCharsets.UTF_8)))
          finally out.close()
          rename(taskFs, tmp, new Path(root, part))
        }
      }
    logPath
  }

  // ---------------------------------------------------------------- task side

  /** Attempt-unique tag for a task's tmp paths: a retried or speculative
    * attempt never writes into another attempt's tmp files.
    */
  private def taskAttempt(): String = TaskContext.get() match {
    case null => "local"
    case tc   => s"${tc.stageAttemptNumber()}-${tc.taskAttemptId()}"
  }

  /** Lazily-created output: no file materializes unless the stream gets
    * bytes — so empty stdout/stderr produces NO dst file (reference
    * LazyCreateOutputStream, ExecFilesMapper.java:46-80).
    */
  private final class LazyOut(fs: FileSystem, path: Path) extends OutputStream {
    private var out: OutputStream = _
    private def ensure(): OutputStream = {
      // create makes the missing parents itself
      if (out == null) out = fs.create(path, true)
      out
    }
    override def write(b: Int): Unit = ensure().write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = ensure().write(b, off, len)
    override def flush(): Unit = if (out != null) out.flush()
    override def close(): Unit = if (out != null) out.close()
    def created: Boolean = out != null
  }

  /** One task attempt's per-file exec, two ways:
    *  - local, when the source is `file:` and `dstFs` is the local
    *    instance [[DstFileSystem.taskPrivate]] makes: `shell` runs the
    *    child with kernel redirects from the source into the tmp files
    *    `<tmpRoot>/<attempt>/out` and `err`; a non-empty one is published
    *    by one `rename(2)`, an empty one stays for the next file's
    *    redirect to truncate (cheaper than creating a new file) until
    *    [[close]];
    *  - pumped, for every other file: [[ProcessRunner]] streams the
    *    source through the child into `<tmpRoot>/<attempt>/<relativeDst>`,
    *    published through `dstFs`.
    * Either way an empty stream makes no file, and a rejected exit code
    * or any error is a FAIL row whose tmp files are removed.
    * private[operators] so DistExecJobSpec can drive one attempt, or
    * race two attempts of the same file (the speculation scenario).
    */
  private[operators] final class TaskExec(
      conf: Configuration,
      dstFs: FileSystem,
      dst: String,
      tmpRoot: String,
      attempt: String,
      command: String,
      redirectErrorToOut: Boolean,
      special: Boolean,
      shell: ShellHelper) {
    private val argv = CommandLine.translate(command)
    private val defaultScheme = FileSystem.getDefaultUri(conf).getScheme
    private val local = DstFileSystem.isDirectLocal(dstFs)
    private def nio(p: String): JPath = Paths.get(dstFs.makeQualified(new Path(p)).toUri)
    private lazy val localDst = nio(dst)
    private lazy val localTmp = nio(tmpRoot).resolve(attempt)
    private lazy val out = localTmp.resolve("out")
    private lazy val err = localTmp.resolve("err")
    // the mode dstFs.create gives a file
    private val fileMode =
      FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)).toShort & 0xfff
    private var n = 0L

    def executeOne(e: FileEntry): ExecStatus = {
      val src = new Path(e.path)
      if (local && Option(src.toUri.getScheme).getOrElse(defaultScheme) == "file")
        executeLocal(e, src.toUri.getPath)
      else executePumped(e, src)
    }

    private def executeLocal(e: FileEntry, src: String): ExecStatus = {
      n += 1
      try {
        if (n == 1 && !dstFs.mkdirs(new Path(localTmp.toUri)))
          throw new IOException(s"cannot create $localTmp")
        val exit = shell.run(argv, src, out.toString, err.toString, redirectErrorToOut)
        ExitPolicy.check(argv, exit)
        val to = if (special) localDst else localDst.resolve(e.relativeDst)
        val bytesOut = publish(out, to)
        val bytesErr =
          if (redirectErrorToOut) 0L else publish(err, to.resolveSibling(s"${to.getFileName}.stderr"))
        ExecStatus(e.relativeDst, ok = true, exit, e.length, bytesOut, bytesErr, null)
      } catch {
        case t: Throwable =>
          try { Files.deleteIfExists(out); Files.deleteIfExists(err) }
          catch { case _: IOException => () }
          failed(e, t)
      }
    }

    /** Publish `tmp` at `to` with the umask's mode, by one `rename(2)`
      * that replaces an existing file; an empty `tmp` is left in place
      * instead (the reference's no-file-for-empty-output rule).
      * Returns its size.
      */
    private def publish(tmp: JPath, to: JPath): Long = {
      val attrs = Files.readAttributes(tmp, "unix:size,mode")
      val size = attrs.get("size").asInstanceOf[Long]
      if (size > 0L) {
        if ((attrs.get("mode").asInstanceOf[Int] & 0xfff) != fileMode)
          Files.setAttribute(tmp, "unix:mode", Int.box(fileMode))
        try Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // the parent is missing until the task that makes it (the
          // exec tasks share the manifest's directories) has run, and
          // always in the single-file case
          case _: NoSuchFileException =>
            dstFs.mkdirs(new Path(to.getParent.toUri))
            Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE)
        }
      }
      size
    }

    /** Remove what the local path left in the attempt's tmp directory. */
    def close(): Unit = if (n > 0) {
      try { Files.deleteIfExists(out); Files.deleteIfExists(err); Files.deleteIfExists(localTmp) }
      catch { case _: IOException => () }
    }

    private def executePumped(e: FileEntry, srcPath: Path): ExecStatus = {
      val dstFile =
        if (special) new Path(dst)
        else new Path(new Path(dst), e.relativeDst)
      val tmpFile = new Path(new Path(tmpRoot, attempt), e.relativeDst)
      val tmpErr = tmpFile.suffix(".stderr")
      try {
        val srcFs = srcPath.getFileSystem(conf)
        val in = srcFs.open(srcPath)
        val out = new LazyOut(dstFs, tmpFile)
        val err = new LazyOut(dstFs, tmpErr)
        val res =
          try ProcessRunner.run(argv, in, out, err, redirectErrorToOut)
          finally {
            try in.close() catch { case _: IOException => () }
            // err closes even when out's close throws (else its stream and
            // tmp file handle leak); the throw still fails the file
            try out.close() finally err.close()
          }
        ExitPolicy.check(argv, res.exitCode)
        // Atomic publish: delete-existing + rename tmp→dst, per stream
        // (reference rename, ExecFilesMapper.java:156-170). No tmp ⇒ no file.
        if (out.created) rename(dstFs, tmpFile, dstFile)
        if (err.created) rename(dstFs, tmpErr, dstFile.suffix(".stderr"))
        ExecStatus(e.relativeDst, ok = true, res.exitCode, res.bytesIn, res.bytesOut, res.bytesErr, null)
      } catch {
        case t: Throwable =>
          // Per-record failure: log + continue; best-effort tmp cleanup with
          // retries (reference: ExecFilesMapper.java:173-208).
          var tries = 0
          while (tries < 3 && (exists(dstFs, tmpFile) || exists(dstFs, tmpErr))) {
            try { dstFs.delete(tmpFile, false); dstFs.delete(tmpErr, false) }
            catch { case _: IOException => () }
            tries += 1
            if (tries < 3) Thread.sleep(100)
          }
          failed(e, t)
      }
    }
  }

  private def failed(e: FileEntry, t: Throwable): ExecStatus =
    ExecStatus(e.relativeDst, ok = false, -1, 0L, 0L, 0L,
      s"FAIL ${e.relativeDst} : ${t.getClass.getName}: ${t.getMessage}")

  private def exists(fs: FileSystem, p: Path): Boolean =
    try fs.exists(p) catch { case _: IOException => false }

  private def rename(fs: FileSystem, tmp: Path, dst: Path): Unit = {
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(tmp, dst))
      throw new IOException(s"failed to rename $tmp to $dst")
  }
}
