package graft.exec

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream, OutputStream}

/** Result of one child-process execution: exit code plus byte counts per
  * stream (reference counters BYTESEXECUTED / BYTESWRITTEN,
  * ExecFilesMapper.java:27,115,123).
  */
final case class ExecResult(exitCode: Int, bytesIn: Long, bytesOut: Long, bytesErr: Long)

/** Child-process lifecycle with three concurrent stream pumps.
  *
  * Clean-room equivalent of the reference's `SingleExecution`
  * (reference: src/main/java/com/kadwa/hadoop/distexec/SingleExecution.java:21-112):
  * stdin/stdout/stderr are pumped by separate threads (a single-threaded
  * copy deadlocks once a pipe buffer fills), buffered at 128 KiB with a
  * 64 KiB read chunk, and the output pumps are joined with a 10 s timeout
  * after process exit. Unlike the reference (which leaks `err` —
  * ExecFilesMapper.java:126-129) all three streams are closed.
  *
  * PumpChunk was 1 KiB through r15 (the reference's own chunk size);
  * at the byte-throughput envelope (256 MiB/split) that is ~2M
  * buffer-hop iterations per GiB per stream for no benefit — the
  * surrounding BufferedInput/OutputStreams already do 128 KiB
  * syscalls, so the chunk size only sets the copy-loop granularity.
  * 64 KiB matches the Linux pipe buffer (one pipe drain per loop
  * iteration) and keeps the per-file allocation trivial for the
  * 1 KB-file spawn-cost envelope.
  */
object ProcessRunner {
  val BufferSize: Int = 128 * 1024
  val PumpChunk: Int = 64 * 1024
  val PumpJoinTimeoutMs: Long = 10000L

  private final class Pump(src: InputStream, dst: OutputStream, closeDst: Boolean, name: String)
      extends Thread(s"graft-pump-$name") {
    @volatile var bytes: Long = 0L
    @volatile var failure: Throwable = _
    setDaemon(true)
    override def run(): Unit = {
      try {
        val buf = new Array[Byte](PumpChunk)
        var n = src.read(buf)
        while (n >= 0) {
          if (n > 0) { dst.write(buf, 0, n); bytes += n }
          n = src.read(buf)
        }
        dst.flush()
      } catch {
        case t: Throwable => failure = t
      } finally {
        try src.close() catch { case _: IOException => () }
        if (closeDst) { try dst.close() catch { case _: IOException => () } }
      }
    }
  }

  /** Spawn `argv`, stream `stdin` into it, its stdout to `stdout` and its
    * stderr to `stderr` (interleaved into stdout when
    * `redirectErrorToOut` — the reference parsed but never honored this
    * flag; here it is real). Blocks until exit; returns counts.
    */
  def run(
      argv: Seq[String],
      stdin: InputStream,
      stdout: OutputStream,
      stderr: OutputStream,
      redirectErrorToOut: Boolean = false): ExecResult = {
    require(argv.nonEmpty, "empty command")
    val pb = new ProcessBuilder(argv: _*)
    pb.redirectErrorStream(redirectErrorToOut)
    val proc = pb.start()
    // stdin pump closes the child's stdin on EOF so the child terminates.
    val inPump = new Pump(
      new BufferedInputStream(stdin, BufferSize),
      new BufferedOutputStream(proc.getOutputStream, BufferSize),
      closeDst = true, "stdin")
    val outPump = new Pump(
      new BufferedInputStream(proc.getInputStream, BufferSize), stdout,
      closeDst = false, "stdout")
    val errPump = new Pump(
      new BufferedInputStream(proc.getErrorStream, BufferSize), stderr,
      closeDst = false, "stderr")
    inPump.start(); outPump.start(); errPump.start()
    val exit =
      try proc.waitFor()
      finally {
        outPump.join(PumpJoinTimeoutMs)
        errPump.join(PumpJoinTimeoutMs)
        inPump.interrupt()
        proc.destroy()
      }
    // An output-pump failure (dst write error) or join timeout means the
    // captured stdout/stderr is INCOMPLETE — surface it instead of
    // publishing a truncated result as success. The stdin pump's failure
    // is deliberately ignored: a child that exits before consuming all
    // input (head, grep -m) breaks the stdin pipe as a matter of course.
    def pumpError(p: Pump): Option[String] =
      if (p.failure != null) Some(s"${p.getName}: ${p.failure}")
      else if (p.isAlive) Some(s"${p.getName}: not drained within $PumpJoinTimeoutMs ms")
      else None
    val errors = (pumpError(outPump) ++ pumpError(errPump)).toSeq
    if (errors.nonEmpty)
      throw new IOException(s"output pump failed: ${errors.mkString("; ")}")
    ExecResult(exit, inPump.bytes, outPump.bytes, errPump.bytes)
  }
}

/** Exit-code acceptance policy: exit 0, plus the reference's "grep
  * exception": exit 1 is success iff argv(0) FULLY matches one of the
  * grep family names — so `/bin/grep` does NOT qualify (reference:
  * Executor.java:33-35,50-51, `String.matches` = full match).
  */
object ExitPolicy {
  private val GrepLike = "grep|egrep|fgrep|zgrep|zegrep|zfgrep".r

  def accepts(argv: Seq[String], exitCode: Int): Boolean =
    exitCode == 0 || (exitCode == 1 && argv.nonEmpty && GrepLike.matches(argv.head))

  /** Throws [[IOException]] on an exit code [[accepts]] rejects. */
  def check(argv: Seq[String], exitCode: Int): Unit =
    if (!accepts(argv, exitCode))
      throw new IOException(s"Process '${argv.mkString(" ")}' exited with status $exitCode")
}
