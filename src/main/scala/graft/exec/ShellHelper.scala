package graft.exec

import java.io.{BufferedReader, Closeable, IOException, InputStreamReader, OutputStream}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.concurrent.TimeUnit

/** A long-lived `sh` that forks child processes whose stdin, stdout and
  * stderr are files: one command line in, one exit status out.
  *
  * `ProcessBuilder.start` copies the JVM's whole file-descriptor table
  * into each child, and `jspawnhelper` then closes every entry before
  * the exec; a Spark executor holds hundreds of open jars. The helper
  * pays that once. Each [[run]] writes one line,
  * `( exec 'argv0' … ) 2>'err' >'out' <'in'`, and reads back `$?`, so
  * each child forks from a process that holds fds 0–2 only, and the
  * kernel moves the bytes: no pump thread, no buffer in the JVM.
  *
  * `exec` searches PATH only, so a builtin name (`exit 3`, `cd /`,
  * `umask 077`) exits 127 ("not found") in the subshell and never
  * touches the helper. Redirects apply left to right, so a missing
  * input writes `cannot open` into the stderr file and exits 2.
  *
  * One helper serves one thread. It starts at the first [[run]] and
  * again after it dies; a death fails only the command in flight.
  * [[close]] kills it and every process it started.
  */
final class ShellHelper extends Closeable {
  private var proc: Process = _
  private var toShell: OutputStream = _
  private var fromShell: BufferedReader = _

  /** Run `argv` with stdin from the file `in`, stdout to the file `out`
    * and stderr to the file `err` (into `out` when `errToOut`); both
    * outputs are created or truncated. Returns the exit status, 128 +
    * the signal number for a child killed by a signal.
    */
  def run(argv: Seq[String], in: String, out: String, err: String, errToOut: Boolean): Int = {
    val line = ShellHelper.line(argv, in, out, err, errToOut).getBytes(ShellHelper.Encoding)
    if (proc == null || !proc.isAlive) start()
    try {
      toShell.write(line)
      toShell.flush()
      val status = fromShell.readLine()
      if (status == null) throw new IOException("exited")
      status.toInt
    } catch {
      case e @ (_: IOException | _: NumberFormatException) =>
        close()
        throw new IOException(s"shell helper failed running '${argv.mkString(" ")}': ${e.getMessage}", e)
    }
  }

  private def start(): Unit = {
    close()
    proc = new ProcessBuilder("/bin/sh", "-c", ShellHelper.Script)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
      .start()
    toShell = proc.getOutputStream
    fromShell = new BufferedReader(new InputStreamReader(proc.getInputStream, StandardCharsets.US_ASCII))
  }

  /** Kill the helper and its descendants; a later [[run]] starts a new one. */
  def close(): Unit = if (proc != null) {
    val p = proc
    proc = null
    // snapshot first: once the helper is gone its children are reparented
    val tree = p.descendants().toArray(n => new Array[ProcessHandle](n))
    p.destroyForcibly()
    tree.foreach(_.destroyForcibly())
    try toShell.close() catch { case _: IOException => () }
    try fromShell.close() catch { case _: IOException => () }
    try p.waitFor(5, TimeUnit.SECONDS)
    catch { case _: InterruptedException => Thread.currentThread().interrupt() }
  }
}

object ShellHelper {

  /** The helper's program: `nl` holds the newline that [[quote]] cannot
    * put on the one-line protocol.
    */
  val Script: String = "nl='\n'\nwhile IFS= read -r l; do eval \"$l\"; echo $?; done\n"

  /** The charset the JVM hands argv and file names to the OS in, so a
    * line names the same bytes `ProcessBuilder` and `java.nio` would.
    */
  private val Encoding: Charset =
    try Charset.forName(System.getProperty("sun.jnu.encoding"))
    catch { case _: IllegalArgumentException => Charset.defaultCharset() }

  /** One shell word that reads back as exactly `word`: single-quoted,
    * `'` as `'\''`, a newline as `'"$nl"'`. A NUL cannot be passed.
    */
  def quote(word: String): String = {
    if (word.indexOf('\u0000') >= 0) throw new IOException(s"NUL character in '$word'")
    "'" + word.replace("'", "'\\''").replace("\n", "'\"$nl\"'") + "'"
  }

  /** The protocol line for one [[ShellHelper.run]], newline included. */
  def line(argv: Seq[String], in: String, out: String, err: String, errToOut: Boolean): String = {
    require(argv.nonEmpty, "empty command")
    val redirects =
      if (errToOut) s">${quote(out)} 2>&1"
      else s"2>${quote(err)} >${quote(out)}"
    s"( exec ${argv.map(quote).mkString(" ")} ) $redirects <${quote(in)}\n"
  }
}
