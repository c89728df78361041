package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.Bench

/** Box-state stamps for every run: load average, iowait, free space,
  * and the CPU share taken by other processes. This JVM's reaped
  * children (`cutime`/`cstime` in /proc/self/stat — the `iconv` and
  * `cat` processes the exec workloads spawn) count as this run's own
  * work, not as neighbour load.
  */
object BoxState {

  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), UTF_8) catch { case _: Throwable => "" }

  def loadavg(): String = read("/proc/loadavg").split("\\s+").take(3).mkString(" ")

  /** Reaped children's CPU (user + system) in jiffies, or -1. */
  def childCpuJiffies(): Long =
    try {
      // fields after the parenthesised command name; cutime/cstime are
      // fields 16 and 17 of the whole line
      val s = read("/proc/self/stat")
      val f = s.substring(s.lastIndexOf(')') + 2).trim.split("\\s+")
      f(13).toLong + f(14).toLong
    } catch { case _: Throwable => -1L }

  /** This JVM's CPU plus its reaped children's, in seconds (-1 if unknown). */
  def ownCpuSeconds(): Double = {
    val ns = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    val c = childCpuJiffies()
    if (ns < 0 || c < 0) -1.0 else ns / 1e9 + c / 100.0
  }

  def ownCpuJiffies(): Long = {
    val s = ownCpuSeconds()
    if (s < 0) -1L else (s * 100).toLong
  }

  /** CPU time the hypervisor gave to others while this box's CPUs
    * wanted to run (the `steal` column of /proc/stat), in seconds
    * summed over CPUs; -1 if unknown.
    */
  def stealSeconds(): Double =
    try read("/proc/stat").linesIterator.next().trim.split("\\s+")(8).toLong / 100.0
    catch { case _: Throwable => -1.0 }

  /** High-water resident set size of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def freeMb(path: String): Double =
    try Files.getFileStore(Paths.get(path)).getUsableSpace / 1048576.0 catch { case _: Throwable => -1.0 }

  /** A measurement window: call [[close]] at its end. */
  final class Window {
    private val (busy0, total0, iow0) = Bench.cpuStat()
    private val own0 = ownCpuJiffies()
    val load0: String = loadavg()

    def close(workDir: String): Seq[(String, Any)] = {
      val (busy1, total1, iow1) = Bench.cpuStat()
      val own1 = ownCpuJiffies()
      val ext = Bench.externalCpuFrac(busy0, total0, own0, busy1, total1, own1)
      val iow = if (iow0 < 0 || iow1 < 0 || total1 <= total0) -1.0
        else (iow1 - iow0).toDouble / (total1 - total0)
      Seq(
        "loadavg_start" -> load0,
        "loadavg_end" -> loadavg(),
        "external_cpu_frac" -> ext,
        "iowait_frac" -> iow,
        "tmpfs_free_mb" -> freeMb("/dev/shm"),
        "work_fs_free_mb" -> freeMb(workDir),
        "nproc" -> Runtime.getRuntime.availableProcessors)
    }
  }
}
