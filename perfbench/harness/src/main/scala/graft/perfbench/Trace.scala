package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One timed interval. `parent` is the id of the span that caused it
  * (-1 for a root); `run` identifies the benchmark run.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans are opened and
  * closed by the single benchmark thread around the program's public
  * calls; Spark jobs, reported asynchronously by [[SparkMetrics]], are
  * attached afterwards to the innermost span that contains them.
  * When disabled, [[span]] only evaluates its body.
  */
final class Tracer(val enabled: Boolean, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  // nanoTime = epoch millis * 1e6 + offset, for Spark's wall-clock event times
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      stack = (id, name, System.nanoTime()) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        spans += Span(id, name, parent, start, System.nanoTime(), run)
      }
    }

  /** Attach externally timed intervals (epoch millis) under the
    * innermost recorded span that contains their start.
    */
  def attach(name: String, intervalsMs: Seq[(Long, Long)]): Unit = intervalsMs.foreach { case (s, e) =>
    val sNs = s * 1000000L + nanoOffset
    val eNs = e * 1000000L + nanoOffset
    val parent = spans.filter(p => p.startNs <= sNs && sNs <= p.endNs)
      .sortBy(p => p.endNs - p.startNs).headOption.map(_.id).getOrElse(-1)
    spans += Span(nextId, name, parent, sNs, eNs, run)
    nextId += 1
  }

  def all: Seq[Span] = spans.toSeq

  /** Total self time per span name: each span's duration minus the part
    * of it its children cover.
    */
  def selfSeconds: Map[String, Double] = Tracer.selfSeconds(spans.toSeq)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"${s.run}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        math.max(0L, s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark runtime counters for the traced run: scheduling (jobs, stages,
  * tasks, scheduler delay), task time, scan, exchange and collect,
  * summed over every task that ends while registered.
  */
final class SparkMetrics extends SparkListener {
  private val counters = mutable.LinkedHashMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    counters.synchronized(counters.getOrElseUpdate(k, new AtomicLong)).addAndGet(v)
  def get(k: String): Long = counters.synchronized(counters.get(k)).map(_.get).getOrElse(0L)

  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    add("jobs_ended", 1)
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.reason != Success) add("task_failed", 1)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("scan_bytes", m.inputMetrics.bytesRead)
      add("scan_rows", m.inputMetrics.recordsRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("result_bytes", m.resultSize)
      if (info != null) {
        // The Spark UI's scheduler delay: task duration not spent
        // deserializing, running, serializing or fetching the result.
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        add("sched_delay_ms", math.max(0L, delay))
      }
    }
  }

  /** Wait until every started job has ended and the task count has been
    * still for 200 ms: listener events arrive asynchronously.
    */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val t = get("tasks")
      if (t != last) { last = t; stableSince = System.currentTimeMillis() }
      if (get("jobs") == get("jobs_ended") && System.currentTimeMillis() - stableSince >= 200) return
      Thread.sleep(20)
    }
  }
}
