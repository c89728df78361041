package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation: an exec job over the whole tree, or one query.
  * `seconds` covers only the program's public calls; the output check
  * runs after the timer stops and sets `failed`.
  */
final case class Op(name: String, seconds: Double, items: Long, bytes: Long,
    attempted: Long, failed: Long, problems: Seq[String] = Nil)

/** A workload: inputs made from the seed, a session configuration, and
  * a pass of operations. The benchmark thread is the only caller, and
  * each call waits for the previous one (a closed loop of one client).
  */
trait Workload {
  def name: String

  /** About how long one warm pass takes on the 4-core reference box. A
    * timed phase of `s` seconds runs round(s / this) passes: a fixed
    * count, so every run measures the same point of the JVM's warm-up
    * (query passes still speed up after the set-ups) whatever the
    * box's speed that minute.
    */
  def nominalPassSeconds: Double

  /** Spark settings beyond master and the sandboxed directories. */
  def conf: Seq[(String, String)]

  /** Make the inputs from the seed (not part of set-up time). */
  def prepare(): Unit

  /** Run one pass: one exec job, or every query of the suite once. */
  def pass(spark: SparkSession, tracer: Tracer, passNo: Int): Seq[Op]

  /** End-to-end rates over the timed ops: (items/s, MiB/s, op p50 s). */
  def rates(ops: Seq[Seq[Op]]): (Double, Double, Double)

  /** Per-layer metrics of the traced phase, beyond Spark's and the
    * span self times; runs its own micro-benchmarks after the phase.
    */
  def layerMetrics(spark: SparkSession, tracer: Tracer, traced: Seq[Seq[Op]]): Map[String, Double]

  /** Rate of the traced ops counting only the calls the untraced op
    * makes, for the tracing overhead.
    */
  def tracedItemsPerSecond(tracer: Tracer, traced: Seq[Seq[Op]]): Double

  /** Extra report fields (settings, per-query map, input sizes). */
  def report(timed: Seq[Seq[Op]]): Seq[(String, Any)]
}
