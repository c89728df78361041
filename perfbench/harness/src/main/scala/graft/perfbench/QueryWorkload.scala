package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.{SparkEntry, Tuning}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference digests, one `name<TAB>digest` line per query. */
object QueryDigests {
  def read(p: Path): Map[String, String] =
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t", 2); n -> d }.toMap

  /** A failure message, or None when the digest is the reference one. */
  def check(name: String, digest: String, reference: Map[String, String]): Option[String] =
    reference.get(name) match {
      case None                  => Some(s"$name: no reference digest")
      case Some(d) if d != digest => Some(s"$name: digest $digest, reference $d")
      case _                     => None
    }
}

/** A fixed slice of `SparkEntry.queries` on the benchmark's copy of the
  * sf0.01 tables: every `stride`-th query in name order. Each pass runs
  * the slice once, in an order shuffled from the seed and the pass
  * number; each query is one operation.
  */
final class QueryWorkload(dataDir: Path, seed: Long, reference: Map[String, String],
    stride: Int) extends Workload {
  val name = "query_suite"
  val suite: Seq[String] = QueryWorkload.slice(stride)
  private val dir = dataDir.toString
  private val inputBytes = mutable.Map.empty[String, Long]
  private val rows = mutable.Map.empty[String, Long]

  def nominalPassSeconds: Double = 3.5

  // the settings graft.Bench derives; the bucketed backbone stays unset
  def conf: Seq[(String, String)] = {
    val bytes = Tuning.dirBytes(dir)
    Seq(
      "spark.sql.shuffle.partitions" -> Tuning.shufflePartitionsFor(bytes).toString,
      "spark.sql.adaptive.enabled" -> (bytes >= (64L << 20)).toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "8192")
  }

  def prepare(): Unit = require(Files.isDirectory(dataDir), s"missing query tables: $dataDir")

  def order(passNo: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + passNo).shuffle(suite)

  def pass(spark: SparkSession, tracer: Tracer, passNo: Int): Seq[Op] =
    order(passNo).map { n =>
      val t0 = System.nanoTime()
      val result = try {
        tracer.span("op") {
          val df = tracer.span("queries.build")(SparkEntry.queries(n)(spark, dir))
          tracer.span("queries.plan")(df.queryExecution.executedPlan)
          val r = tracer.span("queries.collect")(df.collect())
          Right((df, r))
        }
      } catch { case e: Exception => Left(s"$n: ${e.getClass.getName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      val problem = result match {
        case Left(err) => Some(err)
        case Right((df, r)) =>
          rows(n) = r.length.toLong
          if (!inputBytes.contains(n)) inputBytes(n) = QueryWorkload.inputBytes(df)
          QueryDigests.check(n, Digest.of(df.schema, r), reference)
      }
      Op(n, sec, items = 1, bytes = inputBytes.getOrElse(n, 0L), attempted = 1,
        failed = if (problem.isDefined) 1 else 0, problems = problem.toSeq)
    }

  def rates(ops: Seq[Seq[Op]]): (Double, Double, Double) =
    (Stats.median(ops.map(p => p.size / p.map(_.seconds).sum)),
      Stats.median(ops.map(p => p.map(_.bytes).sum / 1048576.0 / p.map(_.seconds).sum)),
      Stats.median(ops.flatten.map(_.seconds)))

  def tracedItemsPerSecond(tracer: Tracer, traced: Seq[Seq[Op]]): Double =
    traced.flatten.size / traced.flatten.map(_.seconds).sum

  def layerMetrics(spark: SparkSession, tracer: Tracer, traced: Seq[Seq[Op]]): Map[String, Double] = {
    val passes = traced.size.toDouble
    val byName = tracer.all.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
    def group(prefix: String) =
      traced.flatten.filter(_.name.startsWith(prefix)).map(_.seconds).sum / passes
    Map(
      "queries.build_s" -> byName.getOrElse("queries.build", 0.0) / passes,
      "queries.plan_s" -> byName.getOrElse("queries.plan", 0.0) / passes,
      "queries.collect_s" -> byName.getOrElse("queries.collect", 0.0) / passes,
      "queries.a_s" -> group("a"),
      "queries.b_s" -> group("b"),
      "queries.c_s" -> group("c"),
      "queries.d_s" -> group("d"),
      "queries.rows" -> rows.values.sum.toDouble)
  }

  def report(timed: Seq[Seq[Op]]): Seq[(String, Any)] = {
    val perQuery = timed.flatten.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, os) => n -> Stats.median(os.map(_.seconds)) }
    Seq(
      "data" -> "sf0.01",
      "stride" -> stride,
      "queries" -> suite.size,
      "suite_s" -> timed.map(_.map(_.seconds).sum),
      "input_bytes_per_pass" -> suite.map(inputBytes.getOrElse(_, 0L)).sum,
      "per_query_s" -> scala.collection.immutable.ListMap(perQuery: _*))
  }
}

object QueryWorkload {
  def slice(stride: Int): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }

  /** On-disk bytes of the table files a query's plan reads. */
  def inputBytes(df: DataFrame): Long =
    df.inputFiles.map { f =>
      val p = java.nio.file.Paths.get(new java.net.URI(f))
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
}
