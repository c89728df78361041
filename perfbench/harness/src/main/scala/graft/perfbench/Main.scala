package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One pass's wall seconds, this JVM's and its children's CPU seconds,
  * and the CPU seconds the hypervisor stole from the box meanwhile
  * (a box-state stamp; no timing is corrected by it).
  */
final case class PassStat(no: Int, wall: Double, cpu: Double, steal: Double)

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <exec_small|query_suite> --seed <n> --seconds <s>
  *      --trace <0|1> --bench-dir <perfbench dir> --work <scratch dir>
  * Main --record-digests <out.tsv> --bench-dir <perfbench dir> --work <scratch dir>
  * }}}
  *
  * Both modes start with three set-ups: a fresh session and one untimed
  * pass each; `setup_s` is their median. Untraced (`--trace 0`): as
  * many timed passes as take about `--seconds` on the reference box
  * ([[Workload.nominalPassSeconds]]). Traced (`--trace 1`): as many
  * untraced and traced passes, interleaved, the traced ones with spans
  * and the Spark listener, then the layers' micro-benchmarks. The last
  * stdout line is the result object.
  */
object Main {
  val SetUps = 3
  val QueryStride = 12

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      benchDir: Path, work: Path, recordDigests: Option[Path])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.get("trace").contains("1"),
      java.nio.file.Paths.get(need("bench-dir")).toAbsolutePath,
      java.nio.file.Paths.get(need("work")).toAbsolutePath,
      m.get("record-digests").map(java.nio.file.Paths.get(_)))
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors

  def session(work: Path, conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = conf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(a: Args): Workload = {
    val data = a.benchDir.resolve("data").resolve("sf0.01")
    a.workload match {
      case "exec_small"  => new ExecWorkload(a.seed, a.work, nproc)
      case "query_suite" =>
        val ref = QueryDigests.read(a.benchDir.resolve("reference").resolve("query_digests.tsv"))
        new QueryWorkload(data, a.seed, ref, QueryStride)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    a.recordDigests match {
      case Some(out) => recordDigests(a, out)
      case None      => run(a)
    }
  }

  /** Run every query once and write its digest: the reference set. */
  def recordDigests(a: Args, out: Path): Unit = {
    val data = a.benchDir.resolve("data").resolve("sf0.01").toString
    val w = new QueryWorkload(java.nio.file.Paths.get(data), 0L, Map.empty, 1)
    val spark = session(a.work, w.conf)
    try {
      val lines = w.suite.map { n =>
        val df = graft.SparkEntry.queries(n)(spark, data)
        s"$n\t${Digest.of(df.schema, df.collect())}"
      }
      Files.write(out, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    } finally spark.stop()
  }

  def run(a: Args): Unit = {
    val w = workload(a)
    val box = new BoxState.Window
    val gen0 = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - gen0) / 1e9
    val off = new Tracer(enabled = false, run = "")
    var spark: SparkSession = null
    var passNo = 0
    val all = scala.collection.mutable.ArrayBuffer.empty[Op]
    val passStats = scala.collection.mutable.ArrayBuffer.empty[PassStat]
    def runPass(t: Tracer): Seq[Op] = {
      val c0 = BoxState.ownCpuSeconds(); val s0 = BoxState.stealSeconds()
      val ops = w.pass(spark, t, passNo)
      passStats += PassStat(passNo, ops.map(_.seconds).sum, BoxState.ownCpuSeconds() - c0,
        BoxState.stealSeconds() - s0)
      passNo += 1
      all ++= ops
      ops
    }
    // a fixed count of passes, whatever the box's speed that minute
    def passesFor(seconds: Double): Int = math.max(1, math.round(seconds / w.nominalPassSeconds).toInt)

    val setups = (1 to SetUps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a.work, w.conf)
      (System.nanoTime() - t0) / 1e9 + runPass(off).map(_.seconds).sum
    }

    val (metrics, extra) =
      if (!a.trace) {
        val first = passNo
        val timed = (1 to passesFor(a.seconds)).map(_ => runPass(off))
        val (items, mb, p50) = w.rates(timed)
        val stats = passStats.filter(_.no >= first).toSeq
        val cpuMs = Stats.median(stats.zip(timed).map { case (p, ops) => p.cpu * 1000.0 / ops.map(_.items).sum })
        (Seq("setup_s" -> Stats.median(setups), "items_per_s" -> items, "op_p50_s" -> p50),
          w.report(timed) ++ tails(timed) ++ Seq("mb_per_s" -> mb, "cpu_ms_per_item" -> cpuMs,
            "peak_rss_mb" -> BoxState.peakRssMb(), "steal_frac" -> stealFrac(stats)))
      } else {
        // n untraced and n traced passes, interleaved U T T U U T ... so
        // that both sides sit at the same point of the JVM's warm-up; the
        // listener is registered only around traced passes
        val tracer = new Tracer(enabled = true, run = s"${a.workload}-${a.seed}")
        val listener = new SparkMetrics
        val untracedBuf = scala.collection.mutable.ArrayBuffer.empty[Seq[Op]]
        val tracedBuf = scala.collection.mutable.ArrayBuffer.empty[Seq[Op]]
        var wall = 0.0
        (0 until 2 * passesFor(a.seconds)).foreach { i =>
          if (i % 4 == 1 || i % 4 == 2) {
            spark.sparkContext.addSparkListener(listener)
            val t0 = System.nanoTime()
            tracedBuf += runPass(tracer)
            wall += (System.nanoTime() - t0) / 1e9
            listener.drain()
            spark.sparkContext.removeSparkListener(listener)
          } else untracedBuf += runPass(off)
        }
        val (untraced, traced) = (untracedBuf.toSeq, tracedBuf.toSeq)
        tracer.attach("spark.job", listener.jobIntervals.toSeq)
        val overhead = w.rates(untraced)._1 / w.tracedItemsPerSecond(tracer, traced) - 1.0
        val self = tracer.selfSeconds
        val layers = w.layerMetrics(spark, tracer, traced) ++ sparkMetrics(listener, wall, traced.size) ++
          Metrics.SelfSpans.map(s => s"self.${s}_s" -> self.getOrElse(s, 0.0) / traced.size) ++
          Map("trace.overhead_frac" -> overhead)
        val spans = a.work.resolve("out").resolve(s"spans-${a.workload}-${a.seed}.jsonl")
        tracer.write(spans)
        (Metrics.perLayer.map(m => m.name -> layers.getOrElse(m.name, 0.0)),
          w.report(traced) ++ Seq("spans" -> a.work.getParent.relativize(spans).toString,
            "traced_wall_s" -> wall, "traced_passes" -> traced.size, "untraced_passes" -> untraced.size))
      }
    spark.stop()

    val failed = all.map(_.failed).sum
    val attempted = all.map(_.attempted).sum
    val problems = all.flatMap(_.problems).take(20)
    problems.foreach(p => System.err.println(s"[perfbench] FAIL $p"))
    val metricsJson = Json.obj(metrics.map { case (k, v) =>
      k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> Metrics.unitOf(k)))) })
    val report = Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> nproc, "setup_s_each" -> setups, "generate_s" -> genS,
      "pass_wall_cpu_steal_s" -> passStats.map(p => Seq(p.wall, p.cpu, p.steal)),
      "failed_frac" -> failed.toDouble / attempted, "problems" -> problems,
      "spark_conf" -> scala.collection.immutable.ListMap(w.conf: _*)) ++
      box.close(a.work.toString) ++ extra ++ Seq("metrics" -> Json.Raw(metricsJson)))
    val outDir = a.work.resolve("out")
    Files.createDirectories(outDir)
    Files.write(outDir.resolve(s"report-${a.workload}-${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      (report + "\n").getBytes(UTF_8))
    println(report)
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(metricsJson))))
    System.out.flush()
  }

  /** Share of the box's CPU capacity the hypervisor stole over the
    * passes (-1 if unknown): a stamp that marks a contended run.
    */
  private def stealFrac(ps: Seq[PassStat]): Double =
    if (ps.exists(_.steal < 0)) -1.0 else ps.map(_.steal).sum / (ps.map(_.wall).sum * nproc)

  /** Median and tail of the per-operation times, with the sample count. */
  private def tails(timed: Seq[Seq[Op]]): Seq[(String, Any)] = {
    val xs = timed.flatten.map(_.seconds)
    Seq("op_samples" -> xs.size, "op_median_s" -> Stats.median(xs)) ++
      Stats.tail(xs).toSeq.flatMap { case (p, v) => Seq("op_tail_percentile" -> p, "op_tail_s" -> v) }
  }

  /** The listener's totals per traced pass (busy_frac over the phase). */
  private def sparkMetrics(l: SparkMetrics, wallS: Double, passes: Int): Map[String, Double] = Map(
    "spark.jobs" -> l.get("jobs").toDouble,
    "spark.stages" -> l.get("stages").toDouble,
    "spark.tasks" -> l.get("tasks").toDouble,
    "spark.task_failed" -> l.get("task_failed").toDouble,
    "spark.sched_delay_s" -> l.get("sched_delay_ms") / 1e3,
    "spark.task_run_s" -> l.get("run_ms") / 1e3,
    "spark.task_cpu_s" -> l.get("cpu_ns") / 1e9,
    "spark.gc_s" -> l.get("gc_ms") / 1e3,
    "spark.busy_frac" -> l.get("run_ms") / 1e3 / (wallS * nproc),
    "spark.scan_bytes" -> l.get("scan_bytes").toDouble,
    "spark.scan_rows" -> l.get("scan_rows").toDouble,
    "spark.shuffle_write_bytes" -> l.get("shuffle_write_bytes").toDouble,
    "spark.shuffle_read_bytes" -> l.get("shuffle_read_bytes").toDouble,
    "spark.shuffle_fetch_wait_s" -> l.get("fetch_wait_ms") / 1e3,
    "spark.spill_bytes" -> l.get("spill_bytes").toDouble,
    "spark.result_bytes" -> l.get("result_bytes").toDouble)
    .map { case (k, v) => k -> (if (k == "spark.busy_frac") v else v / passes) }
}
