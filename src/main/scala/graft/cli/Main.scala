package graft.cli

import graft.fs.DuplicationException
import graft.operators.{DistExecJob, DistExecOptions}
import org.apache.spark.sql.SparkSession

/** CLI entry — the reference's positional grammar (usage string,
  * reference DistExec.java:68-73; parser DistExec.java:256-296):
  *
  * {{{
  * distexec [OPTIONS] <srcurl>* <desturl> <exec cmd>
  * OPTIONS: -m <num_maps>  -redirectErrorToOut  -singleOut
  * }}}
  *
  * Exit codes mirror the reference (DistExec.java:350-374,691):
  * 0 ok, -1 invalid args, -2 duplicate destinations, -3 missing source,
  * -999 other.
  */
object Main {

  /** Max failure rows echoed to stderr; the complete set is always in the
    * `_distexec_logs_<id>` dir.
    */
  val MaxStderrEcho = 100

  private val Usage =
    """distexec [OPTIONS] <srcurl>* <desturl> <exec cmd>
      |
      |OPTIONS:
      |-m <num_maps>        Maximum number of simultaneous executions
      |-redirectErrorToOut  Redirect command stderr into stdout
      |-singleOut           Combine all output to a single file
      |-D <key=value>       Set a Hadoop configuration property
      |-conf <file>         Add a Hadoop configuration resource file""".stripMargin

  final case class Arguments(
      srcs: Seq[String],
      dst: String,
      command: String,
      maxMaps: Option[Int],
      redirectErrorToOut: Boolean,
      singleOut: Boolean,
      confProps: Seq[(String, String)] = Nil,
      confFiles: Seq[String] = Nil)

  /** Positional grammar: last arg = command, second-to-last = dst, rest =
    * srcs; flags may appear anywhere before them. `-D`/`-conf` mirror the
    * reference's `ToolRunner`/GenericOptionsParser passthrough
    * (DistExec.java:376-381): both `-D key=value` and `-Dkey=value`
    * forms, resources first and `-D` keys winning (GenericOptionsParser
    * order).
    */
  def parse(args: Seq[String]): Arguments = {
    var maxMaps: Option[Int] = None
    var redirect = false
    var single = false
    val props = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    def addProp(kv: String): Unit = {
      val eq = kv.indexOf('=')
      require(eq > 0, s"-D requires key=value, got '$kv'")
      props += ((kv.substring(0, eq), kv.substring(eq + 1)))
    }
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-m" =>
          require(i + 1 < args.length, "-m requires a value")
          maxMaps = Some(args(i + 1).toInt); i += 1
        case "-redirectErrorToOut" => redirect = true
        case "-singleOut"          => single = true
        case "-D" =>
          require(i + 1 < args.length, "-D requires key=value")
          addProp(args(i + 1)); i += 1
        case d if d.startsWith("-D") && d.length > 2 => addProp(d.substring(2))
        case "-conf" =>
          require(i + 1 < args.length, "-conf requires a file")
          files += args(i + 1); i += 1
        case p => positional += p
      }
      i += 1
    }
    require(positional.size >= 3, s"need <srcurl>* <desturl> <exec cmd>\n$Usage")
    Arguments(
      srcs = positional.dropRight(2).toSeq,
      dst = positional(positional.size - 2),
      command = positional.last,
      maxMaps = maxMaps,
      redirectErrorToOut = redirect,
      singleOut = single,
      confProps = props.toSeq,
      confFiles = files.toSeq)
  }

  /** The stderr failure sample: at most [[MaxStderrEcho]] error lines
    * plus a truncation marker. `take(cap + 1)`, never `collect()` — a
    * 100 TB run with a systematically failing command has millions of
    * failure rows, and they must not land in driver memory (the full set
    * is in the `_distexec_logs_<id>` dir).
    */
  def failureEcho(status: org.apache.spark.sql.Dataset[graft.operators.ExecStatus]): Seq[String] = {
    val sample = status.filter(!_.ok).take(MaxStderrEcho + 1)
    val lines = sample.take(MaxStderrEcho).map(_.error).toSeq
    if (sample.length > MaxStderrEcho)
      lines :+ s"... more failures (stderr echo capped at $MaxStderrEcho)"
    else lines
  }

  /** Apply `-conf` resources then `-D` overrides to a Hadoop config. */
  def applyConf(conf: org.apache.hadoop.conf.Configuration, parsed: Arguments): Unit = {
    parsed.confFiles.foreach(f => conf.addResource(new org.apache.hadoop.fs.Path(f)))
    parsed.confProps.foreach { case (k, v) => conf.set(k, v) }
  }

  def main(args: Array[String]): Unit = {
    val parsed =
      try parse(args.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage); sys.exit(-1)
      }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("distexec")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    applyConf(spark.sparkContext.hadoopConfiguration, parsed)
    try {
      val status = DistExecJob.run(
        spark, parsed.srcs, parsed.dst, parsed.command,
        DistExecOptions(
          maxMaps = parsed.maxMaps,
          redirectErrorToOut = parsed.redirectErrorToOut))
      if (parsed.singleOut)
        DistExecJob.singleOutMerge(spark, parsed.dst, status)
      val c = DistExecJob.counters(status)
      // Reference logs human-readable totals (DistExec.java:637-639).
      println(s"EXECUTED=${c.executed} FAIL=${c.failed} " +
        s"BYTESEXECUTED=${c.bytesExecuted} BYTESWRITTEN=${c.bytesWritten}")
      // FAIL rows land in a _distexec_logs_<id> dir (reference parity,
      // DistExec.java:507-521) and a BOUNDED sample echoes to stderr for
      // interactive runs; the full set is in the log dir.
      val logPath = DistExecJob.writeFailureLog(spark, parsed.dst, status)
      val echoed = failureEcho(status)
      echoed.foreach(System.err.println)
      if (echoed.nonEmpty) System.err.println(s"failure log: $logPath")
      spark.stop()
      if (c.failed > 0) sys.exit(1)
    } catch {
      case e: DuplicationException =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(-2)
      case e: java.io.FileNotFoundException =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(-3)
      // Reference catch-all: any other failure → -999 (DistExec.java:350-374).
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"distexec failed: ${e.getMessage}")
        spark.stop(); sys.exit(-999)
    }
  }
}
