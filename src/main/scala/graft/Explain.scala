package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: print the formatted physical plan of declared queries.
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  *
  * Mirrors graft.Bench's session knobs so the dumped plan is the plan
  * the bench actually times: shuffle partitions and AQE derive from the
  * input size (Tuning) unless SPARK_GRAFT_SHUFFLE / SPARK_GRAFT_AQE pin
  * them, and SPARK_GRAFT_CPUS sets the master.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "auto") match {
      case "auto" => Tuning.shufflePartitionsFor(Tuning.dirBytes(sfDir)).toString
      case n      => n
    }
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "auto") match {
      case "auto" => (Tuning.dirBytes(sfDir) >= (64L << 20)).toString
      case v      => v
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
