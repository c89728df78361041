package graft

import org.scalatest.funsuite.AnyFunSuite

/** Results must not depend on the shuffle partition count. Tuning derives
  * 1 partition for inputs under 2 MiB and more for larger ones, and the
  * exact-arithmetic oracle contract promises the same rows either way.
  * Runs the benchmark's query slice (every 12th query in name order) at
  * sf0.001 with AQE off, once at 1 shuffle partition and once at 16, and
  * compares the two results as multisets of rows.
  */
class PartitionIndependenceSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val slice = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
    .collect { case (n, i) if i % 12 == 0 => n }

  private def rowsAt(name: String, partitions: Int): Seq[String] = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  for (name <- slice) {
    test(s"$name returns the same rows at 1 and 16 shuffle partitions") {
      val one = rowsAt(name, 1)
      val sixteen = rowsAt(name, 16)
      assert(one.nonEmpty, s"$name: empty result")
      assert(one == sixteen, s"$name: rows differ between 1 and 16 partitions")
    }
  }
}
