package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(0).isEmpty)
  }

  test("the tail value leaves exactly the counted samples above it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs).contains((90, 90.0)))
    assert(xs.count(_ > 90.0) == 10)
    val ys = (1 to 37).map(_.toDouble)
    val (p, v) = Stats.tail(ys).get
    assert(ys.count(_ > v) >= 10)
    assert(ys.count(_ > Stats.percentile(ys, p + 1)) < 10)
  }

  test("median and nearest-rank percentiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 100) == 5.0)
  }
}
