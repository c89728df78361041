package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Tuning.bucketShift]] — the computed dial that replaced c70's
  * `>> 12` literal (r9 verdict item 2). The invariants, not the exact
  * values: slices stay at/under target where the domain allows it, the
  * histogram budget is a hard cap, and the dial SHRINKS as n grows on a
  * fixed domain (the "shrink it as N grows" promise, now code).
  */
class TuningSpec extends AnyFunSuite {

  // the l_extendedprice cents domain at the bench SF (~90k..10.5M)
  private val lo = 90000L
  private val hi = 10494950L
  private val width = hi - lo + 1

  private def buckets(s: Int): Long = width >> s

  test("shift shrinks as n grows on the fixed price domain") {
    val sSf01 = Tuning.bucketShift(600000L, lo, hi)
    val s10x = Tuning.bucketShift(6000000L, lo, hi)
    val s100x = Tuning.bucketShift(60000000L, lo, hi)
    assert(sSf01 >= s10x && s10x >= s100x,
      s"monotone: $sSf01 >= $s10x >= $s100x")
    // each pick keeps the expected slice at/under the 2^12 target
    for ((n, s) <- Seq(600000L -> sSf01, 6000000L -> s10x,
        60000000L -> s100x)) {
      assert(n / math.max(1L, buckets(s)) <= (1L << 12),
        s"n=$n shift=$s expected slice ${n / buckets(s)} > 4096")
    }
    // and none of them leaves >2x the bucket count actually needed
    // (the histogram should not balloon when slices are already tiny)
    assert(buckets(sSf01) <= 2L * ((600000L + 4095) / 4096))
  }

  test("the 10x bench point derives the r9 literal 12") {
    // 6M rows on the price domain: the hand-calibrated r9 value — the
    // dial reproduces the measured-good setting instead of pinning it
    assert(Tuning.bucketShift(6000000L, lo, hi) == 12)
  }

  test("histogram budget is a hard cap even when n wants more buckets") {
    // n so large the slice target wants ~24G buckets; the cap wins
    val s = Tuning.bucketShift(100L * 1000 * 1000 * 1000 * 1000, lo, hi)
    assert(buckets(s) <= (1L << 20), s"shift $s buckets ${buckets(s)}")
  }

  test("degenerate domains: single value and tiny width never go negative") {
    assert(Tuning.bucketShift(1000000L, 42L, 42L) == 0)
    assert(Tuning.bucketShift(0L, 0L, 0L) == 0)
    val s = Tuning.bucketShift(1000000L, 0L, 7L)
    assert(s >= 0 && (8L >> s) >= 1)
  }

  test("a full-Long signed domain saturates instead of wrapping to width 1") {
    // vMax - vMin overflows Long here; the unsaturated subtraction wraps
    // negative, max(1, _) clamps width to 1 and returns shift 0 — which
    // would UNBOUND the histogram. Saturated, the widest domain must
    // take the LARGEST shift the loop allows and keep the bucket count
    // inside the budget.
    val s = Tuning.bucketShift(1000000L, Long.MinValue, Long.MaxValue)
    assert(s > 0, s"saturated width must not derive shift 0 (got $s)")
    assert((Long.MaxValue >>> s) <= (1L << 20),
      s"shift $s leaves ${Long.MaxValue >>> s} buckets > 2^20 budget")
    // the diff == Long.MaxValue edge (diff + 1 would overflow) saturates too
    val s2 = Tuning.bucketShift(1000000L, 0L, Long.MaxValue)
    assert(s2 > 0 && (Long.MaxValue >>> s2) <= (1L << 20))
    // degenerate caller error (vMax < vMin) still degrades to one bucket
    assert(Tuning.bucketShift(1000L, 10L, 5L) == 0)
  }

  test("shufflePartitionsFor is ceil(bytes / 2 MiB) clamped to [1, 2000]") {
    assert(Tuning.shufflePartitionsFor(0L) == 1)
    // the benchmark's sf0.01 tables run one partition
    assert(Tuning.shufflePartitionsFor(Tuning.dirBytes("/root/testdata/sf0.01")) == 1)
    // sf0.1 (17.5 MB on disk) keeps the Bench plan it had under the old
    // floor of 8
    assert(Tuning.shufflePartitionsFor(Tuning.dirBytes("/root/testdata/sf0.1")) == 9)
    assert(Tuning.shufflePartitionsFor(118L << 20) == 59)
    assert(Tuning.shufflePartitionsFor(Long.MaxValue / 4) == 2000)
  }

  /** The footer stats count what a scan will actually read: true row
    * groups (c70's fan-out gate) and compressed bytes per column.
    */
  test("footer stats: row groups and per-column bytes") {
    val table = "/root/testdata/sf0.1/lineitem.parquet"
    val (groups, byCol) = Tuning.footerStats(table)
    assert(groups >= 1L, "at least one row group")
    assert(Tuning.rowGroupCount(table) == groups)
    assert(byCol.contains("l_extendedprice") && byCol.contains("l_returnflag"),
      s"columns missing from the footer: ${byCol.keySet}")
    assert(byCol.values.forall(_ > 0L), "every column chunk has bytes")
  }
}
