package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ASSERTED weak-scaling gate (the big-SF evidence run stays in
  * [[ScaleSmoke]]): every gated query runs on sf0.01 and on 10
  * key-disjoint sf0.01 replicas (ScaleSmoke.build — same disjointness
  * and token/embedding salting discipline as the r6 evidence run,
  * history/scale_smoke_r6.log), and the best-of-2 time ratio must stay inside
  * its pinned band. A query whose plan goes quadratic in the data shows
  * a 10×-data ratio of ~30+ even at this size (the quadratic term grows
  * ×100 while fixed overhead stays put); the linear plans measure ~1–6
  * here, so the bands below — ~3× the calibrated ratio, floored at 10 —
  * catch a superlinear regression without flaking on scheduler noise.
  *
  * Threshold provenance: calibrated on this suite's own session (see
  * per-query comments; sf0.1-scale evidence in history/scale_smoke_r6.log and
  * PERF.md §scale). `SPARK_GRAFT_SKIP_SCALE_GATE=1` skips the gate
  * (for contended boxes where timing assertions are meaningless) — the
  * driver's test runs leave it unset.
  */
class ScaleGateSpec extends AnyFunSuite with SparkSpec {

  private val src = "/root/testdata/sf0.01"
  private val dst = "/tmp/graft_scale_gate10"

  /** (query, max allowed t10/t1). Bands ~3× calibration, floor 10. */
  private val Gated: Seq[(String, Double)] = Seq(
    // r13 re-calibration (fresh green run, this session): every band
    // returns to the 3×cal-floored-at-10 convention — the r12 values
    // in [12, 18] carried 4–6× headroom over their own calibrations.
    "b4_pricing_summary" -> 10.0, // cal 1.6–2.5 — scan + hash agg
    "b13_part_top_supplier" -> 10.0, // cal 2.4–2.9 — fact agg + TopKPerKey
    "c1_minhash_lsh" -> 10.0, // cal 1.3–1.8 — banded LSH + candidate verify
    "c9_token_count" -> 10.0, // cal 1.2–1.5 — explode + vocab-bounded agg
    "c14_simhash_neardup" -> 10.0, // cal 1.4–2.1 — 65,536-bucket band join
    "c17_quality_filter" -> 10.0, // cal 2.0–2.2 — per-doc scoring scan
    "c27_contamination" -> 10.0, // cal 2.3–2.9 — df-capped 8-gram postings
    "c51_ts_similar_users" -> 7.5,  // cal 1.9–2.5 (r12 re-calibration,
                                    // two runs, capped+rescue plan);
                                    // band = 3×cal max per the r11
                                    // convention (r12's 10.0 still
                                    // carried 4–5× headroom over cal —
                                    // r12 verdict item 5). NB the
                                    // sf0.1-SCALE banded ratio is ~6.5
                                    // (history/scale_smoke_r12.log) but THIS
                                    // gate runs at sf0.01 where cal is
                                    // 1.9–2.5 — the band guards this
                                    // measurement, not that one
    "c55_containment" -> 10.0, // cal 2.6–3.2 — df-capped postings self-join
    // r14 additions (verdict item 6): the committed r13 smoke read d32
    // at 5.9 IN-SUITE but 1.0–2.1 isolated — jitter this size belongs
    // in an asserted band, not an eyeballed log. b12 joins with its r13
    // orderkey-backbone rewrite (aggregates riding the join exchange).
    "b12_waiting_suppliers" -> 10.0, // cal 1.0 (r14, this session) —
                                     // one lineitem⋈orders backbone,
                                     // both aggs ride its partitioning
    "d32_ols_trend" -> 10.0, // cal 1.1 (r14, this session; the r13 smoke's
                             // in-suite 5.9 was suite jitter) — two
                             // key-bounded shuffles, 5 exact sums
    // cal ~1 at this size: digest partials, the value-bucket histogram
    // and the slice probe all parallelize across the replica's file
    // splits; the r9 rewrite removed the per-flag full sort entirely
    // (PERF.md §r9 — sf0.1-scale smoke ratio 2.3, bench 2.22 → 1.49 s).
    // r14: the 10-replica side now runs the COLUMNAR KERNEL (≥ 8 row
    // groups) while the single-file side keeps the row path — the band
    // therefore also guards the kernel's fixed-latency floor staying
    // sublinear vs the row baseline (suite green on the kernel default).
    "c70_quantile_sketch" -> 10.0,
    // cal 1.2 — register path is one corpus scan + a corpus-size-
    // independent |sources|²·M pairwise leg; only the exact-shared
    // audit join grows with shared hashes
    "c71_overlap_hll" -> 10.0,
    // cal 1.1 — filter build is one bit_or aggregate (≤ min(nK, M/32)
    // words shuffle), probes are an equi-join on word index
    "c72_membership_gate" -> 10.0,
    "d22_table_profile" -> 12.0, // cal 3.7–3.8 — stack-unpivot single scan
    "d29_ref_integrity" -> 10.0) // cal 1.9 — FK anti joins

  private def skip = sys.env.get("SPARK_GRAFT_SKIP_SCALE_GATE").contains("1")

  private lazy val built: Unit = ScaleSmoke.build(spark, src, dst, 10)

  private def bestOf2(body: => Unit): Double = {
    def once = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    math.min(once, once)
  }

  for ((name, band) <- Gated) {
    test(s"$name: 10x-data weak-scaling ratio stays under $band") {
      assume(!skip, "SPARK_GRAFT_SKIP_SCALE_GATE=1")
      built
      val fn = SparkEntry.queries(name)
      fn(spark, src).collect() // warm: codegen, JIT, parquet footers
      val t1 = bestOf2(fn(spark, src).collect())
      fn(spark, dst).collect()
      val t10 = bestOf2(fn(spark, dst).collect())
      // Floor the base at 50 ms: a sub-scheduler-tick denominator turns
      // noise into ratio, not signal.
      val ratio = t10 / math.max(t1, 0.05)
      info(f"$name: t1=$t1%.2fs t10=$t10%.2fs ratio=$ratio%.1f (band $band)")
      assert(ratio <= band,
        f"$name 10x-data ratio $ratio%.1f exceeded its band $band — a plan " +
          "went superlinear (check shuffles/joins against PERF.md §scale)")
    }
  }

  /** The c12/c31 parameter-scaling rule (nCells grows WITH the corpus,
    * nProbe fixed): assignment must ride the two-level coarse quantizer
    * above HierThreshold, keeping the 10×-data/10×-cells step bounded.
    * Expected ≈ 10 (linear) with the compiled-method CodebookModel
    * assignment (see ScaleSmoke scaladoc); the flat path measured 174×
    * (history/scale_smoke_r6.log) and the unrolled-literal-tree form ~54× (the
    * Janino compile bomb, r7).
    */
  test("c12 IVF at 10x data + 10x cells rides the hierarchical quantizer") {
    assume(!skip, "SPARK_GRAFT_SKIP_SCALE_GATE=1")
    built
    import graft.operators.Similarity
    val e1 = graft.queries.Tables.load(spark, src, "embeddings")
    val e10 = spark.read.parquet(s"$dst/embeddings.parquet")
    Similarity.ivfTopK(e1, 50, 3, 8, 2, 6).collect()
    val t1 = bestOf2(Similarity.ivfTopK(e1, 50, 3, 8, 2, 6).collect())
    Similarity.ivfTopK(e10, 50, 3, 80, 2, 6).collect()
    val t10 = bestOf2(Similarity.ivfTopK(e10, 50, 3, 80, 2, 6).collect())
    val ratio = t10 / math.max(t1, 0.05)
    info(f"c12 ivf 8~80: t1=$t1%.2fs t10=$t10%.2fs ratio=$ratio%.1f")
    assert(ratio <= 20.0, // cal 1.4 post-CodebookModel (was 9.5 unrolled)
      f"IVF 10x-data/10x-cells ratio $ratio%.1f: coarse assignment has " +
        "gone flat-quadratic again (HierThreshold path lost?)")
  }

  /** Exec-leg throughput band (r16, verdict item 6): the reference's
    * core operator swung 366→690→288-equivalent across rounds with no
    * assertion, and in r15 that swing was the key witness in a noise
    * dispute. This pins the SPAWN-cost envelope (1 KB files — process
    * creation dominates, disk writeback does not, so unlike the bytes
    * leg it is assertable): DistExecJob must clear an absolute floor
    * set ~4× under the local[4] clean-box calibration (cal ~250–420
    * files/s; bench local[32] measures 557–690), and the same run
    * stamps a BARE 4-thread ProcessRunner spawn rate beside it so a
    * slow-box failure is self-diagnosing (bare rate low ⇒ box, not
    * DistExecJob). The byte-throughput leg stays unasserted — it is
    * kernel-writeback-bound (bench io_state stamp exists for it).
    */
  test("distexec spawn-cost envelope stays above its throughput floor") {
    assume(!skip, "SPARK_GRAFT_SKIP_SCALE_GATE=1")
    val n = 2000
    val src = java.nio.file.Files.createTempDirectory("gate-exec-src")
    val dstRoot = java.nio.file.Files.createTempDirectory("gate-exec-dst")
    try {
      val payload = ("x" * 1024).getBytes
      (0 until n).foreach { i =>
        java.nio.file.Files.write(src.resolve(f"f$i%05d.txt"), payload)
      }
      // bare 4-thread spawn rate: same `cat`, same payload size, no
      // Spark/manifest/FS layers — the box's process-creation ceiling
      val bare = {
        val per = 50
        val t0 = System.nanoTime()
        val threads = (0 until 4).map { _ =>
          new Thread(() => (0 until per).foreach { _ =>
            graft.exec.ProcessRunner.run(Seq("cat"),
              new java.io.ByteArrayInputStream(payload),
              new java.io.ByteArrayOutputStream(),
              new java.io.ByteArrayOutputStream())
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        4 * per / ((System.nanoTime() - t0) / 1e9)
      }
      val dst = dstRoot.resolve("out").toString
      val t0 = System.nanoTime()
      val status = graft.operators.DistExecJob.run(
        spark, Seq(src.toString), dst, "cat",
        graft.operators.DistExecOptions())
      val c = graft.operators.DistExecJob.counters(status)
      val sec = (System.nanoTime() - t0) / 1e9
      val rate = c.executed / sec
      info(f"distexec: $n files in $sec%.2f s = $rate%.0f files/s " +
        f"(bare 4-thread spawn rate $bare%.0f/s)")
      assert(c.executed == n && c.failed == 0, s"exec failures: $c")
      assert(rate >= 60.0,
        f"distexec spawn envelope $rate%.0f files/s under the 60/s floor " +
          f"(bare spawn rate $bare%.0f/s — if that is also low the box, " +
          "not DistExecJob, is the problem)")
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        import scala.jdk.CollectionConverters._
        if (java.nio.file.Files.exists(p)) {
          val s = java.nio.file.Files.walk(p)
          try s.iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
          finally s.close()
        }
      }
      rm(src); rm(dstRoot)
    }
  }

  test("c31 SemDeDup at 10x data + 10x cells keeps bounded cell populations") {
    assume(!skip, "SPARK_GRAFT_SKIP_SCALE_GATE=1")
    built
    import graft.operators.Similarity
    val e1 = graft.queries.Tables.load(spark, src, "embeddings")
    val e10 = spark.read.parquet(s"$dst/embeddings.parquet")
    Similarity.semDedup(e1, 8, 2, 0.42).collect()
    val t1 = bestOf2(Similarity.semDedup(e1, 8, 2, 0.42).collect())
    Similarity.semDedup(e10, 80, 2, 0.42).collect()
    val t10 = bestOf2(Similarity.semDedup(e10, 80, 2, 0.42).collect())
    val ratio = t10 / math.max(t1, 0.05)
    info(f"c31 semdedup 8~80: t1=$t1%.2fs t10=$t10%.2fs ratio=$ratio%.1f")
    assert(ratio <= 30.0, // cal 4.0; Σ|cell|² scales ×10 at constant pop
      f"SemDeDup 10x ratio $ratio%.1f: pair space no longer bounded by " +
        "cell population (nCells scaling rule broken?)")
  }
}
