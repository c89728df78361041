package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weak-scaling smoke: 10 key-disjoint copies of sf0.1 (~10× rows)
  * through the heaviest declared queries, timed against sf0.1 in the
  * same session — `sbt "Test/runMain graft.ScaleSmoke"`.
  *
  * The point is EVIDENCE for the 100 TB design claims: a query whose
  * plan is linear in the data (scan + hash agg + bounded state) should
  * cost ~10× at 10× rows on fixed parallelism — superlinear growth
  * exposes a plan that would not survive a real scale-up.
  *
  * Replica construction (disjoint, not duplicated — this matters):
  *  - every key/FK column gets `+ r*K` with K a multiple of
  *    lcm(2,5,7,10,20,25,97,100) = 67,900 — all id-modulus filters in
  *    the suite keep their selectivity — and K > every source id, so
  *    the 10 copies join only within themselves (join cardinality
  *    scales ×10, never ×100);
  *  - document tokens are salted per replica (`tok·r`), so replicas
  *    are NOT near-duplicates of each other: MinHash bands, shingle
  *    postings and containment joins grow by data volume, not by a
  *    synthetic 45-pairs-per-doc duplicate blowup a real corpus
  *    would not have;
  *  - embeddings get deterministic per-(dim, replica) noise of the
  *    same magnitude as the signal, decorrelating replica vectors for
  *    the pair-forming vector queries.
  * The k-means queries re-run with nCells scaled 8 → 8·reps (constant
  * cell population — the documented scaling rule: `nCells` scales WITH
  * the corpus) and nProbe held CONSTANT: per-query candidate count is
  * nProbe × cell population, so fixed nProbe keeps per-query work
  * constant while query count grows ×10 — total work linear in N. (The
  * r6 smoke scaled nProbe ×10 too, "constant scan fraction", which
  * multiplies per-query work by 10 ON TOP of 10× more queries —
  * quadratic by construction, and not how production IVF is driven:
  * nlist grows with the corpus, nprobe stays a fixed recall dial.)
  * SemDeDup's pair space Σ|cell|² = nCells·pop² likewise scales ×10.
  */
object ScaleSmoke {

  val KeyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  val ModulusLcm = 67900L // lcm of every id-modulus filter in the suite

  /** Linear-plan queries run as declared. c24/d21/d24 joined r13: their
    * sf0.1 Spark-vs-DuckDB ratios (24×/…) had no data-sized evidence, so
    * floor-vs-constant was unproven for them (r12 verdict item 4 —
    * d8 was already here).
    */
  val LinearQueries: Seq[String] = Seq(
    "b4_pricing_summary", "b5_top_revenue", "b9_local_supplier_volume",
    "b12_waiting_suppliers", "b13_part_top_supplier", "c1_minhash_lsh",
    "c9_token_count", "c15_dedup_groups", "c17_quality_filter",
    "c24_sketch_distinct", "c27_contamination", "c51_ts_similar_users",
    "c55_containment", "c70_quantile_sketch", "c71_overlap_hll",
    "c72_membership_gate", "d2_rollup_pricing", "d8_percentiles",
    "d21_merge_apply", "d22_table_profile", "d24_retention",
    "d29_ref_integrity", "d32_ols_trend")

  def build(spark: SparkSession, src: String, dst: String, reps: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dst/_built"))) {
      println(s"[scale] reusing $dst"); return
    }
    val maxId = KeyCols.map { case (t, cols) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      df.agg(max(greatest((cols ++ cols).map(c => col(c).cast("long")): _*)))
        .head().getLong(0)
    }.max
    val k = ((maxId / ModulusLcm) + 1) * ModulusLcm
    println(s"[scale] maxId=$maxId offset=$k reps=$reps")
    KeyCols.foreach { case (t, cols) =>
      var df = spark.read.parquet(s"$src/$t.parquet")
        .crossJoin(spark.range(reps.toLong).select(col("id").as("_r")))
      cols.foreach(c => df = df.withColumn(c, col(c).cast("long") + col("_r") * k))
      if (t == "documents")
        df = df.withColumn("text", expr(
          "array_join(transform(split(text, ' '), x -> " +
            "if(x = '', x, concat(x, '·', CAST(_r AS STRING)))), ' ')"))
      if (t == "embeddings")
        df = df.withColumn("embedding", expr(
          "transform(embedding, (x, i) -> CAST(x + 0.45 * " +
            "(CAST((i * 2654435761 + _r * 40503) % 17 AS DOUBLE) - 8.0) / 8.0 AS FLOAT))"))
      // one part-file per replica: the single-file source read has ONE
      // partition, so writing it straight back produced a single
      // 10×-sized file with ONE parquet row group — and a one-row-group
      // file is a ONE-TASK scan in Spark (row groups are assigned by
      // midpoint) and a one-thread scan in DuckDB (it parallelizes
      // across row groups). That degenerate layout throttled the whole
      // scan→aggregate pipeline of both engines to one core and is not
      // what 10× production data looks like: 10× volume arrives as 10×
      // files. `reps` even round-robin files keeps the comparison fair
      // and the scan parallel in both engines.
      df.drop("_r").repartition(reps)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] wrote $t")
    }
    fs.create(new org.apache.hadoop.fs.Path(s"$dst/_built")).close()
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def bestOf(n: Int)(body: => Unit): Double =
    (1 to n).map(_ => time(body)).min

  def main(args: Array[String]): Unit = {
    // args: [shufflePartitions|auto] [reps] [queryPrefixes,csv] —
    // defaults auto, 10, all. The replica count is the scale decade
    // under test: reps=100 probes one decade further than the default
    // ×10. "auto" re-derives spark.sql.shuffle.partitions from the
    // bytes of each side's input (Tuning) — the scaled side hits its
    // scaled-partition numbers without a hand-set count.
    val shuffle = args.headOption.getOrElse("auto")
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    val only = args.lift(2).map(_.split(",").toSeq)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions",
        if (shuffle == "auto") "32" else shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_scale$reps"
    build(spark, src, dst, reps)
    // per-side partition counts: derived from each input's bytes unless
    // a fixed count was passed
    def setShuffle(dir: String): Unit =
      if (shuffle == "auto") {
        val n = Tuning.autoShufflePartitions(spark, dir)
        println(s"[scale] shuffle.partitions($dir) = $n")
      }

    var results = Seq.empty[(String, Double, Double, Double)]
    def report(name: String, t1: Double, t10: Double): Unit = {
      results :+= ((name, t1, t10, t10 / t1))
      println(f"[scale] $name%-24s sf0.1=$t1%6.2fs x10=$t10%7.2fs ratio=${t10 / t1}%5.1f")
    }

    for (q <- LinearQueries.filter(n => only.forall(_.exists(n.startsWith)))) {
      val fn = SparkEntry.queries(q)
      setShuffle(src)
      fn(spark, src).collect() // warm (JIT, codegen, footers)
      val t1 = bestOf(2)(fn(spark, src).collect())
      setShuffle(dst)
      fn(spark, dst).collect()
      val t10 = bestOf(2)(fn(spark, dst).collect())
      report(q, t1, t10)
    }
    // k-means family with the documented parameter scaling: nCells ×reps
    // (constant cell population — nlist grows WITH the corpus), nProbe
    // held constant. The scaled codebook rides Similarity's two-level
    // coarse quantizer (> HierThreshold), so assignment work is
    // O(N·√nCells).
    val cellsN = 8 * reps
    if (only.forall(_.exists(p => "c12_ivf".startsWith(p) || "c31_semdedup".startsWith(p)))) {
    import graft.operators.Similarity
    val e1 = spark.read.parquet(s"$src/embeddings.parquet")
    val e10 = spark.read.parquet(s"$dst/embeddings.parquet")
    setShuffle(src)
    Similarity.ivfTopK(e1, 50, 3, 8, 2, 6).collect()
    val i1 = bestOf(2)(Similarity.ivfTopK(e1, 50, 3, 8, 2, 6).collect())
    // Expected ratio ≈ 10 (linear): assignment is the compiled-method
    // CodebookCellHier call (O(N·√nCells) work, constant codegen size)
    // and the probe join candidates scale with N at fixed nProbe and
    // constant cell population. Measured 4.0 (r7, post-CodebookModel);
    // the r6 flat-assignment/probes-×10 parameterization measured 174,
    // and the two intermediate r7 forms (unrolled literal tree /
    // interpreted gate) measured 54 and 90 — the Janino compile bomb
    // and boxed tree-walking, both removed by the method-call design
    // (see Similarity.withCellHier scaladoc).
    setShuffle(dst)
    Similarity.ivfTopK(e10, 50, 3, cellsN, 2, 6).collect()
    val i10 = bestOf(2)(Similarity.ivfTopK(e10, 50, 3, cellsN, 2, 6).collect())
    report(s"c12_ivf (cells 8~$cellsN)", i1, i10)
    setShuffle(src)
    Similarity.semDedup(e1, 8, 2, 0.42).collect()
    val s1 = bestOf(2)(Similarity.semDedup(e1, 8, 2, 0.42).collect())
    setShuffle(dst)
    Similarity.semDedup(e10, cellsN, 2, 0.42).collect()
    val s10 = bestOf(2)(Similarity.semDedup(e10, cellsN, 2, 0.42).collect())
    report(s"c31_semdedup (8~$cellsN)", s1, s10)
    }

    // Exec-operator leg (r14, verdict item 9): the reference's core
    // operator gets a standing throughput number in every smoke log —
    // 10k × 1 KB files through `cat` (files/s) and 32 × 64 MiB through
    // `cat` (MB/s) — so query-surface work can't silently regress it.
    if (only.forall(_.exists(p => "exec".startsWith(p)))) {
      println(s"[scale] exec leg: ${Bench.benchExec(spark, 10000)}")
      println(s"[scale] exec bytes leg: ${Bench.benchExecBytes(spark, 32, 64)}")
    }

    if (results.nonEmpty) {
      val sorted = results.sortBy(-_._4)
      println(f"[scale] worst ratio: ${sorted.head._1} at ${sorted.head._4}%.1f")
      println(f"[scale] median ratio: ${results.map(_._4).sorted.apply(results.size / 2)}%.1f")
    }
    spark.stop()
  }
}
