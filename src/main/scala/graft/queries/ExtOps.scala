package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tuning
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Multimodal, RuntimeFilter, Sampling, Similarity, Skew}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension operator queries (the LLM-data-pipeline surface): dedup
  * suite, similarity search, text analysis, multimodal plumbing. Thin
  * wrappers over graft.operators / graft.functions; every oracle below
  * replays the operator's exact arithmetic in DuckDB.
  */
object ExtOps {
  import Tables.load

  /** c27's train-side 8-gram document-frequency cap (the b2/c3/d7
    * discipline applied to contamination n-grams): boilerplate 8-grams
    * posting in > CAP training docs are dropped, bounding each n-gram's
    * pair contribution to ≤ CAP·|eval_df|. No-op on the synthetic data
    * (max train df 4 at sf0.1); mirrored in the oracle.
    */
  val C27_DF_CAP = 256

  /** c35 chunking geometry: windows of CHUNK_W tokens advancing by
    * CHUNK_S (overlap = W − S = 16). Synthetic docs run 10–99 tokens, so
    * both the single-chunk and the multi-chunk branch are exercised at
    * every SF.
    */
  val CHUNK_W = 64
  val CHUNK_S = 48

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(load(s, dir, "documents"), 5)),
    "c2_simhash_buckets" -> ((s, dir) => Dedup.simhashBuckets(load(s, dir, "documents"))),
    "c3_shingle_jaccard" -> ((s, dir) => Dedup.shingleJaccard(load(s, dir, "documents"), 25)),
    "c4_embed_neardup" -> ((s, dir) => Similarity.nearDupPairs(load(s, dir, "embeddings"), 0.42)),
    "c5_ann_brute" -> ((s, dir) => Similarity.bruteForceTopK(load(s, dir, "embeddings"), 100, 5)),
    "c6_ann_lsh" -> ((s, dir) => Similarity.lshTopK(load(s, dir, "embeddings"), 20, 3, 4)),
    "c7_langid" -> ((s, dir) => TextAnalysis.langId(load(s, dir, "documents"))),
    "c8_quality" -> ((s, dir) => TextAnalysis.qualityByLang(load(s, dir, "documents"))),
    "c9_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(load(s, dir, "documents"))),
    "c10_fingerprint" -> ((s, dir) => TextAnalysis.fingerprintGroups(load(s, dir, "documents"))),
    "c11_multimodal" -> ((s, dir) => Multimodal.featureSummary(s, load(s, dir, "documents"))),
    // c12 config: 8 cells × 6 probes, codebook trained on the % 2
    // id-subsample (r5). The synthetic embeddings are near-uniform (no
    // cluster structure), so recall tracks the scanned fraction. With
    // per-dataset codebooks (the r6 cache-key fix — earlier figures
    // were inflated by a collision that reused sf0.001's codebook)
    // IvfSweep measures recall@3 for this config at ≥ 0.9 for
    // sf0.001/0.01 (1.000 at sf0.01) and 0.85 at sf0.1 ≈ the 0.75 scan
    // fraction + boundary wins — floors asserted in IvfSweep at two
    // training rates and in SimilaritySpec; clustered real-world
    // corpora reach high recall at far smaller probe fractions.
    "c12_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(load(s, dir, "embeddings"), 50, 3, 8, 2, 6)),
    // c28 — int8-quantized ANN: the memory-scale path (64 bytes/vector).
    // Same query batch as c5, so SimilaritySpec can measure quantization
    // recall against the exact baseline.
    "c28_ann_quantized" -> ((s, dir) =>
      Similarity.quantizedTopK(load(s, dir, "embeddings"), 100, 5)),
    // c13 — the salted two-phase aggregation, declared so the one
    // previously oracle-uncovered operator gets a correctness row: the
    // oracle is the DIRECT group-by, proving salted == direct (sums are
    // associative; value sums ride the b4 scaled-long contract).
    "c13_salted_agg" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .withColumn("v", expr("CAST(ROUND(value * 1000000) AS BIGINT)"))
      Skew.saltedSum(ev, col("event_type"), Map("sv" -> col("v")), 16)
        .select(col("key").as("event_type"),
          (col("sv").cast("double") / 1.0e6).as("sum_value"), col("n"))
        .orderBy(col("event_type"))
    }),
    // c29 — salted JOIN (the join-side twin of c13's salted aggregation):
    // enrich every event with its type's global stats — a 5-key join, the
    // textbook hot-key shuffle skew — via Skew.saltedJoin: fact rows get
    // a content-hash salt, the 5-row build side replicates ×16, and the
    // hot keys spread over 16 reducers. The oracle is the PLAIN join —
    // salting must be invisible in the result. Above-average test is
    // integer cross-multiplication (vc·n > tot), no division.
    "c29_salted_join" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("vc"))
      val stats = ev.groupBy(col("event_type"))
        .agg(sum(col("vc")).as("tot"), count(lit(1)).as("n"))
      Skew.saltedJoin(ev, stats, "event_type", 16)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("vc") * col("n") > col("tot"), 1L).otherwise(0L)).as("n_above_avg"))
        .orderBy(col("event_type"))
    }),
    // c14 — SimHash near-dup pairs: banded candidate generation (4 × 16
    // bits; pigeonhole guarantees full recall at Hamming ≤ 3), Hamming
    // verify on candidates only.
    "c14_simhash_neardup" -> ((s, dir) => Dedup.simhashNearDup(load(s, dir, "documents"), 3)),
    // c15 — near-dup GROUPS: connected components over verified MinHash
    // edges (Jaccard ≥ 0.98) — the keep-one-per-group step of a dedup
    // pipeline. Spark runs pregel-style min-label propagation to
    // fixpoint; the oracle reaches the same fixpoint by recursive
    // closure.
    "c15_dedup_groups" -> ((s, dir) => Dedup.dedupGroups(load(s, dir, "documents"), 5, 0.98)),
    // c16 — deterministic stratified sampling: content-hash gate, exact
    // per-lang thresholds out of 256 (en 32 ≈ 12.5%, de 64 ≈ 25%, rest
    // 128 ≈ 50%) — replayable row-level sampling decisions.
    "c16_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(load(s, dir, "documents"),
          col("doc_id"), col("lang"), Map("en" -> 32, "de" -> 64), 128)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("n_chars").cast("long")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }),
    // c24 — sketch-based distinct counting (HLL++): per source, Spark's
    // engine-private approx_count_distinct next to the exact count.
    // Sketches are the 100 TB path — mergeable fixed-size state, one
    // pass, no distinct shuffle — and the estimate VALUE is inherently
    // engine-specific, so the output carries only oracle-replayable
    // columns: the exact count and `within_band`, the engine-computed
    // assertion |approx − exact|·20 ≤ exact (5% band ≈ 2.5σ at
    // rsd=0.02, integer cross-multiply). The oracle asserts the band as
    // literal TRUE — an estimator drifting out of band hash-mismatches
    // and fails the gate, which is exactly the contract a sketch can
    // honestly promise cross-engine. (c45 is the companion whose whole
    // ESTIMATOR the oracle replays bit-for-bit.)
    "c24_sketch_distinct" -> ((s, dir) => {
      // distinct-then-count, NOT countDistinct + approx in one agg: the
      // mixed form plans an Expand (doubles every row through the
      // aggregate); over the distinct (source, h) pairs both counts are
      // plain aggregates in one pass (measured 2.4 s → 0.6 s at sf0.1).
      //
      // SKETCH-GRADER CONTRACT (the c71/c72 discipline): n_exact and the
      // within_band assertion exist to GRADE the HLL sketch against the
      // oracle at bench scale — production ships only the
      // approx_count_distinct aggregate (fixed 2%-rsd registers, no
      // per-key state). The exact-distinct pass IS the expensive leg at
      // 100 TB and is deliberately not optimized further: its remaining
      // cost at bench SFs is the fixed 3-stage scheduling floor
      // (distinct exchange → per-source aggregate → sort; PERF.md r13
      // floor-cohort decomposition — sublinear 0.40→1.04 s for 10×
      // rows against DuckDB's 20–50 ms single-process floor).
      load(s, dir, "documents")
        .select(col("source"), md5(col("text").cast("binary")).as("h"))
        .distinct()
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_exact"),
          approx_count_distinct(col("h"), 0.02).as("n_approx"))
        .select(col("source"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) * lit(20L) <= col("n_exact"))
            .as("within_band"))
        .orderBy(col("source"))
    }),
    // c70 — mergeable q-digest rank statistics (completes the sketch
    // quartet: CMS c42 frequency, HLL c45 distinct, KMV c47 sample,
    // q-digest c70 worst-case-bounded quantiles): per return flag the
    // 100 TB quantile shape — O(k·log U) state per partial aggregate,
    // counts-add merge, one pass, no sort/value shuffle; only digests
    // move. The digest's ESTIMATES depend on Spark's merge order, so
    // per the c24 sketch contract the output carries only oracle-
    // replayable columns: n, the EXACT p50/p90 price cents (rank-based
    // integer arithmetic — this verification leg is bench-scale only;
    // at 100 TB you ship just the digest aggregate), and the engine-
    // computed assertion that each estimate's rank INTERVAL, widened by
    // the deterministic q-digest bound bits·⌊n/k⌋+1, contains its
    // target rank — pinned TRUE by the oracle. Interval, not point
    // rank: with tied values even the exact percentile's point rank
    // can sit far past the target.
    //
    // Cost shape at sf0.1 (C70Ab is the committed A/B record): ONE
    // lineitem scan, raw (flag, v) rows range-repartitioned on the
    // exact sort key (flag, v) and localCheckpoint-materialized for all
    // consumers (the c49/c55 discipline). The first cut pre-aggregated
    // a (flag, v, c) counts table on a value-domain argument — but
    // MEASURED, prices are nearly unique (594,330 distinct (flag, v)
    // pairs from 600,000 rows at sf0.1), so the hash aggregation +
    // weighted ingest bought no compression (C70Ab). The ONE exchange
    // is repartitionByRange (it doubles as the bench-file
    // parallelizer — the file is a single parquet row group; on a real
    // multi-file scan the digest partials ride the scan tasks and the
    // production path ships just QuantileStream.digestCol: no value
    // shuffle, only digests move). The digest leg aggregates over the
    // checkpoint's partitions directly.
    //
    // The replay leg needs the exact value AT rank t per flag — but
    // flag has THREE values, so Window.partitionBy(flag) would funnel
    // a third of the fact table through one task each (the r8
    // verdict's scale-killer). Two scale-safe rewrites were MEASURED
    // (C70Ab/C70Parts at 10× data): the full c26 two-level rank still
    // sorts every row (8.0 s vs 2.5 s for the 3-task window), and any
    // repartitionByRange formulation eats the range exchange's premium
    // (11.1 s vs 4.6 s for the same hash shuffle at 10× — the sampling
    // pass plus per-row ordered routing). So the replay buckets by
    // VALUE instead: b = v >> 12 is deterministic (no sampling, no
    // partition-id consistency to defend), and the (flag, b) histogram
    // is DOMAIN-bounded (~2.5k buckets per flag for the price domain)
    // — scale-independent rows, so its per-flag cumulative window is
    // the c20 allowlisted class (tiny aggregated input), never the
    // corpus. The prefix counts locate the ONE bucket containing each
    // target rank; only those ≤ 2·|flags| bucket slices (ΣN/2560
    // rows, parallel, and the shift is a COMPUTED dial — see
    // Tuning.bucketShift: derived from the exact (n, min, max) of the
    // value column so expected slices stay ≤ 2^12 rows and the
    // histogram stays ≤ 2^20 rows at any scale; sf0.1 derives 16,
    // 10× derives 12 — the r9 literal — and 100× derives 9; the
    // SPARK_GRAFT_C70_SHIFT env overrides it for A/B runs, and the
    // output is shift-INVARIANT (order statistics and the band
    // counts don't depend on bucket boundaries), which is why the
    // unchanged oracle keeps proving the rewrite) get a local
    // row_number to read
    // the (t − cum_prev)-th smallest value. The t-th order statistic
    // is tie-invariant, so this equals the serial min(v | rn ≥ t) —
    // the unchanged oracle proves it. The band check's rank intervals
    // also ride the histogram: count(v ≤ e) = full buckets below
    // e's bucket + a conditional count inside it, computed in the SAME
    // slice pass — no full-table conditional scan either. Net: the
    // full table is never sorted and never re-shuffled past the one
    // (conditional — see below) parallelizing checkpoint; it is scanned
    // four times (the 3-number count/min/max stats pass that derives
    // the shift, digest, histogram, slice probe), each a cached
    // columnar pass on the small branch and a column-pruned parquet
    // re-scan on the multi-file branch.
    "c70_quantile_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.GraftBridge
      val bits = 24
      val k = 2048
      val bound = lit(bits.toLong) * expr(s"n DIV $k") + lit(1L)
      val li = load(s, dir, "lineitem")
      // COLUMNAR KERNEL path (r14): all three fact passes of this query
      // (digest build, bucket histogram, bucket slice) aggregate into
      // TINY state (|flags| digests / ~|domain|/2^shift buckets / ≤
      // 4·|flags| bucket slices), so each runs as a vector pass straight
      // off the parquet reader's ColumnarBatches instead of through
      // ColumnarToRow + the row-at-a-time aggregate path. Measured at
      // 10× (ColumnarAb, clean interleaved arms): digest 1.21 → 0.98 s
      // (QDigestAgg's TypedImperativeAggregate pays interpreted eval +
      // boxing per row; the kernel ingests off the vectors and merges
      // bounded partials through QDigestMergeAgg — still a Spark
      // aggregation, never a driver merge), histogram 0.42 → 0.11 s,
      // slice 0.52 → 0.09 s. Estimates differ from the row path only
      // by merge order — both stay inside the deterministic rank-error
      // band the output boolean asserts (the c24/c70 contract), so the
      // oracle and the SqlEntry twin (which keeps the row spelling)
      // are unchanged. Falls back to the row path whenever the input
      // is not a pure columnar scan (ColumnarKernel.scanBatches = None),
      // the kernel is disabled for an A/B arm, or the input is a
      // single-row-group bench file (same gate as the row path's
      // parallelizer below: the kernel buys per-row vector work and
      // costs ~3 fixed action latencies, so it pays exactly when the
      // scan fans out — sf0.1 single-file clean arms read row 1.61 s vs
      // kernel 1.98; 10× multi-file reads kernel 2.6 vs row 3.6).
      val kern =
        if (graft.operators.ColumnarKernel.enabled(s,
            Tuning.rowGroupCount(s"$dir/lineitem.parquet") >= 8L))
          graft.operators.ColumnarKernel.flagStatsDigestPartials(
            s, li, "l_returnflag", "l_extendedprice", bits, k)
        else None
      lazy val vals = li.select(
        col("l_returnflag").as("flag"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("v"))
      // The exchange+checkpoint is the SINGLE-FILE parallelizer ONLY.
      // The r12 decomposition (ScanShapeAb c70parts) showed that on a
      // multi-file input both halves of it LOSE: the exchange of the 6M
      // narrow rows costs 1.3–1.65 s, and the downstream passes read the
      // row-format cache SLOWER than they re-scan the column-pruned
      // parquet (histogram pass: 0.47 s over the 10-task raw scan vs
      // 0.78 s over a 32-partition checkpoint vs 1.38 s over the
      // session-default 91 partitions — Tuning's dir-bytes rule counts
      // ALL columns and over-partitions this 2-column projection ~8×,
      // and each extra task pays UnsafeFixedWidthAggregationMap setup).
      // So: when the scan already fans out (≥ 8 ROW GROUPS — production
      // multi-file data always does), the passes run straight over the
      // parquet scan; only a single-row-group input (the sf bench
      // files) pays the exchange, at the SESSION partition count —
      // a core-count repartition was A/B'd for the small branch and
      // lost (1.32 s vs 0.89 s end-to-end at sf0.1: 600k rows in 32
      // tasks is scheduling-dominated, the r6 Tuning calibration
      // exactly). Both paths compute identical results — the oracle
      // and the pass structure don't change, only where the
      // parallelism comes from. The gate counts parquet ROW GROUPS
      // from the footers (r13, ADVICE): getNumPartitions counts BYTE
      // splits, and a large single-row-group file reports ≥ 8 splits
      // of which exactly one holds the row group — skipping the
      // parallelizer on the input that needs it most. Row groups are
      // what both engines actually parallelize across; the footer
      // read is O(files) metadata I/O Spark's planner does anyway.
      // r14 note (verdict item 7, A/B'd and REJECTED): pinning AQE off
      // around the internal passes — motivated by r13's "c70 is the one
      // AQE loser" — was measured on the current shapes at 10× and LOST
      // (base/AQE-on 5.87 s vs whole-session AQE-off 7.33; the pinned
      // hybrid read 5.87 — no better than no pin). The r13 AQE-off win
      // predated the size-derived AQE default and the 32g heap; on
      // today's shapes AQE-on wins c70 outright, so no pin ships
      // (ab14_trio_* artifacts, PERF.md r14).
      // (row-path fallback only — the kernel path needs no parallelizer:
      // its per-row cost is a vector-loop constant, so even a single-
      // row-group bench file finishes its pass in tens of ms)
      lazy val dist =
        if (Tuning.rowGroupCount(s"$dir/lineitem.parquet") >= 8L) vals
        else vals.repartition(col("flag"), col("v")).localCheckpoint(true)
      // FUSED stats+digest pass (r13): the digest does not depend on
      // the bucket shift, so it rides the same aggregate that derives
      // the shift's (count, min, max) — one scan and one AQE re-plan
      // barrier fewer than the r12 shape (4 passes → 3; the AQE-on 10×
      // A/B that motivated it: c70 3.77 s AQE-off vs 4.74 on, the
      // suite's one AQE loser, each action paying the re-plan latency).
      // |flags| rows to the driver — plan parameterization plus a
      // 3-row digest readout, not data collection (the c12 codebook
      // discipline); the tiny est table is rebuilt as a literal
      // DataFrame, so downstream joins are unchanged.
      val fused = (kern match {
        case Some(partials) =>
          val mergeCol = GraftBridge.column(graft.functions.QDigestMergeAgg(
            GraftBridge.expression(col("dig")), bits, k, Seq(500, 900))
            .toAggregateExpression())
          partials.groupBy("flag").agg(
            sum(col("n")).as("n"), min(col("lo")).as("lo"),
            max(col("hi")).as("hi"), mergeCol.as("est"))
        case None =>
          val digCol = GraftBridge.column(graft.functions.QDigestAgg(
            GraftBridge.expression(col("v")), bits, k, Seq(500, 900))
            .toAggregateExpression())
          dist.groupBy("flag").agg(
            count(lit(1)).as("n"), min(col("v")).as("lo"),
            max(col("v")).as("hi"), digCol.as("est"))
      }).collect()
      val st = org.apache.spark.sql.Row(
        fused.map(_.getLong(1)).sum,
        if (fused.isEmpty) null else fused.map(_.getLong(2)).min,
        if (fused.isEmpty) null else fused.map(_.getLong(3)).max)
      // The A/B dial is validated here rather than used raw: a garbage
      // value would throw a bare NumberFormatException mid-plan, and a
      // negative one hits Java's shift-count masking (effective shift up
      // to 63 → whole-table slice) — shift-invariance keeps that CORRECT
      // but it is a silent perf cliff, so fail loudly instead.
      val shift = sys.env.get("SPARK_GRAFT_C70_SHIFT").map { raw =>
        val s = try raw.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_C70_SHIFT must be an integer in [0, 62], got '$raw'")
        }
        require(s >= 0 && s <= 62,
          s"SPARK_GRAFT_C70_SHIFT must be in [0, 62], got $s")
        s
      }.getOrElse(
        if (st.getLong(0) == 0L) 12
        else Tuning.bucketShift(st.getLong(0), st.getLong(1), st.getLong(2)))
      // the digest readout from the fused pass as a |flags|-row literal
      // table (no checkpoint needed — it never touches the fact table)
      val est = {
        import s.implicits._
        fused.map { r =>
          val a = r.getSeq[Long](4)
          (r.getString(0), a(0), a(1))
        }.toSeq.toDF("flag", "e50", "e90")
      }
      // value-bucket histogram: domain-bounded (~|domain|/4096 rows per
      // flag), pinned for its three tiny consumers (the pin also keeps
      // the kernel's scan pass from re-running per consumer)
      val bcnt = (kern match {
        case Some(_) =>
          graft.operators.ColumnarKernel.flagBucketCounts(
              s, li, "l_returnflag", "l_extendedprice", shift)
            .getOrElse(dist.groupBy(col("flag"),
                expr(s"shiftright(v, $shift)").as("b"))
              .agg(count(lit(1)).as("c")))
        case None =>
          dist.groupBy(col("flag"), expr(s"shiftright(v, $shift)").as("b"))
            .agg(count(lit(1)).as("c"))
      }).localCheckpoint(true)
      val cum = bcnt.withColumn("cum",
          sum(col("c")).over(Window.partitionBy("flag").orderBy("b")))
        .withColumn("cum_prev", col("cum") - col("c"))
      val nTab = bcnt.groupBy(col("flag")).agg(sum(col("c")).as("n"))
      val t50 = expr("(500 * n + 999) DIV 1000")
      val t90 = expr("(900 * n + 999) DIV 1000")
      // rank targets → the one bucket whose prefix interval holds rank t
      val selR = nTab
        .select(col("flag"), explode(array(
          struct(lit(50L).as("q"), t50.as("t")),
          struct(lit(90L).as("q"), t90.as("t")))).as("s"))
        .select(col("flag"), col("s.q").as("q"), col("s.t").as("t"))
        .join(cum, "flag")
        .filter(col("cum_prev") < col("t") && col("t") <= col("cum"))
        .select(col("flag"), col("b"), col("q"), lit("r").as("kind"),
          (col("t") - col("cum_prev")).as("lt"), lit(null).cast("long").as("e"))
      // value targets (the digest estimates) → their own buckets, for
      // the in-band rank intervals
      val tgtV = est
        .select(col("flag"), explode(array(
          struct(lit(50L).as("q"), col("e50").as("e")),
          struct(lit(90L).as("q"), col("e90").as("e")))).as("s"))
        .select(col("flag"), col("s.q").as("q"), col("s.e").as("e"),
          expr(s"shiftright(s.e, $shift)").as("be"))
      val selV = tgtV.select(col("flag"), col("be").as("b"), col("q"),
        lit("v").as("kind"), lit(null).cast("long").as("lt"), col("e"))
      // full buckets strictly below a value-target's bucket hold only
      // v < e (b < be ⇒ v < be << shift ≤ e — the invariant holds for
      // any shift); the boundary bucket's ≤/< counts come from the
      // slice pass below
      val base = tgtV.select(col("flag"), col("q"))
        .join(tgtV.join(bcnt, "flag").filter(col("b") < col("be"))
            .groupBy(col("flag"), col("q")).agg(sum(col("c")).as("base")),
          Seq("flag", "q"), "left")
        .groupBy(col("flag")).agg(
          coalesce(min(when(col("q") === 50L, col("base"))), lit(0L)).as("base50"),
          coalesce(min(when(col("q") === 90L, col("base"))), lit(0L)).as("base90"))
      // ONE slice pass serves both legs: ≤ 4·|flags| bucket slices,
      // broadcast back; the window input is slice rows only
      val sel = selR.unionByName(selV)
      val slice = kern match {
        case Some(_) =>
          // the ≤ 4·|flags| (flag, bucket) pairs come to the driver as
          // plan parameters (null pairs dropped — an inner equi-join
          // never matches them); the kernel extracts the matching rows
          // in one vector pass and the original broadcast join then
          // re-attaches each sel row's (q, kind, lt, e) — identical
          // row multiset to joining the full scan
          val pairs = sel.select(col("flag"), col("b"))
            .where(col("flag").isNotNull && col("b").isNotNull)
            .distinct().collect()
            .map(r => (r.getString(0), r.getLong(1))).toSet
          graft.operators.ColumnarKernel.flagBucketSlice(
              s, li, "l_returnflag", "l_extendedprice", shift, pairs)
            .map(_.join(broadcast(sel), Seq("flag", "b")))
            .getOrElse(dist.withColumn("b", expr(s"shiftright(v, $shift)"))
              .join(broadcast(sel), Seq("flag", "b")))
        case None =>
          dist.withColumn("b", expr(s"shiftright(v, $shift)"))
            .join(broadcast(sel), Seq("flag", "b"))
      }
      val res = slice
        .withColumn("lrn", row_number().over(
          Window.partitionBy(col("flag"), col("q"), col("kind"))
            .orderBy(col("v"))).cast("long"))
        .groupBy(col("flag")).agg(
          min(when(col("kind") === "r" && col("q") === 50L &&
            col("lrn") === col("lt"), col("v"))).as("exact_p50"),
          min(when(col("kind") === "r" && col("q") === 90L &&
            col("lrn") === col("lt"), col("v"))).as("exact_p90"),
          sum(when(col("kind") === "v" && col("q") === 50L &&
            col("v") <= col("e"), 1L).otherwise(0L)).as("sLe50"),
          sum(when(col("kind") === "v" && col("q") === 50L &&
            col("v") < col("e"), 1L).otherwise(0L)).as("sLt50"),
          sum(when(col("kind") === "v" && col("q") === 90L &&
            col("v") <= col("e"), 1L).otherwise(0L)).as("sLe90"),
          sum(when(col("kind") === "v" && col("q") === 90L &&
            col("v") < col("e"), 1L).otherwise(0L)).as("sLt90"))
      // h = count(≤ e), l = count(< e)+1, assembled from base + slice
      nTab.join(res, "flag").join(base, "flag")
        .select(col("flag"), col("n"), col("exact_p50"), col("exact_p90"),
          (t50 >= col("base50") + col("sLt50") + lit(1L) - bound &&
            t50 <= col("base50") + col("sLe50") + bound &&
            t90 >= col("base90") + col("sLt90") + lit(1L) - bound &&
            t90 <= col("base90") + col("sLe90") + bound)
            .as("sketch_within_band"))
        .orderBy(col("flag"))
    }),
    // c73 — token-weighted length quantiles: "the median TOKEN sits in
    // a document of length X" — the corpus-composition statistic behind
    // sequence-length bucketing and packing decisions (an unweighted
    // doc median is dominated by short docs; training cost follows the
    // TOKEN mass). Value = doc length in tokens, weight = that same
    // token count. This is the query the value-domain counts shape IS
    // right for (the shape c70 measured wrong for ~unique prices): doc
    // LENGTHS live in a tiny domain, so the histogram collapses the
    // corpus before anything else runs — the weighted q-digest ingests
    // (v, w) histogram rows (QDigestAggSpec's multiset contract: w
    // repeats of v), the rank replay is a cum window over the tiny
    // histogram, and the only corpus-sized work is the one groupBy.
    // Output follows the c70/c24 contract: exact weighted p50/p90 plus
    // the engine-computed rank-interval in-band boolean (bound
    // bits·⌊W/k⌋+1 with W = total weight) the oracle pins TRUE.
    "c73_weighted_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.GraftBridge
      val bits = 16
      val k = 1024
      // NULL lang is excluded explicitly (the c45/c71/c72 discipline —
      // Spark and DuckDB disagree on NULL ordering, so an unguarded
      // GROUP BY lang ... ORDER BY lang diverges on a hostile corpus);
      // zero-weight rows (a lang whose docs are all empty: v=0 ⇒ w=0)
      // are dropped BEFORE the digest — a tw=0 group has no token mass
      // to take quantiles over, and feeding it through would NULL the
      // digest eval and the band boolean against the oracle's literal
      // TRUE. Both guards are mirrored in the SQL text and the oracle;
      // NullTextSpec pins the three-spelling parity on a corpus that
      // actually has NULL langs and empty-only langs.
      val docs = load(s, dir, "documents")
        .filter(col("lang").isNotNull)
        .select(col("lang"),
          expr("CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)").as("v"))
      // value-domain histogram: |langs|·|distinct lengths| rows — tiny,
      // checkpointed once for its two consumers (the c55 discipline)
      val hist = docs.groupBy(col("lang"), col("v"))
        .agg((col("v") * count(lit(1))).as("w"))
        .filter(col("w") > 0)
        .localCheckpoint(true)
      val digCol = GraftBridge.column(graft.functions.QDigestAgg(
        GraftBridge.expression(col("v")), bits, k, Seq(500, 900),
        GraftBridge.expression(col("w"))).toAggregateExpression())
      val est = hist.groupBy("lang")
        .agg(sum(col("w")).as("tw"), digCol.as("est"))
        .select(col("lang"), col("tw"),
          col("est")(0).as("e50"), col("est")(1).as("e90"))
      val cum = hist.withColumn("cum",
        sum(col("w")).over(Window.partitionBy("lang").orderBy("v")))
      val t50 = expr("(500 * tw + 999) DIV 1000")
      val t90 = expr("(900 * tw + 999) DIV 1000")
      val bound = lit(bits.toLong) * expr(s"tw DIV $k") + lit(1L)
      cum.join(broadcast(est), "lang")
        .groupBy(col("lang"), col("tw"), col("e50"), col("e90"))
        .agg(
          min(when(col("cum") >= t50, col("v"))).as("wp50_tokens"),
          min(when(col("cum") >= t90, col("v"))).as("wp90_tokens"),
          coalesce(max(when(col("v") <= col("e50"), col("cum"))), lit(0L)).as("h50"),
          (coalesce(max(when(col("v") < col("e50"), col("cum"))), lit(0L)) + lit(1L)).as("l50"),
          coalesce(max(when(col("v") <= col("e90"), col("cum"))), lit(0L)).as("h90"),
          (coalesce(max(when(col("v") < col("e90"), col("cum"))), lit(0L)) + lit(1L)).as("l90"))
        .select(col("lang"), col("tw").as("total_tokens"),
          col("wp50_tokens"), col("wp90_tokens"),
          (t50 >= col("l50") - bound && t50 <= col("h50") + bound &&
            t90 >= col("l90") - bound && t90 <= col("h90") + bound)
            .as("sketch_within_band"))
        .orderBy(col("lang"))
    }),
    // c45 — oracle-replayable HLL distinct counting: c24's sketch idea
    // with every bit md5-derived and every step 64-bit integer, so the
    // DuckDB oracle replays the ESTIMATOR itself (registers, harmonic
    // sum, alpha correction) and the estimates hash-match — the c42
    // discipline applied to distinct counting. See operators.HllDistinct.
    "c45_hll_distinct" -> ((s, dir) =>
      graft.operators.HllDistinct.estimate(
          load(s, dir, "documents"), col("lang"), col("text"))
        .withColumnRenamed("g", "lang")),
    // c17 — curation decisions per (lang, reason): first-match drop
    // reason, integer-exact thresholds.
    "c22_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionProfile(load(s, dir, "documents"))),
    // c23 — bigram novelty profile (a perplexity proxy with integer
    // arithmetic): per lang, how many bigram OCCURRENCES belong to
    // bigrams seen ≤ 3 times corpus-wide. High rare-share flags
    // boilerplate-free (or garbled) text without a float LM score —
    // cross-engine exact where log-prob perplexity could never be.
    // Shape: one bigram explode (positions over the raw split array,
    // capped at 4094 — mirrored in the oracle), counts shuffled on
    // (lang, bigram), then per-lang sums OVER THE COUNTS table — the
    // corpus-size-independent rollup. Bigrams come from the native
    // [[graft.functions.TokenNgrams]] kernel (raw-adjacency mode, r3) —
    // the HOF formulation it replaces survives as the spec's model and
    // the oracle.
    "c23_bigram_novelty" -> ((s, dir) => {
      val bg = load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(org.apache.spark.sql.GraftBridge.column(
            graft.functions.TokenNgrams(
              org.apache.spark.sql.GraftBridge.expression(col("text")),
              n = 2, maxStarts = 4094, skipEmpty = false))).as("b"))
      val cnt = bg.groupBy(col("lang"), col("b")).agg(count(lit(1)).as("n"))
      val occ = cnt.groupBy(col("lang"))
        .agg(sum(col("n")).as("sum_bigrams"),
          sum(when(col("n") <= 3, col("n")).otherwise(0L)).as("sum_rare"),
          count(lit(1)).as("n_bigram_types"))
      val d = bg.groupBy(col("lang")).agg(countDistinct(col("doc_id")).as("n_docs"))
      d.join(occ, "lang")
        .select(col("lang"), col("n_docs"), col("sum_bigrams"),
          col("sum_rare"), col("n_bigram_types"))
        .orderBy(col("lang"))
    }),
    "c17_quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(load(s, dir, "documents"))),
    // c18 — redaction accounting: characters a digit-scrub removes from
    // event props per event type (the audit a PII pass must emit).
    "c18_redact_stats" -> ((s, dir) =>
      TextAnalysis.redactionStats(load(s, dir, "events"),
          col("event_type"), col("props"), "[0-9]")
        .withColumnRenamed("grp", "event_type")),
    // c19 — TF-IDF without ln(): score = tf·N/df as one double division
    // of exact integers (log-free so both engines' libm never enters;
    // the ORDERING matches classic tf-idf for fixed tf because N/df is
    // monotone in 1/df). Top-5 terms per lang.
    "c19_tfidf_terms" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val nDf = toks.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_total")) // stays lazy: rides along as a broadcast
      val tf = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = toks.select(col("doc_id"), col("tok")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("tok"))
      tf.join(df, "tok").crossJoin(broadcast(nDf))
        .select(col("lang"), col("tok"),
          ((col("tf") * col("n_total")).cast("double") / col("df")).as("score"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("tok"), col("score"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    }),
    // c21 — incremental dedup: a NEW batch (odd doc_ids) against the
    // EXISTING corpus (even doc_ids) — left-anti join on the content
    // hash, so only never-seen documents survive ingest. The shape every
    // periodically-refreshed corpus needs; the corpus side shuffles
    // 16-byte hashes, never text.
    "c21_incremental_dedup" -> ((s, dir) => {
      val d = load(s, dir, "documents")
      val corpus = d.filter(col("doc_id") % 2 === 0)
        .select(md5(col("text").cast("binary")).as("h")).distinct()
      val batch = d.filter(col("doc_id") % 2 === 1)
        .withColumn("h", md5(col("text").cast("binary")))
      val kept = batch.join(corpus, Seq("h"), "left_anti")
      kept.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("min_doc"))
        .orderBy(col("lang"))
    }),
    // c25 — the KEEP decision that closes the dedup pipeline: per
    // near-dup component (c15's connected components), keep the
    // highest-quality doc (longest text, ties → lowest doc_id) and
    // account for what gets dropped. Labels join back to `documents` on
    // doc_id — the component table only holds edge-incident docs, so the
    // join is near-dup-graph-sized, not corpus-sized; the per-component
    // window runs over components of a few docs each.
    "c25_canonical_docs" -> ((s, dir) => {
      val d = load(s, dir, "documents")
      val labeled = Dedup.dedupLabels(d, 5, 0.98)
        .join(d.select(col("doc_id"), col("n_chars").cast("long").as("n_chars")), "doc_id")
      val w = Window.partitionBy(col("label"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      labeled.withColumn("rn", row_number().over(w))
        .groupBy(col("label").as("component"))
        .agg(count(lit(1)).as("n_docs"),
          max(when(col("rn") === 1, col("doc_id"))).as("keep_doc"),
          max(when(col("rn") === 1, col("n_chars"))).as("keep_chars"),
          coalesce(sum(when(col("rn") > 1, col("n_chars"))), lit(0L)).as("dropped_chars"))
        .filter(col("n_docs") > 1)
        .orderBy(col("component"))
    }),
    // c26 — tokenizer-vocabulary coverage (the BPE-prep profile): the
    // minimal vocab size (tokens ranked by frequency) covering 50/90/95/
    // 99% of token OCCURRENCES. The corpus-side work is one
    // groupBy(token); the vocab-side ranked cumulative sum is the c20
    // two-level prefix sum applied to the VOCAB — a global
    // Window.orderBy would funnel a web-scale vocab (billions of rows)
    // through ONE task. Level 1: repartitionByRange on the exact sort
    // key (n desc, tok) — Spark's own global-sort partitioner, whose
    // sampled boundaries split even the Zipf n=1 tail across token
    // ranges — then a per-range-partition local row_number + running
    // sum. Level 2: a ≤ numPartitions-row offset table (rows/tokens in
    // partitions before each) combined via a broadcast triangular join,
    // so no WindowExec in the plan is unpartitioned (PlanSpec asserts
    // this). rn = lrn + rn_off and cum = lcum + cum_off are
    // bit-identical to the serial spelling — the unchanged oracle proves
    // it. Integer cross-multiplication (cum·100 ≥ pct·total) keeps the
    // threshold exact — no float shares.
    "c26_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val counts = load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"))
      // partition i holds a contiguous slice of the global (n desc, tok)
      // order, so global rank = local rank + rows in partitions < i.
      val parted = counts
        .repartitionByRange(32, col("n").desc, col("tok"))
        .withColumn("pid", spark_partition_id())
      val wLoc = Window.partitionBy(col("pid")).orderBy(col("n").desc, col("tok"))
      val local = parted
        .withColumn("lrn", row_number().over(wLoc).cast("long"))
        .withColumn("lcum", sum(col("n")).over(
          wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bkt = local.groupBy(col("pid"))
        .agg(count(lit(1)).as("p_rows"), sum(col("n")).as("p_tokens"))
      val offs = bkt.as("a")
        .join(broadcast(bkt.as("b")), col("b.pid") < col("a.pid"), "left")
        .groupBy(col("a.pid").as("pid"))
        .agg(coalesce(sum(col("b.p_rows")), lit(0L)).as("rn_off"),
          coalesce(sum(col("b.p_tokens")), lit(0L)).as("cum_off"))
      val cum = local.join(broadcast(offs), Seq("pid"))
        .withColumn("rn", col("lrn") + col("rn_off"))
        .withColumn("cum", col("lcum") + col("cum_off"))
      val th = Seq(50L, 90L, 95L, 99L).toDF("pct")
      // cum is increasing in rn, so min(cum) over qualifying rows is the
      // coverage AT the min(rn) vocab cut — one aggregate, no join-back.
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(th))
        .filter(col("cum") * 100 >= col("pct") * col("total"))
        .groupBy(col("pct"))
        .agg(min(col("rn")).as("vocab_size"), min(col("cum")).as("covered_tokens"),
          min(col("total")).as("total_tokens"))
        .orderBy(col("pct"))
    }),
    // c27 — train/eval contamination check: eval docs (doc_id % 97 = 0)
    // sharing any 8-token n-gram with a training doc — the leakage scan
    // every benchmark-clean corpus needs. N-grams come from the native
    // TokenNgrams kernel (skip-empty, the c10 shape); the join key is the
    // n-gram string, so the pair space is bounded by posting lists, and
    // a df cap on the TRAIN side drops boilerplate 8-grams that would
    // otherwise make one hot n-gram contribute |train_df|·|eval_df| pairs
    // (no-op on the synthetic data; the 100 TB guard, mirrored in the
    // oracle). Eval docs with < 8 tokens have no n-grams and count as
    // clean.
    "c27_contamination" -> ((s, dir) => {
      val d = load(s, dir, "documents")
      // the dedup/join key is xxhash64(ngram), not the ngram text — the
      // b1 discipline, r13-narrowed from md5: every shuffle (distinct,
      // df count, postings join) moves 8-byte longs instead of ~60-byte
      // strings, and the key is INTERNAL only (outputs are lang-level
      // counts), so the oracle's own md5 key yields the same equality
      // classes; collision contract in Dedup.shingleContainment's
      // scaladoc.
      // The late-r13 A/B kept the corpus-wide distinct as the shared
      // materialization point because its consumers could only share it
      // via ReusedExchange; the r14 shape below supersedes that trade:
      // the ONE corpus scan feeds ONE explicit g-keyed exchange all
      // consumers ride (no re-scan per consumer — the c31 lesson holds),
      // and the dedup no longer needs an exchange at all. Still NOT
      // checkpointed (r13, measured): a localCheckpoint pays an eager
      // full-row cache write for work Spark never repeats (ScanShapeAb
      // ckptab, the c70 full-row-cache-vs-pruned-work trap).
      // r14 (the c57 riding discipline): (doc,g) dedup happens IN-ROW —
      // hash the n-gram array to longs and array_distinct inside the
      // scan projection (a doc's duplicate grams only live in its own
      // row; same intra-doc collision contract as c55) — then ONE
      // repartition by g serves every gram-keyed stage: the filters
      // preserve the partitioning, and the df census + postings join +
      // contamination join all ride it, where the r13 shape paid a
      // corpus-wide (doc,lang,g) dedup exchange + post-shuffle dedup
      // hash tables + a re-exchange by g. 10× clean pair (ab14*
      // artifacts): 3.21 s (r13) → 1.45 = 1.4× the DuckDB min, from
      // 3.1×.
      val ng = d.select(col("doc_id"), col("lang"),
          explode(array_distinct(transform(
            org.apache.spark.sql.GraftBridge.column(graft.functions.TokenNgrams(
              org.apache.spark.sql.GraftBridge.expression(col("text")),
              n = 8, maxStarts = Int.MaxValue, skipEmpty = true)),
            x => xxhash64(x)))).as("g"))
        .repartition(col("g"))
      val evalN = ng.filter(col("doc_id") % 97 === 0)
      val trainN0 = ng.filter(col("doc_id") % 97 =!= 0)
      val trainN = trainN0.join(
        trainN0.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= ExtOps.C27_DF_CAP).select(col("g")),
        "g")
      val pairs = trainN.select(col("g"), col("doc_id").as("train_doc"))
        .join(evalN.select(col("g"), col("doc_id").as("eval_doc"), col("lang")), "g")
        .select(col("lang"), col("train_doc"), col("eval_doc"))
        .distinct()
      val evalDocs = d.filter(col("doc_id") % 97 === 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_eval"))
      val cont = pairs.groupBy(col("lang"))
        .agg(countDistinct(col("eval_doc")).as("n_contaminated"),
          count(lit(1)).as("n_pairs"))
      evalDocs.join(cont, Seq("lang"), "left")
        .select(col("lang"), col("n_eval"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
        .orderBy(col("lang"))
    }),
    // c30 — per-source quota sampling (the domain-cap pass every crawl
    // corpus needs: no source may dominate training data): keep at most
    // Q docs per source, selected by content-hash order — a determinis-
    // tic pseudo-random draw, replayable on retry like c16. Runs on the
    // native TopKPerKey heap operator (k rows per source per partition
    // cross the exchange, no sort); the oracle replays the row_number
    // window semantics.
    "c30_source_quota" -> ((s, dir) => {
      val quota = 100
      val ranked = load(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
      graft.plans.TopK.perKey(ranked, Seq("source"),
          Seq("h" -> true, "doc_id" -> true), quota)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    }),
    // c31 — SemDeDup (semantic dedup via embedding clusters): k-means
    // cells from the c12 training loop, pairwise cosine only WITHIN a
    // cell, drop the higher-id vector of any pair above τ. The published
    // recipe for pruning web-scale corpora by meaning rather than
    // surface form; nCells scales with the corpus so Σ|cell|² stays
    // bounded. Oracle replays clustering + drop decision exactly.
    "c31_semdedup" -> ((s, dir) =>
      Similarity.semDedup(load(s, dir, "embeddings"), 8, 2, 0.42)),
    // c34 — cross-modal cluster profile: join the semantic k-means cells
    // (c31's assignment, trained on the embedding table) to the document
    // table's metadata — the cluster-inspection pass behind cluster-
    // based curation (what IS cell 3, language-wise and volume-wise?).
    // The join is vec_id = doc_id (embeddings are docs' vectors); both
    // sides shuffle on the id, cells are corpus-scale partitionable.
    "c34_cluster_profile" -> ((s, dir) => {
      val cells = Similarity.cellAssignments(load(s, dir, "embeddings"), 8, 2)
      val d = load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
      cells.join(d, cells("vec_id") === d("doc_id"))
        .groupBy(col("cell"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("cell"), col("lang"))
    }),
    // c32 — repeated-span profile (the intra-corpus Lee-et-al exact-
    // substring signal): 8-gram spans appearing in ≥ 2 distinct docs,
    // heaviest first. Shuffles md5(ngram) hashes only (the c27/b1
    // discipline); span generation is the native TokenNgrams kernel —
    // one compiled pass per doc, no token explode before the hash agg.
    "c32_repeated_spans" -> ((s, dir) => {
      val d = load(s, dir, "documents")
      d.select(col("doc_id"),
          explode(org.apache.spark.sql.GraftBridge.column(
            graft.functions.TokenNgrams(
              org.apache.spark.sql.GraftBridge.expression(col("text")),
              n = 8, maxStarts = Int.MaxValue, skipEmpty = true))).as("g0"))
        .select(col("doc_id"), md5(col("g0").cast("binary")).as("g"))
        .distinct()
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("g"))
        .limit(100)
    }),
    // c33 — per-source TOKEN-budget sampling (the data-mixing pass: each
    // source contributes at most B tokens, docs admitted in content-hash
    // order — a deterministic draw, replayable on retry). The running
    // token sum is the c20 two-level prefix sum, NOT a per-source
    // window: the first hex digit of the hash buckets each source's
    // rows into 16 ranges CONTIGUOUS in the admission order, local sums
    // run per (source, bucket), and a 16-row-per-source window supplies
    // bucket offsets — no source's corpus ever funnels through one task.
    "c33_token_budget" -> ((s, dir) => {
      val budget = 800L
      val r = load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(array_remove(split(col("text"), " "), "")).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .withColumn("bkt", substring(col("h"), 1, 1))
      val wLocal = Window.partitionBy(col("source"), col("bkt"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Materialized once: it feeds both the admission filter and the
      // bucket totals below — without the checkpoint the split+md5
      // corpus projection would execute twice (one per plan reference).
      val local = r.withColumn("lc", sum(col("n_tokens")).over(wLocal))
        .localCheckpoint(true)
      val wOff = Window.partitionBy(col("source")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // A bucket's token total is its running sum's final value.
      val offsets = local.groupBy(col("source"), col("bkt"))
        .agg(max(col("lc")).as("bt"))
        .withColumn("off", coalesce(sum(col("bt")).over(wOff), lit(0L)))
        .select(col("source"), col("bkt"), col("off"))
      local.join(offsets, Seq("source", "bkt"))
        .withColumn("cum", col("lc") + col("off"))
        .filter(col("cum") - col("n_tokens") < budget)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"))
    }),
    // c35 — token-window chunking (the RAG / context-prep pass): slice
    // each doc's token stream into windows of CHUNK_W tokens advancing by
    // CHUNK_S (overlap = W − S), then profile the chunk stream per lang.
    // Pure map + explode — no shuffle until the final per-lang aggregate,
    // so at 100 TB it scales with the scan. `n_uniq_chunks` counts
    // distinct md5(chunk text): overlap + cross-doc repetition collapse
    // to one hash, the dedup signal a chunk store needs before indexing.
    "c35_chunk_windows" -> ((s, dir) => {
      val (w, st) = (ExtOps.CHUNK_W, ExtOps.CHUNK_S)
      val d = load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") > 0)
        // ceil((n-W)/S) + 1 in exact integer arithmetic (n > W branch).
        .withColumn("n_chunks",
          when(col("n") <= w, lit(1L))
            .otherwise(expr(s"(n - $w + $st - 1) div $st + 1L")))
      d.select(col("lang"), col("doc_id"), col("toks"), col("n"),
          explode(expr("sequence(0L, n_chunks - 1)")).as("i"))
        .withColumn("clen", least(lit(w.toLong), col("n") - col("i") * st))
        .withColumn("chunk",
          expr(s"slice(toks, CAST(i * $st + 1 AS INT), CAST(clen AS INT))"))
        .withColumn("h", md5(concat_ws(" ", col("chunk")).cast("binary")))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("clen")).as("chunk_tokens"),
          countDistinct(col("h")).as("n_uniq_chunks"))
        .orderBy(col("lang"))
    }),
    // c37 — quality-weighted sampling: every curation pipeline's "keep
    // good docs more often" pass, made exactly replayable. The weight is
    // a deterministic integer ramp in token count (a stand-in for any
    // quality score), the gate is the c16 content-hash uniform — so the
    // keep decision is a pure function of the row (Sampling.weightedSample
    // is the filter form; SamplingSpec proves this conditional aggregate
    // keeps exactly its rows). ONE corpus scan: expected counts (over all
    // docs, Σ w/256) and actual kept counts ride the same aggregate as
    // conditional sums, so the audit costs no second pass.
    "c37_weighted_sample" -> ((s, dir) => {
      val d = load(s, dir, "documents")
        .withColumn("n_tokens",
          size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long"))
        .withColumn("w256", least(lit(240L), lit(16L) + col("n_tokens") * 2))
      val keep = Sampling.hashGate(col("doc_id")) < col("w256")
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w256")).as("expected_kept_x256"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when(keep, col("n_tokens"))), lit(0L)).as("kept_tokens"))
        .orderBy(col("source"))
    }),
    // c44 — incremental NEAR-dup: the batch-vs-corpus twin of c21's
    // exact incremental dedup, on the SimHash band machinery. Per lang:
    // how many incoming docs near-collide with the existing corpus
    // (Hamming ≤ 3) and how many corpus matches they hit — the admission
    // report of a periodic ingest. At 100 TB the corpus bands table is
    // precomputed and persisted; only the batch fingerprints fresh.
    "c44_incremental_neardup" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      val pairs = Dedup.incrementalNearDup(corpus, batch, 3)
      val flagged = pairs.groupBy(col("da")).agg(count(lit(1)).as("n_matches"))
      batch.select(col("doc_id").as("da"), col("lang"))
        .join(flagged, Seq("da"), "left_outer")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_batch"),
          sum(when(col("n_matches").isNotNull, 1L).otherwise(0L)).as("n_flagged"),
          coalesce(sum(col("n_matches")), lit(0L)).as("n_pairs"))
        .orderBy(col("lang"))
    }),
    // c50 — collocation mining: the top bigrams by LIFT, where lift is
    // the PMI family's ratio P(ab)/(P(a)P(b)) kept as an INTEGER
    // (n_ab·N·1000 div (n_a·n_b)) — no log, no float, so the ranking is
    // bit-exact cross-engine where real PMI never is. Bigrams ride the
    // TokenNgrams kernel (one compiled pass, skipEmpty); an n_ab ≥ 5
    // support floor kills hapax noise, mirrored in the oracle. All
    // shuffles carry (lang, token/bigram) counts — corpus-size-bounded
    // by vocabulary, the c23 shape.
    "c50_collocations" -> ((s, dir) => {
      val d = load(s, dir, "documents")
      val toks = d.select(col("lang"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
      val uni = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n_u"))
      val tot = uni.groupBy(col("lang")).agg(sum(col("n_u")).as("n_tot"))
      val bg = d.select(col("lang"),
          explode(org.apache.spark.sql.GraftBridge.column(
            graft.functions.TokenNgrams(
              org.apache.spark.sql.GraftBridge.expression(col("text")),
              n = 2, maxStarts = Int.MaxValue, skipEmpty = true))).as("bigram"))
        .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      bg.withColumn("ta", expr("split(bigram, ' ')[0]"))
        .withColumn("tb", expr("split(bigram, ' ')[1]"))
        .join(uni.select(col("lang"), col("tok").as("ta"), col("n_u").as("n_a")),
          Seq("lang", "ta"))
        .join(uni.select(col("lang"), col("tok").as("tb"), col("n_u").as("n_b")),
          Seq("lang", "tb"))
        .join(tot, "lang")
        .select(col("lang"), col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
          // the numerator is widened to DECIMAL(38,0) (oracle: HUGEINT):
          // at a 100 TB corpus n_ab·n_tot·1000 ≈ 1e12·1e12·1e3 = 1e27
          // overflows BIGINT — Spark would wrap silently in non-ANSI
          // mode while DuckDB errors. Exact 128-bit products keep the
          // division identical at every scale.
          expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * n_tot * 1000 " +
            "div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_x1000"))
        .orderBy(col("lift_x1000").desc, col("lang"), col("bigram"))
        .limit(20)
    }),
    // c49 — the curation funnel, end to end in ONE DAG: raw → quality
    // keep (c17's integer-exact decision) → exact dedup (min doc_id per
    // content hash, b1's discipline) → near-dup collapse (min doc_id
    // per 64-bit SimHash fingerprint — the native kernel, replayed
    // bit-for-bit by the oracle's 64-sum formulation) → stratified
    // sample (c16's md5 gates). Emits per-stage doc and token counts —
    // the funnel report every corpus build publishes. Each stage's keep
    // set shuffles only (hash, doc_id) pairs; stage stats are scalar
    // aggregates unioned at the end (5 rows).
    "c49_curation_funnel" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      val base = load(s, dir, "documents").withColumn("n_tokens",
        expr("CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)"))
      // Each stage is materialized ONCE (localCheckpoint): the funnel's
      // 5-way union and the per-stage self-joins (withH/withFp feed both
      // the min-id side and the probe side) would otherwise re-derive
      // every upstream stage per reference — base alone evaluated 5×,
      // the md5/SimHash passes 2-3× each.
      val quality = TextAnalysis.qualityDecisions(base)
        .filter(col("reason") === "keep").drop("reason")
        .localCheckpoint(true)
      val withH = quality.withColumn("h", md5(col("text").cast("binary")))
      val exact = withH.join(
        withH.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id")),
        Seq("h", "doc_id")).drop("h")
        .localCheckpoint(true)
      val withFp = exact.withColumn("fp",
        org.apache.spark.sql.GraftBridge.column(graft.functions.SimHash64(
          org.apache.spark.sql.GraftBridge.expression(col("text")))))
      val nearDup = withFp.join(
        withFp.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
        Seq("fp", "doc_id")).drop("fp")
        .localCheckpoint(true)
      val sampled = Sampling.stratifiedSample(nearDup,
        col("doc_id"), col("lang"), Map("en" -> 32, "de" -> 64), 128)
      def stage(df: DataFrame, id: Int, name: String) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
          .select(lit(id.toLong).as("stage_id"), lit(name).as("stage"),
            col("n_docs"), col("sum_tokens"))
      stage(base, 0, "raw")
        .unionByName(stage(quality, 1, "quality_keep"))
        .unionByName(stage(exact, 2, "exact_dedup"))
        .unionByName(stage(nearDup, 3, "neardup_keep"))
        .unionByName(stage(sampled, 4, "sampled"))
        .orderBy(col("stage_id"))
    }),
    // c48 — snapshot drift report over the c46 snapshots: per lang, the
    // L1 distance between v1's and v2's token-count histograms (the
    // monitoring twin of c46's id-level diff — "did the refresh move
    // the length distribution?"). Histograms are value-domain-bounded
    // (the d8/c47 discipline); the full-outer histogram join moves
    // |langs|·|distinct n_tokens| rows at any corpus size. Integer
    // arithmetic end to end.
    "c48_snapshot_drift" -> ((s, dir) => {
      // Histogram + L1 readout live in streaming.DriftStream — ONE
      // spelling shared with the ingest-time monitor (DriftStreamSpec
      // proves streamed state reproduces this exact result).
      val docs = load(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 10 =!= 3)
      val v2 = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      graft.streaming.DriftStream.drift(
        graft.streaming.DriftStream.histogram(v1),
        graft.streaming.DriftStream.histogram(v2))
    }),
    // c47 — KMV quantile sketch: per lang, the token-count median
    // estimated from a 32-row k-minimum-values sample (operators.
    // KmvSketch — deterministic md5-rank sample riding the TopKPerKey
    // bounded heaps) next to the exact median. The exact side is
    // computed from the (lang, n_tokens) HISTOGRAM + a cumulative sum
    // over it — the value-domain-bounded spelling, never a per-lang
    // full-row sort (the c20 lesson). Both medians use the same type-1
    // lower-median rule (smallest value with cum ≥ ceil(n/2)), integer
    // end to end, replayed exactly by the oracle.
    "c47_kmv_quantile" -> ((s, dir) => {
      val k = 32
      val docs = load(s, dir, "documents").select(col("lang"), col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)")
          .as("n_tokens"))
      val samp = graft.operators.KmvSketch.sample(docs, "lang", col("doc_id"), k)
      // sample median: rank the ≤ k sample rows (tiny per group)
      val sw = Window.partitionBy(col("lang")).orderBy(col("n_tokens"), col("doc_id"))
      val sc = Window.partitionBy(col("lang"))
      val sampMed = samp
        .withColumn("rn", row_number().over(sw))
        .withColumn("cnt", count(lit(1)).over(sc))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("lang"), col("n_tokens").as("kmv_med"), col("cnt").as("n_sample"))
      // exact median: histogram + cumulative count (bounded by the
      // value domain, not the corpus)
      val hist = docs.groupBy(col("lang"), col("n_tokens")).agg(count(lit(1)).as("c"))
      val hw = Window.partitionBy(col("lang")).orderBy(col("n_tokens"))
      val exactMed = hist
        .withColumn("cum", sum(col("c")).over(hw))
        .withColumn("tot", sum(col("c")).over(sc))
        .filter(col("cum") >= expr("(tot + 1) div 2"))
        .groupBy(col("lang"))
        .agg(min(col("n_tokens")).as("exact_med"), max(col("tot")).as("n_docs"))
      exactMed.join(sampMed, "lang")
        .select(col("lang"), col("n_docs"), col("n_sample"),
          col("exact_med"), col("kmv_med"))
        .orderBy(col("lang"))
    }),
    // c46 — dataset snapshot diff: two deterministic snapshots carved
    // from the documents table (v1 drops doc_id%10=3; v2 drops %10=7
    // and revises every %7=0 text), classified added/removed/changed/
    // unchanged by content hash (operators.Versioning — full-outer join
    // on (id, md5), ~24 bytes/row shuffled at any document size). The
    // per-(lang, status) rollup is the refresh audit a corpus rebuild
    // reads before deciding what re-enters the pipeline.
    "c46_snapshot_diff" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 10 =!= 3)
      val v2 = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      graft.operators.Versioning.diff(v1, v2, col("doc_id"), col("text"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("lang"), col("status"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("id")).as("min_doc"), max(col("id")).as("max_doc"))
        .orderBy(col("lang"), col("status"))
    }),
    // c43 — deterministic train/val/test split: the canonical 80/10/10
    // partition by content-hash gate (train: gate < 205, val: < 230,
    // test: rest — thresholds out of 256). A row's split is a pure
    // function of its id: stable across runs, retries, engines, and
    // incremental ingests (new docs fall into splits without moving old
    // ones — the property random splits lack). Per (split, lang) audit
    // incl. hash-sum so the assignment itself is oracle-checked.
    "c43_dataset_split" -> ((s, dir) => {
      val gate = Sampling.hashGate(col("doc_id"))
      load(s, dir, "documents")
        .withColumn("split",
          when(gate < 205, "train").when(gate < 230, "val").otherwise("test"))
        .withColumn("n_tokens",
          size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"), col("lang"))
    }),
    // c42 — heavy hitters via a native Count-Min sketch aggregate
    // (functions.CountMinSketchAgg, TypedImperativeAggregate): 4×1024
    // longs of mergeable state per partial — at 100 TB only sketches
    // cross the wire, never tokens. The md5-derived buckets make the
    // sketch REPLAYABLE: the oracle rebuilds every counter in SQL and
    // the estimates hash-match (no other engine's CMS can say that).
    // Output: the exact top-20 tokens with their CMS estimate and the
    // (provably ≥ 0) overcount; the exact table exists here to grade
    // the sketch — a production point-query path reads only `cms`.
    "c42_heavy_hitters" -> ((s, dir) => {
      val (dep, w) = (4, 1024)
      val toks = load(s, dir, "documents")
        .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
      val cms = toks.agg(org.apache.spark.sql.GraftBridge.column(
        graft.functions.CountMinSketchAgg(
          org.apache.spark.sql.GraftBridge.expression(col("tok")), dep, w)
          .toAggregateExpression()).as("cms"))
      val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
      def bucket(d: Int) =
        graft.functions.CountMinSketchAgg.bucketColumn(d, col("tok"), w)
      val est = (0 until dep).map(d =>
        element_at(col("cms"), (lit(d * w) + bucket(d) + 1).cast("int")))
        .reduce(least(_, _))
      probes.crossJoin(broadcast(cms))
        .select(col("tok"), col("exact_n"), est.as("est_n"))
        .withColumn("overcount", col("est_n") - col("exact_n"))
        .orderBy(col("exact_n").desc, col("tok"))
    }),
    // c41 — BPE-style pre-tokenization: the regex split every modern
    // tokenizer runs before merges (GPT-2's pattern reduced to its
    // ASCII core — letter runs | digit runs | single non-alphanumeric),
    // with per-class counts per lang. The corpus text is pure
    // space-joined words, so digits/punct are appended deterministically
    // from row fields (id + char count) to exercise all three classes;
    // the regex uses only ASCII classes, where Java and RE2 semantics
    // coincide — the cross-engine boundary any regex op must respect.
    "c41_pretokenize" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(col("lang"),
          explode(expr(
            """regexp_extract_all(concat(text, ' id=', doc_id, '.', n_chars),
              | '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)""".stripMargin)).as("tok"))
      toks.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tok").rlike("^[A-Za-z]+$"), 1L).otherwise(0L)).as("n_alpha"),
          sum(when(col("tok").rlike("^[0-9]+$"), 1L).otherwise(0L)).as("n_num"),
          sum(when(col("tok").rlike("^[A-Za-z0-9]"), 0L).otherwise(1L)).as("n_other"),
          sum(length(col("tok")).cast("long")).as("n_tok_chars"))
        .orderBy(col("lang"))
    }),
    // c40 — IQR outlier filter (the "drop absurdly short/long docs"
    // curation pass, with statistically derived per-lang thresholds
    // instead of magic constants): exact interpolated quartiles of the
    // token count per lang (the d8 percentile ↔ quantile_cont contract),
    // Tukey fences at 1.5·IQR, then one conditional aggregate for the
    // keep/drop audit. The quartile table is per-lang tiny, so the
    // second pass joins it broadcast — two scans total, no sort of the
    // corpus itself beyond the per-group percentile machinery.
    "c40_outlier_filter" -> ((s, dir) => {
      val d = load(s, dir, "documents")
        .select(col("lang"),
          size(expr("filter(split(text, ' '), x -> x <> '')"))
            .cast("double").as("nt"))
      val q = d.groupBy(col("lang"))
        .agg(expr("percentile(nt, 0.25)").as("q1"),
          expr("percentile(nt, 0.75)").as("q3"))
        .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
        .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
        .select(col("lang"), col("lo"), col("hi"))
      val out = col("nt") < col("lo") || col("nt") > col("hi")
      d.join(broadcast(q), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(out, 1L).otherwise(0L)).as("n_outliers"),
          coalesce(sum(when(!out, col("nt").cast("long"))), lit(0L)).as("kept_tokens"),
          min(col("lo")).as("lo"), min(col("hi")).as("hi"))
        .orderBy(col("lang"))
    }),
    // c39 — per-label embedding centroids, exactly: posexplode the
    // scaled-long elements (the c4/c12 DECIMAL(12,4)·10⁴ domain) and
    // aggregate per (label, dim). The mean-pooled class centroid every
    // embedding pipeline computes — here as integer sums with the
    // k-means half-away rounding, so both engines agree to the bit. At
    // scale this is the ideal aggregate shape: map-side partial sums
    // over (label, i) — ≤ labels×64 groups — then a tiny shuffle;
    // keeping the output EXPLODED (one row per dim) avoids any
    // order-sensitive array reassembly in either engine.
    "c39_label_centroids" -> ((s, dir) =>
      load(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(expr(
            "transform(embedding, x -> CAST(CAST(x AS DECIMAL(12,4)) * 10000 AS BIGINT))")))
        .select(col("label"), (col("pos") + 1).cast("long").as("i"), col("col").as("sv"))
        .groupBy(col("label"), col("i"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("sv")).as("sum_sv"))
        .withColumn("cv",
          expr("CAST(CAST(CAST(sum_sv AS DOUBLE) / n_vecs AS DECIMAL(16,0)) AS BIGINT)"))
        .orderBy(col("label"), col("i"))),
    // c36 — bloom-prefiltered fact join (explicit runtime filter):
    // urgent-order revenue by month. The build side (orders filtered to
    // 1-URGENT, ~20% of keys) yields a Bloom filter the lineitem scan
    // probes BEFORE the join shuffle — at 100 TB that's ~80% of fact
    // rows dead at the scan instead of in the exchange. The inner join
    // then removes bloom false positives, so the result is exactly the
    // plain join: the oracle HAS no bloom, proving the filter invisible.
    "c36_bloom_join" -> ((s, dir) => {
      val urgent = load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val bloom = RuntimeFilter.bloomFor(urgent, "o_orderkey")
      val pd = expr(
        """CAST(ROUND(l_extendedprice * 100) AS BIGINT)
          | * CAST(ROUND((1 - l_discount) * 10000) AS BIGINT)""".stripMargin)
      val li = load(s, dir, "lineitem").select(col("l_orderkey"), pd.as("pd"))
      RuntimeFilter.prefilter(li, col("l_orderkey"), bloom)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
        // revenue stays the SCALED INTEGER (cents × discount-x10000 =
        // micros of currency): a double division here would be
        // bit-identical to the oracle's exact-decimal sum only while
        // the per-group sum stays under 2^53 — a latent sf100-scale
        // precision break. Presentation divides by 1e6.
        .agg(count(lit(1)).as("n_items"),
          sum(col("pd")).as("revenue_micros"))
        .orderBy(col("ym"))
    }),
    // c38 — z-order locality profile: interleave (user_id, event-time)
    // into the Morton key ZOrderLayout clusters files by, then profile
    // the 64 coarse z-cells (top 6 bits): row count + per-dim bounding
    // box. The bounded boxes in BOTH dims are the pruning property the
    // layout exists for (ZOrderLayoutSpec measures it on real files);
    // this query is the cross-engine proof that the interleave itself is
    // integer-exact — the oracle's z comes from ZOrder.zvalueSql, the
    // SAME generator that built the Spark expression.
    "c38_zorder_profile" -> ((s, dir) => {
      val x = pmod(col("user_id"), lit(65536L))
      val y = pmod(expr("unix_micros(ts) div 1000000"), lit(65536L))
      load(s, dir, "events")
        .select(x.as("x"), y.as("y"),
          graft.functions.ZOrder.zvalue16(x, y).as("z"))
        .groupBy(shiftright(col("z"), 26).as("z_cell"))
        .agg(count(lit(1)).as("n_events"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy(col("z_cell"))
    }),
    // c20 — context-window packing plan: assign docs to training packs
    // by running token count per lang (cumsum div capacity — the a3
    // bin-pack shape applied to sequence packing), then per-pack stats.
    // Deterministic packing = reproducible training batches.
    //
    // The running sum is a TWO-LEVEL DISTRIBUTED PREFIX SUM in window
    // expressions (a3's shape), not a per-lang window: lang has a handful
    // of values, so `Window.partitionBy(lang)` funnels the whole corpus
    // through ~4 tasks — billions of rows per task at 100 TB. Instead
    // (1) bucket by doc_id range (buckets are contiguous in doc_id
    // order), local running sums per (lang, bucket); (2) a tiny per-lang
    // window over bucket token totals (≤ max_doc_id/BKT rows) provides
    // each bucket's offset. `cum = local_cum + offset` is bit-identical
    // to the serial formulation — the unchanged oracle proves it — with
    // per-bucket parallelism.
    "c20_pack_plan" -> ((s, dir) => {
      val cap = 8192L
      val bktW = 1024L // docs per bucket; at real scale pick ~N/(10·cores)
      val docs = load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long").as("n_tokens"))
        .withColumn("bkt", expr(s"doc_id div $bktW"))
      val wLocal = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOffset = Window.partitionBy(col("lang")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = docs.groupBy(col("lang"), col("bkt"))
        .agg(sum(col("n_tokens")).as("bkt_tokens"))
        .withColumn("off", coalesce(sum(col("bkt_tokens")).over(wOffset), lit(0L)))
        .select(col("lang"), col("bkt"), col("off"))
      docs
        .withColumn("lcum", sum(col("n_tokens")).over(wLocal))
        .join(offsets, Seq("lang", "bkt"))
        .withColumn("cum", col("lcum") + col("off"))
        .withColumn("pack_id", expr(s"(cum - n_tokens) div $cap"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("pack_id"))
    }),
    // c51 — time-series similarity search: the 20 most-similar user
    // pairs by exact L1 distance between 24-hour activity profiles,
    // searched among banded-signature candidates (operators.TimeSeries
    // — the SimHash banding discipline applied to per-user series; 8 ×
    // 12-bit bands of the 96-bit quarter-hourly above-average signature
    // = 32,768 blocking keys, full recall up to signature Hamming 7 by
    // pigeonhole). Every shuffle carries (band, value) keys or (pair,
    // hour) contributions — the O(n²) pair space never materializes
    // (PlanSpec: no cartesian), and band buckets hold ~N/4096 users so
    // candidate generation keeps the 1/|keyspace| constant at scale.
    // Integer cents end to end; the oracle replays
    // profile→signature→bands→L1 exactly.
    "c51_ts_similar_users" -> ((s, dir) =>
      graft.operators.TimeSeries.topKSimilarPairs(load(s, dir, "events"), 20)),
    // c52 — static mixture reweighting (the data-mixing step a
    // DoReMi-style pipeline runs before sampling): per source, compare
    // actual token mass to a UNIFORM target share and emit the sampling
    // weight that equalizes the mixture — weight_x1000 = min(1000,
    // target·1000 div actual): never upsample past 1.0, keep-all for
    // under-represented sources — plus the effective token count the
    // weight yields. Distinct from c33 (apply a fixed budget) and c30
    // (fixed row quota): this COMPUTES the mixture from the corpus
    // itself. One scan + one per-source aggregate; the corpus total
    // rides a broadcast of the tiny per-source table. Integer-exact
    // end to end (integer division mirrored in the oracle); products
    // stay < 2^63 up to ~10^15-token corpora (target·1000 ≈ 10^15·1000),
    // far past 100 TB of text.
    "c52_mixture_weights" -> ((s, dir) => {
      val perSrc = load(s, dir, "documents")
        .select(col("source"),
          size(array_remove(split(col("text"), " "), "")).cast("long").as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("actual_tokens"))
      val tot = perSrc.agg(sum(col("actual_tokens")).as("tot_tokens"),
        count(lit(1)).as("n_sources"))
      perSrc.crossJoin(broadcast(tot))
        .withColumn("target_tokens", expr("tot_tokens div n_sources"))
        .withColumn("weight_x1000", expr(
          "least(CAST(1000 AS BIGINT), target_tokens * 1000 div greatest(actual_tokens, 1))"))
        .withColumn("effective_tokens",
          expr("actual_tokens * weight_x1000 div 1000"))
        .select(col("source"), col("n_docs"), col("actual_tokens"),
          col("target_tokens"), col("weight_x1000"), col("effective_tokens"))
        .orderBy(col("source"))
    }),
    // c53 — document rarity scoring: mean corpus document-frequency of
    // a doc's tokens — the log-free surprisal proxy quality pipelines
    // use to flag gibberish (rare-token-heavy docs score LOW mean df;
    // c17/c8 catch length/shape outliers, this catches vocabulary
    // outliers). Per lang: doc count, docs rarer than the lang average
    // — the comparison is the integer cross-multiply sum_df·lang_toks <
    // n_toks·lang_df in DECIMAL(38,0) (no division, no float, exact at
    // any corpus size) — and the lang df rate as a ×1000 integer
    // division. Shapes: token→df is a vocab-keyed aggregate; df joins
    // back by token (keyed shuffle join — the posting table is
    // vocab-sized, NEVER broadcast at scale); per-doc and per-lang
    // aggregates are map-side partial. No df cap needed: unlike the
    // pair queries (b2/c3/c27) nothing here is quadratic in df — each
    // token row joins exactly one df row.
    "c53_rarity_score" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val dfTab = toks.select(col("doc_id"), col("tok")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val perDoc = toks.join(dfTab, "tok")
        .groupBy(col("lang"), col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("df")).as("sum_df"))
      val perLang = perDoc.groupBy(col("lang"))
        .agg(sum(col("n_toks")).as("lang_toks"), sum(col("sum_df")).as("lang_df"))
      perDoc.join(broadcast(perLang), "lang")
        .withColumn("is_rare", when(
          expr("CAST(sum_df AS DECIMAL(38,0)) * lang_toks" +
            " < CAST(n_toks AS DECIMAL(38,0)) * lang_df"), 1L).otherwise(0L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("is_rare")).as("n_rare_docs"),
          max(col("lang_toks")).as("lang_tokens"),
          expr("CAST(CAST(max(lang_df) AS DECIMAL(38,0)) * 1000" +
            " div max(lang_toks) AS BIGINT)").as("avg_df_x1000"))
        .orderBy(col("lang"))
    }),
    // c54 — fluency scoring: mean corpus bigram CONDITIONAL probability
    // over each doc's transitions — the log-free analog of the KenLM
    // perplexity filter (low mean P(w2|w1) = the doc's transitions are
    // unusual for the corpus = scrambled/gibberish text). c23 counts a
    // lang's UNSEEN-bigram mass, c50 ranks corpus-level collocations;
    // this SCORES each doc. P(w2|w1) is the exact rational
    // c(w1w2)·10⁶ div c(w1·), with c(w1·) = bigrams starting w1 (the
    // conditionals per w1 sum to ≤ 1); a doc's score is the integer
    // mean over its bigram instances. Bigrams ride the TokenNgrams
    // kernel; count tables are vocab-keyed aggregates joined back on
    // the bigram key (keyed shuffles only); per-doc/per-lang aggregates
    // are map-side partial. c_bg·10⁶ stays < 2^63 up to 10¹²-bigram
    // corpora — the 100 TB envelope, noted like c50's bound.
    "c54_fluency_score" -> ((s, dir) => {
      val bg = load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(org.apache.spark.sql.GraftBridge.column(
            graft.functions.TokenNgrams(
              org.apache.spark.sql.GraftBridge.expression(col("text")),
              n = 2, maxStarts = Int.MaxValue, skipEmpty = true))).as("bg"))
      val cBg = bg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      val cW1 = bg.select(expr("split(bg, ' ')[0]").as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c_w1"))
      val perDoc = bg.join(cBg, "bg")
        .withColumn("w1", expr("split(bg, ' ')[0]"))
        .join(cW1, "w1")
        .groupBy(col("lang"), col("doc_id"))
        .agg(count(lit(1)).as("n_bg"),
          sum(expr("c_bg * 1000000 div c_w1")).as("sum_p"))
        .withColumn("score", expr("sum_p div n_bg"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("sum_score"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy(col("lang"))
    }),
    // c55 — containment (subsumption) near-dup: directed pairs where
    // ≥ 80% of one doc's 4-token shingles appear in another — the
    // excerpt/quote/superset case symmetric Jaccard (c3) misses. See
    // Dedup.shingleContainment for the df-cap + integer-threshold
    // scale shape.
    "c55_containment" -> ((s, dir) =>
      Dedup.shingleContainment(load(s, dir, "documents"), 800, 50)),
    // c56 — diversity (cluster-balanced) sampling: SemDeDup's curation
    // counterpart — instead of DROPPING semantic near-dups (c31), draw
    // an equal quota from every learned k-means cell so each region of
    // the embedding space is represented (the c30 quota discipline on
    // c12's cells). The draw rides the TopKPerKey bounded heaps in
    // content-hash order (PlanSpec) — no cell ever sorts its full
    // membership. Deterministic end to end: the Lloyd loop is the c12
    // replayed-by-the-oracle training, the draw a pure function of
    // vec_id.
    "c56_diverse_sample" -> ((s, dir) => {
      val cells = Similarity.cellAssignments(load(s, dir, "embeddings"), 8, 2)
        .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      graft.plans.TopK.perKey(cells, Seq("cell"),
          Seq("h" -> true, "vec_id" -> true), 40)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_kept"), min(col("vec_id")).as("min_vec"),
          max(col("vec_id")).as("max_vec"))
        .orderBy(col("cell"))
    }),
    // c57 — duplicated-n-gram fraction: the share of each doc's
    // distinct 8-grams that ALSO appear in another document — the
    // cross-document boilerplate signal of the published quality-filter
    // families (c22 measures WITHIN-doc repetition; c32 lists the hot
    // spans themselves; this scores every doc for filtering). Per lang:
    // mean fraction ×1000 (one exact-integer division) and docs above
    // the 50% boilerplate line via integer cross-multiply. The n-gram
    // df table is xxhash64-keyed (8-byte shuffles; a pure INTERNAL
    // equality key — every output is a count, so the oracle's own md5
    // key yields the same equality classes; collision contract in
    // Dedup.shingleContainment's scaladoc); each doc's n-grams join
    // exactly one df row — nothing quadratic, no cap needed. Never
    // checkpointed (r13 measured the md5+checkpoint shape at 5.56 s vs
    // 3.33 for exchange reuse at 10×/AQE-on, ScanShapeAb hashab; the
    // r14 riding shape below replaces the reused dedup exchange with
    // one explicit g-keyed exchange).
    "c57_dup_ngram_fraction" -> ((s, dir) => {
      // Two-scan shape (r14, A/B'd in ScanShapeAb c57two vs the r13
      // df-join shape and an intermediate riding shape — PERF.md r14):
      // (doc, g) dedup happens IN-ROW (array_distinct over the hashed
      // n-gram array — a doc's duplicate grams only live in its own
      // row, so this IS the per-doc distinct; same intra-doc
      // 64-bit-collision contract as c55, Dedup.shingleContainment
      // scaladoc). The decomposition n_dup = n_ng − n_uniq then removes
      // BOTH posting-sized stages the df-join spelling paid: n_ng comes
      // straight off the scan (one row per doc), and n_uniq rides the
      // single g-keyed exchange's census (df==1 grams ARE the unique
      // ones, and each carries its one posting's doc_id through min()),
      // so after the exchange nothing posting-sized moves again —
      // the old shape re-exchanged all joined postings by (lang, doc).
      // Trade: the TokenNgrams kernel runs twice (two scans); measured
      // cheaper than the 30M-row per-doc exchange it buys away.
      // 10× clean-pair ladder (ab14* artifacts): r13 df-join 3.37 s →
      // riding+post-shuffle-dedup 3.96 (worse — the dedup tables cost
      // more than the saved exchange) → in-row dedup + df join 2.33 →
      // this two-scan shape 1.64 s = 2.0× the DuckDB min, from 4.1×.
      def hashes = array_distinct(transform(
        org.apache.spark.sql.GraftBridge.column(graft.functions.TokenNgrams(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          n = 8, maxStarts = Int.MaxValue, skipEmpty = true)),
        x => xxhash64(x)))
      val d = load(s, dir, "documents")
      // scan 1: one row per doc, n_ng in-row — NO shuffle touches it.
      // n_ng = 0 docs are excluded exactly as the posting formulation
      // excluded them (they contribute no rows there either).
      val docLevel = d.select(col("lang"), col("doc_id"),
          size(hashes).cast("long").as("n_ng"))
        .filter(col("n_ng") > 0)
      // scan 2: the postings, one g-keyed exchange; the df census rides
      // it, and df==1 grams carry their single posting's doc through
      // min() — so n_uniq (grams belonging to ONLY this doc) comes out
      // of the census with no posting-sized re-exchange. n_dup is then
      // n_ng − n_uniq, and the per-doc join moves |docs| rows, not
      // |postings|. (Keyed on doc_id alone — unique per doc — so a
      // NULL lang can never drop a join row; lang rides docLevel.)
      val ng = d.select(col("doc_id"), explode(hashes).as("g"))
        .repartition(col("g"))
      val uniq = ng.groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_uniq"))
      val perDoc = docLevel.join(uniq, Seq("doc_id"), "left")
        .select(col("lang"), col("doc_id"), col("n_ng"),
          (col("n_ng") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ng")).as("sum_ngrams"), sum(col("n_dup")).as("sum_dup"),
          expr("CAST(CAST(sum(n_dup) AS DECIMAL(38,0)) * 1000" +
            " div sum(n_ng) AS BIGINT)").as("dup_fraction_x1000"),
          sum(when(col("n_dup") * 2 >= col("n_ng"), 1L).otherwise(0L))
            .as("n_boilerplate_docs"))
        .orderBy(col("lang"))
    }))

  private val minhashCols =
    (0 until Dedup.NumHashes).map(j => s"min(md5('$j|' || tok)) AS m$j").mkString(", ")

  // 64-bit SimHash replay: decode the 16 hex digits once, 64 signed bit
  // sums, then the fingerprint (bit 64 = sign bit: Long.MinValue added
  // LAST so partial sums never overflow — same term order as the Spark
  // side).
  private val shDigits =
    (1 to 16).map(p => s"(instr('0123456789abcdef', substr(h, $p, 1)) - 1) AS d$p")
      .mkString(", ")

  private val shSums = (1 to 64).map { j =>
    val p = (j - 1) / 4 + 1
    val mask = 8 >> ((j - 1) % 4)
    s"sum(CASE WHEN ((d$p // $mask) % 2) = 1 THEN 1 ELSE -1 END) AS s$j"
  }.mkString(",\n         ")

  private val shBits = (1 to 64).map { j =>
    if (j == 64) "(CASE WHEN s64 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    else s"(CASE WHEN s$j > 0 THEN CAST(${1L << (j - 1)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  private def shBand(k: Int) = (1 to 16).map { q =>
    val j = 16 * k + q
    s"(CASE WHEN s$j > 0 THEN CAST(${1L << (q - 1)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  /** Shared c15/c25 oracle prefix: MinHash LSH edges at Jaccard ≥ 0.98,
    * then connected components by recursive transitive closure, ending in
    * `comp(doc_id, component)`.
    */
  private val compCte =
    s"""WITH RECURSIVE raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |             FROM documents WHERE doc_id % 5 = 0),
       |toks AS (SELECT DISTINCT doc_id, tok FROM raw WHERE tok <> ''),
       |sigs AS (SELECT doc_id, $minhashCols FROM toks GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band_id, concat(m0, m1, m2, m3) AS bv FROM sigs
       |  UNION ALL SELECT doc_id, 1, concat(m4, m5, m6, m7) FROM sigs),
       |cand AS (SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, count(*) AS i FROM cand c
       |  JOIN toks ta ON ta.doc_id = c.da
       |  JOIN toks tb ON tb.doc_id = c.db AND ta.tok = tb.tok
       |  GROUP BY c.da, c.db),
       |edges AS (SELECT c.da, c.db
       |  FROM cand c LEFT JOIN inter i ON c.da = i.da AND c.db = i.db
       |  JOIN sizes sa ON sa.doc_id = c.da
       |  JOIN sizes sb ON sb.doc_id = c.db
       |  WHERE CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)) >= 0.98),
       |sym AS (SELECT da AS x, db AS y FROM edges UNION ALL SELECT db AS x, da AS y FROM edges),
       |nodes AS (SELECT DISTINCT doc_id FROM toks),
       |reach AS (
       |  SELECT doc_id AS a, doc_id AS b FROM nodes
       |  UNION
       |  SELECT r.a, e.y FROM reach r JOIN sym e ON r.b = e.x),
       |comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)""".stripMargin

  /** c12 oracle: replays the IVF k-means training loop (seed → `iters`
    * Lloyd iterations → final assignment → same-cell probe) in the exact
    * scaled-long domain Spark uses: sv = round(x,4)·10⁴ as BIGINT, dots
    * as integer sums / 10⁸, centroid update = half-away-rounded mean via
    * double→DECIMAL(16,0) (both engines round half away from zero; all
    * scaled sums < 2^53 so every double conversion is exact).
    */
  /** Shared k-means CTE prefix (el/nrm/seed/Lloyd rounds/final assign
    * `a<iters+1>` at `finalProbe`) for the c12 IVF and c31 SemDeDup
    * oracles — both replay the identical deterministic training loop.
    * Training rounds assign only the `vec_id % trainMod = 0` subsample
    * (the [[graft.operators.Similarity.TrainSampleMod]] rule — codebooks
    * train on a sample, the final assignment covers the full corpus).
    */
  private[queries] def kmeansCtes(nCells: Int, iters: Int, finalProbe: Int,
      trainMod: Int = graft.operators.Similarity.TrainSampleMod): String = {
    // `probe` keeps centroid ranks 1..probe: 1 for training rounds (the
    // assignment, sample-restricted) and finalProbe for the final round
    // (full corpus).
    def assign(n: Int, c: String, cn: String, probe: Int = 1,
        where: String = "") =
      s"""d$n AS (SELECT e.vec_id, c.cid, CAST(sum(e.sv * c.cv) AS DOUBLE) / 1e8 AS dot
         |  FROM el e JOIN $c c ON e.i = c.i $where GROUP BY 1, 2),
         |a$n AS (SELECT vec_id, cid AS cell, rn FROM (
         |  SELECT d.vec_id, d.cid,
         |         row_number() OVER (PARTITION BY d.vec_id
         |                            ORDER BY d.dot / (n.nv * cn.cn) DESC, d.cid) AS rn
         |  FROM d$n d JOIN nrm n ON n.vec_id = d.vec_id JOIN $cn cn ON cn.cid = d.cid)
         | WHERE rn <= $probe)""".stripMargin
    def update(n: Int) =
      s"""sz$n AS (SELECT cell, count(*) AS cnt FROM a$n GROUP BY cell),
         |c$n AS (SELECT a.cell AS cid, e.i,
         |        CAST(CAST(CAST(sum(e.sv) AS DOUBLE) / max(s.cnt) AS DECIMAL(16,0)) AS BIGINT) AS cv
         |  FROM a$n a JOIN el e ON e.vec_id = a.vec_id JOIN sz$n s ON s.cell = a.cell
         |  GROUP BY 1, 2),
         |cn$n AS (SELECT cid, sqrt(CAST(sum(cv * cv) AS DOUBLE) / 1e8) AS cn FROM c$n GROUP BY cid)""".stripMargin
    val steps = (1 to iters).map(n =>
      assign(n, s"c${n - 1}", s"cn${n - 1}",
        where = s"WHERE e.vec_id % $trainMod = 0") + ",\n" + update(n))
      .mkString(",\n")
    val fin = iters + 1
    s"""el AS (SELECT vec_id, i,
       |    CAST(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(12,4)) * 10000 AS BIGINT) AS sv
       |  FROM embeddings, range(1, 65) t(i)),
       |nrm AS (SELECT vec_id, sqrt(CAST(sum(sv * sv) AS DOUBLE) / 1e8) AS nv FROM el GROUP BY vec_id),
       |c0 AS (SELECT vec_id AS cid, i, sv AS cv FROM el WHERE vec_id < $nCells),
       |cn0 AS (SELECT cid, sqrt(CAST(sum(cv * cv) AS DOUBLE) / 1e8) AS cn FROM c0 GROUP BY cid),
       |$steps,
       |${assign(fin, s"c$iters", s"cn$iters", probe = finalProbe)}""".stripMargin
  }

  private def ivfOracle(nCells: Int, queryMod: Int, k: Int, iters: Int,
      nProbe: Int): String = {
    val fin = iters + 1
    s"""WITH ${kmeansCtes(nCells, iters, nProbe)},
       |pairs AS (
       |  SELECT q.vec_id AS qid, e.vec_id
       |  FROM a$fin q JOIN a$fin e ON q.cell = e.cell AND e.rn = 1
       |                           AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id % $queryMod = 0),
       |dots AS (SELECT p.qid, p.vec_id, CAST(sum(a.sv * b.sv) AS DOUBLE) / 1e8 AS dot
       |  FROM pairs p JOIN el a ON a.vec_id = p.qid
       |               JOIN el b ON b.vec_id = p.vec_id AND a.i = b.i
       |  GROUP BY 1, 2),
       |cos AS (SELECT d.qid, d.vec_id, d.dot / (nq.nv * nv2.nv) AS cos
       |  FROM dots d JOIN nrm nq ON nq.vec_id = d.qid
       |              JOIN nrm nv2 ON nv2.vec_id = d.vec_id)
       |SELECT qid, vec_id, cos, rn FROM (
       |  SELECT qid, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
       |  FROM cos)
       |WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    // The estimate value is engine-private; the replayable contract is
    // the exact count plus the engine's own band assertion, which the
    // oracle pins to TRUE (out-of-band estimate ⇒ hash mismatch).
    // COALESCE mirrors the Spark side's distinct-then-count, which
    // keeps a (source, NULL-hash) row: bare count(DISTINCT md5(text))
    // would skip NULL text and undercount by one for such a source.
    // md5 output is 32 hex chars, never '', so the sentinel can't
    // collide with a real hash.
    "c24_sketch_distinct" ->
      """SELECT source,
        |       CAST(count(DISTINCT COALESCE(md5(text), '')) AS BIGINT) AS n_exact,
        |       true AS within_band
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // c70: exact rank percentiles replayed with identical integer
    // arithmetic; the in-band boolean is the sketch's cross-engine
    // promise, pinned TRUE (the c24 contract — see the Spark side).
    "c70_quantile_sketch" ->
      """WITH vals AS (SELECT l_returnflag AS flag,
        |                     CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        |              FROM lineitem),
        |counts AS (SELECT flag, v, count(*) AS c FROM vals GROUP BY 1, 2),
        |cum AS (SELECT flag, v,
        |               sum(c) OVER (PARTITION BY flag ORDER BY v) AS cum
        |        FROM counts),
        |nn AS (SELECT flag, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY 1)
        |SELECT nn.flag AS flag, nn.n AS n,
        |       min(CASE WHEN c.cum >= (500 * nn.n + 999) // 1000 THEN c.v END) AS exact_p50,
        |       min(CASE WHEN c.cum >= (900 * nn.n + 999) // 1000 THEN c.v END) AS exact_p90,
        |       true AS sketch_within_band
        |FROM cum c JOIN nn ON c.flag = nn.flag
        |GROUP BY nn.flag, nn.n
        |ORDER BY flag""".stripMargin,
    "c73_weighted_quantiles" ->
      """WITH d AS (SELECT lang,
        |      CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS v
        |    FROM documents WHERE lang IS NOT NULL),
        |hist AS (SELECT lang, v, CAST(v * count(*) AS BIGINT) AS w FROM d
        |         GROUP BY lang, v HAVING v * count(*) > 0),
        |cum AS (SELECT lang, v, sum(w) OVER (PARTITION BY lang ORDER BY v) AS cum FROM hist),
        |tw AS (SELECT lang, CAST(sum(w) AS BIGINT) AS tw FROM hist GROUP BY lang)
        |SELECT tw.lang AS lang, tw.tw AS total_tokens,
        |       min(CASE WHEN c.cum >= (500 * tw.tw + 999) // 1000 THEN c.v END) AS wp50_tokens,
        |       min(CASE WHEN c.cum >= (900 * tw.tw + 999) // 1000 THEN c.v END) AS wp90_tokens,
        |       true AS sketch_within_band
        |FROM cum c JOIN tw ON c.lang = tw.lang
        |GROUP BY tw.lang, tw.tw
        |ORDER BY lang""".stripMargin,
    "c1_minhash_lsh" ->
      s"""WITH raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |             FROM documents WHERE doc_id % 5 = 0),
         |toks AS (SELECT DISTINCT doc_id, tok FROM raw WHERE tok <> ''),
         |sigs AS (SELECT doc_id, $minhashCols FROM toks GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, 0 AS band_id, concat(m0, m1, m2, m3) AS bv FROM sigs
         |  UNION ALL SELECT doc_id, 1, concat(m4, m5, m6, m7) FROM sigs),
         |cand AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS shared_bands
         |  FROM banded a JOIN banded b
         |    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         |inter AS (SELECT c.da, c.db, count(*) AS inter FROM cand c
         |  JOIN toks ta ON ta.doc_id = c.da
         |  JOIN toks tb ON tb.doc_id = c.db AND ta.tok = tb.tok
         |  GROUP BY c.da, c.db)
         |SELECT c.da AS da, c.db AS db, c.shared_bands AS shared_bands,
         |  CAST(coalesce(i.inter, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jaccard
         |FROM cand c LEFT JOIN inter i ON c.da = i.da AND c.db = i.db
         |JOIN sizes sa ON sa.doc_id = c.da
         |JOIN sizes sb ON sb.doc_id = c.db
         |ORDER BY 4 DESC, 1, 2 LIMIT 50""".stripMargin,
    "c2_simhash_buckets" ->
      s"""WITH raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM raw WHERE tok <> ''),
         |dg AS (SELECT doc_id, $shDigits FROM h),
         |s AS (SELECT doc_id,
         |         $shSums
         |      FROM dg GROUP BY doc_id),
         |fp AS (SELECT doc_id, $shBits AS simhash FROM s)
         |SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
         |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
         |FROM fp GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash""".stripMargin,
    "c15_dedup_groups" ->
      s"""$compCte
         |SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
         |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
         |FROM comp GROUP BY component HAVING count(*) > 1 ORDER BY component""".stripMargin,
    // c25 oracle: the c15 recursive closure plus the keep decision —
    // row_number over (n_chars DESC, doc_id) inside each component.
    "c25_canonical_docs" ->
      s"""$compCte,
         |m AS (SELECT c.component, c.doc_id, d.n_chars
         |      FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
         |r AS (SELECT component, doc_id, n_chars,
         |        row_number() OVER (PARTITION BY component
         |                           ORDER BY n_chars DESC, doc_id) AS rn
         |      FROM m)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_docs,
         |       max(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
         |       CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_chars,
         |       CAST(coalesce(sum(CASE WHEN rn > 1 THEN n_chars END), 0) AS BIGINT)
         |         AS dropped_chars
         |FROM r GROUP BY component HAVING count(*) > 1 ORDER BY component""".stripMargin,
    "c26_vocab_coverage" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
        |      FROM toks WHERE tok <> '' GROUP BY tok),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |r AS (SELECT tok, n,
        |        CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rn,
        |        CAST(sum(n) OVER (ORDER BY n DESC, tok
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM c)
        |SELECT CAST(p.pct AS BIGINT) AS pct, min(r.rn) AS vocab_size,
        |       min(r.cum) AS covered_tokens, min(t.total) AS total_tokens
        |FROM r CROSS JOIN t CROSS JOIN (SELECT unnest([50, 90, 95, 99]) AS pct) p
        |WHERE r.cum * 100 >= p.pct * t.total
        |GROUP BY p.pct ORDER BY pct""".stripMargin,
    "c27_contamination" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         |t8 AS (SELECT doc_id, lang, toks FROM t WHERE len(toks) >= 8),
         |ng0 AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(1, len(toks) - 6),
         |           i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 7 AS INT)), ' '))) AS g0
         |  FROM t8),
         |ng AS (SELECT DISTINCT doc_id, lang, md5(g0) AS g FROM ng0),
         |evn AS (SELECT doc_id, lang, g FROM ng WHERE doc_id % 97 = 0),
         |trn0 AS (SELECT doc_id, g FROM ng WHERE doc_id % 97 <> 0),
         |gdf AS (SELECT g FROM trn0 GROUP BY g HAVING count(*) <= ${ExtOps.C27_DF_CAP}),
         |trn AS (SELECT t.doc_id, t.g FROM trn0 t JOIN gdf ON t.g = gdf.g),
         |pairs AS (SELECT DISTINCT e.lang, t.doc_id AS train_doc, e.doc_id AS eval_doc
         |  FROM trn t JOIN evn e ON t.g = e.g),
         |ev AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_eval
         |  FROM documents WHERE doc_id % 97 = 0 GROUP BY lang),
         |cont AS (SELECT lang, CAST(count(DISTINCT eval_doc) AS BIGINT) AS n_contaminated,
         |         CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM pairs GROUP BY lang)
         |SELECT ev.lang, ev.n_eval,
         |       coalesce(cont.n_contaminated, 0) AS n_contaminated,
         |       coalesce(cont.n_pairs, 0) AS n_pairs
         |FROM ev LEFT JOIN cont ON ev.lang = cont.lang ORDER BY ev.lang""".stripMargin,
    "c31_semdedup" -> {
      val fin = 3 // lloydIters 2 + 1
      s"""WITH ${kmeansCtes(nCells = 8, iters = 2, finalProbe = 1)},
         |prs AS (SELECT a.cell, a.vec_id AS va, b.vec_id AS vb
         |  FROM a$fin a JOIN a$fin b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dots AS (SELECT p.cell, p.va, p.vb, CAST(sum(x.sv * y.sv) AS DOUBLE) / 1e8 AS dot
         |  FROM prs p JOIN el x ON x.vec_id = p.va
         |             JOIN el y ON y.vec_id = p.vb AND x.i = y.i
         |  GROUP BY 1, 2, 3),
         |cs AS (SELECT d.cell, d.vb, d.dot / (na.nv * nb.nv) AS cos
         |  FROM dots d JOIN nrm na ON na.vec_id = d.va
         |              JOIN nrm nb ON nb.vec_id = d.vb),
         |drops AS (SELECT DISTINCT cell, vb FROM cs WHERE cos > 0.42),
         |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM a$fin GROUP BY cell),
         |dc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dropped FROM drops GROUP BY cell)
         |SELECT CAST(c.cell AS BIGINT) AS cell, c.n_vecs,
         |       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped
         |FROM cnt c LEFT JOIN dc d ON c.cell = d.cell ORDER BY cell""".stripMargin
    },
    "c34_cluster_profile" ->
      s"""WITH ${kmeansCtes(nCells = 8, iters = 2, finalProbe = 1)}
         |SELECT CAST(a.cell AS BIGINT) AS cell, d.lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         |FROM a3 a JOIN documents d ON a.vec_id = d.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "c32_repeated_spans" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |t8 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
        |ng0 AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks) - 6),
        |           i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 7 AS INT)), ' '))) AS g0
        |  FROM t8),
        |ng AS (SELECT DISTINCT doc_id, md5(g0) AS g FROM ng0)
        |SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM ng GROUP BY g HAVING count(*) >= 2
        |ORDER BY n_docs DESC, g LIMIT 100""".stripMargin,
    "c33_token_budget" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
        |k AS (SELECT * FROM c WHERE cum - n_tokens < 800)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "c30_source_quota" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM r WHERE rn <= 100
        |GROUP BY source ORDER BY source""".stripMargin,
    "c16_stratified_sample" ->
      """WITH g AS (SELECT lang, doc_id, n_chars,
        |    (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |  + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS gate
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM g
        |WHERE gate < (CASE WHEN lang = 'en' THEN 32 WHEN lang = 'de' THEN 64 ELSE 128 END)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "c35_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         |d AS (SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS n
         |      FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, lang, toks, n,
         |        unnest(range(0, CASE WHEN n <= $CHUNK_W THEN 1
         |          ELSE (n - $CHUNK_W + $CHUNK_S - 1) // $CHUNK_S + 1 END)) AS i
         |      FROM d),
         |ch AS (SELECT lang, doc_id,
         |        least($CHUNK_W, n - i * $CHUNK_S) AS clen,
         |        md5(array_to_string(list_slice(toks, CAST(i * $CHUNK_S + 1 AS INT),
         |          CAST(i * $CHUNK_S + least($CHUNK_W, n - i * $CHUNK_S) AS INT)), ' ')) AS h
         |      FROM c)
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(clen) AS BIGINT) AS chunk_tokens,
         |       CAST(count(DISTINCT h) AS BIGINT) AS n_uniq_chunks
         |FROM ch GROUP BY lang ORDER BY lang""".stripMargin,
    "c37_weighted_sample" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |  + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS gate
        |  FROM documents),
        |w AS (SELECT source, doc_id, n_tokens, gate,
        |        least(240, 16 + n_tokens * 2) AS w256 FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(w256) AS BIGINT) AS expected_kept_x256,
        |       CAST(coalesce(sum(CASE WHEN gate < w256 THEN 1 END), 0) AS BIGINT) AS n_kept,
        |       CAST(coalesce(sum(CASE WHEN gate < w256 THEN n_tokens END), 0) AS BIGINT)
        |         AS kept_tokens
        |FROM w GROUP BY source ORDER BY source""".stripMargin,
    "c50_collocations" ->
      """WITH toks AS (SELECT lang,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |uni AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n_u
        |        FROM toks GROUP BY lang, tok),
        |tot AS (SELECT lang, CAST(sum(n_u) AS BIGINT) AS n_tot FROM uni GROUP BY lang),
        |t AS (SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |      FROM documents),
        |bg0 AS (SELECT lang,
        |    unnest(list_transform(range(1, len(tk)),
        |      i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)])) AS bigram
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n_ab
        |       FROM bg0 GROUP BY lang, bigram HAVING count(*) >= 5),
        |j AS (SELECT bg.lang, bg.bigram, bg.n_ab, ua.n_u AS n_a, ub.n_u AS n_b,
        |             tot.n_tot
        |      FROM bg
        |      JOIN uni ua ON bg.lang = ua.lang
        |        AND string_split(bg.bigram, ' ')[1] = ua.tok
        |      JOIN uni ub ON bg.lang = ub.lang
        |        AND string_split(bg.bigram, ' ')[2] = ub.tok
        |      JOIN tot ON bg.lang = tot.lang)
        |SELECT lang, bigram, n_ab, n_a, n_b,
        |       CAST((CAST(n_ab AS HUGEINT) * n_tot * 1000)
        |            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS lift_x1000
        |FROM j ORDER BY lift_x1000 DESC, lang, bigram LIMIT 20""".stripMargin,
    "c49_curation_funnel" ->
      s"""WITH base AS (SELECT doc_id, lang, text, n_chars,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |feat AS (SELECT doc_id, lang, text, n_chars, n_tokens,
         |    CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))
         |      AS BIGINT) AS n_distinct,
         |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
         |  FROM base),
         |q AS (SELECT doc_id, lang, text, n_tokens FROM feat
         |      WHERE n_chars >= 50 AND n_chars <= 5000
         |        AND n_alpha * 10 >= n_chars * 6
         |        AND n_distinct * 10 >= n_tokens * 3),
         |ex AS (SELECT q.* FROM q
         |       JOIN (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)) m
         |         ON q.doc_id = m.doc_id),
         |raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM ex),
         |hh AS (SELECT doc_id, md5(tok) AS h FROM raw WHERE tok <> ''),
         |dg AS (SELECT doc_id, $shDigits FROM hh),
         |sm AS (SELECT doc_id,
         |         $shSums
         |       FROM dg GROUP BY doc_id),
         |fp AS (SELECT doc_id, $shBits AS fp FROM sm),
         |ndk AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
         |nd AS (SELECT ex.* FROM ex JOIN ndk ON ex.doc_id = ndk.doc_id),
         |samp AS (SELECT nd.* FROM nd
         |  WHERE (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |      + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
         |      < (CASE WHEN lang = 'en' THEN 32 WHEN lang = 'de' THEN 64 ELSE 128 END))
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens FROM base
         |  UNION ALL SELECT 1, 'quality_keep', CAST(count(*) AS BIGINT),
         |    CAST(sum(n_tokens) AS BIGINT) FROM q
         |  UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
         |    CAST(sum(n_tokens) AS BIGINT) FROM ex
         |  UNION ALL SELECT 3, 'neardup_keep', CAST(count(*) AS BIGINT),
         |    CAST(sum(n_tokens) AS BIGINT) FROM nd
         |  UNION ALL SELECT 4, 'sampled', CAST(count(*) AS BIGINT),
         |    CAST(sum(n_tokens) AS BIGINT) FROM samp)
         |ORDER BY stage_id""".stripMargin,
    "c48_snapshot_drift" ->
      """WITH v1 AS (SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents WHERE doc_id % 10 <> 3),
        |v2 AS (SELECT lang,
        |    CAST(len(list_filter(string_split(
        |      CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END, ' '),
        |      x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE doc_id % 10 <> 7),
        |h1 AS (SELECT lang, n_tokens, CAST(count(*) AS BIGINT) AS c1
        |       FROM v1 GROUP BY lang, n_tokens),
        |h2 AS (SELECT lang, n_tokens, CAST(count(*) AS BIGINT) AS c2
        |       FROM v2 GROUP BY lang, n_tokens),
        |j AS (SELECT coalesce(h1.lang, h2.lang) AS lang,
        |        coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
        |      FROM h1 FULL OUTER JOIN h2
        |        ON h1.lang = h2.lang AND h1.n_tokens = h2.n_tokens)
        |SELECT lang, CAST(sum(abs(c1 - c2)) AS BIGINT) AS l1_drift,
        |       CAST(sum(c1) AS BIGINT) AS n_v1, CAST(sum(c2) AS BIGINT) AS n_v2
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    "c47_kmv_quantile" ->
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (SELECT lang, doc_id, n_tokens FROM (
        |        SELECT lang, doc_id, n_tokens,
        |               row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rh
        |        FROM d) WHERE rh <= 32),
        |sm AS (SELECT lang, n_tokens AS kmv_med, cnt AS n_sample FROM (
        |         SELECT lang, n_tokens, doc_id,
        |                row_number() OVER (PARTITION BY lang
        |                  ORDER BY n_tokens, doc_id) AS rn,
        |                count(*) OVER (PARTITION BY lang) AS cnt
        |         FROM s) WHERE rn = (cnt + 1) // 2),
        |hist AS (SELECT lang, n_tokens, CAST(count(*) AS BIGINT) AS c
        |         FROM d GROUP BY lang, n_tokens),
        |ch AS (SELECT lang, n_tokens,
        |         sum(c) OVER (PARTITION BY lang ORDER BY n_tokens) AS cum,
        |         sum(c) OVER (PARTITION BY lang) AS tot
        |       FROM hist),
        |em AS (SELECT lang, min(n_tokens) AS exact_med, CAST(max(tot) AS BIGINT) AS n_docs
        |       FROM ch WHERE cum >= (tot + 1) // 2 GROUP BY lang)
        |SELECT em.lang, em.n_docs, CAST(sm.n_sample AS BIGINT) AS n_sample,
        |       em.exact_med, sm.kmv_med
        |FROM em JOIN sm ON em.lang = sm.lang ORDER BY em.lang""".stripMargin,
    "c46_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1, true AS in1
        |            FROM documents WHERE doc_id % 10 <> 3),
        |v2 AS (SELECT doc_id,
        |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h2,
        |         true AS in2
        |       FROM documents WHERE doc_id % 10 <> 7),
        |d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS id,
        |        CASE WHEN in1 IS NULL THEN 'added'
        |             WHEN in2 IS NULL THEN 'removed'
        |             WHEN h1 IS DISTINCT FROM h2 THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc.lang, d.status, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(d.id) AS min_doc, max(d.id) AS max_doc
        |FROM d JOIN documents doc ON d.id = doc.doc_id
        |GROUP BY doc.lang, d.status ORDER BY doc.lang, d.status""".stripMargin,
    "c45_hll_distinct" -> {
      // Positional hex decode (the c42 technique): digit k of the md5
      // hex string as an integer 0..15.
      def digit(k: Int) = s"(instr('0123456789abcdef', substr(h, $k, 1)) - 1)"
      // x = md5 hex digits 3..10 as the 32-bit rank source.
      val x = (3 to 10).map(k => s"${digit(k)} * ${1L << (4 * (10 - k))}")
        .mkString("\n         + ")
      s"""WITH h AS (SELECT lang, md5(text) AS h FROM documents
         |           WHERE lang IS NOT NULL AND text IS NOT NULL),
         |d AS (SELECT lang,
         |        (${digit(1)} * 16 + ${digit(2)}) % ${graft.operators.HllDistinct.M} AS bucket,
         |        CAST($x AS BIGINT) AS x
         |      FROM h),
         |rk AS (SELECT lang, bucket,
         |         CASE WHEN x = 0 THEN 33 ELSE 33 - length(bin(x)) END AS rank FROM d),
         |regs0 AS (SELECT lang, bucket, max(rank) AS mj FROM rk GROUP BY lang, bucket),
         |frame AS (SELECT l.lang, b.bucket FROM (SELECT DISTINCT lang FROM h) l,
         |          (SELECT unnest(range(0, ${graft.operators.HllDistinct.M})) AS bucket) b),
         |regs AS (SELECT f.lang, coalesce(r.mj, 0) AS mj
         |         FROM frame f LEFT JOIN regs0 r
         |           ON f.lang = r.lang AND f.bucket = r.bucket),
         |agg AS (SELECT lang, CAST(sum(1::BIGINT << (33 - mj)) AS BIGINT) AS s,
         |               CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
         |        FROM regs GROUP BY lang),
         |ex AS (SELECT lang, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
         |       FROM h GROUP BY lang)
         |SELECT ex.lang, ex.n_exact,
         |       CAST((${graft.operators.HllDistinct.Num}::BIGINT // agg.s) // 1000000
         |         AS BIGINT) AS n_est,
         |       agg.n_empty
         |FROM ex JOIN agg ON ex.lang = agg.lang ORDER BY ex.lang""".stripMargin
    },
    "c44_incremental_neardup" ->
      s"""WITH raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM raw WHERE tok <> ''),
         |dg AS (SELECT doc_id, $shDigits FROM h),
         |s AS (SELECT doc_id,
         |         $shSums
         |      FROM dg GROUP BY doc_id),
         |bands AS (SELECT doc_id, ${shBand(0)} AS b0, ${shBand(1)} AS b1,
         |                 ${shBand(2)} AS b2, ${shBand(3)} AS b3 FROM s),
         |cbd AS (
         |  SELECT doc_id AS db, 0 AS band_id, b0 AS bv FROM bands WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id, 1, b1 FROM bands WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id, 2, b2 FROM bands WHERE doc_id % 2 = 0
         |  UNION ALL SELECT doc_id, 3, b3 FROM bands WHERE doc_id % 2 = 0),
         |bbd AS (
         |  SELECT doc_id AS da, 0 AS band_id, b0 AS bv FROM bands WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id, 1, b1 FROM bands WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id, 2, b2 FROM bands WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id, 3, b3 FROM bands WHERE doc_id % 2 = 1),
         |cand AS (SELECT DISTINCT a.da, c.db
         |  FROM bbd a JOIN cbd c ON a.band_id = c.band_id AND a.bv = c.bv),
         |prs AS (SELECT c.da, c.db
         |  FROM cand c JOIN bands x ON x.doc_id = c.da
         |              JOIN bands y ON y.doc_id = c.db
         |  WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
         |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 3),
         |fl AS (SELECT da, CAST(count(*) AS BIGINT) AS n_matches FROM prs GROUP BY da),
         |b AS (SELECT doc_id AS da, lang FROM documents WHERE doc_id % 2 = 1)
         |SELECT b.lang, CAST(count(*) AS BIGINT) AS n_batch,
         |       CAST(coalesce(sum(CASE WHEN fl.n_matches IS NOT NULL THEN 1 ELSE 0 END), 0)
         |         AS BIGINT) AS n_flagged,
         |       CAST(coalesce(sum(fl.n_matches), 0) AS BIGINT) AS n_pairs
         |FROM b LEFT JOIN fl ON b.da = fl.da
         |GROUP BY b.lang ORDER BY b.lang""".stripMargin,
    "c43_dataset_split" ->
      """WITH g AS (SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |      AS n_tokens,
        |    (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |  + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS gate
        |  FROM documents),
        |s AS (SELECT lang, doc_id, n_tokens,
        |        CASE WHEN gate < 205 THEN 'train'
        |             WHEN gate < 230 THEN 'val' ELSE 'test' END AS split
        |      FROM g)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "c42_heavy_hitters" -> {
      // 16-bit bucket: the first 4 md5 hex digits decoded positionally —
      // the same integer CountMinSketchAgg.bucket reads from the digest
      // bytes and Spark's conv(substring(md5(..),1,4),16,10) computes.
      def digit(k: Int) =
        s"(instr('0123456789abcdef', substr(h16, $k, 1)) - 1)"
      s"""WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
         |    x -> x <> '')) AS tok FROM documents),
         |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY tok),
         |bk0 AS (SELECT tf.tok, d.d,
         |          md5(CAST(d.d AS VARCHAR) || ':' || tf.tok) AS h16
         |        FROM tf, (SELECT unnest([0, 1, 2, 3]) AS d) d),
         |bk AS (SELECT tok, d,
         |         (${digit(1)} * 4096 + ${digit(2)} * 256
         |        + ${digit(3)} * 16 + ${digit(4)}) % 1024 AS b
         |       FROM bk0),
         |counters AS (SELECT bk.d, bk.b, CAST(sum(tf.exact_n) AS BIGINT) AS cnt
         |             FROM bk JOIN tf ON bk.tok = tf.tok GROUP BY bk.d, bk.b),
         |probes AS (SELECT tok, exact_n FROM tf ORDER BY exact_n DESC, tok LIMIT 20),
         |est AS (SELECT p.tok, p.exact_n, CAST(min(c.cnt) AS BIGINT) AS est_n
         |        FROM probes p JOIN bk ON bk.tok = p.tok
         |        JOIN counters c ON c.d = bk.d AND c.b = bk.b
         |        GROUP BY p.tok, p.exact_n)
         |SELECT tok, exact_n, est_n, est_n - exact_n AS overcount
         |FROM est ORDER BY exact_n DESC, tok""".stripMargin
    },
    "c41_pretokenize" ->
      """WITH t AS (SELECT lang,
        |    unnest(regexp_extract_all(concat(text, ' id=', doc_id, '.', n_chars),
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS tok
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(sum(CASE WHEN regexp_matches(tok, '^[A-Za-z]+$')
        |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_alpha,
        |       CAST(coalesce(sum(CASE WHEN regexp_matches(tok, '^[0-9]+$')
        |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_num,
        |       CAST(coalesce(sum(CASE WHEN regexp_matches(tok, '^[A-Za-z0-9]')
        |         THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_other,
        |       CAST(sum(length(tok)) AS BIGINT) AS n_tok_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "c40_outlier_filter" ->
      """WITH d AS (SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS nt
        |  FROM documents),
        |q AS (SELECT lang, quantile_cont(nt, 0.25) AS q1, quantile_cont(nt, 0.75) AS q3
        |      FROM d GROUP BY lang),
        |f AS (SELECT lang, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(coalesce(sum(CASE WHEN d.nt < f.lo OR d.nt > f.hi THEN 1 END), 0)
        |         AS BIGINT) AS n_outliers,
        |       CAST(coalesce(sum(CASE WHEN NOT (d.nt < f.lo OR d.nt > f.hi)
        |         THEN CAST(d.nt AS BIGINT) END), 0) AS BIGINT) AS kept_tokens,
        |       min(f.lo) AS lo, min(f.hi) AS hi
        |FROM d JOIN f ON d.lang = f.lang GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "c39_label_centroids" ->
      """WITH el AS (SELECT e.label, t.i,
        |    CAST(CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(12,4)) * 10000
        |      AS BIGINT) AS sv
        |  FROM embeddings e, range(1, 65) t(i))
        |SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS i,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(sv) AS BIGINT) AS sum_sv,
        |       CAST(CAST(CAST(sum(sv) AS DOUBLE) / count(*) AS DECIMAL(16,0)) AS BIGINT) AS cv
        |FROM el GROUP BY label, i ORDER BY label, i""".stripMargin,
    "c36_bloom_join" ->
      """SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT) AS ym,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |                CAST(CAST(1 - l.l_discount AS DECIMAL(10,4)) * 10000 AS BIGINT))
        |         AS BIGINT) AS revenue_micros
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY ym ORDER BY ym""".stripMargin,
    "c38_zorder_profile" ->
      s"""WITH xy AS (SELECT user_id % 65536 AS x,
         |    (epoch_us(ts) // 1000000) % 65536 AS y FROM events),
         |z AS (SELECT x, y, ${graft.functions.ZOrder.zvalueSql("x", "y")} AS z FROM xy)
         |SELECT z >> 26 AS z_cell, CAST(count(*) AS BIGINT) AS n_events,
         |       min(x) AS x_min, max(x) AS x_max,
         |       min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY z_cell ORDER BY z_cell""".stripMargin,
    "c21_incremental_dedup" ->
      """WITH corpus AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |batch AS (SELECT lang, doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1),
        |kept AS (SELECT b.lang, b.doc_id FROM batch b ANTI JOIN corpus c ON b.h = c.h)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_new, min(doc_id) AS min_doc
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    "c23_bigram_novelty" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS a FROM documents),
        |bg AS (SELECT doc_id, lang,
        |         a[CAST(i AS INT)] || ' ' || a[CAST(i AS INT) + 1] AS b
        |       FROM toks, range(1, 4095) t(i)
        |       WHERE i < len(a) AND a[CAST(i AS INT)] <> ''
        |         AND a[CAST(i AS INT) + 1] <> ''),
        |cnt AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY 1, 2),
        |occ AS (SELECT lang, CAST(sum(n) AS BIGINT) AS sum_bigrams,
        |               CAST(coalesce(sum(n) FILTER (n <= 3), 0) AS BIGINT) AS sum_rare,
        |               CAST(count(*) AS BIGINT) AS n_bigram_types
        |        FROM cnt GROUP BY lang),
        |d AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |      FROM bg GROUP BY lang)
        |SELECT d.lang, d.n_docs, occ.sum_bigrams, occ.sum_rare, occ.n_bigram_types
        |FROM d JOIN occ ON d.lang = occ.lang ORDER BY d.lang""".stripMargin,
    "c22_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, lang, count(*) AS tot, count(DISTINCT tok) AS dis
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY doc_id, lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) FILTER ((tot - dis) * 100 >= tot * 50) AS BIGINT) AS n_repetitive,
        |       CAST(sum(tot) AS BIGINT) AS sum_tokens,
        |       CAST(sum(dis) AS BIGINT) AS sum_distinct
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "c19_tfidf_terms" ->
      """WITH raw AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |toks AS (SELECT lang, doc_id, tok FROM raw WHERE tok <> ''),
        |n AS (SELECT count(DISTINCT doc_id) AS n_total FROM toks),
        |tf AS (SELECT lang, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
        |s AS (SELECT tf.lang, tf.tok,
        |             CAST(tf.tf * n.n_total AS DOUBLE) / df.df AS score
        |      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n)
        |SELECT lang, tok, score, rn FROM (
        |  SELECT lang, tok, score,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, tok) AS BIGINT) AS rn
        |  FROM s)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "c20_pack_plan" ->
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |p AS (SELECT lang, doc_id, n_tokens, (cum - n_tokens) // 8192 AS pack_id FROM c)
        |SELECT lang, CAST(pack_id AS BIGINT) AS pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin,
    "c17_quality_filter" ->
      """WITH feat AS (SELECT lang, n_chars,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_distinct,
        |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
        |  FROM documents),
        |r AS (SELECT lang,
        |  CASE WHEN n_chars < 50 THEN 'too_short'
        |       WHEN n_chars > 5000 THEN 'too_long'
        |       WHEN n_alpha * 10 < n_chars * 6 THEN 'low_alpha'
        |       WHEN n_distinct * 10 < n_tokens * 3 THEN 'repetitive'
        |       ELSE 'keep' END AS reason
        |  FROM feat)
        |SELECT lang, reason, CAST(count(*) AS BIGINT) AS n_docs
        |FROM r GROUP BY lang, reason ORDER BY lang, reason""".stripMargin,
    "c18_redact_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT)
        |         AS n_chars_redacted
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "c29_salted_join" ->
      """WITH ev AS (SELECT event_type,
        |              CAST(ROUND(value * 100) AS BIGINT) AS vc
        |            FROM events),
        |st AS (SELECT event_type, CAST(sum(vc) AS BIGINT) AS tot,
        |              CAST(count(*) AS BIGINT) AS n
        |       FROM ev GROUP BY event_type)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN e.vc * s.n > s.tot THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_above_avg
        |FROM ev e JOIN st s ON e.event_type = s.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "c13_salted_agg" ->
      """SELECT event_type,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "c14_simhash_neardup" ->
      s"""WITH raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS h FROM raw WHERE tok <> ''),
         |dg AS (SELECT doc_id, $shDigits FROM h),
         |s AS (SELECT doc_id,
         |         $shSums
         |      FROM dg GROUP BY doc_id),
         |bands AS (SELECT doc_id, ${shBand(0)} AS b0, ${shBand(1)} AS b1,
         |                 ${shBand(2)} AS b2, ${shBand(3)} AS b3 FROM s),
         |banded AS (
         |  SELECT doc_id, 0 AS band_id, b0 AS bv FROM bands
         |  UNION ALL SELECT doc_id, 1, b1 FROM bands
         |  UNION ALL SELECT doc_id, 2, b2 FROM bands
         |  UNION ALL SELECT doc_id, 3, b3 FROM bands),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM banded a JOIN banded b
         |    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT c.da, c.db,
         |       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
         |          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS BIGINT) AS hamming
         |FROM cand c JOIN bands x ON x.doc_id = c.da
         |            JOIN bands y ON y.doc_id = c.db
         |WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
         |    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 3
         |ORDER BY hamming, da, db""".stripMargin,
    "c3_shingle_jaccard" ->
      s"""WITH raw AS (SELECT doc_id, substr(text, CAST(i AS INT), 3) AS sh
        |  FROM documents, range(1, 2048) t(i)
        |  WHERE doc_id % 25 = 0 AND length(text) >= 3 AND i <= length(text) - 2),
        |sh0 AS (SELECT DISTINCT doc_id, sh FROM raw),
        |shdf AS (SELECT sh FROM sh0 GROUP BY sh
        |         HAVING count(*) <= ${Dedup.ShingleDfCap}),
        |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN shdf d ON s.sh = d.sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.da, i.db,
        |       CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
        |FROM inter i JOIN sizes sa ON i.da = sa.doc_id
        |             JOIN sizes sb ON i.db = sb.doc_id
        |ORDER BY jaccard DESC, da, db LIMIT 20""".stripMargin,
    "c4_embed_neardup" ->
      """WITH bands AS (
        |  SELECT vec_id, label, CAST(b AS INT) AS band_id,
        |    (CASE WHEN embedding[CAST(4*b+1 AS INT)] >= 0 THEN 8 ELSE 0 END
        |   + CASE WHEN embedding[CAST(4*b+2 AS INT)] >= 0 THEN 4 ELSE 0 END
        |   + CASE WHEN embedding[CAST(4*b+3 AS INT)] >= 0 THEN 2 ELSE 0 END
        |   + CASE WHEN embedding[CAST(4*b+4 AS INT)] >= 0 THEN 1 ELSE 0 END) AS bv
        |  FROM embeddings, range(0, 16) t(b)),
        |cand AS (SELECT DISTINCT a.label, a.vec_id AS va, b.vec_id AS vb
        |  FROM bands a JOIN bands b
        |    ON a.label = b.label AND a.band_id = b.band_id AND a.bv = b.bv
        |   AND a.vec_id < b.vec_id),
        |el AS (SELECT vec_id, i, CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(12,4)) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |nrm AS (SELECT vec_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nv FROM el GROUP BY vec_id),
        |dots AS (SELECT c.label, c.va, c.vb, CAST(sum(a.v * b.v) AS DOUBLE) AS dot
        |  FROM cand c JOIN el a ON a.vec_id = c.va
        |              JOIN el b ON b.vec_id = c.vb AND a.i = b.i
        |  GROUP BY 1, 2, 3)
        |SELECT d.label, d.va, d.vb, d.dot / (na.nv * nb.nv) AS cos
        |FROM dots d JOIN nrm na ON na.vec_id = d.va
        |            JOIN nrm nb ON nb.vec_id = d.vb
        |WHERE d.dot / (na.nv * nb.nv) > 0.42
        |ORDER BY cos DESC, va, vb""".stripMargin,
    "c5_ann_brute" ->
      """WITH el AS (SELECT vec_id, i, CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(12,4)) AS v
        |  FROM embeddings, range(1, 65) t(i)),
        |nrm AS (SELECT vec_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS norm FROM el GROUP BY vec_id),
        |dots AS (SELECT q.vec_id AS qid, e.vec_id, CAST(sum(q.v * e.v) AS DOUBLE) AS dot
        |  FROM el q JOIN el e ON q.i = e.i AND q.vec_id <> e.vec_id
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2),
        |cos AS (SELECT d.qid, d.vec_id, d.dot / (nq.norm * nv.norm) AS cos
        |  FROM dots d JOIN nrm nq ON nq.vec_id = d.qid
        |              JOIN nrm nv ON nv.vec_id = d.vec_id)
        |SELECT qid, vec_id, cos, rn FROM (
        |  SELECT qid, vec_id, cos,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
        |  FROM cos)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "c6_ann_lsh" ->
      """WITH b AS (SELECT vec_id,
        |    concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
        |           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
        |           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
        |           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
        |  FROM embeddings),
        |el AS (SELECT e.vec_id, b.bucket, i, CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(12,4)) AS v
        |  FROM embeddings e JOIN b ON e.vec_id = b.vec_id,
        |       range(1, 65) t(i)),
        |nrm AS (SELECT vec_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS norm FROM el GROUP BY vec_id),
        |dots AS (SELECT q.vec_id AS qid, e.vec_id, CAST(sum(q.v * e.v) AS DOUBLE) AS dot
        |  FROM el q JOIN el e ON q.bucket = e.bucket AND q.i = e.i AND q.vec_id <> e.vec_id
        |  WHERE q.vec_id % 20 = 0
        |  GROUP BY 1, 2),
        |cos AS (SELECT d.qid, d.vec_id, d.dot / (nq.norm * nv.norm) AS cos
        |  FROM dots d JOIN nrm nq ON nq.vec_id = d.qid
        |              JOIN nrm nv ON nv.vec_id = d.vec_id)
        |SELECT qid, vec_id, cos, rn FROM (
        |  SELECT qid, vec_id, cos,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rn
        |  FROM cos)
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "c12_ann_ivf" -> ivfOracle(nCells = 8, queryMod = 50, k = 3, iters = 2,
      nProbe = 6),
    // c28 oracle: replays the int8 quantization — double multiply/divide
    // (left-assoc, IEEE-identical), half-away DECIMAL(16,0) cast, exact
    // integer dot sums (< 2^53), same /1e8 normalization tree as c5.
    "c28_ann_quantized" ->
      """WITH sc AS (SELECT vec_id,
        |    max(abs(CAST(embedding[CAST(i AS INT)] AS DOUBLE))) AS scale
        |  FROM embeddings, range(1, 65) t(i) GROUP BY vec_id),
        |el AS (SELECT e.vec_id, i,
        |    CAST(CAST(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * 127 / s.scale
        |         AS DECIMAL(16,0)) AS BIGINT) AS qv
        |  FROM embeddings e JOIN sc s ON e.vec_id = s.vec_id, range(1, 65) t(i)
        |  WHERE s.scale > 0),
        |nrm AS (SELECT vec_id, sqrt(CAST(sum(qv * qv) AS DOUBLE) / 1e8) AS nv
        |        FROM el GROUP BY vec_id),
        |dots AS (SELECT q.vec_id AS qid, e.vec_id,
        |                CAST(sum(q.qv * e.qv) AS DOUBLE) / 1e8 AS dot
        |  FROM el q JOIN el e ON q.i = e.i AND q.vec_id <> e.vec_id
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2),
        |cos AS (SELECT d.qid, d.vec_id, d.dot / (nq.nv * nv2.nv) AS qcos
        |  FROM dots d JOIN nrm nq ON nq.vec_id = d.qid
        |              JOIN nrm nv2 ON nv2.vec_id = d.vec_id)
        |SELECT qid, vec_id, qcos, rn FROM (
        |  SELECT qid, vec_id, qcos,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id) AS BIGINT) AS rn
        |  FROM cos)
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "c7_langid" ->
      """WITH raw AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |toks AS (SELECT doc_id, lang, tok FROM raw WHERE tok <> ''),
        |scored AS (SELECT doc_id, lang,
        |  sum(CASE WHEN tok IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS en_hits,
        |  sum(CASE WHEN tok IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS de_hits,
        |  sum(CASE WHEN tok IN ('le','la','et','les','est') THEN 1 ELSE 0 END) AS fr_hits,
        |  sum(CASE WHEN tok IN ('el','los','las','y','es') THEN 1 ELSE 0 END) AS es_hits
        |  FROM toks GROUP BY doc_id, lang),
        |pred AS (SELECT lang,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits
        |            AND en_hits > 0 THEN 'en'
        |       WHEN de_hits >= fr_hits AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
        |       WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
        |       WHEN es_hits > 0 THEN 'es'
        |       ELSE 'und' END AS predicted
        |  FROM scored)
        |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "c8_quality" ->
      """WITH perdoc AS (SELECT lang, n_chars,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
        |  CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS is_long
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE) AS avg_tok_len,
        |  CAST(sum(is_long) AS DOUBLE) / count(*) AS share_long
        |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin,
    "c9_token_count" ->
      """WITH raw AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |toks AS (SELECT lang, tok FROM raw WHERE tok <> '')
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum((length(tok) + 3) // 4) AS BIGINT) AS n_subwords,
        |       CAST(sum(length(tok)) AS BIGINT) AS n_word_chars
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,
    "c10_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |t4 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
        |shing AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks) - 2),
        |           i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' '))) AS sh
        |  FROM t4),
        |fp AS (SELECT doc_id, min(md5(sh)) AS fingerprint FROM shing GROUP BY doc_id)
        |SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
        |FROM fp GROUP BY fingerprint HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin,
    "c11_multimodal" ->
      """WITH m AS (SELECT concat('img/', source) AS kind,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes FROM documents),
        |f AS (SELECT kind, n_bytes, n_bytes % 640 AS width, (n_bytes * 7) % 480 AS height,
        |             n_bytes % 24 + 1 AS frames FROM m)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |       CAST(sum(width) AS BIGINT) AS sum_width,
        |       CAST(sum(height) AS BIGINT) AS sum_height,
        |       CAST(sum(frames) AS BIGINT) AS sum_frames,
        |       CAST(sum(least(frames, 8)) AS BIGINT) AS sum_sampled
        |FROM f GROUP BY kind ORDER BY kind""".stripMargin,
    // c51 replay: quarter-hourly cents profile → 96-bit above-average
    // signature (two 48-bit halves) → 8 × 12-bit bands → distinct
    // candidate pairs (ALL pairs when the population is ≤ the 1024-user
    // brute-force cap — the count-driven branch TimeSeries takes on the
    // driver, replayed here as mutually exclusive UNION arms; the third
    // arm is the equal-profile rescue — consecutive members of each
    // identical-hourly-profile group, the linear distance-0 recall
    // guarantee inside capped buckets) → sparse hourly L1 (signed
    // per-hour contributions, |·| summed) → total-order top 20.
    "c51_ts_similar_users" ->
      """WITH qprof AS (
        |  SELECT user_id, (epoch_us(ts) // 900000000) % 96 AS qh,
        |         CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |prof AS (
        |  SELECT user_id, qh // 4 AS hour, CAST(sum(v) AS BIGINT) AS v
        |  FROM qprof GROUP BY 1, 2),
        |tot AS (SELECT user_id, CAST(sum(v) AS BIGINT) AS tot FROM qprof GROUP BY 1),
        |sig AS (
        |  SELECT p.user_id,
        |         CAST(sum(CASE WHEN p.qh < 48 AND p.v * 96 > t.tot
        |                       THEN (CAST(1 AS BIGINT) << CAST(p.qh AS INT))
        |                       ELSE 0 END) AS BIGINT) AS lo,
        |         CAST(sum(CASE WHEN p.qh >= 48 AND p.v * 96 > t.tot
        |                       THEN (CAST(1 AS BIGINT) << CAST(p.qh - 48 AS INT))
        |                       ELSE 0 END) AS BIGINT) AS hi
        |  FROM qprof p JOIN tot t USING (user_id) GROUP BY p.user_id),
        |nu AS (SELECT count(*) AS n FROM sig),
        |banded AS (
        |  SELECT user_id, b.band_id,
        |         CASE b.band_id
        |              WHEN 0 THEN lo & 4095 WHEN 1 THEN (lo >> 12) & 4095
        |              WHEN 2 THEN (lo >> 24) & 4095 WHEN 3 THEN (lo >> 36) & 4095
        |              WHEN 4 THEN hi & 4095 WHEN 5 THEN (hi >> 12) & 4095
        |              WHEN 6 THEN (hi >> 24) & 4095 ELSE (hi >> 36) & 4095 END AS bv
        |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band_id) b),
        |bkept AS (
        |  SELECT banded.* FROM banded
        |  JOIN (SELECT band_id, bv FROM banded GROUP BY band_id, bv
        |        HAVING count(*) <= 256) ok USING (band_id, bv)),
        |pkey AS (
        |  SELECT user_id,
        |         string_agg(lpad(CAST(hour AS VARCHAR), 2, '0') || ':' ||
        |                    CAST(v AS VARCHAR), ','
        |                    ORDER BY lpad(CAST(hour AS VARCHAR), 2, '0') || ':' ||
        |                             CAST(v AS VARCHAR)) AS pk
        |  FROM prof GROUP BY user_id),
        |ranked AS (
        |  SELECT user_id, pk,
        |         row_number() OVER (PARTITION BY pk ORDER BY user_id) AS rn
        |  FROM pkey),
        |cand AS (
        |  SELECT a.user_id AS da, b.user_id AS db
        |  FROM sig a JOIN sig b ON a.user_id < b.user_id
        |  WHERE (SELECT n FROM nu) <= 1024
        |  UNION
        |  SELECT DISTINCT a.user_id AS da, b.user_id AS db
        |  FROM bkept a JOIN bkept b
        |    ON a.band_id = b.band_id AND a.bv = b.bv AND a.user_id < b.user_id
        |  WHERE (SELECT n FROM nu) > 1024
        |  UNION
        |  SELECT a.user_id AS da, b.user_id AS db
        |  FROM ranked a JOIN ranked b ON a.pk = b.pk AND b.rn = a.rn + 1
        |  WHERE (SELECT n FROM nu) > 1024),
        |contrib AS (
        |  SELECT c.da, c.db, p.hour, p.v AS x
        |  FROM cand c JOIN prof p ON p.user_id = c.da
        |  UNION ALL
        |  SELECT c.da, c.db, p.hour, -p.v AS x
        |  FROM cand c JOIN prof p ON p.user_id = c.db),
        |d AS (SELECT da, db, hour, CAST(sum(x) AS BIGINT) AS d
        |      FROM contrib GROUP BY 1, 2, 3)
        |SELECT da, db, CAST(sum(abs(d)) AS BIGINT) AS l1_cents
        |FROM d GROUP BY da, db
        |ORDER BY l1_cents, da, db LIMIT 20""".stripMargin,
    "c52_mixture_weights" ->
      """WITH d AS (SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_tokens) AS BIGINT) AS actual_tokens
        |      FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(actual_tokens) AS BIGINT) AS tot_tokens,
        |             CAST(count(*) AS BIGINT) AS n_sources FROM s),
        |w AS (SELECT source, n_docs, actual_tokens,
        |             tot_tokens // n_sources AS target_tokens,
        |             least(CAST(1000 AS BIGINT), (tot_tokens // n_sources) * 1000
        |                   // greatest(actual_tokens, 1)) AS weight_x1000
        |      FROM s CROSS JOIN t)
        |SELECT source, n_docs, actual_tokens,
        |       CAST(target_tokens AS BIGINT) AS target_tokens,
        |       CAST(weight_x1000 AS BIGINT) AS weight_x1000,
        |       CAST(actual_tokens * weight_x1000 // 1000 AS BIGINT) AS effective_tokens
        |FROM w ORDER BY source""".stripMargin,
    "c53_rarity_score" ->
      """WITH raw AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |toks AS (SELECT lang, doc_id, tok FROM raw WHERE tok <> ''),
        |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |        FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
        |perdoc AS (SELECT t.lang, t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |                  CAST(sum(df) AS BIGINT) AS sum_df
        |           FROM toks t JOIN dft ON t.tok = dft.tok GROUP BY 1, 2),
        |perlang AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS lang_toks,
        |                   CAST(sum(sum_df) AS BIGINT) AS lang_df
        |            FROM perdoc GROUP BY lang)
        |SELECT p.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) FILTER (CAST(sum_df AS HUGEINT) * lang_toks
        |            < CAST(n_toks AS HUGEINT) * lang_df) AS BIGINT) AS n_rare_docs,
        |       CAST(max(lang_toks) AS BIGINT) AS lang_tokens,
        |       CAST(CAST(max(lang_df) AS HUGEINT) * 1000 // max(lang_toks) AS BIGINT)
        |         AS avg_df_x1000
        |FROM perdoc p JOIN perlang l ON p.lang = l.lang
        |GROUP BY p.lang ORDER BY p.lang""".stripMargin,
    "c54_fluency_score" ->
      """WITH t AS (SELECT lang, doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |t2 AS (SELECT lang, doc_id, toks FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT lang, doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |           i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 1 AS INT)), ' '))) AS bg
        |  FROM t2),
        |cbg AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM bg GROUP BY bg),
        |cw1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(count(*) AS BIGINT) AS c_w1
        |        FROM bg GROUP BY 1),
        |perdoc AS (SELECT b.lang, b.doc_id, CAST(count(*) AS BIGINT) AS n_bg,
        |       CAST(sum(c_bg * 1000000 // c_w1) AS BIGINT) AS sum_p
        |  FROM bg b JOIN cbg USING (bg)
        |  JOIN cw1 ON string_split(b.bg, ' ')[1] = cw1.w1
        |  GROUP BY 1, 2),
        |sc AS (SELECT lang, doc_id, sum_p // n_bg AS score FROM perdoc)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(score) AS BIGINT) AS sum_score,
        |       CAST(min(score) AS BIGINT) AS min_score,
        |       CAST(max(score) AS BIGINT) AS max_score
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,
    "c55_containment" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |t4 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 4),
        |shing AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks) - 2),
        |           i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 3 AS INT)), ' '))) AS g0
        |  FROM t4),
        |shd AS (SELECT DISTINCT doc_id, md5(g0) AS sh FROM shing),
        |kept AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM shd GROUP BY sh)
        |         WHERE df <= 256),
        |s2 AS (SELECT shd.doc_id, shd.sh FROM shd JOIN kept USING (sh)),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM s2 GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS inter
        |          FROM s2 a JOIN s2 b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da, db, inter, sz AS size_a,
        |       CAST(inter * 1000 // sz AS BIGINT) AS containment_x1000
        |FROM pairs JOIN sizes ON pairs.da = sizes.doc_id
        |WHERE inter * 1000 >= 800 * sz
        |ORDER BY containment_x1000 DESC, da, db LIMIT 50""".stripMargin,
    "c56_diverse_sample" ->
      s"""WITH ${kmeansCtes(nCells = 8, iters = 2, finalProbe = 1)},
         |hh AS (SELECT vec_id, cell, md5(CAST(vec_id AS VARCHAR)) AS h FROM a3),
         |r AS (SELECT vec_id, cell,
         |        row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) AS rn
         |      FROM hh)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_kept,
         |       min(vec_id) AS min_vec, max(vec_id) AS max_vec
         |FROM r WHERE rn <= 40
         |GROUP BY cell ORDER BY cell""".stripMargin,
    "c57_dup_ngram_fraction" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |t8 AS (SELECT doc_id, lang, toks FROM t WHERE len(toks) >= 8),
        |ng0 AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(toks) - 6),
        |           i -> array_to_string(list_slice(toks, CAST(i AS INT), CAST(i + 7 AS INT)), ' '))) AS g0
        |  FROM t8),
        |ng AS (SELECT DISTINCT doc_id, lang, md5(g0) AS g FROM ng0),
        |dft AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM ng GROUP BY g),
        |perdoc AS (SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS n_ng,
        |       CAST(count(*) FILTER (df >= 2) AS BIGINT) AS n_dup
        |  FROM ng JOIN dft USING (g) GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_ng) AS BIGINT) AS sum_ngrams,
        |       CAST(sum(n_dup) AS BIGINT) AS sum_dup,
        |       CAST(CAST(sum(n_dup) AS HUGEINT) * 1000 // sum(n_ng) AS BIGINT)
        |         AS dup_fraction_x1000,
        |       CAST(count(*) FILTER (n_dup * 2 >= n_ng) AS BIGINT) AS n_boilerplate_docs
        |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin)
}
