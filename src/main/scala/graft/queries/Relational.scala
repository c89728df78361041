package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Additional relational-operator coverage (SURVEY §2.2 categories beyond
  * the §2.3 list): semi-structured extraction, ROLLUP, pivot-style
  * conditional aggregation, and sessionization (lag + gap windows). Same
  * determinism contract as GroupB.
  */
object Relational {
  import Tables.load

  /** d7's blocking-token document-frequency cap (see the d7 comment):
    * bounds every candidate block to ≤ CAP docs. No-op on the synthetic
    * data (max blocking df 31); the guard is for corpus scale.
    */
  val D7_DF_CAP = 64

  /** FK edges of the star schema: (relation label, child table, child
    * key, parent table, parent key). ONE table shared by d29's Spark
    * spelling AND its oracle generator, so the two cannot drift.
    */
  private val RefEdges = Seq(
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // d1 — semi-structured extraction: events.props is a JSON-ish string
    // {"k": N}; extract N with a regex (portable across engines, no JSON
    // extension needed) and aggregate per event type.
    "d1_props_extract" -> ((s, dir) => {
      load(s, dir, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          (sum(col("k")).cast("double") / count(lit(1))).as("avg_k"))
        .orderBy(col("event_type"))
    }),

    // d2 — ROLLUP aggregation (hierarchical subtotals). Group markers are
    // coalesced to 'ALL' so the null-ordering difference between engines
    // (Spark: NULLS FIRST, DuckDB: NULLS LAST) never matters.
    // Two-level shape: Spark plans multi-set aggregates as Expand —
    // every input row is REPLICATED once per grouping set before the
    // aggregate — so a direct rollup pushes 3× the fact table through
    // the hash agg. Aggregating to the finest set (returnflag,
    // linestatus) first is lossless (count → sum of counts, cents-sum →
    // sum of sums, exact longs) and leaves the Expand a handful of
    // rows: at 100 TB the difference between 3× the corpus and 3× the
    // value domain. (A/B'd r6: 1.04 → ~0.35 s at sf0.1.)
    "d2_rollup_pricing" -> ((s, dir) => {
      val base = load(s, dir, "lineitem")
        // cents-scaled long sum: same exact value as the oracle's decimal
        // sum (scaled total < 2^53), primitive-speed aggregation (cf. b4)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("bn"),
          sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
            .as("bc"))
      // coalesce: on EMPTY input the grand-total row of a direct rollup
      // carries count(*) = 0, but sum(bn) over the empty pre-aggregate
      // is NULL — the rewrite must stay row-identical on degenerate
      // inputs (money sums stay NULL in both formulations).
      base.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(coalesce(sum(col("bn")), lit(0L)).as("n"),
          (sum(col("bc")).cast("double") / 100.0).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_price"))
        .orderBy(col("returnflag"), col("linestatus"))
    }),

    // d3 — pivot-style conditional aggregation: event counts per user
    // bucket spread across type columns (the portable formulation of
    // PIVOT — one pass, map-side partials).
    "d3_pivot_events" -> ((s, dir) => {
      val ev = load(s, dir, "events")
      def cnt(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
      ev.groupBy((col("user_id") % 10).as("user_bucket"))
        .agg(cnt("click"), cnt("view"), cnt("error"), cnt("purchase"),
          count(lit(1)).as("n_total"))
        .orderBy(col("user_bucket"))
    }),

    // d5 — set operations: customers that ordered in both eras
    // (INTERSECT), and early-era customers that never returned (EXCEPT).
    // Hash-partitioned set semantics — no sort needed at any scale.
    "d5_set_ops" -> ((s, dir) => {
      val cut = lit(java.sql.Timestamp.valueOf("1998-06-01 00:00:00"))
      val ord = load(s, dir, "orders")
      val early = ord.filter(col("o_orderdate") < cut).select(col("o_custkey"))
      val late = ord.filter(col("o_orderdate") >= cut).select(col("o_custkey"))
      val both = early.intersect(late).withColumn("cohort", lit("both_eras"))
      val lapsed = early.except(late).withColumn("cohort", lit("lapsed"))
      both.unionByName(lapsed)
        .groupBy(col("cohort")).agg(count(lit(1)).as("n_customers"),
          min(col("o_custkey")).as("min_key"), max(col("o_custkey")).as("max_key"))
        .orderBy(col("cohort"))
    }),

    // d6 — histogram: integer bucketing of event values per type (floor
    // division of identical doubles is engine-identical; counts are
    // exact). The workhorse distribution profile at any scale.
    "d6_value_histogram" -> ((s, dir) => {
      load(s, dir, "events")
        .select(col("event_type"), floor(col("value") / 5.0).cast("long").as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // d7 — edit-distance fuzzy dedup: Levenshtein over 40-char prefixes
    // of sampled docs (integer DP — portable bit-exact), with an
    // inverted-index blocking pass: candidate pairs must share (lang, one
    // of the first 3 prefix tokens). The pair space is bounded by posting
    // -list sizes (sub-quadratic, the b2/c3 shape) instead of the
    // all-pairs-within-lang product — lang has a handful of values, so
    // the unblocked join is effectively quadratic at corpus scale.
    // Blocking is the operator's documented recall trade-off (≈2/3 of
    // loose-threshold pairs on the synthetic data) — the oracle replays
    // the same candidates.
    "d7_edit_distance" -> ((s, dir) => {
      val p = load(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("lang"), col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
      val tk0 = p.select(col("lang"), col("doc_id"),
          explode(slice(split(col("prefix"), " "), 1, 3)).as("tok"))
        .filter(col("tok") =!= "")
      // Document-frequency cap on the BLOCKING tokens: a hot first token
      // ("the …") otherwise builds one giant block whose self-join is
      // quadratic in its posting list. Dropping blocks with df >
      // D7_DF_CAP bounds every block to ≤ CAP docs (pairs ≤ V·CAP²);
      // only pairs sharing NOTHING but hot tokens are lost — the
      // operator's documented recall trade, replayed by the oracle.
      // (64 is a no-op on the synthetic data — max blocking df is 31 at
      // sf0.1 — the filter is the 100 TB guard.)
      val tk = tk0.join(
        tk0.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= Relational.D7_DF_CAP)
          .select(col("lang"), col("tok")),
        Seq("lang", "tok"))
      val cand = tk.select(col("lang"), col("tok"), col("doc_id").as("da"))
        .join(tk.select(col("lang"), col("tok"), col("doc_id").as("db")), Seq("lang", "tok"))
        .filter(col("da") < col("db"))
        .select(col("lang"), col("da"), col("db"))
        .distinct()
      cand
        .join(p.select(col("doc_id").as("da"), col("prefix").as("pa")), "da")
        .join(p.select(col("doc_id").as("db"), col("prefix").as("pb")), "db")
        .select(col("lang"), col("da"), col("db"),
          levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
        .filter(col("dist") <= 26)
        .orderBy(col("dist"), col("da"), col("db"))
        .limit(30)
    }),

    // d17 — equal-frequency bucketing (NTILE): account-balance deciles
    // within each nation. Deterministic total order (balance, custkey)
    // makes ntile oracle-checkable; the window partitions by nation, so
    // no global single-task sort. min/max of raw doubles are exact —
    // no float aggregation arithmetic anywhere.
    "d17_acctbal_deciles" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      load(s, dir, "customer")
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"), max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("nationkey"), col("decile"))
    }),

    // d18 — CUBE aggregation: all four grouping combinations of order
    // status × priority in one pass (the Expand-based multi-grouping
    // plan — each input row fans out to its grouping sets map-side, then
    // one hash aggregate). grouping_id disambiguates the subtotal level
    // exactly as ANSI defines it (leftmost column = MSB — same bitmask
    // in DuckDB); the 'ALL' coalesce keeps engine null-ordering out of
    // the result. Price sums ride the d2 scaled-cent contract.
    "d18_cube_orders" -> ((s, dir) => {
      // Two-level shape (see d2): the cube's 4-set Expand runs over the
      // finest-set pre-aggregate (|status|×|priority| rows), not the
      // fact table.
      val base = load(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("bn"),
          sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .as("bc"))
      // coalesce: empty-input identity with the direct cube (see d2)
      base.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), coalesce(sum(col("bn")), lit(0L)).as("n"),
          (sum(col("bc")).cast("double") / 100.0).as("sum_total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
          col("gid"), col("n"), col("sum_total"))
        .orderBy(col("gid"), col("orderstatus"), col("orderpriority"))
    }),

    // d19 — time-RANGE window frame (the frame class d14's ROWS frame
    // doesn't cover): per sampled user, the trailing-1-hour sum/count at
    // each event. RANGE frames include ties (peers at equal ts share a
    // frame) identically in both engines; ordering is the single numeric
    // ts_us key ANSI requires for range bounds. Cents-scaled sums stay
    // exact; partitioned by user — no global window.
    "d19_trailing_1h" -> ((s, dir) => {
      val hourUs = 3600L * 1000000
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-hourUs, 0)
      load(s, dir, "events")
        .filter(col("user_id") % 100 === 0)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("ts_us"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("vc"))
        .withColumn("trail_sum_c", sum(col("vc")).over(w))
        .withColumn("trail_n", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          (col("trail_sum_c").cast("double") / 100.0).as("trail_sum"),
          col("trail_n"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // d20 — bag-semantics set operations (INTERSECT ALL / EXCEPT ALL —
    // the multiplicity-preserving twins of d5): per-customer order
    // multisets across the two eras. Spark plans these as aggregate+
    // generate (count-min replication), all hash-partitioned — no sort.
    "d20_set_ops_all" -> ((s, dir) => {
      val cut = lit(java.sql.Timestamp.valueOf("1998-06-01 00:00:00"))
      val ord = load(s, dir, "orders")
      val early = ord.filter(col("o_orderdate") < cut).select(col("o_custkey"))
      val late = ord.filter(col("o_orderdate") >= cut).select(col("o_custkey"))
      val both = early.intersectAll(late).withColumn("cohort", lit("both_all"))
      val lapsed = early.exceptAll(late).withColumn("cohort", lit("lapsed_all"))
      both.unionByName(lapsed)
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("n_customers"),
          min(col("o_custkey")).as("min_key"), max(col("o_custkey")).as("max_key"))
        .orderBy(col("cohort"))
    }),

    // d21 — CDC MERGE apply (upsert + delete + insert in one pass): the
    // snapshot-maintenance shape every incremental corpus needs, spelled
    // Spark-first as one outer join + one union — the same plan Delta's
    // MERGE INTO lowers to, without a table format. The change batch is
    // derived deterministically from the snapshot (doc_id mod 10: 0 →
    // delete, 1 → update, 2 → insert under a shifted key) so the oracle
    // replays it exactly. One shuffle on the merge key; the union is
    // plan-level only. Output tags each surviving row's origin so the
    // apply is auditable (kept / updated / inserted counts per lang).
    "d21_merge_apply" -> ((s, dir) => {
      val base = load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val md = pmod(col("doc_id"), lit(10L))
      val ch = base.filter(md <= 2)
        .select(
          when(md === 2, col("doc_id") + 1000000000L).otherwise(col("doc_id")).as("key"),
          when(md === 0, "D").when(md === 1, "U").otherwise("I").as("op"),
          col("lang").as("ch_lang"),
          when(md === 1, col("n_chars") + 7).otherwise(col("n_chars")).as("new_chars"))
      val upserts = base
        .join(ch.filter(col("op") =!= "I"), base("doc_id") === col("key"), "left_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("doc_id"), col("lang"),
          coalesce(col("new_chars"), col("n_chars")).as("chars"),
          when(col("op") === "U", "updated").otherwise("kept").as("origin"))
      val inserts = ch.filter(col("op") === "I")
        .select(col("key").as("doc_id"), col("ch_lang").as("lang"),
          col("new_chars").as("chars"), lit("inserted").as("origin"))
      upserts.unionByName(inserts)
        .groupBy(col("lang"), col("origin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"), col("origin"))
    }),

    // d22 — column profile (the ANALYZE/data-quality scan every
    // pipeline runs before trusting a drop): per column, non-null
    // count, distinct count, min and max. ONE scan via stack() unpivot
    // — the oracle spells it as 5 UNION ALL scans, which is exactly
    // the rewrite this shape exists to avoid at 100 TB. All measures
    // are order-independent (no sums of raw doubles), so cross-engine
    // exactness holds without scaling.
    // d25 — week-over-week growth: event counts per (type, week index)
    // with the previous week's count and an integer-permille RATIO
    // (n·1000 div prev — 1000 = flat; kept positive because Spark's
    // `div` truncates toward zero while DuckDB's `//` floors, so a
    // negative delta would round differently). The lag window runs over
    // the AGGREGATED (type, week) table — |types|·|weeks| rows, never
    // raw events.
    "d25_wow_growth" -> ((s, dir) => {
      val weekUs = 7L * 24 * 3600 * 1000000L
      val wk = load(s, dir, "events")
        .select(expr(s"unix_micros(ts) div $weekUs").as("week"), col("event_type"))
        .groupBy(col("week"), col("event_type")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      wk.withColumn("prev_n", lag(col("n"), 1).over(w))
        .select(col("event_type"), col("week"), col("n"), col("prev_n"),
          when(col("prev_n").isNotNull,
            expr("n * 1000 div prev_n")).as("ratio_pml"))
        .orderBy(col("event_type"), col("week"))
    }),

    // d27 — explicit GROUPING SETS (the arbitrary-set sibling of d2's
    // ROLLUP and d18's CUBE): per (returnflag, linestatus), per
    // linestatus alone, and the grand total — a set list neither
    // rollup nor cube produces. Runs through the SQL entry (one Expand
    // over the scan, map-side partials per set); grouping_id
    // disambiguates real NULLs from subtotal rows cross-engine. Cents
    // stay scaled longs (the b4 contract).
    // d28 — the remaining ANSI window-function family in one ranked
    // pass: percent_rank / cume_dist (rank-derived doubles — small-int
    // rationals, exactly representable, correctly-rounded division →
    // bit-identical cross-engine), lag/lead, and nth/first/last values
    // over an EXPLICIT unbounded frame (the default frame for value
    // functions differs subtly across engines; spelling it removes the
    // ambiguity). All windows partition by nation — never global — and
    // the (acctbal, custkey) order is total, so every function is
    // deterministic under any partitioning.
    "d28_window_family" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      load(s, dir, "customer")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("prev_bal", lag(col("c_acctbal"), 1).over(w))
        .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
        .withColumn("second_bal", nth_value(col("c_acctbal"), 2).over(wFull))
        .withColumn("span",
          last(col("c_acctbal")).over(wFull) - first(col("c_acctbal")).over(wFull))
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nationkey"),
          col("c_acctbal"), col("pr"), col("cd"), col("prev_bal"), col("next_bal"),
          col("second_bal"), col("span"))
        .orderBy(col("c_custkey"))
    }),

    // d30 — SCD Type-2 historization: compress each user's event-type
    // sequence into validity intervals [valid_from, valid_to) — a new
    // version opens when the type CHANGES (lag inequality), closes at
    // the next change (lead over the change rows only), and the last
    // version per user stays open. The dimension-building pattern
    // behind every warehouse's slowly-changing-dimension load, spelled
    // with user-partitioned windows only — no global ordering anywhere.
    // Durations aggregate as whole SECONDS (per-version integer div,
    // pinned in both engines): summed micros would pass 2⁶³ near
    // ~10¹² day-long versions, seconds keep the headroom at any scale.
    "d30_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val changes = load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      val versions = changes
        .withColumn("vf", unix_micros(col("ts")))
        .withColumn("vt", lead(unix_micros(col("ts")), 1).over(w))
      versions.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_versions"),
          sum(when(col("vt").isNull, 1L).otherwise(0L)).as("n_open"),
          coalesce(sum(expr("(vt - vf) div 1000000")), lit(0L)).as("closed_s"))
        .orderBy(col("event_type"))
    }),

    // d31 — calendar-spine gap fill: per-type DAILY event counts with
    // every (type, day) cell present — missing days appear as explicit
    // zeros instead of silently absent rows, which is the difference
    // between a monitoring chart showing an outage and showing nothing.
    // The spine is generated, not scanned: one 1-row (min, max) day
    // aggregate explodes to the calendar, cross-joined with the distinct
    // type list — both sides value-domain-bounded (days × types, never
    // corpus rows), so the BNLJ is a few-row broadcast by construction
    // (PlanSpec allowlists it alongside the other bounded scalars). The
    // fact table contributes ONE map-side-combined daily aggregate,
    // materialized (types × days rows — value-domain-bounded) so the
    // spine bounds and type list derive from it instead of re-scanning
    // events: one scan of the fact table total.
    "d31_date_spine" -> ((s, dir) => {
      val e = load(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"))
      val daily = e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = daily.select(col("event_type")).distinct()
      spine.crossJoin(broadcast(types))
        .join(daily, Seq("event_type", "day"), "left_outer")
        // day as a STRING: a pandas-side date vs timestamp object
        // mismatch is exactly what the cross-engine determinism rule
        // "timestamps as strings" exists to remove.
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy(col("event_type"), col("day"))
    }),

    // d29 — referential-integrity audit: both directions of every FK
    // edge of the star schema from ONE full-outer join per edge over
    // DISTINCT keys. The child side collapses to (key, row-count)
    // first — the shuffle carries distinct keys, never fact rows — and
    // the parent side is its distinct key set, so the audit costs one
    // keys-only join per edge at any scale. Orphan child keys (broken
    // FK — corruption) and unreferenced parent keys (dimension rows no
    // fact touches — dead weight / pruning headroom) fall out of the
    // same join's two null sides; the per-edge readout is a 1-row
    // aggregate. Edge list = [[RefEdges]], shared with the oracle.
    "d29_ref_integrity" -> ((s, dir) => {
      RefEdges.map { case (rel, ct, ck, pt, pk) =>
        val c = load(s, dir, ct)
          .groupBy(col(ck).cast("long").as("k")).agg(count(lit(1)).as("cnt"))
        val p = load(s, dir, pt)
          .select(col(pk).cast("long").as("k")).distinct()
          .withColumn("is_p", lit(1))
        c.join(p, Seq("k"), "full_outer")
          .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_child_rows"),
            coalesce(sum(when(col("is_p").isNull, col("cnt"))), lit(0L))
              .as("n_orphan_rows"),
            sum(when(col("is_p").isNull, 1L).otherwise(0L)).as("n_orphan_keys"),
            sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_unref_parents"))
          .select(lit(rel).as("relation"), col("n_child_rows"),
            col("n_orphan_rows"), col("n_orphan_keys"), col("n_unref_parents"))
      }.reduce(_ union _).orderBy(col("relation"))
    }),

    "d27_grouping_sets" -> ((s, dir) => {
      // Two-level shape (see d2): the finest declared set is
      // (returnflag, linestatus), so the 3-set Expand re-aggregates the
      // tiny pre-aggregate instead of replicating the fact table.
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("bn"),
          sum(expr("CAST(ROUND(l_quantity * 100) AS BIGINT)")).as("bq"))
        .createOrReplaceTempView("d27_base")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               -- coalesce: empty-input identity with a direct grouping-
               -- sets count(*) (see d2)
               coalesce(sum(bn), CAST(0 AS BIGINT)) AS n_items,
               CAST(sum(bq) AS BIGINT) AS qty_cents
        FROM d27_base
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        ORDER BY gid, l_returnflag, l_linestatus""")
    }),

    // d26 — first-touch attribution: every purchase credits the FIRST
    // event type of its session (d4's 30-min-gap sessionization rule,
    // all users). Three windows, all partitioned by user or
    // (user, session) — no global ordering anywhere; purchase value in
    // exact cents (the b4/c51 scaled-long contract). The marketing-
    // attribution readout every event pipeline ships next to its funnel
    // (d23) and retention (d24) reports.
    "d26_attribution" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = ev
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wSess = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts"), col("event_id"))
      sess.withColumn("first_touch", first(col("event_type")).over(wSess))
        .filter(col("event_type") === "purchase")
        .groupBy(col("first_touch"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("revenue_cents"))
        .orderBy(col("first_touch"))
    }),

    // d23 — ordered funnel: view → click → purchase, each step within 7
    // days of the previous, first qualifying event per user per step.
    // Shape: per-step conditional-min aggregates joined back on user_id
    // — each step table is one row per surviving user (broadcast- or
    // hash-joinable at any scale), never a per-user event sort. All
    // comparisons in unix micros — integer end to end.
    "d23_funnel" -> ((s, dir) => {
      val weekUs = 7L * 24 * 3600 * 1000000L
      val ev = load(s, dir, "events")
        .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("us") > col("t1") && col("us") <= col("t1") + weekUs)
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("us") > col("t2") && col("us") <= col("t2") + weekUs)
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      val c1 = s1.agg(count(lit(1)).as("n_users"))
        .select(lit(1L).as("step"), lit("view").as("event_type"), col("n_users"))
      val c2 = s2.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("step"), lit("click").as("event_type"), col("n_users"))
      val c3 = s3.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("step"), lit("purchase").as("event_type"), col("n_users"))
      c1.unionByName(c2).unionByName(c3).orderBy(col("step"))
    }),

    // d24 — cohort retention: users bucketed by first-activity day
    // (integer day index = micros div 86400e6 — no date functions to
    // disagree on), n_active per (cohort, day offset ≤ 7) next to the
    // cohort size. The (user, cohort, offset) distinct bounds state to
    // users × 8, and every aggregate partial-combines map-side.
    //
    // ONE user-keyed exchange (r16, guide §2.4): cohort = min(day) OVER
    // (PARTITION BY user) replaces the groupBy(user)+self-join spelling
    // — the r15 plan scanned events 3× (ev, first, and sizes' own
    // rebuild of first) and exchanged the full table twice (user-keyed
    // aggregate + user-keyed join). The window needs the same user
    // exchange ONCE; the (user, cohort, offset) distinct then RIDES that
    // partitioning (clustering on a superset of the partition key — no
    // new exchange), and cohort_size falls out of the AGGREGATE itself:
    // a user's first-day row always survives the offset ≤ 7 filter as
    // offset 0, so users-per-cohort = n_active at offset 0 — read back
    // over the cohort-bounded counts table with a tiny window instead
    // of a second branch + join. Everything after the distinct is
    // cohort-bounded (≤ days × 8 rows). Equivalence pinned by the
    // unchanged oracle (3 scans → 1, 5 exchanges + 2 broadcasts → 3
    // exchanges of which 2 move cohort-bounded rows).
    "d24_retention" -> ((s, dir) => {
      val dayUs = 86400000000L
      val ev = load(s, dir, "events")
        .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("day"))
      val uco = ev
        .withColumn("cohort", min(col("day")).over(Window.partitionBy(col("user_id"))))
        .select(col("user_id"), col("cohort"), (col("day") - col("cohort")).as("offset"))
        .filter(col("offset") <= 7)
        .distinct()
      uco.groupBy(col("cohort"), col("offset"))
        .agg(count(lit(1)).as("n_active"))
        .withColumn("cohort_size",
          max(when(col("offset") === 0, col("n_active")))
            .over(Window.partitionBy(col("cohort"))))
        .select(col("cohort"), col("offset"), col("n_active"), col("cohort_size"))
        .orderBy(col("cohort"), col("offset"))
    }),

    // d22 — table profile: ONE scan, stack() unpivot to (col_name, v),
    // then count/exact-distinct/min/max per column. The oracle spells
    // the 5-scan UNION this avoids. The alternative single multi-
    // distinct Aggregate (5 countDistincts in one agg) was A/B'd
    // (D22Ab, sf0.1 warm): Catalyst plans it as an Expand to the same
    // 5N rows but evaluates 20 aggregate expressions over the wider
    // expanded row — consistently ~1.5× SLOWER (1.65 s vs 1.12 s), so
    // the stack spelling stays. r11 (ScanShapeAb, 10× data) replaced
    // countDistinct with an EXPLICIT two-level aggregate: a
    // (col_name, v) histogram first, then count/distinct/min/max read
    // off the histogram. countDistinct's Expand duplicated every
    // unpivoted row before the partial aggregate (gid plumbing for the
    // single-level spelling); the histogram dedups the same pairs in
    // one partial aggregate with no Expand — 2.20 s vs 2.72 s at 10×
    // (DuckDB 1.05 s), identical shuffle mass (distinct pairs only,
    // map-side combined, domain-bounded for every profiled column but
    // the key itself). r12 (ScanShapeAb d22int vs d22hist, 10×): the
    // histogram KEY is now the stack's INT ordinal, not the column-name
    // string — both histogram levels hash/compare/shuffle a flat
    // (int, double) key instead of a pointer-chased UTF8String, and the
    // name is mapped back over the 5 final rows only. Measured 1.60 s
    // vs 2.59 s (quiet) and 1.73 s vs 2.14 s (loaded box); the 5-way
    // per-column union (no stack at all, concurrent stages) was also
    // A/B'd and lost (1.83 s — five exchanges' scheduling overhead eats
    // the narrower key). Residual vs DuckDB is the partial-agg
    // throughput bounded by scan-task parallelism on the single-row-
    // group bench files, not a plan defect. NULL-SAFE by construction:
    // the null-v histogram row is kept and counted out per aggregate
    // (n counts non-null, a distinct non-null v is one histogram row,
    // min/max skip nulls), so an all-null column still yields its
    // profile row, exactly like the single-level spelling and the
    // oracle's UNION.
    "d22_table_profile" -> ((s, dir) => {
      load(s, dir, "lineitem")
        .selectExpr(
          """stack(5,
            | 0, CAST(l_orderkey AS DOUBLE),
            | 1, CAST(l_partkey AS DOUBLE),
            | 2, CAST(l_suppkey AS DOUBLE),
            | 3, CAST(l_linenumber AS DOUBLE),
            | 4, CAST(l_quantity AS DOUBLE)) AS (cid, v)""".stripMargin)
        .groupBy(col("cid"), col("v")).agg(count(lit(1)).as("c"))
        .groupBy(col("cid"))
        .agg(sum(when(col("v").isNotNull, col("c")).otherwise(0L)).as("n"),
          count(when(col("v").isNotNull, 1)).as("n_distinct"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax"))
        .select(element_at(array(lit("l_orderkey"), lit("l_partkey"),
            lit("l_suppkey"), lit("l_linenumber"), lit("l_quantity")),
            col("cid") + 1).as("col_name"),
          col("n"), col("n_distinct"), col("vmin"), col("vmax"))
        .orderBy(col("col_name"))
    }),

    // d8 — exact interpolated percentiles per group: the standard
    // (n−1)·p rank + linear interpolation definition, hash-matching
    // DuckDB's quantile_cont (approx_percentile/t-digest would not).
    // NOT spelled with percentile(): that ImperativeAggregate buffers
    // every value of a group in ONE aggregation buffer — at 100 TB an
    // OOM, not a slowdown. Instead the c47 exact-median discipline
    // generalized: (1) a (event_type, value) HISTOGRAM — the only
    // corpus-size shuffle, map-side combined; (2) a running count over
    // the histogram (per-group window over DISTINCT values, spilling
    // WindowExec state, never a per-group in-memory array); (3) each
    // percentile's two bracketing ranks (0-indexed floor/ceil of
    // (n−1)·p) located by a broadcast join — rank k lands in the unique
    // histogram row with cum−c < k ≤ cum; (4) Spark/DuckDB's shared
    // interpolation (hi−pos)·v_lo + (pos−lo)·v_hi on those two rows
    // only. Same doubles, bounded memory.
    // r16 collapse (guide §2.4 — share the exchange, drop the bracket
    // join): the group total n is a SECOND window over the SAME
    // event_type partitioning (no new exchange, no new sort — the
    // cum window's (event_type, value) sort order already satisfies
    // it), so each histogram row can test ITSELF against the two
    // bracketing ranks per percentile with plain expressions — the ns
    // aggregate, the crossJoin against the 3-row percentile table, the
    // explode and the broadcast bracket-join all disappear, and the
    // per-group readout is ONE conditional aggregate that rides the
    // window's partitioning. The arithmetic is expression-for-
    // expression the bracket-join's ((n−1)·p rank floor/ceil, same
    // double interpolation) — the unchanged oracle pins equivalence.
    // Plan: 4 exchanges + 2 broadcasts + cross join → 3 exchanges
    // (hist, window, orderBy), 1 scan as before.
    "d8_percentiles" -> ((s, dir) => {
      val hist = load(s, dir, "events")
        .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      // per-percentile bracket ranks, 0-indexed: lo = ⌊(n−1)p⌋,
      // hi = ⌈(n−1)p⌉; histogram row holds 1-indexed rank k iff
      // cum − c < k ≤ cum  ⟺  cum − c ≤ k−1 < cum (integers).
      def posOf(frac: Double) = (col("n") - 1).cast("double") * lit(frac)
      def bracket(frac: Double, suffix: String) = {
        val lo = floor(posOf(frac)).cast("long")
        val hi = ceil(posOf(frac)).cast("long")
        Seq(
          min(when(col("cum") - col("c") <= lo && lo < col("cum"), col("value")))
            .as(s"v_lo_$suffix"),
          min(when(col("cum") - col("c") <= hi && hi < col("cum"), col("value")))
            .as(s"v_hi_$suffix"))
      }
      val ps = Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
      val aggs = ps.flatMap { case (nm, f) => bracket(f, nm) } :+
        min(col("n")).as("n")
      val perGroup = cum.groupBy(col("event_type"))
        .agg(aggs.head, aggs.tail: _*)
      def q(frac: Double, suffix: String) = {
        val pos = posOf(frac)
        val lo = floor(pos).cast("long")
        val hi = ceil(pos).cast("long")
        when(hi === lo, col(s"v_lo_$suffix"))
          .otherwise((hi.cast("double") - pos) * col(s"v_lo_$suffix") +
            (pos - lo.cast("double")) * col(s"v_hi_$suffix"))
      }
      perGroup.select(col("event_type"),
          q(0.5, "p50").as("p50"), q(0.95, "p95").as("p95"),
          q(0.99, "p99").as("p99"), col("n"))
        .orderBy(col("event_type"))
    }),

    // d10 — deterministic per-group mode: the most frequent extracted
    // props value per event type (count desc, value asc tiebreak — the
    // tiebreak is what makes mode oracle-checkable). Shape: count
    // aggregate (map-side partials) + a per-group top-1 window over the
    // COUNTS table (|groups|·|values| rows, not events).
    "d10_mode_props" -> ((s, dir) => {
      val counts = load(s, dir, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("k"))
        .groupBy(col("event_type"), col("k"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("k"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("k").as("mode_k"), col("n"))
        .orderBy(col("event_type"))
    }),

    // d11 — interval (range) join: attribute each error event to the
    // 30-minute window following a purchase. The naive plan is a
    // BroadcastNestedLoopJoin on the range predicate — quadratic and
    // broadcast-bound. The scale path: EQUI-join on a 30-minute time
    // bucket (each interval spans at most 2 buckets → explode the build
    // side to both; the probe event has exactly one bucket, so a pair
    // matches at most once — no dedup pass), then the exact range filter
    // on the matched pairs only. Shuffles on the bucket key like any
    // equi-join; pairs bounded by events-per-bucket, not |p|·|e|.
    "d11_interval_join" -> ((s, dir) => {
      val ev = load(s, dir, "events")
      val bucketUs = 30L * 60 * 1000000
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts").as("p_ts"))
        .withColumn("bkt", explode(array(
          expr(s"unix_micros(p_ts) div $bucketUs"),
          expr(s"unix_micros(p_ts) div $bucketUs + 1"))))
      val e = ev.filter(col("event_type") === "error")
        .select(col("ts").as("e_ts"),
          expr(s"unix_micros(ts) div $bucketUs").as("bkt"))
      p.join(e, "bkt")
        .filter(col("e_ts") >= col("p_ts") &&
          col("e_ts") < col("p_ts") + expr("INTERVAL 30 MINUTES"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_errors"),
          expr("unix_micros(min(e_ts))").as("first_error_us"))
        .orderBy(col("event_id"))
    }),

    // d9 — latest-per-key dedup (the "current state" query): keep each
    // user's most recent event per type; ties broken by event_id.
    // WRITTEN as the canonical window row_number + filter — and PLANNED
    // as the bounded-heap TopKPerKey operator by the
    // plans.RowNumberTopKRewrite optimizer rule (installed here): the
    // declarative shape users write, the no-sort plan the engine runs.
    // PlanSpec asserts the rewrite fired; the unchanged oracle proves
    // it row-identical.
    "d9_latest_event" -> ((s, dir) => {
      graft.plans.TopKInstall.install(s)
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      load(s, dir, "events")
        .filter(col("user_id") % 100 === 0)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"), col("value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // d4 — sessionization: a session break is a >30-minute gap between a
    // user's consecutive events; session ids are a running sum of breaks
    // (lag + cumulative window — the batch formulation of what
    // session_window does in streaming). Output: per-user session stats.
    "d4_sessionize" -> ((s, dir) => {
      val ev = load(s, dir, "events")
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"), col("ts"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val flagged = ev
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // d12 — grouped list aggregation (LISTAGG/string_agg): per source,
    // the sorted roster of distinct langs. collect_set dedups map-side;
    // the sort happens on the ≤|langs| element array per group, not on
    // rows — the cheap, deterministic way to emit list-valued columns.
    "d12_lang_inventory" -> ((s, dir) => {
      val docs = load(s, dir, "documents")
      docs.groupBy(col("source"))
        .agg(concat_ws(",", sort_array(collect_set(col("lang")))).as("langs"),
          countDistinct(col("lang")).as("n_langs"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    }),

    // d13 — above-average entities (scalar-subquery shape): customers
    // whose lifetime order value exceeds 2× the mean. The comparison is
    // integer CROSS-MULTIPLICATION on scaled-cent longs (totc·ncust >
    // 2·grand) — no division anywhere, so exact in both engines. The
    // 1-row global aggregate broadcasts into the per-customer table (the
    // a7 discipline); products stay < 2^63 up to ~10⁹ customers × 10⁹
    // cents — upcast to decimal beyond that.
    "d13_big_spenders" -> ((s, dir) => {
      val cents = expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
      val per = load(s, dir, "orders")
        .select(col("o_custkey"), cents.as("tc"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("tc")).as("totc"))
      val glob = per.agg(sum(col("totc")).as("grand"), count(lit(1)).as("ncust"))
      per.crossJoin(broadcast(glob))
        .filter(col("totc") * col("ncust") > lit(2) * col("grand"))
        .join(load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          (col("totc").cast("double") / 100.0).as("total_spend"))
        .orderBy(col("total_spend").desc, col("c_custkey"))
    }),

    // d14 — moving window frame (ROWS BETWEEN 2 PRECEDING AND CURRENT):
    // 3-event trailing sum/avg per sampled user. Sums ride the scaled-
    // cent contract inside the frame; the frame count divides an exact
    // long-turned-double, so the average is bit-identical cross-engine.
    // Partitioned by user — no global window anywhere.
    "d14_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      load(s, dir, "events")
        .filter(col("user_id") % 100 === 0)
        .withColumn("vc", expr("CAST(ROUND(value * 100) AS BIGINT)"))
        .withColumn("mov_sum_c", sum(col("vc")).over(w))
        .withColumn("mov_n", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
          (col("mov_sum_c").cast("double") / 100.0).as("mov_sum"),
          (col("mov_sum_c").cast("double") / 100.0 / col("mov_n")).as("mov_avg"))
        .orderBy(col("user_id"), col("ts_s"), col("event_id"))
    }),

    // d15 — Pearson correlation from EXACT integer sums: value (cents)
    // vs the props k, per event type. The six component sums are exact
    // longs (< 2^53, convert to double losslessly); the coefficient is
    // then a fixed tree of IEEE ops — every multiply/subtract/sqrt/
    // divide is correctly rounded, so identical operands + identical
    // association ⇒ bit-identical result in both engines (the built-in
    // corr() has neither property: its accumulation order floats).
    "d15_correlation" -> ((s, dir) => {
      val base = load(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("x"),
          get_json_object(col("props"), "$.k").cast("long").as("y"))
      val sums = base.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"))
      sums.select(col("event_type"), col("n").cast("long").as("n_events"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("pearson_r"))
        .orderBy(col("event_type"))
    }),

    // d16 — per-key top-k via graft's own physical operator
    // (plans.TopKPerKey: bounded heaps around one key exchange — no
    // sort of the input anywhere, map-side partial bounds the shuffle
    // to k rows per key per partition). The oracle replays the
    // row_number window semantics it replaces; TopKSpec asserts the
    // two-phase no-sort plan shape.
    "d16_topk_native" -> ((s, dir) => {
      graft.plans.TopK.perKey(load(s, dir, "events"),
          Seq("event_type"), Seq("value" -> false, "event_id" -> true), 5)
        .select(col("event_type"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("value").desc, col("event_id"))
    }),

    // d32 — per-group OLS trend (the d15 discipline applied to
    // regression): monthly revenue per nation, then the least-squares
    // slope over the (month-index, revenue-cents) points from the FIVE
    // exact integer sums n/Σx/Σy/Σxy/Σx² — two shuffles total, both
    // key-bounded (nation×month, then nation), never a per-point
    // window or sort. num = n·Σxy − Σx·Σy and den = n·Σx² − (Σx)² are
    // computed in BIGINT (exact: at sf0.1 Σxy ≤ ~1e12, num ≤ ~1e14 —
    // 2^53 headroom ~100×; a 100 TB run widens the two products to
    // DECIMAL(38,0), the d18 discipline) so the trend SIGN is integer-
    // exact; the slope itself is one long→double cast per side and one
    // IEEE division — bit-identical cross-engine (den > 0 whenever a
    // nation has ≥ 2 distinct months; nullif guards the degenerate
    // single-month group instead of dividing by zero).
    "d32_ols_trend" -> ((s, dir) => {
      val monthly = load(s, dir, "orders")
        .join(load(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(load(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("x"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("n_name"), col("x"))
        .agg(sum(col("cents")).as("y"))
      val sums = monthly.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      sums.select(col("n_name"), col("n").as("n_months"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
        .select(col("n_name"), col("n_months"),
          (col("num").cast("double") /
            nullif(col("den"), lit(0L)).cast("double")).as("slope_cents_per_month"),
          when(col("num") > 0, "up").when(col("num") < 0, "down")
            .otherwise("flat").as("trend"))
        .orderBy(col("n_name"))
    }))

  /** The d29 oracle's per-edge blocks, generated from [[RefEdges]]. */
  private def refEdgeSql: String = RefEdges.map { case (rel, ct, ck, pt, pk) =>
    s"""SELECT '$rel' AS relation,
       |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_child_rows,
       |  CAST(coalesce(sum(CASE WHEN p.k IS NULL THEN cnt END), 0) AS BIGINT)
       |    AS n_orphan_rows,
       |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
       |  CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unref_parents
       |FROM (SELECT CAST($ck AS BIGINT) AS k, count(*) AS cnt FROM $ct GROUP BY 1) c
       |FULL JOIN (SELECT DISTINCT CAST($pk AS BIGINT) AS k FROM $pt) p ON c.k = p.k""".stripMargin
  }.mkString("\nUNION ALL\n")

  def oracle: Map[String, String] = Map(
    "d30_scd2" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |ch AS (SELECT user_id, event_id, event_type, ts FROM ev
        |       WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (SELECT event_type, epoch_us(ts) AS vf,
        |        lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS vt
        |      FROM ch)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_versions,
        |       CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |       CAST(coalesce(sum((vt - vf) // 1000000), 0) AS BIGINT) AS closed_s
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d29_ref_integrity" ->
      s"SELECT * FROM (\n$refEdgeSql\n) ORDER BY relation",
    "d31_date_spine" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |s AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |      FROM b),
        |t AS (SELECT DISTINCT event_type FROM e),
        |d AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2)
        |SELECT t.event_type, strftime(s.day, '%Y-%m-%d') AS day,
        |       coalesce(d.n, CAST(0 AS BIGINT)) AS n_events
        |FROM s CROSS JOIN t LEFT JOIN d ON d.event_type = t.event_type AND d.day = s.day
        |ORDER BY t.event_type, strftime(s.day, '%Y-%m-%d')""".stripMargin,
    "d19_trailing_1h" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id % 100 = 0)
        |SELECT user_id, event_id, ts_us,
        |       CAST(sum(vc) OVER w AS DOUBLE) / 100.0 AS trail_sum,
        |       CAST(count(*) OVER w AS BIGINT) AS trail_n
        |FROM base
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "d20_set_ops_all" ->
      """WITH early AS (SELECT o_custkey FROM orders
        |               WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'),
        |late AS (SELECT o_custkey FROM orders
        |         WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'),
        |u AS (
        |  SELECT o_custkey, 'both_all' AS cohort
        |  FROM (SELECT o_custkey FROM early INTERSECT ALL SELECT o_custkey FROM late)
        |  UNION ALL
        |  SELECT o_custkey, 'lapsed_all' AS cohort
        |  FROM (SELECT o_custkey FROM early EXCEPT ALL SELECT o_custkey FROM late))
        |SELECT cohort, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |       min(o_custkey) AS min_key, max(o_custkey) AS max_key
        |FROM u GROUP BY cohort ORDER BY cohort""".stripMargin,
    "d25_wow_growth" ->
      """WITH wk AS (SELECT event_type, epoch_us(ts) // 604800000000 AS week,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY event_type, week),
        |l AS (SELECT event_type, week, n,
        |        lag(n, 1) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
        |      FROM wk)
        |SELECT event_type, week, n, prev_n,
        |       CASE WHEN prev_n IS NOT NULL
        |            THEN n * 1000 // prev_n END AS ratio_pml
        |FROM l ORDER BY event_type, week""".stripMargin,
    "d28_window_family" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey, c_acctbal,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  lag(c_acctbal, 1) OVER w AS prev_bal,
        |  lead(c_acctbal, 1) OVER w AS next_bal,
        |  nth_value(c_acctbal, 2) OVER wf AS second_bal,
        |  last_value(c_acctbal) OVER wf - first_value(c_acctbal) OVER wf AS span
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey),
        |  wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_custkey""".stripMargin,
    "d27_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |         AS qty_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "d26_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
        |lg AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |       FROM ev),
        |f AS (SELECT *, CASE WHEN prev_ts IS NULL
        |             OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |             THEN 1 ELSE 0 END AS brk FROM lg),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f),
        |ft AS (SELECT *, first_value(event_type) OVER (
        |         PARTITION BY user_id, session_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch
        |       FROM s)
        |SELECT first_touch, CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM ft WHERE event_type = 'purchase'
        |GROUP BY first_touch ORDER BY first_touch""".stripMargin,
    "d23_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 AND us <= t1 + 604800000000
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + 604800000000
        |       GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3)
        |ORDER BY step""".stripMargin,
    "d24_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1),
        |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS "offset"
        |      FROM e JOIN f USING (user_id) WHERE e.day - f.cohort <= 7),
        |r AS (SELECT cohort, "offset", CAST(count(*) AS BIGINT) AS n_active
        |      FROM a GROUP BY cohort, "offset")
        |SELECT r.cohort, r."offset", r.n_active, sz.cohort_size
        |FROM r JOIN sz USING (cohort) ORDER BY r.cohort, r."offset"""".stripMargin,
    "d22_table_profile" ->
      """WITH u AS (
        |  SELECT 'l_orderkey' AS col_name, CAST(l_orderkey AS DOUBLE) AS v FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_quantity', CAST(l_quantity AS DOUBLE) FROM lineitem)
        |SELECT col_name, CAST(count(v) AS BIGINT) AS n,
        |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |       min(v) AS vmin, max(v) AS vmax
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,
    "d21_merge_apply" ->
      """WITH m AS (SELECT doc_id, lang, n_chars, doc_id % 10 AS md FROM documents),
        |ch AS (SELECT CASE WHEN md = 2 THEN doc_id + 1000000000 ELSE doc_id END AS key,
        |         CASE WHEN md = 0 THEN 'D' WHEN md = 1 THEN 'U' ELSE 'I' END AS op,
        |         lang, CASE WHEN md = 1 THEN n_chars + 7 ELSE n_chars END AS new_chars
        |       FROM m WHERE md <= 2),
        |upserts AS (SELECT s.doc_id, s.lang,
        |         coalesce(c.new_chars, s.n_chars) AS chars,
        |         CASE WHEN c.op = 'U' THEN 'updated' ELSE 'kept' END AS origin
        |       FROM documents s
        |       LEFT JOIN (SELECT * FROM ch WHERE op <> 'I') c ON s.doc_id = c.key
        |       WHERE c.op IS NULL OR c.op <> 'D'),
        |merged AS (SELECT * FROM upserts UNION ALL
        |           SELECT key AS doc_id, lang, new_chars AS chars, 'inserted' AS origin
        |           FROM ch WHERE op = 'I')
        |SELECT lang, origin, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM merged GROUP BY lang, origin ORDER BY lang, origin""".stripMargin,
    "d17_acctbal_deciles" ->
      """WITH d AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_acctbal,
        |         CAST(ntile(10) OVER (PARTITION BY c_nationkey
        |           ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile
        |  FROM customer)
        |SELECT nationkey, decile, CAST(count(*) AS BIGINT) AS n,
        |       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM d GROUP BY nationkey, decile ORDER BY nationkey, decile""".stripMargin,
    "d18_cube_orders" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |       CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
        |         / 100.0 AS sum_total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, orderstatus, orderpriority""".stripMargin,
    "d12_lang_inventory" ->
      """WITH dl AS (SELECT DISTINCT source, lang FROM documents),
        |ag AS (
        |  SELECT source, string_agg(lang, ',' ORDER BY lang) AS langs,
        |         CAST(count(*) AS BIGINT) AS n_langs
        |  FROM dl GROUP BY source),
        |cn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM documents GROUP BY source)
        |SELECT ag.source, ag.langs, ag.n_langs, cn.n_docs
        |FROM ag JOIN cn USING (source) ORDER BY source""".stripMargin,
    "d13_big_spenders" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS totc
        |  FROM orders GROUP BY o_custkey),
        |tot AS (SELECT CAST(sum(totc) AS BIGINT) AS grand,
        |               CAST(count(*) AS BIGINT) AS ncust FROM per)
        |SELECT p.o_custkey AS c_custkey, c.c_name,
        |       CAST(p.totc AS DOUBLE) / 100.0 AS total_spend
        |FROM per p CROSS JOIN tot g
        |JOIN customer c ON p.o_custkey = c.c_custkey
        |WHERE p.totc * g.ncust > 2 * g.grand
        |ORDER BY total_spend DESC, c_custkey""".stripMargin,
    "d14_moving_avg" ->
      """WITH base AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id % 100 = 0),
        |framed AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(vc) OVER w AS BIGINT) AS mov_sum_c,
        |    CAST(count(*) OVER w AS BIGINT) AS mov_n
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |       CAST(mov_sum_c AS DOUBLE) / 100.0 AS mov_sum,
        |       CAST(mov_sum_c AS DOUBLE) / 100.0 / mov_n AS mov_avg
        |FROM framed ORDER BY user_id, ts_s, event_id""".stripMargin,
    "d15_correlation" ->
      """WITH base AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        |         CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS y
        |  FROM events),
        |sums AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy
        |  FROM base GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |       (n * sxy - sx * sy) /
        |         (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS pearson_r
        |FROM sums ORDER BY event_type""".stripMargin,
    "d16_topk_native" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 5
        |ORDER BY event_type, value DESC, event_id""".stripMargin,
    "d1_props_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS DOUBLE)
        |         / count(*) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d2_rollup_pricing" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "d3_pivot_events" ->
      """SELECT user_id % 10 AS user_bucket,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |       CAST(count(*) AS BIGINT) AS n_total
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin,
    "d6_value_histogram" ->
      """SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,
    "d7_edit_distance" ->
      s"""WITH p AS (
        |  SELECT lang, doc_id, substr(text, 1, 40) AS prefix
        |  FROM documents WHERE doc_id % 10 = 0),
        |tk AS (
        |  SELECT lang, doc_id, unnest(list_slice(string_split(prefix, ' '), 1, 3)) AS tok
        |  FROM p),
        |tkf0 AS (SELECT lang, doc_id, tok FROM tk WHERE tok <> ''),
        |blockdf AS (SELECT lang, tok FROM tkf0 GROUP BY lang, tok
        |            HAVING count(*) <= ${Relational.D7_DF_CAP}),
        |tkf AS (SELECT t.lang, t.doc_id, t.tok
        |        FROM tkf0 t JOIN blockdf b ON t.lang = b.lang AND t.tok = b.tok),
        |cand AS (
        |  SELECT DISTINCT a.lang, a.doc_id AS da, b.doc_id AS db
        |  FROM tkf a JOIN tkf b ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id)
        |SELECT c.lang, c.da, c.db,
        |       CAST(levenshtein(pa.prefix, pb.prefix) AS BIGINT) AS dist
        |FROM cand c JOIN p pa ON pa.doc_id = c.da
        |            JOIN p pb ON pb.doc_id = c.db
        |WHERE levenshtein(pa.prefix, pb.prefix) <= 26
        |ORDER BY dist, da, db LIMIT 30""".stripMargin,
    "d5_set_ops" ->
      """WITH early AS (
        |  SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'),
        |late AS (
        |  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'),
        |cohorts AS (
        |  SELECT o_custkey, 'both_eras' AS cohort FROM (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late)
        |  UNION ALL
        |  SELECT o_custkey, 'lapsed' AS cohort FROM (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late))
        |SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers,
        |       min(o_custkey) AS min_key, max(o_custkey) AS max_key
        |FROM cohorts GROUP BY cohort ORDER BY cohort""".stripMargin,
    "d8_percentiles" ->
      """SELECT event_type,
        |       quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.95) AS p95,
        |       quantile_cont(value, 0.99) AS p99,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d11_interval_join" ->
      """WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT ts FROM events WHERE event_type = 'error')
        |SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_errors,
        |       CAST(epoch_us(min(e.ts)) AS BIGINT) AS first_error_us
        |FROM p JOIN e ON e.ts >= p.ts AND e.ts < p.ts + INTERVAL 30 MINUTE
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,
    "d10_mode_props" ->
      """WITH counts AS (
        |  SELECT event_type,
        |         CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, k AS mode_k, n FROM (
        |  SELECT event_type, k, n,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY n DESC, k) AS rn
        |  FROM counts)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "d9_latest_event" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 100 = 0)
        |SELECT user_id, event_type, event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, value
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "d4_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts FROM events WHERE user_id % 10 = 0),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessioned AS (
        |  SELECT user_id, ts,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
        |FROM sessioned GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "d32_ols_trend" ->
      """WITH monthly AS (
        |  SELECT n.n_name,
        |         CAST((year(o.o_orderdate) - 1995) * 12
        |           + month(o.o_orderdate) - 1 AS BIGINT) AS x,
        |         CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS y
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, x),
        |sums AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM monthly GROUP BY n_name),
        |nd AS (
        |  SELECT n_name, n AS n_months,
        |         n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
        |  FROM sums)
        |SELECT n_name, n_months,
        |       CAST(num AS DOUBLE) / CAST(nullif(den, 0) AS DOUBLE)
        |         AS slope_cents_per_month,
        |       CASE WHEN num > 0 THEN 'up' WHEN num < 0 THEN 'down'
        |            ELSE 'flat' END AS trend
        |FROM nd ORDER BY n_name""".stripMargin)
}
