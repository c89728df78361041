package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group B — the extension query surface (SURVEY §2.3 Group B): TPC-H-ish
  * analytics plus the first slice of the LLM-data-pipeline operators over
  * `documents`. Every aggregate over the testdata's float64 measures runs
  * exact arithmetic — scaled-long on hot fact scans ([[Tables.s2]]),
  * decimal elsewhere ([[Tables.dec2]]/[[Tables.fac4]]) — so results are
  * bit-identical to the DuckDB oracle regardless of partitioning (the two
  * spellings produce identical doubles while per-group scaled sums stay
  * below 2^53; see the s2 scaladoc).
  */
object GroupB {
  import Tables.{dec2, fac4, load, s2}

  /** b2's document-frequency cap: tokens posting in more docs than this
    * are treated as stop words (dropped from the token universe). An
    * ABSOLUTE cap — not a fraction of N — is what bounds the inverted-
    * index self-join at scale: pairs ≤ vocab × CAP² no matter the corpus
    * size. 256 is a no-op at sf ≤ 0.01 (max df 34) and trims the hottest
    * ~10% of the synthetic vocab at sf0.1 (max df 325).
    */
  val B2_DF_CAP = 256

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B1 — exact dedup by full-content hash, reported per source: at 100 TB
    // this is the hash-groupBy dedup pass (shuffle on a 16-byte hash, never
    // on the text itself).
    "b1_exact_dedup" -> ((s, dir) => {
      load(s, dir, "documents")
        // c24's NULL rule: a NULL-text row hashes to the '' sentinel so
        // count(DISTINCT) sees it — md5 output is 32 hex chars, never
        // '', so the sentinel cannot collide. Twin, oracle and the
        // SqlEntry text all apply the same coalesce.
        .select(col("source"),
          coalesce(md5(col("text").cast("binary")), lit("")).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dupes"))
        .orderBy(col("source"))
    }),

    // B1b — normalized (4-token-prefix) dedup: groups that collide after
    // normalization, with exemplars. The listing twin of B1.
    "b1b_prefix_dedup" -> ((s, dir) => {
      load(s, dir, "documents")
        .select(col("doc_id"),
          // limit-5 split: only the 4-token prefix is kept — don't
          // tokenize the rest of the document (MembershipStream rule)
          md5(array_join(slice(split(col("text"), " ", 5), 1, 4), " ").cast("binary")).as("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("exemplar"),
          concat_ws(",", sort_array(collect_list(col("doc_id").cast("string")))).as("doc_ids"))
        .filter(col("n_docs") > 1)
        .orderBy(col("h"))
    }),

    // B2 — n-gram (token-set) Jaccard similarity, blocked by lang. The
    // blocking key bounds the pair space; the token-postings self-join is
    // the classic "similarity join via inverted index" shape that scales
    // by shuffling on token, never materializing the full cross product.
    //
    // DOCUMENT-FREQUENCY CAP: the self-join is quadratic in each token's
    // posting list, and a stop-word ("the") posts in nearly every doc —
    // at corpus scale one hot token contributes ~N²/L pairs. Tokens with
    // df > B2_DF_CAP are dropped from the token UNIVERSE (stop-word
    // removal: sizes and intersections both run over the capped set), so
    // every posting list is ≤ CAP and total pairs are ≤ V·CAP² — linear
    // in vocabulary, independent of corpus size. Semantics: Jaccard over
    // informative tokens; a ubiquitous token carries no dedup signal
    // anyway. The oracle applies the identical cap.
    "b2_jaccard_pairs" -> ((s, dir) => {
      val toks0 = load(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .distinct()
      val dfCap = toks0.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= GroupB.B2_DF_CAP)
        .select(col("lang"), col("tok"))
      val toks = toks0.join(dfCap, Seq("lang", "tok"))
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val a = toks.select(col("lang"), col("doc_id").as("da"), col("tok"))
      val b = toks.select(col("lang"), col("doc_id").as("db"), col("tok"))
      val inter = a.join(b, Seq("lang", "tok")).filter(col("da") < col("db"))
        .groupBy(col("lang"), col("da"), col("db")).agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("sz", "sa"), "da")
        .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("sz", "sb"), "db")
        .select(col("lang"), col("da"), col("db"),
          (col("inter").cast("double") / (col("sa") + col("sb") - col("inter"))).as("jaccard"))
        .orderBy(col("jaccard").desc, col("da"), col("db"))
        .limit(20)
    }),

    // B3 — token frequency per lang, top-10 terms (text analysis).
    "b3_token_freq" -> ((s, dir) => {
      val toks = load(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val counts = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tok"))
      counts.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .orderBy(col("lang"), col("rn"))
    }),

    // B4 — pricing summary (TPC-H Q1 shape). Sums run over exactly-scaled
    // LONGS (cents / 1e4-scaled factors): same rational values as the
    // oracle's decimal formulation — scaled totals stay < 2^53, so both
    // engines' int→double conversions are exact — but the hash aggregate
    // accumulates primitive longs inside whole-stage codegen instead of
    // BigDecimal. One shuffle of 6 rows/task (map-side partials).
    "b4_pricing_summary" -> ((s, dir) => {
      // ROUND spelling, not DECIMAL-cast: same exact scaled integers
      // per row (Tables.s2 scaladoc), but the decimal×100 product has
      // precision > 18 and boxes a BigDecimal per fact row — these four
      // run on every scanned lineitem.
      val qtyC = expr("CAST(ROUND(l_quantity * 100) AS BIGINT)")
      val priceC = expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
      val discF = expr("CAST(ROUND((1 - l_discount) * 10000) AS BIGINT)")
      val chargeF = expr(
        "CAST(ROUND((1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)")
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .select(col("l_returnflag"), col("l_linestatus"), qtyC.as("q"), priceC.as("p"),
          (priceC * discF).as("pd"), (priceC * chargeF).as("pc"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(col("q")).cast("double") / 100.0).as("sum_qty"),
          (sum(col("p")).cast("double") / 100.0).as("sum_base_price"),
          (sum(col("pd")).cast("double") / 1.0e6).as("sum_disc_price"),
          (sum(col("pc")).cast("double") / 1.0e6).as("sum_charge"),
          (sum(col("q")).cast("double") / 100.0 / count(lit(1))).as("avg_qty"),
          (sum(col("p")).cast("double") / 100.0 / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // B5 — shipping-priority revenue (TPC-H Q3 shape): customer and orders
    // join down to lineitem; customer is broadcast-size at any SF where
    // dims stay < ~1% of facts, and AQE handles it otherwise.
    "b5_top_revenue" -> ((s, dir) => {
      val cut = lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00"))
      val cust = load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = load(s, dir, "orders").filter(col("o_orderdate") < cut)
      val li = load(s, dir, "lineitem").filter(col("l_shipdate") > cut)
      broadcast(cust)
        .join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((sum(s2(col("l_extendedprice")) * s2(lit(1) - col("l_discount")))
          .cast("double") / lit(10000.0)).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        // Timestamps cross the engine boundary as strings: Spark parquet is
        // UTC-adjusted, DuckDB naive — formatting removes the ambiguity.
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
          col("o_orderpriority"), col("revenue"))
    }),

    // B8 — large-volume orders (TPC-H Q18 shape): orders whose total
    // lineitem quantity exceeds a threshold, with order attributes. The
    // HAVING-filtered aggregate is small at bench SFs and AQE's runtime
    // size check broadcasts it then — but NO broadcast() hint: at 100 TB
    // "a few % of orders" is 10⁸+ rows, past the broadcast hard limit,
    // and a forced hint would fail the job exactly where the shuffle
    // join is the right plan. Quantity sums ride the b4 scaled-long
    // contract.
    "b8_big_orders" -> ((s, dir) => {
      val qtyC = expr("CAST(ROUND(l_quantity * 100) AS BIGINT)")
      val big = load(s, dir, "lineitem")
        .select(col("l_orderkey"), qtyC.as("q"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("q")).as("sq"))
        .filter(col("sq") > 250L * 100)
      load(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("sq").cast("double") / 100.0).as("sum_qty"), col("o_totalprice"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(30)
    }),

    // B9 — local supplier volume (TPC-H Q5 shape): the 6-way join.
    // nation⋈region is genuinely tiny → explicit broadcast; supplier
    // gets NO hint (small enough for the static broadcast threshold at
    // bench SFs; a shuffle join at 100 TB — AQE's call either way is
    // cheap because the suppkey join is the LAST fact edge). The
    // customer join and the orders⋈lineitem join are PINNED
    // shuffle_hash (r15, the b12/c55 discipline): at bench sizes the
    // date-filtered ord⋈cust side sits right at AQE's broadcast
    // threshold (~13 MB at 10×), and the runtime flip between broadcast
    // and shuffle made the query BIMODAL — passes 6.6/1.4/4.0 s at 10×
    // (bench_scale.json r14): two different plans alternating pass to
    // pass. Neither broadcast is ADMISSIBLE at 100 TB (customer/5 and
    // the month's ord⋈cust output are both far past any broadcast
    // budget there), so the pins cost nothing at scale and buy a
    // deterministic plan at the AQE-off controlled cost (1.45 s at 10×
    // — ScanShapeAb) instead of a 1.4–6.6 s lottery.
    "b9_local_supplier_volume" -> ((s, dir) => {
      val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val asianNations = load(s, dir, "nation")
        .join(load(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = load(s, dir, "customer")
        .join(broadcast(asianNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = load(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (s2(col("l_extendedprice")) * s2(lit(1) - col("l_discount"))).as("rev"))
      val supp = load(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      ord.join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
        .hint("shuffle_hash")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(col("rev")).cast("double") / lit(10000.0)).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // B10 — promo revenue share by brand (TPC-H Q14 shape): lineitem ⋈
    // part on partkey — the fact⋈dim join dimension the b-suite didn't
    // exercise yet. Conditional decimal sums stay exact; the share
    // divides two exactly-converted doubles (IEEE division is correctly
    // rounded, so the quotient is bit-identical cross-engine).
    "b10_promo_share" -> ((s, dir) => {
      val rev = (s2(col("l_extendedprice")) * s2(lit(1) - col("l_discount"))).as("rev")
      val li = load(s, dir, "lineitem").select(col("l_partkey"), rev)
      val part = load(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_type"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          (sum(when(col("p_type") === "PROMO", col("rev")).otherwise(lit(0L)))
            .cast("double") / lit(10000.0)).as("promo_revenue"),
          (sum(col("rev")).cast("double") / lit(10000.0)).as("total_revenue"))
        .select(col("p_brand"), col("promo_revenue"), col("total_revenue"),
          (col("promo_revenue") / col("total_revenue")).as("promo_share"))
        .orderBy(col("p_brand"))
    }),

    // B11 — volume shipping between nation pairs (TPC-H Q7 shape): the
    // two-sided dimension filter. Both the supplier AND customer sides
    // are pre-filtered to the two nations BEFORE touching the fact
    // backbone — the classic Q7 plan: the nation predicate prunes
    // supplier/customer first, so the lineitem⋈orders shuffle carries
    // only matching rows; the cross-pair (same-nation) exclusion is a
    // cheap post-join filter. Only nation is broadcast-hinted (b9
    // discipline); revenue rides the b4 exact-decimal contract.
    "b11_nation_volume" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_3")
      val nat = load(s, dir, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey"), col("n_name"))
      val supp = load(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = load(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      // orders joins its (nation-filtered, ~2/25 of customers) dim
      // FIRST, so only the pair's ~8% of orders reaches the lineitem
      // join. Exchange-mass arithmetic (li ≈ 4× orders rows): this
      // spelling moves orders@custkey + 0.08·orders@orderkey +
      // 0.32·orders-worth of li@orderkey; the join-li-first spelling
      // moves orders@orderkey + the same li mass + 0.32·orders-worth
      // of JOIN OUTPUT re-exchanged @custkey — ~0.3 orders-masses
      // more. Locally the extra stage costs ~0.25 s in scheduling
      // (1.31→1.56 s measured); at 100 TB the saved output exchange
      // dominates — the b8/b9 rule of planning for the cluster, not
      // the bench box.
      val ord = load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      val li = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (s2(col("l_extendedprice")) * s2(lit(1) - col("l_discount"))).as("rev"))
      li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg((sum(col("rev")).cast("double") / lit(10000.0)).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // B12 — waiting suppliers (TPC-H Q21 shape, adapted: no receipt/
    // commit dates in the schema, so "late" = shipped > 60 days after
    // the order date): suppliers whose lineitem was late on a
    // multi-supplier order where NO other supplier was late — the
    // correlated EXISTS / NOT EXISTS pair, expressed as left-semi and
    // left-anti joins on (orderkey, suppkey≠). Both shuffles key on
    // orderkey; at 100 TB that is the same exchange the late-flag join
    // already created, so AQE reuses the partitioning.
    // B13 — top supplier per part by revenue (the TPC-H Q2 "min-cost
    // supplier" shape re-expressed over lineitem, since the testdata has
    // no partsupp): aggregate (part, supp) revenue exactly, then argmax
    // per part as a row_number()=1 filter — which RowNumberTopKRewrite
    // plans as the TopKPerKey HEAP operator (k=1 per part, no per-part
    // sort; PlanSpec asserts it). The heap after an aggregate is the
    // at-scale shape: the window form would sort every part's supplier
    // list; the heap keeps one row per part per partition.
    //
    // ONE exchange, integer cents (r9 verdict item 1, measured in
    // ScanShapeAb at 10× data): repartitioning the RAW rows on
    // l_partkey satisfies BOTH the (part, supp) aggregate (part ⊆ the
    // grouping keys, so ClusteredDistribution holds) and the per-part
    // heap — the declared two-exchange plan paid a second full shuffle
    // of the aggregate output. Revenue sums exact cents as longs
    // (primitive codegen adds, no Decimal objects) and unscales once at
    // the end: group sums ≪ 2^53 cents, so cents/100.0 is the same
    // correctly-rounded double as CAST(decimal_sum AS DOUBLE) — the
    // unchanged oracle proves it. Forgoing the pre-exchange partial
    // aggregate is deliberate: (part, supp) keys are nearly unique per
    // scan task at every SF of this corpus (594,330 distinct pairs per
    // 600,000 rows), so map-side combine bought no compression while
    // the extra exchange cost 1.76× (ScanShapeAb 10×: 2.52 s vs 4.43 s
    // two-exchange cents, 5.09 s declared decimal; DuckDB 1.80 s).
    "b13_part_top_supplier" -> ((s, dir) => {
      graft.plans.TopKInstall.install(s)
      val ps = load(s, dir, "lineitem")
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(expr(
          "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
          .as("rev_c"),
          count(lit(1)).as("n_items"))
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("rev_c").desc, col("l_suppkey"))
      ps.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_partkey"), col("l_suppkey").as("top_suppkey"),
          (col("rev_c").cast("double") / 100.0).as("revenue"), col("n_items"))
        .orderBy(col("l_partkey"))
    }),

    "b12_waiting_suppliers" -> ((s, dir) => {
      // Q21 as ONE orderkey backbone instead of semi+anti self-joins
      // (r13). The EXISTS/NOT-EXISTS pair is a per-order predicate:
      // a late row survives iff its order has ≥ 2 distinct suppliers
      // (someone else to wait ON) and exactly 1 distinct LATE supplier
      // (this one — any other late supplier kills the anti join). Both
      // are order-level counts, so the whole query collapses to
      // lineitem⋈orders → per-(order,supplier) late-row counts →
      // per-order supplier census — and because the join exchanges on
      // orderkey, BOTH aggregates ride that same partitioning (groupBy
      // keys containing the join key need no new exchange): 1 lineitem
      // scan + 2 exchanges total, where the self-join spelling scanned
      // lineitem 3× and exchanged ~6× (its `late` subplan was built
      // twice). The oracle keeps the EXISTS spelling — the rewrite's
      // equivalence is exactly what it pins. Same-session 10× A/B
      // (ScaleSmoke conditions): 9.4 → 4.3 s; sf0.1 1.25 → 0.83 s.
      // shuffle_hash, not broadcast: a broadcast orders side leaves the
      // join output file-partitioned, so BOTH aggregates below would
      // re-exchange (measured 7.9 s at 10×); shuffling the join on
      // orderkey hands the aggregates their distribution for free —
      // and is the only join shape orders admits at 100 TB anyway.
      val flagged = load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(load(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
            .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      val perPair = flagged
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(sum(when(col("late"), 1L).otherwise(0L)).as("n_late_rows"))
      val waiting = perPair
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("n_late_rows") > 0, 1L).otherwise(0L)).as("n_late_supp"),
          max(when(col("n_late_rows") > 0, col("l_suppkey"))).as("late_supp"),
          sum(col("n_late_rows")).as("sum_late_rows"))
        .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      waiting
        .join(load(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("sum_late_rows")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // B6 — tumbling 1-hour event windows. The expression IS the streaming
    // twin's (one definition — backfill and live paths cannot drift).
    "b6_hourly_events" -> ((s, dir) => {
      graft.streaming.EventStream.hourlyRollup(load(s, dir, "events"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // B7 — as-of join: for each sampled anchor event, the user's latest
    // strictly-earlier event — via graft.operators.AsOf's co-partitioned
    // merge scan (one user_id exchange, partition-local sort, single
    // linear pass) instead of the join-then-window formulation, which
    // materializes O(k²) candidate rows per k-event user before keeping
    // one. The unchanged oracle proves the rewrite bit-identical.
    "b7_asof_events" -> ((s, dir) => {
      graft.operators.AsOf.latestPrior(load(s, dir, "events"), 20)
        .select(col("anchor_id"), col("user_id"),
          date_format(expr("timestamp_micros(anchor_us)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("anchor_ts"),
          col("prev_id"), col("prev_type"),
          date_format(expr("timestamp_micros(prev_us)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("prev_ts"))
        .orderBy(col("anchor_id"))
    }),

    // B7b — FORWARD as-of with tolerance on the same merge-scan
    // operator: each anchor's earliest strictly-later same-user event
    // within 1 hour (pandas merge_asof direction='forward'). Same one
    // exchange + one linear pass; the oracle is the quadratic
    // join-then-window formulation the operator replaces.
    "b7b_asof_forward" -> ((s, dir) => {
      graft.operators.AsOf.nextWithin(load(s, dir, "events"), 20, 3600L * 1000000L)
        .select(col("anchor_id"), col("user_id"),
          date_format(expr("timestamp_micros(anchor_us)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("anchor_ts"),
          col("prev_id").as("next_id"), col("prev_type").as("next_type"),
          date_format(expr("timestamp_micros(prev_us)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("next_ts"))
        .orderBy(col("anchor_id"))
    }),

    // B7c — NEAREST as-of with tolerance (the third merge_asof
    // direction): the closer of an anchor's backward and forward
    // matches within 1 hour, ties to the prior event. Two merge scans
    // + a full-outer pick on the anchor id; the oracle replays both
    // quadratic join-then-window formulations and the same pick.
    "b7c_asof_nearest" -> ((s, dir) => {
      graft.operators.AsOf.nearestWithin(load(s, dir, "events"), 20, 3600L * 1000000L)
        .select(col("anchor_id"), col("user_id"),
          date_format(expr("timestamp_micros(anchor_us)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("anchor_ts"),
          col("prev_id").as("near_id"), col("prev_type").as("near_type"),
          date_format(expr("timestamp_micros(prev_us)"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("near_ts"))
        .orderBy(col("anchor_id"))
    }))

  def oracle: Map[String, String] = Map(
    "b1_exact_dedup" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT coalesce(md5(text), '')) AS BIGINT) AS n_distinct,
        |       CAST(count(*) - count(DISTINCT coalesce(md5(text), '')) AS BIGINT) AS n_dupes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "b1b_prefix_dedup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ')) AS h
        |  FROM documents)
        |SELECT h, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS exemplar,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
        |FROM h GROUP BY h HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "b2_jaccard_pairs" ->
      s"""WITH toks0 AS (
        |  SELECT DISTINCT doc_id, lang, tok
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE doc_id % 5 = 0)
        |  WHERE tok <> ''),
        |df AS (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |       HAVING count(*) <= ${GroupB.B2_DF_CAP}),
        |toks AS (SELECT t.doc_id, t.lang, t.tok
        |         FROM toks0 t JOIN df ON t.lang = df.lang AND t.tok = df.tok),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT a.lang, a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.tok = b.tok
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY a.lang, a.doc_id, b.doc_id)
        |SELECT i.lang, i.da, i.db,
        |       CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
        |FROM inter i JOIN sizes sa ON i.da = sa.doc_id
        |             JOIN sizes sb ON i.db = sb.doc_id
        |ORDER BY jaccard DESC, da, db LIMIT 20""".stripMargin,
    "b3_token_freq" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
        |  FROM toks WHERE tok <> '' GROUP BY lang, tok)
        |SELECT lang, tok, n, rn FROM (
        |  SELECT lang, tok, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS BIGINT) AS rn
        |  FROM counts)
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,
    "b4_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l_discount AS DECIMAL(10,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(10,4))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "b5_top_revenue" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l_discount AS DECIMAL(10,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "b8_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT o.o_orderkey, o.o_orderpriority,
        |       CAST(b.sq AS DOUBLE) AS sum_qty, o.o_totalprice
        |FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 30""".stripMargin,
    "b9_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l_discount AS DECIMAL(10,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "b10_promo_share" ->
      """WITH agg AS (
        |  SELECT p_brand,
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l_discount AS DECIMAL(10,4)) ELSE 0 END) AS DOUBLE) AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             CAST(1 - l_discount AS DECIMAL(10,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand)
        |SELECT p_brand, promo_revenue, total_revenue,
        |       promo_revenue / total_revenue AS promo_share
        |FROM agg ORDER BY p_brand""".stripMargin,
    "b11_nation_volume" ->
      """WITH sn AS (SELECT s_suppkey, n_name AS supp_nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_3')),
        |cn AS (SELECT c_custkey, n_name AS cust_nation
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_3'))
        |SELECT sn.supp_nation, cn.cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(1 - l_discount AS DECIMAL(10,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN sn ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN cn ON o_custkey = c_custkey
        |WHERE sn.supp_nation <> cn.cust_nation
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "b13_part_top_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |      sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_d,
        |      CAST(count(*) AS BIGINT) AS n_items
        |    FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT ps.*, row_number() OVER (PARTITION BY l_partkey
        |        ORDER BY rev_d DESC, l_suppkey) AS rn FROM ps)
        |SELECT l_partkey, l_suppkey AS top_suppkey,
        |       CAST(rev_d AS DOUBLE) AS revenue, n_items
        |FROM r WHERE rn = 1 ORDER BY l_partkey""".stripMargin,
    "b12_waiting_suppliers" ->
      """WITH late AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "b6_hourly_events" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "b7_asof_events" ->
      """WITH anchors AS (
        |  SELECT event_id AS anchor_id, user_id, ts AS anchor_ts
        |  FROM events WHERE event_id % 20 = 0),
        |joined AS (
        |  SELECT a.anchor_id, a.user_id, a.anchor_ts,
        |         e.event_id AS prev_id, e.event_type AS prev_type, e.ts AS prev_ts,
        |         row_number() OVER (PARTITION BY a.anchor_id
        |           ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |  FROM anchors a JOIN events e
        |    ON a.user_id = e.user_id AND e.ts < a.anchor_ts)
        |SELECT anchor_id, user_id,
        |       strftime(anchor_ts, '%Y-%m-%d %H:%M:%S.%f') AS anchor_ts,
        |       prev_id, prev_type,
        |       strftime(prev_ts, '%Y-%m-%d %H:%M:%S.%f') AS prev_ts
        |FROM joined WHERE rn = 1 ORDER BY anchor_id""".stripMargin,
    "b7b_asof_forward" ->
      """WITH anchors AS (
        |  SELECT event_id AS anchor_id, user_id, ts AS anchor_ts
        |  FROM events WHERE event_id % 20 = 0),
        |joined AS (
        |  SELECT a.anchor_id, a.user_id, a.anchor_ts,
        |         e.event_id AS next_id, e.event_type AS next_type, e.ts AS next_ts,
        |         row_number() OVER (PARTITION BY a.anchor_id
        |           ORDER BY e.ts, e.event_id) AS rn
        |  FROM anchors a JOIN events e
        |    ON a.user_id = e.user_id AND e.ts > a.anchor_ts
        |   AND epoch_us(e.ts) - epoch_us(a.anchor_ts) <= 3600000000)
        |SELECT anchor_id, user_id,
        |       strftime(anchor_ts, '%Y-%m-%d %H:%M:%S.%f') AS anchor_ts,
        |       next_id, next_type,
        |       strftime(next_ts, '%Y-%m-%d %H:%M:%S.%f') AS next_ts
        |FROM joined WHERE rn = 1 ORDER BY anchor_id""".stripMargin,
    "b7c_asof_nearest" ->
      """WITH anchors AS (
        |  SELECT event_id AS anchor_id, user_id, ts AS anchor_ts
        |  FROM events WHERE event_id % 20 = 0),
        |back AS (
        |  SELECT a.anchor_id, a.user_id, a.anchor_ts,
        |         e.event_id AS b_id, e.event_type AS b_type, e.ts AS b_ts,
        |         row_number() OVER (PARTITION BY a.anchor_id
        |           ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |  FROM anchors a JOIN events e
        |    ON a.user_id = e.user_id AND e.ts < a.anchor_ts
        |   AND epoch_us(a.anchor_ts) - epoch_us(e.ts) <= 3600000000),
        |fwd AS (
        |  SELECT a.anchor_id, a.user_id, a.anchor_ts,
        |         e.event_id AS f_id, e.event_type AS f_type, e.ts AS f_ts,
        |         row_number() OVER (PARTITION BY a.anchor_id
        |           ORDER BY e.ts, e.event_id) AS rn
        |  FROM anchors a JOIN events e
        |    ON a.user_id = e.user_id AND e.ts > a.anchor_ts
        |   AND epoch_us(e.ts) - epoch_us(a.anchor_ts) <= 3600000000),
        |b1 AS (SELECT * FROM back WHERE rn = 1),
        |f1 AS (SELECT * FROM fwd WHERE rn = 1),
        |j AS (SELECT coalesce(b1.anchor_id, f1.anchor_id) AS anchor_id,
        |             coalesce(b1.user_id, f1.user_id) AS user_id,
        |             coalesce(b1.anchor_ts, f1.anchor_ts) AS anchor_ts,
        |             b_id, b_type, b_ts, f_id, f_type, f_ts,
        |             (f_id IS NULL OR (b_id IS NOT NULL AND
        |              epoch_us(coalesce(b1.anchor_ts, f1.anchor_ts)) - epoch_us(b_ts)
        |              <= epoch_us(f_ts) - epoch_us(coalesce(b1.anchor_ts, f1.anchor_ts))))
        |               AS use_back
        |      FROM b1 FULL JOIN f1 ON b1.anchor_id = f1.anchor_id)
        |SELECT anchor_id, user_id,
        |       strftime(anchor_ts, '%Y-%m-%d %H:%M:%S.%f') AS anchor_ts,
        |       CASE WHEN use_back THEN b_id ELSE f_id END AS near_id,
        |       CASE WHEN use_back THEN b_type ELSE f_type END AS near_type,
        |       strftime(CASE WHEN use_back THEN b_ts ELSE f_ts END,
        |                '%Y-%m-%d %H:%M:%S.%f') AS near_ts
        |FROM j ORDER BY anchor_id""".stripMargin)
}
