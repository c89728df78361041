package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Group B continued — the REMAINING classic TPC-H query shapes (Q4, Q6,
  * Q8–Q13, Q15–Q17, Q19, Q20, Q22), adapted to the testdata's reduced
  * schema (FIXTURES.md: no partsupp table, no l_shipmode/l_commitdate/
  * l_receiptdate, no c_phone/p_container). Each adaptation PRESERVES THE
  * PLAN SHAPE the original exercises — correlated EXISTS as a left-semi
  * join (b14), scan-only predicate pushdown (b15, b25), the conditional-
  * share two-level agg (b16), scalar-subquery thresholds as broadcast
  * 1-row joins (b19, b22, b24, b27), the left-join-preserving histogram
  * (b21), NOT-IN as left-anti (b23, b27) — because the shape, not the
  * constant, is what the optimizer and the 100 TB plan audit care about.
  *
  * Determinism: exact scaled-long arithmetic ([[Tables.s2]]) everywhere
  * a double is aggregated — same rationals and identical final doubles
  * as the oracle's exact-decimal formulation while per-group scaled
  * sums stay < 2^53 (the s2 scaladoc carries the proof), without the
  * per-fact-row BigDecimal the decimal spelling paid. Where a sum can
  * exceed 2^53 scaled (profit/value totals), the result STAYS a scaled
  * BIGINT (micros) instead of converting to double — both engines sum
  * integers exactly at any scale (the c36 discipline).
  */
object TpchRest {
  import Tables.{load, s2}

  /** revenue = extendedprice · (1 − discount), exact scale-4 BIGINT
    * (cents × discount-hundredths — [[Tables.s2]]): same rationals as
    * the oracle's decimal formulation, identical final doubles while
    * per-group sums stay < 2^53, but primitive long codegen per fact
    * row instead of a precision-29 BigDecimal. Consumers divide the
    * final double by 1e4.
    */
  private def rev = (s2(col("l_extendedprice")) * s2(lit(1) - col("l_discount"))).as("rev")

  /** The same revenue as an exact BIGINT in currency micros (cents ×
    * discount-factor ×10⁴) — for sums that must stay integer-exact past
    * 2^53 (the c36 spelling). ROUND recovers the exact scaled integers
    * without the per-row BigDecimal the DECIMAL-cast spelling paid
    * (Tables.s2 scaladoc).
    */
  private def revMicros =
    expr("""CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           | * CAST(ROUND((1 - l_discount) * 10000) AS BIGINT)""".stripMargin)

  private def ts(d: String) = lit(java.sql.Timestamp.valueOf(s"$d 00:00:00"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B14 — order-priority checking (TPC-H Q4 shape; "late" = shipped
    // > 30 days after order date, standing in for commit<receipt):
    // orders in one quarter with AT LEAST ONE late line. The correlated
    // EXISTS is a left-semi join on orderkey with the lateness predicate
    // as a non-equi residual — one exchange on orderkey, the semi form
    // never duplicates orders with many late lines. At 100 TB the date
    // filter prunes the orders scan before the shuffle.
    "b14_order_priority" -> ((s, dir) => {
      val ord = load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1996-04-01"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = load(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // B15 — forecasting revenue change (TPC-H Q6): the pure scan-and-
    // aggregate — every predicate (year, discount band, quantity cap)
    // pushes to the parquet scan, no shuffle at all beyond the final
    // 1-row agg. Discount compared as exact decimal(10,4), not double
    // (0.05 is not a binary double; both engines must compare the same
    // exact value).
    "b15_forecast_revenue" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
        // Discount/quantity compared as exact scaled longs (0.05 is not
        // a binary double; ROUND(x·100) recovers the exact 2-decimal
        // value — Tables.s2 — so both engines select identical rows,
        // without the per-row decimal boxing this full-scan filter paid).
        .filter(s2(col("l_discount")).between(5, 7))
        .filter(s2(col("l_quantity")) < 2400)
        .agg((sum(s2(col("l_extendedprice")) * s2(col("l_discount")))
            .cast("double") / lit(10000.0)).as("revenue"),
          count(lit(1)).as("n_items"))),

    // B16 — national market share (TPC-H Q8 shape): NATION_3's share of
    // PROMO-part revenue sold into EUROPE, by order year. The share is a
    // conditional sum over ONE joined stream — numerator and denominator
    // in the same aggregate, no second pass. Dimension chain (part
    // filter, nation⋈region, supplier→nation) prunes before the
    // lineitem⋈orders backbone; nation/region broadcast, part/supplier/
    // customer left to AQE's runtime size check (the b9 discipline).
    "b16_market_share" -> ((s, dir) => {
      val part = load(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val eurNations = load(s, dir, "nation")
        .join(load(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val cust = load(s, dir, "customer")
        .join(broadcast(eurNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNation = load(s, dir, "supplier")
        .join(broadcast(load(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val ord = load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), rev)
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", col("rev")).otherwise(lit(0L)))
            .cast("double") / lit(10000.0)).as("nation_revenue"),
          (sum(col("rev")).cast("double") / lit(10000.0)).as("total_revenue"))
        .select(col("o_year"), col("nation_revenue"), col("total_revenue"),
          (col("nation_revenue") / col("total_revenue")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // B17 — product-type profit (TPC-H Q9 shape; no partsupp, so cost =
    // retailprice · quantity): profit per (supplier nation, order year)
    // over parts named '%red%'. Profit stays a SCALED BIGINT (micros):
    // at 100 TB the per-group sum blows past 2^53, where double
    // conversion stops being exact — integer sums never do.
    "b17_product_profit" -> ((s, dir) => {
      val part = load(s, dir, "part").filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppNation = load(s, dir, "supplier")
        .join(broadcast(load(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val ord = load(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      // profit_micros = rev_micros − retail_cents · qty_x100 · 100
      // (cents·qty-hundredths ×100 = micros; all factors exact ints).
      val profit = (revMicros -
        expr("""CAST(ROUND(p_retailprice * 100) AS BIGINT)
               | * CAST(ROUND(l_quantity * 100) AS BIGINT) * 100""".stripMargin))
        .as("profit_micros")
      load(s, dir, "lineitem")
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("supp_nation"), col("o_year"), profit)
        .groupBy(col("supp_nation"), col("o_year"))
        .agg(sum(col("profit_micros")).as("profit_micros"), count(lit(1)).as("n_items"))
        .orderBy(col("supp_nation"), col("o_year"))
    }),

    // B18 — returned-item reporting (TPC-H Q10): revenue lost to
    // returns per customer in one quarter, top 20. The orders date
    // filter prunes the fact backbone before the customer join; nation
    // broadcast; top-20 is a TopK over the aggregate, not a global sort
    // of all customers.
    "b18_returned_items" -> ((s, dir) => {
      val ord = load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-10-01") && col("o_orderdate") < ts("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), rev)
      val cust = load(s, dir, "customer")
        .join(broadcast(load(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg((sum(col("rev")).cast("double") / lit(10000.0)).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // B19 — important suppliers (TPC-H Q11 shape; supplier shipped value
    // standing in for partsupp stock value): suppliers whose total
    // shipped value exceeds 1% of the global total. The scalar subquery
    // is a 1-row aggregate cross-joined (broadcast) into the per-supplier
    // aggregate; the threshold compares SCALED INTEGERS cross-multiplied
    // (value·100 > total) — no float fraction, exact at any scale.
    "b19_important_suppliers" -> ((s, dir) => {
      val perSupp = load(s, dir, "lineitem")
        .select(col("l_suppkey"), revMicros.as("vm"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("vm")).as("value_micros"))
        // Materialized once (the c49/c55 discipline): the total and the
        // probe both reference this aggregate — unchecked, Spark
        // re-executes the subtree, i.e. a SECOND full lineitem scan.
        // The checkpoint is supplier-count-sized.
        .localCheckpoint(true)
      val total = perSupp.agg(sum(col("value_micros")).as("total_micros"))
      perSupp.join(broadcast(total))
        .filter(col("value_micros") * 100 > col("total_micros"))
        .select(col("l_suppkey").as("s_suppkey"), col("value_micros"))
        .orderBy(col("value_micros").desc, col("s_suppkey"))
    }),

    // B20 — shipping-delay classes (TPC-H Q12 shape; delay buckets stand
    // in for the missing l_shipmode): for 1997 shipments, high- vs
    // low-priority line counts per delay class (days between order and
    // ship date: ≤30 FAST, ≤60 MEDIUM, else SLOW). One orderkey join;
    // the CASE classification and the conditional counts ride the join
    // output — map-side partial aggs reduce to 3 rows before the final
    // exchange.
    "b20_ship_delay" -> ((s, dir) => {
      val ord = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_days", datediff(col("l_shipdate"), col("o_orderdate")))
        .withColumn("delay_class",
          when(col("delay_days") <= 30, "FAST")
            .when(col("delay_days") <= 60, "MEDIUM")
            .otherwise("SLOW"))
        .groupBy(col("delay_class"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
        .orderBy(col("delay_class"))
    }),

    // B21 — customer distribution (TPC-H Q13): orders per customer
    // INCLUDING zero-order customers (the left join the histogram
    // depends on), excluding 4-NOT SPECIFIED orders (the o_comment
    // pattern analog), then the distribution of those counts. Two
    // aggregates; the first shuffles on custkey, the second on the
    // (tiny) count domain.
    "b21_custdist" -> ((s, dir) => {
      val ord = load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_orderkey"), col("o_custkey"))
      load(s, dir, "customer").select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // B22 — top supplier (TPC-H Q15): the supplier(s) whose Q1-1997
    // revenue equals the maximum — revenue kept in exact micros so the
    // max-equality join cannot be broken by float rounding. The max is a
    // broadcast 1-row aggregate (the Q15 view reused twice without
    // recomputation risk: same plan, AQE reuses the exchange).
    "b22_top_supplier" -> ((s, dir) => {
      val perSupp = load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1997-04-01"))
        .select(col("l_suppkey"), revMicros.as("vm"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("vm")).as("revenue_micros"))
        // One lineitem scan for both the max and the equality probe
        // (the b19 materialize-once rationale; supplier-count-sized).
        .localCheckpoint(true)
      val top = perSupp.agg(max(col("revenue_micros")).as("max_micros"))
      perSupp.join(broadcast(top), col("revenue_micros") === col("max_micros"))
        .join(load(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("revenue_micros"))
        .orderBy(col("s_suppkey"))
    }),

    // B23 — parts/supplier relationship (TPC-H Q16 shape over lineitem,
    // since partsupp is absent): distinct suppliers per (brand, type,
    // size) for a size list, excluding one brand, one type prefix, and
    // "complained-about" suppliers (s_name ending in 7 — the NOT IN
    // subquery, expressed as a left-anti join). countDistinct shuffles
    // (brand, type, size, suppkey) once — no row explosion.
    "b23_parts_suppliers" -> ((s, dir) => {
      val part = load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          !col("p_type").startsWith("PROMO") &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val badSupp = load(s, dir, "supplier")
        .filter(col("s_name").endsWith("7")).select(col("s_suppkey"))
      load(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // B24 — small-quantity-order revenue (TPC-H Q17): lines of one
    // brand's small parts with quantity under 20% of that part's
    // average. The per-part average is a groupBy (re)joined — and the
    // 0.2·avg comparison is cross-multiplied to integers (qty·5·n <
    // sum_qty, all ×100-scaled): no division, no float, exact in both
    // engines. Part filter prunes before the fact join; the per-part agg
    // and the probe share the partkey exchange.
    "b24_small_qty_revenue" -> ((s, dir) => {
      val part = load(s, dir, "part")
        .filter(col("p_brand") === "Brand#12" && col("p_size") < 15)
        .select(col("p_partkey"))
      val li = load(s, dir, "lineitem")
        .join(part, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          expr("CAST(ROUND(l_quantity * 100) AS BIGINT)").as("qx100"),
          expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("px100"))
        // Referenced by the per-part average AND the probe: materialize
        // the brand-filtered slice (~1/25 of lineitem) once instead of
        // scanning lineitem twice.
        .localCheckpoint(true)
      val avgQ = li.groupBy(col("l_partkey").as("a_partkey"))
        .agg(sum(col("qx100")).as("sum_qx100"), count(lit(1)).as("n_lines"))
      li.join(avgQ, col("l_partkey") === col("a_partkey"))
        .filter(col("qx100") * 5 * col("n_lines") < col("sum_qx100"))
        .agg((sum(col("px100")).cast("double") / 100.0 / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_lines_small"))
    }),

    // B25 — discounted revenue over disjunctive predicates (TPC-H Q19):
    // three (brand, size-range, quantity-range) conjuncts OR-ed — the
    // classic test that a disjunction of pushable conjuncts still prunes
    // at the scan and turns the join residual into a single pass. One
    // partkey join; no shuffle but the 1-row agg.
    "b25_disjunct_revenue" -> ((s, dir) => {
      val part = load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val li = load(s, dir, "lineitem")
        .select(col("l_partkey"), s2(col("l_quantity")).as("q100"), rev)
      val m1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("q100") >= 100 && col("q100") <= 1100
      val m2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("q100") >= 1000 && col("q100") <= 2000
      val m3 = col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("q100") >= 2000 && col("q100") <= 3000
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(m1 || m2 || m3)
        .agg((sum(col("rev")).cast("double") / lit(10000.0)).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // B26 — potential part promotion (TPC-H Q20 shape): EUROPE-region
    // suppliers who shipped more than 50 units of 'red%' parts in 1997.
    // The nested IN-subqueries become a filter→aggregate→semi-join
    // chain: parts filter (broadcast), per-supplier quantity aggregate,
    // HAVING threshold, then a semi into supplier pruned by the
    // nation⋈region dim. No row ever leaves its aggregate wider than
    // (suppkey, sum).
    "b26_promo_suppliers" -> ((s, dir) => {
      val redParts = load(s, dir, "part").filter(col("p_name").startsWith("red"))
        .select(col("p_partkey"))
      val shipped = load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .select(col("l_suppkey"),
          expr("CAST(ROUND(l_quantity * 100) AS BIGINT)").as("qx100"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("qx100")).as("sum_qx100"))
        .filter(col("sum_qx100") > 50L * 100)
      val eurNations = load(s, dir, "nation")
        .join(load(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      load(s, dir, "supplier")
        .join(broadcast(eurNations), col("s_nationkey") === col("n_nationkey"))
        .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"))
    }),

    // B27 — global sales opportunity (TPC-H Q22 shape): rich customers
    // (balance above the positive-balance average — a broadcast scalar
    // subquery compared in exact cents) with NO order since 1999 (the
    // NOT EXISTS, as a left-anti join on custkey), grouped by nation
    // (standing in for the phone country code). Anti-join input is
    // pre-pruned by the balance filter, so the exchange carries only
    // candidate rich customers.
    "b27_idle_rich_customers" -> ((s, dir) => {
      val cents = expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")
      val cust = load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), cents.as("bal_cents"))
      // avg positive balance, cross-multiplied: bal · n > sum  ⟺  bal > avg.
      val posAvg = cust.filter(col("bal_cents") > 0)
        .agg(sum(col("bal_cents")).as("sum_cents"), count(lit(1)).as("n_pos"))
      val recentOrders = load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1999-01-01"))
        .select(col("o_custkey"))
      cust.join(broadcast(posAvg))
        .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
        .join(recentOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(load(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          (sum(col("bal_cents")).cast("double") / 100.0).as("total_bal"))
        .orderBy(col("n_name"))
    })
  )

  def oracle: Map[String, String] = Map(
    "b14_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "b15_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(10,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND CAST(l_discount AS DECIMAL(10,4)) BETWEEN CAST(0.05 AS DECIMAL(10,4))
        |                                            AND CAST(0.07 AS DECIMAL(10,4))
        |  AND CAST(l_quantity AS DECIMAL(18,2)) < 24""".stripMargin,
    "b16_market_share" ->
      """WITH j AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(1 - l_discount AS DECIMAL(10,4)) AS rev,
        |         sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey)
        |SELECT o_year,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS DOUBLE)
        |         AS nation_revenue,
        |       CAST(sum(rev) AS DOUBLE) AS total_revenue,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(rev) AS DOUBLE) AS mkt_share
        |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin,
    "b17_product_profit" ->
      """SELECT sn.n_name AS supp_nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           * CAST(CAST(1 - l_discount AS DECIMAL(10,4)) * 10000 AS BIGINT)
        |         - CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * 100
        |       ) AS BIGINT) AS profit_micros,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY supp_nation, o_year ORDER BY supp_nation, o_year""".stripMargin,
    "b18_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(1 - l_discount AS DECIMAL(10,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "b19_important_suppliers" ->
      """WITH v AS (
        |  SELECT l_suppkey AS s_suppkey,
        |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             * CAST(CAST(1 - l_discount AS DECIMAL(10,4)) * 10000 AS BIGINT))
        |           AS BIGINT) AS value_micros
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(sum(value_micros) AS BIGINT) AS total_micros FROM v)
        |SELECT s_suppkey, value_micros FROM v, t
        |WHERE value_micros * 100 > total_micros
        |ORDER BY value_micros DESC, s_suppkey""".stripMargin,
    "b20_ship_delay" ->
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
        |            WHEN date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 'MEDIUM'
        |            ELSE 'SLOW' END AS delay_class,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY delay_class ORDER BY delay_class""".stripMargin,
    "b21_custdist" ->
      """WITH co AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM co GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "b22_top_supplier" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             * CAST(CAST(1 - l_discount AS DECIMAL(10,4)) * 10000 AS BIGINT))
        |           AS BIGINT) AS revenue_micros
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, revenue_micros
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revenue_micros = (SELECT max(revenue_micros) FROM r)
        |ORDER BY s_suppkey""".stripMargin,
    "b23_parts_suppliers" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "b24_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qx100,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS px100
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12' AND p_size < 15),
        |a AS (SELECT l_partkey AS a_partkey, CAST(sum(qx100) AS BIGINT) AS sum_qx100,
        |             CAST(count(*) AS BIGINT) AS n_lines
        |      FROM li GROUP BY l_partkey)
        |SELECT CAST(CAST(sum(px100) AS BIGINT) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
        |       CAST(count(*) AS BIGINT) AS n_lines_small
        |FROM li JOIN a ON l_partkey = a_partkey
        |WHERE qx100 * 5 * n_lines < sum_qx100""".stripMargin,
    "b25_disjunct_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(1 - l_discount AS DECIMAL(10,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 20 AND 30)""".stripMargin,
    "b26_promo_suppliers" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_suppkey
        |  HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) > 5000)
        |ORDER BY s_name""".stripMargin,
    "b27_idle_rich_customers" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
        |  FROM customer),
        |p AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
        |             CAST(count(*) AS BIGINT) AS n_pos
        |      FROM c WHERE bal_cents > 0)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
        |       CAST(CAST(sum(bal_cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_bal
        |FROM c CROSS JOIN p
        |JOIN nation ON c.c_nationkey = n_nationkey
        |WHERE bal_cents * n_pos > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY n_name ORDER BY n_name""".stripMargin
  )
}
