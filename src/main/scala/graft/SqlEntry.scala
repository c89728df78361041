package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Tables

/** SQL-text access to the testdata tables and graft's native functions.
  *
  * [[registerViews]] publishes the testdata tables as temp views (same
  * loaders as the DataFrame path, so events.ts normalization and the
  * decimal-exact money casts behave identically) and registers graft's
  * native SQL functions (`long_array_dot`, `long_array_l1`,
  * `simhash64`, `minhash_bands`, `token_ngrams`,
  * `count_min_sketch_exactable`, `qdigest_quantiles`,
  * `qdigest_quantiles_weighted` — the same [[graft.plans.GraftExtensions]]
  * builders a cluster would inject via `spark.sql.extensions`), after
  * which ad-hoc `spark.sql(...)` text runs over the same tables and
  * functions. The curated queries are the DataFrame builders in
  * [[SparkEntry.queries]]; their DuckDB text is [[SparkEntry.oracleSql]].
  *
  * [[sparkSql]] still carries a second Spark spelling, as SQL text, for
  * 71 of the 142 queries: the a-family (7/7), the d-family (32/32), the
  * b-family except the as-of trio (their custom MergeAsOfExec operator
  * has no ASOF JOIN syntax in Spark SQL), and the five c-family queries
  * whose texts NullTextSpec (c45, c71, c72, c73) and TimeSeriesSpec
  * (c51) run. The texts port the DuckDB-only constructs of the oracle to
  * their Spark spellings (`unnest(string_split(...))` →
  * `explode(split(...))`, `strftime` → `date_format`, `epoch_us`/`//` →
  * `unix_micros`/`div`, `string_agg ... ORDER BY` → `listagg ... WITHIN
  * GROUP`). SqlEntrySpec asserts each one row-identical to its builder.
  * Nothing else runs them: Bench, Verify, Explain and the CLI run the
  * builders only. The other c-family texts are deleted as duplicates of
  * their builders, and the remaining ones are due to follow.
  */
object SqlEntry {

  /** The driver's testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table under `dir` as a temp view, plus
    * graft's native SQL functions (idempotent — the same builders
    * `spark.sql.extensions=graft.plans.GraftExtensions` injects at
    * session build, for sessions that already exist).
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    org.apache.spark.sql.GraftBridge.registerFunctions(spark)
    tableNames.foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
  }

  /** Run a curated query by name against the tables under `dir`. */
  def sql(spark: SparkSession, dir: String, name: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(sparkSql(name))
  }

  /** The synthetic file-manifest CTE every Group A query starts from —
    * the Spark spelling of [[graft.queries.GroupA.manifestSql]]
    * (CAST AS STRING for VARCHAR; `replace` and `concat` are shared).
    */
  private val manifestSql: String =
    """WITH m AS (
      |  SELECT concat('/src/tree', CAST(p_partkey % 3 AS STRING)) AS root,
      |         concat('/src/tree', CAST(p_partkey % 3 AS STRING), '/',
      |                lower(replace(p_brand, '#', '_')),
      |                '/part_', CAST(p_partkey AS STRING), '.dat') AS path,
      |         concat('data/part_', CAST(p_partkey % 147 AS STRING), '.dat') AS relative_dst,
      |         CAST(p_size AS BIGINT) * 1024 + p_partkey % 977 AS length
      |  FROM part
      |)""".stripMargin

  /** Spark-dialect SQL, column-for-column identical to the DataFrame
    * path of the same query name.
    */
  val sparkSql: Map[String, String] = Map(
    // a-family: the reference's computations over the manifest CTE.
    "a1_dup_dst" ->
      s"""$manifestSql
         |SELECT relative_dst, CAST(count(*) AS BIGINT) AS n_sources,
         |       listagg(path, ',') WITHIN GROUP (ORDER BY path) AS src_paths
         |FROM m GROUP BY relative_dst HAVING count(*) > 1
         |ORDER BY relative_dst""".stripMargin,
    "a2_job_metrics" ->
      s"""$manifestSql
         |SELECT root, CAST(count(*) AS BIGINT) AS file_count,
         |       CAST(sum(length) AS BIGINT) AS byte_count,
         |       max(length) AS max_len, min(path) AS first_path
         |FROM m GROUP BY root ORDER BY root""".stripMargin,
    "a3_bin_pack" ->
      s"""$manifestSql
         |SELECT root, path, length,
         |       CAST(sum(length) OVER (PARTITION BY root ORDER BY path
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes,
         |       (CAST(sum(length) OVER (PARTITION BY root ORDER BY path
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - length) div 1048576 AS bin
         |FROM m ORDER BY root, path""".stripMargin,
    "a4_map_count" ->
      s"""$manifestSql
         |SELECT root, CAST(count(*) AS BIGINT) AS file_count,
         |       greatest(least(CAST(count(*) AS BIGINT), 640), 1) AS maps
         |FROM m GROUP BY root ORDER BY root""".stripMargin,
    "a5_relative_path" ->
      s"""$manifestSql, u AS (
         |  SELECT root, path FROM m
         |  UNION ALL SELECT DISTINCT root, root AS path FROM m
         |)
         |SELECT root, path,
         |       CASE WHEN path = root THEN '.'
         |            ELSE substr(path, length(root) + 2) END AS rel
         |FROM u ORDER BY root, path""".stripMargin,
    "a6_topk_files" ->
      s"""$manifestSql
         |SELECT root, path, length, rn FROM (
         |  SELECT root, path, length,
         |         CAST(row_number() OVER (PARTITION BY root
         |           ORDER BY length DESC, path) AS BIGINT) AS rn
         |  FROM m)
         |WHERE rn <= 5 ORDER BY root, rn""".stripMargin,
    // The reference's status rollup as a windowed share.
    "a7_status_rollup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) AS DOUBLE) * 100.0 /
        |         CAST(sum(count(*)) OVER () AS DOUBLE) AS pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // b-family: exact dedup census and the two TPC-H flagships.
    // COALESCE: the DataFrame twin distinct-then-counts, which keeps a
    // (source, NULL-hash) row; a bare count(DISTINCT md5(text)) skips
    // NULL text and would drift by one per source on corpora with NULL
    // text (the c24 oracle's NULL rule — md5 is 32 hex chars, never '',
    // so the sentinel cannot collide).
    "b1_exact_dedup" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT coalesce(md5(text), '')) AS BIGINT) AS n_distinct,
        |       CAST(count(*) - count(DISTINCT coalesce(md5(text), '')) AS BIGINT) AS n_dupes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
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
      """SELECT l_orderkey, date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_orderdate,
        |  o_orderpriority,
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
    "b3_token_freq" ->
      """WITH toks AS (
        |  SELECT lang, explode(split(text, ' ')) AS tok FROM documents),
        |counts AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
        |  FROM toks WHERE tok <> '' GROUP BY lang, tok)
        |SELECT lang, tok, n, rn FROM (
        |  SELECT lang, tok, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS BIGINT) AS rn
        |  FROM counts)
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,
    "b8_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT o.o_orderkey, o.o_orderpriority,
        |       CAST(b.sq AS DOUBLE) AS sum_qty, o.o_totalprice
        |FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 30""".stripMargin,
    // slice/array_join/listagg are the Spark spellings of DuckDB's
    // list_slice/array_to_string/string_agg(... ORDER BY).
    "b1b_prefix_dedup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(array_join(slice(split(text, ' ', 5), 1, 4), ' ')) AS h
        |  FROM documents)
        |SELECT h, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS exemplar,
        |       listagg(CAST(doc_id AS STRING), ',')
        |         WITHIN GROUP (ORDER BY CAST(doc_id AS STRING)) AS doc_ids
        |FROM h GROUP BY h HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "b2_jaccard_pairs" ->
      s"""WITH toks0 AS (
        |  SELECT DISTINCT doc_id, lang, tok
        |  FROM (SELECT doc_id, lang, explode(split(text, ' ')) AS tok
        |        FROM documents WHERE doc_id % 5 = 0)
        |  WHERE tok <> ''),
        |df AS (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |       HAVING count(*) <= ${graft.queries.GroupB.B2_DF_CAP}),
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
    // (b7/b7b/b7c — the as-of trio — are deliberately absent: they run
    // on the custom MergeAsOfExec physical operator, and Spark SQL has
    // no ASOF JOIN syntax to express them in text.)
    // date_format is the Spark spelling of DuckDB's strftime.
    "b6_hourly_events" ->
      """SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') AS hour_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
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
        |SELECT s_suppkey, value_micros FROM v CROSS JOIN t
        |WHERE value_micros * 100 > total_micros
        |ORDER BY value_micros DESC, s_suppkey""".stripMargin,
    // datediff(end, start) is the Spark spelling of DuckDB's
    // date_diff('day', start, end).
    "b20_ship_delay" ->
      """SELECT CASE WHEN datediff(l_shipdate, o_orderdate) <= 30 THEN 'FAST'
        |            WHEN datediff(l_shipdate, o_orderdate) <= 60 THEN 'MEDIUM'
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
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // the band arithmetic of c70's builder (rank intervals widened by
    // the deterministic bits·⌊n/k⌋+1 bound) with the registered
    // WEIGHTED digest spelling; output columns estimate-independent by
    // the band contract, so row-identity holds across merge orders
    "c73_weighted_quantiles" ->
      """WITH d AS (SELECT lang,
        |      CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT) AS v
        |    FROM documents WHERE lang IS NOT NULL),
        |hist AS (SELECT lang, v, CAST(v * count(*) AS BIGINT) AS w FROM d
        |         GROUP BY lang, v HAVING v * count(*) > 0),
        |est AS (SELECT lang, CAST(sum(w) AS BIGINT) AS tw,
        |               qdigest_quantiles_weighted(v, w, 16, 1024, 500, 900) AS e
        |        FROM hist GROUP BY lang),
        |e2 AS (SELECT lang, tw, e[0] AS e50, e[1] AS e90 FROM est),
        |cum AS (SELECT lang, v, sum(w) OVER (PARTITION BY lang ORDER BY v) AS cum FROM hist),
        |g AS (SELECT c.lang, tw, e50, e90,
        |             min(CASE WHEN cum >= (500 * tw + 999) DIV 1000 THEN v END) AS wp50_tokens,
        |             min(CASE WHEN cum >= (900 * tw + 999) DIV 1000 THEN v END) AS wp90_tokens,
        |             coalesce(max(CASE WHEN v <= e50 THEN cum END), CAST(0 AS BIGINT)) AS h50,
        |             coalesce(max(CASE WHEN v <  e50 THEN cum END), CAST(0 AS BIGINT)) + 1 AS l50,
        |             coalesce(max(CASE WHEN v <= e90 THEN cum END), CAST(0 AS BIGINT)) AS h90,
        |             coalesce(max(CASE WHEN v <  e90 THEN cum END), CAST(0 AS BIGINT)) + 1 AS l90
        |      FROM cum c JOIN e2 ON c.lang = e2.lang
        |      GROUP BY c.lang, tw, e50, e90)
        |SELECT lang, tw AS total_tokens, wp50_tokens, wp90_tokens,
        |       ((500 * tw + 999) DIV 1000 >= l50 - (16 * (tw DIV 1024) + 1) AND
        |        (500 * tw + 999) DIV 1000 <= h50 + (16 * (tw DIV 1024) + 1) AND
        |        (900 * tw + 999) DIV 1000 >= l90 - (16 * (tw DIV 1024) + 1) AND
        |        (900 * tw + 999) DIV 1000 <= h90 + (16 * (tw DIV 1024) + 1)) AS sketch_within_band
        |FROM g ORDER BY lang""".stripMargin,
    // d-family: rollup, pivot-shaped conditional aggregation, histogram.
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
    "d12_lang_inventory" ->
      // listagg WITHIN GROUP is the Spark 4 spelling of DuckDB's
      // string_agg(lang, ',' ORDER BY lang).
      """WITH dl AS (SELECT DISTINCT source, lang FROM documents),
        |ag AS (
        |  SELECT source, listagg(lang, ',') WITHIN GROUP (ORDER BY lang) AS langs,
        |         CAST(count(*) AS BIGINT) AS n_langs
        |  FROM dl GROUP BY source),
        |cn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM documents GROUP BY source)
        |SELECT ag.source, ag.langs, ag.n_langs, cn.n_docs
        |FROM ag JOIN cn USING (source) ORDER BY source""".stripMargin,
    "d17_acctbal_deciles" ->
      """WITH d AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_acctbal,
        |         CAST(ntile(10) OVER (PARTITION BY c_nationkey
        |           ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile
        |  FROM customer)
        |SELECT nationkey, decile, CAST(count(*) AS BIGINT) AS n,
        |       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM d GROUP BY nationkey, decile ORDER BY nationkey, decile""".stripMargin,
    "d1_props_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS DOUBLE)
        |         / count(*) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // date_format with 'SSSSSS' is the Spark spelling of DuckDB's
    // strftime %f (6-digit microseconds).
    "d4_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts FROM events WHERE user_id % 10 = 0),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR unix_micros(ts) - unix_micros(lag(ts) OVER w) > 30*60*1000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessioned AS (
        |  SELECT user_id, ts,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |       date_format(min(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS session_start,
        |       date_format(max(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS session_end
        |FROM sessioned GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "d7_edit_distance" ->
      s"""WITH p AS (
        |  SELECT lang, doc_id, substr(text, 1, 40) AS prefix
        |  FROM documents WHERE doc_id % 10 = 0),
        |tk AS (
        |  SELECT lang, doc_id, explode(slice(split(prefix, ' '), 1, 3)) AS tok
        |  FROM p),
        |tkf0 AS (SELECT lang, doc_id, tok FROM tk WHERE tok <> ''),
        |blockdf AS (SELECT lang, tok FROM tkf0 GROUP BY lang, tok
        |            HAVING count(*) <= ${graft.queries.Relational.D7_DF_CAP}),
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
    // percentile(col, p) is Spark's exact interpolated percentile —
    // the same linear-interpolation definition as DuckDB's
    // quantile_cont.
    "d8_percentiles" ->
      """SELECT event_type,
        |       percentile(value, 0.5) AS p50,
        |       percentile(value, 0.95) AS p95,
        |       percentile(value, 0.99) AS p99,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d9_latest_event" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, ts, value,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 100 = 0)
        |SELECT user_id, event_type, event_id,
        |       date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s, value
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "d11_interval_join" ->
      """WITH p AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT ts FROM events WHERE event_type = 'error')
        |SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_errors,
        |       CAST(unix_micros(min(e.ts)) AS BIGINT) AS first_error_us
        |FROM p JOIN e ON e.ts >= p.ts AND e.ts < p.ts + INTERVAL 30 MINUTE
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,
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
        |       date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s,
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
    // Same rows as the native TopKPerKey operator the DataFrame path
    // plans — the SQL spelling takes the window route instead.
    "d16_topk_native" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 5
        |ORDER BY event_type, value DESC, event_id""".stripMargin,
    "d19_trailing_1h" ->
      """WITH base AS (
        |  SELECT user_id, event_id, unix_micros(ts) AS ts_us,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE user_id % 100 = 0)
        |SELECT user_id, event_id, ts_us,
        |       CAST(sum(vc) OVER w AS DOUBLE) / 100.0 AS trail_sum,
        |       CAST(count(*) OVER w AS BIGINT) AS trail_n
        |FROM base
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
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
    "d29_ref_integrity" ->
      s"SELECT * FROM (\n${graft.queries.Relational.refEdgeSql}\n) ORDER BY relation",
    "d30_scd2" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |ch AS (SELECT user_id, event_id, event_type, ts FROM ev
        |       WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (SELECT event_type, unix_micros(ts) AS vf,
        |        lead(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS vt
        |      FROM ch)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_versions,
        |       CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |       CAST(coalesce(sum((vt - vf) div 1000000), 0) AS BIGINT) AS closed_s
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,
    // explode(sequence(...)) is the Spark spelling of DuckDB's
    // unnest(generate_series(...)).
    "d31_date_spine" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |s AS (SELECT explode(sequence(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
        |t AS (SELECT DISTINCT event_type FROM e),
        |d AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2)
        |SELECT t.event_type, date_format(s.day, 'yyyy-MM-dd') AS day,
        |       coalesce(d.n, CAST(0 AS BIGINT)) AS n_events
        |FROM s CROSS JOIN t LEFT JOIN d ON d.event_type = t.event_type AND d.day = s.day
        |ORDER BY t.event_type, date_format(s.day, 'yyyy-MM-dd')""".stripMargin,
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
    "d32_ols_trend" ->
      """WITH monthly AS (
        |  SELECT n.n_name,
        |         CAST((year(o.o_orderdate) - 1995) * 12
        |           + month(o.o_orderdate) - 1 AS BIGINT) AS x,
        |         sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT)) AS y
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, x),
        |sums AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |         sum(x * x) AS sxx
        |  FROM monthly GROUP BY n_name),
        |nd AS (
        |  SELECT n_name, n AS n_months,
        |         n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
        |  FROM sums)
        |SELECT n_name, n_months,
        |       CAST(num AS DOUBLE) / CAST(nullif(den, CAST(0 AS BIGINT)) AS DOUBLE)
        |         AS slope_cents_per_month,
        |       CASE WHEN num > 0 THEN 'up' WHEN num < 0 THEN 'down'
        |            ELSE 'flat' END AS trend
        |FROM nd ORDER BY n_name""".stripMargin,
    // unix_micros(ts) and `div` are the Spark spellings of DuckDB's
    // epoch_us(ts) and `//`.
    "d23_funnel" ->
      """WITH e AS (SELECT user_id, event_type, unix_micros(ts) AS us FROM events),
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
      """WITH e AS (SELECT user_id, unix_micros(ts) div 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1),
        |sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort, e.day - f.cohort AS `offset`
        |      FROM e JOIN f USING (user_id) WHERE e.day - f.cohort <= 7),
        |r AS (SELECT cohort, `offset`, CAST(count(*) AS BIGINT) AS n_active
        |      FROM a GROUP BY cohort, `offset`)
        |SELECT r.cohort, r.`offset`, r.n_active, sz.cohort_size
        |FROM r JOIN sz USING (cohort) ORDER BY r.cohort, r.`offset`""".stripMargin,
    "d25_wow_growth" ->
      """WITH wk AS (SELECT event_type, unix_micros(ts) div 604800000000 AS week,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY event_type, week),
        |l AS (SELECT event_type, week, n,
        |        lag(n, 1) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
        |      FROM wk)
        |SELECT event_type, week, n, prev_n,
        |       CASE WHEN prev_n IS NOT NULL
        |            THEN n * 1000 div prev_n END AS ratio_pml
        |FROM l ORDER BY event_type, week""".stripMargin,
    "d26_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
        |lg AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |       FROM ev),
        |f AS (SELECT *, CASE WHEN prev_ts IS NULL
        |             OR unix_micros(ts) - unix_micros(prev_ts) > 1800000000
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
    "d27_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |         AS qty_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
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
    "d18_cube_orders" ->
      // grouping_id(...) is the Spark spelling of DuckDB's multi-arg
      // grouping(...).
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |       coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
        |         / 100.0 AS sum_total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, orderstatus, orderpriority""".stripMargin,
    "c45_hll_distinct" ->
      s"""WITH h AS (SELECT lang AS g, md5(CAST(text AS BINARY)) AS h FROM documents
         |           WHERE lang IS NOT NULL AND text IS NOT NULL),
         |ranked AS (SELECT g,
         |             CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT) % ${graft.operators.HllDistinct.M} AS bucket,
         |             CAST(conv(substring(h, 3, 8), 16, 10) AS BIGINT) AS x FROM h),
         |regs0 AS (SELECT g, bucket,
         |            max(CASE WHEN x = 0 THEN 33 ELSE 33 - length(bin(x)) END) AS mj
         |          FROM ranked GROUP BY g, bucket),
         |frame AS (SELECT g, id AS bucket
         |          FROM (SELECT DISTINCT g FROM h) CROSS JOIN range(${graft.operators.HllDistinct.M})),
         |regs AS (SELECT f.g, f.bucket, coalesce(r.mj, 0) AS mj
         |         FROM frame f LEFT JOIN regs0 r ON f.g = r.g AND f.bucket = r.bucket),
         |agg AS (SELECT g, sum(shiftleft(CAST(1 AS BIGINT), CAST(33 - mj AS INT))) AS s,
         |               sum(CASE WHEN mj = 0 THEN CAST(1 AS BIGINT) ELSE 0 END) AS n_empty
         |        FROM regs GROUP BY g),
         |exact AS (SELECT g, count(DISTINCT h) AS n_exact FROM h GROUP BY g)
         |SELECT e.g AS lang, e.n_exact,
         |       (${graft.operators.HllDistinct.Num}L div s) div 1000000 AS n_est, a.n_empty
         |FROM exact e JOIN agg a ON e.g = a.g ORDER BY lang""".stripMargin,
    // c45's register pipeline keyed by source, then pairwise union =
    // element-wise register max and inclusion-exclusion readout.
    "c71_overlap_hll" ->
      s"""WITH h AS (SELECT DISTINCT source AS g, md5(CAST(text AS BINARY)) AS h
         |           FROM documents
         |           WHERE source IS NOT NULL AND text IS NOT NULL),
         |ranked AS (SELECT g,
         |             CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT) % ${graft.operators.HllDistinct.M} AS bucket,
         |             CAST(conv(substring(h, 3, 8), 16, 10) AS BIGINT) AS x FROM h),
         |regs0 AS (SELECT g, bucket,
         |            max(CASE WHEN x = 0 THEN 33 ELSE 33 - length(bin(x)) END) AS mj
         |          FROM ranked GROUP BY g, bucket),
         |frame AS (SELECT g, id AS bucket
         |          FROM (SELECT DISTINCT g FROM h) CROSS JOIN range(${graft.operators.HllDistinct.M})),
         |regs AS (SELECT f.g, f.bucket, coalesce(r.mj, 0) AS mj
         |         FROM frame f LEFT JOIN regs0 r ON f.g = r.g AND f.bucket = r.bucket),
         |per AS (SELECT g, (${graft.operators.HllDistinct.Num}L div
         |          sum(shiftleft(CAST(1 AS BIGINT), CAST(33 - mj AS INT)))) div 1000000 AS est
         |        FROM regs GROUP BY g),
         |eu AS (SELECT a.g AS source_a, b.g AS source_b,
         |         (${graft.operators.HllDistinct.Num}L div
         |           sum(shiftleft(CAST(1 AS BIGINT),
         |             CAST(33 - greatest(a.mj, b.mj) AS INT)))) div 1000000 AS est_union
         |       FROM regs a JOIN regs b ON a.bucket = b.bucket AND a.g < b.g
         |       GROUP BY a.g, b.g),
         |ex AS (SELECT a.g AS source_a, b.g AS source_b, count(*) AS n_exact_shared
         |       FROM h a JOIN h b ON a.h = b.h AND a.g < b.g GROUP BY a.g, b.g)
         |SELECT eu.source_a, eu.source_b, pa.est AS est_a, pb.est AS est_b,
         |       eu.est_union,
         |       greatest(pa.est + pb.est - eu.est_union, CAST(0 AS BIGINT)) AS est_shared,
         |       coalesce(ex.n_exact_shared, CAST(0 AS BIGINT)) AS n_exact_shared
         |FROM eu JOIN per pa ON pa.g = eu.source_a
         |        JOIN per pb ON pb.g = eu.source_b
         |        LEFT JOIN ex ON ex.source_a = eu.source_a AND ex.source_b = eu.source_b
         |ORDER BY eu.source_a, eu.source_b""".stripMargin,
    // the whole Bloom filter in SQL: conv/shiftleft/bit_or are the
    // Spark spellings of the oracle's digit-decode///<</bit_or
    "c72_membership_gate" ->
      """WITH dk AS (SELECT doc_id, lang,
        |        md5(CAST(array_join(slice(split(text, ' ', 5), 1, 4), ' ') AS BINARY)) AS k
        |      FROM documents WHERE text IS NOT NULL),
        |hx AS (SELECT doc_id, md5(CAST(k AS BINARY)) AS h FROM dk),
        |hh AS (SELECT doc_id,
        |         CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT) AS h1,
        |         CAST(conv(substring(h, 16, 15), 16, 10) AS BIGINT) | CAST(1 AS BIGINT) AS h2
        |       FROM hx),
        |pwm AS (SELECT doc_id, (h1 + j * h2) % 1048576 AS p
        |        FROM hh CROSS JOIN (SELECT explode(sequence(0, 4)) AS j)),
        |wm AS (SELECT doc_id, shiftright(p, 5) AS w,
        |              shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT)) AS m FROM pwm),
        |bits AS (SELECT w, bit_or(m) AS bits FROM wm
        |         WHERE doc_id % 97 <> 0 GROUP BY w),
        |probe AS (SELECT wm.doc_id,
        |            min(CASE WHEN b.bits IS NOT NULL AND (b.bits & wm.m) = wm.m
        |                     THEN 1 ELSE 0 END) AS hit
        |          FROM wm LEFT JOIN bits b ON wm.w = b.w
        |          WHERE wm.doc_id % 97 = 0 GROUP BY wm.doc_id),
        |tk AS (SELECT DISTINCT k FROM dk WHERE doc_id % 97 <> 0),
        |ev AS (SELECT d.doc_id, d.lang, p.hit,
        |              CASE WHEN tk.k IS NOT NULL THEN 1 ELSE 0 END AS ex
        |       FROM dk d JOIN probe p ON d.doc_id = p.doc_id
        |       LEFT JOIN tk ON d.k = tk.k
        |       WHERE d.doc_id % 97 = 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_eval,
        |       CAST(sum(hit) AS BIGINT) AS n_flagged,
        |       CAST(sum(ex) AS BIGINT) AS n_hits_exact,
        |       CAST(sum(CASE WHEN ex = 1 AND hit = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_false_neg
        |FROM ev GROUP BY lang ORDER BY lang""".stripMargin,
    "c51_ts_similar_users" ->
      """WITH qprof AS (
        |  SELECT user_id, (unix_micros(ts) div 900000000) % 96 AS qh,
        |         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
        |  FROM events GROUP BY user_id, (unix_micros(ts) div 900000000) % 96),
        |prof AS (SELECT user_id, qh div 4 AS hour, sum(v) AS v
        |         FROM qprof GROUP BY user_id, qh div 4),
        |tot AS (SELECT user_id, sum(v) AS tot FROM qprof GROUP BY user_id),
        |sig AS (SELECT q.user_id,
        |          sum(CASE WHEN qh < 48 AND v * 96 > tot
        |              THEN shiftleft(CAST(1 AS BIGINT), CAST(qh AS INT))
        |              ELSE CAST(0 AS BIGINT) END) AS lo,
        |          sum(CASE WHEN qh >= 48 AND v * 96 > tot
        |              THEN shiftleft(CAST(1 AS BIGINT), CAST(qh - 48 AS INT))
        |              ELSE CAST(0 AS BIGINT) END) AS hi
        |        FROM qprof q JOIN tot t ON q.user_id = t.user_id GROUP BY q.user_id),
        |nu AS (SELECT count(*) AS n FROM sig),
        |banded AS (SELECT user_id, stack(8,
        |    0, lo & 4095, 1, (lo >> 12) & 4095, 2, (lo >> 24) & 4095, 3, (lo >> 36) & 4095,
        |    4, hi & 4095, 5, (hi >> 12) & 4095, 6, (hi >> 24) & 4095, 7, (hi >> 36) & 4095
        |  ) AS (band_id, bv) FROM sig),
        |bkept AS (SELECT banded.* FROM banded
        |          JOIN (SELECT band_id, bv FROM banded GROUP BY band_id, bv
        |                HAVING count(*) <= 256) ok USING (band_id, bv)),
        |pkey AS (SELECT user_id,
        |           array_join(array_sort(collect_list(concat(
        |             lpad(CAST(hour AS STRING), 2, '0'), ':', CAST(v AS STRING)))),
        |             ',') AS pk
        |         FROM prof GROUP BY user_id),
        |ranked AS (SELECT user_id, pk,
        |             row_number() OVER (PARTITION BY pk ORDER BY user_id) AS rn
        |           FROM pkey),
        |cand AS (SELECT a.user_id AS da, b.user_id AS db
        |         FROM sig a JOIN sig b ON a.user_id < b.user_id
        |         WHERE (SELECT n FROM nu) <= 1024
        |         UNION
        |         SELECT a.user_id AS da, b.user_id AS db
        |         FROM bkept a JOIN bkept b
        |           ON a.band_id = b.band_id AND a.bv = b.bv AND a.user_id < b.user_id
        |         WHERE (SELECT n FROM nu) > 1024
        |         UNION
        |         SELECT a.user_id AS da, b.user_id AS db
        |         FROM ranked a JOIN ranked b ON a.pk = b.pk AND b.rn = a.rn + 1
        |         WHERE (SELECT n FROM nu) > 1024),
        |contrib AS (
        |  SELECT c.da, c.db, p.hour, p.v AS x
        |  FROM cand c JOIN prof p ON c.da = p.user_id
        |  UNION ALL
        |  SELECT c.da, c.db, p.hour, -p.v AS x
        |  FROM cand c JOIN prof p ON c.db = p.user_id),
        |perHour AS (SELECT da, db, hour, sum(x) AS d FROM contrib GROUP BY da, db, hour)
        |SELECT da, db, sum(abs(d)) AS l1_cents FROM perHour GROUP BY da, db
        |ORDER BY l1_cents, da, db LIMIT 20""".stripMargin)
}
