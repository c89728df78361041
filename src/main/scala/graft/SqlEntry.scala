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
  * 13 of the 142 queries: the a-family (a1–a7), b1 and the five
  * c-family queries c45, c51, c71, c72 and c73. The b1 and c texts stay
  * because NullTextSpec (b1, c45, c71, c72, c73) and TimeSeriesSpec
  * (c51) run them against hand-built corpora; the a-family and these
  * are due to go together in one last step. SqlEntrySpec asserts each
  * text row-identical to its builder. Nothing else runs them: Bench,
  * Verify, Explain and the CLI run the builders only, and the DuckDB
  * oracle checks every builder. The other texts are deleted as
  * duplicates of their builders.
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
    // b1, the exact dedup census. COALESCE: the DataFrame twin
    // distinct-then-counts, which keeps a (source, NULL-hash) row; a bare
    // count(DISTINCT md5(text)) skips NULL text and would drift by one
    // per source on corpora with NULL text (the c24 oracle's NULL rule —
    // md5 is 32 hex chars, never '', so the sentinel cannot collide).
    "b1_exact_dedup" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT coalesce(md5(text), '')) AS BIGINT) AS n_distinct,
        |       CAST(count(*) - count(DISTINCT coalesce(md5(text), '')) AS BIGINT) AS n_dupes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
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
