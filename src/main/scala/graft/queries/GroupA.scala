package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group A — the reference's computations re-expressed as relational
  * queries (SURVEY §2.3 Group A). The reference's data model is a file
  * manifest (reference DistExec.java:526-541); since the DuckDB oracle
  * only sees the testdata parquet tables, the manifest here is derived
  * DETERMINISTICALLY from `part` with identical expressions on both
  * sides, so every query is exactly oracle-checkable.
  *
  * Manifest columns: root, path, relative_dst, length (bytes, the split
  * weight — reference DistExec.java:592), is_dir.
  */
object GroupA {

  /** Synthetic manifest: one file row per `part` row. Mirrored by
    * [[manifestSql]] for DuckDB.
    */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val root = concat(lit("/src/tree"), (col("p_partkey") % 3).cast("string"))
    part.select(
      root.as("root"),
      concat(root, lit("/"), lower(regexp_replace(col("p_brand"), "#", "_")),
        lit("/part_"), col("p_partkey").cast("string"), lit(".dat")).as("path"),
      concat(lit("data/part_"), (col("p_partkey") % 147).cast("string"),
        lit(".dat")).as("relative_dst"),
      (col("p_size").cast("long") * 1024L + col("p_partkey") % 977L).as("length"))
  }

  /** DuckDB twin of [[manifest]] — used as a CTE in every Group A oracle. */
  val manifestSql: String =
    """WITH m AS (
      |  SELECT concat('/src/tree', CAST(p_partkey % 3 AS VARCHAR)) AS root,
      |         concat('/src/tree', CAST(p_partkey % 3 AS VARCHAR), '/',
      |                lower(replace(p_brand, '#', '_')),
      |                '/part_', CAST(p_partkey AS VARCHAR), '.dat') AS path,
      |         concat('data/part_', CAST(p_partkey % 147 AS VARCHAR), '.dat') AS relative_dst,
      |         CAST(p_size AS BIGINT) * 1024 + p_partkey % 977 AS length
      |  FROM part
      |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — duplicate-destination detection (reference checkDuplication,
    // DistExec.java:647-673): dst names claimed by >1 source, sources listed.
    // The reference external-sorts and compares adjacent keys; a hash
    // aggregation needs no sort and scales horizontally.
    "a1_dup_dst" -> ((s, dir) => {
      manifest(s, dir)
        .groupBy(col("relative_dst"))
        .agg(count(lit(1)).as("n_sources"),
          concat_ws(",", sort_array(collect_list(col("path")))).as("src_paths"))
        .filter(col("n_sources") > 1)
        .orderBy(col("relative_dst"))
    }),

    // A2 — job metrics per source root (reference byteCount/fileCount log,
    // DistExec.java:637-641).
    "a2_job_metrics" -> ((s, dir) => {
      manifest(s, dir)
        .groupBy(col("root"))
        .agg(count(lit(1)).as("file_count"),
          sum(col("length")).as("byte_count"),
          max(col("length")).as("max_len"),
          min(col("path")).as("first_path"))
        .orderBy(col("root"))
    }),

    // A3 — size-weighted bin packing (reference getSplits greedy packing,
    // DistExec.java:132-177) spelled as a TWO-LEVEL distributed prefix
    // sum in window expressions: a per-root window alone serializes
    // exactly when it matters — the common single-root job puts the
    // whole 100 TB tree through ONE task. Level 1: bucket by a fixed-
    // length prefix of the path-below-root (any fixed prefix is a
    // coarsening of lexicographic order, so buckets are CONTIGUOUS in
    // path order; 8 chars ≈ the first directory component here), local
    // running-sum windows per (root, bucket). Level 2: a tiny per-root
    // window over bucket byte totals provides each bucket's offset.
    // cum = lcum + off is bit-identical to the serial spelling — the
    // unchanged oracle proves it.
    "a3_bin_pack" -> ((s, dir) => {
      val files = manifest(s, dir)
        .withColumn("bkt", expr("substring(path, length(root) + 2, 8)"))
      val wLocal = Window.partitionBy(col("root"), col("bkt")).orderBy(col("path"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wOffset = Window.partitionBy(col("root")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = files.groupBy(col("root"), col("bkt"))
        .agg(sum(col("length")).as("bkt_bytes"))
        .withColumn("off", coalesce(sum(col("bkt_bytes")).over(wOffset), lit(0L)))
        .select(col("root"), col("bkt"), col("off"))
      files
        .withColumn("lcum", sum(col("length")).over(wLocal))
        .join(offsets, Seq("root", "bkt"))
        .withColumn("cum_bytes", col("lcum") + col("off"))
        .withColumn("bin", expr("(cum_bytes - length) div 1048576"))
        .select(col("root"), col("path"), col("length"), col("cum_bytes"), col("bin"))
        .orderBy(col("root"), col("path"))
    }),

    // A4 — map-count rule max(min(fileCount, cap), 1) with cap = 20
    // maps/node × 32 "nodes" (reference setMapCount, DistExec.java:419-426;
    // file-count based, not byte-based — fork delta vs DistCp).
    "a4_map_count" -> ((s, dir) => {
      manifest(s, dir)
        .groupBy(col("root"))
        .agg(count(lit(1)).as("file_count"))
        .select(col("root"), col("file_count"),
          greatest(least(col("file_count"), lit(640L)), lit(1L)).as("maps"))
        .orderBy(col("root"))
    }),

    // A5 — relative-path projection incl. the `"."`-for-root rule
    // (reference makeRelative, DistExec.java:388-410). Root rows are
    // unioned in so the special case is exercised.
    "a5_relative_path" -> ((s, dir) => {
      val m = manifest(s, dir).select(col("root"), col("path"))
      val roots = m.select(col("root"), col("root").as("path")).distinct()
      m.unionByName(roots)
        .select(col("root"), col("path"),
          when(col("path") === col("root"), lit("."))
            .otherwise(expr("substring(path, length(root) + 2)")).as("rel"))
        .orderBy(col("root"), col("path"))
    }),

    // A6 — top-k largest files per root ("which files dominate a map").
    "a6_topk_files" -> ((s, dir) => {
      val w = Window.partitionBy(col("root"))
        .orderBy(col("length").desc, col("path"))
      manifest(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("root"), col("path"), col("length"), col("rn"))
        .orderBy(col("root"), col("rn"))
    }),

    // A7 — failure-log rollup by status (reference FAIL rows + counters,
    // ExecFilesMapper.java:27,184-187), expressed over the events table's
    // event_type as the status column.
    "a7_status_rollup" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      // Grand total as a broadcast 1-row join, not an unpartitioned
      // window: same values (sum of the same counts), but no
      // everything-to-one-task WindowExec (and no per-run warning).
      val total = counts.agg(sum(col("n")).as("tot"))
      counts.crossJoin(broadcast(total))
        // No round(): double division of identical operands is bit-identical
        // across engines; round() implementations are not.
        .withColumn("pct", col("n") * 100.0 / col("tot"))
        .drop("tot")
        .orderBy(col("event_type"))
    }))

  def oracle: Map[String, String] = Map(
    "a1_dup_dst" ->
      s"""$manifestSql
         |SELECT relative_dst, CAST(count(*) AS BIGINT) AS n_sources,
         |       string_agg(path, ',' ORDER BY path) AS src_paths
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
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - length) // 1048576 AS bin
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
    "a7_status_rollup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) AS DOUBLE) * 100.0 /
        |         CAST(sum(count(*)) OVER () AS DOUBLE) AS pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
