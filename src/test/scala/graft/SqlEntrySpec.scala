package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions.{array, col}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CountMinSketchAgg, LongArrayDot, LongArrayL1, MinHashBands, QDigestAgg, SimHash64, TokenNgrams}
import graft.queries.Tables

/** [[SqlEntry.registerViews]] is the SQL-text entry point: after it,
  * every testdata table resolves as a view and every native function
  * `GraftBridge.registerFunctions` registers is callable from
  * `spark.sql`, with the same result as the Catalyst expression built
  * directly through `GraftBridge.column`.
  *
  * Every curated SQL text left in [[SqlEntry.sparkSql]] must be the
  * DataFrame path, re-spelled: same columns, same rows, same order.
  * Both run in THIS engine, so any divergence is a real drift between
  * the two spellings, not dialect noise.
  */
class SqlEntrySpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def registerViews(): Unit = SqlEntry.registerViews(spark, dir)

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  /** `spark.sql(text)` against the same query built with the native
    * expressions as DataFrame columns; both must return the same rows.
    */
  private def sameAsColumn(text: String, df: => DataFrame): Unit = {
    registerViews()
    val viaSql = spark.sql(text)
    val viaCol = df
    assert(viaSql.schema.map(_.dataType) == viaCol.schema.map(_.dataType))
    assert(rows(viaSql) == rows(viaCol))
  }

  private def c(name: String) = GraftBridge.expression(col(name))

  test("the DataFrame-only remainder is exactly the documented excuse list") {
    // Every query outside the 13 names below is DataFrame-only. b1, c45,
    // c71, c72 and c73 keep a SQL text because NullTextSpec runs them, c51
    // because TimeSeriesSpec does; the a-family goes with them. A stray text, or a
    // pinned text that went missing, fails here, as does a text for a
    // query that no longer exists.
    val kept = Set("a1_dup_dst", "a2_job_metrics", "a3_bin_pack", "a4_map_count",
      "a5_relative_path", "a6_topk_files", "a7_status_rollup", "b1_exact_dedup",
      "c45_hll_distinct", "c51_ts_similar_users", "c71_overlap_hll", "c72_membership_gate",
      "c73_weighted_quantiles")
    assert(SqlEntry.sparkSql.keySet == kept,
      s"stray=${SqlEntry.sparkSql.keySet -- kept} missing=${kept -- SqlEntry.sparkSql.keySet}")
    assert(SqlEntry.sparkSql.keySet.subsetOf(SparkEntry.queries.keySet),
      s"texts for undeclared queries: ${SqlEntry.sparkSql.keySet -- SparkEntry.queries.keySet}")
  }

  for (name <- SqlEntry.sparkSql.keys.toSeq.sorted) {
    test(s"$name: SQL text matches the DataFrame path row-for-row") {
      val viaSql = SqlEntry.sql(spark, dir, name)
      val viaDf = SparkEntry.queries(name)(spark, dir)
      assert(viaSql.schema.fieldNames.toSeq == viaDf.schema.fieldNames.toSeq,
        "column names/order drifted between the two spellings")
      val a = viaSql.collect().map(_.toSeq).toSeq
      val b = viaDf.collect().map(_.toSeq).toSeq
      assert(a == b)
    }
  }


  test("registerViews publishes all 10 testdata tables as views") {
    registerViews()
    assert(SqlEntry.tableNames.size == 10)
    for (t <- SqlEntry.tableNames) {
      val view = spark.sql(s"SELECT * FROM $t")
      val loaded = Tables.load(spark, dir, t)
      assert(view.schema == loaded.schema, s"view $t drifted from Tables.load")
      val n = view.count()
      assert(n > 0 && n == loaded.count(), s"view $t has $n rows")
    }
  }

  test("spark.sql calls long_array_dot and long_array_l1") {
    registerViews()
    val r = spark.sql("SELECT long_array_dot(array(1L, 2L, 3L), array(4L, -5L, 6L)), " +
      "long_array_l1(array(1L, 2L, 3L), array(4L, -5L, 6L))").head()
    assert(r.getLong(0) == 4L - 10L + 18L)
    assert(r.getLong(1) == 3L + 7L + 3L)
    val a = GraftBridge.expression(array(col("doc_id"), col("n_chars")))
    val b = GraftBridge.expression(array(col("n_chars"), col("doc_id")))
    sameAsColumn(
      "SELECT doc_id, long_array_dot(array(doc_id, n_chars), array(n_chars, doc_id)), " +
        "long_array_l1(array(doc_id, n_chars), array(n_chars, doc_id)) " +
        "FROM documents ORDER BY doc_id",
      spark.table("documents").select(col("doc_id"),
        GraftBridge.column(LongArrayDot(a, b)), GraftBridge.column(LongArrayL1(a, b)))
        .orderBy("doc_id"))
  }

  test("spark.sql calls simhash64, minhash_bands and token_ngrams") {
    sameAsColumn(
      "SELECT doc_id, simhash64(text), minhash_bands(text), token_ngrams(text, 4), " +
        "token_ngrams(text, 2, 3, false) FROM documents ORDER BY doc_id",
      spark.table("documents").select(col("doc_id"),
        GraftBridge.column(SimHash64(c("text"))),
        GraftBridge.column(MinHashBands(c("text"))),
        GraftBridge.column(TokenNgrams(c("text"), 4, Int.MaxValue, skipEmpty = true)),
        GraftBridge.column(TokenNgrams(c("text"), 2, 3, skipEmpty = false)))
        .orderBy("doc_id"))
  }

  test("spark.sql calls count_min_sketch_exactable") {
    sameAsColumn(
      "SELECT lang, count_min_sketch_exactable(text, 4, 1024) " +
        "FROM documents GROUP BY lang ORDER BY lang",
      spark.table("documents").groupBy("lang")
        .agg(GraftBridge.column(
          CountMinSketchAgg(c("text"), 4, 1024).toAggregateExpression()))
        .orderBy("lang"))
  }

  // One input partition: each group's digest is built by one partial
  // buffer, so the estimates do not depend on merge order and the two
  // spellings must agree exactly. 20,000 values against k = 64 make the
  // digest compress.
  private def digestInput: DataFrame = spark.range(0L, 20000L, 1L, 1)
    .selectExpr("id % 3 AS g", "(id * 7919) % 100003 AS v", "id % 5 + 1 AS w")

  test("spark.sql qdigest_quantiles equals QDigestAgg through GraftBridge.column") {
    digestInput.createOrReplaceTempView("qdigest_in")
    sameAsColumn(
      "SELECT g, qdigest_quantiles(v, 20, 64, 100, 500, 900) AS e " +
        "FROM qdigest_in GROUP BY g ORDER BY g",
      digestInput.groupBy("g").agg(GraftBridge.column(
        QDigestAgg(c("v"), 20, 64, Seq(100, 500, 900)).toAggregateExpression()).as("e"))
        .orderBy("g"))
  }

  test("spark.sql qdigest_quantiles_weighted equals the weighted QDigestAgg " +
      "through GraftBridge.column") {
    digestInput.createOrReplaceTempView("qdigest_in")
    sameAsColumn(
      "SELECT g, qdigest_quantiles_weighted(v, w, 20, 64, 100, 500, 900) AS e " +
        "FROM qdigest_in GROUP BY g ORDER BY g",
      digestInput.groupBy("g").agg(GraftBridge.column(
        QDigestAgg(c("v"), 20, 64, Seq(100, 500, 900), c("w")).toAggregateExpression()).as("e"))
        .orderBy("g"))
    // unit weights reduce to the unweighted form
    assert(rows(spark.sql(
        "SELECT g, qdigest_quantiles_weighted(v, 1L, 20, 64, 500) FROM qdigest_in " +
          "GROUP BY g ORDER BY g")) ==
      rows(spark.sql(
        "SELECT g, qdigest_quantiles(v, 20, 64, 500) FROM qdigest_in GROUP BY g ORDER BY g")))
  }
}
