package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** NULL-text semantics of the null-sensitive queries: the testdata
  * tables have no NULL text, so the oracle gate can never exercise
  * them. This spec pins each query to the literal rows worked out for a
  * hand-built corpus WITH NULL text, and its SqlEntry text to the same
  * rows; in b1 the NULL row must count as one distinct value (the c24
  * coalesce-to-'' rule) — not silently vanish from count(DISTINCT).
  */
class NullTextSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** A testdata directory whose documents table is `docs` (doc_id,
    * text, lang, source, n_chars); every other table links to the real
    * sf0.001 one.
    */
  private def corpus(prefix: String, docs: Seq[(Long, String, String, String, Long)]): String = {
    val d = Files.createTempDirectory(prefix).toFile
    for (t <- SqlEntry.tableNames if t != "documents") {
      Files.createSymbolicLink(
        new java.io.File(d, s"$t.parquet").toPath,
        Paths.get(s"/root/testdata/sf0.001/$t.parquet"))
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(d, "documents.parquet").toString)
    d.getAbsolutePath
  }

  // srcA has two identical docs + one NULL; srcB has one doc + two NULLs.
  private lazy val dir: String = corpus("nulltext", Seq(
    (1L, "same text", "en", "srcA", 9L),
    (2L, "same text", "en", "srcA", 9L),
    (3L, null.asInstanceOf[String], "en", "srcA", 0L),
    (4L, "only doc", "en", "srcB", 8L),
    (5L, null.asInstanceOf[String], "en", "srcB", 0L),
    (6L, null.asInstanceOf[String], "en", "srcB", 0L)))

  /** The DataFrame path's column names and rows for `q` over `d`. */
  private def run(q: String, d: String): (Seq[String], Seq[Seq[Any]]) = {
    val df = SparkEntry.queries(q)(spark, d)
    (df.schema.fieldNames.toSeq, df.collect().map(_.toSeq).toSeq)
  }

  test("b1 twin counts a NULL-text row as one distinct hash") {
    val (cols, rows) = run("b1_exact_dedup", dir)
    assert(cols == Seq("source", "n_docs", "n_distinct", "n_dupes"))
    // srcA: 3 docs, 2 distinct ({'same text', NULL}), 1 dupe
    // srcB: 3 docs, 2 distinct ({'only doc', NULL}), 1 dupe (2nd NULL)
    assert(rows == Seq(Seq("srcA", 3L, 2L, 1L), Seq("srcB", 3L, 2L, 1L)))
  }

  test("b1 SQL text matches the twin on NULL text row-for-row") {
    val twin = graft.queries.GroupB.queries("b1_exact_dedup")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val text = SqlEntry.sql(spark, dir, "b1_exact_dedup")
      .collect().map(_.toSeq).toSeq
    assert(text == twin)
  }

  // The r8 review found this divergence class twice: a null-key filter
  // applied to one spelling of a query but not another passes every
  // oracle run — the testdata has no NULLs — and detonates on the first
  // hostile corpus. Pin the null-sensitive queries to the rows worked
  // out for the corpus above, and their SQL texts to the same rows.
  private val expectedOnNullText: Seq[(String, Seq[String], Seq[Seq[Any]])] = Seq(
    // one lang: the NULL-text rows leave both the exact distinct count
    // and the registers
    ("c45_hll_distinct", Seq("lang", "n_exact", "n_est", "n_empty"),
      Seq(Seq("en", 2L, 23L, 30L))),
    // one source pair: NULL text never counts as a shared document
    ("c71_overlap_hll", Seq("source_a", "source_b", "est_a", "est_b",
      "est_union", "est_shared", "n_exact_shared"),
      Seq(Seq("srcA", "srcB", 22L, 22L, 23L, 21L, 0L))),
    // no doc_id of the corpus is an eval doc (doc_id % 97 = 0), so the
    // gate reports no lang; the NULL-text training rows must still
    // build the filter (the eval leg's NULL text: the c72 case below)
    ("c72_membership_gate", Seq("lang", "n_eval", "n_flagged", "n_hits_exact",
      "n_false_neg"), Seq()))

  for ((q, cols, rows) <- expectedOnNullText) {
    test(s"$q SQL text matches the twin on NULL text row-for-row") {
      val (gotCols, got) = run(q, dir)
      assert(gotCols == cols, s"$q columns drifted")
      assert(got == rows, s"$q on a NULL-text corpus returned $got")
      val text = SqlEntry.sql(spark, dir, q).collect().map(_.toSeq).toSeq
      assert(text == got, s"$q SQL text diverges on a NULL-text corpus")
    }
  }

  // c73's hostile corpus (found in the r8 review): a NULL lang (Spark
  // sorts NULLS FIRST, DuckDB NULLS LAST — an unguarded GROUP BY lang
  // diverges cross-engine) and a lang whose docs are ALL empty (every
  // v=0 ⇒ w=0 ⇒ tw=0 — an unguarded digest eval returns NULL and the
  // band boolean goes NULL against the oracle's literal TRUE). The
  // fixed c73 filters both in all three spellings.
  private lazy val dirLang: String = corpus("nulllang", Seq(
    (1L, "alpha beta gamma", "en", "srcA", 16L),
    (2L, "delta epsilon", "en", "srcA", 13L),
    (3L, "uno dos tres cuatro", "es", "srcA", 19L),
    (4L, "orphan words here", null.asInstanceOf[String], "srcA", 17L),
    (5L, "", "zz", "srcB", 0L),        // lang with ONLY empty docs
    (6L, "   ", "zz", "srcB", 3L)))     // whitespace-only ⇒ v = 0 too

  test("c73 on NULL/empty langs: three spellings agree; no NULL rows escape") {
    val df = SparkEntry.queries("c73_weighted_quantiles")(spark, dirLang)
    val twin = df.collect()
    val text = SqlEntry.sql(spark, dirLang, "c73_weighted_quantiles")
      .collect()
    assert(twin.map(_.toSeq).toSeq == text.map(_.toSeq).toSeq,
      "c73 DataFrame twin and SQL text diverge on a NULL-lang corpus")
    assert(df.schema.fieldNames.toSeq ==
      Seq("lang", "total_tokens", "wp50_tokens", "wp90_tokens", "sketch_within_band"))
    // en: token counts {3, 2}, weights {3, 2}, tw 5, ranks 3 and 5 land
    // on 3; es: one 4-token doc
    assert(twin.map(_.toSeq).toSeq ==
      Seq(Seq("en", 5L, 3L, 3L, true), Seq("es", 4L, 4L, 4L, true)),
      s"c73 on a NULL-lang corpus returned ${twin.map(_.toSeq).toSeq}")
    val langs = twin.map(_.getString(0)).toSeq
    assert(langs == Seq("en", "es"),
      s"NULL lang and the zero-weight lang must be excluded, got $langs")
    assert(twin.forall(r => !r.isNullAt(r.fieldIndex("sketch_within_band")) &&
      r.getBoolean(r.fieldIndex("sketch_within_band"))),
      "the band boolean must be a literal TRUE, never NULL — the oracle " +
        "pins it as TRUE")
  }

  // c72's eval/probe leg with NULL text: docs 97 and 194 are the eval
  // docs (doc_id % 97 = 0), and 97's text is NULL. The oracle keeps only
  // non-null text, so the NULL-key probe row must drop out of the gate
  // rather than count as an unflagged eval doc.
  private lazy val dirEval: String = corpus("nulleval", Seq(
    (1L, "same text", "en", "srcA", 9L),
    (2L, "only doc", "en", "srcA", 8L),
    (97L, null.asInstanceOf[String], "en", "srcA", 0L),
    (194L, "same text", "en", "srcA", 9L)))

  test("c72 on NULL eval text: the NULL-key probe row leaves the gate") {
    val (cols, rows) = run("c72_membership_gate", dirEval)
    assert(cols == Seq("lang", "n_eval", "n_flagged", "n_hits_exact", "n_false_neg"))
    // doc 194's key was trained (doc 1), so it is flagged and an exact
    // hit; doc 97 is not an eval row at all
    assert(rows == Seq(Seq("en", 1L, 1L, 1L, 0L)),
      s"c72 on a NULL-text eval corpus returned $rows")
  }

  test("c71 on NULL text: null keys leave registers, not fabricated estimates") {
    val rows = SparkEntry.queries("c71_overlap_hll")(spark, dir).collect()
    // both sources still have non-null docs, so exactly the one pair
    // appears; a source whose keys were ALL null would drop instead of
    // getting an empty-register estimate
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "srcA" && r.getString(1) == "srcB")
    assert(r.getLong(6) == 0L, "srcA and srcB share no non-null doc")
  }
}
