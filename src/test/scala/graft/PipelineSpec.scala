package graft

import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.queries.ExtOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library-composition story: a curation pipeline is a CHAIN of the
  * declared operators over plain DataFrames — quality gate → exact dedup
  * → near-dup canonical keep → per-source token budget — with each stage
  * consuming the previous stage's frame. The per-query oracles pin each
  * stage's arithmetic; this spec pins that the stages actually compose
  * (column contracts line up, nothing forces a collect between stages)
  * and that the end state satisfies the pipeline's invariants.
  */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  test("quality -> exact dedup -> near-dup keep -> token budget composes lazily") {
    val docs = graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val n0 = docs.count()

    // Stage 1: row-level quality gate (c17's decision surface).
    val kept = TextAnalysis.qualityDecisions(docs)
      .filter(col("reason") === "keep").drop("reason")

    // Stage 2: exact dedup — keep the lowest doc_id per content hash
    // (the b1 shape as a filter).
    val wh = Window.partitionBy(md5(col("text").cast("binary")))
      .orderBy(col("doc_id"))
    val exact = kept.withColumn("rn", row_number().over(wh))
      .filter(col("rn") === 1).drop("rn")

    // Stage 3: near-dup keep decision — drop every doc labeled into a
    // component it does not canonically represent (the c15/c25 shape as
    // a filter: non-members are singletons and pass through).
    val labels = Dedup.dedupLabels(exact, 1, 0.98)
    val nearKept = exact.join(
      labels.filter(col("doc_id") =!= col("label")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

    // Stage 4: per-source token budget (the c33 admission rule).
    val budget = 400L
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admitted = nearKept
      .withColumn("n_tokens", size(array_remove(split(col("text"), " "), "")).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(wSrc))
      .filter(col("cum") - col("n_tokens") < budget)

    val rows = admitted.collect() // ONE action drives the whole chain
    assert(rows.nonEmpty)
    assert(rows.length <= n0)

    // Invariants of the final corpus:
    // (1) no two admitted docs share content
    val texts = rows.map(_.getAs[String]("text"))
    assert(texts.distinct.length == texts.length, "exact duplicates survived")
    // (2) every component contributes at most its canonical doc
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    val byComp = comps.filter(p => ids.contains(p._1)).groupBy(_._2)
    assert(byComp.values.forall(_.length <= 1), "near-dup component over-represented")
    // (3) per-source token totals respect budget + one crossing doc
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rs) =>
      val toks = rs.map(_.getAs[Long]("n_tokens"))
      assert(toks.sum - toks.max < budget, s"$src blew its budget")
    }
  }

  test("IQR fence -> weighted sample -> chunking -> JSONL export composes") {
    import graft.operators.Sampling
    import graft.sources.JsonlSink
    val docs = graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "documents")

    // Stage 1: per-lang Tukey fences on token count (the c40 shape).
    val d = docs.withColumn("nt",
      size(expr("filter(split(text, ' '), x -> x <> '')")).cast("double"))
    val q = d.groupBy(col("lang"))
      .agg(expr("percentile(nt, 0.25)").as("q1"), expr("percentile(nt, 0.75)").as("q3"))
      .select(col("lang"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    val fenced = d.join(broadcast(q), Seq("lang"))
      .filter(!(col("nt") < col("lo") || col("nt") > col("hi")))

    // Stage 2: quality-weighted sampling (the c37 gate).
    val sampled = Sampling.weightedSample(
      fenced.withColumn("w256", least(lit(240L), lit(16L) + col("nt").cast("long") * 2)),
      col("doc_id"), col("w256"))

    // Stage 3: token-window chunking (the c35 shape, same geometry).
    val (w, st) = (ExtOps.CHUNK_W, ExtOps.CHUNK_S)
    val chunks = sampled
      .select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .withColumn("n", size(col("toks")).cast("long")).filter(col("n") > 0)
      .withColumn("n_chunks",
        when(col("n") <= w, lit(1L)).otherwise(expr(s"(n - $w + ${st - 1}) div $st + 1L")))
      .select(col("doc_id"), col("lang"), col("toks"), col("n"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("i"))
      .withColumn("clen", least(lit(w.toLong), col("n") - col("i") * st))
      .withColumn("chunk_text", concat_ws(" ",
        expr(s"slice(toks, CAST(i * $st + 1 AS INT), CAST(clen AS INT))")))
      .select(col("doc_id"), col("lang"), col("i"), col("clen"), col("chunk_text"))

    // Stage 4: sharded JSONL hand-off keyed by (doc, window).
    val dir = java.nio.file.Files.createTempDirectory("pipe-jsonl").toFile.getAbsolutePath
    JsonlSink.write(chunks,
      concat(col("doc_id"), lit("#"), col("i")), nShards = 4, dir)

    val back = spark.read.json(dir)
    assert(back.count() == chunks.count(), "export must be lossless")
    assert(back.count() > 0)
    // chunk parents ⊆ sampled ⊆ fenced (the funnel only narrows)
    val sampledIds = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    val fencedIds = fenced.select("doc_id").collect().map(_.getLong(0)).toSet
    val parentIds = back.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(parentIds.subsetOf(sampledIds) && sampledIds.subsetOf(fencedIds))
    // every chunk respects the window geometry
    val bad = back.filter(col("clen") > w || col("clen") < 1).count()
    assert(bad == 0)
  }
}
