package graft.fs

import java.nio.file.{Files, Path => JPath}
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import org.apache.spark.ListenerBusAccess
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class ManifestSpec extends AnyFunSuite with SparkSpec {

  private def mkTree(): JPath = {
    val root = Files.createTempDirectory("graft-manifest")
    Files.writeString(root.resolve("a.txt"), "alpha\n")
    Files.writeString(root.resolve("b.txt"), "bravo bravo\n")
    val sub = Files.createDirectories(root.resolve("sub/deep"))
    Files.writeString(sub.resolve("c.txt"), "charlie\n")
    Files.createDirectories(root.resolve("empty"))
    root
  }

  test("makeRelative: strip, dot-for-root, None outside root") {
    assert(Manifest.makeRelative("/a/b", "/a/b/c/d.txt").contains("c/d.txt"))
    assert(Manifest.makeRelative("/a/b", "/a/b").contains("."))
    assert(Manifest.makeRelative("/a/b/", "/a/b").contains("."))
    assert(Manifest.makeRelative("/a/b", "/a/bc/d").isEmpty)
    assert(Manifest.makeRelative("/", "/x").contains("x"))
  }

  test("build enumerates recursively incl. empty dirs, lengths as weights") {
    val root = mkTree()
    val m = Manifest.build(spark, Seq(root.toString)).collect()
    val byRel = m.map(e => e.relativeDst -> e).toMap
    assert(byRel.contains("."))
    assert(byRel("a.txt").length == 6)
    assert(byRel("sub/deep/c.txt").length == 8)
    assert(byRel("empty").isDir && byRel("empty").length == 0)
    assert(m.count(!_.isDir) == 3)
  }

  test("single-file root lists under its own name") {
    val root = mkTree()
    val m = Manifest.build(spark, Seq(root.resolve("a.txt").toString)).collect()
    assert(m.length == 1)
    assert(m.head.relativeDst == "a.txt" && !m.head.isDir)
  }

  private def sameRows(roots: Seq[JPath], special: Boolean = true): Unit = {
    val rs = roots.map(_.toString)
    def rows(ds: org.apache.spark.sql.Dataset[FileEntry]) =
      ds.collect().toSeq.sortBy(e => (e.root, e.path))
    assert(rows(Manifest.listDistributed(spark, rs, special = special)) == rows(Manifest.build(spark, rs, special)))
  }

  test("distributed listing matches driver-side listing") {
    val root = mkTree()
    sameRows(Seq(root))
    // skewed: one top directory with more subdirectories than the job has partitions
    val skewed = Files.createTempDirectory("graft-manifest-skew")
    for (i <- 0 until 4 * spark.sparkContext.defaultParallelism + 3) {
      val d = Files.createDirectories(skewed.resolve(s"top/d$i"))
      Files.writeString(d.resolve("f.txt"), s"$i\n")
    }
    sameRows(Seq(skewed))
    sameRows(Seq(mkTree(), mkTree()), special = false)
    sameRows(Seq(root.resolve("a.txt")))
  }

  test("distributed listing of a three-level tree takes at most 2 Spark jobs") {
    val root = mkTree()
    val jobs = ListenerBusAccess.jobCount(spark.sparkContext) {
      assert(Manifest.listDistributed(spark, Seq(root.toString)).collect().length == 7)
    }
    assert(jobs > 0 && jobs <= 2, s"$jobs Spark jobs")
  }

  test("distributed listing of a 70-level directory chain is complete") {
    val root = Files.createTempDirectory("graft-manifest-chain")
    val leaf = (0 until 70).foldLeft(root)((d, i) => d.resolve(s"d$i"))
    Files.createDirectories(leaf)
    Files.writeString(leaf.resolve("leaf.txt"), "leaf\n")
    val m = Manifest.listDistributed(spark, Seq(root.toString)).collect()
    assert(m.length == 72 && m.count(!_.isDir) == 1)
    sameRows(Seq(root))
  }

  test("duplicate destinations across roots raise DuplicationException") {
    val r1 = mkTree()
    val r2 = mkTree()
    val m = Manifest.build(spark, Seq(r1.toString, r2.toString))
    val ex = intercept[DuplicationException](Manifest.checkDuplication(m))
    assert(ex.getMessage.contains("a.txt"))
  }

  test("duplicate message: the first 20 names in sorted order, each with its sorted sources") {
    val roots = Seq.fill(2)(Files.createTempDirectory("graft-manifest-dup"))
    // written in reverse so neither listing nor hashing hands back sorted order
    for (r <- roots; i <- 24 to 0 by -1) Files.writeString(r.resolve(f"d$i%02d.txt"), s"$i\n")
    Files.writeString(roots.head.resolve("only.txt"), "unique\n")
    val m = Manifest.build(spark, roots.map(_.toString), special = true)
    val srcs = m.collect().filter(!_.isDir).groupBy(_.relativeDst).map { case (k, es) =>
      k -> es.map(_.path).sorted.toSeq }
    val want = (0 until 20).map(i => f"d$i%02d.txt")
      .map(n => s"$n <- ${srcs(n).mkString(", ")}").mkString("; ")
    val ex = intercept[DuplicationException](Manifest.checkDuplication(m))
    assert(ex.getMessage == s"duplicate destination names: $want")
    assert(srcs.values.filter(_.size > 1).forall(_.size == 2) && srcs("only.txt").size == 1)
  }

  test("no exception when destinations are unique") {
    val root = mkTree()
    Manifest.checkDuplication(Manifest.build(spark, Seq(root.toString)))
  }

  test("bin packing: bins bounded by target (unless single file) and bytes conserved") {
    import spark.implicits._
    val files = (1 to 100).map(i =>
      FileEntry(s"/r/f$i", "/r", s"f$i", length = (i % 7 + 1) * 10L, isDir = false, 0L))
    val target = 100L
    val binned = Manifest.binPack(spark.createDataset(files), target)
    val perBin = binned.groupBy($"bin")
      .agg(sum($"length").as("bytes"), count(lit(1)).as("n"))
      .collect()
    val total = perBin.map(_.getLong(1)).sum
    assert(total == files.map(_.length).sum)
    // greedy start-offset rule: a bin only exceeds target via its last file
    perBin.foreach { r =>
      val bytes = r.getLong(1)
      assert(bytes <= target + 80, s"bin ${r.get(0)} = $bytes")
    }
  }

  // Mixed-prefix tree: several first-char buckets per root + a file root
  private val mixedPrefixFiles =
    (1 to 40).map(i => FileEntry(s"/r/a$i", "/r", s"a$i", (i % 5 + 1) * 7L, isDir = false, 0L)) ++
      (1 to 40).map(i => FileEntry(s"/r/m$i", "/r", s"m$i", (i % 3 + 1) * 11L, isDir = false, 0L)) ++
      (1 to 40).map(i => FileEntry(s"/r/z$i", "/r", s"z$i", (i % 7 + 1) * 5L, isDir = false, 0L)) ++
      Seq(FileEntry("/single.bin", "/single.bin", "single.bin", 42L, isDir = false, 0L))

  test("bin packing: two-level prefix sum equals the serial per-root window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ds = spark.createDataset(mixedPrefixFiles)
    val twoLevel = Manifest.binPack(ds, 50L)
      .select($"path", $"cum", $"bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val wSerial = Window.partitionBy($"root").orderBy($"path")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val serial = ds.filter(!$"isDir")
      .withColumn("cum", sum($"length").over(wSerial))
      .withColumn("bin", floor(($"cum" - $"length") / lit(50L)))
      .select($"path", $"cum", $"bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(twoLevel == serial)
  }

  test("the driver's plan and bins equal the distributed ones over the same rows") {
    import spark.implicits._
    def same(rows: Seq[FileEntry]): Unit = {
      val spread = spark.createDataset(spark.sparkContext.parallelize(rows, 3))
      assert(!spread.isLocal)
      val local = Manifest.plan(rows)
      val dist = Manifest.plan(spread)
      def message(p: Manifest.Plan) = scala.util.Try(p.checkDuplication()).failed.toOption.map(_.getMessage)
      assert(message(local) == message(dist))
      assert(local == dist)
      val target = math.max(local.totalBytes / 3, 1L)
      def bins(b: Iterable[(FileEntry, Long, Long)]) = b.map { case (e, cum, bin) => (e.path, cum, bin) }.toSet
      val driverBins = bins(Manifest.binned(rows, local, target))
      assert(driverBins.size == local.fileCount)
      assert(driverBins == bins(Manifest.binned(spread, dist, target).collect()))
    }
    def tree(roots: Seq[JPath], special: Boolean = true) =
      Manifest.build(spark, roots.map(_.toString), special).collect().toSeq
    same(tree(Seq(mkTree())))
    val skewed = Files.createTempDirectory("graft-manifest-skew")
    for (i <- 0 until 4 * spark.sparkContext.defaultParallelism + 3) {
      val d = Files.createDirectories(skewed.resolve(s"top/d$i"))
      Files.writeString(d.resolve("f.txt"), s"$i\n")
    }
    same(tree(Seq(skewed)))
    same(tree(Seq(mkTree(), mkTree()), special = false))
    same(tree(Seq(mkTree().resolve("a.txt"))))
    val dupRoots = Seq.fill(2)(Files.createTempDirectory("graft-manifest-dup"))
    for (r <- dupRoots; i <- 24 to 0 by -1) Files.writeString(r.resolve(f"d$i%02d.txt"), s"$i\n")
    same(tree(dupRoots))
    same(mixedPrefixFiles)
  }

  test("map count rule: min(files, cap), at least 1") {
    assert(Manifest.mapCount(0, 20) == 1)
    assert(Manifest.mapCount(5, 20) == 5)
    assert(Manifest.mapCount(500, 20) == 20)
  }

  test("delegation tokens: obtained once per distinct fs when secure, never otherwise") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("fs.mocktok.impl", classOf[TokenRecordingFileSystem].getName)
    conf.set("fs.mocktok.impl.disable.cache", "true")

    TokenRecordingFileSystem.renewers.clear()
    // two paths on the same fs → ONE addDelegationTokens call
    val kinds = Manifest.obtainDelegationTokens(conf,
      Seq("mocktok:///src", "mocktok:///dst"), securityEnabled = true)
    assert(TokenRecordingFileSystem.renewers.size == 1)
    assert(kinds == Seq("MOCK_TOKEN"))
    // and the token is in the LIVE UGI (getCredentials returns a copy;
    // adding to that copy was the bug this asserts against)
    val live = org.apache.hadoop.security.UserGroupInformation.getCurrentUser
      .getCredentials
    assert(live.getToken(new org.apache.hadoop.io.Text("mocktok-service")) != null,
      "obtained token must be merged into the current UGI's subject")

    // insecure cluster → no-op (the everyday path)
    TokenRecordingFileSystem.renewers.clear()
    assert(Manifest.obtainDelegationTokens(conf,
      Seq("mocktok:///src"), securityEnabled = false).isEmpty)
    assert(TokenRecordingFileSystem.renewers.isEmpty)

    // renewer prefers the RM principal when configured (YARN renewal path)
    conf.set("yarn.resourcemanager.principal", "rm/host@REALM")
    Manifest.obtainDelegationTokens(conf, Seq("mocktok:///src"),
      securityEnabled = true)
    assert(TokenRecordingFileSystem.renewers.last == "rm/host@REALM")
  }
}

/** Mock secure filesystem: records addDelegationTokens calls and, like
  * the real implementation, ADDS the token to the passed credentials. A
  * real kerberized e2e needs a KDC this sandbox lacks; flipping UGI into
  * kerberos mode is JVM-global, hence the injectable `securityEnabled`.
  */
class TokenRecordingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mocktok:///")
  override def addDelegationTokens(
      renewer: String,
      creds: org.apache.hadoop.security.Credentials)
      : Array[org.apache.hadoop.security.token.Token[_]] = {
    TokenRecordingFileSystem.renewers += renewer
    val t = new org.apache.hadoop.security.token.Token[
      org.apache.hadoop.security.token.TokenIdentifier]()
    t.setKind(new org.apache.hadoop.io.Text("MOCK_TOKEN"))
    t.setService(new org.apache.hadoop.io.Text("mocktok-service"))
    creds.addToken(t.getService, t)
    Array(t)
  }
}

object TokenRecordingFileSystem {
  val renewers: scala.collection.mutable.ArrayBuffer[String] =
    scala.collection.mutable.ArrayBuffer.empty
}
