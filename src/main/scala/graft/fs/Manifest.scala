package graft.fs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import scala.collection.mutable

/** One row of the engine's file manifest — the Spark-native equivalent of
  * the reference's `FilePair` + SequenceFile manifests (reference:
  * FilePair.java:17-27, DistExec.java:526-541,592-597). `length` is the
  * split weight (0 for dirs, DistExec.java:592).
  */
final case class FileEntry(
    path: String,
    root: String,
    relativeDst: String,
    length: Long,
    isDir: Boolean,
    modificationTime: Long)

final class DuplicationException(msg: String) extends RuntimeException(msg)

/** Manifest builder: enumerate source trees into a `Dataset[FileEntry]`.
  *
  * Replaces the reference's driver-side SequenceFile manifest build
  * (DistExec.java:471-644). The manifest is never materialized to disk —
  * it IS the DataFrame; Catalyst plans over it directly.
  */
object Manifest {

  /** Relative path of `path` under `root`: `"."` for the root itself,
    * `None` when not under the root (reference: makeRelative,
    * DistExec.java:388-410).
    */
  def makeRelative(root: String, path: String): Option[String] = {
    val r = stripTrailingSlash(root)
    val p = stripTrailingSlash(path)
    if (p == r) Some(".")
    else if (r == "/" && p.startsWith("/")) Some(p.substring(1))
    else if (p.startsWith(r + "/")) Some(p.substring(r.length + 1))
    else None
  }

  private def stripTrailingSlash(s: String): String =
    if (s.length > 1 && s.endsWith("/")) s.dropRight(1) else s

  /** Secure-cluster delegation tokens, obtained UP FRONT on the driver
    * for every distinct filesystem among `paths` and MERGED INTO THE
    * LIVE UGI (`UserGroupInformation.addCredentials` — `getCredentials`
    * returns a defensive COPY, so adding tokens to it would be a silent
    * no-op) — the reference's `checkSrcPath` →
    * `TokenCache.obtainTokensForNamenodes` (DistExec.java:209-226): on a
    * kerberized HDFS, tasks hold no TGT, so without tokens grabbed at
    * submit time every filesystem open fails. Renewer: the RM principal
    * if configured (the YARN renewal path), else the current user.
    *
    * Timing caveat (unlike the reference's MR submit path): Spark
    * captures delegation tokens for executors at application launch /
    * via its keytab token manager (`spark.kerberos.*`), so call this
    * BEFORE the first action of the job — it guarantees the DRIVER side
    * (listing, dup-check, mkdirs, tmp cleanup) and covers executors when
    * the session is built after the grab; long-running apps should run
    * Spark's own renewal in addition.
    *
    * No-op off secure clusters. `securityEnabled` is injectable because
    * flipping `UserGroupInformation` into kerberos mode is JVM-global —
    * the unit test passes `true` explicitly with a mock filesystem; a
    * real kerberized e2e needs a KDC this sandbox doesn't have
    * (documented limit).
    *
    * Returns the kinds of the obtained tokens (diagnostic/test surface).
    */
  def obtainDelegationTokens(
      conf: Configuration,
      paths: Seq[String],
      securityEnabled: Boolean =
        org.apache.hadoop.security.UserGroupInformation.isSecurityEnabled): Seq[String] = {
    if (!securityEnabled) Seq.empty
    else {
      val ugi = org.apache.hadoop.security.UserGroupInformation.getCurrentUser
      val renewer = Option(conf.get("yarn.resourcemanager.principal"))
        .getOrElse(ugi.getUserName)
      val creds = new org.apache.hadoop.security.Credentials()
      val kinds = paths.map(p => new Path(p).getFileSystem(conf))
        .groupBy(_.getUri).values.map(_.head)
        .flatMap(fs => Option(fs.addDelegationTokens(renewer, creds)).toSeq.flatten)
        .map(_.getKind.toString).toSeq
      ugi.addCredentials(creds) // merge into the LIVE subject, not a copy
      kinds
    }
  }

  /** Driver-side iterative DFS over one root (reference's explicit-stack
    * walk, DistExec.java:549-609). Fine for moderate trees; use
    * [[listDistributed]] when the fan-out is large.
    */
  def listRoot(conf: Configuration, root: String): Seq[FileEntry] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath))
      throw new java.io.FileNotFoundException(s"source $root does not exist")
    val rootStatus = fs.getFileStatus(rootPath)
    val rootStr = rootStatus.getPath.toString
    val out = mutable.ArrayBuffer.empty[FileEntry]
    val stack = mutable.Stack[FileStatus](rootStatus)
    while (stack.nonEmpty) {
      val st = stack.pop()
      val p = st.getPath.toString
      val rel = makeRelative(rootStr, p).getOrElse(p)
      out += toEntry(st, rootStr, rel)
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(stack.push)
    }
    out.toSeq
  }

  // Paths keep their FULL URI (scheme + authority): stripping to the bare
  // path would make executors resolve a source from hdfs://nn/... or
  // s3a://bucket/... against their DEFAULT filesystem (the reference
  // preserved qualified URIs for the same reason).
  private def toEntry(st: FileStatus, root: String, rel: String): FileEntry =
    FileEntry(
      path = st.getPath.toString,
      root = root,
      relativeDst = rel,
      length = if (st.isDirectory) 0L else st.getLen,
      isDir = st.isDirectory,
      modificationTime = st.getModificationTime)

  /** Rewrite a root's entries so the tree mirrors under the SOURCE'S OWN
    * NAME (the reference's non-special root choice: `root =
    * src.getParent()`, DistExec.java:553 — each of several sources lands
    * at `dst/<srcname>/...`, and a rerun into an existing dst nests
    * rather than merging namespaces). A single-file root becomes its file
    * name either way.
    */
  private def underSourceNameEntry(e: FileEntry): FileEntry = {
    val name = new Path(e.root).getName
    if (name.isEmpty) e // root is "/" — nothing to nest under
    else if (e.relativeDst == ".") e.copy(relativeDst = name)
    else e.copy(relativeDst = s"$name/${e.relativeDst}")
  }

  private def underSourceName(es: Seq[FileEntry]): Seq[FileEntry] =
    es.map(underSourceNameEntry)

  /** Build the manifest for several roots (multiple `<srcurl>` args are an
    * implicit union — reference DistExec.java:549 loop).
    *
    * Root choice mirrors the reference (DistExec.java:546-553): in the
    * `special` case (exactly one source into a nonexistent dst) a
    * directory source's CONTENTS land in dst directly; otherwise each
    * source is relativized against its parent, i.e. mirrors under
    * `dst/<srcname>/...`. A single-file root contributes its file name in
    * both modes.
    */
  def build(spark: SparkSession, roots: Seq[String], special: Boolean = true): Dataset[FileEntry] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = roots.flatMap { r =>
      val es = listRoot(conf, r)
      if (!special) underSourceName(es)
      else
        // A single-FILE root contributes itself under its file name.
        es.map { e =>
          if (e.relativeDst == "." && !e.isDir)
            e.copy(relativeDst = new Path(e.path).getName)
          else e
        }
    }
    spark.createDataset(entries)
  }

  /** Distributed breadth-first listing: each wave lists its directories on
    * executors. This removes the reference's driver-side listing
    * bottleneck (single-threaded stack walk, DistExec.java:558-608) for
    * 100 TB-scale trees with wide fan-out.
    *
    * The directory frontier stays a DATASET between waves — the driver
    * never sees path strings, only one count per wave (a tree with
    * millions of directories per level would otherwise funnel every path
    * through the driver between waves). Each wave's output is
    * checkpointed, so wave N's lineage does not replay waves 1..N−1, and
    * the frontier repartitions by path so listing fan-out spreads across
    * executors regardless of which wave produced the paths.
    */
  def listDistributed(spark: SparkSession, roots: Seq[String], maxWaves: Int = 64,
      special: Boolean = true): Dataset[FileEntry] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    // Executors must see the driver's effective Hadoop config (FS
    // credentials, defaultFS, spark.hadoop.* overrides) — a bare
    // `new Configuration()` would load classpath defaults only.
    val confEntries = hadoopConfEntries(conf)
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    def listWave(frontier: Dataset[(String, String)]): Dataset[FileEntry] = frontier
      .repartition(parallelism, col("_1"))
      .mapPartitions { it =>
        val c = restoreConf(confEntries)
        it.flatMap { case (dir, root) =>
          val p = new Path(dir)
          val fs = p.getFileSystem(c)
          val self = fs.getFileStatus(p)
          val selfEntry = toEntry(self, root, makeRelative(root, dir).getOrElse(dir))
          if (!self.isDirectory) Iterator(selfEntry)
          else Iterator(selfEntry) ++ fs.listStatus(p).iterator.map { st =>
            val cp = st.getPath.toString
            toEntry(st, root, makeRelative(root, cp).getOrElse(cp))
          }
        }
      }
    // Seed frontier: the roots themselves (driver-side stat only, cheap).
    val seed: Seq[(String, String)] = roots.map { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      val q = fs.getFileStatus(p).getPath.toString
      (q, q)
    }
    var frontier = spark.createDataset(seed)
    var frontierSize = seed.size.toLong
    var acc = spark.emptyDataset[FileEntry]
    val intermediates = mutable.ArrayBuffer.empty[Dataset[_]]
    var waves = 0
    while (frontierSize > 0 && waves < maxWaves) {
      val persisted = listWave(frontier).localCheckpoint(true)
      intermediates += persisted
      acc = acc.union(persisted)
      // Next frontier: directories DISCOVERED this wave (children only —
      // a wave's own input dirs re-appear as selfEntry rows, subtracted
      // by the except; a child dir enters the frontier exactly once
      // since trees have no cycles).
      frontier = persisted
        .filter(e => e.isDir)
        .map(e => (e.path, e.root))
        .except(frontier)
        .localCheckpoint(true)
      intermediates += frontier
      frontierSize = frontier.count() // ONE number to the driver per wave
      waves += 1
    }
    // Truncation must be LOUD: files below the depth cap would silently
    // vanish from the manifest (and the exec job) otherwise.
    if (frontierSize > 0)
      throw new IllegalStateException(
        s"tree deeper than maxWaves=$maxWaves; $frontierSize director(ies) unlisted — raise maxWaves")
    // Same root-choice semantics as [[build]]: nest under the source name
    // unless this is the special single-src-into-new-dst job; a
    // single-FILE root contributes its file name either way.
    val isSpecial = special
    val fixed = acc.map { e =>
      if (!isSpecial) underSourceNameEntry(e)
      else if (e.relativeDst == "." && !e.isDir)
        e.copy(relativeDst = new Path(e.path).getName)
      else e
    }
    // Dirs appear both as a wave input and as their parent's child row.
    // Materialize (lineage-truncated), then release the per-wave blocks.
    val result = fixed.dropDuplicates("path", "root").localCheckpoint(true)
    intermediates.foreach(_.unpersist())
    result
  }

  /** Driver-side snapshot of a Hadoop Configuration as serializable pairs. */
  def hadoopConfEntries(conf: Configuration): Seq[(String, String)] = {
    val it = conf.iterator()
    val buf = mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toSeq
  }

  /** Executor-side rebuild of the driver's effective configuration. */
  def restoreConf(entries: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Duplicate-destination check: the reference sorts the dst manifest and
    * compares adjacent keys (DistExec.java:647-673); here it is the
    * planning pass's shuffle by destination name (no sort). Throws
    * [[DuplicationException]] listing up to 20 offending destinations in
    * sorted order, each with its sorted sources (exit −2 parity lives in
    * the CLI).
    */
  def checkDuplication(manifest: Dataset[FileEntry]): Unit = plan(manifest).checkDuplication()

  /** What the one planning pass over a manifest returns. `dups` holds up
    * to [[MaxDups]] duplicated destination names in sorted order, each
    * with its sorted sources; `dirCount` leaves out the `"."` root rows;
    * `bucketOffsets` lists every (root, bucket) of [[binPack]] in order,
    * each with the bytes of the same root's earlier buckets.
    */
  private[graft] final case class Plan(
      dups: Seq[(String, Seq[String])],
      fileCount: Long,
      totalBytes: Long,
      dirCount: Long,
      bucketOffsets: Seq[((String, Int), Long)]) {

    def checkDuplication(): Unit = if (dups.nonEmpty) {
      val msg = dups.map { case (name, srcs) => s"$name <- ${srcs.mkString(", ")}" }.mkString("; ")
      throw new DuplicationException(s"duplicate destination names: $msg")
    }
  }

  private val MaxDups = 20

  // The planning pass shuffles three kinds of key: a destination name
  // (value: how many files claim it and their paths), a (root, bucket)
  // byte subtotal, and the file/byte/directory totals.
  private sealed trait PlanKey
  private final case class NameKey(relativeDst: String) extends PlanKey
  private final case class BucketKey(root: String, bucket: Int) extends PlanKey
  private case object TotalsKey extends PlanKey
  private final case class PlanVal(n: Long, bytes: Long, dirs: Long, srcs: List[String]) {
    def +(o: PlanVal): PlanVal = PlanVal(n + o.n, bytes + o.bytes, dirs + o.dirs, srcs ++ o.srcs)
  }

  /** The duplicate check, the planning stats and the bucket byte totals of
    * [[binPack]] in ONE Spark job: a shuffle by destination name with a
    * map-side combine (a unique name ships one record), the subtotals
    * folded into the same shuffle under their own keys. The driver gets
    * at most 20 duplicates per partition, one byte total per (root,
    * bucket) and the three totals, never the manifest.
    */
  private[graft] def plan(manifest: Dataset[FileEntry]): Plan = {
    val rows = manifest.rdd
    val reduced = rows
      .mapPartitions[(PlanKey, PlanVal)] { it =>
        val buckets = mutable.HashMap.empty[(String, Int), Long]
        var files, bytes, dirs = 0L
        val names = it.flatMap { e =>
          if (e.isDir) {
            if (e.relativeDst != ".") dirs += 1
            None
          } else {
            files += 1
            bytes += e.length
            val k = (e.root, bucket(e))
            buckets(k) = buckets.getOrElse(k, 0L) + e.length
            Some(NameKey(e.relativeDst) -> PlanVal(1, 0, 0, List(e.path)))
          }
        }
        // `++` takes its argument by name: the subtotals are read after
        // the last name has gone by
        names ++ (buckets.iterator.map { case ((r, b), n) => BucketKey(r, b) -> PlanVal(0, n, 0, Nil) } ++
          Iterator.single(TotalsKey -> PlanVal(files, bytes, dirs, Nil)))
      }
      .reduceByKey(new HashPartitioner(math.max(1, rows.getNumPartitions)), _ + _)
      .mapPartitions { it =>
        // the largest name leaves first, so the queue keeps the smallest
        val top = mutable.PriorityQueue.empty[(String, PlanVal)](
          Ordering.by[(String, PlanVal), String](_._1)(CodePointOrder))
        val subtotals = it.filter {
          case (NameKey(name), v) =>
            if (v.n > 1) {
              top += name -> v
              if (top.size > MaxDups) top.dequeue()
            }
            false
          case _ => true
        }.toVector
        subtotals.iterator ++ top.iterator.map { case (name, v) => NameKey(name) -> v }
      }
      .collect()
    var totals = PlanVal(0, 0, 0, Nil)
    val dups = mutable.ArrayBuffer.empty[(String, Seq[String])]
    val buckets = mutable.ArrayBuffer.empty[((String, Int), Long)]
    reduced.foreach {
      case (NameKey(name), v) => dups += name -> v.srcs.sorted(CodePointOrder)
      case (BucketKey(r, b), v) => buckets += (r, b) -> v.bytes
      case (TotalsKey, v) => totals = v
    }
    var root: String = null
    var off = 0L
    val offsets = buckets.sortBy(_._1)(Ordering.Tuple2(CodePointOrder, Ordering.Int)).map {
      case (k @ (r, _), n) =>
        if (r != root) { root = r; off = 0L }
        off += n
        k -> (off - n)
    }
    Plan(dups.sortBy(_._1)(CodePointOrder).take(MaxDups).toSeq,
      totals.n, totals.bytes, totals.dirs, offsets.toSeq)
  }

  /** Bucket of a file for [[binPack]]: the first code point of its path
    * below the root, −1 for a root that is itself a file (it sorts before
    * every child). The trailing-slash trim matters for filesystem roots
    * ('file:/', 's3a://bucket/'): without it the bucket is the child's
    * SECOND character and bucket order no longer matches path order.
    */
  private def bucket(e: FileEntry): Int = {
    var end = e.root.length
    while (end > 0 && e.root.charAt(end - 1) == '/') end -= 1
    val at = end + 1
    if (e.path.length > at) e.path.codePointAt(at) else -1
  }

  /** Size-weighted bin packing: assign each file a split id via running
    * byte sum / target — the reference's greedy `getSplits`
    * (DistExec.java:132-177), where a file's bin is
    * `floor((cum - length) / target)` and `cum` is the running byte sum
    * over its root in path order.
    *
    * Two-level distributed prefix sum, NOT a single pass per root: that
    * puts a whole source tree on one task, which serializes exactly when
    * it matters (one 100 TB root). Instead each file is bucketed by the
    * first character of its path below the root; buckets are CONTIGUOUS
    * in path order. (1) The planning pass returns each (root, bucket)'s
    * byte total (≤ 257 per root), which the driver sums into bucket
    * offsets. (2) One sort within partitions keyed (bucket, path) gives
    * each bucket's local running sum: `cum = local_cum + offset`. Bit-
    * identical bins to the serial formulation (asserted in ManifestSpec),
    * with per-bucket parallelism.
    *
    * Returns the files with columns root, path, relativeDst, length,
    * isDir, modificationTime, cum and bin.
    */
  def binPack(manifest: Dataset[FileEntry], targetBytes: Long): Dataset[Row] = {
    val rows = binned(manifest, plan(manifest), targetBytes).map { case (e, cum, bin) =>
      Row(e.root, e.path, e.relativeDst, e.length, e.isDir, e.modificationTime, cum, bin)
    }
    manifest.sparkSession.createDataFrame(rows, BinSchema)
  }

  private val BinSchema = StructType(Seq(
    StructField("root", StringType),
    StructField("path", StringType),
    StructField("relativeDst", StringType),
    StructField("length", LongType, nullable = false),
    StructField("isDir", BooleanType, nullable = false),
    StructField("modificationTime", LongType, nullable = false),
    StructField("cum", LongType),
    StructField("bin", LongType)))

  /** [[binPack]] over a finished planning pass: each file with its `cum`
    * and `bin`. The buckets are numbered on the driver and bucket i sorts
    * on partition i mod n, so no bucket is split and none is hashed.
    */
  private[graft] def binned(manifest: Dataset[FileEntry], plan: Plan, targetBytes: Long)
      : RDD[(FileEntry, Long, Long)] = {
    val index = plan.bucketOffsets.map(_._1).zipWithIndex.toMap
    val offsets = plan.bucketOffsets.map(_._2).toArray
    val parts = math.max(1, math.min(offsets.length, manifest.sparkSession.sparkContext.defaultParallelism))
    implicit val byBucketThenPath: Ordering[(Int, String)] = Ordering.Tuple2(Ordering.Int, CodePointOrder)
    manifest.rdd
      .flatMap { e =>
        if (e.isDir) None
        else {
          val b = index.getOrElse((e.root, bucket(e)), throw new IllegalStateException(
            s"${e.path} is in a bucket the planning pass did not see: the manifest changed between passes"))
          Some((b, e.path) -> e)
        }
      }
      .repartitionAndSortWithinPartitions(new ModPartitioner(parts))
      .mapPartitions { it =>
        var cur = -1
        var lcum = 0L
        it.map { case ((b, _), e) =>
          if (b != cur) { cur = b; lcum = 0L }
          lcum += e.length
          val cum = lcum + offsets(b)
          // Spark's `floor(long / long)`: a double division, then floor
          (e, cum, math.floor((cum - e.length).toDouble / targetBytes).toLong)
        }
      }
  }

  /** Map-count rule: `max(min(fileCount, cap), 1)` — file-count based, not
    * byte-based, because process-spawn cost is per file (reference fork
    * delta: DistExec.java:419-426 vs DistCp.java:933-941).
    */
  def mapCount(fileCount: Long, cap: Int): Int =
    math.max(math.min(fileCount, cap.toLong).toInt, 1)
}

/** String order by Unicode code point: Spark's binary string order
  * (UTF-8 bytes), which `String.compareTo` (UTF-16 units) departs from
  * above U+FFFF.
  */
private[graft] object CodePointOrder extends Ordering[String] {
  def compare(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length, b.length)
  }
}

/** Sends key k, or the first element of a pair key, to partition
  * k mod `numPartitions`: an exact placement where a hash partitioner
  * would stack some keys on one partition and leave others empty.
  */
private[graft] final class ModPartitioner(val numPartitions: Int) extends Partitioner {
  def getPartition(key: Any): Int = {
    val k: Long = key match {
      case (i: Int, _) => i
      case i: Long => i
    }
    java.lang.Math.floorMod(k, numPartitions.toLong).toInt
  }
}
