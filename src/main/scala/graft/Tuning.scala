package graft

import org.apache.spark.sql.SparkSession

/** Data-size-derived session tuning.
  *
  * `spark.sql.shuffle.partitions` must track DATA SIZE, not core count:
  * the r6 ScaleSmoke measured c55 (n-gram containment) at 12.4× for a
  * 10× data step with the partition count frozen, recovering to 7.4×
  * once partitions scaled with the input. AQE coalesces DOWN from an
  * over-estimate at runtime, so the initial number only has to be a
  * same-order ceiling — the rule here is one partition per
  * [[TargetBytesPerPartition]] of INPUT bytes (post-shuffle data for
  * the explode-heavy queries is larger, which AQE's coalescing and
  * skew-splitting then shape), clamped to [1, 2000]. There is no
  * floor above 1: a constant floor of 8 turned every shuffle of an
  * input under 16 MiB into 8 near-empty tasks. On a 4-core box the
  * byte rule alone ran the sf0.01 query suite 1.32× as fast as the
  * floor of 8 (median of 20 pairs), and a floor of 4, the core count,
  * recovered less than half of that (PERF.md, "Shuffle partitions
  * from bytes alone").
  */
object Tuning {

  /** ~2 MiB of COMPRESSED parquet per initial shuffle partition.
    * The listing below counts on-disk bytes, and snappy parquet of this
    * corpus decodes to ~8–10× its file size (sf0.1 is 17.5 MB on disk
    * for ~150 MB of rows), so 2 MiB compressed ≈ 16–20 MiB of in-memory
    * shuffle input — the granularity the r6 evidence calibrated: sf0.1
    * derives 9 (near the measured sweet spot of 8 — 32 × small tasks
    * were scheduling-dominated), sf0.01 (1.9 MB) derives 1, 10× (118 MB
    * on disk) derives 59 (the c55 recovery band, 12.4×→7.4× measured at
    * 64–128), 100× ~570.
    */
  val TargetBytesPerPartition: Long = 2L << 20

  /** Total bytes of the parquet tables under `dir` (driver-side listing
    * — the same O(files) work Spark does to plan a scan of them). Needs
    * no SparkSession: runs BEFORE the builder so the result can seed
    * the session conf.
    */
  def dirBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) total += f.getLen
      }
      total
    }
  }

  def shufflePartitionsFor(bytes: Long): Int =
    math.min(2000L, math.max(1L,
      (bytes + TargetBytesPerPartition - 1) / TargetBytesPerPartition)).toInt

  /** Parquet files under `path` (a table file or a part-file directory). */
  private def parquetFiles(path: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) buf += f.getPath
      }
      buf.toSeq
    }
  }

  /** (rowGroups, Map[columnDotPath -> compressedBytes]) summed over the
    * parquet FOOTERS under `path` — footer reads only, O(files) tiny
    * I/O, the same metadata Spark's scan planning reads. Unlike
    * [[dirBytes]] it sees what a scan will actually read: row groups
    * (see [[rowGroupCount]]) and the compressed bytes of each column.
    */
  def footerStats(path: String): (Long, Map[String, Long]) = {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    var groups = 0L
    val colBytes = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    parquetFiles(path).foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks.asScala
        groups += blocks.size
        blocks.foreach(_.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          colBytes(name) = colBytes(name) + c.getTotalSize
        })
      } finally r.close()
    }
    (groups, colBytes.toMap)
  }

  /** Total parquet ROW GROUPS under `path`. A row group is the real unit
    * of scan parallelism — Spark assigns a row group to the split
    * holding its midpoint and DuckDB parallelizes across row groups —
    * whereas `getNumPartitions` counts BYTE splits: a large
    * single-row-group file reports many splits of which exactly one
    * does all the work (ADVICE r12 on c70's fan-out guard).
    */
  def rowGroupCount(path: String): Long = footerStats(path)._1

  /** Bucket shift for a VALUE-DOMAIN histogram (c70's quantile replay
    * leg): bucket id is `v >> shift`, so the dial trades histogram rows
    * (width >> shift buckets) against boundary-slice rows (~n /
    * buckets). The r9 verdict asked for this to be computed, not the
    * literal 12: pick the LARGEST shift (fewest buckets, smallest
    * histogram) that still keeps the expected slice at or under
    * `targetSliceRows` — slices get a single-task row_number, so they
    * must stay task-sized at any n — then back off if the bucket count
    * would blow the `maxHistRows` budget for the per-flag cumulative
    * window. All inputs are exact aggregates (count/min/max), no
    * sampling, so the choice is deterministic for a given dataset.
    * When n/width itself exceeds targetSliceRows (massive ties on a
    * narrow domain) no shift can help — the floor is shift 0 buckets
    * capped by maxHistRows, and slice size degrades to the tie
    * population, which is inherent to the order-statistic, not the
    * bucketing.
    */
  def bucketShift(n: Long, vMin: Long, vMax: Long,
      targetSliceRows: Long = 1L << 12, maxHistRows: Long = 1L << 20): Int = {
    // vMax - vMin overflows Long when the signed domain spans more than
    // Long.MaxValue (e.g. vMin = Long.MinValue, vMax > -2); the wrapped
    // difference is negative, which max(1, _) would clamp to width 1 and
    // return shift 0 — UNBOUNDING the histogram exactly when the domain
    // is widest. Saturate instead: a negative difference means the true
    // width exceeds Long.MaxValue.
    val diff = vMax - vMin
    val width =
      if (vMax < vMin) 1L                               // degenerate input: single bucket
      else if (diff < 0L || diff == Long.MaxValue) Long.MaxValue // saturate (incl. +1 overflow)
      else diff + 1L
    val wanted = math.min(maxHistRows,
      math.max(1L, (n + targetSliceRows - 1L) / targetSliceRows))
    var s = 0
    while (s < 62 && (width >> (s + 1)) >= wanted) s += 1
    while (s < 62 && (width >> s) > maxHistRows) s += 1
    s
  }

  /** Derive and APPLY the initial shuffle-partition count for a job over
    * the tables under `dir` on a live session; returns the chosen count.
    */
  def autoShufflePartitions(spark: SparkSession, dir: String): Int = {
    val n = shufflePartitionsFor(dirBytes(dir))
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }
}
