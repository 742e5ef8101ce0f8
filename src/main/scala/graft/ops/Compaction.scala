package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.NioLocalFileSystem

/** Small-file compaction planning — the table-maintenance pass every
  * long-lived 100 TB lake needs: streaming ingest and partitioned
  * writes leave thousands of kilobyte files per partition, and read
  * throughput collapses unless they are periodically rewritten into
  * target-sized outputs. The PLAN is pure metadata work: it consumes
  * the file listing (path, size), never the data, so it runs in
  * seconds regardless of table size — the expensive rewrite then
  * touches only the bins the plan names.
  *
  * Bin assignment is the deterministic streaming form: files in stable
  * (partition, file) order, each file lands in bin
  * `floor(bytes_before_it / target)` — a per-partition running sum, no
  * driver-side loop, no RNG, replayable on any engine. Bins can
  * overshoot `target` by at most one file (the classic next-fit
  * guarantee), which is exactly what compaction wants: never split a
  * file, never leave two undersized neighbors.
  *
  * The window partitions by the TABLE partition key: per-partition file
  * counts are metadata-scale (10³–10⁵), so a single task per partition
  * key holds the listing slice comfortably — this is the one place a
  * low-cardinality window is the right tool, because the input is a
  * listing, not rows.
  */
object Compaction {

  /** Per-FILE bin assignment — the plan's row-level form: one row per
    * input file with the bin it lands in. [[planBins]] is its per-bin
    * aggregate; the executor ([[compactParquetDir]]) consumes this one.
    */
  def assignBins(files: DataFrame, partCol: String, fileCol: String,
                 bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"targetBytes=$targetBytes must be >= 1")
    val w = Window.partitionBy(col(partCol)).orderBy(col(fileCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("__cb", coalesce(sum(col(bytesCol)).over(w), lit(0L)))
      .withColumn("bin", expr(s"__cb DIV ${targetBytes}L"))
      .select(col(partCol).as("part"), col(fileCol).as("file"),
        col(bytesCol).as("bytes"), col("bin"))
  }

  /** Per-bin compaction plan: (part, bin, n_files, total_bytes) for
    * every planned output group. `files` is one row per data file with
    * its partition value, a stable file identifier (path or index — the
    * plan's determinism rides on its ordering), and its size in bytes.
    */
  def planBins(files: DataFrame, partCol: String, fileCol: String,
               bytesCol: String, targetBytes: Long): DataFrame =
    assignBins(files, partCol, fileCol, bytesCol, targetBytes)
      .groupBy(col("part"), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("total_bytes"))

  /** Execute the plan against a FLAT parquet directory (an appended
    * index such as [[graft.dedup.NearDup.appendNearDupIndex]]'s output,
    * or one `cell=` partition of an IVF list table): list the data
    * files, bin them with [[assignBins]], rewrite every multi-file bin
    * as ONE file, leave already-right-sized singleton bins untouched,
    * then swap — new files in, consumed files out. Returns
    * (files_before, files_after).
    *
    * Scale shape: the LISTING is metadata (collected driver-side — file
    * counts per directory are 10³–10⁵ by construction, that being the
    * problem compaction solves), and each bin rewrite is a
    * target-sized read+write with NO shuffle (`coalesce(1)` merges the
    * bin's read partitions in place). At 100 TB the pass is scoped
    * per table-partition (this function's unit IS one directory), so
    * bin-job counts stay bounded per invocation and partitions compact
    * independently — embarrassingly parallel across a maintenance
    * fleet. Query-equivalence (reads see the same rows before/after)
    * is pinned by CompactionSpec. Not crash-atomic: a failure between
    * "new files landed" and "old files deleted" leaves duplicates —
    * callers wanting atomicity stage into a fresh directory and flip a
    * pointer, which is a catalog concern, not this pass's.
    */
  def compactParquetDir(spark: org.apache.spark.sql.SparkSession, dir: String,
                        targetBytes: Long): (Int, Int) = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val hPath = new HPath(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Seq[(String, Long)] =
      fs.listStatus(hPath).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .map(s => (s.getPath.toString, s.getLen))
    val before = dataFiles()
    if (before.length <= 1) return (before.length, before.length)
    val assigned = assignBins(
      spark.createDataFrame(before).toDF("file", "bytes").withColumn("part", lit(0)),
      "part", "file", "bytes", targetBytes)
      .select("file", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val toRewrite = assigned.groupBy(_._2).values.map(_.map(_._1).sorted.toSeq)
      .filter(_.length > 1).toSeq.sortBy(_.head)
    if (toRewrite.isEmpty) return (before.length, before.length)
    val tmp = new HPath(hPath, s".compact_tmp_${java.util.UUID.randomUUID()}")
    toRewrite.foreach { binFiles =>
      NioLocalFileSystem.write(Tables.parquetPaths(spark, binFiles).coalesce(1))
        .mode("append").parquet(tmp.toString)
    }
    val newFiles = fs.listStatus(tmp).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    toRewrite.flatten.foreach(f => fs.delete(new HPath(f), false))
    newFiles.foreach(s => fs.rename(s.getPath, new HPath(hPath, s.getPath.getName)))
    fs.delete(tmp, true)
    (before.length, dataFiles().length)
  }

  /** [[compactParquetDir]] over every `key=value` partition
    * subdirectory of a PARTITIONED table (IVF `cell=` lists, BM25
    * `pbucket=` postings): partitions compact independently — the
    * files inside a partition dir carry no partition column (it lives
    * in the dir name), so each subdir is exactly the flat case.
    * Returns summed (files_before, files_after). At scale, this loop
    * is the fleet-dispatch list: each partition is an independent
    * maintenance task.
    */
  def compactPartitionedDir(spark: org.apache.spark.sql.SparkSession, dir: String,
                            targetBytes: Long): (Int, Int) = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hPath = new HPath(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.toString).sorted
    parts.map { p =>
      // nested partitioning (batch_id=N/pbucket=M): recurse until the
      // leaf level — each leaf dir is exactly the flat case
      val hasSubParts = fs.listStatus(new HPath(p)).exists(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      if (hasSubParts) compactPartitionedDir(spark, p, targetBytes)
      else compactParquetDir(spark, p, targetBytes)
    }.foldLeft((0, 0)) { case ((b, a), (pb, pa)) => (b + pb, a + pa) }
  }

  /** The one fold cadence of the streaming ingest loops: fold after
    * every `every`-th batch (never batch 0, nothing committed below it
    * yet); `every <= 0` disables. Folds are read-invisible, so the
    * cadence moves file counts, never answers.
    */
  def foldDue(batchId: Long, every: Int): Boolean =
    every > 0 && batchId > 0 && batchId % every == 0

  /** Fold CLOSED streaming batch segments of a [[graft.ops.Segments]]-
    * keyed table into one consolidated segment — the maintenance pass
    * that keeps a continuously-ingesting index's file count bounded by
    * the fold cadence instead of growing one segment per micro-batch.
    *
    * Folds every `batch_id=N` directory with 0 ≤ N < `upTo` (the
    * in-flight batch stays out: Structured Streaming can only retry the
    * CURRENT batch, so committed batches below it are safe to move)
    * plus any prior fold output (batch_id ≤ −10), into a fresh segment
    * named `batch_id=-(10 + maxFoldedBatch)` — deterministic, so a
    * re-run of the same fold overwrites its own target rather than
    * duplicating. Base (-1) and correction (-2) segments are left
    * alone. Readers see identical rows before and after (segments are
    * summed; which segment a row sits in is irrelevant — spec-pinned).
    *
    * `innerCol`: the inner partition level to preserve (`pbucket`,
    * `cell`), or None for flat segment tables (doclen, stats).
    *
    * `fold`: the body applied to the source rows (their `batch_id`
    * column included) to form the target's rows. The default MOVES the
    * rows; a store whose reads rank rows by batch passes a semantic fold
    * instead ([[graft.streaming.ClusterIngest.compactLabels]]).
    *
    * Same crash-atomicity caveat as [[compactParquetDir]]: a failure
    * between "target written" and "sources deleted" leaves duplicate
    * rows until the fold is re-run to completion; staging + pointer
    * flip is the catalog-level fix. Returns the number of segment dirs
    * folded (0 = nothing to do).
    */
  def foldStreamSegments(spark: org.apache.spark.sql.SparkSession, dir: String,
                         upTo: Long, innerCol: Option[String],
                         fold: DataFrame => DataFrame = _.drop("batch_id")): Int = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.functions.col
    val hPath = new HPath(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return 0
    val segIds = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    val foldable = segIds.filter(n => (n >= 0 && n < upTo) || n <= -10L).sorted
    if (foldable.size < 2) return 0
    val maxBatch = foldable.filter(_ >= 0).maxOption
      .getOrElse(foldable.map(n => -10L - n).max) // re-fold of folds only
    val targetId = -10L - maxBatch
    val target = s"$dir/batch_id=$targetId"
    // crash recovery: the target is excluded from its own sources, and a
    // _SUCCESS-marked target means the previous identical fold finished
    // its write — the remaining sources are duplicates to delete, NOT
    // inputs to re-fold (re-folding from a partial source set after some
    // deletes would lose the already-deleted segments' rows)
    val srcIds = foldable.filterNot(_ == targetId)
    val srcDirs = srcIds.map(n => s"$dir/batch_id=$n")
    if (fs.exists(new HPath(s"$target/_SUCCESS"))) {
      srcDirs.foreach(p => fs.delete(new HPath(p), true))
      return srcIds.size
    }
    val df = fold(Tables.parquetPaths(spark, srcDirs, Map("basePath" -> dir)))
    innerCol match {
      case Some(c) =>
        NioLocalFileSystem.write(df.repartition(col(c)))
          .mode("overwrite").partitionBy(c).parquet(target)
      case None =>
        NioLocalFileSystem.write(df.coalesce(1)).mode("overwrite").parquet(target)
    }
    srcDirs.foreach(p => fs.delete(new HPath(p), true))
    srcIds.size
  }
}
