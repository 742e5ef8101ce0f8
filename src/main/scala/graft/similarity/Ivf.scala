package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.VectorOps
import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** IVF-style ANN: partition the corpus into `nLists` cells around sampled
  * centroids; queries scan only the `nProbe` nearest cells.
  *
  * Centroid selection is deterministic bottom-k by md5 priority over the
  * id (no k-means iterations — "IVF-flat with sampled centroids", the
  * standard cheap variant; with random-enough data sampled centroids give
  * the same cell-size distribution). Assignment is one broadcast of the
  * centroid set + a codegen'd argmax-cosine per row; at 100 TB this is a
  * single narrow pass, and the probe-side join touches
  * ~nProbe/nLists of the corpus.
  *
  * The inverted index ([[buildIndex]]) is a DataFrame keyed by `cell` —
  * persist it partitioned/bucketed by `cell` and probes become
  * partition-pruned scans.
  */
object Ivf {

  /** Per-centroid scores as an array of (score, cell) structs. The query
    * vector's own norm is a positive per-row constant — it cannot change
    * an argmax/argsort, so only the (compile-time-constant) centroid norm
    * divides: one dot per centroid, no per-row self-dot.
    *
    * Scores are ROUNDed to 6 decimals and ties break toward the larger
    * cell id (struct-max/sort semantics) — a fully specified ordering that
    * an external oracle (DuckDB `list_dot_product` + the same rounding)
    * replays exactly, making cell assignment hash-checkable rather than
    * bit-luck. A zero-norm centroid (possible only if a zero vector is
    * sampled) scores -2.0 — below any cosine — instead of raising ANSI
    * DIVIDE_BY_ZERO.
    */
  private def cellScores(centroids: Seq[(Long, Seq[Double])], vec: Column): Column =
    array(centroids.map { case (cid, cvec) =>
      val nrm = math.sqrt(cvec.map(x => x * x).sum)
      val score =
        if (nrm == 0.0) lit(-2.0)
        else round(VectorOps.dot(vec, array(cvec.map(lit): _*)) / lit(nrm), 6)
      struct(score.as("score"), lit(cid).as("cell"))
    }: _*)

  private def scoreAgainst(centroids: Seq[(Long, Seq[Double])], vec: Column): Column =
    array_max(cellScores(centroids, vec)).getField("cell")

  /** Deterministic sampled centroids: bottom-`nLists` ids by md5 priority. */
  def centroids(corpus: DataFrame, nLists: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Long, Seq[Double])] =
    corpus
      .withColumn("__pri", md5(col(idCol).cast(StringType)))
      .orderBy("__pri", idCol)
      .limit(nLists)
      .select(col(idCol), VectorOps.toDoubles(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .toSeq

  /** Assign every corpus vector to its nearest centroid cell. */
  def buildIndex(corpus: DataFrame, cents: Seq[(Long, Seq[Double])],
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .withColumn("cell", scoreAgainst(cents, col("cvec")))
      .withColumn("cn", VectorOps.norm(col("cvec")))

  /** Per-query probed cells: rank centroids by cosine, keep `nProbe`
    * (the query norm is constant per row — dropped from the ranking,
    * same argsort; rounding + cell-id tie-break as in cellScores,
    * oracle-replayable). Output: one (qid, qvec, qn, cell) row per
    * probe — |queries|·nProbe rows, broadcastable by construction.
    */
  def probedCells(queries: DataFrame, cents: Seq[(Long, Seq[Double])], nProbe: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scoredCells = cellScores(cents, col("qvec"))
    queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qn", VectorOps.norm(col("qvec")))
      .withColumn("cells", slice(reverse(array_sort(scoredCells)), 1, nProbe))
      .select(col("qid"), col("qvec"), col("qn"),
        explode(col("cells").getField("cell")).as("cell"))
  }

  /** Top-k by cosine probing the `nProbe` nearest cells per query. */
  def topK(index: DataFrame, queries: DataFrame, cents: Seq[(Long, Seq[Double])],
           k: Int, nProbe: Int = 4,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = probedCells(queries, cents, nProbe, idCol, vecCol)
    val scored = index.join(broadcast(q), "cell")
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.cosineFromParts(VectorOps.dot(col("qvec"), col("cvec")), col("qn"), col("cn")), 6).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // -------------------------------------------------------------------
  // Persistent IVF index — the near-dup-index treatment for retrieval:
  // centroids + inverted lists live as parquet, probes hit the stored
  // tables, new vectors append to the lists the stored centroids chose.
  // Steady-state retrieval over a slowly-growing corpus pays ZERO
  // clustering/assignment work per query — the difference between "one
  // |queries|·(nProbe/nLists)-sized probe" and "re-derive the index
  // from 100 TB of raw vectors per search".
  // -------------------------------------------------------------------

  /** Persist the index at `path`: `path/centroids` = (cell, cv) — one
    * row per centroid; `path/lists` = the [[buildIndex]] table written
    * `partitionBy("batch_id", "cell")`, so a probe's `cell IN (...)`
    * filter becomes parquet PARTITION PRUNING — only the probed
    * nProbe/nLists slice of the corpus is ever listed, let alone read.
    * `batch_id` is the append-segment dimension (-1 = base rebuild;
    * streaming appends key their micro-batch id for idempotent
    * retries — see [[appendIvfIndex]]); readers drop it.
    */
  def writeIvfIndex(corpus: DataFrame, nLists: Int, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cents = centroids(corpus, nLists, idCol, vecCol)
    NioLocalFileSystem.write(
        corpus.sparkSession.createDataFrame(cents).toDF("cell", "cv").coalesce(1))
      .mode("overwrite").parquet(s"$path/centroids")
    val lists = buildIndex(corpus, cents, idCol, vecCol)
      // repartition ON the partition column first: without it every
      // upstream task writes a file into every cell directory —
      // tasks × cells files per rebuild (~160k at 10k-task cluster
      // scale), a metadata-layer scale-killer. Hashing each cell to one
      // task makes files-per-cell ≈ 1 (spec-asserted); shard a cell
      // further (cell + salt) only when one cell outgrows a task.
      .repartition(col("cell"))
      .withColumn("batch_id", lit(-1L))
    NioLocalFileSystem.write(lists)
      .mode("overwrite").partitionBy("batch_id", "cell").parquet(s"$path/lists")
  }

  /** The stored centroid set, driver-side (≤ nLists rows — the same
    * bounded collect the from-raw path does). Sorted by cell id for a
    * deterministic Seq regardless of file order; cell assignment itself
    * is order-insensitive (argmax with cell-id tie-break).
    */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[(Long, Seq[Double])] =
    Tables.parquet(spark, s"$path/centroids")
      .orderBy("cell")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .toSeq

  /** Append an ingest batch to the stored lists: assign the NEW vectors
    * against the STORED centroids (centroids do not move — the IVF
    * steady-state contract; rebuild via [[writeIvfIndex]] when drift
    * warrants), append under the batch's segment partition. Incremental
    * cost is one narrow pass over the batch.
    *
    * Exactly-once: with `batchId` set (the streaming
    * [[graft.streaming.Ingest.drain]] batch id), the segment is written with DYNAMIC partition overwrite into
    * `batch_id=<id>/cell=*` — a retried micro-batch replaces its own
    * partitions instead of double-appending vectors.
    */
  def appendIvfIndex(newVecs: DataFrame, path: String,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     batchId: Option[Long] = None): Unit = {
    val cents = readCentroids(newVecs.sparkSession, path)
    graft.ops.Segments.writer(
        buildIndex(newVecs, cents, idCol, vecCol)
          .repartition(col("cell")), // one file per cell per batch, not tasks × cells
        "append", batchId)
      .partitionBy("batch_id", "cell").parquet(s"$path/lists")
  }

  /** Delete vectors from the stored index without rebuild: ids land in
    * `path/tombstones` (append-only) and probes anti-join them out.
    * Idempotent by construction (an anti-join doesn't care how many
    * tombstone rows an id has); a compaction rewrite folds them in
    * physically later.
    */
  def deleteFromIvfIndex(ids: DataFrame, path: String,
                         idCol: String = "vec_id"): Unit =
    // no cast: tombstones keep the stored id type so the anti-join
    // matches (a long cast of string ids yields NULLs = silent no-op)
    NioLocalFileSystem.write(ids.select(col(idCol).as("cid")).distinct())
      .mode("append").parquet(s"$path/tombstones")

  private[similarity] def minusTombstones(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, path: String): DataFrame = {
    val t = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    if (!t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t)) df
    else df.join(broadcast(Tables.parquet(spark, s"$path/tombstones")), Seq("cid"),
      "left_anti")
  }

  /** [[topK]] against the STORED index: centroids come off
    * `path/centroids` (no sampling pass over the corpus), candidate
    * vectors off `path/lists` pruned to the union of probed cells —
    * at most nLists values, collected from the |queries|·nProbe probe
    * set, so the `isin` is bounded by the centroid count, never by the
    * query count. Semantics identical to the from-raw [[topK]]
    * (spec-pinned).
    */
  def topKAgainstIndex(queries: DataFrame, path: String, k: Int, nProbe: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val cents = readCentroids(spark, path)
    val q = probedCells(queries, cents, nProbe, idCol, vecCol)
      .localCheckpoint() // probe set reused: once for the cell list, once in the join
    val cells = q.select("cell").distinct().collect().map(_.getLong(0)).toSeq
    val lists = minusTombstones(spark,
      Tables.parquet(spark, s"$path/lists")
        .filter(col("cell").isin(cells: _*)) // static partition pruning
        // partition-column type inference may narrow cell to int; restore
        // the written long so the probe join keys compare without casts
        .withColumn("cell", col("cell").cast("long"))
        .drop("batch_id"), // segment dimension, irrelevant to probes
      path)
    val scored = lists.join(broadcast(q), "cell")
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.cosineFromParts(VectorOps.dot(col("qvec"), col("cvec")), col("qn"), col("cn")), 6).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
