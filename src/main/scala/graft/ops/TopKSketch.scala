package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable heavy-hitter segments with deterministic error brackets —
  * the top-k member of the persistable-sketch family ([[Hll]] counts
  * distincts, [[QuantileSketch]] ranks values, this ranks ITEMS).
  *
  * "Top domains ever crawled" over a 100 TB lake cannot re-aggregate
  * history per question, and the exact per-item count table is
  * data-sized (billions of URLs). The mergeable form: each batch
  * appends its EXACT top-k item counts plus one error bound — the
  * (k+1)-th largest count, the most any dropped item could have had
  * (the lossy-counting/SpaceSaving guarantee, Metwally et al. 2005,
  * made deterministic by exact batch counts). Reading merges segments
  * by summing stored counts:
  *
  *   true(item) ∈ [cnt_lower, cnt_upper],
  *   cnt_lower = Σ stored counts (exact in every batch where present),
  *   cnt_upper = cnt_lower + Σ bounds of batches where ABSENT.
  *
  * Everything is exact integer arithmetic on deterministically ranked
  * rows (count desc, item asc), so segments are partition-invariant,
  * replayable by the DuckDB oracle, and the bracket is a THEOREM, not
  * a confidence interval.
  *
  * Scale shape: a batch summary costs one partial-count exchange over
  * the batch plus a distributed top-(k+1) — `TakeOrderedAndProject`
  * when global, a per-key window when keyed; nothing single-partitions
  * data-sized tables. A segment is ≤ (k·|keys| + 1) rows; reading all
  * history costs a scan of segment rows only.
  */
object TopKSketch {

  /** Exact top-k summary of ONE batch: (keyCols..., item, cnt, bound)
    * where rows are the k largest exact item counts per key (count
    * desc, item asc tie-break) and `bound` is that key's (k+1)-th
    * count — 0 when the key has ≤ k distinct items, so the bracket
    * degenerates to exact. Global (keyCols empty) uses the distributed
    * top-k primitive; keyed uses a per-key window (scale-safe: the
    * window partitions by key).
    */
  def batchSummary(df: DataFrame, keyCols: Seq[String], itemCol: String,
                   k: Int): DataFrame = {
    require(k > 0, s"k=$k")
    val counts = df
      .groupBy((keyCols :+ itemCol).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumnRenamed(itemCol, "item")
    val ranked =
      if (keyCols.isEmpty) {
        // TakeOrderedAndProject: distributed top-(k+1), no global sort
        counts.orderBy(col("cnt").desc, col("item")).limit(k + 1)
          .withColumn("rn",
            row_number().over(Window.orderBy(col("cnt").desc, col("item"))))
      } else {
        counts.withColumn("rn", row_number().over(
          Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col("cnt").desc, col("item"))))
          .filter(col("rn") <= k + 1)
      }
    val bounds = ranked
      .groupBy(keyCols.map(col): _*)
      .agg(coalesce(max(when(col("rn") === k + 1, col("cnt"))), lit(0L))
        .as("bound"))
    val joined =
      if (keyCols.isEmpty) ranked.filter(col("rn") <= k).crossJoin(broadcast(bounds))
      else ranked.filter(col("rn") <= k).join(bounds, keyCols)
    joined.select(keyCols.map(col) :+ col("item") :+ col("cnt") :+
      col("bound"): _*)
  }

  /** Merged heavy-hitter report over segment tables: (keyCols..., item,
    * cnt_lower, cnt_upper) for the topN items per key by cnt_lower
    * (item asc tie-break). `segments` must carry a `batch_id` column
    * distinguishing the appends (one bound per (key, batch) — taken
    * from any of its rows, they all carry it).
    */
  def mergedTopK(segments: DataFrame, keyCols: Seq[String],
                 topN: Int): DataFrame = {
    val batchBounds = segments
      .select((keyCols :+ "batch_id" :+ "bound").map(col): _*).distinct()
    val totalBound = batchBounds
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("bound")).as("__total_bound"))
    val perItem = segments
      .groupBy((keyCols :+ "item").map(col): _*)
      .agg(sum(col("cnt")).as("cnt_lower"),
        sum(col("bound")).as("__present_bound"))
    val withBounds =
      if (keyCols.isEmpty) perItem.crossJoin(broadcast(totalBound))
      else perItem.join(totalBound, keyCols)
    val report = withBounds.select(keyCols.map(col) :+ col("item") :+
      col("cnt_lower") :+
      (col("cnt_lower") + col("__total_bound") - col("__present_bound"))
        .as("cnt_upper"): _*)
    val w =
      if (keyCols.isEmpty) Window.orderBy(col("cnt_lower").desc, col("item"))
      else Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("cnt_lower").desc, col("item"))
    report.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topN).drop("__rn")
  }

  /** Persist one batch's summary as an append-only segment (≤ k·|keys|
    * rows) under a `batch_id=<id>` partition with dynamic overwrite
    * (the [[Segments]] exactly-once convention): the bound bookkeeping
    * needs batch identity anyway, and a retried micro-batch REPLACES
    * its own segment instead of double-counting.
    */
  def writeSegment(df: DataFrame, keyCols: Seq[String], itemCol: String,
                   k: Int, batchId: Long, path: String): Unit =
    // repartition(1) after the agg (see Hll.writeSegments): a segment is ≤ k·|keys| rows — one file per batch
    Segments.writer(batchSummary(df, keyCols, itemCol, k).repartition(1),
        mode = "append", batchId = Some(batchId))
      .partitionBy("batch_id").parquet(path)

  /** Heavy hitters over ALL history from the stored segments. */
  def topKFromSegments(spark: SparkSession, path: String,
                       keyCols: Seq[String], topN: Int): DataFrame =
    mergedTopK(Tables.parquet(spark, path), keyCols, topN)
}
