package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Mergeable fixed-bin histogram quantile segments — the quantile
  * member of the persistable-sketch family ([[Hll]] is the
  * distinct-count member).
  *
  * Spark has `approx_percentile`, but like `approx_count_distinct` its
  * sketch lives and dies inside one aggregation. The lake-scale form of
  * "p95 document length over everything we have ever ingested" is a
  * TABLE: per-(key, bin) counts with bin edges FIXED at sketch-creation
  * time (a parameter of the sketch, the BM25 `nBuckets` convention —
  * never derived from the data, so every batch bins identically),
  * appended per batch, summed at read. Merging is `groupBy sum` —
  * associative, commutative, so batch boundaries cannot change the
  * merged histogram BY ALGEBRA, and a quantile over all history costs a
  * scan of sketch-sized segment rows, never a re-scan of the data.
  *
  * Determinism contract (NOTES.md fixed-point playbook): binning is
  * exact integer arithmetic (`((v − lo) · nBins) div (hi − lo)`,
  * clamped into the edge bins); ranks are exact integers with
  * per-mille quantile arguments (`rk = ⌈q_pm·N/1000⌉` in BIGINT); the
  * single float expression is the within-bin linear interpolation,
  * one fixed IEEE shape behind the micro-unit quantizer that the
  * oracle repeats verbatim.
  *
  * Accuracy: exact rank selection down to bin granularity — the
  * estimate is within one bin width of the true quantile, with linear
  * interpolation inside the crossing bin. Out-of-range values clamp
  * into the edge bins (standard histogram-sketch behavior; pick
  * [lo, hi) from the metric's contract, e.g. 0..maxDocBytes).
  *
  * Scale shape: the only exchange is the (key, bin) partial count —
  * ≤ nBins·|keys| rows per partition regardless of row count; values
  * never shuffle. Quantile extraction runs entirely on sketch-sized
  * tables (a bounded window + one join).
  */
object QuantileSketch {

  /** Per-(key, bin) counts for one batch: (keyCols..., bin, n) with
    * `bin = clamp(((v − lo)·nBins) div (hi − lo), 0, nBins−1)` — exact
    * integer binning of a LongType metric. One narrow pass + one
    * nBins-bounded partial-count exchange.
    */
  def bins(df: DataFrame, keyCols: Seq[String], valCol: String,
           lo: Long, hi: Long, nBins: Int): DataFrame = {
    require(hi > lo, s"empty bin range [$lo, $hi)")
    require(nBins > 0, s"nBins=$nBins")
    // clamp the VALUE into [lo, hi] before the bin arithmetic, so the
    // (v − lo)·nBins product is bounded by range·nBins even for wild
    // outliers (an unclamped 10¹⁸ metric value would overflow BIGINT
    // and bin silently wrong — the Hll negative-shift lesson class);
    // the range itself is require-bounded below
    require((hi - lo) <= Long.MaxValue / nBins,
      s"bin range ${hi - lo} * nBins=$nBins would overflow BIGINT")
    val clamped = s"least(greatest(CAST($valCol AS BIGINT), ${lo}L), ${hi}L)"
    val raw = expr(s"(($clamped - ${lo}L) * $nBins) div (${hi}L - ${lo}L)")
    // NULL metric values are excluded (a quantile over NULLs is
    // meaningless, and a NULL bin would sort ahead of bin 0 in the
    // cumulative window and silently shift every rank)
    df.filter(col(valCol).isNotNull)
      .select(keyCols.map(col) :+
        least(raw, lit(nBins - 1L)).as("bin"): _*)
      .groupBy(keyCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Union of histogram segments: groupBy sum — the merge is the same
    * aggregate that built the segments (associative, commutative).
    */
  def mergeBins(segments: DataFrame, keyCols: Seq[String]): DataFrame =
    segments.groupBy(keyCols.map(col) :+ col("bin"): _*)
      .agg(sum(col("n")).as("n"))

  /** Per-key quantile estimates from (merged) bins, one row per
    * (key, requested quantile): (keyCols..., q_pm, n_total, est_micro).
    * Quantiles arrive as PER-MILLE integers (500 = median, 950 = p95)
    * so the target rank `rk = (q_pm·N + 999) div 1000` is exact; the
    * crossing bin is the first with cumulative ≥ rk; the estimate is
    * `lo + (bin + (rk − cum_before)/n_bin) · width`, micro-quantized.
    * All inputs are sketch-sized; the window and joins touch
    * ≤ nBins·|keys| rows.
    */
  def quantiles(binned: DataFrame, keyCols: Seq[String], qsPerMille: Seq[Int],
                lo: Long, hi: Long, nBins: Int): DataFrame = {
    require(qsPerMille.nonEmpty && qsPerMille.forall(q => q > 0 && q <= 1000),
      s"per-mille quantiles must be in (0, 1000]: $qsPerMille")
    val width = (hi - lo).toDouble / nBins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("bin"))
    val cum = binned
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("nt", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)))
    val qs = qsPerMille.map(q => s"($q)").mkString(", ")
    val withQ = cum.crossJoin(
      binned.sparkSession.sql(s"SELECT * FROM VALUES $qs AS t(q_pm)"))
      .withColumn("rk", expr("(CAST(q_pm AS BIGINT) * nt + 999) div 1000"))
      .filter(col("cum") >= col("rk") && (col("cum") - col("n")) < col("rk"))
    withQ.select(keyCols.map(col) :+ col("q_pm").cast("int").as("q_pm") :+
      col("nt").cast(LongType).as("n_total") :+
      round((lit(lo.toDouble) +
        (col("bin").cast("double") +
          (col("rk") - (col("cum") - col("n"))).cast("double")
            / col("n").cast("double")) * lit(width)) * lit(1e6))
        .cast(LongType).as("est_micro"): _*)
  }

  /** [[bins]] → [[quantiles]] in one call — the ad-hoc form. */
  def quantileSketch(df: DataFrame, keyCols: Seq[String], valCol: String,
                     qsPerMille: Seq[Int], lo: Long, hi: Long,
                     nBins: Int): DataFrame =
    quantiles(bins(df, keyCols, valCol, lo, hi, nBins),
      keyCols, qsPerMille, lo, hi, nBins)

  /** Persist a batch's histogram as an append-only segment — the ingest
    * verb. Segments are sketch-sized (≤ nBins·|keys| rows per batch).
    * With `batchId` set, the segment lands under a `batch_id=<id>`
    * partition with dynamic overwrite (the [[Segments]] exactly-once
    * convention): a retried micro-batch replaces its own partial
    * segment instead of double-counting.
    */
  def writeSegments(df: DataFrame, keyCols: Seq[String], valCol: String,
                    lo: Long, hi: Long, nBins: Int, path: String,
                    batchId: Option[Long] = None): Unit =
    // repartition(1) after the agg (see Hll.writeSegments): a segment is ≤ nBins·|keys| rows — one file, not one
    // near-empty file per shuffle partition (the Hll fan-out lesson)
    Segments.writer(bins(df, keyCols, valCol, lo, hi, nBins).repartition(1),
        mode = "append", batchId = batchId)
      .partitionBy("batch_id").parquet(path)

  /** Quantiles over ALL history from the stored segments: merge
    * (groupBy sum) + extract — history is never re-scanned.
    */
  def quantilesFromSegments(spark: SparkSession, path: String,
                            keyCols: Seq[String], qsPerMille: Seq[Int],
                            lo: Long, hi: Long, nBins: Int): DataFrame =
    quantiles(mergeBins(Tables.parquet(spark, path), keyCols),
      keyCols, qsPerMille, lo, hi, nBins)
}
