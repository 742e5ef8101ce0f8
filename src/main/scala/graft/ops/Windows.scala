package graft.ops

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The reference's analytical core: window functions (SURVEY.md §2.8).
  *
  * Scale notes: every window spec costs one exchange (hash partition on the
  * `PARTITION BY` keys) + one sort. Specs that share partition keys are
  * deliberately built on *one* `WindowSpec` so Catalyst plans a single
  * Window operator over a single exchange — the reference's W4 (initial
  * date, partition by code) and W5-W9 (rolling stats, partition by code,
  * ordered) collapse the same way (`etl/transform_1.py:87-99`). Frames are
  * bounded `ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW`, so per-row state
  * is O(n) regardless of partition size; the sort spills via
  * UnsafeExternalSorter when a key's run exceeds memory.
  */
object Windows {

  /** Rolling window of the last `n` rows per key, ordered deterministically
    * (W1 `etl/etl.py:70-76`, W5 `etl/transform_1.py:93`).
    */
  def rolling(partitionCols: Seq[Column], orderCols: Seq[Column], n: Int): WindowSpec =
    Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
      .rowsBetween(-(n - 1), Window.currentRow)

  /** W1/W5: rolling mean. */
  def rollingAvg(c: Column, w: WindowSpec): Column = avg(c).over(w)

  /** W6: rolling median. The reference uses `percentile_approx(x, 0.5)`
    * (`etl/transform_1.py:96`); we compute the *exact* lower-median of the
    * bounded frame — collect the ≤n frame values, sort, index. For odd-sized
    * frames this is the true median; for even-sized warm-up frames it is the
    * lower middle element (deterministic, unlike interpolation across
    * engines). O(n log n) per row with bounded n — no sketch needed.
    */
  def rollingMedianExact(c: Column, w: WindowSpec): Column = {
    val vals = array_sort(collect_list(c).over(w))
    // collect_list skips NULLs: an all-NULL frame (e.g. a sanitizer
    // degraded every value) yields an empty array — median is NULL, not an
    // element_at(_, 0) runtime error.
    when(size(vals) > 0,
      element_at(vals, floor((size(vals) + 1) / lit(2.0)).cast(org.apache.spark.sql.types.IntegerType)))
  }

  /** W7: rolling sample stddev — NULL for 1-row frames, as the reference
    * observes (`etl/transform_1.py:97`, SURVEY.md §7.3).
    *
    * Computed in the EXACT-SUM form √(max(Σx² − (Σx)²/n, 0)/(n−1)) rather
    * than `stddev_samp`: both are correct, but the accumulation order of a
    * native stddev aggregate is engine-specific, while the exact-sum shape
    * performs the same IEEE operations in any engine — it is the very
    * expression the oracle-proven q_pipeline_refined/q_w5 queries use, so
    * the library path and the externally-hash-checked path share one
    * definition. NULL on 1-row frames (the n−1 divide never runs — `when`
    * guards it under ANSI); clamped at 0 against catastrophic
    * cancellation.
    */
  def rollingStddevExact(c: Column, w: WindowSpec): Column = {
    // Widen to double BEFORE forming the sums: for an integer-typed value
    // column, c*c would be 32-bit multiplication (overflow at |c|>46340 —
    // silently wrong non-ANSI, a runtime error under ANSI), and sx*sx on
    // long sums can overflow for large windows. Double sums of
    // integral-valued inputs stay exact up to 2⁵³, which is the same
    // contract the oracle-matched queries rely on.
    val x = c.cast(org.apache.spark.sql.types.DoubleType)
    val sx = sum(x).over(w)
    val sx2 = sum(x * x).over(w)
    val cnt = count(x).over(w)
    when(cnt > 1, sqrt(greatest(sx2 - sx * sx / cnt, lit(0.0)) / (cnt - lit(1))))
  }

  /** W8/W9: rolling max / min. */
  def rollingMax(c: Column, w: WindowSpec): Column = max(c).over(w)
  def rollingMin(c: Column, w: WindowSpec): Column = min(c).over(w)

  /** W2: group-total as an unbounded window sum over the whole partition
    * (`etl/etl.py:78-83`) — the reference's "group-and-sum that keeps every
    * row". One exchange, no join-back needed.
    */
  def groupTotal(c: Column, partitionCols: Seq[Column]): Column =
    sum(c).over(Window.partitionBy(partitionCols: _*))

  /** W4: per-key minimum, e.g. first-seen date per ticker
    * (`etl/transform_1.py:87-90`).
    */
  def perKeyMin(c: Column, partitionCols: Seq[Column]): Column =
    min(c).over(Window.partitionBy(partitionCols: _*))

  /** W3: row_number ranking over an explicit deterministic order
    * (`etl/transform_1.py:82-84`).
    */
  def rowNumber(partitionCols: Seq[Column], orderCols: Seq[Column]): Column =
    row_number().over(Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*))

  /** RANGE-framed rolling window: the frame covers all rows whose numeric
    * order-key lies within `range` of the current row's — a true value/time
    * window (e.g. "last 7 DAYS" over a days-since-epoch key), unlike the
    * row-counted frames above. Same cost shape: one exchange + one sort;
    * per-row frame state is bounded by the key density within `range`.
    */
  def rollingRange(partitionCols: Seq[Column], orderCol: Column, range: Long): WindowSpec =
    Window.partitionBy(partitionCols: _*).orderBy(orderCol)
      .rangeBetween(-range, Window.currentRow)

  /** lag/lead over a deterministic order — the row-relative lookups the
    * reference's rolling frames never needed but any delta/velocity
    * computation does.
    */
  def lagOver(c: Column, offset: Int, partitionCols: Seq[Column], orderCols: Seq[Column]): Column =
    lag(c, offset).over(Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*))
  def leadOver(c: Column, offset: Int, partitionCols: Seq[Column], orderCols: Seq[Column]): Column =
    lead(c, offset).over(Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*))

  /** Attach the reference's full rolling-stats bundle (W5-W9 +
    * frame-row-count) for `valueCol` in one pass — all five aggregates share
    * one WindowSpec, hence one exchange + one sort (`transform_1.py:93-99`).
    * `prefix` mirrors the reference's `"{stat}_part_{n}_days"` naming.
    * The six columns are added by one projection: each chained
    * `withColumn` would analyze the whole plan so far again.
    */
  def withRollingStats(df: DataFrame, valueCol: String,
                       partitionCols: Seq[String], orderCols: Seq[Column],
                       n: Int, prefix: String): DataFrame = {
    val w = rolling(partitionCols.map(col), orderCols, n)
    val v = col(valueCol)
    df.withColumns(ListMap(
      s"mean_$prefix" -> rollingAvg(v, w),
      s"median_$prefix" -> rollingMedianExact(v, w),
      s"std_$prefix" -> rollingStddevExact(v, w),
      s"max_$prefix" -> rollingMax(v, w),
      s"min_$prefix" -> rollingMin(v, w),
      s"nrows_$prefix" -> count(v).over(w)))
  }
}
