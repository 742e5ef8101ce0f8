package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed tables: pre-shuffled storage so repeated joins/aggregations on
  * the bucket key run with ZERO exchanges.
  *
  * At 100 TB the dominant cost of a fact⋈fact join is shuffling both
  * sides; writing both tables bucketed by the join key (same bucket count)
  * moves that shuffle to write time, once, and every subsequent join is
  * local per bucket. BucketingSpec asserts the exchange-free plan.
  */
object Bucketing {

  /** Write `df` as a bucketed (and optionally sorted) managed table. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCols: Seq[String] = Seq.empty,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    // stock filesystem: the table would persist the writer options
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Join two tables bucketed on the same key/count — planner elides both
    * exchanges (sort-merge join over co-located buckets).
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
