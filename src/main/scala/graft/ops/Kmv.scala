package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.dedup.NearDup

/** K-minimum-values (KMV / bottom-k) distinct sketch with persistable,
  * mergeable segments (Bar-Yossef et al. 2002 "Counting distinct
  * elements in a data stream"; the unbiased (k−1)/U_k estimator form is
  * Beyer et al. 2007 "On synopses for distinct-value estimation under
  * multiset operations" — both public).
  *
  * The [[Hll]] twin with a different trade: an HLL register table is
  * smaller (m rows/key) but carries only a cardinality; the KMV sketch
  * KEEPS k concrete distinct values — the k smallest by a deterministic
  * 60-bit md5-derived hash — so one sketch-sized table answers BOTH
  *
  *  - "how many distinct urls/users/tokens has this key ever seen"
  *    (EXACT below k, the unbiased estimator above it), and
  *  - "show me a uniform sample of those distinct values" (the bottom-k
  *    by a uniform hash IS a uniform sample of the distinct set, and a
  *    deterministic one — re-running yields the same rows, so the
  *    sample itself is hash-checkable).
  *
  * Merge algebra: bottom-k is a SELECTION on the distinct (hash, value)
  * set, so bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B)) —
  * associative, commutative, idempotent. Union-of-segments ≡
  * sketch-of-union holds by algebra, the same contract as the HLL /
  * quantile / top-k segment families, and batch boundaries cannot
  * change the merged sketch.
  *
  * Scale shape (100 TB): the corpus-sized work is one dropDuplicates
  * exchange on (key, h, v) — map-side partial-distinct, then a
  * TWO-PHASE bottom-k: phase 1 ranks within (key, h mod `fanout`)
  * buckets (parallelism |keys|·fanout — a window keyed only by a
  * low-cardinality key would serialize the corpus through |keys| tasks,
  * the round-8 scale lesson), phase 2 ranks the ≤ k·fanout survivors
  * per key. Segments are ≤ k·|keys| rows; reading "distinct ever" costs
  * a sketch-sized scan + one k-bounded re-rank, never a history re-scan.
  */
object Kmv {

  /** Hash domain: [[NearDup.md5Long]] yields 60 uniform bits, so U_k =
    * (h_k + 1) / 2^60 maps the k-th smallest hash into (0, 1] — the +1
    * keeps U_k > 0 and is the standard discrete-domain correction.
    */
  val HashBits = 60
  val Domain: Double = math.pow(2.0, HashBits) // 2^60, exact as a double

  /** The k smallest distinct (hash, value) pairs per key:
    * (keyCols..., rnk, h, v) with rnk 1..k ordered by (h, v) — ties on
    * the 60-bit hash (≈2^-60 per distinct pair) break on the value, so
    * the sketch is total-order deterministic in any engine.
    */
  def bottomK(df: DataFrame, keyCols: Seq[String], valCol: String, k: Int,
              fanout: Int = 32): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2 (the estimator needs k-1 > 0)")
    require(fanout >= 1, s"fanout=$fanout must be >= 1")
    // dedup BEFORE hashing OR stringifying: the md5 AND the string cast
    // are then paid per DISTINCT value, not per row — the 1000× soak
    // measured the per-row form at 123 s and the dedup-then-hash form
    // (still casting 600 M values to string pre-dedup) at 94 s; deduping
    // on the raw typed value first reads at the events-scan floor. The
    // partial-distinct exchange carries narrow typed (key, value) pairs.
    //
    // Identity contract: the sketch's value domain is the STRING image
    // (h and v are both string-derived, and [[mergeBottomK]] dedups on
    // them), so a value type whose string cast is NOT injective would
    // let two raw values survive the typed dedup as duplicate (h, v)
    // rows — double-counted in n_seen and inconsistent with the merge
    // identity. String/integral/boolean/date casts are injective and
    // skip the re-dedup; any other type pays one extra exchange over
    // the already-distinct set (distinct-set-sized, not corpus-sized).
    val injectiveStringCast = df.schema(valCol).dataType match {
      case org.apache.spark.sql.types.StringType | LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.DateType => true
      case _ => false
    }
    val typedDist = df
      .select(keyCols.map(col) :+ col(valCol).as("vraw"): _*)
      .filter(col("vraw").isNotNull)
      .dropDuplicates(keyCols :+ "vraw")
      .withColumn("v", col("vraw").cast("string"))
      .drop("vraw")
    val dist = (if (injectiveStringCast) typedDist
                else typedDist.dropDuplicates(keyCols :+ "v"))
      .withColumn("h", NearDup.md5Long(col("v")))
    val w1 = Window.partitionBy((keyCols :+ "b").map(col): _*)
      .orderBy(col("h"), col("v"))
    val phase1 = dist
      .withColumn("b", pmod(col("h"), lit(fanout.toLong)))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") <= k)
      .drop("b", "rn")
    val w2 = Window.partitionBy(keyCols.map(col): _*).orderBy(col("h"), col("v"))
    phase1
      .withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
      .select(keyCols.map(col) ++ Seq(col("rnk"), col("h"), col("v")): _*)
  }

  /** Distinct-count estimate from a (merged) bottom-k sketch:
    * (keyCols..., n_seen, kth_h, est_micro). `n_seen` < k pins the
    * EXACT count (the sketch saw every distinct value); at n_seen = k
    * the estimate is (k−1) · 2^60 / (h_k + 1), micro-quantized — two
    * integer columns pin the sketch state, the float appears in exactly
    * one expression whose shape an oracle repeats verbatim (the [[Hll]]
    * contract).
    */
  def estimateFromBottomK(bk: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    val agg = bk.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_seen"), max(col("h")).as("kth_h"))
    val est = when(col("n_seen") < k, col("n_seen").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(Domain)
        / (col("kth_h") + lit(1L)).cast("double"))
    agg.select(keyCols.map(col) ++ Seq(col("n_seen"),
      col("kth_h"), round(est * lit(1e6)).cast(LongType).as("est_micro")): _*)
  }

  /** [[bottomK]] → [[estimateFromBottomK]] in one call — the ad-hoc form. */
  def distinctSketch(df: DataFrame, keyCols: Seq[String], valCol: String,
                     k: Int, fanout: Int = 32): DataFrame =
    estimateFromBottomK(bottomK(df, keyCols, valCol, k, fanout), keyCols, k)

  /** Persist a batch's bottom-k as an append-only segment
    * ([[Segments]] conventions: batch_id outer partition, dynamic
    * overwrite per micro-batch for exactly-once retries, repartition(1)
    * because the table is sketch-sized).
    */
  def writeSegments(df: DataFrame, keyCols: Seq[String], valCol: String,
                    k: Int, path: String, fanout: Int = 32,
                    batchId: Option[Long] = None): Unit =
    Segments.writer(bottomK(df, keyCols, valCol, k, fanout).repartition(1),
        mode = "append", batchId = batchId)
      .partitionBy("batch_id").parquet(path)

  /** Union of sketch segments: distinct (key, h, v) → re-rank → keep k.
    * Inputs are k-bounded per (key, segment), so every stage here is
    * sketch-sized; `rnk` is recomputed (per-segment ranks are
    * meaningless after a union).
    */
  def mergeBottomK(segments: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("h"), col("v"))
    segments
      .dropDuplicates(keyCols ++ Seq("h", "v"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(keyCols.map(col) ++ Seq(col("rnk"), col("h"), col("v")): _*)
  }

  /** Distinct estimate over ALL history from the stored segments —
    * history is never re-scanned; the read cost is the segment table.
    */
  def estimateFromSegments(spark: SparkSession, path: String,
                           keyCols: Seq[String], k: Int): DataFrame =
    estimateFromBottomK(
      mergeBottomK(Tables.parquet(spark, path), keyCols, k), keyCols, k)

  /** The merged SAMPLE itself from stored segments — the k smallest
    * distinct values per key with their ranks: the deterministic
    * "uniform sample of everything ever seen" read path.
    */
  def sampleFromSegments(spark: SparkSession, path: String,
                         keyCols: Seq[String], k: Int): DataFrame =
    mergeBottomK(Tables.parquet(spark, path), keyCols, k)
}
