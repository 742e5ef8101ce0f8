package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.dedup.NearDup

/** DSIR-style data selection with importance resampling (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023 — public method): score every raw document by how much
  * its hashed-token profile looks like a TARGET distribution (e.g. a
  * curated high-quality subset) versus the RAW corpus distribution, then
  * keep/resample by the importance weight. This is the standard
  * pretraining-corpus curation move when a small trusted set should
  * steer selection over a 100 TB crawl.
  *
  * Mechanics, kept bit-replayable:
  *   - every token hashes to one of B buckets via the md5 family
  *     (`md5Long(token) mod B`) — no learned vocabulary, fixed-size
  *     state, identical in the DuckDB oracle;
  *   - bucket unigram counts for raw and target come from ONE corpus
  *     pass, aggregated to VOCAB granularity first (partial aggregate
  *     compresses the occurrence stream to distinct tokens per task, so
  *     the hash runs once per vocab entry, not per occurrence) and
  *     checkpointed so the totals and ratio consumers replay a
  *     vocab-sized table, not the corpus scan;
  *   - per-bucket log-likelihood-ratio of Laplace-smoothed bucket
  *     probabilities is quantized to micro-units BEFORE any per-doc
  *     sum (the fixed-point idiom — NOTES.md): integer sums are
  *     merge-order-free, so the per-doc weight is exact;
  *   - the apply pass re-joins the ≤ B-row ratio table (broadcast) to
  *     the token stream and partial-aggregates per doc.
  *
  * Scale shape: exactly two scans of the corpus (stats + apply), one
  * vocab-bounded stats shuffle, one linear per-doc shuffle; the ratio
  * table broadcasts at any corpus size (B rows). The apply pass hashes
  * per occurrence — constant work per token, no vocab-sized driver
  * state — via the fused codegen [[graft.functions.Md5Long]] (the
  * hex-string composite was 3x the cost of the scan itself; NOTES.md
  * round 9, rerun by `SPARK_GRAFT_ONLY=q_dsir_weights` Bench).
  * No all-pairs anything.
  */
object Dsir {

  /** Per-document importance weight. `targetPred` marks the target
    * (trusted) subset — target docs are ALSO part of the raw corpus, as
    * in the paper's hashed-ngram estimator.
    *
    * Output: `(id, n_tokens, weight_micro)` where `weight_micro` is
    * Σ_tokens round(ln(p_target(b)/p_raw(b)) · 1e6) — BIGINT-exact, so
    * ranking and the oracle hash are deterministic. Positive weight ⇒
    * the doc's buckets are over-represented in the target set.
    */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        targetPred: Column, buckets: Int): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val b = lit(buckets.toLong)

    val tok = docs.select(
        col(idCol).as("id"),
        targetPred.as("is_t"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .withColumn("b", NearDup.md5Long(col("token")) % b)

    // one stats pass, aggregated to VOCAB granularity before hashing:
    // the partial agg compresses the occurrence stream to distinct
    // tokens per task, so md5 runs once per vocab entry instead of once
    // per occurrence, and the checkpoint pins the single corpus scan so
    // the totals and ratio consumers below don't re-run it (the
    // GraphStats lesson). Bucket rollup from vocab counts is exactly the
    // occurrence-level bucket count — b is a function of token.
    val tokenCounts = docs.select(
        targetPred.as("is_t"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(
        count(lit(1)).as("c_r"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
      .localCheckpoint()

    val bucketCounts = tokenCounts
      .withColumn("b", NearDup.md5Long(col("token")) % b)
      .groupBy("b").agg(
        sum(col("c_r")).as("c_r"),
        sum(col("c_t")).as("c_t"))

    val totals = bucketCounts.agg(
      sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))

    // ln( ((c_t+1)/(n_t+B)) / ((c_r+1)/(n_r+B)) ), micro-quantized per
    // bucket; every factor cast to DOUBLE explicitly so the oracle's
    // IEEE arithmetic is literally the same expression
    val ratio = bucketCounts.crossJoin(broadcast(totals))
      .withColumn("lr_micro",
        round(log(((col("c_t") + 1).cast("double") * (col("n_r") + b).cast("double"))
          / ((col("c_r") + 1).cast("double") * (col("n_t") + b).cast("double")))
          * 1000000.0).cast(LongType))
      .select("b", "lr_micro")

    // apply pass: broadcast the ≤ B-row ratio table into the token
    // stream, partial-aggregate per doc
    val weights = tok
      .join(broadcast(ratio), Seq("b"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("lr_micro")).as("weight_micro"))

    docs.select(col(idCol).as("id"))
      .join(weights, Seq("id"), "left")
      .select(col("id"),
              coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
              coalesce(col("weight_micro"), lit(0L)).as("weight_micro"))
  }

  /** Top-fraction selection by importance weight: keep the `keep`
    * highest-weight documents (deterministic tie-break on id). Uses a
    * distributed TakeOrdered when `keep` is small; callers wanting a
    * full ranking should sort themselves.
    */
  def selectTop(weights: DataFrame, keep: Int): DataFrame =
    weights.orderBy(col("weight_micro").desc, col("id")).limit(keep)
}
