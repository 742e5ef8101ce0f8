package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.NioLocalFileSystem
import graft.ops.{Compaction, Tables}

/** Streaming IMAGE near-dup at ingest: every micro-batch of media
  * payloads is decoded + perceptually hashed ONCE, checked against the
  * accumulated hash table, and both the new pairs and the batch's own
  * hashes land exactly-once — the production shape where a continuous
  * media feed must not admit near-copies of the historical corpus and
  * pixels never ride a shuffle (hashes are 8 bytes/doc; decode happens
  * in the scan stage of each batch, exactly once per payload ever).
  *
  * Pair semantics are CANONICAL and micro-batch-split invariant: the
  * union over batches is exactly "all unordered near-dup pairs over the
  * corpus" — each batch emits the pairs whose LATER endpoint it holds
  * (batch-vs-history through [[graft.dedup.NearDup
  * .simHashNearDupsAgainstCorpus]], plus the batch's internal pairs),
  * so any split of the feed yields the same total set, each pair once.
  *
  * Exactly-once ([[graft.ops.Segments]]): both tables are batch_id
  * partitions with dynamic overwrite, and the history read is pinned to
  * `batch_id < current` — a crashed attempt's partial rows are
  * invisible to its own retry (the ClusterIngest convention).
  */
object MediaIngest {

  /** Per-modality perceptual hashers the ingest loops dispatch on: the
    * loop itself is hash-agnostic (any 64-bit key feeds the same
    * blocked Hamming machinery) — only the decode+hash map and its
    * output column differ between images and audio.
    */
  private def hashesOf(spark: SparkSession, batch: DataFrame, kind: String,
                       idCol: String, payloadCol: String): (DataFrame, String) =
    kind match {
      case "image" =>
        (graft.multimodal.Multimodal.imageAHashes(spark, batch, idCol, payloadCol), "ahash")
      case "audio" =>
        (graft.multimodal.Multimodal.audioFingerprints(spark, batch, idCol, payloadCol), "afp")
      case other => throw new IllegalArgumentException(
        s"unknown media kind '$other' (supported: image, audio)")
    }

  /** One micro-batch hash+check+admit — public so a retry can be
    * simulated. Writes (id_a, id_b, hamming) pairs under `pairsPath`
    * and the batch's (id, <hash>) rows under `hashPath`.
    */
  def writeBatch(batch: DataFrame, batchId: Long,
                 hashPath: String, pairsPath: String, maxHamming: Int,
                 idCol: String, payloadCol: String,
                 kind: String = "image"): Unit = {
    val spark = batch.sparkSession
    val (hashed, hashCol) = hashesOf(spark, batch, kind, idCol, payloadCol)
    // one decode pass ever: both joins below consume the pinned hashes
    val newHashes = hashed.localCheckpoint()
    val sims = newHashes.select(col(idCol).as("id"), col(hashCol).as("simhash"))
    val fs = new org.apache.hadoop.fs.Path(hashPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen =
      if (fs.exists(new org.apache.hadoop.fs.Path(hashPath)))
        Tables.parquet(spark, hashPath)
          .filter(col("batch_id") < batchId) // a retry must not see itself
          .select(col(idCol).as("id"), col(hashCol).as("simhash"))
      else spark.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("simhash")).limit(0)
    val vsSeen = graft.dedup.NearDup
      .simHashNearDupsAgainstCorpus(sims, seen, maxHamming)
      .select(least(col("new_id"), col("seen_id")).as("id_a"),
        greatest(col("new_id"), col("seen_id")).as("id_b"),
        col("hamming"))
    val inBatch = graft.dedup.NearDup.simHashNearDups(sims, maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    graft.ops.Segments.writer(
        vsSeen.unionByName(inBatch).distinct(), "append", Some(batchId))
      .partitionBy("batch_id").parquet(pairsPath)
    graft.ops.Segments.writer(newHashes, "append", Some(batchId))
      .partitionBy("batch_id").parquet(hashPath)
  }

  def start(spark: SparkSession, newMedia: DataFrame,
            hashPath: String, pairsPath: String, checkpoint: String,
            maxHamming: Int = 3,
            idCol: String = "doc_id",
            payloadCol: String = "payload",
            kind: String = "image"): StreamingQuery =
    Ingest.drain(newMedia, checkpoint) { (batch, batchId) =>
      writeBatch(batch, batchId, hashPath, pairsPath, maxHamming, idCol, payloadCol, kind)
    }

  /** One steady micro-batch against the INDEXED history — public so a
    * retry can be simulated. Identical pair semantics to [[writeBatch]]
    * (probe ≡ from-raw by the stored-blocking contract); the history
    * side is the partition-pruned simhash index instead of a full
    * re-read + re-block of every stored hash.
    */
  def writeBatchSteady(batch: DataFrame, batchId: Long,
                       indexPath: String, pairsPath: String,
                       idCol: String, payloadCol: String,
                       kind: String = "image",
                       geometry: Option[(Int, Int)] = None): Unit = {
    val spark = batch.sparkSession
    val (hashed, hashCol) = hashesOf(spark, batch, kind, idCol, payloadCol)
    // one decode pass ever: probe, in-batch join and admit all consume
    // the pinned hashes
    val newHashes = hashed.localCheckpoint()
    val sims = newHashes.select(col(idCol).as("id"), col(hashCol).as("simhash"))
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // index meta is immutable: resolved once at stream start and passed
    // through (the r16 hoist) — the fallback read covers direct
    // retry-simulation calls. A retry by definition follows an attempt
    // whose [[startSteady]] seeded meta; a direct call on a FRESH path
    // is a misuse, so fail with the contract instead of an opaque
    // parquet error (ADVICE r16).
    val geo = geometry.getOrElse {
      val metaP = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
      if (!fs.exists(metaP)) throw new IllegalStateException(
        s"writeBatchSteady($indexPath): no index meta — pass geometry " +
          "explicitly or run startSteady first (it seeds meta before batch 0)")
      val meta = Tables.parquet(spark, s"$indexPath/meta").collect().head
      (meta.getAs[Int]("maxhamming"), meta.getAs[Int]("parts"))
    }
    val vsSeen =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/post")))
        graft.dedup.NearDup
          .simHashNearDupsAgainstIndex(sims, indexPath,
            beforeBatch = Some(batchId), geometry = Some(geo))
          .select(least(col("new_id"), col("seen_id")).as("id_a"),
            greatest(col("new_id"), col("seen_id")).as("id_b"),
            col("hamming"))
      else sims.select(col("id").as("id_a"), col("id").as("id_b"),
        bit_count(col("simhash")).as("hamming")).limit(0)
    val inBatch = graft.dedup.NearDup.simHashNearDups(sims, geo._1)
      .select(col("id_a"), col("id_b"), col("hamming"))
    graft.ops.Segments.writer(
        vsSeen.unionByName(inBatch).distinct(), "append", Some(batchId))
      .partitionBy("batch_id").parquet(pairsPath)
    graft.dedup.NearDup.appendSimHashIndex(sims, indexPath, batchId,
      geometry = Some(geo))
  }

  /** [[start]] with the hash history kept as a STORED Hamming-blocked
    * index ([[graft.dedup.NearDup.writeSimHashIndex]]) instead of a
    * flat table — the steady-state split: per micro-batch the flat
    * form re-reads and re-blocks the FULL accumulated hash history
    * (O(history) per batch — fine at gate scale, a scale-killer at
    * 10⁹-image history), while here the history is stored pre-blocked
    * and partition-pruned to the pkeys the batch touches. Index
    * geometry is pinned ONCE here (meta written before the stream
    * starts, with the blocking radius); every batch probes
    * `batch_id < current` and appends its own postings exactly-once —
    * identical pair stream to [[start]] (shares its oracle verbatim).
    *
    * `compactEvery`: every that many committed batches
    * ([[graft.ops.Compaction.foldDue]]), fold the accumulated per-batch
    * posting segments ([[graft.dedup.NearDup.compactSimHashIndex]]) so
    * the per-batch probe's listing + small-file-open constant stays
    * bounded by the cadence instead of growing one segment set per
    * micro-batch forever. <= 0 disables.
    */
  def startSteady(spark: SparkSession, newMedia: DataFrame,
                  indexPath: String, pairsPath: String, checkpoint: String,
                  maxHamming: Int = 3, parts: Int = 64,
                  idCol: String = "doc_id",
                  payloadCol: String = "payload",
                  kind: String = "image",
                  compactEvery: Int = 16): StreamingQuery = {
    val metaP = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
    val geo =
      if (!metaP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(metaP)) {
        import spark.implicits._
        NioLocalFileSystem.write(Seq((maxHamming, parts)).toDF("maxhamming", "parts").coalesce(1))
          .mode("overwrite").parquet(s"$indexPath/meta")
        (maxHamming, parts)
      } else {
        // a pre-seeded index wins: its stored geometry IS the blocking
        val meta = Tables.parquet(spark, s"$indexPath/meta").collect().head
        (meta.getAs[Int]("maxhamming"), meta.getAs[Int]("parts"))
      }
    Ingest.drain(newMedia, checkpoint) { (batch, batchId) =>
      writeBatchSteady(batch, batchId, indexPath, pairsPath, idCol,
        payloadCol, kind, geometry = Some(geo))
      // maintenance AFTER the admit: folds only batches < this one, so
      // a replayed batch reads the identical index either way
      if (Compaction.foldDue(batchId, compactEvery)) {
        graft.dedup.NearDup.compactSimHashIndex(spark, indexPath, upTo = batchId)
        ()
      }
    }
  }
}
