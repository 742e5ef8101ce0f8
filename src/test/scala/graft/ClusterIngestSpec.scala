package graft

import org.apache.spark.sql.functions._

import graft.dedup.DupClusters
import graft.streaming.ClusterIngest

class ClusterIngestSpec extends SparkTestBase {
  import spark.implicits._

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap

  test("streamed label store == one-shot CC fixpoint, invariant under micro-batch splits") {
    val pairs = Seq((1L, 2L), (5L, 6L), (2L, 5L), (9L, 10L), (10L, 11L),
      (20L, 21L), (21L, 9L)).toDF("id_a", "id_b")
    val oneShot = labelMap(DupClusters.connectedComponentsStar(pairs))

    // drain the pair set one file per micro-batch through the engine
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_spec")
    val srcDir = tmp.resolve("src").toString
    pairs.repartition(4).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val store = tmp.resolve("labels").toString
    val q = ClusterIngest.start(spark, stream, store,
      tmp.resolve("ckpt").toString)
    q.awaitTermination()
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === oneShot,
      "any micro-batch split must read back the one-shot fixpoint")

    // and a single-batch drain lands on the same labeling
    val tmp2 = java.nio.file.Files.createTempDirectory("cluster_ingest_one")
    val src2 = tmp2.resolve("src").toString
    pairs.coalesce(1).write.parquet(src2)
    val stream2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src2)
    val store2 = tmp2.resolve("labels").toString
    ClusterIngest.start(spark, stream2, store2,
      tmp2.resolve("ckpt").toString).awaitTermination()
    assert(labelMap(ClusterIngest.readLabels(spark, store2)) === oneShot)
  }

  test("segments hold only the rows a batch changed; retry replaces, never double-appends") {
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_delta")
    val store = tmp.resolve("labels").toString
    ClusterIngest.writeBatch(Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"), 0L, store)
    // batch 1 bridges {1,2} and {10,11}: 10 and 11 relabel to 1, id 99 is new;
    // ids 1 and 2 are UNCHANGED and must not be rewritten
    ClusterIngest.writeBatch(Seq((2L, 11L), (99L, 99L)).toDF("id_a", "id_b"), 1L, store)
    val seg1 = spark.read.parquet(store).filter(col("batch_id") === 1L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(seg1 === Map(10L -> 1L, 11L -> 1L, 99L -> 99L),
      s"batch-1 segment must carry only changed/new rows, got $seg1")
    val want = labelMap(ClusterIngest.readLabels(spark, store))
    assert(want === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 99L -> 99L))
    // simulated sink-side retry of batch 1: identical store afterwards
    ClusterIngest.writeBatch(Seq((2L, 11L), (99L, 99L)).toDF("id_a", "id_b"), 1L, store)
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === want)
    assert(spark.read.parquet(store).count() ===
      spark.read.parquet(store).dropDuplicates("id", "batch_id").count(),
      "a retried batch must replace its segment, not append a second copy")
  }

  test("an empty micro-batch, then pairs: the labeling is the one-shot fixpoint") {
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_empty")
    val store = tmp.resolve("labels")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    ClusterIngest.writeBatch(pairs.limit(0), 0L, store.toString)
    // the empty batch leaves a store directory without one data file
    assert(java.nio.file.Files.isDirectory(store))
    assert(leafFileCounts(store.toString).values.sum === 0)
    ClusterIngest.writeBatch(pairs, 1L, store.toString)
    assert(labelMap(ClusterIngest.readLabels(spark, store.toString)) ===
      labelMap(DupClusters.connectedComponentsStar(pairs)))
  }

  test("compactLabels: one latest-per-id segment, read-identical, sources consumed") {
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_compact")
    val store = tmp.resolve("labels").toString
    ClusterIngest.writeBatch(Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b"), 0L, store)
    ClusterIngest.writeBatch(Seq((2L, 11L)).toDF("id_a", "id_b"), 1L, store)
    ClusterIngest.writeBatch(Seq((20L, 21L)).toDF("id_a", "id_b"), 2L, store)
    val before = labelMap(ClusterIngest.readLabels(spark, store))
    // fold batches 0 and 1 (2 is "in flight"): ids 10/11 must keep their
    // batch-1 relabel, not batch 0's original
    assert(ClusterIngest.compactLabels(spark, store, upTo = 2L) === 2)
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === before)
    val segs = spark.read.parquet(store)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(segs === Array(-11L, 2L), s"expected fold(-11) + live batch 2, got ${segs.toSeq}")
    // the fold segment is latest-per-id: exactly one row per id
    val fold = spark.read.parquet(store).filter(col("batch_id") === -11L)
    assert(fold.count() === fold.select("id").distinct().count())
    assert(labelMap(fold.select("id", "cluster_id")) ===
      Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    // ingest continues after the fold; a re-fold consumes the prior fold
    ClusterIngest.writeBatch(Seq((21L, 1L)).toDF("id_a", "id_b"), 3L, store)
    val after3 = labelMap(ClusterIngest.readLabels(spark, store))
    assert(after3 === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 1L, 21L -> 1L))
    assert(ClusterIngest.compactLabels(spark, store, upTo = 4L) === 3)
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === after3)
    // nothing left to fold
    assert(ClusterIngest.compactLabels(spark, store, upTo = 4L) === 0)
  }

  test("compactLabels: crash between target write and source deletes is value-idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_crash")
    val store = tmp.resolve("labels").toString
    ClusterIngest.writeBatch(Seq((1L, 2L)).toDF("id_a", "id_b"), 0L, store)
    ClusterIngest.writeBatch(Seq((2L, 3L)).toDF("id_a", "id_b"), 1L, store)
    val want = labelMap(ClusterIngest.readLabels(spark, store))
    // simulate the crash: write the fold target (with _SUCCESS) but keep
    // the sources — that is exactly the state a failure between "target
    // written" and "sources deleted" leaves behind
    spark.read.option("basePath", store).parquet(s"$store/batch_id=0", s"$store/batch_id=1")
      .groupBy("id").agg(max_by(col("cluster_id"), col("batch_id")).as("cluster_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$store/batch_id=-11")
    // duplicate rows are value-consistent, so reads stay correct even mid-crash
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === want)
    // recovery: the _SUCCESS-marked target short-circuits to source deletion
    assert(ClusterIngest.compactLabels(spark, store, upTo = 2L) === 2)
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === want)
    assert(spark.read.parquet(store).select("batch_id").distinct().count() === 1)
  }

  test("in-stream compaction cadence: labels identical, segment count bounded by cadence") {
    val pairs = Seq((1L, 2L), (5L, 6L), (2L, 5L), (9L, 10L), (10L, 11L),
      (20L, 21L), (21L, 9L), (30L, 31L), (31L, 1L), (40L, 41L)).toDF("id_a", "id_b")
    val oneShot = labelMap(DupClusters.connectedComponentsStar(pairs))
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_cadence")
    val srcDir = tmp.resolve("src").toString
    pairs.repartition(5).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val store = tmp.resolve("labels").toString
    ClusterIngest.start(spark, stream, store, tmp.resolve("ckpt").toString,
      compactEvery = 2).awaitTermination()
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === oneShot,
      "compaction mid-stream must not change the read-back labeling")
    // 5 micro-batches at cadence 2 → folds after batches 2 and 4 leave at
    // most (one fold segment + cadence live batches) on disk, not 5
    val nSegs = spark.read.parquet(store)
      .select("batch_id").distinct().count()
    assert(nSegs <= 3, s"expected ≤3 segments after cadence-2 folds, got $nSegs")
  }

  test("startFromVectors: fused detector+maintenance ≡ batch detector + one-shot CC") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val newSide = emb.filter(col("vec_id") % 2 === 0)
    val seenSide = emb.filter(col("vec_id") % 2 === 1)
    val pairs = graft.similarity.Ann.embeddingNearDupsAgainstCorpus(
      newSide, seenSide, threshold = 0.3, nBits = 8)
    val want = labelMap(DupClusters.connectedComponentsStar(pairs, "new_id", "seen_id"))
    assert(want.nonEmpty, "fixture should produce cross-parity pairs")
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_fused")
    val srcDir = tmp.resolve("src").toString
    newSide.repartition(3).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val store = tmp.resolve("labels").toString
    ClusterIngest.startFromVectors(spark, stream, seenSide, threshold = 0.3,
      store, tmp.resolve("ckpt").toString, nBits = 8).awaitTermination()
    assert(labelMap(ClusterIngest.readLabels(spark, store)) === want)
  }

  test("readLabels beforeBatch slices make a batch's own partial rows invisible") {
    val tmp = java.nio.file.Files.createTempDirectory("cluster_ingest_slice")
    val store = tmp.resolve("labels").toString
    ClusterIngest.writeBatch(Seq((1L, 2L)).toDF("id_a", "id_b"), 0L, store)
    ClusterIngest.writeBatch(Seq((2L, 3L)).toDF("id_a", "id_b"), 1L, store)
    // a batch-1 reader must see only batch 0's world
    assert(labelMap(ClusterIngest.readLabels(spark, store, beforeBatch = Some(1L)))
      === Map(1L -> 1L, 2L -> 1L))
    assert(labelMap(ClusterIngest.readLabels(spark, store))
      === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
