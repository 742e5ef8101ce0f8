package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.ops.{Kmv, Tables}
import graft.pipeline.Transform
import graft.similarity.Ann
import graft.text.Bm25

/** [[Tables.parquet]], the engine's one batch parquet read path: on every
  * layout the program writes it returns what `spark.read.parquet` returns
  * without running a Spark job, and where Spark would decide the schema
  * some other way it is `spark.read.parquet`.
  */
class ParquetReadSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val (out, layers) = Profile.during(spark)(f)
    (out, layers.jobs.toInt)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The helper's DataFrame is Spark's, schema and rows, and building it
    * ran no job (so the footer path, not the fallback, built it).
    */
  private def matchesSpark(path: String, options: Map[String, String] = Map.empty): Unit = {
    val expected = spark.read.options(options).parquet(path)
    val (got, jobs) = jobsDuring(Tables.parquet(spark, path, options))
    assert(jobs === 0, s"$path: building the DataFrame ran $jobs job(s)")
    assert(got.schema === expected.schema, path)
    assert(rows(got) === rows(expected), path)
  }

  private def docs = Seq.tabulate(60)(i => (i.toLong, s"w${i % 7} w${i % 5} t${i % 3}"))
    .toDF("doc_id", "text")

  test("footer schema ≡ Spark inference: the four BM25 index tables") {
    val idx = s"${tmp("read_bm25")}/idx"
    Bm25.writeBm25Index(docs, idx, nBuckets = 16)
    Bm25.appendBm25Index(docs.limit(5).withColumn("doc_id", col("doc_id") + 1000), idx,
      nBuckets = 16)
    Seq("postings", "dfreq", "doclen", "stats").foreach(t => matchesSpark(s"$idx/$t"))
    assert(Tables.parquet(spark, s"$idx/postings").schema("pbucket").dataType.typeName ===
      "integer", "the partition columns are still inferred from the directory names")
  }

  test("footer schema ≡ Spark inference: the Ann embed index (vecs by bucket, meta)") {
    val idx = s"${tmp("read_ann")}/idx"
    val vecs = Seq.tabulate(40)(i => (i.toLong, Seq.tabulate(8)(j => math.sin(i * 8 + j))))
      .toDF("vec_id", "embedding")
    Ann.writeEmbedNearDupIndex(vecs, idx, nBits = 4, dim = 8)
    matchesSpark(s"$idx/vecs")
    matchesSpark(s"$idx/meta")
  }

  test("footer schema ≡ Spark inference: Kmv segments, whole and by basePath") {
    val seg = s"${tmp("read_kmv")}/seg"
    val events = Seq.tabulate(200)(i => (s"e${i % 3}", i.toLong % 37)).toDF("event_type", "user_id")
    Kmv.writeSegments(events, Seq("event_type"), "user_id", k = 8, seg, batchId = Some(0L))
    Kmv.writeSegments(events, Seq("event_type"), "user_id", k = 8, seg, batchId = Some(1L))
    matchesSpark(seg)
    val dirs = Seq(s"$seg/batch_id=0", s"$seg/batch_id=1")
    val expected = spark.read.option("basePath", seg).parquet(dirs: _*)
    val (got, jobs) = jobsDuring(Tables.parquetPaths(spark, dirs, Map("basePath" -> seg)))
    assert(jobs === 0)
    assert(got.schema === expected.schema)
    assert(rows(got) === rows(expected))
  }

  test("footer schema ≡ Spark inference: two-level refined root, escaped partition value") {
    val root = tmp("read_refined")
    val refined = Seq.tabulate(30)(i =>
        (if (i % 3 == 0) "A=B/C" else s"T$i", f"2024-01-${i % 9 + 1}%02d", i * 1.5, i.toLong))
      .toDF("code", "reference_date", "part", "theoricalQty")
    Transform.writePartitioned(spark, refined, root, Seq("code", "reference_date"))
    assert(new java.io.File(root, "code=A%3DB%2FC").isDirectory)
    matchesSpark(root)
    matchesSpark(root, Map("basePath" -> root, "recursiveFileLookup" -> "false"))
    matchesSpark(root, Map("recursiveFileLookup" -> "true"))
    assert(Tables.parquet(spark, root).filter(col("code") === "A=B/C").count() === 10)
  }

  test("footer schema ≡ Spark inference: a single file with TIMESTAMP(NANOS) under nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val dir = tmp("read_nanos")
    val file = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); optional binary kind (STRING); }")
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(new HPath(file)).withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      writer.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000123456789L + i * 1000L).append("kind", s"k$i"))
    } finally writer.close()
    matchesSpark(file)
    assert(Tables.parquet(spark, file).schema("ts").dataType === LongType)
    val events = Tables.readEvents(spark, dir)
    assert(events.schema("ts").dataType === TimestampType)
    assert(events.orderBy("event_id").select(unix_micros(col("ts"))).as[Long].head() ===
      1700000000123456L) // floored, not rounded
  }

  private def condition(f: => Any): String =
    intercept[AnalysisException](f).getCondition

  test("fallbacks return Spark's own result or raise Spark's own error") {
    val empty = tmp("read_empty")
    assert(condition(Tables.parquet(spark, empty)) === condition(spark.read.parquet(empty)))
    assert(condition(Tables.parquet(spark, empty)) === "UNABLE_TO_INFER_SCHEMA")
    val missing = s"$empty/missing"
    assert(condition(Tables.parquet(spark, missing)) === "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) === "PATH_NOT_FOUND")

    val seg = s"${tmp("read_glob")}/seg"
    Seq((1L, "a"), (2L, "b")).toDF("v", "s").withColumn("batch_id", $"v")
      .write.partitionBy("batch_id").parquet(seg)
    val glob = s"$seg/batch_id=*"
    assert(Tables.parquet(spark, glob).schema === spark.read.parquet(glob).schema)
    assert(rows(Tables.parquet(spark, glob)) === rows(spark.read.parquet(glob)))

    // a `_metadata` summary decides the schema: here it carries a column
    // the data file lacks, and the result must carry it too. The data file
    // is renamed to sort first, so a walk that took it would be caught.
    def partFile(dir: String) = new java.io.File(dir).listFiles().find(_.getName.startsWith("part-")).get
    val summarized = tmp("read_summary")
    Seq(1L, 2L).toDF("a").coalesce(1).write.mode("overwrite").parquet(summarized)
    Files.move(partFile(summarized).toPath, new java.io.File(summarized, "0.parquet").toPath)
    val wider = tmp("read_wider")
    Seq((3L, "x")).toDF("a", "extra").coalesce(1).write.mode("overwrite").parquet(wider)
    Files.copy(partFile(wider).toPath, new java.io.File(summarized, "_metadata").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    val expected = spark.read.parquet(summarized)
    assert(expected.columns.toSeq === Seq("a", "extra"))
    assert(Tables.parquet(spark, summarized).schema === expected.schema)
    assert(rows(Tables.parquet(spark, summarized)) === rows(expected))

    // a streaming file sink's log decides which files exist: here none
    val sink = tmp("read_sink")
    Seq(1L).toDF("a").write.mode("overwrite").parquet(sink)
    Files.createDirectory(new java.io.File(sink, "_spark_metadata").toPath)
    assert(condition(Tables.parquet(spark, sink)) === condition(spark.read.parquet(sink)))

    // a data column named like the partition key: the footer schema would
    // override the key's inferred type, so Spark infers instead
    val clash = tmp("read_clash")
    Seq(("x", 1L), ("y", 2L)).toDF("k", "v").coalesce(1).write.mode("overwrite")
      .parquet(s"$clash/k=1")
    val inferred = spark.read.parquet(clash)
    val footer = spark.read.parquet(s"$clash/k=1").schema
    assert(spark.read.schema(footer).parquet(clash).schema !== inferred.schema)
    assert(Tables.parquet(spark, clash).schema === inferred.schema)
    assert(rows(Tables.parquet(spark, clash)) === rows(inferred))
  }

  test("the helper builds a DataFrame without a Spark job; spark.read.parquet runs one") {
    val idx = s"${tmp("read_jobs")}/idx"
    Bm25.writeBm25Index(docs, idx, nBuckets = 16)
    val postings = s"$idx/postings"
    assert(jobsDuring(Tables.parquet(spark, postings))._2 === 0)
    assert(jobsDuring(Tables.parquetSchema(spark, postings))._2 === 0)
    assert(jobsDuring(spark.read.parquet(postings))._2 === 1)
  }
}
