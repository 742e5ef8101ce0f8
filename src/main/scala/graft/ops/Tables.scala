package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.NioLocalFileSystem

/** Table access for the driver testdata layout (`TESTDATA.md`): one parquet
  * file per table under a scale-factor directory.
  *
  * Mirrors the reference's scan operators (SURVEY.md §2.1): S1 single-path
  * parquet scan (`etl/etl.py:25-33`), S2 recursive-prefix scan
  * (`etl/transform.py:20-28`), S3 catalog scan (`etl/transform_1.py:43-47`).
  * All of them land on a plain Spark parquet relation so Catalyst gets
  * predicate pushdown, column pruning and (for partitioned layouts)
  * partition pruning for free — at 100 TB these three are what keep a scan
  * from reading the whole lake.
  */
object Tables {

  /** S1: read one parquet file/prefix. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** S2: full recursive scan of a raw prefix (`transform.py:20-28`). */
  def readRecursive(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(dir)

  /** S3: catalog table scan (`transform_1.py:43-47`). Partition-aware:
    * filters on partition columns prune directories before any I/O.
    */
  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.read.table(table)

  /** S4/DynamicFrame parity (SURVEY.md §1.4): schema-on-read across schema
    * GENERATIONS. The reference's raw zone really holds two generations
    * (v1 English / v2 Portuguese columns); `mergeSchema` unions the parquet
    * footers of every file so old files surface the new columns as NULL
    * and vice versa — per-record self-description without a catalog.
    *
    * Scale note: merging reads one FOOTER per file (distributed since
    * Spark 2), not the data; still, on a lake with millions of files
    * prefer declaring the union schema explicitly via `.schema(...)` —
    * this reader is for the exploration/ingest edge where the union isn't
    * known yet.
    */
  def readMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      .parquet(dir)

  /** CSV source with header + explicit schema (schema inference is a full
    * extra scan — never acceptable at lake scale, so it is not offered).
    * Reads the RFC-4180 dialect [[writeCsv]] emits (quote = escape = `"`,
    * embedded quotes doubled) — which also parses plain unquoted CSV —
    * with `multiLine` on so quoted embedded newlines reassemble. NOTE the
    * scale contract: multiLine makes each file unsplittable (one task per
    * file), so large CSV inputs must arrive as many files; for 100 TB
    * corpus text use JSONL/parquet instead.
    */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("quote", "\"").option("escape", "\"")
      .option("multiLine", "true")
      .csv(path)

  /** JSON-lines source with explicit schema (same inference rule). */
  def readJson(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** events.parquet stores `ts` as parquet TIMESTAMP(NANOS), which Spark 4
    * rejects natively; sessions set `spark.sql.legacy.parquet.nanosAsLong`
    * and this reader converts to a microsecond TimestampType by flooring —
    * exactly what DuckDB's ns→µs coercion does, keeping the oracle aligned.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = read(spark, dir, "events")
    // `div` = integer division: epoch-nanos ≈ 1.7e18 exceeds double's
    // 53-bit mantissa, so a float `/ 1000` would be off by ±1 µs.
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Streaming twin of [[readEvents]]: the same events table as a file-
    * source STREAM (a streaming source cannot infer — the schema comes
    * from one batch footer read), with the identical nanos→micros `ts`
    * coercion so streaming operators see the same event time as batch
    * ones. At lake scale the file source is the right on-ramp: each
    * micro-batch lists only NEW files, and `Trigger.AvailableNow`
    * drains a finite backlog then stops — used by the driver queries
    * that exercise the streaming code path against the batch oracle.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // the file stream source wants a directory basePath; the testdata
    // layout is one FILE per table, so glob the one file under the
    // scale-factor dir instead of handing it the file as a path
    val raw = spark.readStream.schema(schema)
      .option("basePath", dir).parquet(s"$dir/events.parquet*")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Generic streaming twin of [[read]]: any testdata table as a
    * file-source stream (schema from one batch footer read, basePath
    * glob per the layout note in [[readEventsStream]]). Used by the
    * ingest-shaped streaming queries (near-dup at ingest) that stream
    * tables without event-time columns.
    */
  def readTableStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema)
      .option("basePath", dir).parquet(s"$dir/$name.parquet*")
  }

  /** JSON-Lines export — the LLM-corpus interchange format (one JSON
    * object per line; what tokenizer trainers, inspection tooling and
    * most public corpus releases consume). `compression` takes any
    * Spark-supported codec name ("gzip", "zstd", "none"); partitioned
    * text output, one file per partition, so a 100 TB export is as
    * parallel as its partitioning.
    */
  def writeJsonl(df: org.apache.spark.sql.DataFrame, path: String,
                 compression: String = "none"): Unit =
    NioLocalFileSystem.write(df).mode("overwrite").option("compression", compression).json(path)

  /** JSON-Lines import with an EXPLICIT schema — inference over JSONL
    * is a full extra pass and type-guesses (longs vs doubles, empty vs
    * null); corpus pipelines know their schema and should say so. Pass
    * the writer's `df.schema` for an exact round-trip.
    */
  def readJsonl(spark: SparkSession,
                path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV export with RFC-4180 quoting (quote = escape = `"` — embedded
    * quotes double, fields with separators/newlines/quotes are wrapped)
    * so corpus text survives the trip byte-for-byte. CSV is the
    * interchange floor for tabular sidecars (metadata tables, label
    * files, spreadsheet-born blocklists) — corpus TEXT itself should
    * ride JSONL/parquet, but the reader below still round-trips it.
    */
  def writeCsv(df: org.apache.spark.sql.DataFrame, path: String,
               header: Boolean = true, compression: String = "none"): Unit =
    NioLocalFileSystem.write(df).mode("overwrite")
      .option("header", header.toString)
      .option("quote", "\"").option("escape", "\"")
      .option("compression", compression)
      .csv(path)

  /** ORC export/import — the other columnar interchange format Spark
    * carries natively (Hive-ecosystem handoffs). Full predicate
    * pushdown + column pruning on read, same as parquet; schema rides
    * in the file, so the reader needs none.
    */
  def writeOrc(df: org.apache.spark.sql.DataFrame, path: String,
               compression: String = "zlib"): Unit =
    NioLocalFileSystem.write(df).mode("overwrite").option("compression", compression).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
