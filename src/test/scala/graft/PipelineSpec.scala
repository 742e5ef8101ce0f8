package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipeline.{Catalog, Pipeline, Schemas, Transform}

/** End-to-end pipeline parity tests on reference-shaped fixtures
  * (FIXTURES.md §1): v1/v2 transform chains, partitioned layout,
  * idempotent dynamic overwrite, catalog partition sync.
  */
class PipelineSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  /** raw_v1 fixture (FIXTURES.md §1.1): dirty strings, an all-null column,
    * duplicate (cod, date) rows, a null cod.
    */
  private def rawV1Fixture = {
    val dates = (1 to 10).map(d => f"2024-01-$d%02d")
    val rows =
      dates.zipWithIndex.map { case (d, i) =>
        Row(null, "PETR4", "PETROBRAS", "PN", s"5,${100 + i}", 10, s"1.234.${500 + i}", d)
      } ++
      dates.zipWithIndex.map { case (d, i) =>
        Row(null, "VALE3", "VALE", "ON", s"3,${200 + i}", 8, s"2.000.${100 + i}", d)
      } ++
      Seq(
        // duplicate key (PETR4, 2024-01-01) — dedup D2 must keep one
        Row(null, "PETR4", "PETROBRAS DUP", "PN", "9,999", 10, "9.999.999", "2024-01-01"),
        // null code — filtered by F1
        Row(null, null, "GHOST", "ON", "1,000", 1, "1.000", "2024-01-01"))
    spark.createDataFrame(rows.asJava, Schemas.rawV1)
  }

  /** raw_v2 fixture (FIXTURES.md §1.2): nulls to fill, a full-row dup. */
  private def rawV2Fixture = {
    val rows = (1 to 9).map { i =>
      Row("Energia", "PETR4", "PETROBRAS", "PN", 5.0 + i, 10.0, 1000L + i, f"2024-01-$i%02d")
    } ++ Seq(
      Row("Energia", "PETR4", "PETROBRAS", "PN", 6.0, 10.0, 1001L, "2024-01-01"), // exact dup of i=1
      Row("Energia", "PETR4", "PETROBRAS", "PN", 6.0, 10.0, 1001L, "2024-01-01"),
      Row(null, "VALE3", null, "ON", null, null, null, null)) // nulls + null date
    spark.createDataFrame(rows.asJava, Schemas.rawV2)
  }

  test("transformV1: full chain — sanitize, dedup, windows, schema") {
    val out = Transform.transformV1(rawV1Fixture).cache()

    // one row per (code, reference_date): 10 PETR4 + 10 VALE3
    assert(out.count() === 20)
    assert(out.groupBy("code", "reference_date").count()
      .filter(col("count") > 1).count() === 0)

    // sanitizers: comma-decimal and thousands-format recovered
    val first = out.filter(col("code") === "PETR4" && col("reference_date") === "2024-01-01")
      .select("part", "theoricalQty", "initial_date").head()
    assert(first.getDouble(0) === 5.100)
    assert(first.getLong(1) === 1234500L)
    assert(first.getString(2) === "1970-01-01" || first.getString(2) === "2024-01-01")

    // initial_date is the per-code minimum date
    assert(out.select("initial_date").distinct().collect().map(_.getString(0)).toSet
      === Set("2024-01-01"))

    // rolling stats: first row of each code has mean == part, null stddev
    val warm = out.filter(col("reference_date") === "2024-01-01")
      .select("mean_part_7_days", "std_part_7_days").collect()
    warm.foreach { r =>
      assert(!r.isNullAt(0))
      assert(r.isNullAt(1), "stddev of 1-row frame must be NULL")
    }

    // 8th row of PETR4 (2024-01-08): frame = days 02..08, parts
    // 5.101..5.107 → mean = median = 5.104, min = 5.101, max = 5.107
    val d8 = out.filter(col("code") === "PETR4" && col("reference_date") === "2024-01-08")
      .select("mean_part_7_days", "min_part_7_days", "max_part_7_days", "median_part_7_days")
      .head()
    assert(math.abs(d8.getDouble(0) - 5.104) < 1e-9)
    assert(d8.getDouble(1) === 5.101)
    assert(d8.getDouble(2) === 5.107)
    assert(d8.getDouble(3) === 5.104)

    // null-cod row is gone
    assert(out.filter(col("code").isNull).count() === 0)
  }

  test("transformV1 stats ≡ oracle-proven q_pipeline_refined on shared data") {
    // The library chain and the externally hash-checked registry query
    // share Windows.rollingStddevExact / rollingMedianExact / rollingAvg —
    // this pins that they produce IDENTICAL values on identical input, so
    // the DuckDB proof of q_pipeline_refined transfers to transformV1.
    // Shared fixture: sf0.001 lineitem pre-deduped with q_pipeline's tie
    // order (so both dedups pick the same physical rows), rendered as the
    // raw-v1 dirty-string feed for the library path.
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_suppkey").isNotNull && col("l_shipdate").isNotNull)
    val pre = graft.ops.Dedup.keepFirst(li, Seq("l_suppkey", "l_shipdate"),
      Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")))
    val raw = pre.select(
      lit(null).cast("int").as("segment"),
      col("l_suppkey").cast("string").as("cod"),
      lit("T").as("asset"), lit("PN").as("type"),
      regexp_replace(col("l_discount").cast("string"), "\\.", ",").as("part"),
      lit(1).as("partAcum"),
      format_number(col("l_quantity") * 1000, 0).as("theoricalQty"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("date"))
    val lib = Transform.transformV1(raw).select(
      col("code").cast("long").as("code"), col("reference_date"),
      round(col("mean_part_7_days"), 6).as("mean"),
      col("median_part_7_days").as("median"),
      round(col("std_part_7_days"), 6).as("std"),
      col("max_part_7_days").as("mx"), col("min_part_7_days").as("mn"),
      col("initial_date").as("init"))
    val proven = SparkEntry.queries("q_pipeline_refined")(spark, dir).select(
      col("code"), col("reference_date"),
      col("mean_part_7_days").as("p_mean"), col("median_part_7_days").as("p_median"),
      col("std_part_7_days").as("p_std"), col("max_part_7_days").as("p_mx"),
      col("min_part_7_days").as("p_mn"), col("initial_date").as("p_init"))
    val joined = lib.join(proven, Seq("code", "reference_date"), "full_outer").cache()
    // key sets agree: mean is non-null on every genuine row (≥1-row frame),
    // so a null on either side means the other side is missing that key
    assert(joined.filter(col("p_mean").isNull || col("mean").isNull).count() === 0)
    val mismatches = joined.filter(
      !(col("mean") <=> col("p_mean")) || !(col("median") <=> col("p_median")) ||
        !(col("std") <=> col("p_std")) || !(col("mx") <=> col("p_mx")) ||
        !(col("mn") <=> col("p_mn")) || !(col("init") <=> col("p_init"))).count()
    assert(mismatches === 0, "library path must equal the oracle-proven query path")
    joined.unpersist()
  }

  test("transformV1: all-null column is dropped, essential survive") {
    val out = Transform.transformV1(rawV1Fixture)
    assert(!out.columns.contains("segment"), "all-null 'segment' must be pruned")
    assert(out.columns.toSet.intersect(
      Set("code", "ticker", "part", "theoricalQty", "reference_date")).size === 5)
  }

  test("transformV1: missing date/key columns fail fast with a clear message") {
    // reference contract `transform_1.py:75-76`: a malformed feed raises a
    // readable error, not an unresolved-column AnalysisException later
    val noDate = rawV1Fixture.drop("date")
    val e = intercept[IllegalArgumentException] { Transform.transformV1(noDate) }
    assert(e.getMessage.contains("reference_date"), e.getMessage)
    assert(e.getMessage.contains("transform_1.py"), e.getMessage)

    val noCod = rawV1Fixture.drop("cod")
    val e2 = intercept[IllegalArgumentException] { Transform.transformV1(noCod) }
    assert(e2.getMessage.contains("code"), e2.getMessage)
  }

  test("Pipeline.main: spark-submit-style key=value args drive EP2 end-to-end") {
    val rawDir = tmpDir(); val refinedDir = tmpDir()
    val tag = System.nanoTime()
    // raw zone: Hive-partitioned by date, as the reference's extract lays out
    rawV1Fixture.write.partitionBy("date").mode("overwrite").parquet(rawDir)

    Pipeline.main(Array(s"raw=$rawDir", s"refined=$refinedDir",
      "mode=full", "windowDays=7", s"rawDb=t_raw_$tag", s"refinedDb=t_ref_$tag"))

    val refined = spark.read.parquet(refinedDir)
    assert(refined.count() === 20)
    assert(refined.columns.contains("mean_part_7_days"))
    val codes = new java.io.File(refinedDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(codes === Set("code=PETR4", "code=VALE3"))

    // arg hygiene: typos and malformed args are rejected, not ignored
    assert(intercept[IllegalArgumentException] {
      Pipeline.main(Array("mode=full", "rawr=/x", "refined=/y"))
    }.getMessage.contains("unknown arguments"))
    assert(intercept[IllegalArgumentException] {
      Pipeline.main(Array("mode=full", "refined=/y"))
    }.getMessage.contains("raw="))
    assert(intercept[IllegalArgumentException] {
      Pipeline.main(Array("mode=sideways"))
    }.getMessage.contains("unsupported"))
  }

  test("transformV2: fill, dedup, rename, windows") {
    val out = Transform.transformV2(rawV2Fixture).cache()

    // full-row dups collapsed: the two explicit dup rows equal the i=1 base
    // row, so all three collapse to one → 9 base + 1 null row = 10
    assert(out.count() === 10)
    assert(out.columns.contains("codigo_acao") && out.columns.contains("nome_acao"))

    // nulls filled
    val ghost = out.filter(col("codigo_acao") === "VALE3").head()
    assert(ghost.getAs[String]("setor") === "UNKNOWN")
    assert(ghost.getAs[Double]("porcentagem_participacao") === 0.0)
    assert(ghost.getAs[Long]("quantidade_teorica") === 0L)
    assert(ghost.getAs[String]("data_pregao") === "1970-01-01")

    // sector-day total: after D1 only one PETR4 row remains on 2024-01-01
    val day1 = out.filter(col("data_pregao") === "2024-01-01" && col("setor") === "Energia")
      .select("quantidade_total_setor").head().getLong(0)
    assert(day1 === 1001L)
  }

  test("partitioned write: layout + dynamic-overwrite idempotency") {
    val dir = tmpDir()
    val refined = Transform.transformV1(rawV1Fixture)
    Transform.writePartitioned(spark, refined, dir, Seq("code", "reference_date"))

    val d = new java.io.File(dir)
    val codes = d.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(codes === Set("code=PETR4", "code=VALE3"))
    val days = new java.io.File(dir, "code=PETR4").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(days.size === 10 && days.contains("reference_date=2024-01-01"))

    // re-run: same partitions overwritten in place, count unchanged
    Transform.writePartitioned(spark, refined, dir, Seq("code", "reference_date"))
    assert(spark.read.parquet(dir).count() === 20)

    // incremental write of ONE day only touches that partition (K1 upsert)
    val oneDay = refined.filter(col("reference_date") === "2024-01-05")
      .withColumn("part", lit(99.9))
    Transform.writePartitioned(spark, oneDay, dir, Seq("code", "reference_date"))
    val after = spark.read.parquet(dir)
    assert(after.count() === 20, "dynamic overwrite must not drop sibling partitions")
    assert(after.filter(col("part") === 99.9).count() === 2)
  }

  test("writePartitioned writes through the fork-free local filesystem") {
    // Bytes written by the sink are counted under NioLocalFileSystem's
    // raw layer; a sink that lost its writer options would write through
    // the stock filesystem (one forked chmod per file) and count nothing.
    val stats = org.apache.hadoop.fs.FileSystem.getStatistics("file",
      classOf[graft.io.NioLocalFileSystem.Raw])
    val before = stats.getBytesWritten
    Transform.writePartitioned(spark, Transform.transformV1(rawV1Fixture),
      tmpDir(), Seq("code", "reference_date"))
    assert(stats.getBytesWritten > before)
  }

  test("sinks leave the session's partitionOverwriteMode as they found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    def setting = spark.conf.getAll.get(key)
    val refined = Transform.transformV1(rawV1Fixture)
    val db = s"t_mode_${System.nanoTime()}"
    val tableDir = tmpDir()
    for (initial <- Seq(None, Some("STATIC"))) {
      initial.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Transform.writePartitioned(spark, refined, tmpDir(), Seq("code", "reference_date"))
      assert(setting === initial)
      // first call creates the table (saveAsTable), the second inserts
      Transform.writePartitionedToTable(spark, refined, db, "pregao_refined",
        tableDir, Seq("code", "reference_date"))
      assert(setting === initial)
    }
    spark.conf.unset(key)
  }

  test("catalog: discover, register, diff, incremental from path") {
    val dir = tmpDir()
    Transform.writePartitioned(spark, Transform.transformV1(rawV1Fixture),
      dir, Seq("code", "reference_date"))

    val wanted = Catalog.discoverPartitions(spark, dir, Seq("code", "reference_date"))
    assert(wanted.size === 20)
    assert(wanted.contains(Seq("PETR4", "2024-01-03")))

    val p = new Pipeline(spark, refinedDb = s"t_${System.nanoTime()}")
    assert(p.load(dir) === 20) // first sync registers all
    assert(p.load(dir) === 0) // second sync is a no-op diff

    // M5: single-partition parse from a triggering object key
    assert(Catalog.partitionFromPath(
      s"$dir/code=PETR4/reference_date=2024-01-03/part-0.parquet",
      Seq("code", "reference_date")) === Some(Seq("PETR4", "2024-01-03")))
  }

  test("catalog: a path-escaped partition value reads back unchanged; a second sync adds 0") {
    val dir = tmpDir()
    val keys = Seq("code", "reference_date")
    val odd = "A=B/C"
    val refined = Transform.transformV1(rawV1Fixture)
      .withColumn("code", when(col("code") === "PETR4", lit(odd)).otherwise(col("code")))
    Transform.writePartitioned(spark, refined, dir, keys)
    assert(new java.io.File(dir, "code=A%3DB%2FC").isDirectory) // the write escapes it

    val wanted = Catalog.discoverPartitions(spark, dir, keys)
    assert(wanted.contains(Seq(odd, "2024-01-03")))
    val db = s"t_esc_${System.nanoTime()}"
    val p = new Pipeline(spark, refinedDb = db)
    assert(p.load(dir) === 20)
    assert(Catalog.listPartitions(spark, db, "pregao_refined") === wanted)
    assert(p.load(dir) === 0) // the registered set equals the discovered one
    val table = spark.table(s"$db.pregao_refined")
    assert(table.select("code").distinct().collect().map(_.getString(0)).toSet ===
      Set(odd, "VALE3"))
    assert(table.filter(col("code") === odd).count() === 10)
    assert(Catalog.partitionFromPath(
      s"$dir/code=A%3DB%2FC/reference_date=2024-01-03/part-0.parquet", keys) ===
      Some(Seq(odd, "2024-01-03")))
  }

  test("atomic sink: the write itself registers partitions — no sync step") {
    val rawDir = tmpDir(); val refinedDir = tmpDir()
    rawV1Fixture.write.partitionBy("date").mode("overwrite").parquet(rawDir)
    val db = s"t_atomic_${System.nanoTime()}"
    val p = new Pipeline(spark, rawDb = s"${db}_raw", refinedDb = db)

    p.runRegistered(rawDir, refinedDir)
    // partitions visible in the catalog WITHOUT any load()/syncPartitions
    assert(Catalog.listPartitions(spark, db, "pregao_refined").size === 20)
    assert(spark.table(s"$db.pregao_refined").count() === 20)

    // rerun: dynamic overwrite, idempotent — no dupes, no lost partitions
    p.runRegistered(rawDir, refinedDir)
    assert(spark.table(s"$db.pregao_refined").count() === 20)
    assert(Catalog.listPartitions(spark, db, "pregao_refined").size === 20)

    // incremental write of a NEW day registers its partition atomically
    val extra = Transform.transformV1(rawV1Fixture)
      .filter(col("reference_date") === "2024-01-05")
      .withColumn("reference_date", lit("2024-02-01"))
    Transform.writePartitionedToTable(spark, extra, db, "pregao_refined",
      refinedDir, Seq("code", "reference_date"))
    val parts = Catalog.listPartitions(spark, db, "pregao_refined")
    assert(parts.size === 22)
    assert(parts.contains(Seq("PETR4", "2024-02-01")))
    assert(spark.table(s"$db.pregao_refined").count() === 22)
  }

  test("EP1 streaming incremental ingest: per-file upsert with checkpoint") {
    val rawDir = tmpDir(); val outDir = tmpDir(); val ckpt = tmpDir()
    import graft.streaming.IncrementalIngest

    rawV2Fixture.limit(9).write.mode("append").parquet(rawDir)
    IncrementalIngest.start(spark, rawDir, Schemas.rawV2, outDir, ckpt)
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 > 0)

    // a new file arrives; AvailableNow drains only the delta
    rawV2Fixture.limit(2).write.mode("append").parquet(rawDir)
    IncrementalIngest.start(spark, rawDir, Schemas.rawV2, outDir, ckpt)
    assert(spark.read.parquet(outDir).count() >= n1)
  }
}
