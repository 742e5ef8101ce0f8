package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Tables

class SourcesSpec extends SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-src").toString

  private lazy val ref = spark.read
    .parquet("/root/testdata/sf0.001/orders.parquet")
    .select("o_orderkey", "o_orderstatus", "o_totalprice")

  test("csv round trip with explicit schema") {
    val dir = tmp()
    ref.write.option("header", "true").mode("overwrite").csv(dir)
    val back = Tables.readCsv(spark, dir, ref.schema)
    assert(back.schema === ref.schema)
    assert(back.count() === ref.count())
    assert(back.exceptAll(ref).count() === 0)
  }

  test("json round trip with explicit schema") {
    val dir = tmp()
    ref.write.mode("overwrite").json(dir)
    val back = Tables.readJsonl(spark, dir, ref.schema)
    assert(back.schema === ref.schema)
    assert(back.exceptAll(ref).count() === 0)
  }

  test("recursive scan reads nested raw layout (S2)") {
    val dir = tmp()
    ref.limit(10).write.parquet(s"$dir/date=2024-01-01/inner")
    ref.limit(5).write.parquet(s"$dir/date=2024-01-02/inner")
    val back = Tables.readRecursive(spark, dir)
    assert(back.count() === 15)
  }

  test("catalog table scan (S3) through spark.read.table") {
    spark.sql("DROP TABLE IF EXISTS src_spec_tbl")
    ref.write.mode("overwrite").saveAsTable("src_spec_tbl")
    assert(Tables.readTable(spark, "src_spec_tbl").count() === ref.count())
    spark.sql("DROP TABLE IF EXISTS src_spec_tbl")
  }

  test("readMerged unions two schema generations (S4 DynamicFrame parity)") {
    import spark.implicits._
    val dir = tmp()
    // generation 1: (id, cod); generation 2 renames adds (id, code, sector)
    Seq((1L, "PETR4"), (2L, "VALE3")).toDF("id", "cod")
      .write.parquet(s"$dir/gen1")
    Seq((3L, "ITUB4", "Financeiro")).toDF("id", "code", "sector")
      .write.parquet(s"$dir/gen2")

    val merged = Tables.readMerged(spark, dir)
    assert(merged.columns.toSet === Set("id", "cod", "code", "sector"))
    assert(merged.count() === 3)
    // old rows surface the new columns as NULL, and vice versa
    assert(merged.filter($"id" === 1L).head().getAs[String]("sector") == null)
    assert(merged.filter($"id" === 3L).head().getAs[String]("cod") == null)
  }

  test("JSONL round-trip preserves values, schema and special characters") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, "plain words", "en"),
      (2L, "quote \" backslash \\ newline\nand tab\tdone", "en"),
      (3L, "unicode é中文 ok", "und"),
      (4L, null.asInstanceOf[String], "en")
    ).toDF("id", "text", "lang")
    Tables.writeJsonl(df, s"$dir/out", compression = "gzip")
    val back = Tables.readJsonl(spark, s"$dir/out", df.schema)
    // JSON sources surface every field nullable; names+types must match
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
      === df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    // the files really are gzip jsonl
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(files.nonEmpty)
  }

  test("CSV round-trip survives hostile content: quotes, newlines, separators, nulls") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, "plain words", "en"),
      (2L, "comma, semicolon; pipe| done", "en"),
      (3L, "embedded \"quotes\" and \"\"doubled\"\"", "en"),
      (4L, "newline\ninside a\r\nquoted field", "en"),
      (5L, "unicode é中文 ok", "und"),
      (6L, null.asInstanceOf[String], "en")
    ).toDF("id", "text", "lang")
    Tables.writeCsv(df, s"$dir/out", compression = "gzip")
    val back = Tables.readCsv(spark, s"$dir/out", df.schema)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
      === df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq,
      "RFC-4180 quoting must round-trip every value byte-for-byte")
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".csv.gz"))
    assert(files.nonEmpty)
  }

  test("ORC round-trip is value- and schema-identical") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, "plain words", 3.5, Array(1.0f, 2.0f)),
      (2L, "unicode é中文", -0.25, Array.empty[Float]),
      (3L, null.asInstanceOf[String], 0.0, null.asInstanceOf[Array[Float]])
    ).toDF("id", "text", "score", "vec")
    Tables.writeOrc(df, s"$dir/out")
    val back = Tables.readOrc(spark, s"$dir/out")
    // .sql compares types ignoring containsNull (ORC reads arrays back
    // nullable-element — Seq-derived writers stamp containsNull=false)
    assert(back.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq
      === df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    // pushdown reaches the ORC scan (the format carries min/max indexes)
    val plan = back.filter(col("id") === 2L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"),
      s"ORC scan must receive the pushed filter:\n$plan")
  }
}
