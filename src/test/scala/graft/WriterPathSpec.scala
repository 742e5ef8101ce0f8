package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `DataFrameWriter` in `src/main/scala/graft` starts at
  * [[graft.io.NioLocalFileSystem.write]], the engine's one local write
  * path, unless it writes to the noop sink (which runs the plan and
  * writes no file) or is listed below with its reason. A writer begun
  * with a bare `.write` would bring back one forked `/bin/chmod` per
  * file, `.crc` checksum and directory it creates.
  *
  * Likewise every parquet read either names its schema (`.schema(` in the
  * same statement) or starts at [[graft.ops.Tables.parquet]], the one
  * read path, unless it is listed below with its reason. A bare
  * `spark.read.parquet` would bring back one schema-inference Spark job
  * per read.
  *
  * And `pipeline/Catalog.scala` builds no `SHOW PARTITIONS` or
  * `ADD … PARTITION` SQL text: partitions are listed and registered
  * through the session catalog API, one path.
  *
  * And every session in `src/main/scala/graft` comes from
  * [[graft.GraftSession.local]], unless its file is listed below with its
  * reason.
  *
  * And every micro-batch sink starts at [[graft.streaming.Ingest.drain]]:
  * no other file calls `.foreachBatch`, so the checkpoint, the trigger
  * and any per-batch hook live in one place.
  *
  * And in `SparkEntry.scala`, the query registry, the signed-BIGINT fold
  * of a HUGEINT hash sum (its `18446744073709551616` constant) is written
  * only in `signedBigintSql`, and the media corpus's
  * `toDF("doc_id", "payload")` only in `payloads`. A row that needs either
  * calls the builder, so the oracle law and the corpus shape each live in
  * one place, and a new copy would bring back the hand-copied fragments
  * that made up a third of the file. The `graft.tools` probes build their
  * own corpora and are outside this rule.
  *
 * And no `.scala` file under `src/` carries a control byte other than
  * tab, newline or carriage return: grep and ripgrep treat such a file
  * as binary, so a search of the source silently skips it.
  *
  * The scans read the sources with comments blanked, except the
  * control-byte scan, which reads raw bytes. One set of rules holds for
  * all of `src/main/scala/graft`, the `graft.tools` mains included.
  */
class WriterPathSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private val root = Paths.get("src", "main", "scala", "graft")

  /** Writers that stay on the stock filesystem: (file, sink) -> why. */
  private val allowed = Map(
    ("io/NioLocalFileSystem.scala", "-") ->
      "the helper itself: it returns the writer, the caller picks the sink",
    ("pipeline/Transform.scala", "saveAsTable") ->
      "table sink: the table would persist the writer options",
    ("pipeline/Transform.scala", "insertInto") ->
      "table sink: writes the table saveAsTable created, on the same filesystem",
    ("pipeline/Bucketing.scala", "saveAsTable") ->
      "table sink: the table would persist the writer options",
    ("SparkEntry.scala", "saveAsTable") ->
      "table sink: the table would persist the writer options")

  /** Parquet reads that leave the schema to Spark's inference:
    * (file, enclosing def) -> why.
    */
  private val inferringReads = Map(
    ("ops/Tables.scala", "parquetPaths") ->
      "the read path itself: its fallback, where Spark decides the schema",
    ("ops/Tables.scala", "readMerged") ->
      "mergeSchema needs every footer, so Spark's distributed merge reads them")

  /** Files that build their own SparkSession: file -> why. */
  private val ownSessions = Map(
    "pipeline/Pipeline.scala" ->
      "Pipeline.main is the deployed job: spark-submit supplies its master and settings")

  // `.write` as a property: not `out.write(b)`, `foreach(out.write)` or `.writeStream`
  private val WriterStart = """\.write\b(?!\s*[()])""".r
  private val Sink = """\.(parquet|json|orc|csv|text|save|saveAsTable|insertInto)\s*\(""".r
  // the noop sink runs the plan and writes no file, so no filesystem applies
  private val NoopFormat = """\.format\s*\(\s*"noop"\s*\)""".r
  // `.read`/`.readStream` as a property: not `Tables.read(spark, ...)`
  private val ReaderStart = """\.read(?:Stream)?\b(?!\s*[(])""".r
  private val ReadSource = """\.(parquet|json|orc|csv|text|textFile|table|load)\s*\(""".r
  private val Def = """\bdef\s+(\w+)""".r
  // an object member of SparkEntry: a builder `def` or a registry row `val`
  private val Member = """(?m)^  (?:private(?:\[\w+\])? )?(?:lazy )?(?:def|val)\s+(\w+)""".r
  private val Builder = """\bSparkSession\s*\.\s*builder\b""".r
  // partition listing or registration as SQL text; not Spark's action
  // name "ALTER TABLE ADD PARTITION", which no `(` or `IF` follows
  private val PartitionSql =
    """(?i)\bADD\s+(?:IF\s+NOT\s+EXISTS\b|PARTITION\s*\()|\bSHOW\s+PARTITIONS\b""".r
  // a micro-batch sink: `.foreachBatch` as a call, not a name
  private val ForeachBatch = """\.\s*foreachBatch\b""".r
  private val DrainFile = "streaming/Ingest.scala"
  // block comments, and line comments not inside a `scheme://` literal
  private val Comment = """(?s)/\*.*?\*/|(?<![:"/])//[^\n]*""".r

  private def blankComments(src: String): String =
    Comment.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))

  /** (file relative to `dir`, path) of every `.scala` file under `dir`. */
  private def scalaFiles(dir: Path): Seq[(String, Path)] = {
    assert(Files.isDirectory(dir), s"run from the repository root: no $dir")
    Files.walk(dir).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => dir.relativize(p).toString.replace('\\', '/') -> p)
      .sortBy(_._1)
  }

  /** (file relative to `root`, source with comments blanked). */
  private def sources(): Seq[(String, String)] =
    scalaFiles(root).map { case (rel, p) =>
      // ISO-8859-1: some sources carry raw bytes in string literals
      rel -> blankComments(new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1))
    }

  /** A control byte other than tab, newline or carriage return. */
  private def isStrayControl(b: Byte): Boolean =
    (b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r') || b == 0x7f

  /** (file under `src/`, line, byte) of the first stray control byte of
    * every source that has one.
    */
  private def controlBytes(): Seq[(String, Int, Int)] =
    scalaFiles(Paths.get("src")).flatMap { case (rel, p) =>
      val bytes = Files.readAllBytes(p)
      bytes.indexWhere(isStrayControl) match {
        case -1 => None
        case at => Some((rel, bytes.take(at).count(_ == '\n') + 1, bytes(at) & 0xff))
      }
    }

  /** The text after `from` up to the next blank line. */
  private def statement(src: String, from: Int): String = {
    val rest = src.substring(from)
    rest.take(Option(rest.indexOf("\n\n")).filter(_ >= 0).getOrElse(rest.length))
  }

  private def lineOf(src: String, at: Int): Int = src.take(at).count(_ == '\n') + 1

  /** The first sink call of a writer's `chain`: "noop" when the chain
    * picks the noop format before it, "-" when it returns the writer
    * instead.
    */
  private def sinkOf(chain: String): String =
    Sink.findFirstMatchIn(chain).map { s =>
      if (NoopFormat.findFirstIn(chain.take(s.start)).isDefined) "noop" else s.group(1)
    }.getOrElse("-")

  /** (file, sink, line) of every writer; the sink is [[sinkOf]] the
    * statement after the `.write`.
    */
  private def writers(): Seq[(String, String, Int)] =
    sources().flatMap { case (rel, src) =>
      WriterStart.findAllMatchIn(src).map { m =>
        (rel, sinkOf(statement(src, m.end)), lineOf(src, m.start))
      }
    }

  /** (enclosing def, line) of every `read…parquet(` chain in `src` with
    * no `.schema(` before its source call.
    */
  private def inferringParquetReads(src: String): Seq[(String, Int)] =
    ReaderStart.findAllMatchIn(src).toSeq.flatMap { m =>
      val chain = statement(src, m.end)
      ReadSource.findFirstMatchIn(chain)
        .filter(s => s.group(1) == "parquet" && !chain.take(s.start).contains(".schema("))
        .map(_ => (Def.findAllMatchIn(src.take(m.start)).map(_.group(1)).toSeq.lastOption
          .getOrElse("-"), lineOf(src, m.start)))
    }

  /** (text, the one builder it may appear in) for `SparkEntry.scala`. */
  private val oneBuilder = Seq(
    "18446744073709551616" -> "signedBigintSql",
    """toDF("doc_id", "payload")""" -> "payloads")

  /** (enclosing object member, line) of every occurrence of `text` in `src`. */
  private def occurrences(src: String, text: String): Seq[(String, Int)] =
    Iterator.iterate(src.indexOf(text))(at => src.indexOf(text, at + 1)).takeWhile(_ >= 0)
      .map(at => (Member.findAllMatchIn(src.take(at)).map(_.group(1)).toSeq.lastOption
        .getOrElse("-"), lineOf(src, at)))
      .toSeq

  /** Lines of `src` that build partition SQL text. */
  private def partitionSql(src: String): Seq[Int] =
    PartitionSql.findAllMatchIn(src).map(m => lineOf(src, m.start)).toSeq

  /** Lines of `src` that call `.foreachBatch`. */
  private def foreachBatchCalls(src: String): Seq[Int] =
    ForeachBatch.findAllMatchIn(src).map(m => lineOf(src, m.start)).toSeq

  /** (file, line) of every `SparkSession.builder` call outside `GraftSession.scala`. */
  private def builders(): Seq[(String, Int)] =
    sources().filterNot(_._1 == "GraftSession.scala").flatMap { case (rel, src) =>
      Builder.findAllMatchIn(src).map(m => (rel, lineOf(src, m.start)))
    }

  test("no source under src/ carries a control byte other than tab, newline or return") {
    val found = controlBytes()
    assert(found.isEmpty, "control bytes make grep and ripgrep treat a source as binary:\n" +
      found.map { case (f, l, b) => f"  src/$f:$l: byte 0x$b%02x" }.mkString("\n"))
  }

  test("every SparkSession comes from GraftSession.local or is a listed exception") {
    val found = builders()
    val bypass = found.filterNot { case (file, _) => ownSessions.contains(file) }
    assert(bypass.isEmpty, "sessions built outside GraftSession:\n" +
      bypass.map { case (f, l) => s"  $f:$l" }.mkString("\n"))
    val stale = ownSessions.keySet -- found.map(_._1)
    assert(stale.isEmpty, s"allowlist entries that match no SparkSession.builder call: $stale")
  }

  test("Catalog lists and registers partitions through the catalog API, not SQL text") {
    val file = "pipeline/Catalog.scala"
    val src = sources().collectFirst { case (`file`, s) => s }
      .getOrElse(fail(s"no $file under $root"))
    val lines = partitionSql(src)
    assert(lines.isEmpty, "partition SQL text in the catalog code:\n" +
      lines.map(l => s"  $file:$l").mkString("\n"))
  }

  test("the partition-SQL scan sees statements, not comments or the action name") {
    val src = blankComments(
      """// SHOW PARTITIONS, ADD IF NOT EXISTS
        |DDLUtils.verifyPartitionProviderIsHive(spark, meta, "ALTER TABLE ADD PARTITION")
        |spark.sql(s"SHOW PARTITIONS `$db`.`$table`")
        |s"ALTER TABLE `$db`.`$table` ADD IF NOT EXISTS\n$parts"
        |s"ALTER TABLE t add partition ($spec)"
        |""".stripMargin)
    assert(partitionSql(src) === Seq(3, 4, 5))
  }

  test("the registry writes each shared oracle law and its media corpus in one builder") {
    val file = "SparkEntry.scala"
    val src = sources().collectFirst { case (`file`, s) => s }
      .getOrElse(fail(s"no $file under $root"))
    oneBuilder.foreach { case (text, builder) =>
      val found = occurrences(src, text)
      val copies = found.filterNot(_._1 == builder)
      assert(copies.isEmpty, s"$text written outside $builder:\n" +
        copies.map { case (d, l) => s"  $file:$l (in $d)" }.mkString("\n"))
      assert(found.nonEmpty, s"no $text in $file: stale rule for $builder")
    }
  }

  test("the one-builder scan attributes each copy to its member and ignores comments") {
    val src = blankComments(
      """  private def payloads(ids: Dataset[Long]): DataFrame = {
        |    ids.map(id => (id, f(id))).toDF("doc_id", "payload")
        |  }
        |  // .toDF("doc_id", "payload")
        |  private val qRow = Q(
        |    (s, dir) => {
        |      val ok = "payload"; xs.toDF("doc_id", "payload")
        |""".stripMargin)
    assert(occurrences(src, "toDF(\"doc_id\", \"payload\")") ===
      Seq(("payloads", 2), ("qRow", 7)))
  }

  test("every micro-batch sink starts at Ingest.drain") {
    val found = sources().flatMap { case (rel, src) => foreachBatchCalls(src).map(rel -> _) }
    val bypass = found.filterNot(_._1 == DrainFile)
    assert(bypass.isEmpty, "foreachBatch chains outside Ingest.drain:\n" +
      bypass.map { case (f, l) => s"  $f:$l" }.mkString("\n"))
    assert(found.exists(_._1 == DrainFile), s"no foreachBatch call in $DrainFile")
  }

  test("the foreachBatch scan sees calls across lines and ignores comments and names") {
    val src = blankComments(
      """// df.writeStream.foreachBatch(f)
        |/** wraps `.foreachBatch` */ val a = df.writeStream
        |  .foreachBatch { (b: DataFrame, id: Long) => f(b, id) }
        |val foreachBatch = g; s.writeStream.foreachBatch(foreachBatch)
        |""".stripMargin)
    assert(foreachBatchCalls(src) === Seq(3, 4))
  }

  test("every DataFrameWriter starts at NioLocalFileSystem.write or is a listed exception") {
    val found = writers()
    val bypass = found.filterNot { case (file, sink, _) =>
      sink == "noop" || allowed.contains((file, sink))
    }
    assert(bypass.isEmpty, "writers that bypass NioLocalFileSystem.write:\n" +
      bypass.map { case (f, s, l) => s"  $f:$l ($s)" }.mkString("\n"))
    val stale = allowed.keySet -- found.map { case (f, s, _) => (f, s) }
    assert(stale.isEmpty, s"allowlist entries that match no writer: $stale")
  }

  test("every parquet read names its schema, starts at Tables.parquet or is a listed exception") {
    val found = sources().flatMap { case (rel, src) =>
      inferringParquetReads(src).map { case (d, line) => (rel, d, line) }
    }
    val bypass = found.filterNot { case (file, d, _) => inferringReads.contains((file, d)) }
    assert(bypass.isEmpty, "parquet reads that infer their schema with a Spark job:\n" +
      bypass.map { case (f, d, l) => s"  $f:$l (in $d)" }.mkString("\n"))
    val stale = inferringReads.keySet -- found.map { case (f, d, _) => (f, d) }
    assert(stale.isEmpty, s"allowlist entries that match no read: $stale")
  }

  test("the read scan sees chains across lines and ignores schemas, calls and comments") {
    val src = blankComments(
      """def a = spark.read
        |  .option("basePath", b).parquet(p) // spark.read.parquet(q)
        |
        |def b = spark.read.schema(s).parquet(p)
        |
        |def c = Tables.read(spark, d, "t"); s.readStream.schema(t).parquet(p)
        |
        |def d = spark.read.json(p)
        |
        |def e = s.readStream.option("k", "v")
        |  .parquet(p)
        |""".stripMargin)
    assert(inferringParquetReads(src) === Seq(("a", 1), ("e", 10)))
  }

  test("the scan sees writers across lines and ignores comments and stream writes") {
    val src = blankComments(
      """val a = df
        |  .write.mode("append").parquet(p) // df.write.json(q)
        |/** df.write.orc(r) */ out.write(b); xs.foreach(out.write)
        |s.writeStream.start(); val u = "file:///x"; df.write.csv(u)
        |df.write.format("noop").mode("overwrite").save(); df.write.format("parquet").save(p)
        |""".stripMargin)
    val sinks = WriterStart.findAllMatchIn(src).map(m => sinkOf(src.substring(m.end))).toSeq
    assert(sinks === Seq("parquet", "csv", "noop", "save"))
  }
}
