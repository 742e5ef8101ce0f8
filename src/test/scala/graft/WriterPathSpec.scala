package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `DataFrameWriter` in `src/main/scala/graft` starts at
  * [[graft.io.NioLocalFileSystem.write]], the engine's one local write
  * path, unless it is listed below with its reason. A writer begun with a
  * bare `.write` would bring back one forked `/bin/chmod` per file, `.crc`
  * checksum and directory it creates.
  *
  * The scan reads the sources with comments blanked. `graft.tools` is
  * skipped: those probes are slated for deletion.
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
      "table sink: the table would persist the writer options",
    ("Bench.scala", "save") ->
      "the noop sink runs the plan and writes no file")

  // `.write` as a property: not `out.write(b)`, `foreach(out.write)` or `.writeStream`
  private val WriterStart = """\.write\b(?!\s*[()])""".r
  private val Sink = """\.(parquet|json|orc|csv|text|save|saveAsTable|insertInto)\s*\(""".r
  // block comments, and line comments not inside a `scheme://` literal
  private val Comment = """(?s)/\*.*?\*/|(?<![:"/])//[^\n]*""".r

  private def blankComments(src: String): String =
    Comment.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))

  /** (file, sink, line) of every writer outside `tools/`; the sink is the
    * first sink call after the `.write`, or "-" when the statement
    * returns the writer instead.
    */
  private def writers(): Seq[(String, String, Int)] = {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') -> p)
      .filterNot { case (rel, _) => rel.startsWith("tools/") }
      .sortBy(_._1)
      .flatMap { case (rel, p: Path) =>
        // ISO-8859-1: some sources carry raw bytes in string literals
        val src = blankComments(new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1))
        WriterStart.findAllMatchIn(src).map { m =>
          val rest = src.substring(m.end)
          val statementEnd = Option(rest.indexOf("\n\n")).filter(_ >= 0).getOrElse(rest.length)
          val sink = Sink.findFirstMatchIn(rest.take(statementEnd)).map(_.group(1)).getOrElse("-")
          (rel, sink, src.take(m.start).count(_ == '\n') + 1)
        }
      }
  }

  test("every DataFrameWriter starts at NioLocalFileSystem.write or is a listed exception") {
    val found = writers()
    val bypass = found.filterNot { case (file, sink, _) => allowed.contains((file, sink)) }
    assert(bypass.isEmpty, "writers that bypass NioLocalFileSystem.write:\n" +
      bypass.map { case (f, s, l) => s"  $f:$l ($s)" }.mkString("\n"))
    val stale = allowed.keySet -- found.map { case (f, s, _) => (f, s) }
    assert(stale.isEmpty, s"allowlist entries that match no writer: $stale")
  }

  test("the scan sees writers across lines and ignores comments and stream writes") {
    val src = blankComments(
      """val a = df
        |  .write.mode("append").parquet(p) // df.write.json(q)
        |/** df.write.orc(r) */ out.write(b); xs.foreach(out.write)
        |s.writeStream.start(); val u = "file:///x"; df.write.csv(u)
        |""".stripMargin)
    val sinks = WriterStart.findAllMatchIn(src)
      .map(m => Sink.findFirstMatchIn(src.substring(m.end)).map(_.group(1))).toSeq
    assert(sinks === Seq(Some("parquet"), Some("csv")))
  }
}
