package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.io.NioLocalFileSystem
import graft.ops.Segments
import graft.pipeline.Transform
import graft.similarity.Ann
import graft.text.Bm25

/** [[NioLocalFileSystem]] sets the modes stock Hadoop sets, a sink
  * writing through it leaves the tree a stock write leaves, and the index
  * writers write through it.
  */
class NioLocalFileSystemSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val nio = initialized(new NioLocalFileSystem.Raw)

  private def modeOf(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Applies `perm` to a stock-handled and a NIO-handled twin of the same
    * kind and returns both resulting modes.
    */
  private def both(stockPath: JPath, nioPath: JPath, perm: FsPermission): (Int, Int) = {
    stock.setPermission(new Path(stockPath.toUri), perm)
    nio.setPermission(new Path(nioPath.toUri), perm)
    (modeOf(stockPath), modeOf(nioPath))
  }

  test("files and directories: every mode 000-777 matches stock setPermission") {
    val root = Files.createTempDirectory("graft-nio-modes")
    val kinds = Seq(
      "file" -> (Files.createFile(root.resolve("stock")), Files.createFile(root.resolve("nio"))),
      "dir" -> (Files.createDirectory(root.resolve("stock-d")), Files.createDirectory(root.resolve("nio-d"))))
    for ((kind, (s, n)) <- kinds; mode <- 0 to 0x1ff) {
      val (want, got) = both(s, n, new FsPermission(mode.toShort))
      assert(got === want, f"$kind mode $mode%03o: stock $want%04o, nio $got%04o")
      assert(got === mode, f"$kind mode $mode%03o set as $got%04o")
    }
  }

  test("a sticky bit takes Hadoop's fallback path and is kept") {
    val root = Files.createTempDirectory("graft-nio-sticky")
    val (s, n) = (Files.createDirectory(root.resolve("s")), Files.createDirectory(root.resolve("n")))
    val sticky = new FsPermission(0x3ff.toShort) // 1777
    assert(sticky.getStickyBit)
    val (want, got) = both(s, n, sticky)
    assert(got === want)
    assert((got & 0x200) !== 0, "NIO cannot set the sticky bit; only the fallback can")
  }

  test("a directory's setgid bit survives, as under stock chmod") {
    val root = Files.createTempDirectory("graft-nio-setgid")
    val (s, n) = (Files.createDirectory(root.resolve("s")), Files.createDirectory(root.resolve("n")))
    for (d <- Seq(s, n))
      assert(new ProcessBuilder("chmod", "2775", d.toString).start().waitFor() === 0)
    val (want, got) = both(s, n, new FsPermission(0x1ed.toShort)) // 755
    assert(got === want)
    assert((got & 0x400) !== 0)
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Every path under `root`, relative and with job uuids masked, and its mode. */
  private def tree(root: JPath): Seq[(String, Int)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll(uuid, "<uuid>") -> modeOf(p)
    }.toSeq.sorted

  /** Asserts the sink's tree equals the stock one, has `parts` part files,
    * each with a `.crc` sibling, and only 644/755 modes.
    */
  private def assertStockTree(viaSink: JPath, viaStock: JPath, parts: Int): Unit = {
    val got = tree(viaSink)
    assert(got === tree(viaStock))
    val names = got.map(_._1)
    val files = names.filter(_.endsWith(".parquet"))
    assert(files.size === parts)
    files.foreach { f =>
      val (dir, file) = f.splitAt(f.lastIndexOf('/') + 1)
      assert(names.contains(s"$dir.$file.crc"), s"$f has no .crc sibling")
    }
    assert(got.forall { case (_, m) => m == 0x1a4 || m == 0x1ed }) // 644 or 755
  }

  test("writePartitioned leaves the tree, checksums and modes of a stock write") {
    val rows = spark.range(0, 24)
      .select(
        concat(lit("T"), (col("id") % 3).cast("string")).as("code"),
        date_format(date_add(lit("2024-01-01").cast("date"), (col("id") / 3).cast("int")),
          "yyyy-MM-dd").as("reference_date"),
        (col("id") * 1.5).as("part"))
      .repartition(2, col("code"))
    val keys = Seq("code", "reference_date")
    val viaSink = Files.createTempDirectory("graft-nio-sink").resolve("out")
    val viaStock = Files.createTempDirectory("graft-nio-stock").resolve("out")
    Transform.writePartitioned(spark, rows, viaSink.toString, keys)
    rows.write.partitionBy(keys: _*).mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .parquet(viaStock.toString)
    assertStockTree(viaSink, viaStock, parts = 24)
  }

  test("a batch-keyed segment write leaves the tree, checksums and modes of a stock write") {
    val rows = spark.range(0, 12)
      .select(col("id"), (col("id") % 4).as("cell"), (col("id") * 0.5).as("v"))
      .repartition(col("cell"))
    val viaSink = Files.createTempDirectory("graft-nio-seg").resolve("out")
    val viaStock = Files.createTempDirectory("graft-nio-seg-stock").resolve("out")
    // a streaming append: dynamic overwrite of its own batch_id partitions
    Segments.writer(rows, "append", Some(3L))
      .partitionBy("batch_id", "cell").parquet(viaSink.toString)
    rows.withColumn("batch_id", lit(3L))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cell").parquet(viaStock.toString)
    assertStockTree(viaSink, viaStock, parts = 4)
  }

  /** `body` writes through the fork-free raw layer and writes no byte
    * through the stock one, which forks `chmod` for each file it creates.
    */
  private def assertForkFree(what: String)(body: => Unit): Unit = {
    def stats(c: Class[_ <: FileSystem]) = FileSystem.getStatistics("file", c)
    val (nio, stock) = (stats(classOf[NioLocalFileSystem.Raw]), stats(classOf[RawLocalFileSystem]))
    val (nio0, stock0) = (nio.getBytesWritten, stock.getBytesWritten)
    body
    assert(nio.getBytesWritten > nio0, s"$what wrote nothing through NioLocalFileSystem")
    assert(stock.getBytesWritten === stock0, s"$what wrote through the stock local filesystem")
  }

  test("index and segment writers write through the fork-free local filesystem") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-nio-index")
    val docs = Seq((1L, "the quick brown fox"), (2L, "a lazy dog"), (3L, "quick dogs"))
      .toDF("doc_id", "text")
    assertForkFree("Bm25.writeBm25Index") {
      Bm25.writeBm25Index(docs, root.resolve("bm25").toString, nBuckets = 4)
    }
    assertForkFree("a batch-keyed Segments.writer append") {
      Segments.writer(docs, "append", Some(7L))
        .partitionBy("batch_id").parquet(root.resolve("seg").toString)
    }
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 8L).map(i => (i, Array.fill(4)(rnd.nextGaussian()))).toDF("vec_id", "embedding")
    assertForkFree("Ann.writeEmbedNearDupIndex") {
      Ann.writeEmbedNearDupIndex(vecs, root.resolve("embed").toString, nBits = 2, dim = 4)
    }
  }
}
