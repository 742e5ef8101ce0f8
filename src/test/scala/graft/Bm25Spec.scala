package graft

import graft.text.Bm25

class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "cat dog"),
    (2L, "cat cat cat fish"),
    (3L, "bird")
  ).toDF("doc_id", "text")

  // the reference formula in plain doubles (N=3, tot=7)
  private def contrib(tf: Long, df: Long, dl: Long): Double = {
    val n = 3.0; val avg = 7.0 / n
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avg))
  }
  private def fx(c: Double): Long = math.rint(c * 1e6).toLong

  test("single-term query: tf saturation ranks the heavy doc first, scores exact") {
    val q = Seq((100L, "cat")).toDF("doc_id", "text")
    val got = Bm25.topK(corpus, q, k = 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("id"), r.getAs[Double]("score")))
    assert(got.map(x => (x._2, x._3)).toSeq === Seq((1, 2L), (2, 1L)),
      "doc 2 (tf=3) outranks doc 1; doc 3 has no matching term")
    val expected2 = fx(contrib(3, 2, 4)) / 1e6
    assert(got.find(_._3 == 2L).get._4 === math.rint(expected2 * 1e6) / 1e6)
  }

  test("multi-term query sums per-term contributions; query tf does not double-count") {
    // "bird bird" dedups to one query term — score for doc 3 is the single
    // bird contribution, not twice it
    val q = Seq((101L, "cat bird bird")).toDF("doc_id", "text")
    val got = Bm25.topK(corpus, q, k = 10).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(3L) === fx(contrib(1, 1, 1)) / 1e6)
  }

  test("a query doc never retrieves itself") {
    val got = Bm25.topK(corpus, corpus.filter($"doc_id" === 1L), k = 10)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(!got.contains(1L))
    assert(got === Set(2L)) // only the shared-term doc matches
  }

  test("fixed-point accumulation is partition-invariant") {
    val q = Seq((101L, "cat bird fish dog")).toDF("doc_id", "text")
    val a = Bm25.topK(corpus, q, k = 10).collect().toSet
    val b = Bm25.topK(corpus.repartition(7), q, k = 10).collect().toSet
    assert(a === b)
  }

  test("persistent index: topKAgainstIndex ≡ from-raw topK after disk round-trip") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx").resolve("idx").toString
    Bm25.writeBm25Index(docs, tmp, nBuckets = 16)
    val q = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 3)
    val stored = Bm25.topKAgainstIndex(q, tmp, k = 10, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val fromRaw = Bm25.topK(docs, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stored === fromRaw)
    assert(stored.nonEmpty)
  }

  test("persistent index: append extends the corpus; df/stats aggregate across segments") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val partA = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val partB = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_app").resolve("idx").toString
    Bm25.writeBm25Index(partA, tmp, nBuckets = 16)
    Bm25.appendBm25Index(partB, tmp, nBuckets = 16)
    val q = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 3)
    val stored = Bm25.topKAgainstIndex(q, tmp, k = 10, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val fromRaw = Bm25.topK(docs, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(stored === fromRaw,
      "segment-summed df/n/tot must reproduce the whole-corpus scores exactly")
  }

  test("persistent index: delete ≡ index built without the deleted docs; idempotent") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_del").resolve("idx").toString
    Bm25.writeBm25Index(docs, tmp, nBuckets = 16)
    val dead = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200).select("doc_id")
    Bm25.deleteFromBm25Index(dead, tmp, nBuckets = 16)
    val q = docs.filter(col("doc_id") < 3)
    val stored = Bm25.topKAgainstIndex(q, tmp, k = 10, nBuckets = 16)
      .collect().map(_.toString).toSet
    // from-raw twin over the corpus MINUS the erased docs: df, n, tot
    // and the postings must all reflect the erasure exactly
    val fromRaw = Bm25.topK(
        docs.filter(col("doc_id") < 100 || col("doc_id") >= 200), q, k = 10)
      .collect().map(_.toString).toSet
    assert(stored === fromRaw)
    // erased docs never appear
    val ids = Bm25.topKAgainstIndex(q, tmp, k = 1000, nBuckets = 16)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(i => i < 100 || i >= 200))
    // double delete is a no-op (df/stats not subtracted twice)
    Bm25.deleteFromBm25Index(dead, tmp, nBuckets = 16)
    val again = Bm25.topKAgainstIndex(q, tmp, k = 10, nBuckets = 16)
      .collect().map(_.toString).toSet
    assert(again === fromRaw)
  }

  test("persistent index writes leave ≈1 file per bucket per segment (no fan-out)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_files").resolve("idx").toString
    Bm25.writeBm25Index(docs, tmp, nBuckets = 16)
    Seq("postings", "dfreq").foreach { sub =>
      val counts = leafFileCounts(s"$tmp/$sub")
      assert(counts.nonEmpty)
      assert(counts.values.forall(_ == 1),
        s"$sub rebuild must write one file per bucket dir, got $counts")
    }
    // an appended segment adds at most one more file per touched bucket
    Bm25.appendBm25Index(docs.filter(col("doc_id") < 20), tmp, nBuckets = 16)
    assert(leafFileCounts(s"$tmp/postings").values.forall(_ <= 2))
  }

  test("empty-base rebuild reads back fileless segments; stream appends still probe exactly") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_empty").resolve("idx").toString
    // rebuild over an EMPTY corpus: the dfreq/stats read-back of the
    // just-written postings/doclen must tolerate a fileless directory
    // (explicit schemas, no inference) and write the 0-count stats row
    Bm25.writeBm25Index(docs.limit(0), tmp, nBuckets = 16)
    // streaming-shaped append (the IndexIngest per-batch verb) onto the
    // empty base, then probe ≡ from-raw over exactly the appended docs
    val batch = docs.filter(col("doc_id") < 50)
    graft.streaming.IndexIngest.appendBm25Batch(batch, batchId = 0L, tmp,
      nBuckets = 16, idCol = "doc_id", textCol = "text")
    val q = docs.filter(col("doc_id") < 3)
    val stored = Bm25.topKAgainstIndex(q, tmp, k = 10, nBuckets = 16)
      .collect().map(_.toString).toSet
    val fromRaw = Bm25.topK(batch, q, k = 10)
      .collect().map(_.toString).toSet
    assert(stored === fromRaw)
    assert(stored.nonEmpty)
  }

  test("concurrent rebuild: index laws hold and the tree keeps its layout") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val words = Seq("cat", "dog", "fish", "bird", "table", "spark", "join", "scan", "merge")
    // 120 documents of 1-7 tokens, plus one without tokens (n counts it, tot does not)
    val docs = (Seq.tabulate(120)(i => (i.toLong,
      Seq.tabulate(1 + i % 7)(j => words((i * 3 + j * 5) % words.size)).mkString(" "))) :+
      (1000L, "")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("bm25_idx_laws").resolve("idx")
    Bm25.writeBm25Index(docs, root.toString, nBuckets = 16)
    def table(t: String) = spark.read.parquet(s"$root/$t")
    // dfreq = postings grouped by token; stats n = corpus rows, tot = Σ dl
    val byToken = table("postings").groupBy("token", "pbucket", "batch_id")
      .agg(count(lit(1)).as("df"))
    val dfCols = Seq("token", "df", "pbucket", "batch_id").map(col)
    assert(table("dfreq").select(dfCols: _*).collect().toSet ===
      byToken.select(dfCols: _*).collect().toSet)
    val stats = table("stats").collect()
    assert(stats.length === 1)
    assert(stats(0).getAs[Long]("n") === docs.count())
    assert(table("doclen").count() === docs.count())
    assert(stats(0).getAs[Long]("tot") ===
      table("doclen").agg(sum("dl")).head().getLong(0))
    // the layout: per table a _SUCCESS marker, batch_id=-1 (and the
    // corpus tokens' pbucket dirs under it for postings and dfreq), part
    // files only in leaves, each with a .crc sibling; modes 644/755
    val buckets = docs.select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("t"))
      .select(pmod(hash(col("t")), lit(16))).distinct().collect().map(_.getInt(0))
    val leaves = Seq("postings", "dfreq").flatMap(t =>
      buckets.map(b => s"$t/batch_id=-1/pbucket=$b")) ++
      Seq("doclen/batch_id=-1", "stats/batch_id=-1")
    val entries = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_ != root).toSeq
    def rel(p: java.nio.file.Path) = root.relativize(p).toString
    val (dirs, files) = entries.partition(java.nio.file.Files.isDirectory(_))
    val tables = Seq("postings", "dfreq", "doclen", "stats")
    assert(dirs.map(rel).toSet === (tables ++ tables.map(t => s"$t/batch_id=-1") ++ leaves).toSet)
    files.map(rel).groupBy(f => f.take(f.lastIndexOf('/'))).foreach { case (dir, fs) =>
      val names = fs.map(f => f.drop(dir.length + 1))
      if (tables.contains(dir)) assert(names.toSet === Set("_SUCCESS", "._SUCCESS.crc"))
      else {
        assert(leaves.contains(dir), s"files outside a leaf: $dir")
        val parts = names.filter(_.startsWith("part-"))
        assert(parts.nonEmpty && names.size === 2 * parts.size, names)
        parts.foreach(f => assert(names.contains(s".$f.crc"), s"$dir/$f has no .crc"))
      }
    }
    assert(leaves.forall(l => files.exists(f => rel(f).startsWith(s"$l/part-"))))
    entries.foreach { p =>
      val mode = java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x1ff
      assert(mode == (if (java.nio.file.Files.isDirectory(p)) 0x1ed else 0x1a4), rel(p))
    }
  }

  test("persistent index probe prunes postings partitions to the query-term buckets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx_plan").resolve("idx").toString
    Bm25.writeBm25Index(docs, tmp, nBuckets = 16)
    // a one-word query hits exactly one bucket
    val q = Seq((999999L, "table")).toDF("doc_id", "text")
    val df = Bm25.topKAgainstIndex(q, tmp, k = 5, nBuckets = 16)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters: [") && l.contains("pbucket")), p)
  }
}
